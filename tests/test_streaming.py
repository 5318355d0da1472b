"""Golden end-to-end streaming scenario (SURVEY §5.3 / FIXTURES F1):
a scripted Canal-JSON event log — insert, update, PK-change, delete,
truncate, post-truncate insert — replayed through Structured Streaming
(availableNow) into the versioned parquet state store, checked against
the hand-computed final state."""

from __future__ import annotations

import datetime
import json
import os
import pathlib
import shutil

import pytest
from pyspark.sql import types as T

from canal_phoenix_adapter_spark.config import config_from_dict
from canal_phoenix_adapter_spark.sources.events import explode_dml, parse_dml_json, route
from canal_phoenix_adapter_spark.streaming.stream import ParquetStateStore, run_cdc_stream

CFG = config_from_dict(
    {
        "destination": "example",
        "dbMapping": {
            "database": "mytest",
            "table": "user",
            "targetTable": "mytest2.user",
            "targetPk": {"id": "id"},
        },
    }
)

VALUE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("balance", T.DoubleType()),
    ]
)


def dml(es, typ, data=None, old=None, database="mytest", table="user"):
    return {
        "destination": "example",
        "database": database,
        "table": table,
        "type": typ,
        "isDdl": False,
        "es": es,
        "ts": es,
        "data": data,
        "old": old,
    }


EVENTS = [
    dml(1, "INSERT", [{"id": "1", "name": "alice", "balance": "10.5"}]),
    dml(2, "INSERT", [{"id": "2", "name": "bob", "balance": "3"}]),
    # batched Dml: two rows in one envelope (C1 explode)
    dml(
        3,
        "UPDATE",
        [
            {"id": "1", "name": "alice2", "balance": "11"},
            {"id": "3", "name": "carol", "balance": "7"},
        ],
        [{"name": "alice"}, {}],
    ),
    # PK-change: id 2 -> 9 (old carries pk)
    dml(4, "UPDATE", [{"id": "9", "name": "bob", "balance": "3"}], [{"id": "2"}]),
    dml(5, "DELETE", [{"id": "3", "name": "carol", "balance": "7"}]),
    # unrelated table: must be dropped by routing (C2)
    dml(6, "INSERT", [{"id": "77", "name": "zz", "balance": "0"}], table="other"),
]

EXPECTED = {1: ("alice2", 11.0), 9: ("bob", 3.0)}

EVENTS_TRUNC = EVENTS + [
    dml(7, "TRUNCATE"),
    dml(8, "INSERT", [{"id": "5", "name": "dave", "balance": "1"}]),
]
EXPECTED_TRUNC = {5: ("dave", 1.0)}


def write_events(path, events):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "batch.json"), "w", encoding="utf-8") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def write_events_split(path, events):
    """One file per event: with max_files_per_trigger=1 the availableNow
    drive commits len(events) DISTINCT epochs — required by any test
    asserting retention actually pruned something."""
    os.makedirs(path, exist_ok=True)
    for i, e in enumerate(events):
        fp = os.path.join(path, f"b{i:03d}.json")
        with open(fp, "w", encoding="utf-8") as f:
            f.write(json.dumps(e) + "\n")
        # FileStreamSource orders by mtime; same-ms writes would apply
        # epochs in arbitrary order (CDC trusts arrival order)
        os.utime(fp, (1700000000 + i, 1700000000 + i))


@pytest.mark.parametrize(
    "events,expected", [(EVENTS, EXPECTED), (EVENTS_TRUNC, EXPECTED_TRUNC)]
)
def test_golden_stream(spark, tmp_path, events, expected):
    src = str(tmp_path / "src")
    write_events(src, events)
    q = run_cdc_stream(
        spark,
        src,
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        CFG,
        VALUE_SCHEMA,
    )
    assert q.awaitTermination(120)
    state = ParquetStateStore(spark, str(tmp_path / "state")).read()
    got = {r["id"]: (r["name"], r["balance"]) for r in state.collect()}
    assert got == expected


def test_incremental_epochs(spark, tmp_path):
    """Two micro-batches arriving over time: state carries across."""
    src = str(tmp_path / "src")
    write_events(src, EVENTS)
    for i in range(2):  # run twice; second run sees a new file
        q = run_cdc_stream(
            spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"), CFG, VALUE_SCHEMA
        )
        assert q.awaitTermination(120)
        if i == 0:  # write the extra file only BETWEEN the two runs
            with open(os.path.join(src, "more.json"), "w", encoding="utf-8") as f:
                f.write(json.dumps(dml(10, "INSERT", [{"id": "4", "name": "erin", "balance": "2"}])) + "\n")
    state = ParquetStateStore(spark, str(tmp_path / "state")).read()
    got = {r["id"]: (r["name"], r["balance"]) for r in state.collect()}
    assert got == {**EXPECTED, 4: ("erin", 2.0)}


def test_parse_explode_route_batch(spark):
    """C1/C2 on the batch path: envelope JSON -> SingleDml rows."""
    raw = spark.createDataFrame([(json.dumps(e),) for e in EVENTS], "value string")
    rows = explode_dml(route(parse_dml_json(raw), CFG))
    got = rows.orderBy("seq").collect()
    # 6 envelopes -> 5 routed (one dropped) -> 6 rows (one 2-row batch)
    assert len(got) == 6
    assert got[2]["data"]["name"] == "alice2" and got[2]["old"] == {"name": "alice"}
    assert got[3]["data"]["name"] == "carol" and got[3]["old"] == {}
    assert got[4]["old"] == {"id": "2"}  # PK-change old image


def test_route_group_id_on_raw_envelope(spark):
    """route() must work on BOTH sides of explode_dml: the raw
    envelope still carries camelCase groupId (explode renames it), so
    a groupId-scoped config must filter pre-explode without an
    unresolvable-column error — and actually scope the events."""
    from canal_phoenix_adapter_spark.config import config_from_dict

    cfg_g1 = config_from_dict(
        {
            "destination": "example",
            "groupId": "g1",
            "dbMapping": {"database": "mytest", "table": "user",
                          "targetTable": "mytest2.user", "targetPk": {"id": "id"}},
        }
    )
    e1 = dml(1, "INSERT", [{"id": "1", "name": "a", "balance": "1"}])
    e2 = dml(2, "INSERT", [{"id": "2", "name": "b", "balance": "2"}])
    e1["groupId"], e2["groupId"] = "g1", "g2"
    raw = spark.createDataFrame([(json.dumps(e),) for e in (e1, e2)], "value string")
    # pre-explode (envelope column is groupId)
    routed = route(parse_dml_json(raw), cfg_g1)
    rows = explode_dml(routed).collect()
    assert [r["data"]["id"] for r in rows] == ["1"]
    # post-explode (column renamed to group_id) must also work
    rows2 = route(explode_dml(parse_dml_json(raw)), cfg_g1).collect()
    assert [r["data"]["id"] for r in rows2] == ["1"]


def test_route_matches_destination_and_group_case_insensitively(spark):
    """configs_for lowercases the whole routing key (the reference's
    PhoenixAdapter key), but route() compared destination/groupId
    case-sensitively — an envelope configs_for matched then applied
    ZERO rows (r10 review)."""
    from canal_phoenix_adapter_spark.config import config_from_dict

    cfg = config_from_dict(
        {
            "destination": "Example", "groupId": "G1",
            "dbMapping": {"database": "mytest", "table": "user",
                          "targetTable": "mytest2.user", "targetPk": {"id": "id"}},
        }
    )
    e = dml(1, "INSERT", [{"id": "1", "name": "a", "balance": "1"}])
    e["destination"], e["groupId"] = "exAmple", "g1"
    raw = spark.createDataFrame([(json.dumps(e),)], "value string")
    assert route(parse_dml_json(raw), cfg).count() == 1


def test_parse_dml_json_surfaces_corrupt_records(spark):
    """Malformed Canal JSON parses to an all-NULL envelope that route()
    silently drops; corrupt_col carries the raw string so callers can
    dead-letter or fail the batch (r10 review). Valid JSON that is NOT
    an object ('42', arrays, bare strings, JSON null — e.g. a Kafka
    tombstone or array-wrapped flatMessage) must be flagged too (r10
    fix-review: a JSON-validity probe waved those through)."""
    import pytest

    good = json.dumps(dml(1, "INSERT", [{"id": "1", "name": "a", "balance": "1"}]))
    bad = ["{half an envelope", "42", "[1,2]", '"str"', "null"]
    raw = spark.createDataFrame(
        [(good,), (None,)] + [(b,) for b in bad], "value string"
    )
    rows = parse_dml_json(raw, corrupt_col="_corrupt").collect()
    corrupt = sorted(r["_corrupt"] for r in rows if r["_corrupt"] is not None)
    assert corrupt == sorted(bad)
    # default shape is unchanged: no extra column
    assert "_corrupt" not in parse_dml_json(raw).columns
    # a corrupt_col shadowing an envelope field would emit duplicate
    # columns and break route() with AMBIGUOUS_REFERENCE downstream
    with pytest.raises(ValueError, match="collides"):
        parse_dml_json(raw, corrupt_col="destination")


def test_epoch_replay_after_crash_converges(spark, tmp_path):
    """C10 rollback semantics made observable: an epoch replayed after
    a crash converges to the identical state, whichever side of the
    commit marker the crash fell on.

    * crash AFTER store commit, BEFORE checkpoint commit: replay sees
      current_version()==epoch_id and no-ops (previously this
      self-overwrote the version dir it was lazily reading — wedged).
    * crash BEFORE store commit (pointer still old, orphan v1 dir on
      disk): replay re-merges from v0 and overwrites the orphan,
      reaching the same state."""
    from canal_phoenix_adapter_spark.streaming.stream import apply_cdc_epoch

    store = ParquetStateStore(spark, str(tmp_path / "state"))
    batch0 = spark.createDataFrame(
        [(1, "INSERT", 1, "a", 1.0, None), (2, "INSERT", 2, "b", 2.0, None)],
        "seq long, op string, id long, name string, balance double, old_id long",
    )
    batch1 = spark.createDataFrame(
        [(3, "UPDATE", 1, "a2", 9.0, None), (4, "DELETE", 2, "b", 2.0, None)],
        "seq long, op string, id long, name string, balance double, old_id long",
    )

    def snapshot():
        return sorted(map(tuple, store.read().collect()))

    assert apply_cdc_epoch(store, batch0, 0, ["id"])
    assert apply_cdc_epoch(store, batch1, 1, ["id"])
    expected = snapshot()
    assert store.current_version() == 1

    # crash after commit: replay of epoch 1 must no-op, not wedge
    assert apply_cdc_epoch(store, batch1, 1, ["id"]) is False
    assert snapshot() == expected and store.current_version() == 1

    # crash before commit: pointer back to v0, orphan v1 left behind
    store._repoint(0, 0)
    assert apply_cdc_epoch(store, batch1, 1, ["id"]) is True
    assert snapshot() == expected and store.current_version() == 1


def test_same_second_envelopes_order_by_delivery_ts(spark):
    """es is binlog-second granularity: two UPDATEs to the same key in
    envelopes sharing es must collapse deterministically to the later-
    DELIVERED one (ts tiebreak), mirroring the reference's strict
    list-order apply (PhoenixSyncService.sync)."""
    from canal_phoenix_adapter_spark.operators.merge import merge_cdc
    from pyspark.sql import functions as F

    e1 = dml(17000, "UPDATE", [{"id": "1", "name": "first", "balance": "1"}])
    e2 = dml(17000, "UPDATE", [{"id": "1", "name": "second", "balance": "2"}])
    e1["ts"], e2["ts"] = 17250, 17900  # same binlog second, e2 arrives later
    raw = spark.createDataFrame([(json.dumps(e),) for e in (e1, e2)], "value string")
    rows = explode_dml(route(parse_dml_json(raw), CFG))
    seqs = [r["seq"] for r in rows.orderBy("seq").collect()]
    assert seqs[0] < seqs[1]
    typed = rows.select(
        "seq",
        F.col("op"),
        F.element_at("data", "id").cast("long").alias("id"),
        F.element_at("data", "name").alias("name"),
    )
    final = merge_cdc(None, typed, ["id"], trunc_seq=None).collect()
    assert [(r["id"], r["name"]) for r in final] == [(1, "second")]


def test_merge_ignores_unknown_and_ddl_ops(spark):
    """Unknown event types (and DDL rows) are ignored, never applied as
    deletes (reference logs-and-skips, PhoenixSyncService.sync)."""
    from canal_phoenix_adapter_spark.operators.merge import merge_cdc

    changes = spark.createDataFrame(
        [
            (1, "INSERT", 1, "a", False),
            (2, "GTID", 1, None, False),      # unknown op: must not delete id 1
            (3, "ALTER", 2, "ddl", True),     # DDL row: not merged
        ],
        "seq long, op string, id long, name string, is_ddl boolean",
    )
    got = {r["id"]: r["name"] for r in merge_cdc(None, changes, ["id"]).collect()}
    assert got == {1: "a"}


def test_notify_hook_fires_on_schema_changing_epochs(spark, tmp_path):
    """S9 injection point: the hook fires on the epoch that CREATES the
    state and on an epoch whose batch widens the column set (the
    engine's syncSchema-DDL moments, PhoenixEtlService.java:162), and
    stays silent on a steady-schema epoch."""
    from canal_phoenix_adapter_spark.streaming.stream import apply_cdc_epoch

    store = ParquetStateStore(spark, str(tmp_path / "state"))
    fired = []
    hook = lambda: fired.append(store.current_version())  # noqa: E731

    base = "seq long, op string, id long, name string, old_id long"
    b0 = spark.createDataFrame([(1, "INSERT", 1, "a", None)], base)
    b1 = spark.createDataFrame([(2, "UPDATE", 1, "a2", None)], base)
    b2 = spark.createDataFrame(
        [(3, "UPDATE", 1, "a3", None, "x")], base + ", added string"
    )

    assert apply_cdc_epoch(store, b0, 0, ["id"], on_schema_change=hook)
    assert fired == [0]  # create
    assert apply_cdc_epoch(store, b1, 1, ["id"], on_schema_change=hook)
    assert fired == [0]  # steady schema: silent
    assert apply_cdc_epoch(store, b2, 2, ["id"], on_schema_change=hook)
    assert fired == [0, 2]  # widened by the healed ALTER
    assert "added" in {c for c in store.read().columns}


def test_run_cdc_stream_notifies_via_cfg_hook(spark, tmp_path):
    """run_cdc_stream wires the payload-shaped hook: first (creating)
    epoch of a fresh state fires {database, table}."""
    src = str(tmp_path / "src")
    write_events(src, EVENTS)
    payloads = []
    q = run_cdc_stream(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        CFG, VALUE_SCHEMA, notify_hook=payloads.append,
    )
    assert q.awaitTermination(120)
    assert payloads == [{"database": "mytest2", "table": "user"}]


def test_checkpoint_loss_replay_converges(spark, tmp_path):
    """Kill-and-replay golden run (C10 under failure): wipe the
    streaming checkpoint after a completed run — the harshest replay,
    every epoch re-fires from zero — and the committed state hash must
    not change (epoch idempotence via the _CURRENT commit marker)."""
    import shutil

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    write_events(src, EVENTS)
    q = run_cdc_stream(spark, src, state, ckpt, CFG, VALUE_SCHEMA)
    assert q.awaitTermination(120)
    store = ParquetStateStore(spark, state)
    before = sorted(map(tuple, store.read().collect()))
    v_before = store.current_version()

    shutil.rmtree(ckpt)  # simulate total checkpoint loss
    q = run_cdc_stream(spark, src, state, ckpt, CFG, VALUE_SCHEMA)
    assert q.awaitTermination(120)
    assert sorted(map(tuple, store.read().collect())) == before
    assert store.current_version() == v_before


def test_state_store_prune_retention(spark, tmp_path):
    """Retention GC: old committed snapshots go, the current one and
    newer orphans stay, replay still works from what remains."""
    from canal_phoenix_adapter_spark.streaming.stream import apply_cdc_epoch

    store = ParquetStateStore(spark, str(tmp_path / "state"))
    base = "seq long, op string, id long, name string, old_id long"
    for epoch in range(4):
        batch = spark.createDataFrame(
            [(epoch * 10 + 1, "INSERT", epoch, f"n{epoch}", None)], base
        )
        assert apply_cdc_epoch(store, batch, epoch, ["id"])
    assert store.versions() == [0, 1, 2, 3]

    assert store.prune(keep_last=2) == [0, 1]
    assert store.versions() == [2, 3] and store.current_version() == 3
    assert sorted(r["id"] for r in store.read().collect()) == [0, 1, 2, 3]

    # an orphan NEWER than _CURRENT (crash-before-commit) is never pruned
    os.makedirs(os.path.join(str(tmp_path / "state"), "v9"))
    assert store.prune(keep_last=1) == [2]
    assert store.versions() == [3, 9]

    # keep_last floors at 1: the current version always survives
    assert store.prune(keep_last=0) == []
    assert 3 in store.versions()


def test_run_cdc_stream_to_sink_applies_all_events(spark, tmp_path):
    """Reference topology end-to-end: Canal JSON stream -> typed
    changes -> executor-side statement apply. The recorded statement
    stream must replay to the same final state as the golden
    scenario's expected table."""
    from test_sink import _recording_factory
    from canal_phoenix_adapter_spark.streaming.stream import run_cdc_stream_to_sink

    src = str(tmp_path / "src")
    out = tmp_path / "applied"
    out.mkdir()
    write_events(src, EVENTS)
    q = run_cdc_stream_to_sink(
        spark, src, str(tmp_path / "ckpt"), CFG, VALUE_SCHEMA,
        _recording_factory(str(out)),
    )
    assert q.awaitTermination(120)

    from test_sink import replay_sink_files

    state, _n = replay_sink_files(out)
    assert state == {k: (n, b) for k, (n, b) in EXPECTED.items()}


def test_route_all_multi_config_dispatch(spark):
    """Two configs on the same source table both receive the event;
    a third config on another table gets only its own."""
    from canal_phoenix_adapter_spark.config import config_from_dict
    from canal_phoenix_adapter_spark.sources.events import route_all

    def cfg(table, target):
        return config_from_dict(
            {
                "destination": "example",
                "dbMapping": {
                    "database": "mytest", "table": table,
                    "targetTable": target, "targetPk": {"id": "id"},
                },
            }
        )

    configs = {
        "a.yml": cfg("user", "M.USER_A"),
        "b.yml": cfg("user", "M.USER_B"),
        "c.yml": cfg("other", "M.OTHER"),
    }
    events = spark.createDataFrame(
        [
            ("example", None, "mytest", "user", "INSERT"),
            ("example", None, "mytest", "other", "INSERT"),
        ],
        "destination string, group_id string, database string, table string, op string",
    )
    routed = route_all(events, configs)
    assert routed["a.yml"].count() == 1
    assert routed["b.yml"].count() == 1
    assert routed["c.yml"].count() == 1
    assert routed["c.yml"].first()["table"] == "other"


def test_run_cdc_stream_with_retention(spark, tmp_path):
    """retain_versions prunes per committing epoch: after the run only
    the newest snapshots remain and the state is still correct. One
    file per event + max_files_per_trigger=1 forces MULTIPLE committed
    versions — a single-epoch run would leave exactly one version
    whether or not retention worked (the r8 test review's vacuity)."""
    src = str(tmp_path / "src")
    write_events_split(src, EVENTS)
    q = run_cdc_stream(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        CFG, VALUE_SCHEMA, retain_versions=1, max_files_per_trigger=1,
    )
    assert q.awaitTermination(120)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    assert store.current_version() >= 1  # >1 epoch actually committed
    assert len(store.versions()) == 1
    got = {r["id"]: (r["name"], r["balance"]) for r in store.read().collect()}
    assert got == EXPECTED


def test_malformed_canal_json_is_dropped_not_fatal(spark):
    """Garbage lines in the Canal feed must not kill the pipeline:
    from_json yields a null envelope, routing drops it, well-formed
    events still apply (the reference logs-and-skips parse failures)."""
    raw = spark.createDataFrame(
        [
            ('{"destination":"example","database":"mytest","table":"user",'
             '"type":"INSERT","es":1,"ts":1,"data":[{"id":"1","name":"a","balance":"1"}]}',),
            ("not json at all {",),
            ('{"half": true',),
            ('[]',),
        ],
        "value string",
    )
    parsed = parse_dml_json(raw)
    routed = route(parsed, CFG)
    rows = explode_dml(routed).collect()
    assert len(rows) == 1 and rows[0]["op"] == "INSERT"


def test_sink_topology_checkpoint_loss_is_effectively_once(spark, tmp_path):
    """Wipe the checkpoint and rerun the direct-to-sink stream: every
    statement re-applies, and because UPSERT/DELETE on the PK are
    idempotent the replayed statement stream converges to the same
    final table — the at-least-once -> effectively-once upgrade the
    topology claims."""
    import shutil

    from test_sink import _recording_factory
    from canal_phoenix_adapter_spark.streaming.stream import run_cdc_stream_to_sink

    src = str(tmp_path / "src")
    out = tmp_path / "applied"
    out.mkdir()
    write_events(src, EVENTS)

    def run():
        q = run_cdc_stream_to_sink(
            spark, src, str(tmp_path / "ckpt"), CFG, VALUE_SCHEMA,
            _recording_factory(str(out)),
        )
        assert q.awaitTermination(120)

    from test_sink import replay_sink_files

    def replay_state():
        return replay_sink_files(out)

    run()
    state1, n1 = replay_state()
    shutil.rmtree(str(tmp_path / "ckpt"))
    run()  # full replay: statements re-applied
    state2, n2 = replay_state()
    assert n2 == 2 * n1  # everything really did apply twice
    assert state1 == state2 == {k: v for k, v in
                                ((k, (n, b)) for k, (n, b) in EXPECTED.items())}


def test_state_store_read_version_time_travel(spark, tmp_path):
    import pytest as _pytest

    store = ParquetStateStore(spark, str(tmp_path / "tt"))
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    df2 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    store.write(df1, 0)
    store.write(df2, 1)
    assert store.read_version(0).count() == 1
    assert store.read_version(1).count() == 2
    assert store.read().count() == 2  # _CURRENT -> v1
    store.prune(keep_last=1)
    with _pytest.raises(FileNotFoundError):
        store.read_version(0)


def test_kafka_source_options_builder():
    from canal_phoenix_adapter_spark.streaming.stream import kafka_source_options

    opts = kafka_source_options(
        "broker1:9092,broker2:9092", "canal.mytest",
        starting_offsets="earliest", max_offsets_per_trigger=50_000,
        group_id_prefix="cpa",
    )
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "canal.mytest",
        "startingOffsets": "earliest",
        "failOnDataLoss": "true",
        "maxOffsetsPerTrigger": "50000",
        "groupIdPrefix": "cpa",
    }


def test_kafka_value_projection_contract(spark, tmp_path):
    """r6 VERDICT task 6: read_canal_kafka's downstream contract,
    exercised without a broker. A static DataFrame shaped exactly like
    Spark's Kafka source output (binary key/value + topic/partition/
    offset/timestamp/timestampType) goes through the SAME composition
    read_canal_kafka builds — parse_dml_json(json_col="value") ->
    typed_changes — and must land the identical typed rows and schema
    as the file-source path over the same envelopes; both projections
    stay exchange-free (pure scan-side pipelines)."""
    from plan_helpers import explain_str
    from canal_phoenix_adapter_spark.sources.events import DML_ENVELOPE
    from canal_phoenix_adapter_spark.streaming.stream import typed_changes

    kafka_like = spark.createDataFrame(
        [(None, json.dumps(e).encode("utf-8"), "canal.mytest", 0, i,
          datetime.datetime(2024, 3, 1, 0, 0, i), 0)
         for i, e in enumerate(EVENTS)],
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp, timestampType int",
    )
    via_kafka = typed_changes(
        parse_dml_json(kafka_like, json_col="value"), CFG, VALUE_SCHEMA
    )

    src = str(tmp_path / "src")
    write_events(src, EVENTS)
    via_file = typed_changes(
        spark.read.schema(DML_ENVELOPE).json(src), CFG, VALUE_SCHEMA
    )

    assert via_kafka.schema == via_file.schema
    assert sorted(map(tuple, via_kafka.collect())) == sorted(
        map(tuple, via_file.collect())
    )
    # the routed+exploded projection is scan-side on both sources
    for plan in (explain_str(via_kafka), explain_str(via_file)):
        assert ") Exchange" not in plan


def test_session_window_streaming_with_watermark(spark, tmp_path):
    """The session_window expression from the batch rollup runs
    unchanged as a streaming aggregation: finalized sessions (behind
    the watermark) emit in append mode."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "swsrc")
    os.makedirs(src)

    def ev(eid, user, hour, minute):
        return {"event_id": eid, "user_id": user,
                "ts": f"2024-03-01T{hour:02d}:{minute:02d}:00.000Z"}

    # user 7: two events 10 min apart (one session), then a far-future
    # event advancing the watermark so the session finalizes
    with open(os.path.join(src, "b1.json"), "w", encoding="utf-8") as f:
        for e in [ev(1, 7, 1, 0), ev(2, 7, 1, 10), ev(3, 8, 23, 0)]:
            f.write(json.dumps(e) + "\n")

    schema = "event_id long, user_id long, ts timestamp"
    stream = spark.readStream.schema(schema).json(src)
    rolled = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.unix_micros(F.col("sw.start")).alias("start_us"),
                "n_events")
    )
    q = (
        rolled.writeStream.format("memory")
        .queryName("sess1")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = {
        (r["user_id"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess1").collect()
    }
    # user 7's merged 2-event session finalized (watermark at 22:00);
    # user 8's session is NOT behind the watermark -> not emitted
    assert (7, 2) in rows
    assert not any(u == 8 for u, _ in rows)


@pytest.mark.parametrize("buckets", [None, 4])
def test_bootstrap_then_stream(spark, tmp_path, buckets):
    """The reference's real deployment pattern (etl THEN sync,
    PhoenixAdapter.etl -> sync): seed the state store with a batch
    backfill as epoch -1, then let the CDC stream apply increments on
    top — the stream's first epoch merges INTO the bootstrapped state,
    not an empty table. Parametrized over the plain and the pruned
    (manifest/bucket) store: the negative-version bootstrap must work
    on both."""
    from canal_phoenix_adapter_spark.streaming.stream import (
        PrunedParquetStateStore,
    )

    seed = spark.createDataFrame(
        [(1, "alice", 10.5), (2, "bob", 3.0), (50, "seed-only", 9.0)],
        "id long, name string, balance double",
    )
    state_path = str(tmp_path / "state")
    if buckets:
        store = PrunedParquetStateStore(spark, state_path, ["id"], buckets)
    else:
        store = ParquetStateStore(spark, state_path)
    # bootstrap: backfill snapshot committed as a version BELOW any
    # streaming epoch id (epochs start at 0)
    store.write(seed, -1)
    assert store.current_version() == -1

    src = str(tmp_path / "src")
    write_events(src, EVENTS)  # updates id1, pk-change 2->9, etc.
    q = run_cdc_stream(
        spark, src, state_path, str(tmp_path / "ckpt"), CFG, VALUE_SCHEMA,
        state_buckets=buckets,
    )
    assert q.awaitTermination(120)
    got = {
        r["id"]: (r["name"], r["balance"])
        for r in store.read().collect()
    }
    # streamed expectations PLUS the untouched bootstrap row
    assert got == {**EXPECTED, 50: ("seed-only", 9.0)}


def test_versions_and_prune_see_negative_bootstrap_snapshot(spark, tmp_path):
    store = ParquetStateStore(spark, str(tmp_path / "neg"))
    seed = spark.createDataFrame([(1, "x")], "id long, v string")
    store.write(seed, -1)
    store.write(seed, 0)
    store.write(seed, 1)
    assert store.versions() == [-1, 0, 1]
    assert store.prune(keep_last=2) == [-1]  # bootstrap snapshot GC'd
    assert store.versions() == [0, 1]


def test_erase_keys_commits_new_version(spark, tmp_path):
    from canal_phoenix_adapter_spark.streaming.stream import erase_keys

    store = ParquetStateStore(spark, str(tmp_path / "gdpr"))
    state = spark.createDataFrame(
        [(1, "keep"), (2, "erase-me"), (3, "keep2")], "id long, v string"
    )
    store.write(state, 0)
    keys = spark.createDataFrame([(2,), (99,)], "id long")  # 99 absent: no-op
    v, erased = erase_keys(store, keys, ["id"])
    assert v == 1 and store.current_version() == 1
    assert erased == 1  # audited: key 2 removed, absent key 99 not counted
    assert {r["id"] for r in store.read().collect()} == {1, 3}
    # audit trail: pre-erasure snapshot still readable until pruned
    assert {r["id"] for r in store.read_version(0).collect()} == {1, 2, 3}


def test_erasure_does_not_shadow_future_epoch(spark, tmp_path):
    """The version/epoch split: an erase_keys commit between epochs
    must not cause the next CDC epoch to be skipped (it previously
    bumped current_version onto the next epoch id, which the replay
    check read as already-applied), and the next epoch must not
    overwrite the erasure snapshot's directory."""
    from canal_phoenix_adapter_spark.streaming.stream import (
        apply_cdc_epoch,
        erase_keys,
    )

    store = ParquetStateStore(spark, str(tmp_path / "gdpr-live"))
    b0 = spark.createDataFrame(
        [(1, "INSERT", 1, "a"), (2, "INSERT", 2, "b")],
        "seq long, op string, id long, name string",
    )
    b1 = spark.createDataFrame(
        [(3, "INSERT", 3, "c")], "seq long, op string, id long, name string"
    )
    assert apply_cdc_epoch(store, b0, 0, ["id"])
    assert store.current_version() == 0 and store.last_epoch() == 0

    keys = spark.createDataFrame([(2,)], "id long")
    v, erased = erase_keys(store, keys, ["id"])
    assert v == 1 and erased == 1 and store.current_version() == 1
    assert store.last_epoch() == 0  # watermark carried, not advanced

    # epoch 1 arrives AFTER the erasure: must apply, not no-op
    assert apply_cdc_epoch(store, b1, 1, ["id"]) is True
    assert {r["id"] for r in store.read().collect()} == {1, 3}
    assert store.last_epoch() == 1
    # and it landed in a fresh snapshot dir, not over the erasure's
    assert store.current_version() == 2
    assert {r["id"] for r in store.read_version(1).collect()} == {1}

    # replay of epoch 1 after the erasure interleave still no-ops
    assert apply_cdc_epoch(store, b1, 1, ["id"]) is False


def test_commit_lock_serializes_writers(spark, tmp_path):
    """The store's commit lock excludes a second committer (thread or
    process) for the whole basis-read -> write -> repoint window: a
    writer that starts while the lock is held observes the holder's
    commit as its basis instead of racing it."""
    import threading
    import time as _time

    store = ParquetStateStore(spark, str(tmp_path / "lock"))
    df0 = spark.createDataFrame([(1, 10)], "id long, v long")
    store.write(df0, 0)

    order: list[str] = []

    def contender():
        order.append("contender-start")
        # public write takes the lock -> must block until released
        store.write(spark.createDataFrame([(2, 20)], "id long, v long"), 2)
        order.append("contender-committed")

    with store.commit_lock():
        t = threading.Thread(target=contender)
        t.start()
        _time.sleep(0.5)  # give the contender time to hit the lock
        assert order == ["contender-start"]  # blocked, not committed
        store._write_unlocked(
            spark.createDataFrame([(1, 11)], "id long, v long"), 1
        )
        order.append("holder-committed")
    t.join(timeout=60)
    assert order == [
        "contender-start",
        "holder-committed",
        "contender-committed",
    ]
    # the contender's commit landed AFTER (and on top of) the holder's
    assert store.current_version() == 2


def test_max_files_per_trigger_bounds_epochs(spark, tmp_path):
    """The r4 epoch-granularity knob: N source files with
    max_files_per_trigger=1 must commit N distinct epochs (availableNow
    otherwise drains everything into ONE) — this is what lets bench.py
    measure per-epoch overhead over a FIXED epoch count."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, e in enumerate(EVENTS[:3]):
        with open(os.path.join(src, f"f{i}.json"), "w", encoding="utf-8") as f:
            f.write(json.dumps(e) + "\n")
    q = run_cdc_stream(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        CFG, VALUE_SCHEMA, max_files_per_trigger=1,
    )
    assert q.awaitTermination(120)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    # epochs 0..2 each committed a version; one batch per file
    assert store.current_version() == 2
    assert store.last_epoch() == 2


# ---------------------------------------------------------------------------
# PrunedParquetStateStore: delta epochs, folds and full rewrites.
# The contract under test: state equality with the full-rewrite store
# over every epoch shape (insert/update/delete/PK-change/truncate/
# heal), across crash-replay at every durable step; a normal epoch's
# version dir holds ONLY its delta and manifest; a fold epoch's holds
# only the buckets the delta and batch touch, with the manifest
# pointing untouched buckets at older versions; fallback epochs own
# every bucket.
# ---------------------------------------------------------------------------

BASE_SCHEMA = "seq long, op string, id long, name string, balance double, old_id long"


def _batch(spark, rows, known_size=True):
    """A change batch; one of ``known_size`` (like a file-source
    micro-batch) fits the pruned store's one-task delta write, an
    RDD-built one reports no size and collapses in parallel."""
    from plan_helpers import sized

    df = spark.createDataFrame(rows, BASE_SCHEMA)
    return sized(df) if known_size else df


def _pruned_and_full(spark, tmp_path, n_buckets=8):
    from canal_phoenix_adapter_spark.streaming.stream import (
        PrunedParquetStateStore,
    )

    pruned = PrunedParquetStateStore(
        spark, str(tmp_path / "pruned"), ["id"], n_buckets=n_buckets
    )
    full = ParquetStateStore(spark, str(tmp_path / "full"))
    return pruned, full


def _state_dict(store):
    """The store's state keyed by id; a duplicated id fails here, so
    every comparison of two stores also checks that neither holds a
    key twice."""
    df = store.read()
    rows = df.collect()
    state = {r["id"]: tuple(r[c] for c in sorted(df.columns) if c != "id")
             for r in rows}
    assert len(state) == len(rows), (
        f"duplicate ids in state: {len(rows)} rows, {len(state)} ids")
    return state


def _bucket_of_ids(spark, ids, n_buckets):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    return {r["b"] for r in
            df.select(F.pmod(F.hash("id"), F.lit(n_buckets)).alias("b")).collect()}


def _owned(store, version):
    vdir = os.path.join(store.path, f"v{version}")
    return {int(n.split("=", 1)[1]) for n in os.listdir(vdir)
            if n.startswith("__bucket=")}


def test_pruned_store_matches_full_and_rewrites_only_touched(
    spark, tmp_path, monkeypatch
):
    """A normal epoch over a pruned store must (a) produce the exact
    state the full-rewrite store produces and (b) write ONLY a delta:
    its version dir holds `_delta` and the manifest, no bucket dir is
    read, and the manifest serves every bucket from the previous
    version — and its delta write plans no Exchange (the pre-scan is
    observed on that write; test_pruned_epoch_path_jobs_and_manifest
    pins its one job). A fold epoch materializes ONLY
    the buckets the delta and the batch touch, reading exactly those,
    with every other bucket served from the older version: it commits
    the merge-on-read of the delta it wrote, so its one collapse is the
    delta write's and it never calls merge_cdc."""
    from plan_helpers import explain_str

    from canal_phoenix_adapter_spark.jvm_shim import fits_one_split
    from canal_phoenix_adapter_spark.streaming import stream as stream_mod
    from canal_phoenix_adapter_spark.streaming.stream import apply_cdc_epoch

    n_buckets = 8
    pruned, full = _pruned_and_full(spark, tmp_path, n_buckets)
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 201)])
    # epoch 1: update one key, delete one, PK-change one (17 -> 901)
    b1 = _batch(spark, [
        (300, "UPDATE", 5, "five", 5.5, None),
        (301, "DELETE", 9, None, None, None),
        (302, "UPDATE", 901, "moved", 17.0, 17),
    ])
    # the size check behind the one-job epoch: a batch of known size
    # fits one scan task, not under a tiny maxPartitionBytes; an
    # RDD-built batch's size is unknown
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    assert fits_one_split(b1)
    spark.conf.set(key, "16")
    try:
        assert not fits_one_split(b1)
    finally:
        spark.conf.set(key, saved)
    assert not fits_one_split(spark.createDataFrame([], BASE_SCHEMA))
    reads = []
    orig_read = pruned._read_buckets
    monkeypatch.setattr(pruned, "_read_buckets",
                        lambda m, b=None: (reads.append(b), orig_read(m, b))[1])
    collapsed = []
    orig_collapse = stream_mod.collapse_changes
    monkeypatch.setattr(stream_mod, "collapse_changes", lambda *a, **kw: (
        collapsed.append(orig_collapse(*a, **kw)), collapsed[-1])[1])
    for store in (pruned, full):
        assert apply_cdc_epoch(store, b0, 0, ["id"])
        assert apply_cdc_epoch(store, b1, 1, ["id"])
    assert len(collapsed) == 1 and "Exchange" not in explain_str(collapsed[0])
    # delta path: no bucket dir read, none written
    assert reads == []
    assert sorted(os.listdir(os.path.join(pruned.path, "v1"))) == [
        "_delta", "_manifest.json"]
    touched = _bucket_of_ids(spark, [5, 9, 901, 17], n_buckets)
    assert len(touched) < n_buckets  # the test must exercise both kinds
    m1 = pruned._manifest(1)
    assert m1["buckets"] == pruned._manifest(0)["buckets"]
    assert set(m1["delta"]["buckets"]) == touched
    assert m1["delta"]["owner"] == 1 and m1["delta"]["rows"] == 4
    assert _state_dict(pruned) == _state_dict(full)
    got = _state_dict(pruned)
    assert got[5] == (5.5, "five") and 9 not in got
    assert got[901] == (17.0, "moved") and 17 not in got

    # fold path: the new delta applied to exactly its buckets
    monkeypatch.setattr(stream_mod, "DELTA_FOLD_FRACTION", 0.0)
    b2 = _batch(spark, [(400, "UPDATE", 5, "five2", 5.6, None)])
    reads.clear()
    collapsed.clear()
    merges = []
    orig_merge = stream_mod.merge_cdc
    monkeypatch.setattr(stream_mod, "merge_cdc", lambda *a, **kw: (
        merges.append(1), orig_merge(*a, **kw))[1])
    assert apply_cdc_epoch(pruned, b2, 2, ["id"])
    assert len(collapsed) == 1 and merges == []
    assert apply_cdc_epoch(full, b2, 2, ["id"])
    assert reads == [touched]
    assert _owned(pruned, 2) == touched
    assert not os.path.exists(os.path.join(pruned.path, "v2", "_delta"))
    m2 = pruned._manifest(2)
    assert m2["delta"] is None
    assert set(m2["buckets"]) == set(range(n_buckets))  # 200 keys cover all 8
    for b, owner in m2["buckets"].items():
        assert owner == (2 if b in touched else 0), (b, owner)
    assert sum(m2["rows"].values()) == 199
    assert _state_dict(pruned) == _state_dict(full)
    assert _state_dict(pruned)[5] == (5.6, "five2")

    # a change set past the size check collapses in parallel: its delta
    # write plans an Exchange
    monkeypatch.setattr(stream_mod, "DELTA_FOLD_FRACTION", 1e9)
    b3 = _batch(spark, [(500, "UPDATE", 6, "six", 6.6, None)],
                known_size=False)
    for store in (pruned, full):
        assert apply_cdc_epoch(store, b3, 3, ["id"])
    assert pruned._manifest(3)["delta"]["rows"] == 1
    assert "Exchange" in explain_str(collapsed[-1])
    assert _state_dict(pruned) == _state_dict(full)


# Spark jobs of each pruned-store epoch path over a 200-key, 8-bucket
# store and a small cached batch, counted by job group through
# statusTracker. A delta epoch is one job (the delta write, which
# observes the pre-scan); bootstrap and heal run the pre-scan as its own
# job before the full rewrite; TRUNCATE and fold write the delta first.
@pytest.mark.parametrize("path,jobs", [
    ("bootstrap", 5), ("delta", 1), ("fold", 4), ("truncate", 4),
    ("heal", 6), ("empty", 1),
])
def test_pruned_epoch_path_jobs_and_manifest(spark, tmp_path, monkeypatch,
                                             path, jobs):
    """Every pruned-store epoch path runs a fixed number of Spark jobs,
    lands the full-rewrite store's state, and publishes its manifest:
    a full rewrite (bootstrap, TRUNCATE, heal) and a fold carry no
    delta; a rewrite's version owns every bucket, a fold's only the
    touched ones, a delta epoch's none; the row counts are the base
    buckets' own; an empty epoch publishes nothing."""
    from plan_helpers import sized
    from pyspark.sql import functions as F

    from canal_phoenix_adapter_spark.streaming import stream as stream_mod
    from canal_phoenix_adapter_spark.streaming.stream import apply_cdc_epoch

    pruned, full = _pruned_and_full(spark, tmp_path)
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 201)])
    changed = [(300, "UPDATE", 5, "five", 5.5, None),
               (301, "DELETE", 9, None, None, None),
               (302, "UPDATE", 901, "moved", 17.0, 17)]
    if path == "bootstrap":
        batch = b0
    elif path == "heal":
        batch = sized(spark.createDataFrame(
            [(500, "UPDATE", 1, "uno", 1.5, None, "gold")],
            BASE_SCHEMA + ", tier string"))
    else:
        batch = _batch(spark, {
            "delta": changed, "fold": changed, "empty": [],
            "truncate": [(400, "TRUNCATE", None, None, None, None),
                         (401, "INSERT", 3, "three", 3.0, None)],
        }[path])
    if path != "bootstrap":
        for store in (pruned, full):
            assert apply_cdc_epoch(store, b0, 0, ["id"])
    if path == "fold":
        monkeypatch.setattr(stream_mod, "DELTA_FOLD_FRACTION", 0.0)
    pointer = pathlib.Path(pruned._pointer()).read_bytes() \
        if path == "empty" else None
    sc = spark.sparkContext
    group = f"pruned-epoch-{tmp_path.name}"  # job groups outlive a test
    sc.setJobGroup(group, path)
    try:
        committed = apply_cdc_epoch(pruned, batch, 1, ["id"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs
    assert committed is (path != "empty")
    assert apply_cdc_epoch(full, batch, 1, ["id"]) is committed
    assert _state_dict(pruned) == _state_dict(full)
    if path == "empty":
        assert pathlib.Path(pruned._pointer()).read_bytes() == pointer
        assert not os.path.exists(os.path.join(pruned.path, "v1"))
        return

    m = pruned._manifest(1)
    assert m["n_buckets"] == 8
    if path == "delta":
        m0 = pruned._manifest(0)
        assert m["buckets"] == m0["buckets"] and m["rows"] == m0["rows"]
        assert m["delta"]["owner"] == 1 and m["delta"]["rows"] == 4
        assert set(m["delta"]["buckets"]) == _bucket_of_ids(
            spark, [5, 9, 901, 17], 8)
        return
    assert m["delta"] is None
    assert not os.path.exists(os.path.join(pruned.path, "v1", "_delta"))
    per_bucket = {
        r["b"]: r["n"] for r in pruned.read()
        .groupBy(F.pmod(F.hash("id"), F.lit(8)).alias("b"))
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert m["rows"] == per_bucket and set(m["buckets"]) == set(per_bucket)
    if path == "fold":
        touched = _bucket_of_ids(spark, [5, 9, 901, 17], 8)
        assert {b for b, o in m["buckets"].items() if o == 1} == touched
        assert {o for b, o in m["buckets"].items() if b not in touched} == {0}
    else:
        assert set(m["buckets"].values()) == {1}


def test_pruned_store_crash_replay_converges_with_full(spark, tmp_path):
    """After a crashed-then-replayed epoch the pruned store equals the
    full-rewrite store, whichever side of the commit marker the crash
    fell on (the failure mode partial rewrites historically introduce:
    a replay over a half-committed orphan)."""
    from canal_phoenix_adapter_spark.streaming.stream import apply_cdc_epoch

    pruned, full = _pruned_and_full(spark, tmp_path)
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 101)])
    b1 = _batch(spark, [(200, "UPDATE", 7, "seven", 0.7, None),
                        (201, "DELETE", 8, None, None, None)])
    for store in (pruned, full):
        assert apply_cdc_epoch(store, b0, 0, ["id"])
        assert apply_cdc_epoch(store, b1, 1, ["id"])

    # crash AFTER commit, BEFORE checkpoint: replay must no-op
    assert apply_cdc_epoch(pruned, b1, 1, ["id"]) is False
    assert _state_dict(pruned) == _state_dict(full)

    # crash BEFORE commit: pointer back at v0, v1 left as a half-
    # written orphan (stale manifest included); replay must rebuild v1
    pruned._repoint(0, 0)
    orphan = os.path.join(pruned.path, "v1")
    assert os.path.isdir(orphan)
    assert apply_cdc_epoch(pruned, b1, 1, ["id"])
    assert pruned.current_version() == 1 and pruned.last_epoch() == 1
    assert _state_dict(pruned) == _state_dict(full)


def _drop_half_buckets(vdir):
    """Damage for a crash part-way through a bucket write: drop just
    over half of the version's bucket dirs."""
    dirs = sorted(n for n in os.listdir(vdir) if n.startswith("__bucket="))
    assert dirs
    for n in dirs[: len(dirs) // 2 + 1]:
        shutil.rmtree(os.path.join(vdir, n))


def _plant_stale(spark, store, version, scratch):
    """Leave in the orphan ``v{version}`` two files a crashed attempt
    can leave behind: committed task output still staged under
    ``_temporary/0/task_*`` (Spark's default committer merges every
    such dir into the output on job commit) and a stray part file in a
    bucket dir. Both hold a key (99999) no epoch writes."""
    from pyspark.sql import functions as F

    src = str(scratch / "stale")
    store.read().limit(1).withColumn("id", F.lit(99999).cast("long")) \
        .coalesce(1).write.parquet(src)
    part = next(f for f in os.listdir(src) if f.endswith(".parquet"))
    (b,) = _bucket_of_ids(spark, [99999], store.n_buckets)
    vdir = os.path.join(store.path, f"v{version}")
    task = os.path.join("_temporary", "0", "task_202601010000_0001_m_000000")
    for d in (os.path.join(vdir, task, f"__bucket={b}"),
              os.path.join(vdir, f"__bucket={b}")):
        os.makedirs(d, exist_ok=True)
        shutil.copy(os.path.join(src, part),
                    os.path.join(d, "part-00000-stale.c000.snappy.parquet"))


def _crash_at(point, damage=None):
    """A _crashpoint stand-in that raises at ``point`` (after running
    ``damage``, which models a write the crash cut short)."""
    def hook(name):
        if name == point:
            if damage is not None:
                damage()
            raise RuntimeError(f"crash at {name}")
    return hook


@pytest.mark.parametrize("point,fold,stale,known_size", [
    pytest.param(point, fold, stale, known, id=f"{point}-{fold}"
                 + ("-stale" if stale else "") + ("" if known else "-unsized"))
    for point, fold, stale in [
        ("delta_written", False, False),
        ("delta_written", True, False),
        ("manifest_written", False, False),
        ("buckets_written", True, False),
        ("buckets_written", True, True),
        ("manifest_written", True, False),
    ]
    for known in (True, False)
])
def test_pruned_store_crashpoints_replay_to_full_state(
    spark, tmp_path, monkeypatch, point, fold, stale, known_size
):
    """Crash a pruned-store epoch at each durable step of its commit
    path — delta written but no manifest (an epoch writes it before it
    knows it will fold), manifest written but no repoint, a fold
    part-way through its bucket writes — then replay the epoch: the
    store must equal the plain store, and the next epochs must still
    apply, down to a TRUNCATE over a delta. A fold or TRUNCATE epoch
    leaves no `_delta` behind in its version dir. Batches of known size
    take the one-task delta write, the others the parallel one. With
    ``stale``, the orphan also holds a crashed attempt's staged task
    output and a stray bucket file, neither of which the replay may
    publish."""
    from canal_phoenix_adapter_spark.streaming import stream as stream_mod
    from canal_phoenix_adapter_spark.streaming.stream import apply_cdc_epoch

    pruned, full = _pruned_and_full(spark, tmp_path)
    epochs = [
        _batch(spark, rows, known_size) for rows in (
            [(i, "INSERT", i, f"n{i}", float(i), None) for i in range(1, 101)],
            [(200, "UPDATE", 7, "seven", 0.7, None),
             (201, "DELETE", 8, None, None, None)],
            [(300, "UPDATE", 7, "seven2", 0.8, None),
             (301, "INSERT", 8, "eight", 8.0, None),
             (302, "UPDATE", 950, "moved", 3.0, 3)],
            [(400, "DELETE", 950, None, None, None)],
            [(500, "UPDATE", 9, "nine", 9.0, None),
             (501, "TRUNCATE", None, None, None, None),
             (502, "INSERT", 4, "four", 4.0, None)],
        )
    ]
    for e in range(2):
        for store in (pruned, full):
            assert apply_cdc_epoch(store, epochs[e], e, ["id"])
    assert pruned._manifest(1)["delta"] is not None  # crash over a delta
    if fold:
        monkeypatch.setattr(stream_mod, "DELTA_FOLD_FRACTION", 0.0)

    orphan = os.path.join(pruned.path, "v2")
    damage = ((lambda: _drop_half_buckets(orphan))
              if point == "buckets_written" else None)
    monkeypatch.setattr(stream_mod, "_crashpoint", _crash_at(point, damage))
    with pytest.raises(RuntimeError, match=f"crash at {point}"):
        apply_cdc_epoch(pruned, epochs[2], 2, ["id"])
    assert pruned.current_version() == 1 and pruned.last_epoch() == 1
    assert os.path.isdir(orphan)
    if stale:
        _plant_stale(spark, pruned, 2, tmp_path)
    monkeypatch.setattr(stream_mod, "_crashpoint", lambda name: None)
    for e in (2, 3, 4):
        for store in (pruned, full):
            assert apply_cdc_epoch(store, epochs[e], e, ["id"])
        assert _state_dict(pruned) == _state_dict(full)
        assert pruned.read().count() == full.read().count()
    assert (pruned._manifest(2)["delta"] is None) == fold
    assert (pruned._manifest(3)["delta"] is None) == fold  # 4 truncates it
    assert _state_dict(pruned) == {4: (4.0, "four")}
    assert pruned._manifest(4)["delta"] is None
    for v in (2, 3, 4):
        has_delta = pruned._manifest(v)["delta"] is not None
        assert os.path.isdir(pruned._delta_dir(v)) == has_delta, v


def test_pruned_erase_crash_part_way_then_rerun(spark, tmp_path, monkeypatch):
    """An erasure commits through the fold path: a crash part-way
    through its bucket writes leaves the pointer (and the delta) in
    place, and re-running the erasure over that orphan (half its bucket
    dirs, a crashed attempt's staged task output, a stray bucket file)
    lands the plain store's state."""
    from canal_phoenix_adapter_spark.streaming import stream as stream_mod
    from canal_phoenix_adapter_spark.streaming.stream import (
        apply_cdc_epoch,
        erase_keys,
    )

    pruned, full = _pruned_and_full(spark, tmp_path)
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 41)])
    b1 = _batch(spark, [(100, "INSERT", 77, "new", 7.7, None)])
    for store in (pruned, full):
        assert apply_cdc_epoch(store, b0, 0, ["id"])
        assert apply_cdc_epoch(store, b1, 1, ["id"])
    # keys over most buckets, so the damage leaves bucket dirs behind
    keys = spark.createDataFrame([(77,)] + [(i,) for i in range(1, 11)],
                                 "id long")
    orphan = os.path.join(pruned.path, "v2")
    monkeypatch.setattr(stream_mod, "_crashpoint", _crash_at(
        "buckets_written", lambda: _drop_half_buckets(orphan)))
    with pytest.raises(RuntimeError):
        erase_keys(pruned, keys, ["id"])
    assert pruned.current_version() == 1
    assert 77 in _state_dict(pruned)
    assert any(n.startswith("__bucket=") for n in os.listdir(orphan))
    _plant_stale(spark, pruned, 2, tmp_path)
    monkeypatch.setattr(stream_mod, "_crashpoint", lambda name: None)
    assert erase_keys(pruned, keys, ["id"]) == erase_keys(full, keys, ["id"])
    assert _state_dict(pruned) == _state_dict(full)
    assert pruned.read().count() == full.read().count()


def test_pruned_erase_reaches_delta_keys(spark, tmp_path):
    """erase_keys on a store with a delta: a key living only in the
    delta is erased and counted, a base key the delta updated cannot
    come back through the delta, a key the delta deleted counts as
    absent — same receipt and state as the plain store."""
    from canal_phoenix_adapter_spark.streaming.stream import (
        apply_cdc_epoch,
        erase_keys,
    )

    pruned, full = _pruned_and_full(spark, tmp_path)
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 51)])
    b1 = _batch(spark, [(100, "INSERT", 100, "delta-only", 1.0, None),
                        (101, "UPDATE", 7, "updated", 7.7, None),
                        (102, "DELETE", 8, None, None, None)])
    for store in (pruned, full):
        assert apply_cdc_epoch(store, b0, 0, ["id"])
        assert apply_cdc_epoch(store, b1, 1, ["id"])
    assert pruned._manifest(1)["delta"]["rows"] == 3
    keys = spark.createDataFrame([(100,), (7,), (8,), (999,)], "id long")
    got = erase_keys(pruned, keys, ["id"])
    assert got == erase_keys(full, keys, ["id"]) and got.erased == 2
    assert pruned._manifest(got.version)["delta"] is None
    state = _state_dict(pruned)
    assert state == _state_dict(full) and len(state) == 48
    assert not {7, 8, 100} & set(state)
    # the next epoch starts a fresh delta over the erased base
    b2 = _batch(spark, [(200, "UPDATE", 9, "nine", 9.9, None)])
    for store in (pruned, full):
        assert apply_cdc_epoch(store, b2, 2, ["id"])
    assert _state_dict(pruned) == _state_dict(full)
    assert 7 not in _state_dict(pruned)


def test_pruned_keyed_read_merges_delta_without_shuffle(spark, tmp_path):
    """Merge-on-read plan pin: a keyed read over base plus delta has
    exactly one BroadcastExchange (the delta keys) and no shuffle
    Exchange, and scans only the manifest's bucket dirs plus that
    version's _delta."""
    from pyspark.sql import functions as F
    from plan_helpers import broadcast_count, shuffle_count

    from canal_phoenix_adapter_spark.streaming.stream import apply_cdc_epoch

    pruned, _ = _pruned_and_full(spark, tmp_path)
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 101)])
    b1 = _batch(spark, [(200, "UPDATE", 7, "seven", 0.7, None),
                        (201, "DELETE", 8, None, None, None)])
    assert apply_cdc_epoch(pruned, b0, 0, ["id"])
    assert apply_cdc_epoch(pruned, b1, 1, ["id"])
    state = pruned.read()
    keyed = state.where(F.col("id").isin(7, 8, 9))
    assert broadcast_count(keyed) == 1
    assert shuffle_count(keyed) == 0
    assert sorted((r["id"], r["name"]) for r in keyed.collect()) == [
        (7, "seven"), (9, "n9")]
    m = pruned._manifest(1)
    allowed = {os.path.realpath(pruned._bucket_dir(o, b))
               for b, o in m["buckets"].items()}
    allowed.add(os.path.realpath(pruned._delta_dir(1)))
    scanned = {os.path.dirname(f.split(":", 1)[1]) for f in state.inputFiles()}
    assert {os.path.realpath(d) for d in scanned} == allowed


def test_pruned_delta_folds_past_broadcast_threshold(spark, tmp_path):
    """The fold bound is capped by broadcast_threshold_rows: a delta
    that would pass the threshold folds even far below
    DELTA_FOLD_FRACTION of the base, so no committed delta holds more
    rows than the read path's broadcast of its keys may carry. A handle
    whose threshold is below a committed delta's size reads it without
    the broadcast hint."""
    from pyspark.sql import functions as F
    from plan_helpers import broadcast_count

    from canal_phoenix_adapter_spark.streaming.stream import (
        PrunedParquetStateStore,
        apply_cdc_epoch,
    )

    pruned, full = _pruned_and_full(spark, tmp_path)
    pruned.broadcast_threshold_rows = 4
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 101)])
    b1 = _batch(spark, [(200, "UPDATE", 1, "one", 1.5, None),
                        (201, "UPDATE", 2, "two", 2.5, None),
                        (202, "DELETE", 3, None, None, None)])
    b2 = _batch(spark, [(300, "UPDATE", 4, "four", 4.5, None),
                        (301, "INSERT", 500, "new", 5.0, None)])
    for store in (pruned, full):
        for e, b in enumerate((b0, b1, b2)):
            assert apply_cdc_epoch(store, b, e, ["id"])
    # 3 rows stay a delta; 3 + 2 > 4 folds (the fraction bound is 25)
    assert pruned._manifest(1)["delta"]["rows"] == 3
    assert pruned._manifest(2)["delta"] is None
    assert _owned(pruned, 2)
    assert _state_dict(pruned) == _state_dict(full)

    b3 = _batch(spark, [(400, "UPDATE", 5, "five", 5.5, None),
                        (401, "UPDATE", 6, "six", 6.5, None),
                        (402, "UPDATE", 7, "seven", 7.5, None)])
    assert apply_cdc_epoch(pruned, b3, 3, ["id"])
    assert pruned._manifest(3)["delta"]["rows"] == 3
    small = PrunedParquetStateStore(spark, pruned.path, ["id"], n_buckets=8,
                                    broadcast_threshold_rows=2)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")  # only the store's hint may broadcast
    try:
        assert broadcast_count(pruned.read().where(F.col("id") < 10)) == 1
        assert broadcast_count(small.read().where(F.col("id") < 10)) == 0
    finally:
        spark.conf.set(key, saved)
    assert _state_dict(small) == _state_dict(pruned)


def test_pruned_store_schema_heal_rewrites_all_buckets(spark, tmp_path):
    """A heal epoch (batch adds a column) cannot be bucket-local: the
    pruned store must fall back to the full rewrite so every bucket
    advances to the union schema — and still match the full store."""
    from canal_phoenix_adapter_spark.streaming.stream import apply_cdc_epoch

    pruned, full = _pruned_and_full(spark, tmp_path)
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 101)])
    healed = "seq long, op string, id long, name string, balance double, tier string, old_id long"
    b1 = spark.createDataFrame([(200, "UPDATE", 3, "three", 3.0, "gold", None)], healed)
    for store in (pruned, full):
        assert apply_cdc_epoch(store, b0, 0, ["id"])
        assert apply_cdc_epoch(store, b1, 1, ["id"])
    assert _state_dict(pruned) == _state_dict(full)
    assert "tier" in pruned.read().columns
    # fallback evidence: v1 owns every bucket, nothing served from v0
    m1 = pruned._manifest(1)["buckets"]
    assert set(m1.values()) == {1}
    assert "tier" in {f.name for f in pruned._schema_of(pruned._manifest(1)).fields}


def test_pruned_fallback_epochs_skip_isempty_recheck(spark, tmp_path,
                                                     monkeypatch):
    """The pruned store's TRUNCATE and heal/DDL epochs run the base
    full-rewrite path, whose entry once re-ran batch_df.isEmpty() —
    one redundant Spark job on a batch the pre-scan already counted as
    non-empty. Neither may call isEmpty; results are unchanged. An
    empty batch over a store holding a delta commits nothing and
    leaves no version dir behind."""
    from pyspark.sql import DataFrame

    from canal_phoenix_adapter_spark.streaming import stream as stream_mod
    from canal_phoenix_adapter_spark.streaming.stream import apply_cdc_epoch

    pruned, _ = _pruned_and_full(spark, tmp_path)
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 21)])
    assert apply_cdc_epoch(pruned, b0, 0, ["id"])

    calls = []
    orig = DataFrame.isEmpty
    monkeypatch.setattr(
        DataFrame, "isEmpty",
        lambda self: (calls.append(1), orig(self))[1],
    )
    # TRUNCATE fallback: full rewrite, no emptiness recheck
    bt = _batch(spark, [(100, "TRUNCATE", None, None, None, None),
                        (101, "INSERT", 1, "one", 1.0, None)])
    assert apply_cdc_epoch(pruned, bt, 1, ["id"])
    assert calls == [] and _state_dict(pruned) == {1: (1.0, "one")}
    # heal/DDL fallback: the batch carries a NEW column -> schema
    # change -> full rewrite, still no emptiness recheck
    bh = spark.createDataFrame(
        [(200, "UPDATE", 1, "uno", 1.5, None, "gold")],
        BASE_SCHEMA + ", tier string",
    )
    assert apply_cdc_epoch(pruned, bh, 2, ["id"])
    assert calls == []
    got = {r["id"]: (r["name"], r["tier"]) for r in pruned.read().collect()}
    assert got == {1: ("uno", "gold")}
    # an empty batch over a store holding a delta: its one-job epoch
    # writes a delta dir above _CURRENT, learns the batch was empty and
    # removes it; nothing commits, and the next epoch does. (The
    # one-row state folds any batch at the default fold bound.)
    monkeypatch.setattr(stream_mod, "DELTA_FOLD_FRACTION", 1e9)
    b3 = _batch(spark, [(300, "UPDATE", 1, "eins", 1.7, None)])
    assert apply_cdc_epoch(pruned, b3, 3, ["id"])
    assert pruned._manifest(3)["delta"] is not None
    pointer = pathlib.Path(pruned._pointer()).read_bytes()
    empty = _batch(spark, [])
    assert apply_cdc_epoch(pruned, empty, 4, ["id"]) is False
    assert pathlib.Path(pruned._pointer()).read_bytes() == pointer
    assert not os.path.exists(os.path.join(pruned.path, "v4"))
    b5 = _batch(spark, [(500, "UPDATE", 1, "one", 1.9, None)])
    assert apply_cdc_epoch(pruned, b5, 5, ["id"])
    assert pruned.current_version() == 5 and pruned.last_epoch() == 5
    got = {r["id"]: (r["name"], r["tier"]) for r in pruned.read().collect()}
    assert got == {1: ("one", None)}
    assert calls == []


def test_pruned_store_truncate_erase_prune_timetravel(spark, tmp_path):
    """TRUNCATE falls back to full rewrite; erase_keys commits a new
    manifest version; prune() GCs shared bucket dirs by reference
    count; read_version time-travel stays exact within retention."""
    from canal_phoenix_adapter_spark.streaming.stream import (
        apply_cdc_epoch,
        erase_keys,
    )

    pruned, full = _pruned_and_full(spark, tmp_path)
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 51)])
    b1 = _batch(spark, [(100, "UPDATE", 2, "two", 2.2, None)])
    b2 = _batch(spark, [(200, "TRUNCATE", None, None, None, None),
                        (201, "INSERT", 5, "reborn", 5.0, None)])
    for store in (pruned, full):
        assert apply_cdc_epoch(store, b0, 0, ["id"])
        assert apply_cdc_epoch(store, b1, 1, ["id"])
    # time travel: v0 still shows the pre-update row via its manifest,
    # only id 2 differs from v1, and bucket bookkeeping never surfaces
    v0, v1 = pruned.read_version(0), pruned.read_version(1)
    assert pruned.BUCKET not in v0.columns and pruned.BUCKET not in v1.columns
    rows0 = {r["id"]: r.asDict() for r in v0.collect()}
    rows1 = {r["id"]: r.asDict() for r in v1.collect()}
    assert rows0.keys() == rows1.keys()
    assert [k for k in rows0 if rows0[k] != rows1[k]] == [2]
    assert rows0[2]["balance"] == 2.0 and rows1[2]["balance"] == 2.2
    for store in (pruned, full):
        assert apply_cdc_epoch(store, b2, 2, ["id"])
    assert _state_dict(pruned) == _state_dict(full) == {5: (5.0, "reborn")}

    v, erased = erase_keys(pruned, spark.createDataFrame([(5,)], "id long"),
                           ["id"])
    assert v == 3 and erased == 1
    assert pruned.read().count() == 0  # empty state stays readable
    doomed = pruned.prune(keep_last=1)
    assert doomed == [0, 1, 2]
    assert pruned.versions() == [3]
    assert pruned.read().count() == 0
    assert pruned.last_epoch() == 2  # erasure carried the watermark
    # an epoch on top of the empty state still applies
    b3 = _batch(spark, [(300, "INSERT", 8, "back", 8.0, None)])
    assert apply_cdc_epoch(pruned, b3, 3, ["id"])
    assert _state_dict(pruned) == {8: (8.0, "back")}


def test_pruned_store_prune_keeps_shared_buckets_readable(spark, tmp_path):
    """The GC hazard specific to shared dirs: pruning an OLD version
    must not delete bucket or delta dirs a retained manifest still
    references (after delta epochs, every bucket), and must delete the
    stale copies nothing references — including unreferenced deltas."""
    from canal_phoenix_adapter_spark.streaming.stream import apply_cdc_epoch

    pruned, _ = _pruned_and_full(spark, tmp_path)
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 201)])
    b1 = _batch(spark, [(300, "UPDATE", 5, "five", 5.5, None)])
    b2 = _batch(spark, [(400, "UPDATE", 6, "six", 6.6, None)])
    assert apply_cdc_epoch(pruned, b0, 0, ["id"])
    assert apply_cdc_epoch(pruned, b1, 1, ["id"])
    assert apply_cdc_epoch(pruned, b2, 2, ["id"])
    before = _state_dict(pruned)
    # epochs 1 and 2 committed deltas; time travel to a retained
    # version with a delta reads that version's delta, not the latest
    assert pruned._manifest(1)["delta"] is not None
    assert pruned.prune(keep_last=2) == [0]
    v1 = {r["id"]: (r["balance"], r["name"])
          for r in pruned.read_version(1).collect()}
    assert v1[5] == (5.5, "five") and v1[6] == (6.0, "n6") and len(v1) == 200
    assert pruned.prune(keep_last=1) == [1]
    # v1's delta is unreferenced now: its dir is gone; v2's survives
    assert not os.path.exists(os.path.join(pruned.path, "v1"))
    assert os.path.isdir(os.path.join(pruned.path, "v2", "_delta"))
    # v0's dirs survive where v2's manifest references them
    assert os.path.isdir(os.path.join(pruned.path, "v0"))
    assert _state_dict(pruned) == before
    assert pruned.read().count() == 200
    # pruned versions stop being snapshots immediately...
    assert pruned.versions() == [2]
    # ...and a REPEATED prune neither re-reports them nor trips over
    # their deleted manifests while their data dirs remain referenced
    assert pruned.prune(keep_last=1) == []
    assert _state_dict(pruned) == before
    # delayed dereference: once later epochs (folds: 100 rows each
    # pass the bound) rewrite every bucket the old versions' leftover
    # data dirs are collected on the next prune
    e = 3
    for ids in (range(1, 101), range(101, 201)):
        rows = [(1000 + e * 500 + i, "UPDATE", i, f"r{i}", float(i), None)
                for i in ids]
        assert apply_cdc_epoch(pruned, _batch(spark, rows), e, ["id"])
        e += 1
    pruned.prune(keep_last=1)
    assert not os.path.isdir(os.path.join(pruned.path, "v0"))
    assert pruned.read().count() == 200
    # bucket-pruned erasure: the erasure version rewrites ONLY the
    # buckets holding erased keys; everything else rides the manifest
    from canal_phoenix_adapter_spark.streaming.stream import erase_keys

    v, erased = erase_keys(pruned, spark.createDataFrame([(7,)], "id long"),
                           ["id"])
    assert erased == 1
    assert _owned(pruned, v) == _bucket_of_ids(spark, [7], 8)
    assert pruned.read().count() == 199
    assert 7 not in _state_dict(pruned)


def _tree(path):
    """Every file and dir under ``path``, relative to it."""
    return {os.path.relpath(os.path.join(root, n), path)
            for root, dirs, files in os.walk(path) for n in dirs + files}


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize("pruned_store", [False, True], ids=["plain", "pruned"])
def test_prune_crash_after_unpublish_leaves_listed_versions_whole(
    spark, tmp_path, monkeypatch, pruned_store
):
    """A prune that crashes after unpublishing its doomed versions and
    before deleting their data: every version versions() still lists
    reads back in full, a doomed one raises the not-retained error
    (never a partial read), and the next prune leaves exactly the tree
    a prune without the crash leaves, with the state unchanged. On the
    pruned store epoch 1 folds, so v0 holds bucket dirs nothing
    retained references."""
    from canal_phoenix_adapter_spark.streaming import stream as stream_mod
    from canal_phoenix_adapter_spark.streaming.stream import (
        PrunedParquetStateStore,
        apply_cdc_epoch,
    )

    pruned, full = _pruned_and_full(spark, tmp_path)
    store = pruned if pruned_store else full
    epochs = [
        [(i, "INSERT", i, f"n{i}", float(i), None) for i in range(1, 41)],
        [(100, "UPDATE", 3, "three", 3.3, None),
         (101, "DELETE", 4, None, None, None)],
        [(200, "UPDATE", 5, "five", 5.5, None)],
        [(300, "INSERT", 77, "new", 7.7, None)],
    ]
    for e, rows in enumerate(epochs):
        with monkeypatch.context() as m:
            if e == 1:
                m.setattr(stream_mod, "DELTA_FOLD_FRACTION", 0.0)
            assert apply_cdc_epoch(store, _batch(spark, rows), e, ["id"])
    snap = {v: _rows(store.read_version(v)) for v in store.versions()}
    assert sorted(snap) == [0, 1, 2, 3]

    ref = str(tmp_path / "ref")
    shutil.copytree(store.path, ref)
    ref_store = (PrunedParquetStateStore(spark, ref, ["id"], n_buckets=8)
                 if pruned_store else ParquetStateStore(spark, ref))
    assert ref_store.prune(keep_last=2) == [0, 1]

    monkeypatch.setattr(stream_mod, "_crashpoint",
                        _crash_at("prune_unpublished"))
    with pytest.raises(RuntimeError, match="crash at prune_unpublished"):
        store.prune(keep_last=2)
    assert store.versions() == [2, 3]
    for v in store.versions():
        assert _rows(store.read_version(v)) == snap[v]
    for v in (0, 1):
        with pytest.raises(FileNotFoundError, match="not committed"):
            store.read_version(v)
    assert _tree(store.path) > _tree(ref)  # the crash left data to delete

    monkeypatch.setattr(stream_mod, "_crashpoint", lambda name: None)
    assert store.prune(keep_last=2) == []
    assert _tree(store.path) == _tree(ref)
    assert _rows(store.read()) == snap[3]


def test_run_cdc_stream_with_pruned_store(spark, tmp_path):
    """The golden scenario through run_cdc_stream(state_buckets=...)
    must land the exact same final state as the default store."""
    from canal_phoenix_adapter_spark.streaming.stream import (
        PrunedParquetStateStore,
    )

    src = str(tmp_path / "src")
    write_events_split(src, EVENTS)
    q = run_cdc_stream(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        CFG, VALUE_SCHEMA, state_buckets=8, retain_versions=1,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120)
    store = PrunedParquetStateStore(spark, str(tmp_path / "state"), ["id"], 8)
    got = {r["id"]: (r["name"], r["balance"]) for r in store.read().collect()}
    assert got == EXPECTED
    # retention ran through the stream path across MULTIPLE committed
    # epochs (split source): one readable snapshot left
    assert store.current_version() >= 1
    assert store.versions() == [store.current_version()]


def test_pruned_store_modulus_guard_and_rebucket(spark, tmp_path):
    """A handle opened with the wrong n_buckets must fail loudly on
    bucket-local paths (a silent mismatch reads keys as absent and
    duplicates them), while plain reads — modulus-agnostic — still
    work; rebucket() migrates deliberately and epochs resume."""
    from canal_phoenix_adapter_spark.streaming.stream import (
        PrunedParquetStateStore,
        apply_cdc_epoch,
        erase_keys,
    )

    path = str(tmp_path / "state")
    s8 = PrunedParquetStateStore(spark, path, ["id"], n_buckets=8)
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 51)])
    assert apply_cdc_epoch(s8, b0, 0, ["id"])

    s4 = PrunedParquetStateStore(spark, path, ["id"], n_buckets=4)
    assert s4.read().count() == 50  # reads don't care about modulus
    b1 = _batch(spark, [(100, "UPDATE", 3, "x", 0.0, None)])
    with pytest.raises(ValueError, match="n_buckets=8"):
        apply_cdc_epoch(s4, b1, 1, ["id"])
    with pytest.raises(ValueError, match="n_buckets=8"):
        erase_keys(s4, spark.createDataFrame([(3,)], "id long"), ["id"])
    assert s8.last_epoch() == 0  # nothing committed by the failures

    v = s8.rebucket(4)
    assert s8.n_buckets == 4 and s8.current_version() == v
    assert s8._manifest(v)["n_buckets"] == 4
    assert s8.last_epoch() == 0  # watermark carried, not bumped
    # the previously-wrong handle now matches and epochs resume
    assert apply_cdc_epoch(s4, b1, 1, ["id"])
    assert _state_dict(s4)[3] == (0.0, "x")
    assert s4.read().count() == 50


def test_pruned_erase_casts_keyset_types_and_guards_pk(spark, tmp_path):
    """hash() is type-sensitive, so an erasure keyset
    whose pk dtype differs from the state's (int keys vs long state)
    once bucket-hashed to dirs the state never uses — the key SURVIVED
    while a new 'erased' version committed and success returned. The
    keyset must be cast to the manifest's pk types before bucketing,
    and a wrong pk must fail loudly like the merge path does."""
    from canal_phoenix_adapter_spark.streaming.stream import (
        apply_cdc_epoch,
        erase_keys,
    )

    pruned, _ = _pruned_and_full(spark, tmp_path)
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 51)])
    assert apply_cdc_epoch(pruned, b0, 0, ["id"])

    # int-typed keyset over long-typed state: must still erase
    keys = spark.createDataFrame([(7,), (9,)], "id int")
    v, erased = erase_keys(pruned, keys, ["id"])
    assert erased == 2  # audited count computed on the CAST keyset
    got = _state_dict(pruned)
    assert 7 not in got and 9 not in got and len(got) == 48
    # the erasure version rewrote only the buckets of the erased keys
    assert _owned(pruned, v) <= _bucket_of_ids(spark, [7, 9], 8)

    # a key the state type cannot represent is a correct miss, not an
    # error — and the null it casts to is DROPPED before bucketing
    # (hash(NULL) is a constant, so keeping it would mark and rewrite
    # one spurious touched bucket per erasure): the erasure version
    # owns only the representable key's bucket
    wide = spark.createDataFrame([("not-a-number",), ("11",)], "id string")
    v2, erased2 = erase_keys(pruned, wide, ["id"])
    assert erased2 == 1  # the unrepresentable key is a correct 0
    got = _state_dict(pruned)
    assert 11 not in got and len(got) == 47
    assert _owned(pruned, v2) <= _bucket_of_ids(spark, [11], 8)

    # a keyset that is ENTIRELY unrepresentable (every key null after
    # the cast) touches zero buckets: the commit is a no-op version
    # whose manifest carries every bucket forward and owns none itself
    none_rep = spark.createDataFrame([("nope",), ("also-no",)], "id string")
    v3, erased3 = erase_keys(pruned, none_rep, ["id"])
    assert erased3 == 0  # erase-of-absent-keys: committed, audited 0
    assert len(_state_dict(pruned)) == 47
    assert _owned(pruned, v3) == set()
    assert pruned.current_version() == v3

    # wrong pk fails loudly instead of silently missing rows
    with pytest.raises(ValueError, match="bucketing pk"):
        erase_keys(
            pruned, spark.createDataFrame([("n3",)], "name string"), ["name"]
        )


def test_pruned_store_refuses_plain_layout(spark, tmp_path):
    """A pruned handle over a plain-layout
    path (exactly what flipping state_buckets on an existing deployment
    produces) must raise a migration error — prune() once computed an
    empty retained set and rmtree'd every version INCLUDING _CURRENT,
    and the first epoch died with a raw FileNotFoundError."""
    from canal_phoenix_adapter_spark.streaming.stream import (
        PrunedParquetStateStore,
        apply_cdc_epoch,
    )

    path = str(tmp_path / "state")
    plain = ParquetStateStore(spark, path)
    init = spark.createDataFrame([(i, f"n{i}") for i in range(5)],
                                 "id long, name string")
    plain.write(init, 0)

    pruned = PrunedParquetStateStore(spark, path, ["id"], n_buckets=4)
    with pytest.raises(ValueError, match="plain ParquetStateStore layout"):
        pruned.prune(keep_last=1)
    # nothing was deleted by the refused prune
    assert plain.read().count() == 5
    b1 = _batch(spark, [(10, "UPDATE", 3, "x", 0.0, None)])
    with pytest.raises(ValueError, match="plain ParquetStateStore layout"):
        apply_cdc_epoch(pruned, b1, 1, ["id"])
    # write() is the PUBLISH direction: a pruned-handle
    # bootstrap write over the plain layout would commit a manifested
    # version on top, after which prune() sweeps every manifest-less
    # plain snapshot dir as unreferenced storage — refuse instead
    with pytest.raises(ValueError, match="plain ParquetStateStore layout"):
        pruned.write(init, 1)
    assert plain.read().count() == 5 and plain.current_version() == 0


def test_plain_store_refuses_pruned_layout(spark, tmp_path):
    """The mismatch's other direction: a plain handle
    over a pruned layout once read only the latest version's
    touched-bucket dirs as if they were full state (then committed that
    truncated state forward). read()/read_version() must refuse."""
    from canal_phoenix_adapter_spark.streaming.stream import apply_cdc_epoch

    pruned, _ = _pruned_and_full(spark, tmp_path, n_buckets=4)
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 51)])
    b1 = _batch(spark, [(100, "UPDATE", 3, "x", 0.0, None)])
    assert apply_cdc_epoch(pruned, b0, 0, ["id"])
    assert apply_cdc_epoch(pruned, b1, 1, ["id"])

    plain = ParquetStateStore(spark, pruned.path)
    with pytest.raises(ValueError, match="PrunedParquetStateStore"):
        plain.read()
    with pytest.raises(ValueError, match="PrunedParquetStateStore"):
        plain.read_version(1)
    with pytest.raises(ValueError, match="PrunedParquetStateStore"):
        apply_cdc_epoch(plain, b1, 2, ["id"])
    # prune() is the DESTRUCTIVE direction: the v1 manifest maps
    # untouched buckets to v0's dirs, so a plain-handle prune rmtree'ing
    # v0 would delete live state the current manifest references
    with pytest.raises(ValueError, match="PrunedParquetStateStore"):
        plain.prune(keep_last=1)
    # write() is the PUBLISH direction (ADVICE r7): a plain-handle
    # write()+repoint over the pruned layout would publish a
    # manifest-less _CURRENT that fails every pruned handle with the
    # migration error and strands the bucket dirs
    with pytest.raises(ValueError, match="PrunedParquetStateStore"):
        plain.write(spark.createDataFrame([(1, "x")], "id long, name string"), 5)
    # the refusals committed nothing over the pruned store
    assert pruned.last_epoch() == 1 and pruned.read().count() == 50
    assert pruned.read_version(0).count() == 50  # v0 survived


def test_rebucket_failure_restores_modulus(spark, tmp_path):
    """rebucket() once mutated the handle's n_buckets
    BEFORE the rewrite committed — a failed rewrite left the handle on
    the new modulus while the store kept the old, so every later
    bucket-local epoch failed the modulus guard until restart."""
    from canal_phoenix_adapter_spark.streaming.stream import apply_cdc_epoch

    pruned, _ = _pruned_and_full(spark, tmp_path)
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 51)])
    assert apply_cdc_epoch(pruned, b0, 0, ["id"])

    orig = pruned._write_unlocked

    def boom(*a, **k):
        raise RuntimeError("disk full")

    pruned._write_unlocked = boom
    try:
        with pytest.raises(RuntimeError, match="disk full"):
            pruned.rebucket(4)
    finally:
        pruned._write_unlocked = orig
    assert pruned.n_buckets == 8  # handle matches the store again
    b1 = _batch(spark, [(100, "UPDATE", 3, "x", 0.0, None)])
    assert apply_cdc_epoch(pruned, b1, 1, ["id"])
    assert _state_dict(pruned)[3] == (0.0, "x")


def _fold_basis(spark, tmp_path, monkeypatch, name, thr):
    """Bootstrap a pruned store at broadcast_threshold_rows ``thr``,
    then fold one small epoch (the fold bound is lowered to 0) and
    record the basis the fold commits: its plan, the files it scans,
    the buckets the epoch touches and the state it lands."""
    from plan_helpers import explain_str

    from canal_phoenix_adapter_spark.streaming import stream as stream_mod
    from canal_phoenix_adapter_spark.streaming.stream import (
        PrunedParquetStateStore,
        apply_cdc_epoch,
    )

    monkeypatch.setattr(stream_mod, "DELTA_FOLD_FRACTION", 0.0)
    n_buckets = 8
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 101)])
    b1 = _batch(spark, [(200, "UPDATE", 7, "seven", 0.7, None),
                        (201, "DELETE", 8, None, None, None),
                        (202, "UPDATE", 901, "moved", 17.0, 17)])
    touched = _bucket_of_ids(spark, [7, 8, 901, 17], n_buckets)
    assert len(touched) < n_buckets
    store = PrunedParquetStateStore(
        spark, str(tmp_path / name), ["id"], n_buckets=n_buckets,
        broadcast_threshold_rows=thr,
    )
    assert apply_cdc_epoch(store, b0, 0, ["id"])  # bootstrap: full path
    bases = []
    orig = store._commit_touched

    def recording(df, *a, **kw):
        bases.append((explain_str(df), df.inputFiles()))
        return orig(df, *a, **kw)

    monkeypatch.setattr(store, "_commit_touched", recording)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")  # only the store's hint may broadcast
    try:
        assert apply_cdc_epoch(store, b1, 1, ["id"])
    finally:
        spark.conf.set(key, saved)
    assert store._manifest(1)["delta"] is None
    ((plan, files),) = bases
    return plan, files, store, touched, _state_dict(store)


def test_pruned_store_huge_batch_routes_no_broadcast(spark, tmp_path, monkeypatch):
    """The pruned store's fold must route on the change-set size — at
    or below broadcast_threshold_rows the delta keys are broadcast
    (state never shuffles, the normal CDC regime); above it the fold's
    basis plans no BroadcastExchange (a backfill-sized epoch must not
    pin its key set in every executor's memory). A fold commits the
    merge-on-read of its new delta, so the route is the one the delta
    apply rule (_with_delta) picks. Both routes must land the identical
    state."""
    states = {}
    for name, thr in (("bcast", 10_000), ("nobcast", 0)):
        plan, _, _, _, states[name] = _fold_basis(
            spark, tmp_path, monkeypatch, name, thr)
        assert ("BroadcastExchange" in plan) == (thr > 0), name
    assert states["bcast"] == states["nobcast"]
    assert states["bcast"][901] == (17.0, "moved") and 17 not in states["bcast"]
    assert 8 not in states["bcast"] and states["bcast"][7] == (0.7, "seven")


def test_pruned_nobroadcast_merge_plan_reads_only_touched(
    spark, tmp_path, monkeypatch
):
    """Above the threshold the fold's basis plan has NO BroadcastExchange
    of the key set (below it, it does), and on both routes the basis
    scans ONLY the touched bucket dirs plus the epoch's own `_delta` —
    so what shuffles is O(touched-bucket state + batch), never O(state),
    even in the huge-batch regime."""
    for name, thr in (("nobcast", 0), ("bcast", 10_000)):
        plan, files, store, touched, _ = _fold_basis(
            spark, tmp_path, monkeypatch, name, thr)
        assert ("BroadcastExchange" in plan) == (thr > 0), name
        want = {store._bucket_dir(0, b) for b in touched}
        want.add(store._delta_dir(1))
        scanned = {os.path.dirname(f.split(":", 1)[1]) for f in files}
        assert ({os.path.realpath(d) for d in scanned}
                == {os.path.realpath(d) for d in want}), name


def test_commit_lock_excludes_other_processes(tmp_path):
    """The _COMMITLOCK contract promises exclusion across PROCESSES,
    not just threads (two drivers pointed at one state path must
    serialize, else the second pointer swap silently undoes the
    first's commit). Pin it with a real second process: a child takes
    the flock and holds it; the parent's commit_lock() must block
    until the child releases. No Spark needed on either side — the
    lock is plain fcntl over the store's meta dir."""
    import subprocess
    import sys
    import time

    holder = ParquetStateStore(None, str(tmp_path))
    child = subprocess.Popen(
        [sys.executable, "-c", (
            "import fcntl, sys, time\n"
            "f = open(sys.argv[1], 'a')\n"
            "fcntl.flock(f, fcntl.LOCK_EX)\n"
            "print('locked', flush=True)\n"
            "time.sleep(2.0)\n"  # auto-released on process exit
        ), str(tmp_path / "_COMMITLOCK")],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        assert child.stdout.readline().strip() == "locked"
        t0 = time.monotonic()
        with holder.commit_lock():
            waited = time.monotonic() - t0
        # the parent must have blocked on the child's flock (generous
        # floor: the child holds it 2 s from the handshake)
        assert waited > 0.5, waited
    finally:
        child.wait(timeout=10)


def test_empty_epoch_commits_nothing(spark, tmp_path):
    """An empty micro-batch commits no version and returns False on
    both stores — with the check folded into the store's merge-commit
    strategy (the pruned store reads it off its pre-scan, so
    apply_cdc_epoch runs no separate isEmpty() job). An
    empty epoch must not advance the replay watermark either: the
    skipped epoch id stays replayable."""
    from canal_phoenix_adapter_spark.streaming.stream import apply_cdc_epoch

    empty = _batch(spark, [])
    pruned, full = _pruned_and_full(spark, tmp_path)
    for store in (pruned, full):
        # empty FIRST epoch: no bootstrap snapshot either
        assert apply_cdc_epoch(store, empty, 0, ["id"]) is False
        assert store.current_version() is None
        b0 = _batch(spark, [(1, "INSERT", 1, "a", 1.0, None)])
        assert apply_cdc_epoch(store, b0, 1, ["id"])
        assert apply_cdc_epoch(store, empty, 2, ["id"]) is False
        assert store.current_version() == 1 and store.last_epoch() == 1
        assert _state_dict(store) == {1: (1.0, "a")}
        # the empty epoch's id is still applicable later (watermark
        # unmoved): a real batch replayed under id 2 applies
        b2 = _batch(spark, [(5, "UPDATE", 1, "a2", 1.5, None)])
        assert apply_cdc_epoch(store, b2, 2, ["id"])
        assert _state_dict(store) == {1: (1.5, "a2")}


def test_concurrent_erase_and_epochs_on_pruned_store(spark, tmp_path):
    """erase_keys documents two mechanisms for running concurrent with
    the CDC stream: the shared commit lock serializes it with
    apply_cdc_epoch, and the erasure commit carries the epoch
    watermark forward so every future epoch still applies. Drive both
    from two threads with an erase keyset DISJOINT from the epochs'
    keys — then the final state is interleaving-independent (epoch
    effects for untouched keys, bootstrap rows minus erased keys) and
    any violation of either mechanism (lost epoch, lost erasure,
    watermark regression) breaks the assertion."""
    import threading

    from canal_phoenix_adapter_spark.streaming.stream import (
        apply_cdc_epoch,
        erase_keys,
    )

    pruned, _ = _pruned_and_full(spark, tmp_path)
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 41)])
    assert apply_cdc_epoch(pruned, b0, 0, ["id"])

    errors: list[BaseException] = []

    def epochs():
        try:
            for e in range(1, 6):
                b = _batch(spark, [(100 * e + k, "UPDATE", k,
                                    f"e{e}_{k}", float(e), None)
                                   for k in range(1, 21)])
                assert apply_cdc_epoch(pruned, b, e, ["id"])
        except BaseException as exc:  # noqa: BLE001 - surface in main thread
            errors.append(exc)

    def erasures():
        try:
            for lo, hi in ((21, 26), (26, 31)):
                keys = spark.createDataFrame(
                    [(k,) for k in range(lo, hi)], "id long"
                )
                erase_keys(pruned, keys, ["id"])
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    ts = [threading.Thread(target=epochs), threading.Thread(target=erasures)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errors, errors

    got = _state_dict(pruned)
    expect = {k: (5.0, f"e5_{k}") for k in range(1, 21)}
    expect.update({k: (float(k), f"n{k}") for k in range(31, 41)})
    assert got == expect  # epochs all applied; 21..30 erased; rest intact
    assert pruned.last_epoch() == 5
    # replay of the last epoch still no-ops (watermark never regressed)
    b5 = _batch(spark, [(500 + k, "UPDATE", k, f"e5_{k}", 5.0, None)
                        for k in range(1, 21)])
    assert apply_cdc_epoch(pruned, b5, 5, ["id"]) is False


def test_concurrent_janitor_prune_and_epochs_on_pruned_store(spark, tmp_path):
    """SCALE.md tells deployments to move retention GC to a janitor
    cadence — i.e. prune() runs CONCURRENT with the epoch thread, and
    deliberately without the commit lock. That is safe by construction
    (a committing version only references bucket dirs reachable from
    the retained current manifest, and prune never sweeps versions
    above the _CURRENT it read), but nothing pinned it: race a
    prune(keep_last=2) loop against 6 epochs and require the final
    state to be the exact serial fold with every epoch committed."""
    import threading

    from canal_phoenix_adapter_spark.streaming.stream import (
        apply_cdc_epoch,
    )

    pruned, _ = _pruned_and_full(spark, tmp_path)
    b0 = _batch(spark, [(i, "INSERT", i, f"n{i}", float(i), None)
                        for i in range(1, 41)])
    assert apply_cdc_epoch(pruned, b0, 0, ["id"])

    errors: list[BaseException] = []
    done = threading.Event()

    def epochs():
        try:
            for e in range(1, 7):
                b = _batch(spark, [(100 * e + k, "UPDATE", k,
                                    f"e{e}_{k}", float(e), None)
                                   for k in range(1, 11)])
                assert apply_cdc_epoch(pruned, b, e, ["id"])
        except BaseException as exc:  # noqa: BLE001 - surface in main thread
            errors.append(exc)
        finally:
            done.set()

    def janitor():
        try:
            while not done.is_set():
                pruned.prune(keep_last=2)
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    ts = [threading.Thread(target=epochs), threading.Thread(target=janitor)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errors, errors

    got = _state_dict(pruned)
    expect = {k: (6.0, f"e6_{k}") for k in range(1, 11)}
    expect.update({k: (float(k), f"n{k}") for k in range(11, 41)})
    assert got == expect
    assert pruned.last_epoch() == 6
    # retention converged: one final prune leaves exactly 2 manifests
    pruned.prune(keep_last=2)
    assert pruned.versions() == [5, 6]
    assert pruned.read_version(5).count() == 40
