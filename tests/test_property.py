"""Property-based check (SURVEY §5.4): for random CDC event streams,
the engine's merged state equals a naive in-order Python dict fold of
the same events — the reference's semantics distilled (per-key
last-event-wins, PK-change delete-then-upsert, truncate wipes,
PhoenixSyncService.java:234-254,425-456,505-513).

Also checks batch-split invariance: applying the stream in arbitrary
micro-batch chunks (state carried through merge_cdc) ends in the same
state as one big batch — the property that makes foreachBatch replay
safe.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from canal_phoenix_adapter_spark.operators.merge import merge_cdc

KEYS = st.integers(min_value=1, max_value=4)
VALS = st.integers(min_value=0, max_value=99)


OPS = ["INSERT", "UPDATE", "UPDATE", "DELETE", "TRUNCATE"]
# the store properties draw TRUNCATE rarely: a TRUNCATE epoch takes the
# full-rewrite path, so the default mix would leave few delta epochs
STORE_OPS = ["INSERT", "INSERT", "UPDATE", "UPDATE", "UPDATE", "DELETE",
             "DELETE", "INSERT", "UPDATE", "DELETE", "UPDATE", "TRUNCATE"]


@st.composite
def events(draw, ops=tuple(OPS)):
    n = draw(st.integers(min_value=1, max_value=18))
    out = []
    for seq in range(n):
        op = draw(st.sampled_from(ops))
        if op == "TRUNCATE":
            out.append((seq, op, None, None, None))
            continue
        key = draw(KEYS)
        if op == "DELETE":
            out.append((seq, op, key, None, None))
            continue
        old = draw(st.one_of(st.none(), KEYS)) if op == "UPDATE" else None
        out.append((seq, op, key, draw(VALS), old))
    return out


def naive_fold(evts):
    st_ = {}
    for _seq, op, key, val, old in evts:
        if op == "TRUNCATE":
            st_.clear()
        elif op == "DELETE":
            st_.pop(key, None)
        else:
            if old is not None and old != key:
                st_.pop(old, None)
            st_[key] = val
    return st_


SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("old_id", T.LongType()),
    ]
)


def spark_fold(spark, evts, cuts):
    """Apply evts through merge_cdc in chunks split at `cuts`."""
    state = None
    bounds = [0, *sorted(cuts), len(evts)]
    for lo, hi in zip(bounds, bounds[1:]):
        chunk = evts[lo:hi]
        if not chunk:
            continue
        df = spark.createDataFrame(chunk, SCHEMA)
        state = merge_cdc(state, df, ["id"])
    if state is None:
        return {}
    return {r["id"]: r["v"] for r in state.collect()}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(evts=events(), data=st.data())
def test_merge_cdc_equals_naive_fold(spark, evts, data):
    expected = naive_fold(evts)

    got_single = spark_fold(spark, evts, cuts=[])
    assert got_single == expected

    cuts = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=len(evts)),
            min_size=1,
            max_size=2,
        )
    )
    got_batched = spark_fold(spark, evts, cuts)
    assert got_batched == expected


# ---------------------------------------------------------------------------
# Executor-side write loop (sinks/phoenix.py): for any op sequence, the
# statement stream the sink emits replays to the same final table state
# as the naive fold — commit batching must not change semantics.
# ---------------------------------------------------------------------------


def _replay_statements(log):
    """Fold a recorded connection log via the shared statement
    interpreter (test_sink.apply_stmt)."""
    from test_sink import apply_stmt

    state = {}
    for entry in log:
        if entry[0] == "execute":
            apply_stmt(state, entry[1], entry[2], width=1)
    return state


@given(events(), st.sampled_from([None, 1, 3]))
@settings(max_examples=60, deadline=None)
def test_sink_statement_stream_matches_fold(evts, commit_batch):
    from canal_phoenix_adapter_spark.config import DbMapping, MappingConfig
    from canal_phoenix_adapter_spark.sinks.phoenix import apply_partition
    from test_sink import FakeConnection

    cfg = MappingConfig(
        db_mapping=DbMapping(
            database="d", table="t", target_table="D.T", target_pk={"ID": "id"}
        )
    )
    items = []
    for seq, op, key, val, old in evts:
        items.append(
            {"seq": seq, "op": op, "id": key, "old_id": old, "val": val}
        )
    conn = FakeConnection()
    apply_partition(items, cfg, lambda: conn, commit_batch=commit_batch)
    # image columns are (id, val) — old_id is old_-prefixed and seq/op
    # are metadata — so UPSERT params arrive as [id, val] and DELETE
    # params as [id]; the replay therefore reconstructs {id: val}
    # exactly like the naive fold.
    assert _replay_statements(conn.log) == naive_fold(evts)


# ---------------------------------------------------------------------------
# dup_clusters == union-find ground truth for random edge sets
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=14),
            st.integers(min_value=0, max_value=14),
        ).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dup_clusters_matches_union_find(spark, edges):
    from canal_phoenix_adapter_spark.operators.dedup import dup_clusters

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == expected


# ---------------------------------------------------------------------------
# asof_join vs pandas merge_asof (the de-facto reference semantics)
# ---------------------------------------------------------------------------


@st.composite
def asof_tables(draw):
    n_left = draw(st.integers(min_value=1, max_value=12))
    n_right = draw(st.integers(min_value=0, max_value=12))
    ts = st.integers(min_value=0, max_value=50)
    left = [
        (draw(KEYS), draw(ts), i) for i in range(n_left)
    ]
    # unique (key, ts) on the right: merge_asof picks the LAST of
    # equal-ts rows, our operator requires pre-collapsed right input
    seen = set()
    right = []
    for j in range(n_right):
        k, t = draw(KEYS), draw(ts)
        if (k, t) not in seen:
            seen.add((k, t))
            # ~1/4 null payloads: a match must stay atomic (the null
            # row's ts with ITS null payload, never a stitched pair)
            rid = None if draw(st.integers(0, 3)) == 0 else 1000 + j
            right.append((k, t, rid))
    return left, right


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(asof_tables())
def test_asof_join_matches_pandas_merge_asof(spark, tables):
    import pandas as pd

    from canal_phoenix_adapter_spark.operators.asof import asof_join

    left_rows, right_rows = tables
    left = spark.createDataFrame(left_rows, "k long, lts long, lid long")
    right = spark.createDataFrame(
        right_rows or [(None, None, None)], "k long, rts long, rid long"
    )
    if not right_rows:
        right = right.where("k IS NOT NULL")
    got = {
        (r["lid"]): (r["rid"], r["rts"])
        for r in asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts"
        ).collect()
    }

    lp = pd.DataFrame(left_rows, columns=["k", "lts", "lid"]).sort_values("lts", kind="stable")
    rp = pd.DataFrame(right_rows, columns=["k", "rts", "rid"]).sort_values("rts", kind="stable")
    if right_rows:
        merged = pd.merge_asof(
            lp, rp, left_on="lts", right_on="rts", by="k", direction="backward"
        )
        expect = {
            int(r.lid): (
                None if pd.isna(r.rid) else int(r.rid),
                None if pd.isna(r.rts) else int(r.rts),
            )
            for r in merged.itertuples()
        }
    else:
        expect = {int(lid): (None, None) for _, _, lid in left_rows}
    assert got == expect


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),          # key
            st.one_of(st.none(), st.integers(0, 9)),        # seq (nullable)
            st.integers(min_value=0, max_value=99),         # payload
        ),
        min_size=1,
        max_size=15,
    )
)
def test_keep_last_matches_window_form(spark, rows):
    """keep_last's max_by aggregate must equal the row_number window
    it replaced — including NULL sequence values (desc = NULLS LAST:
    a NULL-seq row survives only when the whole key has no non-NULL
    seq) and including WHICH payload rides along. Ties on (key, seq)
    are resolved arbitrarily by both forms, so ties are excluded by
    construction (unique (key, seq) pairs, one NULL seq per key)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from canal_phoenix_adapter_spark.operators.merge import keep_last

    seen: set[tuple[int, int | None]] = set()
    uniq = []
    for k, seq, v in rows:
        if (k, seq) in seen:
            continue
        seen.add((k, seq))
        uniq.append((k, seq, v))

    df = spark.createDataFrame(uniq, "k long, seq long, v long")
    got = {(r["k"], r["seq"], r["v"]) for r in keep_last(df, ["k"], "seq").collect()}

    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    expect = {
        (r["k"], r["seq"], r["v"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .collect()
    }
    assert got == expect


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(asof_tables())
def test_asof_join_mixed_temporal_matches_pandas(spark, tables):
    """Timestamp left vs DATE right (the r3-ADVICE unit-mixing shape):
    the merged axis must promote BOTH sides to epoch micros — pandas
    merge_asof over the promoted timestamps is the reference
    semantics. Same generated tables as the numeric property test,
    lifted onto a day/hour timeline."""
    import datetime as dt

    import pandas as pd

    from canal_phoenix_adapter_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    left_rows, right_rows = tables
    lrows = [(k, base + dt.timedelta(days=t, hours=6), lid)
             for k, t, lid in left_rows]
    rrows = [(k, (base + dt.timedelta(days=t)).date(), rid)
             for k, t, rid in right_rows]
    left = spark.createDataFrame(lrows, "k long, lts timestamp, lid long")
    right = spark.createDataFrame(
        rrows or [(None, None, None)], "k long, rts date, rid long"
    )
    if not right_rows:
        right = right.where("k IS NOT NULL")
    got = {
        r["lid"]: (r["rid"], r["rts"])
        for r in asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts"
        ).collect()
    }

    lp = pd.DataFrame(lrows, columns=["k", "lts", "lid"]).sort_values(
        "lts", kind="stable"
    )
    rp = pd.DataFrame(
        [(k, pd.Timestamp(d), rid) for k, d, rid in rrows],
        columns=["k", "rts", "rid"],
    ).sort_values("rts", kind="stable")
    if right_rows:
        merged = pd.merge_asof(
            lp, rp, left_on="lts", right_on="rts", by="k", direction="backward"
        )
        expect = {
            int(r.lid): (
                None if pd.isna(r.rid) else int(r.rid),
                None if pd.isna(r.rts) else r.rts.date(),
            )
            for r in merged.itertuples()
        }
    else:
        expect = {int(lid): (None, None) for _, _, lid in lrows}
    assert got == expect


# Fold bounds the pruned-store properties draw from: 0 folds every
# epoch, 1e9 never folds, 3 (the states hold at most 5 keys) mixes
# delta and fold epochs in one run.
FOLD_FRACTIONS = [0.0, 3.0, 1e9]


def _epoch_frame(spark, ep, heal, known_size=True):
    """One epoch's batch; a ``heal`` epoch's image carries an extra
    ``tag`` column, so the stores take their schema-heal path. A batch
    of ``known_size`` (like a file-source micro-batch) lets the pruned
    store write a small epoch's delta as one single-task job; without
    it the batch reports spark.sql.defaultSizeInBytes and the delta
    collapses in parallel."""
    from plan_helpers import sized

    schema = "seq long, op string, id long, val long, old_id long"
    if heal:
        ep = [(*r, None if r[3] is None else f"t{r[3]}") for r in ep]
        schema += ", tag string"
    df = spark.createDataFrame(ep, schema)
    return sized(df) if known_size else df


def _store_state(store):
    df = store.read()
    if df is None:
        return None
    cols = sorted(df.columns)
    return sorted((tuple(r[c] for c in cols) for r in df.collect()),
                  key=repr)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(evts=events(tuple(STORE_OPS)), data=st.data())
def test_pruned_store_epochs_equal_full_store(spark, evts, data, tmp_path_factory):
    """Store-equivalence under RANDOM epoch sequences (r5): any event
    log (insert/update/PK-change/delete/truncate), split at any epoch
    boundaries, must land the identical final state whether committed
    through the full-rewrite ParquetStateStore or the manifest/bucket
    PrunedParquetStateStore — including each store's replay of its
    last epoch (crash-after-commit) and a pointer-rollback replay
    (crash-before-commit). The drawn broadcast threshold forces the
    pruned store onto either merge route — key-set broadcast or the
    broadcast-free huge-batch path: both must land the same state as
    the full store, replays included. The drawn fold bound sends the
    pruned epochs down the delta path, the fold path or a mix, and a
    drawn epoch carries an extra column (heal path); TRUNCATE events
    take the full-rewrite path. Each epoch's batch is drawn on either
    side of the pruned store's size check: of known size (a one-task
    delta write) or of unknown size (a parallel one). The fixed-scenario
    twins live in
    test_streaming.py; this closes the input-shape gap."""
    from unittest import mock

    from canal_phoenix_adapter_spark.streaming import stream as stream_mod
    from canal_phoenix_adapter_spark.streaming.stream import (
        ParquetStateStore,
        PrunedParquetStateStore,
        apply_cdc_epoch,
    )

    cuts = data.draw(
        st.lists(
            st.integers(min_value=1, max_value=max(1, len(evts) - 1)),
            max_size=3, unique=True,
        ).map(sorted)
    )
    bounds = [0, *cuts, len(evts)]
    epochs = [evts[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    heal_at = data.draw(st.sampled_from([None, *range(1, len(epochs))]),
                        label="heal_at")
    known = data.draw(st.lists(st.booleans(), min_size=len(epochs),
                               max_size=len(epochs)), label="known_size")
    frames = [_epoch_frame(spark, ep, i == heal_at, known[i])
              for i, ep in enumerate(epochs)]

    base = tmp_path_factory.mktemp("prop_store")
    # 0 routes EVERY fold through the no-broadcast merge; the huge
    # value keeps every fold on the broadcast route
    thr = data.draw(st.sampled_from([0, 1 << 30]))
    frac = data.draw(st.sampled_from(FOLD_FRACTIONS), label="fold_fraction")
    pruned = PrunedParquetStateStore(
        spark, str(base / "p"), ["id"], n_buckets=4,
        broadcast_threshold_rows=thr,
    )
    full = ParquetStateStore(spark, str(base / "f"))
    with mock.patch.object(stream_mod, "DELTA_FOLD_FRACTION", frac):
        for store in (pruned, full):
            committed = []
            for i, batch in enumerate(frames):
                committed.append(apply_cdc_epoch(store, batch, i, ["id"]))
            # crash-after-commit: replaying the last committed epoch no-ops
            if committed and committed[-1]:
                last = len(epochs) - 1
                assert apply_cdc_epoch(store, frames[last], last, ["id"]) is False

        assert _store_state(pruned) == _store_state(full)

        # crash-before-commit on the pruned side: roll the pointer back
        # and replay the final epoch over its own orphan dir
        if len(epochs) >= 2 and pruned.current_version() == len(epochs) - 1:
            prev = len(epochs) - 2
            pruned._repoint(prev, prev)
            assert apply_cdc_epoch(pruned, frames[-1], len(epochs) - 1, ["id"])
            assert _store_state(pruned) == _store_state(full)


@settings(
    max_examples=7,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(evts=events(tuple(STORE_OPS)), data=st.data())
def test_pruned_store_interleaved_lifecycle_equals_full_store(
    spark, evts, data, tmp_path_factory
):
    """Store-equivalence under a random interleaving of the FULL store
    lifecycle (r6): CDC epochs, GDPR erasures (erase_keys — including
    absent keys and an int-typed keyset over long state, the silent
    no-op the r5 advice caught), retention prune, and a mid-sequence
    rebucket() migration on the pruned side. The fixed-scenario tests
    pin each operation alone; this pins their COMPOSITION — every
    interleaving must land the plain full-rewrite store and the
    manifest/bucket pruned store on identical state, with the epoch
    watermark still replay-correct afterwards. The drawn fold bound and
    heal epoch reach the delta, fold, TRUNCATE and heal paths, so
    erasure, prune and rebucket also meet a store holding a delta."""
    from unittest import mock

    from canal_phoenix_adapter_spark.streaming import stream as stream_mod
    from canal_phoenix_adapter_spark.streaming.stream import (
        ParquetStateStore,
        PrunedParquetStateStore,
        apply_cdc_epoch,
        erase_keys,
    )

    cuts = data.draw(
        st.lists(
            st.integers(min_value=1, max_value=max(1, len(evts) - 1)),
            max_size=3, unique=True,
        ).map(sorted)
    )
    bounds = [0, *cuts, len(evts)]
    epochs = [evts[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    schema = "seq long, op string, id long, val long, old_id long"
    heal_at = data.draw(st.sampled_from([None, *range(1, len(epochs))]),
                        label="heal_at")
    frac = data.draw(st.sampled_from(FOLD_FRACTIONS), label="fold_fraction")

    # one action drawn per epoch boundary: applied to BOTH stores
    # (erase/prune) or to the pruned store only (rebucket — a layout
    # migration the plain store doesn't have; equality must hold
    # regardless of when it runs)
    actions = [
        data.draw(
            st.sampled_from(["none", "erase", "prune", "rebucket"]),
            label=f"after_epoch_{i}",
        )
        for i in range(len(epochs))
    ]
    erase_ids = data.draw(
        st.lists(st.integers(min_value=1, max_value=5), min_size=1,
                 max_size=3, unique=True),
        label="erase_ids",
    )
    keyset_type = data.draw(st.sampled_from(["long", "int"]),
                            label="keyset_type")

    base = tmp_path_factory.mktemp("prop_lifecycle")
    pruned = PrunedParquetStateStore(spark, str(base / "p"), ["id"],
                                     n_buckets=3)
    full = ParquetStateStore(spark, str(base / "f"))

    def state(store):
        df = store.read()
        return (None if df is None
                else sorted((r["id"], r["val"]) for r in df.collect()))

    with mock.patch.object(stream_mod, "DELTA_FOLD_FRACTION", frac):
        for i, ep in enumerate(epochs):
            for store in (pruned, full):
                apply_cdc_epoch(
                    store, _epoch_frame(spark, ep, i == heal_at), i, ["id"]
                )
            act = actions[i]
            if act == "erase":
                keys = spark.createDataFrame(
                    [(k,) for k in erase_ids], f"id {keyset_type}"
                )
                for store in (pruned, full):
                    if store.current_version() is not None:
                        erase_keys(store, keys, ["id"])
            elif act == "prune":
                for store in (pruned, full):
                    store.prune(keep_last=1)
            elif act == "rebucket":
                if pruned.current_version() is not None:
                    pruned.rebucket(5 if pruned.n_buckets == 3 else 3)

        assert _store_state(pruned) == _store_state(full)

        # the watermark survived every non-epoch commit: replaying the
        # last epoch still no-ops, and the NEXT epoch still applies
        if epochs and full.last_epoch() == len(epochs) - 1:
            last = len(epochs) - 1
            nxt = [(10_000, "UPDATE", 1, 7, None)]
            for store in (pruned, full):
                assert apply_cdc_epoch(
                    store, _epoch_frame(spark, epochs[last], last == heal_at),
                    last, ["id"],
                ) is False
                assert apply_cdc_epoch(
                    store, spark.createDataFrame(nxt, schema), last + 1, ["id"]
                )
            assert _store_state(pruned) == _store_state(full)
            assert state(full) is not None and (1, 7) in state(full)
