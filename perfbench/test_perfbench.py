"""Self-tests for the benchmark's own pieces (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime
import json
import os

from perfbench import gen, reference, streamlog


def test_generators_are_deterministic_per_seed():
    def cdc(seed):
        files = gen.change_files(seed, 3, 50, 1_000, gen.EnvelopeWriter(), drift_at=1,
                                 truncate_at=2)
        return b"".join(gen.envelopes_bytes(f) for f in files)

    assert cdc(7) == cdc(7)
    assert cdc(7) != cdc(8)
    assert (gen.envelopes_bytes(gen.bootstrap_envelopes(7, 500, gen.EnvelopeWriter()))
            == gen.envelopes_bytes(gen.bootstrap_envelopes(7, 500, gen.EnvelopeWriter())))
    for make in (lambda s: gen.lineitem_table(s, n_orders=300),
                 lambda s: gen.documents_table(s, n=200),
                 lambda s: gen.embeddings_table(s, n=50)):
        assert make(3).equals(make(3))
        assert not make(3).equals(make(4))


def test_envelopes_are_numbered_in_generation_order():
    w = gen.EnvelopeWriter()
    files = gen.change_files(1, 4, 30, 100, w, drift_at=2, truncate_at=3)
    es = [e["es"] for f in files for e in f]
    assert es == sorted(es) and len(set(es)) == len(es)
    assert files[3][0]["type"] == "TRUNCATE"
    assert any(e["isDdl"] for e in files[2])
    assert all(gen.DRIFT_COL not in d for e in files[1] for d in e["data"] or [])
    assert all(gen.DRIFT_COL in d for e in files[2] if not e["isDdl"] for d in e["data"])


def _row(key, price, clerk=None):
    row = {"o_orderkey": str(key), "o_custkey": "1", "o_orderstatus": "O",
           "o_totalprice": price, "o_orderdate": "1996-01-02", "o_orderpriority": "5-LOW"}
    if clerk is not None:
        row["o_clerk"] = clerk
    return row


def test_reference_apply_hand_checked_case():
    w = gen.EnvelopeWriter()
    envs = [
        w.envelope("INSERT", [_row(1, "1.00"), _row(2, "2.00"), _row(3, "3.00")]),
        w.envelope("UPDATE", [_row(1, "1.50"), _row(1, "1.75")],
                   [{"o_totalprice": "1.00"}, {"o_totalprice": "1.50"}]),
        w.envelope("UPDATE", [_row(20, "2.00")], [{"o_orderkey": "2"}]),  # PK change 2 -> 20
        w.envelope("DELETE", [_row(3, "3.00"), _row(99, "9.00")]),          # 99 never existed
        w.envelope("ALTER", None, ddl_sql="ALTER TABLE orders ADD COLUMN o_clerk varchar(15)"),
    ]
    state = reference.apply_envelopes(envs, gen.PK)
    assert state == {
        1: (1, 1, "O", 1.75, "1996-01-02", "5-LOW", None),
        20: (20, 1, "O", 2.0, "1996-01-02", "5-LOW", None),
    }
    more = [
        w.envelope("INSERT", [_row(4, "4.00")]),
        w.envelope("TRUNCATE", None),
        w.envelope("INSERT", [_row(5, "5.00", clerk="Clerk#1"), _row(6, "6.00")]),
        w.envelope("UPDATE", [_row(5, "5.50")], [{"o_orderkey": "5"}]),  # same key: no move
    ]
    state = reference.apply_envelopes(more, gen.PK, state=state)
    assert state == {
        5: (5, 1, "O", 5.5, "1996-01-02", "5-LOW", None),
        6: (6, 1, "O", 6.0, "1996-01-02", "5-LOW", None),
    }


def test_state_mismatches_counts_wrong_missing_extra_and_duplicate_keys():
    expected = {1: (1, "a"), 2: (2, "b"), 3: (3, "c")}
    actual = [(1, "a"), (2, "B"), (4, "d"), (4, "d")]
    # 2 differs, 3 missing, 4 extra, 4 duplicated
    assert reference.state_mismatches(expected, actual) == 4
    assert reference.state_mismatches(expected, list(expected.values())) == 0


def test_multiset_diff_and_clusters():
    assert reference.multiset_diff([(1, 0.5), (2, None)], [(2, float("nan")), (1, 0.5)]) == 0
    assert reference.multiset_diff([(1,), (1,)], [(1,)]) == 1
    assert reference.union_find_clusters([(3, 4), (4, 9), (7, 8)]) == {
        3: 3, 4: 3, 9: 3, 7: 7, 8: 7}


def _write_log(path, entries):
    with open(path, "w", encoding="utf-8") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def test_file_to_epoch_lag_on_synthetic_checkpoint(tmp_path):
    log_dir = tmp_path / "ckpt" / "sources" / "0"
    os.makedirs(log_dir)
    entry = lambda name, b: {"path": f"file:///data/src/{name}", "timestamp": 1, "batchId": b}  # noqa: E731
    # batches 0-2 compacted into 2.compact, batch 3 in its own file,
    # plus a stray temp file the reader must skip
    _write_log(log_dir / "2.compact", [entry("a.json", 0), entry("b.json", 1),
                                       entry("c.json", 1), entry("d%20e.json", 2)])
    _write_log(log_dir / "3", [entry("f.json", 3)])
    (log_dir / ".3.tmp").write_text("v1\n")
    batches = streamlog.file_batches(str(tmp_path / "ckpt"))
    assert batches == {"a.json": 0, "b.json": 1, "c.json": 1, "d e.json": 2, "f.json": 3}

    t0 = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc).timestamp()
    progress = [
        {"batchId": 0, "timestamp": "2026-01-01T00:00:00.500Z",
         "durationMs": {"addBatch": 900, "triggerExecution": 1000}},
        {"batchId": 1, "timestamp": "2026-01-01T00:00:02.000Z",
         "durationMs": {"addBatch": 1200, "triggerExecution": 1500}},
        {"batchId": 2, "timestamp": "2026-01-01T00:00:04.000Z",  # idle trigger
         "durationMs": {"triggerExecution": 3, "latestOffset": 2}},
    ]
    commits = streamlog.batch_commits(progress)
    assert commits == {0: t0 + 1.5, 1: t0 + 3.5}
    due = {"a.json": t0, "b.json": t0 + 1, "c.json": t0 + 2, "d e.json": t0 + 3}
    lags = streamlog.file_lags(due, batches, commits)
    assert lags == {"a.json": 1.5, "b.json": 2.5, "c.json": 1.5, "d e.json": None}


def test_quantile():
    assert streamlog.quantile([3.0], 0.9) == 3.0
    vals = [float(i) for i in range(1, 12)]
    assert streamlog.quantile(vals, 0.5) == 6.0
    assert streamlog.quantile(vals, 0.9) == 10.0
