"""CDC merge algebra tests (C1-C9): the golden scenario of FIXTURES.md
F1/F3 — insert, update, PK-change, delete, truncate, keep-last — plus
a property check against a naive Python fold."""

from __future__ import annotations

import random

from canal_phoenix_adapter_spark.operators.merge import keep_last, merge_cdc

CHANGES_SCHEMA = "seq long, op string, id long, old_id long, val string"


def naive_fold(initial: dict, events):
    """Reference semantics, single-threaded: the oracle for property
    tests (SURVEY §5.4). events: (seq, op, id, old_id, val) sorted."""
    state = dict(initial)
    for seq, op, id_, old_id, val in sorted(events):
        if op == "TRUNCATE":
            state = {}
        elif op == "DELETE":
            state.pop(id_, None)
        else:  # INSERT/UPDATE
            if old_id is not None and old_id != id_:
                state.pop(old_id, None)  # PK-change: kill old key first
            state[id_] = (id_, val)
    return state


def run_merge(spark, state_rows, events):
    state = (
        spark.createDataFrame([(i, v) for i, v in state_rows], "id long, val string")
        if state_rows is not None
        else None
    )
    changes = spark.createDataFrame(events, CHANGES_SCHEMA)
    out = merge_cdc(state, changes, ["id"])
    return {r["id"]: (r["id"], r["val"]) for r in out.collect()}


def test_insert_update_delete(spark):
    events = [
        (1, "INSERT", 1, None, "a"),
        (2, "INSERT", 2, None, "b"),
        (3, "UPDATE", 1, None, "a2"),
        (4, "DELETE", 2, None, None),
        (5, "INSERT", 3, None, "c"),
    ]
    got = run_merge(spark, None, events)
    assert got == {1: (1, "a2"), 3: (3, "c")}


def test_keep_last_per_key(spark):
    events = [(i, "UPDATE", 7, None, f"v{i}") for i in range(10)]
    got = run_merge(spark, None, events)
    assert got == {7: (7, "v9")}


def test_pk_change_moves_row(spark):
    # C5: UPDATE with old containing the PK: delete old key, upsert new
    events = [
        (1, "INSERT", 1, None, "a"),
        (2, "UPDATE", 9, 1, "a-moved"),
    ]
    got = run_merge(spark, None, events)
    assert got == {9: (9, "a-moved")}


def test_truncate_mid_stream(spark):
    events = [
        (1, "INSERT", 1, None, "a"),
        (2, "INSERT", 2, None, "b"),
        (3, "TRUNCATE", None, None, None),
        (4, "INSERT", 3, None, "c"),
    ]
    got = run_merge(spark, [(1, "old"), (5, "old5")], events)
    assert got == {3: (3, "c")}  # state and pre-truncate rows wiped


def test_merge_into_existing_state(spark):
    events = [
        (10, "UPDATE", 1, None, "new1"),
        (11, "DELETE", 2, None, None),
        (12, "INSERT", 4, None, "d"),
    ]
    got = run_merge(spark, [(1, "s1"), (2, "s2"), (3, "s3")], events)
    assert got == {1: (1, "new1"), 3: (3, "s3"), 4: (4, "d")}


def test_property_random_streams_match_naive_fold(spark):
    rng = random.Random(42)
    for trial in range(3):
        initial = {i: (i, f"init{i}") for i in rng.sample(range(20), 8)}
        events = []
        for seq in range(60):
            op = rng.choices(
                ["INSERT", "UPDATE", "DELETE", "TRUNCATE"], weights=[40, 30, 20, 2]
            )[0]
            k = rng.randrange(20)
            old = None
            if op == "UPDATE" and rng.random() < 0.2:
                old = rng.randrange(20)
            if op == "TRUNCATE":
                events.append((seq, op, None, None, None))
            elif op == "DELETE":
                events.append((seq, op, k, None, None))
            else:
                events.append((seq, op, k, old, f"v{seq}"))
        expected = naive_fold(initial, events)
        got = run_merge(spark, list(initial.values()), events)
        assert got == expected, f"trial {trial}"


def test_keep_last_operator(spark):
    df = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b"), (3, 2, "c")], "seq long, k long, v string"
    )
    rows = {r["k"]: r["v"] for r in keep_last(df, ["k"], "seq").collect()}
    assert rows == {1: "b", 2: "c"}


def test_keep_last_null_order_values(spark):
    """NULL order values must not fabricate rows: bare max_by SKIPS
    NULL-ordered rows, so a key whose order values are ALL null would
    aggregate to a null struct and expand to an invented all-NULL row.
    The (isNotNull, order) key keeps a real row instead; keys with a
    mix keep the greatest non-NULL one (the window form's desc =
    NULLS LAST behavior)."""
    df = spark.createDataFrame(
        [(None, 1, "a"), (5, 2, "b"), (None, 2, "c")],
        "seq long, k long, v string",
    )
    rows = {r["k"]: (r["seq"], r["v"]) for r in keep_last(df, ["k"], "seq").collect()}
    assert rows[1] == (None, "a")  # real row kept, not (None, None)
    assert rows[2] == (5, "b")  # non-NULL beats NULL


def test_composite_pk_delete_and_update(spark):
    """F1: composite keys everywhere (targetPk is a map,
    config/MappingConfig.java:102) — merge keyed on (tenant, id),
    including a PK-change that moves only ONE component of the key."""
    changes = spark.createDataFrame(
        [
            (1, "INSERT", "t1", 1, None, None, "a"),
            (2, "INSERT", "t1", 2, None, None, "b"),
            (3, "INSERT", "t2", 1, None, None, "c"),
            # delete (t1, 2) — same id exists under t2, must survive
            (4, "DELETE", "t1", 2, None, None, None),
            # PK-change: (t2, 1) -> (t2, 9); old_tenant null = unchanged
            (5, "UPDATE", "t2", 9, None, 1, "c-moved"),
            (6, "UPDATE", "t1", 1, None, None, "a2"),
        ],
        "seq long, op string, tenant string, id long, "
        "old_tenant string, old_id long, val string",
    )
    out = merge_cdc(None, changes, ["tenant", "id"])
    got = {(r["tenant"], r["id"]): r["val"] for r in out.collect()}
    assert got == {("t1", 1): "a2", ("t2", 9): "c-moved"}

    # merge into existing state on the composite key
    state = spark.createDataFrame(
        [("t1", 1, "s"), ("t3", 7, "keep")], "tenant string, id long, val string"
    )
    out2 = merge_cdc(state, changes, ["tenant", "id"])
    got2 = {(r["tenant"], r["id"]): r["val"] for r in out2.collect()}
    assert got2 == {("t1", 1): "a2", ("t2", 9): "c-moved", ("t3", 7): "keep"}


def test_old_prefixed_business_column_is_image_data(spark):
    """Only the EXACT old_<pk> columns are PK-change metadata; a
    business column that happens to be named old_status must survive
    as image data (a prefix strip silently dropped it from survivors
    and then wiped it from state via the align)."""
    changes = spark.createDataFrame(
        [(1, "INSERT", 1, None, "active", "none")],
        "seq long, op string, id long, old_id long, val string, old_status string",
    )
    out = merge_cdc(None, changes, ["id"])
    row = out.collect()[0]
    assert row["old_status"] == "none"
    assert "old_id" not in out.columns  # real PK-change metadata still excluded


def test_state_only_column_survives_narrower_batch(spark):
    """A batch whose image stopped carrying a column must not wipe it
    from untouched state rows: the heal aligns to the UNION schema
    (state-only columns kept; batch-new added; batch types win)."""
    state = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, val string, extra long"
    )
    changes = spark.createDataFrame(
        [(1, "UPDATE", 1, "a2")], "seq long, op string, id long, val string"
    )
    out = {r["id"]: (r["val"], r["extra"])
           for r in merge_cdc(state, changes, ["id"]).collect()}
    assert out[2] == ("b", 20)       # untouched row keeps its column
    assert out[1] == ("a2", None)    # full-row image: survivor takes NULL


def test_merge_cdc_nobroadcast_agrees_with_broadcast(spark):
    """r3 VERDICT #5: the non-broadcast fallback (huge change batches
    whose touched-key set exceeds executor memory) must produce the
    IDENTICAL state as the default broadcast path, and its anti join
    must be a real equi-join (shuffle hash/sort-merge), never a
    nested loop."""
    import re

    from plan_helpers import explain_str

    state = spark.createDataFrame(
        [(k, f"s{k}", float(k)) for k in range(40)],
        "id long, name string, balance double",
    )
    changes = spark.createDataFrame(
        [(i, "UPDATE" if i % 3 else "DELETE", i % 25, f"c{i}", float(i))
         for i in range(60)],
        "seq long, op string, id long, name string, balance double",
    )
    a = merge_cdc(state, changes, ["id"], trunc_seq=None)
    b = merge_cdc(state, changes, ["id"], trunc_seq=None,
                  broadcast_changes=False)
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b and rows_a  # non-empty and identical
    text = explain_str(b)
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text
    # the fallback's anti join shuffles BOTH sides on the pk
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin)\w*.*LeftAnti", text) \
        or "LeftAnti" in text, text


def test_merge_cdc_forwarded_trunc_seq_matches_rescan(spark):
    """A caller that already pre-scanned the batch (either state
    store's epoch) forwards its truncate seq via trunc_seq; the result
    must be identical to letting merge_cdc re-scan — same semantics,
    one fewer job."""
    state = spark.createDataFrame([(1, "old"), (2, "old")], "id long, v string")
    batch = spark.createDataFrame(
        [(1, "UPDATE", 1, "pre"), (5, "TRUNCATE", 0, None),
         (7, "INSERT", 3, "post")],
        "seq long, op string, id long, v string",
    )
    scanned = merge_cdc(state, batch, ["id"])
    forwarded = merge_cdc(state, batch, ["id"], trunc_seq=5)
    assert sorted(map(tuple, scanned.collect())) \
        == sorted(map(tuple, forwarded.collect())) == [(3, "post")]
    # None == "pre-scan found no TRUNCATE": skips the scan job
    # but must not change a truncate-free merge
    no_tr = batch.where("op <> 'TRUNCATE'")
    assert sorted(map(tuple, merge_cdc(state, no_tr, ["id"],
                                       trunc_seq=None).collect())) \
        == sorted(map(tuple, merge_cdc(state, no_tr, ["id"]).collect()))


def test_touched_keys_equals_collapse_key_set(spark):
    """merge_cdc's anti-join key set now comes from touched_keys
    (pre-collapse key projection, r14) instead of the collapsed
    aggregate's keys. The two MUST stay exactly equal: a superset
    anti-joins away state rows no survivor re-adds (silent row loss),
    a subset duplicates keys. Exercises the death-row corners: a
    PK-changing UPDATE touches BOTH keys; a DELETE carrying a stale
    old_<pk> touches only its main key (collapse emits no death row
    for deletes); old == new counts once; NULL keys survive the
    distinct."""
    from pyspark.sql import functions as F

    from canal_phoenix_adapter_spark.operators.merge import (
        collapse_changes,
        touched_keys,
    )

    rows = [
        (1, "INSERT", 10, None, "a"),       # plain insert
        (2, "UPDATE", 11, 10, "b"),         # PK-change: touches 11 AND 10
        (3, "DELETE", 12, 99, None),        # DELETE w/ stale old: only 12
        (4, "UPDATE", 13, 13, "c"),         # old == new: once
        (5, "INSERT", None, None, "d"),     # NULL key row
    ]
    changes = spark.createDataFrame(rows, CHANGES_SCHEMA)
    got = {r["id"] for r in touched_keys(changes, ["id"]).collect()}
    collapsed = {
        r["__k_id"]
        for r in collapse_changes(changes, ["id"]).select("__k_id").collect()
    }
    assert got == collapsed == {10, 11, 12, 13, None}
    # and 99 (the stale DELETE old key) must NOT be touched: a state
    # row under that key has to survive the merge untouched
    state = spark.createDataFrame([(99, "keep"), (12, "dead")],
                                  "id long, val string")
    out = {r["id"]: r["val"]
           for r in merge_cdc(state, changes, ["id"]).collect()}
    assert out[99] == "keep" and 12 not in out
