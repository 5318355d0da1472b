"""Round-2 operator units: as-of join, PII scrub, chunk dedup /
boilerplate strip, sequence packing, stratified sampling, IVF-cell
semantic dedup."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from canal_phoenix_adapter_spark.operators.asof import asof_join
from canal_phoenix_adapter_spark.operators import dedup, sampling
from canal_phoenix_adapter_spark.operators import text as text_ops


def _md5_long(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# asof_join
# ---------------------------------------------------------------------------


def _asof_fixture(spark):
    left = spark.createDataFrame(
        [
            (1, 100, "l1"),
            (1, 205, "l2"),
            (1, 300, "l3"),
            (2, 50, "l4"),
            (3, 10, "l5"),  # key with no right rows at all
        ],
        "k int, lts long, lval string",
    )
    right = spark.createDataFrame(
        [
            (1, 100, "r-at-100"),
            (1, 200, "r-at-200"),
            (1, 290, "r-at-290"),
            (2, 60, "r-after-left"),
        ],
        "k int, rts long, rval string",
    )
    return left, right


def test_asof_backward_picks_latest_at_or_before(spark):
    left, right = _asof_fixture(spark)
    out = asof_join(left, right, on=["k"], left_ts="lts", right_ts="rts")
    rows = {r["lval"]: (r["rval"], r["rts"]) for r in out.collect()}
    assert rows["l1"] == ("r-at-100", 100)  # tie at equal ts is inclusive
    assert rows["l2"] == ("r-at-200", 200)
    assert rows["l3"] == ("r-at-290", 290)
    assert rows["l4"] == (None, None)  # right row is after the left ts
    assert rows["l5"] == (None, None)  # key absent from right
    assert out.count() == left.count()  # left join: every left row kept


def test_asof_null_right_ts_matches_nothing(spark):
    """A NULL right_ts row has UNKNOWN time: `right_ts <= left_ts` is
    NULL -> no match in SQL/DuckDB ASOF. On the merged timeline it
    sorted NULLS FIRST ("before everything"), so every left row with
    no earlier real right row matched the ghost (r13 review,
    reproduced). NULL left_ts keeps its no-match behavior."""
    left = spark.createDataFrame([(1, 5, "l1"), (1, None, "lnull")],
                                 "k long, lts long, lval string")
    right = spark.createDataFrame(
        [(1, None, "ghost"), (1, 4, "real"), (1, 10, "late")],
        "k long, rts long, rval string",
    )
    out = {r["lval"]: (r["rval"], r["rts"]) for r in
           asof_join(left, right, on=["k"], left_ts="lts",
                     right_ts="rts").collect()}
    assert out == {"l1": ("real", 4), "lnull": (None, None)}


def test_asof_forward_picks_earliest_at_or_after(spark):
    left, right = _asof_fixture(spark)
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts", direction="forward"
    )
    rows = {r["lval"]: r["rval"] for r in out.collect()}
    assert rows["l1"] == "r-at-100"
    assert rows["l2"] == "r-at-290"
    assert rows["l3"] is None  # nothing at/after 300
    assert rows["l4"] == "r-after-left"


def test_asof_suffixes_colliding_columns(spark):
    left = spark.createDataFrame([(1, 10, "x")], "k int, ts long, v string")
    right = spark.createDataFrame([(1, 5, "y")], "k int, ts long, v string")
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts")
    assert set(out.columns) == {"k", "ts", "v", "ts_right", "v_right"}
    row = out.collect()[0]
    assert (row["v"], row["v_right"], row["ts_right"]) == ("x", "y", 5)


def test_asof_single_shuffle_no_nested_loop(spark):
    left, right = _asof_fixture(spark)
    out = asof_join(left, right, on=["k"], left_ts="lts", right_ts="rts")
    from plan_helpers import explain_str, shuffle_count

    text = explain_str(out)
    assert "BroadcastNestedLoopJoin" not in text
    assert "CartesianProduct" not in text
    # union + one hash partition on the key for the window; no join op
    assert "SortMergeJoin" not in text and "BroadcastHashJoin" not in text
    assert shuffle_count(out) == 1


# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------


def test_pii_scrub_redacts_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@mail.example.org or 10.0.0.1 now"),
            (2, "no pii here v1.2 x"),
            (3, "two ips 192.168.0.1 127.0.0.1 one mail x@y.io"),
        ],
        "id int, text string",
    )
    out = {r["id"]: r for r in text_ops.pii_scrub(df, "id", "text").collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_ips"] == 1
    assert out[1]["text_scrubbed"] == "mail me at <EMAIL> or <IP> now"
    assert out[2]["n_emails"] == 0 and out[2]["n_ips"] == 0
    assert out[2]["text_scrubbed"] == "no pii here v1.2 x"
    assert out[3]["n_emails"] == 1 and out[3]["n_ips"] == 2
    assert out[3]["text_scrubbed"] == "two ips <IP> <IP> one mail <EMAIL>"


# ---------------------------------------------------------------------------
# chunking / boilerplate
# ---------------------------------------------------------------------------


def test_doc_chunks_boundaries(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x")], "id int, text string"
    )
    rows = sorted(
        (r["id"], r["pos"], r["chunk"])
        for r in text_ops.doc_chunks(df, "id", "text", size=3).collect()
    )
    assert rows == [(1, 0, "a b c"), (1, 1, "d e"), (2, 0, "x")]


def test_boilerplate_strip_drops_hot_chunks_in_order(spark):
    # chunk size 2; "NAV BAR" appears in all 4 docs -> hot (df>2)
    df = spark.createDataFrame(
        [
            (1, "NAV BAR alpha beta gamma delta"),
            (2, "NAV BAR epsilon zeta"),
            (3, "NAV BAR eta theta"),
            (4, "NAV BAR"),  # only hot content -> vanishes
        ],
        "id int, text string",
    )
    out = {
        r["id"]: r
        for r in text_ops.boilerplate_strip(df, "id", "text", size=2, max_df=2).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["text_clean"] == "alpha beta gamma delta"
    assert out[1]["n_kept_chunks"] == 2
    assert out[2]["text_clean"] == "epsilon zeta"
    assert out[3]["text_clean"] == "eta theta"


def test_chunk_crossdoc_stats(spark):
    # size=2 chunks; docs 1 & 2 share "dup chunk"; doc 3 is unique
    df = spark.createDataFrame(
        [
            (1, "dup chunk aa bb"),
            (2, "dup chunk cc dd"),
            (3, "ee ff gg hh"),
        ],
        "id int, text string",
    )
    out = {
        r["id"]: (r["n_chunks"], r["n_dup_chunks"])
        for r in dedup.chunk_crossdoc_stats(df, "id", "text", size=2).collect()
    }
    assert out == {1: (2, 1), 2: (2, 1), 3: (2, 0)}


# ---------------------------------------------------------------------------
# packing / stratified sampling
# ---------------------------------------------------------------------------


def test_pack_sequences_bin_boundaries(spark):
    # single group (num_groups=1): prefix sums 0,60,120,180 with
    # budget 100 -> bins 0,0,1,1; an oversized doc still gets a bin
    df = spark.createDataFrame(
        [(1, 60), (2, 60), (3, 60), (4, 250)], "id int, n long"
    )
    out = {
        r["id"]: r["bin_id"]
        for r in sampling.pack_sequences(df, "id", "n", budget=100, num_groups=1).collect()
    }
    assert out == {1: 0, 2: 0, 3: 1, 4: 1}


def test_pack_sequences_groups_are_md5_deterministic(spark):
    df = spark.createDataFrame([(i, 10) for i in range(20)], "id int, n long")
    out = sampling.pack_sequences(df, "id", "n", budget=100, num_groups=4)
    for r in out.collect():
        assert r["pack_group"] == _md5_long(f"pack:{r['id']}") % 4


def test_stratified_sample_matches_reference_hash(spark):
    df = spark.createDataFrame(
        [(i, ["en", "de", "xx"][i % 3]) for i in range(300)],
        "id int, lang string",
    )
    rates = {"en": 0.5, "de": 0.2}
    kept = {
        r["id"]
        for r in sampling.stratified_sample(
            df, "id", "lang", rates, default_rate=0.1
        ).collect()
    }
    expect = set()
    for i in range(300):
        lang = ["en", "de", "xx"][i % 3]
        thr = int(rates.get(lang, 0.1) * 10_000)
        if _md5_long(f"strat:{i}") % 10_000 < thr:
            expect.add(i)
    assert kept == expect


# ---------------------------------------------------------------------------
# semantic dedup (IVF cells)
# ---------------------------------------------------------------------------


def test_semantic_ivf_equals_bruteforce_within_cells(spark):
    import itertools
    import math

    vecs = [
        (0, [1.0, 0.1, 0.0]),
        (1, [0.9, 0.2, 0.0]),   # same cell as 0, similar
        (2, [-1.0, 0.0, 0.1]),  # different cell (negative argmax dim)
        (3, [0.0, 2.0, 0.1]),
        (4, [0.0, 1.9, 0.2]),   # same cell as 3, similar
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.semantic_dup_pairs_ivf(df, threshold=0.9).collect()
    }

    def cell(v):
        absv = [abs(x) for x in v]
        i = absv.index(max(absv))
        return i * 2 + (1 if v[i] < 0 else 0)

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    expect = {
        (a, b)
        for (a, va), (b, vb) in itertools.combinations(vecs, 2)
        if cell(va) == cell(vb) and cos(va, vb) >= 0.9
    }
    assert got == expect == {(0, 1), (3, 4)}


def test_semantic_ivf_max_bucket_caps_hot_cells(spark):
    # 5 vectors in one cell -> capped away entirely with max_bucket=4
    df = spark.createDataFrame(
        [(i, [1.0, 0.01 * i]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    assert dedup.semantic_dup_pairs_ivf(df, threshold=0.0, max_bucket=4).count() == 0
    assert dedup.semantic_dup_pairs_ivf(df, threshold=0.0, max_bucket=5).count() == 10


def test_asof_tolerance_nulls_distant_matches(spark):
    left, right = _asof_fixture(spark)
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts", tolerance=4
    )
    rows = {r["lval"]: (r["rval"], r["rts"]) for r in out.collect()}
    assert rows["l1"] == ("r-at-100", 100)  # gap 0 <= 4
    assert rows["l2"] == (None, None)       # gap 5 > 4 -> nulled
    assert rows["l3"] == (None, None)       # gap 10 > 4 -> nulled
    assert out.count() == left.count()


def test_asof_tolerance_boundary_inclusive(spark):
    left, right = _asof_fixture(spark)
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts", tolerance=10
    )
    rows = {r["lval"]: r["rval"] for r in out.collect()}
    assert rows["l2"] == "r-at-200"  # gap 5 <= 10
    assert rows["l3"] == "r-at-290"  # gap 10 <= 10 inclusive
    assert rows["l1"] == "r-at-100"


def test_ngram_overlap_contamination(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the dog"),
            (2, "totally unrelated content here right now"),
            (3, "quick brown fox jumps high"),
        ],
        "id int, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "a quick brown fox jumps story"), (101, "nothing shared at all")],
        "id int, text string",
    )
    out = {
        r["id"]: (r["n_shared_ngrams"], r["n_eval_docs_hit"])
        for r in dedup.ngram_overlap_contamination(
            train, eval_df, "id", "text", n=4
        ).collect()
    }
    # 4-grams of eval 100 include "quick brown fox jumps" — present in
    # train 1 and 3; train 2 shares nothing and must be absent.
    assert set(out) == {1, 3}
    assert out[1] == (1, 1)
    assert out[3] == (1, 1)


def test_ngram_overlap_contamination_max_df_drops_hot(spark):
    # the shared 4-gram appears in 3 train docs -> dropped at max_df=2
    train = spark.createDataFrame(
        [(i, "common shared gram here plus unique" + str(i)) for i in range(3)],
        "id int, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "common shared gram here too")], "id int, text string"
    )
    full = dedup.ngram_overlap_contamination(train, eval_df, "id", "text", n=4)
    capped = dedup.ngram_overlap_contamination(
        train, eval_df, "id", "text", n=4, max_df=2
    )
    assert full.count() == 3
    assert capped.count() == 0


def test_asof_match_is_atomic_with_null_payload(spark):
    # the newest matching right row has a NULL payload value: the
    # output must carry THAT row's (ts, null), never stitch the older
    # row's payload under the newer row's ts
    left = spark.createDataFrame([(1, 300, "l")], "k int, lts long, lval string")
    right = spark.createDataFrame(
        [(1, 100, "old"), (1, 200, None)], "k int, rts long, rval string"
    )
    row = asof_join(left, right, on=["k"], left_ts="lts", right_ts="rts").collect()[0]
    assert row["rts"] == 200
    assert row["rval"] is None


def test_asof_rejects_unresolvable_name_collision(spark):
    import pytest as _pytest

    left = spark.createDataFrame([(1, 10, "x")], "k int, ts long, v string")
    right = spark.createDataFrame(
        [(1, 5, "y", "z")], "k int, ts long, v string, v_right string"
    )
    with _pytest.raises(ValueError, match="collision"):
        asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts")


def test_ngram_overlap_counts_distinct_ngrams_not_join_rows(spark):
    # one shared 4-gram hit by TWO eval docs -> n_shared_ngrams must be
    # 1 (distinct n-grams), with n_eval_docs_hit = 2
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta unique tail here")], "id int, text string"
    )
    eval_df = spark.createDataFrame(
        [(100, "alpha beta gamma delta one"), (101, "alpha beta gamma delta two")],
        "id int, text string",
    )
    row = dedup.ngram_overlap_contamination(
        train, eval_df, "id", "text", n=4
    ).collect()[0]
    assert row["n_shared_ngrams"] == 1
    assert row["n_eval_docs_hit"] == 2


def test_minhash_lsh_incremental_only_cross_pairs(spark):
    # docs 1 & 2 near-identical (new batch), doc 10 identical to 1
    # (index): incremental emits (1,10) but never the new-vs-new (1,2)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    new_df = spark.createDataFrame(
        [(1, base), (2, base + " extra")], "id long, text string"
    )
    index_df = spark.createDataFrame(
        [(10, base), (11, "completely different words all the way down here")],
        "id long, text string",
    )
    got = {
        (r["new_id"], r["index_id"])
        for r in dedup.minhash_lsh_incremental(
            new_df, index_df, "id", "text", num_perm=16, bands=4, n=4
        ).collect()
    }
    assert (1, 10) in got
    assert all(n in (1, 2) and i in (10, 11) for n, i in got)


def test_minhash_lsh_incremental_drops_same_id_self_pair(spark):
    """A doc present on BOTH sides under the same id (re-crawl of an
    already-indexed url) emitted (id, id) — trivially near-dup of
    itself, noise downstream cluster logic then carried (r11 review).
    Cross pairs for the same doc under DIFFERENT ids still emit."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    new_df = spark.createDataFrame([(1, base)], "id long, text string")
    index_df = spark.createDataFrame(
        [(1, base), (10, base)], "id long, text string"
    )
    got = {
        (r["new_id"], r["index_id"])
        for r in dedup.minhash_lsh_incremental(
            new_df, index_df, "id", "text", num_perm=16, bands=4, n=4
        ).collect()
    }
    assert got == {(1, 10)}


def test_minhash_lsh_incremental_max_bucket_drops_hot_index(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    new_df = spark.createDataFrame([(1, base)], "id long, text string")
    index_df = spark.createDataFrame(
        [(10 + i, base) for i in range(5)], "id long, text string"
    )
    full = dedup.minhash_lsh_incremental(new_df, index_df, "id", "text")
    capped = dedup.minhash_lsh_incremental(
        new_df, index_df, "id", "text", max_bucket=4
    )
    assert full.count() == 5
    assert capped.count() == 0  # all 5 index docs share every band bucket


def test_knn_join_ivf_ranks_within_cells(spark):
    from canal_phoenix_adapter_spark.operators.similarity import knn_join_ivf

    vecs = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.8, 0.3]),
        (3, [0.0, 1.0]),  # different cell: argmax dim 2
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in knn_join_ivf(df, k=2).collect()
    }
    # within cell {0,1,2}: 0's nearest is 1 then 2; 3 is alone -> no rows
    assert got[(0, 1)] == 1 and got[(0, 2)] == 2
    assert got[(1, 1)] == 0 and got[(2, 1)] == 1
    assert not any(q == 3 for q, _ in got)


def test_knn_join_ivf_max_bucket(spark):
    from canal_phoenix_adapter_spark.operators.similarity import knn_join_ivf

    df = spark.createDataFrame(
        [(i, [1.0, 0.01 * i]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    assert knn_join_ivf(df, k=3, max_bucket=5).count() == 0
    assert knn_join_ivf(df, k=3, max_bucket=6).count() == 18


def test_minhash_lsh_incremental_accepts_prebanded_index(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    new_df = spark.createDataFrame([(1, base)], "id long, text string")
    index_df = spark.createDataFrame(
        [(10, base), (11, "something else entirely unrelated words here")],
        "id long, text string",
    )
    prebanded = dedup.minhash_band_buckets(index_df, "id", "text", 16, 4, 4)
    via_df = dedup.minhash_lsh_incremental(new_df, index_df, "id", "text")
    via_buckets = dedup.minhash_lsh_incremental(
        new_df, None, "id", "text", index_buckets=prebanded
    )
    assert sorted(map(tuple, via_df.collect())) == sorted(
        map(tuple, via_buckets.collect())
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        dedup.minhash_lsh_incremental(
            new_df, index_df, "id", "text", index_buckets=prebanded
        )


def test_asof_composite_key(spark):
    left = spark.createDataFrame(
        [(1, "a", 100, "l1"), (1, "b", 100, "l2"), (2, "a", 100, "l3")],
        "k1 int, k2 string, lts long, lval string",
    )
    right = spark.createDataFrame(
        [(1, "a", 90, "r-1a"), (1, "b", 95, "r-1b"), (2, "b", 80, "r-2b")],
        "k1 int, k2 string, rts long, rval string",
    )
    out = asof_join(left, right, on=["k1", "k2"], left_ts="lts", right_ts="rts")
    rows = {r["lval"]: r["rval"] for r in out.collect()}
    # matches respect BOTH key columns: (2,'a') must not see (2,'b')
    assert rows == {"l1": "r-1a", "l2": "r-1b", "l3": None}


def test_asof_right_order_tiebreak_deterministic(spark):
    """Duplicate (key, ts) right rows: right_order picks the greatest
    tuple deterministically, on any input order."""
    left = spark.createDataFrame([(1, 100, "l")], "k int, lts long, lval string")
    dup_rows = [(1, 100, 1, "first"), (1, 100, 3, "third"), (1, 100, 2, "second")]
    for rows in (dup_rows, list(reversed(dup_rows))):
        right = spark.createDataFrame(rows, "k int, rts long, pri int, rval string")
        out = asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts",
            right_order=["pri"],
        )
        assert out.collect()[0]["rval"] == "third"


def test_pii_scrub_ip_inside_email_not_double_counted(spark):
    """An IPv4-looking run inside an email is redacted as part of the
    email and must NOT appear in n_ips (counts == actual <IP>
    replacements)."""
    df = spark.createDataFrame(
        [(1, "write a@10.1.2.3.com now"), (2, "bare 10.1.2.3 here")],
        "id int, text string",
    )
    out = {r["id"]: r for r in text_ops.pii_scrub(df, "id", "text").collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_ips"] == 0
    assert out[1]["text_scrubbed"] == "write <EMAIL> now"
    assert out[2]["n_emails"] == 0 and out[2]["n_ips"] == 1
    assert out[2]["text_scrubbed"] == "bare <IP> here"


def test_asof_join_timestamp_columns_and_null_keys(spark):
    """(a) Real TimestampType ts columns must work in both directions
    (the ordering converts temporal columns to a numeric timeline —
    a bare ts * sign multiply rejects temporal operands). (b) Equi-
    join NULL semantics: a NULL join key matches NOTHING — without
    dropping NULL-key right rows, the window's NULL partition would
    fabricate matches between NULL-key rows."""
    import datetime as dt

    from canal_phoenix_adapter_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)

    def ts(mins):
        return t0 + dt.timedelta(minutes=mins)

    left = spark.createDataFrame(
        [("a", ts(10)), ("a", ts(1)), (None, ts(10))],
        "k string, trade_ts timestamp",
    )
    right = spark.createDataFrame(
        [("a", ts(5), 100.0), ("a", ts(9), 200.0), (None, ts(3), 999.0)],
        "k string, quote_ts timestamp, px double",
    )
    out = asof_join(left, right, on=["k"], left_ts="trade_ts",
                    right_ts="quote_ts")
    got = {(r["k"], r["trade_ts"].minute): r["px"] for r in out.collect()}
    assert got[("a", 10)] == 200.0   # latest quote at/before 10:10
    assert got[("a", 1)] is None     # no quote yet
    assert got[(None, 10)] is None   # NULL key matches nothing

    fwd = asof_join(left, right, on=["k"], left_ts="trade_ts",
                    right_ts="quote_ts", direction="forward")
    fgot = {(r["k"], r["trade_ts"].minute): r["px"] for r in fwd.collect()}
    assert fgot[("a", 1)] == 100.0   # earliest quote at/after 10:01

    # tolerance in MICROS for temporal columns: 10:10 trade vs 10:09
    # quote = 60s gap; a 30s tolerance nulls it
    tol = asof_join(left, right, on=["k"], left_ts="trade_ts",
                    right_ts="quote_ts", tolerance=30_000_000)
    tgot = {(r["k"], r["trade_ts"].minute): r["px"] for r in tol.collect()}
    assert tgot[("a", 10)] is None


def test_asof_mixed_timestamp_and_date_units(spark):
    """A timestamp on one side and a date on the other must merge on a
    COMMON unit (epoch micros; the date casts to midnight) —
    converting each side by its own type would interleave micros with
    days on one bigint axis and silently match wrong rows (r3
    ADVICE)."""
    import datetime as dt

    left = spark.createDataFrame(
        [("a", dt.datetime(2024, 3, 10, 12, 0, 0))],
        "k string, lts timestamp",
    )
    right = spark.createDataFrame(
        [("a", dt.date(2024, 3, 9), 1.0), ("a", dt.date(2024, 3, 10), 2.0),
         ("a", dt.date(2024, 3, 11), 3.0)],
        "k string, rts date, px double",
    )
    row = asof_join(left, right, on=["k"], left_ts="lts",
                    right_ts="rts").collect()[0]
    assert row["px"] == 2.0                    # midnight of the 10th <= noon
    assert row["rts"] == dt.date(2024, 3, 10)  # original value rides through
    # tolerance is on the promoted MICROS axis: the 12 h gap to
    # midnight exceeds a 1 h tolerance
    tol = asof_join(left, right, on=["k"], left_ts="lts", right_ts="rts",
                    tolerance=3_600_000_000)
    assert tol.collect()[0]["px"] is None


def test_asof_temporal_vs_numeric_ts_raises(spark):
    """A temporal ts paired with a numeric one is ambiguous (which
    epoch? which unit?) and must raise, not guess."""
    import pytest

    import datetime as dt

    left = spark.createDataFrame([("a", 100)], "k string, lts long")
    right = spark.createDataFrame(
        [("a", dt.date(2024, 3, 9), 1.0)], "k string, rts date, px double"
    )
    with pytest.raises(ValueError, match="mix a temporal"):
        asof_join(left, right, on=["k"], left_ts="lts", right_ts="rts")


def test_dup_clusters_releases_checkpoint_storage(spark):
    """Iterative localCheckpoint blocks must not accumulate across
    calls (r3 ADVICE): after dup_clusters returns, only the returned
    labels' checkpoint may remain persisted."""
    from canal_phoenix_adapter_spark.jvm_shim import persistent_rdd_ids

    def pids():
        return persistent_rdd_ids(spark)

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a int, id_b int",
    )
    before = pids()
    out = dedup.dup_clusters(pairs)
    rows = {(r["id"], r["cluster_id"]) for r in out.collect()}
    assert rows == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                    (20, 20), (21, 20), (22, 20), (23, 20)}
    leaked = pids() - before
    assert len(leaked) <= 1, f"checkpoint blocks leaked: {leaked}"


def test_q13_left_join_surfaces_zero_order_customers(spark, tmp_path):
    """Direct witness for the q13 semantics the sf fixtures cannot
    show: every fixture customer has orders, so a left-join-degraded-
    to-inner bug is invisible to the parity gate at sf0.01 (r10
    gate-kill audit, recorded blind spot). A tiny corpus with two
    zero-order customers pins the c_count=0 bucket explicitly."""
    import pandas as pd

    from canal_phoenix_adapter_spark.operators.analytics import (
        q13_order_count_distribution,
    )

    sf = str(tmp_path)
    pd.DataFrame({"c_custkey": [1, 2, 3, 4]}).to_parquet(f"{sf}/customer.parquet")
    pd.DataFrame(
        {"o_orderkey": [10, 11, 12], "o_custkey": [1, 1, 2]}
    ).to_parquet(f"{sf}/orders.parquet")
    got = {r["c_count"]: r["custdist"]
           for r in q13_order_count_distribution(spark, sf).collect()}
    # customers 3 and 4 have no orders: the 0 bucket MUST exist (an
    # inner join would drop them entirely)
    assert got == {0: 2, 1: 1, 2: 1}
