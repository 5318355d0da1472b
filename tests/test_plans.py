"""Physical-plan shape tests (plan_helpers.py).

Correctness tests prove the numbers match; these prove the PLAN is the
one we designed for 100 TB: filters reach the parquet scan, scans read
only the projected columns, small dimensions broadcast, and the
shuffle count stays at the designed minimum. A regression here (e.g.
a filter that silently stops pushing down) would not change results,
only make them 100x more expensive at scale — so it must fail CI.
"""

from __future__ import annotations

import re

import pytest

from canal_phoenix_adapter_spark import entry as E
from plan_helpers import (
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
    shuffle_count,
)


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    # Plan assertions cover both the driver-gate registry and the
    # r4-folded parity registry (tests/parity_registry.py) — folding a
    # gate must not silently drop its plan-shape guarantees.
    from tests.parity_registry import PARITY_QUERIES

    def build(name):
        fn = E.QUERIES.get(name) or PARITY_QUERIES[name]
        return fn(spark, sf_dir)

    return build


def test_filter_pushes_through_fan_out_repartition(q):
    """etl_scan_condition filters o_totalprice/o_orderstatus; both must
    reach the parquet scan even though load_table inserts a
    round-robin repartition between scan and filter."""
    filters = " ".join(pushed_filters(q("etl_scan_condition")))
    assert "o_totalprice" in filters, filters
    assert "o_orderstatus" in filters, filters


def test_projection_prunes_scan_columns(q):
    """A 4-column projection of orders must not read all 9 columns."""
    scans = read_schema_columns(q("etl_scan_condition"))
    assert scans, "no parquet scan found in plan"
    for cols in scans:
        assert set(cols) <= {
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
            "o_orderstatus",
        }, cols


def test_q5_uses_broadcast_joins(q):
    """Q5's nation/region dims are bounded (25/5 rows at any SF) and
    force-broadcast; the scaling sides (supplier/orders/customer) are
    left to stats so they degrade to shuffle joins at cluster scale.
    The plan must contain at least the dim broadcast — a sort-merge
    against a 25-row table would mean the hint regressed."""
    assert has_broadcast_join(q("analytics_q5_join"))


def test_count_has_no_join_or_extra_shuffle(q):
    """COUNT(1) is scan -> [fan-out exchange of zero-width rows] ->
    partial count -> single exchange -> final. Column pruning makes
    the fan-out exchange carry empty rows, so the budget is 2; a
    third exchange would mean a real regression."""
    df = q("etl_count")
    assert shuffle_count(df) <= 2
    for cols in read_schema_columns(df):
        assert cols in ([], [""]), f"count should read no columns: {cols}"


def test_keep_last_single_shuffle_budget(q):
    """Idempotent load = fan-out repartition + one hash exchange on
    the PK for the window; a third exchange would mean the window
    partitioning no longer reuses the PK shuffle."""
    assert shuffle_count(q("etl_idempotent_load")) <= 2


def test_cdc_merge_is_aggregate_not_window(q):
    """The CDC hot path collapses per-key history with a max_by
    AGGREGATE (map-side partial combine: at most one candidate per key
    per map partition crosses the exchange). A Window node here means
    the rewrite regressed to shuffling the full timeline and sorting
    every row per key."""
    from plan_helpers import explain_str

    for name in ("cdc_merge_full", "cdc_keep_last"):
        df = q(name)
        text = explain_str(df)
        assert "Window" not in text, f"{name}: window regressed into merge plan"
        # partial + final aggregate around ONE hash exchange (the other
        # allowed exchange is load_table's fan-out repartition)
        n_aggs = len(re.findall(r"\(\d+\) (?:Sort|Hash|ObjectHash)Aggregate", text))
        assert n_aggs >= 2, f"{name}: no partial aggregation: {n_aggs}"
        assert shuffle_count(df) <= 2, name


def test_embedding_lsh_near_dup_has_no_nested_loop(q):
    """The scale path for embedding near-dup must be an EQUI-join on
    the LSH bucket: a BroadcastNestedLoopJoin / CartesianProduct here
    means the O(n^2) all-pairs plan regressed back in."""
    from plan_helpers import explain_str

    text = explain_str(q("dedup_embedding_cosine_lsh"))
    assert "BroadcastNestedLoopJoin" not in text, "nested-loop join in LSH near-dup"
    assert "CartesianProduct" not in text, "cartesian product in LSH near-dup"


def test_capped_band_joins_have_no_nested_loop(q):
    """Capped LSH/SimHash candidate joins stay equi-joins on the band
    key; the bucket-size window must not change the join strategy."""
    from plan_helpers import explain_str

    for name in ("dedup_minhash_lsh_capped", "dedup_simhash_pairs_capped",
                 "dedup_simhash64_pairs"):
        text = explain_str(q(name))
        assert "BroadcastNestedLoopJoin" not in text, name
        assert "CartesianProduct" not in text, name


def test_simhash_pairs_sketch_rides_band_table(spark, sf_dir):
    """The hamming check reads sketch longs CARRIED through the band
    self-join (_pair_join carry=), never re-attached by id-keyed
    joins: the r14 rewrite removed two joins that re-shuffled the
    pairs table — the plan's largest intermediate — by id_a and then
    id_b. DISTINCT joins (the cached post-cap bucket table's
    materialization subtree prints once per self-join side, so raw
    node counts double-count the cap) must be exactly two: the
    (band, bv) candidate self-join and the bucket-cap anti-join —
    and none may be keyed on id_a/id_b (the removed attach shape)."""
    from canal_phoenix_adapter_spark.operators import dedup
    from canal_phoenix_adapter_spark.sources.tables import load_table
    from plan_helpers import explain_str

    spark.catalog.clearCache()  # a cached pair table would hide joins
    df = dedup.simhash_hamming_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        max_dist=3, bands=4, width=64,
    )
    text = explain_str(df, "simple")
    join_lines = re.findall(
        r"(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)[^\n]*", text)
    assert not [l for l in join_lines if re.search(r"\[id_[ab]#", l)], \
        join_lines  # no id_a/id_b-keyed attach join may reappear
    distinct = {re.sub(r"#\d+", "", l) for l in join_lines}
    assert len(distinct) == 2, sorted(distinct)


def test_shingle_generator_has_no_split_in_lambda(q):
    """The shingle/bigram generators must slice a MATERIALIZED token
    array: `slice(split(text), i, n)` inside the transform lambda
    re-runs the regex split once per element — O(tokens^2) per doc
    (measured ~6x wall on dedup_ngram_jaccard_maxdf at sf0.1)."""
    from plan_helpers import explain_str

    for name in ("dedup_ngram_jaccard_maxdf", "dedup_minhash_signatures",
                 "text_repetition"):
        text = explain_str(q(name))
        # the quadratic signature: split re-evaluated per element
        assert "slice(split(" not in text, name
        assert "element_at(split(" not in text, name


def test_exact_dedup_shuffles_digest_not_text(spark, sf_dir):
    """Exact dedup must shuffle the 64-hex digest, not document text:
    the only wide columns allowed into the exchange are doc_id+sha.
    Pinned on the OPERATOR, not the gate — the r9 gate unions a
    synthetic duplicate shard (witness construct) whose second branch
    adds a fan-out exchange that has nothing to do with this invariant."""
    from canal_phoenix_adapter_spark.operators import dedup
    from canal_phoenix_adapter_spark.sources.tables import load_table

    df = dedup.exact_dedup(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    assert shuffle_count(df) <= 2  # fan-out + hash partition on sha
    scans = read_schema_columns(df)
    for cols in scans:
        assert set(cols) <= {"doc_id", "text"}, cols


def test_semijoin_and_antijoin_shapes(q):
    """Q4 must plan a LeftSemi (EXISTS short-circuit, not inner+
    distinct); Q22 a LeftAnti with its date filter pushed to the
    orders scan."""
    from plan_helpers import explain_str

    assert "LeftSemi" in explain_str(q("analytics_q4_semijoin"))
    anti = q("analytics_q22_antijoin")
    assert "LeftAnti" in explain_str(anti)
    assert any("o_orderdate" in f for f in pushed_filters(anti))


def test_rollup_is_single_expand_not_union(q):
    """ROLLUP must plan one Expand over one scan — a 3-way union of
    separate aggregations would read the fact table three times."""
    from plan_helpers import explain_str

    import re

    text = explain_str(q("analytics_rollup"))
    assert "Expand" in text
    # formatted explain lists each operator once in the detail section
    # as "(N) Scan parquet"
    scans = len(re.findall(r"\(\d+\) (?:Scan parquet|FileScan)", text))
    assert scans == 1, f"rollup re-scans the fact table ({scans} scans)"


def test_no_nested_loop_or_row_udf_anywhere(q):
    """Global scale-regression net over EVERY registered gate query:
    no CartesianProduct, no BroadcastNestedLoopJoin, no row-at-a-time
    PythonUDF (BatchEvalPython) in any plan. The one documented
    exception is dedup_embedding_cosine — the max_id-bounded all-pairs
    oracle cross-check whose docstring declares the nested loop.
    Plan construction only; nothing executes.

    Allowed nested loops — all have a CONSTANT-size side, so they are
    O(n), not O(n^2), and stay O(n) at any SF:
      * dedup_embedding_cosine — max_id-bounded all-pairs oracle
        cross-check (docstring declares it);
      * sim_topk_cosine — the exact baseline scores num_queries=8
        broadcast rows against the corpus (O(q*n), q constant);
      * etl_range_split — scalar join of a broadcast 1-row min/max
        aggregate onto the scan;
      * text_contamination — substring theta-join against a broadcast
        probe set (an eval suite: constant size by construction);
      * mm_geometry — annotates thumbnail rows with ONE broadcast
        aggregate row (the image type's payload stats): a 1-row
        condition-free broadcast join, O(n) by construction.

    Covers BOTH registries: the driver gates and the r4-folded parity
    queries (folding must not drop the audit)."""
    from plan_helpers import explain_str

    from tests.parity_registry import PARITY_QUERIES

    ALLOWED_NESTED_LOOP = {
        "dedup_embedding_cosine", "sim_topk_cosine", "etl_range_split",
        "text_contamination", "mm_geometry",
    }
    offenders = []
    for name in {**E.QUERIES, **PARITY_QUERIES}:
        text = explain_str(q(name))
        if name not in ALLOWED_NESTED_LOOP and (
            "CartesianProduct" in text or "BroadcastNestedLoopJoin" in text
        ):
            offenders.append((name, "nested-loop/cartesian"))
        if "BatchEvalPython" in text:  # row-at-a-time Python UDF
            offenders.append((name, "row Python UDF"))
    assert not offenders, offenders


def test_q19_disjunction_pushes_partial_conjuncts(q):
    """Q19's OR'd predicate must stay one scan + one join, with the
    per-table partial disjuncts (l_quantity ranges / p_brand+p_size)
    extracted and pushed to their scans — not a union of three plans
    and not an unpushed post-join filter."""
    import re

    from plan_helpers import explain_str, pushed_filters

    df = q("analytics_q19_disjunctive")
    text = explain_str(df)
    scans = len(re.findall(r"\(\d+\) (?:Scan parquet|FileScan)", text))
    assert scans == 2, f"expected 2 scans (lineitem, part), got {scans}"
    filters = " ".join(pushed_filters(df))
    assert "l_quantity" in filters, filters  # Or(And(...)) partial pushdown
    assert "p_brand" in filters, filters


def test_asof_gate_query_single_wide_shuffle(q):
    """The as-of join gate query: no join operator at all (union-merge
    window), no nested loop; the only wide exchanges are the key
    hash-partition for the window and the click pre-collapse."""
    from plan_helpers import explain_str

    text = explain_str(q("analytics_asof_join"))
    assert "BroadcastNestedLoopJoin" not in text
    assert "CartesianProduct" not in text
    assert "SortMergeJoin" not in text and "BroadcastHashJoin" not in text


def test_scan_side_ops_have_zero_shuffles(q):
    """PII scrub and stratified sampling are scan-side projections/
    filters: ANY exchange beyond the load path's size-gated fan-out
    means the op stopped pipelining with the parquet read."""
    from plan_helpers import explain_str
    import re

    for name in ("text_pii_scrub", "sampling_stratified"):
        text = explain_str(q(name))
        # each exchange judged by its OWN Arguments line, not a fixed
        # proximity window (a window can borrow a NEIGHBOR exchange's
        # REPARTITION_BY_NUM and wave a real hash exchange through)
        ex = [
            m.group(0)
            for m in re.finditer(
                r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[[^\]]*\]\n"
                r"Arguments: ([^\n]*)",
                text,
            )
            if "REPARTITION_BY_NUM" not in m.group(1)
        ]
        # the fan-out round-robin repartition is excluded by ITS
        # Arguments line, so ANY surviving exchange is a real
        # regression — no extra slack (a <=1 allowance would
        # double-count the fan-out and wave through one genuine
        # added hash exchange)
        assert len(ex) == 0, (name, ex)
        # format-drift guard: every Exchange header must have parsed
        # with its Arguments line, else the filter above went vacuous
        n_headers = len(re.findall(r"\(\d+\) Exchange", text))
        n_parsed = len(re.findall(
            r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[[^\]]*\]\n"
            r"Arguments: [^\n]*", text))
        assert n_headers == n_parsed, (name, n_headers, n_parsed)


def test_pack_sequences_single_group_shuffle(q):
    """Sequence packing = one hash exchange on pack_group for the
    window; a second data exchange would mean the md5 grouping is
    being recomputed or re-partitioned."""
    df = q("sampling_pack_sequences")
    assert shuffle_count(df) <= 2  # fan-out + pack_group hash partition


def test_chunk_crossdoc_keyed_exchanges_never_carry_text(q):
    """The cross-doc chunk pass may hash-shuffle (id, hash) pairs and
    aggregates — but document text must never enter a KEYED exchange
    (the load path's size-gated round-robin fan-out legitimately ships
    the scanned row once; hash partitioning is where a text leak would
    multiply cost at scale)."""
    from plan_helpers import explain_str
    import re

    text = explain_str(q("dedup_chunk_crossdoc"))
    # formatted explain: "(N) Exchange\nInput [..]: [cols]\nArguments: ..."
    inspected = 0
    for m in re.finditer(
        r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]\nArguments: ([^\n]*)",
        text,
    ):
        cols, args = m.group(1), m.group(2)
        if "hashpartitioning" in args.lower():
            inspected += 1
            assert "text#" not in cols, f"text in keyed exchange: {cols} / {args}"
    # the plan HAS hash exchanges (chunk-hash groupBy); zero inspected
    # means the explain format drifted and the test went vacuous
    assert inspected > 0, "no hashpartitioning exchange parsed"


def test_cc_iteration_plan_one_join_one_aggregate(spark):
    """Pin dup_clusters' per-iteration cost model (r3 VERDICT #6): one
    equi-join + one aggregate, keyed on node id — a refactor that
    slips a second join, an extra aggregate pair, or a cartesian into
    the loop multiplies total work by the iteration count."""
    import re

    from canal_phoenix_adapter_spark.operators.dedup import _cc_iterate
    from plan_helpers import explain_str

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 1), (2, 2)], "src long, dst long"
    )
    labels = spark.createDataFrame([(1, 1), (2, 2)], "id long, lbl long")
    text = explain_str(_cc_iterate(edges, labels))
    joins = re.findall(r"\(\d+\) [A-Za-z]*Join\w*", text)
    assert len(joins) == 1, joins
    assert "CartesianProduct" not in text and "NestedLoop" not in text
    # one logical aggregate = at most a partial+final HashAggregate pair
    aggs = re.findall(r"\(\d+\) \w*Aggregate\w*", text)
    assert len(aggs) <= 2, aggs


def test_ivf_train_iteration_plan_one_scan_one_aggregate(spark):
    """Pin ivf_train_codebook's per-iteration cost model. Two
    strategies by k, mirroring serving:

    - small k (the default gate training): the iteration is ONE SQL
      string (_train_iteration_sql) — ZERO joins, a scan-local argmin
      projection feeding ONE grouped aggregate / one shuffle of
      k x (dim+1) partial-combined doubles. A Column-composed
      iteration costs the k=8 gate driver-side py4j plan construction.
    - sized k: the Arrow kernel (_arrow_cells) attaches the cell as a
      scan-local projection — no join of any kind (the codebook rides
      in the UDF, no O(k*dim) plan text, so k ∝ n trains), one
      aggregate, at most one shuffle.

    A refactor that quadratic-ifies an iteration (second scan of the
    DATA, a data-sized join, posexplode of components) fails here,
    not in a benchmark three rounds later."""
    import re

    from canal_phoenix_adapter_spark.operators.similarity import (
        _arrow_cells, _train_iteration_sql,
    )
    from pyspark.sql import functions as F
    from plan_helpers import explain_str, shuffle_count

    df = spark.createDataFrame(
        [(float(i), float(i + 1)) for i in range(4)], "a double, b double"
    ).selectExpr("array(a, b) AS __v")
    cb = [[0.0, 0.0], [9.0, 9.0]]

    def _iter(assigned):
        return assigned.groupBy("__cell").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.col("__v")[i]).alias(f"s{i}") for i in range(2)],
        )

    # small-k SQL-text iteration: NO join of any kind, one aggregate
    df.createOrReplaceTempView("__ivf_plan_pin")
    try:
        lit_it = spark.sql(_train_iteration_sql("__ivf_plan_pin", cb, 2))
        lit_text = explain_str(lit_it)
        assert not re.findall(r"\(\d+\) [A-Za-z]*Join\w*", lit_text), lit_text
        assert 1 <= len(re.findall(r"\(\d+\) \w*Aggregate\w*", lit_text)) <= 2
        assert shuffle_count(lit_it) <= 1
    finally:
        spark.catalog.dropTempView("__ivf_plan_pin")

    it = _iter(_arrow_cells(df, cb, "__v", "__cell"))
    text = explain_str(it)
    # the cell is a projection: a join here would ship the codebook or
    # the data per iteration
    assert not re.findall(r"\(\d+\) [A-Za-z]*Join\w*", text), text
    assert "ArrowEvalPython" in text, text
    aggs = re.findall(r"\(\d+\) \w*Aggregate\w*", text)
    assert 1 <= len(aggs) <= 2, aggs
    assert shuffle_count(it) <= 1


def test_pipeline_corpus_clean_single_join(q):
    """The composed pipeline (r6 shape) threads lang/n_kept_chunks
    through the stages as carry columns, so its ONLY join is the
    boilerplate hot-chunk anti/broadcast join — the earlier version
    paid two extra data-scale doc_id join-backs (clean.n_kept_chunks
    and docs.lang) for columns the pipeline already held."""
    import re

    from plan_helpers import explain_str

    # simple mode: one line per physical operator (formatted mode lists
    # every operator twice — tree + details — and names logical nodes)
    text = explain_str(q("pipeline_corpus_clean"), mode="simple")
    joins = re.findall(
        r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"
        r"|BroadcastNestedLoopJoin|CartesianProduct",
        text,
    )
    assert len(joins) == 1, joins


def test_pushed_filters_survives_in_and_multiarg_filters(spark, sf_dir, tmp_path):
    """In(id, [1,2,3]) contains both ']' and commas: the old regex
    truncated at the first ']' and comma-split the rest, shredding the
    entry AND dropping every filter after it (r9 review, reproduced).
    A filter listed after the In must still be visible."""
    from pyspark.sql import functions as F

    from plan_helpers import pushed_filters
    from canal_phoenix_adapter_spark.sources.tables import load_table

    df = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").isin(1, 2, 3))
        .where(F.col("n_chars") > 0)
        .select("doc_id")
    )
    filters = pushed_filters(df)
    assert any(f.startswith("In(doc_id") and f.endswith("])") for f in filters), filters
    assert any(f.startswith("GreaterThan(n_chars") for f in filters), filters
    assert not any(f in ("[1", "2", "3]") for f in filters), filters


def test_read_schema_columns_survives_nested_types(spark, tmp_path):
    """struct<...> inside ReadSchema: the old [^>]* regex stopped at
    the FIRST '>', dropping every column after a nested one — a
    pruning assertion would false-PASS (r9 review, reproduced)."""
    from pyspark.sql import functions as F

    from plan_helpers import read_schema_columns

    path = str(tmp_path / "nested")
    spark.range(10).select(
        F.struct(
            F.array(F.col("id").cast("int")).alias("a"),
            F.lit("s").alias("b"),
        ).alias("data"),
        F.col("id").alias("x"),
        F.lit("y").alias("y"),
    ).write.parquet(path)
    scans = read_schema_columns(spark.read.parquet(path).select("data", "x", "y"))
    assert scans and scans[0] == ["data", "x", "y"], scans


def test_split_top_level_respects_bracket_depth():
    from plan_helpers import _split_top_level

    assert _split_top_level(
        "IsNotNull(x), In(id, [1,2,3]), GreaterThan(x,0)", "([", ")]"
    ) == ["IsNotNull(x)", "In(id, [1,2,3])", "GreaterThan(x,0)"]
    assert _split_top_level(
        "a:decimal(18,2),b:struct<c:int,d:string>,e:bigint", "<(", ">)"
    ) == ["a:decimal(18,2)", "b:struct<c:int,d:string>", "e:bigint"]
    # '<' in a FILTER literal is data, not a bracket: the filter
    # grammar must still split after it (r9 fix-review, reproduced)
    assert _split_top_level(
        "EqualTo(s,a<b), GreaterThan(x,0), IsNotNull(y)", "([", ")]"
    ) == ["EqualTo(s,a<b)", "GreaterThan(x,0)", "IsNotNull(y)"]
    assert _split_top_level("", "([", ")]") == []


def test_balanced_regions_raises_on_truncated_plan_text():
    """A ReadSchema line Spark truncated at maxMetadataStringLength
    must ERROR, not silently yield garbage columns that a pruning
    assertion then 'verifies' (r9 fix-review, reproduced)."""
    import pytest as _pytest

    from plan_helpers import _balanced_regions

    with _pytest.raises(ValueError, match="truncated"):
        _balanced_regions(
            "ReadSchema: struct<a:int,b:str", "ReadSchema: struct<", "<", ">"
        )


def test_simhash128_aggregate_stays_in_codegen(spark, sf_dir):
    """The 128-bit sketch's bit-sum aggregate emits 129 fields — past
    the default spark.sql.codegen.maxFields=100, Spark SILENTLY drops
    the operator out of WholeStageCodegen (no warning, interpreted
    eval; measured r12: widths 32/64 fused, 128 did not). session.py
    raises maxFields so every width fuses; this pins it (AQE hides the
    star markers, so it is toggled off just for the explain)."""
    import inspect

    from canal_phoenix_adapter_spark import session as session_mod
    from canal_phoenix_adapter_spark.operators import dedup
    from canal_phoenix_adapter_spark.sources.tables import load_table
    from plan_helpers import explain_str

    # (a) the engine's session builder ships the raised limit
    src = inspect.getsource(session_mod.get_spark)
    assert '"spark.sql.codegen.maxFields", "160"' in src
    # (b) with that limit, every width's aggregate fuses (the conftest
    # session is deliberately driver-default, so set it here)
    old = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.codegen.maxFields")
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.codegen.maxFields", "160")
    # Another test that PLANNED a simhash pair query registered its
    # persisted sketch with the CacheManager; a fresh _simhash plan
    # then matches that (never-materialized) entry and is rewritten
    # through InMemoryRelation, hiding the fusion markers this test
    # counts (reproduced: plan-construction alone flips it).
    spark.catalog.clearCache()
    try:
        docs = load_table(spark, sf_dir, "documents")
        for width in (32, 64, 128):
            plan = explain_str(
                dedup._simhash(docs, "doc_id", "text", width), "simple"
            )
            aggs = [l for l in plan.splitlines() if "HashAggregate" in l]
            assert aggs and all("*(" in l for l in aggs), (width, aggs)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_benched_heavy_scans_read_only_consumed_columns(q):
    """ReadSchema width audit over every benched query that scans one
    of the three heavy tables (lineitem / documents / embeddings):
    each scan must read EXACTLY the columns the query consumes — the
    r14 salted-join finding institutionalized (its lineitem scan read
    11 columns where the query touches 4, seven of them solely to
    feed the default salt hash; this pin fails on that form). At
    100 TB scan width is the first-order I/O knob (guide §6): a
    regression here costs a multiple of the table's byte width on
    every run without changing a single result.

    The allowed sets are the columns each gate consumes today; a scan
    is matched to its table by column-set inclusion (every table has
    a disjoint column namespace). dedup_clusters is absent: its
    output plan reads checkpointed RDDs, not parquet. Widening a
    query's real needs is a deliberate edit to this table, not noise.
    """
    import bench
    from plan_helpers import read_schema_columns

    full = {
        "lineitem": {
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate",
        },
        "documents": {"doc_id", "text", "lang", "source", "n_chars"},
        "embeddings": {"vec_id", "embedding", "label"},
    }
    allowed = {
        "dedup_exact_groups": {"documents": {"doc_id", "text"}},
        "dedup_minhash_lsh_capped": {"documents": {"doc_id", "text"}},
        "dedup_ngram_jaccard_maxdf": {"documents": {"doc_id", "text"}},
        "dedup_simhash_pairs_capped": {"documents": {"doc_id", "text"}},
        "dedup_chunk_crossdoc": {"documents": {"doc_id", "text"}},
        "dedup_minhash_lsh_incremental": {"documents": {"doc_id", "text"}},
        "text_quality": {"documents": {"doc_id", "text"}},
        "text_features": {"documents": {"doc_id", "text"}},
        "text_vocab_topk": {"documents": {"text"}},
        "text_boilerplate_strip": {"documents": {"doc_id", "text"}},
        "text_pii_scrub": {"documents": {"doc_id", "text"}},
        "text_decontaminate_ngram": {"documents": {"doc_id", "text"}},
        "sampling_assembly": {"documents": {"doc_id", "lang", "n_chars"}},
        "sampling_pack_sequences": {"documents": {"doc_id", "text"}},
        "mm_geometry": {"documents": {"doc_id", "n_chars", "text"}},
        "mm_extract_features": {"documents": {"doc_id", "n_chars", "text"}},
        "pipeline_corpus_clean": {"documents": {"doc_id", "lang", "text"}},
        "dedup_embedding_cosine_lsh": {"embeddings": {"vec_id", "embedding"}},
        "dedup_semantic_ivf": {"embeddings": {"vec_id", "embedding"}},
        "sim_knn_join_ivf": {"embeddings": {"vec_id", "embedding"}},
        "sim_ann_ivf_trained": {"embeddings": {"vec_id", "embedding"}},
        "analytics_rollup": {
            "lineitem": {"l_returnflag", "l_linestatus", "l_quantity"}
        },
        "analytics_salted_join": {
            "lineitem": {"l_partkey", "l_extendedprice", "l_orderkey",
                         "l_linenumber"}
        },
    }
    offenders = []
    for name, per_table in allowed.items():
        assert name in bench.HEADLINE, name  # audit tracks the bench set
        for cols in read_schema_columns(q(name)):
            s = {c for c in cols if c}
            for tbl, full_cols in full.items():
                if s and s <= full_cols:
                    extra = s - per_table.get(tbl, s)
                    if extra:
                        offenders.append((name, tbl, sorted(extra)))
    assert not offenders, offenders
