"""Driver-facing query registry: every implemented operator from
SURVEY.md §2 exposed as (spark, sf_dir) -> DataFrame, with matching
DuckDB oracle SQL (the driver's t2 correctness gate).

Conventions (driver contract, /root/repo/__spark_entry__.py):
  * every computed column is aliased identically in Spark and SQL;
  * results are deterministic sets (order-insensitive hash compare);
  * floating-point outputs are avoided where engines could disagree
    bit-wise (ranks are returned instead of raw cosine scores).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from canal_phoenix_adapter_spark.config import DbMapping
from canal_phoenix_adapter_spark.operators import etl as etl_ops
from canal_phoenix_adapter_spark.operators.merge import keep_last, merge_cdc
from canal_phoenix_adapter_spark.sources import events as ev
from canal_phoenix_adapter_spark.sources.tables import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def _pin_ws_class(sql: str) -> str:
    """Dialect shim applied to every oracle at registration: Java's
    regex \\s (what the engine tokenizer text.py::tokens pins as an
    explicit class) includes \\x0B; DuckDB's RE2 \\s does NOT. Left
    as-is, every token-derived oracle silently diverges from the
    engine on vertical-tab whitespace.
    Rewriting the two \\s idioms the oracles use keeps each oracle
    readable while making the whitespace class IDENTICAL by
    construction — including in future oracles that keep writing
    '\\s+' out of habit."""
    out = sql.replace("'\\s+'", "'[ \\t\\n\\x0b\\f\\r]+'").replace(
        "[^A-Za-z0-9\\s]", "[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]"
    )
    if "\\s" in out:  # a third \s idiom would silently reopen the gap
        raise ValueError(
            "oracle uses a \\s spelling _pin_ws_class does not rewrite; "
            "spell the whitespace class explicitly: [ \\t\\n\\x0b\\f\\r]"
        )
    return out


def register(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = _pin_ws_class(sql)
        return fn
    return deco


# ---------------------------------------------------------------------------
# CDC merge family (C1-C9): synthetic change stream over events.parquet
# ---------------------------------------------------------------------------

_MERGE_ORACLE_TEMPLATE = """
WITH changes AS ({changes}),
timeline AS (
    SELECT user_id AS k, seq, 1 AS is_create, user_id, value, ts_us
    FROM changes WHERE op IN ('INSERT','UPDATE')
    UNION ALL
    SELECT user_id AS k, seq, 0 AS is_create, NULL::BIGINT, NULL::DOUBLE, NULL::BIGINT
    FROM changes WHERE op = 'DELETE'
    UNION ALL
    SELECT old_user_id AS k, seq, 0 AS is_create, NULL::BIGINT, NULL::DOUBLE, NULL::BIGINT
    FROM changes WHERE op IN ('INSERT','UPDATE')
      AND old_user_id IS NOT NULL AND old_user_id <> user_id
),
last AS (
    SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC, is_create DESC) AS rn
    FROM timeline
)
SELECT user_id, value, ts_us FROM last WHERE rn = 1 AND is_create = 1
"""


@register(
    "cdc_merge_full",
    _MERGE_ORACLE_TEMPLATE.format(changes=ev.SYNTHETIC_CHANGES_SQL),
)
def cdc_merge_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full CDC apply (C1-C6, C8) — inserts, keep-last
    updates, deletes, PK-changes — folded to the final state table."""
    changes = ev.synthetic_changes(load_table(spark, sf_dir, "events"))
    # the derivation emits no TRUNCATE
    return merge_cdc(None, changes, ["user_id"], trunc_seq=None)


@register(
    "cdc_merge_upsert_delete",
    _MERGE_ORACLE_TEMPLATE.format(changes=ev.SYNTHETIC_CHANGES_NO_PKCHANGE_SQL),
)
def cdc_merge_upsert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3/C4/C6 without PK-changes: upsert + delete + last-writer-wins."""
    changes = ev.synthetic_changes(load_table(spark, sf_dir, "events"), with_pk_change=False)
    return merge_cdc(None, changes, ["user_id"], trunc_seq=None)


@register(
    "cdc_keep_last",
    """
    SELECT event_id, user_id, event_type, value FROM (
        SELECT event_id, user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def cdc_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 as a standalone operator: per-key keep-last by sequence."""
    df = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    return keep_last(df, ["user_id"], "event_id")


@register(
    "cdc_merge_into_state",
    """
    WITH state AS (
        SELECT user_id, CAST(-1 AS DOUBLE) AS value, CAST(0 AS BIGINT) AS ts_us
        FROM (SELECT DISTINCT user_id FROM events)
    ),
    changes AS (
        SELECT event_id AS seq,
               CASE event_type WHEN 'signup' THEN 'INSERT'
                               WHEN 'error'  THEN 'DELETE'
                               ELSE 'UPDATE' END AS op,
               user_id, CAST(NULL AS BIGINT) AS old_user_id, value, epoch_us(ts) AS ts_us
        FROM events WHERE event_id % 3 = 0
    ),
    timeline AS (
        SELECT user_id AS k, seq, 1 AS is_create, user_id, value, ts_us
        FROM changes WHERE op IN ('INSERT','UPDATE')
        UNION ALL
        SELECT user_id AS k, seq, 0, NULL::BIGINT, NULL::DOUBLE, NULL::BIGINT
        FROM changes WHERE op = 'DELETE'
    ),
    last AS (
        SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC, is_create DESC) AS rn
        FROM timeline
    ),
    survivors AS (SELECT user_id, value, ts_us FROM last WHERE rn = 1 AND is_create = 1),
    touched AS (SELECT DISTINCT k AS user_id FROM timeline)
    SELECT s.user_id, s.value, s.ts_us FROM state s ANTI JOIN touched t USING (user_id)
    UNION ALL
    SELECT * FROM survivors
    """,
)
def cdc_merge_into_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3-C6 + C10: merge a change batch into an existing keyed state
    (the anti-join/union kernel that foreachBatch drives per epoch)."""
    events = load_table(spark, sf_dir, "events")
    state = events.select("user_id").distinct().select(
        "user_id",
        F.lit(-1.0).alias("value"),
        F.lit(0).cast("long").alias("ts_us"),
    )
    changes = ev.synthetic_changes(
        events.where(F.col("event_id") % 3 == 0), with_pk_change=False
    )
    return merge_cdc(state, changes, ["user_id"], trunc_seq=None)


# ---------------------------------------------------------------------------
# ETL family (S2, F2, F3, A1, A2, X3)
# ---------------------------------------------------------------------------


@register(
    "etl_scan_condition",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    WHERE o_totalprice >= 200000 AND o_orderstatus = 'F'
    """,
)
def etl_scan_condition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+F3: conditional extract with a templated etlCondition."""
    cfg = DbMapping(
        database="tpch", table="orders", target_table="t.orders",
        etl_condition="where o_totalprice >= {0} and o_orderstatus = '{1}'",
        escape_upper=False,
    )
    df = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    return etl_ops.append_condition(df, cfg, [200000, "F"])


@register(
    "etl_incremental_sys_time",
    """
    SELECT event_id, user_id, epoch_us(ts) AS sys_time
    FROM events WHERE epoch_us(ts) >= epoch_us(TIMESTAMP '2024-01-20 00:00:00')
""",
)
def etl_incremental_sys_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: single-param incremental extract on the SYS_TIME column."""
    cfg = DbMapping(database="d", table="t", target_table="t.t", escape_upper=False)
    df = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts_us").alias("sys_time")
    )
    return etl_ops.append_condition(df, cfg, [1705708800000000])


@register("etl_count", "SELECT count(1) AS cnt FROM lineitem")
def etl_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: COUNT(1) of the target table."""
    return etl_ops.count_table(load_table(spark, sf_dir, "lineitem"))


@register(
    "etl_count_filtered",
    "SELECT count(1) AS cnt FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01'",
)
def etl_count_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: COUNT(1) over the conditioned extract."""
    cfg = DbMapping(
        database="d", table="t", target_table="t.t",
        etl_condition="where l_shipdate >= '2000-01-01'",
    )
    return etl_ops.count_filtered(load_table(spark, sf_dir, "lineitem"), cfg)


@register(
    "etl_idempotent_load",
    """
    SELECT user_id, event_id, value FROM (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def etl_idempotent_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: delete-before-insert idempotent backfill == latest row per
    PK (deterministic dropDuplicates via keep_last)."""
    df = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    return keep_last(df, ["user_id"], "event_id").select("user_id", "event_id", "value")


# ---------------------------------------------------------------------------
# Projection / scalar family (P1-P7) over customer + events
# ---------------------------------------------------------------------------


@register(
    "proj_mapping_exclude_rename",
    """
    SELECT c_custkey AS CUSTKEY, c_name AS NAME, c_mktsegment AS SEGMENT
    FROM customer
    """,
)
def proj_mapping_exclude_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2+P3+P6: mapAll with renames, exclusion, escapeUpper."""
    from canal_phoenix_adapter_spark.operators.transform import apply_mapping

    cfg = DbMapping(
        database="tpch", table="customer", target_table="t.customer",
        map_all=True,
        target_columns={"custkey": "c_custkey", "name": "c_name", "segment": "c_mktsegment"},
        exclude_columns=["c_acctbal", "c_nationkey"],
        escape_upper=True,
    )
    df = load_table(spark, sf_dir, "customer")
    # no narrowing select: the gate must SEE every column apply_mapping
    # emits, or an exclude_columns leak hides behind the projection
    return apply_mapping(df, cfg)


@register(
    "proj_enum_decode",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_linenumber BETWEEN 1 AND 3
                THEN (['first','second','third'])[l_linenumber]
                ELSE CAST(l_linenumber AS VARCHAR) END AS line_label
    FROM lineitem
    """,
)
def proj_enum_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: 1-based enum decode with out-of-range passthrough."""
    from canal_phoenix_adapter_spark.functions.enums import enum_decode

    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    return df.withColumn(
        "line_label", enum_decode(F.col("l_linenumber"), ["first", "second", "third"])
    )


# Adversarial strings for the string->int path: fixture $.k values are
# all clean digits, so without these the gate can't tell Spark's
# try_cast (NULL on ALL of them except ' 7 '/'+8') from a lenient
# parser (DuckDB TRY_CAST reads '12.5'->13, '0x10'->16, '1e3'->1000).
# Indexed by event_id % 8 on BOTH
# sides; the oracle expresses Spark semantics as a regex-guarded cast.
_EDGE_STRINGS = ["12.5", "1e3", "0x10", "", "  7 ", "+8",
                 "99999999999999999999", "true"]
_EDGE_SQL = ("[" + ", ".join(f"'{s}'" for s in _EDGE_STRINGS)
             + "][CAST(event_id % 8 + 1 AS INT)]")


@register(
    "proj_type_coercion",
    f"""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
           CASE WHEN json_extract_string(props, '$.k') IS NULL THEN NULL
                WHEN json_extract_string(props, '$.k') = '0' THEN FALSE
                ELSE TRUE END AS k_bool,
           CAST(TRY_CAST(value AS DECIMAL(12,2)) AS VARCHAR) AS value_dec,
           CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CASE WHEN regexp_matches(trim({_EDGE_SQL}), '^[+-]?[0-9]+$')
                THEN TRY_CAST(trim({_EDGE_SQL}) AS INTEGER)
                ELSE NULL END AS edge_int
    FROM events
    """,
)
def proj_type_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: the coercion matrix over stringly-typed JSON values —
    int/bool/decimal/date paths, NULL on unparseable — plus the
    adversarial string->int column (edge_int) that pins try_cast's
    NULL-on-unparseable contract against a lenient-parser regression."""
    from canal_phoenix_adapter_spark.functions.coerce import boolean_lenient, coerce_to
    from pyspark.sql import types as T

    df = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k")
    edge = F.element_at(
        F.array(*[F.lit(s) for s in _EDGE_STRINGS]),
        (F.col("event_id") % 8 + 1).cast("int"),
    )
    return df.select(
        "event_id",
        coerce_to(k, T.IntegerType()).alias("k_int"),
        boolean_lenient(k).alias("k_bool"),
        coerce_to(F.col("value"), T.DecimalType(12, 2)).cast("string").alias("value_dec"),
        F.col("ts").cast("date").cast("string").alias("day"),
        coerce_to(edge, T.IntegerType()).alias("edge_int"),
    )


@register(
    "proj_zero_date",
    """
    SELECT doc_id,
           CASE WHEN raw LIKE '0000-00-00%' THEN raw
                ELSE CAST(TRY_CAST(raw AS DATE) AS VARCHAR) END AS birth
    FROM (
        SELECT doc_id,
               CASE doc_id % 4 WHEN 0 THEN '0000-00-00'
                               WHEN 1 THEN '2024-01-15'
                               WHEN 2 THEN 'garbage'
                               ELSE '0000-00-00 12:00:00' END AS raw
        FROM documents
    )
    """,
)
def proj_zero_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: zero-date passthrough, parseable canonicalized, garbage NULL."""
    from canal_phoenix_adapter_spark.functions.coerce import zero_date_lenient

    df = load_table(spark, sf_dir, "documents").select("doc_id")
    raw = (
        F.when(F.col("doc_id") % 4 == 0, "0000-00-00")
        .when(F.col("doc_id") % 4 == 1, "2024-01-15")
        .when(F.col("doc_id") % 4 == 2, "garbage")
        .otherwise("0000-00-00 12:00:00")
    )
    return df.select("doc_id", zero_date_lenient(raw, "date").alias("birth"))


def flagship(spark: SparkSession) -> DataFrame:
    """entry(spark): the minimum end-to-end slice (SURVEY §7.2) at
    sf0.001 — full CDC merge over the synthetic change stream."""
    return cdc_merge_full(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Extensions (SURVEY §7.4): dedup / similarity / text / multimodal / analytics
# ---------------------------------------------------------------------------

from canal_phoenix_adapter_spark.functions.hashing import (  # noqa: E402
    MINHASH_PRIME,
    minhash_perm_params,
)
from canal_phoenix_adapter_spark.operators import (  # noqa: E402
    analytics,
    dedup,
    multimodal,
    sampling,
    similarity,
    text as text_ops,
)

# nullif: md5(NULL) is NULL, but DuckDB concat SKIPS NULL args, so
# without it a NULL input becomes CAST('0x') — a hard error — where
# Spark's md5/conv propagate NULL (NULL-payload mm rows)
_H = "CAST(nullif(concat('0x', substr(md5({x}),1,15)), '0x') AS BIGINT)"

_SHINGLE_CTE = """
docs AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
sh0 AS (
    SELECT doc_id,
           array_to_string(toks[CAST(i AS BIGINT):CAST(i AS BIGINT)+3], ' ') AS shingle
    FROM docs, unnest(range(1, greatest(len(toks)-3, 1)+1)) AS t(i)
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle <> '')
"""


# The sf fixtures contain ZERO duplicate texts, which made the exact-
# dedup gates vacuous (any keep-rule — min, max, keep-all — produced
# identical output). Both sides union a
# deterministic duplicate shard so n_dups>1 groups and the min-keeper
# rule are actually witnessed.
_DUP_SHARD_SQL = """(SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0)"""


def _with_dup_shard(docs: DataFrame) -> DataFrame:
    base = docs.select("doc_id", "text")
    return base.unionAll(
        base.where(F.col("doc_id") % 5 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )


@register(
    "dedup_exact_groups",
    f"""
    SELECT sha256(text) AS content_sha, count(1) AS n_dups, min(doc_id) AS keeper_id
    FROM {_DUP_SHARD_SQL} WHERE text IS NOT NULL GROUP BY sha256(text)
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group summary on content digest (incl. a synthetic
    duplicate shard — see _with_dup_shard)."""
    return dedup.exact_dup_groups(
        _with_dup_shard(load_table(spark, sf_dir, "documents")), "doc_id", "text"
    )


# The fixtures' max shingle doc-freq is 4, so the max_df=5 cap never
# binds at the gate SF — a skipped cap produced identical output and
# the gate was blind to it (the cap-agreement property tests cover
# the cap but the driver gate could not). Both
# sides union a hot-shingle witness shard: 8 four-token docs sharing
# one shingle (df=8 > 5). Capped, the shingle is dropped and the
# witness docs pair with nothing; uncapped, 28 jaccard-1.0 witness
# pairs appear and the compare goes red.
_HOT_SHINGLE_DOCS = [(-(i + 1), "hot shingle witness row") for i in range(8)]
_HOT_SHARD_SQL = "(SELECT doc_id, text FROM documents UNION ALL {rows})".format(
    rows=" UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT), '{t}'" for i, t in _HOT_SHINGLE_DOCS
    )
)


def _with_hot_shingle_shard(docs: DataFrame) -> DataFrame:
    spark = docs.sparkSession
    witness = spark.createDataFrame(_HOT_SHINGLE_DOCS, "doc_id bigint, text string")
    return docs.select("doc_id", "text").unionByName(witness)


@register(
    "dedup_ngram_jaccard_maxdf",
    f"""
    WITH {_SHINGLE_CTE.replace("FROM documents",
                               f"FROM {_HOT_SHARD_SQL} AS documents")},
    hs0 AS (SELECT DISTINCT doc_id AS id, {_H.format(x='shingle')} AS sh
            FROM sh0 WHERE shingle <> ''),
    docfreq AS (SELECT sh, count(1) AS d FROM hs0 GROUP BY sh),
    hs AS (SELECT id, hs0.sh FROM hs0 JOIN docfreq USING (sh) WHERE d <= 5),
    sizes AS (SELECT id, count(1) AS sz FROM hs GROUP BY id),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b, count(1) AS shared
        FROM hs a JOIN hs b USING (sh) WHERE a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) AS jaccard
    FROM pairs
    JOIN sizes sa ON id_a = sa.id
    JOIN sizes sb ON id_b = sb.id
    WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.5
    """,
)
def dedup_ngram_jaccard_maxdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-scale Jaccard: shingles in more than max_df=5 docs are
    dropped before the self-join (a d-doc shingle costs d^2 join rows),
    bounding every bucket; sizes are over kept shingles on both sides.
    Input includes the hot-shingle witness shard (_with_hot_shingle_shard)
    so a skipped cap turns the gate red."""
    return dedup.ngram_jaccard_pairs(
        _with_hot_shingle_shard(load_table(spark, sf_dir, "documents")),
        "doc_id", "text", n=4, threshold=0.5, max_df=5,
    )


def _minhash_sql(num_perm: int = 16) -> str:
    mins = ",\n           ".join(
        f"min(((h % {MINHASH_PRIME}) * {a} + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(minhash_perm_params(num_perm))
    )
    return f"""
    WITH {_SHINGLE_CTE},
    hs AS (SELECT doc_id, {_H.format(x='shingle')} AS h FROM sh)
    SELECT doc_id,
           {mins}
    FROM hs GROUP BY doc_id
    """


def _band_bucket_sql(num_perm: int, bands: int) -> str:
    """Shared banding-oracle fragment: (id, band, bh) selects over the
    `sig` CTE — ONE definition so the self-join and incremental oracles
    cannot silently diverge from each other."""
    rpb = num_perm // bands
    band_selects = []
    for b in range(bands):
        cols = ", ".join(f"CAST(mh{b*rpb+r} AS VARCHAR)" for r in range(rpb))
        band_selects.append(
            f"SELECT doc_id AS id, {b} AS band, md5(concat_ws('_', {cols})) AS bh FROM sig"
        )
    return "\n        UNION ALL\n        ".join(band_selects)


def _cap_cte_sql(table: str, keys: str, max_bucket: int | None) -> tuple[str, str]:
    """Shared bucket-cap oracle fragment (engine twin: dedup.
    _cap_bucket_size): returns (extra CTEs, source-table name)."""
    if max_bucket is None:
        return "", table
    cols = ", ".join(f"{table}.{k.strip()}" for k in keys.split(","))
    return (f""",
    bsz AS (SELECT {keys} FROM {table} GROUP BY {keys} HAVING count(1) <= {max_bucket}),
    capped AS (SELECT id, {cols} FROM {table} JOIN bsz USING ({keys}))""", "capped")


def _minhash_lsh_sql(num_perm: int = 16, bands: int = 4, max_bucket: int | None = None) -> str:
    buckets = _band_bucket_sql(num_perm, bands)
    cap_ctes, src = _cap_cte_sql("buckets", "band, bh", max_bucket)
    return f"""
    WITH sig AS ({_minhash_sql(num_perm)}),
    buckets AS (
        {buckets}
    ){cap_ctes}
    SELECT DISTINCT x.id AS id_a, y.id AS id_b
    FROM {src} x JOIN {src} y USING (band, bh)
    WHERE x.id < y.id
    """


@register("dedup_minhash_lsh_capped", _minhash_lsh_sql(16, 4, max_bucket=2))
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB LSH variant: band buckets with more than max_bucket=2
    members are dropped before the candidate self-join, bounding every
    bucket's d^2 cost. At sf0.01 this actually drops buckets (three
    size-3 buckets exist), so the drop path is oracle-exercised."""
    return dedup.minhash_lsh_candidates(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        num_perm=16, bands=4, n=4, max_bucket=2,
    )


def _clusters_sql(num_perm: int = 16, bands: int = 4) -> str:
    """Connected components over the MinHash-LSH pairs via transitive
    closure: reach(n, m) grows one edge per recursion until fixpoint
    (UNION dedups, so cycles terminate); cluster = min reachable id."""
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_lsh_sql(num_perm, bands)}),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(n, m) AS (
        SELECT a, a FROM sym
        UNION
        SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m
    )
    SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n
    """


@register("dedup_clusters", _clusters_sql())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster formation: connected components (min-id label)
    over the MinHash-LSH candidate pairs — the transitive-closure step
    between pairwise candidates and keep-one-per-cluster. Spark side
    is iterative min-label propagation (operators/dedup.dup_clusters);
    the oracle is the DuckDB recursive-CTE fixpoint of the same
    relation."""
    pairs = dedup.minhash_lsh_candidates(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        num_perm=16, bands=4, n=4, max_bucket=None,
    )
    return dedup.dup_clusters(pairs).select(
        F.col("id").alias("doc_id"), F.col("cluster_id")
    )


def _simhash_sql() -> str:
    bit_sums = ",\n           ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(32)
    )
    sketch = " + ".join(
        f"(CASE WHEN b{i} >= 0 THEN 1 ELSE 0 END) * {1 << i}" for i in range(32)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents
    ),
    hs AS (SELECT doc_id, {_H.format(x='tok')} AS h FROM toks WHERE tok <> ''),
    bits AS (
        SELECT doc_id,
           {bit_sums}
        FROM hs GROUP BY doc_id
    )
    SELECT doc_id, CAST({sketch} AS BIGINT) AS simhash FROM bits
    """


def _embedding_lsh_sql(
    num_planes: int = 16, bands: int = 4, dim: int = 64, threshold: float = 0.4
) -> str:
    from canal_phoenix_adapter_spark.operators.similarity import plane_sign

    rpb = num_planes // bands
    band_selects = []
    for b in range(bands):
        terms = []
        for j in range(rpb):
            coeffs = ", ".join(
                str(float(plane_sign(b * rpb + j, d))) for d in range(dim)
            )
            terms.append(
                f"(CASE WHEN list_dot_product(ve, [{coeffs}]) >= 0 THEN 1 ELSE 0 END) * {1 << j}"
            )
        bucket = " + ".join(terms)
        band_selects.append(
            f"SELECT id, ve, {b} AS band, CAST({bucket} AS BIGINT) AS bucket FROM v"
        )
    banded = "\n        UNION ALL\n        ".join(band_selects)
    return f"""
    WITH v AS (
        SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        FROM embeddings WHERE list_dot_product(ve, ve) > 0
    ),
    banded AS (
        {banded}
    )
    SELECT DISTINCT a.id AS id_a, c.id AS id_b
    FROM banded a JOIN banded c USING (band, bucket)
    WHERE a.id < c.id
      AND list_dot_product(a.ve, c.ve)
          / (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(c.ve, c.ve)))
          >= {threshold}
    """


@register("dedup_embedding_cosine_lsh", _embedding_lsh_sql())
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB embedding near-dup: equi-join on banded hyperplane-LSH
    buckets (4 bands x 4 planes, OR-amplified recall) + exact cosine
    >= 0.4 within buckets. Unlike dedup_embedding_cosine (the
    max_id-capped all-pairs oracle cross-check) this runs over the FULL
    table with no cap — the plan has no nested-loop join (asserted by
    tests/test_plans.py)."""
    return dedup.embedding_near_dup_pairs_lsh(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4,
        num_planes=16, bands=4, dim=64, max_bucket=None,
    ).select("id_a", "id_b")


_MARKER_SQL = {
    lang: ", ".join(f"'{m}'" for m in ms) for lang, ms in text_ops.LANG_MARKERS.items()
}


def _langid_sql() -> str:
    scores = ",\n           ".join(
        f"len(list_filter(low, t -> t IN ({_MARKER_SQL[lang]}))) AS s_{lang}"
        for lang in sorted(text_ops.LANG_MARKERS)
    )
    langs = sorted(text_ops.LANG_MARKERS)
    whens = []
    for i, lang in enumerate(langs):
        others = [f"s_{lang} >= s_{o}" for o in langs[i + 1:]]
        cond = " AND ".join([*others, f"s_{lang} >= 1"])
        whens.append(f"WHEN {cond} THEN '{lang}'")
    case = "CASE " + " ".join(whens) + " ELSE 'und' END"
    return f"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS low
        FROM documents
    ),
    sc AS (
        SELECT doc_id,
           {scores}
        FROM t
    )
    SELECT doc_id, {case} AS lang_pred FROM sc
    """


@register("text_langid", _langid_sql())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-based language ID with alphabetical tie-break."""
    df = load_table(spark, sf_dir, "documents")
    return df.select("doc_id", text_ops.lang_id(F.col("text")).alias("lang_pred"))


# Shared oracle fragments for the quality score (used by the
# text_quality, text_adaptive_filter, and pipeline_corpus_clean
# gates; assumes a CTE exposing text/toks/low). Ratios are CASE-
# guarded exactly like the engine (operators/text.py::
# quality_features): empty/whitespace-only docs score 0.0 instead of
# NaN; NULL text stays NULL.
_STOPS_SQL = ", ".join(f"'{s}'" for s in text_ops.STOPWORDS)
_STOP_RATIO_SQL = (
    "CASE WHEN toks IS NULL THEN NULL WHEN len(toks) > 0 THEN "
    f"CAST(len(list_filter(low, x -> x IN ({_STOPS_SQL}))) AS DOUBLE) / len(toks) "
    "ELSE 0.0 END"
)
_PUNCT_RATIO_SQL = (
    "CASE WHEN text IS NULL THEN NULL WHEN length(text) > 0 THEN "
    "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) "
    "ELSE 0.0 END"
)
_DIGIT_RATIO_SQL = (
    "CASE WHEN text IS NULL THEN NULL WHEN length(text) > 0 THEN "
    "CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text) "
    "ELSE 0.0 END"
)
_QUALITY_EXPR = (
    "CASE WHEN toks IS NULL THEN NULL WHEN len(toks) > 0 THEN "
    f"({_STOP_RATIO_SQL}) * 0.4 + (1.0 - ({_PUNCT_RATIO_SQL})) * 0.3 "
    f"+ (1.0 - ({_DIGIT_RATIO_SQL})) * 0.3 "
    "ELSE 0.0 END"
)


@register(
    "text_quality",
    f"""
    WITH t AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS low
        FROM documents
    )
    SELECT doc_id,
           length(text) AS n_chars,
           len(toks) AS n_tokens,
           {_STOP_RATIO_SQL} AS stopword_ratio,
           {_PUNCT_RATIO_SQL} AS punct_ratio,
           {_DIGIT_RATIO_SQL} AS digit_ratio,
           {_QUALITY_EXPR} AS quality
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features + composite score."""
    return text_ops.quality_features(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


@register(
    "mm_extract_features",
    """
    WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS nb
               FROM documents)
    SELECT doc_id,
           (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
           CAST(nb AS BIGINT) AS n_bytes,
           CASE WHEN hx IS NULL THEN NULL WHEN nb = 0 THEN -1
                ELSE CAST(concat('0x', substr(hx, 1, 2)) AS INT)
           END AS first_byte,
           CAST(CASE WHEN hx IS NULL THEN NULL
                ELSE coalesce(list_sum(list_transform(range(1, nb + 1),
                     i -> CAST(concat('0x', substr(hx, CAST(2*i-1 AS INT), 2))
                          AS INT))), 0) % 997
           END AS BIGINT) AS byte_sum_mod
    FROM b
    """,
)
def mm_extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary
    payloads (stub decoder; real batch plumbing).

    The oracle does BYTE math via hex pairs (hex() is bytes-true in
    both engines), so parity holds on non-ASCII text and arbitrary
    binary, not only ASCII."""
    media = multimodal.as_media_table(load_table(spark, sf_dir, "documents"))
    return multimodal.extract_features(media)


@register(
    "analytics_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders
    ) WHERE rk <= 3
    """,
)
def analytics_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k: 3 largest orders per customer."""
    return analytics.topk_orders_per_customer(spark, sf_dir, k=3)


@register(
    "analytics_rollup",
    """
    SELECT l_returnflag, l_linestatus, count(1) AS n_items,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR)
               AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def analytics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP totals (grouping sets in one pass)."""
    out = analytics.rollup_pricing(spark, sf_dir)
    return out.select(
        "l_returnflag", "l_linestatus", "n_items",
        F.col("sum_qty").cast("decimal(18,2)").cast("string").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Dataset assembly (operators/sampling.py): deterministic splits,
# exact group quantiles, vocabulary, contamination
# ---------------------------------------------------------------------------

_SPLIT_BUCKET = _H.format(x="concat('split:', CAST(doc_id AS VARCHAR))") + " % 10000"


@register(
    "text_vocab_topk",
    r"""
    WITH tok AS (
        SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
            FROM documents
        ) WHERE length(token) >= 1
    ),
    counts AS (SELECT token, count(1) AS doc_freq FROM tok GROUP BY token)
    SELECT * FROM (
        SELECT row_number() OVER (ORDER BY doc_freq DESC, token ASC) AS rank,
               token, doc_freq
        FROM counts
    ) WHERE rank <= 20
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-20 tokens by document frequency."""
    return sampling.vocab_topk(load_table(spark, sf_dir, "documents"), "text", k=20)


# ---------------------------------------------------------------------------
# Truncate apply, envelope routing, serial mode,
# schema evolution (S3/S4/S8, C2, C7, C9, C11-C13), X1 range split,
# event-time rollup, SimHash pairs, IVF ANN
# ---------------------------------------------------------------------------

_TRUNCATE_FOLD_SQL = f"""
WITH changes AS ({ev.SYNTHETIC_CHANGES_TRUNCATE_SQL}),
tmax AS (SELECT coalesce(max(seq), -1) AS tseq FROM changes WHERE op = 'TRUNCATE'),
live AS (
    SELECT c.* FROM changes c, tmax WHERE c.seq > tmax.tseq AND c.op <> 'TRUNCATE'
),
timeline AS (
    SELECT user_id AS k, seq, 1 AS is_create, user_id, value, ts_us
    FROM live WHERE op IN ('INSERT','UPDATE')
    UNION ALL
    SELECT user_id AS k, seq, 0, NULL::BIGINT, NULL::DOUBLE, NULL::BIGINT
    FROM live WHERE op = 'DELETE'
),
last AS (
    SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC, is_create DESC) AS rn
    FROM timeline
)
SELECT user_id, value, ts_us FROM last WHERE rn = 1 AND is_create = 1
"""


# Every fixture user has a post-truncate event at the gate SF, so a
# merge that IGNORED truncate entirely — or cut at the FIRST marker
# (seq 0) instead of the last — produced identical output: the gate
# was blind to C7 bugs. One witness row, a user
# whose ONLY event sits between the first and last TRUNCATE, must be
# wiped; it survives under either bug.
_TRUNC_WITNESS_SQL = ("SELECT CAST(1 AS BIGINT) AS seq, 'INSERT' AS op, "
                      "CAST(-1 AS BIGINT) AS user_id, "
                      "CAST(NULL AS BIGINT) AS old_user_id, "
                      "CAST(1.0 AS DOUBLE) AS value, CAST(0 AS BIGINT) AS ts_us")


@register(
    "cdc_truncate_apply",
    _TRUNCATE_FOLD_SQL.replace(
        f"WITH changes AS ({ev.SYNTHETIC_CHANGES_TRUNCATE_SQL})",
        f"WITH changes AS ({ev.SYNTHETIC_CHANGES_TRUNCATE_SQL} "
        f"UNION ALL {_TRUNC_WITNESS_SQL})",
    ),
)
def cdc_truncate_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7/S7: TRUNCATE markers interleaved in the stream wipe all
    earlier state; only events after the last truncate survive."""
    changes = ev.synthetic_changes_with_truncate(load_table(spark, sf_dir, "events"))
    witness = spark.createDataFrame(
        [(1, "INSERT", -1, None, 1.0, 0)], schema=changes.schema
    )
    return merge_cdc(None, changes.unionByName(witness), ["user_id"])


@register(
    "cdc_envelope_route",
    """
    SELECT GREATEST(LEAST(event_id // 1000, 2147483647), 0) * 4294967296
             + LEAST(event_id - GREATEST(LEAST(event_id // 1000, 2147483647), 0) * 1000, 16383) * 262144
             AS seq,
           CASE WHEN event_type = 'signup' THEN 'INSERT'
                WHEN event_type = 'error'  THEN 'DELETE'
                ELSE 'UPDATE' END AS op,
           user_id AS id,
           event_type AS etype
    FROM events
    WHERE user_id % 3 = 0
    """,
)
def cdc_envelope_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+C1+C2 end-to-end: events rendered as Canal-JSON envelope
    strings, parsed (from_json), exploded to SingleDml rows, and
    routed to the mytest.user mapping — unrouted databases dropped."""
    from canal_phoenix_adapter_spark.config import MappingConfig

    raw = ev.canal_json_stream(load_table(spark, sf_dir, "events"))
    parsed = ev.parse_dml_json(raw, "value")
    rows = ev.explode_dml(parsed)
    cfg = MappingConfig(
        destination="canal",
        db_mapping=DbMapping(database="mytest", table="user", target_table="t.user"),
    )
    routed = ev.route(rows, cfg)
    return routed.select(
        "seq",
        "op",
        F.try_element_at(F.col("data"), F.lit("id")).try_cast("bigint").alias("id"),
        F.try_element_at(F.col("data"), F.lit("etype")).alias("etype"),
    )


@register(
    "cdc_serial_mode",
    _MERGE_ORACLE_TEMPLATE.format(changes=ev.SYNTHETIC_CHANGES_NO_PKCHANGE_SQL),
)
def cdc_serial_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 `concurrent: false`: the whole batch collapses to one
    partition and applies in strict event order — final state must be
    identical to the PK-hash-parallel path (the reference's guarantee:
    partitioning only changes interleaving across DIFFERENT keys).
    Measured cost of the contract (SCALE_SMOKE decade-2): this
    coalesce(1) path rides 4.17x wall per data decade where the
    parallel twin (cdc_merge_full, same kernel) measures 1.20x —
    knowingly-serial semantics, quantified, not a plan defect."""
    changes = ev.synthetic_changes(
        load_table(spark, sf_dir, "events"), with_pk_change=False
    ).coalesce(1)
    return merge_cdc(None, changes, ["user_id"], trunc_seq=None)


_DDL_SQL = (
    "ALTER TABLE mytest.user ADD COLUMN note VARCHAR(16) DEFAULT 'n/a', "
    "ADD COLUMN score INT, DROP COLUMN ts_us"
)


@register(
    "schema_ddl_evolution",
    _MERGE_ORACLE_TEMPLATE.format(changes=ev.SYNTHETIC_CHANGES_NO_PKCHANGE_SQL).replace(
        "SELECT user_id, value, ts_us FROM last",
        "SELECT user_id, value, 'n/a' AS note, CAST(NULL AS INTEGER) AS score FROM last",
    ),
)
def schema_ddl_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12+C13+S8: a DDL event (ALTER TABLE ADD/DROP COLUMN) parsed to
    intents and applied to the state — ADDed columns backfill their
    DEFAULT for every existing row, DROPped columns disappear."""
    from canal_phoenix_adapter_spark.operators.schema_sync import apply_ddl

    changes = ev.synthetic_changes(
        load_table(spark, sf_dir, "events"), with_pk_change=False
    )
    state = merge_cdc(None, changes, ["user_id"], trunc_seq=None)
    return apply_ddl(state, _DDL_SQL, allow_drop=True)


@register(
    "schema_probe",
    """
    SELECT CAST(ordinal_position AS INT) AS ordinal,
           lower(column_name) AS column_name,
           lower(data_type) AS data_type
    FROM information_schema.columns
    WHERE lower(table_name) = 'orders'
    """,
)
def schema_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4: the schema scan / zero-row probe — column inventory of a
    table as data, from df.schema (no rows read)."""
    from canal_phoenix_adapter_spark.operators.schema_sync import schema_inventory

    return schema_inventory(load_table(spark, sf_dir, "orders"))


@register(
    "etl_range_split",
    """
    WITH b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi FROM orders)
    SELECT least(2, CAST(floor((o_orderkey - lo) * 3 / (hi - lo + 1)) AS BIGINT)) AS slice_id,
           count(1) AS n_rows,
           min(o_orderkey) AS lo_key,
           max(o_orderkey) AS hi_key
    FROM orders, b
    GROUP BY 1
    """,
)
def etl_range_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: disjoint key-range slice assignment (the Spark-native form
    of the reference's 3-thread LIMIT/OFFSET split)."""
    return etl_ops.range_split_stats(load_table(spark, sf_dir, "orders"), "o_orderkey", 3)


@register(
    "analytics_time_rollup",
    """
    SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS win_start_us,
           event_type,
           count(1) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS VARCHAR) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def analytics_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style tumbling-window rollup (batch backfill form of
    the streaming windowed agg)."""
    return analytics.time_window_rollup(spark, sf_dir, bucket_hours=24)


def _simhash_pairs_sql(max_dist: int = 3, bands: int = 4, max_bucket: int | None = None) -> str:
    width = 32 // bands
    mask = (1 << width) - 1
    band_rows = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id AS id, {b} AS band, (simhash >> {b * width}) & {mask} AS bv FROM sig"
        for b in range(bands)
    )
    cap_ctes, src = _cap_cte_sql("banded", "band, bv", max_bucket)
    return f"""
    WITH sig AS ({_simhash_sql()}),
    banded AS (
        {band_rows}
    ){cap_ctes},
    cand AS (
        SELECT DISTINCT x.id AS id_a, y.id AS id_b
        FROM {src} x JOIN {src} y USING (band, bv)
        WHERE x.id < y.id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
    FROM cand
    JOIN sig sa ON id_a = sa.doc_id
    JOIN sig sb ON id_b = sb.doc_id
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {max_dist}
    """


@register("dedup_simhash_pairs_capped", _simhash_pairs_sql(3, 4, max_bucket=16))
def dedup_simhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB SimHash variant: band buckets over max_bucket=16
    members (boilerplate collapsing onto one byte value — sizes reach
    90 at sf0.01) are dropped before the candidate self-join."""
    return dedup.simhash_hamming_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        max_dist=3, bands=4, max_bucket=16,
    )


def _ivf_trained_replica_codebook(
    parquet_path: str, k: int = 8, iters: int = 3
) -> list[list[float]] | None:
    """Independent numpy replica of ivf_train_codebook (similarity.py)
    for the ORACLE side: seeds = k lowest-id vectors, Lloyd's with
    sequential-fold L2 assignment (np.cumsum reproduces the Spark
    fold's left-to-right summation bit-for-bit), per-cell means
    quantized to 1e-6 half-away-from-zero exactly like the engine.
    Returns None when the parquet is unreadable (gate then registers
    without an oracle — rows-only check) — but LOUDLY, on stderr:
    silently degrading the t2 gate would make an environment bug
    (moved testdata, broken pyarrow) indistinguishable from an
    intentionally oracle-less registration. Cost note: this runs at
    registry import, which is fine at the gate's fixed sf0.01 scale
    (~10^3 x 64 floats, 3 Lloyd's iterations — milliseconds); it is
    NOT a per-query cost."""
    import sys as _sys

    def _degrade(why: str):
        print(
            "WARNING canal_phoenix_adapter_spark.entry: sim_ann_ivf_trained "
            f"registers WITHOUT an oracle (rows-only gate): {why}",
            file=_sys.stderr,
        )
        return None

    try:
        import numpy as np
        import pyarrow.parquet as pq

        t = pq.read_table(parquet_path, columns=["vec_id", "embedding"])
        ids = t.column("vec_id").to_numpy()
        emb = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    except Exception as e:  # noqa: BLE001 - missing/odd testdata: no oracle
        return _degrade(f"replica codebook training failed reading {parquet_path}: {e!r}")
    if len(ids) < k:
        return _degrade(f"{parquet_path} has {len(ids)} vectors < k={k}")
    order = np.argsort(ids, kind="stable")
    x = emb[order].astype(np.float64)
    cb = x[:k].copy()
    for _ in range(iters):
        diffs = (x[:, None, :] - cb[None, :, :]) ** 2
        d2 = np.cumsum(diffs, axis=2)[:, :, -1]  # sequential fold order
        cell = np.argmin(d2, axis=1)  # first-min == array_position match
        for c in range(k):
            members = x[cell == c]
            if len(members):
                m = members.mean(axis=0)
                cb[c] = np.sign(m) * np.floor(np.abs(m) * 1e6 + 0.5) / 1e6
    return [[float(v) for v in row] for row in cb]


def _rank_cut_sql(k: int) -> str:
    """The oracle twin of similarity._rank_topk (cos desc, id asc, <= k)
    over a CTE named `scored` — one definition for every ANN oracle."""
    return f"""SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {k}"""


def _ann_ivf_trained_sql(
    codebook: list[list[float]], num_queries: int = 8, k: int = 5
) -> str:
    """Oracle for the trained-IVF ANN: the replica-trained centroids
    ride in as literals; cell assignment (argmin L2, first-min
    tie-break) and cosine ranking are recomputed in pure SQL."""
    cb_rows = ",\n        ".join(
        f"({c}, CAST({row} AS DOUBLE[]))" for c, row in enumerate(codebook)
    )
    return f"""
    WITH cb(cell, cv) AS (VALUES
        {cb_rows}),
    v AS (
        SELECT vec_id AS id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        FROM embeddings WHERE list_dot_product(ve, ve) > 0
    ),
    d AS (
        SELECT id, ve, cell,
               list_sum(list_transform(list_zip(ve, cv),
                        p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        FROM v CROSS JOIN cb
    ),
    assigned AS (
        SELECT id, ve, cell FROM (
            SELECT id, ve, cell,
                   row_number() OVER (PARTITION BY id ORDER BY d2 ASC, cell ASC) AS rn
            FROM d
        ) WHERE rn = 1
    ),
    q AS (SELECT id AS query_id, ve AS qv, cell FROM assigned WHERE id < {num_queries}),
    scored AS (
        SELECT query_id, a.id AS neighbor_id,
               list_dot_product(qv, a.ve)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(a.ve, a.ve))) AS cos
        FROM q JOIN assigned a USING (cell) WHERE query_id <> a.id
    )
    {_rank_cut_sql(k)}
    """


_TRAINED_CB = _ivf_trained_replica_codebook("/root/testdata/sf0.01/embeddings.parquet")


@register(
    "sim_ann_ivf_trained",
    _ann_ivf_trained_sql(_TRAINED_CB) if _TRAINED_CB is not None else None,
)
def sim_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 with a TRAINED coarse quantizer: Lloyd's k-means runs
    on the engine (ivf_train_codebook — distributed assignment/update,
    only the k x dim codebook is collected), then serving is the same
    cell-keyed candidate join as sim_ann_ivf. The oracle trains its
    own codebook via an independent numpy replica at the driver's
    compare SF (sf0.01) and embeds it as SQL literals — so training
    AND serving are both cross-checked. (At other SFs the Spark side
    trains on that SF's data; the oracle string is sf0.01-specific,
    matching the driver's t2 gate.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = similarity.ivf_train_codebook(emb, k=8, iters=3)
    return similarity.ann_topk_ivf_trained(emb, cb, num_queries=8, k=5)


# ---------------------------------------------------------------------------
# As-of join, PII scrub, chunk-level cross-doc
# dedup / boilerplate strip, sequence packing, stratified sampling,
# IVF-cell semantic dedup
# ---------------------------------------------------------------------------

from canal_phoenix_adapter_spark.operators.asof import asof_join  # noqa: E402

_CHUNK_CTE = r"""
cdocs AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
ch0 AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos,
           array_to_string(toks[CAST(i AS BIGINT)*8+1:CAST(i AS BIGINT)*8+8], ' ') AS chunk
    FROM cdocs, unnest(range(0, CAST(floor((greatest(len(toks),1)-1)/8.0) AS BIGINT)+1)) AS t(i)
),
ch AS (SELECT doc_id, pos, chunk FROM ch0 WHERE chunk <> '')
"""

# chunk-hash + hot-chunk drop shared by text_boilerplate_strip and
# pipeline_corpus_clean (chunks in > 2 distinct docs are boilerplate)
_KEPT_CHUNKS_CTE = f"""{_CHUNK_CTE},
    chh AS (SELECT doc_id, pos, chunk, {_H.format(x='chunk')} AS h FROM ch),
    hot AS (
        SELECT h FROM (
            SELECT h, count(1) AS d
            FROM (SELECT DISTINCT doc_id, h FROM chh) GROUP BY h
        ) WHERE d > 2
    ),
    kept AS (SELECT * FROM chh WHERE h NOT IN (SELECT h FROM hot))"""


@register(
    "analytics_asof_join",
    """
    WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
    clicks AS (
        SELECT user_id, ts_us AS click_ts_us, max(event_id) AS click_event
        FROM ev WHERE event_type = 'click' GROUP BY 1, 2
    ),
    purch AS (
        SELECT event_id AS purchase_event, user_id, ts_us AS p_ts_us
        FROM ev WHERE event_type = 'purchase'
    )
    SELECT p.purchase_event, p.user_id, p.p_ts_us, c.click_ts_us, c.click_event
    FROM purch p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.p_ts_us >= c.click_ts_us
    """,
)
def analytics_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each purchase event joined to the same
    user's latest click at-or-before it (operators/asof.py union-merge
    plan — ONE shuffle on user_id, no range join, no nested loop; the
    oracle is DuckDB's native ASOF LEFT JOIN)."""
    evt = load_table(spark, sf_dir, "events")
    clicks = (
        evt.where(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts_us").alias("click_ts_us"))
        .agg(F.max("event_id").alias("click_event"))
    )
    purch = evt.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event"),
        "user_id",
        F.col("ts_us").alias("p_ts_us"),
    )
    return asof_join(
        purch, clicks, on=["user_id"], left_ts="p_ts_us", right_ts="click_ts_us"
    )


_PII_INJECT_SQL = """
SELECT doc_id,
       text ||
              CASE WHEN doc_id % 5 = 0
                   THEN concat(' contact u', CAST(doc_id AS VARCHAR), '@ex',
                               CAST(doc_id % 3 AS VARCHAR), '.com')
                   ELSE '' END ||
              CASE WHEN doc_id % 7 = 0
                   THEN concat(' host 10.', CAST(doc_id % 250 AS VARCHAR), '.0.',
                               CAST(doc_id % 100 AS VARCHAR))
                   ELSE '' END AS text
FROM documents
"""
# `||`, not concat(...): DuckDB's concat SKIPS NULL arguments while
# Spark's F.concat null-propagates — a NULL text must stay NULL on
# both sides or the gate false-fails on any future NULL-text fixture.


@register(
    "text_pii_scrub",
    f"""
    WITH injected AS ({_PII_INJECT_SQL}),
    no_email AS (
        SELECT doc_id, text,
               regexp_replace(text, '{text_ops.EMAIL_RE}', '<EMAIL>', 'g') AS te
        FROM injected
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{text_ops.EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(te, '{text_ops.IPV4_RE}')) AS INT) AS n_ips,
           regexp_replace(te, '{text_ops.IPV4_RE}', '<IP>', 'g') AS text_scrubbed
    FROM no_email
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails + IPv4) with per-doc match counts, over
    documents with deterministically injected PII (the synthetic
    corpus contains none — injection exercises the scrubber)."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" contact u"), did.cast("string"), F.lit("@ex"),
                    (did % 3).cast("string"), F.lit(".com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" host 10."), (did % 250).cast("string"), F.lit(".0."),
                    (did % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return text_ops.pii_scrub(injected, "doc_id", "text")


@register(
    "dedup_chunk_crossdoc",
    f"""
    WITH {_CHUNK_CTE},
    hs AS (SELECT DISTINCT doc_id, {_H.format(x='chunk')} AS h FROM ch),
    dfreq AS (SELECT h, count(1) AS d FROM hs GROUP BY h)
    SELECT doc_id, count(1) AS n_chunks,
           CAST(sum(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
    FROM hs JOIN dfreq USING (h)
    GROUP BY doc_id
    """,
)
def dedup_chunk_crossdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-chunk stats (8-token chunks): per doc,
    how many chunks also appear in another document. Linear plan —
    hash aggregate + same-key join-back, no pair enumeration."""
    return dedup.chunk_crossdoc_stats(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", size=8
    )


@register(
    "text_boilerplate_strip",
    f"""
    WITH {_KEPT_CHUNKS_CTE}
    SELECT doc_id, count(1) AS n_kept_chunks,
           string_agg(chunk, ' ' ORDER BY pos) AS text_clean
    FROM kept GROUP BY doc_id
    """,
)
def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal: chunks appearing in > 2 distinct docs are
    dropped, documents reassembled from surviving chunks in order."""
    return text_ops.boilerplate_strip(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", size=8, max_df=2
    )


_PACK_GROUP = _H.format(x="concat('pack:', CAST(doc_id AS VARCHAR))") + " % 8"


@register(
    "sampling_pack_sequences",
    f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
               {_PACK_GROUP} AS pack_group
        FROM documents
    )
    SELECT doc_id, pack_group,
           CAST(floor((sum(n_tok) OVER (PARTITION BY pack_group ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
                       / 256.0) AS BIGINT) AS bin_id,
           n_tok AS n_tokens
    FROM t
    """,
)
def sampling_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: greedy-contiguous 256-token bins
    within 8 md5-assigned pack groups (per-group window sort — never a
    global sort; groups scale out with the cluster)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", text_ops.token_count_ws(F.col("text")).cast("long").alias("n_tok")
    )
    return sampling.pack_sequences(
        toks, "doc_id", "n_tok", budget=256, num_groups=8
    )


_STRAT_BUCKET = _H.format(x="concat('strat:', CAST(doc_id AS VARCHAR))") + " % 10000"
_STRAT_RATES = {"en": 0.8, "de": 0.5, "es": 0.25, "fr": 0.1}


@register(
    "sampling_stratified",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_STRAT_BUCKET} <
          CASE lang {' '.join(f"WHEN '{k}' THEN {int(round(v * 10000))}" for k, v in sorted(_STRAT_RATES.items()))}
               ELSE 500 END
    """,
)
def sampling_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling (md5 bucket < per-
    stratum rate): the language-rebalancing pass of a corpus mix."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling.stratified_sample(
        docs, "doc_id", "lang", _STRAT_RATES, default_rate=0.05
    )


# Shared oracle CTE: normalized vectors + their IVF cell id (axis of the
# max-|component|, sign-split) — the prefix of BOTH ivf oracle queries.
_IVF_CELLS_CTE = """
    WITH v AS (
        SELECT vec_id AS id, embedding,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        FROM embeddings WHERE list_dot_product(ve, ve) > 0
    ),
    cells AS (
        SELECT id, ve,
               CAST(list_position(list_transform(embedding, x -> abs(x)),
                                  list_max(list_transform(embedding, x -> abs(x)))) * 2
                    + CASE WHEN embedding[list_position(list_transform(embedding, x -> abs(x)),
                                                        list_max(list_transform(embedding, x -> abs(x))))] < 0
                           THEN 1 ELSE 0 END AS BIGINT) AS cell
        FROM v
    )"""


def _semantic_ivf_sql(threshold: float = 0.4) -> str:
    return f"""{_IVF_CELLS_CTE}
    SELECT a.id AS id_a, b.id AS id_b
    FROM cells a JOIN cells b USING (cell)
    WHERE a.id < b.id
      AND list_dot_product(a.ve, b.ve)
          / (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve)))
          >= {threshold}
    """


@register("dedup_semantic_ivf", _semantic_ivf_sql())
def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup: candidate pairs restricted to
    the same IVF coarse cell, exact cosine >= 0.4 within cells. One
    equi-join on cell; a pair can meet at most once (no DISTINCT)."""
    return dedup.semantic_dup_pairs_ivf(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4, max_bucket=None
    )


@register(
    "pipeline_corpus_clean",
    f"""
    WITH {_KEPT_CHUNKS_CTE},
    clean AS (
        SELECT doc_id, count(1) AS n_kept_chunks,
               string_agg(chunk, ' ' ORDER BY pos) AS text_clean
        FROM kept GROUP BY doc_id
    ),
    scrub AS (
        SELECT doc_id, n_kept_chunks,
               regexp_replace(regexp_replace(text_clean, '{text_ops.EMAIL_RE}', '<EMAIL>', 'g'),
                              '{text_ops.IPV4_RE}', '<IP>', 'g') AS text
        FROM clean
    ),
    t AS (
        SELECT doc_id, n_kept_chunks, text,
               list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS low
        FROM scrub
    ),
    q AS (
        SELECT doc_id, n_kept_chunks, len(toks) AS n_tokens,
               {_QUALITY_EXPR} AS quality
        FROM t
    )
    SELECT q.doc_id, d.lang, q.n_kept_chunks, q.n_tokens, q.quality
    FROM q JOIN documents d ON q.doc_id = d.doc_id
    WHERE q.quality >= 0.55
      AND {_H.format(x="concat('strat:', CAST(q.doc_id AS VARCHAR))")} % 10000 <
          CASE d.lang {' '.join(f"WHEN '{k}' THEN {int(round(v * 10000))}" for k, v in sorted(_STRAT_RATES.items()))}
               ELSE 500 END
    """,
)
def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus preprocessing as ONE composed Spark plan:
    boilerplate strip -> PII scrub -> quality score + filter ->
    per-language stratified downsample. Every stage is an operator
    already oracle-gated in isolation; this query proves they compose
    (the real pipeline a 100 TB corpus runs nightly)."""
    docs = load_table(spark, sf_dir, "documents")
    # `carry` threads lang/n_kept_chunks through the stages instead of
    # join-backing them from `clean` and `docs` — two data-scale
    # shuffles a 100 TB nightly run would pay for columns the pipeline
    # already held (plan-pinned single-join in test_plans.py).
    clean = text_ops.boilerplate_strip(
        docs, "doc_id", "text", size=8, max_df=2, carry=("lang",)
    )
    scrub = text_ops.pii_scrub(clean, "doc_id", "text_clean",
                               carry=("lang", "n_kept_chunks"))
    qual = text_ops.quality_features(scrub, "doc_id", "text_scrubbed",
                                     carry=("lang", "n_kept_chunks"))
    # Persist the NARROW scored projection before the quality filter:
    # pushing `quality >= 0.55` through the projection substitutes the
    # whole tokenize+regex quality expression into the filter, which
    # then runs once in the (non-codegen) Filter above the chunk
    # aggregate and AGAIN in the output projection — the same
    # double-eval shape a twin measurement exposed on
    # text_adaptive_filter (guide §4.4 applied to built-ins; the fix
    # is the same persisted narrow table, 5 scalar columns per doc,
    # no text). Cache is caller-owned per the module convention.
    scored = qual.select(
        "doc_id", "lang", "n_kept_chunks", "n_tokens", "quality"
    ).persist()
    keep = scored.where(F.col("quality") >= 0.55)
    return sampling.stratified_sample(keep, "doc_id", "lang", _STRAT_RATES,
                                      default_rate=0.05)


@register(
    "text_decontaminate_ngram",
    f"""
    WITH {_SHINGLE_CTE},
    hs AS (SELECT DISTINCT doc_id, {_H.format(x='shingle')} AS sh
           FROM sh0 WHERE shingle <> ''),
    lbl AS (
        SELECT doc_id,
               CASE WHEN {_SPLIT_BUCKET} < 8000 THEN 'train'
                    WHEN {_SPLIT_BUCKET} < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    t AS (SELECT hs.doc_id, sh FROM hs JOIN lbl USING (doc_id) WHERE split = 'train'),
    e AS (SELECT hs.doc_id AS eid, sh FROM hs JOIN lbl USING (doc_id) WHERE split = 'test')
    SELECT t.doc_id, count(DISTINCT sh) AS n_shared_ngrams,
           count(DISTINCT eid) AS n_eval_docs_hit
    FROM t JOIN e USING (sh)
    GROUP BY t.doc_id
    """,
)
def text_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-overlap decontamination: train-split docs sharing any
    4-gram with a test-split doc (equi-join on shingle hashes — the
    reflowed-copy catcher substring probes miss)."""
    docs = load_table(spark, sf_dir, "documents")
    split = sampling.hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    train = split.where(F.col("split") == "train")
    eval_df = split.where(F.col("split") == "test")
    return dedup.ngram_overlap_contamination(
        train, eval_df, "doc_id", "text", n=4, max_df=None
    )


def _minhash_lsh_incremental_sql(num_perm: int = 16, bands: int = 4) -> str:
    buckets = _band_bucket_sql(num_perm, bands)
    return f"""
    WITH sig AS ({_minhash_sql(num_perm)}),
    buckets AS (
        {buckets}
    ),
    nb AS (SELECT * FROM buckets WHERE id % 2 = 1),
    ib AS (SELECT * FROM buckets WHERE id % 2 = 0)
    SELECT DISTINCT nb.id AS new_id, ib.id AS index_id
    FROM nb JOIN ib USING (band, bh)
    WHERE nb.id <> ib.id
    """


@register("dedup_minhash_lsh_incremental", _minhash_lsh_incremental_sql())
def dedup_minhash_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: odd-id docs (the 'new batch') against
    even-id docs (the 'existing index') — the daily-ingest dedup shape
    where only new-vs-index candidates are generated. NOTE: odd/even
    means no id appears on both sides, so the oracle's `nb.id <>
    ib.id` is vacuous — the same-id self-pair drop is witnessed solely
    by test_minhash_lsh_incremental_drops_same_id_self_pair, not by
    this gate."""
    docs = load_table(spark, sf_dir, "documents")
    new_df = docs.where(F.col("doc_id") % 2 == 1)
    index_df = docs.where(F.col("doc_id") % 2 == 0)
    return dedup.minhash_lsh_incremental(
        new_df, index_df, "doc_id", "text", num_perm=16, bands=4, n=4,
        max_bucket=None,
    )


def _knn_join_ivf_sql(k: int = 5) -> str:
    return f"""{_IVF_CELLS_CTE},
    scored AS (
        SELECT a.id AS query_id, b.id AS neighbor_id,
               list_dot_product(a.ve, b.ve)
               / (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve))) AS cos
        FROM cells a JOIN cells b USING (cell) WHERE a.id <> b.id
    )
    {_rank_cut_sql(k)}
    """


@register("sim_knn_join_ivf", _knn_join_ivf_sql())
def sim_knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN JOIN: top-5 cosine neighbors for every vector, candidates
    restricted to the IVF cell (equi-join + per-query window)."""
    return similarity.knn_join_ivf(load_table(spark, sf_dir, "embeddings"), k=5)


@register(
    "analytics_session_window",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
    x AS (
        SELECT user_id, ts_us,
               CASE WHEN lag(ts_us) OVER w IS NULL
                         OR ts_us - lag(ts_us) OVER w > 3600000000
                    THEN 1 ELSE 0 END AS brk
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
    ),
    s AS (
        SELECT user_id, ts_us,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM x
    )
    SELECT user_id, min(ts_us) AS session_start_us,
           max(ts_us) + 3600000000 AS session_end_us,
           count(1) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def analytics_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization (60-min gap) checked
    against the lag/cumsum islands oracle — the two formulations must
    agree exactly for a constant gap."""
    return analytics.session_window_rollup(spark, sf_dir, gap="60 minutes")


@register(
    "analytics_salted_join",
    """
    SELECT p_brand, count(1) AS n_items,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_price
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def analytics_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join (functions/skew.py): lineitem fanned over 8
    salts against a replicated part side, then aggregated — the oracle
    is the PLAIN join, proving salting changes only the physical key
    space, never the result. The manual answer to a single hot key AQE
    cannot split.

    The big side is projected to the four columns the query touches
    and the salt is the documented row-unique form (xxhash64 of the
    lineitem PK) rather than default_salt's all-non-key-columns hash
    (guide §2.3/§6): the default pulled SEVEN extra columns —
    three strings and a timestamp — through the scan solely to feed
    the salt hash (ReadSchema 11 -> 4 columns), and the join's
    null-key guard evaluates the salt expression a second time per
    row in the scan filter. The result is salt-invariant by
    construction (every row lands on SOME salt and the lookup side is
    replicated over all of them), which the plain-join oracle
    witnesses; default_salt keeps its own unit tests."""
    from canal_phoenix_adapter_spark.functions.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    part = load_table(spark, sf_dir, "part").withColumnRenamed(
        "p_partkey", "l_partkey"
    )
    j = salted_join(
        li, part, on=["l_partkey"], num_salts=8,
        salt_expr=F.xxhash64("l_orderkey", "l_linenumber"),
    )
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    return (
        j.groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_items"), F.sum(price).alias("sum_price"))
        .select(
            "p_brand", "n_items",
            F.col("sum_price").cast("decimal(18,2)").cast("string").alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# Folded gates: text_features, mm_geometry, sampling_assembly (each
# joins operators that would otherwise need a gate apiece, so one
# driver row witnesses all of them), plus the analytics_asof_tiebreak
# determinism gate.
# ---------------------------------------------------------------------------


@register(
    "text_features",
    f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                           l -> l <> '') AS lines,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    f AS (
        SELECT doc_id,
               len(lines) AS n_lines,
               CASE WHEN lines IS NULL THEN NULL
                    WHEN len(lines) > 0
                    THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
                    ELSE 0.0 END AS dup_line_frac,
               list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i+1]) AS bg
        FROM t
    ),
    c AS (
        SELECT doc_id, bigram, count(*) AS cnt
        FROM (SELECT doc_id, unnest(bg) AS bigram FROM f)
        GROUP BY doc_id, bigram
    ),
    m AS (SELECT doc_id, max(cnt) AS top_cnt FROM c GROUP BY doc_id),
    rep AS (
        SELECT f.doc_id, f.n_lines, f.dup_line_frac,
               len(f.bg) AS n_bigrams,
               CASE WHEN f.bg IS NULL THEN NULL
                    WHEN len(f.bg) > 0
                    THEN CAST(m.top_cnt AS DOUBLE) / len(f.bg)
                    ELSE 0.0 END AS top_bigram_frac
        FROM f LEFT JOIN m USING (doc_id)
    ),
    tc AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_ws,
               len(regexp_extract_all(text, '{text_ops.BPE_TOKEN_RE}')) AS n_bpe,
               list_min(list_transform(range(1, greatest(length(text)-7, 1)+1),
                                       i -> md5(substr(text, CAST(i AS INT), 8)))) AS fp
        FROM documents
    )
    SELECT tc.doc_id, tc.n_ws, tc.n_bpe, tc.fp,
           rep.n_lines, rep.dup_line_frac, rep.n_bigrams, rep.top_bigram_frac
    FROM tc JOIN rep USING (doc_id)
    """,
)
def text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text-feature bundle: whitespace + BPE-ish token counts,
    winnowing-lite fingerprint, and Gopher-style repetition signals —
    token counts, fingerprint and repetition joined into one driver
    row. The counting
    projections are shuffle-free; the repetition aggregations are the
    only exchanges, and the final join is id-keyed."""
    docs = load_table(spark, sf_dir, "documents")
    proj = docs.select(
        "doc_id",
        text_ops.token_count_ws(F.col("text")).alias("n_ws"),
        text_ops.token_count_bpe(F.col("text")).alias("n_bpe"),
        text_ops.fingerprint(F.col("text")).alias("fp"),
    )
    rep = text_ops.repetition_features(docs, "doc_id", "text")
    return proj.join(rep, on="doc_id")


@register(
    "mm_geometry",
    f"""
    WITH thumb AS (
        SELECT doc_id,
               CAST(doc_id % 640 + 16 AS BIGINT) AS width,
               CAST(doc_id % 480 + 16 AS BIGINT) AS height,
               CASE WHEN greatest(doc_id % 640 + 16, doc_id % 480 + 16) <= 64
                    THEN CAST(doc_id % 640 + 16 AS BIGINT)
                    ELSE greatest(CAST(floor((doc_id % 640 + 16) * 64.0
                         / greatest(doc_id % 640 + 16, doc_id % 480 + 16)) AS BIGINT), 1)
               END AS thumb_w,
               CASE WHEN greatest(doc_id % 640 + 16, doc_id % 480 + 16) <= 64
                    THEN CAST(doc_id % 480 + 16 AS BIGINT)
                    ELSE greatest(CAST(floor((doc_id % 480 + 16) * 64.0
                         / greatest(doc_id % 640 + 16, doc_id % 480 + 16)) AS BIGINT), 1)
               END AS thumb_h,
               {{thumb_sig}} AS thumb_sig
        FROM documents WHERE doc_id % 3 = 0
    ),
    stats AS (
        SELECT (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
               count(1) AS type_n,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS type_total_bytes,
               min(octet_length(encode(text))) AS type_min_bytes,
               max(octet_length(encode(text))) AS type_max_bytes
        FROM documents GROUP BY 1
    )
    SELECT thumb.*, s.type_n, s.type_total_bytes, s.type_min_bytes, s.type_max_bytes
    FROM thumb CROSS JOIN (SELECT * EXCLUDE (media_type) FROM stats
                           WHERE media_type = 'image') s
    """.format(thumb_sig=_H.format(x="substr(hex(encode(text)), 1, 64)")),
)
def mm_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal geometry + payload-stat bundle: aspect-preserving
    thumbnail plan for every image row, annotated with the image
    type's payload byte statistics, joined into one driver row. The
    stats side is a 3-row aggregate, broadcast."""
    media = multimodal.as_media_table(load_table(spark, sf_dir, "documents"))
    thumb = multimodal.thumbnail_plan(media, max_side=64)
    stats = multimodal.payload_stats(media).where(
        F.col("media_type") == "image"
    ).select(
        F.col("n").alias("type_n"),
        F.col("total_bytes").alias("type_total_bytes"),
        F.col("min_bytes").alias("type_min_bytes"),
        F.col("max_bytes").alias("type_max_bytes"),
    )
    return thumb.join(F.broadcast(stats))


@register(
    "sampling_assembly",
    f"""
    WITH split AS (
        SELECT doc_id, lang, n_chars,
               CASE WHEN {{b}} < 8000 THEN 'train'
                    WHEN {{b}} < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    q AS (
        SELECT lang,
               max(CASE WHEN rk = greatest(CAST(ceil(round(0.5 * n, 9)) AS BIGINT), 1) THEN n_chars END) AS q_50,
               max(CASE WHEN rk = greatest(CAST(ceil(round(0.9 * n, 9)) AS BIGINT), 1) THEN n_chars END) AS q_90
        FROM (
            SELECT lang, n_chars,
                   row_number() OVER (PARTITION BY lang ORDER BY n_chars ASC) AS rk,
                   count(1) OVER (PARTITION BY lang) AS n
            FROM documents WHERE n_chars IS NOT NULL
        ) GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.split, q.q_50, q.q_90,
           CASE WHEN s.n_chars >= q.q_50 THEN 1 ELSE 0 END AS above_median
    FROM split s JOIN q USING (lang)
    """.format(b=_SPLIT_BUCKET),
)
def sampling_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-assembly bundle: per-doc deterministic 80/10/10 split
    assignment annotated with the language's exact length quantiles —
    split and quantiles joined into one driver row, with the
    assignment verified PER DOCUMENT, not as three aggregate rows. The quantile table is one row per
    language, broadcast. NULL-lang docs have no quantile row and drop
    out of the inner join — identical on the oracle side (JOIN USING
    excludes NULL keys), pinned by a unit test."""
    docs = load_table(spark, sf_dir, "documents")
    split = sampling.hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    q = sampling.group_quantiles(docs, "lang", "n_chars", [0.5, 0.9],
                                 exact=True)
    return split.join(F.broadcast(q), on="lang").select(
        "doc_id", "lang", "split", "q_50", "q_90",
        F.when(F.col("n_chars") >= F.col("q_50"), F.lit(1))
        .otherwise(F.lit(0)).alias("above_median"),
    )


@register(
    "analytics_asof_tiebreak",
    """
    WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
    base AS (
        SELECT user_id, ts_us AS click_ts_us, event_id
        FROM ev WHERE event_type = 'click'
    ),
    dup AS (
        SELECT user_id, click_ts_us, event_id * 2 AS click_event FROM base
        UNION ALL
        SELECT user_id, click_ts_us, event_id * 2 + 1 AS click_event FROM base
    ),
    best AS (
        SELECT user_id, click_ts_us, max(click_event) AS click_event
        FROM dup GROUP BY user_id, click_ts_us
    ),
    purch AS (
        SELECT event_id AS purchase_event, user_id, ts_us AS p_ts_us
        FROM ev WHERE event_type = 'purchase'
    )
    SELECT p.purchase_event, p.user_id, p.p_ts_us, b.click_ts_us, b.click_event
    FROM purch p ASOF LEFT JOIN best b
      ON p.user_id = b.user_id AND p.p_ts_us >= b.click_ts_us
    """,
)
def analytics_asof_tiebreak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asof_join right_order determinism under the oracle gate:
    every click is deliberately DUPLICATED at its (user,
    ts) with two candidate ids (2*event_id and 2*event_id+1), and
    ``right_order=["click_event"]`` must pick the greatest tuple on
    any partitioning. The oracle collapses duplicates to max-by-tuple
    per (key, ts) first — exactly right_order's semantics, which only
    disambiguates equal-(key, ts) rows — then runs DuckDB's native
    ASOF LEFT JOIN."""
    evt = load_table(spark, sf_dir, "events")
    base = evt.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us").alias("click_ts_us"), "event_id"
    )
    dup = base.select(
        "user_id", "click_ts_us", (F.col("event_id") * 2).alias("click_event")
    ).unionByName(
        base.select(
            "user_id", "click_ts_us",
            (F.col("event_id") * 2 + 1).alias("click_event"),
        )
    )
    purch = evt.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event"),
        "user_id",
        F.col("ts_us").alias("p_ts_us"),
    )
    return asof_join(
        purch, dup, on=["user_id"], left_ts="p_ts_us",
        right_ts="click_ts_us", right_order=["click_event"],
    )


# ---------------------------------------------------------------------------
# Driver-artifact ordering
# ---------------------------------------------------------------------------

# The driver's t2 gate records at most the first ~50 queries()
# entries; the registry holds EXACTLY 50 (surplus folded into
# stronger twins or tests/parity_registry.py, still oracle-verified
# every pytest run), so one artifact witnesses every gate. Ordering stays defensive: newest-first,
# sim_ann_ivf_trained last (slowest — a time-based cutoff must not
# starve anything).
_DRIVER_ARTIFACT_PRIORITY = [
    "text_features",
    "mm_geometry",
    "sampling_assembly",
    "analytics_asof_tiebreak",
]
_DRIVER_ARTIFACT_LAST = ["sim_ann_ivf_trained"]
_REGISTRY_CAP = 50  # the driver artifact records at most this many


def _reorder_for_driver_artifact() -> None:
    missing = [
        n for n in (*_DRIVER_ARTIFACT_PRIORITY, *_DRIVER_ARTIFACT_LAST)
        if n not in QUERIES
    ]
    assert not missing, f"priority list names unknown queries: {missing}"
    assert len(QUERIES) <= _REGISTRY_CAP, (
        f"{len(QUERIES)} queries registered > driver artifact cap "
        f"{_REGISTRY_CAP}: the per-round CORRECTNESS artifact would no "
        "longer witness every gate — fold the surplus into "
        "tests/parity_registry.py instead"
    )
    for d in (QUERIES, ORACLE):
        prio = {n: d.pop(n) for n in _DRIVER_ARTIFACT_PRIORITY if n in d}
        last = {n: d.pop(n) for n in _DRIVER_ARTIFACT_LAST if n in d}
        rest = dict(d)
        d.clear()
        d.update(prio)
        d.update(rest)
        d.update(last)


_reorder_for_driver_artifact()
