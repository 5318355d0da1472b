"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference surface (SURVEY.md §7.4): exact dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard — each a
DataFrame-in/DataFrame-out function designed for 100 TB:

  * exact:     one hash-shuffle on a 64-hex digest, never on the text;
  * minhash:   signatures are fixed-width (k mins) regardless of doc
               size; the candidate join shuffles (band_id, band_hash)
               pairs only — O(docs * bands) small rows;
  * n-gram:    the pair join is blocked on shared shingle hashes, so
               only colliding docs meet; never a cartesian product;
  * simhash:   fixed 32-bit sketch per doc, groupable/bucketable.

All hashing is md5-derived (functions/hashing.py) so the DuckDB
oracle reproduces values bit-for-bit. No Python UDFs anywhere.

Cache lifecycle: the sketch/bucket operators ``persist()`` their
small multi-consumer intermediates (shingle hashes / bucket tables —
pre-cap AND post-cap when a bucket cap is active, so each pipeline
stage computes exactly once); the blocks are released only when the
DataFrame is garbage-collected or the caller clears them. CALLERS
OWN THE CACHE: a long-lived driver running repeated dedup passes
should ``spark.catalog.clearCache()`` between passes (bench.py does
exactly this) — otherwise old blocks linger until storage-memory
eviction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from canal_phoenix_adapter_spark.functions.hashing import (
    MINHASH_PRIME,
    bq,
    md5_long,
    minhash_perm_params,
)
from canal_phoenix_adapter_spark.jvm_shim import persistent_rdd_ids, release_rdds

# Skew caps default ON across the WHOLE LSH family: an unbounded
# bucket of d docs emits d^2 candidate-join rows and AQE splits
# partitions, not single hot keys — uncapped is the explicit None
# opt-in (a scale octave measured the uncapped defaults at 12.25x
# wall for 10x input with ZERO output). Per-family values:
# band buckets cap at 16 (>16 docs on one band value is boilerplate;
# a drop costs recall on boilerplate only); IVF cells are coarse BY
# DESIGN (expected size n/k), so 256 is a degenerate-collapse guard;
# decontamination max_df is 10^4 — dropping a genuinely-contaminated
# shingle defeats the operator, only corpus boilerplate is cut.
DEFAULT_SHINGLE_MAX_DF = 5
DEFAULT_LSH_MAX_BUCKET = 16  # ex-DEFAULT_SIMHASH_MAX_BUCKET; family-wide
DEFAULT_IVF_MAX_CELL = 256
DEFAULT_CONTAM_MAX_DF = 10_000


# The whitespace tokenizer is shared with text.py (one definition;
# shingle hashes here and chunk hashes there must never drift apart).
from canal_phoenix_adapter_spark.operators.text import tokens as _tokens  # noqa: E402


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on content digest: keep the smallest id per sha256.
    One shuffle on the 64-char digest; survivors = canonical docs.

    NULL text is NOT comparable content: sha2(NULL) is NULL, and
    deduping on the digest would collapse every null-text doc into
    one group and delete all but one — so every null-text doc
    survives (common in scraped corpora where text is missing, not
    duplicated). Null rows must not all land on ONE reducer either
    (a single NULL grouping key is an unsplittable hot key — AQE
    splits partitions, not keys — and a union-branch bypass would
    scan the text column twice): each null-digest row gets a UNIQUE
    synthetic group key derived from its id, so nulls spread evenly
    across the exchange and trivially survive as singleton groups.
    The '\\x00:' prefix cannot collide with a real digest (64 hex
    chars). Keep-smallest is a min AGGREGATE, not a row_number
    window — map-side partial combine ships one candidate per digest
    per map partition, in one scan of the corpus."""
    sha = F.sha2(F.col(text_col), 256)
    key = F.coalesce(
        sha, F.concat(F.lit("\x00:"), F.col(id_col).cast("string"))
    )
    return (
        df.select(
            F.col(id_col), sha.alias("content_sha"), key.alias("__k")
        )
        .groupBy("__k")
        .agg(
            F.min(id_col).alias(id_col),
            F.min("content_sha").alias("content_sha"),
        )
        .select(id_col, "content_sha")
    )


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Duplicate-group summary: (content_sha, n_dups, keeper_id).
    Null-text docs have no comparable content and form no group (see
    exact_dedup) — they are excluded rather than aggregated into one
    phantom NULL-digest group."""
    h = F.sha2(F.col(text_col), 256)
    return (
        df.select(F.col(id_col), h.alias("content_sha"))
        .where(F.col("content_sha").isNotNull())
        .groupBy("content_sha")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keeper_id"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    threshold: float = 0.5,
    max_df: int | None = DEFAULT_SHINGLE_MAX_DF,
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard: block on shared shingles so
    only docs with >= 1 common n-gram ever meet (no cartesian join),
    then Jaccard = shared / (|A| + |B| - shared).

    The document-frequency cap is ON by default — an uncapped run is a
    deliberate opt-in (``max_df=None``) because a single hot shingle
    shared by d docs emits d^2 join rows and AQE cannot split one hot
    key; see the scale note below.

    At 100 TB the shingle self-join is the scale knob: shingle hashes
    are bigints (8 bytes vs arbitrary text), and ``max_df`` drops
    shingles appearing in more than that many documents before the
    join. A shingle shared by d docs contributes d^2 join rows, so one
    stopword-run shingle with d=10^6 alone produces 10^12 rows; capping
    document frequency bounds every bucket and removes the skew AQE
    would otherwise have to split. Counts stay exact for the surviving
    pairs when max_df is high enough that dropped shingles are pure
    boilerplate (they contribute equally to both sides' sizes only if
    kept — so with max_df set, |A|/|B| are computed over KEPT shingles,
    keeping the Jaccard internally consistent).
    """
    # Hash BEFORE the per-doc distinct: the dedup exchange then ships
    # (id, 8-byte hash) rows instead of full shingle text — at 100 TB
    # that is the difference between shuffling ~16 B/row and ~50+ B/row
    # on the widest exchange in the plan. (Distinct-on-hash equals
    # distinct-on-text up to 60-bit md5 collisions; the oracle applies
    # the same hash-first distinct so both engines agree exactly.)
    sh = (
        raw_shingles(df, id_col, text_col, n)
        .select(F.col(id_col).alias("id"), md5_long(F.col("shingle")).alias("sh"))
        .dropDuplicates(["id", "sh"])
    )
    # Persist at BOTH stages when capping: the pre-cap table feeds the
    # cap's two passes (bucket-size aggregate + anti-join) — caching it
    # runs the explode+hash+distinct pipeline once, not twice — and the
    # capped table feeds three consumers (sizes + both join sides) — so
    # caching it runs the cap once, not three times. 16-byte rows,
    # spillable; bench/callers clear cache between passes.
    sh = sh.persist()
    if max_df is not None:
        sh = _cap_bucket_size(sh, ["sh"], max_df).persist()
    # Attach each doc's kept-shingle count to the shingle rows BEFORE
    # the self-join (one id-keyed join over the shingle table), and
    # carry it through the pair aggregate as a min (constant per id,
    # so min == the value). The earlier form joined `sizes` onto the
    # PAIRS table twice — at 100 TB the pairs table is the largest
    # intermediate in the plan, and those two joins re-shuffled it by
    # id_a and id_b after it was already shuffled by (id_a, id_b) for
    # the count; the rewrite measured -19% bench wall (isolated
    # min-of-7: 4.40 -> 3.57 s) for one extra long on the pair
    # exchange. sizes itself still scales
    # with the corpus, so no forced broadcast (AQE broadcasts it at
    # small scale; at 100 TB the attach is a shuffle join on id over
    # the SHINGLE table — strictly smaller than the pairs table the
    # old plan shuffled twice).
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    # Persist the size-attached table too: it feeds BOTH self-join
    # sides, and unpersisted the id-keyed attach join ran twice (two
    # SMJs on id in the executed plan, one per side — one extra cached
    # long per shingle row buys the join once). Same-JVM interleaved
    # A/B, 8-10 alternations per variant — all-3-persists min
    # 2.05s/med 2.31s vs no-sh_sz-persist 2.43/2.54 vs pre+sh_sz-only
    # 2.38/2.78 vs pre+cap-only 2.28/2.41: the persist PAYS at bench
    # scale.
    sh_sz = sh.join(sizes, on="id").persist()
    pairs = (
        sh_sz.alias("a")
        .join(sh_sz.alias("b"), on="sh")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.min(F.col("a.sz")).alias("sz_a"),
            F.min(F.col("b.sz")).alias("sz_b"),
        )
    )
    out = (
        pairs.select(
            "id_a",
            "id_b",
            (
                F.col("shared")
                / (F.col("sz_a") + F.col("sz_b") - F.col("shared"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out


def raw_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 4) -> DataFrame:
    """Shingles WITHOUT the per-doc distinct: (id, shingle) with
    multiplicity. Consumers whose aggregate is multiset-invariant
    (min/max — i.e. MinHash) use this to skip the distinct's shuffle
    entirely: duplicates cannot change a min.

    The token array is materialized in a projection BELOW the
    generator: writing ``slice(split(text), i, n)`` inside the
    transform lambda re-runs the regex split once per shingle
    POSITION — O(tokens^2) regex work per document (measured ~8x on
    the whole shingle pipeline at sf0.1). A column reference is
    evaluated once per row; the lambda then slices the in-memory
    array."""
    toks_df = df.select(F.col(id_col), _tokens(F.col(text_col)).alias("__toks"))
    toks = F.col("__toks")
    ngrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return toks_df.select(F.col(id_col), F.explode(ngrams).alias("shingle")).where(
        F.col("shingle") != ""
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_perm: int = 16, n: int = 4
) -> DataFrame:
    """MinHash signature per doc: num_perm columns mh0..mh{k-1}, each
    min over the permuted shingle hashes.

    Exactly ONE shuffle, and a partial-aggregated one: min is
    multiset-invariant, so the shingle distinct is skipped (duplicate
    shingles can't change a min) and the explode + md5 + 16
    permutations all run map-side, with only per-doc partial minima
    crossing the wire — k bigints per doc per input partition."""
    sh = raw_shingles(df, id_col, text_col, n).select(
        F.col(id_col), (md5_long(F.col("shingle")) % MINHASH_PRIME).alias("hm")
    )
    # Permutations as a Project feeding a plain min() aggregate: the
    # arithmetic stays in one whole-stage-codegen projection and the
    # HashAggregate's generated code is 16 trivial min(col)s instead of
    # 16 inlined (h%P*a+b)%P trees — ~2x faster end-to-end (Janino
    # compile + per-row eval) with bit-identical results. hm < 2^31 and
    # a < 2^31, so hm*a+b stays inside signed-64 — no overflow.
    # SQL text for the per-permutation families (functions.hashing.bq):
    # the Column form cost ~0.8 s of py4j round-trips per call.
    sh = sh.selectExpr(bq(id_col), *[
        f"((hm * {a} + {b}) % {MINHASH_PRIME}) AS p{i}"
        for i, (a, b) in enumerate(minhash_perm_params(num_perm))
    ])
    return sh.groupBy(id_col).agg(
        *[F.expr(f"min(p{i}) AS mh{i}") for i in range(num_perm)]
    )


def _cap_bucket_size(
    df: DataFrame,
    key_cols: list[str],
    max_bucket: int,
    broadcast_hot: bool = False,
) -> DataFrame:
    """Drop rows whose bucket (group of key_cols) has more than
    ``max_bucket`` members — the universal skew guard for LSH-style
    candidate self-joins. A bucket of d members emits d^2 join rows, so
    one boilerplate bucket with d=10^6 alone produces 10^12 candidates;
    capping bounds every bucket's cost at max_bucket^2 and removes the
    skew AQE would otherwise have to split. Same pattern as the max_df
    shingle cap in ngram_jaccard_pairs.

    Shape: aggregate the over-cap bucket KEYS (map-side partial
    combine, output bounded by n/max_bucket rows) and anti-join them
    away — not a count-over-window, which would shuffle AND sort the
    full row table just to attach a count it then filters on.
    ``broadcast_hot`` forces the hot-key side broadcast; set it only
    when the over-cap key set is genuinely small (IVF cells: bounded
    by n/max_bucket either quantizer) — AQE decides otherwise."""
    bad = (
        df.select(*key_cols)
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__bs"))
        .where(F.col("__bs") > max_bucket)
        .select(*key_cols)
    )
    if broadcast_hot:
        bad = F.broadcast(bad)
    return df.join(bad, on=key_cols, how="left_anti")


def _pair_join(
    buckets: DataFrame, keys: list[str], max_bucket: int | None,
    persist_buckets: bool = True,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The LSH candidate stage shared by the minhash / simhash /
    embedding band paths: persist the bucket table (at BOTH stages
    when capping — pre-cap so the upstream sketch runs once for the
    cap's two passes, post-cap so the cap runs once for the join's two
    sides), drop over-cap buckets, equi-join on the keys, emit distinct
    ordered (id_a, id_b) pairs. Cache is caller-owned (module doc).
    ``persist_buckets=False`` skips the PRE-cap persist for callers
    whose bucket table is a cheap explode of an already-persisted
    sketch (simhash persists ``sk`` upstream; caching the explode too
    just grows caller-owned memory).

    ``carry`` names narrow per-id columns already present on
    ``buckets`` to ride through the join as ``<c>_a``/``<c>_b``
    (guide §2.4: simhash carries its two sketch longs here so the
    hamming check needs NO id-keyed attach joins afterwards — at
    scale those joins re-shuffled the pairs table twice). Carried
    columns must be functionally dependent on ``id`` so the final
    distinct keeps (id_a, id_b) cardinality unchanged."""
    if persist_buckets:
        buckets = buckets.persist()
    if max_bucket is not None:
        buckets = _cap_bucket_size(buckets, keys, max_bucket).persist()
    # Distinct on the EXPLICIT pair key, not all columns:
    # pair cardinality is then invariant regardless of what rides in
    # ``carry`` (an all-column distinct silently emitted duplicate
    # pairs if a carried column ever violated the id-dependence
    # invariant), and the distinct's exchange hashes two longs
    # instead of every carried column.
    return (
        buckets.alias("x")
        .join(buckets.alias("y"), on=keys)
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"),
            *[F.col(f"x.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"y.{c}").alias(f"{c}_b") for c in carry],
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    n: int = 4,
) -> DataFrame:
    """(id, band, bh) LSH bucket table over MinHash signatures — the
    shared banding stage of the self-join and incremental variants.
    All bands are emitted in ONE pass over the signature table
    (explode of an inline array) instead of a bands-way union, which
    would recompute the signature aggregation per band."""
    if num_perm % bands:
        # Mirrors embedding_near_dup_pairs_lsh's guard: silently
        # dropping the trailing num_perm % bands signature columns
        # would narrow the effective signature (changing collision
        # probability) and desynchronize an incremental index built
        # with different parameters.
        raise ValueError(
            f"bands ({bands}) must divide num_perm ({num_perm})"
        )
    sig = minhash_signatures(df, id_col, text_col, num_perm, n)
    rows_per_band = num_perm // bands
    band_structs = []
    for b in range(bands):
        cols = ", ".join(
            f"CAST(mh{b * rows_per_band + r} AS STRING)"
            for r in range(rows_per_band)
        )
        band_structs.append(
            f"struct({b} AS band, md5(concat_ws('_', {cols})) AS bh)"
        )
    return sig.selectExpr(
        f"{bq(id_col)} AS id",
        f"explode(array({', '.join(band_structs)})) AS bb",
    ).select("id", "bb.band", "bb.bh")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    n: int = 4,
    max_bucket: int | None = DEFAULT_LSH_MAX_BUCKET,
) -> DataFrame:
    """LSH banding over MinHash signatures: split the k-wide signature
    into `bands` bands of k/bands rows; docs sharing any band bucket
    are candidate near-dups. Output: distinct (id_a, id_b) pairs.

    Scale shape: the only shuffles are (a) the signature groupBy and
    (b) a self-join keyed on (band, band_hash) — buckets, not docs.
    ``max_bucket`` is the 100 TB skew guard, ON by default (uncapped
    is the explicit ``None`` opt-in): buckets larger than it
    (boilerplate bands shared by huge doc populations) are dropped
    before the self-join, bounding every bucket's d^2 candidate cost
    (see _cap_bucket_size)."""
    buckets = minhash_band_buckets(df, id_col, text_col, num_perm, bands, n)
    return _pair_join(buckets, ["band", "bh"], max_bucket)


def _simhash(df: DataFrame, id_col: str, text_col: str, width: int) -> DataFrame:
    """Shared SimHash kernel over whitespace tokens (with
    multiplicity): bit i of the sketch is 1 iff the sum over tokens of
    (+1 if bit i of the token hash else -1) is >= 0.

    Computed as `width` conditional-sum aggregates after one token
    explode: a single shuffle keyed on the doc id; the sketch is a
    plain bigint usable for bucketing / hamming candidate search.
    width=32 reads bits 0-31 of md5_long; width=64 extends to bits
    0-59 of md5_long plus md5 hex digit 16 for bits 60-63; width=128
    (the step past simhash64's ~10^6-10^7-doc band saturation) adds
    a second long from md5 hex digits 17-31
    (bits 64-123) and digit 32 (bits 124-127), returned as
    (simhash_lo, simhash_hi) — every construction ports verbatim to
    the DuckDB oracle via substr(md5).

    The hash is hoisted into the projection feeding the aggregate
    (same treatment as minhash_signatures): each bit-sum then reads a
    plain bigint column instead of embedding its own copy of the
    md5+conv tree in the partial-aggregate codegen. The sketch is
    OR-assembled from shiftleft terms: bit 63 is the sign bit, exact
    under two's complement where a `* 2^63` sum would overflow-raise
    in ANSI mode."""
    toks = df.select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("tok")
    ).where(F.col("tok") != "")

    def _hexbits(start: int, length: int, name: str) -> Column:
        return (
            F.conv(
                F.substring(F.md5(F.col("tok").cast("string")), start, length), 16, 10
            ).cast("long").alias(name)
        )

    cols = [md5_long(F.col("tok")).alias("h")]
    if width >= 64:
        cols.append(_hexbits(16, 1, "hx"))
    if width == 128:
        cols.append(_hexbits(17, 15, "h2"))
        cols.append(_hexbits(32, 1, "hx2"))
    hashed = toks.select(F.col(id_col), *cols)

    # SQL text, not composed Columns, for the width-sized expression
    # families (see functions.hashing.bq): the Column form of the
    # width=32 sketch alone cost ~1.2 s of py4j round-trips per CALL
    # (cProfile: 90% of the capped gate's bench wall); the text
    # form builds the identical analyzed plan in a few calls.
    def _src(i: int) -> str:
        for name, lo, hi in (("h", 0, 60), ("hx", 60, 64), ("h2", 64, 124), ("hx2", 124, 128)):
            if i < hi:
                return f"shiftright({name}, {i - lo})"
        raise AssertionError(f"bit {i} beyond 128")

    aggs = [
        F.expr(
            f"sum(CASE WHEN ({_src(i)} & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
        )
        for i in range(width)
    ]
    sums = hashed.groupBy(id_col).agg(*aggs)

    def _assemble(start: int, nbits: int) -> str:
        terms = ["CAST(0 AS BIGINT)"] + [
            f"shiftleft(CAST(CASE WHEN b{start + i} >= 0 "
            f"THEN 1 ELSE 0 END AS BIGINT), {i})"
            for i in range(nbits)
        ]
        return "(" + " | ".join(terms) + ")"

    if width == 128:
        return sums.selectExpr(
            bq(id_col),
            f"{_assemble(0, 64)} AS simhash_lo",
            f"{_assemble(64, 64)} AS simhash_hi",
        )
    return sums.selectExpr(bq(id_col), f"{_assemble(0, width)} AS simhash")


def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash. Fine below ~10^4 docs; beyond that its 8-bit
    bands saturate (measured: SCALE.md) — prefer simhash64."""
    return _simhash(df, id_col, text_col, 32)


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash: same construction with
    bits 60-63 sourced from md5 hex digit 16 (md5_long carries 60).
    16-bit bands stay discriminative at corpus sizes where simhash32's
    8-bit bands saturate and pairs collapse (measured ~50k docs)."""
    return _simhash(df, id_col, text_col, 64)


def simhash128(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """128-bit SimHash as (simhash_lo, simhash_hi) bigints:
    simhash64's 4x16-bit bands saturate ~10^6-10^7 docs (measured,
    SCALE.md); 4x32-bit bands (~4x10^9 values) carry past 10^9."""
    return _simhash(df, id_col, text_col, 128)


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 3,
    bands: int = 4,
    max_bucket: int | None = DEFAULT_LSH_MAX_BUCKET,
    width: int = 32,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_dist.

    The bucket cap is ON by default — an uncapped run is a deliberate
    opt-in (``max_bucket=None``); see the scale note below.

    Pigeonhole blocking: split the ``width``-bit sketch into ``bands``
    equal bands; any pair within hamming distance bands-1 shares at
    least one identical band, so the self-join is keyed on (band,
    value) — buckets, never a cartesian product. Exact hamming
    (bit_count of xor) filters candidates. Requires max_dist < bands.

    At 100 TB: sketches are one bigint/doc, the band table is
    docs*bands tiny rows, and ``max_bucket`` caps hot buckets
    (boilerplate docs collapsing onto one band value) before the join
    — a dropped bucket costs recall on near-identical boilerplate
    only, while an uncapped one costs d^2 join rows (see
    _cap_bucket_size). Band selectivity is 2^(width/bands): 8-bit
    bands (width=32, 4 bands) saturate around 10^4 docs — every
    bucket overflows the cap and pairs COLLAPSE (measured, SCALE.md)
    — so at scale use width=64 (16-bit bands, ~65k values), and
    past simhash64's own ~10^6-10^7-doc saturation, width=128
    (32-bit bands at bands=4 — see simhash128).
    """
    if max_dist >= bands:
        raise ValueError("pigeonhole blocking needs max_dist < bands")
    if width not in (32, 64, 128):
        raise ValueError(f"simhash width must be 32, 64 or 128, got {width}")
    if width % bands or width // bands > 64:
        raise ValueError(
            f"bands ({bands}) must divide the {width}-bit simhash width "
            "into <=64-bit bands (trailing bits would silently drop "
            "out of every band)"
        )
    # The sketch is carried as (lo, hi) longs uniformly: hi is the
    # constant 0 below width 128, so the banding and hamming exprs are
    # width-agnostic and the hi terms constant-fold out of the plan.
    sk = _simhash(df, id_col, text_col, width)
    if width == 128:
        sk = sk.select(
            F.col(id_col).alias("id"),
            F.col("simhash_lo").alias("lo"), F.col("simhash_hi").alias("hi"),
        )
    else:
        sk = sk.select(
            F.col(id_col).alias("id"),
            F.col("simhash").alias("lo"), F.lit(0).cast("long").alias("hi"),
        )
    bw = width // bands
    # A band never straddles the lo/hi longs: width's divisors are
    # powers of two, so [b*bw, (b+1)*bw) lies wholly in one of them.
    # bw=64 (width=128, bands=2) masks with -1 (all ones): (1<<64)-1
    # overflows the long literal.
    band_vals = ", ".join(
        f"struct({b} AS band, "
        f"(shiftright({'lo' if b * bw < 64 else 'hi'}, {(b * bw) % 64})"
        f" & {(1 << bw) - 1 if bw < 64 else -1}) AS bv)"
        for b in range(bands)
    )
    # sk feeds the band explode twice (the cap's agg + anti-join
    # passes recompute the explode from this cache): persist so the
    # token explode + width-way aggregation runs once. The sketch
    # longs RIDE the band table through the candidate join (carry=)
    # instead of being attached afterwards by two id-keyed joins —
    # those joins re-shuffled the pairs table (the plan's largest
    # intermediate) by id_a and then id_b; carrying costs 16 bytes ×
    # bands per doc in the band shuffle and nothing else (guide §2.4 —
    # same move as ngram's sizes-on-shingles).
    sk = sk.persist()
    banded = sk.selectExpr(
        "id", "lo", "hi", f"explode(array({band_vals})) AS bb"
    ).select("id", "bb.band", "bb.bv", "lo", "hi")
    cand = _pair_join(banded, ["band", "bv"], max_bucket,
                      persist_buckets=False, carry=("lo", "hi"))
    return (
        cand.withColumn(
            "hamming",
            (
                F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
                + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
            ).cast("int"),
        )
        .where(F.col("hamming") <= max_dist)
        .select("id_a", "id_b", "hamming")
    )


def _ab_cosine_pairs(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, cosine) with cosine >= threshold, from a join of
    two nonzero_vecs sides aliased "a"/"b" — the exact-cosine tail
    shared by the all-pairs, IVF-cell and band-LSH variants (one
    definition so a threshold/alias change cannot half-apply).

    The threshold filter is null-safe (``coalesce(cos >= t, false)``)
    — identical row set, since a NULL cosine fails ``>= t`` anyway —
    because the bare comparison is null-INTOLERANT and Catalyst's
    constraint inference derived ``isnotnull(cosine)`` from it, then
    pushed that through both join sides substituting each side's
    whole norm fold back into the scan Filter: every vector paid the
    64-element fold twice despite nonzero_vecs' single-eval rewrite
    (plan-verified: SQRT-bearing Filter conditions 2 -> 0, norm fold
    once per side, results identical)."""
    from canal_phoenix_adapter_spark.operators.similarity import _dot

    return pairs.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        (
            _dot(F.col("a.v"), F.col("b.v"))
            / (F.col("a.nrm") * F.col("b.nrm"))
        ).alias("cosine"),
    ).where(F.coalesce(F.col("cosine") >= threshold, F.lit(False)))


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    max_id: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine >= t),
    EXACT all-pairs variant.

    This is a non-equi self-join — Spark executes it as a broadcast
    nested loop, O(n^2) comparisons. It exists only as the exhaustive
    oracle cross-check at bounded size (``max_id`` caps the input);
    the scale path is embedding_near_dup_pairs_lsh below, which
    equi-joins on an LSH bucket and runs the identical exact cosine
    check within buckets.
    """
    from canal_phoenix_adapter_spark.operators.similarity import nonzero_vecs

    v = nonzero_vecs(df)
    if max_id is not None:
        v = v.where(F.col("id") < max_id)
    return _ab_cosine_pairs(
        v.alias("a").join(v.alias("b"), F.col("a.id") < F.col("b.id")),
        threshold,
    )


def lsh_planes_for_corpus(expected_count: int, bands: int = 4) -> int:
    """Planes-per-band = round(log2(n)/2) - 1, floor 2: the planes ∝
    log2(n) discipline, both constants anchored on measured octave rows
    (SCALE_SMOKE.json — 16 planes fit the n=2,000 gate corpus; 24 held
    n=20,000 to 1.89x wall where fixed 16 measured 12.25x). Fixed
    planes fix the per-band collision RATE, so candidates grow ~n^2;
    this holds expected bucket SIZE roughly constant instead."""
    from math import log2
    return bands * max(2, round(log2(max(expected_count, 2)) / 2) - 1)


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.9,
    num_planes: int | None = None,
    bands: int = 4,
    dim: int | None = None,
    max_bucket: int | None = DEFAULT_LSH_MAX_BUCKET,
    expected_count: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, banded-LSH bucketed — the
    100 TB path.

    Shape (three narrow stages, no wide shuffle ever carries a
    vector):
      1. one scan projection computes the ``bands`` hyperplane-LSH
         bucket ids inline and explodes to (id, band, bucket) — three
         LONGS per row, the vectors stay in the scan;
      2. the candidate self-join is an EQUI-join on (band, bucket) —
         hash-partitioned, never a nested loop — and the colliding
         pairs are DISTINCT'd *before* any vector math, so a pair
         sharing several bands costs one comparison, not four;
      3. the distinct pair set (tiny relative to the corpus) joins
         back to (id, vector) twice — AQE broadcasts the pair side,
         so the 100 TB vector table is never shuffled — and the exact
         double-precision cosine check runs once per candidate pair.
    OR-amplification across bands is what buys recall: a pair at
    angle theta collides in a band with p = (1 - theta/pi)^(planes
    per band) and in ANY band with 1-(1-p)^bands, so near-duplicates
    (cosine -> 1) are found with probability ~1 while the comparison
    count stays sum-of-squared-bucket-sizes per band, not n^2.
    ``max_bucket`` additionally drops degenerate hot buckets (e.g. a
    mass of near-zero vectors agreeing on every sign) before the join.

    SIZING: the DEFAULT path derives planes from ``expected_count``
    via lsh_planes_for_corpus (planes ∝ log2(n)); a FIXED
    ``num_planes`` is the explicit opt-in for callers who sized it
    themselves, and calling with neither is refused — there is no safe
    universal constant (the measured cost of fixed planes is in
    lsh_planes_for_corpus's docstring). ``expected_count``
    is caller config, like ``dim``: no Spark action at construction.
    """
    from canal_phoenix_adapter_spark.operators.similarity import (
        EMBEDDING,
        VEC_ID,
        lsh_bucket_expr,
        nonzero_vecs,
    )

    if dim is None:
        raise ValueError("embedding_near_dup_pairs_lsh requires dim")
    if num_planes is None:
        if expected_count is None:
            raise ValueError(
                "size the LSH: pass expected_count (planes derived "
                "∝ log2(n)) or an explicitly-sized num_planes — fixed "
                "planes at growing n is the measured ~n^2 cliff"
            )
        num_planes = lsh_planes_for_corpus(expected_count, bands)
    if num_planes % bands:
        raise ValueError("bands must divide num_planes")
    rpb = num_planes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                lsh_bucket_expr(EMBEDDING, rpb, dim, first_plane=b * rpb).alias(
                    "bucket"
                ),
            )
            for b in range(bands)
        ]
    )
    banded = df.select(
        F.col(VEC_ID).alias("id"), F.explode(band_structs).alias("bb")
    ).select("id", "bb.band", "bb.bucket")
    # _pair_join persists the (id, band, bucket) longs, so the dim-wide
    # sign dot-products run once; vectors are never in that table.
    cand = _pair_join(banded, ["band", "bucket"], max_bucket)
    # norms once per VECTOR in the scan projection, not per candidate
    # pair — bit-identical value (same fold), ~1/3 of the pair math
    vecs = nonzero_vecs(df)
    return _ab_cosine_pairs(
        cand.join(vecs.alias("a"), F.col("id_a") == F.col("a.id"))
        .join(vecs.alias("b"), F.col("id_b") == F.col("b.id")),
        threshold,
    )


def _cc_iterate(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """ONE min-label propagation step of dup_clusters: exactly one
    equi-join (neighbor label lookup on dst == id) and one per-node
    min aggregate — both keyed on node id. This is the per-iteration
    cost model the 100 TB story relies on, pinned as a plan-shape
    test (tests/test_plans.py): a refactor that slips a second join,
    an extra aggregate, or a cartesian into the loop multiplies total
    work by the iteration count."""
    return (
        edges.join(labels, edges["dst"] == labels["id"])
        .groupBy("src")
        .agg(F.min("lbl").alias("lbl"))
        .select(F.col("src").alias("id"), "lbl")
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs: (id, cluster_id)
    where cluster_id = min id in the component. This is the step a
    real dedup pipeline runs between candidate-pair generation (any of
    the pair operators above) and keep-one-per-cluster — pairwise
    output alone over-deletes when A~B and B~C but A!~C.

    Pregel-style min-label propagation in pure DataFrame algebra: each
    iteration joins the label table to the symmetric edge list and
    takes the per-node min of neighbor labels. Iterations = graph
    diameter (near-dup clusters are shallow — boilerplate stars and
    short chains — so typically <5). Each iteration is fully
    distributed: one join + one groupBy, both keyed on node id; the
    driver sees only a per-iteration convergence scalar (the strictly
    decreasing label sum), never data. ``localCheckpoint`` truncates
    the iteration's lineage so the plan does not grow unboundedly —
    the standard Spark treatment for iterative algorithms. Each
    iteration's blocks (and the edge table's) are explicitly released
    once superseded; only the returned labels' checkpoint survives,
    caller-owned (freed on driver GC of the result).

    Only ids that appear in some pair are labeled; singleton docs are
    their own cluster by definition and need no rows here.

    Raises RuntimeError if the label sum is still falling after
    ``max_iters`` iterations: non-converged labels are internally
    inconsistent and keep_canonical over them silently
    under-deduplicates, so they must never be returned as if final.
    """
    # localCheckpoint blocks are NOT released by DataFrame.unpersist()
    # (the cache manager doesn't track them) — only by driver GC of
    # the underlying RDD. A long-lived driver calling dup_clusters
    # repeatedly would accumulate every iteration's blocks, so this
    # function releases its intermediates EXPLICITLY: it diffs the
    # persistent-RDD registry (via jvm_shim — the package's one
    # documented private-API seam; a no-op under Connect, where
    # release falls back to session GC) around each checkpoint and
    # unpersists the ids it created once the next iteration has
    # consumed them. Only the RETURNED labels' blocks survive —
    # caller-owned, freed on driver GC of the result (the module's
    # usual caller-owned-cache contract). The registry diff assumes
    # no concurrent persist from another driver thread mid-call.
    spark = pairs.sparkSession

    seen = persistent_rdd_ids(spark)

    def _ckpt(df: DataFrame) -> tuple[DataFrame, set[int]]:
        nonlocal seen
        out = df.localCheckpoint(eager=True)
        new = persistent_rdd_ids(spark) - seen
        seen |= new
        return out, new

    # The pair source is typically an EXPENSIVE subtree (an LSH
    # candidate self-join); fwd/rev/nodes/loops reference it 4-6 times
    # while edges and the initial labels materialize, so persist it
    # for the build and release it as soon as both are concrete.
    pairs = pairs.select(F.col(id_a), F.col(id_b)).persist()
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    rev = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    nodes = fwd.select("src").union(rev.select("src")).distinct()
    # Self-loops fold the node's OWN label into the same neighbor-min
    # aggregation, so each iteration is exactly one join + one groupBy
    # (no separate left-join merge step).
    loops = nodes.withColumn("dst", F.col("src"))
    edges, edges_ids = _ckpt(fwd.union(rev).union(loops).distinct())
    labels, prev_ids = _ckpt(
        nodes.select(F.col("src").alias("id"), F.col("src").alias("lbl"))
    )
    pairs.unpersist()
    # The witness sums labels in decimal(38,0): ids can be ~2^60
    # (the md5-derived id idiom), so an int64 sum overflows — and
    # under Spark's default ANSI mode that overflow RAISES mid-
    # clustering. Decimal keeps the sum exact (no double rounding
    # that could alias a non-fixpoint as converged) at any realistic
    # node count. The sum rides the checkpoint job as an observed
    # metric (CollectMetrics — computed in-flow, no shuffle, no plan
    # change downstream of the checkpoint): a separate agg-on-cache
    # job per iteration cost 2 AQE jobs × iterations (guide §1.2).
    _lbl_sum = F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
    prev_sum = labels.agg(_lbl_sum).first()[0]
    # max_iters + 1: convergence is only ever CONFIRMED by an extra
    # unchanged iteration, so a graph whose diameter is exactly
    # max_iters needs one more pass to prove its fixpoint — without
    # it, fully-converged labels would be rejected as non-converged.
    for _ in range(max_iters + 1):
        obs = Observation()
        labels, new_ids = _ckpt(
            _cc_iterate(edges, labels).observe(obs, _lbl_sum)
        )
        # The new checkpoint is eager, so the previous iteration's
        # blocks are no longer reachable through any returned plan —
        # free them now instead of waiting for driver GC.
        release_rdds(spark, prev_ids)
        prev_ids = new_ids
        # labels only ever decrease, so the sum is a strict-progress
        # witness: unchanged sum == fixpoint reached. The eager
        # checkpoint above already ran the action, so the metric get
        # cannot block.
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # Exhausting max_iters with the sum still falling means some
        # component's diameter exceeds the budget: the labels are
        # internally INCONSISTENT (a node can point at an intermediate
        # member, not the min), and keep_canonical over them silently
        # under-deduplicates. Refuse to return them.
        release_rdds(spark, edges_ids | prev_ids)
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iters} iterations "
            "(a component's diameter exceeds the budget); raise "
            "max_iters — near-dup graphs this deep usually mean a "
            "pathological boilerplate chain worth inspecting."
        )
    release_rdds(spark, edges_ids)
    return labels.select(F.col("id"), F.col("lbl").alias("cluster_id"))


def keep_canonical(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
) -> DataFrame:
    """Keep-one-per-cluster materialization: drop every row whose id
    appears in ``clusters`` with cluster_id != id (the min-id member
    is the canonical representative; singletons are untouched since
    they have no cluster row). One anti join, NOT force-broadcast:
    victims is one row per non-canonical doc, which scales with the
    corpus's duplicate rate (a 100 TB web crawl routinely carries
    30-50% duplicates — billions of rows, past any broadcast limit).
    AQE broadcasts it when it is actually small, exactly like the
    `sizes` table in ngram_jaccard_pairs."""
    victims = clusters.where(F.col("cluster_id") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(victims, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# Cross-document chunk dedup + IVF-cell semantic dedup
# ---------------------------------------------------------------------------


def chunk_crossdoc_stats(
    df: DataFrame, id_col: str, text_col: str, size: int = 8
) -> DataFrame:
    """Cross-document duplicate-chunk statistics: for each doc, how
    many of its fixed-size token chunks also appear in at least one
    OTHER document (the per-doc signal paragraph-level dedup filters
    on). Returns (id, n_chunks, n_dup_chunks).

    Scale shape: chunk explode -> per-doc distinct on 8-byte chunk
    hashes (text never shuffles) -> doc-frequency aggregate on the
    hash (map-side partial combine) -> join back ON THE SAME HASH KEY
    (partitioning reused, no extra exchange) -> one per-doc aggregate.
    No self-join anywhere: cost is linear in corpus chunks, so unlike
    pair enumeration this runs at any skew."""
    from canal_phoenix_adapter_spark.operators.text import doc_chunks

    hs = (
        doc_chunks(df, id_col, text_col, size)
        .select(F.col(id_col), md5_long(F.col("chunk")).alias("h"))
        .distinct()
    )
    dfreq = hs.groupBy("h").agg(F.count(F.lit(1)).alias("d"))
    return (
        hs.join(dfreq, on="h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("d") >= 2, 1).otherwise(0)).alias("n_dup_chunks"),
        )
    )


def semantic_dup_pairs_ivf(
    df: DataFrame,
    threshold: float = 0.4,
    max_bucket: int | None = DEFAULT_IVF_MAX_CELL,
    codebook: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-shaped semantic dedup: route embeddings to IVF coarse
    cells, then exact-cosine check pairs WITHIN each cell (id_a <
    id_b, cosine >= threshold). Complements the hyperplane-LSH
    variant: one cell per vector (no band explode, no DISTINCT needed
    — a pair can only meet once), recall comes from the quantizer
    putting near-identical vectors in the same cell.

    Scale shape: cell assignment is a scan-side projection; the only
    shuffle is the equi-join on cell. ``max_bucket`` caps degenerate
    cells (all-similar corpora collapse into few cells) exactly like
    the LSH band cap, ON by default — but at 256, not 16: IVF cells
    are coarse by design (expected size n/k), so the default is a
    degenerate-collapse guard bounding a cell at 64k comparisons, not
    a boilerplate filter. SIZING: over-cap cells DROP (recall falls,
    cost never goes n^2) — once n/k nears the cap, grow k with the
    corpus: ``codebook`` is that SIZED path (k = ivf_k_for_corpus(n),
    trained via ivf_train_codebook); same plan, cell := centroid.
    ivf_cell_occupancy reports what the cap is dropping — the loud
    recall-decay signal the LSH family gets from its sizing refusal."""
    from canal_phoenix_adapter_spark.operators.similarity import ivf_cells_base

    v = ivf_cells_base(df, codebook)
    if max_bucket is not None:
        # broadcast_hot: the over-cap key set is bounded by n/max_bucket
        # (static quantizer: <= 2*dim cells; sized codebook: k grows with
        # n but only cells EXCEEDING the cap are broadcast), so the
        # hot-cell anti-join side stays a small broadcast; the
        # vector-carrying table is filtered in place, never shuffled
        # (the cap's aggregate reads a cell-only projection).
        v = _cap_bucket_size(v, ["cell"], max_bucket, broadcast_hot=True)
    return _ab_cosine_pairs(
        v.alias("a").join(v.alias("b"), on="cell")
        .where(F.col("a.id") < F.col("b.id")),
        threshold,
    ).select("id_a", "id_b")


def ivf_cell_occupancy(
    df: DataFrame,
    max_bucket: int | None = DEFAULT_IVF_MAX_CELL,
    codebook: list[list[float]] | None = None,
) -> dict:
    """Make the IVF cap's silent recall decay LOUD:
    one aggregate pass over the SAME cells semantic_dup_pairs_ivf /
    knn_join_ivf route through (ivf_cells_base — same quantizer, same
    cap key), reporting how much of the corpus the over-cap drop is
    discarding. The LSH family refuses unsized calls at construction
    time; IVF training is a Spark action, so a construction-time
    refusal is impossible — this witness is the symmetric governance:
    run it at the corpus's growth cadence and grow k via
    ivf_k_for_corpus once dropped_fraction leaves zero. warnings.warn
    (RuntimeWarning) fires whenever anything is dropped, so the decay
    is loud even when the caller ignores the return value. Cost: one
    cell-projection aggregate (two map-side-combined exchanges of
    <= cells rows) — run deliberately, never inside plan construction.
    Returns rows / cells / mean_cell / max_cell / dropped_cells /
    dropped_rows / dropped_fraction."""
    from canal_phoenix_adapter_spark.operators.similarity import ivf_cells_base

    per = (
        ivf_cells_base(df, codebook)
        .groupBy("cell").agg(F.count(F.lit(1)).alias("__bs"))
    )
    over = F.lit(False) if max_bucket is None else F.col("__bs") > max_bucket
    r = per.agg(
        F.sum("__bs").alias("rows"),
        F.count(F.lit(1)).alias("cells"),
        F.max("__bs").alias("max_cell"),
        F.sum(F.when(over, F.col("__bs")).otherwise(0)).alias("dropped_rows"),
        F.sum(over.cast("int")).alias("dropped_cells"),
    ).collect()[0]
    rows = r["rows"] or 0
    rep = {
        "rows": rows,
        "cells": r["cells"],
        "mean_cell": rows / r["cells"] if r["cells"] else 0.0,
        "max_cell": r["max_cell"] or 0,
        "dropped_cells": r["dropped_cells"] or 0,
        "dropped_rows": r["dropped_rows"] or 0,
        "dropped_fraction": (r["dropped_rows"] or 0) / rows if rows else 0.0,
    }
    if rep["dropped_fraction"] > 0:
        import warnings

        warnings.warn(
            f"IVF cap {max_bucket} drops {rep['dropped_rows']}/{rows} vectors"
            f" ({rep['dropped_fraction']:.1%}) across {rep['dropped_cells']}"
            f" over-cap cells — recall is decaying; size the quantizer"
            f" (k = ivf_k_for_corpus(n)) and retrain",
            RuntimeWarning,
            stacklevel=2,
        )
    return rep


def ngram_overlap_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    max_df: int | None = DEFAULT_CONTAM_MAX_DF,
) -> DataFrame:
    """N-gram-overlap decontamination (the GPT-3 appendix method, done
    set-oriented): flag every TRAIN document sharing at least one
    word n-gram with ANY eval document. Returns (id, n_shared_ngrams,
    n_eval_docs_hit) per contaminated train doc.

    Unlike contamination_hits (substring probes, broadcast scan) this
    matches on tokenized n-grams, so it catches reflowed/partial
    copies that substring probes miss, and the eval side can be
    arbitrarily large: the join is an equi-join on 8-byte shingle
    hashes — never a broadcast of text, never a nested loop.

    Scale shape: both sides reduce to (id, hash) pairs (hash-first
    distinct, text never shuffles); the eval side additionally
    distincts to unique hashes. ``max_df`` drops train-side shingles
    present in more than that many train docs BEFORE the join — the
    usual hot-bucket guard (a stopword-run shared with one eval doc
    would otherwise fan out to every train doc containing it, which
    is exactly the d-fold blowup _cap_bucket_size exists for). The
    default is deliberately HIGH (10^4, not the Jaccard family's
    5/16): dropping a genuinely-contaminated shingle loses the
    operator's whole point, and an eval answer copied into even
    thousands of train docs stays under it — only corpus boilerplate
    (stopword runs in >10k docs) is cut."""
    t = (
        raw_shingles(train, id_col, text_col, n)
        .select(F.col(id_col), md5_long(F.col("shingle")).alias("sh"))
        .dropDuplicates([id_col, "sh"])
    )
    if max_df is not None:
        # persist before the cap: _cap_bucket_size reads t twice (size
        # aggregate + anti-join), and the train-side explode+hash+
        # distinct is the dominant cost at scale — same pattern (and
        # reason) as ngram_jaccard_pairs' staged persists
        t = _cap_bucket_size(t.persist(), ["sh"], max_df)
    e = (
        raw_shingles(eval_df, id_col, text_col, n)
        .select(F.col(id_col).alias("__eid"), md5_long(F.col("shingle")).alias("sh"))
        .dropDuplicates(["__eid", "sh"])
    )
    hits = t.join(e, on="sh")
    # countDistinct on sh: a train n-gram shared with k eval docs is
    # ONE shared n-gram, not k (the join emits k rows for it).
    return hits.groupBy(id_col).agg(
        F.countDistinct("sh").alias("n_shared_ngrams"),
        F.countDistinct("__eid").alias("n_eval_docs_hit"),
    )


def minhash_lsh_incremental(
    new_df: DataFrame,
    index_df: DataFrame | None,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    n: int = 4,
    max_bucket: int | None = DEFAULT_LSH_MAX_BUCKET,
    index_buckets: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup: candidate pairs between NEW documents and
    an existing INDEX corpus — the daily-ingest shape (dedup today's
    crawl against everything already kept) where re-running the full
    self-join over the whole corpus would be O(corpus) work for an
    O(new) change.

    Output: distinct (new_id, index_id) pairs sharing >= 1 band
    bucket. New-vs-new duplicates are NOT emitted — run
    minhash_lsh_candidates on the (much smaller) new batch for those.

    Scale shape: banding runs over each side independently, and the
    index side's bucket table is the thing a production system
    persists between runs — pass it via ``index_buckets`` (shape
    (id, band, bh), produced by minhash_band_buckets with the SAME
    num_perm/bands/n) and ``index_df=None`` to skip re-banding the
    whole corpus: the run is then O(new batch) work plus one bucket
    join. The join is an equi-join on (band, bh) whose left side is
    only the new batch. ``max_bucket`` caps hot INDEX buckets (a
    boilerplate band bucket with d index members costs d rows per
    colliding new doc)."""
    if (index_df is None) == (index_buckets is None):
        raise ValueError("pass exactly one of index_df / index_buckets")
    nb = minhash_band_buckets(new_df, id_col, text_col, num_perm, bands, n)
    ib = (
        index_buckets
        if index_buckets is not None
        else minhash_band_buckets(index_df, id_col, text_col, num_perm, bands, n)
    )
    if max_bucket is not None:
        ib = ib.persist()
        ib = _cap_bucket_size(ib, ["band", "bh"], max_bucket)
    return (
        nb.alias("x")
        .join(ib.alias("y"), on=["band", "bh"])
        # a doc present on BOTH sides under the same id (a re-crawl of
        # an already-indexed url) is trivially near-dup of itself —
        # noise downstream cluster/keep logic would then carry
        .where(F.col("x.id") != F.col("y.id"))
        .select(F.col("x.id").alias("new_id"), F.col("y.id").alias("index_id"))
        .dropDuplicates()
    )
