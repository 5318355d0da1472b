"""Extension-operator unit tests: dedup/similarity/text/multimodal
semantics on hand-built fixtures (the oracle gate covers the real
tables; these pin the edge behavior)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from canal_phoenix_adapter_spark.operators import dedup, multimodal, similarity
from canal_phoenix_adapter_spark.operators import text as text_ops


def docs_df(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (3, "the quick brown fox jumps over a lazy dog"),    # near dup
            (4, "completely different words entirely here now"),
        ],
        "doc_id long, text string",
    )


def test_exact_dedup_keeps_min_id(spark):
    out = dedup.exact_dedup(docs_df(spark), "doc_id", "text")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4]


def test_exact_dup_groups(spark):
    out = {r["keeper_id"]: r["n_dups"] for r in
           dedup.exact_dup_groups(docs_df(spark), "doc_id", "text").collect()}
    assert out[1] == 2 and out[3] == 1 and out[4] == 1


def test_ngram_jaccard_detects_near_dup(spark):
    pairs = dedup.ngram_jaccard_pairs(
        docs_df(spark), "doc_id", "text", n=2, threshold=0.3, max_df=None
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0           # identical docs
    assert 0.3 <= got[(1, 3)] < 1.0     # near dup
    assert (1, 4) not in got and (3, 4) not in got


def test_minhash_identical_docs_same_signature(spark):
    sig = dedup.minhash_signatures(docs_df(spark), "doc_id", "text", num_perm=8, n=2)
    rows = {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(8)) for r in sig.collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[4]


def test_minhash_lsh_finds_exact_dups(spark):
    cands = dedup.minhash_lsh_candidates(
        docs_df(spark), "doc_id", "text", num_perm=8, bands=4, n=2
    )
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 2) in pairs


def test_simhash_identical_docs_equal(spark):
    out = {r["doc_id"]: r["simhash"] for r in
           dedup.simhash32(docs_df(spark), "doc_id", "text").collect()}
    assert out[1] == out[2]
    assert 0 <= out[1] < 2**32


def hamming(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def test_simhash_near_dup_close(spark):
    out = {r["doc_id"]: r["simhash"] for r in
           dedup.simhash32(docs_df(spark), "doc_id", "text").collect()}
    assert hamming(out[1], out[3]) < hamming(out[1], out[4])


def vec_df(spark):
    # v2 = v1 (dup); v3 close to v1; v4 orthogonal-ish
    return spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )


def test_cosine_topk_ranks_duplicates_first(spark):
    out = similarity.cosine_topk(vec_df(spark), num_queries=1, k=3).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [1, 2, 3]


def test_embedding_near_dup_pairs(spark):
    pairs = dedup.embedding_near_dup_pairs(vec_df(spark), threshold=0.95)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got and (0, 3) not in got


def test_lsh_buckets_collide_for_identical(spark):
    b = {r["id"]: r["bucket"] for r in vec_df(spark).select(
        F.col("vec_id").alias("id"),
        similarity.lsh_bucket_expr("embedding", 4, 4).alias("bucket"),
    ).collect()}
    assert b[0] == b[1]


def test_lsh_buckets_require_dim():
    """No Spark action during construction: dim probing was removed,
    the operator must refuse rather than run a job."""
    import pytest

    with pytest.raises(ValueError, match="dim"):
        similarity.ann_topk_lsh(None)
    with pytest.raises(ValueError, match="dim"):
        dedup.embedding_near_dup_pairs_lsh(None)


def test_embedding_near_dup_lsh_matches_all_pairs_on_dups(spark):
    """The bucketed path finds the identical-vector pair (identical
    vectors land in the same bucket by construction) and never emits a
    below-threshold pair."""
    pairs = dedup.embedding_near_dup_pairs_lsh(
        vec_df(spark), threshold=0.95, num_planes=4, dim=4
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got and (0, 3) not in got


def test_minhash_lsh_max_bucket_drops_hot_buckets(spark):
    """With max_bucket=1 every band bucket holding both identical docs
    is dropped, so the (1,2) candidate disappears; with max_bucket=2
    it survives."""
    capped1 = dedup.minhash_lsh_candidates(
        docs_df(spark), "doc_id", "text", num_perm=8, bands=4, n=2, max_bucket=1
    )
    assert {(r["id_a"], r["id_b"]) for r in capped1.collect()} == set()
    capped2 = dedup.minhash_lsh_candidates(
        docs_df(spark), "doc_id", "text", num_perm=8, bands=4, n=2, max_bucket=2
    )
    assert (1, 2) in {(r["id_a"], r["id_b"]) for r in capped2.collect()}


def test_simhash_pairs_max_bucket_drops_hot_buckets(spark):
    uncapped = dedup.simhash_hamming_pairs(
        docs_df(spark), "doc_id", "text", max_dist=3, bands=4, max_bucket=None
    )
    assert (1, 2) in {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    capped = dedup.simhash_hamming_pairs(
        docs_df(spark), "doc_id", "text", max_dist=3, bands=4, max_bucket=1
    )
    assert {(r["id_a"], r["id_b"]) for r in capped.collect()} == set()


def test_simhash_pairs_persist_only_sketch_and_capped_buckets(spark):
    """The simhash path persists exactly TWO tables per call — the
    sketch and the post-cap bucket table. The pre-cap band explode
    recomputes cheaply from the cached sketch, so the shared
    _pair_join must not add a third caller-owned cache handle for it
    (r13 ADVICE: memory growth per call, not correctness)."""
    from canal_phoenix_adapter_spark.jvm_shim import persistent_rdd_ids

    spark.catalog.clearCache()
    before = persistent_rdd_ids(spark)
    dedup.simhash_hamming_pairs(
        docs_df(spark), "doc_id", "text", max_dist=3, bands=4, max_bucket=2
    ).count()
    assert len(persistent_rdd_ids(spark) - before) == 2


def test_lang_id_and_quality(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "der hund und die katze ist da"),
            (3, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    langs = {r["doc_id"]: r["p"] for r in
             df.select("doc_id", text_ops.lang_id(F.col("text")).alias("p")).collect()}
    assert langs == {1: "en", 2: "de", 3: "und"}
    q = {r["doc_id"]: r for r in
         text_ops.quality_features(df, "doc_id", "text").collect()}
    assert q[1]["stopword_ratio"] > q[3]["stopword_ratio"]
    assert q[1]["n_tokens"] == 8


def test_quality_features_degenerate_docs_not_nan(spark):
    """Empty and whitespace-only docs must score 0.0, not NaN: NaN
    sorts greater than every double in Spark, so a NaN quality would
    pass every quality>=cut filter and poison per-group quantile
    thresholds. NULL text stays NULL."""
    import math

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None)], "doc_id long, text string"
    )
    q = {r["doc_id"]: r for r in
         text_ops.quality_features(df, "doc_id", "text").collect()}
    for d in (1, 2):
        for c in ("stopword_ratio", "punct_ratio", "digit_ratio", "quality"):
            assert q[d][c] == 0.0 and not math.isnan(q[d][c]), (d, c, q[d][c])
    assert all(
        q[3][c] is None
        for c in ("stopword_ratio", "punct_ratio", "digit_ratio", "quality")
    )


def test_carry_columns_are_pure_plumbing(spark):
    """The r6 ``carry`` parameter on boilerplate_strip / pii_scrub /
    quality_features must be PURE plumbing: for every op, the carried
    output equals the carry-free output joined back to the source's
    carry columns — same rows, same values, nothing dropped or
    duplicated by the first()-reassembly or the pass-through
    projections."""
    docs = spark.createDataFrame(
        [(1, "en", "alpha beta gamma delta epsilon zeta eta theta "
                    "iota kappa " * 3),
         (2, "de", "alpha beta gamma delta epsilon zeta eta theta "
                    "unique words here"),
         (3, None, "totally different content with e@x.com inside"),
         (4, "fr", None)],
        "doc_id long, lang string, text string",
    )

    def canon(df):
        return sorted(
            (tuple(r) for r in df.collect()),
            key=lambda t: tuple((v is None, str(v)) for v in t),
        )

    for op, kw in [
        (text_ops.boilerplate_strip, {"size": 4, "max_df": 1}),
        (text_ops.pii_scrub, {}),
        (text_ops.quality_features, {}),
    ]:
        carried = op(docs, "doc_id", "text", carry=("lang",), **kw)
        joined = op(docs, "doc_id", "text", **kw).join(
            docs.select("doc_id", "lang"), on="doc_id"
        )
        cols = sorted(carried.columns)
        assert sorted(joined.columns) == cols, op.__name__
        assert canon(carried.select(*cols)) == canon(joined.select(*cols)), (
            op.__name__
        )


def test_carry_collision_raises(spark):
    """A carry name matching a generated column (or the id) must fail
    loudly at plan-build time, not produce duplicate/ambiguous output
    columns (ADVICE r6)."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "alpha beta", 7)], "doc_id long, text string, pos long"
    )
    for op, bad in [
        (text_ops.quality_features, "quality"),
        (text_ops.pii_scrub, "n_ips"),
        (text_ops.doc_chunks, "pos"),
        (text_ops.boilerplate_strip, "text_clean"),
    ]:
        with pytest.raises(ValueError, match=f"carry columns \\['{bad}'\\]"):
            op(docs, "doc_id", "text", carry=(bad,))
        with pytest.raises(ValueError, match="doc_id"):
            op(docs, "doc_id", "text", carry=("doc_id",))
        # Spark resolves names case-insensitively: 'Quality' vs
        # 'quality' is the same downstream ambiguity
        with pytest.raises(ValueError, match="carry columns"):
            op(docs, "doc_id", "text", carry=(bad.upper(),))


def test_carry_collision_respects_case_sensitive_session(spark):
    """Under spark.sql.caseSensitive=true a case-differing carry name
    is a legitimately distinct column — the guard must let it through
    (and still reject an exact-name clash) (ADVICE r7)."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "alpha beta", 0.5)], "doc_id long, text string, QUALITY double"
    )
    orig = spark.conf.get("spark.sql.caseSensitive", "false")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        out = text_ops.quality_features(docs, "doc_id", "text",
                                        carry=("QUALITY",))
        assert {"QUALITY", "quality"} <= set(out.columns)
        assert out.count() == 1
        with pytest.raises(ValueError, match="carry columns"):
            text_ops.quality_features(docs, "doc_id", "text",
                                      carry=("quality",))
    finally:
        spark.conf.set("spark.sql.caseSensitive", orig)


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "Hello, world 42!")], "doc_id long, text string")
    r = df.select(
        text_ops.token_count_ws(F.col("text")).alias("ws"),
        text_ops.token_count_bpe(F.col("text")).alias("bpe"),
    ).first()
    assert r["ws"] == 3
    # Hello , world 42 ! -> 5 BPE-ish tokens
    assert r["bpe"] == 5


def test_repetition_features(spark):
    df = spark.createDataFrame(
        [
            # 4 non-empty lines, 2 distinct -> dup_line_frac 0.5;
            # 8 tokens -> 7 bigrams, "spam spam" x3 -> top frac 3/7
            (1, "spam spam\nspam spam\n\nham eggs\nham eggs"),
            # no repeated lines or bigrams
            (2, "one two three four"),
            # single token: no bigrams at all
            (3, "lonely"),
            # empty doc: no lines, no bigrams
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           text_ops.repetition_features(df, "doc_id", "text").collect()}
    assert out[1]["n_lines"] == 4 and out[1]["dup_line_frac"] == 0.5
    assert out[1]["n_bigrams"] == 7 and out[1]["top_bigram_frac"] == 3.0 / 7
    assert out[2]["dup_line_frac"] == 0.0 and out[2]["top_bigram_frac"] == 1.0 / 3
    assert out[3]["n_bigrams"] == 0 and out[3]["top_bigram_frac"] == 0.0
    assert out[4]["n_lines"] == 0 and out[4]["dup_line_frac"] == 0.0
    assert len(out) == 4


def test_fingerprint_stable_and_shift_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghij"), (3, "abcdefghiX")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["fp"] for r in
          df.select("doc_id", text_ops.fingerprint(F.col("text")).alias("fp")).collect()}
    assert fp[1] == fp[2]
    assert len(fp[1]) == 32


def test_multimodal_features_match_payload(spark):
    docs = spark.createDataFrame(
        [(0, "abc", 3), (1, "hello", 5), (2, "", 0)],
        "doc_id long, text string, n_chars long",
    )
    media = multimodal.as_media_table(docs)
    feats = {r["doc_id"]: r for r in multimodal.extract_features(media).collect()}
    assert feats[0]["n_bytes"] == 3 and feats[0]["first_byte"] == ord("a")
    assert feats[0]["byte_sum_mod"] == (ord("a") + ord("b") + ord("c")) % 997
    assert feats[2]["n_bytes"] == 0 and feats[2]["first_byte"] == -1
    assert feats[1]["media_type"] == "audio"  # doc_id 1 -> index 2


def test_multimodal_features_null_payload(spark):
    """A NULL payload must yield NULL features, not a len(None)
    TypeError that kills the whole mapInPandas job."""
    from pyspark.sql import types as T

    media = spark.createDataFrame(
        [(0, "image", b"ab"), (1, "image", None)],
        T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("media_type", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]),
    )
    feats = {r["doc_id"]: r for r in multimodal.extract_features(media).collect()}
    assert feats[0]["n_bytes"] == 2
    assert feats[1]["n_bytes"] is None
    assert feats[1]["first_byte"] is None and feats[1]["byte_sum_mod"] is None


def test_decode_image_refuses_unknown_formats_at_decode_time(spark):
    """The honest-refusal path survives the stdlib default codec: a
    payload that is not binary PPM raises NotImplementedError inside
    the decode (surfacing at action time), never fake features."""
    import pytest

    docs = spark.createDataFrame([(0, "x", 1)], "doc_id long, text string, n_chars long")
    media = multimodal.as_media_table(docs)  # payload b"x": not P6
    with pytest.raises(Exception, match="PPM"):
        multimodal.decode_image(media).collect()


def _ppm_bytes(w, h, pixels, header=b"P6\n# a comment\n%d %d\n255\n"):
    return header % (w, h) + bytes(v for px in pixels for v in px)


def test_ppm_decode_pure():
    """ppm_decode parses the netpbm P6 grammar (comments, arbitrary
    header whitespace) to [h, w, mean_r, mean_g, mean_b]; truncation
    and non-8-bit maxval refuse loudly."""
    import pytest

    img = _ppm_bytes(2, 1, [(255, 0, 0), (0, 0, 255)])
    assert multimodal.ppm_decode(img) == [1.0, 2.0, 127.5, 0.0, 127.5]
    # comment between tokens + CRLF
    tricky = b"P6 2 # width\r\n1\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    assert multimodal.ppm_decode(tricky) == [1.0, 2.0, 25.0, 35.0, 45.0]
    with pytest.raises(ValueError, match="truncated PPM raster"):
        multimodal.ppm_decode(img[:-1])
    with pytest.raises(NotImplementedError, match="maxval"):
        multimodal.ppm_decode(b"P6\n1 1\n65535\n" + bytes(6))
    with pytest.raises(NotImplementedError, match="P6"):
        multimodal.ppm_decode(b"P3\n1 1\n255\n0 0 0")
    # 0x0 passed the truncation check and hit ZeroDivisionError in the
    # mean before the dimension guard (r10 review)
    with pytest.raises(ValueError, match="dimensions"):
        multimodal.ppm_decode(b"P6 0 0 255\n")
    with pytest.raises(ValueError, match="dimensions"):
        multimodal.ppm_decode(b"P6 -1 2 255\n" + bytes(6))
    # CRLF after maxval shifted the raster slice one byte and silently
    # corrupted every channel mean; '#' there did the same. Both now
    # fail loudly per the decoder's contract (r10 ADVICE, verified).
    with pytest.raises(ValueError, match="separator"):
        multimodal.ppm_decode(b"P6 2 2 255\r\n" + bytes(12))
    with pytest.raises(ValueError, match="separator"):
        multimodal.ppm_decode(b"P6 2 2 255# c\n" + bytes(12))
    # but a LONE CR is spec-valid netpbm whitespace (r12 ADVICE): the
    # raster starts immediately after it, nothing shifts.
    lone_cr = b"P6 2 1 255\r" + bytes([11, 20, 30, 40, 50, 60])
    assert multimodal.ppm_decode(lone_cr) == [1.0, 2.0, 25.5, 35.0, 45.0]
    # a lone-CR raster whose FIRST byte is genuinely 0x0A is byte-
    # ambiguous with a CRLF writer; LENGTH disambiguates (r13 ADVICE):
    # exactly 3wh bytes after the CR means the CRLF reading is one
    # byte short, so the CR reading is the only valid parse — accepted
    assert multimodal.ppm_decode(
        b"P6 2 1 255\r" + bytes([10, 20, 30, 40, 50, 60])
    ) == [1.0, 2.0, 25.0, 35.0, 45.0]
    # while a true CRLF writer (3wh bytes AFTER the \n) stays refused
    with pytest.raises(ValueError, match="CRLF"):
        multimodal.ppm_decode(b"P6 2 1 255\r\n" + bytes([10] * 6))


def test_decode_image_default_codec_end_to_end(spark):
    """decode_image with NO injected decoder decodes a real P6 fixture
    through the full mapInPandas path to (h, w, mean_rgb) — the r9
    verdict's done-criterion for the stdlib codec."""
    from pyspark.sql import types as T

    img = _ppm_bytes(4, 2, [(i * 8, 255 - i * 8, 128) for i in range(8)])
    media = spark.createDataFrame(
        [(0, "image", img), (1, "audio", b"zz"), (2, "image", None)],
        T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("media_type", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]),
    )
    out = {r["doc_id"]: r["features"]
           for r in multimodal.decode_image(media).collect()}
    assert set(out) == {0, 2}  # audio routed away; NULL payload kept as NULL
    assert out[0] == [2.0, 4.0, 28.0, 227.0, 128.0]
    assert out[2] is None


def test_decode_image_with_injected_decoder(spark):
    """decode_image's Arrow plumbing end-to-end with a deterministic
    fake codec: only image rows decode, the bytes->vector callable
    runs inside mapInPandas, NULL payloads come back as NULL
    vectors."""
    from pyspark.sql import types as T

    media = spark.createDataFrame(
        [(0, "image", b"ab"), (1, "audio", b"zz"), (2, "image", None),
         (3, "image", b"")],
        T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("media_type", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]),
    )

    def fake_decoder(b: bytes) -> list[float]:
        return [float(len(b))] + [float(x) for x in b[:2]]

    out = {r["doc_id"]: r["features"]
           for r in multimodal.decode_image(media, decoder=fake_decoder).collect()}
    assert set(out) == {0, 2, 3}  # audio row routed away before decode
    assert out[0] == [2.0, float(ord("a")), float(ord("b"))]
    assert out[2] is None  # NULL payload -> NULL vector, job survives
    assert out[3] == [0.0]


def test_simhash_hamming_pairs_finds_identical_docs(spark):
    from canal_phoenix_adapter_spark.operators.dedup import simhash_hamming_pairs

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "completely different words entirely here")],
        "doc_id bigint, text string",
    )
    pairs = simhash_hamming_pairs(df, "doc_id", "text").collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    assert all(r["hamming"] == 0 for r in pairs if r["id_a"] == 1)


@pytest.mark.parametrize("width", [32, 64, 128])
def test_simhash_uncapped_pairs_equal_bruteforce_hamming(spark, width):
    """Pigeonhole completeness, witnessed INDEPENDENTLY of the banding
    code (the DuckDB oracle replicates the engine's band extraction,
    so a shared banding misconception would pass parity): with the cap
    off, the operator's pairs must be EXACTLY the all-pairs set with
    sketch hamming <= max_dist, computed driver-side from the engine's
    own sketches. max_dist < bands guarantees no recall loss by the
    pigeonhole principle; a band-extraction bug (wrong shift, mask,
    trailing bits dropped) breaks that equality."""
    import itertools
    import random

    rng = random.Random(11)
    words = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(24):
        base = [rng.choice(words) for _ in range(12)]
        rows.append((2 * i, " ".join(base)))
        if i % 3 == 0:  # exact duplicate: hamming 0 at ANY width
            rows.append((2 * i + 1, " ".join(base)))
        elif i % 3 == 1:  # one token swapped: small nonzero hamming
            base[rng.randrange(12)] = rng.choice(words)
            rows.append((2 * i + 1, " ".join(base)))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    raw = dedup._simhash(df, "doc_id", "text", width).collect()
    if width == 128:  # two-long sketch: recombine driver-side
        sk = {r["doc_id"]: (r["simhash_lo"] & (2 ** 64 - 1))
              | ((r["simhash_hi"] & (2 ** 64 - 1)) << 64) for r in raw}
    else:
        sk = {r["doc_id"]: r["simhash"] for r in raw}
    expected = {
        (a, b)
        for a, b in itertools.combinations(sorted(sk), 2)
        if bin((sk[a] ^ sk[b]) & ((1 << width) - 1)).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_hamming_pairs(
            df, "doc_id", "text", max_dist=3, bands=4,
            max_bucket=None, width=width,
        ).collect()
    }
    assert expected, "corpus produced no hamming<=3 pairs (vacuous)"
    assert got == expected


def test_simhash_hamming_pairs_rejects_bad_bands():
    import pytest as _pytest

    from canal_phoenix_adapter_spark.operators.dedup import simhash_hamming_pairs

    with _pytest.raises(ValueError):
        simhash_hamming_pairs(None, "id", "t", max_dist=4, bands=4)


def test_ivf_cells_deterministic_and_signed(spark):
    from canal_phoenix_adapter_spark.operators.similarity import ivf_cell_expr

    df = spark.createDataFrame(
        [(0, [0.1, -0.9, 0.2]), (1, [0.1, 0.9, 0.2]), (2, [0.95, 0.1, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    cells = {r["vec_id"]: r["cell"] for r in df.select(
        "vec_id", ivf_cell_expr("embedding").alias("cell")).collect()}
    # dim index is 1-based; cell = idx*2 + (1 if negative else 0)
    assert cells == {0: 5, 1: 4, 2: 2}


def test_range_split_slices_are_disjoint_exhaustive(spark):
    from canal_phoenix_adapter_spark.operators.etl import range_split_stats

    df = spark.createDataFrame([(i,) for i in range(1, 101)], "k bigint")
    rows = {r["slice_id"]: r for r in range_split_stats(df, "k", 3).collect()}
    assert sorted(rows) == [0, 1, 2]
    assert sum(r["n_rows"] for r in rows.values()) == 100
    assert rows[0]["lo_key"] == 1 and rows[2]["hi_key"] == 100
    assert rows[0]["hi_key"] < rows[1]["lo_key"] <= rows[1]["hi_key"] < rows[2]["lo_key"]


def test_ngram_jaccard_max_df_drops_hot_shingles(spark):
    """max_df bounds the shingle join: with max_df=2 a boilerplate
    shingle shared by all 3 docs is dropped, so the only surviving
    pair is the true near-dup sharing rare shingles too."""
    from canal_phoenix_adapter_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over lazy dogs daily"),
            (2, "the quick brown fox jumps over lazy dogs nightly"),
            (3, "the quick brown fox sits under a tree quietly"),
        ],
        "doc_id long, text string",
    )
    unfiltered = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.05, max_df=None)
    got_all = {(r["id_a"], r["id_b"]) for r in unfiltered.collect()}
    assert (1, 2) in got_all and (1, 3) in got_all
    filtered = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.05, max_df=2)
    got = {(r["id_a"], r["id_b"]) for r in filtered.collect()}
    assert (1, 2) in got and (1, 3) not in got


def test_dup_clusters_chain_cycle_and_star(spark):
    """Min-label components: a chain (1-2-3), a cycle (4-5-6-4), a
    star (7-8, 7-9), an isolated pair (10-11)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6), (6, 4), (7, 8), (7, 9), (10, 11)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["cluster_id"] for r in dedup.dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4, 7: 7, 8: 7, 9: 7, 10: 10, 11: 10}


def test_dup_clusters_raises_on_non_convergence(spark):
    """A component deeper than the iteration budget must RAISE, not
    return internally inconsistent labels (keep_canonical over them
    silently under-deduplicates)."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_clusters(chain, max_iters=2)
    # diameter == max_iters is NOT non-convergence: the fixpoint is
    # reached on the last productive iteration and confirmed by the
    # one extra pass the loop allows — must return, not raise
    got = {r["id"]: r["cluster_id"]
           for r in dedup.dup_clusters(chain, max_iters=7).collect()}
    assert got == {i: 1 for i in range(1, 9)}


def test_keep_canonical_drops_non_representatives(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(1, 7)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    clusters = dedup.dup_clusters(pairs)
    kept = dedup.keep_canonical(docs, clusters, "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 4, 5]


def test_salted_join_matches_plain_join(spark):
    """Salting must not change results — only the physical key space.
    One hot key (0) dominating the fact side; dim side replicated."""
    from pyspark.sql import functions as F

    from canal_phoenix_adapter_spark.functions.skew import salted_join

    fact = spark.createDataFrame(
        [(i % 3 if i % 10 else 0, i, f"v{i}") for i in range(200)],
        "k long, seq long, payload string",
    )
    dim = spark.createDataFrame([(0, "zero"), (1, "one"), (2, "two"), (7, "seven")], "k long, name string")

    plain = fact.join(dim, on=["k"]).select("k", "seq", "name")
    salted = salted_join(fact, dim, on=["k"], num_salts=8).select("k", "seq", "name")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))

    # left join keeps unmatched fact rows exactly once
    fact2 = fact.union(spark.createDataFrame([(99, 999, "orphan")], fact.schema))
    plain_l = fact2.join(dim, on=["k"], how="left").select("k", "seq", "name")
    salted_l = salted_join(fact2, dim, on=["k"], how="left", num_salts=8).select("k", "seq", "name")
    assert sorted(map(tuple, salted_l.collect(), )) == sorted(map(tuple, plain_l.collect()))

    # the internal salt column must not leak into the output (salt
    # KEYING itself is asserted in test_salted_join_spreads_hot_key)
    with_salt = salted_join(fact, dim, on=["k"], num_salts=8)
    assert "__salt" not in with_salt.columns


def test_salted_join_pmods_caller_salt_and_rejects_bad_num_salts(spark):
    """The docstring invites a raw row-unique id as salt_expr; values
    outside [0, num_salts) matched no replica and an inner join
    silently DROPPED those rows (r10 review). salted_join must pmod
    any caller salt — including bigints past 2^31 — and refuse
    num_salts < 1 loudly."""
    import pytest
    from pyspark.sql import functions as F

    from canal_phoenix_adapter_spark.functions.skew import salted_join

    fact = spark.createDataFrame(
        # includes a NULL rowid: pmod(NULL) is a NULL join key — the
        # same silent drop one level up (r10 fix-review)
        [(i % 2, 2**31 + i) for i in range(40)] + [(0, None)],
        "k long, rowid long",
    )
    dim = spark.createDataFrame([(0, "zero"), (1, "one")], "k long, name string")
    plain = fact.join(dim, on=["k"]).select("k", "rowid", "name")
    salted = salted_join(
        fact, dim, on=["k"], num_salts=8, salt_expr=F.col("rowid")
    ).select("k", "rowid", "name")
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731 - None-safe sort
    assert sorted(map(tuple, salted.collect()), key=key) == sorted(
        map(tuple, plain.collect()), key=key
    )
    with pytest.raises(ValueError, match="num_salts"):
        salted_join(fact, dim, on=["k"], num_salts=0)


def test_salted_join_spreads_hot_key(spark):
    """The hot key's rows must receive more than one distinct salt —
    the whole point of the exercise. Asserts salted_join's ACTUAL
    default expression (default_salt — not a hand copy the
    implementation could drift from) and that the join plan really
    keys on the salt column."""
    from canal_phoenix_adapter_spark.functions.skew import (
        SALT_COL,
        default_salt,
        salted_join,
    )
    from plan_helpers import explain_str

    fact = spark.createDataFrame(
        [(0, i, f"v{i}") for i in range(64)], "k long, seq long, payload string"
    )
    n = fact.select(
        default_salt(fact, ["k"], 8).alias("s")
    ).distinct().count()
    assert n > 1, "default salt is constant over the hot key's rows"

    dim = spark.createDataFrame([(0, "zero")], "k long, label string")
    joined = salted_join(fact, dim, on=["k"], num_salts=8)
    assert SALT_COL in explain_str(joined), "join does not key on the salt"


def test_frame_sample_plumbing(spark):
    """Every-n frame sampling: correct index stride, byte offsets,
    non-video rows excluded, and a payload with zero complete frames
    yields NO rows (no phantom frame 0 hashing a partial slice)."""
    docs = spark.createDataFrame(
        [
            (2, "x" * 70),   # video (2 % 3 == 2): 70//16=4 frames, idx 0..3 step 4 -> [0]
            (5, "y" * 200),  # video: 12 frames -> idx 0,4,8
            (8, "short"),    # video, < 16 bytes: 0 complete frames -> no rows
            (11, ""),        # video, empty payload -> no rows
            (1, "z" * 200),  # audio: excluded
        ],
        "doc_id long, text string",
    ).withColumn("n_chars", F.length("text"))
    from canal_phoenix_adapter_spark.operators.multimodal import as_media_table, frame_sample

    out = frame_sample(as_media_table(docs), every_n=4, frame_bytes=16)
    got = {(r["doc_id"], r["frame_idx"], r["byte_offset"]) for r in out.collect()}
    assert got == {(2, 0, 1), (5, 0, 1), (5, 4, 65), (5, 8, 129)}


def test_ivf_k_for_corpus_anchors():
    """The sized-k rule, pinned at the measured anchor scales
    (SCALE.md r12: static-k uncapped measured 7.29x wall at 103x
    output over the 20k->200k embedding decade; capped recall decays
    past k*max_cell): k = ceil(2n/256) floor 8 -> mean cell 128 with
    2x skew headroom under the 256 cap. A drifted constant (the
    default-switch mutation) moves every anchor."""
    assert similarity.ivf_k_for_corpus(100) == 8          # floor
    assert similarity.ivf_k_for_corpus(2_000) == 16       # gate corpus
    assert similarity.ivf_k_for_corpus(20_000) == 157     # sf1 octave
    assert similarity.ivf_k_for_corpus(200_000) == 1563   # 7.29x probe scale
    assert similarity.ivf_k_for_corpus(2_000, max_cell=16) == 250


def test_ivf_train_small_k_avoids_column_composed_join(spark, monkeypatch):
    """Training's per-iteration cost at small k is driver-side py4j
    plan construction, so at k <= LITERAL_CODEBOOK_MAX training
    submits the SQL-text iteration and the Arrow kernel must NOT run;
    and the SQL-trained codebook equals the Arrow-trained one on
    tie-free data (q6 quantization absorbs the summation order)."""
    rows = [(i, [((i * 31 + j) % 17) / 3.0 + (5.0 if i % 2 else -5.0)
                 for j in range(4)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    monkeypatch.setattr(similarity, "LITERAL_CODEBOOK_MAX", 0)
    via_arrow = similarity.ivf_train_codebook(df, k=2, iters=2)

    def _boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("small-k training must not run the Arrow kernel")

    monkeypatch.setattr(similarity, "LITERAL_CODEBOOK_MAX", 64)
    monkeypatch.setattr(similarity, "_arrow_cells", _boom)
    assert similarity.ivf_train_codebook(df, k=2, iters=2) == via_arrow


def test_arrow_cells_agree_with_fold_kernels(spark, monkeypatch):
    """The Arrow BLAS assignment (k past LITERAL_CODEBOOK_MAX) must
    agree with the literal fold reference assign_cells away from
    exact distance ties — same argmin, first-min tie rule; and a NULL
    vector maps to a NULL cell instead of crashing the batch."""
    cb = [[float((i * 7 + j * 3) % 11) / 7.0 for j in range(8)]
          for i in range(6)]
    df = spark.createDataFrame(
        [(i, [((i * 31 + j) % 17) / 3.0 for j in range(8)])
         for i in range(60)] + [(99, None)],
        "vec_id long, embedding array<float>",
    )
    fold = {r["vec_id"]: r["cell"] for r in df.where(
        "embedding IS NOT NULL").select(
        "vec_id", similarity.assign_cells("embedding", cb).alias("cell")
    ).collect()}
    vecs = df.where("vec_id < 24 AND embedding IS NOT NULL")
    fold_trained = similarity.ivf_train_codebook(vecs, k=2, iters=2)
    monkeypatch.setattr(similarity, "LITERAL_CODEBOOK_MAX", 0)
    arrow = {r["vec_id"]: r["cell"] for r in similarity.with_codebook_cells(
        df, cb, "embedding").select("vec_id", "cell").collect()}
    assert arrow[99] is None
    assert {i: c for i, c in arrow.items() if i != 99} == fold
    # the row-chunked kernel (sized-k memory bound) assigns
    # identically: force many chunks per batch and compare
    monkeypatch.setattr(similarity, "ARROW_CELL_CHUNK_ELEMS", 13)
    chunked = {r["vec_id"]: r["cell"]
               for r in similarity.with_codebook_cells(df, cb, "embedding")
               .select("vec_id", "cell").collect()}
    assert chunked == arrow
    # training through the arrow kernel reproduces the fold-trained
    # codebook on tie-free data (q6 quantization absorbs sum order)
    assert similarity.ivf_train_codebook(vecs, k=2, iters=2) == fold_trained


def test_sized_ivf_codebook_threads_through_consumers(spark, monkeypatch):
    """The sized path end-to-end on a fixture: derived k, trained
    codebook, and all three consumers accept it. Forcing the large-k
    branch (LITERAL_CODEBOOK_MAX=0 -> the Arrow kernel under the auto
    policy) must not change any result — kills a mutation that breaks
    the large-k branch only."""
    rows = [(i, [5.0 if i % 2 else -5.0] * 4) for i in range(24)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = similarity.ivf_train_codebook(df, k=2, iters=2)

    sem = {(r["id_a"], r["id_b"]) for r in dedup.semantic_dup_pairs_ivf(
        df, threshold=0.9, codebook=cb).collect()}
    ann = {(r["query_id"], r["neighbor_id"]) for r in
           similarity.ann_topk_ivf_trained(df, cb, num_queries=2, k=3).collect()}
    knn = {(r["query_id"], r["neighbor_id"]) for r in
           similarity.knn_join_ivf(df, k=2, codebook=cb).collect()}
    assert (1, 3) in sem and (0, 1) not in sem
    assert all((q - n) % 2 == 0 for q, n in ann | knn)
    monkeypatch.setattr(similarity, "LITERAL_CODEBOOK_MAX", 0)
    assert {(r["id_a"], r["id_b"]) for r in dedup.semantic_dup_pairs_ivf(
        df, threshold=0.9, codebook=cb).collect()} == sem
    assert {(r["query_id"], r["neighbor_id"]) for r in
            similarity.ann_topk_ivf_trained(df, cb, num_queries=2, k=3)
            .collect()} == ann
    assert {(r["query_id"], r["neighbor_id"]) for r in
            similarity.knn_join_ivf(df, k=2, codebook=cb)
            .collect()} == knn


def test_arrow_cells_ragged_vector_matches_fold_null_cell(spark, monkeypatch):
    """nonzero_vecs does NOT screen vector width, so a ragged row
    (wrong dim, positive norm) reaches either kernel. The literal fold
    assigns it a NULL cell (zip_with pads -> distance folds to NULL);
    the Arrow kernel once CRASHED the whole batch (np object-array
    matmul). Both kernels must agree: ragged -> NULL cell."""
    cb = [[0.0] * 4, [9.0] * 4]
    df = spark.createDataFrame(
        [(0, [1.0] * 4), (1, [1.0, 1.0]), (2, [1.0] * 6), (3, None)],
        "vec_id long, embedding array<float>",
    )
    nz = similarity.nonzero_vecs(df)
    want = {0: 0, 1: None, 2: None}
    for literal_max in (64, 0):  # literal folds, then the Arrow kernel
        monkeypatch.setattr(similarity, "LITERAL_CODEBOOK_MAX", literal_max)
        got = {r["id"]: r["cell"] for r in similarity.with_codebook_cells(
            nz, cb, "v").select("id", "cell").collect()}
        assert got == want, (literal_max, got)


def test_ivf_cell_occupancy_makes_cap_drop_loud(spark):
    """r13 VERDICT #2 (IVF governance asymmetry): a degenerate corpus
    — every vector in one cell, cell size over the cap — silently
    produces ZERO pairs from semantic_dup_pairs_ivf; ivf_cell_occupancy
    must report that exact drop (fraction 1.0) AND warn, while a
    healthy corpus reports 0.0 with no warning. Also pins that the
    witness counts the SAME cells the pair join routes through
    (ivf_cells_base: zero-norm rows excluded from both)."""
    import warnings

    import pytest

    # 40 identical vectors + 1 zero-norm row (dropped by nonzero_vecs)
    bad = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(40)] + [(99, [0.0] * 4)],
        "vec_id long, embedding array<float>",
    )
    with pytest.warns(RuntimeWarning, match="recall is decaying"):
        rep = dedup.ivf_cell_occupancy(bad, max_bucket=8)
    assert rep["rows"] == 40 and rep["cells"] == 1
    assert rep["max_cell"] == 40 and rep["dropped_cells"] == 1
    assert rep["dropped_rows"] == 40 and rep["dropped_fraction"] == 1.0
    # the silent failure the witness exists for: cap ON -> zero pairs
    assert dedup.semantic_dup_pairs_ivf(bad, max_bucket=8).count() == 0

    ok = spark.createDataFrame(
        [(i, [5.0 if i % 2 else -5.0] * 4) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        rep = dedup.ivf_cell_occupancy(ok, max_bucket=8)
    assert rep["dropped_fraction"] == 0.0 and rep["dropped_rows"] == 0
    assert rep["cells"] == 2 and rep["mean_cell"] == 6.0
    # sized path accepted: trained codebook routes the same reporter
    cb = similarity.ivf_train_codebook(ok, k=2, iters=1)
    rep = dedup.ivf_cell_occupancy(ok, max_bucket=8, codebook=cb)
    assert rep["rows"] == 12 and rep["dropped_fraction"] == 0.0


def test_ivf_train_codebook_unusable_vector_and_short_corpus_guards(spark):
    """Untrainable rows drop under nonzero_vecs' own predicate
    (norm > 0): NULL vectors poisoned a seed (float(None)), and an
    isNotNull-only guard still crashed on element-NULL / empty arrays
    and trained on direction-less zero vectors (r11 review + r12
    ADVICE). A corpus with fewer than k usable vectors refuses loudly."""
    import pytest

    df = spark.createDataFrame(
        [(0, None), (1, [4.0, 0.0]), (2, [0.0, 4.0]),
         (3, [0.0, 0.0]), (4, []), (5, [None, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cb = similarity.ivf_train_codebook(df, k=2, iters=2)
    assert len(cb) == 2 and all(len(c) == 2 for c in cb)
    with pytest.raises(ValueError, match="positive-norm"):
        similarity.ivf_train_codebook(df, k=3, iters=1)


def test_ivf_train_codebook_survives_ragged_vectors(spark, monkeypatch):
    """A ragged row (wrong width, POSITIVE norm) passes the norm guard
    and once ABORTED the training job on every kernel — ANSI
    INVALID_ARRAY_INDEX from the update step's __v[i] component sums.
    Training must instead exclude wrong-width rows (serving's
    equivalent: NULL cell, contributes to no centroid) and yield the
    codebook the clean corpus yields, on both kernels; mixed-width
    SEEDS (the declared dim itself is ambiguous) refuse loudly."""
    import pytest

    rows = [(i, [((i * 31 + j) % 17) / 3.0 + (5.0 if i % 2 else -5.0)
                 for j in range(4)]) for i in range(20)]
    schema = "vec_id long, embedding array<float>"
    ref = similarity.ivf_train_codebook(
        spark.createDataFrame(rows, schema), k=2, iters=2)
    dirty = spark.createDataFrame(
        rows + [(100, [1.0, 2.0]), (101, [1.0] * 6)], schema)
    for literal_max in (64, 0):  # SQL-text iteration, then Arrow
        monkeypatch.setattr(similarity, "LITERAL_CODEBOOK_MAX", literal_max)
        assert similarity.ivf_train_codebook(
            dirty, k=2, iters=2) == ref, literal_max
    bad_seed = spark.createDataFrame([(0, [1.0, 2.0])] + rows, schema)
    with pytest.raises(ValueError, match="ragged"):
        similarity.ivf_train_codebook(bad_seed, k=2, iters=1)


def test_ivf_trained_codebook_and_ann(spark):
    """Lloyd's k-means on separable data converges to the two blobs,
    assignment is deterministic, and the trained-codebook ANN finds
    within-blob neighbors."""
    import random

    random.seed(7)
    rows = []
    for i in range(40):
        blob = i % 2
        center = 5.0 if blob else -5.0
        rows.append((i, [center + random.uniform(-0.5, 0.5) for _ in range(4)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cb = similarity.ivf_train_codebook(df, k=2, iters=3)
    assert len(cb) == 2 and len(cb[0]) == 4
    # centroids end up near the blob centers (one each)
    means = sorted(sum(c) / len(c) for c in cb)
    assert means[0] < -4 and means[1] > 4

    cells = df.select(
        "vec_id", similarity.assign_cells("embedding", cb).alias("cell")
    )
    got = {r["vec_id"]: r["cell"] for r in cells.collect()}
    # all even ids together, all odd ids together
    assert len({got[i] for i in range(0, 40, 2)}) == 1
    assert len({got[i] for i in range(1, 40, 2)}) == 1
    assert got[0] != got[1]

    ann = similarity.ann_topk_ivf_trained(df, cb, num_queries=2, k=3)
    neigh = {(r["query_id"], r["neighbor_id"]) for r in ann.collect()}
    # non-emptiness FIRST: the parity all()s below are vacuously true
    # on an empty result, which would silently untest the ANN path
    assert {q for q, _ in neigh} == {0, 1}, neigh
    # query 0 (blob 0) only meets even ids; query 1 only odd ids
    assert all(n % 2 == 0 for q, n in neigh if q == 0)
    assert all(n % 2 == 1 for q, n in neigh if q == 1)


def test_exact_dedup_null_text_not_collapsed(spark):
    """NULL text is missing content, not duplicate content: all
    null-text docs survive exact dedup, and form no dup group."""
    docs = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None), (5, None)],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in dedup.exact_dedup(docs, "doc_id", "text").collect()}
    assert kept == {1, 3, 4, 5}  # one survivor of the real dup pair, all nulls
    groups = dedup.exact_dup_groups(docs, "doc_id", "text").collect()
    assert len(groups) == 1 and groups[0]["n_dups"] == 2  # no phantom NULL group


def test_group_quantiles_exact_rank_at_representable_targets(spark):
    """ceil(q*n) must hit the exact rank when q*n is an integer:
    0.07 * 100 is 7.000000000000001 in IEEE doubles, and a raw ceil
    returns rank 8 — the round-before-ceil keeps it at 7."""
    from canal_phoenix_adapter_spark.operators.sampling import group_quantiles

    rows = [("g", v) for v in range(1, 101)]  # values 1..100, rank == value
    df = spark.createDataFrame(rows, "grp string, val long")
    out = group_quantiles(df, "grp", "val", [0.07, 0.29, 0.55],
                          exact=True).collect()[0]
    assert out["q_7"] == 7 and out["q_29"] == 29 and out["q_55"] == 55


def test_band_divisibility_guards(spark):
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="divide num_perm"):
        dedup.minhash_band_buckets(docs, "doc_id", "text", num_perm=16, bands=5)
    with _pytest.raises(ValueError, match="divide the 32-bit"):
        dedup.simhash_hamming_pairs(docs, "doc_id", "text", max_dist=2, bands=5)


def test_nonzero_vecs_cheap_predicate_matches_norm_filter(spark):
    """r15: nonzero_vecs filters on a cheap array predicate BELOW the
    projection (the pushed-down ``nrm > 0`` form evaluated the whole
    64-element norm fold twice per vector — guide §4.4's double-eval
    with built-ins). The predicate must stay EXACTLY equivalent to
    ``sqrt(sum(x^2)) > 0`` on every edge class: NULL array, empty
    array, all-zero (±0.0), NULL element, NaN element (keeps — NaN
    compares greater than 0 in Spark on both forms), Inf element,
    subnormal float (keeps — a nonzero float's square cannot
    underflow in double), negative components, ragged width (not
    screened here, by contract)."""
    from pyspark.sql import functions as F

    rows = [
        (0, [1.0, 2.0]), (1, None), (2, []), (3, [0.0, -0.0]),
        (4, [None, 1.0]), (5, [float("nan"), 0.0]),
        (6, [float("inf"), 1.0]), (7, [1e-44, 0.0]), (8, [-3.0, 0.0]),
        (9, [1.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(
        r["id"] for r in
        similarity.nonzero_vecs(df).collect()
    )
    ref = sorted(
        r["vec_id"] for r in
        df.where(similarity._norm(F.col("embedding")) > 0).collect()
    )
    assert got == ref == [0, 5, 6, 7, 8, 9]
    # the norm fold must appear exactly once in the executed plan —
    # the double-eval regression this rewrite removes
    import io
    import contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        similarity.nonzero_vecs(df).explain(mode="formatted")
    assert buf.getvalue().count("aggregate(") == 1, buf.getvalue()


def test_zero_norm_vectors_excluded_everywhere(spark):
    """A zero vector's cosine is 0/0 = NaN, and NaN compares GREATER
    than every double in Spark — unguarded, it would take rank 1 of
    every top-k and pair with every bucket-mate as a 'near-dup'.
    Zero-norm vectors must be excluded from every cosine operator."""
    rows = [(i, [float(i + 1)] * 4) for i in range(6)]
    rows.append((6, [0.0, 0.0, 0.0, 0.0]))  # the zero vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    topk = similarity.cosine_topk(df, num_queries=2, k=10)
    assert 6 not in {r["neighbor_id"] for r in topk.collect()}

    pairs = dedup.embedding_near_dup_pairs(df, threshold=0.0)
    ids_in_pairs = {r["id_a"] for r in pairs.collect()} | {
        r["id_b"] for r in pairs.collect()
    }
    assert 6 not in ids_in_pairs


def test_bundle_gates_degenerate_inputs(spark):
    """The r4 bundle-gate compositions on inputs the sf0.01 oracle
    never sees: NULL/empty text through the text-feature join, a
    corpus with no image rows through the geometry join, NULL lang /
    NULL n_chars through the assembly join. Pins today's (oracle-
    consistent) behavior: NULL text yields NULL counts AND NULL
    repetition features (the quality_features convention; until r10
    repetition zeroed them, scoring NULL docs as real zero-repetition
    documents — caught by the multilingual witness rows), no-image
    input yields zero rows (inner join against empty stats), NULL-lang
    docs drop (inner join on lang; SQL JOIN USING has the same
    NULL-key semantics)."""
    from pyspark.sql import functions as F

    from canal_phoenix_adapter_spark.operators import multimodal, sampling
    from canal_phoenix_adapter_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "hello world hello world"), (2, None), (3, ""), (4, "x")],
        "doc_id long, text string",
    )
    proj = docs.select(
        "doc_id",
        text_ops.token_count_ws(F.col("text")).alias("n_ws"),
        text_ops.token_count_bpe(F.col("text")).alias("n_bpe"),
        text_ops.fingerprint(F.col("text")).alias("fp"),
    )
    out = {r["doc_id"]: r for r in
           proj.join(text_ops.repetition_features(docs, "doc_id", "text"),
                     on="doc_id").collect()}
    assert out[1]["n_ws"] == 4 and out[1]["top_bigram_frac"] == 2 / 3
    assert out[2]["n_ws"] is None and out[2]["fp"] is None
    assert out[2]["n_bigrams"] is None
    assert out[2]["dup_line_frac"] is None
    assert out[2]["top_bigram_frac"] is None
    assert out[3]["n_ws"] == 0 and out[3]["n_bigrams"] == 0
    assert out[3]["top_bigram_frac"] == 0.0  # empty text is REAL zero, not NULL

    no_images = spark.createDataFrame(
        [(1, "a", 1), (2, "bb", 2)], "doc_id long, text string, n_chars long"
    )
    media = multimodal.as_media_table(no_images)
    thumb = multimodal.thumbnail_plan(media, max_side=64)
    stats = multimodal.payload_stats(media).where(F.col("media_type") == "image")
    assert thumb.join(
        F.broadcast(stats.select(F.col("n").alias("type_n")))
    ).count() == 0

    d3 = spark.createDataFrame(
        [(1, "en", 10), (2, None, 5), (3, "en", None)],
        "doc_id long, lang string, n_chars long",
    )
    split = sampling.hash_split(d3, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    q = sampling.group_quantiles(d3, "lang", "n_chars", [0.5], exact=True)
    got = {r["doc_id"]: r["q_50"] for r in
           split.join(F.broadcast(q), on="lang").collect()}
    assert got == {1: 10, 3: 10}  # NULL-lang doc 2 drops; NULL n_chars rides


def test_cosine_topk_negative_ids_are_candidates(spark):
    """Negative vector ids must be eligible neighbors — an id >= 0
    candidate filter (absent from the oracle and every sibling
    variant) once silently excluded them (r8 review)."""
    rows = [(-3, [1.0, 0.0]), (0, [1.0, 0.1]), (1, [0.9, 0.2])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = similarity.cosine_topk(df, num_queries=1, k=2).collect()
    # id < num_queries admits -3 as a QUERY too; the regression under
    # test is the candidate side: -3 must show up as a neighbor
    assert -3 in {r["neighbor_id"] for r in got if r["query_id"] == 0}


def test_lsh_family_defaults_are_scale_safe():
    """r11 verdict task 1 governance pin: every LSH-family operator
    defaults its bucket/df cap ON (uncapped is the explicit None
    opt-in), and the embedding LSH defaults to DERIVED planes
    (num_planes=None) rather than a fixed constant — the r11 octave
    measured the old defaults (fixed 16 planes, no cap) at 12.25x
    wall for 10x input with zero output."""
    import inspect

    def dflt(fn, name):
        return inspect.signature(fn).parameters[name].default

    assert dflt(dedup.minhash_lsh_candidates, "max_bucket") == dedup.DEFAULT_LSH_MAX_BUCKET
    assert dflt(dedup.minhash_lsh_incremental, "max_bucket") == dedup.DEFAULT_LSH_MAX_BUCKET
    assert dflt(dedup.simhash_hamming_pairs, "max_bucket") == dedup.DEFAULT_LSH_MAX_BUCKET
    assert dflt(dedup.embedding_near_dup_pairs_lsh, "max_bucket") == dedup.DEFAULT_LSH_MAX_BUCKET
    assert dflt(dedup.embedding_near_dup_pairs_lsh, "num_planes") is None
    assert dflt(dedup.semantic_dup_pairs_ivf, "max_bucket") == dedup.DEFAULT_IVF_MAX_CELL
    assert dflt(dedup.ngram_overlap_contamination, "max_df") == dedup.DEFAULT_CONTAM_MAX_DF
    assert dflt(dedup.ngram_jaccard_pairs, "max_df") == dedup.DEFAULT_SHINGLE_MAX_DF
    for v in (dedup.DEFAULT_LSH_MAX_BUCKET, dedup.DEFAULT_IVF_MAX_CELL,
              dedup.DEFAULT_CONTAM_MAX_DF, dedup.DEFAULT_SHINGLE_MAX_DF):
        assert isinstance(v, int) and v > 0


def test_lsh_planes_for_corpus_anchors_and_monotone():
    """The derivation reproduces BOTH measured octave anchors: 16
    planes (4/band) at the n=2,000 gate corpus, 24 planes (6/band) at
    the n=20,000 synth where fixed-16 measured 12.25x and 24 held
    1.89x — and grows monotonically ~log2(n) with a floor of 2/band."""
    assert dedup.lsh_planes_for_corpus(2_000) == 16
    assert dedup.lsh_planes_for_corpus(20_000) == 24
    assert dedup.lsh_planes_for_corpus(200_000) == 32
    assert dedup.lsh_planes_for_corpus(1) == 8  # floor: 2 planes/band
    prev = 0
    for exp in range(1, 40):
        p = dedup.lsh_planes_for_corpus(2 ** exp)
        assert p >= prev and p % 4 == 0
        prev = p
    assert dedup.lsh_planes_for_corpus(2 ** 16, bands=8) % 8 == 0


def test_embedding_lsh_refuses_unsized_and_derives_planes(spark):
    with pytest.raises(ValueError, match="expected_count"):
        dedup.embedding_near_dup_pairs_lsh(None, dim=4)
    # expected_count path == the equivalent explicitly-sized call
    df = vec_df(spark)
    derived = dedup.embedding_near_dup_pairs_lsh(
        df, threshold=0.95, dim=4, expected_count=4
    )
    explicit = dedup.embedding_near_dup_pairs_lsh(
        df, threshold=0.95, dim=4,
        num_planes=dedup.lsh_planes_for_corpus(4),
    )
    assert sorted(map(tuple, derived.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_minhash_default_cap_drops_boilerplate_bucket(spark):
    """20 identical docs overflow the default band cap (16): the
    capped-by-default path emits nothing, the explicit None opt-in
    emits all 190 pairs — the default is the safe one."""
    df = spark.createDataFrame(
        [(i, "same boilerplate text repeated in every single doc") for i in range(20)],
        "doc_id long, text string",
    )
    kw = dict(num_perm=8, bands=4, n=2)
    assert dedup.minhash_lsh_candidates(df, "doc_id", "text", **kw).count() == 0
    assert dedup.minhash_lsh_candidates(
        df, "doc_id", "text", max_bucket=None, **kw
    ).count() == 190


def _minhash_witness_corpus(spark):
    import random

    rng = random.Random(7)
    words = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(24):
        base = [rng.choice(words) for _ in range(12)]
        rows.append((2 * i, " ".join(base)))
        if i % 3 == 0:  # exact duplicate: every band collides
            rows.append((2 * i + 1, " ".join(base)))
        elif i % 3 == 1:  # one token swapped: some bands collide
            b2 = list(base)
            b2[rng.randrange(12)] = rng.choice(words)
            rows.append((2 * i + 1, " ".join(b2)))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _band_share(sig, rpb, bands):
    def share(a, b):
        return sum(
            sig[a][k * rpb:(k + 1) * rpb] == sig[b][k * rpb:(k + 1) * rpb]
            for k in range(bands)
        )
    return share


def test_minhash_uncapped_candidates_equal_bruteforce_band_equality(spark):
    """Banding completeness witnessed INDEPENDENTLY of the banding
    code (r11 verdict task 3): the DuckDB oracle replicates the
    engine's band-hash construction, so a shared banding misconception
    (wrong slice offsets, dropped trailing perms, a non-injective band
    hash) would pass parity. With the cap off, the operator's pairs
    must EXACTLY equal the all-pairs set sharing >= 1 band of RAW
    signature values, computed driver-side from the engine's own
    minhash_signatures — no md5 band hash, no explode, no join."""
    import itertools

    df = _minhash_witness_corpus(spark)
    sig = {
        r["doc_id"]: tuple(r[f"mh{i}"] for i in range(8))
        for r in dedup.minhash_signatures(df, "doc_id", "text", num_perm=8, n=2).collect()
    }
    share = _band_share(sig, rpb=2, bands=4)
    expected = {
        (a, b) for a, b in itertools.combinations(sorted(sig), 2) if share(a, b)
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(
            df, "doc_id", "text", num_perm=8, bands=4, n=2, max_bucket=None
        ).collect()
    }
    assert expected, "corpus produced no band-sharing pairs (vacuous)"
    # the witness must exercise PARTIAL collisions, not just exact dups
    assert any(0 < share(a, b) < 4 for a, b in expected), "all-or-nothing corpus"
    assert got == expected


def test_minhash_incremental_equals_cross_subset_of_bruteforce(spark):
    """The incremental variant must be exactly the new-vs-index CROSS
    subset of the same driver-side band-equality relation — same
    oracle-independence rationale, plus: no new-vs-new or
    index-vs-index pair may leak through."""
    df = _minhash_witness_corpus(spark)
    new_df = df.where(F.col("doc_id") % 2 == 1)
    index_df = df.where(F.col("doc_id") % 2 == 0)
    sig = {
        r["doc_id"]: tuple(r[f"mh{i}"] for i in range(8))
        for r in dedup.minhash_signatures(df, "doc_id", "text", num_perm=8, n=2).collect()
    }
    share = _band_share(sig, rpb=2, bands=4)
    expected = {
        (a, b)
        for a in sig if a % 2 == 1
        for b in sig if b % 2 == 0 and share(a, b)
    }
    got = {
        (r["new_id"], r["index_id"])
        for r in dedup.minhash_lsh_incremental(
            new_df, index_df, "doc_id", "text",
            num_perm=8, bands=4, n=2, max_bucket=None,
        ).collect()
    }
    assert expected, "corpus produced no cross pairs (vacuous)"
    assert got == expected


def test_embedding_lsh_uncapped_pairs_equal_bruteforce_banding(spark):
    """Hyperplane-banding completeness witnessed INDEPENDENTLY of
    lsh_bucket_expr (the DuckDB oracle embeds the same plane_sign
    coefficients into the same band construction, so a shared
    misconception — wrong first_plane offset, bit order, sign
    convention — would pass parity; same rationale as the simhash and
    minhash witnesses). With the cap off and the cosine cut vacuous
    (threshold=-1), the operator's pairs must EXACTLY equal the
    all-pairs set sharing >= 1 band bucket, recomputed driver-side in
    pure Python from plane_sign (hashlib) and float dot products."""
    import itertools
    import random

    from canal_phoenix_adapter_spark.operators.similarity import plane_sign

    rng = random.Random(13)
    dim, n, planes, bands = 8, 40, 8, 4
    vecs = {i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(n)}
    rpb = planes // bands

    def bucket(v, first):
        b = 0
        for j in range(rpb):
            dot = sum(x * plane_sign(first + j, d) for d, x in enumerate(v))
            assert abs(dot) > 1e-6, "fixture dot too close to the sign boundary"
            b |= (1 if dot >= 0 else 0) << j
        return b

    expected = {
        (a, b)
        for a, b in itertools.combinations(sorted(vecs), 2)
        if any(
            bucket(vecs[a], k * rpb) == bucket(vecs[b], k * rpb)
            for k in range(bands)
        )
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs_lsh(
            df, threshold=-1.0, num_planes=planes, bands=bands, dim=dim,
            max_bucket=None,
        ).collect()
    }
    assert expected and expected != set(
        itertools.combinations(sorted(vecs), 2)
    ), "vacuous fixture: every pair (or none) collides"
    assert got == expected
