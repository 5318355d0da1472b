"""Systematic gate-kill audit (r9 VERDICT task 1).

r9's oracle-independence review proved a gate can sit green for seven
rounds while being UNABLE to fail (7 of 50 were blind). This module
makes that impossible to regress silently: for EVERY driver gate in
canal_phoenix_adapter_spark/entry.py, one deliberate semantic engine
mutation (monkeypatched at the operator seam the gate actually calls)
must turn the gate's own oracle compare RED — same compare semantics,
same SF (sf0.01) as the driver's t2 gate. A gate that stays green
under its mutation is blind, and this suite fails.

Each Kill documents the concrete engine bug class it simulates
(keep-FIRST instead of keep-last, PK-change death rows dropped,
max_df cap skipped, 1-based enum decode off by one, ... — reference
semantics at PhoenixSyncService.java:206-220/:425-456,
MappingConfig.java:277-287). The mutation is applied via pytest's
monkeypatch, so it is reverted even on assertion failure; the
ORACLE side is never touched. Registration completeness is enforced:
a new gate without a Kill fails test_every_driver_gate_has_a_kill.

The kill table in COVERAGE.md is generated from this registry.
"""

from __future__ import annotations

import dataclasses
import importlib
import os
import sys
import traceback
from dataclasses import dataclass

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from canal_phoenix_adapter_spark import entry as E  # noqa: E402
from tests.parity_registry import PARITY_ORACLE, PARITY_QUERIES  # noqa: E402
from tests.check_correctness import TABLES, canon  # noqa: E402

ALL_QUERIES = {**dict(E.QUERIES), **PARITY_QUERIES}
ALL_ORACLES = {**dict(E.ORACLE), **PARITY_ORACLE}

# The driver's gate SF: kills must fire at the same scale the gate is
# graded at (a mutation that only shows at sf0.1 would leave the
# driver's own compare blind).
SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.01")

PKG = "canal_phoenix_adapter_spark"


@dataclass(frozen=True)
class Kill:
    """One deliberate engine mutation that must turn one gate red.

    module/attr: the seam that is monkeypatched (the module ATTRIBUTE
    the gate's call path resolves at call time — entry.py's inline
    `from x import f` imports re-resolve per call, top-level aliases
    are patched on entry itself).
    make: orig attribute value -> mutated value (wrapper or constant).
    note: the concrete bug class this simulates.
    """

    module: str
    attr: str
    make: object
    note: str


def _keep_first(orig):
    """keep-LAST flipped to keep-FIRST: order key negated on a scratch
    column so output values stay untouched — only the surviving row
    changes (the reference guarantee PhoenixSyncService.java:206-220)."""

    def mutant(df, pk, order_col="seq"):
        neg = df.withColumn("__neg", -F.col(order_col))
        return orig(neg, pk, "__neg").drop("__neg")

    return mutant


def _collapse_keep_first(orig):
    """merge kernel applies the batch in REVERSED event order (first
    writer wins): seq negated before the collapse."""

    def mutant(changes, pk):
        return orig(changes.withColumn("seq", -F.col("seq")), pk)

    return mutant


def _collapse_wrong_old_prefix(orig):
    """PK-change handling broken: the old_<pk> columns are not
    recognized (renamed away before the collapse), so the death row
    for the moved-away key is never emitted (reference: delete old key
    then upsert new, PhoenixSyncService.java:425-456)."""

    def mutant(changes, pk):
        return orig(changes.withColumnsRenamed(
            {f"old_{k}": f"zz_{k}" for k in pk}), pk)

    return mutant


def _collapse_deletes_as_updates(orig):
    """DELETE apply broken: delete events land on the upsert path, so
    deleted keys survive in state."""

    def mutant(changes, pk):
        rewritten = changes.withColumn(
            "op",
            F.when(F.upper(F.col("op")) == "DELETE", F.lit("UPDATE"))
            .otherwise(F.col("op")),
        )
        return orig(rewritten, pk)

    return mutant


def _kw(overrides: dict, note: str) -> Kill | tuple:
    """Factory for the most common mutant shape: call orig with some
    keyword arguments FORCED to a wrong value (a mis-set constant /
    off-by-one hyperparameter — the classic config-drift bug)."""

    def make(orig):
        def mutant(*args, **kwargs):
            sig_args = dict(kwargs)
            sig_args.update(overrides)
            return orig(*args, **sig_args)

        return mutant

    return make, note


def _const(value, note: str):
    """Mutant that replaces a module CONSTANT the engine reads at call
    time (the oracle baked the true value in at registration)."""
    return (lambda _orig: value), note


# One kill per driver gate. Where two gates share a kernel the same
# mutation may kill both, but each entry names the semantic it
# witnesses for THAT gate.
KILLS: dict[str, Kill] = {}


def _kill(name: str, module: str, attr: str, make, note: str) -> None:
    assert name not in KILLS, f"duplicate kill for {name}"
    KILLS[name] = Kill(f"{PKG}.{module}", attr, make, note)


# --- CDC merge family -------------------------------------------------------
_kill("cdc_merge_full", "operators.merge", "collapse_changes",
      _collapse_wrong_old_prefix,
      "PK-change death rows never emitted (old_<pk> unrecognized) -> "
      "moved-away keys survive with stale images")
_kill("cdc_merge_upsert_delete", "operators.merge", "collapse_changes",
      _collapse_deletes_as_updates,
      "DELETE events applied as upserts -> deleted keys survive")
_kill("cdc_keep_last", "entry", "keep_last", _keep_first,
      "keep-FIRST instead of keep-last per key")
_kill("cdc_merge_into_state", "operators.merge", "collapse_changes",
      _collapse_keep_first,
      "batch applied in reversed event order (first writer wins)")
_kill("cdc_serial_mode", "operators.merge", "collapse_changes",
      _collapse_keep_first,
      "strict event order broken (first writer wins) — same kernel "
      "mutation as cdc_merge_into_state, witnessed on the coalesce(1) path")
_kill("cdc_truncate_apply", "operators.merge", "last_truncate_seq",
      lambda orig: (lambda changes: None),
      "TRUNCATE never detected -> state not wiped, pre-truncate rows survive")
_kill("cdc_envelope_route", "sources.events", "route",
      lambda orig: (lambda df, cfg: df),
      "routing filter dropped -> events for unmapped tables applied")

# --- ETL family --------------------------------------------------------------
_kill("etl_scan_condition", "operators.etl", "append_condition",
      lambda orig: (lambda df, cfg, params=None: df),
      "etlCondition ignored -> full-table extract")
_kill("etl_incremental_sys_time", "operators.etl", "append_condition",
      lambda orig: (lambda df, cfg, params=None:
                    orig(df, cfg, [p + 86_400_000_000 for p in params]
                         if params else params)),
      "incremental SYS_TIME cutoff off by one day (unit/boundary bug)")
_kill("etl_count", "operators.etl", "count_table",
      lambda orig: (lambda df: orig(df).withColumn("cnt", F.col("cnt") + 1)),
      "COUNT off by one")
_kill("etl_count_filtered", "operators.etl", "count_filtered",
      lambda orig: (lambda df, cfg, params=None:
                    importlib.import_module(f"{PKG}.operators.etl").count_table(df)),
      "filter skipped before the count")
_kill("etl_idempotent_load", "entry", "keep_last", _keep_first,
      "idempotent load keeps the FIRST row per PK instead of the latest")
_kill("etl_range_split", "operators.etl", "range_split_stats",
      # entry.py passes num_slices POSITIONALLY — a _kw override would
      # TypeError in the wrapper and register a fake crash-kill
      # (r10 review); mirror the real signature instead.
      lambda orig: (lambda df, key_col, num_slices=3:
                    orig(df, key_col, num_slices + 1)),
      "wrong slice count (3 -> 4) shifts every range boundary"),

# --- Projection family --------------------------------------------------------
_kill("proj_mapping_exclude_rename", "operators.transform", "apply_mapping",
      lambda orig: (lambda df, cfg, target_schema=None:
                    orig(df, dataclasses.replace(cfg, exclude_columns=[]),
                         target_schema)),
      "exclude_columns leak: excluded source columns reach the target")
_kill("proj_enum_decode", "functions.enums", "enum_decode",
      lambda orig: (lambda col, labels: orig(col + F.lit(1), labels)),
      "enum index off by one (1-based decode broken, "
      "MappingConfig.java:277-287)")
_kill("proj_type_coercion", "functions.coerce", "coerce_to",
      lambda orig: (lambda col, target: orig(col.try_cast("double"), target)
                    if target.simpleString() == "int" else orig(col, target)),
      "lenient string->int parse ('12.5' -> 12, '1e3' -> 1000) instead "
      "of Spark try_cast NULL-on-unparseable")
_kill("proj_zero_date", "functions.coerce", "zero_date_lenient",
      lambda orig: (lambda col, kind="timestamp":
                    F.when(col.startswith("0000-00-00"),
                           F.lit(None).cast("string")).otherwise(orig(col, kind))),
      "zero-date passthrough broken (zero dates nulled like garbage)")

# --- Schema family ------------------------------------------------------------
_kill("schema_ddl_evolution", "operators.schema_sync", "_default_lit",
      lambda orig: (lambda dv, dtype: F.lit(None).cast(dtype)),
      "default-value backfill broken: ADDed column is NULL instead of "
      "its DEFAULT (C13)")
_kill("schema_probe", "operators.schema_sync", "schema_inventory",
      lambda orig: (lambda df: orig(df).withColumn(
          "ordinal", F.col("ordinal") - 1)),
      "0-based ordinal instead of 1-based")

# --- Dedup family --------------------------------------------------------------
_kill("dedup_exact_groups", "operators.dedup", "exact_dup_groups",
      lambda orig: (lambda df, id_col, text_col:
                    orig(df.withColumn(id_col, -F.col(id_col)), id_col, text_col)
                    .withColumn("keeper_id", -F.col("keeper_id"))),
      "keep-MAX doc instead of keep-min (canonical keeper flipped; "
      "witnessed on the duplicate shard)")
_kill("dedup_ngram_jaccard_maxdf", "operators.dedup", "ngram_jaccard_pairs",
      *_kw({"max_df": None}, "max_df cap skipped: hot shingles re-enter "
           "the pair join")),
_kill("dedup_minhash_lsh_capped", "operators.dedup", "minhash_lsh_candidates",
      *_kw({"bands": 2}, "banding scheme wrong (4 -> 2 bands of 8 rows): "
           "candidate recall collapses")),
_kill("dedup_clusters", "operators.dedup", "_cc_iterate",
      lambda orig: (lambda edges, labels: labels),
      "label propagation broken: every doc its own cluster")
_kill("dedup_embedding_cosine_lsh", "operators.dedup",
      "embedding_near_dup_pairs_lsh",
      *_kw({"threshold": 0.3}, "cosine threshold mis-set (0.4 -> 0.3): "
           "non-duplicates pass")),
_kill("dedup_simhash_pairs_capped", "operators.dedup", "simhash_hamming_pairs",
      *_kw({"max_dist": 4}, "hamming radius off by one (3 -> 4)")),
_kill("dedup_chunk_crossdoc", "operators.dedup", "chunk_crossdoc_stats",
      *_kw({"size": 7}, "chunk width off by one (8 -> 7 tokens)")),
_kill("dedup_semantic_ivf", "operators.dedup", "semantic_dup_pairs_ivf",
      *_kw({"threshold": 0.3}, "semantic threshold mis-set (0.4 -> 0.3)")),
_kill("text_decontaminate_ngram", "operators.dedup",
      "ngram_overlap_contamination",
      *_kw({"n": 5}, "n-gram width off by one (4 -> 5): reflowed copies "
           "missed")),
_kill("dedup_minhash_lsh_incremental", "operators.dedup",
      "minhash_lsh_incremental",
      lambda orig: (lambda new_df, index_df, *a, **k:
                    orig(index_df, new_df, *a, **k)),
      "new-batch and index sides swapped (watermark direction bug)")

# --- Text family ---------------------------------------------------------------
_kill("text_langid", "operators.text", "LANG_MARKERS",
      *_const({"en": ["zzzznever"], "de": ["der", "die", "das", "und", "ist"],
               "es": ["el", "la", "los", "y", "es"],
               "fr": ["le", "la", "les", "et", "est"]},
              "marker profile drift: English markers lost -> en docs "
              "misclassified")),
_kill("text_quality", "operators.text", "STOPWORDS",
      *_const(["a", "of", "and", "to", "in", "is", "it", "on", "for"],
              "stopword list drift ('the' dropped) -> stopword_ratio and "
              "composite quality wrong")),
_kill("text_features", "operators.text", "token_count_ws",
      lambda orig: (lambda text: orig(text) + 1),
      "whitespace token count off by one")
_kill("text_vocab_topk", "operators.sampling", "vocab_topk",
      *_kw({"k": 21}, "vocabulary cut off by one (top-20 -> top-21)")),
_kill("text_pii_scrub", "operators.text", "IPV4_RE",
      *_const(r"[0-9]{1,3}(\.[0-9]{1,3}){2}",
              "IPv4 regex matches only 3 octets -> wrong spans scrubbed")),
_kill("text_boilerplate_strip", "operators.text", "boilerplate_strip",
      *_kw({"size": 7}, "chunk width off by one (8 -> 7): wrong chunks "
           "dropped and reassembled")),

# --- Multimodal family -----------------------------------------------------------
_kill("mm_extract_features", "operators.multimodal", "MEDIA_TYPES",
      *_const(["audio", "video", "image"],
              "media-type routing rotated: every payload typed wrongly")),
_kill("mm_geometry", "operators.multimodal", "thumbnail_plan",
      *_kw({"max_side": 32}, "thumbnail bound mis-set (64 -> 32): every "
           "large image resized wrongly")),

# --- Sampling / assembly family ----------------------------------------------------
_kill("sampling_assembly", "operators.sampling", "hash_split",
      *_kw({"salt": "spl1t"}, "split salt drift: train/val/test "
           "assignment changes between runs")),
_kill("sampling_stratified", "operators.sampling", "stratified_sample",
      *_kw({"salt": "strat2"}, "sampling salt drift: different docs "
           "selected per stratum")),
_kill("sampling_pack_sequences", "operators.sampling", "pack_sequences",
      *_kw({"num_groups": 9}, "pack-group count mis-set (8 -> 9): "
           "every group assignment moves")),
_kill("pipeline_corpus_clean", "operators.sampling", "stratified_sample",
      *_kw({"salt": "strat2"}, "final sampling stage salt drift "
           "(same mutation as sampling_stratified, witnessed through "
           "the composed pipeline)")),

# --- Similarity family ----------------------------------------------------------
_kill("sim_knn_join_ivf", "operators.similarity", "knn_join_ivf",
      *_kw({"k": 4}, "k off by one (top-5 -> top-4 neighbors)")),
_kill("sim_ann_ivf_trained", "operators.similarity", "ivf_train_codebook",
      *_kw({"k": 7}, "codebook size off by one (8 -> 7 centroids): every "
           "cell boundary moves. (A stopped-early iters=2 mutant drifts "
           "the centroids but moves no vector across a cell boundary on "
           "this corpus, so the neighbor sets — the gate's OUTPUT — are "
           "legitimately identical; verified r10.)")),

# --- Analytics family ------------------------------------------------------------
_kill("analytics_topk_per_group", "operators.analytics",
      "topk_orders_per_customer",
      *_kw({"k": 4}, "top-k cut off by one (3 -> 4)")),
_kill("analytics_rollup", "operators.analytics", "rollup_pricing",
      lambda orig: (lambda spark, sf_dir: orig(spark, sf_dir).where(
          F.col("l_returnflag").isNotNull() | F.col("l_linestatus").isNotNull())),
      "ROLLUP degraded: the grand-total grouping set is lost")
_kill("analytics_time_rollup", "operators.analytics", "time_window_rollup",
      *_kw({"bucket_hours": 12}, "window width mis-set (24h -> 12h)")),
_kill("analytics_session_window", "operators.analytics",
      "session_window_rollup",
      *_kw({"gap": "30 minutes"}, "session gap mis-set (60 -> 30 min): "
           "sessions split")),
_kill("analytics_asof_join", "entry", "asof_join",
      *_kw({"direction": "forward"}, "as-of direction flipped "
           "(backward -> forward)")),
def _salted_join_forgot_salt(orig):
    """The canonical salted-join bug: the build side is replicated per
    salt but the join key forgets the salt column, so every probe row
    matches all num_salts replicas -> counts multiplied by num_salts.
    (The previous out-of-range-salt mutant died when salted_join
    started pmod-ing every caller salt — correct-by-construction now.)"""

    def mutant(skewed, other, on, num_salts=16, how="inner", salt_expr=None):
        replicated = other.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
        ).drop("__salt")
        return skewed.join(replicated, on=on, how=how)

    return mutant


_kill("analytics_salted_join", "functions.skew", "salted_join",
      _salted_join_forgot_salt,
      "salt replicated on the build side but missing from the join key "
      "-> every row counted num_salts times")


def _asof_min_tiebreak(orig):
    """right_order tiebreak flipped to MIN: the order column is negated
    on the right side and re-negated in the output, so only which tied
    row wins changes."""

    def mutant(left, right, on, left_ts, right_ts, direction="backward",
               suffix="_right", tolerance=None, right_order=None):
        col = right_order[0]
        out = orig(left, right.withColumn(col, -F.col(col)), on, left_ts,
                   right_ts, direction, suffix, tolerance, right_order)
        return out.withColumn(col, -F.col(col))

    return mutant


_kill("analytics_asof_tiebreak", "entry", "asof_join", _asof_min_tiebreak,
      "right_order tiebreak picks the SMALLEST tuple instead of the "
      "greatest")


# --- Parity-registry kills (r10 extension: the audit covers all 85) --------
# The 35 queries folded into tests/parity_registry.py get the same
# treatment. For the TPC-H showcase queries the operator IS the whole
# query, so several kills are aggregate-perturbation witnesses (they
# prove the gate's VALUE compare catches a wrong aggregate — a
# rows-only gate would stay green); the rest mutate real operator
# semantics exactly like the driver-gate kills.
PARITY_KILLS: dict[str, Kill] = {}


def _pkill(name: str, module: str, attr: str, make, note: str) -> None:
    assert name not in PARITY_KILLS, f"duplicate parity kill for {name}"
    PARITY_KILLS[name] = Kill(f"{PKG}.{module}", attr, make, note)


def _bump(col: str, note: str):
    """Aggregate-off-by-one post-mutant: +1 on a named output column of
    a (spark, sf_dir) analytics query. Asserts the column exists IN
    THE MUTANT (an AssertionError raised here is caught by the
    fake-kill guard) so a renamed column surfaces as a harness bug,
    never as a fake red."""

    def make(orig):
        def mutant(spark, sf_dir):
            out = orig(spark, sf_dir)
            assert col in out.columns, f"mutant column {col!r} missing"
            return out.withColumn(col, F.col(col) + 1)

        return mutant

    return make, note


def _neg_id_keepers(orig):
    """keep-MAX instead of keep-min survivor per duplicate group."""

    def mutant(df, id_col, text_col):
        out = orig(df.withColumn(id_col, -F.col(id_col)), id_col, text_col)
        return out.withColumn(id_col, -F.col(id_col))

    return mutant


_pkill("dedup_exact", "operators.dedup", "exact_dedup", _neg_id_keepers,
       "keep-MAX doc per duplicate group instead of keep-min "
       "(witnessed on the duplicate shard)")
_pkill("dedup_minhash_signatures", "operators.dedup", "minhash_signatures",
       *_kw({"num_perm": 8}, "signature width halved (16 -> 8 hashes)")),
_pkill("dedup_minhash_lsh", "operators.dedup", "minhash_lsh_candidates",
       *_kw({"bands": 2}, "banding scheme wrong (4 -> 2 bands)")),
_pkill("dedup_keep_canonical", "operators.dedup", "keep_canonical",
       lambda orig: (lambda df, clusters, id_col:
                     orig(df, clusters.withColumn("cluster_id", F.col("id")),
                          id_col)),
       "victim predicate broken: every member marked canonical, "
       "nothing deduplicated")
_pkill("dedup_simhash", "operators.dedup", "simhash32",
       lambda orig: (lambda df, id_col, text_col:
                     orig(df, id_col, text_col).withColumn(
                         "simhash", F.col("simhash").bitwiseXOR(F.lit(1)))),
       "bit-0 extraction inverted in the sketch")
_pkill("dedup_simhash64_pairs", "operators.dedup", "_simhash",
       lambda orig: (lambda df, id_col, text_col, width:
                     orig(df, id_col, text_col, width).withColumn(
                         "simhash",
                         F.when(F.col(id_col) % 2 == 0,
                                F.col("simhash").bitwiseXOR(F.lit(1 << 60)))
                         .otherwise(F.col("simhash")))),
       "hex-digit-16 high-bit path broken: bit 60 flipped on even-id "
       "sketches — hamming drifts on the 8 mixed-parity pairs (a "
       "uniform flip would cancel in xor and band values alike)")
_pkill("dedup_simhash128_pairs", "operators.dedup", "_simhash",
       lambda orig: (lambda df, id_col, text_col, width:
                     orig(df, id_col, text_col, width).withColumn(
                         "simhash_hi",
                         F.when(F.col(id_col) % 2 == 0,
                                F.col("simhash_hi").bitwiseXOR(F.lit(1 << 60)))
                         .otherwise(F.col("simhash_hi")))),
       "hex-digit-32 high-bit path broken: bit 124 flipped on even-id "
       "sketches — same mixed-parity drift rationale as the 64-bit kill")
_pkill("dedup_embedding_cosine", "operators.dedup", "embedding_near_dup_pairs",
       *_kw({"threshold": 0.3}, "cosine threshold mis-set (0.4 -> 0.3)")),
_pkill("sim_topk_cosine", "operators.similarity", "cosine_topk",
       *_kw({"k": 4}, "top-k cut off by one")),
_pkill("sim_ann_lsh", "operators.similarity", "ann_topk_lsh",
       *_kw({"num_planes": 7}, "hyperplane count off by one (8 -> 7): "
            "every bucket id changes")),
_pkill("sim_ann_ivf", "operators.similarity", "ann_topk_ivf",
       *_kw({"k": 4}, "top-k cut off by one")),
_pkill("text_token_counts", "operators.text", "token_count_bpe",
       lambda orig: (lambda text: orig(text) + 1),
       "BPE-ish token count off by one")
_pkill("text_repetition", "operators.text", "repetition_features",
       lambda orig: (lambda df, id_col, text_col:
                     orig(df, id_col, text_col).withColumn(
                         "n_lines", F.col("n_lines") + 1)),
       "line count off by one (blank-line handling bug)")
_pkill("text_fingerprint", "operators.text", "fingerprint",
       *_kw({"window": 7}, "fingerprint window off by one (8 -> 7 chars)")),
_pkill("text_contamination", "operators.sampling", "contamination_hits",
       lambda orig: (lambda docs, probes, **kw:
                     orig(docs, probes.withColumn(
                         "probe", F.upper(F.col("probe"))), **kw)),
       "probe normalization bug: uppercased probes match nothing")
_pkill("text_adaptive_filter", "operators.sampling", "group_quantiles",
       # positional through quantiles; exact=True arrives as a kwarg
       lambda orig: (lambda df, group_col, value_col, quantiles, **kw:
                     orig(df, group_col, value_col,
                          [q * 2 for q in quantiles], **kw)),
       "per-group cut quantile doubled (p10 -> p20): twice the docs "
       "filtered")
_pkill("mm_payload_stats", "operators.multimodal", "MEDIA_TYPES",
       *_const(["audio", "video", "image"],
               "media-type routing rotated: stats grouped wrongly")),
_pkill("mm_frame_sample", "operators.multimodal", "frame_sample",
       *_kw({"every_n": 3}, "frame stride off by one (every 4th -> "
            "every 3rd)")),
_pkill("mm_thumbnail", "operators.multimodal", "thumbnail_plan",
       *_kw({"max_side": 32}, "thumbnail bound mis-set (64 -> 32)")),
_pkill("sampling_hash_split", "operators.sampling", "hash_split",
       *_kw({"salt": "spl1t"}, "split salt drift")),
_pkill("sampling_group_quantiles", "operators.sampling", "group_quantiles",
       lambda orig: (lambda df, group_col, value_col, quantiles, **kw:
                     orig(df, group_col, value_col,
                          quantiles[:-1] + [0.8], **kw)),
       "quantile set mis-set (p90 -> p80)")
_pkill("analytics_q1_pricing", "operators.analytics", "q1_pricing_summary",
       *_bump("count_order", "group count off by one (value-compare "
              "witness: a rows-only gate stays green)")),
_pkill("analytics_q3_shipping", "operators.analytics", "q3_shipping_priority",
       *_bump("revenue", "revenue aggregate drifted by one unit")),
_pkill("analytics_q5_join", "operators.analytics", "q5_local_supplier_volume",
       *_bump("revenue", "revenue aggregate drifted by one unit")),
_pkill("analytics_q4_semijoin", "operators.analytics", "q4_priority_semijoin",
       *_bump("order_count", "semi-join count off by one")),
_pkill("analytics_q22_antijoin", "operators.analytics",
       "q22_no_orders_antijoin",
       *_bump("n_customers", "anti-join count off by one")),
_pkill("analytics_q17_small_qty", "operators.analytics",
       "q17_small_quantity_revenue",
       *_bump("small_qty_revenue", "correlated-avg revenue drifted")),
_pkill("analytics_q10_returns", "operators.analytics", "q10_returned_items",
       *_bump("revenue", "returned-items revenue drifted")),
_pkill("analytics_q19_disjunctive", "operators.analytics",
       "q19_disjunctive_revenue",
       *_bump("n_items", "disjunctive-predicate match count off by one")),
_pkill("analytics_q7_volume", "operators.analytics", "q7_volume_shipping",
       *_bump("revenue", "nation-pair revenue drifted")),
_pkill("analytics_q6_forecast", "operators.analytics", "q6_forecast_revenue",
       *_bump("n_items", "forecast-band match count off by one")),
_pkill("analytics_q14_promo", "operators.analytics", "q14_promo_revenue_share",
       *_bump("promo_revenue", "promo revenue drifted (share recomputes "
              "wrong)")),
_pkill("analytics_q13_custdist", "operators.analytics",
       "q13_order_count_distribution",
       # NOTE (recorded blind spot): a left-join-degraded-to-inner bug
       # is INVISIBLE at sf0.01 — every fixture customer has at least
       # one order, so the zero-orders bucket is empty on both sides
       # (kill attempt stayed green; see COVERAGE.md round 10).
       *_bump("custdist", "distribution count off by one "
              "(value-compare witness)")),
_pkill("analytics_q18_large_orders", "operators.analytics",
       "q18_large_volume_customers",
       *_kw({"threshold": 200}, "large-order threshold mis-set "
            "(300 -> 200)")),
_pkill("analytics_json_props", "operators.analytics", "json_props_extract",
       *_bump("k_bucket", "bucket boundary off by one")),
_pkill("analytics_sessionize", "operators.analytics", "sessionize_events",
       *_kw({"gap_minutes": 30}, "session gap mis-set (60 -> 30 min)")),
_pkill("analytics_event_funnel", "operators.analytics", "event_funnel",
       *_kw({"steps": ["click", "view", "purchase"]},
            "funnel step order swapped (view->click vs click->view)")),


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _compare(spark, con, name: str) -> str | None:
    """The driver's t2 compare (rows + columns + order-insensitive
    normalized values); returns None when green, else the first
    mismatch. A Spark-side ERROR counts as red (the driver records it
    as a gate failure too); an ORACLE error raises — the oracle is
    never mutated, so it erroring is a harness bug, not a kill."""
    spark.catalog.clearCache()
    try:
        spark_pd = ALL_QUERIES[name](spark, SF_DIR).toPandas()
    except Exception as e:  # noqa: BLE001 - mutation may legally crash the engine
        tb = traceback.extract_tb(e.__traceback__)
        raised_here = tb and tb[-1].filename == __file__
        # signature drift can also surface one frame HIGHER: a
        # TypeError at the gate's call site in entry.py when the
        # mutant's explicit signature no longer matches the call shape
        # (r10 fix-review) — the mutant frame is never entered, so the
        # tb[-1]-in-this-file check alone misses it
        drifted = isinstance(e, TypeError) and tb and tb[-1].filename.endswith(
            os.path.join("canal_phoenix_adapter_spark", "entry.py")
        )
        if raised_here or drifted:
            # the mutation never reached the engine, so counting it as
            # red would record a fake kill (r10 review: the
            # etl_range_split _kw wrapper TypeError'd and the audit
            # passed anyway). A legitimate crash-kill raises deep in
            # pyspark, below the wrapper.
            raise
        return f"spark error: {type(e).__name__}"
    duck_pd = con.sql(ALL_ORACLES[name]).df()
    if len(spark_pd) != len(duck_pd):
        return f"rows {len(spark_pd)} != {len(duck_pd)}"
    if sorted(spark_pd.columns) != sorted(duck_pd.columns):
        return "columns differ"
    if canon(spark_pd) != canon(duck_pd):
        return "values differ"
    return None


def test_every_driver_gate_has_a_kill():
    """Completeness both ways: every registered gate has a mutation
    witness, and no kill references a retired gate."""
    assert set(KILLS) == set(E.QUERIES), (
        f"missing kills: {sorted(set(E.QUERIES) - set(KILLS))}; "
        f"stale kills: {sorted(set(KILLS) - set(E.QUERIES))}"
    )


def _assert_red(name: str, kill: Kill, spark, duck, monkeypatch) -> None:
    mod = importlib.import_module(kill.module)
    orig = getattr(mod, kill.attr)
    monkeypatch.setattr(mod, kill.attr, kill.make(orig))
    reason = _compare(spark, duck, name)
    assert reason is not None, (
        f"{name} stayed GREEN under engine mutation [{kill.note}] — "
        "the gate is blind to this bug class"
    )


@pytest.mark.parametrize("name", sorted(KILLS))
def test_gate_goes_red_under_engine_mutation(name, spark, duck, monkeypatch):
    _assert_red(name, KILLS[name], spark, duck, monkeypatch)


def test_every_parity_query_has_a_kill():
    assert set(PARITY_KILLS) == set(PARITY_QUERIES), (
        f"missing: {sorted(set(PARITY_QUERIES) - set(PARITY_KILLS))}; "
        f"stale: {sorted(set(PARITY_KILLS) - set(PARITY_QUERIES))}"
    )


@pytest.mark.parametrize("name", sorted(PARITY_KILLS))
def test_parity_gate_goes_red_under_engine_mutation(name, spark, duck,
                                                    monkeypatch):
    _assert_red(name, PARITY_KILLS[name], spark, duck, monkeypatch)
