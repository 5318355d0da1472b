"""CDC apply as DataFrame algebra: upsert / delete / PK-change /
truncate with per-key last-writer-wins ordering.

This is the Spark re-expression of the reference's apply loop
(service/PhoenixSyncService.java:234-254 dispatch, :370-465 upsert,
:425-456 PK-change delete-then-upsert, :473-498 delete, :505-513
truncate) and of its per-key ordered parallelism: the reference
partitions rows by ``abs(sum(hash(pk))) % threads`` and applies each
partition serially on its own connection (:206-220, :609-628), which
guarantees exactly *last-event-wins per key*. A window
``partitionBy(pk).orderBy(seq desc)`` keep-last collapses that
guarantee into one deterministic set-oriented pass (SURVEY.md §3.1).

Scale notes (the whole point):
  * The window shuffles only the *changes* batch (micro-batch sized),
    never the accumulated state.
  * The state is touched by exactly one left_anti join + union; when
    the changes side is small relative to state (the normal CDC case)
    we broadcast the touched-key set so the state is NOT shuffled —
    a map-side anti join over 100 TB of state.
  * No collect() of data; the only driver-side value is the scalar
    "seq of last TRUNCATE" aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from canal_phoenix_adapter_spark.functions.hashing import bq as _bq
from canal_phoenix_adapter_spark.operators.schema_sync import align_to_schema

OP_INSERT = "INSERT"
OP_UPDATE = "UPDATE"
OP_DELETE = "DELETE"
OP_TRUNCATE = "TRUNCATE"

# The change-batch row contract (typed_changes / explode_dml): a
# total-order sequence column, the event type, and, for a PK-changing
# UPDATE, the old key in old_<pk> (the reference's old[pk] ?? data[pk],
# PhoenixSyncService.java:575-593).
SEQ = "seq"
OP = "op"
OLD_PREFIX = "old_"

_NO_PRESCAN = object()  # "did not pre-scan"; None means "no TRUNCATE"


# The merge kernel builds its per-epoch expression tree as SQL text
# (selectExpr / F.expr, identifiers quoted with _bq) instead of
# composed Column objects: the Column form cost ~270 ms of py4j
# round-trips PER merge_cdc call — paid twice per
# streaming epoch and in every merge-family bench gate — where the
# text form is a handful of calls. Semantics are unchanged (same
# functions, same aliases); each shared fragment below has ONE
# definition consumed by both the text and Column forms so they
# cannot drift.


def truncate_seq_expr() -> F.Column:
    """THE truncate-detection aggregate (max seq of TRUNCATE rows),
    shared by last_truncate_seq and the pruned store's single-pass
    pre-scan — two hand-maintained copies of this predicate would
    silently desynchronize the pre-scan from the merge it feeds
    (merge_cdc's trunc_seq makes the pre-scan authoritative)."""
    return F.max(F.when(F.upper(F.col(OP)) == OP_TRUNCATE, F.col(SEQ)))


# `op` marks a surviving row image (INSERT/UPDATE) — text twin of the
# dispatch the reference applies per event type.
_IS_CREATE_SQL = f"upper({_bq(OP)}) IN ('{OP_INSERT}', '{OP_UPDATE}')"


def _old_key_sql(columns: list[str], pk: list[str]) -> list[str]:
    """coalesce(old_<pk>, <pk>) per pk column — THE old-key expression
    (reference getPkVal, PhoenixSyncService.java:575-593), shared by
    collapse_changes' death rows, touched_keys, and (via
    old_key_exprs) the pruned store's touched-bucket pre-scan."""
    return [
        f"coalesce({_bq(OLD_PREFIX + k)}, {_bq(k)})"
        if (OLD_PREFIX + k) in columns else _bq(k)
        for k in pk
    ]


def old_key_exprs(columns: list[str], pk: list[str]) -> list[F.Column]:
    """Column form of _old_key_sql (one definition — see _bq)."""
    return [F.expr(s) for s in _old_key_sql(columns, pk)]


def _key_changed_sql(columns: list[str], pk: list[str]) -> str:
    """True iff the row's old_<pk> columns mark a PK-changing UPDATE
    (old key present and different) — THE death-row predicate, shared
    by collapse_changes' timeline and touched_keys' key set so the two
    can never disagree on which old keys an epoch touches."""
    terms = [
        f"({_bq(OLD_PREFIX + k)} IS NOT NULL"
        f" AND NOT ({_bq(OLD_PREFIX + k)} <=> {_bq(k)}))"
        for k in pk
        if (OLD_PREFIX + k) in columns
    ]
    return "(" + (" OR ".join(terms) or "false") + ")"


def _key_entries_sql(
    columns: list[str], pk: list[str], field_prefix: str,
    with_create_flag: bool,
) -> str:
    """The timeline's per-row key-entry array: the main key (with the
    create flag when asked), plus the death entry at the OLD key for a
    PK-changing create. ONE definition for collapse_changes (flagged
    entries feeding the argmax) and touched_keys (bare key set) — a
    drift here is exactly the silent-row-loss trap the
    touched-keys-equals-collapse test pins."""
    flag = (
        f", CASE WHEN {_IS_CREATE_SQL} THEN 1 ELSE 0 END AS c"
        if with_create_flag else ""
    )
    dead_flag = ", 0 AS c" if with_create_flag else ""
    main = "struct(" + ", ".join(
        f"{_bq(k)} AS {_bq(field_prefix + k)}" for k in pk
    ) + flag + ")"
    death = "struct(" + ", ".join(
        f"{oe} AS {_bq(field_prefix + k)}"
        for oe, k in zip(_old_key_sql(columns, pk), pk)
    ) + dead_flag + ")"
    return (
        f"CASE WHEN {_IS_CREATE_SQL}"
        f" AND {_key_changed_sql(columns, pk)}"
        f" THEN array({main}, {death}) ELSE array({main}) END"
    )


def touched_keys(
    changes: DataFrame,
    pk: list[str],
    distinct: bool = True,
) -> DataFrame:
    """Keys a (pre-filtered) change batch touches: every row's main
    key, plus the old key of PK-changing creates (the death row's
    landing spot). This is EXACTLY collapse_changes' timeline key set
    — pinned by test — derived without the max_by aggregate: the anti
    join's touched side then ships only the pk columns instead of
    re-running the full collapse (shuffle + max_by over the image
    payload) a second time inside the broadcast build. At 100 TB the
    broadcast-build pass moves keys, never row images.

    ``distinct=False`` skips the dedup aggregate and returns the key
    MULTISET (same key set, duplicate rows kept): a LEFT ANTI join
    consumer only probes key existence, so the dedup buys it nothing —
    and on the broadcast route the distinct's Exchange + two
    HashAggregates were a whole extra AQE stage barrier per streaming
    epoch. Keep the default for the shuffle route, where the
    distinct shrinks the shuffled key bytes by the batch's churn
    factor.

    Caller contract (merge_cdc): ``changes`` already has TRUNCATE/
    DDL/unknown-op rows filtered out, like collapse_changes' input.
    The key set must stay EXACTLY equal to the collapse's: a superset
    would anti-join away state rows no survivor re-adds (silent row
    loss), a subset would duplicate keys."""
    if any(OLD_PREFIX + k in changes.columns for k in pk):
        entries = _key_entries_sql(
            changes.columns, pk, field_prefix="", with_create_flag=False,
        )
        # inline() expands the struct array straight to pk-named
        # columns — generator and unpack in ONE projection.
        keys = changes.selectExpr(f"inline({entries})")
    else:
        keys = changes.selectExpr(*[_bq(k) for k in pk])
    return keys.dropDuplicates() if distinct else keys


def applicable_changes(changes: DataFrame) -> DataFrame:
    """The rows of a change batch the merge applies: INSERT, UPDATE and
    DELETE. Unrecognized event types are logged-and-ignored by the
    reference (PhoenixSyncService.sync else-branch), never applied as
    deletes; DDL rows travel the schema_sync channel, not the merge.
    One combined filter: Catalyst merges them anyway, and the driver
    pays one analysis instead of two per epoch (see _bq)."""
    keep = (f"upper({_bq(OP)}) IN "
            f"('{OP_INSERT}', '{OP_UPDATE}', '{OP_DELETE}')")
    if "is_ddl" in changes.columns:
        keep += " AND NOT coalesce(`is_ddl`, false)"
    return changes.where(keep)


def last_truncate_seq(changes: DataFrame):
    """Seq of the last TRUNCATE in the batch, or None. A TRUNCATE wipes
    state and all earlier events (C7, PhoenixSyncService.java:505-513
    applied in event order)."""
    return changes.agg(truncate_seq_expr()).first()[0]


def _image_cols(columns: list[str], pk: list[str]) -> list[str]:
    """Row-image columns of a change batch: everything except the
    sequence/op metadata, the EXACT ``old_<pk>`` PK-change columns,
    and is_ddl (routing metadata — its ROWS are filtered in
    merge_cdc; including the COLUMN would heal it into the state
    schema permanently). Exclusion is by the exact old_<pk> names,
    never a bare prefix match: a business column that happens to be
    NAMED old_status is real data, and a prefix strip would silently
    drop it from every survivor (and then wipe it from state via the
    schema align). One definition shared by collapse_changes and
    merge_cdc so a future metadata column cannot be excluded in one
    and healed into state by the other."""
    old_keys = {OLD_PREFIX + k for k in pk}
    return [
        c for c in columns
        if c not in (SEQ, OP, "is_ddl") and c not in old_keys
    ]


def image_schema(changes: T.StructType, pk: list[str]) -> T.StructType:
    """Schema of the survivor rows merge_cdc builds from a change batch
    of schema ``changes``: the pk columns, then the other image
    columns, with the batch's types. Lets a caller that has not built
    the collapse (the pruned state store) ask healed_schema whether a
    batch would change the state schema."""
    fields = {f.name: f for f in changes.fields}
    image = _image_cols(changes.names, pk)
    return T.StructType(
        [fields[k] for k in pk] + [fields[c] for c in image if c not in pk]
    )


def healed_schema(state: T.StructType, images: T.StructType) -> T.StructType:
    """The state schema after merging row images of schema ``images``:
    the UNION schema, never the batch's. Image types win for common
    columns (the heal direction), image-only columns are added, and
    STATE-ONLY columns SURVIVE — a batch whose image stopped carrying
    a column must not wipe it from every untouched row (schema_sync
    gates real drops behind its own flag). Names match
    case-insensitively."""
    names = {f.name.lower() for f in images.fields}
    return T.StructType(
        list(images.fields)
        + [f for f in state.fields if f.name.lower() not in names]
    )


def collapse_changes(changes: DataFrame, pk: list[str]) -> DataFrame:
    """Collapse an ordered change batch to its net per-key effect.

    Input layout: one row per change event with typed image columns,
    ``op`` in {INSERT, UPDATE, DELETE, TRUNCATE}, a total-order
    ``seq``, and (optionally) ``old_<pk>`` columns that are non-null
    iff that UPDATE moved the row's primary key (C5,
    PhoenixSyncService.java:425-456: delete old key, upsert new key).

    Output: one row per touched key with ``__is_create`` = 1 (key ends
    alive, image columns hold the final row) or 0 (key ends deleted).
    TRUNCATE rows must be filtered out beforehand (see merge_cdc).
    """
    image_cols = _image_cols(changes.columns, pk)

    # Build the per-key timeline in ONE pass: each change row yields its
    # main effect (create with the row image, or delete with a null
    # image); a PK-changing UPDATE additionally yields the death of the
    # old key at the same seq (reference reads the old image per PK
    # column via old[pk] ?? data[pk], PhoenixSyncService.getPkVal,
    # :575-593). The extra death row comes from exploding a TINY
    # (key, flag) struct array while the image columns ride along flat
    # through the generator — the image is never boxed into a struct
    # (the earlier full-image array+explode variant did, costing ~40%
    # on the hot path), and the batch is scanned exactly once (a
    # union-of-two-scans variant re-reads the source for the rare
    # death rows). Expression TEXT throughout, not composed Columns —
    # see _bq: same operators, same aliases, ~6 py4j calls instead of
    # O(columns) hundreds, paid per streaming epoch.
    if any(OLD_PREFIX + k in changes.columns for k in pk):
        entries = _key_entries_sql(
            changes.columns, pk, field_prefix="k_", with_create_flag=True,
        )
        timeline = changes.selectExpr(
            f"{_bq(SEQ)} AS __seq",
            *[_bq(c) for c in image_cols],
            f"explode({entries}) AS __e",
        ).selectExpr(
            *[f"__e.{_bq('k_' + k)} AS {_bq('__k_' + k)}" for k in pk],
            "__seq",
            "__e.c AS __is_create",
            # __e.c == 1 only on the main entry of a create: death rows
            # and delete mains both null the image.
            *[
                f"CASE WHEN __e.c = 1 THEN {_bq(c)} END AS {_bq(c)}"
                for c in image_cols
            ],
        )
    else:
        timeline = changes.selectExpr(
            *[f"{_bq(k)} AS {_bq('__k_' + k)}" for k in pk],
            f"{_bq(SEQ)} AS __seq",
            f"CASE WHEN {_IS_CREATE_SQL} THEN 1 ELSE 0 END AS __is_create",
            *[
                f"CASE WHEN {_IS_CREATE_SQL} THEN {_bq(c)} END AS {_bq(c)}"
                for c in image_cols
            ],
        )

    # Last writer wins per key, as an argmax AGGREGATE rather than a
    # row_number window: max_by gets map-side partial aggregation, so
    # the shuffle carries at most one candidate per key per map
    # partition instead of every timeline row, and the post-exchange
    # sort (max_by's struct buffer forces SortAggregate) runs over
    # those collapsed candidates only — not the full timeline a
    # window would sort. (seq, __is_create) compares lexicographically
    # via the struct; __is_create breaks the (otherwise impossible)
    # same-seq tie in favor of the create, mirroring the reference's
    # delete-before-upsert order within one event.
    key_cols = [f"__k_{k}" for k in pk]
    payload = [c for c in timeline.columns if c not in key_cols]
    last = (
        timeline.groupBy(*key_cols)
        .agg(F.expr(
            "max_by(struct("
            + ", ".join(_bq(c) for c in payload)
            + "), struct(__seq, __is_create)) AS __t"
        ))
        .select(*key_cols, "__t.*")
    )
    return last


def merge_cdc(
    state: DataFrame | None,
    changes: DataFrame,
    pk: list[str],
    broadcast_changes: bool = True,
    skip_missing: bool = False,
    trunc_seq: object = _NO_PRESCAN,
) -> DataFrame:
    """Apply a CDC change batch to a keyed state table; returns the new
    state (C3-C9 + C7 truncate). Pure DataFrame algebra — the same
    kernel is driven per-epoch by Structured Streaming (streaming/).

    ``broadcast_changes`` (default): hint the collapsed per-key change
    set as the broadcast side of the anti join, so 100 TB of state is
    merged without shuffling the state. Disable when a single batch
    touches more keys than fit in executor memory.

    ``trunc_seq``: seq of the batch's last TRUNCATE. By default the
    merge scans the batch for it (one full pass). ``None`` says the
    caller knows the batch carries no TRUNCATE — e.g. a source whose
    DDL channel is separate — and skips the scan. Any other value is
    a caller's own pre-scan result (the pruned store's, observed on
    its delta write or run as one aggregate job), so the truncate
    SEMANTICS still apply without re-paying the scan job.

    ``skip_missing`` (config/MappingConfig.java:107, honored at
    PhoenixSyncService.java:399-411): batch columns the existing state
    does not have are DROPPED (the batch is aligned down to the state
    schema) instead of healing the state up to the batch schema — the
    reference's skip-the-column-with-a-warning behavior, expressed at
    batch granularity.
    """
    if trunc_seq is _NO_PRESCAN:
        trunc_seq = last_truncate_seq(changes)
    if trunc_seq is not None:
        # Column form, not text: trunc_seq is a runtime VALUE whose
        # type (long, timestamp, ...) F.lit preserves exactly.
        changes = changes.where(F.col(SEQ) > F.lit(trunc_seq))
        state = None  # truncate wipes accumulated state (C7)
    changes = applicable_changes(changes)

    last = collapse_changes(changes, pk)
    image_cols = _image_cols(changes.columns, pk)
    survivors = last.where("__is_create = 1").selectExpr(
        *[f"{_bq('__k_' + k)} AS {_bq(k)}" for k in pk],
        *[_bq(c) for c in image_cols if c not in pk],
    )

    if state is None:
        return survivors

    if skip_missing:
        survivors = align_to_schema(survivors, state.schema)
    else:
        # Heal to the union schema (healed_schema). Survivor rows take
        # NULL for state-only columns: these are full-row images (the
        # Canal contract), not partial updates.
        union_schema = healed_schema(state.schema, survivors.schema)
        state = align_to_schema(state, union_schema)
        survivors = align_to_schema(survivors, union_schema)
    # Touched keys come from the PRE-collapse batch (touched_keys):
    # same key set as `last` by construction (shared death-row
    # predicate, pinned by test), but the broadcast-build job now runs
    # scan -> key project instead of re-executing the whole collapse
    # (shuffle + max_by over the row images) a second time: shuffle
    # keys, not payloads. On the broadcast route the key MULTISET
    # broadcasts as-is (distinct=False): LEFT ANTI probes existence
    # only, duplicate build rows cannot change it,
    # and the memory envelope is already row-count-gated by the
    # caller's broadcast_changes heuristic — dropping the distinct
    # removes an Exchange + two HashAggregates (one whole AQE stage
    # barrier) from every streaming epoch. The shuffle route
    # keeps the distinct: there the dedup shrinks the shuffled key
    # bytes by the batch's per-key churn factor.
    touched = touched_keys(changes, pk, distinct=not broadcast_changes)
    return replace_keys(state, touched, survivors, pk, broadcast_changes)


def replace_keys(
    state: DataFrame, keys: DataFrame, rows: DataFrame, pk: list[str],
    broadcast: bool = True,
) -> DataFrame:
    """``state`` minus every row whose key is in ``keys``, plus ``rows``
    — the apply step shared by merge_cdc and the pruned state store's
    merge-on-read of its delta. ``broadcast`` hints ``keys`` as the
    build side of the LEFT ANTI join, so the state side is filtered in
    place and never shuffled."""
    if broadcast:
        keys = F.broadcast(keys)
    return state.join(keys, on=pk, how="left_anti").unionByName(rows)


def keep_last(
    df: DataFrame, pk: list[str], order_col: str = "seq"
) -> DataFrame:
    """Per-key keep-last dedup (C8 collapsed): one row per key, the one
    with the greatest ``order_col``. The standalone building block the
    driver's t2 gate checks as an operator in its own right.

    Expressed as a max_by aggregate (not a row_number window) so the
    shuffle gets map-side partial aggregation: at most one candidate
    per key per map partition crosses the exchange, and the
    post-exchange sort (max_by's struct buffer forces SortAggregate)
    covers only those collapsed candidates, not every input row —
    the shape that survives a 100 TB batch.

    The ordering key is ``(order_col IS NOT NULL, order_col)``, never
    the bare column: max_by SKIPS rows whose ordering key is NULL, so
    a key whose order values are all NULL would aggregate to a NULL
    struct and ``__t.*`` would fabricate an all-NULL row that never
    existed. The non-null flag makes the key itself non-null for
    every row — NULL-ordered rows simply lose to any non-NULL one
    (the window form's ``desc`` = NULLS LAST behavior), and an
    all-NULL key keeps one of its real rows.
    """
    payload = [c for c in df.columns if c not in pk]
    order = F.col(order_col)
    out = (
        df.groupBy(*pk)
        .agg(
            F.max_by(
                F.struct(*payload), F.struct(order.isNotNull(), order)
            ).alias("__t")
        )
        .select(*pk, "__t.*")
    )
    return out.select(*df.columns)
