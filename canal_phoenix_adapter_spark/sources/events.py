"""Canal event envelope: parse, explode, route — plus the synthetic
change stream used by tests and the correctness gate.

The reference consumes ``Dml`` batches (one binlog transaction chunk:
{destination, groupId, database, table, type, isDdl, sql, es, ts,
data:[...], old:[...]} — PhoenixAdapter.java:143-152) and explodes
them into per-row ``SingleDml`` units (support/SingleDml.java:67-92).
Here a Dml batch is one DataFrame row whose data/old are arrays of
maps; explode is a single generator expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from canal_phoenix_adapter_spark.config import MappingConfig

# Canal JSON envelope (FlatMessage shape) as consumed at
# PhoenixSyncService.java:159-162,180. Values arrive stringly-typed.
DML_ENVELOPE = T.StructType(
    [
        T.StructField("destination", T.StringType()),
        T.StructField("groupId", T.StringType()),
        T.StructField("database", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("isDdl", T.BooleanType()),
        T.StructField("sql", T.StringType()),
        T.StructField("es", T.LongType()),   # binlog execute-time millis
        T.StructField("ts", T.LongType()),   # canal delivery-time millis
        T.StructField("data", T.ArrayType(T.MapType(T.StringType(), T.StringType()))),
        T.StructField("old", T.ArrayType(T.MapType(T.StringType(), T.StringType()))),
        T.StructField("pkNames", T.ArrayType(T.StringType())),
    ]
)


def parse_dml_json(
    df: DataFrame, json_col: str = "value", corrupt_col: str | None = None
) -> DataFrame:
    """Parse a column of Canal-JSON strings into the envelope struct
    (batch or streaming source: file/kafka `value`).

    Malformed JSON parses to an all-NULL envelope (from_json is
    PERMISSIVE) which route() then silently filters away — an event
    lost with no signal, where the reference throws on the parse and
    fails the batch for retry (r10 review). Pass ``corrupt_col`` to
    surface them: the raw input string rides in that column (NULL on
    well-formed rows) so a caller can dead-letter the batch or fail it
    on ``count(corrupt_col) > 0``. Detection uses from_json's own
    columnNameOfCorruptRecord (ONE parse, and it also flags
    valid-JSON-that-is-not-an-object — '42', '[1,2]', '"str"', 'null',
    e.g. array-wrapped flatMessage batches — which a JSON-validity
    probe like try_parse_json waves through; r10 fix-review, verified
    on this pyspark). Default stays the lenient shape."""
    raw = F.col(json_col).cast("string")
    if corrupt_col is None:
        return df.select(F.from_json(raw, DML_ENVELOPE).alias("dml")).select("dml.*")
    clash = {f.name.lower() for f in DML_ENVELOPE.fields} | {"dml"}
    if corrupt_col.lower() in clash:
        raise ValueError(
            f"corrupt_col {corrupt_col!r} collides with an envelope field"
        )
    schema = T.StructType(
        [*DML_ENVELOPE.fields, T.StructField(corrupt_col, T.StringType())]
    )
    parsed = F.from_json(raw, schema, {"columnNameOfCorruptRecord": corrupt_col})
    return df.select(parsed.alias("dml")).select("dml.*")


# seq packing: (binlog second) 31 bits | (delivery-ms tiebreak) 14 bits
# | (row pos within envelope) 18 bits. See explode_dml docstring.
_SEQ_TS_SHIFT = 1 << 18          # 262,144 rows per envelope
_SEQ_ES_SHIFT = 1 << 32          # = _SEQ_TS_SHIFT * 2**14
_SEQ_TS_MAX = (1 << 14) - 1      # 16,383 ms delivery-lag tiebreak window
_SEQ_POS_MAX = _SEQ_TS_SHIFT - 1


def explode_dml(df: DataFrame) -> DataFrame:
    """Dml batch -> SingleDml rows (C1, support/SingleDml.java:67-92).

    * data[i] pairs with old[i] (changed-columns previous image).
    * TRUNCATE (and DDL) rows have null/empty data yet must survive as
      one row — hence explode_outer.
    * ``seq`` assigns a total order approximating the reference's
      strict list-order apply (PhoenixSyncService.sync). ``es`` alone
      is NOT a total order: it is the binlog execute time and MySQL
      binlog timestamps have second granularity, so every envelope in
      the same second shares es. seq therefore packs three components
      into one bigint, most-significant first:
        floor(es/1000)            — binlog second        (31 bits)
        min(ts - es_floor, 16383) — canal delivery-time millis within
                                    that second; breaks same-second
                                    envelope ties in arrival order
                                                         (14 bits)
        min(pos, 262143)          — row index in the envelope (18 bits)
      Envelopes lagging >16.4 s behind their binlog second clamp the
      middle component (they still sort after punctual ones); callers
      with an exact source offset (kafka offset / file position)
      should carry their own seq instead.

    The output is one row per changed source row: (seq, database,
    table, type, is_ddl, sql, data map, old map).
    """
    zipped = df.select(
        "*",
        F.posexplode_outer(
            F.when(F.col("data").isNotNull() & (F.size("data") > 0), F.col("data"))
            .otherwise(F.array(F.lit(None).cast("map<string,string>")))
        ).alias("pos", "row_data"),
    )
    es = F.coalesce(F.col("es"), F.lit(0))
    ts = F.coalesce(F.col("ts"), es)
    # clamp the second to its 31-bit budget like the 14/18-bit
    # components below — BOTH sides: an es past 2038 (or a garbage
    # future timestamp TODAY) would overflow int64 in the shift
    # multiply, and a garbage NEGATIVE es the same way; ANSI mode
    # turns either into a batch-killing error
    es_sec = F.greatest(
        F.least(F.floor(es / F.lit(1000)), F.lit((1 << 31) - 1)), F.lit(0)
    )
    ts_tie = F.least(F.greatest(ts - es_sec * 1000, F.lit(0)), F.lit(_SEQ_TS_MAX))
    out = zipped.select(
        (
            es_sec * F.lit(_SEQ_ES_SHIFT)
            + ts_tie * F.lit(_SEQ_TS_SHIFT)
            + F.least(F.col("pos"), F.lit(_SEQ_POS_MAX))
        ).alias("seq"),
        F.col("destination"),
        F.col("groupId").alias("group_id"),
        F.col("database"),
        F.col("table"),
        F.upper(F.col("type")).alias("op"),
        F.coalesce(F.col("isDdl"), F.lit(False)).alias("is_ddl"),
        F.col("sql"),
        F.col("row_data").alias("data"),
        F.try_element_at(F.col("old"), F.col("pos") + 1).alias("old"),
    )
    return out


def route(df: DataFrame, cfg: MappingConfig) -> DataFrame:
    """Routing / dispatch (C2): match destination[-groupId] + database
    + case-insensitive table (PhoenixSyncService.java:159-179, key at
    PhoenixAdapter.java:88-95). Unmatched events are simply not
    selected (reference drops them)."""
    m = cfg.db_mapping
    cond = (F.lower(F.col("database")) == m.database.lower()) & (
        F.lower(F.col("table")) == m.table.lower()
    )
    if cfg.destination:
        # destination/groupId match LOWERCASED, like database/table:
        # the repo's own dispatch key (MappingConfig.routing_key)
        # lowercases the whole key per the reference
        # (PhoenixAdapter.java:88-95) — a case-sensitive filter here
        # silently applied zero rows for envelopes the routing key
        # had already matched (r10 review). DELIBERATE
        # parity deviation: the reference compares destination
        # case-SENSITIVELY (PhoenixAdapter.java:180 .equals), so an
        # envelope whose destination differs only in case syncs here
        # but drops there; internal consistency with routing_key wins
        # (r10 ADVICE; pinned by
        # test_route_matches_destination_and_group_case_insensitively).
        cond = cond & (F.lower(F.col("destination")) == cfg.destination.lower())
    if cfg.group_id:
        # route() runs on BOTH sides of explode_dml: the raw envelope
        # still carries camelCase groupId (explode_dml renames it to
        # group_id) — resolving by the columns actually present keeps
        # a groupId-scoped config from dying at plan time pre-explode.
        gcol = "group_id" if "group_id" in df.columns else "groupId"
        cond = cond & (F.lower(F.col(gcol)) == cfg.group_id.lower())
    return df.where(cond)


# ---------------------------------------------------------------------------
# Synthetic change stream over the driver's events.parquet (FIXTURES.md F1/F4)
# ---------------------------------------------------------------------------

PK_CHANGE_MOD = 17       # every 17th UPDATE event moves the row to a new key
PK_CHANGE_SHIFT = 100000  # new key = user_id + shift (disjoint key space)


def _op_expr():
    """signup -> INSERT, error -> DELETE, else UPDATE: THE event->op
    mapping every synthetic stream variant shares (one definition)."""
    return (F.when(F.col("event_type") == "signup", "INSERT")
            .when(F.col("event_type") == "error", "DELETE")
            .otherwise("UPDATE"))


def synthetic_changes(events: DataFrame, with_pk_change: bool = True) -> DataFrame:
    """Derive a deterministic typed CDC stream from events.parquet.

    Mapping (documented so the DuckDB oracle reproduces it exactly):
      seq = event_id (binlog order)
      op  = signup -> INSERT, error -> DELETE, else UPDATE
      key = user_id, except UPDATEs with event_id % 17 == 0, which are
            PK-changes: new key user_id+100000, old key user_id.
      row image = (user_id, value, ts_us epoch-micros)
    """
    is_update = F.col("event_type").isin("purchase", "view", "click")
    pk_change = is_update & (F.col("event_id") % PK_CHANGE_MOD == 0) if with_pk_change else F.lit(False)
    return events.select(
        F.col("event_id").alias("seq"),
        _op_expr().alias("op"),
        F.when(pk_change, F.col("user_id") + PK_CHANGE_SHIFT)
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        F.when(pk_change, F.col("user_id")).alias("old_user_id"),
        F.col("value"),
        F.col("ts_us"),
    )


SYNTHETIC_CHANGES_SQL = """
SELECT event_id AS seq,
       CASE event_type WHEN 'signup' THEN 'INSERT'
                       WHEN 'error'  THEN 'DELETE'
                       ELSE 'UPDATE' END AS op,
       CASE WHEN event_type IN ('purchase','view','click') AND event_id % 17 = 0
            THEN user_id + 100000 ELSE user_id END AS user_id,
       CASE WHEN event_type IN ('purchase','view','click') AND event_id % 17 = 0
            THEN user_id END AS old_user_id,
       value, epoch_us(ts) AS ts_us
FROM events
"""

TRUNCATE_MOD = 2500  # every 2500th event becomes a TRUNCATE marker


def synthetic_changes_with_truncate(events: DataFrame) -> DataFrame:
    """Like :func:`synthetic_changes` (no PK-changes) but events whose
    ``event_id % 2500 == 0`` become TRUNCATE markers (C7): state is
    wiped and only later events matter. Deterministic at every SF so
    the DuckDB oracle replays the identical stream."""
    is_trunc = F.col("event_id") % TRUNCATE_MOD == 0
    return events.select(
        F.col("event_id").alias("seq"),
        F.when(is_trunc, "TRUNCATE").otherwise(_op_expr()).alias("op"),
        F.col("user_id"),
        F.lit(None).cast("bigint").alias("old_user_id"),
        F.col("value"),
        F.col("ts_us"),
    )


SYNTHETIC_CHANGES_TRUNCATE_SQL = """
SELECT event_id AS seq,
       CASE WHEN event_id % 2500 = 0 THEN 'TRUNCATE'
            WHEN event_type = 'signup' THEN 'INSERT'
            WHEN event_type = 'error'  THEN 'DELETE'
            ELSE 'UPDATE' END AS op,
       user_id, CAST(NULL AS BIGINT) AS old_user_id,
       value, epoch_us(ts) AS ts_us
FROM events
"""


def canal_json_stream(events: DataFrame) -> DataFrame:
    """Render events.parquet as a stream of Canal-JSON envelope strings
    (one Dml per event, single-row data array) — the wire format the
    reference receives (PhoenixAdapter.java:143-152). Routing database
    cycles deterministically so only ``user_id % 3 == 0`` events land
    in the configured 'mytest' database; the rest must be dropped by
    route() exactly like the reference drops unmatched keys
    (PhoenixSyncService.java:159-179)."""
    body = F.to_json(
        F.struct(
            F.lit("canal").alias("destination"),
            F.lit("g1").alias("groupId"),
            F.when(F.col("user_id") % 3 == 0, "mytest").otherwise("other").alias("database"),
            F.lit("user").alias("table"),
            _op_expr().alias("type"),
            F.lit(False).alias("isDdl"),
            F.lit(None).cast("string").alias("sql"),
            F.col("event_id").alias("es"),
            F.col("event_id").alias("ts"),
            F.array(
                F.create_map(
                    F.lit("id"), F.col("user_id").cast("string"),
                    F.lit("etype"), F.col("event_type"),
                )
            ).alias("data"),
            F.lit(None).cast("array<map<string,string>>").alias("old"),
            F.array(F.lit("id")).alias("pkNames"),
        )
    )
    return events.select(body.alias("value"))


SYNTHETIC_CHANGES_NO_PKCHANGE_SQL = """
SELECT event_id AS seq,
       CASE event_type WHEN 'signup' THEN 'INSERT'
                       WHEN 'error'  THEN 'DELETE'
                       ELSE 'UPDATE' END AS op,
       user_id,
       CAST(NULL AS BIGINT) AS old_user_id,
       value, epoch_us(ts) AS ts_us
FROM events
"""


def route_all(
    df: DataFrame, configs: dict[str, MappingConfig]
) -> dict[str, DataFrame]:
    """Multi-config dispatch (C2 at adapter granularity): the reference
    looks up EVERY MappingConfig registered for an event's routing key
    and applies the event to each (PhoenixSyncService.java:163-168
    configMap.values() loop; several yml files may target one source
    table). Spark-side each config gets its own routed stream off the
    same parsed envelope DataFrame — one source scan, N filtered
    branches (Catalyst collapses the shared prefix; with the file/
    kafka source cached or streaming, the envelope parse runs once
    per micro-batch)."""
    return {name: route(df, cfg) for name, cfg in configs.items()}
