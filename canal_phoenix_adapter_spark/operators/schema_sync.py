"""Schema evolution: StructType diff, add/drop column, default
backfill, and DDL-intent parsing.

Re-expresses the reference's runtime schema sync:
  * syncSchema diffs INFORMATION_SCHEMA vs a target probe and emits
    CREATE/ALTER (service/PhoenixEtlService.java:86-172).
  * The sync path heals ColumnNotFound/TableNotFound by running the
    same diff then replaying the batch once
    (service/PhoenixSyncService.java:103-131).
  * DDL events are parsed (Druid) and applied as ADD/DROP COLUMN with
    default backfill (service/PhoenixSyncService.java:256-362).

In a DataFrame engine there is no mutable table, so "ALTER" becomes
column alignment: the next state DataFrame simply carries the evolved
schema, with missing columns materialized as typed NULLs/defaults.
That *is* the heal-and-replay semantics, minus the failure/retry loop.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# MySQL type name -> Spark type, the engine's version of the reference's
# MySQL->Phoenix map (support/TypeUtil.java:36-140; SURVEY.md §1.3).
_MYSQL_TO_SPARK: dict[str, T.DataType] = {
    "bit": T.BinaryType(),
    "tinyint": T.ByteType(),
    "tinyint unsigned": T.ShortType(),
    "boolean": T.BooleanType(),
    "bool": T.BooleanType(),
    "smallint": T.ShortType(),
    "smallint unsigned": T.IntegerType(),
    "mediumint": T.IntegerType(),
    "year": T.IntegerType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "int unsigned": T.LongType(),
    "bigint": T.LongType(),
    "bigint unsigned": T.DecimalType(20, 0),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "real": T.DoubleType(),
    "date": T.DateType(),
    "datetime": T.TimestampType(),
    "timestamp": T.TimestampType(),
    "time": T.TimestampType(),  # Spark has no TimeType (SURVEY §1.3)
    "char": T.StringType(),
    "varchar": T.StringType(),
    "binary": T.BinaryType(),
    "varbinary": T.BinaryType(),
    "tinyblob": T.BinaryType(),
    "blob": T.BinaryType(),
    "mediumblob": T.BinaryType(),
    "longblob": T.BinaryType(),
    "tinytext": T.StringType(),
    "text": T.StringType(),
    "mediumtext": T.StringType(),
    "longtext": T.StringType(),
    "enum": T.StringType(),
    "set": T.StringType(),
}


def mysql_type_to_spark(name: str, limit: bool = False) -> T.DataType:
    """Map a MySQL column type string (possibly with (p[,s]) and
    'unsigned') to a Spark type. ``limit`` keeps DECIMAL(p,s)
    precision, mirroring the reference's `limit` flag
    (support/TypeUtil.java:79-83,102-111); otherwise DECIMAL defaults.
    Unknown types fall back to string (TypeUtil.java:133-139)."""
    s = name.strip().lower()
    m = re.match(r"^([a-z ]+?)\s*(?:\((\d+)(?:\s*,\s*(\d+))?\))?(\s+unsigned)?$", s)
    if not m:
        return T.StringType()
    base, p, scale, unsigned = m.group(1).strip(), m.group(2), m.group(3), m.group(4)
    key = f"{base} unsigned" if unsigned else base
    if base == "decimal" or base == "numeric":
        if limit and p is not None:
            return T.DecimalType(int(p), int(scale or 0))
        return T.DecimalType(38, 18)
    if base == "bit":
        return T.BinaryType()
    return _MYSQL_TO_SPARK.get(key, _MYSQL_TO_SPARK.get(base, T.StringType()))


@dataclass
class SchemaDiff:
    """Result of diffing source schema vs target schema (the engine's
    syncSchema, service/PhoenixEtlService.java:86-172)."""

    create: bool = False                       # target doesn't exist yet
    add: list[T.StructField] = field(default_factory=list)
    drop: list[str] = field(default_factory=list)
    changed: list[tuple[str, T.DataType, T.DataType]] = field(default_factory=list)


def diff_schemas(source: T.StructType, target: T.StructType | None) -> SchemaDiff:
    """Case-insensitive name diff, like the reference's column compare
    (PhoenixEtlService.java:110-139 builds both maps lowercased)."""
    if target is None or len(target.fields) == 0:
        return SchemaDiff(create=True, add=list(source.fields))
    tgt = {f.name.lower(): f for f in target.fields}
    src = {f.name.lower(): f for f in source.fields}
    d = SchemaDiff()
    for f in source.fields:
        t = tgt.get(f.name.lower())
        if t is None:
            d.add.append(f)
        elif t.dataType != f.dataType:
            d.changed.append((f.name, f.dataType, t.dataType))
    for f in target.fields:
        if f.name.lower() not in src:
            d.drop.append(f.name)
    return d


# MySQL function defaults a DDL can declare; they are DYNAMIC, so a
# deterministic backfill cannot evaluate them (and replaying the same
# epoch later must not produce a different value) — they backfill NULL.
_FUNCTION_DEFAULTS = {
    "current_timestamp", "current_timestamp()", "now()", "current_date",
    "current_date()", "localtime", "localtime()", "localtimestamp",
    "localtimestamp()", "curdate()", "curtime()",
}


def _default_lit(dv: object, dtype: T.DataType) -> F.Column:
    """Typed backfill literal for an ADD COLUMN default. try_cast, not
    cast: the default arrives as DDL text, and under ANSI a plain cast
    of an unparseable default ('CURRENT_TIMESTAMP' -> timestamp, 'abc'
    -> int) raises at runtime and kills the batch — the lenient
    coercion discipline (functions/coerce.py) applies here too.
    Function defaults are recognized and backfill NULL explicitly."""
    if isinstance(dv, str) and dv.strip().lower() in _FUNCTION_DEFAULTS:
        dv = None
    return F.lit(dv).try_cast(dtype)


def evolve(
    df: DataFrame,
    diff: SchemaDiff,
    defaults: dict[str, object] | None = None,
    allow_drop: bool = False,
) -> DataFrame:
    """Apply a SchemaDiff to a state DataFrame: ADD COLUMN materializes
    the column as a typed default/NULL for existing rows (the
    reference's post-ALTER default backfill, C13,
    PhoenixSyncService.java:316-321,334-361); DROP COLUMN only when
    allowed (`drop: true`, MappingConfig.java:106)."""
    defaults = defaults or {}
    out = df
    for f in diff.add:
        dv = defaults.get(f.name, defaults.get(f.name.lower()))
        out = out.withColumn(f.name, _default_lit(dv, f.dataType))
    if allow_drop and diff.drop:
        out = out.drop(*diff.drop)
    return out


def align_to_schema(
    df: DataFrame, schema: T.StructType, defaults: dict[str, object] | None = None
) -> DataFrame:
    """Align ``df`` to ``schema`` (names matched case-insensitively):
    missing columns -> typed defaults/NULLs, extra columns dropped,
    order normalized, types cast. This is the batch-level equivalent of
    heal-and-replay (C11): instead of failing on ColumnNotFound and
    retrying, the batch is aligned before the merge.

    try_cast, not cast, on BOTH legs: this is the heal path, so the
    values crossing a type change are untrusted by definition, and
    under ANSI (the driver default) ONE malformed value ('abc' in a
    column healing string -> bigint) would otherwise throw mid-epoch —
    and a failed streaming epoch replays forever (the wedged-stream
    mode session.py's lenient-cast invariant exists to prevent).
    Malformed values become NULL, the reference's own coercion
    discipline for unparseable input (SyncUtil.java:203-207).

    Exact match (same names, same order, same types — the steady-state
    epoch, where batch and state schemas agree) returns ``df``
    unchanged: the per-column try_cast projection would be optimized
    away by Catalyst anyway, but building and analyzing it costs
    driver time on every streaming epoch (r14)."""
    defaults = defaults or {}
    if [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in schema.fields
    ]:
        return df
    have = {c.lower(): c for c in df.columns}
    cols = []
    for f in schema.fields:
        src = have.get(f.name.lower())
        if src is None:
            dv = defaults.get(f.name, defaults.get(f.name.lower()))
            cols.append(F.lit(dv).try_cast(f.dataType).alias(f.name))
        else:
            cols.append(F.col(src).try_cast(f.dataType).alias(f.name))
    return df.select(*cols)


# --------------------------------------------------------------------------
# DDL-intent parsing (C12). The reference runs Druid's full MySQL parser
# (PhoenixSyncService.java:183-190) but only ever acts on ALTER TABLE
# ADD/DROP COLUMN items and TRUNCATE (:280-299 — no MODIFY branch
# exists). We parse exactly that restricted grammar with regexes — not
# a general SQL parser.
# --------------------------------------------------------------------------

def apply_ddl(
    df: DataFrame, sql: str, allow_drop: bool = True, limit: bool = True
) -> DataFrame:
    """Apply the ADD/DROP COLUMN intents of an ALTER TABLE statement to
    a state DataFrame (C12 + C13): each ADD materializes the column at
    its declared type with the declared DEFAULT backfilled for every
    existing row (PhoenixSyncService.java:316-321,334-361); DROP
    removes it when permitted (`drop: true`,
    MappingConfig.java:106). ``limit`` = the mapping's limit flag
    (MappingConfig.java:107): keep declared DECIMAL(p,s) precision
    rather than the default decimal."""
    out = df
    for intent in parse_ddl(sql, limit=limit):
        if intent.kind == "add" and intent.column:
            out = out.withColumn(
                intent.column,
                _default_lit(intent.default, intent.dtype or T.StringType()),
            )
        elif intent.kind == "drop" and intent.column and allow_drop:
            out = out.drop(intent.column)
    return out


# Spark type -> engine-canonical type name, shared vocabulary with the
# reference's INFORMATION_SCHEMA scan (S3, PhoenixEtlService.java:110-139)
# and probe (S4, PhoenixSyncService.java:522-570). timestamp and
# timestamp_ntz collapse: parquet TIMESTAMP(isAdjustedToUTC=false) reads
# as NTZ in Spark 4 but plain TIMESTAMP everywhere else.
_CANONICAL_TYPE = {
    "tinyint": "tinyint", "smallint": "smallint", "int": "integer",
    "bigint": "bigint", "float": "float", "double": "double",
    "string": "varchar", "boolean": "boolean", "date": "date",
    "timestamp": "timestamp", "timestamp_ntz": "timestamp",
    "binary": "varbinary",
}


def schema_inventory(df: DataFrame) -> DataFrame:
    """The engine's source-schema scan (S3) / target probe (S4): column
    name + canonical type as a DataFrame, the Spark analogue of reading
    INFORMATION_SCHEMA.COLUMNS or the zero-row `WHERE 1=2` probe —
    df.schema IS the probe, no data is read."""
    rows = []
    for pos, f in enumerate(df.schema.fields):
        s = f.dataType.simpleString()
        if s.startswith("decimal"):
            canon = s
        elif s.startswith("array<"):
            canon = _CANONICAL_TYPE.get(s[6:-1], s[6:-1]) + "[]"
        else:
            canon = _CANONICAL_TYPE.get(s, s)
        rows.append((pos + 1, f.name.lower(), canon))
    spark = df.sparkSession
    return spark.createDataFrame(
        rows, "ordinal int, column_name string, data_type string"
    )


# ADD INDEX/KEY/PRIMARY KEY/UNIQUE/CONSTRAINT/FULLTEXT/SPATIAL/
# FOREIGN KEY/CHECK/PARTITION clauses are NOT add-column intents: the
# negative lookahead rejects a bare keyword in name position (the
# reference's Druid parser only emits SQLAlterTableAddColumn for real
# columns, PhoenixSyncService.java:256-330). A genuine column that
# happens to be NAMED `index`/`key` is still accepted — MySQL requires
# backticks for those reserved names, and the backtick makes the
# lookahead pass.
_DDL_NON_COLUMN = (
    r"(?:index|key|primary|unique|constraint|fulltext|spatial|foreign"
    r"|check|partition)"
)
# Backticked names take EVERYTHING to the closing backtick (MySQL
# allows spaces/keywords inside): `?(\w+)`? stopped at the space,
# parsing `my col` INT as a WRONG column "my" col (r12 review).
_IDENT = r"(?:`([^`]+)`|(\w+))"
_ADD_RE = re.compile(
    r"add\s+(?:column\s+)?(?!" + _DDL_NON_COLUMN + r"\b)"
    + _IDENT
    + r"\s+([a-z]+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?"
    r"(?:\s+unsigned)?)"
    r"(?:.*?default\s+(?:'((?:[^']|'')*)'|(\S+)))?",
    re.IGNORECASE | re.DOTALL,
)
_DROP_RE = re.compile(r"drop\s+(?:column\s+)?" + _IDENT, re.IGNORECASE)
# SQL-escaped quotes ('') stay inside the string: comment 'it''s five'
# must strip WHOLE, or the fragment ''s five'' re-exposes the very
# garbage-default scan the strip exists to prevent (r12 ADVICE).
_COMMENT_RE = re.compile(r"comment\s+'(?:[^']|'')*'", re.IGNORECASE)


def _split_clauses(s: str) -> list[str]:
    """Split an ALTER body on top-level commas only: commas inside
    parens (DECIMAL(10,2)), SQL string literals (COMMENT 'a, b' /
    DEFAULT 'x,y'; '' is an escaped quote), or backticked identifiers
    (ADD COLUMN `a,b` INT is legal MySQL; `` is an escaped backtick,
    and a quote inside backticks is just a name character) are part
    of the clause (r12+r13 ADVICE)."""
    out, cur, depth, instr, inbt = [], [], 0, False, False
    i = 0
    while i < len(s):
        c = s[i]
        if instr:
            if c == "'" and s[i + 1 : i + 2] == "'":
                cur.append("''")
                i += 2
                continue
            instr = c != "'"
        elif inbt:
            if c == "`" and s[i + 1 : i + 2] == "`":
                cur.append("``")
                i += 2
                continue
            inbt = c != "`"
        elif c == "'":
            instr = True
        elif c == "`":
            inbt = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            out.append("".join(cur))
            cur = []
            i += 1
            continue
        cur.append(c)
        i += 1
    out.append("".join(cur))
    return out


@dataclass
class DdlIntent:
    kind: str                      # 'add' | 'drop' | 'truncate' | 'other'
    column: str | None = None
    dtype: T.DataType | None = None
    default: object | None = None


def parse_ddl(sql: str, limit: bool = True) -> list[DdlIntent]:
    """Extract ADD/DROP COLUMN intents from an ALTER TABLE statement
    (or TRUNCATE). Unrecognized DDL yields [DdlIntent('other')] — the
    reference likewise ignores statements it cannot act on. ``limit``
    threads the mapping's precision flag into the type mapping
    (support/TypeUtil.java:79-83,102-111)."""
    if not sql:
        return []
    s = sql.strip()
    if re.match(r"^truncate\b", s, re.IGNORECASE):
        return [DdlIntent("truncate")]
    if not re.match(r"^alter\s+table\b", s, re.IGNORECASE):
        return [DdlIntent("other")]
    intents: list[DdlIntent] = []
    for clause in _split_clauses(s):
        # COMMENT strings are opaque text: the lazy default scan read
        # INTO them, so COMMENT 'default 5 used' backfilled 5 on a
        # column whose DDL declares no default, and COMMENT 'no
        # default here' captured a garbage token a string column would
        # backfill verbatim (r11 review). Strip them before matching.
        clause = _COMMENT_RE.sub("", clause)
        m = _ADD_RE.search(clause)
        if m:
            if m.group(4) is not None:
                # quoted literal: undo the SQL '' quote escape
                default: object | None = m.group(4).replace("''", "'")
            else:
                default = m.group(5)
            if isinstance(default, str) and default.upper() in ("NULL",):
                default = None
            intents.append(
                DdlIntent("add", m.group(1) or m.group(2),
                          mysql_type_to_spark(m.group(3), limit=limit), default)
            )
            continue
        m = _DROP_RE.search(clause)
        # \b mirrors the ADD lookahead: a column NAMED checksum /
        # partition_date / unique_id must still drop — only the bare
        # keyword (DROP CHECK x, DROP PARTITION p) is a non-column.
        if m and not re.search(
            r"drop\s+" + _DDL_NON_COLUMN + r"\b", clause, re.IGNORECASE
        ):
            intents.append(DdlIntent("drop", m.group(1) or m.group(2)))
    return intents or [DdlIntent("other")]
