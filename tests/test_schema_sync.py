"""Schema evolution tests (C11-C13, S8; FIXTURES.md F5)."""

from __future__ import annotations

from pyspark.sql import types as T

from canal_phoenix_adapter_spark.operators.schema_sync import (
    DdlIntent,
    align_to_schema,
    diff_schemas,
    evolve,
    mysql_type_to_spark,
    parse_ddl,
)


def test_mysql_type_map():
    # TypeUtil.java:36-140 highlights
    assert mysql_type_to_spark("INT") == T.IntegerType()
    assert mysql_type_to_spark("bigint unsigned") == T.DecimalType(20, 0)
    assert mysql_type_to_spark("tinyint") == T.ByteType()
    assert mysql_type_to_spark("tinyint unsigned") == T.ShortType()
    assert mysql_type_to_spark("decimal(10,3)", limit=True) == T.DecimalType(10, 3)
    assert mysql_type_to_spark("decimal(10,3)", limit=False) == T.DecimalType(38, 18)
    assert mysql_type_to_spark("varchar(64)") == T.StringType()
    assert mysql_type_to_spark("datetime") == T.TimestampType()
    assert mysql_type_to_spark("mediumblob") == T.BinaryType()
    assert mysql_type_to_spark("wat") == T.StringType()  # fallback VARCHAR


def test_diff_schemas_add_drop_change():
    src = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("lvl", T.IntegerType()),
        ]
    )
    tgt = T.StructType(
        [
            T.StructField("ID", T.LongType()),
            T.StructField("name", T.IntegerType()),
            T.StructField("legacy", T.StringType()),
        ]
    )
    d = diff_schemas(src, tgt)
    assert [f.name for f in d.add] == ["lvl"]
    assert d.drop == ["legacy"]
    assert d.changed == [("name", T.StringType(), T.IntegerType())]
    assert diff_schemas(src, None).create is True


def test_evolve_default_backfill(spark):
    df = spark.createDataFrame([(1,), (2,)], "id long")
    d = diff_schemas(
        T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("lvl", T.IntegerType())]
        ),
        df.schema,
    )
    out = evolve(df, d, defaults={"lvl": 7})
    assert [r["lvl"] for r in out.orderBy("id").collect()] == [7, 7]


def test_align_to_schema_heal(spark):
    # C11 heal-and-replay as pre-merge alignment
    df = spark.createDataFrame([(1, "x", 9)], "id long, name string, extra int")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("lvl", T.IntegerType()),
        ]
    )
    out = align_to_schema(df, schema, defaults={"lvl": 1})
    assert out.columns == ["id", "name", "lvl"]
    assert out.first()["lvl"] == 1


def test_parse_ddl_add_with_default():
    intents = parse_ddl("ALTER TABLE user ADD COLUMN level int DEFAULT 1")
    assert len(intents) == 1
    i = intents[0]
    assert i.kind == "add" and i.column == "level"
    assert i.dtype == T.IntegerType() and i.default == "1"


def test_parse_ddl_default_scan_ignores_comment_strings():
    """The lazy default scan read INTO COMMENT strings: 'default 5
    used' backfilled 5 on a no-default column, and 'no default here'
    captured a garbage token a string column would backfill verbatim
    (r11 review). A real DEFAULT next to a COMMENT still parses."""
    cases = {
        "ALTER TABLE t ADD COLUMN a INT COMMENT 'default 5 used'": None,
        "ALTER TABLE t ADD COLUMN a INT COMMENT 'no default here'": None,
        "ALTER TABLE t ADD COLUMN a INT DEFAULT 7 COMMENT 'default x'": "7",
        "ALTER TABLE t ADD COLUMN a VARCHAR(10) DEFAULT 'hi' COMMENT 'c'": "hi",
    }
    for sql, want in cases.items():
        (i,) = parse_ddl(sql)
        assert (i.kind, i.column, i.default) == ("add", "a", want), sql


def test_parse_ddl_multi_clause_and_drop():
    intents = parse_ddl(
        "alter table t add column a varchar(10), drop column b, add `c` decimal(8,2) default '0.5'"
    )
    kinds = [(i.kind, i.column) for i in intents]
    assert kinds == [("add", "a"), ("drop", "b"), ("add", "c")]
    assert intents[2].dtype == T.DecimalType(8, 2)
    assert intents[2].default == "0.5"


def test_parse_ddl_truncate_and_other():
    assert parse_ddl("TRUNCATE TABLE t")[0].kind == "truncate"
    assert parse_ddl("CREATE INDEX idx ON t(a)")[0].kind == "other"
    assert parse_ddl("alter table t drop index idx")[0].kind == "other"


def test_parse_ddl_non_column_clauses_are_not_columns():
    """ADD INDEX/KEY/PRIMARY KEY/UNIQUE/CONSTRAINT and DROP
    CONSTRAINT/CHECK/PARTITION must NOT parse as column intents —
    a phantom column named INDEX/PRIMARY healed into the state schema
    would persist forever. Backticked reserved names (the only legal
    MySQL spelling for a column actually named `index`/`key`) still
    parse as real columns."""
    for sql in (
        "ALTER TABLE t ADD INDEX idx_name (col1)",
        "ALTER TABLE t ADD KEY k1 (c)",
        "ALTER TABLE t ADD PRIMARY KEY (id)",
        "ALTER TABLE t ADD UNIQUE KEY uk (c)",
        "ALTER TABLE t ADD CONSTRAINT fk FOREIGN KEY (c) REFERENCES o(i)",
        "ALTER TABLE t ADD FULLTEXT INDEX ft (c)",
        "ALTER TABLE t DROP CONSTRAINT ck",
        "ALTER TABLE t DROP CHECK ck",
        "ALTER TABLE t DROP PARTITION p0",
    ):
        assert parse_ddl(sql) == [DdlIntent("other")], sql
    # backticked reserved names ARE columns; unreserved prefixes too
    assert [(i.kind, i.column) for i in parse_ddl("ALTER TABLE t ADD `index` INT")] \
        == [("add", "index")]
    assert [(i.kind, i.column) for i in parse_ddl("ALTER TABLE t ADD index2 INT")] \
        == [("add", "index2")]
    assert [(i.kind, i.column) for i in parse_ddl("ALTER TABLE t DROP `key`")] \
        == [("drop", "key")]
    # DROP of a column whose name merely STARTS with a keyword must
    # still drop (the guard needs a word boundary, not a prefix match)
    for col in ("checksum", "partition_date", "unique_id", "keystone"):
        assert [(i.kind, i.column) for i in parse_ddl(f"ALTER TABLE t DROP {col}")] \
            == [("drop", col)], col


def test_apply_ddl_add_backfills_and_drop(spark):
    from canal_phoenix_adapter_spark.operators.schema_sync import apply_ddl

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, name string")
    out = apply_ddl(
        df, "ALTER TABLE t ADD COLUMN note VARCHAR(8) DEFAULT 'x', DROP COLUMN name"
    )
    assert out.columns == ["id", "note"]
    assert {r["note"] for r in out.collect()} == {"x"}


def test_schema_inventory_canonical_types(spark):
    from canal_phoenix_adapter_spark.operators.schema_sync import schema_inventory

    df = spark.createDataFrame(
        [], "id bigint, s string, d double, t timestamp, arr array<float>"
    )
    inv = {r["column_name"]: r["data_type"] for r in schema_inventory(df).collect()}
    assert inv == {
        "id": "bigint", "s": "varchar", "d": "double",
        "t": "timestamp", "arr": "float[]",
    }


def test_apply_ddl_function_default_backfills_null(spark):
    """DEFAULT CURRENT_TIMESTAMP (and friends) are DYNAMIC — a
    deterministic backfill cannot evaluate them, and a plain cast of
    the literal text raises under ANSI and kills the batch. They
    backfill NULL; a garbage literal default likewise goes NULL via
    try_cast instead of raising."""
    from canal_phoenix_adapter_spark.operators.schema_sync import apply_ddl

    df = spark.createDataFrame([(1,)], "id long")
    out = apply_ddl(
        df, "ALTER TABLE t ADD COLUMN created_at datetime DEFAULT CURRENT_TIMESTAMP"
    )
    assert out.schema["created_at"].dataType.typeName().startswith("timestamp")
    assert out.collect()[0]["created_at"] is None
    out2 = apply_ddl(df, "ALTER TABLE t ADD COLUMN n int DEFAULT 'abc'")
    assert out2.collect()[0]["n"] is None


def test_align_to_schema_malformed_value_nulls_not_crashes(spark):
    """A type-changing heal whose old state holds ONE malformed value
    must coerce it to NULL (SyncUtil's unparseable -> NULL discipline),
    never raise: under ANSI a plain cast here threw mid-epoch, and a
    failed streaming epoch replays forever — the wedged-stream mode
    the engine's lenient-cast invariant exists to prevent."""
    from canal_phoenix_adapter_spark.operators.merge import merge_cdc

    state = spark.createDataFrame([(1, "abc"), (2, "7")], "id long, value string")
    changes = spark.createDataFrame(
        [(10, "UPDATE", 3, 5)], "seq long, op string, id long, value long"
    )
    out = merge_cdc(state, changes, ["id"], trunc_seq=None)
    got = {r["id"]: r["value"] for r in out.collect()}
    assert got == {1: None, 2: 7, 3: 5}


def test_parse_ddl_escaped_quotes_in_comment_strip_whole_string():
    """SQL-escaped quotes ('') are INSIDE the string: the old strip
    stopped at the first quote of COMMENT 'it''s default 5', leaving
    's default 5' behind for the lazy default scan to capture — the
    same garbage-backfill class the r11 strip fixed (r12 ADVICE)."""
    cases = {
        "ALTER TABLE t ADD COLUMN a INT COMMENT 'it''s default 5'": None,
        "ALTER TABLE t ADD COLUMN a INT COMMENT 'she said ''default 9'''": None,
        "ALTER TABLE t ADD COLUMN a INT DEFAULT 3 COMMENT 'it''s fine'": "3",
    }
    for sql, want in cases.items():
        (i,) = parse_ddl(sql)
        assert (i.kind, i.column, i.default) == ("add", "a", want), sql


def test_parse_ddl_commas_inside_strings_do_not_split_clauses():
    """Commas inside COMMENT/DEFAULT string literals are not clause
    boundaries: the old regex split fractured the statement mid-
    literal, so the clause after the comma ('b here') parsed as
    garbage and real intents were lost (r12 ADVICE + review)."""
    intents = parse_ddl(
        "ALTER TABLE t ADD COLUMN a INT COMMENT 'one, two, three', "
        "ADD COLUMN b VARCHAR(20) DEFAULT 'x,y' COMMENT 'c, d', "
        "DROP COLUMN old"
    )
    got = [(i.kind, i.column, i.default) for i in intents]
    assert got == [
        ("add", "a", None), ("add", "b", "x,y"), ("drop", "old", None)
    ]


def test_parse_ddl_quoted_default_unescapes_doubled_quotes():
    (i,) = parse_ddl("ALTER TABLE t ADD COLUMN a VARCHAR(20) DEFAULT 'it''s'")
    assert i.default == "it's"


def test_parse_ddl_backticked_identifiers_with_spaces_and_keywords():
    """Backticked names take everything to the closing backtick: the
    old `?(\\w+)`? stopped at a space, so ADD COLUMN `my col` INT
    parsed as a silently WRONG string column named 'my' with dtype
    'col' (r12 review). Keyword names stay accepted; bare ADD
    INDEX/DROP KEY stay rejected."""
    intents = parse_ddl(
        "ALTER TABLE t ADD COLUMN `my col` INT DEFAULT 5, "
        "DROP COLUMN `their col`, ADD COLUMN `index` INT, "
        "ADD INDEX idx (c), DROP KEY k2"
    )
    got = [(i.kind, i.column, i.default) for i in intents]
    assert got == [
        ("add", "my col", "5"), ("drop", "their col", None),
        ("add", "index", None),
    ]
    assert intents[0].dtype == T.IntegerType()


def test_parse_ddl_commas_and_quotes_inside_backticked_names():
    """_split_clauses tracks backticked spans like string literals: a
    legal MySQL name containing a top-level comma (ADD COLUMN `a,b`
    INT) was split mid-identifier, and a single quote inside a
    backticked name flipped the string-literal state so the rest of
    the statement misparsed silently (r13 ADVICE)."""
    intents = parse_ddl(
        "ALTER TABLE t ADD COLUMN `a,b` INT, "
        "ADD COLUMN `it's` VARCHAR(10) DEFAULT 'x,y', "
        "DROP COLUMN `c,d`"
    )
    got = [(i.kind, i.column, i.default) for i in intents]
    assert got == [
        ("add", "a,b", None), ("add", "it's", "x,y"),
        ("drop", "c,d", None),
    ]


def test_load_config_dir_loads_yaml_registry(tmp_path):
    """load_config_dir mirrors the adapter's conf-directory registry
    (PhoenixAdapter.java:84-102); it had no test (r12 review)."""
    import pytest

    yaml = pytest.importorskip("yaml")  # noqa: F841 - gate like load_config
    from canal_phoenix_adapter_spark.config import load_config_dir

    (tmp_path / "a.yml").write_text(
        "destination: canal\ndbMapping:\n  database: d\n  table: t\n"
        "  targetTable: x.t\n", encoding="utf-8"
    )
    (tmp_path / "skip.txt").write_text("not yaml", encoding="utf-8")
    out = load_config_dir(str(tmp_path))
    assert list(out) == ["a.yml"]
    assert out["a.yml"].db_mapping.table == "t"
