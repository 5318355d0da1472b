"""Source sizing and session tests: dataset_size, fan_out, load_table's
conf scoping, the byte-string parser and get_spark's defaults."""

from __future__ import annotations

import os


def test_dataset_size_survives_dangling_symlink(tmp_path):
    """The directory branch must honor the unknowable->None contract
    instead of crashing plan time on a broken symlink (r10 review)."""
    from canal_phoenix_adapter_spark.sources.tables import dataset_size

    d = tmp_path / "ds"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 10)
    os.symlink(str(d / "never-existed"), str(d / "part-1.parquet"))
    assert dataset_size(str(d)) is None


def test_load_table_events_restores_nanos_conf(spark):
    """load_table('events') must scope the legacy nanosAsLong conf to
    its own read: leaking it session-wide silently changed every later
    TIMESTAMP(NANOS) parquet read (r10 review; relation captures the
    conf at read time, so restoring cannot break the returned df)."""
    from canal_phoenix_adapter_spark.sources.tables import load_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    assert spark.conf.get(key, None) is None  # restored to unset
    assert df.count() > 0                     # and the df still executes
    spark.conf.set(key, "false")
    load_table(spark, "/root/testdata/sf0.001", "events")
    assert spark.conf.get(key) == "false"     # prior explicit value restored
    spark.conf.unset(key)


def test_fan_out_never_shuffles_unknown_or_big_inputs(spark, tmp_path):
    """fan_out is fail-safe: only a KNOWN-small input triggers the
    round-robin repartition. Unknown size (remote path the driver
    cannot stat) and known-big inputs must pass through unshuffled —
    repartitioning a 100 TB table because a stat failed would be the
    disaster the helper exists to avoid. Directory-style datasets
    must be SUMMED, not os.path.getsize(dir) (~4 KiB inode size)."""
    from canal_phoenix_adapter_spark.sources.tables import fan_out

    df = spark.range(10)
    assert fan_out(spark, df, None) is df          # unknown: no-op
    assert fan_out(spark, df, 10**15) is df        # big: no-op
    assert fan_out(spark, df, 1024) is not df      # known-small: fan out

    # directory-style parquet: load_table must sum member files (a
    # bare getsize(dir) returns the inode size without raising, which
    # would make EVERY directory dataset look tiny)
    import os

    d = str(tmp_path / "sfdir")
    os.makedirs(d)
    spark.range(100).selectExpr("id AS doc_id", "'x' AS text") \
        .repartition(2).write.parquet(os.path.join(d, "documents.parquet"))
    from canal_phoenix_adapter_spark.sources.tables import load_table

    out = load_table(spark, d, "documents")
    assert out.count() == 100


def test_dataset_size_sums_nested_partitions(spark, tmp_path):
    """A hive-partitioned dataset nests part files under key=value
    subdirectories; dataset_size must sum them recursively (a
    top-level-only sum would count ~4 KiB subdirectory inodes and a
    multi-TB table would look tiny enough to repartition). Unknown
    paths yield None, never a guess."""
    import os

    from canal_phoenix_adapter_spark.sources.tables import dataset_size

    d = str(tmp_path / "part.parquet")
    spark.range(500).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS lang"
    ).write.partitionBy("lang").parquet(d)

    true_sum = 0
    for root, _dirs, files in os.walk(d):
        true_sum += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files if not f.startswith((".", "_"))
        )
    inode_sum = sum(
        os.path.getsize(os.path.join(d, e))
        for e in os.listdir(d) if not e.startswith((".", "_"))
    )  # what a non-recursive sum would report: subdirectory inodes
    assert true_sum > 0
    assert dataset_size(d) == true_sum
    assert dataset_size(d) != inode_sum
    assert dataset_size("s3://bucket/nope.parquet") is None


def test_fan_out_parses_size_suffixed_split_conf(spark):
    """spark.sql.files.maxPartitionBytes accepts size suffixes ("128m"
    is what session.py sets); fan_out must parse them instead of
    silently falling back to 128 MiB on int() failure (r8 review).
    With a 1k split size a 1 MiB table is "wide enough" and must NOT
    be repartitioned; with 1g it is narrow and must fan out."""
    from canal_phoenix_adapter_spark.sources.tables import fan_out

    df = spark.range(10)
    orig = spark.conf.get("spark.sql.files.maxPartitionBytes")
    # threshold is parallelism * split-size, so derive n_bytes from the
    # session's parallelism instead of assuming 32 cores (r8 advice)
    n_bytes = spark.sparkContext.defaultParallelism * 1024
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
        assert fan_out(spark, df, n_bytes) is df      # wide: pass-through
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1g")
        assert fan_out(spark, df, n_bytes) is not df  # narrow: fan out
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", orig)


def test_byte_string_parser_matches_spark_grammar():
    from canal_phoenix_adapter_spark.sources.tables import _byte_string_as_bytes

    assert _byte_string_as_bytes("134217728") == 134217728
    assert _byte_string_as_bytes("128m") == 128 << 20
    assert _byte_string_as_bytes("128MB") == 128 << 20
    assert _byte_string_as_bytes("1k") == 1024
    assert _byte_string_as_bytes("1t") == 1 << 40
    assert _byte_string_as_bytes(" 2g ") == 2 << 30
    assert _byte_string_as_bytes("garbage") == 134217728  # fallback
    assert _byte_string_as_bytes("1x") == 134217728       # unknown suffix


def test_byte_string_parser_fallback_warns(caplog):
    # r9 ADVICE: a typo'd spark.sql.files.maxPartitionBytes silently
    # changed fan_out's threshold — the fallback must be loud.
    from canal_phoenix_adapter_spark.sources.tables import _byte_string_as_bytes

    with caplog.at_level("WARNING", "canal_phoenix_adapter_spark.sources.tables"):
        assert _byte_string_as_bytes("1gib") == 134217728
    assert any("1gib" in r.getMessage() for r in caplog.records)
    caplog.clear()
    with caplog.at_level("WARNING", "canal_phoenix_adapter_spark.sources.tables"):
        assert _byte_string_as_bytes("128m") == 128 << 20
    assert not caplog.records  # happy path stays silent


def test_default_driver_mem_capped_at_half_physical_ram(monkeypatch):
    """With SPARK_DRIVER_MEM unset, get_spark asks for 48g of driver
    heap only on a host with at least 96 GB; a smaller host gets half
    its physical memory, so a local-mode JVM cannot outgrow the host."""
    import inspect

    from canal_phoenix_adapter_spark import session

    def host(total_bytes):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": total_bytes // 4096}
        monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
        return session._default_driver_mem()

    assert host(16 << 30) == "8192m"
    assert host(96 << 30) == "49152m"
    assert host(512 << 30) == "49152m"  # the 48g ceiling
    assert "_default_driver_mem()" in inspect.getsource(session.get_spark)


def test_get_spark_warns_when_explicit_args_dropped(spark, caplog):
    # r9 ADVICE: explicit tuning args are discarded when an external
    # session already exists — the caller must get a runtime signal.
    from canal_phoenix_adapter_spark.session import get_spark

    with caplog.at_level("WARNING", "canal_phoenix_adapter_spark.session"):
        assert get_spark(cpus=4, shuffle_partitions=8) is spark
    assert any("dropped" in r.getMessage() for r in caplog.records)
    caplog.clear()
    with caplog.at_level("WARNING", "canal_phoenix_adapter_spark.session"):
        assert get_spark() is spark  # all-default call stays silent
    assert not caplog.records
