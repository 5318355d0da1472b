"""Helpers to assert the physical plan has the shape we designed for:
filters pushed into the scan, columns pruned, dimensions broadcast,
no accidental extra shuffles. Used by tests/test_plans.py so a perf
regression (e.g. a filter that stops reaching parquet) fails CI, not
just the benchmark.

Lived at canal_phoenix_adapter_spark/plans/explain.py through r11;
relocated to tests/ in r12 because its ONLY consumers are the plan-
shape tests (grep: zero package-side references) — test infrastructure
belongs with the tests (same rule as the parity registry's oracle
SQL)."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """Plan text via the public df.explain(mode=...), captured from
    stdout — the only API that works on both classic and Connect
    sessions (the previous PythonSQLUtils.explainString call was the
    package's last private-py4j-gateway dependency; r9 verdict)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _split_top_level(s: str, opens: str, closes: str) -> list[str]:
    """Split on commas at bracket depth 0 — naive str.split corrupts
    any entry containing its own commas (In(id, [1,2,3]) filters,
    decimal(18,2) / nested struct<> schema types; r9 review, both
    reproduced on Spark 4.1). The bracket alphabet is per GRAMMAR:
    '<' in a filter literal (EqualTo(s,a<b)) is data, not a bracket,
    so the filter grammar counts only ()[] while the schema grammar
    counts <>(). A close char at depth 0 (unmatched ']' inside a
    string literal, e.g. EqualTo(s,a])) is treated as data — without
    the clamp it would drive depth negative and mis-split every
    later entry (r9 ADVICE)."""
    out: list[str] = []
    buf: list[str] = []
    depth = 0
    for ch in s:
        if ch in opens:
            depth += 1
        elif ch in closes and depth > 0:
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    tail = "".join(buf).strip()
    if tail:
        out.append(tail)
    return [x for x in out if x]


def _balanced_regions(text: str, marker: str, open_ch: str, close_ch: str) -> list[str]:
    """Every balanced open..close region that follows marker (whose
    last char must be open_ch) — a [^\\]]* regex stops at the FIRST
    close char and silently truncates nested entries. A region that
    never closes (Spark truncated the line at
    spark.sql.maxMetadataStringLength) RAISES: a plan assertion must
    error loudly rather than silently test garbage columns."""
    out = []
    i = text.find(marker)
    while i >= 0:
        k = i + len(marker)
        depth, start = 1, k
        while k < len(text) and depth:
            if text[k] == open_ch:
                depth += 1
            elif text[k] == close_ch:
                depth -= 1
            k += 1
        if depth:
            raise ValueError(
                f"unbalanced {marker!r} region — plan text likely truncated; "
                "raise spark.sql.maxMetadataStringLength for this assertion"
            )
        out.append(text[start:k - 1])
        i = text.find(marker, k)
    return out


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries across all scans in the plan."""
    text = explain_str(df)
    out: list[str] = []
    for region in _balanced_regions(text, "PushedFilters: [", "[", "]"):
        out.extend(_split_top_level(region, "([", ")]"))
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each parquet scan (pruning check)."""
    text = explain_str(df)
    return [
        [c.split(":")[0].strip() for c in _split_top_level(region, "<(", ">)")]
        for region in _balanced_regions(text, "ReadSchema: struct<", "<", ">")
    ]


def has_broadcast_join(df: DataFrame) -> bool:
    """True iff the plan contains a Broadcast HASH join. Deliberately
    NOT BroadcastNestedLoopJoin: that is the O(n^2) degenerate shape
    the plan suite exists to catch — counting it as a satisfying
    'broadcast join' would green-light an equi-join regressing to a
    non-equi nested loop."""
    return "BroadcastHashJoin" in explain_str(df)


def sized(df: DataFrame) -> DataFrame:
    """``df`` cached and counted, so the planner knows its size the way
    it knows a file-source micro-batch's. An RDD-built frame
    (``createDataFrame`` over a list) reports
    ``spark.sql.defaultSizeInBytes`` instead, which sends a pruned
    state store epoch down its scan-first order (``fits_one_split``)."""
    df = df.cache()
    df.count()
    return df


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle) operators in the plan (pre-AQE)."""
    return len(re.findall(r"\(\d+\) Exchange", explain_str(df)))


def broadcast_count(df: DataFrame) -> int:
    """Number of BroadcastExchange operators in the plan (pre-AQE)."""
    return len(re.findall(r"\(\d+\) BroadcastExchange", explain_str(df)))
