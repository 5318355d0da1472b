"""Registry staleness guard (VERDICT r4 task 6): every gate query
COVERAGE.md documents must still exist in the driver registry
(__spark_entry__.queries()) or the folded parity registry
(tests/parity_registry.PARITY_QUERIES) — a future registry fold must
not silently drop a documented operator's check, and the docs must
not drift ahead of the registries either."""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Backtick tokens in COVERAGE.md's gate columns that are not query
# names: wildcard families and prose references.
NON_QUERY = re.compile(r"[*.:\\/()=]|^[A-Z]")


def _documented_gates() -> set[str]:
    """Backtick-quoted names from every markdown-table column whose
    header contains 'Gate'. Header indices are parsed per table, so
    the 5-column §2 tables and the 4-column extension table both
    resolve correctly."""
    gates: set[str] = set()
    gate_idx: int | None = None
    with open(os.path.join(REPO, "COVERAGE.md"), encoding="utf-8") as f:
        for line in f:
            if not line.startswith("|"):
                gate_idx = None if not line.strip() else gate_idx
                continue
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if any("Gate" in c for c in cells):
                gate_idx = next(i for i, c in enumerate(cells) if "Gate" in c)
                continue
            if gate_idx is None or gate_idx >= len(cells):
                continue
            if set(cells[gate_idx]) <= {"-", " "}:  # header separator row
                continue
            for tok in re.findall(r"`([^`]+)`", cells[gate_idx]):
                if not NON_QUERY.search(tok):
                    gates.add(tok)
    return gates


def test_documented_gates_still_registered():
    import sys

    sys.path.insert(0, REPO)
    import __spark_entry__ as E
    from tests.parity_registry import PARITY_QUERIES

    registered = set(E.queries()) | set(PARITY_QUERIES)
    documented = _documented_gates()
    # sanity: the parser actually found the tables
    assert len(documented) > 40, sorted(documented)
    missing = sorted(documented - registered)
    assert not missing, (
        f"COVERAGE.md documents gate queries no registry provides: {missing}"
    )


def test_registries_documented_and_disjoint():
    import sys

    sys.path.insert(0, REPO)
    import __spark_entry__ as E
    from tests.parity_registry import PARITY_QUERIES

    gates = set(E.queries())
    parity = set(PARITY_QUERIES)
    # a name in both registries would be benched/compared ambiguously
    assert not gates & parity
    # every driver gate should be documented somewhere in COVERAGE.md
    # (not necessarily in a Gate column — grep the whole file)
    text = open(os.path.join(REPO, "COVERAGE.md"), encoding="utf-8").read()
    undocumented = sorted(n for n in gates if f"`{n}`" not in text)
    assert not undocumented, (
        f"driver gates missing from COVERAGE.md: {undocumented}"
    )


def test_no_private_jvm_api_outside_shim():
    """jvm_shim.py is the package's ONE sanctioned private-API seam
    (r10 verdict task 3): no other source file may touch `_jsc` or
    `_jvm` — a new use must either go through the shim or justify a
    second documented seam here."""
    pkg = os.path.join(REPO, "canal_phoenix_adapter_spark")
    hits = []
    for root, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py") or f == "jvm_shim.py":
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                src = fh.read()
            for pat in ("_jsc", "_jvm"):
                if pat in src:
                    hits.append(f"{path}: {pat}")
    assert not hits, hits


def test_jvm_shim_degrades_to_noop_without_spark_context():
    """The Connect guard: a session object with no working
    sparkContext (Connect raises on the attribute) must yield an empty
    registry and a silent release no-op — correctness then rides on
    session GC, the documented fallback. A frame with no py4j Dataset
    does not fit one split, the answer that keeps a batch parallel."""
    from canal_phoenix_adapter_spark.jvm_shim import (
        fits_one_split,
        persistent_rdd_ids,
        release_rdds,
    )

    class NoCtx:
        @property
        def sparkContext(self):
            raise RuntimeError("not supported in Spark Connect")

    assert persistent_rdd_ids(NoCtx()) == set()
    release_rdds(NoCtx(), {1, 2})  # must not raise
    assert fits_one_split(object()) is False
