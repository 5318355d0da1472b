"""Independent references the workloads' outputs are checked against,
all computed outside the timed region.

* CDC: a plain-Python, one-event-at-a-time apply of the generated
  envelopes (keep-last by binlog order, PK change = delete old key plus
  upsert new key, TRUNCATE wipes, a column absent from an image is
  NULL).
* Backfill: the same slices computed by DuckDB over the source parquet.
* Corpus: the registered DuckDB oracle SQL, compared row-count plus an
  order-insensitive multiset of normalized rows.
"""

from __future__ import annotations

import collections
import math

# column -> Python caster for the typed state the stream keeps
ORDER_TYPES = {"o_orderkey": int, "o_custkey": int, "o_orderstatus": str,
               "o_totalprice": float, "o_orderdate": str,
               "o_orderpriority": str, "o_clerk": str}


def _typed(image: dict, types: dict) -> tuple:
    return tuple(None if image.get(c) is None else t(image[c]) for c, t in types.items())


def apply_envelopes(envelopes, pk: str, types: dict = ORDER_TYPES,
                    state: dict | None = None) -> dict:
    """Fold envelopes, in order, into ``{key: typed row tuple}``."""
    state = {} if state is None else state
    for env in envelopes:
        op = env["type"].upper()
        if env.get("isDdl"):
            continue
        if op == "TRUNCATE":
            state.clear()
            continue
        olds = env.get("old") or [None] * len(env["data"])
        for data, old in zip(env["data"], olds):
            key = int(data[pk])
            if op == "DELETE":
                state.pop(key, None)
            elif op in ("INSERT", "UPDATE"):
                if old and old.get(pk) is not None and int(old[pk]) != key:
                    state.pop(int(old[pk]), None)
                state[key] = _typed(data, types)
    return state


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "tolist"):  # numpy array
        return tuple(_norm(x) for x in v.tolist())
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def multiset_diff(rows_a, rows_b) -> int:
    """Rows in one multiset but not the other, both directions."""
    a = collections.Counter(tuple(_norm(v) for v in r) for r in rows_a)
    b = collections.Counter(tuple(_norm(v) for v in r) for r in rows_b)
    return sum(((a - b) + (b - a)).values())


def state_mismatches(expected: dict, actual_rows) -> int:
    """Keys whose row differs, is missing, or is extra (or duplicated).
    ``actual_rows`` are tuples in ``expected``'s column order, key first."""
    actual: dict = {}
    bad = 0
    for r in actual_rows:
        t = tuple(v.item() if hasattr(v, "item") else v for v in r)
        if t[0] in actual:
            bad += 1
        actual[t[0]] = t
    for k in expected.keys() | actual.keys():
        if expected.get(k) != actual.get(k):
            bad += 1
    return bad


def frame_rows(df, cols: list[str]):
    return df[cols].itertuples(index=False, name=None)


def union_find_clusters(pairs) -> dict[int, int]:
    """Connected components over undirected pairs, labelled by the
    smallest member id (the dedup_clusters contract)."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
