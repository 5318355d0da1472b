"""Deterministic workload inputs: every generator takes a seed and
returns the same bytes for the same seed. The program under test only
ever sees the files written from these values.

Canal envelopes carry one ``type`` each, so a run of same-type events
is one envelope (one JSON line). ``explode_dml`` orders rows by
(es second, ts tiebreak, position), so each envelope gets its own
binlog second: generation order is apply order.
"""

from __future__ import annotations

import datetime
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ES_BASE_S = 1_700_000_000
DB, TABLE = "shop", "orders"
PK = "o_orderkey"
DRIFT_COL = "o_clerk"
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DAY0 = datetime.date(1995, 1, 1)


def order_image(rng: random.Random, key: int, drift: bool) -> dict[str, str]:
    """A full Canal row image (values stringly typed, as Canal sends)."""
    row = {
        "o_orderkey": str(key),
        "o_custkey": str(rng.randrange(15_000)),
        "o_orderstatus": rng.choice("OFP"),
        "o_totalprice": f"{rng.randrange(100_000, 50_000_000) / 100:.2f}",
        "o_orderdate": (DAY0 + datetime.timedelta(rng.randrange(2_500))).isoformat(),
        "o_orderpriority": rng.choice(PRIORITIES),
    }
    if drift:
        row[DRIFT_COL] = f"Clerk#{rng.randrange(1000):09d}"
    return row


class EnvelopeWriter:
    """Numbers envelopes so that generation order is binlog order."""

    def __init__(self):
        self.index = 0

    def envelope(self, op: str, data, old=None, ddl_sql: str | None = None) -> dict:
        es_ms = (ES_BASE_S + self.index) * 1000
        self.index += 1
        return {"destination": "perfbench", "database": DB, "table": TABLE,
                "type": op, "isDdl": ddl_sql is not None, "sql": ddl_sql,
                "es": es_ms, "ts": es_ms, "data": data, "old": old,
                "pkNames": [PK]}


def group_events(events: list[tuple[str, dict, dict | None]], w: EnvelopeWriter) -> list[dict]:
    """Consecutive same-op events share one envelope; order is kept."""
    out: list[dict] = []
    for op, data, old in events:
        if out and out[-1]["type"] == op and not out[-1]["isDdl"]:
            out[-1]["data"].append(data)
            out[-1]["old"].append(old)
        else:
            out.append(w.envelope(op, [data], [old]))
    for env in out:
        if all(o is None for o in env["old"]):
            env["old"] = None
    return out


def bootstrap_envelopes(seed: int, n_rows: int, w: EnvelopeWriter,
                        rows_per_envelope: int = 10_000) -> list[dict]:
    rng = random.Random(f"boot-{seed}")
    envs = []
    for lo in range(0, n_rows, rows_per_envelope):
        data = [order_image(rng, k, False)
                for k in range(lo, min(n_rows, lo + rows_per_envelope))]
        envs.append(w.envelope("INSERT", data))
    return envs


class ZipfKeys:
    """Zipf(s) ranks over ``n`` keys, scattered by a seeded permutation
    so hot keys land in different hash buckets."""

    def __init__(self, seed: int, n: int, s: float = 1.1):
        weights = 1.0 / np.arange(1, n + 1) ** s
        self.cdf = np.cumsum(weights) / weights.sum()
        self.keys = np.random.default_rng(seed).permutation(n)

    def draw(self, u: float) -> int:
        return int(self.keys[min(int(np.searchsorted(self.cdf, u)), len(self.keys) - 1)])

    def hottest(self, k: int) -> list[int]:
        return [int(x) for x in self.keys[:k]]


def change_files(seed: int, n_files: int, rows_per_file: int, keyspace: int,
                 w: EnvelopeWriter, *, drift_at: int | None = None,
                 truncate_at: int | None = None, zipf_s: float = 1.1,
                 mix=(0.78, 0.10, 0.08, 0.04)) -> list[list[dict]]:
    """``n_files`` files of ``rows_per_file`` change events each.

    ``mix`` = shares of (UPDATE, INSERT, DELETE, PK-changing UPDATE).
    Inserted keys and PK-change targets come from a fresh key range
    above ``keyspace``. From file ``drift_at`` on, images carry the
    drift column, announced by one DDL envelope; file ``truncate_at``
    opens with a TRUNCATE."""
    rng = random.Random(f"changes-{seed}")
    zipf = ZipfKeys(seed, keyspace, zipf_s)
    next_key = keyspace
    cut = np.cumsum(mix)
    files = []
    for f in range(n_files):
        drift = drift_at is not None and f >= drift_at
        envs: list[dict] = []
        if truncate_at is not None and f == truncate_at:
            envs.append(w.envelope("TRUNCATE", None))
        if drift_at is not None and f == drift_at:
            envs.append(w.envelope(
                "ALTER", None,
                ddl_sql=f"ALTER TABLE {TABLE} ADD COLUMN {DRIFT_COL} varchar(15)"))
        events = []
        for _ in range(rows_per_file):
            u = rng.random()
            if u < cut[0]:
                key = zipf.draw(rng.random())
                events.append(("UPDATE", order_image(rng, key, drift),
                               {"o_orderstatus": rng.choice("OFP")}))
            elif u < cut[1]:
                events.append(("INSERT", order_image(rng, next_key, drift), None))
                next_key += 1
            elif u < cut[2]:
                key = zipf.draw(rng.random())
                events.append(("DELETE", order_image(rng, key, drift), None))
            else:
                old = zipf.draw(rng.random())
                events.append(("UPDATE", order_image(rng, next_key, drift),
                               {PK: str(old)}))
                next_key += 1
        envs.extend(group_events(events, w))
        files.append(envs)
    return files


def envelopes_bytes(envs: list[dict]) -> bytes:
    return "".join(json.dumps(e, separators=(",", ":")) + "\n" for e in envs).encode()


def write_atomic(path: str, payload: bytes, stage_dir: str,
                 mtime: float | None = None) -> None:
    """Stage then ``os.replace`` so the file source never lists a
    half-written file. The file source orders a backlog by modification
    time, so files written in one burst get ``mtime`` set explicitly."""
    tmp = os.path.join(stage_dir, os.path.basename(path))
    with open(tmp, "wb") as f:
        f.write(payload)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)


# -- batch tables ------------------------------------------------------------

SHIPMODES = ("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "REG AIR", "FOB")


def lineitem_table(seed: int, n_orders: int = 150_000, dup_share: float = 0.01) -> pa.Table:
    """sf0.1-sized lineitem (~600k rows): 1-7 lines per order, ship
    dates over 1995-2001, a 0-8 ship-mode code (0 and 8 fall outside
    the enum), a '0'/'1'/garbage receipt flag, and ``dup_share`` exact
    duplicate rows (re-sent lines the extract's PK dedup removes)."""
    g = np.random.default_rng(seed)
    lines = g.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.cumsum(lines) - lines
    linenumber = (np.arange(len(orderkey)) - np.repeat(starts, lines) + 1).astype(np.int32)
    n = len(orderkey)
    qty = g.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * g.integers(90_000, 200_000, n) / 100.0, 2)
    cols = {
        "l_orderkey": orderkey,
        "l_partkey": g.integers(0, 20_000, n),
        "l_suppkey": g.integers(0, 1_000, n),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": g.integers(0, 11, n) / 100.0,
        "l_tax": g.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[g.integers(0, 2, n)],
        "l_shipmode": g.integers(0, 9, n).astype(np.int32),
        "l_receipt": np.array(["0", "1", "1", "x"])[g.integers(0, 4, n)],
        "l_shipdate": (np.datetime64("1995-01-01") + g.integers(0, 2500, n)).astype("datetime64[D]"),
    }
    dup = g.choice(n, int(n * dup_share), replace=False)
    idx = np.sort(np.concatenate([np.arange(n), dup]))
    return pa.table({k: v[idx] for k, v in cols.items()})


WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ("en", "en", "en", "zh", "de", "fr", "es")


def documents_table(seed: int, n: int = 5_000, dup_share: float = 0.05) -> pa.Table:
    """sf0.1-shaped corpus: 10-100 words from a 30-word vocabulary;
    ``dup_share`` of documents are near-duplicates of an earlier one
    (one word appended), so the dedup operators find pairs."""
    rng = random.Random(f"docs-{seed}")
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 100))))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(seed: int, n: int = 2_000, dim: int = 64) -> pa.Table:
    """Unit-norm Gaussian vectors with a 0-9 label (the sf0.1 shape)."""
    g = np.random.default_rng(seed + 7)
    x = g.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, n), pa.int32()),
    })


def write_parquet(table: pa.Table, path: str) -> None:
    # several row groups, so a scan splits across cores
    pq.write_table(table, path, row_group_size=100_000)
