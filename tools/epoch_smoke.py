"""Per-epoch cost model for the streaming state stores (SCALE.md).

Drives apply_cdc_epoch directly (batch path — no Structured Streaming
machinery, so the split is clean) against a bootstrap state of S rows,
then applies K fixed-size change batches; reports MEDIAN per-epoch
wall (robust to the multi-second host-steal craters that wreck means)
plus the mean phase split, whose phases add up to the mean epoch wall:
write (the snapshot, delta or fold write jobs — the lazy merge
materializes here, and the pruned store's pre-scan is observed on its
delta write), read (building the pruned store's bucket-dir basis; 0 on
delta epochs), manifest, repoint, gc (inline retention prune), other
(bookkeeping, lock).

The question: does per-epoch wall stay ~flat as
STATE grows with batch size fixed? Full-rewrite is O(state) per epoch
by construction; pruned should be ~O(batch). One JSON line per
(store, factor); findings recorded in SCALE.md.

Usage: python tools/epoch_smoke.py [factor ...]   (default: 1 4 16)
       python tools/epoch_smoke.py crossover [factor]   (default: 64)
       python tools/epoch_smoke.py delta [fraction ...]
                                        (default: 0 0.02 0.1 0.25)

The delta mode measures what the pruned store's delta costs as it
grows toward the fold bound: per delta fraction (delta rows / base
rows), a fresh 150k-row store whose delta is pre-grown to that size by
one untimed epoch, then the median wall of delta epochs, of the
benchmark's keyed read (point lookups plus a count) and of one fold
epoch. Fraction 0 is a delta-free store, whose fold epoch is the
touched-bucket rewrite every epoch paid before deltas.

The crossover mode measures what crossing
broadcast_threshold_rows costs: ONE store at a large fixed state,
batch size swept across the 2M-row default, the three merge routes
(broadcast / auto / smj — see crossover()) INTERLEAVED per batch size
in the same session (the shingle_bisect protocol — composition and
host noise hit all routes equally). Reports median epoch wall per
(batch_rows, route); the findings of record are the stamped 5-rep
run in SCALE.md ("crossover sweep re-run STAMPED at 5 reps").
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from canal_phoenix_adapter_spark.session import get_spark  # noqa: E402
from canal_phoenix_adapter_spark.streaming import stream  # noqa: E402
from canal_phoenix_adapter_spark.streaming.stream import (  # noqa: E402
    ParquetStateStore,
    PrunedParquetStateStore,
    apply_cdc_epoch,
)

# overridable so factor 1 can replicate the BENCH streaming drive's
# tiny-state configuration: EPOCH_SMOKE_BASE_ROWS=400
# EPOCH_SMOKE_BATCH_ROWS=100 -> the drive's 32-bucket, 100-row epochs;
# EPOCH_SMOKE_BASE_ROWS=600000 EPOCH_SMOKE_BATCH_ROWS=300000 makes every
# pruned epoch a fold
BASE_ROWS = int(os.environ.get("EPOCH_SMOKE_BASE_ROWS", "500000"))
# overridable for the huge-batch regime experiment (SCALE.md): batch
# rows past the threshold route the pruned merge off the broadcast path
BATCH_ROWS = int(os.environ.get("EPOCH_SMOKE_BATCH_ROWS", "200"))
BCAST_THRESHOLD = int(os.environ.get("EPOCH_SMOKE_BCAST_THRESHOLD", "2000000"))
EPOCHS = 10
# Fixed bucket SIZE, scaled bucket COUNT: the sizing rule a real
# deployment uses (~128 MB/bucket at 100 TB). Holding rows/bucket
# constant as state grows keeps per-epoch touched I/O at
# ~batch_keys x rows_per_bucket = O(batch), the flatness under test.
ROWS_PER_BUCKET = 5_000


def _timed(times: dict, key: str):
    def deco(fn):
        def wrap(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                times[key] = times.get(key, 0.0) + time.perf_counter() - t0
        return wrap
    return deco


def instrument(store, times: dict):
    """Wrap the store's phase methods with wall-clock accumulators; every
    phase starts at 0, so the split names the same phases whichever
    path the epochs take."""
    times.update(dict.fromkeys(("write", "repoint", "gc"), 0.0))
    store._repoint = _timed(times, "repoint")(store._repoint)
    store.prune = _timed(times, "gc")(store.prune)
    if isinstance(store, PrunedParquetStateStore):
        times.update(dict.fromkeys(("read", "manifest"), 0.0))
        store._write_bucket_dirs = _timed(times, "write")(store._write_bucket_dirs)
        store._write_delta = _timed(times, "write")(store._write_delta)
        store._read_buckets = _timed(times, "read")(store._read_buckets)
        store._write_manifest = _timed(times, "manifest")(store._write_manifest)
    else:
        store._write_unlocked = _timed(times, "write")(store._write_unlocked)
    return store


def state_df(spark, n: int):
    # pad: realistic row width — state rows carry payload, not just keys
    return spark.range(n).select(
        F.col("id"),
        F.concat(F.lit("name_"), F.col("id")).alias("name"),
        (F.col("id") % 997).cast("double").alias("balance"),
        F.repeat(F.concat(F.lit("p"), (F.col("id") % 10).cast("string")), 32
                 ).alias("pad"),
    )


def batch_df(spark, epoch: int, state_rows: int, n_rows: int | None = None):
    # keys spread across the whole state so merges do real upserts;
    # deterministic per epoch
    return spark.range(BATCH_ROWS if n_rows is None else n_rows).select(
        (F.lit(1000 + epoch) * 1000 + F.col("id")).alias("seq"),
        F.when(F.col("id") % 10 == 0, F.lit("DELETE"))
        .otherwise(F.lit("UPDATE")).alias("op"),
        ((F.col("id") * 7919 + epoch * 104729) % state_rows).alias("id"),
        F.concat(F.lit(f"e{epoch}_"), F.col("id")).alias("name"),
        ((F.col("id") + epoch) % 997).cast("double").alias("balance"),
        F.lit("q").alias("pad"),
        F.lit(None).cast("long").alias("old_id"),
    )


def crossover(factor: int = 64) -> None:
    """Sweep batch size across the broadcast threshold at a fixed
    large state, routes interleaved in one session. Keys spread across
    the whole state, so big batches touch ~every bucket and the two
    routes differ ONLY in the merge exchange strategy (the write is
    identical) — exactly the term broadcast_threshold_rows gates."""
    import tempfile

    spark = get_spark("epoch-smoke-crossover")
    rows = BASE_ROWS * factor
    reps = int(os.environ.get("EPOCH_SMOKE_CROSSOVER_REPS", "3"))
    sweep = [int(b) for b in os.environ.get(
        "EPOCH_SMOKE_CROSSOVER_BATCHES", "100000,500000,1000000,2000000,4000000"
    ).split(",")]
    # Three routes, because crossing the threshold only REMOVES the
    # forced-broadcast hint — it does not force a shuffle:
    #   broadcast: batch <= threshold, F.broadcast hint on the keyset
    #   auto:      batch >  threshold, default conf — AQE still
    #              broadcasts any keyset under its own threshold
    #   smj:       batch >  threshold AND the keyset too big for AQE
    #              (emulated via autoBroadcastJoinThreshold=-1) — the
    #              true shuffle worst case the threshold insures
    # route = (name, store threshold, autoBroadcastJoinThreshold)
    auto_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    routes = [("broadcast", 1 << 40, auto_bcast), ("auto", 0, auto_bcast),
              ("smj", 0, "-1")]
    keep = os.environ.get("EPOCH_SMOKE_CROSSOVER_ROUTES")
    if keep:
        names = {n.strip() for n in keep.split(",")}
        routes = [r for r in routes if r[0] in names]
        if not routes:  # fail BEFORE the minutes-long state bootstrap
            raise SystemExit(f"no route matches {keep!r}: broadcast/auto/smj")
    base = tempfile.mkdtemp(prefix="epoch_smoke_xover_")
    store = PrunedParquetStateStore(
        spark, os.path.join(base, "s"), ["id"],
        n_buckets=max(32, rows // ROWS_PER_BUCKET),
    )
    store.write(state_df(spark, rows), version=-1)
    epoch = 0

    def run_epoch(thresh, conf, n_rows):
        nonlocal epoch
        store.broadcast_threshold_rows = thresh
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", conf)
        b = batch_df(spark, epoch, rows, n_rows=n_rows)
        t0 = time.perf_counter()
        committed = apply_cdc_epoch(store, b, epoch, ["id"])
        wall = round(time.perf_counter() - t0, 3)
        if not committed:  # not assert: python -O would skip the merge
            raise RuntimeError(f"epoch {epoch} did not commit")
        store.prune(keep_last=2)
        epoch += 1
        return wall

    # untimed warmup: the first epoch of a session pays Janino/C2
    # compilation per plan shape, which otherwise lands entirely on
    # the sweep's first sample
    for _name, thresh, conf in routes:
        run_epoch(thresh, conf, sweep[0])
    for n_rows in sweep:
        walls = {name: [] for name, _t, _c in routes}
        for _rep in range(reps):
            for route, thresh, conf in routes:
                walls[route].append(run_epoch(thresh, conf, n_rows))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto_bcast)
        for route, ws in walls.items():
            # session tag: rows merged across runs stay attributable
            print(json.dumps(
                {"crossover_smoke": route, "factor": factor,
                 "state_rows": rows, "batch_rows": n_rows,
                 "epoch_wall_median": round(statistics.median(ws), 3),
                 "samples": ws,
                 "session": spark.sparkContext.applicationId}), flush=True)
    shutil.rmtree(base, ignore_errors=True)


def delta_sweep(fractions: list[float]) -> None:
    """Delta epoch, keyed read and fold walls against delta size on a
    fixed-size pruned store (DELTA_STATE_ROWS, 5k rows per bucket).
    The fold bound is lifted while the delta grows and dropped to 0 for
    the one fold epoch."""
    import tempfile

    spark = get_spark("epoch-smoke-delta")
    rows = int(os.environ.get("EPOCH_SMOKE_DELTA_STATE_ROWS", "150000"))
    reps = int(os.environ.get("EPOCH_SMOKE_DELTA_REPS", "5"))
    keys = list(range(0, rows, rows // 20))[:20]
    saved = stream.DELTA_FOLD_FRACTION
    try:
        for frac in fractions:
            base = tempfile.mkdtemp(prefix="epoch_smoke_delta_")
            store = PrunedParquetStateStore(
                spark, os.path.join(base, "s"), ["id"],
                n_buckets=max(1, rows // ROWS_PER_BUCKET),
            )
            store.write(state_df(spark, rows), version=-1)
            stream.DELTA_FOLD_FRACTION = 1.0
            epoch = 0

            def run_epoch(n_rows):
                nonlocal epoch
                t0 = time.perf_counter()
                committed = apply_cdc_epoch(
                    store, batch_df(spark, epoch, rows, n_rows=n_rows),
                    epoch, ["id"])
                wall = time.perf_counter() - t0
                if not committed:  # not assert: -O would skip the merge
                    raise RuntimeError(f"epoch {epoch} did not commit")
                store.prune(keep_last=2)
                epoch += 1
                return wall

            def keyed_read():
                t0 = time.perf_counter()
                df = store.read()
                df.where(F.col("id").isin(keys)).collect()
                df.count()
                return time.perf_counter() - t0

            # untimed: grows the delta (distinct keys per batch) and
            # pays the session's plan compilation
            run_epoch(int(frac * rows) or BATCH_ROWS)
            keyed_read()
            if frac == 0:
                stream.DELTA_FOLD_FRACTION = 0.0
                run_epoch(BATCH_ROWS)  # clears the warmup delta
                stream.DELTA_FOLD_FRACTION = 1.0
            delta_rows = (store._manifest(store.current_version())["delta"]
                          or {}).get("rows", 0)
            epochs = [] if frac == 0 else [
                run_epoch(BATCH_ROWS) for _ in range(reps)]
            reads = [keyed_read() for _ in range(reps)]
            stream.DELTA_FOLD_FRACTION = 0.0
            fold = run_epoch(BATCH_ROWS)
            print(json.dumps(
                {"delta_smoke": frac, "state_rows": rows,
                 "delta_rows": delta_rows, "batch_rows": BATCH_ROWS,
                 "delta_epoch_median": (round(statistics.median(epochs), 3)
                                        if epochs else None),
                 "keyed_read_median": round(statistics.median(reads), 3),
                 "fold_epoch": round(fold, 3),
                 "session": spark.sparkContext.applicationId}), flush=True)
            shutil.rmtree(base, ignore_errors=True)
    finally:
        stream.DELTA_FOLD_FRACTION = saved


def main() -> None:
    import tempfile

    if sys.argv[1:2] == ["crossover"]:
        crossover(int(sys.argv[2]) if len(sys.argv) > 2 else 64)
        return
    if sys.argv[1:2] == ["delta"]:
        delta_sweep([float(a) for a in sys.argv[2:]] or [0, 0.02, 0.1, 0.25])
        return
    factors = [int(a) for a in sys.argv[1:]] or [1, 4, 16]
    spark = get_spark("epoch-smoke")
    for factor in factors:
        rows = BASE_ROWS * factor
        for kind in ("full", "pruned"):
            base = tempfile.mkdtemp(prefix=f"epoch_smoke_{kind}_")
            if kind == "pruned":
                store = PrunedParquetStateStore(
                    spark, os.path.join(base, "s"), ["id"],
                    n_buckets=max(32, rows // ROWS_PER_BUCKET),
                    broadcast_threshold_rows=BCAST_THRESHOLD,
                )
            else:
                store = ParquetStateStore(spark, os.path.join(base, "s"))
            # bootstrap OUTSIDE the timed loop: epoch cost, not backfill
            store.write(state_df(spark, rows), version=-1)
            times: dict[str, float] = {}
            instrument(store, times)
            walls = []
            for e in range(EPOCHS):
                t0 = time.perf_counter()
                committed = apply_cdc_epoch(
                    store, batch_df(spark, e, rows), e, ["id"])
                store.prune(keep_last=2)
                walls.append(time.perf_counter() - t0)
                if not committed:  # not assert: -O would skip the merge
                    raise RuntimeError(f"epoch {e} did not commit")
            walls.sort()
            split = {k: round(v / EPOCHS, 3) for k, v in sorted(times.items())}
            split["other"] = round(
                sum(walls) / EPOCHS - sum(times.values()) / EPOCHS, 3
            )
            print(json.dumps(
                {"epoch_smoke": kind, "factor": factor, "state_rows": rows,
                 "batch_rows": BATCH_ROWS,
                 "epoch_wall_median": round(statistics.median(walls), 3),
                 "epoch_wall_mean": round(sum(walls) / EPOCHS, 3),
                 "split": split}), flush=True)
            shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
