"""Per-epoch phase breakdown of the bench's 20-epoch streaming drive.

Guide §1 (measure first): before touching the per-epoch machinery,
split its ~600 ms/epoch into named phases. Monkeypatches the store's
commit path with timers; the drive itself is bench.py's byte-identical
workload. Prints a phase table; no JSON contract, diagnostic only.

Usage: python tests/stream_profile.py [pruned]
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from canal_phoenix_adapter_spark.session import get_spark  # noqa: E402
from canal_phoenix_adapter_spark.streaming import stream as S  # noqa: E402

PHASES: dict[str, list[float]] = defaultdict(list)


def timed(name: str, fn):
    def wrap(*a, **k):
        t0 = time.perf_counter()
        out = fn(*a, **k)
        PHASES[name].append(time.perf_counter() - t0)
        return out
    return wrap


def main() -> None:
    pruned = len(sys.argv) > 1 and sys.argv[1] == "pruned"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("stream-profile")

    # Wrap the plain store's full commit path
    orig_nonempty = S._CommitPointer._merge_commit_nonempty

    def nonempty(self, batch_df, pk, version, epoch_id, **kw):
        t0 = time.perf_counter()
        state = self.read()
        PHASES["read_state"].append(time.perf_counter() - t0)
        prev_cols = None if state is None else {c.lower() for c in state.columns}
        from canal_phoenix_adapter_spark.operators.merge import merge_cdc
        t0 = time.perf_counter()
        new_state = merge_cdc(state, batch_df, pk, old_prefix="old_",
                              known_trunc_seq=kw.get("trunc_seq", S._NO_PRESCAN),
                              broadcast_changes=kw.get("broadcast_changes", True))
        PHASES["merge_build+truncscan"].append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self._write_unlocked(new_state, version, epoch_id=epoch_id)
        PHASES["write_snapshot"].append(time.perf_counter() - t0)
        return {c.lower() for c in new_state.columns}, prev_cols

    orig_unlocked = S._CommitPointer._merge_commit_unlocked

    def unlocked(self, batch_df, pk, version, epoch_id):
        from pyspark.sql import functions as F

        from canal_phoenix_adapter_spark.operators.merge import (
            truncate_seq_expr,
        )
        t0 = time.perf_counter()
        row = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            truncate_seq_expr("seq", "op").alias("tr"),
        ).first()
        PHASES["prescan"].append(time.perf_counter() - t0)
        if row["n"] == 0:
            return None, None
        return self._merge_commit_nonempty(
            batch_df, pk, version, epoch_id, trunc_seq=row["tr"]
        )

    S._CommitPointer._merge_commit_unlocked = unlocked
    S._CommitPointer._merge_commit_nonempty = nonempty
    S.PrunedParquetStateStore._scan_batch = timed(
        "pruned_prescan", S.PrunedParquetStateStore._scan_batch)
    for name, attr in (("pruned_write_delta", "_write_delta"),
                       ("pruned_fold_commit", "_commit_touched"),
                       ("pruned_read_buckets", "_read_buckets"),
                       ("pruned_manifest", "_write_manifest")):
        setattr(S.PrunedParquetStateStore, attr,
                timed(name, getattr(S.PrunedParquetStateStore, attr)))

    orig_apply = S.apply_cdc_epoch

    def apply_epoch(*a, **k):
        t0 = time.perf_counter()
        out = orig_apply(*a, **k)
        PHASES["apply_cdc_epoch_total"].append(time.perf_counter() - t0)
        return out

    S.apply_cdc_epoch = apply_epoch

    # Warm the JVM/codegen exactly like bench.py does, then time.
    bench._run_cdc_stream_epochs(
        spark, sf_dir, state_buckets=32 if pruned else None)
    PHASES.clear()
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    bench._run_cdc_stream_epochs(
        spark, sf_dir, state_buckets=32 if pruned else None)
    wall = time.perf_counter() - t0

    print(f"\n=== {'pruned' if pruned else 'plain'} drive: {wall:.2f}s total ===")
    for name, ts in sorted(PHASES.items(), key=lambda kv: -sum(kv[1])):
        print(f"{name:28s} n={len(ts):3d} sum={sum(ts):7.2f}s "
              f"mean={sum(ts)/len(ts)*1000:7.1f}ms max={max(ts)*1000:7.1f}ms")
    acc = sum(sum(ts) for n, ts in PHASES.items()
              if n != "apply_cdc_epoch_total")
    tot = sum(PHASES.get("apply_cdc_epoch_total", [0]))
    print(f"{'outside-epoch (engine) time':28s} {wall - tot:7.2f}s "
          f"(epoch bodies {tot:.2f}s, phases {acc:.2f}s)")


if __name__ == "__main__":
    main()
