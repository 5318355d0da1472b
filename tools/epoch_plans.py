"""Dump the Spark plans of every state-store epoch path, for checking
that a refactor moves no plan.

Drives apply_cdc_epoch on a plain ParquetStateStore and an 8-bucket
PrunedParquetStateStore through the same epochs over small file-backed
batches: bootstrap, delta, fold (DELTA_FOLD_FRACTION forced to 0),
TRUNCATE, heal (a batch carrying a new column), another delta and an
empty batch. Per (store, epoch) it writes one file holding the epoch's
Spark job count, the formatted plan of every parquet write and every
first() aggregate the epoch runs, and the plan of the state read after
it. Expression ids, plan ids, UUIDs and the scratch root are
normalised, so the output of two trees differs only where a plan or a
job count moved.

Usage: python tools/epoch_plans.py <out_dir>
       diff -r <parent_out_dir> <change_out_dir>
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402
from pyspark.sql.readwriter import DataFrameWriter  # noqa: E402

from canal_phoenix_adapter_spark.session import get_spark  # noqa: E402
from canal_phoenix_adapter_spark.streaming import stream  # noqa: E402
from canal_phoenix_adapter_spark.streaming.stream import (  # noqa: E402
    ParquetStateStore,
    PrunedParquetStateStore,
    apply_cdc_epoch,
)

SCHEMA = "seq long, op string, id long, name string, balance double, old_id long"
HEALED = SCHEMA + ", tier string"

# (name, batch schema, rows); the fold epoch runs with
# DELTA_FOLD_FRACTION = 0, so the pruned store folds its delta
EPOCHS = [
    ("bootstrap", SCHEMA,
     [(i, "INSERT", i, f"n{i}", float(i), None) for i in range(1, 201)]),
    ("delta", SCHEMA,
     [(300, "UPDATE", 5, "five", 5.5, None),
      (301, "DELETE", 9, None, None, None),
      (302, "UPDATE", 901, "moved", 17.0, 17)]),
    ("fold", SCHEMA, [(400, "UPDATE", 5, "five2", 5.6, None)]),
    ("truncate", SCHEMA,
     [(500, "TRUNCATE", None, None, None, None)]
     + [(501 + i, "INSERT", i, f"t{i}", float(i), None) for i in range(1, 101)]),
    ("heal", HEALED, [(700, "UPDATE", 1, "uno", 1.5, None, "gold")]),
    ("delta", SCHEMA, [(800, "UPDATE", 2, "dos", 2.5, None)]),
    ("empty", SCHEMA, []),
]


def _normalise(text: str, root: str) -> str:
    text = text.replace(root, "<root>")
    text = re.sub(r"#[0-9]+", "#N", text)
    text = re.sub(r"\b(plan_id|id)=[0-9]+", r"\1=N", text)
    return re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "UUID", text)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def main() -> None:
    if len(sys.argv) != 2:
        sys.exit("usage: python tools/epoch_plans.py <out_dir>")
    out_dir = os.path.abspath(sys.argv[1])
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("epoch-plans")
    sc = spark.sparkContext
    root = tempfile.mkdtemp(prefix="epoch-plans-")
    batches = []
    for i, (_, schema, rows) in enumerate(EPOCHS):
        path = os.path.join(root, "batches", str(i))
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
        batches.append(spark.read.schema(schema).parquet(path))

    recorded: list[str] = []
    orig_parquet, orig_first = DataFrameWriter.parquet, DataFrame.first

    def parquet(self, path, *a, **kw):
        recorded.append(f"== write {path}\n{_plan(self._df)}")
        return orig_parquet(self, path, *a, **kw)

    def first(self):
        recorded.append(f"== first()\n{_plan(self)}")
        return orig_first(self)

    DataFrameWriter.parquet, DataFrame.first = parquet, first
    try:
        stores = {
            "plain": ParquetStateStore(spark, os.path.join(root, "plain")),
            "pruned": PrunedParquetStateStore(
                spark, os.path.join(root, "pruned"), ["id"], n_buckets=8),
        }
        for label, store in stores.items():
            for i, ((name, _, _), batch) in enumerate(zip(EPOCHS, batches)):
                recorded.clear()
                group = f"epoch-plans-{label}-{i}"
                sc.setJobGroup(group, name)
                fraction = stream.DELTA_FOLD_FRACTION
                if name == "fold":
                    stream.DELTA_FOLD_FRACTION = 0.0
                try:
                    committed = apply_cdc_epoch(store, batch, i, ["id"])
                finally:
                    stream.DELTA_FOLD_FRACTION = fraction
                    sc.setLocalProperty("spark.jobGroup.id", None)
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                text = (f"{label} epoch {i} ({name}): committed={committed} "
                        f"jobs={jobs}\n" + "".join(recorded)
                        + f"== read\n{_plan(store.read())}")
                path = os.path.join(out_dir, f"{label}_{i}_{name}.txt")
                with open(path, "w", encoding="utf-8") as f:
                    f.write(_normalise(text, root))
                print(f"{label} {i} {name}: committed={committed} jobs={jobs}")
    finally:
        DataFrameWriter.parquet, DataFrame.first = orig_parquet, orig_first
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
