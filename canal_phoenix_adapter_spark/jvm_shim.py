"""The package's private-API seam, isolated and Connect-guarded
(everything else speaks public DataFrame API). It holds the two things
PySpark offers no public way to do:

* ask Catalyst for a plan's size estimate (``fits_one_split``), which
  the pruned state store uses to run a small epoch as one task;
* release localCheckpoint storage. ``DataFrame.unpersist()`` goes
  through the cache manager, which does not track checkpoint RDDs, so
  an iterative operator (``dup_clusters``) that localCheckpoints per
  iteration would leak every iteration's blocks until driver GC in a
  long-lived driver. The only JVM handle is
  ``SparkContext.getPersistentRDDs`` — reachable from Python solely via
  the private ``sc._jsc`` accessor.

Those accesses live HERE and nowhere else (enforced by
test_no_private_jvm_api).

Connect guard: under Spark Connect there is no driver-side
SparkContext, so the checkpoint functions degrade to a documented no-op
(``persistent_rdd_ids`` -> empty set, ``release_rdds`` -> pass):
correctness is unaffected — block release falls back to session GC,
the behavior every Spark program gets by default. ``fits_one_split``
answers False there, the answer that keeps a batch parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def fits_one_split(df: DataFrame, extra_bytes: int = 0) -> bool:
    """True iff Catalyst's size estimate for ``df``'s optimized plan,
    plus ``extra_bytes``, is at most ``spark.sql.files.maxPartitionBytes``:
    the input one scan task would read. Planning only, no Spark job. A
    plan whose size is unknown reports ``spark.sql.defaultSizeInBytes``
    (an RDD-built frame does) and so does not fit; False under Connect."""
    try:
        jdf = df._jdf  # the seam
    except AttributeError:  # Connect: no py4j-backed Dataset
        return False
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    size = jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(size) + extra_bytes <= conf.filesMaxPartitionBytes()


def _jsc(spark: SparkSession):
    try:
        return spark.sparkContext._jsc  # the seam
    except Exception:  # Connect: no SparkContext / no py4j gateway
        return None


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of all currently persisted RDDs (empty set under Connect)."""
    jsc = _jsc(spark)
    ids: set[int] = set()
    if jsc is not None:
        it = jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            ids.add(it.next()._1())
    return ids


def release_rdds(spark: SparkSession, ids: set[int]) -> None:
    """Unpersist (non-blocking) the RDDs with the given ids, if the
    runtime exposes them; silently a no-op under Connect."""
    jsc = _jsc(spark)
    if jsc is None or not ids:
        return
    it = jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        t = it.next()
        if t._1() in ids:
            t._2().unpersist(False)
