"""Structured Streaming wrapper over the batch CDC kernel.

The reference's sync(List<Dml>) hot path (PhoenixAdapter.java:143-152
-> PhoenixSyncService.java:157-225) maps onto a Structured Streaming
micro-batch: route -> explode -> transform -> merge_cdc per epoch in
foreachBatch; the reference's futures-join barrier (:134-140) is the
epoch commit, and its transactional batch + rollback (C10,
BatchExecutor.java:60-91) is the epoch's atomicity + idempotent-merge
replay (Structured Streaming's prefix-integrity model — SURVEY §7.1 M5).

State backend here is versioned parquet snapshots (simple, testable,
lake-friendly). On a production deployment the same foreachBatch body
targets Delta MERGE or a Phoenix/JDBC sink; merge_cdc is the part
that doesn't change.
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from canal_phoenix_adapter_spark.config import MappingConfig
from canal_phoenix_adapter_spark.functions.hashing import bq as _bq
from canal_phoenix_adapter_spark.jvm_shim import fits_one_split
from canal_phoenix_adapter_spark.operators.merge import (
    OLD_PREFIX,
    applicable_changes,
    collapse_changes,
    healed_schema,
    image_schema,
    merge_cdc,
    old_key_exprs,
    replace_keys,
    truncate_seq_expr,
)
from canal_phoenix_adapter_spark.sources.events import (
    DML_ENVELOPE,
    explode_dml,
    parse_dml_json,
    route,
)


def _as_nullable(dt: T.DataType) -> T.DataType:
    """Schema with every field/element marked nullable — what parquet
    footer inference would report (footers carry no non-null
    guarantee), so a write-plan schema can seed the read-path memo
    without leaking a false non-null promise from literals/counts."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType),
                         True)
    return dt


class ParquetStateStore:
    """Versioned keyed-state table on parquet: each epoch writes a new
    snapshot dir and repoints _CURRENT, so readers never see a
    half-written snapshot.

    _CURRENT is a small pointer file ({"version": int, "epoch":
    int|None} json, swapped into place with an atomic os.replace), and
    the repoint IS the epoch's commit marker (C10 atomicity):
      * crash before the repoint -> _CURRENT still names the previous
        version; the replayed epoch reads it and overwrites the
        orphaned v{N} dir (a different path than the one being read).
      * crash after the repoint but before the streaming checkpoint
        commits -> the replayed epoch sees last_epoch() == its
        epoch_id and must SKIP the merge (apply_cdc_epoch does);
        re-merging would both double-apply and self-overwrite the
        v{N} dir it is lazily reading from, which Spark rejects
        ("Cannot overwrite a path that is also being read from").
    write() therefore must never target the version its input was read
    from — callers route through apply_cdc_epoch, which guarantees it.

    Commits serialize under ``commit_lock()``: an ``fcntl.flock`` on
    ``_COMMITLOCK``, owned by the open file description, so it
    auto-releases when the holder's process dies (no stale-lock
    janitor), and it excludes both other threads of this process and
    other processes on the same host filesystem. It is NOT reentrant —
    ``write()`` takes it, so code that already holds ``commit_lock()``
    must call ``_write_unlocked()``.

    Why commits must serialize: every writer's snapshot is derived
    from the version it read (its BASIS). Two concurrent commits —
    e.g. a CDC epoch and an erase_keys compliance deletion — are a
    check-then-act race: the second pointer swap publishes a snapshot
    computed WITHOUT the first commit's changes, silently undoing a
    committed epoch (or the erasure). Holding the lock across
    [basis read -> snapshot write -> pointer swap] makes the basis
    valid at publish time by construction, so a concurrent admin
    commit can never publish over — or be published over by — an
    epoch it did not observe.

    Snapshot VERSION and CDC EPOCH are separate counters: the pointer
    records both. A non-CDC commit (erase_keys compliance deletion)
    bumps only the version and carries the epoch watermark forward —
    so it can neither shadow a future epoch in the replay check nor
    collide with a future epoch's snapshot dir (apply_cdc_epoch writes
    version max(cur+1, epoch_id))."""

    # The plain store assumes micro-batch-sized changes (its operating
    # envelope), so its merge always broadcasts them; the pruned store
    # sets its own threshold per handle.
    broadcast_threshold_rows = float("inf")
    # prune renames a doomed v{N} to this prefix + N before deleting it
    UNPUBLISHED = "_pruned_v"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._meta_dir = path
        # (version, all-nullable schema) of the last snapshot this
        # handle wrote or inferred — committed snapshots are immutable
        # (orphan overwrite only targets versions above _CURRENT), so
        # the next epoch's basis read can skip parquet footer
        # inference (one driver-side FS round-trip per epoch).
        # All-nullable mirrors what inference would return — parquet
        # footers carry no non-null guarantee — so a write-plan schema
        # with non-nullable fields (literals, count()s) can never leak
        # a false non-null promise into the read path.
        self._schema_memo: tuple[int, T.StructType] | None = None
        os.makedirs(path, exist_ok=True)

    def _pointer(self) -> str:
        return os.path.join(self._meta_dir, "_CURRENT")

    @contextmanager
    def commit_lock(self):
        import fcntl

        with open(os.path.join(self._meta_dir, "_COMMITLOCK"), "a") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    def current_version(self) -> int | None:
        try:
            with open(self._pointer(), encoding="utf-8") as f:
                return int(json.load(f)["version"])
        except (FileNotFoundError, ValueError, KeyError):
            return None

    def last_epoch(self) -> int | None:
        """Last CDC epoch id committed via apply_cdc_epoch — the replay
        skip watermark."""
        try:
            with open(self._pointer(), encoding="utf-8") as f:
                e = json.load(f)["epoch"]
        except (FileNotFoundError, ValueError):
            return None
        return None if e is None else int(e)

    def _repoint(self, version: int, epoch_id: int | None) -> None:
        tmp = self._pointer() + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"version": version, "epoch": epoch_id}, f)
        os.replace(tmp, self._pointer())

    def _refuse_pruned_layout(self, version: int) -> None:
        """A plain handle over a pruned-store path would read ONLY the
        latest version's touched-bucket dirs (plus a __bucket partition
        column) as if they were full state, then commit that truncated
        state forward — silent data loss. The manifest file is the
        layout marker; refuse loudly instead."""
        if os.path.isfile(
            os.path.join(self.path, f"v{version}", "_manifest.json")
        ):
            raise ValueError(
                f"{self.path} v{version} carries _manifest.json: this is a "
                "PrunedParquetStateStore layout; open it with "
                "PrunedParquetStateStore (matching pk and n_buckets), not "
                "the plain ParquetStateStore"
            )

    def read(self) -> DataFrame | None:
        v = self.current_version()
        if v is None:
            return None
        self._refuse_pruned_layout(v)
        path = os.path.join(self.path, f"v{v}")
        if self._schema_memo is not None and self._schema_memo[0] == v:
            return self.spark.read.schema(self._schema_memo[1]).parquet(path)
        df = self.spark.read.parquet(path)
        self._schema_memo = (v, df.schema)
        return df

    def _raise_not_retained(self, version: int, cur: int | None) -> None:
        committed = [v for v in self.versions() if cur is not None and v <= cur]
        raise FileNotFoundError(
            f"state version {version} not committed+retained "
            f"(current={cur}); retained committed versions: {committed}"
        )

    def read_version(self, version: int) -> DataFrame:
        """Time travel: read a specific retained snapshot (committed
        epochs within the `prune` retention window). Raises if the
        snapshot was pruned or never COMMITTED — a vN dir newer than
        _CURRENT is a mid-crash orphan (possibly half-written, and the
        replay's overwrite target), not a readable snapshot."""
        cur = self.current_version()
        p = os.path.join(self.path, f"v{version}")
        if cur is None or version > cur or not os.path.isdir(p):
            self._raise_not_retained(version, cur)
        self._refuse_pruned_layout(version)
        return self.spark.read.parquet(p)

    def write(self, df: DataFrame, version: int, epoch_id: int | None = None) -> None:
        """Commit ``df`` as snapshot ``version``, serialized under the
        commit lock. ``epoch_id`` (CDC writes only) advances the replay
        watermark; a None epoch_id (bootstrap / erasure) carries the
        current watermark forward. Callers that already hold
        ``commit_lock()`` (and therefore own a validated basis) must
        use ``_write_unlocked`` — the flock is not reentrant."""
        with self.commit_lock():
            self._write_unlocked(df, version, epoch_id)

    def _write_unlocked(
        self, df: DataFrame, version: int, epoch_id: int | None = None
    ) -> None:
        cur = self.current_version()
        if cur is not None:
            # a plain handle publishing over a pruned layout would
            # repoint to a manifest-less snapshot, stranding every
            # pruned reader — refuse like read()/prune() do (the pruned
            # subclass overrides this method, so its own writes pass)
            self._refuse_pruned_layout(cur)
        if epoch_id is None:
            epoch_id = self.last_epoch()
        target = os.path.join(self.path, f"v{version}")
        df.write.mode("overwrite").parquet(target)
        schema = _as_nullable(df.schema)
        assert isinstance(schema, T.StructType)
        self._schema_memo = (version, schema)
        self._repoint(version, epoch_id)

    def _listing(self) -> list[str]:
        try:
            return os.listdir(self.path)
        except FileNotFoundError:
            return []

    @staticmethod
    def _versions_in(names: list[str]) -> list[int]:
        out = []
        for name in names:
            if name.startswith("v"):
                try:
                    out.append(int(name[1:]))
                except ValueError:
                    continue
        return sorted(out)

    def versions(self) -> list[int]:
        """Snapshot versions on disk, ascending. Negative versions are
        legal (the etl-then-sync bootstrap commits the backfill as a
        version below any streaming epoch id, e.g. -1) and must be
        visible here or prune() would retain the full-backfill
        snapshot — the largest in the store — forever."""
        return self._versions_in(self._listing())

    def prune(self, keep_last: int = 2) -> list[int]:
        """Retention GC: drop snapshot dirs older than the newest
        ``keep_last`` COMMITTED versions (a long-running stream writes
        one snapshot per epoch — without pruning, state size x epochs
        accumulates forever). Never drops the _CURRENT version or
        anything newer than it (an orphan from a mid-crash epoch is
        the replay's write target; see the class docstring). Returns
        the pruned versions. Call it from foreachBatch cadence or a
        janitor cron; it only touches strictly-older snapshot dirs, so
        it is safe concurrent with readers of _CURRENT.

        A doomed version is unpublished before its files go: one rename
        moves ``v{N}`` out of the ``v*`` namespace, so a crash part-way
        through the delete leaves no partial dir that versions() lists
        and read_version() would read as a snapshot. The next prune
        deletes what such a crash left, from the same listing."""
        cur = self.current_version()
        if cur is None:
            return []
        # a pruned manifest maps buckets to OLDER versions' dirs;
        # rmtree'ing those would destroy live state — refuse like read()
        self._refuse_pruned_layout(cur)
        keep_last = max(1, keep_last)
        names = self._listing()
        committed = [v for v in self._versions_in(names) if v <= cur]
        doomed = committed[:-keep_last] if len(committed) > keep_last else []
        gone = [n for n in names if n.startswith(self.UNPUBLISHED)]
        for v in doomed:
            name = f"{self.UNPUBLISHED}{v}"
            try:
                os.rename(os.path.join(self.path, f"v{v}"),
                          os.path.join(self.path, name))
            except FileNotFoundError:  # a concurrent prune took it
                continue
            gone.append(name)
        _crashpoint("prune_unpublished")
        for name in gone:
            shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        return doomed

    def _merge_commit_unlocked(
        self,
        batch_df: DataFrame,
        pk: list[str],
        version: int,
        epoch_id: int,
    ) -> tuple[set[str] | None, set[str] | None]:
        """The store's epoch-commit strategy, called by
        apply_cdc_epoch UNDER the commit lock; owns the basis READ as
        well as the write (the pruned store must never pay a
        full-state read for a delta or fold epoch). Default:
        full-snapshot read-merge-rewrite, which the pruned store also
        runs for its bootstrap and heal epochs. Returns the lowercase
        column sets (committed state, prior state or None) for the
        schema-change hook — or (None, None) for an empty batch: the
        store owns the emptiness check because the pruned store learns
        it for free from its delta write.

        The pre-scan is ONE aggregation job yielding both the row count
        and the TRUNCATE seq (assumes apply_cdc_epoch's seq/op column
        contract)."""
        row = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            truncate_seq_expr().alias("tr"),
        ).first()
        if row["n"] == 0:
            return None, None
        return self._merge_commit_nonempty(
            batch_df, pk, version, epoch_id, trunc_seq=row["tr"],
            n_rows=row["n"],
        )

    def _merge_commit_nonempty(
        self, batch_df: DataFrame, pk: list[str], version: int, epoch_id: int,
        trunc_seq: object, n_rows: int,
    ) -> tuple[set[str] | None, set[str] | None]:
        """Full-snapshot read-merge-rewrite for a batch of ``n_rows``
        rows (> 0) whose last TRUNCATE seq is ``trunc_seq``, both from
        the caller's pre-scan, so neither is re-derived with extra
        jobs. The pruned store's TRUNCATE epoch enters here after its
        delta write. Batches above ``broadcast_threshold_rows`` merge
        broadcast-free, so a backfill-sized epoch does not pin millions
        of touched keys in every executor."""
        state = self.read()
        prev_cols = None if state is None else {c.lower() for c in state.columns}
        new_state = merge_cdc(
            state, batch_df, pk, trunc_seq=trunc_seq,
            broadcast_changes=n_rows <= self.broadcast_threshold_rows)
        self._write_unlocked(new_state, version, epoch_id=epoch_id)
        return {c.lower() for c in new_state.columns}, prev_cols


def _crashpoint(name: str) -> None:
    """Fault-injection seam at a durable step: of a pruned-store commit
    (``delta_written``, ``buckets_written``, ``manifest_written``), and
    of either store's prune between unpublishing the doomed versions
    and deleting their data (``prune_unpublished``). A no-op in
    production; tests replace it with a function that raises at a
    chosen step, then replay the epoch or prune again."""


# A normal epoch folds its delta into the base buckets once (delta rows
# + batch rows) would pass this fraction of the base's recorded rows (or
# the store's broadcast_threshold_rows, whichever is smaller). Measured
# with tools/epoch_smoke.py delta (SCALE.md): up to this size a delta
# epoch stays 2-4x cheaper than a fold and the keyed read barely moves.
DELTA_FOLD_FRACTION = 0.25


class PrunedParquetStateStore(ParquetStateStore):
    """ParquetStateStore variant whose normal epoch commit is O(batch),
    not O(state): it writes only the rows the epochs changed, like the
    reference's JDBC sink (support/BatchExecutor.java:60-75).

    Layout: the BASE is hash-bucketed on the PK into ``__bucket=K``
    parquet dirs; ``v{N}/_manifest.json`` maps every bucket to the
    version dir that owns it, records the state schema and each
    bucket's row count, and may name one DELTA. The delta is one
    parquet dir, ``v{N}/_delta``, holding the cumulative net effect of
    the epochs since the last fold: one row per key with the state
    columns, a create/delete flag (``__is_create``) and an epoch-major
    ordering key (``__seq``). Reads apply it on the fly: base buckets
    LEFT ANTI a broadcast of the delta keys, plus the delta's creates
    (no shuffle; every path comes from the manifest, so no partition
    discovery or footer inference).

    Epoch paths. Bootstrap and schema-changing heal/DDL epochs (one
    schema per manifest, and a delta is aligned to it) run the base
    store's epoch: its pre-scan (row count, TRUNCATE seq), merge_cdc
    over read(), and a full rewrite. Every other epoch first writes
    the new delta, with the pre-scan of the batch (touched buckets,
    TRUNCATE seq, row count) observed on that write; when (previous
    delta ∪ batch) fits one scan task the write is one single-task
    job, so a normal epoch is ONE Spark job. Then:
      * normal: publish a manifest naming the new delta, then repoint.
        No bucket dir is read or written.
      * fold: once the new delta's rows pass _fold_bound (this also
        catches backfill-sized batches), commit the merge-on-read of
        that delta over only the buckets it touches. There is one
        delta-apply rule (_with_delta) for reads, folds and erasures,
        and it picks the broadcast route too.
      * TRUNCATE: the base store's merge and full rewrite, fed the
        observed pre-scan.
    Every bucket write commits through ONE body, _commit_touched:
    write the touched buckets, count their rows, publish a manifest
    without a delta, repoint. A full rewrite (bootstrap, rebucket,
    TRUNCATE, heal) touches every bucket of an empty manifest; a fold
    and ``erase_keys`` touch the buckets of their keys and the delta,
    so an erased key can survive in neither the base nor the delta.

    Crash safety is the inherited pointer contract: an epoch writes
    only into its own version dir, above _CURRENT, and every commit
    path clears a crashed attempt's orphan there first (bucket writes
    append, so a leftover file would otherwise be published); the
    manifest lands before the repoint; replayed committed epochs no-op
    on the watermark.
    ``prune`` GCs bucket and delta dirs by reference from RETAINED
    manifests, so time travel within retention survives dir sharing."""

    BUCKET = "__bucket"
    MANIFEST = "_manifest.json"
    DELTA = "_delta"

    def __init__(self, spark: SparkSession, path: str, pk: list[str],
                 n_buckets: int = 64,
                 broadcast_threshold_rows: int = 2_000_000):
        super().__init__(spark, path)
        self.pk = list(pk)
        self.n_buckets = n_buckets
        # Fold-route cutover: at or below the threshold the change
        # set's key multiset is broadcast and state never shuffles;
        # above it the merge runs broadcast-free, so a backfill-sized
        # epoch does not pin its key set in every executor. Rows, not
        # distinct keys: the pre-scan and the manifest yield them free.
        self.broadcast_threshold_rows = broadcast_threshold_rows

    def _bucket_of(self, key_cols: list) -> F.Column:
        # hash() is seed-stable Murmur3 and NULL-accepting, so a key's
        # bucket is identical across epochs and versions by construction
        return F.pmod(F.hash(*key_cols), F.lit(self.n_buckets))

    # -- manifest bookkeeping ------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, f"v{version}", self.MANIFEST)

    def _manifest(self, version: int) -> dict:
        """{"schema", "n_buckets", "buckets": {bucket: owner version},
        "rows": {bucket: row count}, "delta": None or {"owner",
        "schema", "rows", "buckets"}} for a COMMITTED version, read
        from its file."""
        try:
            with open(self._manifest_path(version), encoding="utf-8") as f:
                raw = json.load(f)
        except FileNotFoundError:
            # the layout-mismatch twin of _refuse_pruned_layout: a
            # pruned handle opened over a plain ParquetStateStore path
            # (e.g. state_buckets flipped on on an existing deployment)
            # must fail with a migration message, not a raw
            # FileNotFoundError mid-epoch
            raise ValueError(
                f"{self.path} v{version} has no _manifest.json: this "
                "is a plain ParquetStateStore layout; open it with "
                "ParquetStateStore, or migrate by reading the plain "
                "store and bootstrap-writing a fresh "
                "PrunedParquetStateStore path"
            ) from None
        return {
            "schema": raw["schema"],
            "n_buckets": int(raw["n_buckets"]),
            "buckets": {int(k): int(v) for k, v in raw["buckets"].items()},
            "rows": {int(k): int(v) for k, v in raw["rows"].items()},
            "delta": raw.get("delta"),
        }

    def _check_modulus(self, manifest: dict) -> None:
        """Guard for BUCKET-LOCAL operations (delta, fold, erasure): a
        handle whose n_buckets differs from the manifest's would
        compute touched-bucket ids that miss the on-disk dirs entirely
        — keys would read as absent and epochs would silently
        duplicate them. Reads and full rewrites are
        modulus-agnostic (dirs come from the manifest; a full rewrite
        re-buckets consistently and records its own modulus), so the
        check lives only on the dangerous paths. ``rebucket`` migrates
        deliberately."""
        if manifest["n_buckets"] != self.n_buckets:
            raise ValueError(
                f"store was written with n_buckets={manifest['n_buckets']} "
                f"but this handle uses {self.n_buckets}; open it with the "
                "stored bucket count or migrate via rebucket()"
            )

    def _write_manifest(
        self, version: int, schema: T.StructType, buckets: dict[int, int],
        rows: dict[int, int], delta: dict | None = None,
    ) -> None:
        tmp = self._manifest_path(version) + ".tmp"
        os.makedirs(os.path.dirname(tmp), exist_ok=True)
        body = {"schema": schema.jsonValue(),
                "n_buckets": self.n_buckets,
                "buckets": {str(k): v for k, v in buckets.items()},
                "rows": {str(k): v for k, v in rows.items()}}
        if delta is not None:
            body["delta"] = delta
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(body, f)
        os.replace(tmp, self._manifest_path(version))
        _crashpoint("manifest_written")

    def rebucket(self, n_buckets: int) -> int:
        """Migrate the store to a new bucket count (state grew past
        the sizing rule's target bucket size): one full rewrite
        committed as a new version under the commit lock, watermark
        carried. Readers of prior versions keep the old modulus (each
        manifest records its own). Returns the new version id."""
        with self.commit_lock():
            cur = self.current_version()
            if cur is None:
                raise ValueError("no committed state to rebucket")
            state = self.read()
            old_n = self.n_buckets
            # restore the old modulus if the rewrite fails mid-flight:
            # the store still holds the old layout, and a handle left
            # on the new modulus would fail every subsequent
            # bucket-local epoch's modulus guard until restart
            self.n_buckets = n_buckets
            try:
                self._write_unlocked(state, cur + 1, epoch_id=None)
            except BaseException:
                self.n_buckets = old_n
                raise
        return cur + 1

    def _schema_of(self, manifest: dict) -> T.StructType:
        return T.StructType.fromJson(manifest["schema"])

    def _bucket_dir(self, owner: int, bucket: int) -> str:
        return os.path.join(self.path, f"v{owner}", f"{self.BUCKET}={bucket}")

    def _delta_dir(self, owner: int) -> str:
        return os.path.join(self.path, f"v{owner}", self.DELTA)

    def _owned_buckets(self, version: int) -> dict[int, int]:
        """Buckets whose data dir a version's own directory holds."""
        vdir = os.path.join(self.path, f"v{version}")
        out = {}
        prefix = self.BUCKET + "="
        try:
            names = os.listdir(vdir)
        except FileNotFoundError:
            return out
        for n in names:
            if n.startswith(prefix):
                try:
                    out[int(n[len(prefix):])] = version
                except ValueError:
                    continue
        return out

    @staticmethod
    def _dir_rows(path: str) -> int:
        """Rows in a parquet dir this store just wrote, from the file
        footers: driver-side metadata reads, no Spark job."""
        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(os.path.join(path, f)).num_rows
            for f in os.listdir(path) if f.endswith(".parquet")
        )

    # -- reads ---------------------------------------------------------------

    def _read_buckets(self, manifest: dict, buckets=None) -> DataFrame:
        """Assemble a DataFrame from explicit bucket-dir paths (all
        buckets, or a subset) with the manifest's schema — never a
        partition discovery over the version dir. Base rows only: see
        _with_delta."""
        entries = manifest["buckets"]
        if buckets is not None:
            entries = {b: o for b, o in entries.items() if b in buckets}
        dirs = [self._bucket_dir(o, b) for b, o in sorted(entries.items())]
        schema = self._schema_of(manifest)
        if not dirs:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*dirs)

    def _with_delta(self, base: DataFrame, manifest: dict) -> DataFrame:
        """Merge-on-read: ``base`` (every bucket, or any subset holding
        all of the delta's buckets) with the manifest's delta applied —
        base LEFT ANTI a broadcast of the delta keys, plus the delta's
        creates. The delta is stored aligned to the manifest schema."""
        d = manifest["delta"]
        if d is None:
            return base
        delta = self._read_delta(d)
        creates = delta.where("__is_create = 1").select(*base.columns)
        # the fold bound keeps a delta at or below the threshold; the
        # check covers a delta written by a handle with a larger one
        return replace_keys(base, delta.select(*self.pk), creates, self.pk,
                            broadcast=d["rows"] <= self.broadcast_threshold_rows)

    def _delta_files(self, d: dict) -> list[str]:
        path = self._delta_dir(d["owner"])
        return [os.path.join(path, f) for f in sorted(os.listdir(path))
                if f.endswith(".parquet")]

    def _read_delta(self, d: dict) -> DataFrame:
        # the part files, not the dir: Spark treats a `_`-prefixed path
        # as hidden and warns on every read that names one directly
        return self.spark.read.schema(T.StructType.fromJson(d["schema"])) \
            .parquet(*self._delta_files(d))

    def _read_manifest(self, manifest: dict, buckets=None) -> DataFrame:
        """The state a manifest describes (all buckets, or a subset
        holding all of the delta's buckets), delta applied."""
        return self._with_delta(self._read_buckets(manifest, buckets), manifest)

    def read(self) -> DataFrame | None:
        v = self.current_version()
        return None if v is None else self._read_manifest(self._manifest(v))

    def read_version(self, version: int) -> DataFrame:
        cur = self.current_version()
        if cur is None or version > cur or not os.path.isfile(
            self._manifest_path(version)
        ):
            self._raise_not_retained(version, cur)
        return self._read_manifest(self._manifest(version))

    # -- writes --------------------------------------------------------------

    def _write_unlocked(
        self, df: DataFrame, version: int, epoch_id: int | None = None
    ) -> None:
        """Full rewrite — bootstrap, rebucket, TRUNCATE and heal/DDL
        epochs land here: a bucket commit of every bucket over an empty
        manifest, so the new version owns every surviving bucket and
        carries no delta."""
        cur = self.current_version()
        if cur is not None:
            # publish-direction twin of the plain store's guard: over a
            # plain layout _manifest raises the migration error —
            # silently publishing would make the next prune() sweep
            # every manifest-less plain snapshot dir as unreferenced
            self._manifest(cur)
        if epoch_id is None:
            epoch_id = self.last_epoch()
        if self.BUCKET in df.columns:
            raise ValueError(f"state may not carry a {self.BUCKET} column")
        self._clear_version(version)
        empty = {"schema": df.schema.jsonValue(), "buckets": {}, "rows": {}}
        self._commit_touched(df, version, empty, set(range(self.n_buckets)),
                             epoch_id)

    def _clear_version(self, version: int) -> None:
        """Remove ``v{version}`` before a commit path writes into it: a
        version dir above _CURRENT is a crashed attempt's orphan, and
        its files (staged task output under ``_temporary`` included)
        would otherwise land in the append."""
        shutil.rmtree(os.path.join(self.path, f"v{version}"),
                      ignore_errors=True)

    def _owned_rows(self, version: int) -> dict[int, int]:
        """Row count of each bucket dir a version's own directory holds."""
        return {b: self._dir_rows(self._bucket_dir(version, b))
                for b in self._owned_buckets(version)}

    def _write_bucket_dirs(
        self, df: DataFrame, version: int, n_parts: int
    ) -> None:
        """Append ``df`` hash-clustered into ``__bucket=K`` dirs under
        the version dir, which may hold the delta a fold reads; the
        caller clears the dir first (_clear_version). The bucket-column
        repartition is load-bearing: without it every write task emits
        a file into every bucket dir it holds rows for — O(tasks x
        buckets) tiny files per version.
        ``n_parts`` sizes that shuffle (|touched| buckets). The
        count stays pinned (REPARTITION_BY_NUM): the AQE-coalescible
        column-only form measured slower per drive."""
        target = os.path.join(self.path, f"v{version}")
        # Sort key is (__bucket, *pk), NOT bare pk: the V1 write path
        # requires its output ordered by the partition column and
        # inserts its own Sort(__bucket) when the child ordering does
        # not satisfy it — under which the optimizer eliminates a bare
        # pk sort as redundant and files land in arbitrary pk order.
        # Prefixing the bucket satisfies the writer (no second sort)
        # and makes the pk-clustered layout — parquet min/max
        # row-group skipping on key lookups — actually materialize.
        (
            df.withColumn(self.BUCKET, self._bucket_of([F.col(k) for k in self.pk]))
            .repartition(n_parts, F.col(self.BUCKET))
            .sortWithinPartitions(self.BUCKET, *self.pk)
            .write.mode("append")
            .partitionBy(self.BUCKET)
            .parquet(target)
        )
        _crashpoint("buckets_written")

    def _scan_aggs(self, batch_df: DataFrame, pk: list[str]) -> list[F.Column]:
        """The pre-scan's aggregates over the change batch, observed on
        the delta write (_write_delta): touched buckets — every row's
        NEW key bucket (``nb``) plus PK-change rows' OLD key bucket
        (``ob``, where the death row lands: same coalesce(old, new) key
        as collapse_changes) — the last TRUNCATE seq (``tr``) and the
        row count (``n``). Assumes apply_cdc_epoch's seq/op column
        contract. truncate_seq_expr and old_key_exprs come from
        merge.py: the pre-scan is AUTHORITATIVE (its truncate seq is
        forwarded to merge_cdc), so a copy drifting from the merge's
        would be unguarded."""
        aggs = [
            F.collect_set(
                self._bucket_of([F.col(k) for k in pk])
            ).alias("nb"),
            truncate_seq_expr().alias("tr"),
            F.count(F.lit(1)).alias("n"),
        ]
        if any(OLD_PREFIX + k in batch_df.columns for k in pk):
            old_key = old_key_exprs(batch_df.columns, pk)
            aggs.append(F.collect_set(self._bucket_of(old_key)).alias("ob"))
        return aggs

    @staticmethod
    def _heals(batch_df: DataFrame, pk: list[str], schema: T.StructType) -> bool:
        """True iff merging the batch would change the state schema
        (merge_cdc's healed_schema differs from the manifest's by name
        or type; column order and nullability do not count)."""
        def by_name(s: T.StructType) -> dict:
            return {f.name.lower(): _as_nullable(f.dataType) for f in s.fields}

        healed = healed_schema(schema, image_schema(batch_df.schema, pk))
        return by_name(healed) != by_name(schema)

    def _merge_commit_unlocked(
        self,
        batch_df: DataFrame,
        pk: list[str],
        version: int,
        epoch_id: int,
    ) -> tuple[set[str] | None, set[str] | None]:
        if [k.lower() for k in pk] != [k.lower() for k in self.pk]:
            raise ValueError(
                f"epoch pk {pk} != store bucketing pk {self.pk}: a "
                "mismatched key would scatter rows across wrong buckets"
            )
        # v{version} sits above _CURRENT: an orphan (a crashed
        # attempt's, or the delta written below), never a committed
        # version, so it is cleared before an empty epoch returns
        cur = self.current_version()
        manifest = None if cur is None else self._manifest(cur)
        if manifest is None or self._heals(batch_df, pk,
                                           self._schema_of(manifest)):
            # bootstrap, or heal/DDL: a delta is aligned to the
            # manifest schema, which this batch changes
            self._clear_version(version)
            return super()._merge_commit_unlocked(
                batch_df, pk, version, epoch_id)
        delta, (touched, trunc_seq, n_rows) = self._write_delta(
            batch_df, pk, version, manifest, epoch_id)
        if n_rows == 0:
            self._clear_version(version)
            return None, None
        if trunc_seq is not None:
            # full rewrite, which clears v{version} and the delta in it
            return super()._merge_commit_nonempty(
                batch_df, pk, version, epoch_id, trunc_seq, n_rows)
        self._check_modulus(manifest)
        schema = self._schema_of(manifest)
        cols = {f.name.lower() for f in schema.fields}
        d = manifest["delta"]
        touched |= set(d["buckets"] if d else ())
        if delta is not None:
            delta["buckets"] = sorted(touched)
        if delta is not None and delta["rows"] > self._fold_bound(manifest):
            # fold: the new delta applied to the buckets it touches
            basis = self._read_manifest({**manifest, "delta": delta}, touched)
            self._commit_touched(basis, version, manifest, touched, epoch_id)
        else:
            # normal epoch: the new delta over the unchanged base buckets
            self._write_manifest(version, schema, manifest["buckets"],
                                 manifest["rows"], delta)
            self._repoint(version, epoch_id)
        return cols, cols

    def _fold_bound(self, manifest: dict) -> float:
        """Most rows a committed delta may hold; an epoch whose new
        delta has more folds it. DELTA_FOLD_FRACTION of the base's
        recorded rows, and never more than broadcast_threshold_rows —
        every read broadcasts the delta's keys, and each delta epoch
        rewrites the delta."""
        return min(DELTA_FOLD_FRACTION * sum(manifest["rows"].values()),
                   self.broadcast_threshold_rows)

    def _write_delta(
        self, batch_df: DataFrame, pk: list[str], version: int,
        manifest: dict, epoch_id: int,
    ) -> tuple[dict | None, tuple[set[int], object, int]]:
        """Collapse the change set (previous delta ∪ batch) into
        ``v{version}/_delta``, aligned to the manifest schema, in the
        job that also observes the pre-scan (_scan_aggs) on the batch.
        The change set orders under an epoch-major ``seq`` =
        struct(epoch, seq): every batch row orders after every delta
        row, whatever the source's seq, and delta rows replay as INSERT
        (create) or DELETE events. Returns the delta's manifest entry
        without the touched buckets (None for a delta with no rows) and
        the pre-scan result; the caller publishes the delta, folds it,
        or discards it. A change set that fits one scan task
        (fits_one_split) collapses after ``coalesce(1)``, so its
        groupBy plans no Exchange and the write is ONE single-task job;
        a larger one collapses in parallel."""
        # The change set's size is the batch's estimate plus the
        # previous delta's bytes on disk (Catalyst's estimate of a
        # parquet scan). It is checked before the batch is observed:
        # the session keeps an observed frame registered until an
        # action on it completes.
        d = manifest["delta"]
        delta_bytes = 0 if d is None else sum(
            os.path.getsize(f) for f in self._delta_files(d))
        one_task = fits_one_split(batch_df, delta_bytes)
        scan = Observation()
        changes = applicable_changes(
            batch_df.observe(scan, *self._scan_aggs(batch_df, pk))
        ).withColumn("seq", F.expr(
            f"named_struct('e', CAST({int(epoch_id)} AS BIGINT), 's', seq)"
        ))
        if d is not None:
            seq_t = batch_df.schema["seq"].dataType.simpleString()
            prev = self._read_delta(d).selectExpr(
                f"named_struct('e', __seq.e, 's', try_cast(__seq.s AS {seq_t})) AS seq",
                "CASE WHEN __is_create = 1 THEN 'INSERT' ELSE 'DELETE' END AS op",
                *[_bq(f.name) for f in self._schema_of(manifest).fields],
            )
            changes = changes.unionByName(prev, allowMissingColumns=True)
        if one_task:
            changes = changes.coalesce(1)
        keys = {k.lower(): k for k in pk}
        have = {c.lower() for c in changes.columns}
        cols = []
        for f in self._schema_of(manifest).fields:
            name = f.name.lower()
            if name in keys:
                src = _bq("__k_" + keys[name])
            elif name in have:
                src = _bq(f.name)
            else:
                src = f"CAST(NULL AS {f.dataType.simpleString()})"
            cols.append(f"{src} AS {_bq(f.name)}")
        delta = collapse_changes(changes, pk).selectExpr(
            *cols, "__is_create", "__seq"
        )
        target = self._delta_dir(version)
        self._clear_version(version)
        delta.write.parquet(target)
        _crashpoint("delta_written")
        rows = self._dir_rows(target)
        entry = {"owner": version,
                 "schema": _as_nullable(delta.schema).jsonValue(),
                 "rows": rows} if rows else None
        row = scan.get
        touched = set(row["nb"]) | set(row.get("ob") or ())
        return entry, (touched, row["tr"], row["n"])

    def _commit_touched(self, df: DataFrame, version: int, manifest: dict,
                        touched: set, epoch_id) -> None:
        """The one bucket commit, shared by full rewrites, folds and
        erasures: ``df`` is the new content of the ``touched`` buckets
        (delta applied). Write only those buckets (write tasks sized to
        |touched|), remove this version's delta (a fold's input),
        publish a manifest without a delta where touched buckets that
        survived point at this version, touched buckets with no
        survivors drop out, and untouched buckets keep their owner;
        then repoint."""
        self._write_bucket_dirs(
            df, version, n_parts=min(self.n_buckets, max(1, len(touched)))
        )
        shutil.rmtree(self._delta_dir(version), ignore_errors=True)
        owned = self._owned_rows(version)
        buckets = {b: o for b, o in manifest["buckets"].items()
                   if b not in touched}
        buckets.update(dict.fromkeys(owned, version))
        rows = {b: n for b, n in manifest["rows"].items() if b not in touched}
        rows.update(owned)
        self._write_manifest(version, self._schema_of(manifest), buckets, rows)
        self._repoint(version, epoch_id)

    # -- retention -----------------------------------------------------------

    def versions(self) -> list[int]:
        """SNAPSHOT versions = dirs carrying a manifest. A pruned
        version's data dirs can outlive its manifest while newer
        manifests still reference them — those dirs are storage, not
        readable snapshots."""
        return [
            v for v in super().versions()
            if os.path.isfile(self._manifest_path(v))
        ]

    def prune(self, keep_last: int = 2) -> list[int]:
        """Retention GC at dir granularity: keep every bucket dir and
        delta dir some RETAINED version's manifest references (versions
        share dirs across epochs), plus everything belonging to orphans
        above _CURRENT (a mid-crash replay target). A pruned version
        loses its manifest immediately (reported in the return, like
        the base store) and its data dirs as soon as the last
        referencing manifest is itself pruned — possibly on a LATER
        call, which is why GC candidates come from the disk listing,
        not from versions(). Every doomed manifest goes before any data
        dir, so a crash part-way leaves no listed version whose read
        fails; the next prune deletes the leftovers the same way."""
        cur = self.current_version()
        if cur is None:
            return []
        # over a plain-layout path (no manifest on the CURRENT version —
        # exactly the state left by flipping state_buckets on an
        # existing deployment) the retained set would compute EMPTY and
        # the sweep below would delete every version dir including the
        # _CURRENT snapshot; _manifest raises the migration error
        self._manifest(cur)
        keep_last = max(1, keep_last)
        committed = [v for v in self.versions() if v <= cur]
        retained = set(committed[-keep_last:])
        referenced: set[tuple[int, int]] = set()
        deltas: set[int] = set()
        for v in retained:
            m = self._manifest(v)
            referenced.update((o, b) for b, o in m["buckets"].items())
            if m["delta"] is not None:
                deltas.add(m["delta"]["owner"])
        doomed = [v for v in committed if v not in retained]
        for v in doomed:
            try:
                os.remove(self._manifest_path(v))
            except FileNotFoundError:
                pass
        _crashpoint("prune_unpublished")
        for v in (x for x in super().versions() if x <= cur):
            if v in retained:
                continue
            vdir = os.path.join(self.path, f"v{v}")
            for b in self._owned_buckets(v):
                if (v, b) not in referenced:
                    shutil.rmtree(self._bucket_dir(v, b), ignore_errors=True)
            if v not in deltas:
                shutil.rmtree(self._delta_dir(v), ignore_errors=True)
            if not self._owned_buckets(v) and v not in deltas:
                shutil.rmtree(vdir, ignore_errors=True)
        return doomed


def read_canal_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based Canal-JSON stream (S1's file flavor; a kafka source
    swaps in by replacing this reader — the envelope parse is shared)."""
    reader = spark.readStream.schema(DML_ENVELOPE)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def typed_changes(
    dml: DataFrame, cfg: MappingConfig, value_schema: T.StructType
) -> DataFrame:
    """route -> explode -> project the stringly-typed Canal maps into
    typed image columns (+ old_<pk> for PK-changes)."""
    rows = explode_dml(route(dml, cfg))
    m = cfg.db_mapping
    # try_element_at, never element_at: the engine invariant
    # (session.py NOTE) — on an ANSI Spark 3.x session a plain
    # element_at THROWS on a missing map key (the 'old' map normally
    # carries only changed columns), which would wedge the stream in
    # an epoch-replay loop (Spark 4 returns NULL either way)
    cols = [F.col("seq"), F.col("op")]
    for f in value_schema.fields:
        cols.append(
            F.try_element_at(F.col("data"), F.lit(f.name))
            .try_cast(f.dataType.simpleString()).alias(f.name)
        )
    for tgt, src in m.target_pk.items():
        pk_src = src or tgt
        dt = value_schema[pk_src].dataType.simpleString()
        cols.append(
            F.try_element_at(F.col("old"), F.lit(pk_src))
            .try_cast(dt).alias(f"old_{pk_src}")
        )
    return rows.select(*cols)


def apply_cdc_epoch(
    store: ParquetStateStore,
    batch_df: DataFrame,
    epoch_id: int,
    pk: list[str],
    on_schema_change=None,
) -> bool:
    """One foreachBatch epoch body: merge the typed change batch into
    the versioned state store. Returns True iff a new version was
    committed.

    Replay-safe (C10, the reference's transactional batch + rollback,
    BatchExecutor.java:60-91, re-expressed as epoch idempotence): if
    the store's epoch watermark already covers this epoch, the merge
    committed before the crash and the replay is a no-op — see
    ParquetStateStore's commit-marker contract. The check is on
    last_epoch(), NOT current_version(): a non-CDC commit in between
    (erase_keys) bumps the version without advancing the watermark,
    so it can never cause a future epoch to be silently skipped.

    ``on_schema_change`` (S9 injection point): zero-arg callable fired
    after commit when this epoch created the state table or changed
    its column set — the engine's version of the reference's notify
    after syncSchema DDL (PhoenixEtlService.java:162,174-215).

    Empty batches commit nothing and return False — the check lives
    in the store's merge-commit strategy (see _merge_commit_unlocked)."""
    # The whole read-merge-commit body runs under the store's commit
    # lock: the merge's basis (the state version read here) is then
    # still current at pointer-swap time, so an interleaved non-CDC
    # commit (erase_keys) can neither be silently undone by this
    # epoch nor silently undo it. foreachBatch epochs are already
    # serial with each other; the lock serializes them with admin
    # commits.
    with store.commit_lock():
        last = store.last_epoch()
        if last is not None and last >= epoch_id:
            return False
        cur = store.current_version()
        # Version tracks the epoch id while the two are aligned (the
        # normal stream), but can never step backwards onto — or into —
        # a snapshot an interleaved non-CDC commit (erasure) already
        # occupies.
        version = epoch_id if cur is None else max(cur + 1, epoch_id)
        # Schema heal (C11) happens INSIDE merge_cdc (reached via the
        # store's merge-commit strategy): its skip_missing=False path
        # aligns the prior state to the batch's image schema
        # (operators/merge.py) — no pre-align here, which would
        # re-implement merge's image-column filter and drift from it
        # (it once did, and missed is_ddl). The store picks the READ
        # and WRITE strategy: full-snapshot rewrite by default, a
        # delta commit for PrunedParquetStateStore.
        new_cols, prev_cols = store._merge_commit_unlocked(
            batch_df, pk, version, epoch_id
        )
    if new_cols is None:  # empty batch — no version committed
        return False
    if on_schema_change is not None and prev_cols != new_cols:
        on_schema_change()
    return True


def _start_foreach(changes: DataFrame, apply_epoch, checkpoint_path: str,
                   available_now: bool):
    """Shared foreachBatch launch: update-mode writer with the epoch
    body + checkpoint, availableNow-triggered for drain-the-backlog
    runs."""
    writer = (changes.writeStream.foreachBatch(apply_epoch)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("update"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_cdc_stream(
    spark: SparkSession,
    source_path: str,
    state_path: str,
    checkpoint_path: str,
    cfg: MappingConfig,
    value_schema: T.StructType,
    available_now: bool = True,
    notify_hook=None,
    retain_versions: int | None = None,
    max_files_per_trigger: int | None = None,
    state_buckets: int | None = None,
):
    """Wire the full pipeline: file stream -> typed changes ->
    foreachBatch(merge into versioned parquet state). Returns the
    query handle; with available_now it drains pending files and stops
    (the test/batch-replay mode).

    ``max_files_per_trigger``: bound each micro-batch to N source
    files (epoch-granularity control — availableNow otherwise drains
    everything pending into ONE epoch; bench.py uses 1 to measure
    per-epoch overhead over a fixed epoch count).

    ``notify_hook``: callable(payload dict) fired on schema-changing
    epochs with the reference's ``{database, table}`` body; defaults
    to the HTTP notifier when ``cfg.notify_url`` is set (S9,
    PhoenixEtlService.java:174-215), else no-op.

    ``retain_versions``: when set, every committing epoch prunes
    committed snapshots older than the newest N (the long-running
    deployment needs this or state size x epochs accumulates).

    ``state_buckets``: when set, back the stream with the
    PrunedParquetStateStore (N PK-hash buckets) so each epoch commits
    a collapsed delta of the keys it changed, folded into the touched
    buckets only past a size bound — O(batch) per-epoch I/O instead of
    O(state), the setting a long-lived large-state deployment wants.
    Default keeps the plain full-snapshot store."""
    from canal_phoenix_adapter_spark.notify import make_notifier, notify_payload

    pk = cfg.db_mapping.pk_source_columns()
    if state_buckets:
        store: ParquetStateStore = PrunedParquetStateStore(
            spark, state_path, pk, n_buckets=state_buckets)
    else:
        store = ParquetStateStore(spark, state_path)
    hook = notify_hook if notify_hook is not None else make_notifier(cfg)
    on_change = (lambda: hook(notify_payload(cfg))) if hook is not None else None

    def apply_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        committed = apply_cdc_epoch(
            store, batch_df, epoch_id, pk, on_schema_change=on_change
        )
        if committed and retain_versions is not None:
            store.prune(keep_last=retain_versions)

    stream = read_canal_stream(spark, source_path, max_files_per_trigger)
    changes = typed_changes(stream, cfg, value_schema)
    return _start_foreach(changes, apply_epoch, checkpoint_path, available_now)


def run_cdc_stream_to_sink(
    spark: SparkSession,
    source_path: str,
    checkpoint_path: str,
    cfg: MappingConfig,
    value_schema: T.StructType,
    connection_factory,
    target_columns: set[str] | None = None,
    available_now: bool = True,
    commit_batch: int | None = None,
    heal=None,
):
    """The reference's actual topology: Canal stream -> typed changes
    -> executor-side Phoenix apply per epoch (no intermediate state
    table). Each foreachBatch epoch routes the batch through
    sinks.phoenix.write_changes — PK-hash partitioned, per-key
    seq-ordered, one transaction per partition with heal-replay —
    exactly the PhoenixSyncService sync loop driven by Structured
    Streaming instead of a message-queue consumer thread.

    Exactly-once caveat (same as the reference's): the epoch may
    replay after a crash, so the write path must be idempotent — it
    is, because UPSERT/DELETE on the PK are natural upserts
    (PhoenixSyncService relies on the identical property). The
    streaming checkpoint provides at-least-once epoch delivery;
    idempotent apply upgrades it to effectively-once."""
    from canal_phoenix_adapter_spark.sinks.phoenix import write_changes

    def apply_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_changes(
            batch_df, cfg, connection_factory,
            target_columns=target_columns,
            commit_batch=commit_batch, heal=heal,
        )

    stream = read_canal_stream(spark, source_path)
    changes = typed_changes(stream, cfg, value_schema)
    return _start_foreach(changes, apply_epoch, checkpoint_path, available_now)


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
    group_id_prefix: str | None = None,
) -> dict[str, str]:
    """Kafka reader options for the Canal-JSON topic (the reference's
    MQ flavor of S1 — canal delivers the same envelope over Kafka).
    Kept as a pure dict builder so it is unit-testable without a
    broker; ``read_canal_kafka`` applies it."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        # fail-fast on data loss: a CDC stream silently skipping
        # offsets corrupts downstream state irrecoverably
        "failOnDataLoss": "true",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if group_id_prefix is not None:
        opts["groupIdPrefix"] = group_id_prefix
    return opts


def read_canal_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    **kwargs,
) -> DataFrame:
    """Canal-JSON stream from Kafka: the envelope parse is shared with
    the file source (parse_dml_json on the message value), so the
    whole downstream pipeline — typed_changes -> apply_cdc_epoch — is
    source-agnostic. Requires the spark-sql-kafka package on the
    cluster: ``reader.load()`` resolves the data source EAGERLY, so
    calling this without the package raises (importing this module is
    safe; building the plan is not — which is why only
    kafka_source_options is unit-tested in this container)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(bootstrap_servers, topic, **kwargs).items():
        reader = reader.option(k, v)
    return parse_dml_json(reader.load(), json_col="value")


class EraseResult(NamedTuple):
    """erase_keys receipt: the committed snapshot version plus the
    audited number of state rows the erasure actually removed."""
    version: int
    erased: int


def erase_keys(
    store: ParquetStateStore,
    keys: DataFrame,
    pk: list[str],
) -> EraseResult:
    """Compliance deletion (GDPR/CCPA erasure): remove every state row
    whose PK appears in ``keys`` and commit the result as a NEW
    snapshot version — auditable (the pre-erasure snapshot remains
    until `prune`), atomic (the _CURRENT repoint), and idempotent
    (re-running with the same keys is a no-op rewrite).

    Plan: one LEFT ANTI join of the state table against the key set —
    at 100 TB the key set is tiny relative to state, so AQE broadcasts
    it and the state table is filtered in place, never shuffled.
    Returns EraseResult(version, erased): the committed version id and
    the AUDITED number of state rows the erasure actually removed — a
    compliance deletion whose report says "done" while a dtype or key
    mismatch silently erased nothing is the worst failure mode here,
    so the count comes from a LEFT SEMI join of the same basis against
    the same cast keyset (erase-of-absent-key commits a version and
    reports erased=0).

    Safe concurrent with the CDC stream, on two mechanisms. (1) The
    whole basis-read -> anti-join -> commit runs under the store's
    commit lock, serialized with apply_cdc_epoch's equally-locked
    body — without it the two are a check-then-act race where the
    second pointer swap publishes a snapshot computed without the
    first commit's changes (losing either a committed epoch or the
    erasure itself, silently). (2) The erasure commit bumps only the
    snapshot VERSION and carries the epoch watermark forward (write
    with epoch_id=None), so apply_cdc_epoch's replay check — which
    reads last_epoch(), not current_version() — still applies every
    future epoch; and because CDC writes target max(cur+1, epoch_id),
    a later epoch can never overwrite the erasure snapshot's
    directory either.

    On a PrunedParquetStateStore the erasure commits through the fold
    path: only the buckets holding an erased key or a delta key are
    read (delta applied), anti-joined and rewritten, and the new
    manifest drops the delta — so a key living only in the delta is
    erased and counted, and no delta row can re-add an erased key.
    The rest of the base carries over through the manifest.

    NOTE: erasure of rows the CDC stream may re-deliver needs the
    upstream retention/tombstone handled too — this erases the
    engine's materialized state, which is the part this engine owns."""
    with store.commit_lock():
        cur = store.current_version()
        if cur is None:
            raise ValueError("no committed state to erase from")
        new_version = cur + 1
        keyset = keys.select(*pk).dropDuplicates(pk)
        if isinstance(store, PrunedParquetStateStore):
            if [k.lower() for k in pk] != [k.lower() for k in store.pk]:
                raise ValueError(
                    f"erasure pk {pk} != store bucketing pk {store.pk}: "
                    "a mismatched key would bucket-hash wrong and the "
                    "erasure would silently miss its rows"
                )
            manifest = store._manifest(cur)
            store._check_modulus(manifest)
            # hash() is TYPE-sensitive: a caller keyset whose pk dtype
            # differs from the state's (int keys vs long state) would
            # compute buckets the state never uses and the erasure
            # would no-op while reporting success — cast to the
            # manifest schema's pk types BEFORE bucketing (try_cast:
            # a key the state type cannot represent matches no state
            # row by construction, so a NULL key is a correct miss)
            pk_types = {
                f.name.lower(): f.dataType
                for f in store._schema_of(manifest).fields
            }
            # na.drop: a null-cast key matches no state row, but
            # hash(NULL) is constant — kept, it would mark (and
            # rewrite) one spurious touched bucket
            keyset = keyset.select(
                *[F.col(k).try_cast(pk_types[k.lower()]).alias(k) for k in pk]
            ).na.drop()
            touched = {
                r["b"] for r in keyset.select(
                    store._bucket_of([F.col(k) for k in pk]).alias("b")
                ).distinct().collect()
            }
            if manifest["delta"] is not None:
                touched |= set(manifest["delta"]["buckets"])
            basis = store._read_manifest(manifest, touched)
            # audited post-condition, bounded to the touched buckets
            erased = basis.join(
                F.broadcast(keyset), on=pk, how="left_semi"
            ).count()
            new_t = basis.join(F.broadcast(keyset), on=pk, how="left_anti")
            store._clear_version(new_version)
            store._commit_touched(new_t, new_version, manifest, touched,
                                  store.last_epoch())
        else:
            state = store.read()
            erased = state.join(keyset, on=pk, how="left_semi").count()
            new_state = state.join(keyset, on=pk, how="left_anti")
            store._write_unlocked(new_state, new_version, epoch_id=None)
    return EraseResult(new_version, erased)
