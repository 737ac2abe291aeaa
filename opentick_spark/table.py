"""PK-ordered table storage: Parquet append-log with latest-wins upsert.

Reference semantics being reproduced (query.go):
- insert is upsert — writing an existing PK replaces the row (tr.Set,
  query.go:302; observed server_test.go:96-99);
- batch insert is atomic (one FDB transaction, query.go:294-307);
- delete clears a point or contiguous PK range (query.go:204-226);
- every read returns rows in full-PK order (storage order).

Spark-native design: each write is one Parquet file stamped with a
monotonically increasing commit sequence (``__seq``); deletes append
tombstone files (``__del = true``). The read view resolves the log with a
latest-wins window over the PK — semantically Delta's MERGE, built from
plain Parquet. ``compact()`` collapses the log into PK-range-partitioned,
PK-sorted files (the reference's "table is physically sorted by PK"), after
which reads skip the dedup window entirely until the next write.

Scale posture (100 TB): the append-log + compaction model is exactly how
LSM/Delta-style lakehouse tables ingest at scale — writes never rewrite
history, the dedup window shuffles only on the PK (co-partitioned with the
subsequent range-partitioned layout), and compaction uses
``repartitionByRange`` on the PK so Parquet row-group min/max stats give
the same predicate⇒locality property the reference gets from FDB key order.
Writes here land via Arrow (no JVM round-trip) because point ingest is a
storage concern; all query compute is Spark.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import uuid
from typing import Any

try:
    import fcntl
except ImportError:  # non-POSIX: cross-process locking degrades to in-process
    fcntl = None

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opentick_spark.catalog import Catalog, TableSchema
from opentick_spark.typesys import spark_type

_ARROW_TYPE = {
    "tinyint": pa.int8(),
    "smallint": pa.int16(),
    "int": pa.int32(),
    "bigint": pa.int64(),
    "double": pa.float64(),
    "float": pa.float32(),
    "timestamp": pa.int64(),  # epoch nanos
    "boolean": pa.bool_(),
    "text": pa.string(),
}

SEQ_COL = "__seq"  # commit sequence (one per atomic commit)
SUB_COL = "__sub"  # intra-commit write order (full 64-bit, no overflow)
DEL_COL = "__del"
BUCKET_COL = "__bucket"


class CompactionFoldError(OSError):
    """A compaction aborted during its PRE-MUTATION marker fold because
    a sidecar/footer read hit a transient error (r11). Nothing was
    mutated — the compaction is safely retryable, and opportunistic
    callers (engine auto-compact) may swallow exactly this type. An
    OSError of any other provenance from compaction means a phase AFTER
    mutation began failed and must propagate."""


def _latest_wins(df: DataFrame, pk_phys: list[str], val_phys: list[str]) -> DataFrame:
    """Latest row per PK as ONE hash aggregation: ``max_by`` over the
    ordering key (commit seq, intra-commit write order) — a total order
    per row, mirroring sequential tr.Set last-wins. It partial-aggregates
    map-side and needs no per-partition sort, unlike a row_number
    window: the cheaper plan at any scale, and the same single shuffle
    on the PK. Output: the PK columns and a ``__latest`` struct of the
    value columns and the tombstone flag.

    Deviation from the reference: Spark normalizes a float -0.0 to 0.0
    when it groups, so a float PK of -0.0 comes out as 0.0 (and a
    compaction stores it so) and -0.0 and 0.0 are one key, where the
    reference keeps two keys."""
    return df.groupBy(*[F.col(p) for p in pk_phys]).agg(
        F.max_by(
            F.struct(*val_phys, DEL_COL),
            F.struct(F.col(SEQ_COL), F.col(SUB_COL)),
        ).alias("__latest")
    )


class TableStore:
    """Read/write access to one PK-ordered table.

    On-disk layout: ``data/log/`` holds append commits (one parquet file
    or directory per atomic commit); ``data/base/`` holds the last
    compaction — PK-sorted, optionally hash-bucket directory-partitioned
    on the leading PK column. Reads union base+log and resolve
    latest-wins; a bucketed base gives PK point/prefix queries partition
    pruning on top of row-group stats."""

    def __init__(self, catalog: Catalog, db: str, name: str):
        self.catalog = catalog
        self.db = db
        self.name = name
        self.path = catalog.table_path(db, name)
        self.data_path = os.path.join(self.path, "data")
        self.log_path = os.path.join(self.data_path, "log")
        self.base_path = os.path.join(self.data_path, "base")
        self._lock = threading.RLock()
        # per-commit-dir applied-marker memo (dirs are immutable once
        # published; see _log_markers)
        self._marker_dir_cache: dict = {}
        # plan cache of the current snapshot (see read and cached): one
        # lock of its own, so a lookup never waits on a commit or
        # compaction
        self._plan_lock = threading.Lock()
        self._plan_key: tuple | None = None
        self._plans: dict = {}
        # recovery BEFORE the makedirs below: a compaction killed
        # mid-swap leaves base missing, and exist_ok=True would
        # otherwise silently "heal" it into an EMPTY base — presenting
        # the compacted-away rows as lost data on the next open
        self._recover_if_needed()
        os.makedirs(self.log_path, exist_ok=True)
        os.makedirs(self.base_path, exist_ok=True)

    def _bucket_expr(self, nb: int):
        lead = self.schema.key_columns[0].physical
        return F.pmod(F.xxhash64(F.col(lead)), F.lit(nb)).cast("int")

    #: xxhash64 width classes (verified empirically: tinyint/smallint/int
    #: hash identically; bigint and double are each their own class) —
    #: the unit of validity for stored ``__bucket`` values under type
    #: widening (r11).
    _HASH_CLASS = {
        "tinyint": "int32", "smallint": "int32", "int": "int32",
        "bigint": "int64", "timestamp": "int64",
        "float": "float32", "double": "float64",
        "boolean": "bool", "text": "utf8",
    }

    def _lead_hash_class(self) -> str:
        return self._HASH_CLASS[self.schema.key_columns[0].type]

    def _effective_buckets(self, meta: dict) -> int | None:
        """The hash-bucket count reads may PRUNE with: the layout's
        ``hash_buckets`` when the ``bucket_hash_class`` that ``compact``
        recorded with it is the current leading PK type's, else None.
        The one guard against stale ``__bucket`` values: a lead column
        widened across xxhash64 width classes (``Catalog.modify_column``)
        reads unpruned until the next ``compact(hash_buckets=N)``
        re-buckets it. A layout with no recorded class is not trusted."""
        nb = meta.get("hash_buckets")
        if nb and meta.get("bucket_hash_class") == self._lead_hash_class():
            return nb
        return None

    # ------------------------------------------------------------------
    @property
    def schema(self) -> TableSchema:
        return self.catalog.get_schema(self.db, self.name)

    def _meta(self) -> dict:
        p = os.path.join(self.path, "_meta.json")
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"seq": 0, "compacted": True}

    def _write_meta(self, meta: dict) -> None:
        p = os.path.join(self.path, "_meta.json")
        tmp = p + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, p)

    @contextlib.contextmanager
    def _file_lock(self):
        """OS-level exclusive lock serializing commit-seq allocation and
        compaction across Engine/Connection instances AND processes
        sharing one warehouse (the reference gets this from FDB
        transactions; plain files need fcntl)."""
        if fcntl is None:
            yield
            return
        fd = os.open(os.path.join(self.path, ".lock"), os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _recover_if_needed(self) -> None:
        """Crash-recovery sweep for interrupted compactions (r5).

        ``_compact_locked`` publishes through a short non-atomic window:
        write ``compact-intent.json`` → rename(base → base.old) →
        rename(tmp → base) → rename(base.old → compact-trash-*) →
        rmtree(trash) → GC consumed log → write meta → remove intent.
        A process killed anywhere in that window leaves one of five
        distinguishable states, and the intent file (recorded BEFORE
        the first rename) makes the decision deterministic without
        reading any parquet. The trash rename matters: ``rmtree`` is
        not atomic, so the old base is moved aside ATOMICALLY before
        deletion — a visible ``base.old`` is therefore always a fully
        intact pre-compaction base, never a half-deleted one.

        - stash (``base.old``) + tmp dir, no installed base → killed
          mid-swap; the log is still intact (stash disposal precedes
          log GC), so ROLL BACK: restore the stash.
        - stash + installed base, tmp gone → killed between
          rename(tmp → base) and the trash rename; the new base is
          fully installed and the stash is intact, so ROLL FORWARD
          (cheaper than redoing the compaction): trash the stash,
          finish log GC + meta.
        - intent + tmp dir, no stash → killed before the first rename;
          roll back by GC'ing the tmp dir.
        - intent, no tmp, no stash → killed during/after trash
          disposal or log GC; the new base is fully installed and the
          old one is gone, so ROLL FORWARD: finish deleting the
          consumed log entries and commit the meta recorded in the
          intent.
        - orphaned ``compact-*`` dirs/files with no intent → killed
          during the parquet write (or mid-trash-rmtree, or between
          intent-tmp write and its replace); plain GC — dirs via
          rmtree, leaked ``compact-intent.json.*.tmp`` files via
          unlink (rmtree on a file is a no-op and would otherwise
          force this locked sweep on every open).

        Fast path is three ``os.path`` checks with no lock; the lock is
        taken only when something suspicious is present, and re-checked
        under it — a LIVE compactor holds the store file lock across
        the entire write+swap, so anything still visible once we hold
        the lock is a crash artifact, never an in-flight compaction.
        """
        intent_p = os.path.join(self.path, "compact-intent.json")
        stash = self.base_path + ".old"

        def _stale_tmps() -> list[str]:
            try:
                return [
                    os.path.join(self.path, e)
                    for e in os.listdir(self.path)
                    if e.startswith("compact-") and e != "compact-intent.json"
                ]
            except FileNotFoundError:
                return []

        if not (
            os.path.exists(intent_p) or os.path.exists(stash) or _stale_tmps()
        ):
            return
        if not os.path.isdir(self.path):
            return
        import shutil

        with self._lock, self._file_lock():
            intent = None
            if os.path.exists(intent_p):
                with open(intent_p) as f:
                    intent = json.load(f)

            if os.path.isdir(stash):
                tmp_installed = intent is not None and not os.path.isdir(
                    os.path.join(self.path, intent["tmp"])
                )
                if tmp_installed and os.path.isdir(self.base_path):
                    # killed between rename(tmp -> base) and the trash
                    # rename: new base fully installed, stash intact ->
                    # roll FORWARD; the stash goes to trash (atomic) and
                    # is GC'd with the other stale dirs below
                    os.rename(
                        stash,
                        os.path.join(
                            self.path, f"compact-trash-{uuid.uuid4().hex}"
                        ),
                    )
                    self._finish_compaction(intent)
                else:
                    # mid-swap: log untouched -> roll back to
                    # pre-compaction (base.old is always intact — rmtree
                    # only ever runs on compact-trash-*)
                    if os.path.isdir(self.base_path):
                        shutil.rmtree(self.base_path)
                    os.rename(stash, self.base_path)
                    if os.path.exists(intent_p):
                        os.remove(intent_p)
            elif intent is not None:
                tmp = os.path.join(self.path, intent["tmp"])
                if os.path.isdir(tmp):
                    # killed before the swap began: plain rollback
                    os.remove(intent_p)
                else:
                    self._finish_compaction(intent)
            for tmp in _stale_tmps():
                if os.path.isdir(tmp):
                    shutil.rmtree(tmp, ignore_errors=True)
                else:
                    try:
                        os.remove(tmp)
                    except OSError:
                        pass

    def _next_seq(self) -> int:
        with self._lock, self._file_lock():
            meta = self._meta()
            meta["seq"] += 1
            meta["compacted"] = False
            self._write_meta(meta)
            return meta["seq"]

    # ------------------------------------------------------------------
    # applied-marker idempotency (r10): exactly-once streaming sinks
    #: FIFO cap on the meta marker cache — far above any realistic
    #: replay horizon (a checkpoint only ever re-delivers the last
    #: uncommitted batches); older markers age out of the cache but a
    #: batch that old cannot be re-delivered by the same checkpoint.
    #: NOTE: callers pinning a stream_id across checkpoint
    #: re-creations (streaming/ingest module docstring) get the skip
    #: guarantee only within this horizon once compaction has GC'd the
    #: sidecar-bearing commit dirs — raise the cap for that deployment
    #: shape if its source re-lists from batch 0
    _MARKER_CACHE_CAP = 4096

    def _log_markers(self, strict: bool = False) -> set:
        """Markers present in live log commit dirs — the source of
        truth for the crash window between a commit's publish and its
        meta-cache update (the sidecar is atomic with the data).

        Published commit dirs are IMMUTABLE (seq reuse fails loudly at
        publish), so each dir's sidecar answer is memoized in-process:
        a streaming sink's per-batch miss-path probe costs only the
        commits that appeared since the last call, not O(all commits)
        — amortized O(1) per commit over a stream run (r10 review
        fix). Stale entries for GC'd dirs are harmless: compaction
        folds their markers into meta before removing them; keys whose
        dir is gone from the current listing are evicted on the way
        out, so a long-lived auto-compacting server's memo stays
        bounded by the LIVE commit count (r10 advice).

        ``strict=True`` (compaction's marker fold) propagates transient
        read errors (EMFILE/EIO) instead of treating them as "no
        marker": the lenient answer is fine for a lock-free
        ``has_applied_marker`` probe (retried on the next call), but
        compaction GC's the sidecar-bearing commits right after the
        fold — a silently-omitted marker there would be erased FOREVER
        and a later replay of that batch would re-apply. Strict readers
        abort (the caller retries the whole compaction, which has not
        mutated anything yet) rather than lose the marker."""
        out = set()
        try:
            entries = os.listdir(self.log_path)
        except FileNotFoundError:
            return out
        cache = self._marker_dir_cache
        for e in entries:
            if e in cache:
                if cache[e] is not None:
                    out.add(cache[e])
                continue
            marker = None
            definitive = True  # only cache CERTAIN answers: a transient
            # I/O error (EMFILE, EIO) memoized as "no marker" would make
            # has_applied_marker lie for the process lifetime and let a
            # replayed batch re-apply (r10 high-review fix)
            full = os.path.join(self.log_path, e)
            if e.endswith(".parquet"):
                # file commit (append_columns): marker lives in the
                # parquet footer metadata — one footer read, memoized
                try:
                    md = pq.read_schema(full).metadata or {}
                    raw = md.get(b"otspark_applied_marker")
                    marker = raw.decode() if raw is not None else None
                except FileNotFoundError:
                    marker = None  # entry raced a GC: definitively gone
                except OSError:
                    if strict:
                        raise
                    definitive = False
            else:
                try:
                    with open(
                        os.path.join(full, "_applied_marker.json")
                    ) as f:
                        marker = json.load(f)["marker"]
                except (FileNotFoundError, NotADirectoryError):
                    marker = None
                except OSError:
                    if strict:
                        raise
                    definitive = False
            if definitive:
                cache[e] = marker
            if marker is not None:
                out.add(marker)
        # evict memo entries for commit dirs compaction GC'd (the
        # listing is already in hand); .pop(default) keeps this safe
        # against a concurrent lock-free caller inserting fresh keys
        for gone in set(cache) - set(entries):
            cache.pop(gone, None)
        return out

    def _cache_applied_marker_locked(self, marker: str) -> None:
        """Record ``marker`` in the meta cache. Caller MUST hold
        ``self._lock`` + ``self._file_lock()`` (flock is not re-entrant
        across fds — nesting ``_cache_applied_marker`` inside a locked
        publish would deadlock)."""
        meta = self._meta()
        cache = meta.get("applied_markers", [])
        if marker not in cache:
            cache.append(marker)
            meta["applied_markers"] = cache[-self._MARKER_CACHE_CAP:]
            self._write_meta(meta)

    def _cache_applied_marker(self, marker: str) -> None:
        with self._lock, self._file_lock():
            self._cache_applied_marker_locked(marker)

    def has_applied_marker(self, marker: str) -> bool:
        """True iff a commit bearing ``applied_marker=marker`` has been
        published (correct even if the publisher died between its
        commit and its meta-cache write — the sidecar/footer is atomic
        with the data).

        Read order is meta → log → META AGAIN (r10 high-review fix):
        compaction writes the folded markers to meta BEFORE GC'ing the
        sidecar-bearing commits, so a reader that missed the first meta
        read AND found the commit already GC'd is guaranteed to see the
        fold on the second meta read — no interleaving leaves an
        applied marker invisible. Lock-free."""
        if marker in self._meta().get("applied_markers", []):
            return True
        if marker in self._log_markers():
            return True
        return marker in self._meta().get("applied_markers", [])

    @staticmethod
    def _publish(tmp: str, final: str) -> None:
        """Publish a fully-written commit file under its sequence name.
        ``os.link`` (unlike ``os.replace``) fails with FileExistsError if
        the seq was double-allocated — a collision surfaces loudly instead
        of silently losing a committed file."""
        os.link(tmp, final)
        os.remove(tmp)

    def arrow_schema(self, with_meta: bool = True) -> pa.Schema:
        fields = [
            pa.field(c.physical, _ARROW_TYPE[c.type]) for c in self.schema.columns
        ]
        if with_meta:
            fields += [
                pa.field(SEQ_COL, pa.int64()),
                pa.field(SUB_COL, pa.int64()),
                pa.field(DEL_COL, pa.bool_()),
            ]
        return pa.schema(fields)

    def spark_schema(self, with_meta: bool = True) -> T.StructType:
        fields = [
            T.StructField(c.physical, spark_type(c.type), not c.is_key)
            for c in self.schema.columns
        ]
        if with_meta:
            fields += [
                T.StructField(SEQ_COL, T.LongType(), False),
                T.StructField(SUB_COL, T.LongType(), False),
                T.StructField(DEL_COL, T.BooleanType(), False),
            ]
        return T.StructType(fields)

    # ------------------------------------------------------------------
    # write path (Arrow — storage-level, not query compute)
    def append_columns(
        self,
        cols: dict[str, list],
        delete: bool = False,
        applied_marker: str | None = None,
    ) -> int:
        """Atomically append one commit of ``cols``: one list per
        LOGICAL column name, holding engine-native, ALREADY-VALIDATED
        values (timestamps already epoch-nanos) — what the engine's
        insert bind produces. Missing value columns are stored as NULL
        (sparse rows, query.go:150-152). Within a commit, later rows win
        on PK collision (sequential tr.Set order) — guaranteed by a
        per-row sub-sequence.

        ``applied_marker`` (r10): idempotency token recorded in the
        commit file's parquet FOOTER metadata — atomic with the data
        like ``append_dataframe``'s sidecar (file commits have no
        directory to put a sidecar in; readers ignore custom key-value
        metadata). Lets a wire client or dialect batch retry be
        deduplicated with ``has_applied_marker`` exactly like a
        streaming micro-batch.
        """
        if not cols:
            return 0
        n = len(next(iter(cols.values())))
        if n == 0:
            return 0
        if any(len(v) != n for v in cols.values()):
            raise ValueError("append_columns: ragged column lists")
        schema = self.schema
        seq = self._next_seq()
        # per-row sub-sequence so intra-batch PK collisions resolve
        # last-wins (tr.Set is sequential, query.go:294-307); __sub is a
        # full 64-bit column, so no batch size can overflow into the next
        # commit's key space
        arrays = []
        arrow = self.arrow_schema()
        for c in schema.columns:
            vals = cols.get(c.name, [None] * n)
            arrays.append(pa.array(vals, type=_ARROW_TYPE[c.type]))
        arrays.append(pa.array([seq] * n, type=pa.int64()))
        arrays.append(pa.array(list(range(n)), type=pa.int64()))
        arrays.append(pa.array([delete] * n, type=pa.bool_()))
        tbl = pa.Table.from_arrays(arrays, schema=arrow)
        if applied_marker is not None:
            meta = dict(tbl.schema.metadata or {})
            meta[b"otspark_applied_marker"] = applied_marker.encode()
            tbl = tbl.replace_schema_metadata(meta)
        fname = os.path.join(self.log_path, f"commit-{seq:012d}.parquet")
        # stage OUTSIDE log/ (like append_dataframe): a tmp inside log/
        # can be LISTED by a concurrent reader and renamed away before
        # the read opens it → FILE_NOT_EXIST (caught by the concurrent-
        # client stress test)
        tmp = os.path.join(
            self.data_path, f"commit-{seq:012d}.parquet.{uuid.uuid4().hex}.tmp"
        )
        # Spark's parquet reader prunes row groups by min/max, which
        # pyarrow computes without NaN (Spark's own writer records
        # max=NaN): a float column holding NaN is written without
        # statistics, or `k = NaN` and `k > inf` would prune its NaN
        # rows away
        stats = [
            f.name
            for f, a in zip(arrow, arrays)
            if not (pa.types.is_floating(a.type) and pc.any(pc.is_nan(a)).as_py())
        ]
        pq.write_table(tbl, tmp, write_statistics=stats)
        if applied_marker is None:
            self._publish(tmp, fname)  # atomic + loud on seq collision
            return n
        # marked commit: the duplicate check and the publish must be ONE
        # critical section (r10 high-review fix) — two concurrent
        # deliveries of the same marker both passing a lock-free
        # check-then-act would both commit. The parquet write stays
        # OUTSIDE the lock (only the rename + meta write are held); the
        # loser abandons its staged file, and its allocated seq becomes
        # a harmless gap (readers list dirs, nothing requires density).
        with self._lock, self._file_lock():
            if self.has_applied_marker(applied_marker):
                os.remove(tmp)
                return 0
            self._publish(tmp, fname)
            self._cache_applied_marker_locked(applied_marker)
        return n

    def append_dataframe(
        self,
        df: DataFrame,
        delete: bool = False,
        delete_col: str | None = None,
        applied_marker: str | None = None,
    ) -> None:
        """Append a (possibly large) DataFrame as one commit — the Spark
        write path for bulk loads / streaming foreachBatch. ``delete``
        writes every row as a tombstone; ``delete_col`` (r8) names a
        boolean column marking tombstones PER ROW, letting upserts and
        deletes land in ONE atomic commit (the MERGE INTO primitive —
        ``merge_into`` builds on this).

        ``applied_marker`` (r10): an idempotency token recorded
        ATOMICALLY with the commit — a ``_applied_marker.json`` sidecar
        is written into the staged commit directory before the publish
        rename, so the marker exists iff the data does (no
        mark-then-crash lost batch, no commit-then-crash double apply).
        A streaming sink checks ``has_applied_marker`` before applying
        a (possibly re-delivered) micro-batch; see
        ``streaming.ingest.stream_corpus_ingest``. Markers survive
        compaction (folded into table meta via the intent file) and are
        cached in meta after the publish for O(1) lookups."""
        schema = self.schema
        seq = self._next_seq()
        # logical → physical as one atomic select (see read()); strict:
        # a caller missing a schema column fails loudly here
        sel = [F.col(c.name).alias(c.physical) for c in schema.columns]
        if delete_col is not None:
            out = df.select(
                *sel,
                F.coalesce(F.col(delete_col), F.lit(False)).alias(DEL_COL),
            )
        else:
            out = df.select(*sel)
        # full monotonically_increasing_id (partition_id<<33 | row-in-
        # partition): unique within the commit, keeps partition bits, so
        # duplicate PKs in one bulk commit resolve by DataFrame row
        # position — the sequential-write-order analog of tr.Set
        out = out.withColumn(SEQ_COL, F.lit(seq).cast("long")).withColumn(
            SUB_COL, F.monotonically_increasing_id()
        )
        if delete_col is None:
            out = out.withColumn(DEL_COL, F.lit(delete))
        commit_dir = os.path.join(self.log_path, f"commit-{seq:012d}")
        # stage OUTSIDE log/ so concurrent readers never see a half-written
        # commit, then rename in (atomic; fails loudly if seq double-used)
        tmp_dir = os.path.join(
            self.data_path, f"commit-{seq:012d}.{uuid.uuid4().hex}.tmp"
        )
        out.write.mode("overwrite").parquet(tmp_dir)
        if applied_marker is None:
            os.rename(tmp_dir, commit_dir)
            return
        # leading "_" keeps Spark's parquet listing from reading it
        with open(os.path.join(tmp_dir, "_applied_marker.json"), "w") as f:
            json.dump({"marker": applied_marker}, f)
        # duplicate check + publish as ONE critical section (see
        # append_columns): the Spark write stays outside the lock; a loser
        # abandons its staged dir and its seq becomes a harmless gap
        with self._lock, self._file_lock():
            if self.has_applied_marker(applied_marker):
                import shutil

                shutil.rmtree(tmp_dir, ignore_errors=True)
                return
            os.rename(tmp_dir, commit_dir)
            self._cache_applied_marker_locked(applied_marker)

    # ------------------------------------------------------------------
    # read path (Spark)
    def _raw(self, spark: SparkSession, nb: int | None, has_log: bool) -> DataFrame:
        """Union of base (compacted) + log (commits), with a consistent
        ``__bucket`` column when the base is hash-bucketed (log rows
        compute it on the fly so pruning filters stay valid).

        ``has_log`` says whether the caller's log listing found commits;
        it is the authoritative input for the skip-latest-wins decision.
        Deciding that from ``meta.compacted`` is a cross-process RACE: a
        reader can list a log commit while a concurrent compaction
        publishes ``compacted=True``, and a meta-based skip would then
        return base+log rows WITHOUT resolution — duplicate PKs in a
        successful read. The listing is what the scan will actually
        read, so it can't disagree with the plan.

        LISTING ORDER IS LOAD-BEARING (r6, caught by the cross-process
        reader-race test): the caller lists the log BEFORE this lists
        the base. A concurrent compaction swaps the base in BEFORE it
        GCs the log, so log-listed-empty implies the new base is already
        installed — every interleaving then yields a consistent snapshot
        (possibly with same-seq duplicate rows across base+log, which
        latest-wins resolves to identical values) or a transient
        file-not-found the caller may retry. Base-first listing has a
        silent zero-row window: list the pre-first-compaction EMPTY
        base, then the log after its GC — both empty, read "succeeds"
        with no rows."""
        log = None
        if has_log:
            log = (
                spark.read.schema(self.spark_schema())
                .option("recursiveFileLookup", "true")
                .parquet(self.log_path)
            )
            if nb:
                log = log.withColumn(BUCKET_COL, self._bucket_expr(nb))
        parts = []
        if os.listdir(self.base_path):
            # explicit schema: a compacted-empty base (only _SUCCESS, no
            # part files) must read as zero rows, not fail inference
            base_schema = self.spark_schema()
            if nb:
                base_schema = base_schema.add(BUCKET_COL, T.IntegerType(), True)
            base = spark.read.schema(base_schema).parquet(self.base_path)
            if nb:
                base = base.withColumn(BUCKET_COL, F.col(BUCKET_COL).cast("int"))
            else:
                # a base laid out under hash_buckets that reads may not
                # prune with (leading-PK widen, r11) still has
                # __bucket partition DIRECTORIES — Spark surfaces a
                # discovered partition column even under an explicit
                # schema, and the union with bucket-less log commits
                # would fail. Drop it; .drop is a no-op when absent.
                base = base.drop(BUCKET_COL)
            parts.append(base)
        if log is not None:
            parts.append(log)
        if not parts:
            return spark.createDataFrame([], self.spark_schema())
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    #: Spark's xxhash64 (seed 42) primes, for computing a leading-PK
    #: bucket in Python without a JVM call (see ``_bucket_of``)
    _XXH_P1 = 0x9E3779B185EBCA87
    _XXH_P2 = 0xC2B2AE3D27D4EB4F
    _XXH_P3 = 0x165667B19E3779F9
    _XXH_P4 = 0x85EBCA77C2B2AE63
    _XXH_P5 = 0x27D4EB2F165667C5
    _M64 = (1 << 64) - 1
    _INT_BITS = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64, "timestamp": 64}

    def _bucket_of(self, value: Any, nb: int) -> int | None:
        """``pmod(xxhash64(value), nb)`` exactly as ``_bucket_expr``
        computes it in Spark (XXH64.hashInt / hashLong, seed 42), for an
        int value of an integer or timestamp leading PK that fits the
        column type. None for any other value or type: the caller then
        prunes with the Spark expression and does not cache the plan."""
        lead_type = self.schema.key_columns[0].type
        bits = self._INT_BITS.get(lead_type)
        if bits is None or type(value) is not int:
            return None
        if not -(1 << (bits - 1)) <= value < (1 << (bits - 1)):
            return None
        m, p1, p2 = self._M64, self._XXH_P1, self._XXH_P2

        def rotl(x: int, r: int) -> int:
            return ((x << r) | (x >> (64 - r))) & m

        if bits <= 32:  # tinyint/smallint/int all hash as a 4-byte int
            h = (42 + self._XXH_P5 + 4) & m
            h ^= ((value & 0xFFFFFFFF) * p1) & m
            h = (rotl(h, 23) * p2 + self._XXH_P3) & m
        else:
            h = (42 + self._XXH_P5 + 8) & m
            h ^= (rotl((value & m) * p2 & m, 31) * p1) & m
            h = (rotl(h, 27) * p1 + self._XXH_P4) & m
        h ^= h >> 33
        h = (h * p2) & m
        h ^= h >> 29
        h = (h * self._XXH_P3) & m
        h ^= h >> 32
        return (h - (1 << 64) if h >> 63 else h) % nb

    def read(
        self,
        spark: SparkSession,
        leading_eq: Any = None,
        as_of_seq: int | None = None,
    ) -> DataFrame:
        """Current table state: latest row per PK, tombstones dropped,
        logical column names, no meta columns. Not yet PK-sorted — the
        query layer appends the implicit PK ordering (query.go:156-201).

        ``leading_eq``: equality-bound value of the LEADING PK column,
        when the query has one. On a hash-bucketed base this compiles to
        a partition-pruning predicate on ``__bucket`` (whole bucket
        directories skipped), mirroring the reference's point/prefix key
        locality.

        ``as_of_seq``: time-travel — resolve the state as of that commit
        sequence (inclusive; see ``current_seq``). The append-log IS the
        history, so a snapshot is just ``__seq <= S`` before latest-wins
        resolution: zero storage overhead, pure partition/file pruning.
        Compaction collapses history — snapshots older than the last
        compact raise rather than silently return post-compaction
        state.

        Plan reuse (the analog of the reference's prepared statements,
        server.go:384-398): a current-state read returns the SAME
        DataFrame while the table snapshot is unchanged, so a repeated
        query skips re-listing the directories and re-analysing the
        union, resolution and rename. The cache-key contract — the
        snapshot key is everything the plan is built from:

        - the schema (the catalog replaces its schema object on every
          DDL change; compared by value, so equal schemas share);
        - the ``_meta.json`` layout fields: ``seq`` (bumped by every
          commit allocation and every compaction), the effective
          ``hash_buckets`` and ``last_compact_seq``;
        - the base directory's identity (inode, ctime): compaction
          renames a new directory in;
        - the sorted log listing: every commit publishes a new name.

        A commit or compaction by any process therefore changes the key
        of the next read. Entries are held per Spark session and
        leading-PK bucket (plus one unpruned entry), beside the
        relations ``cached`` derives from the read, and a key change
        drops them all, so the cache holds only the current snapshot's
        plans. ``as_of_seq`` reads are never cached, nor are pruned
        reads whose leading PK is not an integer or timestamp (their
        bucket is not computed in Python, see ``_bucket_of``)."""
        schema = self.schema
        meta = self._meta()
        nb = self._effective_buckets(meta)
        # the log is listed BEFORE the base is touched (see _raw)
        log_names = tuple(sorted(os.listdir(self.log_path)))
        base = os.stat(self.base_path)
        key = (
            schema,
            meta.get("seq", 0),
            nb,
            meta.get("last_compact_seq", 0),
            (base.st_ino, base.st_ctime_ns),
            log_names,
        )
        bucket = None
        if nb and leading_eq is not None:
            bucket = self._bucket_of(leading_eq, nb)
            if bucket is None:
                key = None
        if as_of_seq is not None:
            key = None
        df = None
        if key is not None:
            with self._plan_lock:
                if self._plan_key != key:
                    self._plan_key, self._plans = key, {}
                df = self._plans.get((spark, bucket))
        if df is None:
            df = self._resolve(
                spark, schema, meta, nb, bool(log_names), leading_eq, bucket, as_of_seq
            )
            if key is not None:
                with self._plan_lock:
                    if self._plan_key == key:
                        df = self._plans.setdefault((spark, bucket), df)
        return df

    def cached(self, spark: SparkSession, slot: str, build):
        """``build(df)`` of the current-state read ``df``, held beside
        the read plans of the current snapshot (see ``read``) until the
        table changes: the cache of relations derived from a table, such
        as the adj factor table. Entries are keyed by ``(spark, slot)``,
        because a DataFrame belongs to its session, and remember the
        read they were built from: one is served only with that read,
        and stored only while that read is the current snapshot's."""
        df = self.read(spark)
        with self._plan_lock:
            hit = self._plans.get((spark, slot))
        if hit is not None and hit[0] is df:
            return hit[1]
        out = build(df)
        with self._plan_lock:
            if self._plans.get((spark, None)) is df:
                self._plans[(spark, slot)] = (df, out)
        return out

    def _resolve(
        self,
        spark: SparkSession,
        schema: TableSchema,
        meta: dict,
        nb: int | None,
        has_log: bool,
        leading_eq: Any,
        bucket: int | None,
        as_of_seq: int | None,
    ) -> DataFrame:
        """Build the read plan ``read`` documents."""
        df = self._raw(spark, nb, has_log)
        if nb and leading_eq is not None:
            if bucket is None:
                lead_type = spark_type(schema.key_columns[0].type)
                bucket = F.pmod(
                    F.xxhash64(F.lit(leading_eq).cast(lead_type)), F.lit(nb)
                ).cast("int")
            df = df.filter(F.col(BUCKET_COL) == bucket)
        if nb:
            df = df.drop(BUCKET_COL)
        pk_phys = [c.physical for c in schema.key_columns]
        if as_of_seq is not None:
            self._require_history(meta, "snapshot as_of_seq", as_of_seq)
            df = df.filter(F.col(SEQ_COL) <= as_of_seq)
        # a compacted base alone needs no latest-wins agg; any snapshot
        # read re-resolves because post-compact commits may be excluded.
        # The skip keys off what was LISTED (has_log), never off
        # meta.compacted — the meta read races concurrent compactions
        # in other processes and could skip resolution on a plan that
        # unioned base + log (see _raw docstring, r6)
        if has_log or as_of_seq is not None:
            val_phys = [c.physical for c in schema.columns if not c.is_key]
            df = (
                _latest_wins(df, pk_phys, val_phys)
                .filter(~F.col(f"__latest.{DEL_COL}"))
                .select(
                    *pk_phys,
                    *[F.col(f"__latest.{p}").alias(p) for p in val_phys],
                )
            )
        df = df.drop(SEQ_COL, SUB_COL, DEL_COL)
        # physical → logical as ONE atomic select (r8: sequential
        # withColumnRenamed collides when a rename chain + add_column
        # makes some column's logical name equal ANOTHER column's
        # physical name), in declaration order
        return df.select(
            *[
                F.col(c.physical).alias(c.name)
                for c in sorted(schema.columns, key=lambda x: x.pos_col)
            ]
        )

    # ------------------------------------------------------------------
    def delete_where(self, spark: SparkSession, predicate) -> None:
        """Append tombstones for current rows matching ``predicate``
        (a pyspark Column over logical names) — fully distributed: the
        matched rows stream straight into a tombstone commit, never
        through the driver."""
        doomed = self.read(spark).filter(predicate)
        # write unconditionally: an empty tombstone commit is harmless,
        # while an isEmpty() probe would execute the full read plan twice
        self.append_dataframe(doomed, delete=True)

    def _merge_scan(
        self, spark: SparkSession, source: DataFrame, lead: str
    ) -> DataFrame:
        """The matched-ness scan ``merge_into`` joins against: current
        table state FILTERED to the source's leading-PK [min, max]
        range (r10). The predicate is whole-PK-group-safe (every log
        row of a PK shares its lead value, so latest-wins resolution is
        unaffected) and Catalyst pushes it below the latest-wins
        aggregate into every parquet scan (PushedFilters — asserted in
        tests), so a delta-sized source reads delta-range target state:
        row-group/file skipping on a compacted PK-sorted base instead
        of a full-table pass. An empty source collapses the scan to an
        empty relation. Cost: one tiny min/max aggregate over the
        (delta-sized) source."""
        b = source.agg(
            F.min(F.col(lead)).alias("__lo"), F.max(F.col(lead)).alias("__hi")
        ).collect()[0]
        if b["__lo"] is None:  # empty source: nothing can match
            return self.read(spark).filter(F.lit(False))
        if b["__lo"] == b["__hi"]:
            # single-lead-key source (the per-entity delta shape): the
            # equality additionally prunes whole __bucket DIRECTORIES on
            # a hash-bucketed base, where a range never can (hash order)
            return self.read(spark, leading_eq=b["__lo"]).filter(
                F.col(lead) == F.lit(b["__lo"])
            )
        return self.read(spark).filter(
            (F.col(lead) >= F.lit(b["__lo"]))
            & (F.col(lead) <= F.lit(b["__hi"]))
        )

    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        when_matched: str | None = "update",
        when_not_matched: str | None = "insert",
    ) -> None:
        """Lakehouse MERGE INTO, source-driven, as ONE atomic commit
        (r8). A source row whose full PK exists in the current table
        state is MATCHED; per clause:

        - ``when_matched="update"`` — the source row upserts
          (latest-wins append); ``"delete"`` — a tombstone for that PK;
          ``None`` — matched rows are ignored.
        - ``when_not_matched="insert"`` — the source row inserts;
          ``None`` — unmatched rows are ignored.

        Target rows the source doesn't touch are untouched by
        construction (log append — nothing is rewritten). The whole
        merge is ONE commit (one seq: updates, deletes, and inserts
        become visible together and ``log_diff``/``changes`` see one
        delta), via ``append_dataframe(delete_col=...)``'s per-row
        tombstone flag.

        Matched-ness is PRUNED by the source's key range (r10): one
        tiny aggregate computes the source's leading-PK min/max, and
        the target scan filters to that range before the PK join — a
        whole-PK-group-safe predicate (every log row of a PK shares its
        lead value) that Catalyst pushes below the latest-wins
        aggregate into the parquet scans, so a delta-sized merge reads
        delta-range target state (row-group/file skipping on a
        compacted PK-sorted base) instead of the full table. The
        reference never scans the table to upsert (query.go:294-343
        compiles the key to an FDB range); this is the Spark analog.
        An empty source short-circuits the scan entirely (the range is
        vacuous). Cost: one extra pass over the delta-sized source for
        the bounds aggregate.

        A source may OMIT value columns (r9): PK columns are always
        required, and omitted value columns follow SQL/Delta MERGE
        semantics (r10) — on a matched UPDATE the target's existing
        value is PRESERVED (only columns the source carries are set);
        on a not-matched INSERT they are NULL. (Before r10 omitted
        columns wrote NULL on update too — a typo'd sparse source could
        silently erase data.) MERGE therefore composes with ``ALTER
        TABLE ADD COLUMN``: a pre-evolution source leaves the new
        column's existing values alone on updates and NULL-backfills
        inserts."""
        if when_matched not in ("update", "delete", None):
            raise ValueError("when_matched must be 'update', 'delete' or None")
        if when_not_matched not in ("insert", None):
            raise ValueError("when_not_matched must be 'insert' or None")
        schema = self.schema
        pk = [c.name for c in schema.key_columns]
        val_cols = [c.name for c in schema.columns if c.name not in pk]
        missing = [c for c in pk if c not in source.columns]
        if missing:
            raise ValueError(f"merge_into source is missing columns: {missing}")
        if when_matched is None and when_not_matched is None:
            return  # no-op clause combo: don't even run the bounds job
        # pin the (delta-sized) source: the bounds aggregate and the
        # join must see the SAME rows — a non-deterministic source
        # (sample/rand/unordered limit) re-evaluated per job could
        # otherwise produce join rows outside the collected lead range
        # and misroute matched rows to the insert branch (r10 review
        # fix). Net cost is zero: the pin replaces what would be a
        # second full source evaluation.
        source = source.localCheckpoint(eager=True)
        # matched-ness scan, pruned to the source's leading-PK range
        scan = self._merge_scan(spark, source, pk[0])
        # sparse update preserves target values: carry the omitted
        # columns through the matched-ness join (only when needed — the
        # scan stays PK-only for full-width / delete-only merges)
        carry = (
            [c for c in val_cols if c not in source.columns]
            if when_matched == "update"
            else []
        )
        tgt = scan.select(
            *pk, *[F.col(c).alias(f"__tgt_{c}") for c in carry]
        ).withColumn("__matched", F.lit(True))
        j = source.join(tgt, pk, "left")
        matched = F.coalesce(F.col("__matched"), F.lit(False))

        # r16 (the fork-recompute class, guide §2.4): the previous
        # union-of-filtered-branches re-executed the pruned target scan
        # — including its latest-wins aggregate — and the PK join ONCE
        # PER CLAUSE (an update+insert merge carried the whole join
        # subtree twice in the executed plan; nothing pinned it). The
        # clauses differ only in the VALUES a row emits, so one
        # projection with per-row conditionals replaces the union: a
        # single scan+join pass for every clause combination, each
        # source row emitted exactly once (matched XOR not-matched).
        upd = when_matched == "update"
        ins = when_not_matched == "insert"
        if when_matched is not None and ins:
            filt = None  # every join row emits a merge row
        elif when_matched is not None:
            filt = matched
        else:
            filt = ~matched

        def _val(c):
            null = F.lit(None).cast(spark_type(c.type))
            src = F.col(c.name) if c.name in source.columns else null
            if upd:
                # update keeps source values and preserves carried
                # target values; for a NOT-matched row __tgt_<c> is
                # already NULL (left-join miss), so the carried column
                # doubles as the insert branch's NULL — no CASE needed
                m = (
                    F.col(c.name)
                    if c.name in source.columns
                    else F.col(f"__tgt_{c.name}")
                )
            else:
                m = null  # delete tombstone (or matched-ignored rows,
                # which filt already dropped)
            if not ins:
                return m.alias(c.name)
            if when_matched is None:
                return src.alias(c.name)
            if upd and c.name in source.columns:
                return F.col(c.name)  # same value on both branches
            if upd:
                return m.alias(c.name)  # carried-or-NULL, see above
            return F.when(matched, m).otherwise(src).alias(c.name)

        vals = [_val(c) for c in schema.columns if c.name not in pk]
        do_del = (
            matched if when_matched == "delete" else F.lit(False)
        ).alias("__do_del")
        out = j if filt is None else j.filter(filt)
        self.append_dataframe(
            out.select(*pk, *vals, do_del), delete_col="__do_del"
        )

    @staticmethod
    def _zorder_value(df: DataFrame, cols: list[str], bits: int = 21):
        """Z-order (Morton) key over up to 3 numeric/timestamp columns:
        each column is min-max scaled to ``bits`` bits, then the bits are
        interleaved — rows close in EVERY dimension land close in the
        sort, so parquet row-group min/max stats prune on all of them,
        not just the leading sort column. Pure foldable JVM expressions
        (k × bits shift/or terms, whole-stage codegen); the per-column
        bounds come from one tiny aggregate."""
        if not 1 <= len(cols) <= 3:
            raise ValueError("zorder takes 1-3 columns")
        bounds = df.agg(
            *[F.min(F.col(c).cast("double")).alias(f"lo_{c}") for c in cols],
            *[F.max(F.col(c).cast("double")).alias(f"hi_{c}") for c in cols],
        ).collect()[0]
        scale = (1 << bits) - 1
        z = F.lit(0).cast("long")
        for ci, c in enumerate(cols):
            lo = float(bounds[f"lo_{c}"] if bounds[f"lo_{c}"] is not None else 0.0)
            hi = float(bounds[f"hi_{c}"] if bounds[f"hi_{c}"] is not None else 0.0)
            span = (hi - lo) or 1.0
            ranked = F.least(
                F.lit(scale),
                F.greatest(
                    F.lit(0),
                    ((F.col(c).cast("double") - F.lit(lo)) / F.lit(span)
                     * F.lit(scale)).cast("long"),
                ),
            )
            for b in range(bits):
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(ranked, b).bitwiseAND(F.lit(1)),
                        b * len(cols) + ci,
                    )
                )
        return z

    def compact(
        self,
        spark: SparkSession,
        target_partitions: int | None = None,
        hash_buckets: int | None = None,
        zorder: list[str] | None = None,
        codec: str | None = None,
    ) -> None:
        """Collapse the append-log into PK-sorted, PK-range-partitioned
        Parquet — restores the reference's physical-PK-order property and
        makes subsequent reads window-free.

        ``hash_buckets``: additionally directory-partition the layout by
        ``__bucket = xxhash64(leading_pk) % hash_buckets``. Point and
        PK-prefix queries then prune whole directories (the cluster-scale
        analog of the reference's "WHERE compiles to an FDB key range" —
        at 100 TB the bucket directory is the unit of locality, with
        row-group min/max stats pruning inside it).

        ``zorder``: cluster the layout on a Morton interleave of the
        given (≤3, logical-name) columns instead of PK range order —
        row-group stats then prune on EVERY z column, for tables queried
        on more dimensions than the leading PK (the Delta/Iceberg
        OPTIMIZE ZORDER analog). Reads stay correct either way: the
        query layer applies the implicit PK ordering, storage order is a
        pruning concern. Mutually exclusive with ``hash_buckets``.

        Isolation: writers (and in-process readers, which share the
        store lock) are fully serialized against the swap. A reader in
        a DIFFERENT process that planned its scan before the swap can
        fail transiently when consumed files are removed — the same
        contract as Delta/Iceberg VACUUM racing an expired snapshot;
        retry reads the new base. Scheduled maintenance windows (cron
        `maybe_compact`) keep that window rare in practice.

        Durability: the publish sequence is intent-logged, so a process
        killed at ANY point of the directory swap is repaired on the
        next ``TableStore`` open — rolled back to the pre-compaction
        state (log still intact) or rolled forward (new base fully
        installed), never left baseless or half-GC'd. See
        ``_recover_if_needed`` for the state machine and
        tests/test_compaction_recovery.py for the kill-point matrix."""
        if zorder and hash_buckets:
            raise ValueError("zorder and hash_buckets are mutually exclusive")
        # the whole compaction holds the store lock: _next_seq shares it,
        # so no commit can land between the snapshot read and the log
        # swap (a commit written after the snapshot would be deleted)
        with self._lock, self._file_lock():
            self._compact_locked(
                spark, target_partitions, hash_buckets, zorder, codec
            )

    def _compact_locked(
        self,
        spark: SparkSession,
        target_partitions: int | None,
        hash_buckets: int | None,
        zorder: list[str] | None = None,
        codec: str | None = None,
    ) -> None:
        schema = self.schema
        consumed_log = sorted(os.listdir(self.log_path))
        # markers in the consumed commits must outlive the log GC: carry
        # them through the intent into meta (r10 applied-marker
        # contract). STRICT read — a transient sidecar-read error here
        # must abort the (retryable, nothing-mutated-yet) compaction
        # rather than silently omit a marker from the fold and then GC
        # the only copy (r11 advice fix). Wrapped in a DEDICATED type so
        # opportunistic callers (engine auto-compact) can swallow
        # exactly this pre-mutation abort — an OSError from any LATER
        # phase (after the base swap started) must still propagate.
        try:
            consumed_markers = sorted(self._log_markers(strict=True))
        except OSError as e:
            raise CompactionFoldError(
                f"marker fold aborted (transient read error): {e}"
            ) from e
        df = self.read(spark)
        n = target_partitions or max(1, df.rdd.getNumPartitions() // 4)
        # logical → physical atomically (see read(): sequential renames
        # collide under rename-chain + add_column schemas)
        df = df.select(
            *[F.col(c.name).alias(c.physical) for c in schema.columns]
        )
        pk_phys = [c.physical for c in schema.key_columns]
        seq = self._meta()["seq"] + 1
        if hash_buckets:
            df = df.withColumn(BUCKET_COL, self._bucket_expr(hash_buckets))
            out = (
                df.repartition(max(1, n), F.col(BUCKET_COL))
                .sortWithinPartitions(BUCKET_COL, *pk_phys)
            )
        elif zorder:
            name_to_phys = {c.name: c.physical for c in schema.columns}
            zcols = [name_to_phys[c] for c in zorder]
            zv = self._zorder_value(df, zcols)
            out = (
                df.withColumn("__z", zv)
                .repartitionByRange(n, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            out = df.repartitionByRange(
                n, *[F.col(k) for k in pk_phys]
            ).sortWithinPartitions(*pk_phys)
        out = (
            out.withColumn(SEQ_COL, F.lit(seq).cast("long"))
            .withColumn(SUB_COL, F.lit(0).cast("long"))
            .withColumn(DEL_COL, F.lit(False))
        )
        tmp_dir = os.path.join(self.path, f"compact-{uuid.uuid4().hex}")
        writer = out.write.mode("overwrite")
        if codec:
            # storage codec for the rewritten base (e.g. "zstd": ~1.3-2x
            # smaller than the snappy default at 100 TB, decode cost
            # amortized by the scan's columnar batches; log commits keep
            # the session default — they are short-lived by design)
            writer = writer.option("compression", codec)
        if hash_buckets:
            writer = writer.partitionBy(BUCKET_COL)
        writer.parquet(tmp_dir)
        import shutil

        # swap in the new base; remove exactly the log commits that were
        # in the snapshot (lock already held by compact()). The intent
        # file — written durably BEFORE the first rename — is what makes
        # a kill anywhere in this window recoverable: see
        # _recover_if_needed for the four crash states it disambiguates.
        intent = {
            "seq": seq,
            "tmp": os.path.basename(tmp_dir),
            "hash_buckets": hash_buckets,
            "bucket_hash_class": (
                self._lead_hash_class() if hash_buckets else None
            ),
            "consumed_log": consumed_log,
            "applied_markers": consumed_markers,
        }
        intent_p = os.path.join(self.path, "compact-intent.json")
        intent_tmp = intent_p + f".{uuid.uuid4().hex}.tmp"
        with open(intent_tmp, "w") as f:
            json.dump(intent, f)
        os.replace(intent_tmp, intent_p)
        stash = self.base_path + ".old"
        os.rename(self.base_path, stash)
        os.rename(tmp_dir, self.base_path)
        # rename-before-delete: rmtree is NOT atomic, so a kill mid-delete
        # must never leave a *partial* directory named base.old — recovery
        # would "restore" it over the complete new base and silently lose
        # every row whose old-base file was already removed. A visible
        # base.old therefore always means an intact pre-compaction base;
        # partial deletes only ever exist under compact-trash-*, which
        # recovery plain-GCs.
        trash = os.path.join(self.path, f"compact-trash-{uuid.uuid4().hex}")
        os.rename(stash, trash)
        shutil.rmtree(trash)
        self._finish_compaction(intent)

    def _finish_compaction(self, intent: dict) -> None:
        """The last steps of a compaction whose new base is installed,
        shared by the compactor and recovery's roll-forward: commit the
        post-swap meta the ``intent`` records, GC the consumed log
        entries, remove the intent. Caller holds both store locks.

        Meta (with the folded applied markers) is written BEFORE the log
        GC (r10): a lock-free ``has_applied_marker`` racing this window
        must find a marker in meta OR a live sidecar, and the consumed
        dirs may already be gone when recovery rolls forward. A
        redundant listing (meta says compacted, log dirs still present)
        is consistent either way: latest-wins resolves."""
        import shutil

        meta = self._meta()
        meta["seq"] = meta["last_compact_seq"] = intent["seq"]
        meta["compacted"] = True
        meta["hash_buckets"] = intent["hash_buckets"]
        if intent.get("bucket_hash_class"):
            meta["bucket_hash_class"] = intent["bucket_hash_class"]
        else:
            meta.pop("bucket_hash_class", None)
        folded = intent.get("applied_markers", [])
        if folded:
            cache = meta.get("applied_markers", [])
            cache.extend(m for m in folded if m not in cache)
            meta["applied_markers"] = cache[-self._MARKER_CACHE_CAP:]
        self._write_meta(meta)
        for entry in intent["consumed_log"]:
            p = os.path.join(self.log_path, entry)
            if os.path.isdir(p):
                shutil.rmtree(p)
            elif os.path.exists(p):
                os.remove(p)
        os.remove(os.path.join(self.path, "compact-intent.json"))

    @staticmethod
    def _require_history(meta: dict, what: str, seq: int) -> None:
        """Raise when ``seq`` predates the last compaction: the history
        before a compaction is folded into the base."""
        if seq < meta.get("last_compact_seq", 0):
            raise ValueError(
                f"{what}={seq} predates the last compaction "
                f"(seq {meta.get('last_compact_seq')}); history before a "
                "compact is collapsed"
            )

    def _log_commits(self, from_seq: int, to_seq: int | None = None) -> list[str]:
        """Paths of the log commits with ``from_seq < seq <= to_seq``
        (no upper bound when ``to_seq`` is None), in seq order: commits
        are named by sequence, so the range prunes at the listing."""
        paths = []
        for name in sorted(os.listdir(self.log_path)):
            if not name.startswith("commit-"):
                continue
            seq = int(name.split("-")[1].split(".")[0])
            if from_seq < seq and (to_seq is None or seq <= to_seq):
                paths.append(os.path.join(self.log_path, name))
        return paths

    def current_seq(self) -> int:
        """Latest commit sequence — the token to pass to
        ``read(as_of_seq=...)`` for a repeatable snapshot."""
        return self._meta()["seq"]

    def diff(
        self,
        spark: SparkSession,
        from_seq: int,
        to_seq: int | None = None,
        include_old: bool = False,
    ) -> DataFrame:
        """Row-level diff between two snapshots of this table:
        one row per PK whose state differs, with ``change`` ∈
        ``added | removed | changed`` and the value columns from the
        ``to_seq`` side (NULL for removed rows).

        ``include_old`` additionally emits every value column as
        ``old_<name>`` from the ``from_seq`` side (NULL for added rows)
        — the retraction half a consumer needs to MAINTAIN derived
        state rather than rebuild it: an incremental aggregate
        subtracts the old values of changed/removed rows and adds the
        new values of changed/added rows (operators/ivm.py). Costs
        nothing extra: the from-side values are already in the
        full-outer join.

        The incremental-pipeline primitive: downstream work (dedup,
        tokenization, feature extraction) re-runs only on the diff
        instead of the full corpus. Plan: both snapshots resolve from
        the same base+log scan lineage, full-outer-join on the PK —
        the two latest-wins aggregations and the join all shuffle on
        the same PK keys, so AQE/exchange reuse co-partitions them.
        Raises (via ``read``) if ``from_seq`` predates the last
        compaction — collapsed history cannot be diffed."""
        if to_seq is None:
            to_seq = self.current_seq()
        if to_seq < from_seq:
            raise ValueError(
                f"diff requires from_seq <= to_seq, got {from_seq} > {to_seq}"
                " (swapped arguments would silently invert added/removed)"
            )
        schema = self.schema
        pk = [c.name for c in schema.key_columns]
        vals = [c.name for c in schema.columns if not c.is_key]
        a = self.read(spark, as_of_seq=from_seq)
        b = self.read(spark, as_of_seq=to_seq)
        a = a.select(*pk, F.lit(True).alias("__in_a"), *[
            F.col(v).alias(f"__a_{v}") for v in vals
        ])
        b = b.select(*pk, F.lit(True).alias("__in_b"), *[
            F.col(v).alias(f"__b_{v}") for v in vals
        ])
        j = a.join(b, pk, "full_outer")
        # NULL-safe equality per value column: a changed row is one
        # present on both sides with any value differing
        same = F.lit(True)
        for v in vals:
            same = same & F.col(f"__a_{v}").eqNullSafe(F.col(f"__b_{v}"))
        change = (
            F.when(F.col("__in_a").isNull(), F.lit("added"))
            .when(F.col("__in_b").isNull(), F.lit("removed"))
            .when(~same, F.lit("changed"))
        )
        old_cols = (
            [F.col(f"__a_{v}").alias(f"old_{v}") for v in vals]
            if include_old
            else []
        )
        return (
            j.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select(
                *pk,
                "change",
                *[F.col(f"__b_{v}").alias(v) for v in vals],
                *old_cols,
            )
        )

    def log_diff(
        self,
        spark: SparkSession,
        from_seq: int,
        include_old: bool = False,
        broadcast_delta: bool = True,
    ) -> DataFrame:
        """Delta-sized diff against the CURRENT state: same output
        contract as ``diff(from_seq)`` but computed from the commit log
        tail, never a full-table join.

        ``diff`` resolves BOTH snapshots and full-outer-joins them —
        two table-sized latest-wins shuffles plus a table-sized join.
        Right for arbitrary snapshot pairs; wrong cost model for the
        overwhelmingly common "what changed since my checkpoint"
        question that incremental pipelines (operators/ivm.py,
        incremental dedup) ask, where the answer is delta-sized.

        Plan, stage by stage:

        1. **New side = the log tail only.** Commits are directories
           named by sequence, so commits > ``from_seq`` are selected by
           PATH — file-level pruning; pre-checkpoint data is never
           listed, let alone read. Latest-wins within the tail is a
           hash aggregation over delta-sized input.
        2. **Old side = point lookup of touched PKs** in the
           ``from_seq`` snapshot. The touched-PK set (delta-sized by
           construction) LEFT-SEMI joins the raw base+log scan as a
           broadcast hash join — the snapshot streams through with
           ZERO shuffle, and only surviving (delta-sized) rows enter
           the latest-wins aggregation. A leading-PK min/max range
           filter derived from the tail additionally reaches the
           parquet scan, so a PK-sorted compacted base (compact() is
           repartitionByRange + sortWithinPartitions on the PK) prunes
           row groups — the common new-data-has-high-keys delta reads
           almost none of the base.
        3. Classification is a left join of two delta-sized frames:
           tombstone+old → removed, tombstone+no-old → dropped (delete
           of absent PK), row+no-old → added, row+old → changed iff any
           value differs (NULL-safe), else dropped — exactly ``diff``'s
           semantics, equivalence pinned per-seed in tests/test_ivm.py.

        ``broadcast_delta=False`` drops the broadcast hint for
        backfill-sized deltas where the touched-PK set would not fit an
        executor; AQE then picks the join strategy. Raises like
        ``read(as_of_seq=...)`` when ``from_seq`` predates the last
        compaction (collapsed history cannot be diffed)."""
        meta = self._meta()
        self._require_history(meta, "log_diff from_seq", from_seq)
        schema = self.schema
        pk = [c.name for c in schema.key_columns]
        pk_phys = [c.physical for c in schema.key_columns]
        vals = [c.name for c in schema.columns if not c.is_key]
        val_phys = [c.physical for c in schema.columns if not c.is_key]
        tail = self._log_commits(from_seq)
        out_schema = T.StructType(
            [
                T.StructField(c.name, spark_type(c.type), True)
                for c in schema.key_columns
            ]
            + [T.StructField("change", T.StringType(), True)]
            + [
                T.StructField(c.name, spark_type(c.type), True)
                for c in schema.columns
                if not c.is_key
            ]
            + (
                [
                    T.StructField(f"old_{c.name}", spark_type(c.type), True)
                    for c in schema.columns
                    if not c.is_key
                ]
                if include_old
                else []
            )
        )
        if not tail:
            return spark.createDataFrame([], out_schema)
        log = spark.read.schema(self.spark_schema()).parquet(*tail)
        new = (
            _latest_wins(log, pk_phys, val_phys)
            .select(
                *pk_phys,
                *[F.col(f"__latest.{p}").alias(f"__n_{p}") for p in val_phys],
                F.col(f"__latest.{DEL_COL}").alias("__n_del"),
            )
        )
        touched = new.select(*pk_phys)
        if broadcast_delta:
            touched = F.broadcast(touched)
        nb = self._effective_buckets(meta)
        raw = self._raw(spark, nb, bool(os.listdir(self.log_path)))
        raw = raw.filter(F.col(SEQ_COL) <= from_seq)
        if nb:
            raw = raw.drop(BUCKET_COL)
        # leading-PK range pushdown: every touched PK lies in the tail's
        # [min, max], so the superset filter is safe and reaches the
        # parquet scan for row-group pruning on the PK-sorted base.
        # One 1-row collect over the delta — driver-side scalars only.
        lead = pk_phys[0]
        bounds = new.agg(
            F.min(F.col(lead)).alias("lo"), F.max(F.col(lead)).alias("hi")
        ).collect()[0]
        if bounds["lo"] is not None:
            raw = raw.filter(F.col(lead).between(bounds["lo"], bounds["hi"]))
        old = (
            _latest_wins(raw.join(touched, pk_phys, "left_semi"), pk_phys, val_phys)
            .filter(~F.col(f"__latest.{DEL_COL}"))
            .select(
                *pk_phys,
                F.lit(True).alias("__in_old"),
                *[F.col(f"__latest.{p}").alias(f"__o_{p}") for p in val_phys],
            )
        )
        j = new.join(old, pk_phys, "left")
        same = F.lit(True)
        for p in val_phys:
            same = same & F.col(f"__n_{p}").eqNullSafe(F.col(f"__o_{p}"))
        change = (
            F.when(F.col("__n_del") & F.col("__in_old").isNotNull(), "removed")
            .when(~F.col("__n_del") & F.col("__in_old").isNull(), "added")
            .when(~F.col("__n_del") & ~same, "changed")
        )
        out = (
            j.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select(
                *[
                    F.col(p).alias(n)
                    for p, n in zip(pk_phys, pk, strict=True)
                ],
                "change",
                *[
                    F.when(
                        F.col("change") != "removed", F.col(f"__n_{p}")
                    ).alias(n)
                    for p, n in zip(val_phys, vals, strict=True)
                ],
                *(
                    [
                        F.col(f"__o_{p}").alias(f"old_{n}")
                        for p, n in zip(val_phys, vals, strict=True)
                    ]
                    if include_old
                    else []
                ),
            )
        )
        return out

    def commits_since_compact(self) -> int:
        meta = self._meta()
        return meta["seq"] - meta.get("last_compact_seq", 0)


    def export_data(
        self, spark: SparkSession, path: str, fmt: str = "csv"
    ) -> None:
        """Write the CURRENT table state (latest row per PK, tombstones
        resolved) to ``path`` as csv (with header), json (JSONL), or
        parquet — the bulk-unload half of the interchange surface.
        Distributed write: one file per partition, no driver collect."""
        if fmt not in ("csv", "json", "parquet"):
            raise ValueError(f"unsupported export format: {fmt}")
        df = self.read(spark)
        w = df.write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", "true")
        w.format(fmt).save(path)

    def import_data(
        self, spark: SparkSession, path: str, fmt: str = "csv"
    ) -> None:
        """Bulk-load ``path`` (csv with header / JSONL / parquet) as ONE
        atomic upsert commit — the interchange twin of the reference's
        BatchInsert (S8): readers see all rows or none, duplicate PKs
        within the file resolve by row position, existing PKs upsert.
        The file is schema-projected to the table's logical columns, so
        column order in the file doesn't matter. Values use the stored
        representation (timestamps = epoch nanoseconds), matching what
        ``export_data`` writes — export→import roundtrips exactly."""
        if fmt not in ("csv", "json", "parquet"):
            raise ValueError(f"unsupported import format: {fmt}")
        schema = self.spark_schema(with_meta=False)
        r = spark.read
        if fmt == "csv":
            r = r.option("header", "true")
        df = r.schema(schema).format(fmt).load(path)
        self.append_dataframe(df.select(*[f.name for f in schema.fields]))

    def storage_stats(self) -> dict:
        """Layout-health report straight from the parquet footers (no
        Spark job): per-segment file/row/byte counts, row-group count,
        and the leading-PK clustering quality of the compacted base —
        ``pk_overlap`` counts file pairs whose [min, max] lead-PK ranges
        intersect (0 on a freshly PK-compacted table; growth means the
        next compaction is due, the same signal OPTIMIZE scheduling uses
        in lakehouse tables).

        The driver reads only footers — bytes proportional to file
        count, never data. Output keys: base_files, base_rows,
        base_bytes, base_row_groups, log_files, log_rows, log_bytes,
        pending_commits, pk_overlap.
        """
        import pyarrow.parquet as pq

        lead = self.schema.key_columns[0].physical

        def seg(path: str):
            files = []
            for root, _dirs, names in os.walk(path):
                files += [
                    os.path.join(root, n)
                    for n in names
                    if n.endswith(".parquet")
                ]
            rows = bytes_ = groups = 0
            ranges = []
            for f in files:
                md = pq.ParquetFile(f).metadata
                rows += md.num_rows
                bytes_ += os.path.getsize(f)
                groups += md.num_row_groups
                lo = hi = None
                for g in range(md.num_row_groups):
                    for c in range(md.num_columns):
                        col = md.row_group(g).column(c)
                        if col.path_in_schema == lead and col.statistics:
                            st = col.statistics
                            if st.has_min_max:
                                lo = st.min if lo is None else min(lo, st.min)
                                hi = st.max if hi is None else max(hi, st.max)
                if lo is not None:
                    ranges.append((lo, hi))
            return files, rows, bytes_, groups, ranges

        bf, br, bb, bg, branges = seg(self.base_path)
        lf, lr, lb, _lg, _ = seg(self.log_path)
        overlap = sum(
            1
            for i in range(len(branges))
            for j in range(i + 1, len(branges))
            if branges[i][0] <= branges[j][1] and branges[j][0] <= branges[i][1]
        )
        return {
            "base_files": len(bf),
            "base_rows": br,
            "base_bytes": bb,
            "base_row_groups": bg,
            "log_files": len(lf),
            "log_rows": lr,
            "log_bytes": lb,
            "pending_commits": self.commits_since_compact(),
            "pk_overlap": overlap,
        }

    def changes(
        self,
        spark: SparkSession,
        from_seq: int,
        to_seq: int | None = None,
    ) -> DataFrame:
        """Raw CDC feed: every logged write in ``(from_seq, to_seq]`` as
        one row per operation with ``_seq``/``_sub`` (the total write
        order) and ``_op`` ∈ ``upsert | delete`` — the commit stream a
        downstream incremental consumer tails (vs ``diff``, which
        resolves NET state change per PK between two snapshots).

        Pure log read: commit files are named by seq, so the range prune
        happens at file listing, and no latest-wins aggregation runs —
        cost is proportional to the consumed delta, never table size.
        Raises if ``from_seq`` predates the last compaction (that
        history is folded into the base).
        """
        if to_seq is None:
            to_seq = self.current_seq()
        if to_seq < from_seq:
            raise ValueError(
                f"changes range inverted: from_seq={from_seq} > to_seq={to_seq}"
            )
        self._require_history(self._meta(), "changes from_seq", from_seq)
        schema = self.schema
        paths = self._log_commits(from_seq, to_seq)
        if not paths:
            base = self.spark_schema()
            empty = spark.createDataFrame([], base)
            df = empty
        else:
            df = (
                spark.read.schema(self.spark_schema())
                .option("recursiveFileLookup", "true")
                .parquet(*paths)
            )
        out = df.select(
            F.col(SEQ_COL).alias("_seq"),
            F.col(SUB_COL).alias("_sub"),
            F.when(F.col(DEL_COL), F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("_op"),
            *[
                F.col(c.physical).alias(c.name)
                for c in sorted(schema.columns, key=lambda x: x.pos_col)
            ],
        )
        return out

    def maybe_compact(
        self,
        spark: SparkSession,
        max_pending_commits: int = 32,
        max_log_bytes: int | None = None,
        **compact_kwargs,
    ) -> bool:
        """Policy-driven maintenance: compact iff the log has grown past
        ``max_pending_commits`` commits or ``max_log_bytes`` bytes —
        the OPTIMIZE-scheduling hook a long-running ingest loop calls
        after each batch (streaming foreachBatch, the async-insert
        flusher, a cron). Returns True when a compaction ran.
        ``compact_kwargs`` pass through; without a layout
        (``hash_buckets`` or ``zorder``) the compaction keeps the
        recorded ``hash_buckets``, so the policy never drops a table's
        bucket pruning.
        """
        pending = self.commits_since_compact()
        due = pending > max_pending_commits
        if not due and max_log_bytes is not None:
            size = 0
            for root, _dirs, names in os.walk(self.log_path):
                for n in names:
                    if n.endswith(".parquet"):
                        size += os.path.getsize(os.path.join(root, n))
                        if size > max_log_bytes:
                            break
            due = size > max_log_bytes
        if not due:
            return False
        if not {"hash_buckets", "zorder"} & compact_kwargs.keys():
            compact_kwargs["hash_buckets"] = self._meta().get("hash_buckets")
        self.compact(spark, **compact_kwargs)
        return True
