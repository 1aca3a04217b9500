"""Atomic versioned parquet tables — the transactional lake target that
gives the reference's transaction bracket (begin / commit / rollback,
``Wrap/DB.pm:38-68``) a concrete lake-side equivalent in an environment
without Delta/Iceberg.

Both table kinds — ``AtomicTable`` (one immutable directory per
version) and ``PartitionedAtomicTable`` (one immutable manifest per
version mapping partition values to immutable directories) — commit
through ONE pointer protocol (``_Pointer``): the same ``_manifest.json``
pointer, transaction ledger, replay check and fsync + rename swap.

Protocol (manifest swap):

- Data lives in immutable version directories ``<root>/v{N}/``; readers
  NEVER list the root — they resolve ``<root>/_manifest.json`` and read
  exactly the version it names.
- A writer stages the complete new state into a uniquely-named
  ``_staging/<uuid>`` directory, atomically ``os.rename``s it to
  ``v{N}`` (N is one past the highest version on disk or in the
  pointer, so versions left newer than the pointer by a rollback or an
  interrupted commit are skipped, never reused; the rename fails if
  another writer claimed that number), then commits by renaming a fresh
  ``_manifest.json.tmp`` over the manifest. POSIX rename is atomic, so
  a concurrent reader sees the old manifest or the new one — never a
  torn file and never a half-written version directory (staging dirs
  are unreachable from the manifest). On HDFS the same renames are
  atomic; on S3-like stores the swap point must become a conditional
  PUT / DynamoDB-style log commit — exactly the seam Delta's LogStore
  abstracts, and the single place to port (``_Pointer._swap``).
- Rollback = don't swap: any failure before commit leaves the manifest
  (and therefore every reader) on the old version; the orphaned staged
  directory is garbage-collected by ``vacuum()``.
- Concurrent writers: optimistic concurrency. The transaction records
  the manifest version it read; if the manifest moved by commit time,
  ``ConflictError`` — the loser retries on fresh state. The check and
  the manifest rename run under an exclusive ``flock`` on the table
  root (the writer lock), so of two writers from one manifest exactly
  one commits; the kernel drops the lock when its holder dies, so a
  crash never wedges the table. The lock is host-local: writers on
  several hosts need the conditional-PUT seam above (multi-writer
  last-write-wins corruption is structurally impossible: committed
  version directories are immutable and never edited in place).

At 100 TB the data copy in upsert/delete is the cost of format-less
atomicity (rewriting referenced files is what Delta's MERGE does too —
its log only avoids rewriting UNTOUCHED files; partition the table and
use ``replace_where`` on the partition column for the same effect here).
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_wrap_spark.sinks import merge as M

MANIFEST = "_manifest.json"
STATS = "_stats.json"  # per-file zone maps; "_"-prefixed => invisible to Spark scans


class ConflictError(RuntimeError):
    """The manifest advanced between transaction start and commit."""


def _load_json(path: str, default=None):
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return default


def _fsynced_tmp(path: str, obj) -> str:
    """Write ``obj`` as JSON to a fresh temp file beside ``path``, fsync'd
    so the later rename/link publishes durable bytes; returns the temp
    path."""
    tmp = path + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
        fh.flush()
        os.fsync(fh.fileno())
    return tmp


def _zone_hit(zones: dict, col: str, lo, hi) -> bool:
    """Fail-open zone test: False only when the file's recorded
    [min, max] zone for `col` misses [lo, hi]; a file lacking a zone for
    `col` is kept — pruning is never a correctness filter."""
    z = zones.get(col)
    return z is None or not (z[1] < lo or z[0] > hi)


def _write_stats(staged: str, stats_cols: list[str]) -> None:
    """Per-file min/max zone maps for `stats_cols` into ``_stats.json``
    inside `staged`, harvested from the parquet FOOTERS (pyarrow
    metadata — no data re-scan)."""
    import pyarrow.parquet as pq

    def _plain(v):
        # json-serializable plain python (footer stats may be numpy
        # scalars / bytes); fall back to None (zone dropped -> file
        # kept by the fail-open reader)
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if hasattr(v, "item"):
            v = v.item()
        return v if isinstance(v, (int, float, str, bool)) else None

    stats: dict[str, dict] = {}
    for fn in sorted(os.listdir(staged)):
        if not fn.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(staged, fn)).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        zones = {}
        for col in stats_cols:
            ci = names.get(col)
            if ci is None:
                continue
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                mn, mx = _plain(st.min), _plain(st.max)
                if mn is None or mx is None:
                    ok = False
                    break
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            if ok and lo is not None:
                zones[col] = [lo, hi]
        stats[fn] = zones
    with open(os.path.join(staged, STATS), "w") as fh:
        json.dump(stats, fh)


class _Pointer:
    """The ``<root>/_manifest.json`` current-version pointer both table
    kinds commit through: the version it names, the transaction ledger,
    and the optimistic-concurrency swap. Subclasses decide what a
    version IS (a data dir, or a partition manifest)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _pointer_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def _pointer(self) -> dict:
        return _load_json(self._pointer_path(), {})

    def current_version(self) -> int | None:
        try:
            return int(self._pointer()["version"])
        except (KeyError, ValueError, TypeError):
            return None

    def _resolve(self, version: int | None) -> int | None:
        return version if version is not None else self.current_version()

    def last_txn_version(self, app_id: str) -> int | None:
        """Highest committed transaction version for `app_id` (the Delta
        txnAppId/txnVersion idempotence ledger) — None if never seen."""
        v = self._pointer().get("txns", {}).get(app_id)
        return int(v) if v is not None else None

    def _replayed(self, txn: tuple[str, int] | None) -> bool:
        """True when `txn` = (app_id, txn_version) already committed:
        the caller skips without staging (the exactly-once contract)."""
        if txn is None:
            return False
        last = self.last_txn_version(txn[0])
        return last is not None and last >= int(txn[1])

    def _disk_versions(self) -> list[int]:
        """Every version number claimed on disk, ascending — referenced
        by the pointer or not (subclasses say where versions live)."""
        raise NotImplementedError

    def _next_version(self) -> int:
        """One past the highest version claimed on disk or named by the
        pointer. A rollback leaves newer versions on disk, and a commit
        interrupted between its claim and the pointer swap leaves an
        orphan; both are skipped, never reused. The claim (the
        version-dir rename or manifest link) only reserves the number;
        the locked ``_swap`` decides which writer commits."""
        return max([*self._disk_versions(), self.current_version() or 0]) + 1

    def _retained(self, keep: int) -> set:
        """The versions a vacuum keeps: the newest ``keep`` on disk (at
        least one) plus the current one. After a rollback the current
        version is not the newest; the newer ones still count toward
        ``keep``, and the newest always survives, so ``_next_version``
        never hands out a number a pinned reader has already seen."""
        versions = self._disk_versions()
        return set(versions[-max(keep, 1):]) | {self.current_version()}

    def rollback(self, to_version: int) -> None:
        """Point the table back at an earlier immutable version; the
        pointer's other keys (AtomicTable's table properties) carry
        over. Later commits still take fresh numbers."""
        if to_version not in self._disk_versions():
            raise FileNotFoundError(f"no version v{to_version} at {self.root}")
        ptr = self._pointer()
        extra = {k: v for k, v in ptr.items() if k not in ("version", "committed_at", "txns")}
        self._swap(to_version, self.current_version(), **extra)

    def _check(self, expected: int | None) -> None:
        found = self.current_version()
        if found != expected:
            raise ConflictError(f"manifest moved (expected v{expected}, found v{found})")

    def _swap(
        self,
        version: int,
        expected: int | None,
        txn: tuple[str, int] | None = None,
        **extra,
    ) -> None:
        """Point the table at `version` if it still names `expected`,
        recording `txn` in the ledger; `extra` keys ride in the pointer.
        The check, the ledger read and the rename run under the writer
        lock (an exclusive ``flock`` on the root, released on close or
        when the holder dies), so two writers that read the same
        pointer can't both pass the check: the second gets
        ConflictError."""
        fd = os.open(self.root, os.O_RDONLY)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            self._check(expected)
            txns = dict(self._pointer().get("txns", {}))
            if txn is not None:
                txns[txn[0]] = int(txn[1])
            body = {"version": version, "committed_at": time.time(), "txns": txns, **extra}
            tmp = _fsynced_tmp(self._pointer_path(), body)
            os.rename(tmp, self._pointer_path())  # the atomic commit point
        finally:
            os.close(fd)

    def _staging_dir(self) -> str:
        return os.path.join(self.root, "_staging", uuid.uuid4().hex)


class AtomicTable(_Pointer):
    """A versioned parquet table with atomic commit + time travel."""

    def table_props(self) -> dict:
        """Persistent indexing properties (Delta table-properties
        pattern): stats_cols / cluster_by (string layouts only) /
        cluster_files / bloom_cols / bloom_bits / bloom_hashes recorded
        by the last ``write`` that set them. Every subsequent commit —
        upsert, delete_insert, transaction — re-applies them when
        staging, so a MERGE can never silently strip the table's zone
        maps or blooms."""
        return dict(self._pointer().get("table_props", {}))

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.root, f"v{version}")

    def _disk_versions(self) -> list[int]:
        return sorted(
            int(d[1:]) for d in os.listdir(self.root) if d.startswith("v") and d[1:].isdigit()
        )

    # ------------------------------------------------------------ readers
    def read(self, version: int | None = None) -> DataFrame:
        """Current table state (or a pinned historical `version` — the
        rollback/audit path; committed versions are immutable)."""
        v = self._resolve(version)
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        return self.spark.read.parquet(self._version_dir(v))

    def file_stats(self, version: int | None = None) -> dict | None:
        """Per-file zone maps recorded at stage time (``_stats.json``
        inside the version dir — immutable with it), or None for
        versions written without ``stats_cols``."""
        return _load_json(os.path.join(self._version_dir(self._resolve(version)), STATS))

    def _kept_files(self, version: int | None, keep) -> list[str] | None:
        """The version's data files whose ``_stats.json`` entry passes
        `keep`; None when the version has no stats."""
        v = self._resolve(version)
        stats = self.file_stats(v)
        if stats is None:
            return None
        vd = self._version_dir(v)
        return [os.path.join(vd, fn) for fn, zones in stats.items() if keep(zones)]

    def _read_files(self, files: list[str] | None, pred: Column, version: int | None) -> DataFrame:
        """Read a pruned file list: None = no stats, full read; [] = no
        file can match, zero rows with the table schema. The residual
        `pred` always applies."""
        if files is None:
            return self.read(version).where(pred)
        if not files:
            return self.read(version).where(pred).limit(0)
        return self.spark.read.parquet(*files).where(pred)

    def pruned_files(self, col: str, lo, hi, version: int | None = None) -> list[str] | None:
        """Data files whose [min, max] zone for `col` intersects
        [lo, hi]; None when no stats exist (caller falls back to a full
        read). Files lacking a zone for `col` are kept — pruning is
        fail-open, never a correctness filter."""
        return self._kept_files(version, lambda zones: _zone_hit(zones, col, lo, hi))

    def read_pruned(self, col: str, lo, hi, version: int | None = None) -> DataFrame:
        """``read().where(col BETWEEN lo AND hi)`` that opens ONLY the
        files whose manifest zone map can match — the Delta-checkpoint-
        stats pattern: at millions of files the win is never listing or
        footer-reading the irrelevant ones, which scan-level row-group
        skipping cannot give you. The residual filter still applies
        (zones are file-granular), so the result is exactly the full
        filter regardless of pruning quality. Write with ``cluster_by``
        to make zones tight."""
        files = self.pruned_files(col, lo, hi, version)
        return self._read_files(files, F.col(col).between(lo, hi), version)

    # ------------------------------------------------------------ writers
    def _stage(
        self,
        df: DataFrame,
        props: dict,
        cluster_expr: Column | None = None,
    ) -> str:
        """Write the full new state into a uniquely-named staging dir —
        never into a version dir, so a losing writer can never clobber a
        committed version's files. ``props`` is the table-property dict
        (see ``table_props``) the staged version is indexed with.

        ``stats_cols``: record per-file min/max zone maps for these
        columns into ``_stats.json`` inside the staged dir, harvested
        from the parquet FOOTERS (pyarrow metadata — no data re-scan).
        ``cluster_by``: range-repartition on that column first so zones
        are tight and disjoint — a name for the 1-D layout, or any
        Column expression passed as ``cluster_expr`` for this commit
        only (pass sinks/parquet.py:zorder_key(cols) for a multi-column
        Morton layout: every file then covers a compact hyper-rectangle,
        so zone maps prune on ANY of the interleaved columns);
        ``cluster_files`` pins the range-partition count. The footer
        walk is a driver loop over file METADATA — manifest-scale work,
        the same class as Delta checkpoint maintenance; parallelize
        over an executor RDD if a single version ever holds millions of
        files.
        """
        staged = self._staging_dir()
        cluster_by = cluster_expr if cluster_expr is not None else props.get("cluster_by")
        n_files = props.get("cluster_files")
        if cluster_by is not None:  # truthiness on a Column raises
            out = (
                df.repartitionByRange(n_files, cluster_by)
                if n_files
                else df.repartitionByRange(cluster_by)
            )
        else:
            out = df
        out.write.mode("overwrite").parquet(staged)
        if props.get("stats_cols"):
            _write_stats(staged, list(props["stats_cols"]))
        if props.get("bloom_cols"):
            self._write_blooms(
                staged, list(props["bloom_cols"]), props["bloom_bits"], props["bloom_hashes"]
            )
        return staged

    def _write_blooms(
        self, staged: str, bloom_cols: list[str], m_bits: int, k_hashes: int
    ) -> None:
        """Per-file bloom filters for the given columns, recorded under
        the reserved ``__bloom__`` key of each file's ``_stats.json``
        entry — the point-lookup complement of the min/max zone maps
        (zones prune RANGES on clustered layouts; blooms prune EQUALITY
        probes on high-cardinality columns regardless of layout, the
        Delta/Iceberg bloom-index pattern). Bit positions are the
        engine-portable md5 double-hash of operators/sketches.py, so a
        driver-side Python probe reproduces them exactly.

        Computed DISTRIBUTED in one column-pruned pass over the staged
        files (input_file_name → explode k positions → per-(file, word)
        bit_or); only the finished words — files × m/63 bigints,
        manifest-scale — ever reach the driver. NULLs set no bits
        (point lookup is `=`, never `IS NULL`)."""
        from etl_wrap_spark.operators.sketches import _bloom_positions

        files = [f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")]
        n_words = (m_bits + 62) // 63
        blooms: dict[str, dict] = {
            fn: {c: [0] * n_words for c in bloom_cols} for fn in files
        }
        src = self.spark.read.parquet(staged).select(
            F.input_file_name().alias("__f"), *[F.col(c) for c in bloom_cols]
        )
        for col in bloom_cols:
            pos = F.explode(
                F.array(*_bloom_positions(F.col(col), k_hashes, m_bits))
            ).alias("p")
            words = (
                src.where(F.col(col).isNotNull())
                .select("__f", pos)
                .select(
                    "__f",
                    (F.col("p") / 63).cast("int").alias("w"),
                    F.call_function(
                        "shiftleft", F.lit(1).cast("bigint"), (F.col("p") % 63).cast("int")
                    ).alias("b"),
                )
                .groupBy("__f", "w")
                .agg(F.bit_or("b").alias("word"))
            )
            for r in words.collect():
                fn = os.path.basename(r["__f"])
                if fn in blooms:
                    blooms[fn][col][r["w"]] = r["word"]
        path = os.path.join(staged, STATS)
        stats = _load_json(path, {})
        for fn in files:
            entry = stats.setdefault(fn, {})
            entry["__bloom__"] = {
                c: {"m": m_bits, "k": k_hashes, "w": blooms[fn][c]}
                for c in bloom_cols
            }
        with open(path, "w") as fh:
            json.dump(stats, fh)

    @staticmethod
    def _py_bloom_hit(value, bloom: dict) -> bool:
        """Driver-side replay of operators/sketches._bloom_positions
        (md5 halves, Kirsch-Mitzenmacher h1 + i·h2): True iff every one
        of the value's k bits is set in the recorded words."""
        import hashlib

        hx = hashlib.md5(str(value).encode("utf-8")).hexdigest()
        h1, h2 = int(hx[0:7], 16), int(hx[7:14], 16)
        for i in range(int(bloom["k"])):
            p = (h1 + i * h2) % int(bloom["m"])
            if not (int(bloom["w"][p // 63]) >> (p % 63)) & 1:
                return False
        return True

    def pruned_files_eq(self, col: str, value, version: int | None = None) -> list[str] | None:
        """Data files that may contain ``col = value`` — bloom membership
        AND (when a zone exists) min/max containment; None when no stats
        were recorded (caller falls back to a full read). Fail-open like
        ``pruned_files``: a file lacking a bloom or zone for `col` is
        kept. ``value`` must be an int or string (the bloom hashed the
        column's string cast)."""

        def keep(zones: dict) -> bool:
            bloom = zones.get("__bloom__", {}).get(col)
            return _zone_hit(zones, col, value, value) and (
                bloom is None or self._py_bloom_hit(value, bloom)
            )

        return self._kept_files(version, keep)

    def read_point(self, col: str, value, version: int | None = None) -> DataFrame:
        """``read().where(col = value)`` that opens ONLY the files whose
        bloom (and zone, if any) can match — the needle-in-100-TB path:
        a point probe on a high-cardinality key touches k bits per file
        in the MANIFEST instead of listing/scanning the table. The
        residual equality filter still applies (blooms false-positive),
        so the result is exact regardless of pruning quality."""
        files = self.pruned_files_eq(col, value, version)
        return self._read_files(files, F.col(col) == F.lit(value), version)

    def _commit_df(
        self,
        df: DataFrame,
        expected: int | None,
        txn: tuple[str, int] | None = None,
        props: dict | None = None,
        cluster_expr: Column | None = None,
    ) -> int:
        """The one stage-and-promote sequence: stage `df` indexed by
        `props` (None = the table's persisted properties), then install
        the staged dir as version ``_next_version()``. Two writers
        can't both rename onto ``v{N}``, and of two writers from one
        pointer only one passes the locked swap: the loser gets
        ConflictError and its staged or claimed dir is removed, leaving
        the winner's committed files untouched."""
        if self._replayed(txn):
            return self.current_version() or 0
        props = self.table_props() if props is None else props
        staged = self._stage(df, props=props, cluster_expr=cluster_expr)
        try:
            self._check(expected)
            new_v = self._next_version()
            try:
                os.rename(staged, self._version_dir(new_v))
            except OSError as e:
                raise ConflictError(f"version dir v{new_v} already claimed") from e
            try:
                self._swap(new_v, expected, txn, table_props=props)
            except ConflictError:
                shutil.rmtree(self._version_dir(new_v), ignore_errors=True)
                raise
        except BaseException:
            shutil.rmtree(staged, ignore_errors=True)
            raise
        return new_v

    def write(
        self,
        df: DataFrame,
        stats_cols: Sequence[str] | None = None,
        cluster_by: str | Column | None = None,
        cluster_files: int | None = None,
        txn: tuple[str, int] | None = None,
        bloom_cols: Sequence[str] | None = None,
        bloom_bits: int = 4096,
        bloom_hashes: int = 5,
    ) -> int:
        """Full refresh (reference K5) as one atomic version bump; see
        ``_stage`` for the zone-map / clustering options
        (``cluster_files`` pins the range-partition count — zone
        granularity — where AQE would otherwise coalesce small tables
        into one file) and the per-file ``bloom_cols`` point-lookup
        index (read back via ``read_point``). ``txn`` as in ``upsert``.

        Indexing options PERSIST as table properties (Delta pattern):
        pass None to inherit the table's recorded configuration, an
        explicit value to change it, or an empty sequence (e.g.
        ``bloom_cols=()``) to clear that index. Column-expression
        ``cluster_by`` layouts apply to THIS commit only (a Column
        can't be serialized into the manifest — pass the string form,
        or re-supply the expression per write)."""
        stored = self.table_props()
        eff_stats = list(stats_cols) if stats_cols is not None else stored.get("stats_cols")
        eff_cf = cluster_files if cluster_files is not None else stored.get("cluster_files")
        if bloom_cols is not None:
            eff_bloom, eff_bits, eff_hashes = list(bloom_cols), bloom_bits, bloom_hashes
        else:
            eff_bloom = stored.get("bloom_cols")
            eff_bits = stored.get("bloom_bits", bloom_bits)
            eff_hashes = stored.get("bloom_hashes", bloom_hashes)
        props = {}
        if eff_stats:
            props["stats_cols"] = list(eff_stats)
        # a Column-expression layout applies to THIS commit only; the
        # persisted string property survives it, so a later compact()
        # keeps the clustered layout
        if isinstance(cluster_by, str):
            props["cluster_by"] = cluster_by
        elif isinstance(stored.get("cluster_by"), str):
            props["cluster_by"] = stored["cluster_by"]
        if eff_cf:
            props["cluster_files"] = int(eff_cf)
        if eff_bloom:
            props["bloom_cols"] = list(eff_bloom)
            props["bloom_bits"] = int(eff_bits)
            props["bloom_hashes"] = int(eff_hashes)
        expr = None if isinstance(cluster_by, str) else cluster_by
        return self._commit_df(
            df, self.current_version(), txn=txn, props=props, cluster_expr=expr
        )

    def upsert(
        self,
        updates: DataFrame,
        keys: Sequence[str],
        txn: tuple[str, int] | None = None,
    ) -> int:
        """MERGE semantics (reference K2/K3) with old-or-new visibility.
        ``txn=(app_id, txn_version)`` makes the commit IDEMPOTENT: a
        replay whose txn_version the manifest has already recorded is
        skipped — the Delta txnAppId pattern that turns foreachBatch
        retries into exactly-once sink semantics. An empty table
        commits ``updates`` as its first version."""
        v = self.current_version()
        if self._replayed(txn):
            return v or 0
        out = M.upsert(self.read(v), updates, keys) if v else updates
        return self._commit_df(out, v, txn=txn)

    def delete_insert(self, replacement: DataFrame, selector: Column) -> int:
        """Delete-before-insert (reference K4) as one atomic commit."""
        v = self.current_version()
        out = (
            M.delete_before_insert(self.read(v), replacement, selector)
            if v
            else replacement
        )
        return self._commit_df(out, v)

    def replace_where(self, replacement: DataFrame, predicate: str) -> int:
        """Delta-style replaceWhere: rows matching `predicate` are
        replaced by `replacement`, everything else carried over."""
        return self.delete_insert(replacement, F.expr(predicate))

    def transaction(self) -> "LakeTransaction":
        """Multi-operation bracket: all ops land in ONE staged version,
        committed by a single swap (the reference's begin_work/commit)."""
        return LakeTransaction(self)

    # -------------------------------------------------------- maintenance
    def compact(self, target_files: int) -> int:
        """Small-file compaction as ONE atomic version: rewrite the
        current state into ~``target_files`` files. Table properties
        re-apply, so zone maps and blooms are REBUILT on the compacted
        layout (tighter zones, fewer manifest entries) rather than
        lost — the Delta OPTIMIZE posture. With a persisted string
        ``cluster_by`` the rewrite range-partitions on it (zones stay
        disjoint); otherwise a plain repartition sets the file count."""
        cur = self.read()
        if self.table_props().get("cluster_by"):
            return self.write(cur, cluster_files=int(target_files))
        return self.write(cur.repartition(int(target_files)))

    def vacuum(self, keep: int = 2) -> list[int]:
        """Remove the version dirs ``_retained(keep)`` does not keep plus
        any orphaned staging dirs; returns removed version ids."""
        retained = self._retained(keep)
        removable = [v for v in self._disk_versions() if v not in retained]
        for v in removable:
            shutil.rmtree(self._version_dir(v), ignore_errors=True)
        shutil.rmtree(os.path.join(self.root, "_staging"), ignore_errors=True)
        return removable


class LakeTransaction:
    """Accumulates merge-algebra steps against a snapshot, stages the
    final state once, commits with one swap. Any exception inside the
    ``with`` block = rollback (manifest untouched, staged dir removed).
    """

    def __init__(self, table: AtomicTable):
        self.table = table
        self.base_version: int | None = None
        self.state: DataFrame | None = None

    def __enter__(self) -> "LakeTransaction":
        self.base_version = self.table.current_version()
        self.state = self.table.read(self.base_version) if self.base_version else None
        return self

    def write(self, df: DataFrame) -> None:
        self.state = df

    def upsert(self, updates: DataFrame, keys: Sequence[str]) -> None:
        self.state = M.upsert(self.state, updates, keys) if self.state is not None else updates

    def delete_insert(self, replacement: DataFrame, selector: Column) -> None:
        self.state = (
            M.delete_before_insert(self.state, replacement, selector)
            if self.state is not None
            else replacement
        )

    def delete_keys(self, delete_df: DataFrame, keys: Sequence[str]) -> None:
        # deleting from an empty table leaves it empty: nothing commits
        if self.state is not None:
            self.state = M.delete_keys(self.state, delete_df, keys)

    def __exit__(self, exc_type, exc, tb) -> bool:
        # an exception = rollback: nothing staged/committed yet
        if exc_type is None and self.state is not None:
            self.table._commit_df(self.state, self.base_version)
        return False


class PartitionedAtomicTable(_Pointer):
    """Partition-granular atomic table — the piece that makes MERGE
    economics work at 100 TB, where AtomicTable's full-state staging
    (correct, but a whole-table copy per commit) is the wrong cost
    model: here the manifest maps each PARTITION VALUE to an immutable
    data directory, a commit rewrites ONLY the partitions its delta
    touches, and every untouched partition is carried into the new
    version BY REFERENCE (same directory name in the new manifest —
    zero data movement, the Delta/Iceberg file-reuse behavior).

    Layout: ``<root>/p_<uuid>/`` immutable partition dirs;
    ``<root>/_versions/<N>.json`` immutable per-version manifests
    ({partition value -> dir, plus the partition column name/type});
    ``<root>/_manifest.json`` the current-version pointer, swapped with
    the same atomic-rename + optimistic-concurrency protocol as
    AtomicTable (ConflictError when a racer advanced the pointer).

    Readers resolve the pointer, then the manifest, then read exactly
    the referenced dirs — old-or-new visibility, never partial. The
    partition column is re-attached from the manifest (dirs store only
    payload columns). vacuum() drops partition dirs unreferenced by any
    retained manifest (ref-counted, never the current one).
    """

    def __init__(self, spark: SparkSession, root: str, partition_col: str):
        super().__init__(spark, root)
        self.pcol = partition_col
        os.makedirs(os.path.join(root, "_versions"), exist_ok=True)

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self.root, "_versions", f"{version}.json")) as fh:
            return json.load(fh)

    def _disk_versions(self) -> list[int]:
        vdir = os.path.join(self.root, "_versions")
        return sorted(int(f[:-5]) for f in os.listdir(vdir) if f.endswith(".json"))

    def table_props(self) -> dict:
        """Persistent indexing properties (as AtomicTable.table_props,
        stored in the version manifest): currently ``stats_cols`` —
        per-file zone maps INSIDE each partition dir, the second level
        of the partition-prune → file-prune → row-group-prune chain."""
        v = self.current_version()
        if v is None:
            return {}
        return dict(self._manifest(v).get("table_props", {}))

    def _commit_manifest(
        self,
        parts: dict,
        ptype: str,
        expected: int | None,
        txn: tuple[str, int] | None = None,
        props: dict | None = None,
    ) -> int:
        eff_props = props if props is not None else self.table_props()
        self._check(expected)
        new_v = self._next_version()
        mpath = os.path.join(self.root, "_versions", f"{new_v}.json")
        body = {"pcol": self.pcol, "ptype": ptype, "partitions": parts, "table_props": eff_props}
        tmp = _fsynced_tmp(mpath, body)
        try:
            # exclusive-create semantics: losing a version-number race
            # must not clobber the winner's manifest
            os.link(tmp, mpath)
        except OSError as e:
            raise ConflictError(f"manifest v{new_v} already claimed") from e
        finally:
            os.unlink(tmp)
        try:
            self._swap(new_v, expected, txn)
        except ConflictError:
            os.unlink(mpath)  # never referenced: the pointer moved first
            raise
        return new_v

    # ------------------------------------------------------------ writers
    def _write_partitions(
        self, df: DataFrame, props: dict, carried: dict | None = None
    ) -> tuple[dict, str]:
        """Stage df's partitions as fresh immutable dirs, each with its
        per-file zone maps when ``props`` sets ``stats_cols``; returns
        ({value -> dirname} over `carried` plus the rewritten values,
        partition dtype). Carried-by-reference dirs keep their immutable
        stats. One partitioned write job; dirs move into place with
        renames (no data copy)."""
        ptype = dict(df.dtypes)[self.pcol]
        staged = self._staging_dir()
        df.write.mode("overwrite").partitionBy(self.pcol).parquet(staged)
        parts = dict(carried or {})
        for d in os.listdir(staged):
            if not d.startswith(f"{self.pcol}="):
                continue
            new_name = f"p_{uuid.uuid4().hex}"
            os.rename(os.path.join(staged, d), os.path.join(self.root, new_name))
            if props.get("stats_cols"):
                _write_stats(os.path.join(self.root, new_name), list(props["stats_cols"]))
            parts[d.split("=", 1)[1]] = new_name
        shutil.rmtree(staged, ignore_errors=True)
        return parts, ptype

    def write(
        self,
        df: DataFrame,
        txn: tuple[str, int] | None = None,
        stats_cols: Sequence[str] | None = None,
    ) -> int:
        """Full refresh: every partition rewritten, one atomic pointer
        swap. ``txn`` as in ``upsert``. ``stats_cols`` records per-file
        zone maps INSIDE every partition dir and persists as a table
        property (None inherits, empty sequence clears) — partition
        pruning narrows to dirs, these narrow to files within them
        (pre-shape the frame, e.g. repartitionByRange on (partition,
        col), for tight per-file zones)."""
        expected = self.current_version()
        if self._replayed(txn):
            return expected or 0
        eff_stats = list(stats_cols) if stats_cols is not None else self.table_props().get("stats_cols")
        props = {"stats_cols": list(eff_stats)} if eff_stats else {}
        parts, ptype = self._write_partitions(df, props)
        return self._commit_manifest(parts, ptype, expected, txn, props=props)

    def _attach_pcol(self, base: DataFrame, manifest: dict, vals: list[str]) -> DataFrame:
        """Re-attach the partition column from the manifest mapping: each
        dir holds ONE value, so derive it from the dir NAME in the file
        path (input_file_name carries a file:// scheme prefix, so match
        the unique p_<hex> segment rather than the full path)."""
        parts = manifest["partitions"]
        if vals:
            mapping = F.create_map(*[x for v in vals for x in (F.lit(parts[v]), F.lit(v))])
            dirname = F.regexp_extract(F.input_file_name(), r"/(p_[0-9a-f]{32})/", 1)
            value = mapping[dirname]
        else:
            value = F.lit(None)
        return base.withColumn(self.pcol, value.cast(manifest["ptype"]))

    def _read_dirs(self, manifest: dict, values: Sequence[str] | None = None) -> DataFrame:
        parts = manifest["partitions"]
        vals = list(parts) if values is None else [v for v in values if v in parts]
        if vals:
            base = self.spark.read.parquet(*[os.path.join(self.root, parts[v]) for v in vals])
        else:
            # empty selection with the right schema: zero-row frame from
            # any referenced dir, or a truly empty table is an error
            if not parts:
                raise FileNotFoundError(f"empty table at {self.root}")
            any_dir = next(iter(parts.values()))
            base = self.spark.read.parquet(os.path.join(self.root, any_dir)).limit(0)
        return self._attach_pcol(base, manifest, vals)

    def read(self, version: int | None = None) -> DataFrame:
        v = self._resolve(version)
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        return self._read_dirs(self._manifest(v))

    def partition_dirs(self, version: int | None = None) -> dict:
        """{partition value -> dir name} — the identity-reuse audit
        surface (untouched partitions keep their dir across versions)."""
        return dict(self._manifest(self._resolve(version))["partitions"])

    def read_pruned(
        self,
        col: str,
        lo,
        hi,
        values: Sequence[str] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """The full pruning chain in one read: partition pruning
        (``values``) narrows to dirs, per-file zone maps narrow to
        files WITHIN each dir, the residual ``col BETWEEN lo AND hi``
        keeps the result exact regardless of pruning quality. Fail-open
        at every level: a dir without ``_stats.json`` (written before
        stats_cols was set, or carried from such a version) contributes
        all its files."""
        manifest = self._manifest(self._resolve(version))
        parts = manifest["partitions"]
        vals = list(parts) if values is None else [x for x in values if x in parts]
        pred = F.col(col).between(lo, hi)
        keep: list[str] = []
        for val in vals:
            dpath = os.path.join(self.root, parts[val])
            stats = _load_json(os.path.join(dpath, STATS), {})
            keep += [
                os.path.join(dpath, fn)
                for fn in sorted(os.listdir(dpath))
                if fn.endswith(".parquet") and _zone_hit(stats.get(fn, {}), col, lo, hi)
            ]
        if not keep:
            return self._read_dirs(manifest, []).where(pred)
        return self._attach_pcol(self.spark.read.parquet(*keep), manifest, vals).where(pred)

    def upsert(
        self,
        updates: DataFrame,
        keys: Sequence[str],
        txn: tuple[str, int] | None = None,
    ) -> int:
        """MERGE that rewrites ONLY the partitions present in
        ``updates``; every other partition rides into the new manifest
        by reference. The touched-value collect is partition-count
        scale (driver-safe); the merge job reads just the touched dirs.
        ``txn=(app_id, txn_version)`` makes the commit idempotent via
        the pointer's transaction ledger (see AtomicTable.upsert). An
        empty table is a full ``write`` of ``updates``."""
        expected = self.current_version()
        if self._replayed(txn):
            return expected or 0
        if expected is None:
            return self.write(updates, txn=txn)
        manifest = self._manifest(expected)
        touched = [
            str(r[0])
            for r in updates.select(F.col(self.pcol).cast("string")).distinct().collect()
        ]
        old_touched = self._read_dirs(manifest, touched)
        merged = M.upsert(old_touched, updates, keys)
        # schema-stability contract (the Delta posture): the merge can
        # silently widen types (e.g. DECIMAL(18,2)+5 -> 19,2), which
        # would leave THIS commit's dirs schema-divergent from the
        # carried-by-reference ones and break multi-dir reads — cast
        # back to the standing table schema
        merged = merged.select(
            *[F.col(f.name).cast(f.dataType) for f in old_touched.schema.fields]
        )
        props = manifest.get("table_props", {})
        parts, ptype = self._write_partitions(merged, props, manifest["partitions"])
        return self._commit_manifest(parts, ptype, expected, txn, props=props)

    def delete_partitions(self, values: Sequence[str]) -> int:
        """Drop whole partitions — a manifest-only commit, no data job."""
        expected = self.current_version()
        manifest = self._manifest(expected)
        parts = {v: d for v, d in manifest["partitions"].items() if v not in set(values)}
        return self._commit_manifest(parts, manifest["ptype"], expected)

    def vacuum(self, keep: int = 2) -> list[str]:
        """Remove partition dirs referenced by NO retained manifest
        (``_retained(keep)`` names the manifests kept) plus orphaned
        staging dirs; returns removed dirs."""
        vdir = os.path.join(self.root, "_versions")
        versions = self._disk_versions()
        retained = self._retained(keep)
        for v in versions:
            if v not in retained:
                os.unlink(os.path.join(vdir, f"{v}.json"))
        live = set()
        for v in retained:
            if v in versions:
                live.update(self._manifest(v)["partitions"].values())
        removed = []
        for d in os.listdir(self.root):
            if d.startswith("p_") and d not in live:
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
                removed.append(d)
        shutil.rmtree(os.path.join(self.root, "_staging"), ignore_errors=True)
        return removed


def compact_partition(
    table: PartitionedAtomicTable, value: str, n_files: int = 1
) -> int:
    """Layout maintenance for one partition of a PartitionedAtomicTable:
    rewrite that partition's (possibly many small) files into
    ``n_files``, commit as a new version — every OTHER partition rides
    along by reference, so compaction cost is one partition's data, and
    readers see old-or-new atomically (the streaming-ingest small-file
    problem, solved per partition). The rewritten dir gets the table's
    zone maps, like any other commit."""
    expected = table.current_version()
    manifest = table._manifest(expected)
    if value not in manifest["partitions"]:
        raise KeyError(f"no partition {value!r}")
    part_df = table._read_dirs(manifest, [value]).coalesce(n_files)
    props = manifest.get("table_props", {})
    parts, _ = table._write_partitions(part_df, props, manifest["partitions"])
    return table._commit_manifest(parts, manifest["ptype"], expected, props=props)


def table_changes(
    table, v_from: int, v_to: int, keys: Sequence[str]
) -> DataFrame:
    """Change Data Feed between two committed versions of an
    AtomicTable or PartitionedAtomicTable — Delta's ``table_changes``
    on the manifest-swap protocol: because versions are IMMUTABLE, the
    feed is derivable exactly, after the fact, for any retained version
    pair (no change capture at write time needed).  Emits every row
    with ``change_type`` in insert/update/delete (updates carry the NEW
    image; deletes the old — sinks/merge.py:snapshot_diff semantics).
    One keyed full-outer join between the two snapshots; downstream
    consumers feed it straight into incremental_agg.merge_delta /
    incremental_join.merge_join_delta (update = delete+insert pair
    after the standard CDC re-encoding)."""
    return M.snapshot_diff(table.read(v_from), table.read(v_to), keys)
