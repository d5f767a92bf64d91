"""Snapshot table: a minimal Iceberg-style table format for triple tables.

BASELINE.json's north star materializes the final graph as "partitioned
Iceberg triple tables"; the reference generator only serializes one rdflib
graph file per run (reference claimskg/export.py:64-70 — serialize to a
single output path), so incremental corpus loads re-emit the whole graph.
This module supplies the table-format layer Spark itself lacks without the
Iceberg runtime jars (absent in this environment): manifest-listed parquet
files, atomic snapshot commits, appends, overwrites, time travel, and
manifest-level file skipping from per-file column stats.

Layout (all metadata is plain JSON so any engine — DuckDB, pandas, a human
— can audit it):

    table_dir/
      data/<snapshot_id>/part-*.parquet      one directory per commit
      _manifests/snap-<10-digit id>.json     immutable snapshot manifests
      _current                               atomic pointer (text, snap id)

A manifest records the FULL file list of its snapshot (Iceberg-style:
readers never list data directories), the schema, the operation, the
parent id, and per-file stats: row count, byte size, and min/max of the
configured stat columns.

Scale posture:

- Planning is O(manifest), not O(storage listing): a reader opens one
  JSON, prunes files by stats, and hands Spark an explicit file list.
  At 10^12-row scale the manifest holds one entry per parquet file (a
  few 100k entries at healthy file sizes) — the same driver-side budget
  Iceberg's avro manifests target.
- Commits are optimistic + atomic: the manifest is FULLY WRITTEN to a
  temp file (fsync'd) and then CLAIMS its snapshot id with os.link — an
  atomic first-writer-wins publish of a complete file, so a manifest
  that exists is always readable; there is no window where snap-N.json
  is truncated or mid-write.  `_current` advances monotonically under an
  flock'd pointer lock, so a slow committer can never move the pointer
  backwards over a newer snapshot.  A writer that crashes between the
  manifest link and the pointer advance leaves a complete ORPHAN
  manifest: the next committer that loses the id race to it validates
  and ADOPTS it (advances `_current` to it) instead of wedging — the
  crash costs at most one adopted snapshot, never a stuck table.  Data
  files are written BEFORE the manifest, so a failed commit leaves only
  unreferenced files (safe to garbage-collect), never a corrupt table.
- Stats-based skipping: min/max per stat column per file; a reader
  predicate (col, op, literal) drops files whose range cannot match —
  partition pruning without hive directories, which is exactly how a
  pred-bucketed triple table stays one-scan-per-predicate at scale.
"""

import fcntl
import json
import os
import time
import uuid
from typing import Dict, List, Optional, Sequence, Set, Tuple

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_DIR = "_manifests"
_CURRENT = "_current"
_DATA_DIR = "data"


class SnapshotTableError(RuntimeError):
    pass


class CommitConflict(SnapshotTableError):
    """Another writer committed the snapshot id we raced for."""


def _manifest_path(table_dir: str, snapshot_id: int) -> str:
    return os.path.join(table_dir, _MANIFEST_DIR, f"snap-{snapshot_id:010d}.json")


def _schema_fingerprint(df: DataFrame) -> List[Tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def _json_stat(v):
    """Normalize a parquet-footer statistic for JSON round-tripping:
    bytes decode to str (parquet string stats); anything that is not a
    JSON scalar (date/timestamp/decimal objects) is dropped — a missing
    stat only disables skipping for that file, never correctness."""
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (int, float, str, bool)) and not isinstance(v, float) \
            or isinstance(v, float) and v == v:  # drop NaN
        return v
    return None


def _collect_file_stats(spark: SparkSession, files: Sequence[str],
                        stat_cols: Sequence[str]) -> List[Dict]:
    """Per-file row/byte counts and min/max of the stat columns.

    One parquet-footer pass per commit (only over the files THIS commit
    wrote, never the whole table), via pyarrow's row-group metadata —
    no data pages are read, the same footer-statistics source a real
    Iceberg writer harvests."""
    import pyarrow.parquet as pq

    out = []
    for path in files:
        md = pq.ParquetFile(path).metadata
        stats: Dict[str, List] = {}
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        nulls: Dict[str, int] = {}
        for col in stat_cols:
            ci = names.get(col)
            if ci is None:
                continue
            lo = hi = None
            nc = 0
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(ci).statistics
                if s is None or not s.has_min_max:
                    lo = hi = None
                    nc = None
                    break
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
                nc = None if (nc is None or s.null_count is None) \
                    else nc + s.null_count
            lo, hi = _json_stat(lo), _json_stat(hi)
            if lo is not None and hi is not None:
                stats[col] = [lo, hi]
                if nc is not None:
                    # null count enables manifest-only deletes: min/max
                    # alone cannot prove "every row matches" when the
                    # file may hold nulls (NULL matches no comparison)
                    nulls[col] = nc
        out.append({
            "path": path,
            "rows": md.num_rows,
            "bytes": os.path.getsize(path),
            "stats": stats,
            "nulls": nulls,
        })
    return out


class SnapshotTable:
    """Open (or create) a snapshot table rooted at ``table_dir``."""

    def __init__(self, spark: SparkSession, table_dir: str,
                 stat_cols: Sequence[str] = ()):
        self.spark = spark
        self.table_dir = table_dir
        self.stat_cols = list(stat_cols)
        os.makedirs(os.path.join(table_dir, _MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(table_dir, _DATA_DIR), exist_ok=True)

    # ---- metadata ----

    def current_snapshot_id(self) -> Optional[int]:
        try:
            with open(os.path.join(self.table_dir, _CURRENT)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def manifest(self, snapshot_id: Optional[int] = None) -> Dict:
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise SnapshotTableError(f"empty table: {self.table_dir}")
        try:
            with open(_manifest_path(self.table_dir, sid)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise SnapshotTableError(
                f"no snapshot {sid} in {self.table_dir}")
        except json.JSONDecodeError as exc:
            raise SnapshotTableError(
                f"unreadable manifest for snapshot {sid} in "
                f"{self.table_dir} (pre-atomic-writer debris?): {exc}")

    def snapshots(self) -> List[Dict]:
        """All snapshots, oldest first: (id, parent, operation, rows).
        Unreadable manifests (pre-atomic-writer debris) are skipped — the
        listing degrades, it never crashes; vacuum() separately refuses to
        collect while such debris exists."""
        mdir = os.path.join(self.table_dir, _MANIFEST_DIR)
        out = []
        for name in sorted(os.listdir(mdir)):
            if name.startswith("snap-") and name.endswith(".json"):
                try:
                    with open(os.path.join(mdir, name)) as f:
                        m = json.load(f)
                except (json.JSONDecodeError, FileNotFoundError):
                    continue
                out.append({
                    "snapshot_id": m["snapshot_id"],
                    "parent_id": m["parent_id"],
                    "operation": m["operation"],
                    "rows": sum(fl["rows"] for fl in m["files"]),
                    "n_files": len(m["files"]),
                })
        return out

    def stream_batch_ids(self, snapshot_id: Optional[int] = None) -> Set[int]:
        """All stream batch ids (streaming/snapshot_sink epochs) recorded
        in the parent chain of ``snapshot_id`` (default: the current
        one).  The walk stops at the newest commit that is not an append
        and records them: a fold or a compact/delete/merge of a
        stream-fed table records every epoch before it.  An empty table
        has none; a missing or unreadable manifest in the chain raises
        SnapshotTableError."""
        ids: Set[int] = set()
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        while sid is not None:
            try:
                m = self.manifest(sid)
            except SnapshotTableError as exc:
                raise SnapshotTableError(
                    f"stream epoch chain broken at snapshot {sid} ({exc}); "
                    "expire snapshots only below a fold or a "
                    "compaction") from exc
            ids.update(m.get("stream_batch_ids", []))
            if m["operation"] != "append" and "stream_batch_ids" in m:
                break
            sid = m["parent_id"]
        return ids

    def _carried_epochs(self, base: int) -> Dict:
        """``extra`` for a compact/delete/merge commit on ``base``: on a
        stream-fed table (``base`` records epochs) the rewrite records
        every epoch so far, so expiring the snapshots below it keeps
        them."""
        if "stream_batch_ids" not in self.manifest(base):
            return {}
        return {"stream_batch_ids": sorted(self.stream_batch_ids(base))}

    # ---- writes ----

    def _write_data_files(self, df: DataFrame, snapshot_id: int) -> List[str]:
        out_dir = os.path.join(self.table_dir, _DATA_DIR,
                               f"{snapshot_id:010d}-{uuid.uuid4().hex[:8]}")
        df.write.mode("error").parquet(out_dir)
        return sorted(
            os.path.join(out_dir, f) for f in os.listdir(out_dir)
            if f.endswith(".parquet"))

    def _commit(self, new_files: List[Dict], operation: str,
                schema: List[Tuple[str, str]],
                retries: int = 5,
                require_parent: Optional[int] = None,
                extra: Optional[Dict] = None) -> int:
        for _ in range(retries):
            parent = self.current_snapshot_id()
            if require_parent is not None and parent != require_parent:
                # delete/compact computed their file list FROM a specific
                # base snapshot; replaying it onto a different parent
                # would silently drop that parent's changes.  Surface the
                # conflict — the caller re-reads and retries the whole op.
                raise CommitConflict(
                    f"table advanced to snapshot {parent} while "
                    f"{operation} was computed against {require_parent}")
            sid = (parent or 0) + 1
            if parent is not None:
                pm = self.manifest(parent)
                if operation == "append":
                    if [tuple(c) for c in pm["schema"]] != schema:
                        raise SnapshotTableError(
                            f"append schema mismatch: table has "
                            f"{pm['schema']}, append has {schema}")
                    files = pm["files"] + new_files
                else:
                    files = new_files
            else:
                files = new_files
            manifest = {
                "snapshot_id": sid,
                "parent_id": parent,
                "operation": operation,
                "schema": schema,
                "stat_cols": self.stat_cols,
                "files": files,
                # caller annotations (e.g. the streaming sink's epoch ids)
                # ride INSIDE the atomic commit — no post-commit stamp
                # window
                **(extra or {}),
            }
            path = _manifest_path(self.table_dir, sid)
            # publish-then-claim: the manifest is COMPLETE on disk (fsync'd
            # temp file) before os.link atomically claims the snapshot id.
            # A manifest that exists is therefore always readable — a crash
            # anywhere in this sequence leaves either nothing (tmp is
            # uniquely named, reclaimed lazily) or a complete orphan that
            # the loser-side handler below adopts.
            tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(manifest, f, indent=1, default=str)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, path)
            except FileExistsError:
                os.unlink(tmp)
                # lost the id race.  The winner's manifest is complete (it
                # was linked the same way); if the winner crashed before
                # advancing _current, adopt its snapshot so the table can
                # never wedge on a permanent orphan.
                self._adopt_orphan(sid, path)
                continue
            os.unlink(tmp)
            self._advance_current(sid)
            return sid
        raise CommitConflict(
            f"lost {retries} commit races on {self.table_dir}")

    def _adopt_orphan(self, sid: int, path: str) -> None:
        """After losing the claim race for ``sid``: if the winner is alive
        it advances ``_current`` itself momentarily; if it crashed between
        link and advance, the manifest is a complete orphan — validate it
        and advance the pointer on its behalf (idempotent with the live
        winner doing the same).  A manifest that does not parse can only
        be pre-atomic-writer debris (current writers link complete files);
        quarantine it after a grace period so the id becomes claimable."""
        for attempt in range(2):
            cur = self.current_snapshot_id() or 0
            if cur >= sid:
                return  # winner (or a previous adopter) already advanced
            try:
                with open(path) as f:
                    m = json.load(f)
                if m.get("snapshot_id") == sid:
                    self._advance_current(sid)
                    return
            except (FileNotFoundError, json.JSONDecodeError):
                pass
            if attempt == 0:
                time.sleep(0.05)  # grace for a live legacy mid-writer
        # still unreadable: dead debris — move it aside atomically so the
        # retry loop can claim the id (never deleted: kept for forensics)
        try:
            os.rename(path, f"{path}.corrupt.{uuid.uuid4().hex[:8]}")
        except FileNotFoundError:
            pass

    def _advance_current(self, sid: int) -> None:
        """Monotonic pointer advance: under an flock'd lock so a slow
        committer (or an adopter racing the live winner) can never move
        ``_current`` backwards over a newer snapshot."""
        lock_path = os.path.join(self.table_dir, f"{_CURRENT}.lock")
        with open(lock_path, "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            cur = self.current_snapshot_id() or 0
            if cur >= sid:
                return
            tmp = os.path.join(
                self.table_dir, f"{_CURRENT}.tmp.{uuid.uuid4().hex[:8]}")
            with open(tmp, "w") as f:
                f.write(str(sid))
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(self.table_dir, _CURRENT))

    def _snapshot(self, df: DataFrame, operation: str,
                  extra: Optional[Dict] = None) -> int:
        # provisional id only names the data directory; the real id is
        # assigned at commit time (a racing writer may take ours first)
        provisional = (self.current_snapshot_id() or 0) + 1
        files = self._write_data_files(df, provisional)
        entries = _collect_file_stats(self.spark, files, self.stat_cols)
        return self._commit(entries, operation, _schema_fingerprint(df),
                            extra=extra)

    def append(self, df: DataFrame, extra: Optional[Dict] = None) -> int:
        """Commit a new snapshot = parent's files + df's files.
        ``extra``: caller annotations merged into the manifest inside the
        same atomic commit (e.g. streaming epoch ids)."""
        return self._snapshot(df, "append", extra=extra)

    def overwrite(self, df: DataFrame, extra: Optional[Dict] = None) -> int:
        """Commit a new snapshot containing ONLY df's files (the old
        snapshot stays readable by id — time travel, not deletion).
        ``extra``: caller annotations, as in ``append``."""
        return self._snapshot(df, "overwrite", extra=extra)

    def merge(self, updates: DataFrame, key: str) -> int:
        """Copy-on-write MERGE (upsert by ``key``): rows of ``updates``
        replace same-key table rows, new keys are inserted — the
        dedup-refresh / CDC-apply primitive (Iceberg/Delta MERGE INTO,
        copy-on-write strategy).

        File-granular like delete(): only files whose manifest [min, max]
        range on ``key`` can intersect the updates' key range are
        rewritten (read -> anti-join on key -> union updates); every
        other file survives as an untouched manifest entry, so a merge
        touching one hot region of a sort-clustered table (see
        operators/sampling.optimize_layout) rewrites a sliver of it.
        Parents stay time-travelable.

        Semantics guards: ``updates`` must be key-unique (multiple update
        rows for one key would be an arbitrary-winner write — rejected
        loudly, the same rule Delta's MERGE enforces); NULL-key update
        rows never match anything (SQL equality) and simply insert.
        Two driver actions by design: the key-bounds aggregate and the
        uniqueness check — both tiny.
        """
        schema = _schema_fingerprint(updates)
        base = self.current_snapshot_id()
        if base is None:
            # empty table: merge == first append (after the key guard)
            self._require_unique_keys(updates, key)
            return self._snapshot(updates, "merge")
        m = self.manifest(base)
        if [tuple(c) for c in m["schema"]] != schema:
            raise SnapshotTableError(
                f"merge schema mismatch: table has {m['schema']}, "
                f"updates have {schema}")
        self._require_unique_keys(updates, key)
        from pyspark.sql import functions as F

        bounds = updates.agg(
            F.min(key).alias("lo"), F.max(key).alias("hi")).collect()[0]
        ulo, uhi = bounds["lo"], bounds["hi"]
        kept, rewrite = [], []
        for f in m["files"]:
            rng = f["stats"].get(key)
            if ulo is None:  # updates hold only NULL keys: pure insert
                kept.append(f)
                continue
            if rng is None:
                rewrite.append(f)  # no stats -> cannot prove disjoint
                continue
            lo, hi = rng
            try:
                overlaps = not (hi < ulo or lo > uhi)
            except TypeError:
                overlaps = True  # mismatched types: cannot prove disjoint
            (rewrite if overlaps else kept).append(f)
        cols = [n for n, _t in schema]
        changed = updates.select(*cols)
        if rewrite:
            survivors = (
                self.spark.read.parquet(*[f["path"] for f in rewrite])
                .join(updates.select(key).distinct(), key, "left_anti")
            )
            changed = survivors.select(*cols).unionByName(changed)
        new_files = self._write_data_files(changed, (base or 0) + 1)
        entries = [e for e in _collect_file_stats(
            self.spark, new_files, self.stat_cols) if e["rows"] > 0]
        return self._commit(kept + entries, "merge", schema,
                            require_parent=base,
                            extra=self._carried_epochs(base))

    def _require_unique_keys(self, updates: DataFrame, key: str) -> None:
        from pyspark.sql import functions as F

        dup = (updates.where(F.col(key).isNotNull()).groupBy(key).count()
               .where("count > 1").limit(1).collect())
        if dup:
            raise SnapshotTableError(
                f"merge updates are not unique on {key!r}: e.g. "
                f"{dup[0][key]!r} appears {dup[0]['count']} times")

    # ---- delete / compact (manifest rewrites) ----

    @staticmethod
    def _delete_class(f: Dict, where: Tuple[str, str, object]) -> str:
        """Classify a file against a delete predicate from manifest stats:
        'none' (provably no row matches — keep untouched), 'all' (provably
        every row matches — drop by manifest edit alone, no data rewrite),
        or 'some' (copy-on-write rewrite).  'all' additionally requires a
        recorded null count of 0: min/max ignore nulls and a NULL matches
        no comparison, so a file with nulls can never be whole-dropped."""
        col, op, lit = where
        rng = f.get("stats", {}).get(col)
        if rng is None:
            return "some"
        lo, hi = rng
        try:
            any_match = {
                "=": lo <= lit <= hi,
                "<": lo < lit,
                "<=": lo <= lit,
                ">": hi > lit,
                ">=": hi >= lit,
            }[op]
        except TypeError:
            # literal/stat type mismatch (e.g. int literal vs string
            # stats): stats prove nothing — rewrite-filter the file.
            # Degrading to 'some' is always correct, just unpruned.
            return "some"
        if not any_match:
            return "none"
        try:
            all_match = {
                "=": lo == lit and hi == lit,
                "<": hi < lit,
                "<=": hi <= lit,
                ">": lo > lit,
                ">=": lo >= lit,
            }[op]
        except TypeError:
            return "some"
        if all_match and f.get("nulls", {}).get(col) == 0:
            return "all"
        return "some"

    def delete(self, where: Tuple[str, str, object]) -> int:
        """Delete all rows matching ``(col, op, literal)`` and commit the
        result as a new snapshot (parents stay time-travelable).

        Iceberg-style file-granularity delete: files whose stats prove no
        match survive untouched; files whose stats prove every row matches
        are dropped by pure manifest edit; only genuinely mixed files are
        rewritten (read -> anti-filter -> write).  NULL never matches a
        comparison, so NULL rows are always retained."""
        col, op, lit = where
        if op not in ("=", "<", "<=", ">", ">="):
            raise SnapshotTableError(f"unsupported delete predicate op {op!r}")
        base = self.current_snapshot_id()
        m = self.manifest(base)
        kept, rewrite = [], []
        for f in m["files"]:
            cls = self._delete_class(f, where)
            if cls == "none":
                kept.append(f)
            elif cls == "some":
                rewrite.append(f)
            # 'all': dropped — manifest-only
        entries: List[Dict] = []
        if rewrite:
            from pyspark.sql import functions as F

            c = F.col(col)
            cond = {"=": c == lit, "<": c < lit, "<=": c <= lit,
                    ">": c > lit, ">=": c >= lit}[op]
            survivors = (
                self.spark.read.parquet(*[f["path"] for f in rewrite])
                .where(c.isNull() | ~cond)
            )
            new_files = self._write_data_files(survivors, (base or 0) + 1)
            entries = [e for e in _collect_file_stats(
                self.spark, new_files, self.stat_cols) if e["rows"] > 0]
        schema = [tuple(cc) for cc in m["schema"]]
        return self._commit(kept + entries, "delete", schema,
                            require_parent=base,
                            extra=self._carried_epochs(base))

    def compact(self, target_file_bytes: int = 128 << 20) -> int:
        """Bin-pack files smaller than ``target_file_bytes`` into
        ~target-sized files and commit as a new snapshot with identical
        logical contents (row-count conservation is asserted).  Files
        already at or above the target are left untouched, so repeated
        compaction is idempotent.  Returns the new snapshot id, or the
        current one unchanged when fewer than two files qualify."""
        base = self.current_snapshot_id()
        m = self.manifest(base)
        small = [f for f in m["files"] if f["bytes"] < target_file_bytes]
        if len(small) < 2:
            return base
        big = [f for f in m["files"] if f["bytes"] >= target_file_bytes]
        n_out = max(1, -(-sum(f["bytes"] for f in small) // target_file_bytes))
        df = self.spark.read.parquet(*[f["path"] for f in small])
        new_files = self._write_data_files(df.repartition(n_out),
                                           (base or 0) + 1)
        entries = [e for e in _collect_file_stats(
            self.spark, new_files, self.stat_cols) if e["rows"] > 0]
        want = sum(f["rows"] for f in small)
        got = sum(e["rows"] for e in entries)
        if got != want:
            # abort BEFORE the manifest commit: the table is untouched and
            # the orphaned rewrite files are reclaimed by vacuum()
            raise SnapshotTableError(
                f"compaction row mismatch: rewrote {got} of {want} rows")
        schema = [tuple(cc) for cc in m["schema"]]
        return self._commit(big + entries, "compact", schema,
                            require_parent=base,
                            extra=self._carried_epochs(base))

    # ---- snapshot expiry + garbage collection ----

    def expire_snapshots(self, keep_last: int = 1) -> List[int]:
        """Drop the manifests of all but the newest ``keep_last``
        snapshots (the current one is always kept).  Returns the expired
        ids.  Data files shared with retained snapshots remain referenced;
        files referenced ONLY by expired snapshots become orphans that
        ``vacuum()`` reclaims."""
        if keep_last < 1:
            raise SnapshotTableError("keep_last must be >= 1")
        ids = sorted(s["snapshot_id"] for s in self.snapshots())
        cur = self.current_snapshot_id()
        expired = [i for i in ids[:-keep_last] if i != cur]
        for sid in expired:
            os.remove(_manifest_path(self.table_dir, sid))
        return expired

    def vacuum(self) -> List[str]:
        """Remove data files not referenced by ANY remaining manifest —
        failed-commit leftovers, files dropped by delete/compact rewrites
        whose snapshots have been expired, and writer-side _SUCCESS
        markers in otherwise-unreferenced directories.  Never touches a
        file any retained snapshot lists, so time travel over retained
        history is preserved.  Returns the removed paths."""
        mdir = os.path.join(self.table_dir, _MANIFEST_DIR)
        for name in sorted(os.listdir(mdir)):
            if name.startswith("snap-") and name.endswith(".json"):
                try:
                    with open(os.path.join(mdir, name)) as f:
                        json.load(f)
                except json.JSONDecodeError:
                    # conservative: an unreadable manifest's references are
                    # unknown, so collecting now could delete live data
                    raise SnapshotTableError(
                        f"vacuum refused: unreadable manifest {name} in "
                        f"{mdir} — quarantine or repair it first")
        # crashed-committer temp manifests: uniquely named, only ever live
        # for the instant between write and link — reclaim stale ones
        now = time.time()
        for name in os.listdir(mdir):
            if ".json.tmp." in name:
                p = os.path.join(mdir, name)
                try:
                    if now - os.path.getmtime(p) > 3600:
                        os.remove(p)
                except OSError:
                    pass
        referenced = set()
        for s in self.snapshots():
            for f in self.manifest(s["snapshot_id"])["files"]:
                referenced.add(os.path.realpath(f["path"]))
        data_root = os.path.realpath(os.path.join(self.table_dir, _DATA_DIR))
        removed = []
        for dirpath, _dirnames, filenames in os.walk(data_root,
                                                     topdown=False):
            for name in filenames:
                path = os.path.join(dirpath, name)
                real = os.path.realpath(path)
                if not real.startswith(data_root + os.sep):
                    continue
                keep = (real in referenced
                        or (not name.endswith(".parquet")
                            and any(r.startswith(dirpath + os.sep)
                                    for r in referenced)))
                if not keep:
                    os.remove(path)
                    removed.append(path)
            if dirpath != data_root:
                try:
                    os.rmdir(dirpath)  # only succeeds when fully emptied
                except OSError:
                    pass
        return sorted(removed)

    # ---- reads ----

    def _prune(self, files: List[Dict],
               where: Optional[Tuple[str, str, object]]) -> List[Dict]:
        if where is None:
            return files
        col, op, lit = where
        if op not in ("=", "<", "<=", ">", ">="):
            raise SnapshotTableError(f"unsupported skip predicate op {op!r}")
        kept = []
        for f in files:
            rng = f["stats"].get(col)
            if rng is None:
                kept.append(f)  # no stats -> cannot skip
                continue
            lo, hi = rng
            try:
                matchable = {
                    "=": lo <= lit <= hi,
                    "<": lo < lit,
                    "<=": lo <= lit,
                    ">": hi > lit,
                    ">=": hi >= lit,
                }[op]
            except TypeError:
                matchable = True  # type-mismatched literal: cannot prune
            if matchable:
                kept.append(f)
        return kept

    def read(self, snapshot_id: Optional[int] = None,
             where: Optional[Tuple[str, str, object]] = None) -> DataFrame:
        """Read a snapshot (default: current) as a DataFrame.

        ``where=(col, op, literal)`` additionally file-skips on manifest
        stats — it is a *pruning hint*, not a filter: rows from kept files
        still need the real filter applied by the caller (exactly like a
        partition-pruned scan still carries the residual predicate)."""
        m = self.manifest(snapshot_id)
        files = self._prune(m["files"], where)
        if not files:
            # preserve the schema for empty prunes
            ddl = ", ".join(f"`{n}` {t}" for n, t in
                            (tuple(c) for c in m["schema"]))
            return self.spark.createDataFrame([], ddl)
        return self.spark.read.parquet(*[f["path"] for f in files])

    def scan_stats(self, snapshot_id: Optional[int] = None,
                   where: Optional[Tuple[str, str, object]] = None) -> Dict:
        """Planning-time stats: files/rows/bytes scanned vs total."""
        m = self.manifest(snapshot_id)
        kept = self._prune(m["files"], where)
        return {
            "total_files": len(m["files"]),
            "kept_files": len(kept),
            "total_rows": sum(f["rows"] for f in m["files"]),
            "kept_rows": sum(f["rows"] for f in kept),
            "kept_bytes": sum(f["bytes"] for f in kept),
        }


def _parse_literal(raw: str):
    """Admin-CLI literal: int, then float, else string."""
    for cast in (int, float):
        try:
            return cast(raw)
        except ValueError:
            pass
    return raw


def main(argv: Optional[Sequence[str]] = None) -> int:
    """Table-maintenance admin surface:

        python -m claimskg_generator_spark.sources.snapshot_table TABLE_DIR \
            {snapshots | delete COL OP LIT | merge PARQUET --key COL |
             compact [--target-bytes N] | expire [--keep-last N] | vacuum}

    delete/merge/compact start a local Spark session; snapshots/expire/
    vacuum are pure-metadata and touch no JVM.
    """
    import argparse

    p = argparse.ArgumentParser(prog="snapshot_table",
                                description="snapshot-table maintenance")
    p.add_argument("table_dir")
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("snapshots", help="list snapshot history")
    d = sub.add_parser("delete", help="delete rows matching COL OP LITERAL")
    d.add_argument("col")
    d.add_argument("op", choices=["=", "<", "<=", ">", ">="])
    d.add_argument("lit")
    mg = sub.add_parser("merge", help="copy-on-write upsert from a "
                        "parquet path, keyed on --key")
    mg.add_argument("updates_path")
    mg.add_argument("--key", required=True)
    c = sub.add_parser("compact", help="bin-pack small data files")
    c.add_argument("--target-bytes", type=int, default=128 << 20)
    e = sub.add_parser("expire", help="drop old snapshot manifests")
    e.add_argument("--keep-last", type=int, default=1)
    sub.add_parser("vacuum", help="remove unreferenced data files")
    args = p.parse_args(argv)

    spark = None
    created = False
    if args.cmd in ("delete", "merge", "compact"):
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            # stop at exit ONLY a session this command created — never a
            # host process's live session (in-process invocation)
            spark = (SparkSession.builder.master(
                os.environ.get("SPARK_GRAFT_MASTER", "local[4]"))
                .appName("snapshot-admin").getOrCreate())
            created = True
    t = SnapshotTable(spark, args.table_dir)
    # maintenance must preserve the table's OWN stat columns, not this
    # instance's default: rewrites re-harvest stats for the same cols
    try:
        t.stat_cols = list(t.manifest().get("stat_cols", []))
    except SnapshotTableError:
        pass
    if args.cmd == "snapshots":
        for s in t.snapshots():
            print(json.dumps(s))
    elif args.cmd == "delete":
        sid = t.delete((args.col, args.op, _parse_literal(args.lit)))
        print(f"committed delete snapshot {sid}")
    elif args.cmd == "merge":
        sid = t.merge(spark.read.parquet(args.updates_path), key=args.key)
        print(f"committed merge snapshot {sid}")
    elif args.cmd == "compact":
        sid = t.compact(target_file_bytes=args.target_bytes)
        print(f"compacted into snapshot {sid}")
    elif args.cmd == "expire":
        expired = t.expire_snapshots(keep_last=args.keep_last)
        print(f"expired snapshots: {expired}")
    elif args.cmd == "vacuum":
        removed = t.vacuum()
        print(f"removed {len(removed)} unreferenced files")
    if created:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
