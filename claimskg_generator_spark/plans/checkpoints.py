"""Stage checkpointing: each pipeline stage can persist its output as
Parquet and later runs resume by reading the materialized stage instead of
recomputing (north_rule: checkpoint-resumable at stage boundaries).  This
replaces the reference's Redis memo caches (reference
claimskg/util/sparql/sparql_offset_fetcher.py:55-74) with idempotent,
cluster-wide stage artifacts.  This module alone decides what resumes:

- Anchor: sha256 over the run's input identity (a durable name such as
  ``synth:<n>:<seed>`` or a path + its ``input_fingerprint``, else the
  input frame's ``plan_token``), the run's settings and ``source_digest``
  of this package, so new code never resumes what older code built.
- Chain: a stage's token is sha256 over the upstream stage's token (the
  anchor for the first), its name and the settings it adds; the manager
  threads it, so a stage whose identity changes invalidates every
  stage after it.
- Commit once: ``commit_once`` runs a side-effecting commit unless its
  chained ``_IDENTITY.<token>`` marker exists.
- No anchor, no resume: an unanchored manager chains no token.

A materialized stage resumes only with both its identity marker and the
Parquet ``_SUCCESS`` marker.  Every check and marker write goes through
the Hadoop FileSystem API, so checkpoints work on HDFS/S3/GCS too.
"""

import functools
import hashlib
import importlib.resources
import json
import time
from typing import Callable, Optional, Union

from pyspark.sql import DataFrame, SparkSession


def input_fingerprint(spark: SparkSession, path: str,
                      content_probe: bool = False,
                      probe_bytes: int = 65536) -> str:
    """Content identity for a file-based input: recursive Hadoop FS listing
    hashed over (file path, length, modification time).  Binding this into
    the checkpoint token means overwriting the input files at the SAME path
    invalidates old checkpoints — a bare path string would silently resume
    stale stages.  Listing-level (not byte-level) so it stays O(#files) on
    HDFS/S3/GCS; object stores change mtime on every overwrite.

    Granularity caveat (documented tradeoff): an overwrite with SAME-SIZE
    content inside the filesystem's mtime resolution (1 s on ext3/HFS+,
    2 s on FAT; coarser on some object-store emulations) is invisible to
    the default listing-level fingerprint and would silently resume a
    stale checkpoint.  ``content_probe=True`` closes that window by also
    hashing each file's first and last ``probe_bytes`` (two ranged reads
    per file — cheap on HDFS and exactly two ranged GETs on S3/GCS, but
    no longer O(#files) metadata-only); it is off by default and exposed
    as the CLI's ``--checkpoint-content-probe``."""
    jvm = spark._jvm
    jp = jvm.org.apache.hadoop.fs.Path(path)
    fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
    entries = []
    it = fs.listFiles(jp, True)
    while it.hasNext():
        st = it.next()
        entry = (
            f"{st.getPath().toUri().getPath()}\x00{st.getLen()}"
            f"\x00{st.getModificationTime()}"
        )
        if content_probe:
            entry += "\x00" + _edge_block_digest(
                jvm, fs, st.getPath(), st.getLen(), probe_bytes)
        entries.append(entry)
    h = hashlib.sha256()
    for e in sorted(entries):
        h.update(e.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _edge_block_digest(jvm, fs, jpath, length: int, probe_bytes: int) -> str:
    """sha256 over the first and last ``probe_bytes`` of a file via two
    ranged Hadoop FS reads (a seek on an FSDataInputStream maps to a
    ranged GET on object stores).  Parquet puts its schema in the header
    and the row-group index in the footer, so same-size overwrites with
    different data virtually always differ in one of the two blocks."""
    h = hashlib.sha256()
    stream = fs.open(jpath)
    try:
        for start in sorted({0, max(length - probe_bytes, 0)}):
            stream.seek(start)
            want = min(probe_bytes, length - start)
            baos = jvm.java.io.ByteArrayOutputStream(max(want, 1))
            # bound the range with commons-io (ships with Spark), then the
            # unambiguous (in, out, int buffSize, boolean close) copyBytes
            # drains it; byte[] comes back to Python as bytes
            bounded = jvm.org.apache.commons.io.input.BoundedInputStream(
                stream, want)
            jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                bounded, baos, 8192, False)
            h.update(bytes(baos.toByteArray()))
    finally:
        stream.close()
    return h.hexdigest()[:16]


def plan_token(df: DataFrame) -> str:
    """Identity of an input with no durable name: its canonicalized
    logical plan (semanticHash, process-stable over file scans and local
    relations)."""
    return _digest(str(df.semanticHash()))


@functools.lru_cache(maxsize=None)
def source_digest() -> str:
    """sha256 over every module of this package (relative path + bytes),
    computed once per process.  Read through importlib.resources, so a
    ``--py-files`` zip hashes like a checkout."""
    h = hashlib.sha256()
    for rel, data in _py_sources(importlib.resources.files(
            __package__.partition(".")[0])):
        h.update(rel.encode() + b"\x00" + hashlib.sha256(data).digest())
    return h.hexdigest()[:16]


def _py_sources(node, prefix: str = ""):
    for child in sorted(node.iterdir(), key=lambda c: c.name):
        rel = prefix + child.name
        if child.is_dir():
            yield from _py_sources(child, rel + "/")
        elif rel.endswith(".py"):
            yield rel, child.read_bytes()


def _digest(*parts: str) -> str:
    return hashlib.sha256("\x00".join(parts).encode()).hexdigest()[:16]


class CheckpointManager:
    def __init__(self, spark: SparkSession, base_dir: Optional[str]):
        self.spark = spark
        self.base_dir = base_dir
        self.events = []  # (stage, action, wall_s, path)
        # token of the last stage in the chain (the anchor before the
        # first stage); None until anchor() -> nothing resumes
        self._head: Optional[str] = None

    def anchor(self, identity: Union[str, DataFrame], settings: str = "") -> None:
        """(Re)start the chain from the run's input identity — a durable
        name, or the input frame itself (hashed by ``plan_token``) — and
        the run's settings.  Re-anchoring with the same arguments replays
        the same chain, so a stage built twice in one run resumes."""
        if not self.base_dir:
            return
        if isinstance(identity, DataFrame):
            identity = plan_token(identity)
        self._head = _digest(identity, settings, source_digest())

    def _chain(self, name: str, settings: Optional[str]) -> Optional[str]:
        if self._head is not None:
            self._head = _digest(self._head, name, settings or "")
        return self._head

    # -- Hadoop FS helpers (work on any supported scheme, not just file://) --
    def _fs_path(self, *parts: str):
        jp = self.spark._jvm.org.apache.hadoop.fs.Path(
            "/".join(x.rstrip("/") for x in parts))
        return jp.getFileSystem(self.spark._jsc.hadoopConfiguration()), jp

    def _exists(self, *parts: str) -> bool:
        fs, jp = self._fs_path(*parts)
        return fs.exists(jp)

    def _path(self, name: str) -> str:
        return self.base_dir.rstrip("/") + "/" + name

    def _marked(self, name: str, token: Optional[str]) -> bool:
        return token is not None and self._exists(
            self._path(name), f"_IDENTITY.{token}")

    def _mark(self, name: str, token: Optional[str]) -> None:
        if token is not None:
            fs, jp = self._fs_path(self._path(name), f"_IDENTITY.{token}")
            fs.create(jp, True).close()

    def materialize(self, name: str, df: DataFrame,
                    token: Optional[str] = None) -> DataFrame:
        """Write-once stage boundary: skip the write when a complete,
        identity-matching checkpoint already exists (resume), else write and
        re-read so downstream stages scan Parquet instead of recomputing
        lineage.  ``token`` is the settings this stage adds to its chained
        identity (the upstream token and the stage name are the
        manager's)."""
        if not self.base_dir:
            return df
        token = self._chain(name, token)
        path = self._path(name)
        t0 = time.time()
        if self._marked(name, token) and self._exists(path, "_SUCCESS"):
            self.events.append((name, "resume", 0.0, path))
            return self.spark.read.parquet(path)
        df.write.mode("overwrite").parquet(path)
        self._mark(name, token)
        self.events.append((name, "write", time.time() - t0, path))
        return self.spark.read.parquet(path)

    def commit_once(self, name: str, commit: Callable, settings: str = "",
                    path: Optional[str] = None):
        """Commit-once stage boundary: run the side-effecting ``commit()``
        unless this chain already committed it to ``path`` (its target,
        part of its identity), so a resumed run never repeats it.  Returns
        ``commit()``'s value, or None when resumed."""
        token = self._chain(name, f"{settings}\x00{path}")
        if self._marked(name, token):
            self.events.append((name, "resume", 0.0, path))
            return None
        t0 = time.time()
        value = commit()
        self._mark(name, token)
        self.events.append((name, "write", time.time() - t0, path))
        return value

    def write_manifest(self) -> None:
        if not self.base_dir:
            return
        manifest = [
            {"stage": s, "action": a, "wall_s": round(w, 3), "path": p}
            for s, a, w, p in self.events
        ]
        blob = json.dumps(manifest, indent=1)
        fs, jp = self._fs_path(self.base_dir, "manifest.json")
        out = fs.create(jp, True)
        out.write(bytearray(blob.encode()))
        out.close()
