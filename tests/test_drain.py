"""The streaming driver (streaming/drain.py) and the epoch-idempotent
appender (streaming/snapshot_sink.py): one module owns every stream's
source, trigger and sink, and a replayed epoch never lands twice — also
after a maintainer's fold and the expiry of the snapshots below it."""

import ast
import os
import pathlib
import tempfile

import pytest

from claimskg_generator_spark.sources.snapshot_table import (
    SnapshotTableError,
    _manifest_path,
)
from claimskg_generator_spark.streaming.snapshot_sink import (
    SnapshotTableStreamWriter,
    committed_stream_batch_ids,
)

PKG = pathlib.Path(__file__).resolve().parent.parent / "claimskg_generator_spark"


def test_only_the_driver_starts_streams():
    """Every readStream, writeStream and trigger in the package goes
    through streaming/drain.py, so one module owns how a stream is read,
    triggered and checkpointed."""
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "streaming" / "drain.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Attribute)
                    and node.attr in ("readStream", "writeStream")) or (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "trigger"):
                hits.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert hits == []


def _histogram(spark, tbl):
    from claimskg_generator_spark.streaming.sketch_stream import (
        HistogramSketchMaintainer,
    )
    m = HistogramSketchMaintainer(spark, tbl, "v", 0.0, 10.0, 4, by=["g"])
    frames = [spark.createDataFrame([("a", float(i))], "g string, v double")
              for i in range(3)]
    return m, frames, m.registers, m.compact_registers


def _void(spark, tbl):
    from claimskg_generator_spark.streaming.void_stream import (
        VoidSketchMaintainer,
    )
    m = VoidSketchMaintainer(spark, tbl, p=4)
    frames = [spark.createDataFrame([(f"s{i}", "p", "o")],
                                    "subj string, pred string, obj string")
              for i in range(3)]
    return m, frames, m.sketch, m.compact


def _charset(spark, tbl):
    from claimskg_generator_spark.streaming.charset_stream import (
        CharsetStateMaintainer,
    )
    m = CharsetStateMaintainer(spark, tbl)
    frames = [spark.createDataFrame([(f"s{i}", "p", "o")],
                                    "subj string, pred string, obj string")
              for i in range(3)]
    return m, frames, m.state, m.compact


def _code_kg(spark, tbl):
    from claimskg_generator_spark.sources.codesynth import code_files
    from claimskg_generator_spark.streaming.code_kg_stream import (
        CodeKGMaintainer,
    )
    m = CodeKGMaintainer(spark, tbl)
    frames = [code_files(spark.createDataFrame(
        [(i, f"alpha beta{i}")], "doc_id bigint, text string"))
        for i in range(3)]
    return m, frames, m.graph, m.compact_graph


@pytest.mark.parametrize("make", [_histogram, _void, _charset, _code_kg],
                         ids=["histogram", "void", "charset", "code_kg"])
def test_replay_after_fold_and_expiry_is_skipped(spark, make):
    """A maintainer's fold records every epoch it folds; once the
    snapshots below it are expired, a fresh maintainer still skips a
    replayed epoch instead of counting it twice."""
    tbl = tempfile.mkdtemp(prefix="claimskg_fold_") + "/tbl"
    m, frames, view, compact = make(spark, tbl)
    for epoch, frame in enumerate(frames):
        m(frame, batch_id=epoch)
    compact()
    m.table.expire_snapshots(keep_last=1)
    want = sorted(map(tuple, view().collect()))

    fresh, _, fresh_view, _ = make(spark, tbl)
    fresh(frames[1], batch_id=1)
    assert sorted(map(tuple, fresh_view().collect())) == want
    assert committed_stream_batch_ids(fresh.table) == {0, 1, 2}


def test_broken_epoch_chain_raises(spark):
    """A missing manifest mid-chain is an error, not a shorter epoch set:
    answering with a partial set would let a replay land twice."""
    tbl = tempfile.mkdtemp(prefix="claimskg_chain_") + "/tbl"
    w = SnapshotTableStreamWriter(spark, tbl)
    for epoch in range(3):
        w(spark.createDataFrame([(epoch,)], "x bigint"), batch_id=epoch)
    assert committed_stream_batch_ids(w.table) == {0, 1, 2}
    assert committed_stream_batch_ids(
        SnapshotTableStreamWriter(spark, tbl + "_empty").table) == set()

    os.remove(_manifest_path(tbl, 2))
    with pytest.raises(SnapshotTableError, match="broken at snapshot 2"):
        committed_stream_batch_ids(w.table)


@pytest.mark.parametrize("maintain", [
    lambda t: t.compact(),
    lambda t: t.delete(("x", "=", 99)),
    lambda t: t.merge(t.spark.createDataFrame([(1,)], "x bigint"), "x"),
], ids=["compact", "delete", "merge"])
def test_replay_after_table_maintenance_and_expiry(spark, maintain):
    """The table's own compact/delete/merge on a stream-fed table record
    the epoch set like a fold, so expiring everything below them neither
    breaks the chain nor lets a replayed epoch land twice."""
    tbl = tempfile.mkdtemp(prefix="claimskg_maint_") + "/tbl"
    w = SnapshotTableStreamWriter(spark, tbl)
    for epoch in range(3):
        w(spark.createDataFrame([(epoch,)], "x bigint"), batch_id=epoch)
    maintain(w.table)
    w.table.expire_snapshots(keep_last=1)
    rows = w.table.read().count()

    fresh = SnapshotTableStreamWriter(spark, tbl)
    fresh(spark.createDataFrame([(1,)], "x bigint"), batch_id=1)
    assert fresh.table.read().count() == rows
    fresh(spark.createDataFrame([(3,)], "x bigint"), batch_id=3)
    assert fresh.table.read().count() == rows + 1
    assert committed_stream_batch_ids(fresh.table) == {0, 1, 2, 3}
