"""Byte-level golden tests over the standard 200-row corpus.

``test_ntriples_byte_parity``: the pipeline's N-Triples sink must
reproduce the checked-in fixture exactly (fixture generated once by the
oracle; serialization covered end-to-end).

``test_sink_bytes_pinned``: every other RDF text sink (plans/sinks.py)
must reproduce the sha256 pinned in ``golden/sink_sha256.json``, taken
over the sink's part files concatenated in name order (each part is a
sorted range of the document, so the concatenation is the document).
N-Quads is pinned with the claims CLI's per-predicate-family graphs.
Regenerate the pins with ``PYTHONPATH=. python tests/test_golden_ntriples.py``
when a sink's output is meant to change."""

import glob
import hashlib
import json
import os
import tempfile

import pytest

from claimskg_generator_spark.plans.pipeline import ClaimsKGPipeline, PipelineConfig
from claimskg_generator_spark.plans.sinks import (
    FORMATS,
    pred_family_graph,
    with_graph,
)
from claimskg_generator_spark.sources.synth import gen_rows

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(REPO, "golden", "claims_200.nt")
PINS = os.path.join(REPO, "golden", "sink_sha256.json")
PINNED_FORMATS = ("turtle", "json-ld", "xml", "nquads")


def _golden_triples(spark):
    pipe = ClaimsKGPipeline(spark, PipelineConfig(align_duplicated=True))
    return pipe, pipe.run(spark.createDataFrame(gen_rows(200)))


def _sink_sha256(triples, fmt: str) -> str:
    if fmt == "nquads":
        triples = with_graph(triples, pred_family_graph("urn:claimskg:graph:"))
    out = tempfile.mkdtemp(prefix="golden_sink_") + "/doc"
    FORMATS[fmt](triples, out)
    digest = hashlib.sha256()
    for part in sorted(glob.glob(out + "/part-*")):
        with open(part, "rb") as f:
            digest.update(f.read())
    return digest.hexdigest()


@pytest.fixture(scope="module")
def golden_triples(spark):
    _pipe, triples = _golden_triples(spark)
    triples = triples.cache()
    yield triples
    triples.unpersist()


def test_ntriples_byte_parity(spark):
    with open(GOLDEN) as f:
        want = sorted(l for l in f.read().splitlines() if l)

    pipe, triples = _golden_triples(spark)
    out = tempfile.mkdtemp(prefix="golden_nt_") + "/nt"
    pipe.write_ntriples(triples, out)
    got = sorted(r["value"] for r in spark.read.text(out).collect())

    assert len(got) == len(want), (len(got), len(want))
    diff = [(g, w) for g, w in zip(got, want) if g != w]
    assert not diff, diff[:5]


@pytest.mark.parametrize("fmt", PINNED_FORMATS)
def test_sink_bytes_pinned(golden_triples, fmt):
    with open(PINS) as f:
        want = json.load(f)[fmt]
    assert _sink_sha256(golden_triples, fmt) == want


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    session = (SparkSession.builder.master("local[4]")
               .config("spark.sql.shuffle.partitions", "8")
               .config("spark.sql.session.timeZone", "UTC")
               .config("spark.ui.enabled", "false").getOrCreate())
    _pipe, frame = _golden_triples(session)
    frame = frame.cache()
    with open(PINS, "w") as f:
        json.dump({fmt: _sink_sha256(frame, fmt) for fmt in PINNED_FORMATS},
                  f, indent=1)
        f.write("\n")
