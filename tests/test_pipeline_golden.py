"""THE correctness gate (SURVEY.md §5.2, BASELINE.json metric): the Spark
pipeline's deduplicated triple set vs the pure-Python oracle that mirrors
the reference generator's call tree.  Target P/R = 1.0 (gate >= 0.95)."""

import pytest

from claimskg_generator_spark.oracle import ReferenceOracle
from claimskg_generator_spark.plans.pipeline import ClaimsKGPipeline, PipelineConfig
from claimskg_generator_spark.sources.synth import (
    THESAURUS_ENTRIES,
    gen_records,
    gen_rows,
    make_row,
    repeated_keyword_records,
)

N = 250


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(gen_rows(N))


def _oracle_triples(align=False):
    o = ReferenceOracle(THESAURUS_ENTRIES)
    o.generate(gen_records(N))
    if align:
        o.align_duplicated()
    return o.triples


def _pr(got, want):
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want) if want else 0.0
    return precision, recall


def test_triple_set_matches_oracle(spark, corpus):
    """The synth corpus, and a corpus whose rows repeat a keyword (the
    memo processes a keyword once per row; synth tags never repeat)."""
    repeated = repeated_keyword_records(120)
    o = ReferenceOracle(THESAURUS_ENTRIES)
    o.generate(repeated)
    inputs = [
        ("synth", corpus, _oracle_triples()),
        ("repeated keywords", spark.createDataFrame(
            [make_row(i, record=r) for i, r in enumerate(repeated)]), o.triples),
    ]
    for name, df, want in inputs:
        got = {tuple(r) for r in ClaimsKGPipeline(spark).run(df).collect()}
        precision, recall = _pr(got, want)
        if (precision, recall) != (1.0, 1.0):
            extra = sorted(got - want)[:10]
            missing = sorted(want - got)[:10]
            raise AssertionError(
                f"{name}: P={precision:.4f} R={recall:.4f}\n"
                f"EXTRA: {extra}\nMISSING: {missing}"
            )


def test_triple_set_with_align_duplicated(spark, corpus):
    pipe = ClaimsKGPipeline(spark, PipelineConfig(align_duplicated=True))
    got = {tuple(r) for r in pipe.run(corpus).collect()}
    want = _oracle_triples(align=True)
    precision, recall = _pr(got, want)
    assert (precision, recall) == (1.0, 1.0), (precision, recall)
    # sanity: alignment actually added sameAs pairs on this corpus
    assert any("sameAs" in p and "/creative_work/" in s for s, p, _, _ in want)


def test_triple_set_with_reconcile(spark, corpus):
    pipe = ClaimsKGPipeline(spark, PipelineConfig(reconcile_theta=0.25))
    got = {tuple(r) for r in pipe.run(corpus).collect()}
    o = ReferenceOracle(THESAURUS_ENTRIES)
    o.generate(gen_records(N))
    mappings = o.reconcile(0.25)
    assert mappings, "reconciliation produced no sameAs edges on this corpus"
    precision, recall = _pr(got, o.triples)
    assert (precision, recall) == (1.0, 1.0), (precision, recall)


def test_partitioning_invariance(spark, corpus):
    """Same triple set regardless of input partitioning — the distributed
    plan must not depend on row co-location (scaling-correctness prereq)."""
    pipe = ClaimsKGPipeline(spark)
    a = {tuple(r) for r in pipe.triples(corpus.repartition(1)).collect()}
    b = {tuple(r) for r in pipe.triples(corpus.repartition(13)).collect()}
    assert a == b


def test_include_body_flag(spark, corpus):
    got = {
        tuple(r)
        for r in ClaimsKGPipeline(spark, PipelineConfig(include_body=True))
        .run(corpus)
        .collect()
    }
    o = ReferenceOracle(THESAURUS_ENTRIES, include_body=True)
    o.generate(gen_records(N))
    assert _pr(got, o.triples) == (1.0, 1.0)
    assert any(p.endswith("reviewBody") for _, p, _, _ in got)
