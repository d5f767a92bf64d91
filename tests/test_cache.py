"""The materialization policy (operators/cache.py): frames are shared
through ``share`` only, and ``release`` at a query, pipeline or CLI
boundary leaves no cache behind."""

import ast
import pathlib

import pytest

from claimskg_generator_spark.operators import cache

PKG = pathlib.Path(__file__).resolve().parent.parent / "claimskg_generator_spark"
_TEXT = ("the quick brown fox jumps over the lazy dog while the cat "
         "watches from the old wooden fence near the river bank")


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_only_the_cache_module_persists():
    """Every persist, cache and clearCache call in the package goes
    through operators/cache.py, so one module owns the storage level and
    the lifetime of every cached frame."""
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "operators" / "cache.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("persist", "cache", "clearCache")):
                hits.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert hits == []


def _docs(sp):
    return sp.createDataFrame(
        [(0, _TEXT), (1, _TEXT), (2, _TEXT.replace("quick", "slow")),
         (3, "an unrelated document about parquet files and pushdown")],
        "doc_id long, text string")


def _vecs(sp):
    return sp.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.99, 0.14, 0.0]), (2, [0.0, 1.0, 0.0]),
         (3, [0.0, 0.98, 0.2]), (4, [0.0, 0.0, 1.0])],
        "vec_id long, embedding array<float>")


def _edges(sp):
    return sp.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a")],
        "src string, dst string")


def _triples(sp, objs):
    return sp.createDataFrame(
        [("s", "p", o, "uri") for o in objs],
        "subj string, pred string, obj string, okind string")


def _claims(sp):
    from claimskg_generator_spark.plans.pipeline import ClaimsKGPipeline
    from claimskg_generator_spark.sources.synth import gen_rows

    return ClaimsKGPipeline(sp).claims(sp.createDataFrame(gen_rows(30)))


def _sharing_operators():
    from claimskg_generator_spark.operators import code_kg, components, dedup
    from claimskg_generator_spark.operators import similarity, stats
    from claimskg_generator_spark.plans.pipeline import (
        ClaimsKGPipeline,
        PipelineConfig,
    )
    from claimskg_generator_spark.sources.synth import gen_rows

    def statistics(sp):
        pipe = ClaimsKGPipeline(sp)
        return stats.statistics_table(_claims(sp), pipe.config.model_uri,
                                      pipe.matchers, 0.3)

    return {
        "triangle_count": lambda sp: components.triangle_count(_edges(sp)),
        "triple_diff": lambda sp: code_kg.triple_diff(
            _triples(sp, "abc"), _triples(sp, "bcd")),
        "_minhash_banded_pairs": lambda sp: dedup.minhash_lsh_pairs(
            _docs(sp), verify_threshold=0.3),
        "simhash_near_dups": lambda sp: dedup.simhash_near_dups(_docs(sp)),
        "lsh_cosine_pairs": lambda sp: similarity.lsh_cosine_pairs(
            _vecs(sp), bands=2, planes_per_band=2, dim=3),
        "ivf_topk": lambda sp: similarity.ivf_topk(
            _vecs(sp), [0], k=2, n_centroids=2, n_iters=1),
        "neighbor_jaccard": lambda sp: components.neighbor_jaccard(
            _edges(sp)),
        "statistics_table": statistics,
        "triples_raw_reconcile": lambda sp: ClaimsKGPipeline(
            sp, PipelineConfig(reconcile_theta=0.3)).triples_raw(
                sp.createDataFrame(gen_rows(12))),
    }


@pytest.mark.parametrize("name", list(_sharing_operators()))
def test_release_leaves_no_cache(spark, name):
    spark.catalog.clearCache()
    _sharing_operators()[name](spark).count()
    cache.release()
    assert _cache_empty(spark)


def test_release_skips_frames_of_a_stopped_session():
    """A process that stops its session and starts another (bench.py's
    sections) still releases: the stopped session's frames have no cache
    left to unpersist, and unpersisting them would raise."""
    from types import SimpleNamespace

    ctx = SimpleNamespace(_jsc=None)
    cache._shared.append(SimpleNamespace(
        sparkSession=SimpleNamespace(sparkContext=ctx)))
    cache.release()
    assert cache._shared == []


def test_query_build_releases_previous_query(spark, tmp_path):
    """q116 fills a shared copy of the code-KG lift; building q98 next
    must find none of it, so q98's plan reads no other query's cache."""
    from claimskg_generator_spark.queries import code_kg as q

    _docs(spark).write.parquet(str(tmp_path / "documents.parquet"))
    spark.catalog.clearCache()
    q.q116_kg_rdfs_entailment(spark, str(tmp_path)).count()
    assert not _cache_empty(spark)
    plan = q.q98_code_kg_triples(spark, str(tmp_path))._jdf \
        .queryExecution().optimizedPlan().toString()
    assert _cache_empty(spark)
    assert "InMemoryRelation" not in plan


def test_pipeline_checkpoint_keeps_caller_cache(spark, tmp_path):
    """ClaimsKGPipeline.triples frees what it shared after its eager
    checkpoint write, and leaves a frame its caller cached alone."""
    from claimskg_generator_spark.plans.pipeline import (
        ClaimsKGPipeline,
        PipelineConfig,
    )
    from claimskg_generator_spark.sources.synth import gen_rows

    spark.catalog.clearCache()
    own = spark.range(50).selectExpr("id * 3 AS x")
    own.cache().count()
    pipe = ClaimsKGPipeline(spark, PipelineConfig(
        checkpoint_dir=str(tmp_path / "ck"), input_id="caller-cache"))
    assert pipe.triples(spark.createDataFrame(gen_rows(20))).count() > 0
    assert own.storageLevel.useMemory
    cached = spark._jsparkSession.sharedState().cacheManager().cachedData()
    assert cached.size() == 1
    own.unpersist()


def test_product_session_coalesces_shared_frames(spark):
    """Under the CLIs' session settings AQE coalesces the shuffles below a
    shared frame: at Spark's default 200 shuffle partitions no cached RDD
    of a pipeline run keeps 200 partitions, and the triple set is the one
    the test session's settings give."""
    from claimskg_generator_spark.plans.pipeline import ClaimsKGPipeline
    from claimskg_generator_spark.session import product_session
    from claimskg_generator_spark.sources.synth import synthesize_corpus

    # two input partitions: a one-partition corpus needs no shuffle at all
    corpus = synthesize_corpus(spark, 40, partitions=2)
    want = {tuple(r) for r in ClaimsKGPipeline(spark).triples(corpus)
            .collect()}
    cache.release()

    def cached_rdds():
        return {i.id(): i.numPartitions() for i in
                spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = cached_rdds()
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, "200")
    try:
        with product_session("coalesce-test"):
            triples = ClaimsKGPipeline(spark).triples(corpus)
            assert triples.count() == len(want)
            parts = {i: n for i, n in cached_rdds().items()
                     if i not in before}
            assert parts and max(parts.values()) < 200, parts
            got = {tuple(r) for r in triples.collect()}
    finally:
        spark.conf.set(key, saved)
    assert got == want
