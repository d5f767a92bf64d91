"""Physical-plan discipline checks: filters reach the parquet scan, columns
are pruned per consumer, dictionary joins broadcast, and the pipeline's
shuffle count stays at its designed minimum."""

import re
import tempfile

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    jvm = df.sparkSession.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    from claimskg_generator_spark.queries import claims as e

    plan = _plan(e.q01_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan


def test_column_pruning_on_scan(spark):
    from claimskg_generator_spark.queries import claims as e

    plan = _plan(e.q01_pricing_summary(spark, SF))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_returnflag", "l_linestatus", "l_quantity",
                    "l_extendedprice", "l_discount", "l_shipdate"}


def test_rating_join_is_broadcast(spark):
    from claimskg_generator_spark.plans.pipeline import ClaimsKGPipeline, PipelineConfig
    from claimskg_generator_spark.sources.synth import gen_rows

    pipe = ClaimsKGPipeline(spark, PipelineConfig(materialize_parsed=False))
    claims = pipe.claims(spark.createDataFrame(gen_rows(30)))
    plan = _plan(claims)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_family_prunes_parsed_columns(spark):
    """A family that doesn't read mention arrays must not scan them from
    the parsed parquet."""
    from claimskg_generator_spark.operators.row_triples import (
        single_pass_row_triples,
    )
    from claimskg_generator_spark.plans.pipeline import ClaimsKGPipeline, PipelineConfig
    from claimskg_generator_spark.sources.claims import parse_records
    from claimskg_generator_spark.sources.synth import gen_rows

    path = tempfile.mkdtemp(prefix="parsed_") + "/p"
    parse_records(spark.createDataFrame(gen_rows(50))).write.parquet(path)
    parsed = spark.read.parquet(path)
    cfg = PipelineConfig(materialize_parsed=False)
    pipe = ClaimsKGPipeline(spark, cfg)
    pipe.parsed = lambda _i: parsed
    fam = single_pass_row_triples(pipe.claims(None), cfg.model_uri,
                                  cfg.include_body, cfg.threshold)
    plan = _plan(fam)
    reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    read = ",".join(reads)
    assert "extra_entities_body" not in read
    assert "m_body" not in read
    assert "extra_refered_links" in read


def test_cosine_topk_broadcasts_queries(spark):
    from claimskg_generator_spark.queries import dedup as e

    assert "BroadcastNestedLoopJoin" in _plan(e.q11_cosine_topk(spark, SF))


def test_pipeline_shuffle_budget(spark):
    """The core pipeline (no align/reconcile) plans exactly its designed
    shuffles: the keyword-winner aggregate + distinct-keyword dedup and the
    final triple distinct; family emission itself is shuffle-free."""
    from claimskg_generator_spark.plans.pipeline import ClaimsKGPipeline, PipelineConfig
    from claimskg_generator_spark.sources.synth import gen_rows

    pipe = ClaimsKGPipeline(spark, PipelineConfig(materialize_parsed=False))
    triples = pipe.triples(spark.createDataFrame(gen_rows(30)))
    n_exchanges = _plan(triples).count("Exchange hashpartitioning")
    # designed shuffles: final triple distinct, keyword winner aggregate,
    # distinct-keyword dedup (+ their AQE reuse nodes).  The budget fails
    # loudly if the plan ever regresses into per-family shuffles (~12+).
    assert n_exchanges <= 8, n_exchanges

def test_pred_bucket_layout_prunes(spark):
    """Iceberg-style layout: a single-predicate read over the pred-bucketed
    table opens only that bucket's directory (partition pruning)."""
    import glob
    import tempfile

    from claimskg_generator_spark.plans.pipeline import (
        ClaimsKGPipeline,
        pred_bucket,
        pred_bucket_col,
    )
    from claimskg_generator_spark.sources.synth import gen_rows

    pipe = ClaimsKGPipeline(spark)
    triples = pipe.triples(spark.createDataFrame(gen_rows(80)))
    out = tempfile.mkdtemp(prefix="claimskg_pb_") + "/t"
    pipe.write_triples(triples, out, partitions=4, pred_buckets=16)

    dirs = glob.glob(out + "/pred_bucket=*")
    assert len(dirs) > 1, "expected multiple bucket directories"

    pred = "http://schema.org/reviewRating"
    got = pipe.read_triples_for_pred(out, pred, 16)
    rows = got.collect()
    assert rows and all(r["pred"] == pred for r in rows)
    want_n = triples.filter(triples.pred == pred).count()
    assert len(rows) == want_n

    # pruning evidence: every file actually READ at execution time lies in
    # the one matching bucket directory (inputFiles() would list the whole
    # unpruned relation)
    from pyspark.sql import functions as F

    b = pred_bucket(pred, 16)
    read_files = [
        r[0]
        for r in spark.read.parquet(out)
        .filter(F.col("pred_bucket") == b)
        .select(F.input_file_name()).distinct().collect()
    ]
    assert read_files and all(f"pred_bucket={b}/" in f for f in read_files)
    all_files = spark.read.parquet(out).select(
        F.input_file_name()).distinct().count()
    assert len(read_files) < all_files

    # JVM twin agrees with the portable Python bucket function
    twin = (
        spark.createDataFrame([(pred,)], "pred string")
        .select(pred_bucket_col(16).alias("b")).first()["b"]
    )
    assert twin == b


def test_turtle_grouped_subjects(spark):
    """Subject-grouped Turtle: one `s p o ; p o .` block per subject, same
    triple content as the line-per-triple form."""
    import glob
    import tempfile

    from claimskg_generator_spark.plans.pipeline import ClaimsKGPipeline
    from claimskg_generator_spark.sources.synth import gen_rows

    pipe = ClaimsKGPipeline(spark)
    triples = pipe.triples(spark.createDataFrame(gen_rows(40))).cache()
    flat_dir = tempfile.mkdtemp(prefix="claimskg_ttl_") + "/flat"
    grp_dir = tempfile.mkdtemp(prefix="claimskg_ttl_") + "/grp"
    pipe.write_turtle(triples, flat_dir)
    pipe.write_turtle(triples, grp_dir, group_subjects=True)

    def read_lines(d):
        out = []
        for f in glob.glob(d + "/part-*.txt"):
            out.extend(open(f).read().splitlines())
        return out

    def to_triples(lines):
        """normalize both forms back to (s, p, o) statement strings"""
        stmts = set()
        subj = None
        for line in lines:
            if line.startswith("@prefix") or not line.strip():
                continue
            body = line.strip()
            if subj is None:
                subj, body = body.split(" ", 1)
            assert body.endswith((";", "."))
            stmts.add(f"{subj} {body[:-1].strip()}")
            subj = None if body.endswith(".") else subj
        return stmts

    flat = to_triples(read_lines(flat_dir))
    grouped = to_triples([l.lstrip() for l in read_lines(grp_dir)])
    assert flat == grouped
    # grouping actually produced multi-statement blocks
    assert any(l.rstrip().endswith(";") for l in read_lines(grp_dir))


def test_decontamination_train_side_never_shuffles(spark):
    """q58's 100 TB posture: the train span stream must reach its
    LeftSemi probe with ZERO exchanges (broadcast semi against the
    benchmark-sized eval key set), and no sort-merge join anywhere."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q58_decontaminate(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin LeftSemi" in plan.replace("\n", " ") or \
        re.search(r"BroadcastHashJoin.*LeftSemi", plan, re.S)
    # walk the formatted tree: the LeftSemi's LEFT (streamed) child
    # subtree — everything between the semi join's left branch scan and
    # the join node — must contain no Exchange
    # simpler structural invariant: every Exchange in the plan feeds a
    # BroadcastExchange-bound small side or a post-semi aggregate, so
    # the number of shuffle Exchanges must be exactly the 3 small-side
    # ones (eval keys distinct, hits distinct, per-eval-doc rollup)
    n_shuffles = len(re.findall(r"\) Exchange\b", plan))
    assert n_shuffles == 3, plan


def test_budget_cap_two_phase_window_shape(spark):
    """q59: the big-side window must be partitioned by (group, bucket) —
    never by group alone (single-partition hot-domain trap) and never a
    global orderBy window."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q59_token_budget_mix(spark, SF))
    wins = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert wins, plan
    # every window spec carries at least one partition column; the
    # corpus-side spec partitions by both source and bucket
    assert any("source" in w and "__bc_b" in w for w in wins), wins
    assert all("source" in w for w in wins), wins


def test_temperature_mix_corpus_single_scan_gate(spark):
    """q60: the keep gate must evaluate inside the broadcast join of the
    corpus scan against the tiny rate dim — no shuffle of corpus rows
    before the gate, no sort-merge join of the corpus."""
    import __spark_entry__ as e
    from claimskg_generator_spark.operators.sampling import temperature_mix

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(temperature_mix(docs, "lang", "doc_id"))
    assert "SortMergeJoin" not in plan
    assert re.search(r"BroadcastHashJoin[\s\S]*?Join condition: .*mix_rate",
                     plan), plan


def test_dsir_models_broadcast_and_corpus_single_tokenize(spark):
    """q64: the model / totals / threshold joins must all broadcast (no
    sort-merge join of the scored corpus against anything), and with the
    feature frame persisted the text is tokenized once — the plan shows
    InMemoryTableScans feeding the model regroups and scoring branch."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q64_dsir_select(spark, SF))
    # the only SMJ allowed is the <= 16^h-row ct/cr FULL OUTER model
    # merge; the corpus-side joins are all broadcast (match only the
    # plan-tree nodes "SortMergeJoin <type> (n)", not the per-node
    # detail blocks below the tree)
    smj = re.findall(r"SortMergeJoin (\w+) \(", plan)
    assert smj and all(t == "FullOuter" for t in smj), smj
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan


def test_semantic_dedup_assignment_is_broadcast_map(spark):
    """q63: coarse assignment must ride a broadcast nested-loop of the
    ONE-ROW centroid array (a pure map in effect) — no N x C row
    explosion join; the only hash joins are the cluster-id self-join
    and the left attach of max_cos_prev."""
    from claimskg_generator_spark.queries import dedup as e

    plan = _plan(e.q63_semantic_dedup(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # one-row cents array attach


def test_triangle_count_no_cartesian_and_wedge_joins_hashed(spark):
    """q65: wedge generation and closure must be equi (hash) joins —
    never a cartesian / nested-loop over the edge set."""
    from claimskg_generator_spark.queries import graph as e

    plan = _plan(e.q65_triangle_count(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_sample_take_ordered_no_global_sort(spark):
    """q66: the global draw must plan as TakeOrderedAndProject (per-
    partition top-k heaps) — never a rangepartitioning sort of the
    corpus."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q66_weighted_sample(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_zorder_key_is_pure_map_after_bounds(spark):
    """q67: after the one-row bounds aggregate broadcasts, the key
    computation is a within-row projection — no shuffle of the events
    scan, no hash join."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q67_zorder_key(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan  # one-row bounds attach
    assert "SortMergeJoin" not in plan
    # the fact scan reaches the projection without a shuffle: the only
    # exchanges feed the bounds aggregate (and its broadcast)
    n_shuffles = len(re.findall(r"\) Exchange\b", plan))
    assert n_shuffles <= 1, plan


def test_scd2_join_single_shuffle_union_window(spark):
    """q68: the as-of composition must shuffle ONCE on (key, ts) for the
    union frame — no second exchange of fact rows, no SMJ."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q68_scd2_join(spark, SF))
    assert "SortMergeJoin" not in plan
    # exchanges: the dim's lead() window (tiny) + the union asof window
    n_shuffles = len(re.findall(r"\) Exchange\b", plan))
    assert n_shuffles <= 2, plan


def test_setjoin_verify_only_on_candidates(spark):
    """q71: verification arrays must attach to the candidate frame (the
    join inputs carry the token arrays only on the two candidate
    attaches, never through the prefix-token self-join)."""
    from claimskg_generator_spark.queries import dedup as e

    plan = _plan(e.q71_set_similarity_join(spark, SF))
    assert "CartesianProduct" not in plan
    # the prefix self-join is an equi join on the token; its inputs are
    # slim (id, n, t) projections — no 'toks' array column rides it
    m = re.search(r"Join condition: None[\s\S]*?", plan)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
        "BroadcastHashJoin" in plan


def test_minhash_cross_reference_side_broadcasts(spark):
    """q73: with broadcast_left=True the banded bucket join must be a
    BroadcastHashJoin (train side streams; zero bucket-join shuffles of
    the train corpus)."""
    from claimskg_generator_spark.queries import dedup as e

    plan = _plan(e.q73_minhash_cross(spark, SF))
    assert re.search(r"BroadcastHashJoin", plan)
    assert "CartesianProduct" not in plan


def test_hll_two_combinable_aggregates_no_join(spark):
    """q81: the whole sketch is two map-side-combinable groupBys
    (value->register, register->estimate) — no join anywhere, and the
    register fold carries partial_max (combiner) before its exchange."""
    from claimskg_generator_spark.queries import curation as e

    # the est path itself is join-free; only include_exact (the q81
    # benchmark-honesty column) adds the count-distinct attach join
    from claimskg_generator_spark.operators.sketches import hll_distinct

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = docs.select("lang", F.explode(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"))
    est_plan = _plan(hll_distinct(toks, "term", by=["lang"], p=10))
    assert "Join" not in est_plan
    assert "partial_max" in est_plan  # register fold combines map-side
    assert len(re.findall(r"\(\d+\) Exchange", est_plan)) == 2
    assert _plan(e.q81_hll_distinct(spark, SF))  # full q81 builds


def test_cdc_fold_is_combinable_no_window(spark):
    """q80: the latest-wins fold is max_by with a partial (map-side)
    phase — never a row_number window that would sort whole hot keys
    in one task."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q80_cdc_apply(spark, SF))
    assert "partial_max_by" in plan
    assert "Window" not in plan


def test_rollup_increments_stay_partial_until_merge(spark):
    """q82: each increment is one combinable groupBy; the merge is one
    more groupBy over rollup-sized rows — three exchanges total, no
    join, no window."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q82_rollup_maintenance(spark, SF))
    assert "Join" not in plan and "Window" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3, plan


def test_assign_shards_unordered_is_pure_map(spark):
    """q84: the shard id is a hash-mod row expression — with
    ordered=False the plan has NO exchange at all, and the ordered
    path adds exactly the one per-shard sort the export itself needs
    (one Exchange + one Window, no join)."""
    from claimskg_generator_spark.operators.sampling import assign_shards

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    flat = _plan(assign_shards(docs, "doc_id", 16, ordered=False))
    assert "Exchange" not in flat and "Window" not in flat

    from claimskg_generator_spark.queries import curation as e
    plan = _plan(e.q84_shard_assign(spark, SF))
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert plan.count("(1) Scan parquet") == 1


def test_grouped_quantiles_value_count_plan(spark):
    """q85: the shuffled data is the VALUE-COUNT frame (map-side
    partial_count before the exchange), every q answered in the same
    pass — two exchanges (value-count groupBy + per-group window),
    no join, one scan."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q85_grouped_quantiles(spark, SF))
    assert "partial_count" in plan
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_robust_outliers_no_cartesian_group_joins(spark):
    """q86: the med/mad frames are one-row-per-group equi-joins —
    no CartesianProduct anywhere, and the scan stays pruned to the
    three consumed columns."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q86_robust_outliers(spark, SF))
    assert "CartesianProduct" not in plan
    assert "c_name" not in plan.split("== Physical Plan ==")[-1]


def test_host_cap_no_python_udf_single_window(spark):
    """q87: canonical_host is regexp/case-fold row expressions inside
    codegen — no Python/Arrow eval node — and the cap is ONE window
    rank (one exchange)."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q87_host_cap(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Window\b(?!GroupLimit)", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    # rank <= cap pushes down: partial+final WindowGroupLimit truncate
    # each host's rows before and after the shuffle
    assert len(re.findall(r"\(\d+\) WindowGroupLimit", plan)) == 2, plan


def test_boilerplate_no_window_totals_broadcast(spark):
    """q88: reassembly is an in-row array_sort under groupBy — no
    per-group Window sort — and the one-row-per-group totals frame
    joins by broadcast."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q88_boilerplate_lines(spark, SF))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_constraint_report_single_pass_no_join(spark):
    """q89: every metric compiles into ONE aggregation over one scan —
    no join, no window; the long report is a plan-time unpivot."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q89_constraint_report(spark, SF))
    assert "Join" not in plan and "Window" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_fuse_records_combinable_no_window(spark):
    """q90: the simple survivorship rules fold in ONE combinable
    groupBy (partial max over rank structs) and mode adds count
    aggregates plus key equi-joins — no Window, no Cartesian."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q90_record_fusion(spark, SF))
    assert "Window" not in plan
    assert "partial_max" in plan
    assert "CartesianProduct" not in plan


def test_histogram_sketch_combinable_no_join(spark):
    """q91: registers fold map-side (partial_count) and stay bounded at
    groups x n_bins rows; merge is one more combinable groupBy and the
    estimate one per-group window — no join anywhere in the sketch."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q91_histogram_quantiles(spark, SF))
    assert "Join" not in plan
    assert "partial_count" in plan and "partial_sum" in plan
    assert len(re.findall(r"\(\d+\) Window\b(?!GroupLimit)", plan)) <= 2


def test_code_triples_single_exchange_no_join(spark):
    """q98: the entire triple extraction is one narrow generator stage
    (scan -> project -> Generate) feeding the set-dedup; the distinct's
    hash exchange is the ONLY shuffle, there are no joins anywhere, and
    the map side runs a partial distinct before it."""
    from claimskg_generator_spark.queries import code_kg as e

    # tests share one session: an earlier test's persisted frame (e.g.
    # triple_diff's cached deduped sides, which embed a code_triples
    # subtree) would otherwise be substituted into this plan by the
    # CacheManager and its internal exchange double-counted — the
    # property pinned here is the shape of the UNCACHED plan
    spark.catalog.clearCache()
    plan = _plan(e.q98_code_kg_triples(spark, SF))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Python" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1


def test_module_canonicalize_three_phase_shuffle(spark):
    """q99: the salted A5 shape — exactly three exchanges (salt phase 1,
    (surface, entity) merge, final surface phase), no joins; rows are
    vocabulary-bounded after phase 1."""
    from claimskg_generator_spark.queries import code_kg as e

    plan = _plan(e.q99_module_canonicalize(spark, SF))
    assert "Join" not in plan
    assert "Python" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 3


def test_module_links_vocab_bounded_window(spark):
    """q100: two-phase distinct aggregate + ONE lang-partitioned window
    over module-level rows — three exchanges total, no sort-merge join,
    no Python."""
    from claimskg_generator_spark.queries import code_kg as e

    plan = _plan(e.q100_module_links(spark, SF))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "Python" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 3
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1


def test_sparql_select_compiles_to_bgp_plan(spark):
    """q107: the TEXT face must inherit the programmatic BGP plan — a
    3-join chain over pattern slivers (never a cartesian), the pattern
    literals planned as plain Filters feeding each sliver, the
    disjunctive FILTER one Filter node, and zero Python anywhere (the
    parser runs driver-side only)."""
    from claimskg_generator_spark.queries import sparql as e

    plan = _plan(e.q107_kg_sparql_select(spark, SF))
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    assert len(re.findall(r"\(\d+\) (?:BroadcastHash|SortMerge|ShuffledHash)Join", plan)) == 3
    # Catalyst pushes the FILTER disjunction below the joins onto the
    # label pattern's own sliver — pin that pushdown
    opt = _optimized(e.q107_kg_sparql_select(spark, SF))
    assert re.search(
        r"StartsWith\(t#\d+\.obj, a\) OR Contains\(t#\d+\.obj, e\)", opt), opt


def test_sparql_agg_single_final_aggregate(spark):
    """q108: GROUP BY compiles to ONE logical aggregate after the
    binding joins (partial + final + the distinct-lang expand pass —
    never one aggregate per SPARQL aggregate item)."""
    from claimskg_generator_spark.queries import sparql as e

    plan = _plan(e.q108_kg_sparql_agg(spark, SF))
    assert "CartesianProduct" not in plan and "Python" not in plan
    assert len(re.findall(r"\(\d+\) (?:BroadcastHash|SortMerge|ShuffledHash)Join", plan)) == 2
    assert len(re.findall(r"\(\d+\) Expand", plan)) <= 1


def test_sparql_construct_one_union_set_dedup(spark):
    """q109: both template triples project the SAME binding subtree —
    one Union feeding one distinct (its exchange), no Python, no
    cartesian."""
    from claimskg_generator_spark.queries import sparql as e

    plan = _plan(e.q109_kg_sparql_construct(spark, SF))
    assert "CartesianProduct" not in plan and "Python" not in plan
    assert len(re.findall(r"\(\d+\) Union", plan)) == 1


def test_sparql_minus_is_anti_join_ask_is_limit1(spark):
    """q113/q115: MINUS compiles to a left-anti join (one per
    alternation branch here — the UNION chain anti-joins once on the
    unioned frame), never a subtract-via-join-and-filter; ASK's plan is
    the binding chain capped by a limit-1 early-out feeding one
    aggregate, no Python, no cartesian."""
    from claimskg_generator_spark.queries import sparql as e

    plan = _plan(e.q113_kg_sparql_minus_alt(spark, SF))
    assert "CartesianProduct" not in plan and "Python" not in plan
    assert "LeftAnti" in plan
    plan = _plan(e.q115_kg_sparql_ask(spark, SF))
    assert "CartesianProduct" not in plan and "Python" not in plan
    assert re.search(r"\(\d+\) (?:Global|Collect)Limit", plan), plan


def test_rdfs_entail_broadcast_rules_only(spark):
    """q116: every entailment rule is a broadcast join against a
    schema-sized literal relation — the DATA side never sort-merge
    joins or self-joins, and the only wide exchanges are the final
    set-dedup's."""
    from claimskg_generator_spark.queries import code_kg as e

    plan = _plan(e.q116_kg_rdfs_entailment(spark, SF))
    assert "CartesianProduct" not in plan and "Python" not in plan
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 4


def test_shacl_report_anti_joins_no_smj(spark):
    """q117: cardinality checks are combinable counts over
    pred-filtered slivers, minCount-zero and sh:class are left-anti
    joins, and with a broadcast-sized focus set nothing sort-merge
    joins."""
    from claimskg_generator_spark.queries import code_kg as e

    plan = _plan(e.q117_kg_shacl_report(spark, SF))
    assert "CartesianProduct" not in plan and "Python" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("LeftAnti") >= 3


def test_smush_rewrite_joins_broadcast(spark):
    """smush_sameas's two rewrite joins must broadcast the
    duplicate-proportional mapping — the 100 TB triple frame is never
    shuffled for the rewrite (the only wide exchanges are inside the
    sameAs-sliver connected_components and the final set-dedup)."""
    from claimskg_generator_spark.operators.components import smush_sameas

    same = "http://www.w3.org/2002/07/owl#sameAs"
    df = spark.createDataFrame(
        [("b", same, "a", "uri"), ("b", "p", "x", ""),
         ("y", "q", "b", "uri")],
        "subj string, pred string, obj string, okind string")
    plan = _plan(smush_sameas(df))
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2
    # neither rewrite join may degrade to a sort-merge over the data
    assert "SortMergeJoin" not in plan


def test_charsets_two_exchanges_object_hash_agg(spark):
    """characteristic_sets must be exactly two shuffles — the
    groupBy(subj) set-collection (ObjectHashAggregate with a partial
    phase, so the predicate SET travels, not the subject's rows) and
    the KB-sized fingerprint regroup."""
    from claimskg_generator_spark.operators.kg_stats import (
        characteristic_sets,
    )

    df = spark.sql(
        "SELECT * FROM (VALUES ('a','p','x'), ('a','q','y'), "
        "('b','p','x')) AS t(subj, pred, obj)")
    plan = _plan(characteristic_sets(df))
    # formatted explain renders each node in the tree AND the detail
    # section — two occurrences per physical Exchange
    assert len(re.findall(r"\+- Exchange", plan)) == 2
    assert "ObjectHashAggregate" in plan
    assert "CartesianProduct" not in plan and "Python" not in plan


def test_void_stats_no_joins_no_python(spark):
    """void_stats is pure aggregation — three scan branches (dataset
    row, property partition, class sliver), zero joins, zero UDFs."""
    from claimskg_generator_spark.operators.kg_stats import void_stats

    df = spark.sql(
        "SELECT * FROM (VALUES ('a','p','x')) AS t(subj, pred, obj)")
    plan = _plan(void_stats(df))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan and "Python" not in plan


def test_sparql_plus_path_predicate_filter_pushed(spark, tmp_path):
    """The p+ pattern's edge sliver must push its predicate literal to
    the parquet scan — the closure iterates over ONE predicate's
    edges, never the whole triple table."""
    from claimskg_generator_spark.operators.sparql import sparql_select

    df = spark.createDataFrame(
        [("a", "p", "b", "uri"), ("a", "label", "A", "")],
        "subj string, pred string, obj string, okind string")
    from claimskg_generator_spark.operators.sparql import (
        edges_from_triples,
    )

    path = str(tmp_path / "trips")
    df.write.parquet(path)
    trips = spark.read.parquet(path).select("subj", "pred", "obj")
    plan = _plan(sparql_select(
        trips, 'SELECT ?s ?l WHERE { ?s <p>+ ?t . ?t <label> ?l }',
        closure_hops=2))
    # the composed query: no cartesian, and the label pattern's literal
    # reaches its parquet scan (the closure's own edge scan is inside
    # the persisted InMemoryRelation, so it is pinned separately below)
    assert "CartesianProduct" not in plan
    assert "EqualTo(pred,label)" in plan
    edge_plan = _plan(edges_from_triples(trips, "p"))
    assert "PushedFilters" in edge_plan and "EqualTo(pred,p)" in edge_plan


def test_sparql_graph_patterns_filtered_slivers(spark, tmp_path):
    """q130: GRAPH blocks must stay filtered scans + equi-joins — the
    graph column is one more pushdown dimension, never a post-join
    filter.  Three patterns -> exactly 2 joins, no cartesian, no
    Python.  (In q130 itself the quads derive in-memory from
    code_triples and Catalyst constant-folds the graph CASE into
    pred-sliver predicates — even better than a graph filter; the
    pushdown pin below runs on a PARQUET quads table, where all three
    graph-term forms must reach the scan as PushedFilters.)"""
    from claimskg_generator_spark.queries import sparql as e
    from claimskg_generator_spark.operators.sparql import sparql_select

    plan = _plan(e.q130_kg_sparql_graph(spark, SF))
    assert "CartesianProduct" not in plan and "Python" not in plan
    assert len(re.findall(
        r"\(\d+\) (?:BroadcastHash|SortMerge|ShuffledHash)Join",
        plan)) == 2

    path = str(tmp_path / "quads.parquet")
    spark.createDataFrame(
        [("f1", "repo", "r1", "urn:g:a"), ("f1", "lang", "py",
          "urn:g:langs"), ("f1", "type", "File", None)],
        "subj string, pred string, obj string, graph string",
    ).write.parquet(path)
    q = spark.read.parquet(path)
    pplan = _plan(sparql_select(q, """
        SELECT ?f ?r ?l ?g WHERE {
          GRAPH ?g { ?f <repo> ?r }
          GRAPH <urn:g:langs> { ?f <lang> ?l }
          ?f <type> "File" .
        }"""))
    assert "IsNotNull(graph)" in pplan, pplan
    assert "EqualTo(graph,urn:g:langs)" in pplan, pplan
    assert "IsNull(graph)" in pplan, pplan


def test_bgp_charsets_order_changes_only_join_seed(spark):
    """q131: the charsets argument reorders the greedy chain but the
    plan stays the same SHAPE — 4 patterns -> 3 equi-joins over
    filtered slivers, no cartesian, no Python (the estimator runs
    driver-side on a KB-sized dict)."""
    from claimskg_generator_spark.queries import sparql as e

    plan = _plan(e.q131_kg_bgp_star_order(spark, SF))
    assert "CartesianProduct" not in plan and "Python" not in plan
    assert len(re.findall(
        r"\(\d+\) (?:BroadcastHash|SortMerge|ShuffledHash)Join",
        plan)) == 3


def test_charset_incremental_joinless_pair_regroup(spark):
    """q132: incremental charset maintenance is UNION + aggregate all
    the way down — state build, delta fold, and summary derive carry
    (subj, pred, n) PAIRS through groupBys; no join anywhere in the
    refresh path."""
    from claimskg_generator_spark.queries import code_kg as e

    plan = _plan(e.q132_kg_charsets_incremental(spark, SF))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan and "Python" not in plan
    assert "ObjectHashAggregate" in plan


def test_sparql_from_dataset_filters_before_joins(spark):
    """q133: the dataset clause compiles to graph-sliver filters + one
    set-dedup union BEFORE the pattern joins — 3 patterns over the
    constructed dataset stay 2 equi-joins, no cartesian, no Python,
    and the FROM merge is visible as exactly one dedup aggregate over
    (subj, pred, obj)."""
    from claimskg_generator_spark.queries import sparql as e

    plan = _plan(e.q133_kg_sparql_from_dataset(spark, SF))
    assert "CartesianProduct" not in plan and "Python" not in plan
    assert len(re.findall(
        r"\(\d+\) (?:BroadcastHash|SortMerge|ShuffledHash)Join",
        plan)) == 2
    # the set-merge dedup: one hash aggregate keyed on the triple
    assert re.search(r"Keys \[3\]: \[subj#\d+, pred#\d+, obj#\d+\]",
                     plan), plan


def test_sparql_subquery_aggregate_below_join(spark):
    """q134: the sub-SELECT evaluates bottom-up — its GROUP BY
    aggregate and GlobalLimit sit BELOW the outer join (top-k first,
    annotate after), no cartesian, no Python; the limit keeps the
    outer join's left side 10 rows."""
    from claimskg_generator_spark.queries import sparql as e

    plan = _plan(e.q134_kg_sparql_subquery(spark, SF))
    assert "CartesianProduct" not in plan and "Python" not in plan
    # ORDER BY + LIMIT fuses to a top-k TakeOrderedAndProject (never a
    # full sort), numbered BELOW the single outer join
    m_topk = re.search(r"\((\d+)\) TakeOrderedAndProject", plan)
    m_join = re.search(
        r"\((\d+)\) (?:BroadcastHash|SortMerge|ShuffledHash)Join", plan)
    assert m_topk and m_join, plan
    assert int(m_topk.group(1)) < int(m_join.group(1))
    assert len(re.findall(
        r"\(\d+\) (?:BroadcastHash|SortMerge|ShuffledHash)Join",
        plan)) == 1


def test_sparql_exists_semi_and_anti_joins(spark):
    """q135: FILTER EXISTS compiles to ONE left-semi join and FILTER
    NOT EXISTS to ONE left-anti join, each probing a predicate sliver
    — no cartesian, no Python, and the group frames never widen the
    output (the semi/anti join is the last thing that touches them)."""
    from claimskg_generator_spark.queries import sparql as e

    plan = _plan(e.q135_kg_sparql_exists(spark, SF))
    assert "CartesianProduct" not in plan and "Python" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_sparql_update_broadcast_anti_joins_no_g_shuffle(spark):
    """q136: apply_update's algebra is two anti-joins (kept = G ∖ D,
    new = I ∖ kept) + one Union; physically the kept subtree feeds
    BOTH union branches (G scanned twice — Spark doesn't share
    subtrees), so the plan carries THREE anti-joins, and every one
    must be a BROADCAST anti (D and I are bindings-derived slivers) —
    G itself is never repartitioned; no cartesian, no Python."""
    from claimskg_generator_spark.queries import sparql as e

    plan = _plan(e.q136_kg_sparql_update(spark, SF))
    assert "CartesianProduct" not in plan and "Python" not in plan
    antis = re.findall(r"(\w+Join) LeftAnti", plan)
    assert len(antis) == 3, plan
    assert set(antis) == {"BroadcastHashJoin"}
    assert len(re.findall(r"\(\d+\) Union", plan)) == 1


def test_sparql_star_path_zero_rows_union(spark):
    """q137: p* = the p+ closure frame UNIONed with the zero-length
    term-domain rows, set-deduped — one Union feeding a distinct
    aggregate; no cartesian, no Python."""
    from claimskg_generator_spark.queries import sparql as e

    plan = _plan(e.q137_kg_sparql_star_path(spark, SF))
    assert "CartesianProduct" not in plan and "Python" not in plan
    assert re.search(r"\(\d+\) Union", plan), plan


def test_update_request_plan(spark):
    """q139: the three-operation sequence folds into one lazy plan —
    every join is a LeftAnti / the binding Inner (never a cartesian,
    never Python), and the delete/insert-dedup right sides stay
    hash-joined.  The documented multiplicative subtree re-evaluation
    is visible as repeated scans; apply_request(persist=True) / the
    table face collapse it — here we pin only sanity, not join
    strategy (AQE resizes bindings-derived sides at runtime)."""
    from claimskg_generator_spark.queries import sparql as e

    plan = _plan(e.q139_kg_update_request(spark, SF))
    # INSERT DATA's literal relation renders as an RDD whose
    # description contains 'applySchemaToPythonRDD' — match NODES, not
    # substrings
    assert not re.search(r"\(\d+\) CartesianProduct", plan)
    assert not re.search(r"EvalPython|PythonUDF", plan)
    kinds = set(re.findall(r"\(\d+\) (\w+Join)", plan))
    assert kinds <= {"BroadcastHashJoin", "SortMergeJoin",
                     "ShuffledHashJoin"}, kinds
    assert len(re.findall(r"Join LeftAnti", plan)) >= 4


def test_graph_management_plan(spark):
    """q140: four management operations compile to ONE join total —
    the ADD's anti-join dedup against the destination sliver
    (broadcast) — everything else is filters and relabel projections:
    at 10^12 quads a management request rewrites only the touched
    graphs, never shuffling the store."""
    from claimskg_generator_spark.queries import sparql as e

    spark.catalog.clearCache()

    plan = _plan(e.q140_kg_graph_management(spark, SF))
    assert "CartesianProduct" not in plan and "Python" not in plan
    joins = re.findall(r"\(\d+\) (\w+Join)", plan)
    assert joins == ["BroadcastHashJoin"], joins


def test_graph_scoped_update_plan(spark):
    """q141: the WITH/GRAPH-scoped update keeps the q136 shape on the
    quad key — every join is a BROADCAST hash join (the binding inner
    joins + the anti-joins whose right sides are bindings-derived
    slivers); the store is never repartitioned on the quad key.
    clearCache first: a cached subtree left by another test can
    substitute into this plan (Spark's CacheManager matches plan
    fragments) and flip a broadcast decision via its statistics."""
    from claimskg_generator_spark.queries import sparql as e

    spark.catalog.clearCache()
    plan = _plan(e.q141_kg_graph_scoped_update(spark, SF))
    assert "CartesianProduct" not in plan and "Python" not in plan
    joins = set(re.findall(r"\(\d+\) (\w+Join)", plan))
    assert joins == {"BroadcastHashJoin"}, joins
    assert len(re.findall(r"Join LeftAnti", plan)) >= 3


def test_negated_pset_plan(spark):
    """q142: the negated property set is ONE filtered scan (pred
    NOT IN pushed into the scan filter) joined on the shared variable
    — never a widening construct; bag semantics add no distinct."""
    from claimskg_generator_spark.queries import sparql as e

    spark.catalog.clearCache()

    plan = _plan(e.q142_kg_sparql_negated_pset(spark, SF))
    assert "CartesianProduct" not in plan and "Python" not in plan
    joins = set(re.findall(r"\(\d+\) (\w+Join)", plan))
    assert joins == {"BroadcastHashJoin"}, joins
    assert "NOT" in plan and not re.search(
        r"\(\d+\) HashAggregate.*distinct", plan)


def test_sparql_load_plan(spark):
    """q143: LOAD is the driver-parsed literal relation anti-joined
    (dedup) against the store and unioned in — ONE join, and the
    store side is never repartitioned."""
    from claimskg_generator_spark.queries import sparql as e

    spark.catalog.clearCache()

    plan = _plan(e.q143_kg_sparql_load(spark, SF))
    assert not re.search(r"\(\d+\) CartesianProduct", plan)
    assert not re.search(r"EvalPython|PythonUDF", plan)
    joins = re.findall(r"\(\d+\) (\w+Join)", plan)
    assert len(joins) == 1, joins
    assert len(re.findall(r"\(\d+\) Union", plan)) == 1


def test_prov_lineage_single_exchange_no_join(spark):
    """q144: one groupBy(repo) fold then an in-row 8-fact explode —
    zero joins, exactly one shuffle, no Python in the plan (sha2 /
    sort_array / explode are all JVM expressions)."""
    from claimskg_generator_spark.queries import code_kg as e

    plan = _plan(e.q144_kg_prov_lineage(spark, SF))
    assert not re.search(r"\(\d+\) \w+Join", plan)
    assert not re.search(r"EvalPython|PythonUDF", plan)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert re.search(r"\(\d+\) Generate", plan)


def test_triple_pr_fold_never_joins(spark):
    """q145: P/R is a tagged union + two aggregate stages — set
    intersection WITHOUT a join (a semi-join would pay the distinct
    exchange twice).  Exactly two exchanges: the triple-key flag-max
    (map-side combinable — partial_max in the partial aggregate) and
    the one-row global fold."""
    from claimskg_generator_spark.queries import code_kg as e

    plan = _plan(e.q145_kg_triple_pr(spark, SF))
    assert not re.search(r"\(\d+\) \w+Join", plan)
    assert not re.search(r"CartesianProduct", plan)
    assert re.search(r"partial_max", plan)
    # triple dedup exchanges feed the union; the metric itself adds
    # the flag-max exchange plus the single-row fold
    assert len(re.findall(r"\(\d+\) Union", plan)) == 1


def test_biased_walks_hash_joins_no_cartesian(spark):
    """q146: each step is candidate fan-out + prev-neighbor probe as
    equi hash joins over the ranked dim plus one window pass per
    biased step — never a cartesian, and the integer pick keeps
    Python out of the plan.  The operator returns a checkpoint, so
    its first two steps are built with its own step function."""
    from claimskg_generator_spark.queries import common as e
    from claimskg_generator_spark.operators.code_kg import (
        repo_dependencies,
    )
    from claimskg_generator_spark.operators.components import (
        _ranked_neighbors,
        _walk_seed,
        _walk_step,
    )

    deps = repo_dependencies(e._code_files(spark, SF))
    g = deps.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    g = g.distinct()
    ranked = _ranked_neighbors(g)
    walks = _walk_seed(g, 2)
    for step in (1, 2):
        walks = _walk_step(ranked, (1, 4, 2), "n2v", walks, step)
    plan = _plan(walks)
    assert "CartesianProduct" not in plan
    assert not re.search(r"EvalPython|PythonUDF", plan)
    assert re.search(r"\(\d+\) Window", plan)


def test_skipgram_vocab_join_hashed_no_python(spark):
    """q147: pair generation is an in-row Generate; the negative pick
    reaches the vocabulary through an equi hash join (never a
    cartesian over the vocab), and the whole path stays JVM-side."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q147_skipgram_negatives(spark, SF))
    assert "CartesianProduct" not in plan
    assert not re.search(r"EvalPython|PythonUDF", plan)
    assert re.search(r"\(\d+\) (BroadcastHash|SortMerge)Join", plan)
    assert re.search(r"\(\d+\) Generate", plan)


def test_bpe_stats_two_combinable_aggregates_no_join(spark):
    """q149: word-freq groupBy + pair groupBy — two exchanges, both
    map-side combinable (partial_count / partial_sum), pairs generated
    in-row (Generate), no joins, no Python."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q149_bpe_pair_stats(spark, SF))
    assert not re.search(r"\(\d+\) \w+Join", plan)
    assert not re.search(r"EvalPython|PythonUDF", plan)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert re.search(r"partial_(count|sum)", plan)
    assert re.search(r"\(\d+\) Generate", plan)


def test_ngram_overlap_single_fold_no_join_no_explode(spark):
    """q150: clipped counts are in-row HOFs — no explode, no join;
    the only exchange is the one-row global fold (map-side partials
    first)."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q150_ngram_overlap_bleu(spark, SF))
    assert not re.search(r"\(\d+\) \w+Join", plan)
    assert not re.search(r"EvalPython|PythonUDF", plan)
    assert not re.search(r"\(\d+\) Generate", plan)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert re.search(r"partial_sum", plan)


def test_gap_fill_spine_in_row_single_left_join(spark):
    """q151: the spine explodes from the per-key BOUNDS row (Generate
    after an aggregate — O(keys) shuffle rows, never a bucket-range
    relation), then ONE left join back and one per-key window; no
    cartesian, no Python."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q151_gap_fill_locf(spark, SF))
    assert "CartesianProduct" not in plan
    assert not re.search(r"EvalPython|PythonUDF", plan)
    joins = re.findall(r"\(\d+\) (\w+Join)", plan)
    assert len(joins) == 1, joins
    assert re.search(r"\(\d+\) Generate", plan)
    assert re.search(r"\(\d+\) Window", plan)


def test_kn_table_slim_regroups_one_broadcast(spark):
    """q152: every statistic is a regroup of the slim bigram count
    frame; the grand total attaches as a one-row broadcast (a
    BroadcastNestedLoopJoin over a single row, never a cartesian of
    data relations); no Python."""
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q152_kn_bigram_table(spark, SF))
    assert "CartesianProduct" not in plan
    assert not re.search(r"EvalPython|PythonUDF", plan)
    assert re.search(r"partial_(count|sum)", plan)


def test_group_path_step_union_of_slivers(spark):
    """q153: the grouped (p|^p)+ step relation is a union of two
    pushdown-filtered predicate slivers — no cartesian, no Python;
    the closure output reaches the label pattern through hash joins.
    (path_closure localCheckpoints, so we pin the STEP frame.)"""
    from claimskg_generator_spark.operators.sparql import (
        _path_step_edges,
    )
    from claimskg_generator_spark.queries import common as e

    files = e._code_files(spark, SF)
    from claimskg_generator_spark.operators.code_kg import (
        repo_dep_triples,
    )

    g = repo_dep_triples(files).select("subj", "pred", "obj")
    p = "http://example.org/code#dependsOnRepo"
    step = _path_step_edges(g, ("alt", ((False, p), (True, p))))
    plan = _plan(step)
    assert "CartesianProduct" not in plan
    assert not re.search(r"EvalPython|PythonUDF", plan)
    assert re.search(r"\(\d+\) Union", plan)
    # seq composition: one equi-join per extra member, never cartesian
    step2 = _plan(_path_step_edges(
        g, ("seq", ((False, p), (False, p)))))
    assert "CartesianProduct" not in step2
    assert re.search(r"\(\d+\) (BroadcastHash|SortMerge)Join", step2)


def test_kg_train_pairs_equi_join_filtered_anti(spark):
    """q154: slot fan-out is an in-row Generate, the entity lookup an
    equi hash join on the dense index, the filtered protocol ONE
    left-anti join — no cartesian beyond the broadcast one-row E
    total, no Python."""
    from claimskg_generator_spark.queries import graph as e

    plan = _plan(e.q154_kg_train_pairs(spark, SF))
    assert not re.search(r"EvalPython|PythonUDF", plan)
    assert re.search(r"\(\d+\) Generate", plan)
    assert re.search(r"LeftAnti", plan)
    # the only cartesian-ish node is the broadcast nested loop over
    # the ONE-ROW max(idx) aggregate
    assert "CartesianProduct" not in plan


def test_wl_colors_pagerank_shuffle_profile(spark):
    """q155: each WL round is two equi hash joins (one per direction)
    + one groupBy whose state is the sorted message list — no
    cartesian, no Python, in-row sort_array (never a window sort).
    wl_colors returns a checkpoint, so the round shape is pinned by
    building ONE round with the operator's own step function."""
    from claimskg_generator_spark.queries import common as e
    from claimskg_generator_spark.operators.code_kg import code_triples
    from claimskg_generator_spark.operators.components import _wl_step

    files = e._code_files(spark, SF)
    g = (code_triples(files).where(F.col("okind") == "uri")
         .select("subj", "pred", "obj"))
    nodes = (g.select(F.col("subj").alias("node"))
             .unionAll(g.select(F.col("obj").alias("node"))).distinct())
    colors = nodes.withColumn("color", F.md5(F.lit("")))
    plan = _plan(_wl_step(g, colors, 1))
    assert "CartesianProduct" not in plan
    assert not re.search(r"EvalPython|PythonUDF", plan)
    assert re.search(r"\(\d+\) (BroadcastHash|SortMerge)Join", plan)
    assert "sort_array" in plan and "Window" not in plan


def test_shortest_paths_round_is_join_plus_combinable_min(spark):
    """q156: one relaxation round = frontier ⋈ edges equi-join + a
    map-side-combinable min groupBy + the improvement left join — no
    cartesian, no Python, no window.  (The operator returns a
    checkpoint, so one round is built with its own step function.)"""
    from claimskg_generator_spark.operators.components import _relax_step

    e = spark.createDataFrame(
        [("a", "b", 3), ("b", "c", 1)], "u string, v string, w long")
    dist = spark.createDataFrame([("a", 0, 0)],
                                 "node string, dist long, __at int")
    plan = _plan(_relax_step(e, dist, 1))
    assert "CartesianProduct" not in plan
    assert not re.search(r"EvalPython|PythonUDF", plan)
    assert re.search(r"partial_min", plan)
    assert "Window" not in plan


def test_pmi_collocations_one_explode_shared_bigram_frame(spark):
    """q157: ONE corpus-sized explode — the bigram-count frame is
    lazily checkpointed and shared by the pair filter AND the unigram
    regroup, so the downstream plan contains NO Generate at all (the
    explode lives behind the checkpoint scan, computed once); the
    rest is combinable groupBys + slim equi-joins, no Python, no
    window, no cartesian beyond the one-row N broadcast."""
    from claimskg_generator_spark.operators.lm import (
        doc_bigrams,
        pmi_collocations,
    )
    from claimskg_generator_spark.queries import curation as e

    plan = _plan(e.q157_pmi_collocations(spark, SF))
    assert not re.search(r"EvalPython|PythonUDF", plan)
    # the corpus explode is NOT duplicated into the two consumers —
    # both read the checkpointed bigram-count RDD
    assert not re.search(r"\(\d+\) Generate", plan)
    assert plan.count("Scan ExistingRDD") >= 2
    assert re.search(r"partial_(count|sum)", plan)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    # the stage BEHIND the checkpoint: one in-row Generate into a
    # combinable groupBy
    docs = spark.read.parquet(SF + "/documents.parquet")
    stage = (doc_bigrams(docs).groupBy("w1", "w2")
             .agg(F.sum("m").alias("c12")))
    inner = _plan(stage)
    # suite-order-proof: if another test left a doc-bigram frame
    # cached, explain prints the InMemoryRelation's embedded plan too
    # (doubling every node) — count Generates only outside it
    head = inner.split("InMemoryRelation")[0]
    assert len(re.findall(r"\(\d+\) Generate", head)) <= 1
    assert re.search(r"Generate", inner)
    assert re.search(r"partial_(count|sum)", inner)


def test_hits_power_step_combinable_sums(spark):
    """q158: each HITS half-step is one edge ⋈ scores equi-join into a
    map-side-combinable sum groupBy — the pagerank profile; no
    cartesian, no Python, no window.  (hits_scores returns a
    checkpoint; one round is built with its own step function.)"""
    from claimskg_generator_spark.operators.components import _hits_step

    e = spark.createDataFrame([("a", "b"), ("a", "c")],
                              "u string, v string")
    auth = spark.createDataFrame([("b", 1)], "node string, auth long")
    auth = auth.withColumn("auth", F.col("auth").cast("decimal(38,0)"))
    plan = _plan(_hits_step(e, auth, 1))
    assert "CartesianProduct" not in plan
    assert not re.search(r"EvalPython|PythonUDF", plan)
    assert re.search(r"partial_sum", plan)
    assert "Window" not in plan


def test_neighbor_jaccard_in_row_pairs_no_self_join(spark):
    """q159: candidate pairs are generated inside the shared
    neighbor's row (Generate over the sorted neighbor array — never a
    node-level self-join before the cap), counted by one combinable
    groupBy; the degree attach is equi-joins and the adjacency
    exclusion a left-anti — no Python, no window."""
    from claimskg_generator_spark.queries import graph as e

    plan = _plan(e.q159_kg_link_prediction(spark, SF))
    assert not re.search(r"EvalPython|PythonUDF", plan)
    # localCheckpoint truncates the operator's own plan; pin the
    # pair-generation shape inline instead
    from claimskg_generator_spark.operators.code_kg import code_triples
    from pyspark.sql import functions as FF

    files = e._code_files(spark, SF)
    g = (code_triples(files).where(FF.col("okind") == "uri")
         .select(FF.col("subj").alias("u"), FF.col("obj").alias("v")))
    sym = g.unionAll(g.select(FF.col("v").alias("u"),
                              FF.col("u").alias("v"))).distinct()
    lists = sym.groupBy("u").agg(
        FF.sort_array(FF.collect_set("v")).alias("ns"))
    pairs = lists.select(FF.explode(FF.expr(
        "flatten(transform(ns, (x, i) -> "
        "transform(slice(ns, i + 2, size(ns)), "
        "y -> struct(x AS a, y AS b))))")).alias("p"))
    cnt = pairs.groupBy("p.a", "p.b").agg(FF.count(FF.lit(1)).alias("c"))
    inner = _plan(cnt)
    assert "CartesianProduct" not in inner
    assert re.search(r"\(\d+\) Generate", inner)
    assert re.search(r"partial_count", inner)
    assert not re.search(r"\(\d+\) \w*Join", inner)


def test_ppr_round_join_sum_fold(spark):
    """q160: one PPR round = the pagerank join+combinable-sum plus the
    walk/teleport full-outer fold — no cartesian, no Python, no
    window; the teleport side is the tiny seed frame.  (The operator
    returns a checkpoint; one round is built with its own step
    function.)"""
    from claimskg_generator_spark.operators.components import (
        _ppr_step,
        _with_out_degree,
    )

    e = spark.createDataFrame([("a", "b"), ("b", "c")],
                              "s string, t string")
    ranks = spark.createDataFrame([("a", 1.0)], "node string, rank double")
    tele = spark.createDataFrame([("a", 0.15)], "node string, tp double")
    plan = _plan(_ppr_step(_with_out_degree(e), tele, 0.85, ranks, 1))
    assert "CartesianProduct" not in plan
    assert not re.search(r"EvalPython|PythonUDF", plan)
    assert re.search(r"partial_sum", plan)
    assert "Window" not in plan
