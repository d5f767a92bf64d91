"""Traced run: spans around the product's public calls, per-layer probes,
and Spark's event log read back per job group.

The traced driver process runs ``cli.main(argv)`` exactly as an untraced
run does, with the public calls of ``plans.pipeline`` and
``plans.checkpoints`` wrapped from outside: each call becomes a span (name,
start, end, parent) and every Spark job it starts is tagged with
``setJobGroup``.  No program code changes.  Neither workload's command
reconciles, so ``operators.views`` and ``operators.reconcile`` are measured
by the off-path probes only.

Because Spark is lazy, a span around a builder call times only plan
construction.  Execution time per layer therefore comes from probes run
after ``cli.main`` returns, on the same session and input: each layer's
output is cached and written to the ``noop`` sink, and the same action over
its (already cached) input is subtracted:

    claims       parse_records(input) -> claims  (ClaimsKGPipeline.parsed, .claims)
    families     claims -> triples_raw           (row/mention/keyword/rating families)
    dedup        triples_raw -> set of triples   (the dropDuplicates in .triples)
    checkpoints  CheckpointManager.materialize of parsed + triples (write),
                 noop scans of the run's own checkpoint files (read)
    views        claims -> logical_views
    reconcile    views -> reconcile_pairs
    sink         distinct triples -> N-Triples or Parquet files

Caching every layer's input means each layer executes once in the probes.
Which layers are probed is the caller's choice (``probe_layers``): a layer
the workload's command bypasses, and that is not probed, reads 0.
"""

import dataclasses
import json
import os
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

MB = 1024.0 * 1024.0
CLI_PREFIX = "cli/"
PROBE_PREFIX = "probe/"
INPUT_SUFFIX = ".input"
DEDUP_COLS = ["subj", "pred", "obj", "okind"]


class Tracer:
    """In-memory span recorder that tags Spark jobs with the span name."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: List[Dict] = []
        self._stack: List[int] = []
        self.cache_points: List[Dict] = []
        self.plan_s = 0.0
        self.captured: Dict[str, object] = {}
        self._patched: List = []

    def _set_group(self, group: Optional[str]) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, group: Optional[str] = None):
        rec = {"name": name, "group": group or name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self._set_group(rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]]["group"]
                            if self._stack else None)

    def wrap(self, owner, attr: str, name: str, after=None, before=None):
        """Replace ``owner.attr`` with a spanned call of the original."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if before is not None:
                before(args, kwargs)
            with tracer.span(name, CLI_PREFIX + name):
                result = original(*args, **kwargs)
            if after is not None:
                after(args, kwargs, result)
            return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def snapshot_cache(self, where: str) -> None:
        infos = self.spark._jsc.sc().getRDDStorageInfo()
        size = sum(i.memSize() + i.diskSize() for i in infos)
        self.cache_points.append({"after": where, "rdds": len(infos),
                                  "storage_mb": size / MB})

    # -- the product path --------------------------------------------------
    def install(self) -> None:
        """Wrap the public calls ``cli.main`` makes, in pipeline order."""
        from claimskg_generator_spark.plans import checkpoints, pipeline

        P = pipeline.ClaimsKGPipeline

        def keep_pipe(args, kwargs, result):
            self.captured.setdefault("pipe", args[0])

        def keep_input(args, kwargs):
            self.captured.setdefault("input_df", args[1])

        def plan_triples(args, kwargs):
            # the full triples plan reaches materialize("triples", df, ...)
            # in both workloads; plan it once here (pipeline.plan_s)
            name, df = args[1], args[2]
            if name == "triples":
                t0 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                self.plan_s += time.perf_counter() - t0

        def cache_after(where):
            return lambda args, kwargs, result: self.snapshot_cache(where)

        self.wrap(P, "__init__", "pipeline.init", after=keep_pipe)
        self.wrap(P, "run", "pipeline.run", before=keep_input,
                  after=cache_after("pipeline.run"))
        self.wrap(P, "parsed", "claims.parsed",
                  after=cache_after("claims.parsed"))
        self.wrap(P, "claims", "claims.claims")
        self.wrap(P, "triples_raw", "families.triples_raw")
        self.wrap(P, "triples", "dedup.triples",
                  after=cache_after("dedup.triples"))
        self.wrap(checkpoints.CheckpointManager, "materialize",
                  "checkpoints.materialize", before=plan_triples)
        for sink in ("write_ntriples", "write_triples"):
            self.wrap(P, sink, "sink." + sink,
                      after=cache_after("sink." + sink))

    def uninstall(self) -> None:
        """Restore every wrapped call (the probes run unwrapped)."""
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- probes --------------------------------------------------------------
    def noop(self, df, layer: str, is_input: bool = False) -> float:
        """Time one action over ``df`` into the noop sink, tagged with the
        layer's probe group (``<layer>.input`` for the subtracted read)."""
        group = PROBE_PREFIX + layer + (INPUT_SUFFIX if is_input else "")
        with self.span(group, group) as rec:
            df.write.format("noop").mode("overwrite").save()
        return rec["end"] - rec["start"]


def _observed(df, name: str):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


PROBE_KEYS = (
    "claims.exec_s", "claims.rows_in", "claims.rows_out", "claims.span_s",
    "families.exec_s", "families.triples_raw", "families.span_s",
    "dedup.exec_s", "dedup.keep_ratio", "dedup.span_s",
    "views.exec_s", "views.span_s", "reconcile.exec_s",
    "reconcile.pairs_out", "reconcile.span_s", "sink.exec_s", "sink.span_s",
    "checkpoints.write_s", "checkpoints.read_s", "checkpoints.span_s")


def run_probes(tracer: Tracer, work: Dict) -> Dict[str, float]:
    """Per-layer execution probes after the product run (see module doc)
    for the layers named in ``work["probe_layers"]``; the others read 0.
    ``work`` also carries the output format and path, the probe scratch
    dir and the reconcile theta."""
    from claimskg_generator_spark.operators.reconcile import reconcile_pairs
    from claimskg_generator_spark.operators.views import logical_views
    from claimskg_generator_spark.plans.checkpoints import CheckpointManager
    from claimskg_generator_spark.plans.pipeline import (
        ClaimsKGPipeline,
        write_ntriples,
    )

    layers = set(work["probe_layers"])
    spark = tracer.spark
    input_df = tracer.captured["input_df"]
    cfg = tracer.captured["pipe"].config
    spark.catalog.clearCache()
    probe = ClaimsKGPipeline(spark, dataclasses.replace(
        cfg, checkpoint_dir=None, materialize_parsed=False,
        reconcile_theta=-1.0))
    out: Dict[str, float] = dict.fromkeys(PROBE_KEYS, 0.0)
    t_probe0 = time.time()

    # claims: input -> parse_records -> derive/mint/rating join
    obs_in_df, obs_in = _observed(input_df, "rows_in")
    t_in = tracer.noop(obs_in_df, "claims", is_input=True)
    parsed_c = probe.parsed(input_df).cache()
    t_parsed = tracer.noop(parsed_c, "claims")
    t_parsed_read = tracer.noop(parsed_c, "claims", is_input=True)
    claims_c = probe.claims(input_df).cache()
    claims_obs_df, obs_claims = _observed(claims_c, "rows_out")
    t_claims = tracer.noop(claims_obs_df, "claims")
    out["claims.exec_s"] = (t_parsed - t_in) + (t_claims - t_parsed_read)
    out["claims.rows_in"] = obs_in.get["rows"]
    out["claims.rows_out"] = obs_claims.get["rows"]
    out["claims.span_s"] = t_parsed + t_claims

    if "families" in layers:
        # claims -> triples_raw (the run's config, reconciliation off)
        t_claims_read = tracer.noop(claims_c, "families", is_input=True)
        raw_c = probe.triples_raw(input_df).cache()
        raw_obs_df, obs_raw = _observed(raw_c, "raw")
        t_raw = tracer.noop(raw_obs_df, "families")
        out["families.exec_s"] = t_raw - t_claims_read
        out["families.triples_raw"] = obs_raw.get["rows"]
        out["families.span_s"] = t_raw

        # triples_raw -> distinct set
        t_raw_read = tracer.noop(raw_c, "dedup", is_input=True)
        dd_c = raw_c.dropDuplicates(DEDUP_COLS).cache()
        dd_obs_df, obs_dd = _observed(dd_c, "distinct")
        t_dd = tracer.noop(dd_obs_df, "dedup")
        out["dedup.exec_s"] = t_dd - t_raw_read
        out["dedup.keep_ratio"] = obs_dd.get["rows"] / out["families.triples_raw"]
        out["dedup.span_s"] = t_dd

        # CheckpointManager.materialize of both stages over cached inputs
        t_dd_read = tracer.noop(dd_c, "checkpoints", is_input=True)
        t_pr = tracer.noop(parsed_c, "checkpoints", is_input=True)
        mgr = CheckpointManager(spark, os.path.join(work["probe_dir"], "ck"))
        group = PROBE_PREFIX + "checkpoints"
        with tracer.span(group, group) as rec:
            mgr.materialize("parsed", parsed_c, "probe")
            mgr.materialize("triples", dd_c, "probe")
        out["checkpoints.write_s"] = (rec["end"] - rec["start"]) - t_pr - t_dd_read
        out["checkpoints.span_s"] = rec["end"] - rec["start"]

    if "reconcile" in layers:
        # off the path of a command without --reconcile: the theta comes
        # from the benchmark
        t_cr = tracer.noop(claims_c, "views", is_input=True)
        views_c = logical_views(claims_c, cfg.model_uri, cfg.threshold).cache()
        t_views = tracer.noop(views_c, "views")
        out["views.exec_s"] = t_views - t_cr
        out["views.span_s"] = t_views
        t_vr = tracer.noop(views_c, "reconcile", is_input=True)
        pairs_c = reconcile_pairs(views_c, work["reconcile_theta"]).cache()
        pairs_obs_df, obs_pairs = _observed(pairs_c, "pairs")
        t_pairs = tracer.noop(pairs_obs_df, "reconcile")
        out["reconcile.exec_s"] = t_pairs - t_vr
        out["reconcile.pairs_out"] = obs_pairs.get["rows"]
        out["reconcile.span_s"] = t_pairs

    # the run's own checkpoint files, when it has them
    if cfg.checkpoint_dir:
        for stage in ("parsed", "triples"):
            out["checkpoints.read_s"] += tracer.noop(spark.read.parquet(
                os.path.join(cfg.checkpoint_dir, stage)), "checkpoints")
        out["checkpoints.span_s"] += out["checkpoints.read_s"]

    # the sink over the run's distinct triples, re-read from its triples
    # checkpoint (the sink's input on lift) or its Parquet output
    triples_c = spark.read.parquet(
        os.path.join(cfg.checkpoint_dir, "triples") if cfg.checkpoint_dir
        else work["output"]).cache()
    tracer.noop(triples_c, "sink", is_input=True)  # fills the cache
    t_tr = tracer.noop(triples_c, "sink", is_input=True)
    sink_dir = os.path.join(work["probe_dir"], "sink")
    group = PROBE_PREFIX + "sink"
    with tracer.span(group, group) as rec:
        if work["format"] == "ntriples":
            write_ntriples(triples_c, sink_dir)
        else:
            probe.write_triples(triples_c, sink_dir)
    out["sink.exec_s"] = (rec["end"] - rec["start"]) - t_tr
    out["sink.span_s"] = rec["end"] - rec["start"]

    spark.catalog.clearCache()
    out["trace.probe_s"] = time.time() - t_probe0
    return out


# -- event log ----------------------------------------------------------------
def read_event_log(event_dir: str) -> Dict[str, Dict]:
    """Aggregate Spark's event log per job group: jobs, stages, tasks,
    failed tasks, GC, executor run time, shuffle write, disk spill, and the
    [submit, complete] interval of every job."""
    # Spark 4 writes the v2 layout: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(os.path.join(base, f)
                   for base, _, names in os.walk(event_dir)
                   for f in names if f.startswith(("events_", "app-", "local-"))
                   and not f.endswith(".crc"))
    job_group: Dict[int, str] = {}
    stage_job: Dict[int, int] = {}
    groups: Dict[str, Dict] = {}
    job_start: Dict[int, float] = {}

    def g(name: str) -> Dict:
        return groups.setdefault(name, {
            "jobs": 0, "stages": set(), "tasks": 0, "failed_tasks": 0,
            "gc_s": 0.0, "run_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
            "intervals": []})

    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    name = props.get("spark.jobGroup.id") or "untagged"
                    job_group[jid] = name
                    job_start[jid] = ev.get("Submission Time", 0) / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                    g(name)["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    name = job_group.get(jid, "untagged")
                    g(name)["intervals"].append(
                        (job_start.get(jid, 0.0),
                         ev.get("Completion Time", 0) / 1000.0))
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    name = job_group.get(stage_job.get(sid, -1), "untagged")
                    rec = g(name)
                    rec["stages"].add(sid)
                    rec["tasks"] += 1
                    info = ev.get("Task Info") or {}
                    if info.get("Failed") or info.get("Killed"):
                        rec["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    rec["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                    rec["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
    for rec in groups.values():
        rec["stages"] = len(rec["stages"])
    return groups


def _merge(groups: Dict[str, Dict], names) -> Dict:
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
           "gc_s": 0.0, "run_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
           "intervals": []}
    for n in names:
        rec = groups.get(n)
        if rec is None:
            continue
        for k in tot:
            tot[k] = tot[k] + rec[k]
    return tot


def _covered(intervals, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


ENGINE_LAYERS = ("pipeline", "claims", "families", "dedup", "checkpoints",
                 "views", "reconcile", "sink")


def layer_metrics(traced: Dict, groups: Dict[str, Dict], nproc: int,
                  untraced_wall_s: float, on_path, out_bytes: int,
                  out_triples: int, manifest: List[Dict],
                  ckpt_bytes: int) -> Dict[str, float]:
    """The per-layer metric set (names as in BENCHMARK.json) from the
    traced process's result (spans, probes, cache points, plan time) and
    its event log aggregated per job group."""
    probes = traced["probes"]
    cli_wall_s = traced["wall_s"]
    plan_s = traced["plan_s"]
    m: Dict[str, float] = {}
    cli_groups = [n for n in groups if n.startswith(CLI_PREFIX)]
    cli = _merge(groups, cli_groups)

    # plan construction: time inside ClaimsKGPipeline.run with no Spark
    # job running, less the explicit planning probe
    run_spans = [s for s in traced["spans"] if s["name"] == "pipeline.run"]
    run_wall = sum(s["end"] - s["start"] for s in run_spans)
    in_jobs = sum(_covered(cli["intervals"], s["start"], s["end"])
                  for s in run_spans)
    m["pipeline.build_s"] = run_wall - in_jobs - plan_s
    m["pipeline.plan_s"] = plan_s

    for key in ("claims.exec_s", "claims.rows_in", "claims.rows_out",
                "families.exec_s", "families.triples_raw", "dedup.exec_s",
                "dedup.keep_ratio", "views.exec_s", "reconcile.exec_s",
                "reconcile.pairs_out", "sink.exec_s", "checkpoints.write_s",
                "checkpoints.read_s"):
        m[key] = probes[key]

    def probe_group(layer: str) -> Dict:
        return _merge(groups, [PROBE_PREFIX + layer])

    def util(layer: str) -> float:
        span = probes[layer + ".span_s"]
        return probe_group(layer)["run_s"] / (span * nproc) if span > 0 else 0.0

    m["claims.core_util"] = util("claims")
    m["families.core_util"] = util("families")
    m["reconcile.core_util"] = util("reconcile")
    m["families.shuffle_mb"] = probe_group("families")["shuffle_mb"]
    m["dedup.shuffle_mb"] = probe_group("dedup")["shuffle_mb"]
    m["dedup.spill_mb"] = probe_group("dedup")["spill_mb"]
    m["reconcile.shuffle_mb"] = probe_group("reconcile")["shuffle_mb"]
    m["reconcile.spill_mb"] = probe_group("reconcile")["spill_mb"]

    m["checkpoints.bytes"] = ckpt_bytes
    m["checkpoints.resumed"] = sum(1 for e in manifest
                                   if e.get("action") == "resume")
    m["engine.peak_rss_mb"] = traced["peak_rss_mb"]
    m["sink.bytes_out"] = out_bytes
    m["sink.bytes_per_triple"] = out_bytes / out_triples if out_triples else 0.0

    for layer in ENGINE_LAYERS:
        rec = cli if layer == "pipeline" else probe_group(layer)
        m[f"{layer}.jobs"] = rec["jobs"]
        m[f"{layer}.stages"] = rec["stages"]
        m[f"{layer}.tasks"] = rec["tasks"]
        m[f"{layer}.failed_tasks"] = rec["failed_tasks"]
        m[f"{layer}.gc_s"] = rec["gc_s"]

    points = traced["cache_points"]
    m["cache.rdds"] = max((c["rdds"] for c in points), default=0)
    m["cache.storage_mb"] = max((c["storage_mb"] for c in points),
                                default=0.0)

    # only the layers the product run executes account for its wall
    attributed = m["pipeline.build_s"] + m["pipeline.plan_s"] + sum(
        m[k] for k in on_path)
    m["trace.wall_s"] = cli_wall_s
    m["trace.unattributed_s"] = cli_wall_s - attributed
    m["trace.overhead_s"] = cli_wall_s - untraced_wall_s
    m["trace.probe_s"] = probes["trace.probe_s"]
    return m
