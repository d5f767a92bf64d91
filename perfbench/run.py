"""Product benchmark: the claims->RDF CLI as a user runs it.

    python3 perfbench/run.py --workload lift --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  Each timed iteration is one fresh driver
process (``child.py``) that builds a session from deployment settings only
and calls ``claimskg_generator_spark.cli.main(argv)``: a closed loop, one
product run at a time, on ``local[nproc]``.  The run's corpus is generated
from ``--seed`` before anything is timed, and every iteration gets its own
output and checkpoint directories.  After the timed region the output is
checked against the pure-Python reference oracle, and the host is recorded.

Workloads (both over the same seeded synthetic corpus):

- ``lift``: ``--format ntriples --checkpoint-dir <fresh>``; parse, triple
  families, dedup, checkpoint writes and the N-Triples sink do the work.
- ``parquet``: ``--format parquet`` with no checkpoint dir; the same
  families over the in-memory parsed-cache path, then the Parquet sink.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (process spawn to
a ready session that has run one trivial job) and ``cpu_s`` (CPU seconds
of the driver's process group during the ``cli.main`` call).  ``--trace
1`` makes one traced iteration instead and prints the per-layer metrics
(see ``tracing.py``), among them ``wall_s`` (the untraced ``cli.main``
wall), ``triples_per_s`` (distinct output triples / wall_s) and
``engine.peak_rss_mb``:
the peak summed RSS of the driver's process group (Python driver, JVM with
its local executors, Python workers), sampled every 100 ms until
``cli.main`` returns.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

The corpus and the oracle's triple set are made once per (rows, seed) and
source tree, under ``.perfbench/inputs/``, and every later run of either
workload reuses them.  Each run leaves a record (metrics, samples,
settings, host) under ``.perfbench/records/``; a traced run's
``trace.overhead_s`` compares with the median untraced ``wall_s`` recorded
there for the same workload, corpus size and source tree.  When there is
none, the traced run makes one untraced iteration after the traced one if
the deadline leaves room for it, and otherwise reports the traced wall as
``wall_s`` and 0 as ``trace.overhead_s``.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
RECORDS = os.path.join(STATE, "records")
INPUTS = os.path.join(STATE, "inputs")
# what a run's figures depend on: the package, the bench helpers it
# imports, and the benchmark itself
SOURCE_PATHS = ("claimskg_generator_spark", "bench.py", "perfbench",
                "BENCHMARK.json")

NPROC = len(os.sched_getaffinity(0))
# deployment settings: the only session settings besides what cli.main sets
DRIVER_MEMORY = "2g"
RUN_DEADLINE_S = 170.0
CORPUS_ROWS = 500
WORKLOADS = {
    "lift": {"format": "ntriples", "checkpoint": True,
             # layers the command executes, all probed in the trace
             "on_path": ("claims.exec_s", "families.exec_s", "dedup.exec_s",
                         "checkpoints.write_s", "checkpoints.read_s",
                         "sink.exec_s"),
             "probe": ("families",)},
    "parquet": {"format": "parquet", "checkpoint": False,
                # families/dedup run here too but are probed on lift only:
                # this trace carries the off-path views/reconcile probes
                # instead, and one traced run must stay well inside 180 s
                "on_path": ("claims.exec_s", "sink.exec_s"),
                "probe": ("reconcile",)},
}
# neither command reconciles; the views/reconcile layers are probed over
# the same claims at this threshold
PROBE_RECONCILE_THETA = 0.25


def cli_argv(wl: dict, corpus: str, out: str, ckpt: str) -> list:
    argv = ["--input", corpus, "--output", out, "--format", wl["format"]]
    return argv + ["--checkpoint-dir", ckpt] if wl["checkpoint"] else argv


def settings() -> dict:
    return {"master": f"local[{NPROC}]", "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": "<run scratch>/local",
            "PYTHONPATH": "<checkout root>",
            "java.io.tmpdir": "<run scratch>/tmp"}


# -- process tree ---------------------------------------------------------------
def group_stats(pgid: int) -> dict:
    """pid -> the /proc/<pid>/stat fields after the command name, for
    every process of group ``pgid``."""
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(b")") + 2:].split()
        if int(fields[2]) == pgid:
            stats[int(name)] = fields
    return stats


def _group_pids(pgid: int) -> list:
    # fields[0] is the state; a zombie has ended and holds no memory
    return [pid for pid, fields in group_stats(pgid).items()
            if fields[0] != b"Z"]


def _rss_bytes(pids: list) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler(threading.Thread):
    """Summed RSS of one process group, sampled every 100 ms."""

    def __init__(self, pgid: int):
        super().__init__(daemon=True)
        self.pgid = pgid
        self.samples = []  # (epoch seconds, bytes)
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            self.samples.append((time.time(),
                                 _rss_bytes(_group_pids(self.pgid))))
            self._halt.wait(0.1)

    def stop(self):
        self._halt.set()
        self.join()

    def peak_mb(self, until: float) -> float:
        return max((b for t, b in self.samples if t <= until),
                   default=0) / 1024.0 / 1024.0


def _reap_group(pgid: int) -> None:
    """Kill whatever the child left behind (JVM, Python workers) and wait
    until every process of its group has ended.  The child has written its
    result by then, so the JVM's own shutdown (about 2 s) is skipped."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 20
    while _group_pids(pgid) and time.time() < deadline:
        time.sleep(0.05)


def run_child(spec: dict, timeout: float) -> dict:
    """Spawn one fresh driver process; return its result and, when it
    traced, the peak RSS of its group up to the end of ``cli.main``."""
    spec_path = os.path.join(spec["scratch"], "spec.json")
    env = dict(os.environ, PYTHONPATH=ROOT, TMPDIR=spec["tmp_dir"])
    log_path = os.path.join(spec["scratch"], "child.log")
    with open(log_path, "wb") as log:
        spec["spawn_ts"] = time.time()
        with open(spec_path, "w", encoding="utf-8") as fh:
            json.dump(spec, fh)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), spec_path],
            cwd=spec["scratch"], env=env, stdout=log, stderr=log,
            start_new_session=True)
        sampler = RssSampler(proc.pid) if spec["trace"] else None
        if sampler:
            sampler.start()
        try:
            rc = proc.wait(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            rc = None
        if sampler:
            sampler.stop()
        _reap_group(proc.pid)
        proc.wait()
    out = {"exit": rc}
    if rc == 0 and os.path.exists(spec["result_path"]):
        with open(spec["result_path"], encoding="utf-8") as fh:
            out.update(json.load(fh))
        if sampler:
            out["peak_rss_mb"] = sampler.peak_mb(out["cli_end_ts"])
    else:
        with open(log_path, "rb") as fh:
            tail = fh.read()[-3000:].decode("utf-8", "replace")
        print(f"child failed (exit {rc}):\n{tail}", file=sys.stderr)
    return out


# -- output check -----------------------------------------------------------------
def check_output(wl: dict, out: str, want, drop_one: bool = False) -> dict:
    """The output's distinct set must equal the oracle's (N-Triples lines
    or (s, p, o, okind) rows), with no duplicates."""
    from check import compare, read_ntriples, read_parquet_triples

    if not os.path.isdir(out):
        return {"ok": False, "error": "no output directory"}
    got = (read_ntriples(out) if wl["format"] == "ntriples"
           else read_parquet_triples(out))
    if drop_one and got:
        # self-test hook: lose one triple on purpose
        got = sorted(got)[1:]
    return compare(got, want)


# -- source tree and host record ------------------------------------------------
def source_tree() -> str:
    """sha256 over the paths and bytes of ``SOURCE_PATHS``: the same for
    two checkouts of the same tree, git repository or not."""
    files = []
    for top in SOURCE_PATHS:
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            files.append(top)
        for base, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            files += [os.path.relpath(os.path.join(base, f), ROOT)
                      for f in names if not f.endswith(".pyc")]
    digest = hashlib.sha256()
    for rel in sorted(files):
        digest.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as fh:
            digest.update(fh.read())
    return digest.hexdigest()


def _git(*args) -> str:
    res = subprocess.run(["git", "-C", ROOT, *args], capture_output=True,
                         text=True)
    return res.stdout.strip() if res.returncode == 0 else None


def host_record(tree: str) -> dict:
    import importlib.metadata

    import bench

    commit = dirty = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = _git("rev-parse", "HEAD")
        dirty = bool(_git("status", "--porcelain", "--untracked-files=no"))
    return {"nproc": NPROC,
            "parallel_capacity": bench._parallel_capacity(NPROC),
            "calibrate_s": bench._calibrate(),
            "pyspark": importlib.metadata.version("pyspark"),
            "commit": commit, "dirty": dirty, "source_tree": tree}


# -- inputs ---------------------------------------------------------------------------
def run_inputs(rows: int, seed: int, tree: str) -> tuple:
    """The seeded corpus directory and the oracle's triple set, made once
    per (rows, seed, nproc, source tree) and reused by later runs."""
    from check import expected_triples, write_corpus_files

    done = os.path.join(INPUTS, f"n{rows}-s{seed}-p{NPROC}-{tree[:16]}")
    if not os.path.isdir(done):
        tmp = f"{done}.tmp-{os.getpid()}"
        write_corpus_files(os.path.join(tmp, "corpus"), rows, seed, NPROC)
        with open(os.path.join(tmp, "oracle.json"), "w",
                  encoding="utf-8") as fh:
            json.dump(sorted(expected_triples(rows, seed)), fh)
        try:
            os.rename(tmp, done)
        except OSError:  # a concurrent run finished it first
            shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(done, "oracle.json"), encoding="utf-8") as fh:
        want = {tuple(t) for t in json.load(fh)}
    return os.path.join(done, "corpus"), want


# -- records ------------------------------------------------------------------------
def untraced_wall_median(workload: str, rows: int, tree: str):
    """Median untraced ``wall_s`` of the records made on this source tree;
    None when there are none."""
    walls = []
    if os.path.isdir(RECORDS):
        for name in os.listdir(RECORDS):
            try:
                with open(os.path.join(RECORDS, name), encoding="utf-8") as fh:
                    rec = json.load(fh)
            except (OSError, ValueError):
                continue
            if (rec.get("workload") == workload and rec.get("n") == rows
                    and not rec.get("trace")
                    and rec.get("host", {}).get("source_tree") == tree):
                walls += [it["wall_s"] for it in rec["iterations"]
                          if it.get("ok")]
    return statistics.median(walls) if walls else None


def write_record(rec: dict) -> None:
    os.makedirs(RECORDS, exist_ok=True)
    path = os.path.join(
        RECORDS, f"{rec['workload']}-s{rec['seed']}-t{rec['trace']}-"
                 f"{int(time.time() * 1000)}-{os.getpid()}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(rec, fh, indent=1)


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


# -- one run ------------------------------------------------------------------------
def iteration(wl: dict, scratch: str, name: str, corpus: str, want,
              trace: bool, timeout: float, drop_one: bool) -> dict:
    """One fresh driver process running the CLI on its own output and
    checkpoint dirs, then the output check."""
    it_dir = os.path.join(scratch, name)
    for sub in ("local", "tmp", "events", "probe"):
        os.makedirs(os.path.join(it_dir, sub))
    out = os.path.join(it_dir, "out")
    ckpt = os.path.join(it_dir, "ck")
    spec = {"root": ROOT, "scratch": it_dir, "nproc": NPROC,
            "driver_memory": DRIVER_MEMORY,
            "local_dir": os.path.join(it_dir, "local"),
            "tmp_dir": os.path.join(it_dir, "tmp"),
            "event_dir": os.path.join(it_dir, "events"),
            "probe_dir": os.path.join(it_dir, "probe"),
            "result_path": os.path.join(it_dir, "result.json"),
            "argv": cli_argv(wl, corpus, out, ckpt),
            "output": out, "format": wl["format"],
            "probe_layers": wl["probe"],
            "reconcile_theta": PROBE_RECONCILE_THETA, "trace": trace}
    res = run_child(spec, timeout)
    check = check_output(wl, out, want, drop_one) if res["exit"] == 0 else {
        "ok": False, "error": f"driver process exit {res['exit']}"}
    it = {"name": name, "exit": res["exit"], "ok": bool(check.get("ok")),
          "check": check}
    if "wall_s" in res:
        it.update(setup_s=res["setup_s"], wall_s=res["wall_s"],
                  cpu_s=res["cpu_s"], steal_frac=res["steal_frac"],
                  triples_per_s=check.get("distinct", 0) / res["wall_s"])
    if trace and res["exit"] == 0:
        from check import load_json, output_bytes
        from tracing import read_event_log

        manifest_path = os.path.join(ckpt, "manifest.json")
        it["traced"] = {k: res[k] for k in
                        ("wall_s", "plan_s", "probes", "spans",
                         "cache_points", "peak_rss_mb")}
        it["groups"] = read_event_log(spec["event_dir"])
        it["manifest"] = (load_json(manifest_path)
                          if os.path.exists(manifest_path) else [])
        it["ckpt_bytes"] = _dir_bytes(ckpt) if os.path.isdir(ckpt) else 0
        it["out_bytes"] = output_bytes(out)
    return it


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=CORPUS_ROWS,
                    help="corpus rows (the self-test uses a tiny corpus)")
    ap.add_argument("--drop-one", action="store_true",
                    help="self-test: drop one output triple before the "
                         "check, which must then fail")
    args = ap.parse_args(argv)
    t_run0 = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "claimskg_generator_spark",
                                        "cli.py"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"{ROOT} holds no claimskg_generator_spark package / bench.py; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from check import ntriples_lines

    wl = WORKLOADS[args.workload]
    tree = source_tree()
    scratch = os.path.join(
        STATE, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}-"
                       f"{int(t_run0 * 1000)}")
    os.makedirs(scratch)
    iterations, untraced = [], None
    try:
        # set-up, untimed: corpus and oracle expectation
        corpus, want = run_inputs(args.rows, args.seed, tree)
        if wl["format"] == "ntriples":
            want = ntriples_lines(want)

        def timed(name: str, trace: bool) -> dict:
            return iteration(wl, scratch, name, corpus, want, trace,
                             RUN_DEADLINE_S - (time.time() - t_run0),
                             args.drop_one)

        if args.trace:
            iterations.append(timed("traced", True))
            untraced = untraced_wall_median(args.workload, args.rows, tree)
            # one untraced iteration costs about the traced one's set-up
            # and cli.main wall; make it only when that fits the deadline
            need = 1.3 * (iterations[0].get("setup_s", RUN_DEADLINE_S)
                          + iterations[0].get("wall_s", 0.0)) + 10.0
            if (untraced is None
                    and RUN_DEADLINE_S - (time.time() - t_run0) > need):
                iterations.append(timed("untraced", False))
                untraced = iterations[-1].get("wall_s")
        else:
            t_loop = time.time()
            while True:
                t_it = time.time()
                iterations.append(timed(f"it{len(iterations)}", False))
                last = time.time() - t_it
                if time.time() - t_loop + last > args.seconds:
                    break
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    attempted = len(iterations)
    failed = sum(1 for it in iterations if not it["ok"])
    host = host_record(tree)
    rec = {"workload": args.workload, "seed": args.seed, "n": args.rows,
           "trace": args.trace, "seconds": args.seconds,
           "settings": settings(), "host": host,
           "iterations": [{k: v for k, v in it.items()
                           if k not in ("groups", "traced")}
                          for it in iterations],
           "failed_frac": failed / attempted}
    done = [it for it in iterations if "wall_s" in it]
    if not done or (args.trace and "traced" not in iterations[0]):
        write_record(rec)
        print("no iteration completed", file=sys.stderr)
        return 1

    if args.trace:
        from tracing import layer_metrics

        traced = iterations[0]
        rec["untraced_reference"] = untraced is not None
        if untraced is None:
            print("no untraced wall of this source tree and no time left "
                  "for one: wall_s is the traced wall and "
                  "trace.overhead_s reads 0", file=sys.stderr)
            untraced = traced["wall_s"]
        values = layer_metrics(
            traced["traced"], traced["groups"], NPROC, untraced,
            wl["on_path"], traced["out_bytes"],
            traced["check"].get("distinct", 0), traced["manifest"],
            traced["ckpt_bytes"])
        values["failed_frac"] = failed / attempted
        values["wall_s"] = untraced
        values["triples_per_s"] = (traced["check"].get("distinct", 0)
                                   / untraced)
        rec.update(spans=traced["traced"]["spans"],
                   cache_points=traced["traced"]["cache_points"],
                   probes=traced["traced"]["probes"],
                   groups=traced["groups"])
        kind = "per_layer"
    else:
        values = {k: statistics.median(it[k] for it in done)
                  for k in ("setup_s", "cpu_s")}
        rec["samples"] = len(done)
        kind = "end_to_end"
    metrics = {k: {"value": values[k], "unit": u}
               for k, u in metric_units(kind).items()}
    rec["metrics"] = metrics
    write_record(rec)

    print(f"workload={args.workload} n={args.rows} seed={args.seed} "
          f"trace={args.trace} samples={len(done)} attempted={attempted} "
          f"failed={failed} host={json.dumps(host)}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def metric_units(kind: str) -> dict:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, as declared
    in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[kind]}


if __name__ == "__main__":
    raise SystemExit(main())
