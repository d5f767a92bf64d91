"""Self-test of the benchmark on a tiny corpus.

    python3 perfbench/selftest.py [--rows 40]

Checks, from the root of a checkout:

1. ``check.write_corpus_files`` writes the same table as
   ``sources.synth.write_corpus`` (rows and file count).
2. Every metric named in BENCHMARK.json is printed with its unit for every
   workload: the end-to-end metrics with ``--trace 0``, the per-layer ones
   with ``--trace 1``.
3. An output with one triple dropped on purpose fails the check: the run
   reports ``correct: false`` and counts the failure (``failed_frac``).

Exits 0 when every check passes.
"""

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_checks(rows: int, work: str) -> dict:
    """Runs inside a Spark driver process (``--spark-checks``)."""
    sys.path.insert(0, ROOT)
    import glob

    from pyspark.sql import SparkSession

    from check import write_corpus_files
    from claimskg_generator_spark.sources.synth import write_corpus

    nproc = len(os.sched_getaffinity(0))
    spark = (SparkSession.builder.master(f"local[{nproc}]")
             .config("spark.driver.memory", "2g")
             .config("spark.local.dir", os.path.join(work, "local"))
             .getOrCreate())
    out = {}
    a, b = os.path.join(work, "spark_corpus"), os.path.join(work, "py_corpus")
    write_corpus(spark, a, rows, 7)
    write_corpus_files(b, rows, 7, nproc)

    def files(path):
        return len(glob.glob(os.path.join(path, "part-*")))

    def table(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    out["corpus_same_rows"] = table(a) == table(b)
    out["corpus_same_files"] = files(a) == files(b)

    spark.stop()
    return out


def run_bench(spec: dict, workload: str, trace: int, rows: int,
              extra=()) -> tuple:
    cmd = spec["command"] + ["--workload", workload, "--seed", "3",
                             "--seconds", "1", "--trace", str(trace),
                             "--rows", str(rows), *extra]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = res.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if res.returncode == 0 and lines else None
    return result, res.stdout, res.stderr


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--rows", type=int, default=40)
    ap.add_argument("--spark-checks", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.spark_checks:
        print(json.dumps(spark_checks(args.rows, args.spark_checks)))
        return 0

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    failures = []

    state = os.path.join(ROOT, ".perfbench")
    os.makedirs(state, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=state) as work:
        res = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--rows",
             str(args.rows), "--spark-checks", work],
            cwd=ROOT, capture_output=True, text=True,
            env=dict(os.environ, PYTHONPATH=ROOT))
        lines = res.stdout.strip().splitlines()
        checks = json.loads(lines[-1]) if res.returncode == 0 else {
            "spark_checks_ran": False}
        for name, ok in checks.items():
            print(f"{name}: {'ok' if ok else 'FAIL'}")
            if not ok:
                failures.append(name)
                print(res.stderr[-2000:], file=sys.stderr)

    for wl in (w["name"] for w in spec["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            result, stdout, stderr = run_bench(spec, wl, trace, args.rows)
            if result is None or not result["correct"]:
                failures.append(f"{wl} trace {trace}: no correct result")
                print(stderr[-2000:], file=sys.stderr)
                continue
            for m in spec[kind]:
                got = result["metrics"].get(m["name"])
                printed = f"  {m['name']} = " in stdout
                if not got or got["unit"] != m["unit"] or not printed:
                    failures.append(f"{wl} trace {trace}: {m['name']}")
            print(f"{wl} trace {trace}: {len(spec[kind])} metrics checked")

        result, _, _ = run_bench(spec, wl, 1, args.rows, ["--drop-one"])
        dropped_ok = (result is not None and not result["correct"]
                      and result["failed"] == result["attempted"]
                      and result["metrics"]["failed_frac"]["value"] == 1.0)
        print(f"{wl} drop-one: {'counted as failed' if dropped_ok else 'FAIL'}")
        if not dropped_ok:
            failures.append(f"{wl} drop-one")

    print("SELFTEST", "FAILED: " + ", ".join(failures) if failures else "OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
