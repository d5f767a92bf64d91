"""One fresh driver process: the product as ``spark-submit`` would run it.

    python3 perfbench/child.py <spec.json>

The spec (written by ``run.py``) names the CLI arguments, the deployment
settings and where to write the result.  The process builds its session
from deployment settings only (master, driver memory, scratch dirs; plus
the event log when traced), runs one trivial job, and reports ``setup_s``
as the time since the parent spawned it.  It then times
``claimskg_generator_spark.cli.main(argv)``, by the wall clock and by the
CPU seconds of its process group; ``cli.main`` applies its own session
settings to this session through ``getOrCreate``.  With
``trace`` set, the call runs under ``tracing.Tracer`` and the per-layer
probes follow it.
"""

import json
import os
import sys
import time


def deployment_session(spec):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{spec['nproc']}]")
         .config("spark.driver.memory", spec["driver_memory"])
         .config("spark.local.dir", spec["local_dir"])
         # keep the JVM's temp files inside the run's scratch directory
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={spec['tmp_dir']} -XX:-UsePerfData"))
    if spec["trace"]:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", spec["event_dir"])
             .config("spark.eventLog.compress", "false"))
    return b.getOrCreate()


def group_cpu_s() -> float:
    """User + system CPU seconds of this process group (this driver, its
    JVM with the local executors, the Python workers), each process with
    its reaped children.  The kernel leaves time stolen by the hypervisor
    out of these counters."""
    from run import group_stats

    ticks = sum(int(x) for fields in group_stats(os.getpgid(0)).values()
                for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def host_cpu_ticks() -> tuple:
    """(steal, total) CPU ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def main(spec_path: str) -> int:
    with open(spec_path, encoding="utf-8") as fh:
        spec = json.load(fh)
    sys.path.insert(0, spec["root"])
    spark = deployment_session(spec)
    spark.range(1).count()
    result = {"setup_s": time.time() - spec["spawn_ts"]}

    from claimskg_generator_spark import cli

    tracer = None
    if spec["trace"]:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()
    cpu0, st0 = group_cpu_s(), host_cpu_ticks()
    t0 = time.time()
    if tracer is None:
        rc = cli.main(spec["argv"])
    else:
        with tracer.span("cli.main", "cli/cli.main"):
            rc = cli.main(spec["argv"])
    result["cli_end_ts"] = time.time()
    result["wall_s"] = result["cli_end_ts"] - t0
    cpu1, st1 = group_cpu_s(), host_cpu_ticks()
    result["cpu_s"] = cpu1 - cpu0
    result["steal_frac"] = (st1[0] - st0[0]) / max(1, st1[1] - st0[1])
    result["rc"] = rc

    if tracer is not None:
        from tracing import run_probes

        tracer.uninstall()
        result["probes"] = run_probes(tracer, spec)
        result["spans"] = tracer.spans
        result["cache_points"] = tracer.cache_points
        result["plan_s"] = tracer.plan_s
        # flushes the event log; an untraced run leaves its JVM to the
        # parent, which kills the whole process group once this one exits
        spark.stop()
    with open(spec["result_path"], "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0 if rc == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
