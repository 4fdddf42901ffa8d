"""Benchmark entry point: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload build --seed 0 --seconds 10 --trace 0

Run from the root of a checkout; it builds nothing and imports the
program from that checkout. It prints a readable report, then as its last
line one JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Everything it writes goes under .perfbench_out/ in the checkout; spans of a
traced run are written to .perfbench_out/traces/ at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _declared(kind: str) -> dict:
    """{name: unit} of the `end_to_end` or `per_layer` metrics BENCHMARK.json
    declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _stop(spark, rss):
    """Stop Spark, then the JVM and every process under it, and wait for
    each to end."""
    from tracing import descendants

    gw = spark.sparkContext._gateway
    jvm = gw.proc
    spark.stop()
    kids = descendants(os.getpid())
    gw.shutdown()
    jvm.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        jvm.wait(timeout=60)
    except Exception:
        jvm.kill()
        jvm.wait(timeout=30)
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    for pid in kids:  # reap the ones that were our own children
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
    return rss.stop()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import gliner_spark  # the program under test
        from pyspark.sql import SparkSession  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(gliner_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: gliner_spark comes from {gliner_spark.__file__}, not {ROOT}",
              file=sys.stderr)
        return 2
    from tracing import RssSampler, Tracer
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench_out")
    workdir = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    # the JVM, the Python workers and every temp file stay in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp  # would override spark.local.dir
    # every JVM, the launcher's too: no /tmp/hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    )

    from gliner_spark.presets import default_model
    from gliner_spark.session import get_spark

    rss = RssSampler()
    rss.start()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark, enabled=bool(args.trace))
    ctx = Ctx(args.workload, spark, default_model(), tracer, workdir, args.seed, args.seconds)
    try:
        res = WORKLOADS[args.workload](ctx)
    finally:
        peak_mb = _stop(spark, rss)
        if tracer.enabled:
            os.makedirs(os.path.join(out_dir, "traces"), exist_ok=True)
            tracer.write(os.path.join(
                out_dir, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
        shutil.rmtree(workdir, ignore_errors=True)

    for key, value in ctx.checks.seen.items():
        print(f"  digest {key:<29} {value}")
    for what in ctx.checks.failures:
        print(f"CHECK FAILED: {what}")
    figures = {**res, "peak_rss_mb": peak_mb,
               "failed_share": res["failed"] / res["attempted"]}
    print(f"workload {args.workload} seed {args.seed}: "
          f"{res['attempted']} calls, {res['failed']} failed, correct={ctx.checks.ok}")
    for k, v in figures.items():
        if k != "layers":
            print(f"  {k:<36} {v}")
    if args.trace:
        layers = {"engine.session_start_s": session_s, "memory.peak_rss_mb": peak_mb,
                  **res["layers"]}
        for s in tracer.spans:
            print(f"  span {s.name:<32} {s.wall_s:9.3f} s  jobs {s.jobs:4d}  "
                  f"stages {s.stages:4d}  driver_cpu {s.driver_cpu_s:.3f} s")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in _declared("per_layer").items()}
    else:
        metrics = {k: {"value": figures[k], "unit": u} for k, u in _declared("end_to_end").items()}
    print(json.dumps({
        "correct": ctx.checks.ok,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
