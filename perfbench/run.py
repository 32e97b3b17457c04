#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload import_pg --seed 1 --seconds 10 --trace 0

Run it from the repository root. Workloads, metrics and the layer map are
defined in ``perfbench/metrics.py``; ``perfbench/README.md`` says what
each workload and metric measures. With ``--trace 0`` the last line of
stdout carries every end-to-end metric; with ``--trace 1`` it carries
every per-layer metric, from spans and Spark counters recorded around
the calls into each layer (layers a workload never enters read 0). The
line before it records the environment: cores, ``SPARK_GRAFT_CPUS``,
sink backend, and whether PostGIS was present. Full detail, and the
spans of a traced run, go to ``.perfbench_out/``.

Everything a run writes stays under the repository root: inputs, the
scratch PostgreSQL, Spark's local dirs and every temp file go to
``.perfbench_run/<run>/``, which is removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

from procs import cpu_ticks, peak_rss_mb, process_age

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "postgis_gtfs_importer_spark"


class Run:
    """What a workload gets: the session, its inputs' seed, the time
    window, a work directory, the tracer (None when untraced), and the
    tally of attempted and failed operations."""

    def __init__(self, args, workdir: str, tracer):
        self.seed, self.seconds = args.seed, args.seconds
        self.root, self.workdir, self.tracer = ROOT, workdir, tracer
        self.spark = None
        self.jvm_pid: int | None = None
        self.env = {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "backend": "none",
            "postgis": None,
        }
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.setup_s: float | None = None
        self.harness_s = 0.0

    @contextlib.contextmanager
    def harness(self):
        """Time the benchmark's own preparation (inputs, expectations),
        which ``setup_s`` leaves out."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.harness_s += time.perf_counter() - t0

    def begin_timed(self) -> None:
        self.setup_s = process_age() - self.harness_s

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


def _isolate(workdir: str) -> None:
    """Point every temp and scratch location of Python, Spark and the
    JVM into ``workdir``; give executors' Python workers the package."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark")
    # compiler threads that live as long as the JVM keep their CPU time
    # readable per thread (procs.jit_cpu_s)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # The session's default 8 GB heap let an import_pg run reach 8.3 GB
    # of peak RSS on a host whose memory other processes share; with 2 GB
    # it peaked at 2.8 GB and took as long, within the host's noise.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("GTFS_IMPORTER_VERBOSE", "false")


def main(argv=None) -> int:
    import metrics

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[w for w, _ in metrics.WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2

    ticks0 = cpu_ticks()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    workdir = os.path.join(ROOT, ".perfbench_run", f"{tag}-{os.getpid()}")
    _isolate(workdir)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, tag, workdir, metrics, ticks0)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _run(args, tag: str, workdir: str, metrics, ticks0) -> int:
    from spans import Tracer

    from postgis_gtfs_importer_spark.session import get_spark

    workload = __import__({"import_pg": "import_pg", "query_sf0.01": "query"}[args.workload])
    tracer = Tracer(f"{tag}-{os.getpid()}") if args.trace else None
    ctx = Run(args, workdir, tracer)
    extra = ({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"}
             if tracer else None)
    t0 = time.perf_counter()
    with ctx.span("session.get_spark"):
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
    session_s = time.perf_counter() - t0
    ctx.spark = spark
    if tracer:
        tracer.spark = spark
    gateway = spark.sparkContext._gateway
    ctx.jvm_pid = gateway.proc.pid
    try:
        out = workload.run(ctx)
        out["peak_rss_mb"] = peak_rss_mb([os.getpid(), gateway.proc.pid])
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except Exception:
            gateway.proc.kill()
            gateway.proc.wait()
    out["setup_s"] = ctx.setup_s
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    # CPU time the hypervisor gave to other guests during the run: a
    # run with a high share was slowed by its neighbours, not the program
    ctx.env["steal_pct"] = round(100 * steal / max(total, 1), 1)

    if tracer:
        values = {name: 0 for name, _, _ in metrics.PER_LAYER}
        values.update(workload.layer_metrics(tracer, out))
        values["session.get_spark.s"] = session_s
        values["process.peak_rss_mb"] = out["peak_rss_mb"]
        values["trace.overhead_ms"] = tracer.overhead_s * 1000
        units = {name: unit for name, unit, _ in metrics.PER_LAYER}
    else:
        values = {name: out[name] for name, *_ in metrics.END_TO_END}
        units = {name: unit for name, unit, *_ in metrics.END_TO_END}
    assert set(values) == set(units), sorted(set(values) ^ set(units))

    outdir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(outdir, exist_ok=True)
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "env": ctx.env, "problems": ctx.problems[:20],
              "session_s": session_s, "harness_s": ctx.harness_s, "out": out}
    with open(os.path.join(outdir, f"{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if tracer:
        tracer.dump(os.path.join(outdir, f"{tag}.spans.json"))

    # a traced run's end-to-end values, set against an untraced run's,
    # give the tracing overhead per workload
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "env": ctx.env, "wall": out["wall"],
                      "end_to_end": {name: out[name] for name, *_ in metrics.END_TO_END},
                      "problems": ctx.problems[:5]}))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in sorted(values)},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
