#!/usr/bin/env python3
"""Job-path benchmark of dup_ocropy_spark.

    python3 perfbench/run.py --workload single_pass --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One driver process, closed loop: one
job at a time on ``local[<cores>]``. The seeded input is generated once
per (workload, seed), outside the timed section, under
``.perfbench_work/`` in the checkout; every output, the Spark local
dirs, the warehouse and temp files go there too.

``--trace 0`` runs jobs back to back for ``--seconds`` and reports the
end-to-end metrics. ``--trace 1`` runs one untraced and one traced job,
the layer probes, and reports the per-layer metrics. Either way the last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# session restarts of an untraced run; setup_s is their median, so the
# JVM launch, which no package change can move, stays out of it. One:
# the run budget goes to the warm-up job
RESTARTS = 1


def host_env(work: str) -> None:
    """Keep the run inside the checkout and inside this host's memory."""
    with open("/proc/meminfo") as f:
        avail_mb = next(int(line.split()[1]) // 1024 for line in f
                        if line.startswith("MemAvailable:"))
    # a quarter of what is free, at most 2 GiB: the inputs are small and
    # the machine is shared (the package default, 16g, exceeds this host)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(512, min(2048, avail_mb // 4))}m"
    for d in ("spark-local", "tmp", "warehouse", "cache", "out"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the launcher starts: temp files in the work dir, and no
    # hsperfdata files, which HotSpot always writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    # Python workers import the package (and this benchmark's generator)
    # by name; without the checkout on their path they fail to start
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # workers run this interpreter, which has pyspark, pandas and pyarrow,
    # whatever "python3" on the PATH is
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # a local run binds to loopback, also where the host name does not
    # resolve
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    os.environ.pop("SPARK_MASTER", None)


class Session:
    """Starts, restarts and finally shuts down Spark and its JVM."""

    def __init__(self, work: str, cores: int, tracer):
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self.spark = None
        self.setup_s: list[float] = []
        self.start_s: list[float] = []
        self.warm_s: list[float] = []

    def start(self, warm: bool = True):
        """get_spark plus, when ``warm``, a tiny warm-up extraction: the
        time until the Python workers are ready."""
        from dup_ocropy_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                f"local[{self.cores}]", app_name="perfbench",
                extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                })
        t1 = time.perf_counter()
        self.start_s.append(t1 - t0)
        if warm:
            with self.tracer.span("session.worker_warm"):
                self._warm()
            t2 = time.perf_counter()
            self.warm_s.append(t2 - t1)
            self.setup_s.append(t2 - t0)
        return self.spark

    def _warm(self):
        import pandas as pd

        from dup_ocropy_spark.plans.extract import extract
        from dup_ocropy_spark.sources.transcripts import synth_conv

        pdf = pd.concat([synth_conv(i)[0] for i in range(4)]).drop(columns=["ts"])
        df = self.spark.createDataFrame(pdf)
        extract(df).write.mode("overwrite").format("noop").save()

    def restart(self):
        self.spark.stop()
        return self.start()

    def close(self):
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "dup_ocropy_spark")):
        print(f"perfbench: no dup_ocropy_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.probe import SqlMetrics, Tracer, median
    from perfbench.workloads import (
        PER_LAYER, WORKLOADS, Ctx, check_job, run_job, summarize,
    )

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    host_env(work)
    wl = WORKLOADS[args.workload]()
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    cores = len(os.sched_getaffinity(0))
    session = Session(work, cores, tracer)
    out_root = os.path.join(work, "out", run_id)
    marks = [("start", time.perf_counter())]
    try:
        # an untraced run takes its set-up times from restarts right after
        # the JVM launch, so its cold start skips the warm-up extraction,
        # and the input, cached or not, is written after them
        spark = session.start(warm=bool(args.trace))
        for _ in range(0 if args.trace else RESTARTS):
            spark = session.restart()
        marks.append(("setup", time.perf_counter()))
        meta = wl.input(spark, os.path.join(work, "cache"), args.seed)
        os.sync()  # no writeback of the new input during the timed jobs
        marks.append(("input", time.perf_counter()))
        ctx = Ctx(spark, meta, tracer, SqlMetrics(spark) if args.trace else None)
        results = []

        def one(i):
            res = run_job(wl, ctx, os.path.join(out_root, f"job{i}"))
            results.append(res)
            return res

        if args.trace:
            # untraced, traced, untraced: the first job in a session pays
            # one-off warm-up, so the overhead compares the two later ones
            tracer.enabled = False
            one(0)
            tracer.enabled = True
            with tracer.span("job"):
                traced = one(1)
            tracer.enabled = False
            plain = one(2)
            tracer.enabled = True
            metrics = dict.fromkeys(PER_LAYER, 0.0)
            metrics["session.start_s"] = session.start_s[0]
            metrics["session.worker_warm_s"] = session.warm_s[0]
            if plain and traced:
                metrics["trace.job_s"] = traced.wall_s
                metrics["trace.overhead_s"] = traced.wall_s - plain.wall_s
                metrics.update(wl.layers(ctx, traced))
            metrics.update(kernel_sample(meta, args.seed))
            tracer.dump(os.path.join(work, f"trace-{run_id}.json"))
            with open(os.path.join(work, f"executions-{run_id}.json"), "w") as f:
                json.dump(ctx.executions, f, default=str)
        else:
            for i in range(wl.warmup):
                one(i)
            marks.append(("warmup", time.perf_counter()))
            # another job only when it should end inside the window, so a
            # run measures about --seconds whatever the job length
            t0 = time.perf_counter()
            last = one(len(results))
            while (time.perf_counter() - t0 + (last.wall_s if last else 0.0)
                   <= args.seconds):
                last = one(len(results))
        marks.append(("jobs", time.perf_counter()))
        # checks run after the timed loop, on every job's output
        passed = [r for r in results if r is not None and check_job(wl, ctx, r)]
        marks.append(("checks", time.perf_counter()))
        attempted, failed = len(results), len(results) - len(passed)
        print(f"[perfbench] job walls: {[round(r.wall_s, 3) for r in results if r]}",
              file=sys.stderr)
        measured = [r for r in results[wl.warmup:] if r in passed]
        if not args.trace and measured:
            metrics = summarize(ctx, measured)
            metrics["setup_s"] = median(session.setup_s)
    finally:
        session.close()
        shutil.rmtree(out_root, ignore_errors=True)
        marks.append(("close", time.perf_counter()))
        print("[perfbench] phase seconds: " + ", ".join(
            f"{name} {t - prev:.1f}" for (_, prev), (name, t) in zip(marks, marks[1:])),
            file=sys.stderr)

    units = declared_units(args.trace)
    if not passed or not (args.trace or measured):
        metrics = {}
    elif set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} "
                           "differ from BENCHMARK.json")

    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


def kernel_sample(meta: dict, seed: int, rows: int = 3000) -> dict:
    import pandas as pd

    from perfbench.kernels import kernel_phases

    pdf = pd.read_parquet(meta["path"]).sort_values(["conv_id", "turn_idx"])
    # the same number of rows on every workload; a smaller input is
    # sampled with replacement, so the timed sections stay long enough
    # to measure
    sample = pdf.sample(n=rows, replace=len(pdf) < rows,
                        random_state=seed % 2 ** 32).reset_index(drop=True)
    return kernel_phases(sample)


def declared_units(trace: int) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
