"""The three job-path workloads.

Each workload runs one user-facing job on its seeded input, checks the
job's output, and derives its metrics. ``Workload.job`` is the timed
call; ``check`` and the metric helpers run after it, outside the timed
section. The traced variants add spans around each public call and read
Spark's SQL metrics of every action the call ran.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.inputs import CLONE_KINDS, tree_bytes
from perfbench.probe import (
    RssSampler, SqlMetrics, Tracer, median, metric_distributions, metric_total,
    nodes_reading, tail,
)

MB = 1e6


@dataclass
class Ctx:
    spark: object
    meta: dict
    tracer: Tracer
    sql: SqlMetrics | None = None
    executions: dict = field(default_factory=dict)  # span index -> executions

    @contextmanager
    def call(self, name: str):
        """Span around one public call; when tracing, also keeps the SQL
        executions the call ran."""
        if not self.tracer.enabled:
            yield
            return
        mark = self.sql.mark()
        with self.tracer.span(name):
            idx = len(self.tracer.spans) - 1
            yield
        self.executions[idx] = self.sql.since(mark)

    def execs(self, name: str) -> list[dict]:
        return [e for i, s in enumerate(self.tracer.spans) if s["name"] == name
                for e in self.executions.get(i, [])]


@dataclass
class JobResult:
    out: str
    wall_s: float
    commit_s: list[float]
    resume_s: float
    rss_mb: float
    out_bytes: int
    out_files: int
    info: dict


def _success_age(path: str, t0_epoch: float) -> float:
    return os.stat(os.path.join(path, "_SUCCESS")).st_mtime - t0_epoch


def _manifest_rows(out: str) -> int:
    """Rows of the committed buckets, from their manifest entries."""
    total = 0
    for p in glob.glob(os.path.join(out, "_manifest", "bucket_*.json")):
        with open(p) as f:
            total += json.load(f)["row_count"]
    return total


def _has_python(e: dict) -> bool:
    return any(n["name"] == "MapInPandas" for n in e["nodes"])


def extract_layer(execs: list[dict], n_turns: int, sql: SqlMetrics) -> dict:
    """plans.extract metrics from the MapInPandas and Scan nodes."""
    py = [e for e in execs if _has_python(e)]
    dists = metric_distributions(py, "MapInPandas", "time to run Python workers")
    skew = 0.0
    tasks = 0
    if dists:
        _, med, hi, _ = max(dists, key=lambda d: d[2])
        skew = hi / med if med else 0.0
        tasks = sum(sql.stage_tasks(d[3]) for d in dists)
    return {
        "extract.python_s": metric_total(py, "MapInPandas", "time to run Python workers"),
        "extract.worker_init_s": metric_total(py, "MapInPandas", "time to initialize Python workers"),
        "extract.scan_s": metric_total(py, "Scan", "scan time"),
        "extract.arrow_sent_mb": metric_total(py, "MapInPandas", "data sent to Python workers") / MB,
        "extract.arrow_returned_mb": metric_total(py, "MapInPandas", "data returned from Python workers") / MB,
        "extract.kernel_rows_per_input_row":
            metric_total(py, "MapInPandas", "number of output rows") / n_turns,
        "extract.task_skew": skew,
        "extract.tasks": float(tasks),
    }


class Workload:
    name = ""
    # input: turns, hot_every (0: no hot conversation), share of planted
    # clone turns, parquet files
    n_turns = 0
    hot_every = 0
    clone_frac = 0.0
    n_files = 0
    with_checksum = True
    # leading jobs of an untraced run that are checked but not measured:
    # the first job of a session pays the JVM's compilation of the job's
    # code paths, by an amount that varies from run to run
    warmup = 1

    def input(self, spark, cache_dir: str, seed: int) -> dict:
        from perfbench.inputs import ensure_input

        return ensure_input(spark, cache_dir, self.name, seed, self.n_turns,
                            self.hot_every, self.clone_frac, self.n_files,
                            self.with_checksum)

    def run_job(self, ctx: Ctx, out: str) -> JobResult:
        t = ctx.spark.read.parquet(ctx.meta["path"])
        t0_epoch = time.time()
        t0 = time.perf_counter()
        with RssSampler() as rss:
            info = self.job(ctx, t, out)
        wall = time.perf_counter() - t0
        commit_s, resume_s = self.commit_times(out, t0_epoch, wall, info)
        sizes = [tree_bytes(d) for d in self.outputs(out)]
        return JobResult(out, wall, commit_s, resume_s, rss.peak_mb,
                         sum(b for b, _ in sizes), sum(f for _, f in sizes), info)

    def outputs(self, out: str) -> list[str]:
        return [out]

    def commit_times(self, out, t0_epoch, wall, info):
        """A job without checkpoints is one commit unit: progress stays
        invisible until its output commits, and a crash loses all of it,
        so the restart is a full re-run."""
        return [_success_age(self.outputs(out)[-1], t0_epoch)], wall

    def job(self, ctx: Ctx, transcripts, out: str) -> dict:
        raise NotImplementedError

    def check(self, ctx: Ctx, res: JobResult) -> list[str]:
        raise NotImplementedError

    def layers(self, ctx: Ctx, res: JobResult) -> dict:
        raise NotImplementedError


class SinglePass(Workload):
    name = "single_pass"
    n_turns, hot_every, n_files = 6000, 1000, 16
    # after one warm-up job the next is still 7-17% faster, and the
    # 10 s window fits one or two jobs: a second warm-up keeps the
    # median from following that count
    warmup = 2

    def outputs(self, out):
        return [out, out.rstrip("/") + "_lineage"]

    def job(self, ctx, t, out):
        from dup_ocropy_spark.plans.extract import extract, ordered, reject_report
        from dup_ocropy_spark.plans.lineage import write_output_with_lineage

        with ctx.call("plans.extract.ordered"):
            df = ordered(extract(t))
        with ctx.call("plans.lineage.write_output_with_lineage"):
            write_output_with_lineage(df, out, f"seed{ctx.meta['seed']}")
        with ctx.call("readback.count"):
            n_rows = ctx.spark.read.parquet(out).count()
        with ctx.call("plans.extract.reject_report"):
            rejects = reject_report(ctx.spark.read.parquet(out)).collect()
        return {"rows": n_rows, "rejects": {str(r["reject_reason"]): r["n_turns"]
                                            for r in rejects}}

    def check(self, ctx, res):
        from dup_ocropy_spark.plans.lineage import dataset_checksum

        back = ctx.spark.read.parquet(res.out)
        errs = []
        rows, checksum = back.count(), dataset_checksum(back)
        if rows != ctx.meta["expected_rows"] or res.info["rows"] != rows:
            errs.append(f"rows {rows}/{res.info['rows']} != {ctx.meta['expected_rows']}")
        if checksum != ctx.meta["expected_checksum"]:
            errs.append(f"checksum {checksum} != {ctx.meta['expected_checksum']}")
        if sum(res.info["rejects"].values()) != rows:
            errs.append("reject report does not cover every row")
        return errs

    def layers(self, ctx, res):
        from dup_ocropy_spark.plans.extract import extract, ordered

        n = ctx.meta["n_turns"]
        write = ctx.execs("plans.lineage.write_output_with_lineage")
        data_write = [e for e in write if _has_python(e)]
        readbacks = (ctx.execs("readback.count")
                     + ctx.execs("plans.extract.reject_report"))
        lineage_execs = [e for e in write if not _has_python(e)]
        # ordered's own cost: the same extraction into a noop sink with
        # and without ordered()
        t = ctx.spark.read.parquet(ctx.meta["path"])
        with ctx.call("noop.extract"):
            extract(t).write.mode("overwrite").format("noop").save()
        with ctx.call("noop.ordered"):
            ordered(extract(t)).write.mode("overwrite").format("noop").save()
        jobs = lambda name: sum(e["jobs"] for e in ctx.execs(name))  # noqa: E731
        return {
            **extract_layer(data_write, n, ctx.sql),
            "ordered.self_s": ctx.tracer.seconds("noop.ordered") - ctx.tracer.seconds("noop.extract"),
            "ordered.spark_jobs": float(jobs("noop.ordered") - jobs("noop.extract")),
            "lineage.write_s": ctx.tracer.seconds("plans.lineage.write_output_with_lineage")
                               - sum(e["wall_s"] for e in data_write),
            "lineage.readback_s": ctx.tracer.seconds("readback.count")
                                  + ctx.tracer.seconds("plans.extract.reject_report"),
            "lineage.readback_mb": metric_total(lineage_execs + readbacks, "Scan",
                                                "size of files read") / MB,
        }


class ResumeCrash(Workload):
    name = "resume_crash"
    n_turns, n_files = 1200, 8
    buckets = 8
    crash_after = buckets // 2 - 1  # raises once half the buckets committed

    def job(self, ctx, t, out):
        from dup_ocropy_spark.plans.resume import committed_buckets, run_with_checkpoints

        snap = f"seed{ctx.meta['seed']}"
        t0_epoch = time.time()
        crashed = False
        with ctx.call("plans.resume.run_with_checkpoints.crash"):
            try:
                run_with_checkpoints(t, out, n_buckets=self.buckets,
                                     source_snapshot=snap,
                                     fail_after_bucket=self.crash_after)
            except RuntimeError as e:
                crashed = "injected failure" in str(e)
        at_crash = committed_buckets(out)
        rows_at_crash = _manifest_rows(out)
        restart_epoch = time.time()
        t1 = time.perf_counter()
        with ctx.call("plans.resume.run_with_checkpoints.restart"):
            entries = run_with_checkpoints(t, out, n_buckets=self.buckets,
                                           source_snapshot=snap)
        return {"crashed": crashed, "at_crash": sorted(at_crash),
                "restart_s": time.perf_counter() - t1,
                "restart_epoch": restart_epoch, "start_epoch": t0_epoch,
                "rows_at_crash": rows_at_crash,
                "rows_restart": sum(e["row_count"] for e in entries)}

    def commit_times(self, out, t0_epoch, wall, info):
        """Per-bucket time from bucket start to manifest commit. Buckets
        run back to back, so a bucket starts when the previous one
        commits, or when its run starts."""
        mtimes = {}
        for p in glob.glob(os.path.join(out, "_manifest", "bucket_*.json")):
            mtimes[int(os.path.basename(p)[7:-5])] = os.stat(p).st_mtime
        first = set(info["at_crash"])
        out_s = []
        for run_start, bucket_ids in ((info["start_epoch"], sorted(first)),
                                      (info["restart_epoch"],
                                       sorted(set(mtimes) - first))):
            prev = run_start
            for b in bucket_ids:
                out_s.append(mtimes[b] - prev)
                prev = mtimes[b]
        return out_s, info["restart_s"]

    def check(self, ctx, res):
        from dup_ocropy_spark.plans.lineage import dataset_checksum
        from dup_ocropy_spark.plans.resume import committed_buckets, read_checkpointed

        errs = []
        if not res.info["crashed"]:
            errs.append("the injected crash did not raise")
        if len(res.info["at_crash"]) != self.crash_after + 1:
            errs.append(f"{len(res.info['at_crash'])} buckets committed at the crash")
        if committed_buckets(res.out) != set(range(self.buckets)):
            errs.append("not every bucket committed")
        back = read_checkpointed(ctx.spark, res.out)
        rows, checksum = back.count(), dataset_checksum(back)
        if rows != ctx.meta["expected_rows"]:
            errs.append(f"rows {rows} != {ctx.meta['expected_rows']}")
        if checksum != ctx.meta["expected_checksum"]:
            errs.append(f"checksum {checksum} != {ctx.meta['expected_checksum']}")
        return errs

    def layers(self, ctx, res):
        n = ctx.meta["n_turns"]
        execs = (ctx.execs("plans.resume.run_with_checkpoints.crash")
                 + ctx.execs("plans.resume.run_with_checkpoints.restart"))
        restart = ctx.execs("plans.resume.run_with_checkpoints.restart")
        uncommitted = n - res.info["rows_at_crash"]
        redone = metric_total([e for e in restart if _has_python(e)],
                              "MapInPandas", "number of output rows")
        readbacks = nodes_reading([e for e in execs if not _has_python(e)],
                                  os.path.basename(res.out))
        return {
            **extract_layer(execs, n, ctx.sql),
            "resume.bucket_s": median(res.commit_s),
            "resume.scan_amplification":
                metric_total(execs, "Scan", "size of files read") / ctx.meta["input_bytes"],
            "resume.readbacks_per_bucket": len(readbacks) / self.buckets,
            "resume.spark_jobs": float(sum(e["jobs"] for e in execs)),
            "resume.redo_frac": redone / uncommitted if uncommitted else 0.0,
        }


class CurateDups(Workload):
    name = "curate_dups"
    n_turns, clone_frac, n_files = 2800, 0.15, 8
    with_checksum = False

    def __init__(self):
        # curated conv_id checksum of the run's first job; every later
        # job of the run must reproduce it
        self.ids = None

    def job(self, ctx, t, out):
        from dup_ocropy_spark.plans.cache import n_tracked, release_shared
        from dup_ocropy_spark.plans.curate import curate

        with ctx.call("plans.curate.curate"):
            curated, stats = curate(t, near_dedup=True)
        with ctx.call("write.curated"):
            curated.write.mode("overwrite").parquet(out)
        with ctx.call("collect.stats"):
            st = stats.collect()[0].asDict()
        with ctx.call("plans.cache.release_shared"):
            release_shared()
        # tracked persists plus persistent RDDs the job left behind
        left = n_tracked() + ctx.spark.sparkContext._jsc.getPersistentRDDs().size()
        return {"stats": st, "blocks_left": left}

    def check(self, ctx, res):
        from pyspark.sql import functions as F

        back = ctx.spark.read.parquet(res.out)
        r = back.agg(F.count("*").alias("n"),
                     F.countDistinct(F.md5("text")).alias("texts"),
                     F.sum(F.col("conv_id").startswith(CLONE_KINDS["exact"])
                           .cast("int")).alias("dupes"),
                     F.bit_xor(F.xxhash64("conv_id")).alias("ids")).collect()[0]
        errs = []
        if r["n"] == 0:
            errs.append("curated output is empty")
        if r["texts"] != r["n"]:
            errs.append(f"{r['n'] - r['texts']} curated texts are duplicates")
        if r["dupes"]:
            errs.append(f"{r['dupes']} planted exact clones survived")
        if res.info["stats"]["n_after_exact_dedup"] != r["n"]:
            errs.append("stats disagree with the written output")
        if self.ids is None:
            self.ids = r["ids"]
        elif r["ids"] != self.ids:
            errs.append(f"curated conv_id checksum {r['ids']} != {self.ids} "
                        "of the run's first job")
        # keep-first keeps the original of an exact clone (its id sorts
        # first), so it may only be missing for a reason: the gate or a
        # near-dup link to another conversation
        originals = [a for a, _, kind in ctx.meta["planted"] if kind == "exact"]
        kept = {row["conv_id"] for row in
                back.where(F.col("conv_id").isin(originals)).select("conv_id").collect()}
        lost = set(originals) - kept
        if lost and (unexplained := self.unexplained(ctx, lost)):
            errs.append(f"exact-clone originals {sorted(unexplained)} pass the "
                        "quality gate, have no near-dup link, and were dropped")
        return errs

    def unexplained(self, ctx, lost: set) -> set:
        """The conversations of ``lost`` that pass the quality gate and
        that minhash pairs with no conversation but their own clone."""
        from pyspark.sql import functions as F

        from dup_ocropy_spark.operators.dedup import minhash_candidates

        # the gate scores each conversation on its own
        passing = {r["conv_id"] for r in
                   self.stages(ctx, sorted(lost))[4].select("conv_id").collect()}
        if not passing:
            return passing
        keyed = self.stages(ctx)[4].select(F.col("conv_id").alias("doc_id"), "text")
        linked = {d for r in minhash_candidates(keyed).collect()
                  if r["doc_a"][4:] != r["doc_b"][4:] for d in (r["doc_a"], r["doc_b"])}
        return passing - linked

    def layers(self, ctx, res):
        # curate() itself runs actions: the cluster closure materializes
        # the pipeline up to the near-dup pairs
        execs = [e for name in ("plans.curate.curate", "write.curated", "collect.stats")
                 for e in ctx.execs(name)]
        return {
            **extract_layer(execs, ctx.meta["n_turns"], ctx.sql),
            "curate.shuffle_write_mb": metric_total(execs, "Exchange", "shuffle bytes written") / MB,
            "curate.spill_mb": metric_total(execs, "", "spill size") / MB,
            "cache.blocks_left": float(res.info["blocks_left"]),
            **self.staged(ctx),
        }

    @staticmethod
    def stages(ctx, conv_ids: list | None = None) -> list:
        """curate()'s stages rebuilt, lazily, from the public operators it
        composes: extracted turns, conversations, redacted docs, scored
        docs, and the docs that pass the quality gate; of every
        conversation, or of ``conv_ids`` only."""
        from pyspark.sql import functions as F

        from dup_ocropy_spark.operators.redact import redact_pii
        from dup_ocropy_spark.plans.curate import quality_columns
        from dup_ocropy_spark.plans.extract import conversation_text, extract

        t = ctx.spark.read.parquet(ctx.meta["path"])
        if conv_ids is not None:
            t = t.where(F.col("conv_id").isin(conv_ids))
        ex = extract(t)
        conv = conversation_text(ex)
        red = redact_pii(conv.select("conv_id", F.col("conv_text").alias("text"),
                                     "n_turns_with_content"))
        scored = quality_columns(red)
        return [ex, conv, red, scored, scored.where(F.col("is_quality"))]

    def staged(self, ctx) -> dict:
        """Each stage of the re-composition materialized on its own
        (persist + count), reading the persisted stage before it. This
        times the public operators, not curate() itself, whose stages
        run fused; the near-dup cluster closure is not staged."""
        from pyspark.sql import functions as F

        from dup_ocropy_spark.operators.dedup import exact_keep_first, minhash_candidates
        from dup_ocropy_spark.plans.cache import release_shared

        held = []

        def stage(name, df):
            df = df.persist()
            with ctx.call(name):
                df.count()
            held.append(df)
            return df

        ex, conv, red, scored, quality = self.stages(ctx)
        for name, df in (("stage.extract", ex), ("curate.reassemble", conv),
                         ("curate.redact", red), ("curate.quality", scored)):
            stage(name, df)
        stage("curate.exact_dedup",
              quality.join(exact_keep_first(quality.select("conv_id", "text"),
                                            "conv_id").select("conv_id"), "conv_id"))
        keyed = quality.select(F.col("conv_id").alias("doc_id"), "text")
        pairs = stage("curate.minhash", minhash_candidates(keyed))
        cand = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
        kept = {r["conv_id"] for r in quality.select("conv_id").collect()}
        for df in held:
            df.unpersist()
        release_shared()

        # a clone's id is its original's with another 4-letter prefix
        family = lambda a, b: a[4:] == b[4:]  # noqa: E731
        near = [(a, b) for a, b, kind in ctx.meta["planted"]
                if kind != "exact" and a in kept and b in kept]
        found = sum(1 for a, b in near if (a, b) in cand or (b, a) in cand)
        return {
            "curate.reassemble_s": ctx.tracer.seconds("curate.reassemble"),
            "curate.redact_s": ctx.tracer.seconds("curate.redact"),
            "curate.quality_s": ctx.tracer.seconds("curate.quality"),
            "curate.exact_dedup_s": ctx.tracer.seconds("curate.exact_dedup"),
            "curate.minhash_s": ctx.tracer.seconds("curate.minhash"),
            "dedup.candidate_precision":
                sum(1 for a, b in cand if family(a, b)) / len(cand) if cand else 0.0,
            "dedup.planted_recall": found / len(near) if near else 0.0,
        }


WORKLOADS = {w.name: w for w in (SinglePass, ResumeCrash, CurateDups)}

# every per-layer metric; a workload that does not run a layer reports 0
PER_LAYER = (
    "session.start_s", "session.worker_warm_s",
    "kernels.frame_s_per_krow", "kernels.segment_s", "kernels.segment_masked_s",
    "kernels.classify_s", "kernels.reassemble_s", "kernels.gate_frame_s",
    "kernels.phase_sum_over_wall", "kernels.blocks_per_turn", "kernels.live_frac",
    "kernels.content_frac",
    "extract.python_s", "extract.worker_init_s", "extract.scan_s",
    "extract.arrow_sent_mb", "extract.arrow_returned_mb",
    "extract.kernel_rows_per_input_row", "extract.task_skew", "extract.tasks",
    "ordered.self_s", "ordered.spark_jobs",
    "lineage.write_s", "lineage.readback_s", "lineage.readback_mb",
    "resume.bucket_s", "resume.scan_amplification", "resume.readbacks_per_bucket",
    "resume.spark_jobs", "resume.redo_frac",
    "curate.reassemble_s", "curate.redact_s", "curate.quality_s",
    "curate.exact_dedup_s", "curate.minhash_s", "curate.shuffle_write_mb",
    "curate.spill_mb", "dedup.candidate_precision", "dedup.planted_recall",
    "cache.blocks_left", "trace.job_s", "trace.overhead_s",
)


def run_job(wl: Workload, ctx: Ctx, out: str) -> JobResult | None:
    """One timed job; a job that raises is a failed job, not a fatal one."""
    shutil.rmtree(out, ignore_errors=True)
    try:
        return wl.run_job(ctx, out)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        print(f"[perfbench] {wl.name} job raised", file=sys.stderr)
        return None


def check_job(wl: Workload, ctx: Ctx, res: JobResult) -> bool:
    """The correctness check of one job's output; True when it passed."""
    try:
        errs = wl.check(ctx, res)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        errs = ["check raised"]
    for e in errs:
        print(f"[perfbench] {wl.name} check failed: {e}", file=sys.stderr)
    return not errs


def summarize(ctx: Ctx, results: list[JobResult]) -> dict:
    """End-to-end metrics over the jobs of one untraced run."""
    n = ctx.meta["n_turns"]
    commits = [c for r in results for c in r.commit_s]
    return {
        "turns_per_s": median(n / r.wall_s for r in results),
        "commit_s_p50": median(commits),
        "commit_s_tail": tail(commits),
        "resume_s": median(r.resume_s for r in results),
        "out_bytes_per_in_byte": median(r.out_bytes for r in results) / ctx.meta["input_bytes"],
        "out_files": median(r.out_files for r in results),
        "worker_peak_rss_mb": max(r.rss_mb for r in results),
    }
