"""Crawl-frontier benchmark: one command, seeded inputs, oracle-checked.

    python3 perfbench/run.py --workload discover_resume --seed 1 \
        --seconds 20 --trace 0

Runs the engine's real ``CrawlJob`` round loop (``plans.frontier``) at
``local[<cores>]`` on generated Common-Crawl-style inputs, checks every
crawl against the pure-Python oracle, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of an extra,
instrumented crawl (see README.md for the definitions). A crawl whose
outputs disagree with the oracle makes the command exit with status 1.

All files (generated inputs, checkpoints, Spark scratch) live under
``.perfbench/`` in the working directory, which must be the repository
root.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
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

def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["discover_resume", "segment_bulk"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


# -- memory ------------------------------------------------------------------------

def _pss_kb(pid: int) -> int:
    """Proportional resident memory: pages shared with the forking
    Python daemon are split between its workers, not counted per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        out.append(p)
        frontier += [c for c, pp in parent.items() if pp == p]
    return out


def _hwm_kb(pid: int) -> int:
    """Peak resident memory of one process since it started."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class RssSampler:
    """Peak resident memory of the driver JVM plus peak proportional
    memory of its Python workers. The JVM's peak is the kernel's
    high-water mark; walking its page tables for PSS on every sample
    would cost tens of milliseconds and hold its memory map lock."""

    def __init__(self, jvm_pid: int, period: float = 0.25):
        self.jvm_pid, self.period = jvm_pid, period
        self.peak_kb = self.workers_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in _descendants(self.jvm_pid)
                        if p != self.jvm_pid)
            self.workers_peak_kb = max(self.workers_peak_kb, total)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = _hwm_kb(self.jvm_pid) + self.workers_peak_kb


# -- child processes ------------------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make every process this run starts, however deep (the Spark JVM's
    Python worker daemon, the multiprocessing resource tracker), a child
    of this process once its own parent has gone, so it can be waited for."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_children(grace: float = 30.0) -> None:
    """Let every descendant exit, kill what is left after ``grace``
    seconds, and reap them all before returning (giving up ten seconds
    after the kill, so a process stuck in the kernel cannot hang the run)."""
    from multiprocessing import resource_tracker

    stop_tracker = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop_tracker is not None:
        stop_tracker()
    deadline = time.monotonic() + grace
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        left = [p for p in _descendants(os.getpid()) if p != os.getpid()]
        if not left or time.monotonic() > deadline + 10:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


# -- statistics ----------------------------------------------------------------------

def tail(values: list[float]) -> tuple[float, int]:
    """Highest percentile with at least ten samples beyond it (nearest
    rank); the maximum when there are too few samples for any."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 49, -1):
        idx = math.ceil(p / 100 * n) - 1
        if n - (idx + 1) >= 10:
            return xs[idx], p
    return xs[-1], 100


def cpu_steal_s() -> float:
    """CPU time the hypervisor took from this machine, all CPUs, since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU time (user + system) of this process and all its descendants,
    counting descendants that have ended and been waited for."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
    return total / tick


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


# -- the benchmark ------------------------------------------------------------------

class Bench:
    def __init__(self, args, work: str, cache: str):
        import gen

        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.data = gen.ensure(cache, args.workload, args.seed, "full",
                               procs=self.cores)
        self.warm = gen.ensure(cache, args.workload, args.seed, "warmup")
        self.truth = gen.load_truth(self.data)
        self.job_args = dict(self.truth["job_args"])
        self.resume_after = self.truth["resume_after"]
        self.discover = args.workload == "discover_resume"
        self.spark = None

    # -- session -------------------------------------------------------------

    def conf(self) -> dict[str, str]:
        return {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a long run in the status store
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        }

    def register(self, data_dir: str) -> dict:
        s = self.spark
        return {
            "segments": s.read.format("binaryFile").load(
                os.path.join(data_dir, "segments")).select("path", "content"),
            "cdx": s.read.parquet(os.path.join(data_dir, "cdx.parquet")),
            "robots": s.read.parquet(os.path.join(data_dir, "robots.parquet")),
        }

    def setup(self) -> float:
        """Session start, input registration and the warm-up pass: segment
        ingest, seeding and one round on a small input of the same shape,
        which absorbs the JVM's first-use costs (class loading, JIT, the
        compilation of each plan's generated code) outside the timed crawl."""
        from commoncrawl_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=self.cores,
                               extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.inputs = self.register(self.data)
        warm = self.register(self.warm)
        self.crawl(warm, os.path.join(self.work, "warm"), max_rounds=1)
        return time.perf_counter() - t0

    # -- one crawl ---------------------------------------------------------------

    def transient_fail(self):
        from pyspark.sql import functions as F

        import gen

        if not self.discover:
            return None
        key = F.concat(F.col("url"), F.lit("#"), F.col("attempt").cast("string"))
        return F.pmod(F.crc32(key.cast("binary")), F.lit(100)) < F.lit(
            gen.TRANSIENT_PCT)

    def crawl(self, inputs: dict, ckpt: str, max_rounds: int | None = None,
              group: str | None = None) -> dict:
        """Segment ingest, seeding, then rounds until the frontier drains;
        after ``resume_after`` rounds the job is dropped and a fresh one
        resumes from the checkpoint."""
        from pyspark.sql import functions as F

        from commoncrawl_spark.plans.frontier import CrawlJob
        from commoncrawl_spark.sources.warc import read_warc_records

        sc = self.spark.sparkContext
        fail = self.transient_fail()
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        recs = read_warc_records(inputs["segments"], bin_col="content")
        pages = (recs.filter(F.col("error").isNull()
                             & (F.col("warc_type") == "response"))
                 .select(F.col("target_uri").alias("url"),
                         F.col("payload").alias("html"))
                 .persist())
        pages.count()
        job = CrawlJob(self.spark, ckpt, **self.job_args)
        job.seed_from_cdx(inputs["cdx"])
        rounds, resume_s, k = [], None, 0
        while max_rounds is None or k < max_rounds:
            if k == self.resume_after:
                del job
                t_res = time.perf_counter()
                job = CrawlJob(self.spark, ckpt, **self.job_args)
            if group is not None:
                sc.setJobGroup(f"{group}/r{k}", "round")
            t = time.perf_counter()
            c = job.run_round(pages, inputs["robots"], fail,
                              discover_links=self.discover)
            wall = time.perf_counter() - t
            if k == self.resume_after:
                resume_s = time.perf_counter() - t_res
            if not c:
                break
            c["wall_s"] = wall
            rounds.append(c)
            k += 1
        crawl_s = time.perf_counter() - t0
        cpu_s = tree_cpu_s() - cpu0
        sc.setLocalProperty("spark.jobGroup.id", None)
        pages.unpersist()
        return {"job": job, "ckpt": ckpt, "crawl_s": crawl_s, "cpu_s": cpu_s,
                "resume_s": resume_s, "rounds": rounds}

    # -- outputs and oracle --------------------------------------------------------

    def outputs(self, res: dict) -> dict:
        job = res["job"]
        arts = job.articles_df().select("url", "text").collect()
        fails = job.failures.read(self.spark).select("url").collect()
        seen = job.seen_df().select("url_sha1").collect()
        trace = job.trace_df().select("round", "url").collect()
        front = job.frontier.read(self.spark).select("url_sha1").collect()
        return {"articles": [(r.url, r.text) for r in arts],
                "failures": [r.url for r in fails],
                "seen": [r.url_sha1 for r in seen],
                "trace": [(r["round"], r.url) for r in trace],
                "frontier": [r.url_sha1 for r in front]}

    # -- end-to-end run -------------------------------------------------------------

    def run(self) -> dict:
        import oracle
        import pandas as pd

        setup_s = self.setup()
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()
        crawls = []
        steal0 = cpu_steal_s()
        with RssSampler(jvm_pid) as rss:
            t0 = time.perf_counter()
            while True:
                res = self.crawl(self.inputs,
                                 os.path.join(self.work, f"crawl{len(crawls)}"),
                                 group=f"u{len(crawls)}")
                crawls.append(res)
                if time.perf_counter() - t0 + res["crawl_s"] > self.args.seconds:
                    break
        steal_s = cpu_steal_s() - steal0
        exp = oracle.Expected(
            self.truth, pd.read_parquet(os.path.join(self.data, "cdx.parquet")))
        attempted = failed = 0
        mismatches: dict[str, int] = {}
        for res in crawls:
            bad, detail = oracle.check(exp, self.outputs(res))
            res["ckpt_bytes"] = dir_bytes(res["ckpt"])
            attempted += exp.n_urls
            failed += len(bad)
            for k, v in detail.items():
                mismatches[k] = mismatches.get(k, 0) + v
        round_walls = [r["wall_s"] for res in crawls for r in res["rounds"]]
        tail_v, tail_p = tail(round_walls)
        n_art = len(exp.sim["articles"])
        resumes = [c["resume_s"] for c in crawls if c["resume_s"] is not None]
        e2e = {
            "setup_s": (setup_s, "s"),
            "crawl_s": (statistics.median(c["crawl_s"] for c in crawls), "s"),
            "urls_per_s": (statistics.median(
                n_art / c["crawl_s"] for c in crawls), "1/s"),
            "round_s_p50": (statistics.median(round_walls), "s"),
            "round_s_tail": (tail_v, "s"),
            # a crawl that drained before its resume point fails the oracle
            "resume_s": (statistics.median(resumes) if resumes else 0.0, "s"),
            "peak_rss_mb": (rss.peak_kb / 1024, "MB"),
            "ckpt_bytes_per_url": (statistics.median(
                c["ckpt_bytes"] / n_art for c in crawls), "B"),
        }
        summary = {
            "workload": self.args.workload, "seed": self.args.seed,
            "cores": self.cores, "crawls": len(crawls),
            "rounds_per_crawl": [len(c["rounds"]) for c in crawls],
            "round_samples": len(round_walls), "round_tail_percentile": tail_p,
            "articles_expected": n_art, "op_fail_ratio": failed / attempted,
            "mismatches": mismatches,
            # host contention during the timed crawls; timings rise with it
            "cpu_steal_s": round(steal_s, 2),
            "crawl_cpu_s": [round(c["cpu_s"], 2) for c in crawls],
        }
        return {"e2e": e2e, "summary": summary, "crawls": crawls,
                "attempted": attempted, "failed": failed, "expected": exp}

    # -- traced run ----------------------------------------------------------------------

    def traced(self, base: dict, spans_path: str) -> dict:
        """Per-layer metrics: frontier counters from the untraced crawls,
        the rest from one more crawl with every layer call in a span.
        The spans are written to ``spans_path``."""
        import oracle
        from spans import StatusStore, Tracer, instrument

        store = StatusStore(self.spark)
        jobs, stages = store.snapshot()
        groups = StatusStore.by_group(jobs, stages)
        # frontier counters from the untraced crawls: job group per round
        n_rounds, tot = 0, {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0}
        wall = 0.0
        for ci, res in enumerate(base["crawls"]):
            for k, r in enumerate(res["rounds"]):
                if r["selected"] == 0:
                    continue
                g = groups.get(f"u{ci}/r{k}", {})
                n_rounds += 1
                wall += r["wall_s"]
                for key in tot:
                    tot[key] += g.get(key, 0)

        tr = Tracer(self.spark.sparkContext, "traced")
        with instrument(tr):
            res = self.crawl(self.inputs, os.path.join(self.work, "traced"))
        bad, _ = oracle.check(base["expected"], self.outputs(res))
        t0 = tr.spans[0]["start"]
        with open(spans_path, "w") as fh:
            json.dump([dict(s, start=s["start"] - t0, end=s["end"] - t0)
                       for s in tr.spans], fh)
        jobs, stages = store.snapshot()
        groups = StatusStore.by_group(jobs, stages)
        ids = tr.ids_by_name()
        self_t = tr.self_time_by_name()

        def g_sum(names, key):
            return sum(groups.get(i, {}).get(key, 0)
                       for n in names for i in ids.get(n, ()))

        def t_sum(*names):
            return sum(self_t.get(n, 0.0) for n in names)

        c = tr.counts
        traced_ids = {s["id"] for s in tr.spans if s["name"] != "_aux"}
        spark_tot = {k: sum(g.get(k, 0) for gid, g in groups.items()
                            if gid in traced_ids)
                     for k in ("gc_ms", "shuffle_write", "failed_tasks")}
        discovered = sum(r.get("discovered", 0) for r in res["rounds"])
        extract_names = ("extract.extract_articles", "extract.split_articles")
        extract_core_s = g_sum(extract_names, "run_ms") / 1000
        untraced = statistics.median(x["crawl_s"] for x in base["crawls"])
        m = {
            "frontier.jobs_per_round": (tot["jobs"] / max(n_rounds, 1), "count"),
            "frontier.stages_per_round": (tot["stages"] / max(n_rounds, 1), "count"),
            "frontier.tasks_per_round": (tot["tasks"] / max(n_rounds, 1), "count"),
            "frontier.executor_util": (
                tot["run_ms"] / 1000 / max(wall * self.cores, 1e-9), "ratio"),
            "frontier.self_s": (t_sum("frontier.run_round"), "s"),
            "schedule.busy_s": (t_sum("schedule.apply_robots",
                                      "schedule.select_polite_batch"), "s"),
            "schedule.rows_in": (c["schedule.rows_in"], "count"),
            "schedule.selected": (c["schedule.selected"], "count"),
            "schedule.robots_blocked": (
                c["schedule.rows_in"] - c["schedule.allowed"], "count"),
            "schedule.shuffle_bytes": (g_sum(("schedule.apply_robots",
                                              "schedule.select_polite_batch"),
                                             "shuffle_write"), "B"),
            "seen.probe_s": (t_sum("seen.anti_join_seen", "seen.bloom_unseen"), "s"),
            "seen.add_s": (t_sum("seen.bloom_add"), "s"),
            "seen.rebuild_s": (t_sum("seen.bloom_rebuild"), "s"),
            "seen.candidates": (c["seen.candidates"], "count"),
            "seen.bloom_pass": (c["seen.bloom_pass"], "count"),
            "seen.unseen": (c["seen.unseen"], "count"),
            "seen.useful_ratio": (
                c["seen.unseen"] / c["seen.candidates"]
                if c["seen.candidates"] else 0.0, "ratio"),
            "links.busy_s": (t_sum("links.candidate_links"), "s"),
            "links.found": (c["links.found"], "count"),
            "links.new": (discovered, "count"),
            "links.new_ratio": (
                discovered / c["links.found"] if c["links.found"] else 0.0, "ratio"),
            "warc.busy_s": (t_sum("warc.read_warc_records"), "s"),
            "warc.segments": (c["warc.segments"], "count"),
            "warc.records": (c["warc.records"], "count"),
            "warc.error_rows": (c["warc.error_rows"], "count"),
            "warc.in_bytes": (c["warc.in_bytes"], "B"),
            "dedup.busy_s": (t_sum("dedup.best_capture_per_url"), "s"),
            "dedup.rows_in": (c["dedup.rows_in"], "count"),
            "dedup.rows_out": (c["dedup.rows_out"], "count"),
            "dedup.shuffle_bytes": (g_sum(("dedup.best_capture_per_url",),
                                          "shuffle_write"), "B"),
            "fetch.busy_s": (t_sum("fetch.lookup_join"), "s"),
            "fetch.rows": (c["fetch.rows"], "count"),
            "fetch.errors": (c["fetch.errors"], "count"),
            "fetch.html_bytes": (c["fetch.html_bytes"], "B"),
            "fetch.shuffle_bytes": (g_sum(("fetch.lookup_join",),
                                          "shuffle_write"), "B"),
            "extract.busy_s": (t_sum(*extract_names), "s"),
            "extract.ok": (c["extract.ok"], "count"),
            "extract.failed": (c["extract.failed"], "count"),
            "extract.in_bytes": (c["extract.in_bytes"], "B"),
            "extract.urls_per_core_s": (
                (c["extract.ok"] + c["extract.failed"]) / extract_core_s
                if extract_core_s else 0.0, "1/s"),
            "tables.commit_s": (t_sum("tables.append", "tables.overwrite",
                                      "tables.retag"), "s"),
            "tables.read_s": (t_sum("tables.read"), "s"),
            "tables.commits": (c["tables.commits"], "count"),
            "tables.bytes_written": (c["tables.bytes_written"], "B"),
            "tables.files_written": (c["tables.files_written"], "count"),
            "tables.write_amp": (
                c["tables.bytes_written"] / c["tables.article_bytes"]
                if c["tables.article_bytes"] else 0.0, "ratio"),
            "spark.gc_s": (spark_tot["gc_ms"] / 1000, "s"),
            "spark.shuffle_write_bytes": (spark_tot["shuffle_write"], "B"),
            "spark.failed_tasks": (spark_tot["failed_tasks"], "count"),
            "trace.overhead_ratio": (res["crawl_s"] / untraced, "ratio"),
        }
        return {"metrics": m, "bad": len(bad),
                "span_self_s": {k: round(v, 3) for k, v in sorted(
                    self_t.items(), key=lambda kv: -kv[1])}}

    def close(self) -> None:
        """Stop the session and the gateway JVM and wait for the JVM to
        end, also when the session is half started or broken."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            proc = getattr(gw, "proc", None)
            try:
                if gw is not None:
                    gw.shutdown()
            finally:
                if proc is not None:
                    try:
                        proc.stdin.close()  # the gateway JVM exits on stdin EOF
                        proc.wait(timeout=60)
                    except (OSError, subprocess.TimeoutExpired):
                        proc.kill()
                        proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    adopt_orphans()
    # a terminated run still stops its Spark JVM and waits for its children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    import commoncrawl_spark  # noqa: F401  (fails outside a full checkout)

    base_dir = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base_dir, f"run-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM the session launches keeps its scratch files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    bench = None
    try:
        bench = Bench(args, work, os.path.join(base_dir, "cache"))
        base = bench.run()
        metrics = base["e2e"]
        attempted, failed = base["attempted"], base["failed"]
        if args.trace:
            tr = bench.traced(base, os.path.join(
                base_dir, f"spans-{args.workload}-s{args.seed}.json"))
            metrics = tr["metrics"]
            base["summary"]["span_self_s"] = tr["span_self_s"]
            attempted += base["expected"].n_urls
            failed += tr["bad"]
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let clean-up finish
        try:
            if bench is not None:
                bench.close()
        finally:
            stop_children()
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"summary": base["summary"]}), flush=True)
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
