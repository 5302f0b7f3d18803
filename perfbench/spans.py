"""Spans and Spark status-store counters for the traced benchmark run.

Spans are recorded only here, around calls into the engine's public
layer functions, by wrapping those functions in place for the length of
one traced crawl (``instrument``). A wrapped lazy function has its output
persisted and counted inside its span, so the span holds that layer's own
work; eager table calls are timed as they are. Every span sets the Spark
job group to its id, so each job in the status store belongs to the span
that was open when it ran. Counting done only for the trace (row counts,
byte sums) runs under auxiliary spans whose time is excluded from every
layer's self time.
"""

from __future__ import annotations

import contextlib
import os
import time
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class Tracer:
    """In-memory spans: (id, name, parent, start, end, run id)."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._persisted: list[DataFrame] = []

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": f"{self.run_id}/{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def aux(self):
        """A span for trace-only counting; excluded from layer figures."""
        return self.span("_aux")

    def materialize(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        df.count()
        self._persisted.append(df)
        return df

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted = []

    def add(self, key: str, value: float) -> None:
        self.counts[key] += value

    # -- span arithmetic -------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per span id: duration minus the union of its children."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids[s["id"]]):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def self_time_by_name(self) -> dict[str, float]:
        st = self.self_times()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += st[s["id"]]
        return out

    def ids_by_name(self) -> dict[str, set[str]]:
        out: dict[str, set[str]] = defaultdict(set)
        for s in self.spans:
            out[s["name"]].add(s["id"])
        return out


# -- status store ---------------------------------------------------------------

class StatusStore:
    """Reads Spark's own job and stage records from the driver's status
    store, from outside the engine."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._gw = self.sc._gateway

    def snapshot(self) -> tuple[list[dict], dict[int, dict]]:
        """(jobs, stages by id). A stage is credited to the first job
        that lists it; skipped re-uses in later jobs add nothing."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        empty = self._gw.jvm.java.util.ArrayList
        jl = store.jobsList(empty())
        jobs = []
        for i in range(jl.length()):
            j = jl.apply(i)
            grp = j.jobGroup()
            sids = j.stageIds()
            jobs.append({
                "id": j.jobId(),
                "group": grp.get() if grp.isDefined() else None,
                "stages": [sids.apply(k) for k in range(sids.length())],
                "failed_tasks": j.numFailedTasks(),
            })
        jobs.sort(key=lambda j: j["id"])
        sl = store.stageList(empty(), False, False,
                             self._gw.new_array(self._gw.jvm.double, 0), empty())
        stages: dict[int, dict] = {}
        for i in range(sl.length()):
            s = sl.apply(i)
            if str(s.status().toString()) == "SKIPPED":
                continue
            sid = s.stageId()
            prev = stages.setdefault(sid, {
                "tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_write": 0,
                "failed_tasks": 0})
            prev["tasks"] += s.numTasks()
            prev["run_ms"] += s.executorRunTime()
            prev["gc_ms"] += s.jvmGcTime()
            prev["shuffle_write"] += s.shuffleWriteBytes()
            prev["failed_tasks"] += s.numFailedTasks()
        return jobs, stages

    @staticmethod
    def by_group(jobs: list[dict], stages: dict[int, dict]
                 ) -> dict[str | None, dict]:
        """Totals per job group."""
        owner: dict[int, int] = {}
        for j in jobs:
            for sid in j["stages"]:
                owner.setdefault(sid, j["id"])
        out: dict[str | None, dict] = defaultdict(lambda: defaultdict(float))
        for j in jobs:
            g = out[j["group"]]
            g["jobs"] += 1
            for sid in j["stages"]:
                if owner[sid] != j["id"] or sid not in stages:
                    continue
                st = stages[sid]
                g["stages"] += 1
                g["tasks"] += st["tasks"]
                g["run_ms"] += st["run_ms"]
                g["gc_ms"] += st["gc_ms"]
                g["shuffle_write"] += st["shuffle_write"]
                g["failed_tasks"] += st["failed_tasks"]
        return out


# -- wrapping the engine's layer functions ------------------------------------------

def _dir_stats(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, f))
    return n_bytes, n_files


@contextlib.contextmanager
def instrument(tr: Tracer):
    """Wrap the engine's public layer functions in place for one crawl."""
    from commoncrawl_spark.operators import links as links_mod
    from commoncrawl_spark.operators import seen_set as seen_mod
    from commoncrawl_spark.plans import frontier as frontier_mod
    from commoncrawl_spark.sources import transport as transport_mod
    from commoncrawl_spark.sources import warc as warc_mod
    from commoncrawl_spark.tables import SnapshotTable

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def lazy(name, count_in=None, after=None):
        """Span around a DataFrame-returning call, output materialized."""
        def make(orig):
            def wrapped(*a, **kw):
                if count_in is not None:
                    with tr.aux():
                        count_in(*a, **kw)
                with tr.span(name):
                    out = tr.materialize(orig(*a, **kw))
                if after is not None:
                    with tr.aux():
                        after(out, *a, **kw)
                return out
            return wrapped
        return make

    def eager(name, before=None, after=None):
        """Span around an eager call; ``before`` / ``after`` run outside it."""
        def make(orig):
            def wrapped(*a, **kw):
                state = None
                if before is not None:
                    with tr.aux():
                        state = before(*a, **kw)
                with tr.span(name):
                    out = orig(*a, **kw)
                if after is not None:
                    with tr.aux():
                        after(state, *a, **kw)
                return out
            return wrapped
        return make

    # plans.frontier; frames materialized for the trace are released after
    # each round and after seeding
    def release(*_a, **_kw):
        tr.release()

    patch(frontier_mod.CrawlJob, "run_round",
          eager("frontier.run_round", after=release))
    patch(frontier_mod.CrawlJob, "seed_from_cdx",
          eager("frontier.seed_from_cdx", after=release))

    # operators.schedule (names as bound in plans.frontier)
    def robots_in(frontier, robots, *a, **kw):
        tr.add("schedule.rows_in", frontier.count())

    def robots_out(out, frontier, robots, *a, **kw):
        tr.add("schedule.allowed", out.count())

    patch(frontier_mod, "apply_robots",
          lazy("schedule.apply_robots", robots_in, robots_out))
    patch(frontier_mod, "select_polite_batch", lazy(
        "schedule.select_polite_batch",
        after=lambda out, *a, **kw: tr.add("schedule.selected", out.count())))

    # sources.warc (the benchmark's segment ingest)
    def warc_in(segments, bin_col="segment"):
        r = segments.agg(F.count(F.lit(1)), F.sum(F.length(bin_col))).first()
        tr.add("warc.segments", r[0])
        tr.add("warc.in_bytes", r[1])

    def warc_out(out, *a, **kw):
        r = out.agg(F.count(F.lit(1)), F.count(F.col("error"))).first()
        tr.add("warc.records", r[0])
        tr.add("warc.error_rows", r[1])

    patch(warc_mod, "read_warc_records",
          lazy("warc.read_warc_records", warc_in, warc_out))

    # operators.dedup (seeding)
    patch(frontier_mod, "best_capture_per_url", lazy(
        "dedup.best_capture_per_url",
        count_in=lambda cdx, *a, **kw: tr.add("dedup.rows_in", cdx.count()),
        after=lambda out, *a, **kw: tr.add("dedup.rows_out", out.count())))

    # sources.transport
    def fetch_after(out, *a, **kw):
        r = out.agg(
            F.count(F.lit(1)).alias("rows"),
            F.count(F.col("_fetch_error")).alias("errors"),
            F.coalesce(F.sum(F.length("html")), F.lit(0)).alias("bytes"),
        ).first()
        tr.add("fetch.rows", r["rows"])
        tr.add("fetch.errors", r["errors"])
        tr.add("fetch.html_bytes", r["bytes"])

    patch(transport_mod.LookupJoinTransport, "fetch",
          lazy("fetch.lookup_join", after=fetch_after))

    # operators.extraction
    def extract_in(pages, *a, **kw):
        tr.add("extract.in_bytes",
               pages.agg(F.coalesce(F.sum(F.length("html")), F.lit(0))).first()[0])

    def extract_after(out, *a, **kw):
        r = out.agg(
            F.count(F.when(F.col("article.error").isNull(), 1)).alias("ok"),
            F.count(F.col("article.error")).alias("failed")).first()
        tr.add("extract.ok", r["ok"])
        tr.add("extract.failed", r["failed"])

    patch(frontier_mod, "extract_articles",
          lazy("extract.extract_articles", extract_in, extract_after))

    def split_make(orig):
        def wrapped(*a, **kw):
            with tr.span("extract.split_articles"):
                ok, failed = orig(*a, **kw)
                return tr.materialize(ok), tr.materialize(failed)
        return wrapped

    patch(frontier_mod, "split_articles", split_make)

    # operators.seen_set: exact anti-join and the Bloom state
    def probe_in(cands, *a, **kw):
        tr.add("seen.candidates", cands.count())

    def probe_out(out, *a, **kw):
        tr.add("seen.unseen", out.count())

    patch(frontier_mod, "anti_join_seen",
          lazy("seen.anti_join_seen", probe_in, probe_out))

    bloom = seen_mod.BloomSeenSet

    def bloom_unseen_make(orig):
        def wrapped(self, candidates):
            with tr.aux():
                tr.add("seen.candidates", candidates.count())
            with tr.span("seen.bloom_unseen"):
                out = tr.materialize(orig(self, candidates))
            with tr.aux():
                tr.add("seen.unseen", out.count())
                flagged = seen_mod.bloom_prefilter(
                    candidates, self.blooms, self.n_buckets, self.key)
                tr.add("seen.bloom_pass",
                       flagged.filter(F.col("_maybe_seen")).count())
            return out
        return wrapped

    patch(bloom, "unseen", bloom_unseen_make)
    patch(bloom, "add", eager("seen.bloom_add"))
    patch(bloom, "__init__", eager("seen.bloom_rebuild"))

    # operators.links (imported inside run_round at call time)
    patch(links_mod, "candidate_links", lazy(
        "links.candidate_links",
        after=lambda out, *a, **kw: tr.add("links.found", out.count())))

    # tables: eager commits, bytes and files measured on disk
    def commit(name):
        def before(self, *a, **kw):
            return _dir_stats(self.root)

        def after(state, self, *a, **kw):
            b1, f1 = _dir_stats(self.root)
            tr.add("tables.commits", 1)
            tr.add("tables.bytes_written", b1 - state[0])
            tr.add("tables.files_written", f1 - state[1])
            if os.path.basename(self.root) == "articles":
                tr.add("tables.article_bytes", b1 - state[0])
        return eager(name, before, after)

    patch(SnapshotTable, "append", commit("tables.append"))
    patch(SnapshotTable, "overwrite", commit("tables.overwrite"))
    patch(SnapshotTable, "retag", commit("tables.retag"))
    patch(SnapshotTable, "read", eager("tables.read"))
    try:
        yield tr
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
        tr.release()
