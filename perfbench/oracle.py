"""Pure-Python oracle for the crawl-frontier benchmark.

Nothing here calls Spark or the engine: the expected crawl is derived
from the generated inputs alone, with reference semantics written out
again in plain Python (the ``choose_better_record`` fold, the status-200
gate, robots prefixes, per-host budgets, retry backoff and link
discovery), and a plain BFS gives the closure a link-following crawl must
reach. ``check`` compares one finished crawl against it and returns the
set of URL keys whose outcome disagrees.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pandas as pd

from gen import fail_hash, url_host, url_key, url_path, TRANSIENT_PCT

# -- reference semantics --------------------------------------------------------

def choose_better(old: dict, new: dict) -> dict:
    """download_and_merge.py choose_better_record, verbatim order."""
    if old["status"] != "200" and new["status"] == "200":
        return new
    if old["status"] == "200" and new["status"] != "200":
        return old
    old_html = "html" in (old["mime_detected"] or "").lower()
    new_html = "html" in (new["mime_detected"] or "").lower()
    if old_html and not new_html:
        return old
    if not old_html and new_html:
        return new
    try:
        if int(new["length"] or 0) > int(old["length"] or 0):
            return new
    except ValueError:
        pass
    if (new["timestamp"] or "") > (old["timestamp"] or ""):
        return new
    return old


def seed_rows(cdx: pd.DataFrame) -> list[dict]:
    """CDX -> frontier rows: fold per canonical URL in arrival order
    (crawl, page, line_no), keep status-200 winners, rank crawls."""
    groups: dict[str, list[dict]] = defaultdict(list)
    for rec in cdx.to_dict("records"):
        groups[url_key(rec["url"])].append(rec)
    winners = []
    for recs in groups.values():
        recs.sort(key=lambda r: (r["crawl"], r["page"], r["line_no"]))
        best = recs[0]
        for r in recs[1:]:
            best = choose_better(best, r)
        if best["status"] == "200":
            winners.append(best)
    rank = {c: i for i, c in enumerate(sorted({w["crawl"] for w in winners}))}
    return [{"url": w["url"], "key": url_key(w["url"]), "host": url_host(w["url"]),
             "rank": rank[w["crawl"]], "page": int(w["page"]),
             "line": int(w["line_no"]), "attempt": 0, "nb": 0}
            for w in winners]


class Robots:
    def __init__(self, rows: list[dict]):
        self.disallow = {r["host"]: list(r.get("disallow_prefixes") or [])
                         for r in rows}
        self.delay = {r["host"]: r.get("crawl_delay_s") for r in rows}

    def blocked(self, url: str) -> bool:
        path = url_path(url)
        return any(path.startswith(p)
                   for p in self.disallow.get(url_host(url), []))

    def budget(self, host: str, budget: int, round_seconds) -> int:
        delay = self.delay.get(host)
        if round_seconds is None or delay is None:
            return budget
        return min(budget, int(round_seconds // max(delay, 1e-3)))


# -- the crawl, round by round ----------------------------------------------------

def simulate(seeds: list[dict], fetchable: set[str], extract_ok, links,
             robots: Robots, args: dict, discover: bool,
             transient: bool) -> dict:
    """Replay CrawlJob.run_round semantics on plain Python state."""
    budget, max_retries = args["budget_per_host"], args["max_retries"]
    round_seconds = args.get("round_seconds")
    cap = args.get("backoff_cap_rounds", 300)  # CrawlJob's default
    frontier = {r["key"]: dict(r) for r in seeds}
    seen: set[str] = set()
    trace: list[tuple[int, str]] = []
    articles, ext_failed, exhausted = set(), set(), set()
    rnd, rounds = 0, 0
    while True:
        by_host = defaultdict(list)
        for r in frontier.values():
            if r["nb"] <= rnd and not robots.blocked(r["url"]):
                by_host[r["host"]].append(r)
        batch = []
        for host, rows in by_host.items():
            rows.sort(key=lambda r: (r["rank"], r["page"], r["line"], r["key"]))
            batch += rows[:robots.budget(host, budget, round_seconds)]
        if not batch:
            waiting = [r["nb"] for r in frontier.values() if r["nb"] > rnd]
            if not waiting:
                break
            rnd, rounds = min(waiting), rounds + 1
            continue
        next_rank = (max(r["rank"] for r in frontier.values()) or 0) + 1
        fetched, requeued = [], []
        for r in batch:
            trace.append((rnd, r["url"]))
            ok = r["url"] in fetchable and not (
                transient and fail_hash(r["url"], r["attempt"]) < TRANSIENT_PCT)
            if ok:
                fetched.append(r)
                (articles if extract_ok(r["url"]) else ext_failed).add(r["url"])
            elif r["attempt"] < max_retries:
                requeued.append(dict(
                    r, attempt=r["attempt"] + 1,
                    nb=rnd + min(2 * 2 ** r["attempt"], cap)))
            else:
                exhausted.add(r["url"])
        seen |= {r["key"] for r in fetched} | {url_key(u) for u in exhausted}
        for r in batch:
            del frontier[r["key"]]
        for r in requeued:
            frontier[r["key"]] = r
        if discover:
            cands: dict[str, str] = {}
            for r in fetched:
                for u in links(r["url"]):
                    k = url_key(u)
                    cands[k] = min(cands.get(k, u), u)
            for k, u in cands.items():
                if k not in seen and k not in frontier:
                    frontier[k] = {"url": u, "key": k, "host": url_host(u),
                                   "rank": next_rank, "page": 0, "line": 0,
                                   "attempt": 0, "nb": 0}
        rnd, rounds = rnd + 1, rounds + 1
    return {"trace": trace, "articles": articles, "ext_failed": ext_failed,
            "exhausted": exhausted, "seen": seen, "left": set(frontier),
            "rounds": rounds}


def bfs_closure(seed_urls: list[str], fetchable: set[str], links,
                robots: Robots) -> set[str]:
    """Keys reachable from the seeds through pages a crawl can fetch."""
    closure = {url_key(u) for u in seed_urls}
    queue = list(seed_urls)
    while queue:
        u = queue.pop()
        if u not in fetchable or robots.blocked(u):
            continue
        for v in links(u):
            k = url_key(v)
            if k not in closure:
                closure.add(k)
                queue.append(v)
    return closure


# -- expected outcome per workload ------------------------------------------------

class Expected:
    """Everything a correct crawl of one generated input must produce."""

    def __init__(self, truth: dict, cdx: pd.DataFrame):
        self.workload = truth["workload"]
        self.args = truth["job_args"]
        self.robots = Robots(truth["robots"])
        pages = truth["pages"]
        self.golden: dict[str, str | None] = {}
        self.expected_text: dict[str, str | None] = {}
        for p, g in zip(pages, truth["golden"]):
            for v in p["variants"]:
                self.golden[v] = g
                self.expected_text[v] = p["expected_text"]
        fetchable = set(truth["fetchable"])
        discover = self.workload == "discover_resume"
        link_map = {p["url"]: p.get("links", []) for p in pages}
        links = lambda u: link_map.get(u, [])  # noqa: E731
        self.seeds = seed_rows(cdx)
        self.sim = simulate(
            self.seeds, fetchable, lambda u: self.golden.get(u) is not None,
            links, self.robots, self.args, discover=discover,
            transient=discover)
        self.closure = (bfs_closure([s["url"] for s in self.seeds], fetchable,
                                    links, self.robots) if discover else None)
        self.budgets = {}
        for _, u in self.sim["trace"]:
            h = url_host(u)
            self.budgets[h] = self.robots.budget(
                h, self.args["budget_per_host"], self.args.get("round_seconds"))

    @property
    def n_urls(self) -> int:
        """URLs the oracle expects an outcome for (decided or left queued)."""
        return len(self.sim["seen"] | self.sim["left"])


def check(exp: Expected, got: dict) -> tuple[set[str], dict]:
    """Compare one crawl's outputs with the oracle. ``got`` holds lists
    read back from the job's tables: articles (url, text), failures
    (url), seen (url_sha1), trace (round, url), frontier (url_sha1).
    Returns (bad URL keys, per-check mismatch counts)."""
    bad: dict[str, set[str]] = defaultdict(set)
    sim = exp.sim

    art_urls = [u for u, _ in got["articles"]]
    for u, n in Counter(art_urls).items():
        if n > 1:
            bad["article_duplicated"].add(url_key(u))
    for u in set(art_urls) ^ sim["articles"]:
        bad["article_set"].add(url_key(u))
    for u, text in got["articles"]:
        if u in sim["articles"] and text != exp.golden[u]:
            bad["article_text"].add(url_key(u))
    for u in sim["articles"]:
        if exp.golden[u] != exp.expected_text[u]:
            bad["golden_vs_generated"].add(url_key(u))

    want_fail = sim["ext_failed"] | sim["exhausted"]
    for u in set(got["failures"]) ^ want_fail:
        bad["failure_set"].add(url_key(u))

    for r, u in set(got["trace"]) ^ set(sim["trace"]):
        bad["trace_order"].add(url_key(u))
    per_round_host = Counter((r, url_host(u)) for r, u in got["trace"])
    for (r, h), n in per_round_host.items():
        if n > exp.budgets.get(h, exp.args["budget_per_host"]):
            bad["budget"] |= {url_key(u) for rr, u in got["trace"]
                              if rr == r and url_host(u) == h}

    for k, n in Counter(got["seen"]).items():
        if n > 1:
            bad["seen_duplicated"].add(k)
    bad["seen_set"] |= set(got["seen"]) ^ sim["seen"]

    if exp.closure is not None:
        reached = set(got["seen"]) | set(got["frontier"])
        bad["closure"] |= reached ^ exp.closure
    all_bad = set().union(*bad.values()) if bad else set()
    return all_bad, {k: len(v) for k, v in bad.items() if v}
