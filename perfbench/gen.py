"""Seeded Common-Crawl-style inputs for the crawl-frontier benchmark.

Everything derives from ``random.Random`` seeded by (workload, seed), so
the same seed gives byte-identical files. The *shape* of each workload
(host skew, pages per host, captures per URL, failure counts) is fixed by
the size constants below; the seed only moves content, URL strings and
which pages carry which property. That keeps round counts, and so the
timings, comparable across seeds.

Each workload directory holds what the crawl engine reads (parquet
tables, gzip WARC segment files) plus ``truth.json.gz``, which only the
oracle reads: per-page links, failure plan and the golden extracted text.
The golden text is computed here, at generation time, with the
reference-semantics extractor (``functions.extract.extract_from_warc_bytes``)
and cross-checked against the text the generator put into the page.

Sizes are chosen for ``local[N]`` on a 4-core machine so that one run,
JVM start included, ends within about a minute (see README.md).
"""

from __future__ import annotations

import gzip
import hashlib
import json
import multiprocessing
import os
import random
import shutil
import zlib
from urllib.parse import urlparse

import pandas as pd

FORMAT_VERSION = 4

# workload -> size: pages, host layout and engine arguments. "warmup" is a
# tiny instance of the same shape used by the untimed warm-up pass.
SIZES = {
    "discover_resume": {
        "full": {"seeds_hot": 44, "seeds_minor": 3, "dead_seeds": 2,
                 "l1_hot": 36, "l1_private": 4, "l1_minor": 4,
                 "l2_hot": 24, "l2_minor": 3, "minor_hosts": 3,
                 "segments": 2},
        "warmup": {"seeds_hot": 6, "seeds_minor": 1, "dead_seeds": 1,
                   "l1_hot": 4, "l1_private": 1, "l1_minor": 2,
                   "l2_hot": 2, "l2_minor": 1, "minor_hosts": 2,
                   "segments": 1},
    },
    "segment_bulk": {
        "full": {"hosts": 24, "pages_per_host": 60, "segments": 8},
        "warmup": {"hosts": 4, "pages_per_host": 10, "segments": 2},
    },
}

# engine arguments per workload (public CrawlJob / run_round arguments)
JOB_ARGS = {
    "discover_resume": {
        "budget_per_host": 80, "max_retries": 1, "bloom_threshold": 10,
        "round_seconds": 20.0, "backoff_cap_rounds": 1,
    },
    "segment_bulk": {"budget_per_host": 45, "max_retries": 0},
}
RESUME_AFTER_ROUNDS = {"discover_resume": 2, "segment_bulk": 1}

# transient fetch failures: hash of (url, attempt), see fail_hash()
TRANSIENT_PCT = 10

CRAWLS = ["CC-MAIN-2021-21", "CC-MAIN-2022-33", "CC-MAIN-2024-10",
          "CC-MAIN-2025-38"]
SECTIONS = ["world", "politics", "sport", "culture", "business", "science"]
AUTHORS = ["Alice Carter", "Bob Ng", "Carol Diaz", "Dan Okafor",
           "Eve Lindqvist", "Fred Zhou", "Grace Oneil", "Iris Tanaka"]
KEYWORDS = ["Climate", "Elections", "Football", "Cinema", "Markets", "Space",
            "Health", "Energy", "Privacy", "Transport"]
WORDS = (
    "the analysis shows that markets respond to policy shifts while "
    "researchers continue to examine long term trends across regions and "
    "communities report steady progress despite ongoing challenges in the "
    "sector according to officials familiar with the matter as local "
    "councils weigh new budgets for schools roads and housing this year"
).split()

HTTP_OK = b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"


# -- shared helpers (also used by the oracle) ---------------------------------

def fail_hash(url: str, attempt: int) -> int:
    """The transient-failure hash; mirrors the Spark predicate in
    ``run.Bench.transient_fail``: pmod(crc32(url || '#' || attempt), 100)."""
    return zlib.crc32(f"{url}#{attempt}".encode("utf-8")) % 100


def canonical_url(url: str) -> str:
    """Reference normalize_url: lower netloc minus www., path minus
    trailing slashes; scheme, query and fragment dropped."""
    p = urlparse(url)
    netloc = p.netloc.lower()
    if netloc.startswith("www."):
        netloc = netloc[4:]
    return netloc + p.path.rstrip("/")


def url_key(url: str) -> str:
    return hashlib.sha1(canonical_url(url).encode("utf-8")).hexdigest()


def url_host(url: str) -> str:
    netloc = urlparse(url).netloc.lower()
    if netloc.startswith("www."):
        netloc = netloc[4:]
    return netloc.rsplit(":", 1)[0] if ":" in netloc else netloc


def url_path(url: str) -> str:
    return urlparse(url).path


# -- page content -------------------------------------------------------------

def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n)).capitalize() + "."


def _paragraphs(rng: random.Random, n_paras: int, words: tuple[int, int]
                ) -> list[str]:
    return [" ".join(_sentence(rng, rng.randint(*words))
                     for _ in range(rng.randint(2, 4)))
            for _ in range(n_paras)]


def article_html(rng: random.Random, i: int, paras: list[str],
                 links: list[str]) -> str:
    """Guardian-shaped article. Only the related-links list carries
    hrefs, so link discovery sees exactly ``links``."""
    title = f"Report {i}: {_sentence(rng, 5)[:-1]}"
    pub = f"20{10 + i % 15:02d}-{1 + i % 12:02d}-{1 + i % 28:02d}T08:00:00+00:00"
    kws = rng.sample(KEYWORDS, 3)
    body = ("<script>var x=1;</script><style>.a{color:red}</style>"
            "<aside>Related stories</aside>"
            + "".join(f"<p>{p}</p>" for p in paras))
    nav = "".join(f'<li><a href="{u}">Read more {k}</a></li>'
                  for k, u in enumerate(links))
    return (
        f"<!DOCTYPE html><html><head><title>{title}</title></head><body>"
        f'<h1 class="content__headline" itemprop="headline">{title}</h1>'
        f'<time itemprop="datePublished" datetime="{pub}">{pub}</time>'
        f'<a rel="author">{AUTHORS[i % len(AUTHORS)]}</a>'
        f'<div itemprop="articleBody" class="content__article-body">{body}</div>'
        '<div class="submeta__keywords">'
        + "".join(f'<a class="submeta__link">{k}</a>' for k in kws)
        + f'</div><ul class="related">{nav}</ul></body></html>'
    )


def malformed_html(i: int) -> str:
    """An article page whose body holds no text: extraction must fail."""
    return ("<!DOCTYPE html><html><body>"
            f'<h1 class="content__headline">Empty {i}</h1>'
            '<div itemprop="articleBody"><script>var y=2;</script></div>'
            "</body></html>")


def warc_response(url: str, html: str, date: str) -> bytes:
    """One ISO 28500 response record: WARC header, HTTP block, separator."""
    http = HTTP_OK + html.encode("utf-8")
    hdr = (f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
           f"WARC-Date: {date}\r\nContent-Length: {len(http)}\r\n\r\n")
    return hdr.encode("ascii") + http + b"\r\n\r\n"


def warc_info(name: str) -> bytes:
    body = f"software: perfbench-gen\r\nfilename: {name}\r\n".encode("ascii")
    hdr = (f"WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Date: 2025-01-01T00:00:00Z"
           f"\r\nContent-Length: {len(body)}\r\n\r\n")
    return hdr.encode("ascii") + body + b"\r\n\r\n"


def golden_texts(blobs: list[bytes]) -> list[str | None]:
    """Reference-semantics extraction of each blob (None = must fail)."""
    from commoncrawl_spark.functions.extract import extract_from_warc_bytes

    out = []
    for b in blobs:
        rec = extract_from_warc_bytes(b)
        out.append(None if rec["error"] is not None else rec["text"])
    return out


def _golden_parallel(blobs: list[bytes], procs: int) -> list[str | None]:
    if procs <= 1 or len(blobs) < 200:
        return golden_texts(blobs)
    chunk = (len(blobs) + procs - 1) // procs
    parts = [blobs[i:i + chunk] for i in range(0, len(blobs), chunk)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(len(parts)) as pool:
        results = pool.map(golden_texts, parts)
    return [t for part in results for t in part]


def _unique_url(rng: random.Random, make, want_fail: bool | None,
                taken: set[str]) -> str:
    """Draw slugs until the URL is new and, when ``want_fail`` is set,
    its attempt-0 transient-failure hash says ``want_fail`` while
    attempt 1 always succeeds (so the failure count is exact)."""
    while True:
        url = make(rng.getrandbits(32))
        if url in taken:
            continue
        if want_fail is not None:
            if (fail_hash(url, 0) < TRANSIENT_PCT) != want_fail:
                continue
            if fail_hash(url, 1) < TRANSIENT_PCT:
                continue
        taken.add(url)
        return url


# -- discover_resume ----------------------------------------------------------

def _gen_discover(rng: random.Random, size: dict, out: str, procs: int) -> dict:
    """A three-level link graph on a 90% hot host. Seeds come from a CDX
    slice whose first lines are dead URLs and transient failures. The
    hot-host budget admits the first seeds in round 0 and spills the rest;
    round 0 discovers level 1. Round 1 takes the seed spill, the retries
    (one-round backoff cap) and the first level-1 pages in priority order,
    which alone link to level 2. Round 2 takes the level-1 spill and level
    2, whose links lead only to known pages. So the crawl takes exactly
    three rounds on every seed."""
    hot = "hot-news.test"
    minors = [f"minor-{k}.test" for k in range(size["minor_hosts"])]
    budget = int(JOB_ARGS["discover_resume"]["round_seconds"] // 0.5)
    taken: set[str] = set()
    pages: list[dict] = []

    def add(level: int, host: str, prefix: str, want_fail: bool = False) -> dict:
        i = len(pages)
        url = _unique_url(
            rng, lambda r: f"https://{host}/{prefix}/story-{i}-{r:08x}",
            want_fail=want_fail, taken=taken)
        p = {"i": i, "url": url, "host": host, "level": level,
             "malformed": False, "links": set()}
        pages.append(p)
        return p

    def section() -> str:
        return SECTIONS[len(pages) % len(SECTIONS)]

    def minor_pages(level: int, n: int, first_prefix: str | None = None):
        return [add(level, minors[k % len(minors)],
                    first_prefix if k == 0 and first_prefix else section())
                for k in range(n)]

    dead = [f"https://{hot}/gone/missing-{k}-{rng.getrandbits(24):06x}"
            for k in range(size["dead_seeds"])]
    # seeds in CDX line order: round 0 takes the first n_r0 hot ones; only
    # those may fail, so every retry lands in round 1
    n_r0 = budget - len(dead)
    seeds = [add(0, hot, section(), want_fail=k < n_r0 and k % 10 == 3)
             for k in range(size["seeds_hot"])]
    n_failing = sum(1 for k in range(min(n_r0, size["seeds_hot"])) if k % 10 == 3)
    fetched_r0 = [p for k, p in enumerate(seeds)
                  if k < n_r0 and fail_hash(p["url"], 0) >= TRANSIENT_PCT]
    seeds += minor_pages(0, size["seeds_minor"])
    fetched_r0 += seeds[size["seeds_hot"]:]
    l1 = [add(1, hot, section()) for _ in range(size["l1_hot"])]
    l1 += [add(1, hot, "private") for _ in range(size["l1_private"])]
    l1 += minor_pages(1, size["l1_minor"], first_prefix="drafts")
    for k, p in enumerate(l1):
        p["malformed"] = k % 11 == 5
    # round 1 admits the level-1 hot pages first in priority order
    # (crawl_rank, 0, 0, url_sha1) after the seed spill and the retries
    n_r1 = budget - max(0, size["seeds_hot"] - n_r0) - n_failing - len(dead)
    l1_hot = sorted((p for p in l1 if p["host"] == hot
                     and "/private/" not in p["url"]),
                    key=lambda p: url_key(p["url"]))
    parents_l2 = [p for p in l1_hot[:n_r1] + l1[len(l1) - size["l1_minor"] + 1:]
                  if not p["malformed"]]
    l2 = [add(2, hot, section()) for _ in range(size["l2_hot"])]
    l2 += minor_pages(2, size["l2_minor"])
    for k, p in enumerate(l1):
        fetched_r0[k % len(fetched_r0)]["links"].add(p["url"])
    for k, p in enumerate(l2):
        parents_l2[k % len(parents_l2)]["links"].add(p["url"])
    # extra links: seeds point only at seeds and level 1 (known after
    # round 0); later pages at any page (all known after round 1)
    for p in pages:
        pool = seeds + l1 if p["level"] == 0 else pages
        for _ in range(3):
            q = rng.choice(pool)
            if q is not p:
                p["links"].add(q["url"])
    for p in pages:
        # a malformed page carries no links, so none can be discovered
        p["links"] = [] if p["malformed"] else sorted(p["links"])
        if p["malformed"]:
            p["html"] = malformed_html(p["i"])
            p["paras"] = None
        else:
            p["paras"] = _paragraphs(rng, rng.randint(3, 6), (8, 16))
            p["html"] = article_html(rng, p["i"], p["paras"], p["links"])
    golden = _golden_parallel(
        [HTTP_OK + p["html"].encode("utf-8") for p in pages], procs)
    recs = [(p["url"], warc_response(p["url"], p["html"], "2025-03-01T00:00:00Z"))
            for p in pages]
    fetchable = write_segments(rng, recs, size["segments"], out, truncate=False)
    # seeds: a CDX slice with one 200 capture per seed URL
    seed_urls = dead + [p["url"] for p in seeds]
    pd.DataFrame([{
        "urlkey": canonical_url(u), "timestamp": "20250301000000",
        "url": u, "mime": "text/html", "mime_detected": "text/html",
        "status": "200", "digest": f"D{k:06d}", "length": "4000",
        "offset": "0", "filename": "seed.warc.gz", "crawl": CRAWLS[-1],
        "page": 0, "line_no": k} for k, u in enumerate(seed_urls)]).to_parquet(
        os.path.join(out, "cdx.parquet"), index=False)
    robots = [{"host": hot, "disallow_prefixes": ["/private"],
               "crawl_delay_s": 0.5}]
    robots += [{"host": h, "disallow_prefixes": ["/drafts"] if h == minors[0]
                else [], "crawl_delay_s": 2.0} for h in minors]
    pd.DataFrame(robots).to_parquet(os.path.join(out, "robots.parquet"),
                                    index=False)
    return {
        "pages": [{"url": p["url"], "variants": [p["url"]], "links": p["links"],
                   "expected_text": "\n".join(p["paras"]) if p["paras"] else None}
                  for p in pages],
        "golden": golden,
        "robots": robots,
        "fetchable": fetchable,
    }


def write_segments(rng: random.Random, recs: list[tuple[str, bytes]],
                   n_seg: int, out: str, truncate: bool) -> list[str]:
    """Gzip WARC segment files: a warcinfo record, then one gzip member per
    response record. With ``truncate`` the last segment ends in a cut
    member (a reader error row). Returns the URLs a reader can recover."""
    seg_dir = os.path.join(out, "segments")
    os.makedirs(seg_dir)
    recs = list(recs)
    rng.shuffle(recs)
    lost = None
    for s in range(n_seg):
        part = recs[s::n_seg]
        name = f"seg-{s:04d}.warc.gz"
        members = [gzip.compress(warc_info(name), compresslevel=6, mtime=0)]
        members += [gzip.compress(r, compresslevel=6, mtime=0) for _, r in part]
        if truncate and s == n_seg - 1 and part:
            lost = part[-1][0]
            members[-1] = members[-1][: len(members[-1]) // 2]
        with open(os.path.join(seg_dir, name), "wb") as fh:
            fh.write(b"".join(members))
    return sorted({u for u, _ in recs} - {lost})


# -- segment_bulk -------------------------------------------------------------

def _gen_segments(rng: random.Random, size: dict, out: str, procs: int) -> dict:
    """Evenly loaded hosts, multi-capture CDX and gzip WARC segments.
    Some pages are malformed, some have no record at all (unfetchable),
    and every fourth host disallows its /private section."""
    hosts = [f"site-{k:02d}.example" for k in range(size["hosts"])]
    taken: set[str] = set()
    pages = []
    for h in hosts:
        for k in range(size["pages_per_host"]):
            i = len(pages)
            section = "private" if (k % 25 == 4 and hosts.index(h) % 4 == 0) \
                else SECTIONS[k % len(SECTIONS)]
            url = _unique_url(
                rng, lambda r, h=h, s=section, i=i:
                f"https://{h}/{s}/2025/{i}-{r:08x}", want_fail=None, taken=taken)
            pages.append({"i": i, "url": url, "host": h,
                          "malformed": i % 97 == 13,
                          "unfetchable": i % 53 == 29})
    # CDX: 1-5 captures per page, arrival = (crawl, page, line_no)
    cdx = []
    line_no: dict[tuple[str, int], int] = {}
    variants_of: dict[int, set[str]] = {}
    for p in pages:
        n_caps = rng.choices([1, 2, 3, 5], weights=[50, 25, 15, 10])[0]
        crawls = sorted(rng.sample(range(len(CRAWLS)), min(n_caps, len(CRAWLS))))
        crawls += [rng.randrange(len(CRAWLS)) for _ in range(n_caps - len(crawls))]
        for c in crawls:
            crawl, cpage = CRAWLS[c], p["i"] // 200
            ln = line_no.get((crawl, cpage), -1) + 1
            line_no[(crawl, cpage)] = ln
            r = rng.random()
            raw = p["url"]
            if r < 0.05:
                raw = raw.replace("https://", "https://www.")
            elif r < 0.10:
                raw = raw + "/"
            variants_of.setdefault(p["i"], set()).add(raw)
            cdx.append({
                "urlkey": canonical_url(raw),
                "timestamp": f"20{21 + c}0{1 + rng.randrange(9)}1{rng.randrange(10)}120000",
                "url": raw,
                "mime": "text/html",
                "mime_detected": rng.choices(
                    ["text/html", "application/pdf", None], weights=[75, 10, 15])[0],
                "status": rng.choices(["200", "301", "404", "503"],
                                      weights=[86, 6, 5, 3])[0],
                "digest": f"D{p['i']:06d}{c}",
                "length": "n/a" if rng.random() < 0.03 else str(rng.randint(3000, 90000)),
                "offset": str(rng.randrange(10 ** 9)),
                "filename": f"crawl-data/{crawl}/segments/seg.warc.gz",
                "crawl": crawl, "page": cpage, "line_no": ln,
            })
    rng.shuffle(cdx)  # arrival order lives in (crawl, page, line_no), not rows
    pd.DataFrame(cdx).to_parquet(os.path.join(out, "cdx.parquet"), index=False)

    for p in pages:
        if p["malformed"]:
            p["paras"] = None
            p["html"] = malformed_html(p["i"])
        else:
            p["paras"] = _paragraphs(rng, rng.randint(10, 18), (10, 22))
            p["html"] = article_html(rng, p["i"], p["paras"], [])
    golden = _golden_parallel(
        [HTTP_OK + p["html"].encode("utf-8") for p in pages], procs)

    # every raw URL variant the CDX names gets its own response record
    recs = [(raw, warc_response(raw, p["html"], "2025-03-01T00:00:00Z"))
            for p in pages if not p["unfetchable"]
            for raw in sorted(variants_of[p["i"]])]
    fetchable = write_segments(rng, recs, size["segments"], out, truncate=True)
    robots = [{"host": h, "disallow_prefixes": ["/private"] if k % 4 == 0 else []}
              for k, h in enumerate(hosts)]
    pd.DataFrame(robots).to_parquet(os.path.join(out, "robots.parquet"),
                                    index=False)
    return {
        "pages": [{"url": p["url"], "variants": sorted(variants_of[p["i"]]),
                   "expected_text": "\n".join(p["paras"]) if p["paras"] else None}
                  for p in pages],
        "golden": golden,
        "robots": robots,
        "fetchable": fetchable,
    }


_GENERATORS = {"discover_resume": _gen_discover, "segment_bulk": _gen_segments}


def ensure(cache_dir: str, workload: str, seed: int, size: str = "full",
           procs: int = 1, keep: int = 6) -> str:
    """Return the directory holding the (workload, seed, size) inputs,
    generating them on a cache miss. At most ``keep`` generated inputs
    stay cached; the least recently used are removed."""
    name = f"{workload}-{size}-s{seed}-v{FORMAT_VERSION}"
    out = os.path.join(cache_dir, name)
    if os.path.exists(os.path.join(out, "truth.json.gz")):
        os.utime(out)
        return out
    os.makedirs(cache_dir, exist_ok=True)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = random.Random(f"{workload}:{seed}:{size}")
    truth = _GENERATORS[workload](rng, SIZES[workload][size], tmp, procs)
    truth.update({"workload": workload, "seed": seed, "size": size,
                  "job_args": JOB_ARGS[workload],
                  "resume_after": RESUME_AFTER_ROUNDS[workload]})
    with gzip.open(os.path.join(tmp, "truth.json.gz"), "wt") as fh:
        json.dump(truth, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    entries = sorted(
        (e for e in os.scandir(cache_dir)
         if e.is_dir() and "-v" in e.name and ".tmp" not in e.name),
        key=lambda e: e.stat().st_mtime)
    for e in entries[:-keep]:
        shutil.rmtree(e.path, ignore_errors=True)
    return out


def load_truth(data_dir: str) -> dict:
    with gzip.open(os.path.join(data_dir, "truth.json.gz"), "rt") as fh:
        return json.load(fh)
