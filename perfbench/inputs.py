"""Seeded inputs for the benchmark workloads, with their expected
outputs computed by construction.

Everything here is plain Python + pyarrow: no Spark, so the inputs (and
the oracle answers) exist before the engine starts and cost nothing in
``setup_s``. The same ``(workload, seed)`` always yields byte-identical
parquet files; a different seed yields different ones. Generated inputs
are cached under the work dir, keyed by workload, seed, role, sizes and
``GEN_VERSION``.

The engine sees only ``pages``, ``seeds``, ``robots`` and
``host_budgets`` (crawls) or ``pages`` (curation). The other files —
``hrefs``, ``expected`` and ``docs`` — are the benchmark's own: raw
anchors for the canonicalizer layer timing and the oracle answers.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import oracle

# bump whenever generation changes, so stale caches are never reused
GEN_VERSION = 7

# ── workload sizes ───────────────────────────────────────────────────
# Two inputs per workload, from disjoint seeded namespaces: "warm" feeds
# the warm-up jobs, "main" the measured jobs. Both have the same size,
# so adaptive execution picks the same plans for both and the warm-up
# compiles the code the measured jobs run. Sizes are set by the run
# budget (README.md, "Sizing").

WIDE = dict(layer_pages=500, n_hosts=48, links=20, waves=2)
CURATE = dict(n_docs=1_000, n_sites=16, paras=7, words=8, pool=64)
SIZES = {"crawl_wide": WIDE, "corpus_curate": CURATE}
ROLES = ("main", "warm")

# a host budget that never binds, so every pending URL is crawled
NEVER_BINDS = 1_000_000
PAGE_FILES = 8

DENY_RULES = "User-agent: *\nDisallow: /private/\n"
ALLOW_RULES = "User-agent: *\nDisallow:\n"

# curation vocabulary: 100 syllable words with English panel stopwords
# folded in, so every document passes the language gate
VOCAB = [
    f"{a}{b}"
    for a in ("mar", "tel", "sor", "ban", "cul", "rid", "pon", "ves", "lum", "tor")
    for b in ("aka", "eli", "ito", "ona", "ura", "emi", "ost", "ind", "alo", "eve")
]
VOCAB[::12] = ["the", "and", "for", "with", "that", "this", "from", "have", "were"]


@dataclass
class CrawlSite:
    """One generated crawl input plus its answer."""

    pages: list[tuple[str, bytes]]
    seeds: list[str]
    robots: list[tuple[str, str]]
    hrefs: list[tuple[str, str]]  # (base_url, raw href) of every anchor
    links: dict[str, list[str]]  # page url -> canonical link targets
    denied_hosts: set[str]


def _page_html(title: str, anchors: list[str], paras: list[str]) -> bytes:
    items = "".join(f'<li><a href="{h}">link {j}</a></li>' for j, h in enumerate(anchors))
    body = "".join(f"<p>{p}</p>" for p in paras)
    return (
        f'<html lang="en"><head><title>{title}</title></head>'
        f"<body><h1>{title}</h1><ul>{items}</ul>{body}</body></html>"
    ).encode()


def _href_variants(rng: random.Random, target: str, host: str, same_host: bool):
    """A raw href whose frontier-canonical form is ``target``: plain,
    ``#fragment``, tracking query, or host-relative."""
    r = rng.random()
    if r < 0.12:
        return f"{target}#s{rng.randrange(9)}"
    if r < 0.20:
        return f"{target}?utm_source=feed"
    if r < 0.30 and same_host:
        return target[len(f"http://{host}"):]
    return target


def gen_site(seed: int, ns: str, layer_pages: int, n_hosts: int, links: int,
             layers: int) -> CrawlSite:
    """A layered link graph: ``layers`` layers of ``layer_pages`` pages,
    layer 0 the seeds. Most anchors of a layer-d page point into layer
    d + 1, so BFS wave d crawls layer d and every wave has about the same
    size. The other anchors point back into layers <= d (URLs the
    frontier has seen, which the bloom prefilter and the anti-join drop)
    or, 3%, at pages that do not exist (``/gone``, also among the seeds).
    Host 0 is hot (12% of the pages); every sixth host has a
    robots-denied ``/private/`` section; anchors carry fragments,
    tracking params and host-relative forms that the frontier
    canonicalizer must fold back onto the target URL. The last layer is
    discovered but never crawled."""
    rng = random.Random(f"{ns}:{seed}")
    hosts = [f"h{k}.{ns}.test" for k in range(n_hosts)]
    denied = {h for k, h in enumerate(hosts) if k % 6 == 5}
    layer_urls: list[list[str]] = [[] for _ in range(layers)]
    url_host = {}
    for i in range(layers * layer_pages):
        h = hosts[0] if rng.random() < 0.12 else hosts[rng.randrange(1, n_hosts)]
        private = h in denied and rng.random() < 0.25
        u = f"http://{h}/private/p{i}" if private else f"http://{h}/p{i}"
        layer_urls[i % layers].append(u)
        url_host[u] = h
    n_gone = max(layer_pages // 500, 1)
    pages, hrefs, graph = [], [], {}
    for d, us in enumerate(layer_urls):
        for u in us:
            h = url_host[u]
            anchors, targets = [], []
            for _ in range(links):
                r = rng.random()
                if r < 0.03:
                    th = hosts[rng.randrange(n_hosts)]
                    href = target = f"http://{th}/gone{rng.randrange(n_gone)}"
                else:
                    k = (d + 1 if r < 0.70 and d + 1 < layers
                         else rng.randrange(d + 1) if r < 0.88 else d)
                    target = rng.choice(layer_urls[k])
                    href = _href_variants(rng, target, h, url_host[target] == h)
                anchors.append(href)
                targets.append(target)
                hrefs.append((u, href))
            words = [rng.choice(VOCAB) for _ in range(32)]
            paras = [" ".join(words[k:k + 8]) for k in range(0, 32, 8)]
            pages.append((u, _page_html(f"page {u[7:]}", anchors, paras)))
            graph[u] = list(dict.fromkeys(targets))  # page-level first-wins dedup
    robots = [(h, DENY_RULES if h in denied else ALLOW_RULES) for h in hosts]
    # a seed list carries dead URLs too: one absent page on every fourth host
    dead = [f"http://{h}/gone0" for h in hosts[::4]]
    return CrawlSite(pages, sorted(layer_urls[0] + dead), robots, hrefs, graph, denied)


def _status(url: str, site: CrawlSite) -> str:
    host = url.split("/", 3)[2]
    path = "/" + url.split("/", 3)[3]
    if host in site.denied_hosts and path.startswith("/private/"):
        return "robots_denied"
    return "fetched" if url in site.links else "missing"


def expected_crawl(site: CrawlSite, max_depth: int, max_waves: int) -> dict[str, tuple[str, int]]:
    """Independent oracle: replay the level-synchronous BFS over the
    generated edge list. With a budget that never binds, wave w attempts
    every URL first discovered in wave w - 1; denied and absent pages
    are attempted but not expanded; a URL's depth is fixed when it is
    first discovered. Returns url -> (status, depth)."""
    depth = {u: 0 for u in site.seeds}
    wave = list(site.seeds)
    out: dict[str, tuple[str, int]] = {}
    for _ in range(max_waves):
        found: list[str] = []
        for u in wave:
            st = _status(u, site)
            out[u] = (st, depth[u])
            if st != "fetched" or depth[u] + 1 > max_depth:
                continue
            for t in site.links[u]:
                if t not in depth:
                    depth[t] = depth[u] + 1
                    found.append(t)
        if not found:
            break
        wave = found
    return out


# ── curation corpus ──────────────────────────────────────────────────


def gen_corpus(seed: int, ns: str, n_docs: int, n_sites: int, paras: int,
               words: int, pool: int):
    """Article pages whose markdown is known by construction: an ``<h1>``
    title and ``paras`` paragraphs of ``words`` words. About a quarter of
    paragraphs come from a shared ``pool`` of boilerplate paragraphs, so
    the paragraph dedup stage has real cross-document work. Returns
    (pages rows, docs rows = (doc_id, expected markdown))."""
    rng = random.Random(f"{ns}:{seed}")
    shared = [" ".join(rng.choice(VOCAB) for _ in range(words)) for _ in range(pool)]
    pages, docs = [], []
    for i in range(n_docs):
        ps = [
            shared[rng.randrange(pool)] if rng.random() < 0.25
            else " ".join(rng.choice(VOCAB) for _ in range(words))
            for _ in range(paras)
        ]
        title = f"Article {i}"
        html = (
            f'<html lang="en"><head><title>{title}</title></head><body>'
            f"<h1>{title}</h1>" + "".join(f"<p>{p}</p>" for p in ps) + "</body></html>"
        ).encode()
        url = f"http://s{rng.randrange(n_sites)}.{ns}.test/article/{i}"
        pages.append((i, url, html))
        docs.append((i, f"# {title}\n" + "".join(p + "\n" for p in ps)))
    return pages, docs


# ── cache ────────────────────────────────────────────────────────────


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="zstd")


def _write_parts(path: str, table: pa.Table) -> None:
    """Pages as PAGE_FILES files, the shape a crawl dump has: Spark reads
    one task per file, so a scan is not one task."""
    os.makedirs(path)
    step = -(-table.num_rows // PAGE_FILES)
    for k in range(PAGE_FILES):
        _write(os.path.join(path, f"part-{k:05d}.parquet"), table.slice(k * step, step))


def _write_crawl(d: str, site: CrawlSite, expected: dict, cfg: dict) -> None:
    os.makedirs(d)
    _write_parts(os.path.join(d, "pages"), pa.table({
        "url": [u for u, _ in site.pages],
        "html": pa.array([h for _, h in site.pages], pa.binary()),
    }))
    _write(os.path.join(d, "seeds.parquet"), pa.table({"url": site.seeds}))
    _write(os.path.join(d, "robots.parquet"), pa.table({
        "host": [h for h, _ in site.robots], "rules_text": [r for _, r in site.robots],
    }))
    _write(os.path.join(d, "host_budgets.parquet"), pa.table({
        "host": [h for h, _ in site.robots],
        "budget": pa.array([cfg["budget"]] * len(site.robots), pa.int64()),
    }))
    _write(os.path.join(d, "hrefs.parquet"), pa.table({
        "base_url": [b for b, _ in site.hrefs], "href": [h for _, h in site.hrefs],
    }))
    urls = sorted(expected)
    _write(os.path.join(d, "expected.parquet"), pa.table({
        "url": urls,
        "status": [expected[u][0] for u in urls],
        "depth": pa.array([expected[u][1] for u in urls], pa.int32()),
    }))
    with open(os.path.join(d, "config.json"), "w") as fh:
        json.dump(cfg, fh, sort_keys=True)


def _write_corpus(d: str, pages: list, docs: list, cfg: dict) -> None:
    os.makedirs(d)
    _write_parts(os.path.join(d, "pages"), pa.table({
        "doc_id": pa.array([p[0] for p in pages], pa.int64()),
        "url": [p[1] for p in pages],
        "html": pa.array([p[2] for p in pages], pa.binary()),
    }))
    _write(os.path.join(d, "docs.parquet"), pa.table({
        "doc_id": pa.array([p[0] for p in docs], pa.int64()),
        "text": [p[1] for p in docs],
    }))
    with open(os.path.join(d, "config.json"), "w") as fh:
        json.dump(cfg, fh, sort_keys=True)


def _build(d: str, workload: str, seed: int, role: str) -> None:
    ns = role[0] + workload.replace("_", "")
    p = SIZES[workload]
    if workload == "crawl_wide":
        site = gen_site(seed, ns, p["layer_pages"], p["n_hosts"], p["links"], p["waves"] + 1)
        cfg = {"max_depth": p["waves"], "max_waves": p["waves"], "budget": NEVER_BINDS}
        _write_crawl(d, site, expected_crawl(site, cfg["max_depth"], cfg["max_waves"]), cfg)
        return
    pages, docs = gen_corpus(seed, ns, p["n_docs"], p["n_sites"], p["paras"], p["words"],
                             p["pool"])
    _write_corpus(d, pages, docs, {"n_docs": p["n_docs"]})
    if role == "main":  # the DuckDB answer costs seconds; warm-up jobs go unchecked
        _write(os.path.join(d, "expected.parquet"),
               oracle.ccnet_expected(os.path.join(d, "docs.parquet")))


def ensure_inputs(root: str, workload: str, seed: int, role: str = "main") -> str:
    """Return the cached input dir for (workload, seed, role), generating
    it first if absent. Generation writes to a temp dir and renames it
    into place, so a killed run never leaves a half-written cache."""
    size = hashlib.sha1(json.dumps(SIZES[workload], sort_keys=True).encode()).hexdigest()[:8]
    d = os.path.join(root, f"{workload}-{role}-s{seed}-v{GEN_VERSION}-{size}")
    if os.path.exists(d):
        return d
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.dirname(d), exist_ok=True)
    _build(tmp, workload, seed, role)
    os.rename(tmp, d)
    return d
