"""The traced run: per-layer metrics, measured from outside the engine.

Three parts, all on the workload's own inputs:

1. Traced jobs. Tracing wraps the public ``WaveStore`` methods (spans in
   memory) and reads Spark's status store, between jobs, for the job,
   stage and task counts and the stage metrics of each job.
   ``trace.overhead_ratio`` is what a traced job costs over what it
   would cost untraced: its wall plus the status-store reads, over its
   wall less the spans' wrapper cost (calibrated on a no-op). It is
   computed from the tracing work itself, so it does not depend on
   where the job sits on the JVM's warm-up slope.
2. Layer replays: each layer's public function runs alone over the rows
   the last traced job fed it, into a ``noop`` sink, and is timed. Input
   frames are cached before the clock starts, so only the layer is timed.
3. Shares: each layer's seconds over the median traced job wall.
   ``share.store`` is the part of the job wall the store spans cover.
   Spark is lazy, so a write span also computes the frame it writes
   (extraction, discovery): ``share.store`` is an upper bound on the
   store's cost and ``share.bfs.self`` a lower bound on the loop's own.

A layer that the workload does not run reads 0.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time

from perfbench import oracle

STORE_TABLES = ("results", "frontier_delta", "seen_bloom", "host_state", "metrics", "lineage")
STORE_SPANS = {"write_table": "write", "commit": "commit", "read_table": "read",
               "read_latest": "read"}


class Spans:
    """(kind, start, end) spans around the wrapped WaveStore methods."""

    def __init__(self):
        self.items: list[tuple[str, float, float]] = []
        self._lock = threading.Lock()

    def wrap(self, kind: str, fn):
        def traced(*a, **kw):
            t0 = time.time()
            try:
                return fn(*a, **kw)
            finally:
                with self._lock:
                    self.items.append((kind, t0, time.time()))
        return traced

    @contextlib.contextmanager
    def installed(self):
        from crawl4ai_spark.frontier.store import WaveStore

        originals = {name: getattr(WaveStore, name) for name in STORE_SPANS}
        for name, fn in originals.items():
            setattr(WaveStore, name, self.wrap(STORE_SPANS[name], fn))
        try:
            yield self
        finally:
            for name, fn in originals.items():
                setattr(WaveStore, name, fn)

    def between(self, t0: float, t1: float) -> list[tuple[str, float, float]]:
        return [s for s in self.items if s[1] >= t0 and s[2] <= t1]


def wrap_cost_s(n: int = 20_000) -> float:
    """Seconds a span wrapper adds to one call: a wrapped no-op against
    the bare no-op, best of three rounds each."""
    def noop():
        return None

    def per_call(fn) -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            for _ in range(n):
                fn()
            best = min(best, (time.perf_counter() - t0) / n)
        return best

    return max(per_call(Spans().wrap("noop", noop)) - per_call(noop), 0.0)


def covered(spans) -> float:
    """Length of the union of the spans' intervals."""
    total, end = 0.0, float("-inf")
    for _, a, b in sorted(spans, key=lambda s: s[1]):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class StatusStore:
    """Job / stage ids and stage metrics from the driver's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()

    def next_ids(self) -> tuple[int, int]:
        self.sc.listenerBus().waitUntilEmpty()
        ds = self.sc.dagScheduler()
        # py4j hands the AtomicIntegers back as Python ints
        return int(ds.nextJobId()), int(ds.nextStageId())

    def stage_totals(self, stage_ids: range) -> dict:
        store = self.sc.statusStore()
        out = {"tasks": 0, "run_ms": 0, "shuffle_write": 0, "spill": 0}
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage never submitted
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            out["tasks"] += sd.numTasks()
            out["run_ms"] += sd.executorRunTime()
            out["shuffle_write"] += sd.shuffleWriteBytes()
            out["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


def timed_noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def cached(df):
    df = df.persist()
    df.count()
    return df


# ── layer replays ────────────────────────────────────────────────────


def crawl_layers(wl) -> dict:
    """Replay each crawl layer over what the last traced crawl fed it."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.extraction.udfs import udf_extract_links
    from crawl4ai_spark.frontier.store import WaveStore
    from crawl4ai_spark.functions.fingerprint import url_fingerprint
    from crawl4ai_spark.functions.urlnorm import udf_canonicalize
    from crawl4ai_spark.operators.bloom import bloom_prefilter, build_bloom_shards
    from crawl4ai_spark.operators.politeness import rank_by_host_budget
    from crawl4ai_spark.operators.robots import attach_robots_verdict

    spark, cfg = wl.spark, wl.crawl_config()
    pages, _, robots, budgets = wl.crawl_inputs()
    store = WaveStore(spark, wl.out)
    waves = store.committed_waves()
    results = cached(store.read_table("results"))
    fetched = results.where(F.col("status") == "fetched")
    m = {}
    frames = []

    # extraction: the links UDF over every page the crawl fetched
    html = cached(pages.join(fetched.select("url", "wave"), "url"))
    links = html.select("url", "wave", udf_extract_links(F.col("html"), F.col("url")).alias("l"))
    links = links.persist()
    t0 = time.time()
    n_pages = links.count()
    m["extraction.links_s"] = time.time() - t0
    targets = cached(links.select(
        "wave", F.explode(F.concat("l.internal", "l.external")).alias("a")
    ).select("wave", F.col("a.href").alias("url")))
    n_links = targets.count()
    m["extraction.links_per_page"] = n_links / max(n_pages, 1)
    frames += [html, links, targets]

    # urlnorm: the canonicalizer over the raw anchors of fetched pages
    hrefs = cached(spark.read.parquet(os.path.join(wl.inp, "hrefs.parquet"))
                   .join(fetched.select(F.col("url").alias("base_url")), "base_url"))
    m["urlnorm.canonicalize_s"] = timed_noop(
        hrefs.select(udf_canonicalize(F.col("href"), F.col("base_url")).alias("c")))
    # fingerprint: url_fp over every discovered link
    m["fingerprint.url_fp_s"] = timed_noop(targets.select(url_fingerprint("url")))
    frames.append(hrefs)

    # bloom: build shards over the whole frontier; prefilter the
    # candidates of the last wave whose discoveries pass the depth cap
    # (a BFS wave w discovers depth w + 1) against the generations
    # committed before it
    frontier = cached(store.read_table("frontier_delta").select("url_fp"))
    m["bloom.build_s"] = timed_noop(
        build_bloom_shards(frontier, cfg.n_bloom_shards, cfg.bloom_fpp))
    k = min(waves[-1], cfg.max_depth - 1)
    cand = cached(targets.where(F.col("wave") == k).select("url").distinct()
                  .withColumn("url_fp", url_fingerprint("url")))
    before = [w for w in waves if w < k]
    if before:
        shards = cached(store.read_table("seen_bloom", before))
        m["bloom.prefilter_s"] = timed_noop(bloom_prefilter(cand, shards, cfg.n_bloom_shards))
        seen = store.read_table("frontier_delta", before).select(
            "url_fp", F.lit(True).alias("seen"))
        row = (bloom_prefilter(cand, shards, cfg.n_bloom_shards).join(seen, "url_fp", "left")
               .agg(F.count("*").alias("n"),
                    F.sum(F.col("maybe_seen").cast("int")).alias("maybe"),
                    F.sum(F.col("seen").isNull().cast("int")).alias("new"),
                    F.sum((F.col("maybe_seen") & F.col("seen").isNull()).cast("int"))
                    .alias("fp"))
               .first())
        m["bloom.maybe_seen_ratio"] = (row["maybe"] or 0) / max(row["n"], 1)
        m["bloom.false_positive_ratio"] = (row["fp"] or 0) / max(row["new"] or 0, 1)
        frames.append(shards)
    frames += [frontier, cand]

    # politeness: every wave's pending set ranked in one job, each wave a
    # separate host group (no host is throttled here, so host_state
    # cooldowns are all 0 and only budgets decide)
    fr = store.read_table("frontier_delta")
    wv = spark.createDataFrame([(w,) for w in waves], "w int")
    attempted = results.select("url_fp", F.col("wave").alias("rw"))
    pending = cached(
        fr.join(wv, fr["enqueue_wave"] <= wv["w"])
        .join(attempted, (fr["url_fp"] == attempted["url_fp"]) & (attempted["rw"] < wv["w"]),
              "left_anti")
        .join(budgets, "host", "left")
        .select("url", "url_fp", F.concat_ws("#", "host", "w").alias("host"), "depth",
                "score", "enqueue_wave", "path_key",
                F.coalesce("budget", F.lit(cfg.default_budget)).alias("budget")))
    salted = pending.select(F.col("host"), "budget").distinct()
    ranked = rank_by_host_budget(pending.drop("budget"), salted, cfg.default_budget)
    m["politeness.rank_s"] = timed_noop(ranked)
    m["politeness.selected_ratio"] = (ranked.where("selected").count()
                                      / max(pending.count(), 1))
    frames += [pending, results]

    # robots: the verdict over every URL the crawl attempted
    m["robots.verdict_s"] = timed_noop(
        attach_robots_verdict(results.select("url", "host"), robots, cfg.user_agent))
    denied = attach_robots_verdict(results.select("url", "host"), robots, cfg.user_agent) \
        .where(~F.col("robots_allowed")).count()
    m["robots.denied_ratio"] = denied / max(results.count(), 1)

    for f in frames:
        f.unpersist()
    return m


def curate_layers(wl) -> dict:
    """Replay markdown extraction, the ccnet pipeline and its LM stage
    over the last traced curation job's inputs."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.extraction.udfs import udf_full_extract
    from crawl4ai_spark.operators.ccnet import ccnet_pipeline
    from crawl4ai_spark.operators.lm_score import stupid_backoff_scores

    from perfbench.jobs import PARAGRAPH_RE

    # read from the job's own files, as the job does: a cached frame
    # changes the ccnet plan (every CTE reference rescans the cache)
    spark = wl.spark
    pages = spark.read.parquet(os.path.join(wl.inp, "pages"))
    docs = spark.read.parquet(os.path.join(wl.out, "markdown")).select(
        "doc_id", F.regexp_replace("text", PARAGRAPH_RE, "$1\n").alias("text"))
    m = {
        "extraction.markdown_s": timed_noop(
            pages.select(udf_full_extract(F.col("html"), F.col("url")).alias("e"))),
        "ccnet.pipeline_s": timed_noop(ccnet_pipeline(docs)),
        "lm_score.stupid_backoff_s": timed_noop(stupid_backoff_scores(docs)),
    }
    cur = oracle.read_dir(os.path.join(wl.out, "curated"),
                          ["n_paras_total", "n_paras_kept"]).to_pydict()
    m["ccnet.kept_doc_ratio"] = len(cur["n_paras_kept"]) / wl.cfg["n_docs"]
    m["ccnet.kept_para_ratio"] = sum(cur["n_paras_kept"]) / max(sum(cur["n_paras_total"]), 1)
    return m


# ── the traced run ───────────────────────────────────────────────────

LAYER_METRICS = (
    "extraction.links_s", "extraction.links_per_page", "extraction.markdown_s",
    "urlnorm.canonicalize_s", "fingerprint.url_fp_s",
    "bloom.build_s", "bloom.prefilter_s", "bloom.maybe_seen_ratio", "bloom.false_positive_ratio",
    "politeness.rank_s", "politeness.selected_ratio", "robots.verdict_s", "robots.denied_ratio",
    "ccnet.pipeline_s", "lm_score.stupid_backoff_s", "ccnet.kept_para_ratio",
    "ccnet.kept_doc_ratio",
)
# layer seconds whose share of the traced job wall is reported
SHARES = {
    "extraction.links": ("extraction.links_s",),
    "extraction.markdown": ("extraction.markdown_s",),
    "urlnorm.canonicalize": ("urlnorm.canonicalize_s",),
    "fingerprint.url_fp": ("fingerprint.url_fp_s",),
    "bloom": ("bloom.build_s", "bloom.prefilter_s"),
    "politeness.rank": ("politeness.rank_s",),
    "robots.verdict": ("robots.verdict_s",),
    "ccnet.pipeline": ("ccnet.pipeline_s",),
    "lm_score.stupid_backoff": ("lm_score.stupid_backoff_s",),
}


SPAN_METRICS = ("bfs.self_s_per_wave", "store.write_s_per_wave", "store.commit_s_per_wave",
                "store.read_s_per_wave")
COUNT_METRICS = ("bfs.jobs_per_wave", "bfs.tasks_per_wave", "store.files_per_wave")
RUN_METRICS = ("session.start_s", "spark.executor_run_s_per_url",
               "spark.shuffle_write_bytes_per_url", "spark.spill_bytes", "host.steal_ratio",
               "trace.overhead_ratio")


def per_layer_names() -> list[str]:
    """Every metric a traced run prints."""
    return sorted(
        list(LAYER_METRICS) + list(SPAN_METRICS) + list(COUNT_METRICS) + list(RUN_METRICS)
        + [f"store.bytes_per_url.{t}" for t in STORE_TABLES]
        + [f"share.{s}" for s in SHARES] + ["share.store", "share.bfs.self"])


def unit(name: str) -> str:
    if name.startswith("share.") or name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_s") or name.endswith("_s_per_wave"):
        return "s"
    return {
        "extraction.links_per_page": "links/page",
        "spark.executor_run_s_per_url": "s/URL",
        "spark.shuffle_write_bytes_per_url": "B/URL",
        "spark.spill_bytes": "B",
        "bfs.jobs_per_wave": "jobs/wave",
        "bfs.tasks_per_wave": "tasks/wave",
        "store.files_per_wave": "files/wave",
    }.get(name, "B/URL")


def traced_run(wl, seconds: float, min_jobs: int, session_start_s: float, record: dict):
    """Traced jobs for ``seconds`` (at least ``min_jobs``), then layer
    replays. Returns (the traced jobs, per-layer metrics)."""
    status = StatusStore(wl.spark)
    spans = Spans()
    traced, per_job = [], []
    with spans.installed():
        t_end = time.time() + seconds
        while len(traced) < min_jobs or time.time() < t_end:
            q0 = time.time()
            j0, s0 = status.next_ids()
            t0 = time.time()
            job = wl.run()
            t1 = time.time()
            j1, s1 = status.next_ids()
            totals = status.stage_totals(range(s0, s1))
            status_s = (t0 - q0) + (time.time() - t1)
            traced.append(job)
            per_job.append((spans.between(t0, t1), job, j1 - j0, totals, status_s))
    span_cost = wrap_cost_s()

    m = {name: 0.0 for name in LAYER_METRICS}
    is_crawl = wl.name != "corpus_curate"
    m.update(crawl_layers(wl) if is_crawl else curate_layers(wl))

    med = lambda xs: statistics.median(list(xs))  # noqa: E731
    n_waves = med(len(job.wave_walls_s) for _, job, *_ in per_job)
    wall = med(job.wall_s for _, job, *_ in per_job)
    store_s = {k: med(sum(b - a for kind, a, b in sp if kind == k) for sp, *_ in per_job)
               for k in ("write", "commit", "read")}
    self_s = med(job.wall_s - covered(sp) for sp, job, *_ in per_job)
    urls = med(job.attempted for _, job, *_ in per_job)
    stage = lambda key: med(st[key] for _, _, _, st, _ in per_job)  # noqa: E731
    per_wave = lambda x: x / n_waves if is_crawl else 0.0  # noqa: E731
    m.update({
        "session.start_s": session_start_s,
        "bfs.self_s_per_wave": per_wave(self_s),
        "bfs.jobs_per_wave": per_wave(med(nj for _, _, nj, _, _ in per_job)),
        "bfs.tasks_per_wave": per_wave(stage("tasks")),
        "store.write_s_per_wave": per_wave(store_s["write"]),
        "store.commit_s_per_wave": per_wave(store_s["commit"]),
        "store.read_s_per_wave": per_wave(store_s["read"]),
        "spark.executor_run_s_per_url": stage("run_ms") / 1000 / urls,
        "spark.shuffle_write_bytes_per_url": stage("shuffle_write") / urls,
        "spark.spill_bytes": stage("spill"),
        "trace.overhead_ratio": med((job.wall_s + q) / (job.wall_s - len(sp) * span_cost)
                                    for sp, job, _, _, q in per_job),
    })
    files, table_bytes = store_files(wl.out) if is_crawl else (0, {})
    m["store.files_per_wave"] = per_wave(files)
    for t in STORE_TABLES:
        m[f"store.bytes_per_url.{t}"] = table_bytes.get(t, 0) / urls
    m["host.steal_ratio"] = (sum(j.steal_ticks for j in traced)
                             / max(sum(j.cpu_ticks for j in traced), 1))
    for share, names in SHARES.items():
        m[f"share.{share}"] = sum(m[n] for n in names) / wall
    if is_crawl:
        m["share.store"] = med(covered(sp) for sp, *_ in per_job) / wall
        m["share.bfs.self"] = self_s / wall
    else:
        m["share.store"] = m["share.bfs.self"] = 0.0
    record["tracing"] = {"span_cost_s": span_cost, "spans_per_job": [len(p[0]) for p in per_job],
                       "status_s": [p[4] for p in per_job]}
    assert sorted(m) == per_layer_names(), set(m) ^ set(per_layer_names())
    return traced, {k: {"value": v, "unit": unit(k)} for k, v in sorted(m.items())}


def store_files(store: str) -> tuple[int, dict[str, int]]:
    """Files under the store's tables, and data bytes per table."""
    n, sizes = 0, {}
    root = os.path.join(store, "tables")
    for t in os.listdir(root):
        for d, _, fs in os.walk(os.path.join(root, t)):
            n += len(fs)
            sizes[t] = sizes.get(t, 0) + sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return n, sizes

