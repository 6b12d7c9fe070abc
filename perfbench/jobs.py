"""The engine session and the workloads' jobs.

Each job drives only the engine's public surface — ``session.get_spark``,
``frontier.bfs.run_crawl`` (which writes a ``frontier.store.WaveStore``),
``extraction.udfs`` and ``operators.ccnet`` — times it from outside, and
checks its output with ``oracle``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import host, oracle

# ccnet_corpus's paragraphing (newline after every 8th word), as in the
# repo's driver query; the DuckDB oracle applies the same regex
PARAGRAPH_RE = r"((?:\S+ ){8})"
# store tables whose rows carry wall-clock times, so their compressed
# size is not a repeatable count; left out of store_bytes_per_url
TIMED_TABLES = ("metrics",)


@dataclass
class Job:
    wall_s: float
    attempted: int  # pages attempted (crawl) or curated (curate)
    store_bytes: int
    error: str | None
    steal_ticks: int
    cpu_ticks: int
    wave_walls_s: list[float] = field(default_factory=list)
    checked: bool = False  # output compared with an oracle answer


def cores() -> int:
    return max(1, (os.cpu_count() or 2) // 2)


def session_conf(work: str) -> dict:
    """Driver heap sized from host RAM (an eighth, 1-4 GiB), scratch and
    temp files kept inside the work dir, and a status store that keeps
    every job and stage of a run for the traced counts."""
    heap_mb = max(1024, min(4096, host.ram_mb() // 8))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "50",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(work: str):
    from crawl4ai_spark.session import get_spark

    # one shuffle partition per core: the engine's default of 32 is sized
    # for clusters (AQE only coalesces reducers, every shuffle still
    # schedules its map side at full width)
    return get_spark(app_name="perfbench", master=f"local[{cores()}]",
                     shuffle_partitions=cores(), extra_conf=session_conf(work))


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the driver JVM, and wait for the JVM and every
    Python worker it started to exit."""
    from pyspark import SparkContext

    kids = host.descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=timeout_s)
    deadline = time.time() + timeout_s
    while any(host.alive(p) for p in kids) and time.time() < deadline:
        time.sleep(0.05)


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Workload:
    """One input dir and the job that runs over it."""

    def __init__(self, spark, name: str, inp: str, work: str):
        self.spark, self.name, self.inp, self.work = spark, name, inp, work
        exp = os.path.join(inp, "expected.parquet")
        self.expected = pq.read_table(exp) if os.path.exists(exp) else None
        with open(os.path.join(inp, "config.json")) as fh:
            self.cfg = json.load(fh)
        self.out = os.path.join(work, "out")

    def run(self, waves: int | None = None) -> Job:
        """One job; a crawl stops after ``waves`` waves when given."""
        shutil.rmtree(self.out, ignore_errors=True)
        s0 = host.cpu_ticks()
        job = self._curate() if self.name == "corpus_curate" else self._crawl(waves)
        s1 = host.cpu_ticks()
        job.steal_ticks, job.cpu_ticks = s1[0] - s0[0], s1[1] - s0[1]
        return job

    # ── crawls ───────────────────────────────────────────────────────

    def crawl_inputs(self):
        r = self.spark.read.parquet
        p = lambda n: os.path.join(self.inp, n)  # noqa: E731
        return (r(p("pages")), r(p("seeds.parquet")), r(p("robots.parquet")),
                r(p("host_budgets.parquet")))

    def crawl_config(self, waves: int | None = None):
        from crawl4ai_spark.frontier.bfs import CrawlConfig

        return CrawlConfig(max_depth=self.cfg["max_depth"],
                           max_waves=waves or self.cfg["max_waves"],
                           default_budget=self.cfg["budget"], links_only=True)

    def _crawl(self, waves: int | None) -> Job:
        from crawl4ai_spark.frontier.bfs import run_crawl

        pages, seeds, robots, budgets = self.crawl_inputs()
        # wave w attempts exactly the URLs at depth w (inputs.gen_site)
        expected = self.expected if waves is None else self.expected.filter(
            pc.less(self.expected["depth"], waves))
        t0 = time.time()
        run_crawl(self.spark, pages, seeds, self.out, self.crawl_config(waves),
                  robots=robots, host_budgets=budgets)
        wall = time.time() - t0
        commits = [t0] + [m["committed_at"] for m in markers(self.out)]
        results = oracle.crawl_results(self.out)
        return Job(
            wall_s=wall,
            attempted=results.num_rows,
            store_bytes=sum(_tree_bytes(os.path.join(self.out, "tables", t))
                            for t in os.listdir(os.path.join(self.out, "tables"))
                            if t not in TIMED_TABLES),
            error=oracle.check_crawl(results, expected),
            checked=True,
            steal_ticks=0, cpu_ticks=0,
            wave_walls_s=[b - a for a, b in zip(commits, commits[1:])],
        )

    # ── curation ─────────────────────────────────────────────────────

    def _curate(self) -> Job:
        from pyspark.sql import functions as F

        from crawl4ai_spark.extraction.udfs import udf_full_extract
        from crawl4ai_spark.operators.ccnet import ccnet_pipeline

        md_dir, cur_dir = os.path.join(self.out, "markdown"), os.path.join(self.out, "curated")
        t0 = time.time()
        pages = self.spark.read.parquet(os.path.join(self.inp, "pages"))
        extract = udf_full_extract(F.col("html"), F.col("url"))
        pages.select("doc_id", extract["markdown"]["raw_markdown"].alias("text")) \
            .write.mode("overwrite").parquet(md_dir)
        docs = self.spark.read.parquet(md_dir).select(
            "doc_id", F.regexp_replace("text", PARAGRAPH_RE, "$1\n").alias("text"))
        ccnet_pipeline(docs).write.mode("overwrite").parquet(cur_dir)
        wall = time.time() - t0
        return Job(
            wall_s=wall,
            attempted=self.cfg["n_docs"],
            store_bytes=_tree_bytes(cur_dir),
            error=None if self.expected is None
            else oracle.check_curate(oracle.read_dir(cur_dir), self.expected),
            checked=self.expected is not None,
            steal_ticks=0, cpu_ticks=0,
            wave_walls_s=[wall],
        )


def markers(store: str) -> list[dict]:
    d = os.path.join(store, "_commits")
    names = sorted((n for n in os.listdir(d) if n.endswith(".json")),
                   key=lambda n: int(n[len("wave-"):-len(".json")]))
    out = []
    for n in names:
        with open(os.path.join(d, n)) as fh:
            out.append(json.load(fh))
    return out
