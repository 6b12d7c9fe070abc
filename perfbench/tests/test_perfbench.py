"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The fast tests need no Spark. ``test_exact_counts_repeat`` runs the real
benchmark twice (traced, about four minutes on a 4-CPU host); it runs
only with ``PERFBENCH_E2E=1``.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

from perfbench import inputs, oracle, run, trace
from perfbench.jobs import Job

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _files(d: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(a, f), d) for a, _, fs in os.walk(d) for f in fs)


def _same_tree(a: str, b: str) -> bool:
    fa = _files(a)
    return fa == _files(b) and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in fa)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_seeded_inputs(tmp_path, workload):
    one = inputs.ensure_inputs(str(tmp_path / "a"), workload, 7, "warm")
    again = inputs.ensure_inputs(str(tmp_path / "b"), workload, 7, "warm")
    other = inputs.ensure_inputs(str(tmp_path / "c"), workload, 8, "warm")
    assert _same_tree(one, again)
    assert _files(one) == _files(other) and not _same_tree(one, other)


def test_roles_are_disjoint(tmp_path):
    urls = {}
    for role in inputs.ROLES:
        d = inputs.ensure_inputs(str(tmp_path), "crawl_wide", 3, role)
        urls[role] = set(oracle.read_dir(os.path.join(d, "pages"), ["url"]).column(0).to_pylist())
    assert urls["main"] and not urls["main"] & urls["warm"]


def test_crawl_oracle_knows_every_case(tmp_path):
    d = inputs.ensure_inputs(str(tmp_path), "crawl_wide", 1, "main")
    exp = oracle.read_dir(os.path.join(d, "expected.parquet")).to_pylist()
    statuses = {r["status"] for r in exp}
    assert statuses == {"fetched", "missing", "robots_denied"}
    # one layer per wave, so the waves are about the same size
    layer, depths = inputs.WIDE["layer_pages"], [r["depth"] for r in exp]
    assert set(depths) == set(range(inputs.WIDE["waves"]))
    assert all(layer <= depths.count(d) <= 1.25 * layer for d in set(depths))


def test_planted_crawl_error_fails(tmp_path):
    d = inputs.ensure_inputs(str(tmp_path), "crawl_wide", 1, "warm")
    expected = oracle.read_dir(os.path.join(d, "expected.parquet"))
    assert oracle.check_crawl(expected, expected) is None
    dropped = expected.slice(1)  # one URL missing from results
    assert oracle.check_crawl(dropped, expected) is not None
    wrong = expected.set_column(2, "depth", pa.array([9] + expected.column("depth").to_pylist()[1:],
                                                      pa.int32()))
    assert oracle.check_crawl(wrong, expected) is not None
    dup = pa.concat_tables([expected, expected.slice(0, 1)])
    assert oracle.check_crawl(dup, expected) is not None


def test_planted_curate_error_fails(tmp_path):
    d = inputs.ensure_inputs(str(tmp_path), "corpus_curate", 1, "main")
    expected = oracle.read_dir(os.path.join(d, "expected.parquet"))
    assert oracle.check_curate(expected, expected) is None
    assert oracle.check_curate(expected.slice(1), expected) is not None
    md5 = expected.column("dedup_md5").to_pylist()
    bad = expected.set_column(expected.schema.get_field_index("dedup_md5"), "dedup_md5",
                              pa.array(["0" * 32] + md5[1:]))
    assert oracle.check_curate(bad, expected) is not None


def test_markdown_by_construction_matches_engine(tmp_path):
    """The curation oracle runs over the generator's markdown, so that
    markdown must be exactly what the engine's converter produces."""
    from crawl4ai_spark.extraction.markdown import generate_markdown_result

    d = inputs.ensure_inputs(str(tmp_path), "corpus_curate", 1, "warm")
    pages = oracle.read_dir(os.path.join(d, "pages")).to_pylist()
    docs = {r["doc_id"]: r["text"] for r in
            oracle.read_dir(os.path.join(d, "docs.parquet")).to_pylist()}
    for p in pages[:200]:
        md = generate_markdown_result(p["html"].decode(), p["url"])["raw_markdown"]
        assert md == docs[p["doc_id"]]


def test_printed_metrics_match_benchmark_json():
    bench = _bench()
    job = Job(wall_s=2.0, attempted=10, store_bytes=100, error=None, steal_ticks=0,
              cpu_ticks=1, wave_walls_s=[1.0, 1.0])
    e2e = run.end_to_end(1.0, [job], 100.0)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        {k: v["unit"] for k, v in e2e.items()}
    assert sorted(m["name"] for m in bench["per_layer"]) == trace.per_layer_names()
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        {n: trace.unit(n) for n in trace.per_layer_names()}
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_span_wrapper_cost_is_small():
    assert 0.0 <= trace.wrap_cost_s(2_000) < 1e-4


def test_covered_counts_overlap_once():
    assert trace.covered([("w", 0.0, 2.0), ("w", 1.0, 3.0), ("c", 5.0, 6.0)]) == 4.0


EXACT = ("store.bytes_per_url.results", "store.bytes_per_url.frontier_delta",
         "store.bytes_per_url.seen_bloom", "bfs.jobs_per_wave", "extraction.links_per_page",
         "bloom.maybe_seen_ratio", "bloom.false_positive_ratio",
         "politeness.selected_ratio", "robots.denied_ratio")


@pytest.mark.skipif(os.environ.get("PERFBENCH_E2E") != "1", reason="set PERFBENCH_E2E=1")
def test_exact_counts_repeat():
    """Two traced runs of one seed print identical exact counts, and the
    untraced store_bytes_per_url repeats too."""
    def once(trace_flag: int) -> dict:
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "crawl_wide", "--seed", "5",
             "--seconds", "1", "--trace", str(trace_flag)],
            cwd=ROOT, stdout=subprocess.PIPE, check=True, timeout=600)
        res = json.loads(out.stdout.decode().strip().splitlines()[-1])
        assert res["correct"] and res["failed"] == 0
        return {k: v["value"] for k, v in res["metrics"].items()}

    a, b = once(1), once(1)
    for name in EXACT:
        assert a[name] == b[name], name
    assert a["bfs.jobs_per_wave"] > 0 and a["extraction.links_per_page"] > 0
    assert once(0)["store_bytes_per_url"] == once(0)["store_bytes_per_url"]
