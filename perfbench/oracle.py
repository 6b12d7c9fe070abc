"""Output checks for every measured job, independent of the engine.

- Crawls: the store's ``results`` table must hold exactly the URLs of the
  generated graph's crawl closure (``inputs.expected_crawl``), each once,
  with the expected status and depth.
- Curation: the curated parquet must equal DuckDB running the repo's
  ``ccnet_corpus`` oracle SQL over the markdown the generator wrote by
  construction (so an extraction drift shows up too).

Both read files with pyarrow / DuckDB — no Spark job — so a check costs
nothing inside a measured wall.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq

# ccnet rounds lm_logscore to 6 decimals on both sides; summation order
# may move the last rounded digit
LOGSCORE_TOL = 1.01e-6
CCNET_COLS = ["doc_id", "lang_pred", "lang_hits", "n_paras_total", "n_paras_kept",
              "n_tokens", "lm_logscore", "ppl_bucket", "dedup_md5"]


def read_dir(path: str, columns: list[str] | None = None) -> pa.Table:
    """A parquet file, or every parquet file under a directory."""
    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    tables = [pq.read_table(f, columns=columns) for f in files]
    return pa.concat_tables(tables) if tables else pa.table({c: [] for c in columns or []})


def crawl_results(store_dir: str) -> pa.Table:
    """The committed ``results`` rows of a WaveStore (url, status, depth)."""
    return read_dir(os.path.join(store_dir, "tables", "results"), ["url", "status", "depth"])


def check_crawl(results: pa.Table, expected: pa.Table) -> str | None:
    """None when results match the oracle, else a one-line reason."""
    got = list(zip(*(results.column(c).to_pylist() for c in ("url", "status", "depth"))))
    urls = [g[0] for g in got]
    if len(set(urls)) != len(urls):
        return f"{len(urls) - len(set(urls))} duplicate result rows"
    want = set(zip(*(expected.column(c).to_pylist() for c in ("url", "status", "depth"))))
    have = set(got)
    if have != want:
        miss, extra = sorted(want - have), sorted(have - want)
        return f"{len(miss)} missing (e.g. {miss[:1]}), {len(extra)} unexpected (e.g. {extra[:1]})"
    return None


def ccnet_expected(docs_path: str) -> pa.Table:
    """DuckDB answer of the repo's ccnet_corpus oracle over ``documents``."""
    import duckdb

    from __spark_entry__ import _ccnet_oracle_sql  # oracle_sql()["ccnet_corpus"]

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CREATE TABLE documents AS SELECT * FROM read_parquet('{docs_path}')")
        out = con.execute(f"SELECT * FROM ({_ccnet_oracle_sql()}) ORDER BY doc_id").arrow()
    finally:
        con.close()
    return out.select(CCNET_COLS)


def check_curate(got: pa.Table, expected: pa.Table) -> str | None:
    """None when the curated rows equal the oracle's, else a reason."""
    g = sorted(got.select(CCNET_COLS).to_pylist(), key=lambda r: r["doc_id"])
    e = expected.to_pylist()
    if len(g) != len(e):
        return f"{len(g)} curated docs, oracle has {len(e)}"
    for a, b in zip(g, e):
        for c in CCNET_COLS:
            x, y = a[c], b[c]
            if c == "lm_logscore" and x is not None and y is not None:
                if abs(x - y) > LOGSCORE_TOL:
                    return f"doc {a['doc_id']}: {c} {x} != {y}"
            elif x != y:
                return f"doc {a['doc_id']}: {c} {x!r} != {y!r}"
    return None
