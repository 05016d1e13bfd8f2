"""Independent expected results for every benchmark operation.

* crawls: ``oracle.pyoracle.crawl_oracle`` over the pure-Python twin of the
  corpus (``sources.corpus.py_doc_page``), never over rows the engine built;
* the query leaves: their ``oracle_sql()`` text run by DuckDB over the same
  parquet inputs, normalized the way ``scripts/check_oracles.py`` does.

Results are cached per (workload, seed, generator source) under
``perfbench/.work/oracle`` so repeated runs of one seed skip the work. All
of it runs outside the timed region.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(HERE, ".work", "oracle")
HTML_MIMES = ("text/html", "text/html; charset=utf-8")


def cached(key_parts: list, compute):
    """JSON-cached ``compute()``; the key covers the generator's source."""
    with open(os.path.join(HERE, "inputs.py"), "rb") as f:
        gen_src = f.read()
    digest = hashlib.sha256(
        json.dumps(key_parts, sort_keys=True, default=str).encode() + gen_src
    ).hexdigest()[:24]
    path = os.path.join(CACHE_DIR, f"{key_parts[0]}-{digest}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(CACHE_DIR, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


# ---------------------------------------------------------------- crawls


def python_pages(tables_dir: str, mult: int) -> dict[str, bytes]:
    """url -> html of the replicated corpus, built by the Python twin."""
    from webcrawler_woc_spark.sources.corpus import py_doc_page, py_robots_sitemap_pages

    docs = pq.read_table(
        os.path.join(tables_dir, "documents.parquet"), columns=["doc_id", "text", "lang"]
    ).to_pylist()
    n = len(docs) * mult
    pages = {}
    for rep in range(mult):
        for d in docs:
            p = py_doc_page(d["doc_id"] + rep * len(docs), d["text"], d["lang"], n)
            pages[p["url"]] = p["html"]
    for p in py_robots_sitemap_pages(n):
        pages[p["url"]] = p["html"]
    return pages


def crawl_expected(tables_dir: str, mult: int, seeds, cfg) -> dict:
    """Oracle crawl plus the distinct child-URL count of every wave."""
    from webcrawler_woc_spark.functions.html import extract_links
    from webcrawler_woc_spark.oracle.pyoracle import crawl_oracle
    from webcrawler_woc_spark.sources.corpus import default_content_type_py

    pages = python_pages(tables_dir, mult)
    res = crawl_oracle(
        pages, seeds, whitelist=cfg.whitelist, blacklist=cfg.blacklist, words=cfg.words,
        depth=cfg.depth, host_budget=cfg.host_budget, timeout_ms=cfg.timeout_ms,
    )
    deduped: dict[int, set] = {}
    for wave, _host, _slot, url in res.crawl_order:
        children = deduped.setdefault(wave, set())
        if url in pages and default_content_type_py(url).lower() in HTML_MIMES:
            children.update(extract_links(pages[url].decode("utf-8", "replace"), url))
    return {
        "seen": sorted(res.seen),
        "crawl_order": sorted(list(t) for t in res.crawl_order),
        "rejected": sorted(res.rejected),
        "flagged": sorted(res.flagged),
        "extracted_text": res.extracted_text,
        "deduped_per_wave": [len(deduped.get(w, ())) for w in range(res.waves)],
    }


def warehouse_rows(wh, table: str) -> list[dict]:
    """Every committed row of a state table, read with pyarrow from the
    paths the manifest names (not through the engine's readers)."""
    rows = []
    for info in wh.manifest["waves"].values():
        path = info.get("tables", {}).get(table)
        if path is not None:
            rows.extend(pq.read_table(path).to_pylist())
    return rows


def check_crawl(wh, expected: dict) -> list[str]:
    """Mismatches between a finished crawl's warehouse and the oracle."""
    got = {
        "seen": sorted(r["url"] for r in warehouse_rows(wh, "seen")),
        "crawl_order": sorted(
            [r["wave"], r["host"], r["slot"], r["url"]] for r in warehouse_rows(wh, "crawl_order")
        ),
        "rejected": sorted(r["url"] for r in warehouse_rows(wh, "rejected")),
        "flagged": sorted(r["url"] for r in warehouse_rows(wh, "flagged")),
        "extracted_text": {r["url"]: r["text"] for r in warehouse_rows(wh, "extracted_text")},
    }
    return [
        f"{key} differs from the oracle ({len(value)} vs {len(expected[key])} entries)"
        for key, value in got.items()
        if value != expected[key]
    ]


# ------------------------------------------------------------ query leaves


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, bytes):
        return v.hex()
    return v


def norm_rows(cols, rows) -> list:
    """Column-name-ordered, order-insensitive rendering of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [sorted(cols), sorted(repr(tuple(_norm_cell(r[i]) for i in order)) for r in rows)]


def queries_expected(tables_dir: str, leaves: list[str]) -> dict:
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for name in os.listdir(tables_dir):
            if name.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, name)}')"
                )
        out = {}
        for leaf in leaves:
            rel = con.sql(oracles[leaf])
            cols = rel.columns
            rows = [tuple(d[c] for c in cols) for d in rel.arrow().to_pylist()]
            out[leaf] = norm_rows(cols, rows)
    finally:
        con.close()
    return out
