"""Seeded benchmark inputs.

Everything the engine reads is generated here from the workload seed: the
``documents`` and ``embeddings`` tables (the
schemas and value distributions of the test data described in TESTDATA.md),
the derived pages corpus and the crawl seed URLs. The engine receives only
these generated inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
N_HOSTS = 10


def write_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> str:
    """Write the source tables as single-file parquet under ``out_dir``. With
    ``n_vecs == 0`` only ``documents`` is written (all a crawl reads).

    Every 50th document repeats an earlier document's text and every 7th
    carries a shared boilerplate span, so the dedup leaves find real work."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    lengths = rng.integers(8, 96, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, pos = [], 0
    for i, n in enumerate(lengths):
        toks = list(vocab[words[pos:pos + n]])
        pos += n
        if i % 7 == 3:
            toks[1:1] = ["dup", "window", "merge", "spark", "stream", "hash", "join", "dup"]
        texts.append(" ".join(toks))
    for i in range(50, n_docs, 50):
        texts[i] = texts[int(rng.integers(0, i))]
    lang = np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n_docs)]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array([f"src{i % 5}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )

    if n_vecs == 0:
        return out_dir
    dim = 64
    centers = rng.normal(0, 0.15, (10, dim))
    labels = rng.integers(0, 10, n_vecs)
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_vecs, dim))).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }),
        os.path.join(out_dir, "embeddings.parquet"),
    )

    return out_dir


def build_corpus(spark, tables_dir: str, mult: int = 1):
    """Derived pages corpus replicated ``mult`` times with disjoint doc-id
    spaces, through the public ``doc_pages`` / ``robots_sitemap_pages``."""
    from pyspark.sql import functions as F

    from webcrawler_woc_spark.sources.corpus import doc_pages, robots_sitemap_pages

    documents = spark.read.parquet(os.path.join(tables_dir, "documents.parquet"))
    n = documents.count()
    if mult > 1:
        documents = (
            documents.crossJoin(spark.range(mult).withColumnRenamed("id", "rep"))
            .withColumn("doc_id", F.col("doc_id") + F.col("rep") * n)
            .drop("rep")
        )
        n *= mult
    pages = doc_pages(documents, n).unionByName(robots_sitemap_pages(spark, n))
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return pages.repartition(min(n_part, max(4, n // 2000))), n


def seed_urls(rng: np.random.Generator, n_docs: int, per_host: int) -> list[tuple[str, float]]:
    """``per_host`` distinct seed pages on each host (doc ids congruent to
    the host). Priorities vary so the politeness order does not rest on url
    ties alone."""
    ids = [
        int(i) * N_HOSTS + h
        for h in range(N_HOSTS)
        for i in rng.choice(n_docs // N_HOSTS, size=per_host, replace=False)
    ]
    return [
        (f"http://host{i % N_HOSTS}.example/page/{i}", round(1.0 + (j % 7) / 8, 3))
        for j, i in enumerate(ids)
    ]
