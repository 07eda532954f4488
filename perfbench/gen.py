"""Seeded input generators.  The same seed gives byte-identical inputs;
the program only ever sees the generated tables."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the benchmark's own copy of the fixture vocabulary, so that its inputs
# do not change when the program's generators do
VOCAB = (
    "spark table query scan filter join agg group sort window merge batch "
    "stream row column value key hash part data fast slow big small line "
    "order customer vector the a index cache disk memory shuffle stage task "
    "plan cost read write commit snapshot branch tag file block page segment"
).split()


def write_documents(path: str, n_docs: int, seed: int) -> None:
    """`documents` table in the fixture schema (doc_id, text, lang,
    source, n_chars) with planted duplicates: a third of the docs come in
    families of four sharing one token stream, and within a family a doc
    is an exact copy, a light edit, or a turn-aligned prefix (a multiple
    of 8 tokens) of the family stream."""
    rng = np.random.default_rng(seed)
    words = np.array(VOCAB)
    n_fam_docs = n_docs // 3
    fams = [rng.integers(0, len(VOCAB), rng.integers(40, 160)) for _ in range(n_fam_docs // 4)]
    texts = []
    for i in range(n_docs):
        if i < 4 * len(fams):
            base = fams[i // 4]
            kind = i % 4
            if kind == 2:
                base = base.copy()
                hits = rng.random(len(base)) < 0.05
                base[hits] = rng.integers(0, len(VOCAB), int(hits.sum()))
            elif kind == 3:
                base = base[: max(8, (len(base) // 16) * 8)]
            toks = base
        else:
            toks = rng.integers(0, len(VOCAB), rng.integers(20, 160))
        texts.append(" ".join(words[toks]))
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n_docs),
        "source": pa.array([f"src{i % 7}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)


def write_embeddings(path: str, n_vecs: int, seed: int, dim: int = 64) -> None:
    """`embeddings` table (vec_id, embedding list<float>, label): unit
    vectors around eight seeded centroids."""
    rng = np.random.default_rng(seed)
    centroids = rng.normal(size=(8, dim))
    labels = rng.integers(0, 8, n_vecs)
    vecs = centroids[labels] + 2.0 * rng.normal(size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    pq.write_table(table, path)


def write_sf_dir(sf_dir: str, n_docs: int, seed: int) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    write_documents(os.path.join(sf_dir, "documents.parquet"), n_docs, seed)
    write_embeddings(os.path.join(sf_dir, "embeddings.parquet"), n_docs, seed + 1)


def events(spark, n_events: int, seed: int, n_users: int):
    """Event stream (id, user_id, event_type, value) as a pure DataFrame
    expression: users skewed towards low ids (a quarter of the events
    come from the first 1% of users), twelve event types with a skewed
    mix, heavy-tailed values."""
    from pyspark.sql import functions as F

    def h(tag):
        return F.pmod(F.xxhash64(F.lit(seed), F.lit(tag), F.col("id")), F.lit(1 << 30))

    hot = h("hot") % 4 == 0
    user = F.when(hot, h("u1") % max(1, n_users // 100)).otherwise(h("u2") % n_users)
    etype = F.element_at(
        F.array(*[F.lit(t) for t in (
            "view", "view", "view", "click", "click", "scroll", "search",
            "purchase", "error", "share", "login", "logout", "signup", "rate")]),
        (h("t") % 14 + 1).cast("int"),
    )
    value = F.round(F.exp((h("v") % 10000) / F.lit(1250.0)), 2)
    return spark.range(0, n_events).select(
        "id", user.cast("long").alias("user_id"), etype.alias("event_type"),
        value.cast("double").alias("value"),
    )
