"""Seeded input generators.  The program under test receives only their output.

* ``spark_feed``: ``cdc.feedgen.spark_generate_feed``'s xxhash64 scheme
  (hot-key head, 5% deletes, 1..64 tokens) over a seed-shifted event-id
  space, so every seed gives a different feed of the same shape.
* ``trickle_segment``: one ``cdc.feedgen.generate_feed`` segment (Zipf
  keys, duplicates, LSN ties, out-of-order arrival), shifted to LSNs and
  commit times above everything before it.
* ``write_corpus``: a documents/embeddings pair with the shape of the
  engine's sf0.1 curation testdata: the same 30-word vocabulary, 10..100 words
  per document, 5% near-duplicates (a copy of an earlier text plus
  " dup"), 20 sources, the same language mix; unit-norm 64-d float
  embeddings with 10 labels.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

EPOCH_S = 1704067200  # 2024-01-01T00:00:00Z, feedgen.BASE_TS
_ID_STRIDE = 10**10  # id space per seed; ids stay far below 2**63


def spark_feed(
    spark,
    out_dir: str,
    seed: int,
    n_events: int,
    n_docs: int,
    n_files: int,
) -> None:
    """Write ``n_events`` change events, LSNs 1..n_events, as ``n_files``
    parquet files: 10% of events hit a hot head of n_docs/1000 keys, 5%
    are deletes, payloads hold 1..64 tokens."""
    from pyspark.sql import functions as F

    base = (seed % 900_000) * _ID_STRIDE
    hot_docs = max(1, n_docs // 1000)
    ids = spark.range(base + 1, base + n_events + 1, 1, numPartitions=n_files)
    h = F.xxhash64(F.col("id"))
    is_hot = F.pmod(h, F.lit(10)) == 0
    doc_num = F.when(is_hot, F.pmod(F.xxhash64(F.col("id") * 7), F.lit(hot_docs))).otherwise(
        F.pmod(h, F.lit(n_docs))
    )
    is_del = F.pmod(F.xxhash64(F.col("id") + 13), F.lit(20)) == 0
    tok_len = (F.pmod(F.xxhash64(F.col("id") + 29), F.lit(64)) + 1).cast("int")
    tokens = F.transform(
        F.sequence(F.lit(1), tok_len),
        lambda i: F.pmod(
            F.xxhash64(F.concat(F.col("id").cast("string"), F.lit(":"), i.cast("string"))),
            F.lit(50_000),
        ).cast("int"),
    )
    lsn = F.col("id") - F.lit(base)
    feed = ids.select(
        F.when(is_del, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.concat(F.lit("doc-"), doc_num.cast("string")).alias("doc_id"),
        lsn.alias("lsn"),
        F.timestamp_seconds(F.lit(EPOCH_S) + lsn).alias("commit_ts"),
        F.when(is_del, F.lit(None)).otherwise(tokens).alias("tokens"),
        F.when(is_del, F.lit(None)).otherwise(tok_len).alias("n_tok"),
        F.concat(F.lit("feed_"), F.pmod(h, F.lit(3)).cast("string")).alias("source"),
    )
    feed.write.mode("overwrite").parquet(out_dir)


def trickle_segment(seed: int, step: int, n_events: int, n_docs: int, lsn_base: int) -> pd.DataFrame:
    """Segment ``step`` of the trickle feed, LSNs above ``lsn_base``."""
    from tickers_daily_intraday_etl_spark.cdc.feedgen import generate_feed

    df = generate_feed(n_events=n_events, n_docs=n_docs, seed=(seed * 100_003 + step) & 0x7FFFFFFF)
    df["lsn"] = df["lsn"] + lsn_base
    df["commit_ts"] = df["commit_ts"] + pd.to_timedelta(lsn_base, unit="s")
    return df


VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(n))]) for n in rng.integers(10, 101, n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=[0.41, 0.15, 0.15, 0.15, 0.14]), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
