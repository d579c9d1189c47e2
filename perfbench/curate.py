"""curate: training-data curation queries over a seeded corpus; no lake writes.

Unit op: one pass of the eight dedup/similarity queries, each run to the
``noop`` sink with the cache cleared between queries.  Read op: one
query.  All work is in ``functions.dedupe`` / ``functions.similarity``
and their joins and exchanges; ``cdc`` and ``lake`` do nothing, so an
ingest-side change should leave every figure here unchanged.

The untimed warm-up is one pass that collects each query's rows instead
of writing them to ``noop``; those rows are what the DuckDB oracle check
compares.  The first timed pass therefore still compiles the ``noop``
plans: it costs about a quarter more CPU than a second one would, but a
second warm-up pass would add some 14 s to every run.
"""

from __future__ import annotations

from dataclasses import dataclass

from perfbench import checks, feeds
from perfbench.common import Run, median
from perfbench.layers import CURATE_QUERIES


@dataclass(frozen=True)
class Sizes:
    """The counts of the engine's sf0.1 curation testdata."""

    docs: int = 5000
    vecs: int = 2000


def run(r: Run, sizes: Sizes = Sizes()) -> dict:
    from tickers_daily_intraday_etl_spark.queries import QUERIES

    spark = r.spark
    corpus = str(r.work / "corpus")
    with r.phase("load"):
        feeds.write_corpus(corpus, r.seed, sizes.docs, sizes.vecs)

    results = {}
    with r.phase("warmup"):
        with r.op("pass", 0):
            for q in CURATE_QUERIES:
                with r.op("query", 0, q=q):
                    df = QUERIES[q](spark, corpus)
                    results[q] = (df.columns, [tuple(x) for x in df.collect()])
                spark.catalog.clearCache()
    with r.phase("timed"):
        for p in r.units(1):
            with r.op("pass", p):
                for q in CURATE_QUERIES:
                    with r.op("query", p, q=q):
                        QUERIES[q](spark, corpus).write.format("noop").mode("overwrite").save()
                    spark.catalog.clearCache()
    with r.phase("check"):
        _check(r, corpus, results)

    passes = r.timed("pass")
    r.detail.update(
        {
            "corpus": {"docs": sizes.docs, "vecs": sizes.vecs},
            "curate_pass_s": median([o["wall_s"] for o in passes]),
            "curate_cpu_s": median([o["cpu_s"] for o in passes]),
        }
    )
    return {"unit": "pass", "read": "query"}


def _check(r: Run, corpus: str, results: dict) -> None:
    """Each query's rows against its DuckDB ``ORACLES`` SQL on the same files."""
    import duckdb

    from tickers_daily_intraday_etl_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
        for q in CURATE_QUERIES:
            cols, rows = results[q]
            if r.before_check is not None:
                rows = r.before_check(q, rows)
            bad = checks.oracle_mismatch(cols, rows, con.execute(ORACLES[q]).fetch_arrow_table())
            r.check(bad is None, f"{q}: {bad}")
    finally:
        con.close()
