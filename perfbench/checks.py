"""Correctness references, independent of the code paths they check."""

from __future__ import annotations

import math
from typing import Any

PAYLOAD = ("tokens", "n_tok", "source")


# ------------------------------------------------------------ CDC replay
def closed_form(feed):
    """Final state of a feed whose LSNs are unique: per key the event with
    the highest LSN, keys whose last event is a delete dropped."""
    from pyspark.sql import functions as F

    last = feed.groupBy("doc_id").agg(
        F.max_by(F.struct("op", *PAYLOAD), F.col("lsn")).alias("w")
    )
    return last.where(F.col("w.op") != "D").select("doc_id", *[F.col(f"w.{c}").alias(c) for c in PAYLOAD])


def state_fingerprint(df) -> tuple[int, int, int]:
    """(rows, summed row hash, summed token count) of a doc_id/payload
    frame: equal multisets give equal fingerprints."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64("doc_id", *PAYLOAD).cast("decimal(38,0)")),
        F.sum(F.coalesce(F.size("tokens"), F.lit(0))),
    ).first()
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def payload_of(row: Any) -> tuple:
    """Comparable payload of a Spark Row or an oracle dict."""
    get = row.__getitem__
    toks = get("tokens")
    toks = None if toks is None else [int(t) for t in toks]
    n_tok = get("n_tok")
    n_tok = None if n_tok is None or (isinstance(n_tok, float) and math.isnan(n_tok)) else int(n_tok)
    return toks, n_tok, get("source")


# ---------------------------------------------------- DuckDB oracle parity
def _norm_cell(v):
    """Type-tagged normalization: int vs float vs Decimal are distinct, so
    an oracle value of the wrong type cannot silently compare equal."""
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, float):
        return ("float", "nan" if math.isnan(v) else round(v, 9))
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, str):
        return ("str", v)
    return (type(v).__name__, str(v))


def _rowset(rows, cols):
    out = []
    for r in rows:
        d = dict(zip(cols, r))
        out.append(tuple(_norm_cell(d[c]) for c in sorted(cols)))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def oracle_mismatch(spark_cols, spark_rows, duck_table) -> str | None:
    """None when a Spark result equals its DuckDB oracle (fetched as an
    Arrow table), else a one-line reason."""
    duck_cols = duck_table.column_names
    duck_rows = [tuple(d[c] for c in duck_cols) for d in duck_table.to_pylist()]
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {sorted(spark_cols)} vs {sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"row count {len(spark_rows)} vs {len(duck_rows)}"
    got, exp = _rowset(spark_rows, spark_cols), _rowset(duck_rows, duck_cols)
    bad = [i for i, (g, e) in enumerate(zip(got, exp)) if g != e]
    if bad:
        return f"{len(bad)} rows differ; first {got[bad[0]]} vs {exp[bad[0]]}"
    return None
