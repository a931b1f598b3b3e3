"""Output checks, run outside every timed window.

The checksum is order-independent and safe under ANSI mode: each row's
``xxhash64`` over all columns is widened to ``decimal(20,0)`` before the
sum, so the sum cannot overflow (a plain ``sum(xxhash64(...))`` raises
``ARITHMETIC_OVERFLOW`` with ANSI on). A row count rides along, so a
dropped or duplicated row changes the result even if hashes cancel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MIN_PR = 0.95  # triple precision/recall floor


def checksum(df: DataFrame) -> str:
    cols = sorted(df.columns)
    h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(20,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")).collect()[0]
    return f"{r['n']}:{r['s']}"


def output_checksums(edges: DataFrame, nodes: DataFrame) -> dict[str, str]:
    return {"kg_edges": checksum(edges), "kg_nodes": checksum(nodes)}


def triple_pr(edges: DataFrame, truth: set[tuple[str, str, str, str]]
              ) -> tuple[float, float]:
    """Precision and recall of the (doc_id, subj, pred, obj) edge set."""
    got = {tuple(r) for r in
           edges.select("doc_id", "subj", "pred", "obj").distinct().collect()}
    tp = len(got & truth)
    return tp / max(len(got), 1), tp / max(len(truth), 1)
