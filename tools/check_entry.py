"""Local mimic of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 on Spark AND its
``oracle_sql()`` twin on DuckDB, fetched as pandas frames as the gate
does (``toPandas()``, ``.df()``), then compares row count, column names,
per-column dtype kind, and an order-insensitive value hash (columns
sorted by name, rows sorted by their string form — same contract
TESTDATA.md describes). List and struct columns fail, as in the gate.

Usage: python tools/check_entry.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as E
from pg_iui_ner_api_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        "|".join(_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def _nested(v) -> bool:
    return isinstance(v, (list, tuple, dict, np.ndarray))


def frame_problems(sp: pd.DataFrame, od: pd.DataFrame) -> list[str]:
    """What the gate's compare of Spark frame ``sp`` against DuckDB
    frame ``od`` trips on: nested cells, and dtype kinds that differ
    (a HUGEINT ``SUM()`` reaches pandas as float64, Spark's as int64)."""
    problems = []
    for side, pdf in (("spark", sp), ("duckdb", od)):
        nested = [c for c in pdf.columns if pdf[c].map(_nested).any()]
        if nested:
            problems.append(f"{side} list/struct columns {nested}")
    for c in sorted(set(sp.columns) & set(od.columns)):
        if sp[c].dtype.kind != od[c].dtype.kind:
            problems.append(f"dtype {c}: {sp[c].dtype} vs {od[c].dtype}")
    return problems


def _rows(pdf: pd.DataFrame) -> list[tuple]:
    return list(pdf.itertuples(index=False, name=None))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="check_entry", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    # bounded: an oversized oracle spills (at most 8 GB of disk) or
    # fails its own key, never the whole sweep (the graph_ktruss twin
    # took 12.7 GiB of memory at sf0.01 without a limit)
    spill = tempfile.TemporaryDirectory(prefix="check_entry_duckdb_")
    con = duckdb.connect(config={"memory_limit": "4GB",
                                 "temp_directory": spill.name,
                                 "max_temp_directory_size": "8GB"})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sp = fn(spark, sf_dir).toPandas()
            cols = list(sp.columns)
            rows = _rows(sp)
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        dt = time.monotonic() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(rows)} rows, {dt:.1f}s)")
            continue
        try:
            od = con.execute(oracles[name]).df()
            ocols = list(od.columns)
            orows = _rows(od)
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures += 1
            continue
        problems = frame_problems(sp, od)
        if len(rows) != len(orows):
            problems.append(f"rowcount {len(rows)} vs {len(orows)}")
        if sorted(cols) != sorted(ocols):
            problems.append(f"cols {sorted(cols)} vs {sorted(ocols)}")
        if not problems:
            hs, ho = value_hash(cols, rows), value_hash(ocols, orows)
            if hs != ho:
                problems.append(f"value hash {hs} vs {ho}")
                # show first diff
                os_ = sorted("|".join(_cell(r[i]) for i in sorted(range(len(cols)), key=lambda i: cols[i])) for r in rows)
                oo = sorted("|".join(_cell(r[i]) for i in sorted(range(len(ocols)), key=lambda i: ocols[i])) for r in orows)
                for a, b in zip(os_, oo):
                    if a != b:
                        problems.append(f"  first diff:\n    spark:  {a}\n    duckdb: {b}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems[:3]))
            failures += 1
        else:
            print(f"ok   {name}: {len(rows)} rows match ({dt:.1f}s)")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    con.close()
    spill.cleanup()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
