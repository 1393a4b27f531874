"""Driver-identical mirror of the correctness gate.

Round-4 lesson: the old harness canonicalized through ``fetchall()``
(dtype-erased Python ints) and normalized lists, which silently masked a
whole class of driver failures — DuckDB ``sum(int)`` returns HUGEINT,
which pandas renders as **float64** (``150.0``) while Spark emits int64
(``150``): identical values, different driver hash. Array-typed output
columns crash the driver's pandas ``sort_values`` outright
(``unhashable type: 'list'``).

This version reproduces the driver's observable behavior: both sides go
through **pandas** (``toPandas()`` / ``.df()``), columns sorted by name,
rows sorted by all columns via ``sort_values`` (so list-typed columns
crash here exactly as they crash the driver), and values compared
dtype-sensitively cell-by-cell with **no rounding and no list
normalization**. A query is green here iff it would hash-match in
CORRECTNESS_r{N}.json.

Usage: python tools/oracle_check.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def driver_canon(pdf):
    """Sort columns by name, rows by all columns — the driver's shape.

    Raises (like the driver) if any column holds unhashable values.
    pandas' multi-column ``sort_values`` raises on list cells by itself
    (hash-based lexsort), but a SINGLE-column frame sorts via comparison
    argsort without raising — so unhashable cells are rejected
    explicitly, keeping the local gate strictly at-least-as-strict as
    the driver for any column count. Returns (sorted_columns,
    list-of-tuples of cells) where each cell is the raw pandas/numpy
    scalar — dtype-preserving, unrounded.
    """
    import numpy as np
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    for c in cols:
        if pdf[c].dtype == object:
            for v in pdf[c]:
                if isinstance(v, (list, dict, set, np.ndarray)):
                    raise TypeError(
                        f"unhashable type: {type(v).__name__!r} in "
                        f"column {c!r} — entries must present "
                        "array/map outputs as strings on both sides")
    if len(pdf):
        pdf = pdf.sort_values(by=cols, kind="mergesort")
    return cols, [tuple(row) for row in pdf.itertuples(index=False,
                                                       name=None)]


def _cell_key(x):
    """Dtype-sensitive canonical form: int64 150 != float64 150.0."""
    import math
    if x is None:
        return "NULL"
    if isinstance(x, float) and math.isnan(x):
        return "float:NaN"
    try:
        import numpy as np
        if isinstance(x, np.floating):
            return "float:NaN" if math.isnan(float(x)) else f"float:{float(x)!r}"
        if isinstance(x, np.integer):
            return f"int:{int(x)!r}"
        if isinstance(x, np.bool_):
            return f"bool:{bool(x)!r}"
    except ImportError:  # pragma: no cover
        pass
    import pandas as pd
    if x is pd.NaT:
        return "NaT"
    if isinstance(x, pd.Timestamp):
        return f"ts:{x.isoformat()}"
    if isinstance(x, bool):
        return f"bool:{x!r}"
    if isinstance(x, int):
        return f"int:{x!r}"
    if isinstance(x, float):
        return f"float:{x!r}"
    return f"{type(x).__name__}:{x!r}"


def compare_frames(spdf, opdf):
    """Driver-shaped comparison of two pandas frames.

    Returns (rows_match, schema_match, hash_match, detail).
    Raises if canonicalization itself fails (as the driver's does on
    unhashable cells) — callers report that as err.
    """
    sc, sr = driver_canon(spdf)
    oc, orr = driver_canon(opdf)
    rows_ok = len(sr) == len(orr)
    cols_ok = sc == oc
    if not cols_ok:
        return rows_ok, False, False, f"cols spark={sc} oracle={oc}"
    if not rows_ok:
        return False, True, False, f"rows spark={len(sr)} oracle={len(orr)}"
    skeys = sorted(tuple(_cell_key(c) for c in row) for row in sr)
    okeys = sorted(tuple(_cell_key(c) for c in row) for row in orr)
    if skeys == okeys:
        return True, True, True, ""
    diff_i = next(i for i, (a, b) in enumerate(zip(skeys, okeys)) if a != b)
    return True, True, False, (f"first-diff@{diff_i}: spark={skeys[diff_i]}"
                               f" oracle={okeys[diff_i]}")


def duck_con(sf_dir):
    """A DuckDB connection with every table of ``sf_dir`` registered as
    a view named after it, as the driver registers them."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def run_gate(spark, con, entry_mod, sf_dir, names=None):
    """Run the driver gate over the given query names. Yields
    (name, status, detail) where status in PASS/FAIL/NO_ORACLE/ERR."""
    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    for name in names if names is not None else list(qs):
        if name not in qs:
            yield name, "ERR", "unknown query"
            continue
        try:
            sdf = qs[name](spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as exc:  # noqa: BLE001
            yield name, "ERR", f"spark: {type(exc).__name__}: {str(exc)[:200]}"
            continue
        if name not in osql:
            yield name, "NO_ORACLE", f"rows={len(spdf)}"
            continue
        try:
            opdf = con.execute(osql[name]).df()
        except Exception as exc:  # noqa: BLE001
            yield name, "ERR", f"oracle: {type(exc).__name__}: {str(exc)[:200]}"
            continue
        try:
            r, s, h, detail = compare_frames(spdf, opdf)
        except Exception as exc:  # noqa: BLE001
            yield name, "ERR", (f"canon: {type(exc).__name__}:"
                                f" {str(exc)[:200]}")
            continue
        yield name, ("PASS" if (r and s and h) else "FAIL"), detail


def main() -> None:
    from pyspark.sql import SparkSession

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or None

    spark = (SparkSession.builder.master("local[8]")
             .appName("oracle-check")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duck_con(sf_dir)
    import __spark_entry__ as entry
    bad = []
    for name, status, detail in run_gate(spark, con, entry, sf_dir, only):
        print(f"{name}: {status} {detail}".rstrip(), flush=True)
        if status in ("FAIL", "ERR"):
            bad.append(name)
    spark.stop()
    if bad:
        print(f"FAILED ({len(bad)}): {bad}")
        sys.exit(1)
    print("all green")


if __name__ == "__main__":
    main()
