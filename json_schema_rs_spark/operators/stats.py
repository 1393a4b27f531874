"""Per-column stats profiling and distribution-drift checks.

North-star requirements (BASELINE.json): per-column stats (null-rate,
distinct via HyperLogLog, min/max, quantiles via approx_percentile /
t-digest) feeding constraint predicates, and two-sample drift (KS on
numeric columns, chi-square on categorical) computed from distributed
sketches with the statistic assembled at the end.

All heavy lifting stays distributed: profile = ONE aggregate pass over the
table (map-side partial aggregation, one shuffle of tiny partial states);
chi-square = two category-count aggregations + a categories-sized join;
KS = per-partition t-digests (narrow) merged on the driver, or an exact
ECDF path for oracle-checkable small scale.
"""

from __future__ import annotations

import math
from typing import Iterator, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.exprs import arrow_local_df

from ..functions.tdigest import TDigest, ks_from_digests, w1_from_digests

NUMERIC_DTYPES = ("tinyint", "smallint", "int", "bigint", "float",
                  "double")


def is_numeric_dtype(dt: str) -> bool:
    """Shared profile/spec gate: dtypes whose min/max/mean translate to
    numeric stats and row-level bound predicates (incl. decimal(p,s)).
    Single source of truth for :func:`profile` and
    :func:`..plans.infer.spec_from_profile` — keep them agreeing."""
    return dt in NUMERIC_DTYPES or dt.startswith("decimal")


def _totals_window():
    """Unpartitioned full-frame window used to ride grand totals
    alongside per-row values on TINY aggregated frames (nbins /
    categories rows) — one single-partition exchange of a handful of
    rows, never corpus data. Built lazily: column expressions need an
    active SparkContext, which import time may not have."""
    return Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)


def profile(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    *,
    exact_distinct: bool = False,
    quantiles: Sequence[float] = (0.5, 0.95),
) -> DataFrame:
    """One aggregate pass producing one row per column:
    ``(column, count, null_count, null_rate, distinct_count, min, max,
    mean, q50, q95)``. ``distinct_count`` uses HyperLogLog
    (``approx_count_distinct``) by default — exact only for oracle tests.
    Non-numeric columns get null mean/quantiles; min/max as strings."""
    columns = list(columns or df.columns)
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("_rows")]
    numeric = {c for c in columns if is_numeric_dtype(dtypes[c])}
    for c in columns:
        aggs.append(F.count(c).alias(f"{c}__nonnull"))
        if not exact_distinct:
            aggs.append(F.approx_count_distinct(c).alias(f"{c}__distinct"))
        aggs.append(F.min(c).cast("string").alias(f"{c}__min"))
        aggs.append(F.max(c).cast("string").alias(f"{c}__max"))
        if c in numeric:
            aggs.append(F.avg(F.col(c).cast("double")).alias(f"{c}__mean"))
            if quantiles:
                # ONE sketch per column queried at every requested prob
                # (the per-prob form builds an identical sketch per prob —
                # measured ~40% slower at 2 probs, worse at more)
                aggs.append(F.percentile_approx(
                    F.col(c).cast("double"),
                    F.array(*[F.lit(float(q)) for q in quantiles]))
                    .alias(f"{c}__qs"))
    # materialize the single wide aggregate row on the driver (O(1) data)
    # and unpivot in Python. This is both the materialization barrier (the
    # stacked projection would otherwise re-evaluate the whole aggregate
    # tree once per emitted struct) and leak-free — the earlier persist()
    # approach pinned a cache entry the caller could never release.
    wide = df.agg(*aggs).collect()[0].asDict()
    if exact_distinct:
        # all exact distincts in ONE second aggregation. Spark plans
        # multi-count_distinct via Expand (input duplicated once per
        # distinct column), which is why these are kept OUT of the wide
        # agg above — Expand would also multiply every percentile
        # sketch's input. Two scans total, independent of column count
        # (the previous per-column crossJoin shape was O(columns) scans).
        wide.update(df.agg(*[
            F.count_distinct(F.col(c)).alias(f"{c}__distinct")
            for c in columns]).collect()[0].asDict())
    rows_total = wide["_rows"]
    out_rows = []
    for c in columns:
        nonnull = wide[f"{c}__nonnull"]
        null_rate = (1.0 - nonnull / rows_total) if rows_total else None
        rec = {
            "column": c,
            "count": rows_total,
            "null_count": rows_total - nonnull,
            "null_rate": null_rate,
            "distinct_count": wide[f"{c}__distinct"],
            "min": wide[f"{c}__min"],
            "max": wide[f"{c}__max"],
            "mean": wide.get(f"{c}__mean") if c in numeric else None,
        }
        qvals = wide.get(f"{c}__qs") if c in numeric else None
        for i, q in enumerate(quantiles):
            rec[f"q{int(q * 100)}"] = qvals[i] if qvals is not None else None
        out_rows.append(rec)
    schema = T.StructType(
        [T.StructField("column", T.StringType()),
         T.StructField("count", T.LongType()),
         T.StructField("null_count", T.LongType()),
         T.StructField("null_rate", T.DoubleType()),
         T.StructField("distinct_count", T.LongType()),
         T.StructField("min", T.StringType()),
         T.StructField("max", T.StringType()),
         T.StructField("mean", T.DoubleType())]
        + [T.StructField(f"q{int(q * 100)}", T.DoubleType()) for q in quantiles])
    return arrow_local_df(df.sparkSession, out_rows, schema)


def category_counts(df: DataFrame, column: str) -> DataFrame:
    return df.groupBy(F.col(column).alias("category")) \
             .agg(F.count(F.lit(1)).alias("n"))


def chi2_two_sample(df_a: DataFrame, df_b: DataFrame, column: str) -> DataFrame:
    """Pearson chi-square statistic comparing the category distributions of
    ``column`` in two samples; returns one row
    ``(chi2 double, dof bigint, n_a bigint, n_b bigint)``.

    Fully distributed: two count aggregations, a categories-sized outer
    join, one final sum. Expected counts under the pooled distribution:
    ``E_si = n_s * (a_i + b_i) / (n_a + n_b)``.
    """
    ca = category_counts(df_a, column).withColumnRenamed("n", "na")
    cb = category_counts(df_b, column).withColumnRenamed("n", "nb")
    joined = ca.join(cb, "category", "full_outer").select(
        "category",
        F.coalesce("na", F.lit(0)).alias("na"),
        F.coalesce("nb", F.lit(0)).alias("nb"),
    )
    # totals ride the categories-sized join via a tiny single-partition
    # window (same one-pass shape as psi/js_divergence) — the previous
    # collect() re-executed both count aggregations, re-reading both
    # input tables
    wall = _totals_window()
    with_exp = joined.select(
        "category", "na", "nb",
        F.sum("na").over(wall).alias("ta"),
        F.sum("nb").over(wall).alias("tb"),
    ).select(
        "category", "na", "nb", "ta", "tb",
        # expected counts in DOUBLE: ta/tb are bigint row totals, and
        # ta * (na + nb) overflows int64 once both snapshots pass ~3e9
        # rows (the when(ea > 0) guard below would then silently drop
        # the wrapped-negative term) — cast before the product
        (F.col("ta").cast("double") * (F.col("na") + F.col("nb"))
         / (F.col("ta") + F.col("tb"))).alias("ea"),
        (F.col("tb").cast("double") * (F.col("na") + F.col("nb"))
         / (F.col("ta") + F.col("tb"))).alias("eb"),
    )
    return with_exp.agg(
        F.sum(
            F.when(F.col("ea") > 0, F.pow(F.col("na") - F.col("ea"), 2) / F.col("ea"))
            .otherwise(F.lit(0.0))
            + F.when(F.col("eb") > 0, F.pow(F.col("nb") - F.col("eb"), 2) / F.col("eb"))
            .otherwise(F.lit(0.0))
        ).alias("chi2"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("dof"),
        F.coalesce(F.max("ta"), F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(F.max("tb"), F.lit(0)).cast("bigint").alias("n_b"),
    )


def _joint_value_counts(df_a: DataFrame, df_b: DataFrame,
                        column: str) -> DataFrame:
    """``(v, ca, cb)`` per pooled distinct value — the shared frame under
    the exact ECDF statistics (:func:`ks_exact`, :func:`cvm_two_sample`):
    two per-value count aggregates (map-side combined) full-outer-joined
    on the value."""
    a = df_a.select(F.col(column).cast("double").alias("v")).dropna()
    b = df_b.select(F.col(column).cast("double").alias("v")).dropna()
    ga = a.groupBy("v").agg(F.count(F.lit(1)).alias("ca"))
    gb = b.groupBy("v").agg(F.count(F.lit(1)).alias("cb"))
    return ga.join(gb, "v", "full_outer").select(
        "v",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )


def ks_exact(df_a: DataFrame, df_b: DataFrame, column: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic via joint ECDFs.

    Oracle-checkable small-scale path (SQL-expressible); the final window
    runs unpartitioned over *distinct values only*, so it is safe up to
    ~millions of distinct values. For 100 TB use :func:`ks_sketch`.
    Returns one row ``(ks double)``.
    """
    merged = _joint_value_counts(df_a, df_b, column)
    from pyspark.sql import Window
    # sample sizes are the grand totals of the per-value counts, so they
    # ride the (already single-partition) distinct-value frame — the
    # standalone count() pair cost one extra full scan per input
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = _totals_window()
    ecdf = merged.select(
        (F.sum("ca").over(w) / F.sum("ca").over(wall).cast("double"))
        .alias("fa"),
        (F.sum("cb").over(w) / F.sum("cb").over(wall).cast("double"))
        .alias("fb"),
    )
    return ecdf.agg(F.max(F.abs(F.col("fa") - F.col("fb"))).alias("ks"))


def cvm_two_sample(df_a: DataFrame, df_b: DataFrame,
                   column: str) -> DataFrame:
    """Exact two-sample Cramér-von Mises criterion — the L² companion of
    :func:`ks_exact`'s L∞ over the SAME one-pass joint-ECDF frame (KS
    reacts to the worst single gap; CvM integrates every gap, catching
    broad small shifts KS under-weights). Grouped-ties ECDF-integral
    form, right-continuous ECDFs evaluated at the pooled points:

        T = n·m/(n+m)² · Σ_v (ca+cb) · (Fa(v) − Fb(v))²

    summed over pooled *distinct* values. Returns one row
    ``(cvm double, n_a bigint, n_b bigint)``. Same scale contract as
    :func:`ks_exact`: the window runs unpartitioned over distinct values
    only — fine to ~millions of distincts; sketch at 100 TB.
    """
    merged = _joint_value_counts(df_a, df_b, column)
    from pyspark.sql import Window
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = _totals_window()
    ecdf = merged.select(
        (F.col("ca") + F.col("cb")).alias("cw"),
        F.sum("ca").over(wall).alias("ta"),
        F.sum("cb").over(wall).alias("tb"),
        (F.sum("ca").over(w) / F.sum("ca").over(wall).cast("double"))
        .alias("fa"),
        (F.sum("cb").over(w) / F.sum("cb").over(wall).cast("double"))
        .alias("fb"),
    )
    d2 = (F.col("fa") - F.col("fb")) * (F.col("fa") - F.col("fb"))
    n, m = F.max("ta").cast("double"), F.max("tb").cast("double")
    return ecdf.agg(
        (F.sum(F.col("cw") * d2) * n * m / ((n + m) * (n + m)))
        .alias("cvm"),
        F.max("ta").alias("n_a"),
        F.max("tb").alias("n_b"),
    )


_DIGEST_SCHEMA = T.StructType([
    T.StructField("means", T.ArrayType(T.DoubleType())),
    T.StructField("weights", T.ArrayType(T.DoubleType())),
    T.StructField("mn", T.DoubleType()),
    T.StructField("mx", T.DoubleType()),
])


def column_digest(df: DataFrame, column: str, *,
                  compression: float = 200.0) -> TDigest:
    """Distributed t-digest of a numeric column: one narrow
    ``mapInPandas`` pass emits one tiny digest per partition (Arrow
    batches, vectorized NumPy), merged on the driver. Sketch merge is
    associative, so this is the same digest regardless of partitioning."""
    src = df.select(F.col(column).cast("double").alias("v"))

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        d = TDigest(compression)
        seen = False
        for pdf in batches:
            vals = pdf["v"].to_numpy(dtype="float64", na_value=math.nan)
            d.add(vals)
            seen = True
        if seen and d.total_weight > 0:
            means, weights, mn, mx = d.to_arrays()
            yield pd.DataFrame({"means": [means], "weights": [weights],
                                "mn": [mn], "mx": [mx]})

    rows = src.mapInPandas(per_partition, schema=_DIGEST_SCHEMA).collect()
    return TDigest.merge_all(
        (TDigest.from_arrays(r["means"], r["weights"], r["mn"], r["mx"],
                             compression) for r in rows),
        compression,
    )


def ks_sketch(df_a: DataFrame, df_b: DataFrame, column: str, *,
              compression: float = 200.0) -> float:
    """Approximate two-sample KS from t-digest sketches — the 100 TB path:
    two narrow passes, no global sort, driver work O(compression)."""
    da = column_digest(df_a, column, compression=compression)
    db = column_digest(df_b, column, compression=compression)
    return ks_from_digests(da, db)


def w1_sketch(df_a: DataFrame, df_b: DataFrame, column: str, *,
              compression: float = 200.0) -> float:
    """Approximate Wasserstein-1 from t-digest sketches — the 100 TB path
    for :func:`wasserstein1_exact`: two narrow passes, no global sort,
    driver work O(compression)."""
    da = column_digest(df_a, column, compression=compression)
    db = column_digest(df_b, column, compression=compression)
    return w1_from_digests(da, db)


# Ledger row format version. v2 added (compression, ledger_version):
# without the persisted compression, drift_from_sketches would silently
# rebuild a compression-500 ledger row at the default 200 on any
# post-load _compress(), degrading KS/W1 accuracy below what the caller
# paid for at sketch time.
SKETCH_LEDGER_VERSION = 2

_SKETCH_LEDGER_SCHEMA = ("snapshot_id string, column string, n double, "
                         "means array<double>, weights array<double>, "
                         "mn double, mx double, compression double, "
                         "ledger_version int")


def sketch_snapshot(df: DataFrame, columns: Sequence[str], *,
                    snapshot_id: str,
                    compression: float = 200.0) -> DataFrame:
    """Persistable distribution sketch of a snapshot — one row per
    column ``(snapshot_id, column, n, means, weights, mn, mx)`` holding
    the merged t-digest, ready to append to a SKETCH-LEDGER table. The
    at-scale point: day-over-day drift monitoring should never rescan
    yesterday's 100 TB snapshot — sketch each snapshot ONCE at ingest,
    persist the (columns × compression)-sized rows, and run every later
    comparison from the ledger (:func:`drift_from_sketches`, zero corpus
    scan). The sketch-vs-exact accuracy bar is the same one
    `s_ks_sketch`/`s_w1_sketch` are gated on — column_digest is this
    exact digest.

    Scale shape: ONE narrow ``mapInPandas`` pass over the snapshot
    computes ALL columns' per-partition digests together (Arrow batches,
    vectorized NumPy adds; one tiny digest row per column per
    partition), merged per column on the driver — O(partitions ×
    columns × compression) driver bytes, no shuffle at all. NaNs/NULLs
    are excluded from the digest (``n`` counts digested values)."""
    cols = list(columns)
    src = df.select(*[F.col(c).cast("double").alias(c) for c in cols])

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        digests = {c: TDigest(compression) for c in cols}
        for pdf in batches:
            for c in cols:
                digests[c].add(pdf[c].to_numpy(dtype="float64",
                                               na_value=math.nan))
        out = {"column": [], "means": [], "weights": [], "mn": [], "mx": []}
        for c in cols:
            d = digests[c]
            if d.total_weight > 0:
                means, weights, mn, mx = d.to_arrays()
                out["column"].append(c)
                out["means"].append(means)
                out["weights"].append(weights)
                out["mn"].append(mn)
                out["mx"].append(mx)
        if out["column"]:
            yield pd.DataFrame(out)

    part_schema = T.StructType(
        [T.StructField("column", T.StringType())]
        + list(_DIGEST_SCHEMA.fields))
    rows = src.mapInPandas(per_partition, schema=part_schema).collect()
    merged: dict = {}
    for r in rows:
        d = TDigest.from_arrays(r["means"], r["weights"], r["mn"], r["mx"],
                                compression)
        merged[r["column"]] = d if r["column"] not in merged \
            else merged[r["column"]].merge(d)
    out_rows = []
    for c in cols:
        if c not in merged:
            continue
        d = merged[c]
        means, weights, mn, mx = d.to_arrays()
        out_rows.append((snapshot_id, c, float(d.total_weight),
                         means, weights, mn, mx, float(compression),
                         SKETCH_LEDGER_VERSION))
    return arrow_local_df(df.sparkSession, out_rows, _SKETCH_LEDGER_SCHEMA)


def _load_ledger(sk: DataFrame, side: str, max_rows: int) -> dict:
    """Capped collect of a ledger slice indexed by column. Fail-fast on
    (a) corpus-sized inputs and (b) multiple rows per column — a
    multi-snapshot slice silently reduced to one arbitrary row would
    yield wrong counts/extremes; compact it with
    :func:`merge_sketch_snapshots` first."""
    rows = sk.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"sketch frame {side} exceeds max_rows={max_rows}; "
            "pass ledger sketch rows, not a corpus")
    out: dict = {}
    for r in rows:
        if r["column"] in out:
            raise ValueError(
                f"sketch frame {side} holds multiple rows for column "
                f"{r['column']!r} (snapshots "
                f"{out[r['column']]['snapshot_id']!r} and "
                f"{r['snapshot_id']!r}); compact multi-snapshot slices "
                "with merge_sketch_snapshots first")
        out[r["column"]] = r
    return out


def _ledger_compression(d: dict) -> float:
    """A ledger row's persisted compression; v1 rows (no compression)
    get the historical default 200, so old ledgers stay readable."""
    comp = d.get("compression")
    if comp is None:
        return 200.0
    if not comp > 0:
        raise ValueError(f"sketch ledger row for column {d.get('column')!r} "
                         f"has non-positive compression {comp}")
    return comp


def _digest_from_ledger_row(r) -> "TDigest":
    """Rebuild a t-digest from a ledger row AT ITS PERSISTED compression
    (see :func:`_ledger_compression`)."""
    d = r.asDict() if hasattr(r, "asDict") else dict(r)
    return TDigest.from_arrays(d["means"], d["weights"], d["mn"], d["mx"],
                               _ledger_compression(d))


def drift_from_sketches(sk_a: DataFrame, sk_b: DataFrame, *,
                        round_digits: int = 6,
                        max_rows: int = 10_000) -> DataFrame:
    """Distribution drift computed ENTIRELY from two persisted sketch
    frames (:func:`sketch_snapshot` rows, typically read back from the
    sketch-ledger table): per column shared by both sides,
    ``(column, ks, w1, n_a, n_b)`` — KS and Wasserstein-1 from the
    t-digests, **zero corpus scan on either side**. This is the ledger
    join that makes the §3.5 drift family O(compression) per comparison
    at 10^12 turns: the snapshots were each scanned once, at their own
    ingest time, possibly days apart.

    Sketch frames are ledger-row-sized by construction; reads are capped
    at ``max_rows`` with a fail-fast (a million-row input here means the
    caller passed a corpus, not a ledger slice), and a side holding
    multiple rows per column is refused (compact with
    :func:`merge_sketch_snapshots` first)."""
    a = _load_ledger(sk_a, "a", max_rows)
    b = _load_ledger(sk_b, "b", max_rows)
    spark = sk_a.sparkSession
    out = []
    for c in sorted(set(a) & set(b)):
        ra, rb = a[c], b[c]
        da = _digest_from_ledger_row(ra)
        db = _digest_from_ledger_row(rb)
        if da.compression != db.compression:
            raise ValueError(
                f"column {c!r}: sketch compressions differ "
                f"({da.compression} vs {db.compression}) — a KS/W1 "
                "between digests of different resolution is not the "
                "accuracy the caller paid for; re-sketch one side or "
                "merge ledgers of matching compression")
        out.append((c, round(ks_from_digests(da, db), round_digits),
                    round(w1_from_digests(da, db), round_digits),
                    float(ra["n"]), float(rb["n"])))
    return arrow_local_df(
        spark, out,
        "column string, ks double, w1 double, n_a double, n_b double")


def merge_sketch_snapshots(sk: DataFrame, *, snapshot_id: str,
                           max_rows: int = 10_000) -> DataFrame:
    """Compact several ledger snapshots into one — merge each column's
    t-digests across all snapshot rows WITHOUT rescanning any corpus
    (digest merge is associative; Dunning & Ertl §3). The multi-day
    shape at 10^12 turns: daily ingest appends one sketch row per
    column, and a weekly/monthly rollup is this pure ledger-to-ledger
    merge. Rows must agree on compression per column (mixed-resolution
    merges silently downgrade accuracy — refused, like
    :func:`drift_from_sketches`)."""
    rows = sk.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"sketch frame exceeds max_rows={max_rows}; pass ledger "
            "sketch rows, not a corpus")
    by_col: dict = {}
    for r in rows:
        by_col.setdefault(r["column"], []).append(r)
    out_rows = []
    for c in sorted(by_col):
        comps = {_ledger_compression(r.asDict()) for r in by_col[c]}
        if len(comps) > 1:
            raise ValueError(
                f"column {c!r}: mixed sketch compressions {sorted(comps)} "
                "in merge input — re-sketch to a common compression first")
        comp = comps.pop()
        merged = TDigest.merge_all(
            [_digest_from_ledger_row(r) for r in by_col[c]],
            compression=comp)
        means, weights, mn, mx = merged.to_arrays()
        out_rows.append((snapshot_id, c, float(merged.total_weight),
                         means, weights, mn, mx, float(comp),
                         SKETCH_LEDGER_VERSION))
    return arrow_local_df(sk.sparkSession, out_rows, _SKETCH_LEDGER_SCHEMA)


def sketch_ledger_summary(sk_a: DataFrame, sk_b: DataFrame, *,
                          max_rows: int = 10_000) -> DataFrame:
    """Deterministic projection of a two-snapshot ledger comparison:
    per shared column ``(column, n_a, n_b, min_a, max_a, min_b, max_b)``
    — every field is EXACT (value counts and true min/max ride alongside
    the approximate centroids in each ledger row), so unlike the KS/W1
    digests this frame has a full value oracle: an engine with the raw
    snapshots reproduces it from plain COUNT/MIN/MAX. This is the
    driver-checkable face of the sketch arc; the approximate drift
    statistics stay accuracy-gated in tests. Sides holding multiple
    rows per column are refused — a multi-snapshot slice silently
    reduced to one arbitrary row would report one day's counts as the
    whole side's; compact with :func:`merge_sketch_snapshots` first."""
    a = _load_ledger(sk_a, "a", max_rows)
    b = _load_ledger(sk_b, "b", max_rows)
    out = [(c, int(a[c]["n"]), int(b[c]["n"]),
            a[c]["mn"], a[c]["mx"], b[c]["mn"], b[c]["mx"])
           for c in sorted(set(a) & set(b))]
    return arrow_local_df(
        sk_a.sparkSession, out,
        "column string, n_a bigint, n_b bigint, min_a double, "
        "max_a double, min_b double, max_b double")


def psi(
    df_a: DataFrame,
    df_b: DataFrame,
    column: str,
    *,
    lo: float,
    hi: float,
    nbins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two samples of a numeric column
    over ``nbins`` equal-width bins on the CALLER-FIXED range [lo, hi)
    (fixed edges keep the statistic deterministic and the two scans
    independent — no pre-pass to discover min/max). Values outside the
    range clamp into the edge bins; NULLs are dropped. Zero-count bins use
    the standard ``eps`` proportion substitute so the log stays finite.

    PSI = sum_i (p_a(i) - p_b(i)) * ln(p_a(i) / p_b(i)); common
    read: <0.1 stable, 0.1-0.25 moderate shift, >0.25 major shift.

    Scale shape: one hash aggregate per sample keyed on the bin id
    (map-side partial agg; at most ``nbins`` groups survive the shuffle),
    one nbins-sized join, one final sum. Returns one row
    ``(psi double, nbins int, n_a bigint, n_b bigint)``.
    """
    step = (float(hi) - float(lo)) / nbins

    def binned(df: DataFrame, alias: str) -> DataFrame:
        v = F.col(column).cast("double")
        raw = F.floor((v - F.lit(float(lo))) / F.lit(step)).cast("int")
        b = F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1))
        return (df.filter(v.isNotNull())
                  .groupBy(b.alias("bin"))
                  .agg(F.count(F.lit(1)).alias(alias)))

    ca, cb = binned(df_a, "na"), binned(df_b, "nb")
    joined = ca.join(cb, "bin", "full_outer").select(
        "bin",
        F.coalesce("na", F.lit(0)).alias("na"),
        F.coalesce("nb", F.lit(0)).alias("nb"),
    )
    # totals ride in the SAME pass as the statistic: a window-sum over
    # the nbins-sized joined result (one tiny single-partition exchange)
    # instead of a collect() that re-executed both groupBys and re-read
    # both tables — the one-scan-per-sample claim, kept honest
    wall = _totals_window()
    scored = joined.select(
        "na", "nb",
        F.sum("na").over(wall).alias("ta"),
        F.sum("nb").over(wall).alias("tb"))
    pa = F.greatest(F.col("na") / F.col("ta").cast("double"), F.lit(eps))
    pb = F.greatest(F.col("nb") / F.col("tb").cast("double"), F.lit(eps))
    return scored.agg(
        F.sum((pa - pb) * F.log(pa / pb)).alias("psi"),
        F.lit(nbins).cast("int").alias("nbins"),
        F.coalesce(F.max("ta"), F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(F.max("tb"), F.lit(0)).cast("bigint").alias("n_b"),
    )


def histogram(
    df: DataFrame,
    column: str,
    *,
    lo: float,
    hi: float,
    nbins: int = 32,
    clamp: bool = True,
) -> DataFrame:
    """Equal-width histogram of a numeric column as a first-class query
    — ``(bin, lo_edge, hi_edge, n, frac)`` with every bin present (empty
    ones included, count 0) ordered by bin. The same CALLER-FIXED
    ``[lo, hi)`` edge rule as :func:`psi` (fixed edges keep the result
    deterministic with no discovery pre-pass; the drift operators
    consume the same binning, so a dashboard histogram and the PSI that
    alerts on it can never disagree about shape). ``clamp=True`` folds
    out-of-range values into the edge bins (the psi rule);
    ``clamp=False`` drops them. NULLs and NaNs are dropped either way
    (a NaN compares false everywhere, so without the explicit filter it
    would silently clamp into bin 0), and ``hi > lo`` is required — a
    zero-width range has no bins to put anything in.

    Scale shape: ONE hash aggregate keyed on bin id (map-side combine;
    ≤ ``nbins`` groups survive the shuffle), densified against a
    ``range(nbins)`` frame (bins-sized), totals via the same tiny
    single-partition window as psi — the corpus is scanned exactly
    once. Edges are computed from exact ``lo + i*step`` arithmetic both
    engines reproduce."""
    if nbins <= 0:
        raise ValueError(f"nbins must be positive, got {nbins}")
    if not (float(hi) > float(lo)):
        raise ValueError(f"hi must be > lo, got lo={lo!r} hi={hi!r}")
    step = (float(hi) - float(lo)) / nbins
    v = F.col(column).cast("double")
    raw = F.floor((v - F.lit(float(lo))) / F.lit(step)).cast("int")
    finite = v.isNotNull() & ~F.isnan(v)
    if clamp:
        b = F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1))
        src = df.filter(finite)
    else:
        b = raw
        src = df.filter(finite & (v >= lo) & (v < hi))
    counts = src.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"))
    grid = df.sparkSession.range(nbins).select(
        F.col("id").cast("int").alias("bin"))
    dense = grid.join(counts, "bin", "left").select(
        "bin", F.coalesce("n", F.lit(0)).alias("n"))
    wall = _totals_window()
    return (dense
            .withColumn("lo_edge", F.lit(float(lo))
                        + F.col("bin") * F.lit(step))
            .withColumn("hi_edge", F.lit(float(lo))
                        + (F.col("bin") + 1) * F.lit(step))
            .withColumn("frac", F.round(
                F.col("n") / F.nullif(F.sum("n").over(wall)
                                      .cast("double"), F.lit(0.0)), 6))
            .select("bin", "lo_edge", "hi_edge", "n", "frac")
            .orderBy("bin"))


def js_divergence(df_a: DataFrame, df_b: DataFrame, column: str) -> DataFrame:
    """Jensen-Shannon divergence (natural log; bounded by ln 2) between
    the category distributions of ``column`` in two samples — the
    symmetric, always-finite cousin of KL for categorical drift.

    JS = 0.5*KL(p||m) + 0.5*KL(q||m) with m = (p+q)/2; categories absent
    from one side contribute 0 to that side's KL term (0*ln0 = 0), so no
    epsilon is needed.

    Scale shape: same as chi-square — two category-count aggregations
    (map-side partials), a categories-sized outer join, one final sum.
    Returns one row ``(js double, n_a bigint, n_b bigint)``.
    """
    ca = category_counts(df_a, column).withColumnRenamed("n", "na")
    cb = category_counts(df_b, column).withColumnRenamed("n", "nb")
    joined = ca.join(cb, "category", "full_outer").select(
        F.coalesce("na", F.lit(0)).alias("na"),
        F.coalesce("nb", F.lit(0)).alias("nb"),
    )
    # same one-pass totals shape as psi(): window-sum over the
    # categories-sized join instead of a second full scan per sample
    wall = _totals_window()
    scored = joined.select(
        "na", "nb",
        F.sum("na").over(wall).alias("ta"),
        F.sum("nb").over(wall).alias("tb"))
    p = F.col("na") / F.col("ta").cast("double")
    q = F.col("nb") / F.col("tb").cast("double")
    m = (p + q) / F.lit(2.0)
    kl_p = F.when(F.col("na") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
    kl_q = F.when(F.col("nb") > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    return scored.agg(
        (F.sum(kl_p) / F.lit(2.0) + F.sum(kl_q) / F.lit(2.0)).alias("js"),
        F.coalesce(F.max("ta"), F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(F.max("tb"), F.lit(0)).cast("bigint").alias("n_b"),
    )


def wasserstein1_exact(df_a: DataFrame, df_b: DataFrame,
                       column: str) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance between two
    samples: W1 = integral |F_a(x) - F_b(x)| dx, evaluated on the merged
    distinct-value grid via joint ECDFs.

    Oracle-checkable exact path with the same envelope as
    :func:`ks_exact`: the final window runs unpartitioned over *distinct
    values only* — safe to ~millions of distincts. The 100 TB path is the
    same t-digest sketch pair :func:`ks_sketch` uses (integrate
    |quantile_a - quantile_b| over the merged centroid grid); exact keeps
    the DuckDB-verifiable contract. Returns one row ``(w1 double)``.
    """
    a = df_a.select(F.col(column).cast("double").alias("v")).dropna()
    b = df_b.select(F.col(column).cast("double").alias("v")).dropna()
    ga = a.groupBy("v").agg(F.count(F.lit(1)).alias("ca"))
    gb = b.groupBy("v").agg(F.count(F.lit(1)).alias("cb"))
    merged = ga.join(gb, "v", "full_outer").select(
        "v",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    from pyspark.sql import Window
    # sample sizes ride the distinct-value frame (see ks_exact)
    w_cdf = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("v")
    wall = _totals_window()
    stepped = merged.select(
        "v",
        (F.sum("ca").over(w_cdf) / F.sum("ca").over(wall).cast("double"))
        .alias("fa"),
        (F.sum("cb").over(w_cdf) / F.sum("cb").over(wall).cast("double"))
        .alias("fb"),
        F.lead("v").over(w_next).alias("_next"),
    )
    seg = F.when(F.col("_next").isNotNull(),
                 F.abs(F.col("fa") - F.col("fb"))
                 * (F.col("_next") - F.col("v"))).otherwise(F.lit(0.0))
    return stepped.agg(F.sum(seg).alias("w1"))


def profile_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    *,
    columns_a: Optional[Sequence[str]] = None,
    columns_b: Optional[Sequence[str]] = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """Schema + profile drift between two table snapshots — the
    structural companion to the value-drift family (chi²/KS/PSI/JS/W1
    compare one column's DISTRIBUTION; this compares the TABLES):
    per column ``(column, dtype_a, dtype_b, schema_change, count_a,
    count_b, null_rate_a, null_rate_b, null_rate_delta, distinct_a,
    distinct_b, mean_a, mean_b, mean_delta)``, one row per column present
    on either side, sorted by name. ``schema_change`` is ``added`` /
    ``removed`` / ``type_changed`` / NULL; deltas are NULL when either
    side lacks the column (or the mean, for non-numerics).

    The per-side stats are :func:`profile` (quantile sketches skipped),
    so the cost is one single-pass aggregate per snapshot (plus one
    Expand pass each under ``exact_distinct``); the comparison itself is
    O(columns) driver work. At 10^12 rows the two scans are the floor —
    a drift check cannot read less than each snapshot once (and in
    practice runs on the snapshots' ledger profiles instead of rescanning;
    this operator IS that join when both profiles are already tables)."""
    pa = {r["column"]: r for r in profile(
        df_a, columns_a, exact_distinct=exact_distinct, quantiles=()
    ).collect()}
    pb = {r["column"]: r for r in profile(
        df_b, columns_b, exact_distinct=exact_distinct, quantiles=()
    ).collect()}
    dta, dtb = dict(df_a.dtypes), dict(df_b.dtypes)
    out = []
    for c in sorted(set(pa) | set(pb)):
        a, b = pa.get(c), pb.get(c)
        if a is None:
            change = "added"
        elif b is None:
            change = "removed"
        elif dta[c] != dtb[c]:
            change = "type_changed"
        else:
            change = None
        both_means = (a is not None and b is not None
                      and a["mean"] is not None and b["mean"] is not None)
        # an EMPTY snapshot profiles null_rate=None (0-row table) — the
        # delta must degrade to None, not TypeError
        both_nr = (a is not None and b is not None
                   and a["null_rate"] is not None
                   and b["null_rate"] is not None)
        out.append({
            "column": c,
            "dtype_a": dta.get(c),
            "dtype_b": dtb.get(c),
            "schema_change": change,
            "count_a": a["count"] if a else None,
            "count_b": b["count"] if b else None,
            "null_rate_a": a["null_rate"] if a else None,
            "null_rate_b": b["null_rate"] if b else None,
            "null_rate_delta": (b["null_rate"] - a["null_rate"])
            if both_nr else None,
            "distinct_a": a["distinct_count"] if a else None,
            "distinct_b": b["distinct_count"] if b else None,
            "mean_a": a["mean"] if a else None,
            "mean_b": b["mean"] if b else None,
            "mean_delta": (b["mean"] - a["mean"]) if both_means else None,
        })
    schema = T.StructType([
        T.StructField("column", T.StringType()),
        T.StructField("dtype_a", T.StringType()),
        T.StructField("dtype_b", T.StringType()),
        T.StructField("schema_change", T.StringType()),
        T.StructField("count_a", T.LongType()),
        T.StructField("count_b", T.LongType()),
        T.StructField("null_rate_a", T.DoubleType()),
        T.StructField("null_rate_b", T.DoubleType()),
        T.StructField("null_rate_delta", T.DoubleType()),
        T.StructField("distinct_a", T.LongType()),
        T.StructField("distinct_b", T.LongType()),
        T.StructField("mean_a", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("mean_delta", T.DoubleType()),
    ])
    return arrow_local_df(df_a.sparkSession, out, schema)


def psi_matrix(
    df: DataFrame,
    column: str,
    *,
    group_col: str = "source",
    lo: float,
    hi: float,
    nbins: int = 10,
    eps: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """Pairwise PSI between every pair of groups IN ONE PASS — the
    drift matrix a multi-source corpus dashboard wants ("does src_7's
    length distribution match src_3's?"), where calling :func:`psi`
    per pair would rescan the corpus |S|² times. One row per unordered
    group pair: ``(src_a, src_b, psi, n_a, n_b)``, same fixed-edge
    equal-width binning, clamping, NULL and ``eps`` semantics as
    :func:`psi` (pairwise results are identical to the two-sample
    operator by construction).

    Scale shape: ONE corpus scan into a (group, bin) hash aggregate —
    at most ``|S| x nbins`` rows survive (map-side combine absorbs the
    corpus); the dense group×bin grid (missing bins must exist for the
    eps substitute) comes from an in-plan ``sequence`` explode of the
    group list — tiny; the pair join is grid×grid on the bin key and
    every later step is dashboard-sized. Corpus values never shuffle."""
    step = (float(hi) - float(lo)) / nbins
    v = F.col(column).cast("double")
    raw = F.floor((v - F.lit(float(lo))) / F.lit(step)).cast("int")
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1))
    counts = (df.filter(v.isNotNull() & F.col(group_col).isNotNull())
                .groupBy(F.col(group_col).alias("_g"), b.alias("bin"))
                .agg(F.count(F.lit(1)).alias("_c")))
    # the |S| x nbins aggregate feeds FOUR plan branches (groups, grid,
    # both pair sides); Catalyst does not CSE DataFrame subtrees, so
    # without a cut the corpus would be scanned once per branch. An
    # eager localCheckpoint materializes the tiny aggregate at build
    # (compile-time job, same pattern as the fuzzy-conv render) and the
    # matrix plan reads corpus data exactly once.
    counts = counts.localCheckpoint(eager=True)
    groups = counts.select("_g").dropDuplicates()
    grid = (groups.crossJoin(
                F.broadcast(counts.sparkSession.range(nbins)
                            .select(F.col("id").cast("int").alias("bin"))))
            .join(counts, ["_g", "bin"], "left")
            .select("_g", "bin", F.coalesce("_c", F.lit(0)).alias("_c")))
    wg = Window.partitionBy("_g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    dense = grid.withColumn("_tot", F.sum("_c").over(wg))
    a = dense.select(F.col("_g").alias("src_a"), "bin",
                     F.col("_c").alias("_ca"), F.col("_tot").alias("_ta"))
    bb = dense.select(F.col("_g").alias("src_b"), "bin",
                      F.col("_c").alias("_cb"), F.col("_tot").alias("_tb"))
    pairs = a.join(bb, "bin").filter(F.col("src_a") < F.col("src_b"))
    pa = F.greatest(F.col("_ca") / F.col("_ta").cast("double"),
                    F.lit(eps))
    pb = F.greatest(F.col("_cb") / F.col("_tb").cast("double"),
                    F.lit(eps))
    term = (pa - pb) * F.log(pa / pb)
    return (pairs.groupBy("src_a", "src_b")
            .agg(F.round(F.sum(term), round_digits).alias("psi"),
                 F.max("_ta").alias("n_a"),
                 F.max("_tb").alias("n_b")))


def exact_quantiles(df: DataFrame, value_col: str,
                    qs: Sequence[float] = (0.5,), *,
                    bins: int = 2048, max_collect: int = 100_000,
                    max_rounds: int = 16) -> DataFrame:
    """EXACT quantiles at any scale — the precise complement of the
    profile's sketch percentiles, via the classic iterative histogram
    refinement ("median of a huge file"): each round one fixed-edge
    histogram aggregate narrows the candidate interval by a factor of
    ``bins`` until the target bucket holds ≤ ``max_collect`` rows,
    which are then collected and indexed directly. Returns one row per
    requested quantile: ``(q, value, n)`` with ``value`` an ACTUAL
    data value at rank ``max(ceil(q·n) − 1, 0)`` of the sorted
    non-null multiset — the ``quantile_disc`` convention, so a SQL
    oracle compares values exactly with no float arithmetic at all.
    Empty input → NULL values.

    Scale shape: scans only — one count/min/max pass, one shared
    first-round histogram for ALL quantiles, then ≤ ``max_rounds``
    per-quantile refinement histograms (doubles exhaust after ~6
    rounds of 2048 bins; mass concentrated on one float terminates via
    a zero-width interval). Every aggregate is map-side combined; the
    driver holds only ``bins`` longs per round. No sort, no shuffle of
    data rows, no single-reducer value buffering (Spark's exact
    ``percentile`` aggregate buffers all values per group — this
    doesn't)."""
    import math as _m

    col = F.col(value_col).cast("double")
    base = df.filter(col.isNotNull()).select(col.alias("_x"))
    head = base.agg(F.count("*").alias("n"), F.min("_x").alias("mn"),
                    F.max("_x").alias("mx")).collect()[0]
    n, mn, mx = head["n"], head["mn"], head["mx"]
    spark = df.sparkSession
    if n == 0:
        return arrow_local_df(
            spark, [(float(q), None, 0) for q in qs],
            "q double, value double, n bigint")

    def _bin_expr(lo: float, hi: float):
        w = hi - lo
        return F.least(
            F.greatest(F.floor((F.col("_x") - F.lit(lo)) / F.lit(w)
                               * F.lit(float(bins))).cast("int"),
                       F.lit(0)),
            F.lit(bins - 1))

    def _hist(lo: float, hi: float) -> list[int]:
        rows = (base.filter((F.col("_x") >= lo) & (F.col("_x") <= hi))
                .groupBy(_bin_expr(lo, hi).alias("_b"))
                .agg(F.count("*").alias("_c")).collect())
        out = [0] * bins
        for r in rows:
            out[r["_b"]] = r["_c"]
        return out

    def _edges(lo: float, hi: float, b: int) -> tuple[float, float]:
        w = hi - lo
        e_lo = lo if b == 0 else lo + w * b / bins
        e_hi = hi if b == bins - 1 else lo + w * (b + 1) / bins
        return e_lo, e_hi

    first = _hist(mn, mx) if mn < mx else None
    results = []
    for q in qs:
        rank = max(_m.ceil(q * n) - 1, 0)
        if mn == mx:
            results.append((float(q), float(mn), int(n)))
            continue
        lo, hi, offset, hist = mn, mx, 0, first
        value = None
        for _ in range(max_rounds):
            cum = 0
            for b, c in enumerate(hist):
                if cum + c > rank - offset:
                    break
                cum += c
            offset += cum
            in_bucket = hist[b]
            b_lo, b_hi = _edges(lo, hi, b)
            # no-progress = the interval stopped shrinking (mass piled
            # on a few adjacent floats): resolve via a DISTINCT-value
            # aggregate — bounded by the ulp-wide bucket's distinct
            # count, never its multiplicity
            stuck = b_lo >= b_hi or (b_lo == lo and b_hi == hi)
            if in_bucket <= max_collect or stuck:
                # same membership rule the histogram used (the bin
                # expression), so floats on edges land identically
                bucket_rows = (base.filter((F.col("_x") >= lo)
                                           & (F.col("_x") <= hi))
                               .filter(_bin_expr(lo, hi) == b))
                if stuck and in_bucket > max_collect:
                    pairs = sorted(
                        (r["_x"], r["c"]) for r in bucket_rows
                        .groupBy("_x").agg(F.count("*").alias("c"))
                        .collect())
                    idx = rank - offset
                    for v, c in pairs:
                        if idx < c:
                            value = v
                            break
                        idx -= c
                else:
                    vals = sorted(r["_x"] for r in bucket_rows.collect())
                    value = vals[rank - offset]
                break
            lo, hi = b_lo, b_hi
            hist = _hist(lo, hi)
        if value is None:
            raise RuntimeError(
                f"exact_quantiles did not converge for q={q} "
                f"(raise max_collect or max_rounds)")
        results.append((float(q), float(value), int(n)))
    return arrow_local_df(spark, results, "q double, value double, n bigint")


def winsorize(df: DataFrame, value_col: str,
              q_lo: float = 0.01, q_hi: float = 0.99, *,
              out_col: Optional[str] = None,
              bins: int = 2048) -> DataFrame:
    """Quantile-clip repair — the ACTING complement of
    :func:`exact_quantiles` (the check↔repair symmetry the engine uses
    throughout: gap-free↔reindex, referential↔coerce, budget↔truncate):
    clip ``value_col`` to its own exact ``[q_lo, q_hi]`` quantile
    envelope so a handful of corrupt extremes (a 10^9-token "document",
    a negative latency) stop dominating every mean/σ downstream. Output
    = input columns + ``out_col`` (default ``{value_col}_winsorized``,
    SAME dtype — the bounds are actual data values of the column, so the
    cast back is lossless) + ``was_clipped``.

    Scale shape: the two bounds come from ONE :func:`exact_quantiles`
    call (shared first-round histogram, scans only, ``bins`` longs to
    the driver per round — no sort, no value buffering), then the repair
    itself is a zero-shuffle codegen projection
    (``least(greatest(x, lo), hi)``). NULLs pass through unclipped with
    ``was_clipped = false``. Exactness: quantile values follow the
    ``quantile_disc`` convention, so clipped outputs are exact data
    values any SQL engine re-derives with zero float arithmetic."""
    out_col = out_col or f"{value_col}_winsorized"
    qrows = {r["q"]: r["value"]
             for r in exact_quantiles(df, value_col, (q_lo, q_hi),
                                      bins=bins).collect()}
    lo, hi = qrows[q_lo], qrows[q_hi]
    col = F.col(value_col)
    if lo is None:                       # empty / all-NULL input
        return df.withColumn(out_col, col) \
                 .withColumn("was_clipped", F.lit(False))
    dtype = df.schema[value_col].dataType
    lo_l = F.lit(lo).cast(dtype)
    hi_l = F.lit(hi).cast(dtype)
    # greatest/least SKIP nulls (greatest(NULL, lo) == lo), so the NULL
    # passthrough needs an explicit guard
    clipped = F.when(col.isNull(), F.lit(None).cast(dtype)) \
               .otherwise(F.least(F.greatest(col, lo_l), hi_l))
    return (df.withColumn(out_col, clipped)
              .withColumn("was_clipped",
                          col.isNotNull() & ((col < lo_l) | (col > hi_l))))


def mad_outliers(df: DataFrame, column: str, *,
                 k: float = 3.5, bins: int = 2048,
                 round_digits: int = 6) -> DataFrame:
    """Robust outlier flagging via median absolute deviation (the
    Iglewicz-Hoaglin modified z-score): adds ``robust_z`` (=
    ``0.6745·(x − median) / MAD``, rounded) and ``is_outlier``
    (``|robust_z| > k``; their recommended k = 3.5) to the input.
    Mean/σ outlier rules break exactly when outliers are present (the
    outliers inflate σ and hide themselves); median/MAD have a 50%
    breakdown point, which is why this is the data-quality standard.

    Exactness contract: median and MAD come from :func:`exact_quantiles`
    (actual data values, the ``quantile_disc`` convention, no float
    arithmetic in their derivation); the flag compares
    ``abs(x − med) > k · MAD / 0.6745`` — every operand an identical
    double on any engine, the threshold built with one fixed operation
    order. Degenerate MAD = 0 (a majority-constant column): any value
    different from the median is an outlier, ``robust_z`` is NULL.

    Scale shape: two :func:`exact_quantiles` passes (median of x, then
    median of ``|x − med|`` — scans + ``bins``-long driver rounds, no
    sort, no value buffering) and one zero-shuffle codegen projection
    for the flags. NULLs pass through unflagged."""
    med_row = exact_quantiles(df, column, (0.5,), bins=bins).collect()[0]
    med = med_row["value"]
    col = F.col(column).cast("double")
    if med is None:                      # empty / all-NULL input
        return (df.withColumn("robust_z",
                              F.lit(None).cast("double"))
                  .withColumn("is_outlier", F.lit(False)))
    dev = df.select(F.abs(col - F.lit(med)).alias("_adev"))
    mad = exact_quantiles(dev, "_adev", (0.5,),
                          bins=bins).collect()[0]["value"]
    if mad == 0.0:
        return (df.withColumn("robust_z", F.lit(None).cast("double"))
                  .withColumn("is_outlier",
                              col.isNotNull() & (col != med)))
    z = F.round(F.lit(0.6745) * (col - F.lit(med)) / F.lit(mad),
                round_digits)
    thr = k * mad / 0.6745               # one fixed operation order
    return (df.withColumn("robust_z", z)
              .withColumn("is_outlier",
                          col.isNotNull()
                          & (F.abs(col - F.lit(med)) > F.lit(thr))))


def exact_corr(df: DataFrame, x_col: str, y_col: str, *,
               group_col: Optional[str] = None,
               scale_digits: int = 6,
               round_digits: int = 6) -> DataFrame:
    """EXACT Pearson correlation between two per-row metrics (the
    quality-signal agreement report: does `quality_score` agree with
    `lm_quality`? does char entropy track token diversity per source?)
    — ``(group?, n, r)``. Rows with a NULL on either side are excluded.

    Exactness: both inputs are fixed-point micro-ized
    (``round(x·10^scale_digits)`` int64 — exact for 6-dp-rounded scores
    by construction), so ALL five accumulations (Σx, Σy, Σxy, Σx²,
    Σy²) are integer sums — order-free, bit-exact cross-engine; the
    Pearson formula then runs once per group on exact integers
    (n·Σxy − ΣxΣy over the root of the exact variances), converted to
    DOUBLE only for the final closed form. The sums accumulate in
    DECIMAL(38,0) (128-bit headroom — micro² terms reach 1e12–1e17 and
    a 10^12-row group would overflow int64; decimal sums stay exact to
    1e38, and DuckDB's HUGEINT mirrors them), so there is NO row-count
    guard to trip at scale. Zero variance on either side → NULL r
    (undefined).

    One hash aggregate with map-side combine — group-cardinality
    output, corpus never shuffles."""
    xm = F.round(F.col(x_col) * F.lit(10.0 ** scale_digits)).cast("bigint")
    ym = F.round(F.col(y_col) * F.lit(10.0 ** scale_digits)).cast("bigint")
    base = (df.filter(F.col(x_col).isNotNull()
                      & F.col(y_col).isNotNull())
            .select(*([group_col] if group_col else []),
                    xm.alias("_x"), ym.alias("_y")))
    xd = F.col("_x").cast("decimal(19,0)")
    yd = F.col("_y").cast("decimal(19,0)")
    aggs = [F.count("*").alias("n"),
            F.sum(xd).alias("sx"), F.sum(yd).alias("sy"),
            F.sum(xd * yd).alias("sxy"),
            F.sum(xd * xd).alias("sxx"),
            F.sum(yd * yd).alias("syy")]
    g = (base.groupBy(group_col).agg(*aggs) if group_col
         else base.agg(*aggs))
    n = F.col("n").cast("double")
    num = n * F.col("sxy").cast("double") \
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    vx = n * F.col("sxx").cast("double") \
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    vy = n * F.col("syy").cast("double") \
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    r = F.when((vx > 0) & (vy > 0),
               F.round(num / F.sqrt(vx * vy), round_digits))
    cols = ([F.col(group_col)] if group_col else []) + [
        F.col("n"), r.alias("r")]
    out = g.select(*cols)
    return out.orderBy(group_col) if group_col else out


def exact_quantiles_by(df: DataFrame, group_col: str, value_col: str,
                       qs: Sequence[float] = (0.5,), *,
                       bins: int = 512, max_collect: int = 50_000,
                       max_rounds: int = 16) -> DataFrame:
    """Per-GROUP exact quantiles (the per-source exact median over
    100 TB): :func:`exact_quantiles`' iterative histogram refinement
    with every round batched into ONE corpus scan for ALL outstanding
    ``(group, quantile)`` tasks — rows join their group's task table
    (broadcast, |groups|·|qs| rows), land in that task's current
    interval bins, and one ``(group, q, bin)`` hash aggregate narrows
    every task simultaneously. Total cost: 1 bounds pass + ~a few
    shared histogram passes + one small collect per finished task.
    Output: ``(group, q, value, n)``, values actual data points at the
    ``quantile_disc`` rank — zero float arithmetic in the comparison.
    Empty groups don't appear (no rows → no group); all-NULL groups
    report NULL value with n=0 semantics omitted likewise."""
    import math as _m
    from ..functions.exprs import arrow_local_df as _aldf

    col = F.col(value_col).cast("double")
    base = (df.filter(col.isNotNull())
            .select(F.col(group_col).alias("_g"), col.alias("_x")))
    stats = {r["_g"]: (r["n"], r["mn"], r["mx"]) for r in
             base.groupBy("_g").agg(F.count("*").alias("n"),
                                    F.min("_x").alias("mn"),
                                    F.max("_x").alias("mx")).collect()}
    spark = df.sparkSession
    # task: (g, q) -> [rank, lo, hi, offset, parent_lo, parent_hi,
    # parent_bin] — the parent triple records the EXACT membership rule
    # (previous round's bin expression) so terminal collects can't pick
    # up float-edge stragglers the offset already counted
    tasks = {}
    done = []
    for g, (n, mn, mx) in stats.items():
        for q in qs:
            rank = max(_m.ceil(q * n) - 1, 0)
            if mn == mx:
                done.append((g, float(q), float(mn), int(n)))
            else:
                tasks[(g, float(q))] = [rank, mn, mx, 0, None, None, None]

    def _bin(lo, hi):
        w = F.col("_hi") - F.col("_lo")
        return F.least(
            F.greatest(F.floor((F.col("_x") - F.col("_lo")) / w
                               * F.lit(float(bins))).cast("int"),
                       F.lit(0)), F.lit(bins - 1))

    rounds = 0
    while tasks and rounds < max_rounds:
        rounds += 1
        tdf = F.broadcast(_aldf(
            spark,
            [(g, q, t[1], t[2]) for (g, q), t in tasks.items()],
            "_g string, _q double, _lo double, _hi double"))
        hist_rows = (base.join(tdf, "_g")
                     .filter((F.col("_x") >= F.col("_lo"))
                             & (F.col("_x") <= F.col("_hi")))
                     .groupBy("_g", "_q", _bin("_lo", "_hi").alias("_b"))
                     .agg(F.count("*").alias("_c")).collect())
        hists = {}
        for r in hist_rows:
            hists.setdefault((r["_g"], r["_q"]),
                             [0] * bins)[r["_b"]] = r["_c"]
        finished = []
        for key, t in tasks.items():
            rank, lo, hi, offset = t[:4]
            hist = hists.get(key, [0] * bins)
            cum = 0
            for b, c in enumerate(hist):
                if cum + c > rank - offset:
                    break
                cum += c
            offset += cum
            w = hi - lo
            b_lo = lo if b == 0 else lo + w * b / bins
            b_hi = hi if b == bins - 1 else lo + w * (b + 1) / bins
            stuck = b_lo >= b_hi or (b_lo == lo and b_hi == hi)
            if hist[b] <= max_collect or stuck:
                g, q = key
                bucket_rows = (base.filter((F.col("_g") == g)
                                           & (F.col("_x") >= lo)
                                           & (F.col("_x") <= hi))
                               .withColumn("_lo", F.lit(lo))
                               .withColumn("_hi", F.lit(hi))
                               .filter(_bin(lo, hi) == b))
                if stuck and hist[b] > max_collect:
                    # distinct-value resolve (see exact_quantiles)
                    pairs = sorted(
                        (r["_x"], r["c"]) for r in bucket_rows
                        .groupBy("_x").agg(F.count("*").alias("c"))
                        .collect())
                    idx, value = rank - offset, None
                    for v, c in pairs:
                        if idx < c:
                            value = v
                            break
                        idx -= c
                else:
                    vals = sorted(r["_x"] for r in
                                  bucket_rows.collect())
                    value = vals[rank - offset]
                done.append((g, q, float(value), int(stats[g][0])))
                finished.append(key)
            else:
                t[1], t[2], t[3] = b_lo, b_hi, offset
                t[4], t[5], t[6] = lo, hi, b
        for key in finished:
            del tasks[key]
    # rounds exhausted with the interval already narrowed by
    # bins^max_rounds: the remaining mass is concentrated on few
    # distinct floats — resolve by a distinct-value aggregate over the
    # final interval (guarded so an adversarial still-wide spread
    # raises instead of collecting unboundedly)
    for (g, q), t in sorted(tasks.items()):
        rank, lo, hi, offset, plo, phi, pb = t
        rows = base.filter(F.col("_g") == g)
        if pb is None:
            rows = rows.filter((F.col("_x") >= lo)
                               & (F.col("_x") <= hi))
        else:
            rows = (rows.filter((F.col("_x") >= plo)
                                & (F.col("_x") <= phi))
                    .withColumn("_lo", F.lit(plo))
                    .withColumn("_hi", F.lit(phi))
                    .filter(_bin(plo, phi) == pb))
        pairs = sorted(
            (r["_x"], r["c"]) for r in
            rows.groupBy("_x").agg(F.count("*").alias("c"))
            .limit(max_collect + 1).collect())
        if len(pairs) > max_collect:
            raise RuntimeError(
                f"exact_quantiles_by did not converge for {(g, q)} "
                f"(raise max_collect or max_rounds)")
        idx, value = rank - offset, None
        for v, c in pairs:
            if idx < c:
                value = v
                break
            idx -= c
        done.append((g, float(q), float(value), int(stats[g][0])))
    return (_aldf(spark, sorted(done),
                  f"{group_col} string, q double, value double, n bigint"))
