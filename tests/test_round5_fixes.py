"""Regression tests for the round-5 fixes: driver-identical gate
sensitivity, remap_tokens duplicate-mapping agreement, and the hardened
sketch ledger (persisted compression, mixed-compression refusal,
rescan-free compaction, deterministic summary)."""

import math
from types import SimpleNamespace

import pandas as pd
import pytest

from tools.oracle_check import compare_frames, driver_canon, run_gate


# ---------------------------------------------------------------------------
# driver-identical canonicalizer: must reproduce the driver's dtype
# sensitivity and list-hostility (round-4 failure classes #1 and #2)
# ---------------------------------------------------------------------------

class TestDriverCanon:
    def test_int64_vs_float64_is_a_mismatch(self):
        # DuckDB sum(int) -> HUGEINT -> pandas float64 vs Spark int64:
        # values equal, driver hash differs. The gate MUST flag it.
        a = pd.DataFrame({"k": ["x"], "n": pd.array([150], dtype="int64")})
        b = pd.DataFrame({"k": ["x"], "n": pd.array([150.0],
                                                    dtype="float64")})
        rows, schema, hashm, _ = compare_frames(a, b)
        assert rows and schema and not hashm

    def test_identical_dtypes_match(self):
        a = pd.DataFrame({"k": ["x", "y"], "n": [1, 2]})
        b = pd.DataFrame({"n": [2, 1], "k": ["y", "x"]})  # col+row order
        rows, schema, hashm, _ = compare_frames(a, b)
        assert rows and schema and hashm

    def test_list_column_raises_like_the_driver(self):
        a = pd.DataFrame({"k": ["x", "y"], "v": [[1.0], [2.0]]})
        with pytest.raises(TypeError):
            driver_canon(a)

    def test_single_list_column_also_raises(self):
        # pandas' single-column sort_values does NOT raise by itself
        # (comparison argsort, no hashing) — the gate must still reject
        # it so an array-only output can't pass locally
        a = pd.DataFrame({"v": [[2.0], [1.0]]})
        with pytest.raises(TypeError):
            driver_canon(a)

    def test_nan_equals_nan(self):
        a = pd.DataFrame({"v": [float("nan"), 1.0]})
        b = pd.DataFrame({"v": [1.0, float("nan")]})
        assert compare_frames(a, b)[2]

    def test_no_rounding(self):
        # the old fetchall()+9dp harness would have passed this pair
        a = pd.DataFrame({"v": [0.12345678901]})
        b = pd.DataFrame({"v": [0.12345678902]})
        assert not compare_frames(a, b)[2]


def test_run_gate_reports_unknown_query_name():
    # a misspelled name is a gate error row, not a KeyError mid-run
    entry = SimpleNamespace(queries=lambda: {}, oracle_sql=lambda: {})
    assert list(run_gate(None, None, entry, "", ["no_such_query"])) == [
        ("no_such_query", "ERR", "unknown query")]


# ---------------------------------------------------------------------------
# remap_tokens: duplicate-keyed mapping must resolve identically on the
# dict-literal and broadcast-join strategies (ADVICE round 4)
# ---------------------------------------------------------------------------

class TestRemapDuplicateMapping:
    def _run(self, spark, max_literal):
        from json_schema_rs_spark.operators.textstats import remap_tokens
        df = spark.createDataFrame(
            [(1, "teh cat teh dog"), (2, "plain text"), (3, None)],
            "doc_id int, text string")
        # duplicate from_token with conflicting targets: min(to) wins
        mapping = spark.createDataFrame(
            [("teh", "the"), ("teh", "zzz"), ("cat", "feline")],
            "from_token string, to_token string")
        out = remap_tokens(df, mapping, "text", max_literal=max_literal)
        return {r["doc_id"]: r["clean_text"] for r in out.collect()}

    def test_dict_and_broadcast_paths_agree(self, spark):
        small = self._run(spark, max_literal=10)   # dict-literal path
        big = self._run(spark, max_literal=1)      # broadcast-join path
        assert small == big
        assert small[1] == "the feline the dog"
        assert small[2] == "plain text"
        assert small[3] is None

    def test_broadcast_path_does_not_multiply_tokens(self, spark):
        # the pre-fix broadcast join would emit 2 rows per "teh" token
        # and corrupt the reassembled text length
        out = self._run(spark, max_literal=1)
        assert len(out[1].split(" ")) == 4


# ---------------------------------------------------------------------------
# sketch ledger v2: compression persisted and honored, mixed-compression
# refusal, rescan-free merge, deterministic summary (ADVICE round 4 +
# verdict task 6)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


class TestSketchLedgerV2:
    def test_compression_column_persisted(self, spark, events):
        from json_schema_rs_spark.operators import stats
        sk = stats.sketch_snapshot(events, ["value"], snapshot_id="s",
                                   compression=500.0)
        row = sk.collect()[0]
        assert row["compression"] == 500.0
        assert row["ledger_version"] == stats.SKETCH_LEDGER_VERSION

    def test_drift_honors_persisted_compression(self, spark, events):
        from json_schema_rs_spark.operators import stats
        sk = stats.sketch_snapshot(events, ["value"], snapshot_id="s",
                                   compression=500.0)
        row = sk.collect()[0]
        d = stats._digest_from_ledger_row(row)
        assert d.compression == 500.0
        # a post-load compress must keep the paid-for resolution: the
        # centroid count must not collapse toward the 200-compression
        # envelope (the pre-fix behavior re-compressed to default 200)
        n_before = len(row["means"])
        d._compress()
        assert len(d.means) == n_before, (
            f"reload recompressed {n_before} -> {len(d.means)} centroids")
        at_200 = stats.TDigest.from_arrays(
            row["means"], row["weights"], row["mn"], row["mx"], 200.0)
        at_200._buf_m, at_200._buf_w = [at_200.means], [at_200.weights]
        at_200.means = at_200.weights = __import__("numpy").empty(0)
        at_200._compress()
        assert len(d.means) > len(at_200.means)

    def test_mixed_compression_refused(self, spark, events):
        from json_schema_rs_spark.operators import stats
        a = stats.sketch_snapshot(events, ["value"], snapshot_id="a",
                                  compression=200.0)
        b = stats.sketch_snapshot(events, ["value"], snapshot_id="b",
                                  compression=500.0)
        with pytest.raises(ValueError, match="compressions differ"):
            stats.drift_from_sketches(a, b).collect()
        with pytest.raises(ValueError, match="mixed sketch compressions"):
            stats.merge_sketch_snapshots(a.unionByName(b),
                                         snapshot_id="m")

    def test_v1_row_falls_back_to_default_compression(self, spark, events):
        from json_schema_rs_spark.operators import stats
        sk = stats.sketch_snapshot(events, ["value"], snapshot_id="s")
        legacy = sk.drop("compression", "ledger_version")
        d = stats._digest_from_ledger_row(legacy.collect()[0])
        assert d.compression == 200.0

    def test_zero_compression_refused(self, spark, events):
        # 0.0 is a corrupt v2 row, not a v1 row: it must not fall back
        # to the default 200 the way a missing compression does
        from json_schema_rs_spark.operators import stats
        from pyspark.sql import functions as F
        sk = stats.sketch_snapshot(events, ["value"], snapshot_id="s")
        bad = sk.withColumn("compression", F.lit(0.0))
        with pytest.raises(ValueError, match="non-positive compression"):
            stats._digest_from_ledger_row(bad.collect()[0])
        with pytest.raises(ValueError, match="non-positive compression"):
            stats.merge_sketch_snapshots(bad, snapshot_id="m")

    def test_merge_equals_one_shot_on_exact_fields(self, spark, events):
        # compaction soundness: merging the per-half sketch rows must
        # reproduce the one-shot snapshot's exact fields (n, min, max)
        # bit-for-bit, and its KS vs a reference must agree closely
        from json_schema_rs_spark.operators import stats
        from json_schema_rs_spark.functions.tdigest import ks_from_digests
        from pyspark.sql import functions as F
        halves = [events.filter(F.col("event_id") % 2 == i)
                  for i in (0, 1)]
        parts = [stats.sketch_snapshot(h, ["value", "user_id"],
                                       snapshot_id=f"h{i}")
                 for i, h in enumerate(halves)]
        merged = stats.merge_sketch_snapshots(
            parts[0].unionByName(parts[1]), snapshot_id="full")
        oneshot = stats.sketch_snapshot(events, ["value", "user_id"],
                                        snapshot_id="full")
        m = {r["column"]: r for r in merged.collect()}
        o = {r["column"]: r for r in oneshot.collect()}
        assert set(m) == set(o)
        for c in o:
            assert m[c]["n"] == o[c]["n"]
            assert m[c]["mn"] == o[c]["mn"]
            assert m[c]["mx"] == o[c]["mx"]
            assert m[c]["compression"] == o[c]["compression"]
        # approximate fields: merged digest must stay within sketch
        # accuracy of the one-shot digest (KS between the two ~ 0)
        dm = stats._digest_from_ledger_row(m["value"])
        do = stats._digest_from_ledger_row(o["value"])
        assert ks_from_digests(dm, do) <= 0.02

    def test_multi_row_per_column_slice_refused(self, spark, events):
        # an unfiltered two-snapshot slice must not be silently reduced
        # to one arbitrary row per column — wrong n/min/max with no
        # error; the compactor is the declared path for that shape
        from json_schema_rs_spark.operators import stats
        from pyspark.sql import functions as F
        a = stats.sketch_snapshot(events.filter(F.col("event_id") % 2 == 0),
                                  ["value"], snapshot_id="d1")
        b = stats.sketch_snapshot(events.filter(F.col("event_id") % 2 == 1),
                                  ["value"], snapshot_id="d2")
        multi = a.unionByName(b)
        with pytest.raises(ValueError, match="multiple rows for column"):
            stats.sketch_ledger_summary(multi, a)
        with pytest.raises(ValueError, match="multiple rows for column"):
            stats.drift_from_sketches(multi, a)
        # the compactor accepts exactly this shape
        merged = stats.merge_sketch_snapshots(multi, snapshot_id="all")
        assert stats.sketch_ledger_summary(merged, a).count() == 1

    def test_summary_matches_exact_aggregates(self, spark, events):
        from json_schema_rs_spark.operators import stats
        from pyspark.sql import functions as F
        a = events.filter(F.col("event_id") % 2 == 0)
        b = events.filter(F.col("event_id") % 2 == 1)
        ska = stats.sketch_snapshot(a, ["value"], snapshot_id="a")
        skb = stats.sketch_snapshot(b, ["value"], snapshot_id="b")
        out = stats.sketch_ledger_summary(ska, skb).collect()
        assert len(out) == 1
        row = out[0]
        ea = a.agg(F.count("value"), F.min("value"),
                   F.max("value")).collect()[0]
        eb = b.agg(F.count("value"), F.min("value"),
                   F.max("value")).collect()[0]
        assert (row["n_a"], row["n_b"]) == (ea[0], eb[0])
        assert math.isclose(row["min_a"], ea[1], rel_tol=0, abs_tol=0)
        assert math.isclose(row["max_b"], eb[2], rel_tol=0, abs_tol=0)
