"""Regression tests for the round-3 self-review findings: empty-snapshot
drift, sentinel-bucket LSH blowup, prune-margin vs rounding grain,
URL-regex evasion, strategy validation, mixed-dims quantization,
NULL-consistency of the boilerplate short-circuit, NULL-field render
ordering, and the forced-driver CC gate."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from json_schema_rs_spark.operators.dedup import (
    minhash_lsh_pairs, near_dup_groups)
from json_schema_rs_spark.operators.packing import render_conversations
from json_schema_rs_spark.operators.similarity import (
    quantize_embeddings, quantized_topk)
from json_schema_rs_spark.operators.stats import profile_drift
from json_schema_rs_spark.operators.table_checks import (
    referential_violations)
from json_schema_rs_spark.operators.textstats import drop_boilerplate_lines


class TestProfileDriftEmptySnapshot:
    def test_empty_side_degrades_to_none_not_typeerror(self, spark):
        empty = spark.createDataFrame([], "x int")
        full = spark.createDataFrame([Row(x=1), Row(x=None)])
        out = {r["column"]: r for r in profile_drift(empty, full).collect()}
        assert out["x"]["null_rate_delta"] is None
        assert out["x"]["null_rate_b"] == 0.5
        # and the symmetric case
        out2 = {r["column"]: r for r in profile_drift(full, empty).collect()}
        assert out2["x"]["null_rate_delta"] is None


class TestSentinelBucketExcluded:
    def test_many_shingleless_docs_no_quadratic_bucket(self, spark):
        # 200 docs of < n words all share the sentinel signature; before
        # the fix they formed one C(200,2)-pair bucket in EVERY band.
        # They must emit nothing, while a genuine near-dup pair among
        # normal docs still surfaces.
        rows = [Row(doc_id=i, text="ab") for i in range(200)]
        body = "the quick brown fox jumps over the lazy dog again and again"
        rows += [Row(doc_id=500, text=body),
                 Row(doc_id=501, text=body + " tail")]
        df = spark.createDataFrame(rows)
        pairs = minhash_lsh_pairs(df, threshold=0.5).collect()
        assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(500, 501)]


class TestQuantizedTopkMarginTracksRounding:
    def test_coarse_rounding_matches_unpruned(self, spark):
        rng = np.random.default_rng(11)
        vecs = rng.normal(size=(60, 8))
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in v])
             for i, v in enumerate(vecs)])
        q = df.filter(F.col("vec_id") < 2)
        # k >= corpus means the batch prune can never fire: ground truth
        full = quantized_topk(df, q, k=59, round_digits=2).collect()
        want = {(r["query_id"], r["rank"]): r["neighbor_id"]
                for r in full if r["rank"] <= 5}
        got = {(r["query_id"], r["rank"]): r["neighbor_id"]
               for r in quantized_topk(df, q, k=5, round_digits=2).collect()}
        assert got == want


class TestQuantizeMixedDims:
    def test_ragged_batch_quantizes_per_vector(self, spark):
        df = spark.createDataFrame([
            Row(vec_id=0, embedding=[1.0, -2.0]),
            Row(vec_id=1, embedding=[0.5, 0.5, 1.0, -1.0]),
            Row(vec_id=2, embedding=None),
            Row(vec_id=3, embedding=[0.0, 0.0]),
        ], "vec_id long, embedding array<double>")
        out = {r["vec_id"]: r for r in
               quantize_embeddings(df).coalesce(1).collect()}
        assert out[0]["qvec"] == [64, -127]
        assert len(out[1]["qvec"]) == 4 and out[1]["qvec"][2] == 127
        assert out[2]["qvec"] is None
        assert out[3]["qvec"] == [0, 0] and out[3]["scale"] == 0.0


class TestReferentialStrategyValidation:
    def test_unknown_strategy_raises(self, spark):
        df = spark.createDataFrame([Row(conv_id="c", turn_idx=0, role="x")])
        vocab = spark.createDataFrame([("user",)], "role string")
        with pytest.raises(ValueError, match="strategy"):
            referential_violations(df, "role", vocab, strategy="Shuffle")


class TestBoilerplateNullConsistency:
    def test_null_text_same_verdict_on_both_paths(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=0, text="a\nb"), Row(doc_id=1, text=None)],
            "doc_id int, text string")
        # empty-blocklist short-circuit
        sc = {r["doc_id"]: r["n_dropped"] for r in
              drop_boilerplate_lines(df, max_docs=10).collect()}
        # rewrite path (force a blocklist with a second doc sharing 'a')
        df2 = df.union(spark.createDataFrame(
            [Row(doc_id=2, text="a\nc")], "doc_id int, text string"))
        rw = {r["doc_id"]: r["n_dropped"] for r in
              drop_boilerplate_lines(df2, max_docs=1).collect()}
        assert sc[1] is None and rw[1] is None
        assert sc[0] == 0 and rw[0] == 1


class TestRenderNullFieldsCrossEngine:
    def test_duplicate_idx_null_role_matches_duckdb(self, spark):
        rows = [
            Row(conv_id="c", turn_idx=0, role=None, text="x"),
            Row(conv_id="c", turn_idx=0, role="user", text="y"),
            Row(conv_id="c", turn_idx=1, role="assistant", text=None),
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string")
        got = render_conversations(df).collect()[0]["text"]
        con = duckdb.connect()
        con.execute("CREATE TABLE tx(conv_id VARCHAR, turn_idx INT, "
                    "role VARCHAR, text VARCHAR)")
        con.executemany("INSERT INTO tx VALUES (?,?,?,?)",
                        [tuple(r) for r in rows])
        want = con.execute(
            "SELECT string_agg('<|' || coalesce(role,'unknown') || '|>' "
            " || chr(10) || coalesce(text,''), chr(10) "
            " ORDER BY coalesce(turn_idx,-2147483648), "
            "          coalesce(role,'unknown'), coalesce(text,'')) "
            "FROM tx GROUP BY conv_id").fetchone()[0]
        assert got == want


class TestIvfNullQueryVector:
    def test_null_query_embedding_skipped_not_crash(self, spark):
        from json_schema_rs_spark.operators.similarity import ivf_topk
        rng = np.random.default_rng(5)
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in v])
             for i, v in enumerate(rng.normal(size=(40, 6)))],
            "vec_id long, embedding array<double>")
        q = spark.createDataFrame(
            [Row(vec_id=0, embedding=[float(x) for x in rng.normal(size=6)]),
             Row(vec_id=1, embedding=None),
             Row(vec_id=2, embedding=[1.0, 2.0])],  # wrong dims
            "vec_id long, embedding array<double>")
        out = ivf_topk(df, q, k=3, n_centroids=4, nprobe=2).collect()
        # the valid query returns results; NULL / wrong-dims emit nothing
        assert {r["query_id"] for r in out} == {0}
        assert len(out) == 3


class TestDriverCcGate:
    def test_forced_driver_respects_edge_cap(self, spark):
        pairs = spark.createDataFrame(
            [Row(doc_a=i, doc_b=i + 1) for i in range(10)])
        with pytest.raises(ValueError, match="driver_max_edges"):
            near_dup_groups(pairs, method="driver", driver_max_edges=3)
        # under the cap it still works
        out = near_dup_groups(pairs, method="driver",
                              driver_max_edges=100).collect()
        assert all(r["group_id"] == 0 for r in out)


class TestDropLoopedTurns:
    def _tx(self, spark, rows):
        return spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string")

    def test_drops_streak_keeps_first(self, spark):
        from json_schema_rs_spark.operators.table_checks import (
            drop_looped_turns)
        df = self._tx(spark, [
            ("c", 0, "user", "hi"),
            ("c", 1, "assistant", "I will comply."),
            ("c", 2, "user", "and?"),            # wedged turn: no reset
            ("c", 3, "assistant", "I will comply."),
            ("c", 4, "assistant", "I will comply."),
            ("c", 5, "assistant", "done"),
        ])
        kept = sorted(r["turn_idx"] for r in
                      drop_looped_turns(df).collect())
        assert kept == [0, 1, 2, 5]

    def test_repaired_conversation_scores_clean(self, spark):
        from json_schema_rs_spark.operators.table_checks import (
            drop_looped_turns, turn_loop_stats)
        df = self._tx(spark, [
            ("c", i, "assistant", "loop" if i < 4 else f"t{i}")
            for i in range(6)
        ])
        before = turn_loop_stats(df).collect()[0]
        assert before["loop_turns"] == 3
        after = turn_loop_stats(drop_looped_turns(df)).collect()[0]
        assert after["loop_turns"] == 0 and after["verdict"] == "ok"

    def test_null_text_and_roles(self, spark):
        from json_schema_rs_spark.operators.table_checks import (
            drop_looped_turns)
        df = self._tx(spark, [
            ("c", 0, None, None),
            ("c", 1, None, None),     # NULL text never loops
            ("c", 2, None, "x"),
            ("c", 3, None, "x"),      # NULL roles compare as one role
        ])
        kept = sorted(r["turn_idx"] for r in
                      drop_looped_turns(df).collect())
        assert kept == [0, 1, 2]

    def test_one_exchange(self, spark):
        from json_schema_rs_spark.operators.table_checks import (
            drop_looped_turns)
        df = self._tx(spark, [("c", 0, "u", "a")])
        plan = (drop_looped_turns(df)
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("Exchange") == 1 and "Join" not in plan


# ---------------------------------------------------------------------------
# freshness_stats / duplicate_conflict_stats (validation-family additions)
# ---------------------------------------------------------------------------


class TestFreshnessStats:
    def test_ages_staleness_and_null_group(self, spark):
        from json_schema_rs_spark.operators.table_checks import (
            freshness_stats)
        df = spark.createDataFrame(
            [("a", "2024-01-01 10:00:00"),
             ("a", "2024-01-01 11:59:30"),
             ("b", "2024-01-01 09:00:00"),
             ("c", None)],
            "src string, ts string").withColumn(
            "ts", __import__("pyspark.sql.functions",
                             fromlist=["F"]).to_timestamp("ts"))
        out = {r.src: r for r in freshness_stats(
            df, "ts", as_of="2024-01-01 12:00:00",
            max_age_seconds=600, group_col="src").collect()}
        assert (out["a"].age_seconds, out["a"].stale) == (30, False)
        assert (out["b"].age_seconds, out["b"].stale) == (10800, True)
        # only-NULL timestamps: unknown recency is stale by definition
        assert out["c"].max_ts is None and out["c"].age_seconds is None
        assert out["c"].stale is True

    def test_future_timestamp_negative_age(self, spark):
        from pyspark.sql import functions as F
        from json_schema_rs_spark.operators.table_checks import (
            freshness_stats)
        df = spark.createDataFrame([("a", "2024-01-01 12:01:30")],
                                   "src string, ts string") \
            .withColumn("ts", F.to_timestamp("ts"))
        r = freshness_stats(df, "ts", as_of="2024-01-01 12:00:00",
                            max_age_seconds=60,
                            group_col="src").collect()[0]
        assert r.age_seconds == -90 and r.stale is False

    def test_global_single_row(self, spark):
        from pyspark.sql import functions as F
        from json_schema_rs_spark.operators.table_checks import (
            freshness_stats)
        df = spark.createDataFrame(
            [("x", "2024-01-01 00:00:00")], "src string, ts string") \
            .withColumn("ts", F.to_timestamp("ts"))
        out = freshness_stats(df, "ts", as_of="2024-01-02 00:00:00",
                              max_age_seconds=86400).collect()
        assert len(out) == 1 and out[0].age_seconds == 86400
        assert out[0].stale is False    # exactly at the bound


class TestDuplicateConflictStats:
    def test_retry_vs_conflict_vs_unique(self, spark):
        from json_schema_rs_spark.operators.table_checks import (
            duplicate_conflict_stats)
        df = spark.createDataFrame(
            [("c1", 0, "same"), ("c1", 0, "same"),          # retry
             ("c1", 1, "x"), ("c1", 1, "y"),                # conflict
             ("c2", 0, "only"),                             # unique
             ("c3", 0, None), ("c3", 0, None),              # NULL retry
             ("c4", 0, None), ("c4", 0, "v")],              # NULL conflict
            "conv_id string, turn_idx int, text string")
        out = {(r.conv_id, r.turn_idx): r
               for r in duplicate_conflict_stats(df).collect()}
        assert ("c2", 0) not in out
        assert (out[("c1", 0)].n_variants,
                out[("c1", 0)].conflict) == (1, False)
        assert (out[("c1", 1)].occurrences,
                out[("c1", 1)].conflict) == (2, True)
        assert out[("c3", 0)].conflict is False   # NULL == NULL
        assert out[("c4", 0)].conflict is True    # NULL vs value

    def test_payload_never_shuffles(self, spark):
        from json_schema_rs_spark.operators.table_checks import (
            duplicate_conflict_stats)
        df = spark.createDataFrame(
            [("c", i % 3, "t" * 50) for i in range(30)],
            "conv_id string, turn_idx int, text string")
        plan = duplicate_conflict_stats(df)._jdf.queryExecution() \
            .executedPlan().toString()
        # the projection before the exchange carries the digest, not text
        assert "text" not in plan.split("Exchange")[1][:400]


class TestFunctionalDependency:
    def test_violating_groups_with_witnesses(self, spark):
        from json_schema_rs_spark.operators.table_checks import (
            functional_dependency_violations)
        df = spark.createDataFrame(
            [("en", "latin"), ("en", "latin"),
             ("ru", "cyrillic"), ("ru", "latin"),   # violation
             ("ja", None), ("ja", "kana")],          # NULL ignored
            "lang string, script string")
        out = {r.lang: r for r in functional_dependency_violations(
            df, ["lang"], "script").collect()}
        assert set(out) == {"ru"}
        r = out["ru"]
        assert (r.n_values, r.example_lo, r.example_hi) == \
            (2, "cyrillic", "latin")
        import pytest as _pytest
        with _pytest.raises(ValueError):
            functional_dependency_violations(df, [], "script")

    def test_multi_determinant(self, spark):
        from json_schema_rs_spark.operators.table_checks import (
            functional_dependency_violations)
        df = spark.createDataFrame(
            [("a", 1, "x"), ("a", 1, "y"), ("a", 2, "x")],
            "k1 string, k2 int, v string")
        out = functional_dependency_violations(df, ["k1", "k2"],
                                               "v").collect()
        assert [(r.k1, r.k2, r.n_values) for r in out] == [("a", 1, 2)]


class TestReferentialCoverage:
    def test_counts_and_ratios(self, spark):
        from json_schema_rs_spark.operators.table_checks import (
            referential_coverage)
        df = spark.createDataFrame(
            [("a",), ("a",), ("b",), ("zz",), (None,)], "v string")
        r = referential_coverage(df, "v", ["a", "b"]).collect()[0]
        assert (r.n_rows, r.n_matched, r.n_null, r.n_miss) == (5, 3, 1, 1)
        assert r.coverage == 0.75 and r.null_rate == 0.2
        import pytest as _pytest
        with _pytest.raises(ValueError):
            referential_coverage(df, "v", [])

    def test_zero_shuffle_plan(self, spark):
        from json_schema_rs_spark.operators.table_checks import (
            referential_coverage)
        df = spark.createDataFrame([("a",)], "v string")
        plan = referential_coverage(df, "v", ["a"])._jdf \
            .queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Join" not in plan


class TestRolePatternStats:
    def test_trigram_counts_and_nulls(self, spark):
        from json_schema_rs_spark.operators.table_checks import (
            role_pattern_stats)
        rows = (
            [("c1", i, r) for i, r in enumerate(
                ["user", "assistant", "user", "assistant"])]
            + [("c2", 0, "user"), ("c2", 1, None), ("c2", 2, "user")]
            + [("c3", 0, "user"), ("c3", 1, "assistant")]  # too short
        )
        df = spark.createDataFrame(rows,
                                   "conv_id string, turn_idx int, role string")
        out = {r.pattern: r for r in role_pattern_stats(df, n=3).collect()}
        assert out["user>assistant>user"].n_occurrences == 1
        assert out["assistant>user>assistant"].n_occurrences == 1
        assert out["user>?>user"].n_occurrences == 1  # NULL visible
        assert sum(r.n_occurrences for r in out.values()) == 3
        # ranks are 1..k under the total order
        ranks = sorted(r.rank for r in out.values())
        assert ranks == list(range(1, len(out) + 1))

    def test_bigram_mode_and_bad_n(self, spark):
        from json_schema_rs_spark.operators.table_checks import (
            role_pattern_stats)
        df = spark.createDataFrame(
            [("c", 0, "u"), ("c", 1, "a"), ("c", 2, "u")],
            "conv_id string, turn_idx int, role string")
        out = {r.pattern: r.n_occurrences
               for r in role_pattern_stats(df, n=2).collect()}
        assert out == {"u>a": 1, "a>u": 1}
        import pytest as _pytest
        with _pytest.raises(ValueError):
            role_pattern_stats(df, n=1)


class TestKeySyncStats:
    def test_counts_and_jaccard(self, spark):
        from json_schema_rs_spark.operators.table_checks import (
            key_sync_stats)
        a = spark.createDataFrame(
            [(1,), (2,), (3,), (3,), (None,)], "doc_id long")
        b = spark.createDataFrame([(2,), (3,), (9,)], "vec_id long")
        r = key_sync_stats(a, b, "doc_id", "vec_id").collect()[0]
        # distinct non-null: A={1,2,3}, B={2,3,9}; both={2,3}; union=4
        assert (r.n_a, r.n_b, r.n_both, r.n_only_a, r.n_only_b) == \
            (3, 3, 2, 1, 1)
        assert r.sync == 0.5

    def test_perfect_and_disjoint(self, spark):
        from json_schema_rs_spark.operators.table_checks import (
            key_sync_stats)
        a = spark.createDataFrame([(1,), (2,)], "k long")
        r = key_sync_stats(a, a, "k", "k").collect()[0]
        assert r.sync == 1.0 and r.n_only_a == 0
        b = spark.createDataFrame([(5,), (6,)], "k long")
        r2 = key_sync_stats(a, b, "k", "k").collect()[0]
        assert r2.sync == 0.0 and r2.n_both == 0


class TestRound4AdviceFixes:
    """Regressions for the round-3 driver ADVICE items."""

    def test_histogram_rejects_degenerate_range(self, spark):
        from json_schema_rs_spark.operators.stats import histogram
        df = spark.createDataFrame([(1.0,), (2.0,)], "v double")
        import pytest as _pytest
        with _pytest.raises(ValueError, match="hi must be > lo"):
            histogram(df, "v", lo=5.0, hi=5.0)
        with _pytest.raises(ValueError, match="hi must be > lo"):
            histogram(df, "v", lo=5.0, hi=4.0)

    def test_histogram_drops_nan(self, spark):
        from json_schema_rs_spark.operators.stats import histogram
        df = spark.createDataFrame(
            [(0.5,), (float("nan"),), (None,), (1.5,)], "v double")
        # without the NaN filter the NaN row would clamp into bin 0
        out = {r.bin: r.n for r in
               histogram(df, "v", lo=0.0, hi=2.0, nbins=2).collect()}
        assert out == {0: 1, 1: 1}
        out2 = {r.bin: r.n for r in
                histogram(df, "v", lo=0.0, hi=2.0, nbins=2,
                          clamp=False).collect()}
        assert out2 == {0: 1, 1: 1}

    def test_key_sync_empty_and_all_null_inputs_report_zeros(self, spark):
        from json_schema_rs_spark.operators.table_checks import (
            key_sync_stats)
        empty = spark.createDataFrame([], "k long")
        r = key_sync_stats(empty, empty, "k", "k").collect()[0]
        assert (r.n_a, r.n_b, r.n_both, r.n_only_a, r.n_only_b) == \
            (0, 0, 0, 0, 0)
        assert r.sync is None  # 0/0 keyset Jaccard is undefined, not 0
        nulls = spark.createDataFrame([(None,), (None,)], "k long")
        r2 = key_sync_stats(nulls, nulls, "k", "k").collect()[0]
        assert (r2.n_a, r2.n_b, r2.n_both) == (0, 0, 0)

    def test_freshness_rejects_malformed_as_of(self, spark):
        from pyspark.sql import functions as F
        from json_schema_rs_spark.operators.table_checks import (
            freshness_stats)
        df = spark.createDataFrame([("a", "2024-01-01 10:00:00")],
                                   "src string, ts string") \
            .withColumn("ts", F.to_timestamp("ts"))
        import pytest as _pytest
        with _pytest.raises(ValueError, match="ISO-8601"):
            freshness_stats(df, "ts", as_of="not a timestamp",
                            max_age_seconds=60)
        # a quote in as_of must raise, never splice into SQL text
        with _pytest.raises(ValueError, match="ISO-8601"):
            freshness_stats(df, "ts", as_of="2024-01-01') --",
                            max_age_seconds=60)
        # and Z-suffixed / T-separated ISO forms are accepted
        r = freshness_stats(df, "ts", as_of="2024-01-01T10:00:30Z",
                            max_age_seconds=60).collect()[0]
        assert r.age_seconds == 30 and r.stale is False

    def test_group_centroid_similarity_null_dimension(self, spark):
        from json_schema_rs_spark.operators.similarity import (
            group_centroid_similarity)
        # group "a": dim 1 NULL in its only row -> NULL centroid element;
        # before the fix the driver fold raised TypeError (None * float)
        df = spark.createDataFrame(
            [("a", [1.0, None]), ("b", [0.5, 0.5])],
            "g string, embedding array<double>")
        rows = group_centroid_similarity(df, "g").collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.group_a, r.group_b) == ("a", "b")
        # NULL element counts as 0.0: cos = 0.5 / (1.0 * sqrt(0.5))
        assert abs(r.cos_sim - 0.707107) < 1e-6
