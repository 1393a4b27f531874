"""Temporal operators (sessionize / as-of join) and multi-spec routing.

Correctness is checked against hand-computed fixtures and a naive
per-row reference implementation; physical plans are asserted to carry
exactly the shuffles the module docstrings promise (one Exchange for
the temporal ops, zero for multi-spec routing).
"""

import datetime as dt
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from json_schema_rs_spark.operators.runner import (
    ValidationEngine, multi_spec_validate)
from json_schema_rs_spark.operators.temporal import (
    asof_join, session_stats, sessionize)


def _ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 0, minute, second)


def _n_exchanges(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning") \
        + plan.count("Exchange rangepartitioning")


class TestSessionize:
    def _df(self, spark):
        rows = [
            # user 1: two sessions split by a 40-min gap
            Row(user_id=1, event_id=0, ts=_ts(0)),
            Row(user_id=1, event_id=1, ts=_ts(10)),
            Row(user_id=1, event_id=2, ts=_ts(50)),
            Row(user_id=1, event_id=3, ts=_ts(55)),
            # user 2: one event = one session
            Row(user_id=2, event_id=4, ts=_ts(5)),
            # user 3: gap of exactly 30 min does NOT split (> not >=)
            Row(user_id=3, event_id=5, ts=_ts(0)),
            Row(user_id=3, event_id=6, ts=_ts(30)),
        ]
        return spark.createDataFrame(rows)

    def test_session_assignment(self, spark):
        out = sessionize(self._df(spark), gap_seconds=1800,
                         order_cols=("event_id",))
        got = {r.event_id: (r.session_seq, r.session_id)
               for r in out.collect()}
        assert got[0] == (0, "1:0") and got[1] == (0, "1:0")
        assert got[2] == (1, "1:1") and got[3] == (1, "1:1")
        assert got[4] == (0, "2:0")
        assert got[5] == (0, "3:0") and got[6] == (0, "3:0")

    def test_subsecond_gap_precision(self, spark):
        df = spark.createDataFrame([
            Row(user_id=1, event_id=0, ts=_ts(0, 0)),
            Row(user_id=1, event_id=1,
                ts=dt.datetime(2024, 1, 1, 0, 0, 1, 500_000)),
        ])
        # 1.5 s gap with a 1.4 s threshold splits
        out = sessionize(df, gap_seconds=1.4, order_cols=("event_id",))
        assert {r.session_seq for r in out.collect()} == {0, 1}
        # 1.6 s threshold keeps one session
        out = sessionize(df, gap_seconds=1.6, order_cols=("event_id",))
        assert {r.session_seq for r in out.collect()} == {0}

    def test_stats(self, spark):
        st = session_stats(self._df(spark), gap_seconds=1800,
                           order_cols=("event_id",))
        got = {(r.user_id, r.session_seq): (r.n_events, r.duration_sec)
               for r in st.collect()}
        assert got[(1, 0)] == (2, 600.0)
        assert got[(1, 1)] == (2, 300.0)
        assert got[(2, 0)] == (1, 0.0)
        assert got[(3, 0)] == (2, 1800.0)

    def test_single_exchange(self, spark):
        out = sessionize(self._df(spark), order_cols=("event_id",))
        assert _n_exchanges(out) == 1
        # stats ride the same hash partitioning: still one Exchange
        assert _n_exchanges(
            session_stats(self._df(spark), order_cols=("event_id",))) == 1


class TestAsofJoin:
    def _frames(self, spark):
        left = spark.createDataFrame([
            Row(user_id=1, event_id=0, ts=_ts(10)),
            Row(user_id=1, event_id=1, ts=_ts(20)),
            Row(user_id=1, event_id=2, ts=_ts(2)),   # before any right
            Row(user_id=2, event_id=3, ts=_ts(15)),  # user with no right
        ])
        right = spark.createDataFrame([
            Row(user_id=1, ts=_ts(5), mark="a"),
            Row(user_id=1, ts=_ts(10), mark="b"),    # simultaneous w/ 0
            Row(user_id=1, ts=_ts(18), mark="c"),
        ])
        return left, right

    def test_most_recent_at_or_before(self, spark):
        left, right = self._frames(spark)
        out = asof_join(left, right, on="user_id")
        got = {r.event_id: r.asof_mark for r in out.collect()}
        assert got[0] == "b"      # ts == left ts matches (<= contract)
        assert got[1] == "c"
        assert got[2] is None     # nothing at or before
        assert got[3] is None     # key never in right
        assert out.count() == left.count()

    def test_tolerance_discards_stale(self, spark):
        left, right = self._frames(spark)
        out = asof_join(left, right, on="user_id",
                        tolerance_seconds=60.0)
        got = {r.event_id: r.asof_mark for r in out.collect()}
        assert got[0] == "b"      # 0 s old
        assert got[1] is None     # 2 min old > 1 min tolerance
        assert got[3] is None

    def test_matches_naive_reference(self, spark):
        rng = random.Random(7)
        lrows = [Row(user_id=rng.randrange(5), event_id=i,
                     ts=_ts(rng.randrange(59), rng.randrange(59)))
                 for i in range(120)]
        rrows = [Row(user_id=rng.randrange(5),
                     ts=_ts(rng.randrange(59), rng.randrange(59)),
                     mark=f"m{i}")
                 for i in range(60)]
        out = asof_join(spark.createDataFrame(lrows),
                        spark.createDataFrame(rrows), on="user_id")
        got = {r.event_id: r.asof_ts for r in out.collect()}
        for lr in lrows:
            cands = [rr.ts for rr in rrows
                     if rr.user_id == lr.user_id and rr.ts <= lr.ts]
            want = max(cands) if cands else None
            assert got[lr.event_id] == want, lr

    def test_single_exchange(self, spark):
        left, right = self._frames(spark)
        assert _n_exchanges(asof_join(left, right, on="user_id")) == 1

    def test_forward_direction(self, spark):
        left, right = self._frames(spark)
        out = asof_join(left, right, on="user_id", direction="forward")
        got = {r.event_id: r.asof_mark for r in out.collect()}
        assert got[0] == "b"      # equal ts matches (>= contract)
        assert got[1] is None     # nothing at or after 0:20
        assert got[2] == "a"      # next right after 0:02 is 0:05
        assert got[3] is None     # key never in right

    def test_forward_tolerance(self, spark):
        left, right = self._frames(spark)
        out = asof_join(left, right, on="user_id", direction="forward",
                        tolerance_seconds=60.0)
        got = {r.event_id: r.asof_mark for r in out.collect()}
        assert got[0] == "b"      # 0 s ahead
        assert got[2] is None     # 3 min ahead > 1 min tolerance

    def test_forward_matches_naive_reference(self, spark):
        rng = random.Random(11)
        lrows = [Row(user_id=rng.randrange(5), event_id=i,
                     ts=_ts(rng.randrange(59), rng.randrange(59)))
                 for i in range(120)]
        rrows = [Row(user_id=rng.randrange(5),
                     ts=_ts(rng.randrange(59), rng.randrange(59)),
                     mark=f"m{i}")
                 for i in range(60)]
        out = asof_join(spark.createDataFrame(lrows),
                        spark.createDataFrame(rrows), on="user_id",
                        direction="forward")
        got = {r.event_id: r.asof_ts for r in out.collect()}
        for lr in lrows:
            cands = [rr.ts for rr in rrows
                     if rr.user_id == lr.user_id and rr.ts >= lr.ts]
            want = min(cands) if cands else None
            assert got[lr.event_id] == want, lr

    def test_bad_direction_rejected(self, spark):
        left, right = self._frames(spark)
        with pytest.raises(ValueError, match="unknown direction"):
            asof_join(left, right, on="user_id", direction="nearest")


SPEC_V1 = {"type": "object", "required": ["role"], "properties": {
    "role": {"type": "string",
             "enum": ["system", "user", "assistant", "tool"]}}}
SPEC_V2 = {"type": "object", "required": ["role", "text"], "properties": {
    "role": {"type": "string", "enum": ["user", "assistant"]},
    "text": {"type": "string", "minLength": 2}}}


class TestMultiSpec:
    def _df(self, spark):
        rows = [
            Row(conv_id="a", turn_idx=0, spec_id="v1", role="user",
                text="hi"),
            Row(conv_id="a", turn_idx=1, spec_id="v1", role="robot",
                text="x"),                       # v1: enum violation
            Row(conv_id="b", turn_idx=0, spec_id="v2", role="tool",
                text="y"),                       # v2: enum + minLength
            Row(conv_id="b", turn_idx=1, spec_id="v2", role="user",
                text="ok"),
            Row(conv_id="c", turn_idx=0, spec_id="v9", role="user",
                text="zz"),                      # unregistered version
            Row(conv_id="c", turn_idx=1, spec_id=None, role="user",
                text="zz"),                      # NULL version
        ]
        return spark.createDataFrame(rows)

    def test_routing_and_unknown(self, spark):
        rep = multi_spec_validate(
            self._df(spark), {"v1": SPEC_V1, "v2": SPEC_V2})
        s = rep.summary()
        assert s["rows"] == 6
        assert s["valid_rows"] == 2               # a0 and b1
        v = {(r.conv_id, r.turn_idx, r.code)
             for r in rep.violations.collect()}
        assert ("a", 1, "NotInEnum") in v
        assert ("b", 0, "NotInEnum") in v and ("b", 0, "TooShort") in v
        assert ("c", 0, "UnknownSpecVersion") in v
        assert ("c", 1, "UnknownSpecVersion") in v
        # the routed verdicts equal each engine's own verdict on its slice
        for sid, spec in (("v1", SPEC_V1), ("v2", SPEC_V2)):
            solo = ValidationEngine(spec).validate(
                self._df(spark).filter(F.col("spec_id") == sid))
            routed = rep.flagged.filter(F.col("spec_id") == sid)
            assert sorted((r.conv_id, r.turn_idx, r.valid)
                          for r in routed.collect()) == \
                sorted((r.conv_id, r.turn_idx, r.valid)
                       for r in solo.flagged.collect())

    def test_null_message_renders_null_token(self, spark):
        rep = multi_spec_validate(self._df(spark), {"v1": SPEC_V1})
        msgs = [r.message for r in rep.violations
                .filter(F.col("conv_id") == "c").collect()]
        assert any('"null" is not registered' in m for m in msgs)
        assert any('"v2" is not registered' not in m for m in msgs)

    def test_shuffle_free(self, spark):
        rep = multi_spec_validate(
            self._df(spark), {"v1": SPEC_V1, "v2": SPEC_V2})
        assert _n_exchanges(rep.flagged) == 0

    def test_violations_are_the_flagged_arrays_exploded(self, spark):
        # the violation rows of each version's own plan (filter, then
        # render) equal its flagged arrays exploded, also under shared
        # validity helper columns (oneOf) and a Python-stage pattern
        one_of = {"type": "object", "properties": {"text": {"oneOf": [
            {"type": "string", "maxLength": 1},
            {"type": "string", "pattern": "^[a-z]+$"}]}}}
        lookbehind = {"type": "object", "properties": {
            "text": {"type": "string", "pattern": "(?<=h)i"}}}
        df = self._df(spark)
        assert ValidationEngine(one_of).plan_for(df).shared_cols
        assert ValidationEngine(lookbehind).plan_for(df).has_python_stage
        rep = multi_spec_validate(df, {"v1": one_of, "v2": lookbehind})
        cols = ["conv_id", "turn_idx", "spec_id"]
        want = (rep.flagged.filter(F.size("violations") > 0)
                .select(*cols, F.explode("violations").alias("v"))
                .select(*cols, "v.instance_path", "v.code", "v.message"))
        got = sorted(map(tuple, rep.violations.collect()))
        assert got == sorted(map(tuple, want.collect()))
        assert {r[4] for r in got} == {
            "MultipleSubschemasMatched", "PatternMismatch",
            "UnknownSpecVersion"}

    def test_empty_specs_rejected(self, spark):
        with pytest.raises(ValueError, match="at least one spec"):
            multi_spec_validate(self._df(spark), {})


class TestTurnLatency:
    def test_gaps_sums_and_stale(self, spark):
        import datetime as dt
        from json_schema_rs_spark.operators.temporal import (
            turn_latency_stats)
        t0 = dt.datetime(2026, 3, 1, 12, 0, 0)
        s = dt.timedelta(seconds=1)
        rows = [
            ("A", 0, t0), ("A", 1, t0 + 2 * s),        # gap 2s
            ("A", 2, t0 + 2 * s + dt.timedelta(microseconds=500_000)),
            # gap 0.5s — sub-second exactness
            ("A", 3, t0 + 100 * s),                    # gap 97.5s (stale)
            ("B", 0, t0),                               # single turn
            ("C", 0, t0 + 10 * s), ("C", 1, t0),        # NEGATIVE gap
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, ts timestamp")
        out = {r.conv_id: r for r in turn_latency_stats(
            df, stale_seconds=60).collect()}
        assert "B" not in out                 # no gaps -> absent
        a = out["A"]
        assert (a.n_gaps, a.sum_gap_us, a.max_gap_us, a.n_stale) == \
            (3, 100_000_000, 97_500_000, 1)
        assert a.avg_gap_sec == round(100.0 / 3, 6)
        c = out["C"]                          # negative gap measured as-is
        assert (c.n_gaps, c.sum_gap_us, c.max_gap_us, c.n_stale) == \
            (1, -10_000_000, -10_000_000, 0)

    def test_single_exchange_fused_aggregate(self, spark):
        import datetime as dt
        from json_schema_rs_spark.operators.temporal import (
            turn_latency_stats)
        df = spark.createDataFrame(
            [("A", 0, dt.datetime(2026, 3, 1)),
             ("A", 1, dt.datetime(2026, 3, 2))],
            "conv_id string, turn_idx int, ts timestamp")
        v = turn_latency_stats(df)
        plan = v._jdf.queryExecution().executedPlan().toString()
        # the aggregate rides the window's conv_id hash partitioning
        assert plan.count("Exchange") == 1


class TestRolePairLatency:
    def test_pairs_and_null_roles(self, spark):
        import datetime as dt
        from json_schema_rs_spark.operators.temporal import (
            role_pair_latency)
        t0 = dt.datetime(2026, 3, 1, 12, 0, 0)
        s = dt.timedelta(seconds=1)
        rows = [
            ("A", 0, "user", t0),
            ("A", 1, "assistant", t0 + 2 * s),   # user->assistant 2s
            ("A", 2, "user", t0 + 5 * s),        # assistant->user 3s
            ("A", 3, "assistant", t0 + 9 * s),   # user->assistant 4s
            ("B", 0, None, t0),
            ("B", 1, "assistant", t0 + s),       # NULL->assistant 1s
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, ts timestamp")
        out = {(r.prev_role, r.role): (r.n, r.sum_gap_us, r.max_gap_us,
                                       r.avg_gap_sec)
               for r in role_pair_latency(df).collect()}
        assert out == {
            ("user", "assistant"): (2, 6_000_000, 4_000_000, 3.0),
            ("assistant", "user"): (1, 3_000_000, 3_000_000, 3.0),
            (None, "assistant"): (1, 1_000_000, 1_000_000, 1.0),
        }

    def test_two_exchanges_window_then_tiny_agg(self, spark):
        import datetime as dt
        from json_schema_rs_spark.operators.temporal import (
            role_pair_latency)
        df = spark.createDataFrame(
            [("A", 0, "u", dt.datetime(2026, 3, 1)),
             ("A", 1, "a", dt.datetime(2026, 3, 2))],
            "conv_id string, turn_idx int, role string, ts timestamp")
        v = role_pair_latency(df)
        plan = v._jdf.queryExecution().executedPlan().toString()
        # conv window exchange + the |roles|^2-key aggregate exchange;
        # the aggregate is map-side combined so only pair keys move
        assert plan.count("Exchange") == 2
        assert "partial" in plan.lower()


class TestSplitConversations:
    def test_split_renumber_and_clean_identity(self, spark):
        from pyspark.sql import functions as F
        from json_schema_rs_spark.operators.temporal import (
            split_conversations)
        rows = [
            # conv A: two sessions (gap 1h between idx 1 and 2)
            ("A", 0, "2024-01-01 10:00:00"),
            ("A", 1, "2024-01-01 10:05:00"),
            ("A", 2, "2024-01-01 11:30:00"),
            ("A", 3, "2024-01-01 11:31:00"),
            # conv B: already clean
            ("B", 0, "2024-01-01 09:00:00"),
            ("B", 1, "2024-01-01 09:10:00"),
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, ts string") \
            .withColumn("ts", F.to_timestamp("ts"))
        out = {(r.conv_id, r.turn_idx): (r.new_conv_id, r.new_turn_idx)
               for r in split_conversations(df,
                                            gap_seconds=1800).collect()}
        assert out[("A", 0)] == ("A:0", 0)
        assert out[("A", 1)] == ("A:0", 1)
        assert out[("A", 2)] == ("A:1", 0)   # new conversation at gap
        assert out[("A", 3)] == ("A:1", 1)
        # clean conversation maps 1:1 (seq 0, same indices)
        assert out[("B", 0)] == ("B:0", 0)
        assert out[("B", 1)] == ("B:0", 1)

    def test_single_exchange_plan(self, spark):
        from pyspark.sql import functions as F
        from json_schema_rs_spark.operators.temporal import (
            split_conversations)
        df = spark.createDataFrame(
            [("A", 0, "2024-01-01 10:00:00")],
            "conv_id string, turn_idx int, ts string") \
            .withColumn("ts", F.to_timestamp("ts"))
        plan = split_conversations(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan.count("Exchange") <= 2  # conv hash + nothing per-seq
        # all three windows ride one partitioning: exactly one hashpartitioning of conv_id
        assert plan.count("hashpartitioning") <= 2

    def test_repaired_table_passes_gapfree(self, spark):
        from pyspark.sql import functions as F
        from json_schema_rs_spark.operators.table_checks import (
            turn_gap_violations, uniqueness_violations)
        from json_schema_rs_spark.operators.temporal import (
            split_conversations)
        rows = [("C", i, f"2024-01-01 10:{i:02d}:00") for i in range(3)] \
            + [("C", i, f"2024-01-02 10:{i:02d}:00") for i in range(3, 5)]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, ts string") \
            .withColumn("ts", F.to_timestamp("ts"))
        rep = split_conversations(df, gap_seconds=3600) \
            .select(F.col("new_conv_id").alias("conv_id"),
                    F.col("new_turn_idx").alias("turn_idx"), "ts")
        assert uniqueness_violations(rep).count() == 0
        assert turn_gap_violations(rep).count() == 0
