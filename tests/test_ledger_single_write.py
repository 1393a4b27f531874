"""The ledger runner writes each chunk's violations once: bucket labels
come from the expression that selected the chunk, and the ledger counts
come from that write."""

import json
import os

import pytest
from pyspark.sql import functions as F

from json_schema_rs_spark import ValidationEngine
from json_schema_rs_spark.operators.pipeline import transcript_pipeline
from json_schema_rs_spark.sources.ledger import (
    ValidationLedger,
    run_checkpointed_validation,
    spec_fingerprint,
)
from json_schema_rs_spark.sources.synth import synth_transcripts_pandas
from test_ledger_cli_streaming import (
    PROTOCOL,
    SCHEMA,
    SPEC,
    WIDER_SPEC,
    _cli_protocol_inputs,
)

TABLE_CHECKS = dict(table_checks=True, role_protocol=PROTOCOL,
                    tool_pairing=True)
COUNTS = ("rows", "valid_rows", "violation_count")


@pytest.fixture(scope="module")
def tdf(spark):
    pdf = synth_transcripts_pandas(n_conversations=80, turns_per_conv=6,
                                   seed=11, violation_rate=0.15)
    return spark.createDataFrame(pdf, schema=SCHEMA).cache()


def _bucket(n_buckets):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def _violation_rows(df):
    return sorted(map(tuple, df.select(
        "conv_id", "turn_idx", "instance_path", "code", "message").collect()))


def test_strict_spec_sees_only_the_source_columns(spark, tdf, tmp_path):
    # additionalProperties: false flags any column the spec does not
    # name, so a helper column added by the runner would fail every row
    spec = {**SPEC, "additionalProperties": False,
            "properties": {**SPEC["properties"], "conv_id": {},
                           "turn_idx": {}, "tool": {}, "ts": {}}}
    out = str(tmp_path / "strict")
    s = run_checkpointed_validation(spark, tdf, spec, out, run_id="s",
                                    n_buckets=4, route_rows=True)
    direct = ValidationEngine(spec).validate(tdf)
    want = direct.summary()
    assert 0 < want["valid_rows"] < want["rows"]
    assert (s["rows"], s["valid_rows"], s["violation_count"]) == (
        want["rows"], want["valid_rows"], want["violation_count"])
    assert (_violation_rows(spark.read.parquet(f"{out}/violations"))
            == _violation_rows(direct.violations))
    routed = spark.read.parquet(f"{out}/routed")
    assert routed.filter("valid = 'true'").count() == want["valid_rows"]


def test_null_key_violations_keep_their_bucket(spark, tdf, tmp_path):
    n = 8
    df = tdf.limit(30).unionByName(spark.createDataFrame(
        [(None, 0, "bogus", "x", None, None),
         ("c-null-idx", None, "user", "", None, None)], SCHEMA))
    out = str(tmp_path / "nullkeys")
    run_checkpointed_validation(spark, df, SPEC, out, run_id="nk",
                                n_buckets=n, buckets_per_chunk=3,
                                **TABLE_CHECKS)
    viol = spark.read.parquet(f"{out}/violations")
    assert viol.filter(F.col("conv_id").isNull()).count() > 0
    assert viol.filter(F.col("turn_idx").isNull()).count() > 0
    assert viol.filter(F.col("bucket").isNull()
                       | (F.col("bucket") != _bucket(n))).count() == 0
    assert not [d for d, _, _ in os.walk(out)
                if "__HIVE_DEFAULT_PARTITION__" in d]


def _jobs(spark, group, fn):
    """Spark jobs launched by ``fn()``, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_at_most_three_jobs_per_chunk(spark, tdf, tmp_path):
    # the violation write (a shuffle map stage for the cross-row branch
    # plus the write itself) and the ledger append. The source is parquet,
    # as in `cli validate`: a not yet materialized cached input would add
    # the cache's own jobs to the first run
    tdf.write.parquet(str(tmp_path / "src"))
    src = spark.read.parquet(str(tmp_path / "src"))
    kw = dict(n_buckets=16, buckets_per_chunk=4, **TABLE_CHECKS)
    setup = _jobs(spark, "ledger-setup", lambda: run_checkpointed_validation(
        spark, src, SPEC, str(tmp_path / "a"), run_id="j",
        fail_after_chunks=0, **kw))
    full = _jobs(spark, "ledger-full", lambda: run_checkpointed_validation(
        spark, src, SPEC, str(tmp_path / "b"), run_id="j", **kw))
    assert (full - setup) / 4 <= 3


@pytest.mark.parametrize("options", [TABLE_CHECKS, dict(route_rows=True)],
                         ids=["table_checks", "route_rows"])
def test_ledger_counts_match_written_rows(spark, tdf, tmp_path, options):
    n = 8
    out = str(tmp_path / "counts")
    run_checkpointed_validation(spark, tdf, SPEC, out, run_id="c",
                                n_buckets=n, buckets_per_chunk=3, **options)
    ledger = {r["bucket"]: r for r in
              ValidationLedger(spark, f"{out}/ledger").entries("c").collect()}
    assert sorted(ledger) == list(range(n))
    written = {r["bucket"]: r["count"] for r in spark.read.parquet(
        f"{out}/violations").groupBy("bucket").count().collect()}
    rows_in = {r["b"]: r["count"] for r in tdf.groupBy(
        _bucket(n).alias("b")).count().collect()}
    for b, r in ledger.items():
        assert r["violation_count"] == written.get(b, 0)
        assert r["rows"] == rows_in.get(b, 0)
    if options.get("route_rows"):
        clean = {r["bucket"]: r["count"] for r in spark.read.parquet(
            f"{out}/routed").filter("valid = 'true'")
            .groupBy("bucket").count().collect()}
        for b, r in ledger.items():
            assert r["valid_rows"] == clean.get(b, 0)


def test_cli_call_answers_from_its_own_counts(spark, tdf, tmp_path,
                                              capsys):
    # a fresh call: input schema inference, the lineage write, the
    # chunk's shuffle map stage and write, the ledger append. A rerun of
    # the finished run: schema inference and the one ledger read
    from json_schema_rs_spark import cli
    src, spec_f, proto_f = _cli_protocol_inputs(tdf, tmp_path)
    out = str(tmp_path / "out")
    argv = ["validate", "--spec", spec_f, "--input", src, "--output", out,
            "--run-id", "jc", "--buckets", "4", "--protocol", proto_f]
    rcs = []
    fresh = _jobs(spark, "cli-fresh", lambda: rcs.append(cli.main(argv)))
    capsys.readouterr()
    rerun = _jobs(spark, "cli-rerun", lambda: rcs.append(cli.main(argv)))
    captured = capsys.readouterr()
    assert fresh <= 5
    assert rerun <= 2
    assert rcs == [1, 1]
    total = ValidationLedger(spark, f"{out}/ledger").entries("jc").agg(
        F.sum("violation_count")).collect()[0][0]
    assert total > 0
    assert f"validation failed with {total} error(s)" in captured.err
    summary = json.loads(captured.out.strip().splitlines()[-1])
    assert summary["processed_buckets"] == []
    assert summary["run_totals"]["violation_count"] == total


def test_resume_under_another_spec_is_refused(spark, tdf, tmp_path):
    out = str(tmp_path / "twospecs")
    kw = dict(run_id="ts", n_buckets=8, buckets_per_chunk=2)
    run_checkpointed_validation(spark, tdf, SPEC, out, fail_after_chunks=1,
                                **kw)

    def written():
        return sorted(tuple(r) for r in spark.read.parquet(
            f"{out}/violations").collect())

    before = written()
    assert before
    with pytest.raises(ValueError) as e:
        run_checkpointed_validation(spark, tdf, WIDER_SPEC, out, **kw)
    assert spec_fingerprint(SPEC) in str(e.value)
    assert spec_fingerprint(WIDER_SPEC) in str(e.value)
    assert written() == before


def test_run_totals_cover_skipped_and_processed_buckets(spark, tdf,
                                                        tmp_path):
    out = str(tmp_path / "totals")
    kw = dict(run_id="rt", n_buckets=8, buckets_per_chunk=3,
              **TABLE_CHECKS)
    first = run_checkpointed_validation(spark, tdf, SPEC, out,
                                        fail_after_chunks=1, **kw)
    second = run_checkpointed_validation(spark, tdf, SPEC, out, **kw)
    ledger = ValidationLedger(spark, f"{out}/ledger").entries("rt").agg(
        *[F.sum(k).alias(k) for k in COUNTS]).collect()[0].asDict()
    assert first["run_totals"] == {k: first[k] for k in COUNTS}
    assert second["run_totals"] == ledger
    assert ledger == {k: first[k] + second[k] for k in COUNTS}
    assert ledger["rows"] == tdf.count()


@pytest.mark.parametrize("n_buckets,buckets_per_chunk",
                         [(0, 4), (-2, 4), (4, 0)])
def test_bucket_counts_below_one_are_refused(spark, tdf, tmp_path,
                                             n_buckets, buckets_per_chunk):
    out = str(tmp_path / "nobuckets")
    with pytest.raises(ValueError) as e:
        run_checkpointed_validation(spark, tdf, SPEC, out,
                                    n_buckets=n_buckets,
                                    buckets_per_chunk=buckets_per_chunk)
    assert str(min(n_buckets, buckets_per_chunk)) in str(e.value)
    assert not os.path.exists(out)


def test_cli_refuses_zero_buckets(spark, tdf, tmp_path):
    from json_schema_rs_spark import cli
    src, spec_f, _ = _cli_protocol_inputs(tdf, tmp_path)
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="n_buckets"):
        cli.main(["validate", "--spec", spec_f, "--input", src,
                  "--output", out, "--buckets", "0"])
    assert not os.path.exists(out)


def test_first_run_does_not_read_missing_plans(spark, tdf, tmp_path,
                                               monkeypatch):
    from pyspark.sql.readwriter import DataFrameReader
    asked = []
    real = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        asked.extend(paths)
        return real(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    out = str(tmp_path / "fresh")
    run_checkpointed_validation(spark, tdf, SPEC, out, n_buckets=4)
    assert f"{out}/plans" not in asked
    assert os.path.isdir(f"{out}/plans")


def _pipeline_rows(df, spec):
    return _violation_rows(transcript_pipeline(
        df, spec, role_protocol=PROTOCOL, tool_pairing=True))


def test_chunk_writes_the_rows_of_transcript_pipeline(spark, tdf, tmp_path):
    # `cli validate` runs the ledger chunk; the benchmark runs
    # transcript_pipeline. Both must write the same multiset of rows
    out = str(tmp_path / "parity")
    run_checkpointed_validation(spark, tdf, SPEC, out, run_id="p",
                                n_buckets=8, buckets_per_chunk=3,
                                **TABLE_CHECKS)
    got = _violation_rows(spark.read.parquet(f"{out}/violations"))
    assert got == _pipeline_rows(tdf, SPEC)
    assert {r[3] for r in got} >= {"NotInEnum", "BadRoleTransition"}


def test_python_stage_chunk_plans_only_the_cross_row_exchange(
        spark, tdf, tmp_path, monkeypatch):
    # an ECMA-fallback pattern is the one Python stage a ledger spec can
    # compile; on a one-partition source the chunk must not repartition
    # ahead of it, so its write plans only the cross-row conv_id shuffle
    from pyspark.sql.readwriter import DataFrameWriter
    spec = {**SPEC, "properties": {
        **SPEC["properties"],
        "text": {"type": "string", "pattern": "(?<!zzz) bravo"}}}
    tdf.coalesce(1).write.parquet(str(tmp_path / "src"))
    src = spark.read.parquet(str(tmp_path / "src"))
    assert src.rdd.getNumPartitions() == 1
    assert ValidationEngine(spec).plan_for(src).has_python_stage
    plans = []
    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if "/violations/" in path:
            plans.append(
                self._df._jdf.queryExecution().executedPlan().toString())
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    out = str(tmp_path / "out")
    run_checkpointed_validation(spark, src, spec, out, run_id="g",
                                n_buckets=4, **TABLE_CHECKS)
    assert len(plans) == 1
    assert plans[0].count("Exchange") == 1, plans[0]
    assert "Exchange hashpartitioning(conv_id" in plans[0], plans[0]
    got = _violation_rows(spark.read.parquet(f"{out}/violations"))
    assert got == _pipeline_rows(src, spec)
    assert "PatternMismatch" in {r[3] for r in got}
