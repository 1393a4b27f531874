"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

The headline metric is **validated turns/sec** (BASELINE.json `metric`):
the full north-rule pipeline — row-local spec validation + uniqueness +
gap-free ordering + monotonic-ts + role/tool referential checks — over a
deterministic synthetic transcript table (seeded, violation-injected),
with every result forced through a `noop` sink so the whole plan executes.

Per-query seconds for the operator suite at the sf dir ride along in
"queries". Scaling-efficiency evidence (local[8] vs local[32]) is produced
by tools/scaling_run.py and recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TURNS = int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", "2000000"))
TURNS_PER_CONV = 50


def _force(df) -> None:
    """Execute the full plan, all columns, no sink cost."""
    df.write.format("noop").mode("overwrite").save()


def _transcripts_path(spark) -> str:
    """Seeded synthetic transcript parquet (written once per shape)."""
    path = f"/tmp/bench_transcripts_{TURNS}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from json_schema_rs_spark.sources.synth import synth_distributed
        synth_distributed(
            spark, TURNS // TURNS_PER_CONV, TURNS_PER_CONV,
            violation_rate=0.02, partitions=max(CPUS * 2, 32),
        ).write.mode("overwrite").parquet(path)
    return path


def _pipeline(spark, path, protocol: bool = False):
    """The north-rule validation pipeline over the transcript table —
    the fused two-branch plan (operators/pipeline.py): zero-shuffle row
    checks + one skinny conv_id shuffle for all cross-row checks.
    ``protocol=True`` additionally fuses the role-DFA + tool-pairing
    checks into that same shuffle (evidence they ride ~free)."""
    from json_schema_rs_spark.operators.pipeline import transcript_pipeline
    from json_schema_rs_spark.sources.synth import ROLES, TOOLS

    spec = {
        "type": "object",
        "required": ["conv_id", "turn_idx", "role", "text"],
        "properties": {
            "role": {"type": "string", "enum": ROLES},
            "text": {"type": "string", "minLength": 1, "maxLength": 4000,
                     "pattern": "[0-9a-f]"},
            "turn_idx": {"type": "integer", "minimum": 0, "maximum": 100000},
        },
    }
    kw = {}
    if protocol:
        kw = dict(role_protocol=(
            [("system", "user"), ("user", "assistant"),
             ("assistant", "user"), ("assistant", "tool"),
             ("tool", "assistant"), ("tool", "tool")],
            ["system", "user"]), tool_pairing=True)
    tx = spark.read.parquet(path)
    return transcript_pipeline(tx, spec, vocabularies={"tool": TOOLS}, **kw)


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder
        .master(f"local[{CPUS}]")
        .appName("json_schema_rs_spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # sf0.1 tables land in 1-3 parquet files; the default 128m split
        # gives scan-bound single-pass aggregates only 1-3 cores. At real
        # scale the table IS many files — finer splits locally reproduce
        # that parallelism instead of benchmarking a 1-core scan.
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Firecracker guests fault in heap pages lazily (kernel-time spikes
        # mid-benchmark); pre-touching the heap once makes timings stable.
        .config("spark.driver.extraJavaOptions",
                "-XX:+AlwaysPreTouch -XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    def timed(build, runs: int = 3) -> tuple[float, float, float]:
        """``(best_compile_sec, best_exec_sec, median_exec_sec)``.

        Each run re-invokes ``build`` (thunk → DataFrame) and then forces
        the built DataFrame; the two phases are timed SEPARATELY so the
        artifact distinguishes driver-side plan construction (paid once
        per spec at real scale — includes any eager driver work such as
        stats.profile's aggregate collect) from executor time (the thing
        throughput is graded on). ``exec_sec`` of a freshly built
        DataFrame is directly comparable to the round-1 protocol (force
        of a pre-built plan). Best-of-N because this host shows bursty
        neighbor-steal noise (2-3x swings between identical runs); the
        MEDIAN exec is recorded alongside (the scaling protocol's
        estimator) so round-over-round deltas carry their own noise
        context instead of needing BASELINE.md exegesis."""
        best_c = best_e = float("inf")
        execs = []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            _force(df)
            t2 = time.perf_counter()
            best_c = min(best_c, t1 - t0)
            best_e = min(best_e, t2 - t1)
            execs.append(t2 - t1)
        return best_c, best_e, sorted(execs)[len(execs) // 2]

    qsecs: dict[str, float] = {}
    csecs: dict[str, float] = {}
    msecs: dict[str, float] = {}
    for name, fn in entry_mod.queries().items():
        print(f"bench: {name}", file=sys.stderr, flush=True)
        c, e, m = timed(lambda: fn(spark, SF_DIR), runs=3)
        qsecs[name] = round(e, 3)
        csecs[name] = round(c, 3)
        msecs[name] = round(m, 3)

    # headline throughput: full validation pipeline over TURNS turns,
    # computed from exec time only (plan compile is per-spec, not per-row)
    path = _transcripts_path(spark)
    comp, elapsed, med = timed(lambda: _pipeline(spark, path), runs=3)
    turns_per_sec = TURNS / elapsed
    qsecs["validate_pipeline"] = round(elapsed, 3)
    csecs["validate_pipeline"] = round(comp, 3)
    msecs["validate_pipeline"] = round(med, 3)
    # same pipeline + conversation-protocol checks fused into the same
    # single conv_id shuffle — the delta vs validate_pipeline is the
    # full cost of the protocol at this scale
    pcomp, pelapsed, pmed = timed(
        lambda: _pipeline(spark, path, protocol=True), runs=3)
    qsecs["validate_pipeline_protocol"] = round(pelapsed, 3)
    csecs["validate_pipeline_protocol"] = round(pcomp, 3)
    msecs["validate_pipeline_protocol"] = round(pmed, 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": "validated_turns_per_sec",
        "value": round(turns_per_sec, 1),
        "unit": "sec",
        "queries": qsecs,           # exec_sec: force of the built plan (r1-comparable)
        "compile_sec": csecs,       # driver-side thunk build, paid once per spec
        "exec_median_sec": msecs,   # median-of-3 exec: the noise-robust estimator
        "timing": "best-of-3 (+ median-of-3 in exec_median_sec); "
                  "exec_sec = force of freshly built DataFrame",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
        "turns": TURNS,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
