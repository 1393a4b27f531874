"""Traced run: per-layer metrics from job groups and a Spark event log.

Each call into a layer's public function runs under its own Spark job
group, named after the layer. Spark writes an uncompressed event log;
after the session stops, task metrics are summed per job group.
Attribution is by job group, not by call site: a PySpark write shows up
as ``parquet at NativeMethodAccessorImpl.java:0`` whichever layer issued
it. Streaming micro-batches run under the query's run id, which maps to
the ``streaming.stateful`` layer.

Spans (name, start, end, parent) are kept in memory and saved with the
result. The ledger call inside ``cli.main`` is a child span of ``cli``
with its own job group; every other span's parent is the workload run.
"""

from __future__ import annotations

import contextlib
import glob
import inspect
import json
import math
import os
import shutil
import statistics
import time
from collections import defaultdict

import gen
import run

# the SQL metric of the Python stage of applyInPandasWithState
PYTHON_TIME_METRIC = "time to run python workers"
# The stream probe reads its own small input from the same seed. A
# micro-batch costs ~1.7 s at 4 state partitions and ~40 s at the CLI's
# default 200 shuffle partitions (measured on 4 CPUs), so the probe pins
# the state partitions to nproc. The input has no duplicated keys: the
# streaming checks have no duplicate-key check, and a duplicated key
# would make a conversation's order depend on arrival order.
STREAM_PROBE = gen.Shape(666, 0.02, gen.ROW_KINDS + tuple(
    k for k in gen.CROSS_KINDS if k != "dup_key"), 3)


class Tracer:
    def __init__(self, spark, root: str) -> None:
        self.sc = spark.sparkContext
        self.t0 = time.perf_counter()
        self.spans = [{"name": root, "parent": None, "start": 0.0}]
        self.open = [root]  # spans in progress, outermost first
        self.sc.setJobGroup(root, root)

    def __call__(self, name: str, fn):
        """Run ``fn`` under job group ``name`` inside a span, a child of
        the span in progress; returns (result, wall seconds). The
        enclosing span's job group is restored afterwards."""
        span = {"name": name, "parent": self.open[-1],
                "start": time.perf_counter() - self.t0}
        self.open.append(name)
        self.sc.setJobGroup(name, name)
        try:
            out = fn()
        finally:
            self.open.pop()
            self.sc.setJobGroup(self.open[-1], self.open[-1])
            span["end"] = time.perf_counter() - self.t0
            self.spans.append(span)
        return out, span["end"] - span["start"]

    def close(self) -> None:
        self.spans[0]["end"] = time.perf_counter() - self.t0


def read_event_log(trace_dir: str) -> dict:
    """Task and job totals per job group from one uncompressed event log
    (Spark 4 writes it as ``eventlog_v2_<app>/events_<n>_<app>`` files)."""
    paths = sorted(glob.glob(os.path.join(trace_dir, "*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    stage_group: dict = {}
    groups: dict = defaultdict(lambda: defaultdict(float))
    for path in paths:
        with open(path) as f:
            lines = f.readlines()
        for line in lines:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id",
                                                     "none")
                groups[g]["jobs"] += 1
                for s in ev["Stage IDs"]:
                    stage_group.setdefault(s, g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"], "none")
                tm = ev.get("Task Metrics") or {}
                acc = groups[g]
                acc["tasks"] += 1
                acc["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                acc["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                       + tm.get("Disk Bytes Spilled", 0))
                acc["input_rows"] += (tm.get("Input Metrics") or {}).get(
                    "Records Read", 0)
                acc["output_bytes"] += (tm.get("Output Metrics") or {}).get(
                    "Bytes Written", 0)
                acc["shuffle_write_bytes"] += (
                    tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if str(a.get("Name", "")).lower() == PYTHON_TIME_METRIC:
                        acc["python_s"] += float(a.get("Update", 0)) / 1e3
    return {g: dict(v) for g, v in groups.items()}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def ladder(tr: Tracer, runner: run.Runner) -> tuple:
    """Calls into each layer on the workload's input, each under the job
    group of its layer: scan -> conditions -> render -> cross-row ->
    fused. Each step runs once; one round keeps a traced run within its
    time limit. Returns (walls by group, counts)."""
    from json_schema_rs_spark.functions.exprs import explode_rows
    from json_schema_rs_spark.operators.pipeline import cross_row_violations
    from json_schema_rs_spark.operators.runner import ValidationEngine

    spark, keys = runner.spark, ["conv_id", "turn_idx"]
    df = spark.read.parquet(runner.inp)

    def compile_plan():
        return ValidationEngine(gen.SPEC, key_cols=keys).plan_for(df)

    plan, compile_s = tr("plans", compile_plan)

    def conditions():
        return plan.prepare(df).filter(plan.any_violation())

    def rendered():
        return (explode_rows(conditions(), keys, plan.violations_array(), "v")
                .select(*keys, "v.instance_path", "v.code", "v.message"))

    def cross(protocol=True):
        if not protocol:
            return cross_row_violations(df)
        return cross_row_violations(df, role_protocol=run.role_protocol(),
                                    tool_pairing=True)

    wall = {"plans": compile_s}
    steps = [("scan", lambda: _noop(df.select(*df.columns))),
             ("operators.runner", lambda: _noop(conditions())),
             ("functions.exprs", lambda: _noop(rendered())),
             ("operators.pipeline.cross_row", lambda: _noop(cross())),
             ("operators.pipeline.cross_row_base",
              lambda: _noop(cross(protocol=False))),
             ("operators.pipeline", lambda: _noop(runner.pipeline()))]
    for name, fn in steps:
        _, wall[name] = tr(name, fn)
    counts = {"plans.checks": len(plan.checks)}
    counts["functions.exprs.render_rows"], _ = tr(
        "functions.exprs.count", lambda: rendered().count())
    counts["operators.pipeline.cross_row_rows"], _ = tr(
        "operators.pipeline.cross_row.count", lambda: cross().count())
    return wall, counts


def ledger_chunks() -> int:
    """Chunks ``run_checkpointed_validation`` runs for the CLI's bucket
    count, from the default ``buckets_per_chunk`` of the code under test
    (``cli validate`` does not pass one)."""
    from json_schema_rs_spark.sources.ledger import run_checkpointed_validation
    per_chunk = inspect.signature(run_checkpointed_validation).parameters[
        "buckets_per_chunk"].default
    return math.ceil(run.CLI_BUCKETS / per_chunk)


@contextlib.contextmanager
def traced_ledger(tr: Tracer):
    """Inside the block, every ``run_checkpointed_validation`` call runs
    as a ``sources.ledger`` span under that job group; yields the list of
    their walls. ``cli validate`` looks the function up in its module
    when it runs, so the ledger call inside ``cli.main`` is traced."""
    from json_schema_rs_spark.sources import ledger
    inner, walls = ledger.run_checkpointed_validation, []

    def traced(*args, **kwargs):
        out, wall = tr("sources.ledger", lambda: inner(*args, **kwargs))
        walls.append(wall)
        return out

    ledger.run_checkpointed_validation = traced
    try:
        yield walls
    finally:
        ledger.run_checkpointed_validation = inner


def cli_call(tr: Tracer, m: run.Measurement, runner: run.Runner) -> dict:
    """One ``cli.main`` call whose inner ledger call is traced on its
    own, so the ledger's and the CLI's own costs come from one call."""
    with traced_ledger(tr) as walls:
        call = m.call(runner, "cli_validate")
    call["ledger_wall"] = sum(walls)
    return call


def same_rows(cli_calls: list, fused: dict) -> None:
    """Make the check of a fused-pipeline call on the input of the
    ``cli validate`` calls also assert that both wrote the same multiset
    of full violation rows (once per traced run)."""
    cli_out = [c for c in cli_calls if "glob" in c]
    if cli_out and "glob" in fused:
        fused["same_rows_as"] = cli_out[-1]["glob"]


def stream_probe(tr: Tracer, m: run.Measurement, spark, seed: int) -> dict:
    manifest = gen.build(run.WORK, seed, STREAM_PROBE)
    probe = run.Runner(spark, manifest, os.path.join(m.out, "stream_probe"),
                       m.seq)
    default = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(run.NPROC))
    try:
        call, _ = tr("streaming.stateful", probe.stream)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)
    call["want"] = run.expected_for(manifest, streaming=True)
    call["turns"] = manifest["turns"]
    m.calls.append(call)
    return call


def traced_run(m: run.Measurement, seconds: float, seed: int) -> dict:
    """First the workload as in an untraced run: set-up, warm-up and
    ``seconds`` of timed calls. Then the session restarts in the same JVM
    with an event log and job groups, for every layer's calls and
    ``seconds`` of the workload's own calls. The tracing overhead is the
    difference between the two timed windows."""
    spark, runner, setup_s = m.setup()
    untraced = run.turns_per_s(m, m.measure(runner, seconds))
    spark.stop()

    trace_dir = os.path.join(run.WORK, "eventlog")
    shutil.rmtree(trace_dir, ignore_errors=True)
    spark = run.session(trace_dir)
    runner = run.Runner(spark, m.manifest, m.out, m.seq)
    host = run.host_block(spark)
    tr = Tracer(spark, f"{m.name} run")
    wall, counts = ladder(tr, runner)
    # The workload's own entry point is cli.main or the fused pipeline
    # writing parquet (the sink layer's call); the other one runs once.
    calls = {"cli": lambda: cli_call(tr, m, runner),
             "sink": lambda: m.call(runner, "fused")}
    entry = "cli" if m.method == "cli_validate" else "sink"
    other = "sink" if entry == "cli" else "cli"
    other_calls = [tr(other, calls[other])[0]]
    timed = []
    end = time.perf_counter() + seconds
    while not timed or time.perf_counter() < end:
        timed.append(tr(entry, calls[entry])[0])
    stream = stream_probe(tr, m, spark, seed)
    tr.close()
    spark.stop()
    groups = read_event_log(trace_dir)
    by_entry = {"cli": timed, "sink": other_calls} if entry == "cli" \
        else {"cli": other_calls, "sink": timed}
    same_rows(by_entry["cli"], by_entry["sink"][0])

    traced = run.turns_per_s(m, timed)
    fastest = {k: min(c["wall"] for c in v) for k, v in by_entry.items()}
    return {
        "host": host,
        "end_to_end": {"turns_per_s": untraced,
                       "setup_s": {"value": setup_s, "unit": "s",
                                   "samples": 1}},
        "per_layer": layer_metrics(
            wall, counts, fastest, by_entry["cli"], stream, groups,
            {k: len(v) for k, v in by_entry.items()}, m.manifest),
        "tracing_overhead": {
            "untraced_turns_per_s": untraced["value"],
            "traced_turns_per_s": traced["value"],
            "traced_minus_untraced_turns_per_s":
                traced["value"] - untraced["value"],
            "share": traced["value"] / untraced["value"] - 1,
            "samples": {"untraced": untraced["samples"],
                        "traced": traced["samples"]}},
        "job_groups": groups,
        "spans": tr.spans,
        "stream_probe": {"turns": stream["turns"],
                         "turns_per_s": stream["turns"] / stream["wall"],
                         "shuffle_partitions": run.NPROC,
                         "files_per_trigger": run.STREAM_FILES_PER_TRIGGER},
    }


def layer_metrics(wall, counts, fastest, cli_calls, stream, groups,
                  n_calls, manifest) -> dict:
    """Per-layer metrics, each as {"value", "unit"}. Differences of walls
    of separate calls use each call's fastest run. The ledger's walls
    are those of the ledger calls inside the ``cli.main`` calls, and
    ``cli.overhead_s`` is the median of each ``cli.main`` call's wall
    minus that of the ledger call inside it."""
    def g(group, key, per=1):
        return groups.get(group, {}).get(key, 0.0) / per

    out = {}

    def put(name, value, unit):
        out[name] = {"value": value, "unit": unit}

    sink_noop = wall["operators.pipeline"]
    n_cli = n_calls["cli"]
    ledger_wall = statistics.median(c["ledger_wall"] for c in cli_calls)
    put("cli.overhead_s", statistics.median(
        c["wall"] - c["ledger_wall"] for c in cli_calls), "s")
    put("sources.ledger.wall_s", ledger_wall, "s")
    jobs = g("sources.ledger", "jobs", n_cli)
    put("sources.ledger.jobs", jobs, "count")
    put("sources.ledger.jobs_per_chunk", jobs / ledger_chunks(), "count")
    # rows, not bytes: the tasks' "Bytes Read" undercounts parquet scans
    # on this Spark build (see NOTES.md)
    ledger_in = g("sources.ledger", "input_rows", n_cli)
    put("sources.ledger.input_rows", ledger_in, "count")
    put("sources.ledger.scan_amplification",
        ledger_in / manifest["turns"], "ratio")
    put("sources.ledger.overhead_s", ledger_wall - fastest["sink"], "s")
    put("plans.compile_s", wall["plans"], "s")
    put("plans.checks", counts["plans.checks"], "count")
    put("scan.read_s", wall["scan"], "s")
    put("scan.input_rows", g("scan", "input_rows"), "count")
    put("operators.runner.conditions_s", wall["operators.runner"], "s")
    put("functions.exprs.render_s",
        wall["functions.exprs"] - wall["operators.runner"], "s")
    put("functions.exprs.render_rows",
        counts["functions.exprs.render_rows"], "count")
    put("operators.pipeline.cross_row_s",
        wall["operators.pipeline.cross_row"], "s")
    put("operators.pipeline.shuffle_write_bytes",
        g("operators.pipeline", "shuffle_write_bytes"), "bytes")
    put("operators.pipeline.spill_bytes",
        g("operators.pipeline", "spill_bytes"), "bytes")
    put("operators.pipeline.cross_row_rows",
        counts["operators.pipeline.cross_row_rows"], "count")
    # what the role-protocol and tool-pairing checks add to the cross-row
    # branch (ROADMAP 2a's "protocol +79 %")
    put("operators.pipeline.protocol_s",
        wall["operators.pipeline.cross_row"]
        - wall["operators.pipeline.cross_row_base"], "s")
    put("operators.pipeline.fused_s", sink_noop, "s")
    put("sink.write_s", fastest["sink"] - sink_noop, "s")
    put("sink.output_bytes", g("sink", "output_bytes", n_calls["sink"]),
        "bytes")
    run_id = stream["run_id"]
    put("streaming.stateful.python_s", g(run_id, "python_s"), "s")
    put("streaming.stateful.state_rows_peak", stream["state_rows_peak"],
        "count")
    put("streaming.stateful.state_bytes_peak", stream["state_bytes_peak"],
        "bytes")
    put("streaming.stateful.batches", len(stream["batch_s"]), "count")
    put("streaming.stateful.dropped_by_watermark",
        stream["dropped_by_watermark"], "count")
    put("streaming.stateful.batch_p50_s",
        statistics.median(stream["batch_s"]), "s")
    layers = {"cli": ("cli", n_calls["cli"]),
              "sources.ledger": ("sources.ledger", n_cli),
              "scan": ("scan", 1),
              "operators.runner": ("operators.runner", 1),
              "functions.exprs": ("functions.exprs", 1),
              "operators.pipeline": ("operators.pipeline", 1),
              "sink": ("sink", n_calls["sink"]),
              "streaming.stateful": (run_id, 1)}
    for layer, (group, per) in layers.items():
        put(f"{layer}.cpu_s", g(group, "cpu_s", per), "s")
        put(f"{layer}.gc_s", g(group, "gc_s", per), "s")
        put(f"{layer}.tasks", g(group, "tasks", per), "count")
    return out
