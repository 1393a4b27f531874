"""Benchmark of the transcript validator's public entry points.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process runs one workload at
``local[nproc]`` on a seeded input generated (and cached) outside every
timed region, and prints a report line followed, as the last line, by
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reruns the workload with job groups
and a Spark event log and reports the per-layer metrics. NOTES.md
explains the workloads, the metrics and how to read them.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(HERE, ".work")
NPROC = len(os.sched_getaffinity(0))
MASTER = f"local[{NPROC}]"
DRIVER_MEMORY = "2g"
# keeps the launcher and driver JVMs from writing /tmp/hsperfdata_<user>
NO_PERF_DATA = "-XX:-UsePerfData"
ALL_KINDS = gen.ROW_KINDS + gen.CROSS_KINDS
# Conversations have 5, 9 or 13 turns (9 on average). The two inputs
# differ only in their defect rate, so fused_clean and fused_dirty
# differ only in what rendering, exploding and writing rows costs.
CLEAN = gen.Shape(11_111, 0.02, ALL_KINDS, 20)    # ~100k turns
DIRTY = gen.Shape(11_111, 0.40, ALL_KINDS, 20)    # ~106k turns
STREAM_FILES_PER_TRIGGER = 1
# One ledger chunk at the default four buckets per chunk. A warm call
# cost ~5 s on ~20k turns on 4 CPUs, against ~10 s at 8 buckets and
# 11-17 s at 16, so a run has room for more than one timed call.
CLI_BUCKETS = 4


def role_protocol():
    return ([tuple(t) for t in gen.ALLOWED_TRANSITIONS],
            list(gen.ALLOWED_FIRST))


class Runner:
    """Workload calls against one input. Each call writes to a fresh
    directory under ``out`` and returns what its check needs."""

    def __init__(self, spark, manifest: dict, out: str, seq) -> None:
        self.spark = spark
        self.inp = manifest["path"]
        self.out = out
        self.seq = seq
        os.makedirs(out, exist_ok=True)
        self.spec_path = os.path.join(out, "spec.json")
        self.protocol_path = os.path.join(out, "protocol.json")
        with open(self.spec_path, "w") as f:
            json.dump(gen.SPEC, f)
        with open(self.protocol_path, "w") as f:
            json.dump(gen.PROTOCOL, f)

    def new_dir(self, tag: str) -> str:
        return os.path.join(self.out, f"{tag}-{next(self.seq):04d}")

    def cli_args(self, out: str) -> list:
        return ["validate", "--spec", self.spec_path, "--input", self.inp,
                "--output", out, "--protocol", self.protocol_path,
                "--buckets", str(CLI_BUCKETS)]

    def cli_validate(self) -> dict:
        from json_schema_rs_spark import cli
        out = self.new_dir("cli")
        sink = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(sink), contextlib.redirect_stderr(sink):
            rc = cli.main(self.cli_args(out))
        wall = time.perf_counter() - t0
        return {"wall": wall, "exit_code": rc,
                "glob": f"{out}/violations/**/*.parquet"}

    def pipeline(self):
        from json_schema_rs_spark.operators.pipeline import transcript_pipeline
        df = self.spark.read.parquet(self.inp)
        return transcript_pipeline(df, gen.SPEC,
                                   role_protocol=role_protocol(),
                                   tool_pairing=True)

    def fused(self) -> dict:
        out = self.new_dir("fused")
        t0 = time.perf_counter()
        self.pipeline().write.parquet(out)
        return {"wall": time.perf_counter() - t0, "glob": f"{out}/*.parquet"}

    def stream(self) -> dict:
        from json_schema_rs_spark.streaming.stateful import (
            stateful_transcript_checks,
        )
        out = self.new_dir("stream")
        schema = self.spark.read.parquet(self.inp).schema
        t0 = time.perf_counter()
        src = (self.spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", STREAM_FILES_PER_TRIGGER)
               .parquet(self.inp))
        q = (stateful_transcript_checks(src, role_protocol=role_protocol(),
                                        tool_pairing=True)
             .writeStream.format("parquet").outputMode("append")
             .option("path", f"{out}/rows")
             .option("checkpointLocation", f"{out}/checkpoint")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        wall = time.perf_counter() - t0
        progress = q.recentProgress
        state = [p["stateOperators"][0] for p in progress
                 if p.get("stateOperators")]
        return {"wall": wall, "glob": f"{out}/rows/*.parquet",
                "run_id": str(q.runId),
                "batch_s": [p["durationMs"]["triggerExecution"] / 1e3
                            for p in progress],
                "state_rows_peak": max((s["numRowsTotal"] for s in state),
                                       default=0),
                "state_bytes_peak": max((s["memoryUsedBytes"] for s in state),
                                        default=0),
                "dropped_by_watermark": sum(s["numRowsDroppedByWatermark"]
                                            for s in state)}


WORKLOADS = {
    # name: (input shape, Runner method, untimed warm-up calls after
    # set-up). Calls keep speeding up for several calls after the cold one
    # while the JVM compiles; a count, not a time, keeps that warm state
    # the same when the host is slower.
    "cli_validate": (CLEAN, "cli_validate", 1),
    "fused_clean": (CLEAN, "fused", 6),
    "fused_dirty": (DIRTY, "fused", 6),
}


def expected_for(manifest: dict, streaming: bool = False) -> dict:
    """Oracle summary, cached next to the input it describes."""
    path = os.path.join(os.path.dirname(manifest["path"]),
                        f"oracle_{'stream' if streaming else 'batch'}.json")
    if not os.path.exists(path):
        with open(path + ".tmp", "w") as f:
            json.dump(oracle.expected(manifest["path"], streaming=streaming),
                      f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def check(call: dict, want: dict) -> str | None:
    """Why a finished call is wrong, or None when it matches the oracle."""
    if "error" in call:
        return call["error"]
    if "exit_code" in call and call["exit_code"] != (1 if want["rows"] else 0):
        return f"exit code {call['exit_code']}"
    got = oracle.observed(call["glob"])
    if got != want:
        return f"output {got['by_code']} != oracle {want['by_code']}"
    if "same_rows_as" in call and not oracle.full_rows_equal(
            call["same_rows_as"], call["glob"]):
        return "violation rows differ from those of cli validate"
    return None


def session(trace_dir: str | None = None):
    """The CLI's own session (``cli.build_session``) on ``local[nproc]``
    with a stated driver memory. The other settings only keep every file
    Spark writes inside the work directory, and, when tracing, turn on an
    uncompressed event log."""
    from pyspark import SparkConf, SparkContext

    from json_schema_rs_spark import cli
    tmp = os.environ["TMPDIR"]
    conf = (SparkConf().setMaster(MASTER)
            .set("spark.driver.memory", DRIVER_MEMORY)
            .set("spark.local.dir", tmp)
            .set("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} {NO_PERF_DATA}")
            .set("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
            .set("spark.eventLog.enabled", str(bool(trace_dir)).lower()))
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
        conf.set("spark.eventLog.dir", trace_dir) \
            .set("spark.eventLog.compress", "false")
    SparkContext.getOrCreate(conf)
    spark = cli.build_session("json_schema_rs_spark.validate", MASTER)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(grace_s: float = 30.0) -> None:
    """Stop the active session and the JVM behind it, and wait until
    every process this one started has ended: the JVM and, beneath it,
    the Python workers. ``spark.stop()`` alone leaves the JVM running
    until this process exits, and it would outlive the run by a few
    seconds."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    tree = descendants()
    for active in (SparkSession._instantiatedSession,  # noqa: SLF001
                   SparkContext._active_spark_context):  # noqa: SLF001
        if active is not None:
            with contextlib.suppress(Exception):
                active.stop()
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
    # the next session launches a fresh JVM
    SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
    if proc is not None:
        # the JVM exits when its stdin closes (pyspark's own contract)
        with contextlib.suppress(OSError):
            proc.stdin.close()
        with contextlib.suppress(subprocess.TimeoutExpired):
            proc.wait(grace_s)  # a JVM still running is killed below
    reap(tree)


def descendants() -> set:
    """Pids of every live process below this one."""
    children: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, todo = set(), [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def reap(extra=()) -> None:
    """Terminate, then kill, every process below this one (and the given
    pids, which may have been orphaned meanwhile), and wait for all."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = {p for p in descendants() | set(extra) if alive(p)}
        for p in pids:
            with contextlib.suppress(OSError):
                os.kill(p, sig)
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            with contextlib.suppress(ChildProcessError):
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            if not any(alive(p) for p in pids):
                break
            time.sleep(0.05)
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass


def become_subreaper() -> None:
    """Orphaned descendants (Python workers of a JVM that has exited) are
    re-parented to this process instead of init, so ``reap`` finds
    them."""
    import ctypes
    pr_set_child_subreaper = 36
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                      ctypes.c_ulong, ctypes.c_ulong]
    prctl.restype = ctypes.c_int
    prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def host_block(spark) -> dict:
    import pyarrow
    import pyspark
    jvm = spark._jvm  # noqa: SLF001
    conf = dict(spark.sparkContext.getConf().getAll())
    sql = {k: spark.conf.get(k) for k in (
        "spark.sql.adaptive.enabled", "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.session.timeZone", "spark.sql.shuffle.partitions")}
    return {
        "nproc": NPROC, "master": MASTER, "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0], "driver_memory": DRIVER_MEMORY,
        "comparable_with": f"results with nproc={NPROC} only",
        "session_config": {**{k: v for k, v in sorted(conf.items())
                              if not k.startswith("spark.app.")
                              and k not in ("spark.driver.host",
                                            "spark.driver.port")},
                           **sql},
    }


class Measurement:
    """One process's calls of one workload: a set-up, a timed closed loop,
    and the oracle check of every call."""

    def __init__(self, name: str, manifest: dict, want: dict) -> None:
        self.name = name
        self.manifest = manifest
        self.want = want
        _, self.method, self.warmup_calls = WORKLOADS[name]
        self.calls: list = []
        self.failures: list = []
        self.out = os.path.join(WORK, "out", name)
        self.seq = itertools.count(1)
        shutil.rmtree(self.out, ignore_errors=True)

    def call(self, runner: Runner, method: str | None = None) -> dict:
        try:
            c = getattr(runner, method or self.method)()
        except Exception:  # noqa: BLE001 - a failed call is a failed run
            c = {"wall": float("nan"), "error": traceback.format_exc(limit=3)}
        self.calls.append(c)
        return c

    def setup(self, trace_dir: str | None = None):
        """Session creation through the first (untimed) warm-up call."""
        t0 = time.perf_counter()
        spark = session(trace_dir)
        runner = Runner(spark, self.manifest, self.out, self.seq)
        self.call(runner)
        return spark, runner, time.perf_counter() - t0

    def loop(self, runner: Runner, seconds: float) -> list:
        """Closed loop, one caller: call, wait, repeat until ``seconds``."""
        timed = []
        end = time.perf_counter() + seconds
        while True:
            timed.append(self.call(runner))
            if time.perf_counter() >= end:
                return timed

    def measure(self, runner: Runner, seconds: float) -> list:
        """The workload's untimed warm-up calls, then the timed loop."""
        for _ in range(self.warmup_calls):
            self.call(runner)
        return self.loop(runner, seconds)

    def verify(self) -> None:
        """Check every call made so far against the oracle."""
        for c in self.calls:
            if "why" not in c:
                c["why"] = check(c, c.get("want", self.want))
                if c["why"]:
                    self.failures.append(c["why"])


def turns_per_s(m: Measurement, timed: list) -> dict:
    """Median over the timed calls that did not raise."""
    ok = [c for c in timed if "error" not in c] or timed
    return {"value": statistics.median(m.manifest["turns"] / c["wall"]
                                       for c in ok),
            "unit": "turns/s", "samples": len(ok),
            "call_walls_s": [c["wall"] for c in timed]}


def prepare_environment() -> None:
    """Exit with code 2 unless the package imports from the checkout;
    point every temporary file of this process, the JVM and its Python
    workers into the work directory."""
    try:
        import json_schema_rs_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        sys.exit(2)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_DATA
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    prepare_environment()
    become_subreaper()
    # a SIGTERM unwinds through the teardown below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    shape = WORKLOADS[args.workload][0]
    manifest = gen.build(WORK, args.seed, shape)
    want = expected_for(manifest)
    m = Measurement(args.workload, manifest, want)

    try:
        if args.trace:
            import tracing
            report = tracing.traced_run(m, args.seconds, args.seed)
        else:
            report = untraced_run(m, args.seconds)
    finally:
        stop_jvm()
    m.verify()
    report["end_to_end"]["error_rate"] = {
        "value": len(m.failures) / len(m.calls), "unit": "ratio",
        "samples": len(m.calls)}
    report = {"workload": args.workload, "seed": args.seed,
              "input": {k: manifest[k] for k in ("turns", "bytes_on_disk")},
              "oracle": want, "failures": m.failures[:5], **report}
    metrics = report["per_layer" if args.trace else "end_to_end"]
    save(report, args)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": not m.failures, "attempted": len(m.calls),
        "failed": len(m.failures),
        "metrics": {k: {"value": metrics[k]["value"],
                        "unit": metrics[k]["unit"]}
                    for k in reported_names(args.trace)}}))
    return 0


def untraced_run(m: Measurement, seconds: float) -> dict:
    # One cold set-up per run: it launches the JVM, and a second one
    # would cost as much again (see NOTES.md).
    spark, runner, setup_s = m.setup()
    timed = m.measure(runner, seconds)
    return {"host": host_block(spark), "end_to_end": {
        "turns_per_s": turns_per_s(m, timed),
        "setup_s": {"value": setup_s, "unit": "s", "samples": 1}}}


def reported_names(trace: int) -> list:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [x["name"] for x in spec["per_layer" if trace else "end_to_end"]]


def save(report: dict, args) -> None:
    d = os.path.join(WORK, "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{args.workload}_s{args.seed}_t{args.trace}"
                              ".json"), "w") as f:
        json.dump(report, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
