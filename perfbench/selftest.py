"""Self-test of the benchmark's correctness checking, at a tiny size.

    python3 perfbench/selftest.py

Run from the root of a checkout. On small inputs with every defect kind
it asserts that

- the DuckDB oracle equals the engine's output for ``cli validate``, the
  fused pipeline and the stateful stream;
- ``cli validate`` and the fused pipeline write the same multiset of
  full violation rows;
- an output with one violation row dropped fails its check, so the run's
  error rate is no longer 0.

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import glob
import os
import sys

import pyarrow.parquet as pq

import gen
import oracle
import run
import tracing
from run import Measurement, Runner, check, expected_for

SEED = 7
BATCH = gen.Shape(300, 0.3, run.ALL_KINDS, 4)
STREAM = gen.Shape(300, 0.3, tracing.STREAM_PROBE.kinds, 4)


def drop_one_row(files_glob: str, out_dir: str) -> str:
    """Copy of an output with its first violation row removed."""
    os.makedirs(out_dir, exist_ok=True)
    dropped = False
    for i, path in enumerate(sorted(glob.glob(files_glob, recursive=True))):
        t = pq.read_table(path)
        if not dropped and t.num_rows:
            t, dropped = t.slice(1), True
        pq.write_table(t, os.path.join(out_dir, f"part-{i:05d}.parquet"))
    assert dropped, "output has no rows to drop"
    return f"{out_dir}/*.parquet"


def main() -> int:
    run.prepare_environment()
    work = os.path.join(run.WORK, "selftest")
    batch = gen.build(work, SEED, BATCH)
    stream_in = gen.build(work, SEED, STREAM)
    want = expected_for(batch)
    want_stream = expected_for(stream_in, streaming=True)

    m = Measurement("cli_validate", batch, want)
    run.become_subreaper()
    try:
        spark = run.session()
        runner = Runner(spark, batch, m.out, m.seq)
        cli_call = m.call(runner)
        fused_call = m.call(runner, "fused")
        fused_call["same_rows_as"] = cli_call["glob"]
        streamer = Runner(spark, stream_in, os.path.join(m.out, "stream"),
                          m.seq)
        spark.conf.set("spark.sql.shuffle.partitions", str(run.NPROC))
        stream_call = streamer.stream()
    finally:
        run.stop_jvm()
    stream_call["want"] = want_stream
    m.calls.append(stream_call)

    results = {
        "oracle == cli validate": check(cli_call, want) is None,
        "oracle == fused pipeline": check(fused_call, want) is None,
        "oracle == stateful stream": check(stream_call, want_stream) is None,
        "cli rows == fused rows": oracle.full_rows_equal(
            cli_call["glob"], fused_call["glob"]),
        "no violation row dropped by the watermark":
            stream_call["dropped_by_watermark"] == 0,
    }
    m.verify()
    results["error rate 0 on engine output"] = not m.failures
    tampered = {"wall": fused_call["wall"], "glob": drop_one_row(
        fused_call["glob"], os.path.join(m.out, "tampered"))}
    m.calls.append(tampered)
    m.verify()
    results["tampered output counts as a failed run"] = (
        len(m.failures) == 1 and len(m.failures) / len(m.calls) > 0)
    print(f"oracle: {want['rows']} batch rows {want['by_code']}")
    print(f"stream oracle: {want_stream['rows']} rows")
    for name, ok in results.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    print(f"error rate with the tampered run: "
          f"{len(m.failures)}/{len(m.calls)}")
    return 0 if all(results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
