"""True `spark-submit --py-files` end-to-end run (north-rule run mode).

Packages the library as a zip, launches a FRESH Spark JVM via the real
spark-submit binary with the zip on --py-files, validates a synthetic
violation-injected transcript table through the CLI, and checks the
reference exit-code contract (non-zero on any violation,
`cli/mod.rs:132-135`) plus the violations + ledger sink layout. This is
the deployment shape the in-process CLI tests can't cover: the package
must import from the zip alone, on driver AND executors.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")

RUNNER = """\
import sys
from pyspark.sql import SparkSession
from json_schema_rs_spark.cli import main
rc = main()
print("shuffle.partitions="
      + SparkSession.getActiveSession().conf.get("spark.sql.shuffle.partitions"))
sys.exit(rc)
"""

SPEC = {
    "type": "object",
    "required": ["conv_id", "turn_idx", "role", "text"],
    "properties": {
        "role": {"type": "string",
                 "enum": ["system", "user", "assistant", "tool"]},
        "text": {"type": "string", "minLength": 1, "maxLength": 4000},
        "turn_idx": {"type": "integer", "minimum": 0},
    },
}


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    from json_schema_rs_spark.sources.synth import synth_transcripts

    # input: violation-injected transcripts written by the test session
    inp = str(tmp_path / "transcripts")
    synth_transcripts(spark, n_conversations=40, turns_per_conv=10,
                      violation_rate=0.1).write.parquet(inp)

    # the deployable artifact: the package zipped, nothing else
    zip_path = shutil.make_archive(
        str(tmp_path / "engine"), "zip",
        root_dir=REPO, base_dir="json_schema_rs_spark")
    runner = str(tmp_path / "runner.py")
    with open(runner, "w") as f:
        f.write(RUNNER)
    spec_path = str(tmp_path / "spec.json")
    with open(spec_path, "w") as f:
        json.dump(SPEC, f)

    out = str(tmp_path / "out")
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--py-files", zip_path, runner,
         "validate", "--spec", spec_path, "--input", inp,
         "--output", out, "--run-id", "submit-smoke", "--buckets", "4",
         "--table-checks"],
        capture_output=True, text=True, timeout=420,
        # a clean env proves imports resolve from the zip, not the repo
        env={**os.environ, "PYTHONPATH": "",
             "PYSPARK_PYTHON": sys.executable,
             "PYSPARK_DRIVER_PYTHON": sys.executable},
        cwd=str(tmp_path),
    )

    # exit-code contract: violations were injected -> non-zero
    assert proc.returncode == 1, proc.stderr[-3000:]
    # spark-submit routes the runner's stderr through stdout on some
    # launcher paths — assert on the combined output
    assert "validation failed with" in (proc.stdout + proc.stderr)

    # the summary JSON line is on stdout
    summary = next(json.loads(ln) for ln in proc.stdout.splitlines()
                   if ln.startswith("{"))
    assert summary["run_id"] == "submit-smoke"
    assert summary["n_buckets"] == 4
    assert len(summary["processed_buckets"]) == 4
    assert summary["remaining_buckets"] == []
    # a value passed with --conf wins over the CLI's one-per-core rule
    assert "shuffle.partitions=4" in proc.stdout.splitlines()

    # sinks: violations parquet + ledger parquet exist and are readable
    violations = spark.read.parquet(f"{out}/violations")
    assert violations.count() > 0
    assert {"conv_id", "turn_idx", "code", "message"} <= set(violations.columns)
    ledger = spark.read.parquet(f"{out}/ledger")
    led = ledger.filter(ledger.run_id == "submit-smoke")
    assert led.count() >= 4     # one row per bucket chunk at least
    total = sum(r["violation_count"] for r in led.collect())
    assert total == violations.count()
