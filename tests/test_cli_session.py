"""The CLI's session sizes its shuffles to the cores of a local master,
unless ``spark.sql.shuffle.partitions`` was set anywhere.

The sessions under test need a fresh JVM (the test session already pins
the key), so they run in a subprocess."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from json_schema_rs_spark import cli  # noqa: E402

KEY = "spark.sql.shuffle.partitions"

SESSIONS = """\
import json, re
from pyspark import SparkConf, SparkContext
from json_schema_rs_spark import cli
from json_schema_rs_spark.operators.pipeline import transcript_pipeline

KEY = "spark.sql.shuffle.partitions"
APP = "json_schema_rs_spark.validate"
got = {}

# nothing set: the CLI's session writes shuffles as many ways as cores
spark = cli.build_session(APP, "local[3]")
got["unset"] = spark.conf.get(KEY)
df = spark.createDataFrame(
    [("c0", 0, "user", "hi"), ("c0", 2, "assistant", "")],
    "conv_id string, turn_idx int, role string, text string")
plan = transcript_pipeline(
    df, {"type": "object",
         "properties": {"text": {"type": "string", "minLength": 1}}},
    ts_col=None, role_protocol=([("user", "assistant")], ["user"]),
)._jdf.queryExecution().executedPlan().toString()
got["exchanges"] = plan.count("Exchange")
got["conv_id_exchanges"] = len(re.findall(
    r"Exchange hashpartitioning\\(conv_id#\\d+, 3\\)", plan))

# a value set on the live session is kept by the next build_session
spark.conf.set(KEY, "7")
got["live_session"] = cli.build_session(APP, "local[3]").conf.get(KEY)
spark.stop()

# a value preset in SparkConf (spark-submit --conf, spark-defaults) is kept
SparkContext.getOrCreate(SparkConf().setMaster("local[3]").set(KEY, "5"))
got["spark_conf"] = cli.build_session(APP, "local[3]").conf.get(KEY)
print(json.dumps(got))
"""


def test_build_session_sizes_shuffles_to_local_cores(tmp_path):
    script = tmp_path / "sessions.py"
    script.write_text(SESSIONS)
    proc = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": REPO,
             "PYSPARK_SUBMIT_ARGS":
                 "--conf spark.ui.enabled=false pyspark-shell",
             "PYSPARK_PYTHON": sys.executable,
             "PYSPARK_DRIVER_PYTHON": sys.executable})
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == {"unset": "3", "exchanges": 1, "conv_id_exchanges": 1,
                   "live_session": "7", "spark_conf": "5"}


class _Conf:
    def __init__(self, values):
        self.values = values

    def get(self, key, default):
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value


class _Session:
    """Stands in for a SparkSession: a master, its parallelism, a conf."""

    def __init__(self, master, values=None):
        self.sparkContext = type("Context", (), {
            "master": master, "defaultParallelism": 6})()
        self.conf = _Conf(dict(values or {}))


def test_only_local_masters_are_resized():
    for master, want in [("local", "6"), ("local[*]", "6"),
                         ("local[6,2]", "6"), ("yarn", None),
                         ("spark://host:7077", None),
                         ("local-cluster[2,1,1024]", None),
                         ("k8s://https://host:443", None)]:
        s = _Session(master)
        cli._size_local_shuffles(s)
        assert s.conf.values.get(KEY) == want, master


def test_a_set_value_always_wins():
    s = _Session("local[4]", {KEY: "200"})
    cli._size_local_shuffles(s)
    assert s.conf.values[KEY] == "200"
