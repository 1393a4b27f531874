"""Driver-gate parity: every ``__spark_entry__.queries()`` entry must match
its DuckDB ``oracle_sql()`` twin (row count + schema + order-insensitive
canonical values) at the test scale factor, through the same gate runner
as ``tools/oracle_check.py``."""

import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from tests.test_entry_contract import NO_ORACLE  # noqa: E402
from tools.oracle_check import duck_con, run_gate  # noqa: E402

QUERIES = sorted(entry_mod.queries())


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_con(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    [(_, status, detail)] = run_gate(spark, duck, entry_mod, sf_dir, [name])
    assert status == ("NO_ORACLE" if name in NO_ORACLE else "PASS"), detail


def test_enum_stream_removes_its_temp_dir(spark, sf_dir, tmp_path,
                                          monkeypatch):
    """The streaming entry stages its input in a temp directory and
    must remove it; its rows are the batch v_enum rows."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stream = entry_mod.queries()["v_enum_stream"]
    runs = [sorted(stream(spark, sf_dir).collect()) for _ in range(2)]
    assert not list(tmp_path.glob("v_enum_stream_*"))
    batch = sorted(entry_mod.queries()["v_enum"](spark, sf_dir).collect())
    assert runs[0] == runs[1] == batch
    assert batch


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert df.columns == ["conv_id", "turn_idx", "instance_path", "code",
                          "message"]


def test_ivf_recall_vs_exact(spark, sf_dir):
    """IVF is approximate: its gate is recall against brute force at the
    same k. Measured curve on this corpus (random 64-dim embeddings,
    n_centroids=16): nprobe=2 -> 0.85-0.88, nprobe=4 -> 0.90 at both
    sf0.001 and sf0.01 — probing the query's own bucket plus its 4
    nearest centroids recovers most true neighbors. Floor 0.6 leaves
    refresh margin while staying far above the 25% random-scan fraction
    (the old 0.10 floor was vacuous)."""
    exact = {(r.query_id, r.neighbor_id)
             for r in entry_mod.queries()["a_cosine_topk"](spark, sf_dir).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in entry_mod.queries()["a_ivf_topk"](spark, sf_dir).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall {recall:.2f} below curve floor"
    # the trained-centroid entry (production shape) must do at least as
    # well as the untrained floor — k-means balances buckets, it must
    # not cost recall at the same nprobe
    trained = {(r.query_id, r.neighbor_id)
               for r in entry_mod.queries()["a_ivf_topk_trained"](
                   spark, sf_dir).collect()}
    t_recall = len(exact & trained) / len(exact)
    assert t_recall >= 0.6, f"trained IVF recall {t_recall:.2f} below floor"


def _shingles(text):
    ws = text.split(" ")
    return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}


def _jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


DUP_ENTRIES = ["d_dup_groups", "d_dedup_report", "x_soft_dedup",
               "d_canonical_docs", "d_conv_canonical"]


def test_near_dup_entries_pin_the_jaccard_threshold(spark, tmp_path):
    """The dedup family joins pairs at 3-gram Jaccard >= 0.8 only: over
    a corpus holding one pair above the threshold and one pair between
    0.3 and 0.8, each entry still matches its oracle."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = ("the quick brown fox jumps over the lazy dog while a small "
            "cat sleeps near the warm red fire in an old stone house")
    near = base.rsplit(" ", 1)[0] + " barn"
    other = ("spark reads parquet files then plans a shuffle before the "
             "window sorts each partition and writes rows to disk")
    half = " ".join(other.split(" ")[:12]
                    + "with many small tasks that finish very fast".split())
    alone = ("an unrelated note about tea cups, saucers and spoons laid "
             "out on a long wooden table for guests")
    texts = [base, near, other, half, alone]
    assert _jaccard(base, near) >= 0.8
    assert 0.3 <= _jaccard(other, half) < 0.8
    assert 0.3 <= _jaccard("<|user|>\n" + other, "<|user|>\n" + half) < 0.8

    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.table({
        "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
        "text": texts,
        "lang": ["en"] * len(texts),
        "source": ["src0"] * len(texts),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), str(sf / "documents.parquet"))
    # one single-turn conversation per text: the rendered conversations
    # keep the texts' pairwise Jaccard
    t0 = datetime.datetime(2024, 1, 1)
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(texts)), pa.int64()),
        "ts": pa.array([t0 + datetime.timedelta(minutes=i)
                        for i in range(len(texts))], pa.timestamp("us")),
        "user_id": pa.array(range(len(texts)), pa.int64()),
        "event_type": ["click"] * len(texts),
        "value": pa.array([1.0] * len(texts), pa.float64()),
        "props": texts,
    }), str(sf / "events.parquet"))

    con = duck_con(str(sf))
    try:
        got = list(run_gate(spark, con, entry_mod, str(sf), DUP_ENTRIES))
    finally:
        con.close()
    assert [(n, s) for n, s, _ in got] == [(n, "PASS") for n in DUP_ENTRIES], got
