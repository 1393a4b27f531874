"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship transcript-validation pipeline on
/root/testdata/sf0.001; ``queries()`` exposes every implemented operator
from SURVEY.md §2 (validation keywords, table-level checks, stats/drift,
dedup, similarity, text analysis, multimodal) as (spark, sf_dir) ->
DataFrame; ``oracle_sql()`` gives the DuckDB-runnable ANSI SQL twin for
each (tables region nation customer supplier part orders lineitem events
documents embeddings are pre-registered views).

Column names are aliased identically on both sides; float outputs are
either bitwise-deterministic (integer-derived divisions) or rounded to a
fixed precision in BOTH engines.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from json_schema_rs_spark import ValidationEngine
from json_schema_rs_spark.functions.exprs import arrow_local_df
from json_schema_rs_spark.operators import (
    decontam, dedup, expectations, json_mode, multimodal, packing, prep,
    runner, sampling, similarity, stats, table_checks, temporal, textstats)
from json_schema_rs_spark.plans import infer
from json_schema_rs_spark.sources import jsonl
from json_schema_rs_spark.streaming import validate_stream


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _violations(spark: SparkSession, sf_dir: str, table: str, spec: dict,
                key_cols: tuple[str, ...], **kw) -> DataFrame:
    """Row-check violations of ``spec`` over one table."""
    return ValidationEngine(spec, key_cols=key_cols, **kw) \
        .validate(_t(spark, sf_dir, table)).violations


# ---------------------------------------------------------------------------
# Flagship: events -> transcript shape -> full validation pipeline
# ---------------------------------------------------------------------------

FLAGSHIP_SPEC = {
    "type": "object",
    "required": ["conv_id", "turn_idx", "role", "text"],
    "properties": {
        "role": {"type": "string",
                 "enum": ["system", "user", "assistant", "tool"]},
        "text": {"type": "string", "minLength": 10, "maxLength": 4000},
        "turn_idx": {"type": "integer", "minimum": 0},
    },
}

_ROLE_MAP = ("CASE event_type WHEN 'click' THEN 'user' "
             "WHEN 'view' THEN 'assistant' WHEN 'signup' THEN 'system' "
             "WHEN 'purchase' THEN 'tool' ELSE 'narrator' END")
_TOOL_MAP = ("CASE WHEN event_type = 'view' AND event_id % 3 = 0 "
             "THEN 'browse' ELSE NULL END")


def _transcripts_from_events(events: DataFrame,
                             tool: str = "CAST(NULL AS STRING)") -> DataFrame:
    """Deterministic transcript-shaped view of the events table:
    conv_id = user, turn_idx = dense per-conv position by (ts, event_id),
    ``tool`` = the SQL of the tool column (NULL, or ``_TOOL_MAP``).

    Note for the oracle: because turn_idx is row_number()-1 over
    (ts, event_id), DuplicateKey / TurnGap / NonMonotonicTs / BelowMinimum
    are structurally impossible for ANY events data — every data-dependent
    flagship branch (NotInEnum, TooShort, TooLong, MissingRequired) is
    modeled in _FLAGSHIP_ORACLE."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).alias("turn_idx"),
        F.expr(_ROLE_MAP).alias("role"),
        F.col("props").alias("text"),
        F.expr(tool).alias("tool"),
        F.col("ts"),
    )


# DuckDB twin of the transcript view (conv_id, turn_idx, role, text,
# tool, ts); every transcript-shaped oracle reads it
_ORACLE_TX_TOOLS = f"""
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
         {_ROLE_MAP} AS role, props AS text, {_TOOL_MAP} AS tool, ts
  FROM events
"""


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"))
    engine = ValidationEngine(FLAGSHIP_SPEC, key_cols=("conv_id", "turn_idx"))
    row_v = engine.validate(tx).violations
    table_v = (
        table_checks.uniqueness_violations(tx, ("conv_id", "turn_idx"))
        .unionByName(table_checks.turn_gap_violations(tx))
        .unionByName(table_checks.monotonic_ts_violations(tx))
        .select("conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
                "instance_path", "code", "message")
    )
    return row_v.unionByName(table_v)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>=0."""
    return _flagship(spark, "/root/testdata/sf0.001")


_FLAGSHIP_ORACLE = f"""
WITH tx AS ({_ORACLE_TX_TOOLS})
SELECT conv_id, turn_idx, '/role' AS instance_path, 'NotInEnum' AS code,
       '/role: value "' || role || '" not in enum (allowed: "system", "user", "assistant", "tool")' AS message
FROM tx WHERE role NOT IN ('system','user','assistant','tool')
UNION ALL
SELECT conv_id, turn_idx, '/text', 'TooShort',
       '/text: string has ' || CAST(length(text) AS VARCHAR) || ' code points, minLength is 10'
FROM tx WHERE length(text) < 10
UNION ALL
SELECT conv_id, turn_idx, '/text', 'TooLong',
       '/text: string has ' || CAST(length(text) AS VARCHAR) || ' code points, maxLength is 4000'
FROM tx WHERE length(text) > 4000
UNION ALL
SELECT conv_id, turn_idx, '/text', 'MissingRequired',
       '/text: missing required property "text"'
FROM tx WHERE text IS NULL
UNION ALL
SELECT conv_id, turn_idx, '/conv_id', 'MissingRequired',
       '/conv_id: missing required property "conv_id"'
FROM tx WHERE conv_id IS NULL
"""


# ---------------------------------------------------------------------------
# Shared oracle CTEs: each derivation the DuckDB twins repeat is written
# once here. Only oracles read them, never a Spark thunk, so every oracle
# stays independent of the code it checks.
# ---------------------------------------------------------------------------

# ``conv(conv_id, n_turns, text)``: each transcript rendered the way
# packing.render_conversations renders it
_ORACLE_RENDERED = f"""tx AS ({_ORACLE_TX_TOOLS}),
conv AS (SELECT conv_id, CAST(count(*) AS INT) AS n_turns,
                string_agg('<|' || coalesce(role, 'unknown') || '|>'
                           || chr(10) || coalesce(text, ''), chr(10)
                           ORDER BY coalesce(turn_idx, -2147483648),
                                    coalesce(role, 'unknown'),
                                    coalesce(text, '')) AS text
         FROM tx GROUP BY conv_id)"""

# ``r(doc_id, text)``: the rendered corpus salted with a near-identical
# variant of every conversation, as in _conv_fuzzy_corpus
_ORACLE_CONV_FUZZY_CORPUS = f"""{_ORACLE_RENDERED},
r AS (SELECT conv_id AS doc_id, text FROM conv
      UNION ALL
      SELECT conv_id || '~v', text || ' v2' FROM conv)"""


def _oracle_shingles(src: str) -> str:
    """``sh(doc_id, s)``: the distinct word 3-grams of every text of the
    relation ``src(doc_id, text)``."""
    return f"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM {src}),
sh AS (SELECT doc_id,
              list_distinct([concat_ws(' ', ws[i], ws[i+1], ws[i+2])
                             for i in range(1, len(ws) - 1)]) AS s
       FROM w)"""


def _oracle_overlap(src: str) -> str:
    """``p(doc_a, doc_b, inter)``: the shared 3-gram count of every doc
    pair (doc_a < doc_b) of ``src`` that shares one; ``sz(doc_id, n)``:
    each doc's 3-gram set size."""
    return f"""{_oracle_shingles(src)},
ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
sz AS (SELECT doc_id, len(s) AS n FROM sh)"""


# ``g(doc_id, group_id)``: the connected components of the pair relation
# ``pr(doc_a, doc_b)``, each labelled by its least id (needs WITH
# RECURSIVE)
_ORACLE_COMPONENTS = """ed AS (SELECT doc_a AS a, doc_b AS b FROM pr
       UNION SELECT doc_b, doc_a FROM pr),
reach(n, m) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM ed) t
    UNION
    SELECT rr.n, ed.b FROM reach rr JOIN ed ON rr.m = ed.a),
g AS (SELECT n AS doc_id, min(m) AS group_id FROM reach GROUP BY n)"""


def _oracle_dup_groups(src: str) -> str:
    """``g(doc_id, group_id)``: the near-duplicate groups of ``src`` —
    pairs at 3-gram Jaccard >= 0.8, closed transitively (needs WITH
    RECURSIVE)."""
    return f"""{_oracle_overlap(src)},
pr AS (SELECT doc_a, doc_b
       FROM p JOIN sz sa ON p.doc_a = sa.doc_id
              JOIN sz sb ON p.doc_b = sb.doc_id
       WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.8),
{_ORACLE_COMPONENTS}"""


# ``asg(vec_id, bucket_id)``: each embedding of ``e(vec_id, v)`` assigned
# to its most cosine-similar fixed IVF centroid of ``cen(cid, cv)`` (the
# 16 lowest-id vectors), ties to the lower id
_ORACLE_IVF_ASSIGN = """\
e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings),
cen AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
sc AS (SELECT e.vec_id, cen.cid,
              list_dot_product(e.v, cen.cv) /
              (sqrt(list_dot_product(e.v, e.v)) *
               sqrt(list_dot_product(cen.cv, cen.cv))) AS s
       FROM e CROSS JOIN cen),
asg AS (SELECT vec_id, cid AS bucket_id FROM (
          SELECT sc.*, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, cid) AS rn
          FROM sc) WHERE rn = 1)"""


# textstats.quality_score's inputs from ``text``: chars ``nc``, words
# ``nw``, punctuation marks ``np`` and stopwords ``ns``, all DOUBLE
_ORACLE_QUALITY_FEATURES = """length(text)::DOUBLE AS nc,
  len(string_split(text, ' '))::DOUBLE AS nw,
  len(regexp_extract_all(text, '[.,!?;:]'))::DOUBLE AS np,
  len(list_filter(string_split(text, ' '),
      w -> list_contains(['the','a','of','and','to','in','is','it','that','for'], w)))::DOUBLE AS ns"""

# textstats.quality_score from those inputs, rounded to 6 places
_ORACLE_QUALITY_SCORE = """round(0.4 * least(nc / 500.0, 1.0) + 0.3 * least(ns / nw * 5, 1.0)
      + 0.2 * least(((nc - (nw - 1)) / nw) / 8, 1.0)
      + 0.1 * (1.0 - least(coalesce(np / nullif(nc, 0), 0.0) * 10, 1.0)), 6)"""


def _oracle_quality(src: str) -> str:
    """``q(doc_id, quality)``: the quality score of every text of the
    relation ``src(doc_id, text)``."""
    return f"""qb AS (SELECT doc_id, {_ORACLE_QUALITY_FEATURES} FROM {src}),
q AS (SELECT doc_id, {_ORACLE_QUALITY_SCORE} AS quality FROM qb)"""


# ``m(v, ca, cb)``: how often each event ``value`` occurs in the even
# (``a``) and the odd (``b``) event_id half; ``na``/``nb``: half sizes
_ORACLE_VALUE_HALVES = """\
a AS (SELECT value::DOUBLE AS v FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL),
b AS (SELECT value::DOUBLE AS v FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL),
na AS (SELECT count(*)::DOUBLE AS n FROM a), nb AS (SELECT count(*)::DOUBLE AS n FROM b),
ga AS (SELECT v, count(*) AS ca FROM a GROUP BY v),
gb AS (SELECT v, count(*) AS cb FROM b GROUP BY v),
m AS (SELECT coalesce(ga.v, gb.v) AS v, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
      FROM ga FULL OUTER JOIN gb ON ga.v = gb.v)"""


def _oracle_dsir_weights(key: str) -> str:
    """``rg(key, b)``: the hashed word bucket (of 512) of every word of
    every ``raw(key, t)`` text; ``wt(b, w)``: each bucket's DSIR
    log-weight of target ``tgt(t)`` over ``raw``, in micro-units."""
    return f"""rg AS (SELECT {key},
         ('0x' || substr(md5(g), 1, 8))::BIGINT % 512 AS b
       FROM (SELECT {key},
               unnest(list_filter(string_split(t, ' '), x -> x <> '')) AS g
             FROM raw)),
tg AS (SELECT ('0x' || substr(md5(g), 1, 8))::BIGINT % 512 AS b
       FROM (SELECT
               unnest(list_filter(string_split(t, ' '), x -> x <> '')) AS g
             FROM tgt)),
rc AS (SELECT b, count(*) AS c FROM rg GROUP BY b),
tc AS (SELECT b, count(*) AS c FROM tg GROUP BY b),
tot AS (SELECT (SELECT count(*) FROM rg) AS nr,
               (SELECT count(*) FROM tg) AS nt),
wt AS (SELECT rc.b,
         CAST(floor(ln((coalesce(tc.c, 0) + 1) / (tot.nt + 512.0)) * 1e6)
            - floor(ln((rc.c + 1) / (tot.nr + 512.0)) * 1e6) AS BIGINT)
           AS w
       FROM rc LEFT JOIN tc ON rc.b = tc.b, tot)"""


# ``code(vec_id, s, cid)``: each vector's nearest PQ codebook entry per
# subspace, from the squared distances ``dist(vec_id, s, cid, d2)``;
# ``q(qid, qv)``: the 8 query vectors
_ORACLE_PQ_CODE = """code AS (SELECT vec_id, s, cid FROM (
           SELECT vec_id, s, cid,
                  row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, cid) AS rn
           FROM dist) WHERE rn = 1),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8)"""

# ``parts(qid, vec_id, p0..p3)``: the per-subspace ADC lookups of every
# coded vector for every query, over the codebook ``pcen(cid, cv)``
_ORACLE_PQ_PARTS = """lut AS (SELECT q.qid, sub.s, pcen.cid,
          list_sum(list_transform(range(1, 17), i ->
            qv[sub.s * 16 + i] * cv[sub.s * 16 + i])) AS pd
        FROM q, sub, pcen),
parts AS (SELECT l.qid, co.vec_id,
            max(CASE WHEN co.s = 0 THEN l.pd END) AS p0,
            max(CASE WHEN co.s = 1 THEN l.pd END) AS p1,
            max(CASE WHEN co.s = 2 THEN l.pd END) AS p2,
            max(CASE WHEN co.s = 3 THEN l.pd END) AS p3
          FROM code co JOIN lut l ON l.s = co.s AND l.cid = co.cid
          GROUP BY l.qid, co.vec_id)"""

# the top 10 of ``sc(query_id, neighbor_id, adc_sim)`` per query
_ORACLE_ADC_TOP10 = """r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_sim DESC, neighbor_id)
        AS rank
      FROM sc)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_sim
FROM r WHERE rank <= 10"""

# IVF-PQ coarse step: ``asg(vec_id, bucket_id)`` over the 64-dim vectors
# ``e(vec_id, v)`` and the fixed centroids ``icen(icid, icv)``
_ORACLE_IVFPQ_COARSE = """\
e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
icen AS (SELECT vec_id AS icid, v AS icv FROM e ORDER BY vec_id LIMIT 16),
bsc AS (SELECT e.vec_id, icen.icid,
          list_dot_product(e.v, icen.icv) /
          (sqrt(list_dot_product(e.v, e.v)) *
           sqrt(list_dot_product(icen.icv, icen.icv))) AS s
        FROM e CROSS JOIN icen),
asg AS (SELECT vec_id, icid AS bucket_id FROM (
          SELECT bsc.*, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY s DESC, icid) AS rn
          FROM bsc) WHERE rn = 1)"""

# ``probes(qid, bucket_id)``: the 4 buckets each query probes
_ORACLE_IVFPQ_PROBES = """ps AS (SELECT q.qid, icen.icid,
         list_dot_product(q.qv, icen.icv) /
         (sqrt(list_dot_product(q.qv, q.qv)) *
          sqrt(list_dot_product(icen.icv, icen.icv))) AS s
       FROM q CROSS JOIN icen),
probes AS (SELECT qid, icid AS bucket_id FROM (
             SELECT ps.*, row_number() OVER (PARTITION BY qid
                                             ORDER BY s DESC, icid) AS rn
             FROM ps WHERE s IS NOT NULL) WHERE rn <= 4)"""


def _oracle_recall(approx: str) -> str:
    """Recall@10 of the approximate top-k oracle ``approx`` against the
    exact cosine top-k."""
    return f"""
WITH ap AS (SELECT query_id, neighbor_id FROM ({approx})),
ex AS (SELECT query_id, neighbor_id FROM ({_SQL_A_COSINE}))
SELECT (SELECT count(DISTINCT query_id) FROM ex) AS n_queries,
       10 AS k,
       (SELECT count(*) FROM ex) AS n_exact,
       (SELECT count(*) FROM ap SEMI JOIN ex
          ON ap.query_id = ex.query_id
         AND ap.neighbor_id = ex.neighbor_id) AS n_hits,
       round((SELECT count(*) FROM ap SEMI JOIN ex
                ON ap.query_id = ex.query_id
               AND ap.neighbor_id = ex.neighbor_id)
             / CAST((SELECT count(*) FROM ex) AS DOUBLE), 6) AS recall
"""


def _q_v_clean_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean-corpus routing: the rows the flagship ROW-LOCAL spec passes
    (the ``valid=true`` partition of ``run_checkpointed_validation(...,
    route_rows=True)``'s routed output — here as a query so the oracle
    can value-check the routing predicate). Valid <=> zero violations
    from required/enum/length/bounds; table-level checks ride the
    ledger path, not the per-row valid flag."""
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"))
    # flagship's minLength 10 flags EVERY synthetic row (props are 8-9
    # chars) -> empty clean set; route on a spec the data can pass so
    # the oracle value-checks a meaningful split (~80% clean)
    spec = {**FLAGSHIP_SPEC,
            "properties": {**FLAGSHIP_SPEC["properties"],
                           "text": {"type": "string", "minLength": 5,
                                    "maxLength": 4000}}}
    engine = ValidationEngine(spec, key_cols=("conv_id", "turn_idx"))
    return (engine.validate(tx).flagged
            .filter(F.col("valid"))
            .select("conv_id", "turn_idx", "role"))


_SQL_V_CLEAN_ROUTE = f"""
WITH tx AS ({_ORACLE_TX_TOOLS})
SELECT conv_id, turn_idx, role FROM tx
WHERE conv_id IS NOT NULL AND text IS NOT NULL
  AND role IN ('system','user','assistant','tool')
  AND length(text) BETWEEN 5 AND 4000
"""


# ---------------------------------------------------------------------------
# Row-local validation operators (SURVEY.md §2.2), each over a driver table
# ---------------------------------------------------------------------------

def _q_v_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = {"type": "object", "properties": {
        "event_type": {"type": "string",
                       "enum": ["click", "view", "signup", "purchase"]}}}
    return _violations(spark, sf_dir, "events", spec, ("event_id",))


_SQL_V_ENUM = """
SELECT event_id, '/event_type' AS instance_path, 'NotInEnum' AS code,
  '/event_type: value "' || event_type ||
  '" not in enum (allowed: "click", "view", "signup", "purchase")' AS message
FROM events
WHERE event_type IS NOT NULL
  AND event_type NOT IN ('click','view','signup','purchase')
"""


def _q_v_jsonl_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the reference's file-instance entry point as a distributed JSONL
    # scan (sources/jsonl.py): events are serialized to JSON lines with
    # a deterministic corruption (event_id % 37 -> '{oops'), read back
    # through the two-tier source, and validated. Fast-path enum
    # violations keep their typed key; corrupt lines surface as
    # InvalidJson rows with a NULL key (they have none). The oracle
    # reproduces both sets from the events table alone — the JSON
    # round-trip must be value-exact.
    ev = _t(spark, sf_dir, "events")
    path = f"/tmp/jsonl_entry_{os.path.basename(os.path.normpath(sf_dir))}"
    line = F.when(F.col("event_id") % 37 == 0, F.lit("{oops")) \
        .otherwise(F.to_json(F.struct("event_id", "event_type")))
    ev.select(line.alias("value")).write.mode("overwrite").text(path)
    spec = {"type": "object", "required": ["event_id"],
            "properties": {"event_type": {
                "type": "string",
                "enum": ["click", "view", "signup", "purchase"]}}}
    report, line_v = jsonl.validate_jsonl(
        spark, path, spec, "event_id bigint, event_type string",
        key_cols=("event_id",))
    return report.violations.unionByName(
        line_v.select(F.lit(None).cast("bigint").alias("event_id"),
                      "instance_path", "code", "message"))


_SQL_V_JSONL_SOURCE = """
SELECT event_id, '/event_type' AS instance_path, 'NotInEnum' AS code,
  '/event_type: value "' || event_type ||
  '" not in enum (allowed: "click", "view", "signup", "purchase")' AS message
FROM events
WHERE event_id % 37 <> 0 AND event_type IS NOT NULL
  AND event_type NOT IN ('click','view','signup','purchase')
UNION ALL
SELECT NULL AS event_id, '' AS instance_path, 'InvalidJson' AS code,
  'invalid JSON line: Expecting property name enclosed in double '
  || 'quotes: line 1 column 2 (char 1)' AS message
FROM events WHERE event_id % 37 = 0
"""


def _q_v_const(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = {"type": "object", "properties": {"lang": {"const": "en"}}}
    return _violations(spark, sf_dir, "documents", spec, ("doc_id",))


_SQL_V_CONST = """
SELECT doc_id, '/lang' AS instance_path, 'NotConst' AS code,
  '/lang: value "' || lang || '" does not match const (expected: "en")' AS message
FROM documents WHERE lang IS NOT NULL AND lang <> 'en'
"""


def _q_v_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = {"type": "object", "properties": {
        "l_quantity": {"type": "number", "minimum": 5, "maximum": 45},
        "o_totalprice_unused": {"type": "number"}}}
    return _violations(spark, sf_dir, "lineitem", spec,
                       ("l_orderkey", "l_linenumber"))


# l_quantity values are integral doubles -> Rust f64 Display drops ".0"
_SQL_V_BOUNDS = """
SELECT l_orderkey, l_linenumber, '/l_quantity' AS instance_path,
       'BelowMinimum' AS code,
  '/l_quantity: value ' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) ||
  ' is below minimum 5' AS message
FROM lineitem WHERE l_quantity < 5
UNION ALL
SELECT l_orderkey, l_linenumber, '/l_quantity', 'AboveMaximum',
  '/l_quantity: value ' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) ||
  ' is above maximum 45'
FROM lineitem WHERE l_quantity > 45
"""


def _q_v_bounds_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = {"type": "object", "properties": {
        "o_totalprice": {"type": "number", "maximum": 300000}}}
    return _violations(spark, sf_dir, "orders", spec, ("o_orderkey",))


_SQL_V_BOUNDS_FRAC = """
SELECT o_orderkey, '/o_totalprice' AS instance_path, 'AboveMaximum' AS code,
  '/o_totalprice: value ' ||
  CASE WHEN o_totalprice = floor(o_totalprice)
       THEN CAST(CAST(o_totalprice AS BIGINT) AS VARCHAR)
       ELSE CAST(o_totalprice AS VARCHAR) END ||
  ' is above maximum 300000' AS message
FROM orders WHERE o_totalprice > 300000
"""


def _q_v_ext_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    # extension keywords (the reference's design.md TODO list, implemented
    # as opt-in draft-2020-12 extensions): multipleOf + exclusive bounds,
    # vectorized in the same zero-shuffle row plan
    spec = {"type": "object", "properties": {
        "l_quantity": {"type": "number", "multipleOf": 5,
                       "exclusiveMinimum": 2, "exclusiveMaximum": 48}}}
    return _violations(spark, sf_dir, "lineitem", spec,
                       ("l_orderkey", "l_linenumber"), extensions=True)


# l_quantity values are integral doubles -> Rust f64 Display drops ".0"
_SQL_V_EXT_NUMERIC = """
SELECT l_orderkey, l_linenumber, '/l_quantity' AS instance_path,
       'NotMultipleOf' AS code,
  '/l_quantity: value ' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) ||
  ' is not a multiple of 5' AS message
FROM lineitem WHERE l_quantity % 5 <> 0
UNION ALL
SELECT l_orderkey, l_linenumber, '/l_quantity', 'BelowExclusiveMinimum',
  '/l_quantity: value ' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) ||
  ' is not greater than exclusive minimum 2'
FROM lineitem WHERE l_quantity <= 2
UNION ALL
SELECT l_orderkey, l_linenumber, '/l_quantity', 'AboveExclusiveMaximum',
  '/l_quantity: value ' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) ||
  ' is not less than exclusive maximum 48'
FROM lineitem WHERE l_quantity >= 48
"""


def _q_v_ext_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # $anchor / $dynamicAnchor / $dynamicRef (design.md TODOs): named refs
    # over the single schema resource resolve at plan time exactly like
    # pointer $refs, so the compiled plan is identical to inlining the
    # target — zero extra cost in the zero-shuffle row path
    spec = {
        "type": "object",
        "$defs": {
            "qty": {"$anchor": "qty", "type": "number",
                    "exclusiveMinimum": 2, "maximum": 45},
            "tax": {"$dynamicAnchor": "tax", "type": "number",
                    "maximum": 0.07},
        },
        "properties": {
            "l_quantity": {"$ref": "#qty"},
            "l_tax": {"$dynamicRef": "#tax"},
        },
    }
    return _violations(spark, sf_dir, "lineitem", spec,
                       ("l_orderkey", "l_linenumber"), extensions=True)


# l_quantity is an integral double (Rust Display drops ".0"); l_tax is a
# two-decimal double that DuckDB and Rust render identically ("0.08")
_SQL_V_EXT_ANCHORS = """
SELECT l_orderkey, l_linenumber, '/l_quantity' AS instance_path,
       'BelowExclusiveMinimum' AS code,
  '/l_quantity: value ' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) ||
  ' is not greater than exclusive minimum 2' AS message
FROM lineitem WHERE l_quantity <= 2
UNION ALL
SELECT l_orderkey, l_linenumber, '/l_quantity', 'AboveMaximum',
  '/l_quantity: value ' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) ||
  ' is above maximum 45'
FROM lineitem WHERE l_quantity > 45
UNION ALL
SELECT l_orderkey, l_linenumber, '/l_tax', 'AboveMaximum',
  '/l_tax: value ' || CAST(l_tax AS VARCHAR) || ' is above maximum 0.07'
FROM lineitem WHERE l_tax > 0.07
"""


def _q_v_unevaluated(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unevaluatedProperties (E16) over the transcript shape: tool turns
    # evaluate tool+ts through `then`; on every other turn a present
    # tool/ts is an unevaluated property. Evaluated-ness compiles to
    # boolean columns (the if-validity is CSE-memoized) — zero shuffle.
    spec = {
        "type": "object",
        "if": {"properties": {"role": {"const": "tool"}},
               "required": ["role"]},
        "then": {"properties": {"tool": {"type": "string"},
                                "ts": {}}},
        "properties": {"conv_id": {"type": "string"},
                       "turn_idx": {"type": "integer"},
                       "role": {"type": "string"},
                       "text": {"type": "string"}},
        "unevaluatedProperties": False,
    }
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"), _TOOL_MAP)
    return ValidationEngine(spec, key_cols=("conv_id", "turn_idx"),
                            extensions=True).validate(tx).violations


_SQL_V_UNEVALUATED = f"""
WITH tx AS ({_ORACLE_TX_TOOLS})
SELECT conv_id, turn_idx, '/tool' AS instance_path,
       'DisallowedUnevaluatedProperty' AS code,
       '/tool: unevaluated property "tool" not allowed' AS message
FROM tx WHERE tool IS NOT NULL AND (role IS NULL OR role <> 'tool')
UNION ALL
SELECT conv_id, turn_idx, '/ts', 'DisallowedUnevaluatedProperty',
       '/ts: unevaluated property "ts" not allowed'
FROM tx WHERE ts IS NOT NULL AND (role IS NULL OR role <> 'tool')
"""


def _q_v_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # assertive `format` extension (E15): date / ipv4 / email over
    # deterministically-derived string columns; the formats are single
    # shared regexes (+ shared calendar arithmetic for date) evaluated
    # JVM-side — whole-stage codegen, zero shuffle
    spec = {"type": "object", "properties": {
        "date_str": {"type": "string", "format": "date"},
        "ip": {"type": "string", "format": "ipv4"},
        "em": {"type": "string", "format": "email"},
    }}
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("2023-02-29"))
         .otherwise(F.col("o_orderdate").cast("date").cast("string"))
         .alias("date_str"),
        F.concat((F.col("o_orderkey") % 300).cast("string"),
                 F.lit(".10.20.30")).alias("ip"),
        F.when(F.col("o_orderkey") % 17 == 0, F.col("o_orderstatus"))
         .otherwise(F.concat(F.col("o_orderstatus"), F.lit("@example.com")))
         .alias("em"),
    )
    return ValidationEngine(spec, key_cols=("o_orderkey",),
                            extensions=True).validate(o).violations


_SQL_V_FORMATS = """
SELECT o_orderkey, '/date_str' AS instance_path, 'InvalidFormat' AS code,
  '/date_str: string "2023-02-29" is not a valid "date"' AS message
FROM orders WHERE o_orderkey % 13 = 0
UNION ALL
SELECT o_orderkey, '/ip', 'InvalidFormat',
  '/ip: string "' || CAST(o_orderkey % 300 AS VARCHAR) ||
  '.10.20.30" is not a valid "ipv4"'
FROM orders WHERE o_orderkey % 300 BETWEEN 256 AND 299
UNION ALL
SELECT o_orderkey, '/em', 'InvalidFormat',
  '/em: string "' || o_orderstatus || '" is not a valid "email"'
FROM orders WHERE o_orderkey % 17 = 0
"""


def _q_v_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    # conditional extension keywords over the transcript shape: IF the
    # turn is a tool turn THEN `tool` is required, ELSE any present tool
    # must come from the enum; `not` bans the narrator role outright;
    # dependentRequired ties tool presence to a timestamp
    spec = {
        "type": "object",
        "if": {"properties": {"role": {"const": "tool"}},
               "required": ["role"]},
        "then": {"required": ["tool"]},
        "else": {"properties": {
            "tool": {"type": "string", "enum": ["search", "browser"]}}},
        "not": {"properties": {"role": {"const": "narrator"}},
                "required": ["role"]},
        "dependentRequired": {"tool": ["ts"]},
        "properties": {"role": {"type": "string"}},
    }
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"), _TOOL_MAP)
    return ValidationEngine(spec, key_cols=("conv_id", "turn_idx"),
                            extensions=True).validate(tx).violations


_SQL_V_CONDITIONAL = f"""
WITH tx AS ({_ORACLE_TX_TOOLS})
SELECT conv_id, turn_idx, '' AS instance_path,
       'NotSchemaMatched' AS code,
       'root: instance matches the schema in "not"' AS message
FROM tx WHERE role = 'narrator'
UNION ALL
SELECT conv_id, turn_idx, '/tool', 'MissingRequired',
       '/tool: missing required property "tool"'
FROM tx WHERE role = 'tool' AND tool IS NULL
UNION ALL
SELECT conv_id, turn_idx, '/tool', 'NotInEnum',
       '/tool: value "' || tool ||
       '" not in enum (allowed: "search", "browser")'
FROM tx WHERE role <> 'tool' AND tool IS NOT NULL
      AND tool NOT IN ('search', 'browser')
UNION ALL
SELECT conv_id, turn_idx, '/ts', 'MissingDependentRequired',
       '/ts: missing property "ts" required by presence of "tool"'
FROM tx WHERE tool IS NOT NULL AND ts IS NULL
"""


def _q_v_ext_object(spark: SparkSession, sf_dir: str) -> DataFrame:
    # object extension keywords over the transcript shape:
    # patternProperties constrains every ^te-named field (text) without
    # declaring it in `properties`; propertyNames bans the name "tool"
    # (fires only where the property is PRESENT — tool is nullable);
    # dependentSchemas gates a whole-instance sub-schema on tool presence
    spec = {
        "type": "object",
        "patternProperties": {"^te": {"type": "string", "minLength": 9}},
        "propertyNames": {"not": {"const": "tool"}},
        "dependentSchemas": {
            "tool": {"properties": {"role": {"const": "tool"}}}},
        "properties": {"role": {"type": "string"}},
    }
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"), _TOOL_MAP)
    return ValidationEngine(spec, key_cols=("conv_id", "turn_idx"),
                            extensions=True).validate(tx).violations


_SQL_V_EXT_OBJECT = f"""
WITH tx AS ({_ORACLE_TX_TOOLS})
SELECT conv_id, turn_idx, '/text' AS instance_path, 'TooShort' AS code,
       '/text: string has ' || CAST(length(text) AS VARCHAR) ||
       ' code points, minLength is 9' AS message
FROM tx WHERE length(text) < 9
UNION ALL
SELECT conv_id, turn_idx, '/tool', 'InvalidPropertyName',
       '/tool: property name "tool" does not match "propertyNames"'
FROM tx WHERE tool IS NOT NULL
UNION ALL
SELECT conv_id, turn_idx, '/role', 'NotConst',
       '/role: value "' || role ||
       '" does not match const (expected: "tool")'
FROM tx WHERE tool IS NOT NULL AND role <> 'tool'
"""


def _q_v_content_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # content* extension keywords (E13): props is a JSON string column;
    # contentMediaType asserts it parses, contentSchema validates the
    # PARSED document (violations re-rooted under /props)
    spec = {"type": "object", "properties": {
        "props": {"type": "string", "contentMediaType": "application/json",
                  "contentSchema": {
                      "type": "object", "required": ["k"],
                      "properties": {"k": {"type": "integer",
                                           "maximum": 80}}}}}}
    return _violations(spark, sf_dir, "events", spec, ("event_id",),
                       extensions=True)


_SQL_V_CONTENT_JSON = """
SELECT event_id, '/props/k' AS instance_path, 'AboveMaximum' AS code,
  '/props/k: value ' ||
  CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS VARCHAR) ||
  ' is above maximum 80' AS message
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 80
"""


def _q_v_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = {"type": "object", "properties": {
        "text": {"type": "string", "minLength": 50, "maxLength": 600}}}
    return _violations(spark, sf_dir, "documents", spec, ("doc_id",))


_SQL_V_LENGTH = """
SELECT doc_id, '/text' AS instance_path, 'TooShort' AS code,
  '/text: string has ' || CAST(length(text) AS VARCHAR) ||
  ' code points, minLength is 50' AS message
FROM documents WHERE length(text) < 50
UNION ALL
SELECT doc_id, '/text', 'TooLong',
  '/text: string has ' || CAST(length(text) AS VARCHAR) ||
  ' code points, maxLength is 600'
FROM documents WHERE length(text) > 600
"""


def _q_v_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = {"type": "object", "properties": {
        "text": {"type": "string", "pattern": "(spark|window)"}}}
    return _violations(spark, sf_dir, "documents", spec, ("doc_id",))


_SQL_V_PATTERN = """
SELECT doc_id, '/text' AS instance_path, 'PatternMismatch' AS code,
  '/text: string "' || text ||
  '" does not match pattern "(spark|window)"' AS message
FROM documents WHERE NOT regexp_matches(text, '(spark|window)')
"""


def _q_v_pattern_hard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ECMA-262 fidelity gate (functions/ecma_regex): the pattern contains
    # a dangling `{` — a LITERAL under Annex B (what the reference's
    # regress engine implements) but a PatternSyntaxException in naive
    # Java rlike (job abort) — plus an absolute-`$` anchor and an ASCII
    # \d. The compiled plan must translate, not pass through.
    spec = {"type": "object", "properties": {
        "props": {"type": "string", "pattern": '{"k": \\d{2}}$'}}}
    return _violations(spark, sf_dir, "events", spec, ("event_id",))


# DuckDB RE2: `$` is already absolute end-of-text, `\{` is the literal;
# message embeds the ORIGINAL pattern source and the RAW value (the
# reference's Display does not serde-escape it, error.rs:366-371)
_SQL_V_PATTERN_HARD = r"""
SELECT event_id, '/props' AS instance_path, 'PatternMismatch' AS code,
  '/props: string "' || props ||
  '" does not match pattern "{"k": \d{2}}$"' AS message
FROM events
WHERE props IS NOT NULL
  AND NOT regexp_matches(props, '\{"k": [0-9]{2}\}$')
"""


def _q_v_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = {"type": "object", "properties": {
        "source": {"type": "string", "format": "uuid"}}}
    return _violations(spark, sf_dir, "documents", spec, ("doc_id",))


_SQL_V_UUID = """
SELECT doc_id, '/source' AS instance_path, 'InvalidUuidFormat' AS code,
  '/source: string "' || source || '" is not a valid UUID' AS message
FROM documents
WHERE NOT regexp_matches(source,
  '^(?:[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}|[0-9a-fA-F]{32}|urn:uuid:[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}|\\{[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\\})$')
"""


def _q_v_required(spark: SparkSession, sf_dir: str) -> DataFrame:
    # o_clerk is not a column of the table: absent from every row-object,
    # so MissingRequired fires for all rows (validator/mod.rs:182-191)
    spec = {"type": "object", "required": ["o_orderkey", "o_clerk"]}
    return _violations(spark, sf_dir, "orders", spec, ("o_orderkey",))


_SQL_V_REQUIRED = """
SELECT o_orderkey, '/o_clerk' AS instance_path, 'MissingRequired' AS code,
  '/o_clerk: missing required property "o_clerk"' AS message
FROM orders
"""


def _q_v_anyof(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = {"anyOf": [
        {"properties": {"value": {"type": "number", "maximum": 100}}},
        {"properties": {"event_type": {"const": "error"}}},
    ]}
    return _violations(spark, sf_dir, "events", spec, ("event_id",))


_SQL_V_ANYOF = """
SELECT event_id, '' AS instance_path, 'NoSubschemaMatched' AS code,
  'root: instance does not match any of the 2 subschema(s)' AS message
FROM events
WHERE NOT (value IS NULL OR value <= 100)
  AND NOT (event_type IS NULL OR event_type = 'error')
"""


def _q_v_oneof_none(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = {"oneOf": [
        {"properties": {"value": {"type": "number", "maximum": 200}}},
        {"properties": {"value": {"type": "number", "minimum": 300}}},
    ]}
    return _violations(spark, sf_dir, "events", spec, ("event_id",))


_SQL_V_ONEOF_NONE = """
SELECT event_id, '' AS instance_path, 'NoSubschemaMatched' AS code,
  'root: instance does not match any of the 2 subschema(s)' AS message
FROM events WHERE value > 200 AND value < 300
"""


def _q_v_oneof_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = {"oneOf": [
        {"properties": {"value": {"type": "number", "maximum": 300}}},
        {"properties": {"value": {"type": "number", "minimum": 200}}},
    ]}
    return _violations(spark, sf_dir, "events", spec, ("event_id",))


_SQL_V_ONEOF_MULTI = """
SELECT event_id, '' AS instance_path, 'MultipleSubschemasMatched' AS code,
  'root: instance matches 2 of the 2 oneOf subschema(s), exactly one required' AS message
FROM events WHERE value >= 200 AND value <= 300
"""


def _q_v_json_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full recursive validator over a JSON document column (slow path,
    # Arrow-batched pandas UDF; operators/json_mode.py)
    spec = {"type": "object", "required": ["k"],
            "properties": {"k": {"type": "integer",
                                 "minimum": 10, "maximum": 80}}}
    return json_mode.validate_json_column(
        _t(spark, sf_dir, "events"), spec, "props", key_cols=("event_id",))


_SQL_V_JSON_PAYLOAD = """
WITH p AS (SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
           FROM events WHERE props IS NOT NULL)
SELECT event_id, '/props/k' AS instance_path, 'BelowMinimum' AS code,
  '/props/k: value ' || CAST(k AS VARCHAR) || ' is below minimum 10' AS message
FROM p WHERE k < 10
UNION ALL
SELECT event_id, '/props/k', 'AboveMaximum',
  '/props/k: value ' || CAST(k AS VARCHAR) || ' is above maximum 80'
FROM p WHERE k > 80
"""


def _jkp_payload_col() -> Column:
    # deterministic event_id-derived JSON payloads exercising every kind
    # bucket (integer / number / string / boolean / null / object /
    # array) plus a malformed line and an absent payload — the SAME CASE
    # the oracle derives, so the profile is value-exact cross-engine
    eid = F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    return (
        F.when(eid % 7 == 0, F.concat(F.lit('{"k": '), s(eid % 100),
                                      F.lit("}")))
        .when(eid % 7 == 1, F.concat(F.lit('{"k": '), s(eid % 100),
                                     F.lit(', "name": "e'), s(eid),
                                     F.lit('"}')))
        .when(eid % 7 == 2, F.concat(F.lit('{"name": "e'), s(eid),
                                     F.lit('", "flag": true}')))
        .when(eid % 7 == 3, F.concat(F.lit('{"k": null, "score": '),
                                     s(eid % 10), F.lit(".5}")))
        .when(eid % 7 == 4, F.concat(F.lit('{"tags": ["a", "b"], "meta": '
                                           '{"v": '), s(eid % 5),
                                     F.lit("}}")))
        .when(eid % 7 == 5, F.lit("not json {"))
        .otherwise(F.lit(None).cast("string")))


def _q_t_key_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cross-table key sync: both engines desync documents vs embeddings
    # the same way (every 41st doc unembedded, every 43rd embedding
    # orphaned to a shifted id) — the multimodal-pipeline health number
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 41 != 0)
    emb = _t(spark, sf_dir, "embeddings").select(
        F.when(F.col("vec_id") % 43 == 0, F.col("vec_id") + 1000000)
         .otherwise(F.col("vec_id")).alias("vec_id"))
    return table_checks.key_sync_stats(docs, emb, "doc_id", "vec_id")


_SQL_T_KEY_SYNC = """
WITH a AS (SELECT DISTINCT doc_id AS k FROM documents
           WHERE doc_id % 41 <> 0 AND doc_id IS NOT NULL),
b AS (SELECT DISTINCT CASE WHEN vec_id % 43 = 0 THEN vec_id + 1000000
                           ELSE vec_id END AS k
      FROM embeddings WHERE vec_id IS NOT NULL),
j AS (SELECT coalesce(a.k, b.k) AS k,
             a.k IS NOT NULL AS ina, b.k IS NOT NULL AS inb
      FROM a FULL OUTER JOIN b ON a.k = b.k)
SELECT CAST(sum(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       CAST(sum(CASE WHEN inb THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       CAST(sum(CASE WHEN ina AND inb THEN 1 ELSE 0 END) AS BIGINT)
         AS n_both,
       CAST(sum(CASE WHEN ina THEN 1 ELSE 0 END)
            - sum(CASE WHEN ina AND inb THEN 1 ELSE 0 END) AS BIGINT)
         AS n_only_a,
       CAST(sum(CASE WHEN inb THEN 1 ELSE 0 END)
            - sum(CASE WHEN ina AND inb THEN 1 ELSE 0 END) AS BIGINT)
         AS n_only_b,
       round(sum(CASE WHEN ina AND inb THEN 1 ELSE 0 END) * 1.0
             / nullif(count(*), 0), 6) AS sync
FROM j
"""


def _q_t_ref_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # referential HEALTH dashboard (the check says which rows violate;
    # this is the SLO number): one zero-shuffle conditional-sum agg
    return table_checks.referential_coverage(
        _t(spark, sf_dir, "events"), "event_type",
        ["click", "view", "signup", "error"])


_SQL_T_REF_COVERAGE = """
WITH a AS (SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN event_type IN ('click','view','signup','error')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null
  FROM events)
SELECT n_rows, n_matched, n_null,
       n_rows - n_null - n_matched AS n_miss,
       round(n_matched * 1.0 / nullif(n_rows - n_null, 0), 6)
         AS coverage,
       round(n_null * 1.0 / nullif(n_rows, 0), 6) AS null_rate
FROM a
"""


def _q_t_role_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dialogue-protocol mining: top role trigrams — the DISCOVERY
    # complement of the role-transition DFA check
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"))
    return table_checks.role_pattern_stats(tx, n=3, k=25)


_SQL_T_ROLE_PATTERNS = f"""
WITH tx AS ({_ORACLE_TX_TOOLS}),
g AS (SELECT conv_id,
        concat_ws('>', lag(coalesce(role, '?'), 2) OVER w,
                       lag(coalesce(role, '?'), 1) OVER w,
                       coalesce(role, '?')) AS pat,
        lag(1, 2) OVER w AS fullflag
      FROM tx WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
c AS (SELECT pat, count(*) AS n_occurrences,
             count(DISTINCT conv_id) AS n_convs
      FROM g WHERE fullflag IS NOT NULL GROUP BY pat)
SELECT pat AS pattern, n_occurrences, n_convs,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, pat)
            AS INT) AS rank
FROM c ORDER BY n_occurrences DESC, pattern LIMIT 25
"""


def _q_t_fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # functional-dependency check: both engines derive lang -> script
    # (FD holds) then corrupt every 401st doc's script — violating
    # determinant groups surface with two concrete witnesses
    docs = _t(spark, sf_dir, "documents")
    script = F.when(F.col("doc_id") % 401 == 0, F.lit("CORRUPT"))               .otherwise(F.concat(F.lit("script-"), F.col("lang")))
    return table_checks.functional_dependency_violations(
        docs.select("lang", script.alias("script")), ["lang"], "script")


_SQL_T_FD_CHECK = """
WITH d AS (SELECT lang,
                  CASE WHEN doc_id % 401 = 0 THEN 'CORRUPT'
                       ELSE 'script-' || lang END AS script
           FROM documents),
a AS (SELECT lang, count(*) AS n_rows,
             count(DISTINCT script) AS n_values,
             min(script) AS example_lo, max(script) AS example_hi
      FROM d GROUP BY lang)
SELECT * FROM a WHERE n_values > 1
"""


def _q_t_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ingest-freshness check at a FIXED reference instant (determinism
    # rule: never wall clock); 30-min staleness bound splits the five
    # event feeds into both polarities at sf0.01
    return table_checks.freshness_stats(
        _t(spark, sf_dir, "events"), "ts",
        as_of="2024-01-31 00:00:00", max_age_seconds=1800,
        group_col="event_type")


_SQL_T_FRESHNESS = """
SELECT event_type, count(*) AS n_rows, max(ts) AS max_ts,
       (epoch_us(date_trunc('second', TIMESTAMP '2024-01-31 00:00:00'))
        - epoch_us(date_trunc('second', max(ts)))) // 1000000
         AS age_seconds,
       coalesce((epoch_us(date_trunc('second',
                          TIMESTAMP '2024-01-31 00:00:00'))
                 - epoch_us(date_trunc('second', max(ts)))) // 1000000
                > 1800, TRUE) AS stale
FROM events GROUP BY event_type ORDER BY event_type
"""


def _q_t_dup_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # duplicate-key payload divergence: both engines inject the same
    # retry (identical payload) and conflict (altered payload)
    # duplicates, then diagnose which duplicated keys truly disagree
    ev = _t(spark, sf_dir, "events").select("event_id", "props")
    retries = ev.filter(F.col("event_id") % 97 == 0)
    conflicts = ev.filter(F.col("event_id") % 89 == 0).select(
        "event_id", F.concat(F.col("props"), F.lit("X")).alias("props"))
    dirty = ev.unionByName(retries).unionByName(conflicts)
    return table_checks.duplicate_conflict_stats(
        dirty, keys=("event_id",), payload_col="props")


_SQL_T_DUP_CONFLICTS = """
WITH dirty AS (
  SELECT event_id, props FROM events
  UNION ALL SELECT event_id, props FROM events WHERE event_id % 97 = 0
  UNION ALL SELECT event_id, props || 'X' FROM events
  WHERE event_id % 89 = 0),
c AS (SELECT event_id, count(*) AS occurrences,
             count(DISTINCT coalesce(props, chr(1))) AS n_variants
      FROM dirty GROUP BY event_id)
SELECT event_id, occurrences, n_variants, n_variants > 1 AS conflict
FROM c WHERE occurrences > 1
"""


def _q_s_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # robust (median/MAD) outlier flags; k tightened so the uniform-ish
    # value column flags both polarities; exact quantile_disc med/MAD
    return stats.mad_outliers(
        _t(spark, sf_dir, "events").select("event_id", "value"),
        "value", k=1.8)


_SQL_S_MAD_OUTLIERS = """
WITH m AS (SELECT quantile_disc(value, 0.5) AS med FROM events),
d AS (SELECT quantile_disc(abs(value - (SELECT med FROM m)), 0.5) AS mad
      FROM events WHERE value IS NOT NULL)
SELECT event_id, value,
       round(0.6745 * (value - (SELECT med FROM m))
             / (SELECT mad FROM d), 6) AS robust_z,
       value IS NOT NULL AND
       abs(value - (SELECT med FROM m))
         > 1.8 * (SELECT mad FROM d) / 0.6745 AS is_outlier
FROM events
"""


def _q_s_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # first-class equal-width histogram, same fixed-edge rule the PSI
    # drift family bins with; one scan, bins-sized everything after
    return stats.histogram(_t(spark, sf_dir, "events"), "value",
                           lo=0.0, hi=500.0, nbins=20)


_SQL_S_HISTOGRAM = """
WITH src AS (SELECT least(greatest(
                 CAST(floor((value - 0.0) / 25.0) AS INT), 0), 19) AS bin
             FROM events WHERE value IS NOT NULL),
c AS (SELECT bin, count(*) AS n FROM src GROUP BY bin),
g AS (SELECT CAST(range AS INT) AS bin FROM range(20)),
d AS (SELECT g.bin, coalesce(c.n, 0) AS n FROM g LEFT JOIN c USING (bin)),
t AS (SELECT sum(n) AS tot FROM d)
SELECT bin, 0.0 + bin * 25.0 AS lo_edge, 0.0 + (bin + 1) * 25.0 AS hi_edge,
       n, round(n * 1.0 / nullif(tot, 0), 6) AS frac
FROM d, t ORDER BY bin
"""


def _q_s_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # quantile-clip repair: exact [p05, p95] envelope from the
    # histogram-refinement quantiles, zero-shuffle codegen clip
    return stats.winsorize(
        _t(spark, sf_dir, "events").select("event_id", "value"),
        "value", 0.05, 0.95)


_SQL_S_WINSORIZE = """
WITH b AS (SELECT quantile_disc(value, 0.05) AS lo,
                  quantile_disc(value, 0.95) AS hi
           FROM events)
SELECT event_id, value,
       CASE WHEN value IS NULL THEN NULL
            WHEN value < lo THEN lo
            WHEN value > hi THEN hi
            ELSE value END AS value_winsorized,
       value IS NOT NULL AND (value < lo OR value > hi) AS was_clipped
FROM events, b
"""


def _q_s_json_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JSON schema discovery: per (top-level key, JSON-Schema type kind)
    # document counts + presence fraction over a payload column — the
    # profiling complement of v_json_payload (operators/json_mode.py);
    # variant_explode generator + vocab-sized hash agg, zero Python
    ev = _t(spark, sf_dir, "events").select(
        _jkp_payload_col().alias("payload"))
    return json_mode.json_key_profile(ev, "payload")


_SQL_S_JSON_KEYS = """
WITH src AS (SELECT CASE event_id % 7
    WHEN 0 THEN '{"k": ' || (event_id % 100) || '}'
    WHEN 1 THEN '{"k": ' || (event_id % 100) || ', "name": "e'
             || event_id || '"}'
    WHEN 2 THEN '{"name": "e' || event_id || '", "flag": true}'
    WHEN 3 THEN '{"k": null, "score": ' || (event_id % 10) || '.5}'
    WHEN 4 THEN '{"tags": ["a", "b"], "meta": {"v": ' || (event_id % 5)
             || '}}'
    WHEN 5 THEN 'not json {'
    ELSE NULL END AS payload
  FROM events),
tot AS (SELECT count(*) AS n FROM src),
k AS (SELECT payload, unnest(json_keys(payload)) AS key
      FROM src WHERE payload IS NOT NULL AND json_valid(payload)),
typed AS (SELECT key,
    CASE COALESCE(json_type(payload, '$."' || key || '"'), 'NULL')
      WHEN 'OBJECT' THEN 'object' WHEN 'ARRAY' THEN 'array'
      WHEN 'VARCHAR' THEN 'string' WHEN 'BIGINT' THEN 'integer'
      -- DuckDB types every non-negative JSON int UBIGINT; the engine's
      -- integer contract is the reference's as_i64 rule (int64-lexable),
      -- so only values past i64::MAX fall through to 'number'
      WHEN 'UBIGINT' THEN CASE
        WHEN json_extract(payload, '$."' || key || '"')::UBIGINT
             > 9223372036854775807::UBIGINT THEN 'number'
        ELSE 'integer' END
      WHEN 'DOUBLE' THEN 'number'
      WHEN 'BOOLEAN' THEN 'boolean' WHEN 'NULL' THEN 'null'
      ELSE 'other' END AS kind
  FROM k)
SELECT key, kind, count(*) AS n_values,
       round(count(*) / (SELECT n FROM tot), 6) AS frac_of_docs
FROM typed GROUP BY key, kind ORDER BY key, kind
"""


def _q_v_json_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the JSON-mode discovery arc end-to-end: profile snapshot A's
    # payloads (json_key_profile), derive a spec (spec_from_json_profile
    # -> required=["k"], typed k/name/flag), validate drifted snapshot B
    # — envelope drift becomes typed violation rows
    ev = _t(spark, sf_dir, "events")
    eid, sc = F.col("event_id"), (lambda c: c.cast("string"))
    pay_a = (
        F.when(eid % 3 == 0, F.concat(F.lit('{"k": '), sc(eid % 100),
                                      F.lit(', "name": "e'), sc(eid),
                                      F.lit('"}')))
        .when(eid % 3 == 1, F.concat(F.lit('{"k": '), sc(eid % 100),
                                     F.lit("}")))
        .otherwise(F.concat(F.lit('{"k": '), sc(eid % 100),
                            F.lit(', "flag": true}'))))
    spec = json_mode.spec_from_json_profile(json_mode.json_key_profile(
        ev.select("event_id", pay_a.alias("payload")), "payload"))
    pay_b = (
        F.when(eid % 5 == 0, F.concat(F.lit('{"k": '), sc(eid % 100),
                                      F.lit(', "name": "e'), sc(eid),
                                      F.lit('"}')))
        .when(eid % 5 == 1, F.lit('{"name": "late"}'))
        .when(eid % 5 == 2, F.lit('{"k": "str"}'))
        .when(eid % 5 == 3, F.concat(F.lit('{"k": '), sc(eid % 100),
                                     F.lit(', "flag": 1}')))
        .otherwise(F.concat(F.lit('{"k": '), sc(eid % 100),
                            F.lit(', "extra": 9}'))))
    return json_mode.validate_json_column(
        ev.select("event_id", pay_b.alias("payload")), spec, "payload",
        key_cols=("event_id",))


_SQL_V_JSON_SPEC = """
SELECT event_id, '/payload/k' AS instance_path,
       'MissingRequired' AS code,
       '/payload/k: missing required property "k"' AS message
FROM events WHERE event_id % 5 = 1
UNION ALL
SELECT event_id, '/payload/k', 'ExpectedInteger',
       '/payload/k: expected integer, got string'
FROM events WHERE event_id % 5 = 2
UNION ALL
SELECT event_id, '/payload/flag', 'ExpectedBoolean',
       '/payload/flag: expected boolean, got number'
FROM events WHERE event_id % 5 = 3
"""


def _q_v_array_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    # array keyword family (V16-V19) over a real ArrayType column:
    # per-element numeric bounds at /embedding/<i>, plus size bounds
    spec = {"type": "object", "properties": {
        "embedding": {"type": "array", "minItems": 64, "maxItems": 64,
                      "items": {"type": "number",
                                "minimum": -2, "maximum": 2}},
        "label": {"type": "integer", "minimum": 0, "maximum": 7}}}
    return _violations(spark, sf_dir, "embeddings", spec, ("vec_id",))


_SQL_V_ARRAY_ITEMS = """
WITH el AS (
  SELECT vec_id, i - 1 AS idx, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) g)
SELECT vec_id, '/embedding/' || CAST(idx AS VARCHAR) AS instance_path,
       'BelowMinimum' AS code,
  '/embedding/' || CAST(idx AS VARCHAR) || ': value ' ||
  CAST(x AS VARCHAR) || ' is below minimum -2' AS message
FROM el WHERE x < -2
UNION ALL
SELECT vec_id, '/embedding/' || CAST(idx AS VARCHAR), 'AboveMaximum',
  '/embedding/' || CAST(idx AS VARCHAR) || ': value ' ||
  CAST(x AS VARCHAR) || ' is above maximum 2'
FROM el WHERE x > 2
UNION ALL
SELECT vec_id, '/label', 'AboveMaximum',
  '/label: value ' || CAST(label AS VARCHAR) || ' is above maximum 7'
FROM embeddings WHERE label > 7
UNION ALL
SELECT vec_id, '/label', 'BelowMinimum',
  '/label: value ' || CAST(label AS VARCHAR) || ' is below minimum 0'
FROM embeddings WHERE label < 0
"""


def _q_v_ref_allof(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fragment $ref (transitive into $defs) + allOf branch union (V1/V6)
    spec = {
        "$defs": {
            "code2": {"type": "string", "minLength": 2, "maxLength": 2},
            "short3": {"$ref": "#/$defs/short3_real"},
            "short3_real": {"type": "string", "maxLength": 3},
        },
        "type": "object",
        "properties": {
            "lang": {"allOf": [{"$ref": "#/$defs/code2"},
                               {"type": "string", "pattern": "^(en|de)$"}]},
            "source": {"$ref": "#/$defs/short3"},
        },
    }
    return _violations(spark, sf_dir, "documents", spec, ("doc_id",))


_SQL_V_REF_ALLOF = """
SELECT doc_id, '/lang' AS instance_path, 'PatternMismatch' AS code,
  '/lang: string "' || lang || '" does not match pattern "^(en|de)$"' AS message
FROM documents
WHERE lang IS NOT NULL AND NOT regexp_matches(lang, '^(en|de)$')
UNION ALL
SELECT doc_id, '/source', 'TooLong',
  '/source: string has ' || CAST(length(source) AS VARCHAR) ||
  ' code points, maxLength is 3'
FROM documents WHERE source IS NOT NULL AND length(source) > 3
"""


def _q_v_enum_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Structured Streaming over the same file + same compiled plan must
    # byte-match the batch oracle (shares _SQL_V_ENUM)
    spec = {"type": "object", "properties": {
        "event_type": {"type": "string",
                       "enum": ["click", "view", "signup", "purchase"]}}}
    engine = ValidationEngine(spec, key_cols=("event_id",))
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    # the file stream source wants a directory; expose the single parquet
    # file through one. The result reads the memory sink, not the
    # directory, so the directory goes once the stream has run.
    d = tempfile.mkdtemp(prefix="v_enum_stream_")
    try:
        os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"),
                   os.path.join(d, "events.parquet"))
        return validate_stream.run_file_stream_once(
            spark, engine, d, schema, query_name="v_enum_stream_sink")
    finally:
        shutil.rmtree(d)


# --- error-variant coverage: every reference error code must fire in at
# --- least one oracle-gated query (error.rs:241-398)

def _q_v_expected_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    # type-mismatch family over typed columns: each property's declared
    # type contradicts the column type, firing Expected{Integer,Number,
    # Boolean,Array,Object} ("got" renders the JSON type of the column)
    spec = {"type": "object", "properties": {
        "value": {"type": "integer"},        # double col  -> ExpectedInteger
        "event_type": {"type": "number"},    # string col  -> ExpectedNumber
        "event_id": {"type": "boolean"},     # bigint col  -> ExpectedBoolean
        "user_id": {"type": "array"},        # bigint col  -> ExpectedArray
        "props": {"type": "object"},         # string col  -> ExpectedObject
    }}
    return _violations(spark, sf_dir, "events", spec, ("event_id",))


_SQL_V_EXPECTED_TYPES = """
SELECT event_id, '/value' AS instance_path, 'ExpectedInteger' AS code,
  '/value: expected integer, got number' AS message
FROM events WHERE value IS NOT NULL
UNION ALL
SELECT event_id, '/event_type', 'ExpectedNumber',
  '/event_type: expected number, got string'
FROM events WHERE event_type IS NOT NULL
UNION ALL
SELECT event_id, '/event_id', 'ExpectedBoolean',
  '/event_id: expected boolean, got number'
FROM events WHERE event_id IS NOT NULL
UNION ALL
SELECT event_id, '/user_id', 'ExpectedArray',
  '/user_id: expected array, got number'
FROM events WHERE user_id IS NOT NULL
UNION ALL
SELECT event_id, '/props', 'ExpectedObject',
  '/props: expected object, got string'
FROM events WHERE props IS NOT NULL
"""


def _q_v_array_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # array-keyword error family over a real array column plus a derived
    # duplicate-bearing one: TooFewItems, TooManyItems,
    # DuplicateArrayItems (first-duplicate value rendering), and
    # ExpectedString against the array-typed column
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label",
        F.array(F.col("label"), F.col("label")).alias("dup_pair"))
    spec = {"type": "object", "properties": {
        "embedding": {"type": "array", "minItems": 100},
        "dup_pair": {"type": "array", "uniqueItems": True, "maxItems": 1},
        "label": {"type": "string"},         # int col -> ExpectedString
    }}
    return ValidationEngine(spec, key_cols=("vec_id",)).validate(emb).violations


_SQL_V_ARRAY_ERRORS = """
SELECT vec_id, '/embedding' AS instance_path, 'TooFewItems' AS code,
  '/embedding: array has ' || CAST(len(embedding) AS VARCHAR) ||
  ' item(s), minimum is 100' AS message
FROM embeddings WHERE len(embedding) < 100
UNION ALL
SELECT vec_id, '/dup_pair', 'TooManyItems',
  '/dup_pair: array has 2 item(s), maximum is 1'
FROM embeddings WHERE label IS NOT NULL
UNION ALL
SELECT vec_id, '/dup_pair', 'DuplicateArrayItems',
  '/dup_pair: array has duplicate items (value: ' ||
  CAST(label AS VARCHAR) || ')'
FROM embeddings WHERE label IS NOT NULL
UNION ALL
SELECT vec_id, '/label', 'ExpectedString',
  '/label: expected string, got number'
FROM embeddings WHERE label IS NOT NULL
"""


def _q_v_additional_forbid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # additionalProperties: false over a table whose undeclared columns
    # are present -> DisallowedAdditionalProperty per extra non-null value
    spec = {"type": "object",
            "properties": {"event_id": {}, "ts": {}, "user_id": {},
                           "event_type": {}},
            "additionalProperties": False}
    return _violations(spark, sf_dir, "events", spec, ("event_id",))


_SQL_V_ADDITIONAL_FORBID = """
SELECT event_id, '/props' AS instance_path,
       'DisallowedAdditionalProperty' AS code,
  '/props: additional property "props" not allowed' AS message
FROM events WHERE props IS NOT NULL
UNION ALL
SELECT event_id, '/value', 'DisallowedAdditionalProperty',
  '/value: additional property "value" not allowed'
FROM events WHERE value IS NOT NULL
"""


def _q_v_invalid_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dangling $ref: $defs exists but the name does not -> InvalidRef with
    # the Rust Debug rendering of DefNotFound (refs.py / validator/mod.rs)
    spec = {"type": "object",
            "$defs": {"other": {"type": "string"}},
            "properties": {"lang": {"$ref": "#/$defs/nope"}}}
    return _violations(spark, sf_dir, "documents", spec, ("doc_id",))


_SQL_V_INVALID_REF = """
SELECT doc_id, '/lang' AS instance_path, 'InvalidRef' AS code,
  '/lang: could not resolve $ref "#/$defs/nope": DefNotFound { ref_str: "#/$defs/nope", name: "nope" }' AS message
FROM documents WHERE lang IS NOT NULL
"""


def _q_v_invalid_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    # inline flags are SYNTAX ERRORS in ECMA-262 (regress rejects them even
    # though Java/Python accept) -> InvalidPatternInSchema per string row
    spec = {"type": "object", "properties": {
        "text": {"type": "string", "pattern": "(?i)spark"}}}
    return _violations(spark, sf_dir, "documents", spec, ("doc_id",))


_SQL_V_INVALID_PATTERN = """
SELECT doc_id, '/text' AS instance_path, 'InvalidPatternInSchema' AS code,
  '/text: schema has invalid pattern "(?i)spark"' AS message
FROM documents WHERE text IS NOT NULL
"""


def _q_v_invalid_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # malformed JSON payloads must be recorded (not abort the run): corrupt
    # every 5th payload with a trailing byte -> one InvalidJson row each,
    # message embedding Python's deterministic parse-error position
    ev = _t(spark, sf_dir, "events").withColumn(
        "props",
        F.when(F.col("event_id") % 5 == 0, F.concat(F.col("props"), F.lit("x")))
         .otherwise(F.col("props")))
    return json_mode.validate_json_column(ev, {}, "props",
                                          key_cols=("event_id",))


_SQL_V_INVALID_JSON = """
SELECT event_id, '/props' AS instance_path, 'InvalidJson' AS code,
  '/props: invalid JSON payload: Extra data: line 1 column ' ||
  CAST(length(props) + 1 AS VARCHAR) || ' (char ' ||
  CAST(length(props) AS VARCHAR) || ')' AS message
FROM events WHERE event_id % 5 = 0 AND props IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Table-level checks (SURVEY.md §2.4)
# ---------------------------------------------------------------------------

def _q_t_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table_checks.uniqueness_violations(_t(spark, sf_dir, "orders"),
                                              ("o_custkey",))


_SQL_T_UNIQUE = """
SELECT o_custkey, '' AS instance_path, 'DuplicateKey' AS code,
  'root: duplicate key (o_custkey) has ' || CAST(count(*) AS VARCHAR) ||
  ' occurrences, expected 1' AS message
FROM orders GROUP BY o_custkey HAVING count(*) > 1
"""


def _q_t_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    vocab = arrow_local_df(
        spark, [("click",), ("view",), ("purchase",)], "event_type string")
    return table_checks.referential_violations(
        events, "event_type", vocab, keys=("event_id",))


_SQL_T_REFERENTIAL = """
SELECT event_id, '/event_type' AS instance_path, 'RefIntegrity' AS code,
  '/event_type: value "' || event_type ||
  '" not in vocabulary "event_type"' AS message
FROM events
WHERE event_type IS NOT NULL
  AND event_type NOT IN ('click','view','purchase')
"""


def _q_t_referential_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same check, forced onto the at-scale join path: shuffle left-anti
    # with AQE skew-join handling, for vocabularies too large to
    # broadcast — value-identical to t_referential (same oracle), plan
    # asserted broadcast-free in tests/test_physical_plans.py
    events = _t(spark, sf_dir, "events")
    vocab = arrow_local_df(
        spark, [("click",), ("view",), ("purchase",)], "event_type string")
    return table_checks.referential_violations(
        events, "event_type", vocab, keys=("event_id",), strategy="shuffle")


def _q_t_gapfree(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_linenumber") - 1).alias("turn_idx"))
    return table_checks.turn_gap_violations(li, conv_col="l_orderkey",
                                            idx_col="turn_idx")


_SQL_T_GAPFREE = """
WITH li AS (
  SELECT l_orderkey, l_linenumber - 1 AS turn_idx,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber - 1) - 1 AS pos
  FROM lineitem)
SELECT l_orderkey, turn_idx, '/turn_idx' AS instance_path, 'TurnGap' AS code,
  '/turn_idx: turn index ' || CAST(turn_idx AS VARCHAR) || ' at position ' ||
  CAST(pos AS VARCHAR) || ' breaks gap-free ordering' AS message
FROM li WHERE turn_idx <> pos
"""


def _q_t_monotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reversed event order makes the check demonstrably fire (events are
    # time-ordered by event_id in this dataset)
    ev = _t(spark, sf_dir, "events").select(
        "user_id", (-F.col("event_id")).alias("rev_id"), "ts")
    return table_checks.monotonic_ts_violations(
        ev, conv_col="user_id", idx_col="rev_id", ts_col="ts")


_SQL_T_MONOTONIC = """
WITH o AS (
  SELECT user_id, -event_id AS rev_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY -event_id) AS prev
  FROM events)
SELECT user_id, rev_id, '/ts' AS instance_path, 'NonMonotonicTs' AS code,
  '/ts: timestamp ' || CAST(ts AS VARCHAR) ||
  ' is before previous turn''s ' || CAST(prev AS VARCHAR) AS message
FROM o WHERE prev IS NOT NULL AND ts < prev
"""


def _q_t_reindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    # repair complement of t_unique_keys/t_gapfree_ordering: corrupt the
    # transcript view deterministically (md5-bucketed per conversation:
    # stretched indices, offset starts, one replayed turn-0 write with a
    # +1s timestamp), then reindex_turns must dedupe the replay (earliest
    # ts wins) and renumber every conversation densely 0..n-1. The oracle
    # re-derives the corruption AND the repair, proving the surviving
    # rows, survivor choice, and new indices are cross-engine exact.
    tx = _transcripts_from_events(_t(spark, sf_dir, "events")).drop("tool")
    hx = F.md5(F.concat(F.col("conv_id"), F.lit("#reidx")))
    c1, c2 = F.substring(hx, 1, 1), F.substring(hx, 2, 1)
    base = tx.select(
        "conv_id", F.col("turn_idx").alias("_o"), "role", "text", "ts",
        c1.alias("_c1"), c2.alias("_c2"))
    corr = base.withColumn(
        "turn_idx",
        F.when(F.col("_c1") < "5", F.col("_o") * 3)
         .when(F.col("_c1") < "a", F.col("_o") + 7)
         .otherwise(F.col("_o")).cast("int"))
    dup = (corr.filter((F.col("_o") == 0) & (F.col("_c2") < "4"))
               .withColumn("text", F.concat(F.lit("DUP:"), F.col("text")))
               .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 SECOND")))
    allrows = (corr.unionByName(dup)
                   .select("conv_id", "turn_idx", "role", "text", "ts"))
    out = table_checks.reindex_turns(allrows, order_cols=("ts", "text"))
    return out.select(
        "conv_id", "turn_idx", "role", "text",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "orig_turn_idx")


_SQL_T_REINDEX = f"""
WITH tx AS (
  SELECT conv_id, turn_idx AS o, role, text, ts,
         substr(md5(conv_id || '#reidx'), 1, 1) AS c1,
         substr(md5(conv_id || '#reidx'), 2, 1) AS c2
  FROM ({_ORACLE_TX_TOOLS})),
corr AS (
  SELECT conv_id,
         CAST(CASE WHEN c1 < '5' THEN o * 3
                   WHEN c1 < 'a' THEN o + 7
                   ELSE o END AS INT) AS turn_idx,
         role, text, ts, o, c2
  FROM tx),
uni AS (
  SELECT conv_id, turn_idx, role, text, ts FROM corr
  UNION ALL
  SELECT conv_id, turn_idx, role, 'DUP:' || text,
         ts + INTERVAL 1 SECOND
  FROM corr WHERE o = 0 AND c2 < '4'),
k AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx
        ORDER BY ts NULLS LAST, text NULLS LAST) AS rn
    FROM uni) WHERE rn = 1)
SELECT conv_id,
       CAST(row_number() OVER (
            PARTITION BY conv_id
            ORDER BY turn_idx NULLS LAST, ts NULLS LAST, text NULLS LAST)
            - 1 AS INT) AS turn_idx,
       role, text, epoch_us(ts) AS ts_us, turn_idx AS orig_turn_idx
FROM k
"""


def _q_t_repair_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the repair story end-to-end: the corrupted transcript fires
    # DuplicateKey + TurnGap violations; after reindex_turns BOTH are
    # structurally impossible (dense 0..n-1 by construction). Output is
    # the per-phase violation count by code — 'after' rows exist with
    # n=0 so the oracle checks the repair's effect positively instead
    # of comparing empty sets.
    tx = _transcripts_from_events(_t(spark, sf_dir, "events")).drop("tool")
    hx = F.md5(F.concat(F.col("conv_id"), F.lit("#reidx")))
    c1, c2 = F.substring(hx, 1, 1), F.substring(hx, 2, 1)
    base = tx.select(
        "conv_id", F.col("turn_idx").alias("_o"), "role", "text", "ts",
        c1.alias("_c1"), c2.alias("_c2"))
    corr = base.withColumn(
        "turn_idx",
        F.when(F.col("_c1") < "5", F.col("_o") * 3)
         .when(F.col("_c1") < "a", F.col("_o") + 7)
         .otherwise(F.col("_o")).cast("int"))
    dup = (corr.filter((F.col("_o") == 0) & (F.col("_c2") < "4"))
               .withColumn("text", F.concat(F.lit("DUP:"), F.col("text")))
               .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 SECOND")))
    dirty = (corr.unionByName(dup)
                 .select("conv_id", "turn_idx", "role", "text", "ts"))
    repaired = table_checks.reindex_turns(
        dirty, order_cols=("ts", "text")).select("conv_id", "turn_idx")

    def counts(df, phase):
        v = (table_checks.uniqueness_violations(df, ("conv_id", "turn_idx"))
             .select("code")
             .unionByName(table_checks.turn_gap_violations(df).select("code")))
        base_codes = arrow_local_df(
            spark, [("DuplicateKey",), ("TurnGap",)], "code string")
        return (base_codes.join(
                    v.groupBy("code").agg(F.count(F.lit(1)).alias("n")),
                    "code", "left")
                .select(F.lit(phase).alias("phase"), "code",
                        F.coalesce(F.col("n"), F.lit(0).cast("bigint"))
                         .alias("n")))

    return counts(dirty.select("conv_id", "turn_idx"), "before")         .unionByName(counts(repaired, "after"))


_SQL_T_REPAIR_VALIDATE = f"""
WITH tx AS (
  SELECT conv_id, turn_idx AS o, role, text, ts,
         substr(md5(conv_id || '#reidx'), 1, 1) AS c1,
         substr(md5(conv_id || '#reidx'), 2, 1) AS c2
  FROM ({_ORACLE_TX_TOOLS})),
corr AS (
  SELECT conv_id,
         CAST(CASE WHEN c1 < '5' THEN o * 3
                   WHEN c1 < 'a' THEN o + 7
                   ELSE o END AS INT) AS turn_idx,
         text, ts, o, c2
  FROM tx),
dirty AS (
  SELECT conv_id, turn_idx, text, ts FROM corr
  UNION ALL
  SELECT conv_id, turn_idx, 'DUP:' || text, ts + INTERVAL 1 SECOND
  FROM corr WHERE o = 0 AND c2 < '4'),
rep AS (
  SELECT conv_id,
         CAST(row_number() OVER (
              PARTITION BY conv_id
              ORDER BY turn_idx NULLS LAST, ts NULLS LAST, text NULLS LAST)
              - 1 AS INT) AS turn_idx
  FROM (SELECT * FROM (
          SELECT *, row_number() OVER (
              PARTITION BY conv_id, turn_idx
              ORDER BY ts NULLS LAST, text NULLS LAST) AS rn
          FROM dirty) WHERE rn = 1)),
phases AS (
  SELECT 'before' AS phase, conv_id, turn_idx FROM dirty
  UNION ALL
  SELECT 'after', conv_id, turn_idx FROM rep),
dupv AS (
  SELECT phase, 'DuplicateKey' AS code, count(*) AS n FROM (
    SELECT phase, conv_id, turn_idx FROM phases
    GROUP BY phase, conv_id, turn_idx HAVING count(*) > 1)
  GROUP BY phase),
gapv AS (
  SELECT phase, 'TurnGap' AS code, count(*) AS n FROM (
    SELECT phase, conv_id, turn_idx,
           row_number() OVER (PARTITION BY phase, conv_id
                              ORDER BY turn_idx) - 1 AS pos
    FROM phases) WHERE turn_idx <> pos
  GROUP BY phase)
SELECT p.phase, c.code, COALESCE(v.n, 0) AS n
FROM (SELECT DISTINCT 'before' AS phase UNION ALL SELECT 'after') p
CROSS JOIN (SELECT 'DuplicateKey' AS code UNION ALL SELECT 'TurnGap') c
LEFT JOIN (SELECT * FROM dupv UNION ALL SELECT * FROM gapv) v
       ON v.phase = p.phase AND v.code = c.code
"""


def _q_t_tree_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # branching-transcript validation: give every conversation a parent
    # pointer (a valid chain or binary tree for most, deterministic
    # corruptions for md5-bucketed subsets) and emit the full tree
    # violation rows — forward/self parents, orphan references, and
    # root-cardinality breaks.
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"))
    c1 = F.substring(F.md5(F.concat(F.col("conv_id"), F.lit("#tree"))), 1, 1)
    i = F.col("turn_idx")
    parent = (
        F.when(i == 0,
               F.when(c1 >= "b", F.lit(0)).otherwise(F.lit(None)))
         .when(c1 < "3", F.floor((i - 1) / 2))          # valid binary tree
         .when((c1 < "6") & (i == 2), i + 3)            # forward edge
         .when((c1 < "9") & (i == 3), F.lit(-5))        # orphan (backward)
         .when((c1 < "b") & (i == 2), F.lit(None))      # extra root
         .otherwise(i - 1)                              # valid chain
         .cast("int"))
    pt = tx.select("conv_id", "turn_idx", parent.alias("parent_idx"))
    return table_checks.tree_violations(pt)


_SQL_T_TREE_CHECK = f"""
WITH tx AS (
  SELECT conv_id, turn_idx, substr(md5(conv_id || '#tree'), 1, 1) AS c1
  FROM ({_ORACLE_TX_TOOLS})),
pt AS (
  SELECT conv_id, turn_idx,
         CAST(CASE WHEN turn_idx = 0 THEN
                     CASE WHEN c1 >= 'b' THEN 0 ELSE NULL END
                   WHEN c1 < '3' THEN CAST(floor((turn_idx - 1) / 2.0) AS INT)
                   WHEN c1 < '6' AND turn_idx = 2 THEN turn_idx + 3
                   WHEN c1 < '9' AND turn_idx = 3 THEN -5
                   WHEN c1 < 'b' AND turn_idx = 2 THEN NULL
                   ELSE turn_idx - 1 END AS INT) AS parent_idx
  FROM tx),
fwd AS (
  SELECT conv_id, turn_idx, '/parent_idx' AS instance_path,
         'ForwardParent' AS code,
         '/parent_idx: parent ' || parent_idx
           || ' does not precede turn ' || turn_idx AS message
  FROM pt WHERE parent_idx IS NOT NULL AND parent_idx >= turn_idx),
orp AS (
  SELECT p.conv_id, p.turn_idx, '/parent_idx' AS instance_path,
         'OrphanParent' AS code,
         '/parent_idx: parent ' || p.parent_idx
           || ' not found in conversation' AS message
  FROM pt p LEFT JOIN (SELECT DISTINCT conv_id, turn_idx FROM pt) t
    ON t.conv_id = p.conv_id AND t.turn_idx = p.parent_idx
  WHERE p.parent_idx IS NOT NULL AND t.conv_id IS NULL),
roots AS (
  SELECT conv_id, CAST(NULL AS INT) AS turn_idx, '' AS instance_path,
         CASE WHEN n = 0 THEN 'NoRoot' ELSE 'MultipleRoots' END AS code,
         'root: conversation has ' || n
           || ' root turns, expected exactly 1' AS message
  FROM (SELECT conv_id,
               sum(CASE WHEN parent_idx IS NULL THEN 1 ELSE 0 END) AS n
        FROM pt GROUP BY conv_id)
  WHERE n <> 1)
SELECT * FROM fwd UNION ALL SELECT * FROM orp UNION ALL SELECT * FROM roots
"""


def _q_t_conv_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # conversation-grain quality gate: md5-bucketed convs get a
    # stopword-rich suffix (mean quality ~0.50) vs junk suffix (~0.13);
    # threshold 0.3 splits them — keep/drop verdicts both present.
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"))
    suffix = F.when(
        F.substring(F.md5(F.concat(F.col("conv_id"), F.lit("#cq"))),
                    1, 1) < "8",
        F.lit(" the cat sat of the mat and it is that for")
    ).otherwise(F.lit(" zz qq xx yy"))
    staged = tx.select("conv_id",
                       F.concat(F.col("text"), suffix).alias("text"))
    return textstats.conversation_quality(staged, min_quality=0.3)


_SQL_T_CONV_QUALITY = f"""
WITH tx AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         props || (CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || '#cq'),
                               1, 1) < '8'
                        THEN ' the cat sat of the mat and it is that for'
                        ELSE ' zz qq xx yy' END) AS text
  FROM events),
b AS (SELECT conv_id, {_ORACLE_QUALITY_FEATURES} FROM tx),
t AS (SELECT conv_id,
        CAST(round({_ORACLE_QUALITY_SCORE} * 1e6) AS BIGINT) AS qm
      FROM b)
SELECT conv_id, count(*) AS n_turns,
       floor(sum(qm) / count(*))::BIGINT::DOUBLE / 1e6 AS mean_quality,
       min(qm)::DOUBLE / 1e6 AS min_turn_quality,
       CASE WHEN sum(qm) / (count(*) * 1e6) >= 0.3
            THEN 'keep' ELSE 'drop' END AS verdict
FROM t GROUP BY conv_id
"""


def _q_t_coerce_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    # referential repair: out-of-vocabulary roles ('narrator' in the
    # synthetic role map) coerce to 'unknown'; output the per-role
    # count by coercion flag so the oracle checks both polarities and
    # the repaired vocabulary in one table.
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"))
    fixed = table_checks.coerce_vocabulary(
        tx.select("conv_id", "turn_idx", "role"), "role",
        ["system", "user", "assistant", "tool"], fallback="unknown")
    return (fixed.groupBy("role", "was_coerced")
                 .agg(F.count(F.lit(1)).alias("n_turns")))


_SQL_T_COERCE_VOCAB = f"""
WITH tx AS (
  SELECT {_ROLE_MAP} AS role
  FROM events),
fixed AS (
  SELECT CASE WHEN role IS NOT NULL
                   AND role NOT IN ('system','user','assistant','tool')
              THEN 'unknown' ELSE role END AS role,
         (role IS NOT NULL
          AND role NOT IN ('system','user','assistant','tool'))
           AS was_coerced
  FROM tx)
SELECT role, was_coerced, count(*) AS n_turns
FROM fixed GROUP BY role, was_coerced
"""


def _q_t_near_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fuzzy retry detection: synthesize per-turn text whose distinct-word
    # overlap between same-role adjacent turns is bucket-controlled —
    # (5 const + 1 varying) words J=5/7 fires, (2+2) J=1/3 silent,
    # (2+1) J=0.5 fires exactly AT the threshold (boundary pinned),
    # (1+3) J=1/7 silent — then emit NearDuplicateTurn violation rows.
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"))
    c1 = F.substring(F.md5(F.concat(F.col("conv_id"), F.lit("#retry"))),
                     1, 1)
    h = F.md5(F.concat(F.col("conv_id"), F.lit("|"),
                       F.coalesce(F.col("role"), F.lit(""))))

    def cw(j):
        return F.substring(h, 2 * j + 1, 2)

    def vw(j):
        return F.concat(F.lit("v"), F.col("turn_idx").cast("string"),
                        F.lit(f"_{j}"))

    text = (F.when(c1 < "4", F.concat_ws(" ", cw(0), cw(1), cw(2), cw(3),
                                         cw(4), vw(0)))
             .when(c1 < "8", F.concat_ws(" ", cw(0), cw(1), vw(0), vw(1)))
             .when(c1 < "c", F.concat_ws(" ", cw(0), cw(1), vw(0)))
             .otherwise(F.concat_ws(" ", cw(0), vw(0), vw(1), vw(2))))
    staged = tx.select("conv_id", "turn_idx", "role", text.alias("text"))
    return table_checks.near_retry_violations(staged)


_SQL_T_NEAR_RETRY = f"""
WITH tx AS ({_ORACLE_TX_TOOLS}),
b AS (
  SELECT conv_id, turn_idx, coalesce(role, '') AS r,
         substr(md5(conv_id || '#retry'), 1, 1) AS c1,
         md5(conv_id || '|' || coalesce(role, '')) AS h
  FROM tx),
t AS (
  SELECT conv_id, turn_idx, r,
         CASE WHEN c1 < '4' THEN substr(h,1,2) || ' ' || substr(h,3,2)
                || ' ' || substr(h,5,2) || ' ' || substr(h,7,2) || ' '
                || substr(h,9,2) || ' v' || turn_idx || '_0'
              WHEN c1 < '8' THEN substr(h,1,2) || ' ' || substr(h,3,2)
                || ' v' || turn_idx || '_0 v' || turn_idx || '_1'
              WHEN c1 < 'c' THEN substr(h,1,2) || ' ' || substr(h,3,2)
                || ' v' || turn_idx || '_0'
              ELSE substr(h,1,2) || ' v' || turn_idx || '_0 v'
                || turn_idx || '_1 v' || turn_idx || '_2' END AS text
  FROM b),
lagd AS (
  SELECT conv_id, turn_idx, r, text,
         lag(text) OVER w AS pt, lag(turn_idx) OVER w AS pi,
         lag(r) OVER w AS pr
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY r, turn_idx)),
j AS (
  SELECT conv_id, turn_idx, pi,
         CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                                 list_distinct(string_split(pt, ' '))))
              AS DOUBLE)
         / CAST(len(list_distinct(list_concat(
                 list_distinct(string_split(text, ' ')),
                 list_distinct(string_split(pt, ' '))))) AS DOUBLE) AS jac
  FROM lagd
  WHERE r = pr AND pt IS NOT NULL AND text IS NOT NULL AND text <> pt)
SELECT conv_id, turn_idx, pi AS prev_idx, '/text' AS instance_path,
       'NearDuplicateTurn' AS code, round(jac, 6) AS jaccard,
       '/text: near-duplicate of same-role turn ' || pi AS message
FROM j WHERE jac >= 0.5
"""


def _q_t_hot_convs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # skew diagnosis entry: amplify a deterministic md5-bucketed subset
    # of conversations 20x (the "hot conversation" shape the north rule
    # names), then hot_key_stats must rank them, compute share/skew
    # ratio, and flag is_hot — value-exact cross-engine.
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"))         .select("conv_id")
    fan = F.when(
        F.substring(F.md5(F.concat(F.col("conv_id"), F.lit("#hot"))),
                    1, 1) == "0",
        F.lit(20)).otherwise(F.lit(1))
    amp = (tx.withColumn("_i", F.explode(F.sequence(F.lit(1), fan)))
             .select("conv_id"))
    return table_checks.hot_key_stats(amp, ("conv_id",), top=25,
                                      hot_factor=5.0)


_SQL_T_HOT_CONVS = """
WITH tx AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id FROM events),
amp AS (
  SELECT conv_id FROM tx,
       UNNEST(range(1, CASE WHEN substr(md5(conv_id || '#hot'), 1, 1) = '0'
                            THEN 21 ELSE 2 END))),
c AS (SELECT conv_id, count(*) AS n_rows FROM amp GROUP BY conv_id),
t AS (SELECT sum(n_rows) AS total, count(*) AS n_keys FROM c)
SELECT conv_id, n_rows,
       round(n_rows / t.total, 6) AS frac,
       round(n_rows / (t.total / t.n_keys), 6) AS skew_ratio,
       n_rows > 5.0 * (t.total / t.n_keys) AS is_hot
FROM c, t
ORDER BY n_rows DESC, conv_id ASC
LIMIT 25
"""


# ---------------------------------------------------------------------------
# Stats profile + drift (SURVEY.md §2.4 / north_star)
# ---------------------------------------------------------------------------

def _q_s_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # schema + profile drift between two deterministic event "snapshots":
    # props removed, ts added, value retyped double->bigint, value nulls
    # injected on the a-side — exercising every schema_change kind plus
    # the exact null-rate/distinct/mean deltas
    ev = _t(spark, sf_dir, "events")
    a = (ev.filter(F.col("event_id") % 2 == 0)
           .select("event_id", "event_type",
                   F.when(F.col("value") < 10, None)
                    .otherwise(F.col("value")).alias("value"),
                   "props"))
    b = (ev.filter(F.col("event_id") % 2 == 1)
           .select("event_id", "event_type",
                   # floor() before the cast: Spark's double->bigint
                   # truncates while DuckDB's rounds — floor is the
                   # explicit, engine-agnostic retype
                   F.floor("value").cast("bigint").alias("value"), "ts"))
    d = stats.profile_drift(a, b, exact_distinct=True)
    return d.select(
        "column", "dtype_a", "dtype_b", "schema_change",
        "count_a", "count_b",
        F.round("null_rate_a", 6).alias("null_rate_a"),
        F.round("null_rate_b", 6).alias("null_rate_b"),
        F.round("null_rate_delta", 6).alias("null_rate_delta"),
        "distinct_a", "distinct_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("mean_delta", 6).alias("mean_delta"))


_SQL_S_PROFILE_DRIFT = """
WITH a AS (SELECT event_id, event_type,
                  CASE WHEN value < 10 THEN NULL ELSE value END AS value,
                  props
           FROM events WHERE event_id % 2 = 0),
b AS (SELECT event_id, event_type,
             CAST(floor(value) AS BIGINT) AS value, ts
      FROM events WHERE event_id % 2 = 1),
pa AS (SELECT count(*) AS n,
              count(event_id) AS nn_id, count(DISTINCT event_id) AS d_id,
              avg(event_id) AS m_id,
              count(event_type) AS nn_et, count(DISTINCT event_type) AS d_et,
              count(value) AS nn_v, count(DISTINCT value) AS d_v,
              avg(value) AS m_v,
              count(props) AS nn_p, count(DISTINCT props) AS d_p
       FROM a),
pb AS (SELECT count(*) AS n,
              count(event_id) AS nn_id, count(DISTINCT event_id) AS d_id,
              avg(event_id) AS m_id,
              count(event_type) AS nn_et, count(DISTINCT event_type) AS d_et,
              count(value) AS nn_v, count(DISTINCT value) AS d_v,
              avg(value) AS m_v,
              count(ts) AS nn_ts, count(DISTINCT ts) AS d_ts
       FROM b)
SELECT 'event_id' AS "column",
       CAST('bigint' AS VARCHAR) AS dtype_a,
       CAST('bigint' AS VARCHAR) AS dtype_b,
       CAST(NULL AS VARCHAR) AS schema_change,
       pa.n AS count_a, pb.n AS count_b,
       round(1.0 - pa.nn_id::DOUBLE / pa.n, 6) AS null_rate_a,
       round(1.0 - pb.nn_id::DOUBLE / pb.n, 6) AS null_rate_b,
       round((1.0 - pb.nn_id::DOUBLE / pb.n)
             - (1.0 - pa.nn_id::DOUBLE / pa.n), 6) AS null_rate_delta,
       pa.d_id AS distinct_a, pb.d_id AS distinct_b,
       round(pa.m_id, 6) AS mean_a, round(pb.m_id, 6) AS mean_b,
       round(pb.m_id - pa.m_id, 6) AS mean_delta
FROM pa, pb
UNION ALL
SELECT 'event_type', 'string', 'string', NULL, pa.n, pb.n,
       round(1.0 - pa.nn_et::DOUBLE / pa.n, 6),
       round(1.0 - pb.nn_et::DOUBLE / pb.n, 6),
       round((1.0 - pb.nn_et::DOUBLE / pb.n)
             - (1.0 - pa.nn_et::DOUBLE / pa.n), 6),
       pa.d_et, pb.d_et, NULL, NULL, NULL
FROM pa, pb
UNION ALL
SELECT 'props', 'string', NULL, 'removed', pa.n, NULL,
       round(1.0 - pa.nn_p::DOUBLE / pa.n, 6), NULL, NULL,
       pa.d_p, NULL, NULL, NULL, NULL
FROM pa
UNION ALL
SELECT 'ts', NULL, 'timestamp_ntz', 'added', NULL, pb.n,
       NULL, round(1.0 - pb.nn_ts::DOUBLE / pb.n, 6), NULL,
       NULL, pb.d_ts, NULL, NULL, NULL
FROM pb
UNION ALL
SELECT 'value', 'double', 'bigint', 'type_changed', pa.n, pb.n,
       round(1.0 - pa.nn_v::DOUBLE / pa.n, 6),
       round(1.0 - pb.nn_v::DOUBLE / pb.n, 6),
       round((1.0 - pb.nn_v::DOUBLE / pb.n)
             - (1.0 - pa.nn_v::DOUBLE / pa.n), 6),
       pa.d_v, pb.d_v,
       round(pa.m_v, 6), round(pb.m_v, 6), round(pb.m_v - pa.m_v, 6)
FROM pa, pb
"""


def _q_s_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT quantiles via iterative histogram refinement (the precise
    # complement of the profile's sketch percentiles): values are
    # actual data points at the quantile_disc rank, so the oracle
    # compares them with zero float arithmetic
    li = _t(spark, sf_dir, "lineitem")
    return stats.exact_quantiles(li, "l_extendedprice",
                                 (0.25, 0.5, 0.9, 0.99))


_SQL_S_EXACT_QUANTILES = """
SELECT CAST(0.25 AS DOUBLE) AS q,
       quantile_disc(CAST(l_extendedprice AS DOUBLE), 0.25) AS value,
       count(l_extendedprice) AS n FROM lineitem
UNION ALL
SELECT CAST(0.5 AS DOUBLE),
       quantile_disc(CAST(l_extendedprice AS DOUBLE), 0.5),
       count(l_extendedprice) FROM lineitem
UNION ALL
SELECT CAST(0.9 AS DOUBLE),
       quantile_disc(CAST(l_extendedprice AS DOUBLE), 0.9),
       count(l_extendedprice) FROM lineitem
UNION ALL
SELECT CAST(0.99 AS DOUBLE),
       quantile_disc(CAST(l_extendedprice AS DOUBLE), 0.99),
       count(l_extendedprice) FROM lineitem
"""


def _q_s_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-group exact quantiles: every refinement round is ONE corpus
    # scan shared by all (group, q) tasks; values are actual data
    # points, compared with zero float arithmetic
    li = _t(spark, sf_dir, "lineitem")
    return stats.exact_quantiles_by(li, "l_returnflag", "l_extendedprice",
                                    (0.5, 0.9))


_SQL_S_GROUP_QUANTILES = """
SELECT l_returnflag, CAST(0.5 AS DOUBLE) AS q,
       quantile_disc(CAST(l_extendedprice AS DOUBLE), 0.5) AS value,
       count(l_extendedprice) AS n
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT l_returnflag, CAST(0.9 AS DOUBLE),
       quantile_disc(CAST(l_extendedprice AS DOUBLE), 0.9),
       count(l_extendedprice)
FROM lineitem GROUP BY l_returnflag
"""


def _q_s_exact_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact Pearson r between two per-doc signals, per source — all
    # five accumulations are order-free integer micro sums, so the
    # oracle reproduces r to the bit before rounding
    docs = _t(spark, sf_dir, "documents")
    t = (docs.select("doc_id", "source")
         .join(textstats.token_stats(docs), "doc_id"))
    return stats.exact_corr(t, "n_chars", "bpe_tokens", group_col="source")


_SQL_S_EXACT_CORR = r"""
WITH t AS (SELECT source,
             length(text)::BIGINT AS nc,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))::BIGINT AS bt
           FROM documents
           WHERE text IS NOT NULL),
m AS (SELECT source,
        CAST(round(nc * 1e6) AS BIGINT) AS x,
        CAST(round(bt * 1e6) AS BIGINT) AS y
      FROM t),
a AS (SELECT source, count(*) AS n,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum(x * y) AS BIGINT) AS sxy,
        CAST(sum(x * x) AS BIGINT) AS sxx,
        CAST(sum(y * y) AS BIGINT) AS syy
      FROM m GROUP BY source)
SELECT source, n,
  CASE WHEN n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0
        AND n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE > 0
       THEN round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                  / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                         * (n::DOUBLE * syy::DOUBLE
                            - sy::DOUBLE * sy::DOUBLE)), 6)
  END AS r
FROM a ORDER BY source
"""


def _q_s_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    prof = stats.profile(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_returnflag"],
        exact_distinct=True)
    return prof.select(
        "column", "count", "null_count",
        F.round("null_rate", 6).alias("null_rate"),
        "distinct_count", "min", "max",
        F.round("mean", 6).alias("mean"))


_SQL_S_PROFILE = """
SELECT 'l_quantity' AS "column", count(*) AS count,
  count(*) - count(l_quantity) AS null_count,
  round(1.0 - count(l_quantity)::DOUBLE / count(*), 6) AS null_rate,
  count(DISTINCT l_quantity) AS distinct_count,
  CAST(min(l_quantity) AS VARCHAR) AS min, CAST(max(l_quantity) AS VARCHAR) AS max,
  round(avg(l_quantity), 6) AS mean
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
  round(1.0 - count(l_extendedprice)::DOUBLE / count(*), 6),
  count(DISTINCT l_extendedprice),
  CAST(min(l_extendedprice) AS VARCHAR), CAST(max(l_extendedprice) AS VARCHAR),
  round(avg(l_extendedprice), 6)
FROM lineitem
UNION ALL
SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
  round(1.0 - count(l_returnflag)::DOUBLE / count(*), 6),
  count(DISTINCT l_returnflag),
  min(l_returnflag), max(l_returnflag), NULL
FROM lineitem
"""


def _q_s_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = stats.chi2_two_sample(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1), "event_type")
    return out.select(F.round("chi2", 6).alias("chi2"), "dof", "n_a", "n_b")


_SQL_S_CHI2 = """
WITH a AS (SELECT event_type AS category, count(*) AS na FROM events
           WHERE event_id % 2 = 0 GROUP BY 1),
b AS (SELECT event_type AS category, count(*) AS nb FROM events
      WHERE event_id % 2 = 1 GROUP BY 1),
j AS (SELECT coalesce(a.category, b.category) AS category,
             coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
      FROM a FULL OUTER JOIN b ON a.category = b.category),
t AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM j),
e AS (SELECT j.*, t.ta, t.tb,
             t.ta * (na + nb)::DOUBLE / (t.ta + t.tb) AS ea,
             t.tb * (na + nb)::DOUBLE / (t.ta + t.tb) AS eb
      FROM j, t)
SELECT round(sum(CASE WHEN ea > 0 THEN (na - ea) * (na - ea) / ea ELSE 0 END
           + CASE WHEN eb > 0 THEN (nb - eb) * (nb - eb) / eb ELSE 0 END), 6) AS chi2,
       CAST(count(*) - 1 AS BIGINT) AS dof,
       CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tb) AS BIGINT) AS n_b
FROM e
"""


def _q_s_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # vocabulary drift: chi² over the baseline's top-50 token histogram
    # with an <other> bucket (dof fixed by the baseline vocabulary)
    docs = _t(spark, sf_dir, "documents")
    out = textstats.vocab_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1), k=50)
    return out.select(F.round("chi2", 6).alias("chi2"),
                      "dof", "n_a", "n_b")


_SQL_S_VOCAB_DRIFT = """
WITH ta AS (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS t
            FROM documents WHERE doc_id % 2 = 0),
tb AS (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS t
       FROM documents WHERE doc_id % 2 = 1),
vocab AS (SELECT t FROM (SELECT t, count(*) AS c FROM ta GROUP BY t
                         ORDER BY c DESC, t LIMIT 50)),
a AS (SELECT CASE WHEN t IN (SELECT t FROM vocab) THEN t
                  ELSE '<other>' END AS category, count(*) AS na
      FROM ta GROUP BY 1),
b AS (SELECT CASE WHEN t IN (SELECT t FROM vocab) THEN t
                  ELSE '<other>' END AS category, count(*) AS nb
      FROM tb GROUP BY 1),
j AS (SELECT coalesce(a.category, b.category) AS category,
             coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
      FROM a FULL OUTER JOIN b ON a.category = b.category),
t AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM j),
e AS (SELECT j.*, t.ta, t.tb,
             t.ta * (na + nb)::DOUBLE / (t.ta + t.tb) AS ea,
             t.tb * (na + nb)::DOUBLE / (t.ta + t.tb) AS eb
      FROM j, t)
SELECT round(sum(CASE WHEN ea > 0 THEN (na - ea) * (na - ea) / ea ELSE 0 END
           + CASE WHEN eb > 0 THEN (nb - eb) * (nb - eb) / eb ELSE 0 END), 6) AS chi2,
       CAST(count(*) - 1 AS BIGINT) AS dof,
       CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tb) AS BIGINT) AS n_b
FROM e
"""


def _q_s_emb_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # embedding drift: cosine of the two snapshots' MEAN vectors + mean
    # L2-norm ratio — one codegen'd aggregate per side, 2 x dims doubles
    # to the driver (the first-moment monitor for the embedding column)
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1), "embedding")


_SQL_S_EMB_DRIFT = """
WITH a AS (SELECT embedding AS e FROM embeddings
           WHERE vec_id % 2 = 0 AND embedding IS NOT NULL
             AND len(embedding) > 0),
b AS (SELECT embedding AS e FROM embeddings
      WHERE vec_id % 2 = 1 AND embedding IS NOT NULL
        AND len(embedding) > 0),
ma AS (SELECT i, avg(CAST(v AS DOUBLE)) AS m
       FROM (SELECT unnest(e) AS v,
                    unnest(range(1, len(e) + 1)) AS i FROM a) GROUP BY i),
mb AS (SELECT i, avg(CAST(v AS DOUBLE)) AS m
       FROM (SELECT unnest(e) AS v,
                    unnest(range(1, len(e) + 1)) AS i FROM b) GROUP BY i),
cosd AS (SELECT sum(ma.m * mb.m)
                / sqrt(sum(ma.m * ma.m) * sum(mb.m * mb.m)) AS c
         FROM ma JOIN mb USING (i)),
norms AS (SELECT
    (SELECT avg(sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                               for x in e]))) FROM b)
    / (SELECT avg(sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                 for x in e]))) FROM a) AS r)
SELECT round((SELECT c FROM cosd), 6) AS cos_means,
       round((SELECT r FROM norms), 6) AS norm_ratio,
       (SELECT count(*) FROM a) AS n_a,
       (SELECT count(*) FROM b) AS n_b
"""


def _q_s_ks_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the 100 TB drift path: per-partition t-digests merged on the driver
    # (approximate -> rows-only driver check; accuracy asserted in tests)
    ev = _t(spark, sf_dir, "events")
    ks = stats.ks_sketch(ev.filter(F.col("event_id") % 2 == 0),
                         ev.filter(F.col("event_id") % 2 == 1), "value")
    return arrow_local_df(spark, [(float(ks),)], "ks double")


def _q_s_w1_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same sketch pair as s_ks_sketch (approximate -> rows-only driver
    # check; accuracy vs the exact path asserted in tests)
    ev = _t(spark, sf_dir, "events")
    w1 = stats.w1_sketch(ev.filter(F.col("event_id") % 2 == 0),
                         ev.filter(F.col("event_id") % 2 == 1), "value")
    return arrow_local_df(spark, [(float(w1),)], "w1 double")


def _q_s_sketch_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the sketch-LEDGER arc: sketch two snapshots once each (one narrow
    # multi-column pass per snapshot), then compute per-column KS/W1
    # entirely from the persisted-shape sketch rows — zero corpus rescan
    # (approximate -> rows-only driver check; ledger round-trip
    # bit-equality and accuracy vs exact asserted in tests)
    ev = _t(spark, sf_dir, "events")
    ska = stats.sketch_snapshot(ev.filter(F.col("event_id") % 2 == 0),
                                ["value", "user_id"], snapshot_id="even")
    skb = stats.sketch_snapshot(ev.filter(F.col("event_id") % 2 == 1),
                                ["value", "user_id"], snapshot_id="odd")
    return stats.drift_from_sketches(ska, skb)


def _q_s_sketch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the DETERMINISTIC face of the sketch-ledger arc, including the
    # compaction path: snapshot "even" is itself a ledger MERGE of two
    # sub-snapshot sketch frames (event_id%4==0 and %4==2) compacted
    # with merge_sketch_snapshots — value counts and true min/max are
    # exact under digest merge, so this projection (unlike KS/W1, which
    # depend on t-digest centroid internals) has a full value oracle.
    ev = _t(spark, sf_dir, "events")
    sk0 = stats.sketch_snapshot(ev.filter(F.col("event_id") % 4 == 0),
                                ["value", "user_id"], snapshot_id="d0")
    sk2 = stats.sketch_snapshot(ev.filter(F.col("event_id") % 4 == 2),
                                ["value", "user_id"], snapshot_id="d2")
    ska = stats.merge_sketch_snapshots(sk0.unionByName(sk2),
                                       snapshot_id="even")
    skb = stats.sketch_snapshot(ev.filter(F.col("event_id") % 2 == 1),
                                ["value", "user_id"], snapshot_id="odd")
    return stats.sketch_ledger_summary(ska, skb)


_SQL_S_SKETCH_COUNTS = """
WITH a AS (SELECT value::DOUBLE AS value, user_id::DOUBLE AS user_id
           FROM events WHERE event_id % 2 = 0),
b AS (SELECT value::DOUBLE AS value, user_id::DOUBLE AS user_id
      FROM events WHERE event_id % 2 = 1)
SELECT 'user_id' AS "column",
       (SELECT count(user_id) FROM a) AS n_a,
       (SELECT count(user_id) FROM b) AS n_b,
       (SELECT min(user_id) FROM a) AS min_a,
       (SELECT max(user_id) FROM a) AS max_a,
       (SELECT min(user_id) FROM b) AS min_b,
       (SELECT max(user_id) FROM b) AS max_b
UNION ALL
SELECT 'value',
       (SELECT count(value) FROM a),
       (SELECT count(value) FROM b),
       (SELECT min(value) FROM a),
       (SELECT max(value) FROM a),
       (SELECT min(value) FROM b),
       (SELECT max(value) FROM b)
"""


def _q_s_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return stats.ks_exact(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1), "value") \
        .select(F.round("ks", 9).alias("ks"))


_SQL_S_KS = f"""
WITH {_ORACLE_VALUE_HALVES},
e AS (SELECT sum(ca) OVER (ORDER BY v) / (SELECT n FROM na) AS fa,
             sum(cb) OVER (ORDER BY v) / (SELECT n FROM nb) AS fb
      FROM m)
SELECT round(max(abs(fa - fb)), 9) AS ks FROM e
"""


def _q_s_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cramér-von Mises: the L2 companion of the KS entry above — same
    # joint-ECDF frame, integrates EVERY gap instead of the worst one
    ev = _t(spark, sf_dir, "events")
    out = stats.cvm_two_sample(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1), "value")
    return out.select(F.round("cvm", 9).alias("cvm"), "n_a", "n_b")


_SQL_S_CVM = f"""
WITH {_ORACLE_VALUE_HALVES},
e AS (SELECT ca + cb AS cw,
             sum(ca) OVER (ORDER BY v) / (SELECT n FROM na) AS fa,
             sum(cb) OVER (ORDER BY v) / (SELECT n FROM nb) AS fb
      FROM m)
SELECT round(sum(cw * (fa - fb) * (fa - fb))
             * (SELECT n FROM na) * (SELECT n FROM nb)
             / (((SELECT n FROM na) + (SELECT n FROM nb))
                * ((SELECT n FROM na) + (SELECT n FROM nb))), 9) AS cvm,
       CAST((SELECT n FROM na) AS BIGINT) AS n_a,
       CAST((SELECT n FROM nb) AS BIGINT) AS n_b
FROM e
"""


def _q_s_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = stats.psi(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1), "value",
        lo=0.0, hi=500.0, nbins=10)
    return out.select(F.round("psi", 9).alias("psi"), "nbins", "n_a", "n_b")


_SQL_S_PSI = """
WITH a AS (SELECT least(greatest(CAST(floor(value::DOUBLE / 50.0) AS INT), 0), 9) AS bin,
                  count(*) AS na
           FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL GROUP BY 1),
b AS (SELECT least(greatest(CAST(floor(value::DOUBLE / 50.0) AS INT), 0), 9) AS bin,
             count(*) AS nb
      FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL GROUP BY 1),
j AS (SELECT coalesce(a.bin, b.bin) AS bin, coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
      FROM a FULL OUTER JOIN b ON a.bin = b.bin),
t AS (SELECT sum(na)::DOUBLE AS ta, sum(nb)::DOUBLE AS tb FROM j),
p AS (SELECT greatest(na / t.ta, 1e-6) AS pa, greatest(nb / t.tb, 1e-6) AS pb,
             t.ta, t.tb
      FROM j, t)
SELECT round(sum((pa - pb) * ln(pa / pb)), 9) AS psi,
       CAST(10 AS INT) AS nbins,
       CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tb) AS BIGINT) AS n_b
FROM p
"""


def _q_s_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = stats.js_divergence(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1), "event_type")
    return out.select(F.round("js", 9).alias("js"), "n_a", "n_b")


_SQL_S_JS = """
WITH a AS (SELECT event_type AS category, count(*) AS na FROM events
           WHERE event_id % 2 = 0 GROUP BY 1),
b AS (SELECT event_type AS category, count(*) AS nb FROM events
      WHERE event_id % 2 = 1 GROUP BY 1),
j AS (SELECT coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
      FROM a FULL OUTER JOIN b ON a.category = b.category),
t AS (SELECT sum(na)::DOUBLE AS ta, sum(nb)::DOUBLE AS tb FROM j),
e AS (SELECT na / t.ta AS p, nb / t.tb AS q, t.ta, t.tb FROM j, t)
SELECT round(sum(CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0 END) / 2
           + sum(CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0 END) / 2, 9) AS js,
       CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tb) AS BIGINT) AS n_b
FROM e
"""


def _q_s_w1(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return stats.wasserstein1_exact(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1), "value") \
        .select(F.round("w1", 6).alias("w1"))


_SQL_S_W1 = f"""
WITH {_ORACLE_VALUE_HALVES},
e AS (SELECT v,
             sum(ca) OVER (ORDER BY v) / (SELECT n FROM na) AS fa,
             sum(cb) OVER (ORDER BY v) / (SELECT n FROM nb) AS fb,
             lead(v) OVER (ORDER BY v) AS nxt
      FROM m)
SELECT round(sum(CASE WHEN nxt IS NOT NULL THEN abs(fa - fb) * (nxt - v) ELSE 0 END), 6) AS w1
FROM e
"""


# ---------------------------------------------------------------------------
# Conversation-protocol checks (transcript shape from events, incl. a
# deterministic tool column so the pairing check exercises both codes)
# ---------------------------------------------------------------------------


_ALLOWED_TRANSITIONS = [
    ("system", "user"), ("user", "assistant"), ("assistant", "user"),
    ("assistant", "tool"), ("tool", "assistant"), ("tool", "tool"),
]
_ALLOWED_FIRST = ["system", "user"]


def _q_t_drop_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the stuck-loop REPAIR: turns at idx % 6 in (2,3) are forced into
    # identical assistant replies, so each injected pair loses its
    # second member (and any organic same-role byte-repeats go too);
    # the oracle re-derives the same (role, idx)-sorted lag filter
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"), _TOOL_MAP)
    looped = F.col("turn_idx") % 6
    salted = tx.select(
        "conv_id", "turn_idx",
        F.when(looped.isin(2, 3), F.lit("assistant"))
         .otherwise(F.col("role")).alias("role"),
        F.when(looped.isin(2, 3), F.lit("I will comply."))
         .otherwise(F.col("text")).alias("text"),
        "tool", "ts")
    return table_checks.drop_looped_turns(salted)


_SQL_T_DROP_LOOPS = f"""
WITH tx AS ({_ORACLE_TX_TOOLS}),
m AS (SELECT conv_id, turn_idx,
        CASE WHEN turn_idx % 6 IN (2, 3) THEN 'assistant'
             ELSE role END AS role,
        CASE WHEN turn_idx % 6 IN (2, 3) THEN 'I will comply.'
             ELSE text END AS text,
        tool, ts
      FROM tx),
l AS (SELECT *,
        lag(coalesce(role, '')) OVER w AS pr,
        lag(text) OVER w AS pt
      FROM m
      WINDOW w AS (PARTITION BY conv_id
                   ORDER BY coalesce(role, ''), turn_idx))
SELECT conv_id, turn_idx, role, text, tool, ts
FROM l
WHERE NOT coalesce(coalesce(role, '') = pr
                   AND text IS NOT NULL AND text = pt, FALSE)
"""


def _q_t_role_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"), _TOOL_MAP)
    return table_checks.role_transition_violations(
        tx, _ALLOWED_TRANSITIONS, _ALLOWED_FIRST)


_SQL_T_ROLE_PROTOCOL = f"""
WITH tx AS ({_ORACLE_TX_TOOLS}),
lagged AS (SELECT conv_id, turn_idx, role,
                  lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
           FROM tx)
SELECT conv_id, turn_idx, '/role' AS instance_path,
       CASE WHEN prev IS NULL THEN 'BadFirstRole'
            ELSE 'BadRoleTransition' END AS code,
       CASE WHEN prev IS NULL THEN
              '/role: conversation must start with one of ("system", "user"), got "' || role || '"'
            ELSE '/role: transition "' || prev || '" -> "' || role || '" not allowed'
       END AS message
FROM lagged
WHERE role IS NOT NULL AND (
      (prev IS NULL AND role NOT IN ('system', 'user'))
   OR (prev IS NOT NULL AND prev || '>' || role NOT IN (
        'system>user', 'user>assistant', 'assistant>user',
        'assistant>tool', 'tool>assistant', 'tool>tool')))
"""


def _q_t_tool_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"), _TOOL_MAP)
    return table_checks.tool_pairing_violations(tx)


_SQL_T_TOOL_PAIRING = f"""
WITH tx AS ({_ORACLE_TX_TOOLS}),
ctx AS (SELECT conv_id, turn_idx, role, tool,
               lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
               lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_tool,
               lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_role
        FROM tx),
flag AS (SELECT *,
                (role = 'tool' AND (prev_role IS NULL OR prev_role <> 'assistant'
                                    OR prev_tool IS NULL)) AS orphan_result,
                (role = 'assistant' AND tool IS NOT NULL
                 AND (next_role IS NULL OR next_role <> 'tool')) AS orphan_call
         FROM ctx)
SELECT conv_id, turn_idx,
       CASE WHEN orphan_result THEN '/role' ELSE '/tool' END AS instance_path,
       CASE WHEN orphan_result THEN 'ToolResultWithoutCall'
            ELSE 'ToolCallWithoutResult' END AS code,
       CASE WHEN orphan_result THEN
              '/role: "tool" turn not preceded by a "assistant" turn calling a tool (previous role: '
              || coalesce('"' || prev_role || '"', 'none') || ')'
            ELSE '/tool: tool call "' || tool || '" not followed by a "tool" turn'
       END AS message
FROM flag
WHERE orphan_result OR orphan_call
"""


def _q_t_conv_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"), _TOOL_MAP)
    return table_checks.conversation_bounds_violations(
        tx, min_turns=55, max_turns=80, max_duration_seconds=2_500_000)


_SQL_T_CONV_BOUNDS = f"""
WITH tx AS ({_ORACLE_TX_TOOLS}),
agg AS (SELECT conv_id, count(*) AS n,
               date_diff('second', min(ts), max(ts)) AS dur
        FROM tx GROUP BY conv_id)
SELECT conv_id, CAST(NULL AS INT) AS turn_idx, '' AS instance_path,
       'TooFewTurns' AS code,
       'root: conversation has ' || n || ' turns, minimum is 55' AS message
FROM agg WHERE n < 55
UNION ALL
SELECT conv_id, CAST(NULL AS INT), '', 'TooManyTurns',
       'root: conversation has ' || n || ' turns, maximum is 80'
FROM agg WHERE n > 80
UNION ALL
SELECT conv_id, CAST(NULL AS INT), '/ts', 'ConversationTooLong',
       '/ts: conversation spans ' || dur || ' seconds, maximum is 2500000'
FROM agg WHERE dur > 2500000
"""


def _q_t_context_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    # context-window fit: flag every turn past a cumulative whitespace-
    # token budget (overhead 1 models the "{role}: " render header)
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"))
    return table_checks.context_budget_violations(tx, 160, per_turn_overhead=1)


_SQL_T_CONTEXT_BUDGET = f"""
WITH tx AS ({_ORACLE_TX_TOOLS}),
cum AS (
  SELECT conv_id, turn_idx,
         SUM(CASE WHEN text IS NULL THEN 0
                  ELSE len(string_split(text, ' ')) END + 1)
           OVER (PARTITION BY conv_id ORDER BY turn_idx) AS cum_tokens
  FROM tx)
SELECT conv_id, turn_idx, '/text' AS instance_path,
       'ContextBudgetExceeded' AS code,
       '/text: cumulative ' || CAST(cum_tokens AS VARCHAR) ||
       ' whitespace tokens exceeds context budget 160' AS message
FROM cum WHERE cum_tokens > 160
"""


def _q_s_violation_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    # monitoring complement of violation_stats: per-day violation rate
    # by code over the flagship row-local violation set
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"), _TOOL_MAP)
    viols = ValidationEngine(
        FLAGSHIP_SPEC, key_cols=("conv_id", "turn_idx")).validate(tx).violations
    return table_checks.violation_trend(tx, viols, grain="day")


_SQL_S_VIOLATION_TREND = f"""
WITH tx AS ({_ORACLE_TX_TOOLS}),
v AS (
  SELECT conv_id, turn_idx, 'NotInEnum' AS code FROM tx
  WHERE role NOT IN ('system','user','assistant','tool')
  UNION ALL
  SELECT conv_id, turn_idx, 'TooShort' FROM tx WHERE length(text) < 10
  UNION ALL
  SELECT conv_id, turn_idx, 'TooLong' FROM tx WHERE length(text) > 4000
  UNION ALL
  SELECT conv_id, turn_idx, 'MissingRequired' FROM tx WHERE text IS NULL
  UNION ALL
  SELECT conv_id, turn_idx, 'MissingRequired' FROM tx WHERE conv_id IS NULL),
keys AS (SELECT conv_id, turn_idx,
                CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket FROM tx),
totals AS (SELECT bucket, count(*) AS n_turns FROM keys GROUP BY bucket),
counts AS (SELECT k.bucket, v.code, count(*) AS n_violations
           FROM v JOIN keys k USING (conv_id, turn_idx)
           GROUP BY k.bucket, v.code)
SELECT counts.bucket AS window_start, code, n_violations, n_turns,
       round(n_violations / n_turns, 6) AS violation_rate
FROM counts JOIN totals USING (bucket)
"""


def _q_s_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    # crawler-health monitor: per-day new-token rate over the transcript
    # text — a healthy ingest keeps finding new vocabulary, a recrawl
    # collapses toward 0
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"))
    return textstats.vocab_growth(tx.select("text", "ts"))


_SQL_S_VOCAB_GROWTH = """
WITH tx AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS b,
         unnest(string_split(coalesce(props, ''), ' ')) AS token
  FROM events),
per AS (SELECT b, token, count(*) AS c FROM tx GROUP BY b, token),
first AS (SELECT token, min(b) AS fb FROM per GROUP BY token)
SELECT per.b AS window_start,
       CAST(sum(per.c) AS BIGINT) AS n_tokens,
       count(*) AS n_distinct,
       CAST(sum(CASE WHEN per.b = first.fb THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       round(sum(CASE WHEN per.b = first.fb THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS new_rate
FROM per JOIN first USING (token)
GROUP BY per.b
"""


def _q_s_trend_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spike alerting over the trend: a synthetic check with a stable
    # ~2.3% md5-bucketed base rate that jumps to ~75% on the 15th — trend_anomalies must flag exactly those buckets
    # against the expanding history of prior days.
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"))
    day = F.date_trunc("day", F.col("ts"))
    key = F.md5(F.concat(F.col("conv_id"), F.lit("#"),
                         F.col("turn_idx").cast("string")))
    fire = (F.substring(key, 1, 2) < "06") | (
        (F.dayofmonth("ts") == 15) & (F.substring(key, 3, 1) < "c"))
    trend = (tx.groupBy(day.alias("window_start"))
               .agg(F.count(F.lit(1)).alias("n_turns"),
                    F.sum(fire.cast("bigint")).alias("n_violations"))
               .withColumn("code", F.lit("SpikyCheck"))
               .withColumn("violation_rate",
                           F.round(F.col("n_violations")
                                   / F.col("n_turns"), 6)))
    return table_checks.trend_anomalies(trend, z=3.0)


_SQL_S_TREND_ANOMALY = f"""
WITH tx AS ({_ORACLE_TX_TOOLS}),
trend AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
         'SpikyCheck' AS code,
         count(*) AS n_turns,
         sum(CASE WHEN substr(md5(conv_id || '#' || turn_idx), 1, 2)
                       < '06'
                  OR (date_part('day', ts) = 15
                      AND substr(md5(conv_id || '#' || turn_idx), 3, 1)
                          < 'c')
                  THEN 1 ELSE 0 END) AS n_violations
  FROM tx GROUP BY 1),
staged AS (
  SELECT window_start, code,
         round(n_violations / n_turns, 6) AS violation_rate,
         CAST(round(round(n_violations / n_turns, 6) * 1e6) AS BIGINT)
           AS rm
  FROM trend),
win AS (
  SELECT window_start, code, violation_rate, rm,
         count(rm) OVER w AS n, sum(rm) OVER w AS s,
         sum(rm * rm) OVER w AS ss
  FROM staged
  WINDOW w AS (PARTITION BY code ORDER BY window_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
calc AS (
  SELECT *,
         s::DOUBLE / n AS mean,
         sqrt(greatest((ss::DOUBLE - (s::DOUBLE * s::DOUBLE) / n)
                       / (n - 1), 0.0)) AS std
  FROM win WHERE n >= 3)
SELECT window_start, code, violation_rate,
       round(mean / 1e6, 6) AS mean_rate,
       round(std / 1e6, 6) AS std_rate,
       n AS n_history
FROM calc
WHERE CASE WHEN std > 0 THEN rm::DOUBLE - mean > 3.0 * std
           ELSE rm::DOUBLE - mean > 0 END
"""


def _q_s_source_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pairwise drift matrix: PSI of the n_chars distribution between
    # every source pair, one corpus scan (eager-checkpointed counts)
    return stats.psi_matrix(_t(spark, sf_dir, "documents"), "n_chars",
                            group_col="source", lo=0.0, hi=600.0, nbins=10)


_SQL_S_SOURCE_PSI = """
WITH c AS (
  SELECT source AS g,
         least(greatest(CAST(floor((CAST(n_chars AS DOUBLE) - 0.0)
                                   / 60.0) AS INT), 0), 9) AS bin,
         count(*) AS c
  FROM documents
  WHERE n_chars IS NOT NULL AND source IS NOT NULL
  GROUP BY 1, 2),
grid AS (
  SELECT g, b.bin, coalesce(c.c, 0) AS c
  FROM (SELECT DISTINCT g FROM c)
  CROSS JOIN (SELECT unnest(range(10)) AS bin) b
  LEFT JOIN c USING (g, bin)),
dense AS (
  SELECT g, bin, c, sum(c) OVER (PARTITION BY g) AS tot FROM grid),
pairs AS (
  SELECT a.g AS src_a, b.g AS src_b, a.bin,
         greatest(a.c / CAST(a.tot AS DOUBLE), 1e-6) AS pa,
         greatest(b.c / CAST(b.tot AS DOUBLE), 1e-6) AS pb,
         a.tot AS ta, b.tot AS tb
  FROM dense a JOIN dense b ON a.bin = b.bin AND a.g < b.g)
SELECT src_a, src_b,
       round(sum((pa - pb) * ln(pa / pb)), 6) AS psi,
       CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tb) AS BIGINT) AS n_b
FROM pairs GROUP BY src_a, src_b
"""


def _q_t_transcript_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the north rule's "per-turn text equality under stable (conv_id,
    # turn_idx) ordering" as a cross-snapshot check: snapshot a drops
    # turn 7 of every conversation, snapshot b drops turn 5 and
    # uppercases turn 2's text — all three diff codes fire
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"))
    a = tx.filter(F.col("turn_idx") != 7)
    b = (tx.filter(F.col("turn_idx") != 5)
           .withColumn("text", F.when(F.col("turn_idx") == 2,
                                      F.upper("text"))
                               .otherwise(F.col("text"))))
    return table_checks.transcript_diff(a, b)


_SQL_T_TRANSCRIPT_DIFF = f"""
WITH tx AS ({_ORACLE_TX_TOOLS}),
a AS (SELECT * FROM tx WHERE turn_idx <> 7),
b AS (SELECT conv_id, turn_idx,
             CASE WHEN turn_idx = 2 THEN upper(text) ELSE text END AS text
      FROM tx WHERE turn_idx <> 5)
SELECT coalesce(a.conv_id, b.conv_id) AS conv_id,
       coalesce(a.turn_idx, b.turn_idx) AS turn_idx,
       '/text' AS instance_path,
       CASE WHEN a.conv_id IS NULL THEN 'TurnMissingInA'
            WHEN b.conv_id IS NULL THEN 'TurnMissingInB'
            ELSE 'TextMismatch' END AS code,
       '/text: ' || coalesce(CAST(length(a.text) AS VARCHAR), 'null')
       || ' -> ' || coalesce(CAST(length(b.text) AS VARCHAR), 'null')
         AS message
FROM a FULL OUTER JOIN b USING (conv_id, turn_idx)
WHERE a.conv_id IS NULL OR b.conv_id IS NULL
   OR a.text IS DISTINCT FROM b.text
"""


def _q_v_violation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # which constraints fire, how often, and how many distinct turn keys
    # they hit — the post-run ops dashboard query over the full flagship
    # violation set
    return table_checks.violation_stats(_flagship(spark, sf_dir))


_SQL_V_VIOLATION_STATS = f"""
WITH viol AS ({_FLAGSHIP_ORACLE})
SELECT code, instance_path,
       COUNT(*) AS n_violations,
       COUNT(DISTINCT (COALESCE(conv_id, '<NULL>'),
                       CAST(turn_idx AS VARCHAR))) AS n_keys
FROM viol GROUP BY code, instance_path
"""


def _q_v_review_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic stratified review sample: the 10 md5-smallest
    # violations per code over the full flagship violation set — exact
    # top-N-per-group via zero-shuffle local top-N then one pruned
    # per-code window (no hot-code shuffle of the whole violation table).
    return table_checks.review_queue(_flagship(spark, sf_dir), per_code=10)


_SQL_V_REVIEW_QUEUE = f"""
WITH viol AS ({_FLAGSHIP_ORACLE}),
ranked AS (
  SELECT conv_id, turn_idx, instance_path, code, message,
         row_number() OVER (
           PARTITION BY code
           ORDER BY md5(coalesce(conv_id, '<NULL>') || '#'
                        || coalesce(CAST(turn_idx AS VARCHAR), '<NULL>')
                        || '#' || coalesce(instance_path, '') || '#'
                        || code)) AS review_rank
  FROM viol)
SELECT * FROM ranked WHERE review_rank <= 10
"""


def _q_t_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    # table-level expectations (aggregate constraints with pass/fail
    # verdict rows — the bounds keywords lifted to the table grain):
    # one profile pass, verdicts assembled from the single wide
    # aggregate row. Bounds chosen so the report carries BOTH verdicts
    # (min_distinct 6 and max_mean 40 fail on this data).
    spec = {"min_rows": 1000, "max_rows": 10**12,
            "columns": {
                "event_type": {"max_null_frac": 0.001, "min_distinct": 6},
                "value": {"min_value": 0, "max_value": 1e6,
                          "min_mean": 1, "max_mean": 40}}}
    rep = expectations.table_expectations(_t(spark, sf_dir, "events"), spec)
    # message column excluded: its number rendering is an operator-UX
    # contract, not a cross-engine one
    return rep.select("scope", "rule", "observed", "bound", "ok")


_SQL_T_EXPECTATIONS = """
WITH s AS (SELECT count(*)::DOUBLE AS n,
                  count(event_type) AS et_nn,
                  count(DISTINCT event_type)::DOUBLE AS et_d,
                  min(value)::DOUBLE AS v_min,
                  max(value)::DOUBLE AS v_max,
                  round(avg(value::DOUBLE), 6) AS v_mean
           FROM events)
SELECT 'table' AS scope, 'min_rows' AS rule, n AS observed,
       1000.0 AS bound, n >= 1000 AS ok FROM s
UNION ALL SELECT 'table', 'max_rows', n, 1e12, n <= 1e12 FROM s
UNION ALL SELECT 'event_type', 'max_null_frac',
       round((n - et_nn) / n, 6), 0.001,
       round((n - et_nn) / n, 6) <= 0.001 FROM s
UNION ALL SELECT 'event_type', 'min_distinct', et_d, 6.0, et_d >= 6 FROM s
UNION ALL SELECT 'value', 'min_value', v_min, 0.0, v_min >= 0 FROM s
UNION ALL SELECT 'value', 'max_value', v_max, 1000000.0,
       v_max <= 1000000 FROM s
UNION ALL SELECT 'value', 'min_mean', v_mean, 1.0, v_mean >= 1 FROM s
UNION ALL SELECT 'value', 'max_mean', v_mean, 40.0, v_mean <= 40 FROM s
"""


def _q_t_conv_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-conversation pass/fail verdict rollup over the FULL flagship
    # violation set (row checks + uniqueness + gap-free + monotonic-ts):
    # the north rule's per-partition verdict table at conversation grain,
    # clean conversations included
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"))
    return table_checks.violation_verdicts(tx, _flagship(spark, sf_dir))


_SQL_T_CONV_VERDICTS = f"""
WITH viol AS ({_FLAGSHIP_ORACLE}),
base AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS conv_id FROM events),
c AS (SELECT conv_id, count(*) AS n_violations,
             count(DISTINCT turn_idx) AS n_turns_flagged
      FROM viol GROUP BY conv_id)
SELECT base.conv_id,
       coalesce(c.n_violations, 0) AS n_violations,
       coalesce(c.n_turns_flagged, 0) AS n_turns_flagged,
       CASE WHEN coalesce(c.n_violations, 0) > 0
            THEN 'fail' ELSE 'pass' END AS verdict
FROM base LEFT JOIN c USING (conv_id)
"""


def _q_t_turn_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stuck-agent detection: same role repeating the same text (other
    # roles wedged between repeats don't reset the streak)
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"), _TOOL_MAP)
    return table_checks.turn_loop_stats(tx)


_SQL_T_TURN_LOOPS = f"""
WITH tx AS ({_ORACLE_TX_TOOLS}),
s AS (SELECT conv_id, text, turn_idx,
        row_number() OVER w AS rn,
        CASE WHEN coalesce(role, '') = lag(coalesce(role, '')) OVER w
              AND text IS NOT NULL AND text = lag(text) OVER w
             THEN 1 ELSE 0 END AS dup
      FROM tx
      WINDOW w AS (PARTITION BY conv_id
                   ORDER BY coalesce(role, ''), turn_idx)),
r AS (SELECT conv_id, dup,
        rn - max(CASE WHEN dup = 0 THEN rn END)
               OVER (PARTITION BY conv_id ORDER BY rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           + 1 AS run
      FROM s),
a AS (SELECT conv_id, count(*) AS n_turns,
             CAST(sum(dup) AS BIGINT) AS loop_turns,
             CAST(max(run) AS INT) AS max_run,
             round(sum(dup) * 1.0 / count(*), 6) AS loop_ratio
      FROM r GROUP BY conv_id)
SELECT conv_id, n_turns, loop_turns, max_run, loop_ratio,
       CASE WHEN loop_ratio >= 0.3 OR max_run >= 3
            THEN 'loop' ELSE 'ok' END AS verdict
FROM a
"""


def _q_t_conv_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"), _TOOL_MAP)
    prof = table_checks.conversation_profile(tx)
    return prof.select(
        "conv_id", "n_turns", "min_idx", "max_idx", "duration_s",
        "n_roles", "user_turns", "assistant_turns", "total_text_chars",
        F.round("avg_text_len", 6).alias("avg_text_len"), "tool_calls")


_SQL_T_CONV_PROFILE = f"""
WITH tx AS ({_ORACLE_TX_TOOLS})
SELECT conv_id,
       count(*) AS n_turns,
       min(turn_idx) AS min_idx,
       max(turn_idx) AS max_idx,
       date_diff('second', min(ts), max(ts)) AS duration_s,
       count(DISTINCT role) AS n_roles,
       CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
         AS user_turns,
       CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
         AS assistant_turns,
       CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS total_text_chars,
       round(avg(length(text)), 6) AS avg_text_len,
       count(tool) AS tool_calls
FROM tx GROUP BY conv_id
"""


# ---------------------------------------------------------------------------
# Dedup family (documents)
# ---------------------------------------------------------------------------

def _q_d_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicate_groups(_t(spark, sf_dir, "documents"))


_SQL_D_EXACT = """
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_id
FROM documents GROUP BY md5(text)
"""


def _q_d_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # append-only ingestion: docs with doc_id % 3 == 0 were "already
    # ingested" (their digests form the ledger); the rest arrive as the
    # new batch and must dedupe against the ledger AND within the batch
    # (min-id survivor), proving batch-then-merge == one-shot dedup.
    docs = _t(spark, sf_dir, "documents")
    seen = (docs.filter(F.col("doc_id") % 3 == 0)
                .select(F.md5(F.col("text").cast("binary"))
                         .alias("text_hash"))
                .distinct())
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    return dedup.incremental_dedup(batch, seen)


_SQL_D_INCREMENTAL = """
WITH seen AS (
  SELECT DISTINCT md5(text) AS text_hash
  FROM documents WHERE doc_id % 3 = 0),
batch AS (
  SELECT * FROM documents WHERE doc_id % 3 <> 0),
keep AS (
  SELECT md5(text) AS text_hash, min(doc_id) AS doc_id
  FROM batch GROUP BY md5(text)),
fresh AS (
  SELECT k.* FROM keep k LEFT JOIN seen s USING (text_hash)
  WHERE s.text_hash IS NULL)
SELECT b.doc_id, b.text, b.lang, b.source, b.n_chars, f.text_hash
FROM batch b JOIN fresh f USING (doc_id)
"""


_SQL_D_NGRAM = f"""
WITH {_oracle_overlap("documents")}
SELECT doc_a, doc_b,
       inter::DOUBLE / (sa.n + sb.n - inter) AS jaccard
FROM p JOIN sz sa ON p.doc_a = sa.doc_id JOIN sz sb ON p.doc_b = sb.doc_id
WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.8
"""


def _q_d_source_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # which source produces the duplicates: per-source exact-dup counts,
    # cross-source re-crawl counts, and the dup rate
    return dedup.source_dup_stats(_t(spark, sf_dir, "documents"))


_SQL_D_SOURCE_DUP_RATE = """
WITH per AS (
  SELECT md5(text) AS h, source AS src, count(*) AS c
  FROM documents GROUP BY 1, 2),
facts AS (
  SELECT h, sum(c) AS tot, count(*) AS nsrc FROM per GROUP BY h)
SELECT per.src AS source,
       CAST(sum(per.c) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN facts.tot > 1 THEN per.c ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       CAST(sum(CASE WHEN facts.nsrc > 1 THEN per.c ELSE 0 END) AS BIGINT)
         AS n_cross_source,
       round(sum(CASE WHEN facts.tot > 1 THEN per.c ELSE 0 END)
             / CAST(sum(per.c) AS DOUBLE), 6) AS dup_rate
FROM per JOIN facts USING (h)
GROUP BY per.src
"""


def _q_d_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cross-source contamination matrix: distinct 3-gram overlap between
    # every source pair — counts exact; ratios rounded. Spark hashes
    # shingles to xxhash64 longs, the oracle uses raw 3-gram strings;
    # identical up to 64-bit collisions (|grams|^2/2^64, negligible).
    return decontam.source_overlap(_t(spark, sf_dir, "documents"))


_SQL_D_SOURCE_OVERLAP = """
WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
sh AS (SELECT source,
              [concat_ws(' ', ws[i], ws[i+1], ws[i+2])
               for i in range(1, len(ws) - 1)] AS s
       FROM w),
ex AS (SELECT DISTINCT source, unnest(s) AS g FROM sh),
sz AS (SELECT source, count(*) AS n FROM ex GROUP BY source),
p AS (SELECT a.source AS src_a, b.source AS src_b,
             count(*) AS shared_ngrams
      FROM ex a JOIN ex b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2)
SELECT src_a, src_b, shared_ngrams, sa.n AS n_a, sb.n AS n_b,
       round(shared_ngrams::DOUBLE / least(sa.n, sb.n), 6) AS containment,
       round(shared_ngrams::DOUBLE / (sa.n + sb.n - shared_ngrams), 6)
         AS jaccard
FROM p JOIN sz sa ON p.src_a = sa.source JOIN sz sb ON p.src_b = sb.source
"""


def _q_x_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact-count quota sampling: the 8 md5-smallest docs per source
    # (stratified_sample's count-quota complement — fractions can't
    # promise exact per-group counts on skewed strata)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.quota_sample(docs, "source", 8, salt="quota")


_SQL_X_QUOTA_SAMPLE = """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(doc_id || '#quota')) AS sample_rank
  FROM documents)
SELECT doc_id, source, CAST(sample_rank AS INT) AS sample_rank
FROM ranked WHERE sample_rank <= 8
"""


def _q_x_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DSIR importance weights: target = every 5th doc salted with a
    # marker phrase, raw = all docs with the same phrase on every 7th —
    # marker-carrying raw docs must score visibly more target-like.
    # Unigram features here keep the oracle a plain re-derivation
    # (md5-bucket counts -> floored micro-nat lns -> integer doc sums);
    # the bigram path is pinned by the stdlib twin in tests.
    docs = _t(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(F.col("text"),
                 F.when(F.col("doc_id") % 7 == 0, F.lit(" quantum flux"))
                  .otherwise(F.lit(""))).alias("text"))
    tgt = (docs.filter(F.col("doc_id") % 5 == 0)
           .select("doc_id",
                   F.concat(F.col("text"), F.lit(" quantum flux"))
                   .alias("text")))
    return sampling.dsir_weights(raw, tgt, ns=(1,), buckets=512)


_SQL_X_DSIR = f"""
WITH raw AS (SELECT doc_id,
    text || CASE WHEN doc_id % 7 = 0 THEN ' quantum flux' ELSE '' END AS t
  FROM documents),
tgt AS (SELECT doc_id, text || ' quantum flux' AS t
  FROM documents WHERE doc_id % 5 = 0),
{_oracle_dsir_weights("doc_id")},
sc AS (SELECT rg.doc_id, count(*) AS n_grams,
              CAST(sum(wt.w) AS BIGINT) AS logw
       FROM rg JOIN wt ON rg.b = wt.b GROUP BY rg.doc_id)
SELECT r.doc_id,
  coalesce(sc.n_grams, 0) AS n_grams,
  coalesce(sc.logw, 0) AS logw_micro,
  coalesce(floor(sc.logw / sc.n_grams)::BIGINT::DOUBLE / 1e6, 0.0)
    AS avg_logw
FROM raw r LEFT JOIN sc ON r.doc_id = sc.doc_id
"""


def _q_x_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the resampling step end-to-end: exact top-50 most target-like
    # docs by (logw_micro DESC, doc_id ASC) — a total order, so the
    # oracle re-derives the identical set from the weight pipeline
    docs = _t(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(F.col("text"),
                 F.when(F.col("doc_id") % 7 == 0, F.lit(" quantum flux"))
                  .otherwise(F.lit(""))).alias("text"))
    tgt = (docs.filter(F.col("doc_id") % 5 == 0)
           .select("doc_id",
                   F.concat(F.col("text"), F.lit(" quantum flux"))
                   .alias("text")))
    return (sampling.dsir_sample(raw, tgt, 50, ns=(1,), buckets=512)
            .select("doc_id", "logw_micro"))


_SQL_X_DSIR_SAMPLE = f"""
WITH raw AS (SELECT doc_id,
    text || CASE WHEN doc_id % 7 = 0 THEN ' quantum flux' ELSE '' END AS t
  FROM documents),
tgt AS (SELECT doc_id, text || ' quantum flux' AS t
  FROM documents WHERE doc_id % 5 = 0),
{_oracle_dsir_weights("doc_id")},
sc AS (SELECT rg.doc_id,
              CAST(sum(wt.w) AS BIGINT) AS logw_micro
       FROM rg JOIN wt ON rg.b = wt.b GROUP BY rg.doc_id)
SELECT doc_id, logw_micro
FROM sc ORDER BY logw_micro DESC, doc_id ASC LIMIT 50
"""


def _q_x_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # data-mixing inverse of decontamination: score the new batch
    # (doc_id%3==0) by the fraction of its distinct 3-grams NOT already
    # in the kept corpus (the rest). Spark probes 64-bit shingle hashes;
    # the oracle uses raw 3-gram strings (identical up to 2^-64
    # collisions).
    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    ref = docs.filter(F.col("doc_id") % 3 != 0)
    return decontam.novelty_score(batch, ref)


_SQL_X_NOVELTY = f"""
WITH {_oracle_shingles("documents")},
ref AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 3 <> 0),
b AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 3 = 0),
per AS (SELECT b.doc_id, count(*) AS n_shingles,
               sum(CASE WHEN r.g IS NOT NULL THEN 1 ELSE 0 END) AS n_known
        FROM b LEFT JOIN ref r USING (g) GROUP BY b.doc_id)
SELECT d.doc_id,
       coalesce(per.n_shingles, 0) AS n_shingles,
       CAST(coalesce(per.n_known, 0) AS BIGINT) AS n_known,
       round(coalesce((per.n_shingles - per.n_known)
                      / nullif(per.n_shingles, 0), 1.0), 6) AS novelty
FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
LEFT JOIN per USING (doc_id)
"""


def _q_d_incremental_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fuzzy sibling of d_incremental_dedup: batch (doc_id%3==0) deduped
    # against the signature ledger of already-kept docs (the rest); LSH
    # candidates at 32 bands (miss ~6.5e-15 at J>=0.8) verified with
    # exact Jaccard on candidate docs only, so the survivor set is
    # value-exact vs the brute-force oracle.
    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    seen = docs.filter(F.col("doc_id") % 3 != 0)
    ledger = dedup.minhash_signature(seen).select("doc_id", "minhash")
    out = dedup.incremental_fuzzy_dedup(batch, ledger, seen)
    return out.select("doc_id")


_SQL_D_INCREMENTAL_FUZZY = f"""
WITH {_oracle_shingles("documents")},
b AS (SELECT * FROM sh WHERE doc_id % 3 = 0),
l AS (SELECT * FROM sh WHERE doc_id % 3 <> 0),
dup AS (SELECT DISTINCT b.doc_id
        FROM b JOIN l ON len(list_intersect(b.s, l.s))::DOUBLE
                         / (len(b.s) + len(l.s)
                            - len(list_intersect(b.s, l.s))) >= 0.8)
SELECT doc_id FROM b ANTI JOIN dup USING (doc_id)
"""


def _q_d_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"),
                                     n=3, threshold=0.8)


def _q_d_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH candidates verified with exact Jaccard, gated against the exact
    # brute-force oracle. 64 perms / 32 bands (r=2) makes the per-pair miss
    # probability at J>=0.8 equal (1 - 0.8^2)^32 ≈ 6.5e-15 — negligible for
    # any data refresh (a 16-band config would be ~2e-4 per pair, enough to
    # flip the exactness gate on unlucky data). Production tuning trades
    # bands back down for candidate precision; recall floors are asserted
    # in tests/test_edge_inputs.py.
    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"),
                                   n=3, threshold=0.8, bands=32)


def _q_d_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # asymmetric (quote/embedding) near-dups: both engines salt every
    # 31st doc with a boilerplate-wrapped copy, then containment
    # |A∩B|/min(|A|,|B|) flags the subset relation Jaccard misses
    docs = _t(spark, sf_dir, "documents")
    wrappers = docs.filter(F.col("doc_id") % 31 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("wrapper header boilerplate intro "),
                 F.col("text"),
                 F.lit(" outro footer closing boilerplate")).alias("text"))
    base = docs.select("doc_id", "text")
    return dedup.ngram_containment_pairs(
        base.unionByName(wrappers), n=3, threshold=0.9)


_SQL_D_CONTAINMENT = f"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         'wrapper header boilerplate intro ' || text ||
         ' outro footer closing boilerplate'
  FROM documents WHERE doc_id % 31 = 0),
{_oracle_overlap("u")}
SELECT doc_a, doc_b, inter AS n_inter,
       sa.n AS size_a, sb.n AS size_b,
       inter::DOUBLE / least(sa.n, sb.n) AS containment,
       inter::DOUBLE / (sa.n + sb.n - inter) AS jaccard
FROM p JOIN sz sa ON p.doc_a = sa.doc_id
       JOIN sz sb ON p.doc_b = sb.doc_id
WHERE inter::DOUBLE / least(sa.n, sb.n) >= 0.9
"""


def _q_d_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pairs -> transitive dedup GROUPS (connected components, min-id
    # survivor). Built on the LSH pairs above, whose exactness gate holds
    # at 32 bands; the oracle recomputes the same pair set with exact SQL
    # and closes it transitively with a recursive CTE.
    pairs = dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"),
                                    n=3, threshold=0.8, bands=32)
    return dedup.near_dup_groups(pairs)


_SQL_D_DUP_GROUPS = f"""
WITH RECURSIVE
{_oracle_dup_groups("documents")}
SELECT doc_id, group_id FROM g
"""


def _q_d_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the "what does dedup buy us" dashboard: LSH pairs -> CC groups ->
    # per-group-size rollup with the whitespace-token mass the
    # non-survivors (min-id convention) carry. Oracle = the d_dup_groups
    # recursive CTE extended with the same two aggregates.
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, n=3, threshold=0.8, bands=32)
    groups = dedup.near_dup_groups(pairs)
    return dedup.dedup_summary(groups, docs)


_SQL_D_DEDUP_REPORT = f"""
WITH RECURSIVE
{_oracle_dup_groups("documents")},
tok AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS t
        FROM documents),
per AS (SELECT group_id, count(*) AS gsz, sum(t) AS tt,
               arg_min(t, doc_id) AS st
        FROM g JOIN tok USING (doc_id) GROUP BY group_id)
SELECT CAST(gsz AS INT) AS group_size,
       count(*)::BIGINT AS n_groups,
       CAST(sum(gsz) AS BIGINT) AS n_docs,
       CAST(sum(gsz - 1) AS BIGINT) AS n_excess_docs,
       CAST(sum(tt - st) AS BIGINT) AS excess_tokens
FROM per GROUP BY gsz
"""


def _q_d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_t(spark, sf_dir, "documents"))


_SQL_D_SIMHASH = """
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hv FROM t),
b AS (SELECT doc_id, i, sum(2 * ((hv >> i) & 1) - 1) AS s
      FROM h CROSS JOIN (SELECT unnest(range(60)) AS i) g GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash
FROM b GROUP BY doc_id
"""


def _q_d_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


_SQL_D_SIMHASH_PAIRS = """
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hv FROM t),
b AS (SELECT doc_id, i, sum(2 * ((hv >> i) & 1) - 1) AS s
      FROM h CROSS JOIN (SELECT unnest(range(60)) AS i) g GROUP BY 1, 2),
f AS (SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS sh
      FROM b GROUP BY doc_id)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.sh, b.sh)) AS hamming
FROM f a JOIN f b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""


# ---------------------------------------------------------------------------
# Similarity search (embeddings)
# ---------------------------------------------------------------------------

def _q_a_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 8), k=10)


def _q_v_vector_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-hygiene validation (similarity.vector_violations): both
    engines salt the clean embeddings table with the same deterministic
    defects (NaN / +inf / null-element at position 0, all-zero,
    truncated-to-32, null vector — disjoint vec_id residue classes, one
    fixed CASE order) so every check fires on real rows."""
    emb = _t(spark, sf_dir, "embeddings")
    v, vid = F.col("embedding"), F.col("vec_id")
    fl = lambda x: F.lit(x).cast("float")  # noqa: E731
    salted = emb.select(vid, F.when(vid % 43 == 0,
                                    F.lit(None).cast("array<float>"))
                        .when(vid % 37 == 0, F.array_repeat(fl(0.0), 64))
                        .when(vid % 41 == 0, F.slice(v, 1, 32))
                        .when(vid % 29 == 0, F.concat(
                            F.array(fl(float("nan"))), F.slice(v, 2, 63)))
                        .when(vid % 31 == 0, F.concat(
                            F.array(fl(float("inf"))), F.slice(v, 2, 63)))
                        .when(vid % 47 == 0, F.concat(
                            F.array(F.lit(None).cast("float")),
                            F.slice(v, 2, 63)))
                        .otherwise(v).alias("embedding"))
    return similarity.vector_violations(salted, 64)


def _micro_int_str(name: str):
    """Present an ``array<double>`` output column as a comma-joined
    micro-int (×1e6, rounded) string: the driver's pandas hasher cannot
    sort/hash array cells (round-4 ``unhashable type: 'list'`` crash
    class), and micro-ints avoid any cross-engine float-formatting
    dependence. Every array-output entry MUST route through this (its
    DuckDB twin: ``array_to_string(list_transform(col, x ->
    CAST(CAST(round(x * 1000000) AS BIGINT) AS VARCHAR)), ',')``); the
    operators underneath still return the real arrays."""
    return F.when(F.col(name).isNotNull(), F.concat_ws(
        ",", F.transform(F.col(name),
                         lambda x: F.round(x * 1000000)
                                    .cast("bigint").cast("string"))))


def _q_a_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization (similarity.normalize_embeddings): NumPy kernel,
    rounding Spark-side; oracle re-derives unit vectors + norms with
    DuckDB double arithmetic at the same fixed precision; the unit
    vector travels as a micro-int string (see _micro_int_str)."""
    out = similarity.normalize_embeddings(_t(spark, sf_dir, "embeddings"))
    return out.withColumn("unit", _micro_int_str("unit"))


_SQL_A_NORMALIZE = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
SELECT vec_id,
       CASE WHEN nrm > 0
            THEN array_to_string(list_transform(v,
                   x -> CAST(CAST(round(round(x / nrm, 6) * 1000000)
                                  AS BIGINT) AS VARCHAR)), ',')
       END AS unit,
       round(nrm, 6) AS norm
FROM n
"""


_SQL_V_VECTOR_CHECK = """
WITH s AS (SELECT vec_id,
  CASE WHEN vec_id % 43 = 0 THEN NULL
       WHEN vec_id % 37 = 0 THEN list_transform(embedding, x -> 0.0::FLOAT)
       WHEN vec_id % 41 = 0 THEN embedding[1:32]
       WHEN vec_id % 29 = 0 THEN list_concat(['nan'::FLOAT], embedding[2:64])
       WHEN vec_id % 31 = 0 THEN list_concat(['infinity'::FLOAT], embedding[2:64])
       WHEN vec_id % 47 = 0 THEN list_concat([NULL::FLOAT], embedding[2:64])
       ELSE embedding END AS v
  FROM embeddings)
SELECT vec_id, '/embedding' AS instance_path, 'NullVector' AS code,
       '/embedding: vector is null' AS message
FROM s WHERE v IS NULL
UNION ALL
SELECT vec_id, '/embedding', 'WrongDimension',
       '/embedding: expected 64 dimensions, got ' || CAST(len(v) AS VARCHAR)
FROM s WHERE v IS NOT NULL AND len(v) != 64
UNION ALL
SELECT vec_id, '/embedding', 'NullElement',
       '/embedding: vector contains null elements'
FROM s WHERE v IS NOT NULL
  AND len(list_filter(v, x -> x IS NULL)) > 0
UNION ALL
SELECT vec_id, '/embedding', 'ContainsNaN',
       '/embedding: vector contains NaN'
FROM s WHERE v IS NOT NULL AND isnan(list_aggregate(v, 'max'))
UNION ALL
SELECT vec_id, '/embedding', 'ContainsInfinity',
       '/embedding: vector contains infinity'
FROM s WHERE v IS NOT NULL
  AND (list_aggregate(v, 'max') = 'infinity'::FLOAT
       OR list_aggregate(v, 'min') = '-infinity'::FLOAT)
UNION ALL
SELECT vec_id, '/embedding', 'ZeroVector',
       '/embedding: zero vector has undefined cosine'
FROM s WHERE v IS NOT NULL AND len(v) > 0
  AND list_aggregate(v, 'min') = 0 AND list_aggregate(v, 'max') = 0
"""


_SQL_A_COSINE = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
s AS (SELECT qid AS query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
                   6) AS cos_sim
      FROM q JOIN e ON e.vec_id <> qid),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM s)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
FROM r WHERE rank <= 10
"""


def _q_a_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # int8-quantized brute-force top-k: the 4x-cheaper scan. Integer dot
    # products are exact and order-free, so the oracle reproduces the
    # similarities bit-for-bit by re-deriving the same quantization.
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.quantized_topk(emb, emb.filter(F.col("vec_id") < 8),
                                     k=10)


_SQL_A_QUANTIZED_TOPK = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0),
s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
q AS (SELECT vec_id,
             CASE WHEN mx > 0
                  THEN list_transform(v, x -> floor((x / mx) * 127.0 + 0.5))
                  ELSE list_transform(v, x -> 0.0) END AS qv
      FROM s),
nz AS (SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS nrm FROM q
       WHERE list_dot_product(qv, qv) > 0),
qs AS (SELECT vec_id AS qid, qv AS qqv, nrm AS qn FROM nz WHERE vec_id < 8),
sc AS (SELECT qid AS query_id, nz.vec_id AS neighbor_id,
              round(list_dot_product(qqv, nz.qv) / (nz.nrm * qn), 6) AS cos_sim
       FROM qs JOIN nz ON nz.vec_id <> qid),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM sc)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
FROM r WHERE rank <= 10
"""


def _q_a_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # product-quantization ADC top-k (Jégou et al. 2011): 64-dim floats
    # -> 4 codes/vector against 16 per-subspace centroids. With the
    # deterministic lowest-id codebook the whole pipeline — codebook,
    # per-subspace argmin encode, LUT scoring, ranking — is re-derived
    # by the oracle value-exactly (dim-ordered folds, sub-ordered sums).
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_topk(emb, emb.filter(F.col("vec_id") < 8),
                              k=10, m=4, n_centroids=16)


_SQL_A_PQ_TOPK = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
pcen AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
         FROM e ORDER BY vec_id LIMIT 16),
sub AS (SELECT unnest(range(4)) AS s),
dist AS (SELECT e.vec_id, sub.s, pcen.cid,
           list_sum(list_transform(range(1, 17), i ->
             (v[sub.s * 16 + i] - cv[sub.s * 16 + i])
             * (v[sub.s * 16 + i] - cv[sub.s * 16 + i]))) AS d2
         FROM e, sub, pcen),
{_ORACLE_PQ_CODE},
{_ORACLE_PQ_PARTS},
sc AS (SELECT qid AS query_id, vec_id AS neighbor_id,
         round(((p0 + p1) + p2) + p3, 6) AS adc_sim
       FROM parts WHERE vec_id <> qid),
{_ORACLE_ADC_TOP10}
"""


def _q_a_cosine_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # embedding-cosine near-dup pairs (exact baseline / verifier). The
    # NumPy mapInPandas path: bit-identical to the HOF-fold operator
    # (ordered per-dimension accumulation) at ~5-10x the speed; the test
    # vectors are random (max pairwise cosine ~0.5) so the demo threshold
    # is 0.42; production near-dup runs >=0.95 with a_cosine_dup_bucketed.
    return similarity.cosine_dup_pairs_np(_t(spark, sf_dir, "embeddings"),
                                          threshold=0.42)


_SQL_A_COSINE_DUP = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings)
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
             6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
            6) >= 0.42
"""


def _q_a_srp_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SRP-LSH (Charikar cosine LSH) near-dup — the training-free scale
    # path: sign bits from seeded Rademacher hyperplanes, banded bucket
    # candidates, exact-cosine verify. The oracle SQL is GENERATED from
    # the same hyperplane helper, so the banding (not just the verified
    # values) is reproduced cross-engine.
    return similarity.srp_dup_pairs(_t(spark, sf_dir, "embeddings"),
                                    threshold=0.42)


_SQL_A_SRP_DUP_PAIRS = similarity.srp_dup_pairs_sql(dims=64, threshold=0.42)


def _q_a_mean_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-label mean embedding (group centroids) under the order-free
    # integer micro-unit contract — bit-identical cross-engine; the
    # centroid travels as a micro-int string (see _micro_int_str)
    out = similarity.mean_embedding_by(
        _t(spark, sf_dir, "embeddings"), "label")
    return out.withColumn("embedding", _micro_int_str("embedding"))


_SQL_A_MEAN_EMBEDDING = """
WITH e AS (SELECT label,
                  list_transform(embedding,
                    x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)) AS m
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
d AS (SELECT label, unnest(m) AS v, generate_subscripts(m, 1) AS i FROM e),
s AS (SELECT label, i, CAST(sum(v) AS BIGINT) AS sv, count(*) AS n
      FROM d GROUP BY label, i)
SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
       array_to_string(list_transform(
           list(sv / (n * 1000000.0) ORDER BY i),
           x -> CAST(CAST(round(x * 1000000) AS BIGINT) AS VARCHAR)), ',')
         AS embedding
FROM s GROUP BY label ORDER BY label
"""


def _q_a_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-dimension embedding stats (dead/constant/exploding dims — the
    # encoder sanity check); micro-int sums, one dim-keyed aggregate
    return similarity.dimension_profile(_t(spark, sf_dir, "embeddings"))


_SQL_A_DIM_PROFILE = """
WITH e AS (SELECT list_transform(embedding,
                    x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)) AS m
           FROM embeddings WHERE embedding IS NOT NULL),
d AS (SELECT unnest(m) AS mv, generate_subscripts(m, 1) - 1 AS dim FROM e),
a AS (SELECT dim, count(mv) AS n, CAST(sum(mv) AS BIGINT) AS s,
             sum(mv * mv) AS ss,
             CAST(sum(CASE WHEN mv = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero
      FROM d WHERE mv IS NOT NULL GROUP BY dim)
SELECT CAST(dim AS INT) AS dim, n,
       round(s / (n * 1000000.0), 6) AS mean,
       round(sqrt(greatest(
           CAST(ss AS DOUBLE) / n / 1000000000000.0
           - (s / (n * 1000000.0)) * (s / (n * 1000000.0)), 0.0)), 6)
         AS std,
       n_zero, n_zero = n AS dead
FROM a ORDER BY dim
"""


def _q_a_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nearest-centroid (Rocchio) label audit: exact micro-sum label
    # centroids + zero-shuffle broadcast argmax; full value oracle
    return similarity.centroid_classify(_t(spark, sf_dir, "embeddings"))


_SQL_A_CENTROID_CLASSIFY = """
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> x::DOUBLE) AS v,
                  list_transform(embedding,
                    x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)) AS m
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
d AS (SELECT label, unnest(m) AS mv, generate_subscripts(m, 1) AS i
      FROM e WHERE label IS NOT NULL),
s AS (SELECT label, i, CAST(sum(mv) AS BIGINT) AS sv, count(*) AS n
      FROM d GROUP BY label, i),
c AS (SELECT label AS cid, list(sv / (n * 1000000.0) ORDER BY i) AS cv
      FROM s GROUP BY label),
sc AS (SELECT e.vec_id, e.label, c.cid,
              list_dot_product(e.v, c.cv) /
              (sqrt(list_dot_product(e.v, e.v)) *
               sqrt(list_dot_product(c.cv, c.cv))) AS sim
       FROM e CROSS JOIN c),
asg AS (SELECT vec_id, label, cid AS predicted_label FROM (
          SELECT sc.*, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cid) AS rn
          FROM sc) WHERE rn = 1)
SELECT vec_id, label, predicted_label,
       predicted_label = label AS agrees
FROM asg
"""


def _q_a_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pairwise cosine between per-label mean embeddings — semantic
    # complement of d_source_overlap; exact micro-sum centroids +
    # ordered driver fold, label-count^2 output
    return similarity.group_centroid_similarity(
        _t(spark, sf_dir, "embeddings"), "label")


_SQL_A_SOURCE_SIMILARITY = """
WITH e AS (SELECT label,
                  list_transform(embedding,
                    x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)) AS m
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
d AS (SELECT label, unnest(m) AS v, generate_subscripts(m, 1) AS i FROM e),
s AS (SELECT label, i, CAST(sum(v) AS BIGINT) AS sv, count(*) AS n
      FROM d GROUP BY label, i),
c AS (SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
             list(sv / (n * 1000000.0) ORDER BY i) AS m
      FROM s GROUP BY label)
SELECT a.label AS group_a, b.label AS group_b,
       round(list_dot_product(a.m, b.m) /
             (sqrt(list_dot_product(a.m, a.m)) *
              sqrt(list_dot_product(b.m, b.m))), 6) AS cos_sim,
       a.n_vectors AS n_a, b.n_vectors AS n_b
FROM c a JOIN c b ON a.label < b.label
"""


def _q_a_coverage_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # embedding-space coverage sampling: exact per-IVF-bucket quota
    # (zero-shuffle assignment + two-phase md5 top-N); full value oracle
    # re-derives centroids, argmax assignment, and the quota draw
    return similarity.coverage_sample(
        _t(spark, sf_dir, "embeddings"), per_bucket=8, n_centroids=16,
    ).select("vec_id", "bucket_id", "sample_rank")


_SQL_A_COVERAGE_SAMPLE = f"""
WITH {_ORACLE_IVF_ASSIGN},
ranked AS (SELECT vec_id, bucket_id,
                  row_number() OVER (PARTITION BY bucket_id
                                     ORDER BY md5(vec_id || '#0'))
                    AS sample_rank
           FROM asg)
SELECT vec_id, bucket_id, CAST(sample_rank AS INT) AS sample_rank
FROM ranked WHERE sample_rank <= 8
"""


def _q_a_cosine_dup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the SCALE path for embedding near-dup (candidates only within IVF
    # buckets, zero-shuffle assignment): gated against a DuckDB oracle
    # that reproduces the same deterministic centroid choice (16 lowest
    # ids), the same argmax assignment, and the within-bucket pair scan
    return similarity.cosine_dup_pairs_bucketed(
        _t(spark, sf_dir, "embeddings"), threshold=0.42, n_centroids=16)


_SQL_A_COSINE_DUP_BUCKETED = f"""
WITH {_ORACLE_IVF_ASSIGN},
b AS (SELECT e.vec_id, e.v, asg.bucket_id FROM e JOIN asg USING (vec_id))
SELECT a.vec_id AS doc_a, bb.vec_id AS doc_b,
       round(list_dot_product(a.v, bb.v) /
             (sqrt(list_dot_product(a.v, a.v)) *
              sqrt(list_dot_product(bb.v, bb.v))), 6) AS cos_sim
FROM b a JOIN b bb ON a.bucket_id = bb.bucket_id AND a.vec_id < bb.vec_id
WHERE round(list_dot_product(a.v, bb.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(bb.v, bb.v))), 6) >= 0.42
"""


def _q_a_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus kNN graph (every vector's 5 in-bucket nearest neighbors):
    # with deterministic centroids the assignment, candidate sets, raw
    # similarities (ordered fold == DuckDB list_dot_product), and the
    # (sim DESC, id ASC) ranking are all totally ordered, so the full
    # graph gets a value oracle.
    return similarity.knn_join(_t(spark, sf_dir, "embeddings"),
                               k=5, n_centroids=16)


_SQL_A_KNN_JOIN = f"""
WITH {_ORACLE_IVF_ASSIGN},
b AS (SELECT e.vec_id, e.v, asg.bucket_id FROM e JOIN asg USING (vec_id)),
p AS (SELECT a.vec_id AS src, bb.vec_id AS nbr,
             list_dot_product(a.v, bb.v) /
             (sqrt(list_dot_product(a.v, a.v)) *
              sqrt(list_dot_product(bb.v, bb.v))) AS s
      FROM b a JOIN b bb ON a.bucket_id = bb.bucket_id
                        AND a.vec_id <> bb.vec_id),
r AS (SELECT src, nbr, s,
             row_number() OVER (PARTITION BY src
                                ORDER BY s DESC, nbr) AS rank
      FROM p WHERE isfinite(s))
SELECT src AS vec_id, nbr AS nbr_id, round(s, 6) AS cos_sim,
       CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""


def _q_a_quality_propagate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # kNN-graph quality smoothing: deterministic synthetic per-doc
    # quality (exact integer hash -> 6dp), one propagation step over the
    # knn_join graph. Integer micro-unit weighted sums make the result
    # order-independent, hence value-exact cross-engine.
    emb = _t(spark, sf_dir, "embeddings")
    edges = similarity.knn_join(emb, k=5, n_centroids=16)
    scores = emb.select(
        "vec_id",
        F.round(((F.col("vec_id") * F.lit(2654435761)) % F.lit(1000003))
                .cast("double") / F.lit(1000003.0), 6).alias("quality"))
    return similarity.quality_propagate(scores, edges)


_SQL_A_QUALITY_PROPAGATE = f"""
WITH knn AS ({_SQL_A_KNN_JOIN}),
q AS (SELECT vec_id,
             round(((vec_id * 2654435761) % 1000003) / 1000003.0, 6)
               AS quality
      FROM embeddings),
ed AS (SELECT vec_id, nbr_id,
              greatest(CAST(round(cos_sim * 1e6) AS BIGINT),
                       CAST(0 AS BIGINT)) AS w
       FROM knn),
agg AS (SELECT e.vec_id,
               sum(e.w * CAST(round(nq.quality * 1e6) AS BIGINT)) AS num,
               sum(e.w) AS den, count(*) AS n_nbrs
        FROM ed e JOIN q nq ON nq.vec_id = e.nbr_id
        GROUP BY e.vec_id)
SELECT q.vec_id, q.quality,
       round(CASE WHEN agg.den IS NULL OR agg.den = 0
                  THEN CAST(round(q.quality * 1e6) AS BIGINT) / 1e6
                  ELSE 0.5 * (CAST(round(q.quality * 1e6) AS BIGINT) / 1e6)
                       + 0.5 * (num::DOUBLE / (den::DOUBLE * 1e6))
             END, 6) AS smoothed_quality,
       coalesce(agg.n_nbrs, 0) AS n_nbrs
FROM q LEFT JOIN agg USING (vec_id)
"""


def _q_a_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # embedding-space label-noise pass: a vector whose kNN neighborhood
    # majority label disagrees with its own label is flagged. Labels are
    # integers with no NULLs in this table (NULL tie-order differs
    # between engines; the operator's NULL handling is unit-tested).
    emb = _t(spark, sf_dir, "embeddings")
    edges = similarity.knn_join(emb, k=5, n_centroids=16)
    return similarity.label_outliers(emb.select("vec_id", "label"), edges)


_SQL_A_LABEL_OUTLIERS = f"""
WITH knn AS ({_SQL_A_KNN_JOIN}),
lab AS (SELECT vec_id, label FROM embeddings),
e AS (SELECT k.vec_id, nl.label AS nl, ol.label AS ol
      FROM knn k JOIN lab nl ON nl.vec_id = k.nbr_id
                 JOIN lab ol ON ol.vec_id = k.vec_id),
cnt AS (SELECT vec_id, nl, count(*) AS c,
               sum(CASE WHEN nl IS NOT DISTINCT FROM ol
                        THEN 1 ELSE 0 END) AS a
        FROM e GROUP BY vec_id, nl),
agg AS (SELECT vec_id, sum(c) AS n_nbrs, sum(a) AS n_agree
        FROM cnt GROUP BY vec_id),
m AS (SELECT vec_id, nl AS majority_label FROM (
        SELECT vec_id, nl,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY c DESC, nl ASC) AS rn
        FROM cnt) WHERE rn = 1)
SELECT l.vec_id, l.label, m.majority_label,
       CAST(coalesce(agg.n_nbrs, 0) AS BIGINT) AS n_nbrs,
       CAST(coalesce(agg.n_agree, 0) AS BIGINT) AS n_agree,
       CASE WHEN coalesce(agg.n_nbrs, 0) >= 3
                 AND (m.majority_label IS DISTINCT FROM l.label)
            THEN true ELSE false END AS is_outlier
FROM lab l LEFT JOIN agg USING (vec_id) LEFT JOIN m USING (vec_id)
"""


def _q_a_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup end-to-end: IVF-bucketed pair generation -> transitive
    # groups -> min-id canonical survivor. With deterministic centroids
    # (16 lowest ids) every stage is totally ordered, so the full
    # composition gets a value oracle: DuckDB re-derives the buckets,
    # the within-bucket pairs, the components (recursive CTE), and the
    # same survivors.
    return similarity.semantic_dedup(_t(spark, sf_dir, "embeddings"),
                                     threshold=0.42, n_centroids=16)


_SQL_A_SEMANTIC_DEDUP = f"""
WITH RECURSIVE
{_ORACLE_IVF_ASSIGN},
b AS (SELECT e.vec_id, e.v, asg.bucket_id FROM e JOIN asg USING (vec_id)),
pr AS (SELECT a.vec_id AS doc_a, bb.vec_id AS doc_b
       FROM b a JOIN b bb ON a.bucket_id = bb.bucket_id
                         AND a.vec_id < bb.vec_id
       WHERE round(list_dot_product(a.v, bb.v) /
                   (sqrt(list_dot_product(a.v, a.v)) *
                    sqrt(list_dot_product(bb.v, bb.v))), 6) >= 0.42),
{_ORACLE_COMPONENTS},
best AS (SELECT vec_id, group_id, group_size FROM (
    SELECT g.doc_id AS vec_id, g.group_id,
           count(*) OVER (PARTITION BY g.group_id) AS group_size,
           row_number() OVER (PARTITION BY g.group_id
                              ORDER BY g.doc_id) AS rn
    FROM g) WHERE rn = 1)
SELECT vec_id, group_id, group_size FROM best
UNION ALL
SELECT vec_id, vec_id AS group_id, 1::BIGINT AS group_size
FROM embeddings WHERE vec_id NOT IN (SELECT doc_id FROM g)
"""


def _q_a_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 8),
                               k=10, n_centroids=16, nprobe=4)


# With FIXED centroids (the 16 lowest-id vectors) the whole IVF pipeline
# is deterministic — assignment argmax, probe selection, candidate set,
# and top-k tie-breaks are all totally ordered — so the "approximate" ANN
# path gets a full value oracle: DuckDB re-derives the same buckets,
# probes the same 4, and ranks the same candidates. Only the k-means-
# TRAINED variant stays recall-gated (Lloyd iterations are not
# reasonably expressible in SQL).
_SQL_A_IVF = f"""
WITH {_ORACLE_IVF_ASSIGN},
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
ps AS (SELECT q.query_id, cen.cid,
              list_dot_product(q.qv, cen.cv) /
              (sqrt(list_dot_product(q.qv, q.qv)) *
               sqrt(list_dot_product(cen.cv, cen.cv))) AS s
       FROM q CROSS JOIN cen),
probes AS (SELECT query_id, cid AS bucket_id FROM (
             SELECT ps.*, row_number() OVER (PARTITION BY query_id
                                             ORDER BY s DESC, cid) AS rn
             FROM ps WHERE s IS NOT NULL) WHERE rn <= 4),
scored AS (SELECT p.query_id, e.vec_id AS neighbor_id,
                  round(list_dot_product(q.qv, e.v) /
                        (sqrt(list_dot_product(q.qv, q.qv)) *
                         sqrt(list_dot_product(e.v, e.v))), 6) AS cos_sim
           FROM probes p
           JOIN asg ON asg.bucket_id = p.bucket_id
           JOIN e ON e.vec_id = asg.vec_id
           JOIN q ON q.query_id = p.query_id
           WHERE e.vec_id <> p.query_id)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim FROM (
  SELECT scored.*, row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 10
"""


def _q_a_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the ANN tuning measurement as a query: recall@10 of the IVF path
    # (16 deterministic centroids, nprobe=4) against exact brute force —
    # both sides totally ordered, so the quality number itself is
    # oracle-checkable.
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_recall(emb, emb.filter(F.col("vec_id") < 8),
                                 k=10, n_centroids=16, nprobe=4)


_SQL_A_IVF_RECALL = _oracle_recall(_SQL_A_IVF)


def _q_a_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the FAISS-style IVF+PQ index: coarse cosine routing (probe 4 of
    # 16 buckets) over 4-byte PQ codes scored by ADC LUTs — one fused
    # zero-shuffle encode kernel + one window. Deterministic lowest-id
    # centroids/codebook make the whole pipeline value-oracle-able.
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(emb, emb.filter(F.col("vec_id") < 8),
                                 k=10, m=4, n_centroids=16, nprobe=4)


_SQL_A_IVFPQ_TOPK = f"""
WITH {_ORACLE_IVFPQ_COARSE},
pcen AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
         FROM e ORDER BY vec_id LIMIT 16),
sub AS (SELECT unnest(range(4)) AS s),
dist AS (SELECT e.vec_id, sub.s, pcen.cid,
           list_sum(list_transform(range(1, 17), i ->
             (v[sub.s * 16 + i] - cv[sub.s * 16 + i])
             * (v[sub.s * 16 + i] - cv[sub.s * 16 + i]))) AS d2
         FROM e, sub, pcen),
{_ORACLE_PQ_CODE},
{_ORACLE_IVFPQ_PROBES},
{_ORACLE_PQ_PARTS},
sc AS (SELECT parts.qid AS query_id, parts.vec_id AS neighbor_id,
         round(((p0 + p1) + p2) + p3, 6) AS adc_sim
       FROM parts
       JOIN asg ON asg.vec_id = parts.vec_id
       JOIN probes p ON p.qid = parts.qid
                    AND p.bucket_id = asg.bucket_id
       WHERE parts.vec_id <> parts.qid),
{_ORACLE_ADC_TOP10}
"""


def _q_a_ivfpq_res(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full FAISS IVFADC (by_residual=true): quantize v - centroid
    # instead of v, score dot(q, centroid) + residual ADC lookups.
    # Deterministic residual codebook (residuals of the 17th-32nd
    # lowest-id vectors) keeps the whole pipeline value-oracled.
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(emb, emb.filter(F.col("vec_id") < 8),
                                 k=10, m=4, n_centroids=16, nprobe=4,
                                 by_residual=True)


_SQL_A_IVFPQ_RES = f"""
WITH {_ORACLE_IVFPQ_COARSE},
srows AS (SELECT vec_id, v FROM (
            SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rk
            FROM e) WHERE rk > 16 AND rk <= 32),
rseed AS (SELECT s.vec_id,
            list_transform(range(1, 65), i -> s.v[i] - icen.icv[i]) AS rv
          FROM srows s
          JOIN asg ON asg.vec_id = s.vec_id
          JOIN icen ON icen.icid = asg.bucket_id),
pcen AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, rv AS cv
         FROM rseed),
rcor AS (SELECT e.vec_id, asg.bucket_id,
           list_transform(range(1, 65), i -> e.v[i] - icen.icv[i]) AS rv
         FROM e
         JOIN asg ON asg.vec_id = e.vec_id
         JOIN icen ON icen.icid = asg.bucket_id),
sub AS (SELECT unnest(range(4)) AS s),
dist AS (SELECT rcor.vec_id, sub.s, pcen.cid,
           list_sum(list_transform(range(1, 17), i ->
             (rv[sub.s * 16 + i] - cv[sub.s * 16 + i])
             * (rv[sub.s * 16 + i] - cv[sub.s * 16 + i]))) AS d2
         FROM rcor, sub, pcen),
{_ORACLE_PQ_CODE},
{_ORACLE_IVFPQ_PROBES},
{_ORACLE_PQ_PARTS},
sc AS (SELECT parts.qid AS query_id, parts.vec_id AS neighbor_id,
         round(((((list_dot_product(q.qv, icen.icv) + p0) + p1) + p2)
                + p3), 6) AS adc_sim
       FROM parts
       JOIN asg ON asg.vec_id = parts.vec_id
       JOIN icen ON icen.icid = asg.bucket_id
       JOIN probes p ON p.qid = parts.qid
                    AND p.bucket_id = asg.bucket_id
       JOIN q ON q.qid = parts.qid
       WHERE parts.vec_id <> parts.qid),
{_ORACLE_ADC_TOP10}
"""


def _q_a_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # recall@10 of the 4-byte PQ codes vs exact brute force — the
    # compression-tuning measurement as a first-class query; fully
    # value-oracled (both sides deterministic)
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_recall(emb, emb.filter(F.col("vec_id") < 8),
                                k=10, m=4, n_centroids=16)


_SQL_A_PQ_RECALL = _oracle_recall(_SQL_A_PQ_TOPK)


def _q_a_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the production IVF shape: centroids from Lloyd k-means (deterministic
    # seed = 16 lowest-id vectors, 2 update rounds) instead of raw seed
    # vectors — better-balanced buckets, same zero-shuffle assignment and
    # NumPy candidate scoring. Approximate: gated by the recall assertion
    # in tests/test_entry_oracle.py (>= the untrained floor), not an oracle.
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, 16, iters=2)
    return similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 8),
                               k=10, n_centroids=16, nprobe=4,
                               centroids=cents)


# ---------------------------------------------------------------------------
# Text analysis (documents)
# ---------------------------------------------------------------------------

def _q_x_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_stats(_t(spark, sf_dir, "documents"))


_SQL_X_TOKENS = r"""
SELECT doc_id, length(text) AS n_chars,
       CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INT) AS bpe_tokens
FROM documents
"""


def _q_x_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # canonical cleaning (control-strip -> NFC -> whitespace collapse):
    # the pre-dedup normalization stage; the oracle applies the identical
    # step sequence and must reproduce the exact bytes
    return (textstats.normalize_text(_t(spark, sf_dir, "documents"))
            .select("doc_id", "text_norm",
                    F.length("text_norm").alias("n_chars")))


_SQL_X_NORMALIZE = r"""
SELECT doc_id,
       trim(regexp_replace(
            nfc_normalize(regexp_replace(text, '[\x00-\x08\x0B-\x1F\x7F]',
                                         '', 'g')),
            '[ \t]+', ' ', 'g')) AS text_norm,
       length(trim(regexp_replace(
            nfc_normalize(regexp_replace(text, '[\x00-\x08\x0B-\x1F\x7F]',
                                         '', 'g')),
            '[ \t]+', ' ', 'g'))) AS n_chars
FROM documents
"""


def _q_v_profile_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stats -> constraint predicates (the north-star "per-column stats
    # feed constraint predicates" path): profile the even-id snapshot,
    # auto-generate a spec (observed bounds + enum + required), validate
    # the odd-id snapshot with injected drift (value x10 on ~1%, an
    # out-of-vocabulary event_type on ~1%). The oracle re-derives the
    # SAME envelope from the even half and applies the same predicates
    # with byte-identical messages.
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = (ev.filter(F.col("event_id") % 2 == 1)
           .withColumn("event_type",
                       F.when(F.col("event_id") % 89 == 0, F.lit("hover"))
                        .otherwise(F.col("event_type")))
           .withColumn("value",
                       F.when(F.col("event_id") % 97 == 0,
                              F.col("value") * 10)
                        .otherwise(F.col("value"))))
    spec = infer.spec_from_profile(a, ["event_type", "value"])
    return ValidationEngine(spec, key_cols=("event_id",)) \
        .validate(b).violations


_SQL_V_PROFILE_SPEC = """
WITH a AS (SELECT * FROM events WHERE event_id % 2 = 0),
b AS (SELECT event_id,
        CASE WHEN event_id % 89 = 0 THEN 'hover' ELSE event_type END
          AS event_type,
        CASE WHEN event_id % 97 = 0 THEN value * 10 ELSE value END AS value
      FROM events WHERE event_id % 2 = 1),
env AS (SELECT min(value) AS mn, max(value) AS mx,
               list_sort(list(DISTINCT event_type)) AS vs
        FROM a),
msg AS (SELECT mn, mx,
               array_to_string(list_transform(vs, x -> '"' || x || '"'),
                               ', ') AS allowed
        FROM env)
SELECT event_id, '/event_type' AS instance_path, 'NotInEnum' AS code,
  '/event_type: value "' || b.event_type || '" not in enum (allowed: '
    || m.allowed || ')' AS message
FROM b, msg m
WHERE b.event_type IS NOT NULL AND NOT list_contains(
        (SELECT vs FROM env), b.event_type)
UNION ALL
SELECT event_id, '/value', 'AboveMaximum',
  '/value: value ' ||
  CASE WHEN b.value = floor(b.value)
       THEN CAST(CAST(b.value AS BIGINT) AS VARCHAR)
       ELSE CAST(b.value AS VARCHAR) END ||
  ' is above maximum ' ||
  CASE WHEN m.mx = floor(m.mx)
       THEN CAST(CAST(m.mx AS BIGINT) AS VARCHAR)
       ELSE CAST(m.mx AS VARCHAR) END
FROM b, msg m WHERE b.value > m.mx
UNION ALL
SELECT event_id, '/value', 'BelowMinimum',
  '/value: value ' ||
  CASE WHEN b.value = floor(b.value)
       THEN CAST(CAST(b.value AS BIGINT) AS VARCHAR)
       ELSE CAST(b.value AS VARCHAR) END ||
  ' is below minimum ' ||
  CASE WHEN m.mn = floor(m.mn)
       THEN CAST(CAST(m.mn AS BIGINT) AS VARCHAR)
       ELSE CAST(m.mn AS VARCHAR) END
FROM b, msg m WHERE b.value < m.mn
UNION ALL
SELECT event_id, '/event_type', 'MissingRequired',
  '/event_type: missing required property "event_type"'
FROM b WHERE event_type IS NULL
UNION ALL
SELECT event_id, '/value', 'MissingRequired',
  '/value: missing required property "value"'
FROM b WHERE value IS NULL
"""


def _q_x_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PII scrub: the corpus text carries no PII, so both engines salt
    # each doc with the SAME deterministic email / phone / IPv4 derived
    # from doc_id, then redact — the oracle must reproduce the exact
    # replacement bytes and per-category counts
    docs = _t(spark, sf_dir, "documents")
    salted = docs.withColumn("text", F.concat(
        F.col("text"),
        F.lit(" contact agent"), F.col("doc_id").cast("string"),
        F.lit("@corp.example.com or 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit("-4567 from 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".7")))
    return textstats.redact_pii(salted)


_SQL_X_REDACT = r"""
WITH s AS (SELECT doc_id,
  text || ' contact agent' || doc_id || '@corp.example.com or 555-01'
       || lpad((doc_id % 100)::VARCHAR, 2, '0') || '-4567 from 10.0.'
       || (doc_id % 256)::VARCHAR || '.7' AS t
FROM documents)
SELECT doc_id,
  len(regexp_extract_all(t,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
  len(regexp_extract_all(t,
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
  len(regexp_extract_all(t, '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b')) AS n_phone,
  regexp_replace(regexp_replace(regexp_replace(t,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g') AS text_redacted
FROM s
"""


def _q_x_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    # provenance filtering: both engines salt each doc with the same
    # doc_id-derived URLs (two for every third doc), extract + canon the
    # domain set, and apply the same two-domain blocklist
    docs = _t(spark, sf_dir, "documents")
    salted = docs.withColumn("text", F.concat(
        F.col("text"),
        F.lit(" see https://Site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/p/"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" and http://mirror"),
                        (F.col("doc_id") % 4).cast("string"),
                        F.lit(".example.net/x")))
         .otherwise(F.lit(""))))
    out = textstats.url_domain_stats(
        salted, blocklist=("site2.example.com", "mirror1.example.net"))
    # comma-joined domain set: the driver's pandas hasher cannot
    # sort/hash array cells (round-4 crash class); the operator
    # underneath still returns the real array<string>
    return out.withColumn(
        "domains", F.when(F.col("domains").isNotNull(),
                          F.concat_ws(",", F.col("domains"))))


_SQL_X_URL_DOMAINS = r"""
WITH s AS (SELECT doc_id,
  text || ' see https://Site' || (doc_id % 7) || '.example.com/p/' || doc_id
       || CASE WHEN doc_id % 3 = 0
               THEN ' and http://mirror' || (doc_id % 4) || '.example.net/x'
               ELSE '' END AS t
FROM documents),
d AS (SELECT doc_id, t,
  list_sort(list_distinct(list_transform(
      regexp_extract_all(t,
        'https?://(?:[A-Za-z0-9._%+-]+@)?([A-Za-z0-9](?:[A-Za-z0-9.-]*[A-Za-z0-9])?)',
        1),
      x -> lower(x)))) AS domains
FROM s)
SELECT doc_id,
  len(regexp_extract_all(t,
      'https?://(?:[A-Za-z0-9._%+-]+@)?([A-Za-z0-9](?:[A-Za-z0-9.-]*[A-Za-z0-9])?)',
      1)) AS n_urls,
  array_to_string(domains, ',') AS domains,
  len(list_intersect(domains,
      ['site2.example.com', 'mirror1.example.net'])) > 0 AS is_blocked
FROM d
"""


def _q_x_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus-frequency line dedup: both engines append the SAME canned
    # footer lines (one above the doc-frequency threshold, one below)
    # to the single-line docs; the hot footer must vanish, the rare one
    # and every unique body line must survive byte-exactly
    docs = _t(spark, sf_dir, "documents")
    ml = docs.withColumn("text", F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 2 == 0,
               F.lit("\nSubscribe to our newsletter today"))
         .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 50 == 0,
               F.lit("\nRare footer line")).otherwise(F.lit(""))))
    return textstats.drop_boilerplate_lines(ml, max_docs=20)


_SQL_X_BOILERPLATE = r"""
WITH m AS (SELECT doc_id,
  text || CASE WHEN doc_id % 2 = 0
               THEN chr(10) || 'Subscribe to our newsletter today' ELSE '' END
       || CASE WHEN doc_id % 50 = 0
               THEN chr(10) || 'Rare footer line' ELSE '' END AS t
FROM documents),
l AS (SELECT doc_id, unnest(list_distinct(string_split(t, chr(10)))) AS line
      FROM m),
bl AS (SELECT line FROM l WHERE len(line) >= 1
       GROUP BY line HAVING count(*) > 20),
blc AS (SELECT coalesce(list(line), []) AS bll FROM bl),
s AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM m)
SELECT s.doc_id,
  CAST(len(s.ls) - len(list_filter(s.ls, x -> NOT list_contains(blc.bll, x)))
       AS INT) AS n_dropped,
  array_to_string(list_filter(s.ls, x -> NOT list_contains(blc.bll, x)),
                  chr(10)) AS text_clean
FROM s, blc
"""


def _q_x_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_score(_t(spark, sf_dir, "documents"))


def _q_x_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the per-source report card: volume, token mass, quality
    # distribution, gate/short counts — one hash aggregate
    return textstats.corpus_report(_t(spark, sf_dir, "documents"))


_SQL_X_CORPUS_REPORT = f"""
WITH b AS (SELECT source,
  coalesce(length(text), 0) AS nc0,
  len(string_split(coalesce(text, ''), ' ')) AS nw0,
  {_ORACLE_QUALITY_FEATURES}
FROM documents),
q AS (SELECT source, nc0, nw0, {_ORACLE_QUALITY_SCORE} AS qq FROM b)
SELECT source, count(*) AS n_docs,
  CAST(sum(nc0) AS BIGINT) AS total_chars,
  CAST(sum(nw0) AS BIGINT) AS total_tokens,
  round(avg(qq), 6) AS avg_quality,
  CAST(sum(CASE WHEN qq < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_below_gate,
  CAST(sum(CASE WHEN nc0 < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
FROM q GROUP BY source
"""


_SQL_X_QUALITY = f"""
WITH b AS (SELECT doc_id, {_ORACLE_QUALITY_FEATURES}
FROM documents)
SELECT doc_id,
  round((nc - (nw - 1)) / nw, 6) AS mean_word_len,
  round(coalesce(np / nullif(nc, 0), 0.0), 6) AS punct_ratio,
  round(ns / nw, 6) AS stopword_ratio,
  {_ORACLE_QUALITY_SCORE} AS quality
FROM b
"""


def _q_x_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the curation recipe "score -> gate -> sample" as one composition:
    # quality-gate at 0.6 (on the ROUNDED score, so both engines compare
    # identical 6dp values), then the key-coherent deterministic 50%
    # sample. Zero shuffle end to end: score is row-local codegen, the
    # gate a filter, the sample an md5-cut filter.
    qs = textstats.quality_score(_t(spark, sf_dir, "documents"))
    kept = sampling.deterministic_sample(
        qs.filter(F.col("quality") >= 0.6), "doc_id", 0.5, salt="qsamp")
    return kept.select("doc_id", "quality")


_SQL_X_QUALITY_SAMPLE = f"""
WITH {_oracle_quality("documents")}
SELECT doc_id, quality FROM q
WHERE quality >= 0.6
  AND substr(md5(concat(CAST(doc_id AS VARCHAR), '#qsamp')), 1, 8)
      < '{sampling._threshold(0.5)}'
"""


def _q_x_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.language_id(_t(spark, sf_dir, "documents"))


_SQL_X_LANGID = """
WITH c AS (SELECT doc_id, text,
  len(list_filter(string_split(text, ' '),
      w -> list_contains(['der','die','das','und','nicht','ein','ist','zu','mit'], w))) AS de,
  len(list_filter(string_split(text, ' '),
      w -> list_contains(['el','la','los','las','que','y','de','un','una','en'], w))) AS es,
  len(list_filter(string_split(text, ' '),
      w -> list_contains(['the','a','of','and','to','in','is','it','that','for'], w))) AS en
FROM documents)
SELECT doc_id,
  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       WHEN de > es AND de > en THEN 'de'
       WHEN es > en THEN 'es'
       WHEN en > 0 THEN 'en'
       ELSE 'und' END AS lang_pred
FROM c
"""


def _q_x_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.doc_fingerprint(_t(spark, sf_dir, "documents"))


_SQL_X_FINGERPRINT = """
SELECT doc_id,
  list_reduce(list_prepend(0::BIGINT,
      [ascii(c)::BIGINT for c in string_split(text, '')]),
      (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
FROM documents
"""


def _q_x_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus vocabulary head: one explode + map-side-combined hash agg +
    # TakeOrdered; total (count desc, token asc) order makes the top-k
    # unique, so the value hash is stable cross-engine
    return textstats.top_tokens(_t(spark, sf_dir, "documents"), k=50)


_SQL_X_TOP_TOKENS = """
WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents)
SELECT token, count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs
FROM tk GROUP BY token
ORDER BY n_occurrences DESC, token ASC LIMIT 50
"""


def _q_x_char_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gibberish/randomness signals: char entropy over the doc's own
    # sorted distinct characters (order-pinned fold) + digit/upper/space
    # ratios — all row-local codegen/HOF, zero shuffle
    return textstats.char_stats(_t(spark, sf_dir, "documents"))


_SQL_X_CHAR_STATS = """
WITH base AS (
  SELECT doc_id, text, length(text) AS n,
         list_sort(list_distinct(string_split(text, ''))) AS uniq
  FROM documents)
SELECT doc_id,
       coalesce(n, 0) AS n_chars,
       round(coalesce(len(regexp_extract_all(text, '[0-9]'))
                      / nullif(n, 0)::DOUBLE, 0.0), 6) AS digit_ratio,
       round(coalesce(len(regexp_extract_all(text, '[A-Z]'))
                      / nullif(n, 0)::DOUBLE, 0.0), 6) AS upper_ratio,
       round(coalesce(len(regexp_extract_all(text, ' '))
                      / nullif(n, 0)::DOUBLE, 0.0), 6) AS space_ratio,
       round(coalesce(CASE WHEN n > 0 THEN
         list_aggregate(
           list_transform(uniq, c ->
             -(len(list_filter(string_split(text, ''), x -> x = c))
               / n::DOUBLE)
              * ln(len(list_filter(string_split(text, ''), x -> x = c))
                   / n::DOUBLE)), 'sum')
         END, 0.0), 6) AS char_entropy
FROM base
"""


def _q_x_line_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher within-doc repetition signals: both engines salt the
    # single-line docs with the same doc_id-derived duplicate lines
    # (every even doc repeats its head line) and duplicate paragraphs
    # (every third doc gets two identical trailing paragraphs), so all
    # six output columns exercise both polarities
    docs = _t(spark, sf_dir, "documents")
    salted = docs.withColumn("text", F.concat(
        F.substring(F.col("text"), 1, 40), F.lit("\n"),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.substring(F.col("text"), 1, 40), F.lit("\n")))
         .otherwise(F.lit("")),
        F.lit("tail "), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("\n\nrepeated para\n\nrepeated para"))
         .otherwise(F.lit(""))))
    return textstats.line_repetition(salted)


_SQL_X_LINE_REP = r"""
WITH s AS (SELECT doc_id,
  substr(text, 1, 40) || chr(10)
  || CASE WHEN doc_id % 2 = 0 THEN substr(text, 1, 40) || chr(10)
          ELSE '' END
  || 'tail ' || doc_id
  || CASE WHEN doc_id % 3 = 0
          THEN repeat(chr(10) || chr(10) || 'repeated para', 2)
          ELSE '' END AS t
FROM documents),
seg AS (SELECT doc_id,
  list_filter(list_transform(regexp_split_to_array(t, '\r?\n'),
                             x -> trim(x)), x -> x <> '') AS ls,
  list_filter(list_transform(regexp_split_to_array(t, '(\r?\n){2,}'),
                             x -> trim(x)), x -> x <> '') AS ps
FROM s)
SELECT doc_id,
  CAST(len(ls) AS INT) AS n_lines,
  round(coalesce((len(ls) - len(list_distinct(ls)))::DOUBLE
                 / nullif(len(ls), 0), 0.0), 6) AS dup_line_frac,
  round(coalesce(
    (list_sum(list_transform(ls, x -> length(x)))
     - list_sum(list_transform(list_distinct(ls), x -> length(x))))::DOUBLE
    / nullif(list_sum(list_transform(ls, x -> length(x))), 0),
    0.0), 6) AS dup_line_char_frac,
  CAST(len(ps) AS INT) AS n_paras,
  round(coalesce((len(ps) - len(list_distinct(ps)))::DOUBLE
                 / nullif(len(ps), 0), 0.0), 6) AS dup_para_frac,
  round(coalesce(
    (list_sum(list_transform(ps, x -> length(x)))
     - list_sum(list_transform(list_distinct(ps), x -> length(x))))::DOUBLE
    / nullif(list_sum(list_transform(ps, x -> length(x))), 0),
    0.0), 6) AS dup_para_char_frac
FROM seg
"""


def _q_x_blockwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C4 bad-words rule: every 4th doc gets a punctuated blocklist hit,
    # every 9th a plural near-miss that must NOT match (whole-word
    # contract), so count and verdict fire in both polarities
    docs = _t(spark, sf_dir, "documents")
    salted = docs.select("doc_id", F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(" visit our Casino!"))
         .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 9 == 0, F.lit(" the casinos closed"))
         .otherwise(F.lit(""))).alias("text"))
    return textstats.blockword_stats(salted, ["casino", "jackpot"])


_SQL_X_BLOCKWORDS = r"""
WITH s AS (SELECT doc_id,
  text
  || CASE WHEN doc_id % 4 = 0 THEN ' visit our Casino!' ELSE '' END
  || CASE WHEN doc_id % 9 = 0 THEN ' the casinos closed' ELSE '' END AS t
FROM documents),
n AS (SELECT doc_id,
  list_transform(
    list_filter(regexp_split_to_array(t, '\s+'), x -> x <> ''),
    x -> regexp_replace(regexp_replace(lower(x), '^[^a-z0-9]+', ''),
                        '[^a-z0-9]+$', '')) AS ws
FROM s)
SELECT doc_id,
  CAST(len(list_filter(ws, x -> list_contains(['casino', 'jackpot'], x)))
       AS INT) AS n_blocked,
  len(list_filter(ws, x -> list_contains(['casino', 'jackpot'], x))) > 0
    AS has_blocked
FROM n
"""


def _q_x_redact_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Luhn-gated card redaction: every 3rd doc carries a valid PAN
    # (redacted), every 5th a checksum-failing lookalike (kept), every
    # 7th a dashed valid PAN (redacted); the oracle re-derives
    # candidates, the mod-10 fold, and the exact rewritten bytes
    docs = _t(spark, sf_dir, "documents")
    salted = docs.select("doc_id", F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit(" card 4111111111111111 ok")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit(" ref 4111111111111112 no")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit(" pan 5500-0000-0000-0004 end"))
         .otherwise(F.lit(""))).alias("text"))
    return textstats.redact_card_numbers(salted)


_SQL_X_REDACT_CARDS = r"""
WITH s AS (SELECT doc_id,
  text
  || CASE WHEN doc_id % 3 = 0 THEN ' card 4111111111111111 ok'
          ELSE '' END
  || CASE WHEN doc_id % 5 = 0 THEN ' ref 4111111111111112 no'
          ELSE '' END
  || CASE WHEN doc_id % 7 = 0 THEN ' pan 5500-0000-0000-0004 end'
          ELSE '' END AS t
FROM documents),
c AS (SELECT doc_id, t,
        unnest(regexp_extract_all(t, '\b(?:[0-9][ -]?){12,18}[0-9]\b'))
          AS cd
      FROM s),
d AS (SELECT doc_id, cd,
        list_filter(string_split(cd, ''),
                    ch -> ch BETWEEN '0' AND '9') AS ds
      FROM c),
v AS (SELECT doc_id, cd FROM d
      WHERE len(ds) BETWEEN 13 AND 19
        AND list_sum(list_transform(range(1, len(ds) + 1), i ->
              CASE WHEN (len(ds) - i) % 2 = 1
                   THEN CASE WHEN ds[i]::INT >= 5 THEN ds[i]::INT * 2 - 9
                             ELSE ds[i]::INT * 2 END
                   ELSE ds[i]::INT END)) % 10 = 0),
agg AS (SELECT doc_id, list(cd) AS valids FROM v GROUP BY doc_id)
SELECT s.doc_id,
  CAST(coalesce(len(valids), 0) AS INT) AS n_card,
  list_reduce(list_prepend(s.t, coalesce(valids, [])),
              (acc, x) -> replace(acc, x, '[CARD]')) AS text_redacted
FROM s LEFT JOIN agg ON s.doc_id = agg.doc_id
"""


def _q_x_dup_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    # within-doc duplicated n-gram coverage: every 3rd doc gets the
    # same 3-gram twice appended, so its tail (and any organic base
    # repeats) is flagged; the oracle re-derives windows, per-doc dup
    # counts, and coverage over gram STRINGS (equal up to 64-bit hash
    # collisions within one doc)
    docs = _t(spark, sf_dir, "documents")
    salted = docs.select("doc_id", F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit(" alpha beta gamma alpha beta gamma"))
         .otherwise(F.lit(""))).alias("text"))
    return textstats.dup_ngram_within(salted, n=3)


_SQL_X_DUP_WITHIN = """
WITH s AS (SELECT doc_id,
  text || CASE WHEN doc_id % 3 = 0
               THEN ' alpha beta gamma alpha beta gamma' ELSE '' END AS t
FROM documents),
w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM s),
e AS (SELECT doc_id,
        unnest([{'p': i, 'g': concat_ws(' ', ws[i], ws[i+1], ws[i+2])}
                for i in range(1, len(ws) - 1)]) AS pg
      FROM w),
p AS (SELECT doc_id, pg['p'] AS p, pg['g'] AS g FROM e),
c AS (SELECT doc_id, p, count(*) OVER (PARTITION BY doc_id, g) AS cnt
      FROM p),
st AS (SELECT doc_id, list(DISTINCT p) AS starts
       FROM c WHERE cnt >= 2 GROUP BY doc_id),
j AS (SELECT w.doc_id, ws,
             list_distinct(flatten(list_transform(
                 coalesce(starts, []), x -> range(x, x + 3)))) AS cov
      FROM w LEFT JOIN st ON w.doc_id = st.doc_id)
SELECT doc_id,
  CAST(len(ws) AS INT) AS n_words,
  CAST(len(cov) AS INT) AS dup_words,
  round(coalesce(len(cov)::DOUBLE / nullif(len(ws), 0), 0.0), 6)
    AS dup_word_frac,
  CAST(coalesce(list_sum(list_transform(cov, i -> length(ws[i]))), 0)
       AS BIGINT) AS dup_chars,
  round(coalesce(
    coalesce(list_sum(list_transform(cov, i -> length(ws[i]))), 0)::DOUBLE
    / nullif(list_sum(list_transform(ws, x -> length(x))), 0),
    0.0), 6) AS dup_char_frac
FROM j
"""


def _q_x_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher rulebook: the corpus' 10-99-word docs straddle the >=50
    # word rule naturally; salts add stop words (every 2nd doc — the
    # base vocab carries only "the"), a 10-bullet block (every 7th),
    # symbol spam (every 13th) and ellipsis lines (every 17th) so each
    # rule fires in both polarities
    docs = _t(spark, sf_dir, "documents")
    salted = docs.select("doc_id", F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(" and that of it"))
         .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.repeat(F.lit("\n• bullet item here"), 10))
         .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0,
               F.repeat(F.lit(" ###"), 20)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 17 == 0,
               F.lit("\nto be continued...\nmore soon..."))
         .otherwise(F.lit(""))).alias("text"))
    return textstats.gopher_gate(salted)


_SQL_X_GOPHER_GATE = r"""
WITH s AS (SELECT doc_id,
  text
  || CASE WHEN doc_id % 2 = 0 THEN ' and that of it' ELSE '' END
  || CASE WHEN doc_id % 7 = 0
          THEN repeat(chr(10) || '• bullet item here', 10) ELSE '' END
  || CASE WHEN doc_id % 13 = 0 THEN repeat(' ###', 20) ELSE '' END
  || CASE WHEN doc_id % 17 = 0
          THEN chr(10) || 'to be continued...' || chr(10) || 'more soon...'
          ELSE '' END AS t
FROM documents),
f AS (SELECT doc_id, t,
  list_filter(regexp_split_to_array(t, '\s+'), x -> x <> '') AS ws,
  list_filter(list_transform(regexp_split_to_array(t, '\r?\n'),
                             x -> trim(x)), x -> x <> '') AS ls
FROM s),
m AS (SELECT doc_id,
  len(ws) AS nw, len(ls) AS nl,
  list_sum(list_transform(ws, x -> length(x))) AS wchars,
  len(regexp_extract_all(t, '#')) + len(regexp_extract_all(t, '\.\.\.'))
    AS syms,
  len(list_filter(ls, x -> starts_with(x, '•') OR starts_with(x, '- ')))
    AS nb,
  len(list_filter(ls, x -> ends_with(x, '...') OR ends_with(x, '…')))
    AS ne,
  len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS na,
  len(list_intersect(list_distinct(list_transform(ws, x -> lower(x))),
      ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS nstop
FROM f)
SELECT doc_id,
  CAST(nw AS INT) AS n_words,
  round(wchars::DOUBLE / nw, 6) AS mean_word_len,
  round(syms::DOUBLE / nw, 6) AS symbol_ratio,
  round(nb::DOUBLE / nl, 6) AS bullet_line_frac,
  round(ne::DOUBLE / nl, 6) AS ellipsis_line_frac,
  round(na::DOUBLE / nw, 6) AS alpha_word_frac,
  CAST(nstop AS INT) AS n_stopwords_present,
  (nw >= 50 AND nw <= 100000
   AND wchars::DOUBLE / nw >= 3.0 AND wchars::DOUBLE / nw <= 10.0
   AND syms::DOUBLE / nw <= 0.1
   AND nb::DOUBLE / nl <= 0.9
   AND ne::DOUBLE / nl <= 0.3
   AND na::DOUBLE / nw >= 0.8
   AND nstop >= 2) AS keep
FROM m
"""


def _q_x_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C4 rulebook cleaner: both engines build the same doc_id-derived
    # multi-line pages — five proper sentences, one punctuation-less
    # line (always dropped), a javascript line on every 4th doc, a
    # "lorem ipsum" closer on every 11th, a curly brace on every 13th —
    # so line and doc rules both fire in both polarities
    docs = _t(spark, sf_dir, "documents")
    salted = docs.select("doc_id", F.concat(
        F.lit("Sentence one about "), F.substring("text", 1, 20),
        F.lit(" topic.\n"),
        F.lit("Sentence two is fine here.\n"
              "Sentence three also reads well.\n"
              "Sentence four ends properly.\n"
              "Sentence five closes the doc.\n"
              "no terminal punctuation line\n"),
        F.when(F.col("doc_id") % 4 == 0,
               F.lit("Enable javascript now please.\n"))
         .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0,
               F.lit("Has lorem ipsum filler inside."))
         .otherwise(F.lit("Normal closing line indeed.")),
        F.when(F.col("doc_id") % 13 == 0, F.lit(" {"))
         .otherwise(F.lit(""))).alias("text"))
    return textstats.c4_clean(salted)


_SQL_X_C4_CLEAN = """
WITH s AS (SELECT doc_id,
  'Sentence one about ' || substr(text, 1, 20) || ' topic.' || chr(10)
  || 'Sentence two is fine here.' || chr(10)
  || 'Sentence three also reads well.' || chr(10)
  || 'Sentence four ends properly.' || chr(10)
  || 'Sentence five closes the doc.' || chr(10)
  || 'no terminal punctuation line' || chr(10)
  || CASE WHEN doc_id % 4 = 0
          THEN 'Enable javascript now please.' || chr(10) ELSE '' END
  || CASE WHEN doc_id % 11 = 0 THEN 'Has lorem ipsum filler inside.'
          ELSE 'Normal closing line indeed.' END
  || CASE WHEN doc_id % 13 = 0 THEN ' {' ELSE '' END AS t
FROM documents),
seg AS (SELECT doc_id, t,
  list_filter(list_transform(regexp_split_to_array(t, '\\r?\\n'),
                             x -> trim(x)), x -> x <> '') AS lines
FROM s),
k AS (SELECT doc_id, t, lines,
  list_filter(lines, x ->
    regexp_matches(x, '[.!?"]$')
    AND len(list_filter(string_split(x, ' '), w -> w <> '')) >= 3
    AND NOT contains(lower(x), 'javascript')) AS keep
FROM seg)
SELECT doc_id,
  array_to_string(keep, chr(10)) AS clean_text,
  CAST(len(keep) AS INT) AS n_lines_kept,
  CAST(len(lines) - len(keep) AS INT) AS n_lines_dropped,
  (len(regexp_extract_all(array_to_string(keep, chr(10)), '[.!?]')) >= 5
   AND NOT contains(lower(t), 'lorem ipsum')
   AND NOT contains(t, '{') AND NOT contains(t, '}')) AS keep_doc
FROM k
"""


def _q_x_encoding_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # encoding-damage triage: inject U+FFFD / mojibake / C0 junk into
    # md5-bucketed docs, count each damage class with explicit-codepoint
    # regexes and emit the ratio + verdict (any replacement char, or
    # ratio past 1e-3, is 'damaged').
    docs = _t(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                   F.lit("#enc"))), 1, 1)
    text = (F.when(h < "3", F.concat(F.col("text"), F.lit(" Ã©")))
             .when(h < "6", F.concat(F.col("text"), F.lit(" �")))
             .when(h < "8", F.concat(F.col("text"), F.lit("\x07")))
             .otherwise(F.col("text")))
    return textstats.encoding_damage(docs.select("doc_id", text.alias("text")))


_SQL_X_ENCODING_CHECK = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN substr(md5(doc_id || '#enc'), 1, 1) < '3'
                THEN text || ' ' || chr(195) || chr(233)
              WHEN substr(md5(doc_id || '#enc'), 1, 1) < '6'
                THEN text || ' ' || chr(65533)
              WHEN substr(md5(doc_id || '#enc'), 1, 1) < '8'
                THEN text || chr(7)
              ELSE text END AS text
  FROM documents),
c AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\\x{FFFD}')) AS n_replacement,
         len(regexp_extract_all(text,
             '\\x{00C3}[\\x{0080}-\\x{00BF}\\x{00C0}-\\x{00FF}]'
             || '|\\x{00E2}\\x{20AC}.')) AS n_mojibake,
         len(regexp_extract_all(text,
             '[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}'
             || '\\x{000E}-\\x{001F}]')) AS n_control,
         length(text) AS nc
  FROM d)
SELECT doc_id, n_replacement, n_mojibake, n_control,
       round(coalesce((n_replacement + n_mojibake + n_control)
                      / nullif(nc, 0), 0.0), 6) AS damage_ratio,
       CASE WHEN coalesce((n_replacement + n_mojibake + n_control)
                          / nullif(nc, 0), 0.0) > 0.001
                 OR n_replacement > 0
            THEN 'damaged' ELSE 'clean' END AS verdict
FROM c
"""


def _q_x_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact heavy hitters at sketch cost: per-partition Misra-Gries
    # candidates (zero shuffle) -> broadcast-semi-join exact recount ->
    # ceil(min_frac*N) threshold. The sketch bounds the COST (only
    # candidate tokens shuffle, never the vocabulary); the exact
    # threshold makes the RESULT sketch-independent, hence oracle-able.
    return textstats.heavy_hitters(_t(spark, sf_dir, "documents"),
                                   min_frac=0.002)


_SQL_X_HEAVY_HITTERS = """
WITH tk AS (SELECT unnest(string_split(text, ' ')) AS token
            FROM documents),
n AS (SELECT count(*) AS total FROM tk)
SELECT token, count(*) AS n_occurrences
FROM tk GROUP BY token
HAVING count(*) >= (SELECT ceil(CAST(0.002 AS DOUBLE) * total) FROM n)
ORDER BY n_occurrences DESC, token ASC
"""


def _q_x_rep_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style repetition filter: fraction of the doc's bigrams taken
    # by its most frequent bigram; short docs report 0.0
    return textstats.top_ngram_fraction(
        _t(spark, sf_dir, "documents"), n=2)


_SQL_X_REP_NGRAM = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id, unnest([concat_ws(' ', ws[i], ws[i+1])
                             for i in range(1, len(ws))]) AS gm
      FROM w WHERE len(ws) >= 2),
c AS (SELECT doc_id, gm, count(*) AS c FROM g GROUP BY 1, 2),
f AS (SELECT doc_id, sum(c) AS total, max(c) AS top FROM c GROUP BY 1)
SELECT d.doc_id,
       CAST(coalesce(f.total, 0) AS BIGINT) AS total_ngrams,
       coalesce(f.top, 0) AS top_ngram_count,
       round(coalesce(f.top / f.total, 0.0), 6) AS top_ngram_frac
FROM documents d LEFT JOIN f USING (doc_id)
"""


def _q_x_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lee-et-al cross-document duplicated-ngram coverage: fraction of each
    # doc's 3-gram occurrences whose 3-gram appears in >= 2 distinct docs.
    # Grams travel as xxhash64 longs; the oracle re-derives the same
    # counts over gram STRINGS (identical up to 64-bit collisions).
    return textstats.duplicated_ngram_coverage(
        _t(spark, sf_dir, "documents"), n=3, min_docs=2)


_SQL_X_DUP_NGRAMS = """
WITH w AS (SELECT doc_id, string_split(coalesce(text,''), ' ') AS ws
           FROM documents),
g AS (SELECT doc_id, unnest([concat_ws(' ', ws[i], ws[i+1], ws[i+2])
                             for i in range(1, len(ws) - 1)]) AS gm
      FROM w WHERE len(ws) >= 3),
c AS (SELECT doc_id, gm, count(*) AS c FROM g GROUP BY 1, 2),
dfq AS (SELECT gm, count(*) AS nd FROM c GROUP BY gm),
agg AS (SELECT doc_id, sum(c) AS total,
               sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS dup
        FROM c JOIN dfq USING (gm) GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(agg.total, 0) AS BIGINT) AS total_ngrams,
       CAST(coalesce(agg.dup, 0) AS BIGINT) AS dup_ngrams,
       round(coalesce(agg.dup * 1.0 / nullif(agg.total, 0), 0.0), 6)
         AS dup_ngram_frac
FROM documents d LEFT JOIN agg USING (doc_id)
"""


_OOV_VOCAB = ["key", "agg", "row", "scan", "slow", "fast", "table",
              "value", "part", "hash", "merge", "batch", "spark", "a",
              "the"]


def _q_v_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # declared-vs-detected language check: both engines salt every 23rd
    # doc with German stopwords and every 29th with CJK, then flag docs
    # whose confident detection disagrees with the lang column
    docs = _t(spark, sf_dir, "documents")
    salted = docs.withColumn("text", F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 23 == 0,
               F.lit(" der und die das nicht ein der und die das nicht"
                     " ein der und die das nicht ein")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 29 == 0,
               F.lit(" \u4e2d\u6587")).otherwise(F.lit(""))))
    return textstats.language_mismatch_violations(salted)


_SQL_V_LANG_MISMATCH = """
WITH s AS (SELECT doc_id, lang,
  text || CASE WHEN doc_id % 23 = 0
               THEN ' der und die das nicht ein der und die das nicht'
                    || ' ein der und die das nicht ein' ELSE '' END
       || CASE WHEN doc_id % 29 = 0
               THEN ' ' || chr(20013) || chr(25991) ELSE '' END AS text
  FROM documents),
c AS (SELECT doc_id, lang, text,
  len(list_filter(string_split(text, ' '),
      w -> list_contains(['der','die','das','und','nicht','ein','ist','zu','mit'], w))) AS de,
  len(list_filter(string_split(text, ' '),
      w -> list_contains(['el','la','los','las','que','y','de','un','una','en'], w))) AS es,
  len(list_filter(string_split(text, ' '),
      w -> list_contains(['the','a','of','and','to','in','is','it','that','for'], w))) AS en
FROM s),
p AS (SELECT doc_id, lang,
  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       WHEN de > es AND de > en THEN 'de'
       WHEN es > en THEN 'es'
       WHEN en > 0 THEN 'en'
       ELSE 'und' END AS pred
FROM c)
SELECT doc_id, '/lang' AS instance_path,
       'LanguageMismatch' AS code,
       '/lang: declared language "' || lang
         || '" but text reads as "' || pred || '"' AS message
FROM p WHERE lang IS NOT NULL AND pred <> 'und' AND pred <> lang
"""


def _q_x_top_tokens_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-language vocabulary heads: the stratified top_tokens sibling;
    # vocab-sized agg + skew-safe two-phase exact top-k per group
    return textstats.top_tokens_by(_t(spark, sf_dir, "documents"),
                                   "lang", k=20)


_SQL_X_TOP_TOKENS_BY = """
WITH tk AS (SELECT lang, unnest(string_split(text, ' ')) AS token
            FROM documents),
c AS (SELECT lang, token, count(*) AS n FROM tk GROUP BY 1, 2),
r AS (SELECT lang, token, n,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n DESC, token) AS rank
      FROM c)
SELECT lang, token, n AS n_occurrences, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 20 ORDER BY lang, rank
"""


def _q_x_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # graded quality retention: equal-mass quartiles by exact quantile
    # edges, per-bucket deterministic keep rates (bottom 20% ... top
    # 100%) — the curation recipe without a hard gate's cliff
    docs = _t(spark, sf_dir, "documents")
    q = textstats.quality_score(docs).select("doc_id", "quality")
    return sampling.quality_bucket_sample(
        q, "quality", [0.2, 0.5, 0.8, 1.0], key_col="doc_id")


_SQL_X_QUALITY_BUCKETS = f"""
WITH {_oracle_quality("documents")},
e AS (SELECT quantile_disc(quality, 0.25) AS e1,
             quantile_disc(quality, 0.50) AS e2,
             quantile_disc(quality, 0.75) AS e3 FROM q),
t AS (SELECT doc_id, quality,
        CAST(quality >= (SELECT e1 FROM e) AS INT)
      + CAST(quality >= (SELECT e2 FROM e) AS INT)
      + CAST(quality >= (SELECT e3 FROM e) AS INT) AS score_bucket
      FROM q)
SELECT doc_id, quality, score_bucket
FROM t
WHERE substr(md5(doc_id || '#qb0'), 1, 8) <
      CASE score_bucket
        WHEN 0 THEN printf('%08x', CAST(floor(0.2 * 4294967296) AS BIGINT))
        WHEN 1 THEN printf('%08x', CAST(floor(0.5 * 4294967296) AS BIGINT))
        WHEN 2 THEN printf('%08x', CAST(floor(0.8 * 4294967296) AS BIGINT))
        ELSE 'g' END
"""


def _q_x_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenizer-fit: per-doc OOV rate against a literal vocabulary —
    # row-local array_contains codegen, zero shuffle
    return textstats.oov_stats(_t(spark, sf_dir, "documents"), _OOV_VOCAB)


_SQL_X_OOV_RATE = r"""
WITH w AS (SELECT doc_id,
                  list_transform(
                    list_filter(regexp_split_to_array(coalesce(text, ''),
                                                      '\s+'),
                                x -> x <> ''),
                    x -> lower(x)) AS ws
           FROM documents),
o AS (SELECT doc_id, len(ws) AS n_tokens,
             len(list_filter(ws, x -> NOT list_contains(
                 ['key', 'agg', 'row', 'scan', 'slow', 'fast', 'table',
                  'value', 'part', 'hash', 'merge', 'batch', 'spark',
                  'a', 'the'], x))) AS n_oov
      FROM w)
SELECT doc_id, n_tokens, n_oov,
       round(n_oov * 1.0 / nullif(n_tokens, 0), 6) AS oov_rate
FROM o
"""


def _q_x_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-source distinct-n corpus diversity (Li et al. 2016): two
    # stacked hash aggregates over xxhash64 gram longs + a group-sized
    # docs join — ranks whole sources by phrase re-emission
    return textstats.ngram_diversity(_t(spark, sf_dir, "documents"), n=3)


_SQL_X_NGRAM_DIVERSITY = """
WITH w AS (SELECT doc_id, source, string_split(coalesce(text,''), ' ') AS ws
           FROM documents),
g AS (SELECT source, unnest([concat_ws(' ', ws[i], ws[i+1], ws[i+2])
                             for i in range(1, len(ws) - 1)]) AS gm
      FROM w WHERE len(ws) >= 3),
c AS (SELECT source, gm, count(*) AS c FROM g GROUP BY 1, 2),
r AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_grams,
             count(*) AS n_distinct_grams
      FROM c GROUP BY source),
d AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
SELECT d.source, d.n_docs,
       coalesce(r.n_grams, 0) AS n_grams,
       coalesce(r.n_distinct_grams, 0) AS n_distinct_grams,
       round(r.n_distinct_grams * 1.0 / nullif(r.n_grams, 0), 6)
         AS diversity
FROM d LEFT JOIN r USING (source) ORDER BY source
"""


def _q_x_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ExactSubstr-style duplicated-span REMOVAL (the acting complement of
    # x_dup_ngrams' diagnostic): every token covered by a 10-token window
    # occurring >= 2 times anywhere in the corpus is deleted and the
    # remainder re-joined. The oracle re-derives window positions,
    # duplicated windows, covered positions, and the exact rewritten
    # bytes over gram STRINGS (hashes on the Spark side — identical up
    # to 64-bit collisions).
    return textstats.remove_duplicated_spans(
        _t(spark, sf_dir, "documents"), k=10, min_count=2)


_SQL_X_DEDUP_SPANS = """
WITH w AS (SELECT doc_id, string_split(coalesce(text,''), ' ') AS ws
           FROM documents),
p0 AS (SELECT doc_id,
              [{'p': i, 'g': array_to_string(ws[i:i+9], ' ')}
               for i in range(1, len(ws) - 8)] AS pgs
       FROM w),
p AS (SELECT doc_id, unnest(pgs, recursive := true) FROM p0),
dup AS (SELECT g FROM p GROUP BY g HAVING count(*) >= 2),
cov AS (SELECT doc_id,
               list_distinct(flatten(list(range(p, p + 10)))) AS cv
        FROM p JOIN dup USING (g) GROUP BY doc_id)
SELECT w.doc_id,
       coalesce(array_to_string(
           [ws[i] for i in range(1, len(ws) + 1)
            if NOT list_contains(coalesce(cv, []), i)], ' '), '')
         AS clean_text,
       len(ws) AS n_tokens,
       coalesce(len(cv), 0) AS n_removed,
       round(coalesce(len(cv), 0) * 1.0 / len(ws), 6) AS removed_frac
FROM w LEFT JOIN cov USING (doc_id)
"""


def _q_x_decontam_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # span-level benchmark decontamination: docs quoting any 5-token
    # window of the eval subset (doc_id % 97 == 0) lose ONLY those
    # windows — the surgical alternative to x_decontaminate's doc drop
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return textstats.remove_contaminated_spans(train, bench, k=5)


_SQL_X_DECONTAM_SPANS = """
WITH w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws
           FROM documents WHERE doc_id % 97 <> 0),
bw AS (SELECT string_split(coalesce(text, ''), ' ') AS ws
       FROM documents WHERE doc_id % 97 = 0),
bench AS (SELECT DISTINCT unnest(
            [array_to_string(ws[i:i+4], ' ')
             for i in range(1, len(ws) - 3)]) AS g
          FROM bw),
p0 AS (SELECT doc_id,
              [{'p': i, 'g': array_to_string(ws[i:i+4], ' ')}
               for i in range(1, len(ws) - 3)] AS pgs
       FROM w),
p AS (SELECT doc_id, unnest(pgs, recursive := true) FROM p0),
cov AS (SELECT doc_id,
               list_distinct(flatten(list(range(p, p + 5)))) AS cv
        FROM p SEMI JOIN bench USING (g) GROUP BY doc_id)
SELECT w.doc_id,
       coalesce(array_to_string(
           [ws[i] for i in range(1, len(ws) + 1)
            if NOT list_contains(coalesce(cv, []), i)], ' '), '')
         AS clean_text,
       len(ws) AS n_tokens,
       coalesce(len(cv), 0) AS n_removed,
       round(coalesce(len(cv), 0) * 1.0 / len(ws), 6) AS removed_frac
FROM w LEFT JOIN cov USING (doc_id)
"""


def _q_x_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet-style unigram-LM quality score: add-one-smoothed average
    # token log-prob under the corpus's own top-512 vocabulary. Per-token
    # scores are integer micro-nats (ln computed ONCE per vocab entry on
    # the driver with C-libm), so the per-doc sum is order-free and the
    # oracle reproduces it bit-exactly with its own ln.
    return textstats.lm_quality(
        _t(spark, sf_dir, "documents"), vocab_size=512)


_SQL_X_LM_QUALITY = """
WITH w AS (SELECT doc_id, string_split(coalesce(text,''), ' ') AS ws
           FROM documents),
tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
tot AS (SELECT sum(c) AS n FROM cnt),
vocab AS (SELECT t, c FROM cnt ORDER BY c DESC, t ASC LIMIT 512),
nv AS (SELECT (SELECT count(*) FROM vocab) AS v, (SELECT n FROM tot) AS n),
micro AS (SELECT t,
                 cast(floor(ln((c + 1) / cast(n + v + 1 AS double))
                            * 1000000) AS bigint) AS m
          FROM vocab, nv),
oov AS (SELECT cast(floor(ln(1.0 / cast(n + v + 1 AS double))
                          * 1000000) AS bigint) AS m FROM nv),
scored AS (SELECT doc_id, count(*) AS n_tokens,
                  CAST(sum(coalesce(micro.m, (SELECT m FROM oov)))
                       AS BIGINT) AS logp_micro
           FROM tok LEFT JOIN micro USING (t) GROUP BY doc_id)
SELECT doc_id, n_tokens, logp_micro,
       floor(logp_micro / n_tokens)::BIGINT::DOUBLE / 1000000.0
         AS avg_logp
FROM scored
"""


def _q_x_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # benchmark decontamination: docs with doc_id % 97 == 0 stand in for
    # the eval set; every other doc is marked if it shares any word
    # 3-gram with them. Probe side is a broadcast hash join on 64-bit
    # shingle hashes — the corpus never shuffles.
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return decontam.decontaminate(train, bench, n=3).select(
        "doc_id", "n_hit_shingles", "contaminated")


_SQL_X_DECONTAM = f"""
WITH {_oracle_shingles("documents")},
bench AS (SELECT DISTINCT unnest(s) AS sg FROM sh WHERE doc_id % 97 = 0),
ex AS (SELECT doc_id, unnest(s) AS sg FROM sh WHERE doc_id % 97 <> 0),
hits AS (SELECT doc_id, count(*) AS n_hit FROM ex
         JOIN bench USING (sg) GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(h.n_hit, 0) AS n_hit_shingles,
       coalesce(h.n_hit, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 97 <> 0
"""


def _q_x_fuzzy_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fuzzy (near-duplicate) decontamination: the exact-overlap entry
    # above catches verbatim leakage; this one catches paraphrased /
    # lightly-edited eval contamination via MinHash-LSH banding across
    # the two tables (corpus never shuffles; benchmark band rows
    # broadcast) with exact-Jaccard verification. 64 perms / 32 bands:
    # per-pair miss at J>=0.8 ≈ 6.5e-15, so the exact SQL oracle holds
    # for any data refresh.
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    train = docs.filter(F.col("doc_id") % 7 != 0)
    return decontam.fuzzy_contamination_pairs(
        train, bench, threshold=0.8, n=3, bands=32)


_SQL_X_FUZZY_DECONTAM = f"""
WITH {_oracle_shingles("documents")},
ex_t AS (SELECT doc_id, unnest(s) AS sg FROM sh WHERE doc_id % 7 <> 0),
ex_b AS (SELECT doc_id, unnest(s) AS sg FROM sh WHERE doc_id % 7 = 0),
p AS (SELECT t.doc_id AS doc_id, b.doc_id AS bench_id, count(*) AS inter
      FROM ex_t t JOIN ex_b b USING (sg) GROUP BY 1, 2),
sz AS (SELECT doc_id, len(s) AS n FROM sh)
SELECT p.doc_id, p.bench_id,
       inter::DOUBLE / (st.n + sb.n - inter) AS jaccard
FROM p JOIN sz st ON p.doc_id = st.doc_id
       JOIN sz sb ON p.bench_id = sb.doc_id
WHERE inter::DOUBLE / (st.n + sb.n - inter) >= 0.8
"""


def _q_x_prep_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the fused corpus-preparation pipeline: normalize (pure codegen) ->
    # quality gate -> exact dedup (one 16-byte-digest shuffle) ->
    # benchmark decontamination (broadcast shingle probe, zero corpus
    # shuffle). One job, three stages, survivors only.
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    out = prep.prep_corpus(train, bench, min_quality=0.5)
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        "quality")


_SQL_X_PREP_CORPUS = f"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(text,
              '[\\x00-\\x08\\x0B-\\x1F\\x7F]', '', 'g'),
              '[ \\t]+', ' ', 'g')) AS t
  FROM documents),
b AS (SELECT doc_id, t, length(t)::DOUBLE AS nc,
             len(string_split(t, ' '))::DOUBLE AS nw,
             len(regexp_extract_all(t, '[.,!?;:]'))::DOUBLE AS np,
             len(list_filter(string_split(t, ' '),
                 w -> list_contains(['the','a','of','and','to','in','is','it','that','for'], w)))::DOUBLE AS ns
      FROM norm),
q AS (SELECT doc_id, t, length(t) AS n_chars,
             len(string_split(t, ' ')) AS ws_tokens,
             {_ORACLE_QUALITY_SCORE} AS quality
      FROM b),
gated AS (SELECT * FROM q
          WHERE t IS NOT NULL AND quality >= 0.5 AND doc_id % 97 <> 0),
keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(t)),
ded AS (SELECT g.* FROM gated g JOIN keep USING (doc_id)),
bench AS (SELECT DISTINCT unnest(list_distinct(
              [concat_ws(' ', ws[i], ws[i+1], ws[i+2])
               for i in range(1, len(ws) - 1)])) AS sg
          FROM (SELECT string_split(t, ' ') AS ws FROM norm
                WHERE doc_id % 97 = 0)),
probes AS (SELECT doc_id, unnest(list_distinct(
               [concat_ws(' ', ws[i], ws[i+1], ws[i+2])
                for i in range(1, len(ws) - 1)])) AS sg
           FROM (SELECT doc_id, string_split(t, ' ') AS ws FROM ded)),
contaminated AS (SELECT DISTINCT probes.doc_id
                 FROM probes JOIN bench USING (sg))
SELECT doc_id, n_chars, ws_tokens, quality
FROM ded
WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


# ---------------------------------------------------------------------------
# Deterministic sampling / train-eval split (operators/sampling.py) —
# key-coherent, retry-safe, shuffle-free hash-bucket selection. The
# DuckDB twins recompute the SAME md5-hex comparison, proving the
# cross-engine reproducibility the operator's contract promises.
# ---------------------------------------------------------------------------

def _q_x_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.deterministic_sample(
        _t(spark, sf_dir, "documents"), "doc_id", 0.25, salt="r3",
    ).select("doc_id", "source")


_SQL_X_SAMPLE = f"""
SELECT doc_id, source FROM documents
WHERE substr(md5(concat(CAST(doc_id AS VARCHAR), '#r3')), 1, 8)
      < '{sampling._threshold(0.25)}'
"""


def _q_x_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # training-mixture recipe "5 parts src0, 3 parts src1, 2 parts
    # src2" — exact integer thresholds, so DuckDB (HUGEINT) selects the
    # bit-identical row set
    return sampling.mix_sources(
        _t(spark, sf_dir, "documents"), "source",
        {"src0": 5, "src1": 3, "src2": 2}, "doc_id", salt="mix3",
    ).select("doc_id", "source")


_SQL_X_MIX = """
WITH w(source, wt) AS (VALUES ('src0', 5), ('src1', 3), ('src2', 2)),
counts AS (
  SELECT d.source, COUNT(*) AS n FROM documents d
  JOIN w ON d.source = w.source GROUP BY d.source),
bott AS (
  SELECT source AS bsrc, wt AS bwt, n AS bn
  FROM counts JOIN w USING (source)
  ORDER BY CAST(n AS HUGEINT) * (30 // wt), source LIMIT 1),
thr AS (
  SELECT source,
         CASE WHEN CAST(wt AS HUGEINT) * bn * 4294967296 // (bwt * n)
                   >= 4294967296 THEN 'g'
              ELSE printf('%08x', CAST(CAST(wt AS HUGEINT) * bn
                   * 4294967296 // (bwt * n) AS BIGINT)) END AS t
  FROM counts JOIN w USING (source) CROSS JOIN bott)
SELECT d.doc_id, d.source FROM documents d
JOIN thr ON d.source = thr.source
WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || '#mix3'), 1, 8) < thr.t
"""


def _q_x_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same recipe but budgeted in CHARACTERS (n_chars stands in for
    # token counts): proportions hold in tokens, docs kept whole
    return sampling.mix_sources(
        _t(spark, sf_dir, "documents"), "source",
        {"src0": 5, "src1": 3, "src2": 2}, "doc_id", salt="mixb",
        budget_col="n_chars",
    ).select("doc_id", "source")


_SQL_X_MIX_BUDGET = """
WITH w(source, wt) AS (VALUES ('src0', 5), ('src1', 3), ('src2', 2)),
counts AS (
  SELECT d.source, SUM(d.n_chars) AS n FROM documents d
  JOIN w ON d.source = w.source GROUP BY d.source),
bott AS (
  SELECT source AS bsrc, wt AS bwt, n AS bn
  FROM counts JOIN w USING (source)
  ORDER BY CAST(n AS HUGEINT) * (30 // wt), source LIMIT 1),
thr AS (
  SELECT source,
         CASE WHEN CAST(wt AS HUGEINT) * bn * 4294967296 // (bwt * n)
                   >= 4294967296 THEN 'g'
              ELSE printf('%08x', CAST(CAST(wt AS HUGEINT) * bn
                   * 4294967296 // (bwt * n) AS BIGINT)) END AS t
  FROM counts JOIN w USING (source) CROSS JOIN bott)
SELECT d.doc_id, d.source FROM documents d
JOIN thr ON d.source = thr.source
WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || '#mixb'), 1, 8) < thr.t
"""


def _q_x_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    # temperature (alpha=0.5) mixture: skew the uniform synthetic
    # sources deterministically (per-source doc_id modulus), derive
    # sqrt-proportional integer weights, and mix — the smallest source
    # is kept whole, larger sources thin toward their sqrt share. The
    # oracle re-derives the skew, the weights (IEEE sqrt is correctly
    # rounded, so floor(sqrt(n)*1e6) is bit-identical), the bottleneck,
    # the HUGEINT thresholds, and the exact surviving row set.
    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(
        F.col("doc_id")
        % (2 + F.substring("source", 4, 10).cast("int") % 4) == 0)
    w = sampling.temperature_weights(base, "source", alpha=0.5)
    return (sampling.mix_sources(base, "source", w, "doc_id", salt="mixt")
            .select("doc_id", "source"))


_SQL_X_MIX_TEMPERATURE = """
WITH base AS (
  SELECT doc_id, source FROM documents
  WHERE doc_id % (2 + CAST(substr(source, 4) AS INT) % 4) = 0),
counts AS (SELECT source, COUNT(*) AS n FROM base GROUP BY source),
cw AS (SELECT source, CAST(n AS HUGEINT) AS n,
              CAST(floor(sqrt(n) * 1000000) AS HUGEINT) AS wt
       FROM counts),
bott AS (
  SELECT c1.source AS bsrc, c1.wt AS bwt, c1.n AS bn FROM cw c1
  WHERE NOT EXISTS (
    SELECT 1 FROM cw c2
    WHERE c2.n * c1.wt < c1.n * c2.wt
       OR (c2.n * c1.wt = c1.n * c2.wt AND c2.source < c1.source))),
thr AS (
  SELECT source,
         CASE WHEN wt * bn * 4294967296 // (bwt * n) >= 4294967296
              THEN 'g'
              ELSE printf('%08x', CAST(wt * bn * 4294967296
                                       // (bwt * n) AS BIGINT)) END AS t
  FROM cw CROSS JOIN bott)
SELECT b.doc_id, b.source FROM base b
JOIN thr ON b.source = thr.source
WHERE substr(md5(CAST(b.doc_id AS VARCHAR) || '#mixt'), 1, 8) < thr.t
"""


def _q_x_vocab_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the acting complement of s_vocab_drift: a snapshot where every
    # 5th doc's text drifted to uppercase is re-aligned onto the
    # baseline's top-50 vocabulary (casefold-unique matches only), and
    # the repaired text is returned per doc. The oracle replays the
    # identical arc in SQL: total-order vocab head, casefold join with
    # the HAVING-count(*)=1 ambiguity drop, posexploded token remap,
    # position-ordered reassembly.

    docs = _t(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    cur = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.upper("text"))
         .otherwise(F.col("text")).alias("text"))
    plan = textstats.vocab_remap_plan(base, cur, k=50)
    rep = textstats.remap_tokens(cur, plan, "text")
    return rep.select("doc_id", "clean_text").orderBy("doc_id")


_SQL_X_VOCAB_REPAIR = """
WITH cur AS (SELECT doc_id,
                    CASE WHEN doc_id % 5 = 0 THEN upper(text)
                         ELSE text END AS text
             FROM documents),
vh AS (SELECT t AS tok
       FROM (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS t
             FROM documents)
       GROUP BY t ORDER BY count(*) DESC, t ASC LIMIT 50),
curtok AS (SELECT t AS from_token
           FROM (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS t
                 FROM cur)
           GROUP BY t),
cand AS (SELECT c.from_token, v.tok AS to_token
         FROM curtok c JOIN vh v ON lower(c.from_token) = lower(v.tok)
         WHERE c.from_token NOT IN (SELECT tok FROM vh)),
uniq AS (SELECT from_token, min(to_token) AS to_token
         FROM cand GROUP BY from_token HAVING count(*) = 1),
tok AS (SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS t
        FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS l
              FROM cur)),
mapped AS (SELECT doc_id, pos, coalesce(u.to_token, t.t) AS m
           FROM tok t LEFT JOIN uniq u ON t.t = u.from_token),
agg AS (SELECT doc_id, string_agg(m, ' ' ORDER BY pos) AS clean_text
        FROM mapped GROUP BY doc_id)
SELECT c.doc_id,
       CASE WHEN c.text IS NULL THEN NULL ELSE agg.clean_text END
         AS clean_text
FROM cur c LEFT JOIN agg USING (doc_id) ORDER BY c.doc_id
"""


def _q_x_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # soft (duplication-weighted) dedup: each member of a near-dup
    # group survives with probability 1/group_size, so the EXPECTED
    # surviving copy count per group is exactly one while variant
    # diversity is preserved. Groups come from the same LSH-pairs ->
    # connected-components path as d_dup_groups; the oracle recomputes
    # the groups with a recursive CTE and replays the identical
    # md5-threshold draw, proving the surviving SET is cross-engine
    # reproducible (the property retries/backfills rely on).
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, n=3, threshold=0.8, bands=32)
    groups = dedup.near_dup_groups(pairs)
    return sampling.dup_weighted_sample(docs, groups)


_SQL_X_SOFT_DEDUP = f"""
WITH RECURSIVE
{_oracle_dup_groups("documents")},
sizes AS (SELECT group_id, count(*) AS n_copies FROM g GROUP BY group_id),
mem AS (SELECT g.doc_id, g.group_id, sizes.n_copies
        FROM g JOIN sizes USING (group_id)),
j AS (SELECT d.doc_id,
             coalesce(mem.group_id, d.doc_id) AS group_id,
             coalesce(mem.n_copies, 1)::BIGINT AS n_copies
      FROM documents d LEFT JOIN mem USING (doc_id))
SELECT doc_id, group_id, n_copies,
       round(1.0 / n_copies, 6) AS keep_prob
FROM j
WHERE n_copies = 1
   OR substr(md5(concat(CAST(doc_id AS VARCHAR), '#softdedup')), 1, 8)
      < printf('%08x', 4294967296 // n_copies)
"""


def _q_x_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn(
        "toks", F.size(F.split(F.col("text"), " ")).cast("bigint"))
    packed = packing.pack_sequences(docs, "toks", 2000, group_col="lang")
    return packed.select(
        "doc_id", "lang",
        F.col("_pack_offset").alias("pack_offset"), "pack_id")


_SQL_X_PACK = """
WITH t AS (SELECT doc_id, lang,
                  len(string_split(text, ' '))::BIGINT AS toks
           FROM documents)
SELECT doc_id, lang,
  CAST(coalesce(sum(toks) OVER (PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       AS BIGINT) AS pack_offset,
  floor(coalesce(sum(toks) OVER (PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        / 2000.0)::BIGINT AS pack_id
FROM t
"""


def _q_x_pack_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # packing-efficiency dashboard: exact integer pack counts + padding
    # waste per shard key at a given budget — one group hash aggregate
    docs = _t(spark, sf_dir, "documents").withColumn(
        "toks", F.size(F.split(F.col("text"), " ")).cast("bigint"))
    return packing.pack_report(docs, "toks", 2000, group_col="lang")


_SQL_X_PACK_REPORT = """
WITH t AS (SELECT lang, len(string_split(text, ' '))::BIGINT AS toks
           FROM documents),
r AS (SELECT lang, count(*) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS total_tokens
      FROM t GROUP BY lang)
SELECT lang, n_docs, total_tokens,
       (total_tokens + 1999) // 2000 AS n_packs,
       ((total_tokens + 1999) // 2000) * 2000 AS capacity,
       round(total_tokens * 1.0 /
             nullif(((total_tokens + 1999) // 2000) * 2000, 0), 6)
         AS fill_frac
FROM r ORDER BY lang
"""


def _q_x_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sliding-window context chunking: row-local posexplode fan-out,
    # zero shuffle; window 16 / stride 8 so the ~30-word synthetic docs
    # produce overlapping chunks with a short tail
    return packing.chunk_windows(
        _t(spark, sf_dir, "documents"), window=16, stride=8)


_SQL_X_CHUNKS = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
n AS (SELECT doc_id, ws, len(ws) AS nt,
             CASE WHEN len(ws) <= 16 THEN 1
                  ELSE CAST(ceil((len(ws) - 16) / 8.0) AS INT) + 1 END AS nc
      FROM w),
e AS (SELECT doc_id, ws, nt,
             unnest(generate_series(0, nc - 1)) AS i FROM n)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       CAST(i * 8 + 1 AS INT) AS start_tok,
       CAST(least(16, nt - (i * 8 + 1) + 1) AS INT) AS n_toks,
       array_to_string(ws[(i * 8 + 1):least(i * 8 + 16, nt)], ' ')
           AS chunk_text
FROM e
"""


def _q_d_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # conversation-grain exact dedup: canonical rendering -> digest
    # groups. The composition (render_conversations |> exact_duplicate_
    # groups) IS the transcripts dedup story — identical conversations
    # collapse regardless of row order or physical layout, because the
    # rendering is order-canonical.
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"), _TOOL_MAP)
    return dedup.exact_duplicate_groups(packing.render_conversations(tx),
                                        text_col="text", id_col="conv_id")


_SQL_D_CONV_DEDUP = f"""
WITH {_ORACLE_RENDERED}
SELECT md5(text) AS text_hash, count(*) AS n_docs,
       min(conv_id) AS keep_id
FROM conv GROUP BY md5(text)
"""


def _q_d_conv_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # conversation-grain NEAR-dup pairs: render_conversations |>
    # minhash_lsh_pairs — the fuzzy complement of d_conv_dedup ("same
    # conversation re-ingested with one edited turn"). Both engines salt
    # the corpus with a deterministic near-identical variant of every
    # conversation (the rendered sequence with ' v2' appended), so the
    # pair set is non-trivial and never byte-identical; at 32 bands the
    # LSH miss probability at J>=0.8 is ~6.5e-15, so the exact-Jaccard
    # oracle reproduces the result (same argument as d_minhash_lsh).
    corpus = _conv_fuzzy_corpus(spark, sf_dir)
    return dedup.minhash_lsh_pairs(corpus, n=3, threshold=0.8, bands=32)


def _conv_fuzzy_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant-salted rendered corpus shared by the d_conv_fuzzy* family.

    Salt AFTER rendering: the variant is a row-local edit of the
    already-rendered sequence, so the conversation window/shuffle runs
    once, not twice (the turn-level variant formulation re-rendered the
    whole corpus for a 3-shingle difference). Row-local 2-way explode,
    not a union: a union's branches each re-run the render aggregate, an
    explode fans out the single pass. Finally materialize once
    (localCheckpoint): minhash_lsh_pairs scans its input on 3 branches
    (signature, buckets, exact verify) and would re-run the render
    aggregate per branch — at real scale the rendered corpus is written
    to Iceberg once and dedup reads THAT (same flow as d_dup_groups'
    per-round checkpoint; cost lands in compile_sec)."""
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"), _TOOL_MAP)
    r = (packing.render_conversations(tx)
         .select(F.col("conv_id").alias("doc_id"), "text"))
    corpus = r.select(F.explode(F.array(
        F.struct(F.col("doc_id"), F.col("text")),
        F.struct(F.concat(F.col("doc_id"), F.lit("~v")).alias("doc_id"),
                 F.concat(F.col("text"), F.lit(" v2")).alias("text")),
    )).alias("_s")).select("_s.doc_id", "_s.text")
    return corpus.localCheckpoint(eager=True)


_SQL_D_CONV_FUZZY = f"""
WITH {_ORACLE_CONV_FUZZY_CORPUS},
{_oracle_overlap("r")}
SELECT doc_a, doc_b,
       inter::DOUBLE / (sa.n + sb.n - inter) AS jaccard
FROM p JOIN sz sa ON p.doc_a = sa.doc_id JOIN sz sb ON p.doc_b = sb.doc_id
WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.8
"""


def _q_d_conv_fuzzy_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pairs -> transitive GROUPS at conversation grain (the full fuzzy
    # conv-dedup story: render |> LSH pairs |> connected components with
    # min-id survivor); the oracle closes the exact pair set with a
    # recursive CTE, as d_dup_groups does at document grain
    return dedup.near_dup_groups(_q_d_conv_fuzzy(spark, sf_dir))


def _q_d_conv_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the capstone of the conversation-dedup story: groups -> the BEST
    # copy per group (quality argmax over the rendered sequence, min-id
    # ties), singletons surviving as their own group — canonical_docs
    # exercised with STRING ids (conv ids), which the (-score, id)
    # struct-argmax supports natively
    corpus = _conv_fuzzy_corpus(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(corpus, n=3, threshold=0.8, bands=32)
    groups = dedup.near_dup_groups(pairs)
    scored = textstats.quality_score(
        corpus, text_col="text", id_col="doc_id").select("doc_id", "quality")
    return dedup.canonical_docs(scored, groups)


_SQL_D_CONV_CANONICAL = f"""
WITH RECURSIVE
{_ORACLE_CONV_FUZZY_CORPUS},
{_oracle_dup_groups("r")},
{_oracle_quality("r")},
best AS (SELECT doc_id, group_id, group_size, quality FROM (
  SELECT q.doc_id, g.group_id,
         count(*) OVER (PARTITION BY g.group_id) AS group_size,
         q.quality,
         row_number() OVER (PARTITION BY g.group_id
                            ORDER BY q.quality DESC, q.doc_id) AS rn
  FROM g JOIN q USING (doc_id)) WHERE rn = 1)
SELECT * FROM best
UNION ALL
SELECT doc_id, doc_id AS group_id, 1::BIGINT AS group_size, quality
FROM q WHERE doc_id NOT IN (SELECT doc_id FROM g)
"""


_SQL_D_CONV_FUZZY_GROUPS = f"""
WITH RECURSIVE
{_ORACLE_CONV_FUZZY_CORPUS},
{_oracle_dup_groups("r")}
SELECT doc_id, group_id FROM g
"""


def _q_x_truncate_ctx(spark: SparkSession, sf_dir: str) -> DataFrame:
    # context-window truncation: keep each conversation's newest turns
    # that fit a 60-token budget (overhead 2/turn), system turns pinned
    # and charged first — the acting complement of t_context_budget.
    tx = (_transcripts_from_events(_t(spark, sf_dir, "events"))
          .select("conv_id", "turn_idx", "role", "text"))
    kept = packing.truncate_to_budget(tx, 60, per_turn_overhead=2)
    return kept.select("conv_id", "turn_idx", "role", "turn_tokens")


_SQL_X_TRUNCATE_CTX = f"""
WITH tx AS ({_ORACLE_TX_TOOLS}),
st AS (
  SELECT conv_id, turn_idx, role,
         CAST(CASE WHEN text IS NULL THEN 0
              ELSE len(string_split(text, ' ')) END + 2 AS BIGINT) AS tk,
         coalesce(role, '') = 'system' AS pin
  FROM tx),
agg AS (
  SELECT conv_id, turn_idx, role, tk, pin,
         coalesce(sum(CASE WHEN pin THEN tk END)
                  OVER (PARTITION BY conv_id), 0) AS pincost,
         sum(CASE WHEN NOT pin THEN tk END)
           OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS revcum
  FROM st)
SELECT conv_id, turn_idx, role, tk AS turn_tokens
FROM agg
WHERE pin OR revcum <= greatest(CAST(60 AS BIGINT) - pincost, 0)
"""


def _q_x_turn_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    # conversation-grain sliding windows: every full 3-turn window with
    # stride 2 and its whitespace-token cost (+1/turn render overhead)
    tx = (_transcripts_from_events(_t(spark, sf_dir, "events"))
          .select("conv_id", "turn_idx", "text"))
    return packing.turn_windows(tx, 3, stride=2, per_turn_overhead=1)


_SQL_X_TURN_WINDOWS = f"""
WITH tx AS ({_ORACLE_TX_TOOLS}),
st AS (
  SELECT conv_id, turn_idx,
         CAST(CASE WHEN text IS NULL THEN 0
              ELSE len(string_split(text, ' ')) END + 1 AS BIGINT) AS tk
  FROM tx),
win AS (
  SELECT conv_id, turn_idx, tk,
         row_number() OVER w - 1 AS pos,
         count(tk) OVER wf AS n,
         max(turn_idx) OVER wf AS end_idx,
         sum(tk) OVER wf AS s
  FROM st
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx),
         wf AS (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING))
SELECT conv_id, CAST(pos AS INT) AS window_pos, turn_idx AS start_idx,
       end_idx, n AS n_turns, CAST(s AS BIGINT) AS n_tokens
FROM win WHERE n = 3 AND pos % 2 = 0
"""


def _q_x_render_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # transcripts -> training-ready sequences: each conversation's turns
    # rendered in stable (turn_idx, role, text) order into one canonical
    # string + whitespace token count (the pack_sequences budget input).
    # This is the north rule's per-turn-text-equality invariant as an
    # operator: the oracle reproduces the exact rendered bytes.
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"), _TOOL_MAP)
    return packing.render_conversations(tx)


_SQL_X_RENDER_CONV = f"""
WITH {_ORACLE_RENDERED}
SELECT conv_id, n_turns, text,
       CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens
FROM conv
"""


def _q_d_conv_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DSIR at the transcripts grain: conversations rendered once, then
    # importance-weighted against a target slice (md5-selected ~25%,
    # salted with a marker phrase; a disjoint md5-selected raw slice
    # carries the same marker and must score more target-like).
    # Conversations are selected or rejected WHOLE — the same
    # group-coherence rule every sampler here follows.
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"), _TOOL_MAP)
    r = packing.render_conversations(tx).select("conv_id", "text")
    mark = F.substring(F.md5(F.concat(F.col("conv_id"),
                                      F.lit("#dsirm"))), 1, 1)
    raw = r.select(
        "conv_id",
        F.concat(F.col("text"),
                 F.when(mark < "4", F.lit(" quantum flux"))
                  .otherwise(F.lit(""))).alias("text"))
    tsel = F.substring(F.md5(F.concat(F.col("conv_id"),
                                      F.lit("#dsirt"))), 1, 1)
    tgt = (r.filter(tsel < "4")
           .select("conv_id",
                   F.concat(F.col("text"), F.lit(" quantum flux"))
                   .alias("text")))
    return sampling.dsir_weights(raw, tgt, text_col="text",
                                 id_col="conv_id", ns=(1,), buckets=512)


_SQL_D_CONV_DSIR = f"""
WITH {_ORACLE_RENDERED},
raw AS (SELECT conv_id,
    text || CASE WHEN substr(md5(conv_id || '#dsirm'), 1, 1) < '4'
                 THEN ' quantum flux' ELSE '' END AS t
  FROM conv),
tgt AS (SELECT conv_id, text || ' quantum flux' AS t
  FROM conv WHERE substr(md5(conv_id || '#dsirt'), 1, 1) < '4'),
{_oracle_dsir_weights("conv_id")},
sc AS (SELECT rg.conv_id, count(*) AS n_grams,
              CAST(sum(wt.w) AS BIGINT) AS logw
       FROM rg JOIN wt ON rg.b = wt.b GROUP BY rg.conv_id)
SELECT raw.conv_id,
  coalesce(sc.n_grams, 0) AS n_grams,
  coalesce(sc.logw, 0) AS logw_micro,
  coalesce(floor(sc.logw / sc.n_grams)::BIGINT::DOUBLE / 1e6, 0.0)
    AS avg_logw
FROM raw LEFT JOIN sc ON raw.conv_id = sc.conv_id
"""


def _q_x_sft_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # loss-mask export: where each turn's rendered bytes sit inside the
    # render_conversations sequence, and whether the turn trains
    # (assistant completions only). Offsets are value-exact vs the
    # oracle's window cumsum, so the mask lines up with x_render_conv's
    # rendered text byte-for-byte.
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"), _TOOL_MAP)
    return packing.sft_spans(tx)


_SQL_X_SFT_SPANS = f"""
WITH tx AS ({_ORACLE_TX_TOOLS}),
p AS (
  SELECT conv_id, turn_idx, role,
         coalesce(turn_idx, -2147483648) AS i,
         coalesce(role, 'unknown') AS r,
         coalesce(text, '') AS t,
         length('<|' || coalesce(role, 'unknown') || '|>' || chr(10)
                || coalesce(text, '')) AS plen
  FROM tx)
SELECT conv_id, turn_idx, role,
       CAST(coalesce(sum(plen + 1) OVER (
              PARTITION BY conv_id ORDER BY i, r, t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS char_start,
       CAST(coalesce(sum(plen + 1) OVER (
              PARTITION BY conv_id ORDER BY i, r, t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + plen
            AS BIGINT) AS char_end,
       r = 'assistant' AS train
FROM p
"""


def _q_x_strat(spark: SparkSession, sf_dir: str) -> DataFrame:
    # re-balance the language mix: keep all de, half zh, a quarter en;
    # es/fr fall to the 10% default
    kept = sampling.stratified_sample(
        _t(spark, sf_dir, "documents"), "doc_id", "lang",
        {"de": 1.0, "zh": 0.5, "en": 0.25},
        default_fraction=0.1, salt="r3")
    return kept.groupBy("lang").agg(F.count("*").alias("n_docs"))


_SQL_X_STRAT = f"""
SELECT lang, count(*) AS n_docs FROM documents
WHERE substr(md5(concat(CAST(doc_id AS VARCHAR), '#r3')), 1, 8)
      < CASE lang WHEN 'de' THEN '{sampling._threshold(1.0)}'
                  WHEN 'zh' THEN '{sampling._threshold(0.5)}'
                  WHEN 'en' THEN '{sampling._threshold(0.25)}'
                  ELSE '{sampling._threshold(0.1)}' END
GROUP BY lang
"""


def _q_x_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = sampling.train_eval_split(
        _t(spark, sf_dir, "events"), "user_id", 0.1, salt="r3")
    return (ev.groupBy("split")
              .agg(F.count("*").alias("n_rows"),
                   F.countDistinct("user_id").alias("n_keys")))


_SQL_X_SPLIT = f"""
SELECT CASE WHEN substr(md5(concat(CAST(user_id AS VARCHAR), '#r3')), 1, 8)
            < '{sampling._threshold(0.1)}'
       THEN 'eval' ELSE 'train' END AS split,
       count(*) AS n_rows, count(DISTINCT user_id) AS n_keys
FROM events GROUP BY 1
"""


def _q_x_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # terminal pipeline step: deterministic global shuffle + shard
    # assignment for training output — the (shard, pos) order is a
    # reproducible pseudo-random permutation of the corpus, identical
    # across engines and reruns (df.orderBy(rand()) is neither).
    sharded = sampling.shard_corpus(
        _t(spark, sf_dir, "documents"), "doc_id", 8, salt="r3")
    return sharded.select("doc_id", "shard", "pos")


_SQL_X_SHARD = """
WITH h AS (SELECT doc_id,
  ('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), '#r3')), 1, 15))::BIGINT
    AS okey
  FROM documents)
SELECT doc_id, CAST(okey % 8 AS INT) AS shard,
  CAST(row_number() OVER (PARTITION BY okey % 8 ORDER BY okey, doc_id) - 1
       AS INT) AS pos
FROM h
"""


def _q_d_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the full "dedup the corpus, keep the BEST copy" composition:
    # LSH pairs -> transitive groups -> quality-argmax survivor per
    # group (+ untouched singletons). The oracle recomputes the groups
    # with the exact recursive CTE and picks survivors with a window.
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, n=3, threshold=0.8, bands=32)
    groups = dedup.near_dup_groups(pairs)
    scored = textstats.quality_score(docs).select("doc_id", "quality")
    return dedup.canonical_docs(scored, groups)


_SQL_D_CANONICAL = f"""
WITH g AS ({_SQL_D_DUP_GROUPS}),
{_oracle_quality("documents")},
best AS (SELECT doc_id, group_id, group_size, quality FROM (
  SELECT q.doc_id, g.group_id,
         count(*) OVER (PARTITION BY g.group_id) AS group_size,
         q.quality,
         row_number() OVER (PARTITION BY g.group_id
                            ORDER BY q.quality DESC, q.doc_id) AS rn
  FROM g JOIN q USING (doc_id)) WHERE rn = 1)
SELECT * FROM best
UNION ALL
SELECT doc_id, doc_id AS group_id, 1::BIGINT AS group_size, quality
FROM q WHERE doc_id NOT IN (SELECT doc_id FROM g)
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing (documents -> fake binary payloads)
# ---------------------------------------------------------------------------

def _q_m_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.attach_media(_t(spark, sf_dir, "documents"))
    return multimodal.extract_media_meta(media)


def _q_m_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-type media storage dashboard: byte-length aggregates only, no
    # decode, payloads never shuffle (operators/multimodal.py)
    media = multimodal.attach_media(_t(spark, sf_dir, "documents"))
    return multimodal.media_size_stats(media)


_SQL_M_MEDIA_STATS = """
WITH m AS (SELECT doc_id,
  ['image','audio','video'][(doc_id % 3)::INT + 1] AS media_type,
  octet_length(encode(text)) AS n FROM documents)
SELECT media_type, count(*) AS n_items,
       CAST(sum(CASE WHEN n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(coalesce(sum(n), 0) AS BIGINT) AS total_bytes,
       round(coalesce(sum(n), 0) * 1.0
             / nullif(count(n), 0), 6) AS avg_bytes,
       CAST(coalesce(max(n), 0) AS BIGINT) AS max_bytes
FROM m GROUP BY media_type ORDER BY media_type
"""


_SQL_M_MEDIA = """
WITH m AS (SELECT doc_id,
  ['image','audio','video'][(doc_id % 3)::INT + 1] AS media_type,
  octet_length(encode(text)) AS n FROM documents)
SELECT doc_id, media_type, CAST(n AS BIGINT) AS n_bytes,
  CAST(CASE media_type WHEN 'image' THEN 320 + n % 1280
       WHEN 'audio' THEN 0 ELSE 640 END AS INT) AS width,
  CAST(CASE media_type WHEN 'image' THEN 240 + n % 720
       WHEN 'audio' THEN 0 ELSE 360 END AS INT) AS height,
  CAST(CASE media_type WHEN 'image' THEN 0
       WHEN 'audio' THEN 1000 + (n % 600) * 100
       ELSE 2000 + (n % 3600) * 50 END AS BIGINT) AS duration_ms
FROM m
"""


def _q_m_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    # frame-sampling fan-out for video payloads: one planned
    # (doc_id, frame_idx, offset_ms) row per sampled frame from the
    # deterministic fake-decoded duration — explode(sequence(...)),
    # JVM-side; the oracle reproduces the duration formula and
    # generate_series fan-out
    media = multimodal.attach_media(_t(spark, sf_dir, "documents"))
    return multimodal.frame_sample_plan(media, every_ms=1000)


_SQL_M_FRAMES = """
WITH m AS (SELECT doc_id,
  ['image','audio','video'][(doc_id % 3)::INT + 1] AS media_type,
  octet_length(encode(text)) AS n FROM documents),
v AS (SELECT doc_id, 2000 + (n % 3600) * 50 AS duration_ms
      FROM m WHERE media_type = 'video'),
f AS (SELECT doc_id,
             unnest(generate_series(0, duration_ms // 1000)) AS step
      FROM v)
SELECT doc_id, CAST(step AS INT) AS frame_idx,
       CAST(step * 1000 AS BIGINT) AS offset_ms
FROM f
"""


def _q_e_split_convs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # conversation-identity repair: split reused ids at >30-min gaps,
    # renumber within each split — one exchange, all three windows on
    # the same sort (temporal.split_conversations)
    out = temporal.split_conversations(
        _t(spark, sf_dir, "events").select("user_id", "event_id", "ts"),
        conv_col="user_id", idx_col="event_id", ts_col="ts",
        gap_seconds=1800)
    return out.select("event_id", "new_conv_id", "new_turn_idx")


_SQL_E_SPLIT_CONVS = """
WITH o AS (SELECT user_id, event_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS st,
    row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (SELECT *,
    sum(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) - 1 AS seq,
    max(CASE WHEN st = 1 THEN rn END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS srn
  FROM o)
SELECT event_id, user_id || ':' || seq AS new_conv_id,
       CAST(rn - srn AS INT) AS new_turn_idx
FROM s
"""


def _q_e_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (temporal.py):
    30-min inactivity gap per user, (ts, event_id) tie order; one row
    per session with count/start/end/duration. One Exchange on user_id;
    the stats aggregate reuses the window's hash partitioning."""
    return temporal.session_stats(
        _t(spark, sf_dir, "events").select("user_id", "event_id", "ts"),
        key_col="user_id", ts_col="ts", gap_seconds=1800,
        order_cols=("event_id",))


_SQL_E_SESSIONIZE = """
WITH marks AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) - 1 AS session_seq
  FROM marks)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       COUNT(*) AS n_events, MIN(ts) AS started_at, MAX(ts) AS ended_at,
       (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS duration_sec
FROM sess GROUP BY user_id, session_seq
"""


def _q_e_turn_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation inter-turn latency profile with 12h stale-gap
    detection (temporal.turn_latency_stats): integer-microsecond sums and
    max are bit-exact cross-engine; avg is one rounded IEEE division."""
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"))
    return temporal.turn_latency_stats(tx, stale_seconds=43200)


_SQL_E_TURN_LATENCY = f"""
WITH tx AS ({_ORACLE_TX_TOOLS}),
g AS (SELECT conv_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
                 PARTITION BY conv_id ORDER BY turn_idx)) AS gap_us
      FROM tx)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us,
       CAST(sum(CASE WHEN gap_us > 43200000000::BIGINT
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_stale,
       floor(sum(gap_us) / count(*))::BIGINT::DOUBLE / 1000000.0
         AS avg_gap_sec
FROM g WHERE gap_us IS NOT NULL
GROUP BY conv_id
"""


def _q_e_role_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide response latency by adjacent role pair
    (temporal.role_pair_latency): |roles|^2-row dashboard output,
    integer-microsecond sums bit-exact cross-engine."""
    tx = _transcripts_from_events(_t(spark, sf_dir, "events"))
    return temporal.role_pair_latency(tx)


_SQL_E_ROLE_LATENCY = f"""
WITH tx AS ({_ORACLE_TX_TOOLS}),
g AS (SELECT lag(role) OVER w AS prev_role, role,
             epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      FROM tx
      WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
SELECT prev_role, role,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us,
       floor(sum(gap_us) / count(*))::BIGINT::DOUBLE / 1000000.0
         AS avg_gap_sec
FROM g WHERE gap_us IS NOT NULL
GROUP BY prev_role, role
"""


def _q_e_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (temporal.py): every click event picks up the most
    recent PRIOR error event of the same user (its ts + value), the
    "state at event time" lookup a transcript pipeline uses for spec
    versions / model configs. Union + one Exchange + carried last() —
    no per-row subqueries, no broadcast, no cartesian. (ts, user_id)
    pairs are unique in the generator, so the match is deterministic."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("user_id", "event_id", "ts")
    errors = ev.filter(F.col("event_type") == "error") \
        .select("user_id", "ts", "value")
    return temporal.asof_join(clicks, errors, on="user_id",
                              right_cols=("value",)) \
        .select("event_id", "user_id", "ts", "asof_ts",
                F.col("asof_value").cast("double").alias("asof_value"))


_SQL_E_ASOF_JOIN = """
WITH clicks AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
errs AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'error')
SELECT c.event_id, c.user_id, c.ts,
       e.ts AS asof_ts, e.value AS asof_value
FROM clicks c ASOF LEFT JOIN errs e
  ON c.user_id = e.user_id AND c.ts >= e.ts
"""


_MSV_V1 = {"type": "object", "required": ["role"], "properties": {
    "role": {"type": "string",
             "enum": ["system", "user", "assistant", "tool"]}}}
_MSV_V2 = {"type": "object", "required": ["role", "text"], "properties": {
    "role": {"type": "string", "enum": ["user", "assistant"]},
    "text": {"type": "string", "minLength": 9}}}


def _q_v_multi_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-registry routing (runner.multi_spec_validate): transcripts
    carry a spec version (user_id % 3 -> v1 / v2 / v9-unregistered) and
    each row validates against ITS version's compiled plan — v1 accepts
    all four roles, v2 narrows the enum and adds a text length floor,
    v9 rows flag UnknownSpecVersion. One plan branch per version, each
    fully whole-stage-codegen'd; all specs compile once on the driver."""
    tx = _transcripts_from_events(_t(spark, sf_dir, "events")) \
        .withColumn(
            "spec_id",
            F.concat(F.lit("v"),
                     (F.col("conv_id").cast("long") % 3 + 1)
                     .cast("string")))
    tx = tx.withColumn(
        "spec_id",
        F.when(F.col("spec_id") == "v3", F.lit("v9"))
        .otherwise(F.col("spec_id")))
    rep = runner.multi_spec_validate(tx, {"v1": _MSV_V1, "v2": _MSV_V2},
                                     spec_col="spec_id")
    return rep.violations


_SQL_V_MULTI_SPEC = f"""
WITH tx AS (
  SELECT *, CASE CAST(conv_id AS BIGINT) % 3 WHEN 0 THEN 'v1'
                 WHEN 1 THEN 'v2' ELSE 'v9' END AS spec_id
  FROM ({_ORACLE_TX_TOOLS}))
SELECT conv_id, turn_idx, spec_id, '/role' AS instance_path,
       'NotInEnum' AS code,
       '/role: value "' || role || '" not in enum (allowed: "system", "user", "assistant", "tool")' AS message
FROM tx WHERE spec_id = 'v1'
  AND role NOT IN ('system','user','assistant','tool')
UNION ALL
SELECT conv_id, turn_idx, spec_id, '/role', 'MissingRequired',
       '/role: missing required property "role"'
FROM tx WHERE spec_id = 'v1' AND role IS NULL
UNION ALL
SELECT conv_id, turn_idx, spec_id, '/role', 'NotInEnum',
       '/role: value "' || role || '" not in enum (allowed: "user", "assistant")'
FROM tx WHERE spec_id = 'v2' AND role NOT IN ('user','assistant')
UNION ALL
SELECT conv_id, turn_idx, spec_id, '/role', 'MissingRequired',
       '/role: missing required property "role"'
FROM tx WHERE spec_id = 'v2' AND role IS NULL
UNION ALL
SELECT conv_id, turn_idx, spec_id, '/text', 'TooShort',
       '/text: string has ' || CAST(length(text) AS VARCHAR) ||
       ' code points, minLength is 9'
FROM tx WHERE spec_id = 'v2' AND length(text) < 9
UNION ALL
SELECT conv_id, turn_idx, spec_id, '/text', 'MissingRequired',
       '/text: missing required property "text"'
FROM tx WHERE spec_id = 'v2' AND text IS NULL
UNION ALL
SELECT conv_id, turn_idx, spec_id, '', 'UnknownSpecVersion',
       'root: spec version "' || spec_id || '" is not registered'
FROM tx WHERE spec_id = 'v9'
"""


# One row per driver entry: (name, thunk, DuckDB oracle SQL or None).
# The driver addresses entries by position and samples a prefix of
# queries(), so the row order is part of the contract and
# tests/test_entry_contract.py pins it: append new rows at the end and
# bump the pin on purpose. None marks the four entries with no value
# oracle by design (approximate sketch paths whose output depends on
# t-digest internals; k-means centroids from driver-side Lloyd
# iterations no SQL can reproduce). They sit after every oracle-able
# entry so the sampled prefix spends no slot on an entry that cannot
# turn green; their gates are accuracy and recall tests in tests/.
_ENTRIES = (
    ("a_ivf_topk", _q_a_ivf, _SQL_A_IVF),
    ("a_mean_embedding", _q_a_mean_embedding, _SQL_A_MEAN_EMBEDDING),
    ("a_normalize", _q_a_normalize, _SQL_A_NORMALIZE),
    ("d_source_dup_rate", _q_d_source_dup_rate, _SQL_D_SOURCE_DUP_RATE),
    ("s_source_psi", _q_s_source_psi, _SQL_S_SOURCE_PSI),
    ("s_vocab_growth", _q_s_vocab_growth, _SQL_S_VOCAB_GROWTH),
    ("t_conv_profile", _q_t_conv_profile, _SQL_T_CONV_PROFILE),
    ("s_sketch_counts", _q_s_sketch_counts, _SQL_S_SKETCH_COUNTS),
    ("a_centroid_classify", _q_a_centroid_classify, _SQL_A_CENTROID_CLASSIFY),
    ("a_dim_profile", _q_a_dim_profile, _SQL_A_DIM_PROFILE),
    ("a_knn_join", _q_a_knn_join, _SQL_A_KNN_JOIN),
    ("a_quality_propagate", _q_a_quality_propagate, _SQL_A_QUALITY_PROPAGATE),
    ("a_label_outliers", _q_a_label_outliers, _SQL_A_LABEL_OUTLIERS),
    ("a_srp_dup_pairs", _q_a_srp_dup_pairs, _SQL_A_SRP_DUP_PAIRS),
    ("a_semantic_dedup", _q_a_semantic_dedup, _SQL_A_SEMANTIC_DEDUP),
    ("a_ivf_recall", _q_a_ivf_recall, _SQL_A_IVF_RECALL),
    ("x_top_tokens", _q_x_top_tokens, _SQL_X_TOP_TOKENS),
    ("x_heavy_hitters", _q_x_heavy_hitters, _SQL_X_HEAVY_HITTERS),
    ("x_encoding_check", _q_x_encoding_check, _SQL_X_ENCODING_CHECK),
    ("x_char_stats", _q_x_char_stats, _SQL_X_CHAR_STATS),
    ("x_line_rep", _q_x_line_rep, _SQL_X_LINE_REP),
    ("x_c4_clean", _q_x_c4_clean, _SQL_X_C4_CLEAN),
    ("x_gopher_gate", _q_x_gopher_gate, _SQL_X_GOPHER_GATE),
    ("x_dup_within", _q_x_dup_within, _SQL_X_DUP_WITHIN),
    ("x_redact_cards", _q_x_redact_cards, _SQL_X_REDACT_CARDS),
    ("x_blockwords", _q_x_blockwords, _SQL_X_BLOCKWORDS),
    ("x_rep_ngram", _q_x_rep_ngram, _SQL_X_REP_NGRAM),
    ("x_dup_ngrams", _q_x_dup_ngrams, _SQL_X_DUP_NGRAMS),
    ("x_ngram_diversity", _q_x_ngram_diversity, _SQL_X_NGRAM_DIVERSITY),
    ("x_quality_buckets", _q_x_quality_buckets, _SQL_X_QUALITY_BUCKETS),
    ("x_oov_rate", _q_x_oov_rate, _SQL_X_OOV_RATE),
    ("v_lang_mismatch", _q_v_lang_mismatch, _SQL_V_LANG_MISMATCH),
    ("x_top_tokens_by", _q_x_top_tokens_by, _SQL_X_TOP_TOKENS_BY),
    ("x_dedup_spans", _q_x_dedup_spans, _SQL_X_DEDUP_SPANS),
    ("x_decontam_spans", _q_x_decontam_spans, _SQL_X_DECONTAM_SPANS),
    ("x_lm_quality", _q_x_lm_quality, _SQL_X_LM_QUALITY),
    ("x_decontaminate", _q_x_decontaminate, _SQL_X_DECONTAM),
    ("x_fuzzy_decontam", _q_x_fuzzy_decontam, _SQL_X_FUZZY_DECONTAM),
    ("x_novelty", _q_x_novelty, _SQL_X_NOVELTY),
    ("x_quota_sample", _q_x_quota_sample, _SQL_X_QUOTA_SAMPLE),
    ("x_dsir", _q_x_dsir, _SQL_X_DSIR),
    ("x_dsir_sample", _q_x_dsir_sample, _SQL_X_DSIR_SAMPLE),
    ("x_prep_corpus", _q_x_prep_corpus, _SQL_X_PREP_CORPUS),
    ("x_corpus_report", _q_x_corpus_report, _SQL_X_CORPUS_REPORT),
    ("x_quality_sample", _q_x_quality_sample, _SQL_X_QUALITY_SAMPLE),
    ("x_doc_sample", _q_x_sample, _SQL_X_SAMPLE),
    ("x_split_counts", _q_x_split, _SQL_X_SPLIT),
    ("x_strat_sample", _q_x_strat, _SQL_X_STRAT),
    ("x_shard_corpus", _q_x_shard, _SQL_X_SHARD),
    ("x_mix_sources", _q_x_mix, _SQL_X_MIX),
    ("x_mix_budget", _q_x_mix_budget, _SQL_X_MIX_BUDGET),
    ("x_mix_temperature", _q_x_mix_temperature, _SQL_X_MIX_TEMPERATURE),
    ("x_soft_dedup", _q_x_soft_dedup, _SQL_X_SOFT_DEDUP),
    ("x_vocab_repair", _q_x_vocab_repair, _SQL_X_VOCAB_REPAIR),
    ("x_pack_chunks", _q_x_pack, _SQL_X_PACK),
    ("x_pack_report", _q_x_pack_report, _SQL_X_PACK_REPORT),
    ("x_chunk_windows", _q_x_chunks, _SQL_X_CHUNKS),
    ("x_turn_windows", _q_x_turn_windows, _SQL_X_TURN_WINDOWS),
    ("x_render_conv", _q_x_render_conv, _SQL_X_RENDER_CONV),
    ("x_truncate_ctx", _q_x_truncate_ctx, _SQL_X_TRUNCATE_CTX),
    ("x_sft_spans", _q_x_sft_spans, _SQL_X_SFT_SPANS),
    ("x_normalize_text", _q_x_normalize, _SQL_X_NORMALIZE),
    ("v_profile_spec", _q_v_profile_spec, _SQL_V_PROFILE_SPEC),
    ("v_clean_route", _q_v_clean_route, _SQL_V_CLEAN_ROUTE),
    ("x_redact_pii", _q_x_redact, _SQL_X_REDACT),
    ("x_boilerplate", _q_x_boilerplate, _SQL_X_BOILERPLATE),
    ("x_url_domains", _q_x_url_domains, _SQL_X_URL_DOMAINS),
    ("d_conv_dedup", _q_d_conv_dedup, _SQL_D_CONV_DEDUP),
    ("d_conv_fuzzy", _q_d_conv_fuzzy, _SQL_D_CONV_FUZZY),
    ("d_conv_fuzzy_groups", _q_d_conv_fuzzy_groups, _SQL_D_CONV_FUZZY_GROUPS),
    ("d_conv_canonical", _q_d_conv_canonical, _SQL_D_CONV_CANONICAL),
    ("e_split_convs", _q_e_split_convs, _SQL_E_SPLIT_CONVS),
    ("e_sessionize", _q_e_sessionize, _SQL_E_SESSIONIZE),
    ("e_asof_join", _q_e_asof_join, _SQL_E_ASOF_JOIN),
    ("e_turn_latency", _q_e_turn_latency, _SQL_E_TURN_LATENCY),
    ("e_role_latency", _q_e_role_latency, _SQL_E_ROLE_LATENCY),
    ("v_multi_spec", _q_v_multi_spec, _SQL_V_MULTI_SPEC),
    ("m_media_stats", _q_m_media_stats, _SQL_M_MEDIA_STATS),
    ("m_frame_plan", _q_m_frames, _SQL_M_FRAMES),
    ("flagship_transcripts", _flagship, _FLAGSHIP_ORACLE),
    ("v_enum", _q_v_enum, _SQL_V_ENUM),
    ("v_const", _q_v_const, _SQL_V_CONST),
    ("v_bounds_int", _q_v_bounds, _SQL_V_BOUNDS),
    ("v_ext_numeric", _q_v_ext_numeric, _SQL_V_EXT_NUMERIC),
    ("v_ext_anchors", _q_v_ext_anchors, _SQL_V_EXT_ANCHORS),
    ("v_formats", _q_v_formats, _SQL_V_FORMATS),
    ("v_unevaluated", _q_v_unevaluated, _SQL_V_UNEVALUATED),
    ("v_conditional", _q_v_conditional, _SQL_V_CONDITIONAL),
    ("v_ext_object", _q_v_ext_object, _SQL_V_EXT_OBJECT),
    ("v_content_json", _q_v_content_json, _SQL_V_CONTENT_JSON),
    ("v_bounds_frac", _q_v_bounds_frac, _SQL_V_BOUNDS_FRAC),
    ("v_length", _q_v_length, _SQL_V_LENGTH),
    ("v_pattern", _q_v_pattern, _SQL_V_PATTERN),
    ("v_pattern_hard", _q_v_pattern_hard, _SQL_V_PATTERN_HARD),
    ("v_uuid", _q_v_uuid, _SQL_V_UUID),
    ("v_required", _q_v_required, _SQL_V_REQUIRED),
    ("v_anyof", _q_v_anyof, _SQL_V_ANYOF),
    ("v_oneof_none", _q_v_oneof_none, _SQL_V_ONEOF_NONE),
    ("v_oneof_multi", _q_v_oneof_multi, _SQL_V_ONEOF_MULTI),
    ("v_json_payload", _q_v_json_payload, _SQL_V_JSON_PAYLOAD),
    ("t_key_sync", _q_t_key_sync, _SQL_T_KEY_SYNC),
    ("t_ref_coverage", _q_t_ref_coverage, _SQL_T_REF_COVERAGE),
    ("t_role_patterns", _q_t_role_patterns, _SQL_T_ROLE_PATTERNS),
    ("t_fd_check", _q_t_fd_check, _SQL_T_FD_CHECK),
    ("t_freshness", _q_t_freshness, _SQL_T_FRESHNESS),
    ("t_dup_conflicts", _q_t_dup_conflicts, _SQL_T_DUP_CONFLICTS),
    ("s_mad_outliers", _q_s_mad_outliers, _SQL_S_MAD_OUTLIERS),
    ("s_histogram", _q_s_histogram, _SQL_S_HISTOGRAM),
    ("s_winsorize", _q_s_winsorize, _SQL_S_WINSORIZE),
    ("s_json_keys", _q_s_json_keys, _SQL_S_JSON_KEYS),
    ("v_json_spec", _q_v_json_spec, _SQL_V_JSON_SPEC),
    ("v_array_items", _q_v_array_items, _SQL_V_ARRAY_ITEMS),
    ("v_ref_allof", _q_v_ref_allof, _SQL_V_REF_ALLOF),
    ("v_enum_stream", _q_v_enum_stream, _SQL_V_ENUM),
    ("v_jsonl_source", _q_v_jsonl_source, _SQL_V_JSONL_SOURCE),
    ("v_expected_types", _q_v_expected_types, _SQL_V_EXPECTED_TYPES),
    ("v_array_errors", _q_v_array_errors, _SQL_V_ARRAY_ERRORS),
    ("v_additional_forbid", _q_v_additional_forbid, _SQL_V_ADDITIONAL_FORBID),
    ("v_invalid_ref", _q_v_invalid_ref, _SQL_V_INVALID_REF),
    ("v_invalid_pattern", _q_v_invalid_pattern, _SQL_V_INVALID_PATTERN),
    ("v_invalid_json", _q_v_invalid_json, _SQL_V_INVALID_JSON),
    ("t_unique_keys", _q_t_unique, _SQL_T_UNIQUE),
    ("t_referential", _q_t_referential, _SQL_T_REFERENTIAL),
    ("t_referential_shuffle", _q_t_referential_shuffle, _SQL_T_REFERENTIAL),
    ("t_gapfree_ordering", _q_t_gapfree, _SQL_T_GAPFREE),
    ("t_monotonic_ts", _q_t_monotonic, _SQL_T_MONOTONIC),
    ("t_reindex_turns", _q_t_reindex, _SQL_T_REINDEX),
    ("t_repair_validate", _q_t_repair_validate, _SQL_T_REPAIR_VALIDATE),
    ("t_tree_check", _q_t_tree_check, _SQL_T_TREE_CHECK),
    ("t_near_retry", _q_t_near_retry, _SQL_T_NEAR_RETRY),
    ("t_coerce_vocab", _q_t_coerce_vocab, _SQL_T_COERCE_VOCAB),
    ("t_conv_quality", _q_t_conv_quality, _SQL_T_CONV_QUALITY),
    ("t_hot_convs", _q_t_hot_convs, _SQL_T_HOT_CONVS),
    ("t_role_protocol", _q_t_role_protocol, _SQL_T_ROLE_PROTOCOL),
    ("t_tool_pairing", _q_t_tool_pairing, _SQL_T_TOOL_PAIRING),
    ("t_conv_bounds", _q_t_conv_bounds, _SQL_T_CONV_BOUNDS),
    ("t_context_budget", _q_t_context_budget, _SQL_T_CONTEXT_BUDGET),
    ("s_violation_trend", _q_s_violation_trend, _SQL_S_VIOLATION_TREND),
    ("s_trend_anomaly", _q_s_trend_anomaly, _SQL_S_TREND_ANOMALY),
    ("t_turn_loops", _q_t_turn_loops, _SQL_T_TURN_LOOPS),
    ("t_drop_loops", _q_t_drop_loops, _SQL_T_DROP_LOOPS),
    ("t_conv_verdicts", _q_t_conv_verdicts, _SQL_T_CONV_VERDICTS),
    ("t_expectations", _q_t_expectations, _SQL_T_EXPECTATIONS),
    ("v_violation_stats", _q_v_violation_stats, _SQL_V_VIOLATION_STATS),
    ("v_review_queue", _q_v_review_queue, _SQL_V_REVIEW_QUEUE),
    ("t_transcript_diff", _q_t_transcript_diff, _SQL_T_TRANSCRIPT_DIFF),
    ("s_profile", _q_s_profile, _SQL_S_PROFILE),
    ("s_exact_quantiles", _q_s_exact_quantiles, _SQL_S_EXACT_QUANTILES),
    ("s_exact_corr", _q_s_exact_corr, _SQL_S_EXACT_CORR),
    ("s_group_quantiles", _q_s_group_quantiles, _SQL_S_GROUP_QUANTILES),
    ("s_profile_drift", _q_s_profile_drift, _SQL_S_PROFILE_DRIFT),
    ("s_chi2_drift", _q_s_chi2, _SQL_S_CHI2),
    ("s_ks_drift", _q_s_ks, _SQL_S_KS),
    ("s_cvm_drift", _q_s_cvm, _SQL_S_CVM),
    ("s_vocab_drift", _q_s_vocab_drift, _SQL_S_VOCAB_DRIFT),
    ("s_emb_drift", _q_s_emb_drift, _SQL_S_EMB_DRIFT),
    ("s_psi_drift", _q_s_psi, _SQL_S_PSI),
    ("s_js_drift", _q_s_js, _SQL_S_JS),
    ("s_w1_drift", _q_s_w1, _SQL_S_W1),
    ("d_exact_groups", _q_d_exact, _SQL_D_EXACT),
    ("d_incremental_dedup", _q_d_incremental, _SQL_D_INCREMENTAL),
    ("d_incremental_fuzzy", _q_d_incremental_fuzzy, _SQL_D_INCREMENTAL_FUZZY),
    ("d_ngram_jaccard", _q_d_ngram, _SQL_D_NGRAM),
    ("d_containment", _q_d_containment, _SQL_D_CONTAINMENT),
    ("d_source_overlap", _q_d_source_overlap, _SQL_D_SOURCE_OVERLAP),
    ("d_minhash_lsh", _q_d_minhash, _SQL_D_NGRAM),
    ("d_dup_groups", _q_d_dup_groups, _SQL_D_DUP_GROUPS),
    ("d_dedup_report", _q_d_dedup_report, _SQL_D_DEDUP_REPORT),
    ("d_conv_dsir", _q_d_conv_dsir, _SQL_D_CONV_DSIR),
    ("d_canonical_docs", _q_d_canonical, _SQL_D_CANONICAL),
    ("d_simhash", _q_d_simhash, _SQL_D_SIMHASH),
    ("d_simhash_pairs", _q_d_simhash_pairs, _SQL_D_SIMHASH_PAIRS),
    ("a_cosine_topk", _q_a_cosine, _SQL_A_COSINE),
    ("v_vector_check", _q_v_vector_check, _SQL_V_VECTOR_CHECK),
    ("a_quantized_topk", _q_a_quantized_topk, _SQL_A_QUANTIZED_TOPK),
    ("a_pq_topk", _q_a_pq_topk, _SQL_A_PQ_TOPK),
    ("a_pq_recall", _q_a_pq_recall, _SQL_A_PQ_RECALL),
    ("a_ivfpq_topk", _q_a_ivfpq_topk, _SQL_A_IVFPQ_TOPK),
    ("a_ivfpq_res", _q_a_ivfpq_res, _SQL_A_IVFPQ_RES),
    ("a_cosine_dup_pairs", _q_a_cosine_dup, _SQL_A_COSINE_DUP),
    ("a_cosine_dup_bucketed", _q_a_cosine_dup_bucketed,
     _SQL_A_COSINE_DUP_BUCKETED),
    ("a_coverage_sample", _q_a_coverage_sample, _SQL_A_COVERAGE_SAMPLE),
    ("a_source_similarity", _q_a_source_similarity, _SQL_A_SOURCE_SIMILARITY),
    ("x_token_stats", _q_x_tokens, _SQL_X_TOKENS),
    ("x_quality", _q_x_quality, _SQL_X_QUALITY),
    ("x_language_id", _q_x_langid, _SQL_X_LANGID),
    ("x_fingerprint", _q_x_fingerprint, _SQL_X_FINGERPRINT),
    ("m_media_meta", _q_m_media, _SQL_M_MEDIA),
    ("s_ks_sketch", _q_s_ks_sketch, None),
    ("s_sketch_drift", _q_s_sketch_drift, None),
    ("s_w1_sketch", _q_s_w1_sketch, None),
    ("a_ivf_topk_trained", _q_a_ivf_trained, None),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    training-data pipeline operators), in ``_ENTRIES`` order. Column
    names match oracle_sql."""
    return {name: thunk for name, thunk, _ in _ENTRIES}


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of every entry that has a value oracle, in
    ``queries()`` order."""
    return {name: sql for name, _, sql in _ENTRIES if sql is not None}
