"""spark-submit entry point — the analog of the reference CLI
(`/root/reference/json_schema_rs/src/cli/validate.rs:8-30`): validate a
table against a spec, write violations + ledger, exit non-zero when any
row fails (matching the reference's exit-code contract,
cli/mod.rs:132-135).

Usage:

    spark-submit --py-files json_schema_rs_spark.zip -m json_schema_rs_spark.cli \
        validate --spec spec.json --input /data/transcripts \
        --output /out/run1 --run-id nightly --buckets 256

Rerunning with the same ``--run-id`` skips buckets the ledger already
records as done (under a different spec it is refused), and the exit
code covers the whole run.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_session(app: str, master: str | None = None):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.appName(app)
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC"))
    if master:
        b = b.master(master)
    spark = b.getOrCreate()
    _size_local_shuffles(spark)
    return spark


def _size_local_shuffles(spark) -> None:
    """On a local master, write each shuffle as many ways as there are
    cores instead of Spark's default 200: the fused plan's one ``conv_id``
    exchange is skinny, and at 200 each map task opens 200 partition
    files (the default equals ``bypassMergeThreshold``) for a few MB of
    rows. A value set anywhere — SparkConf, ``spark-submit --conf``,
    spark-defaults or the live session — wins, since the session's conf
    holds each of them. Cluster masters keep Spark's default: under
    dynamic allocation their parallelism at start-up can be 2."""
    key = "spark.sql.shuffle.partitions"
    master = spark.sparkContext.master
    if ((master == "local" or master.startswith("local["))
            and spark.conf.get(key, None) is None):
        spark.conf.set(key, str(spark.sparkContext.defaultParallelism))


def cmd_validate(args: argparse.Namespace) -> int:
    from .sources.ledger import run_checkpointed_validation

    spark = build_session("json_schema_rs_spark.validate", args.master)
    with open(args.spec) as f:
        spec = json.load(f)
    source = spark.read.parquet(args.input)
    protocol = None
    tool_pairing = False
    if args.protocol:
        with open(args.protocol) as f:
            p = json.load(f)
        if "allowed_transitions" in p:
            protocol = ([tuple(t) for t in p["allowed_transitions"]],
                        list(p.get("allowed_first", ())))
        tool_pairing = bool(p.get("tool_pairing", False))
    summary = run_checkpointed_validation(
        spark, source, spec, args.output,
        run_id=args.run_id, n_buckets=args.buckets,
        key_cols=tuple(args.keys.split(",")),
        table_checks=args.table_checks or bool(args.protocol),
        ts_col=args.ts_col or None,
        role_protocol=protocol,
        tool_pairing=tool_pairing,
        route_rows=args.route_rows,
    )
    print(json.dumps(summary))
    # exit code reflects the WHOLE run (skipped plus processed buckets),
    # so a resume of an already-failed run still exits 1 — matching the
    # reference's "validation failed with N error(s)" contract
    total_violations = summary["run_totals"]["violation_count"]
    if total_violations > 0:
        print(f"validation failed with {total_violations} error(s)",
              file=sys.stderr)
        return 1
    return 0


def cmd_generate(args: argparse.Namespace) -> int:
    """EP3 analog (reference `jsonschemars generate`, cli/generate.rs):
    the "generated code" of this engine is the compiled check plan — the
    vectorized predicate/message SQL per check plus shared validity
    helper columns. Emits the same plan-manifest JSON the lineage table
    persists, so the artifact on disk equals what a run records."""
    from .plans.compiler import compile_table_spec
    from .plans.spec import parse_spec
    from .sources.ledger import plan_manifest

    with open(args.spec) as f:
        spec = json.load(f)
    # a session is needed either way: schema parsing and Column
    # construction both go through the JVM
    spark = build_session("json_schema_rs_spark.generate", args.master)
    if args.input:
        schema = spark.read.parquet(args.input).schema
    else:
        from pyspark.sql.types import StructType
        schema = StructType.fromDDL(args.schema)
    plan = compile_table_spec(parse_spec(spec), schema)
    out = json.dumps(plan_manifest(plan, spec), indent=2)
    if args.out:
        with open(args.out, "w") as f:
            f.write(out + "\n")
    else:
        print(out)
    return 0


def cmd_infer(args: argparse.Namespace) -> int:
    """Reverse path (reference `ToJsonSchema` / generate_rust round-trip):
    table schema -> constraint spec JSON."""
    from .plans.infer import infer_spec

    spark = build_session("json_schema_rs_spark.infer", args.master)
    spec = infer_spec(spark.read.parquet(args.input))
    out = json.dumps(spec, indent=2)
    if args.out:
        with open(args.out, "w") as f:
            f.write(out + "\n")
    else:
        print(out)
    return 0


def cmd_diff(args: argparse.Namespace) -> int:
    """Spec evolution classifier: does the change from --old to --new
    require revalidating already-validated data? Exit code mirrors the
    ledger impact: 0 = no revalidation needed (identical/widening),
    1 = revalidation required (narrowing/unknown)."""
    from .plans.diff import revalidation_plan, spec_diff

    with open(args.old) as f:
        old = json.load(f)
    with open(args.new) as f:
        new = json.load(f)
    verdict, entries = spec_diff(old, new, extensions=args.extensions)
    out = {
        "verdict": verdict,
        "revalidation": revalidation_plan(verdict),
        "changes": [{"path": e.path, "keyword": e.keyword, "old": e.old,
                     "new": e.new, "direction": e.direction}
                    for e in entries],
    }
    print(json.dumps(out, indent=2))
    return 0 if verdict in ("identical", "widening") else 1


def cmd_revalidate(args: argparse.Namespace) -> int:
    """Spec-change revalidation over a previous --route-rows run: scans
    only the routed partitions the spec_diff verdict cannot prove
    unchanged. Exit code mirrors cmd_validate: 1 when the NEW spec
    leaves any invalid rows, 0 on a fully-clean corpus."""
    from .sources.ledger import revalidate_incremental

    spark = build_session("json_schema_rs_spark.revalidate", args.master)
    with open(args.old_spec) as f:
        old_spec = json.load(f)
    with open(args.new_spec) as f:
        new_spec = json.load(f)
    summary = revalidate_incremental(
        spark, args.output, args.run_id, old_spec, new_spec,
        key_cols=tuple(args.keys.split(",")),
        extensions=args.extensions)
    print(json.dumps(summary))
    invalid = summary["rows_total"] - summary["valid_rows"]
    if invalid > 0:
        print(f"validation failed with {invalid} invalid row(s) under "
              f"the new spec", file=sys.stderr)
        return 1
    return 0


def cmd_expect(args: argparse.Namespace) -> int:
    """Table-level expectations gate: evaluate aggregate constraints
    against a table; print the verdict rows; exit 1 if any fail."""
    from .operators.expectations import expectations_pass, table_expectations

    spark = build_session("json_schema_rs_spark.expect", args.master)
    with open(args.spec) as f:
        spec = json.load(f)
    rep = table_expectations(
        spark.read.parquet(args.input), spec,
        exact_distinct=not args.approx_distinct)
    rows = [r.asDict() for r in rep.collect()]
    print(json.dumps(rows))
    if not expectations_pass(rep):
        failed = [r for r in rows if not r["ok"]]
        for r in failed:
            print(r["message"], file=sys.stderr)
        print(f"expectations failed: {len(failed)} of {len(rows)}",
              file=sys.stderr)
        return 1
    return 0


def cmd_prep(args: argparse.Namespace) -> int:
    """Corpus preparation end-to-end: normalize -> quality gate ->
    exact dedup -> benchmark decontamination, optionally sharded for
    training output (deterministic hash shards, reproducible in-shard
    order), written as parquet with a JSON summary on stdout."""
    from .operators.prep import prep_corpus
    from .operators.sampling import shard_corpus

    spark = build_session("json_schema_rs_spark.prep", args.master)
    docs = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.benchmark)
    out = prep_corpus(
        docs, bench, text_col=args.text_col, id_col=args.id_col,
        min_quality=args.min_quality, n=args.ngram,
        nfc=args.nfc, lowercase=args.lowercase)
    writer = out
    if args.shards:
        sharded = shard_corpus(out, args.id_col, args.shards)
        # one file per shard, rows in (shard, pos) order — the exchange
        # the window already did IS the write layout
        writer = (sharded.repartition(args.shards, "shard")
                         .sortWithinPartitions("shard", "pos"))
        writer.write.mode("overwrite").partitionBy("shard") \
            .parquet(args.output)
    else:
        writer.write.mode("overwrite").parquet(args.output)
    result = spark.read.parquet(args.output)
    summary = {
        "input_rows": docs.count(),          # parquet metadata count
        "benchmark_rows": bench.count(),
        "survivors": result.count(),
        "shards": args.shards or 0,
        "min_quality": args.min_quality,
        "output": args.output,
    }
    print(json.dumps(summary))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="json_schema_rs_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    v = sub.add_parser("validate", help="validate a parquet/Iceberg table")
    v.add_argument("--spec", required=True, help="constraint spec JSON file")
    v.add_argument("--input", required=True, help="input table path")
    v.add_argument("--output", required=True, help="output dir (violations + ledger)")
    v.add_argument("--run-id", default=None)
    v.add_argument("--buckets", type=int, default=64)
    v.add_argument("--keys", default="conv_id,turn_idx")
    v.add_argument("--route-rows", action="store_true",
                   help="also write every row to {output}/routed/"
                        "bucket=*/valid=true|false (clean corpus + "
                        "quarantine) in the same per-chunk pass")
    v.add_argument("--table-checks", action="store_true",
                   help="also run cross-row checks (duplicate key, "
                        "gap-free, monotonic ts) per bucket chunk")
    v.add_argument("--ts-col", default="ts",
                   help="timestamp column for the monotonic check "
                        "('' disables)")
    v.add_argument("--protocol", default=None,
                   help="JSON file {allowed_transitions, allowed_first, "
                        "tool_pairing} enabling the conversation-protocol "
                        "checks (implies --table-checks)")
    v.add_argument("--master", default=None, help="override spark master (tests)")
    v.set_defaults(fn=cmd_validate)

    g = sub.add_parser("generate",
                       help="compile a spec against a table schema and emit "
                            "the check-plan manifest JSON (the engine's "
                            "generated-code artifact)")
    g.add_argument("--spec", required=True, help="constraint spec JSON file")
    grp = g.add_mutually_exclusive_group(required=True)
    grp.add_argument("--input", help="parquet path whose schema to compile against")
    grp.add_argument("--schema", help="DDL schema string, e.g. "
                                      "'conv_id string, turn_idx int'")
    g.add_argument("--out", default=None, help="write manifest here instead of stdout")
    g.add_argument("--master", default=None)
    g.set_defaults(fn=cmd_generate)

    i = sub.add_parser("infer",
                       help="infer a constraint spec from a parquet table's "
                            "schema (reverse path)")
    i.add_argument("--input", required=True, help="parquet path")
    i.add_argument("--out", default=None)
    i.add_argument("--master", default=None)
    i.set_defaults(fn=cmd_infer)

    d = sub.add_parser("diff",
                       help="classify a spec change as identical/widening/"
                            "narrowing/unknown and report the ledger "
                            "revalidation consequence")
    d.add_argument("--old", required=True, help="old spec JSON file")
    d.add_argument("--new", required=True, help="new spec JSON file")
    d.add_argument("--extensions", action="store_true",
                   help="parse draft-2020-12 extension keywords")
    d.set_defaults(fn=cmd_diff)

    r = sub.add_parser("revalidate",
                       help="incremental revalidation of a previous "
                            "--route-rows run after a spec change (scans "
                            "only the partitions the diff verdict cannot "
                            "prove unchanged)")
    r.add_argument("--output", required=True,
                   help="output dir of the previous validate run")
    r.add_argument("--run-id", required=True,
                   help="run_id of the previous validate run")
    r.add_argument("--old-spec", required=True)
    r.add_argument("--new-spec", required=True)
    r.add_argument("--keys", default="conv_id,turn_idx")
    r.add_argument("--extensions", action="store_true")
    r.add_argument("--master", default=None)
    r.set_defaults(fn=cmd_revalidate)

    e = sub.add_parser("expect",
                       help="table-level expectations gate (aggregate "
                            "constraints; exit 1 if any fail)")
    e.add_argument("--spec", required=True,
                   help="expectations spec JSON file")
    e.add_argument("--input", required=True, help="parquet table path")
    e.add_argument("--approx-distinct", action="store_true",
                   help="HyperLogLog distinct counts (the 100 TB path) "
                        "instead of exact")
    e.add_argument("--master", default=None)
    e.set_defaults(fn=cmd_expect)

    c = sub.add_parser("prep",
                       help="corpus preparation pipeline: normalize -> "
                            "quality gate -> exact dedup -> benchmark "
                            "decontamination, optional sharded output")
    c.add_argument("--input", required=True, help="corpus parquet path")
    c.add_argument("--benchmark", required=True,
                   help="benchmark/eval parquet path to decontaminate "
                        "against")
    c.add_argument("--output", required=True, help="survivors parquet dir")
    c.add_argument("--text-col", default="text")
    c.add_argument("--id-col", default="doc_id")
    c.add_argument("--min-quality", type=float, default=0.5)
    c.add_argument("--ngram", type=int, default=3,
                   help="decontamination shingle size")
    c.add_argument("--nfc", action="store_true",
                   help="Unicode NFC normalization (adds the one Arrow "
                        "pandas-UDF step)")
    c.add_argument("--lowercase", action="store_true")
    c.add_argument("--shards", type=int, default=0,
                   help="write N deterministic hash shards "
                        "(shard=*/ dirs, rows in reproducible order)")
    c.add_argument("--master", default=None)
    c.set_defaults(fn=cmd_prep)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
