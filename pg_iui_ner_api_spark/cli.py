"""Production entrypoint: the KG pipeline as a spark-submit job.

The north rule's deployment shape is ``spark-submit --py-files`` on a
multi-executor cluster. This module is that surface — everything the
driver script needs lives inside the package so the submit side is one
line:

    zip -r kgspark.zip pg_iui_ner_api_spark
    spark-submit --py-files kgspark.zip run_pipeline.py \\
        --input /warehouse/docs_parquet --workdir /warehouse/kg_run \\
        --run-id nightly-2026-08-18

(or ``--input-table catalog.db.documents`` to read an Iceberg/catalog
table, or ``--synth N`` to run the deterministic demo corpus). The
repo-root ``run_pipeline.py`` is a two-line shim that calls
:func:`main`; ``python -m pg_iui_ner_api_spark`` works locally too.

No SparkSession is constructed here beyond ``getOrCreate`` — cluster
managers, executor counts, memory, and Iceberg catalog configs belong
to spark-submit's ``--conf`` surface, not to application code. The
session defaults (AQE, skew-join splitting, nested pruning, shuffle
sizing) are applied only when this process has to create the session
itself (local runs); an externally configured session wins.

Reference analogue: /root/reference/src/main.py boots the FastAPI
service; this is the batch replacement the north star describes.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="pg_iui_ner_api_spark",
        description="Batch KG construction: NER extract -> entity link -> "
                    "canonicalize -> triples, resumable per stage.",
    )
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="path to the documents table "
                     "(parquet dir with doc_id, spans)")
    src.add_argument("--input-table", help="catalog table name "
                     "(e.g. an Iceberg table) holding the documents")
    src.add_argument("--synth", type=int, metavar="N",
                     help="synthesize the deterministic N-doc demo corpus")
    p.add_argument("--workdir", required=True,
                   help="checkpoint root: stage outputs + lineage + metrics")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--fingerprint", default="",
                   help="input fingerprint for resume safety "
                        "(defaults to the input path/table name)")
    p.add_argument("--doc-partitions", type=int, default=None,
                   help="explicit doc_id hash-partition count "
                        "(default: spark.default.parallelism)")
    p.add_argument("--aliases", default=None,
                   help="optional parquet path overriding the built-in "
                        "alias dictionary (surface, entity_id, canonical)")
    p.add_argument("--entity-embeddings", default=None,
                   help="optional parquet path overriding the built-in "
                        "entity embedding dim (entity_id, emb)")
    p.add_argument("--audit", action="store_true",
                   help="append a KG quality-audit section to the "
                        "summary: declarative constraint checks on the "
                        "canonicalized edge view (not-null + referential "
                        "closure against the node table) and the induced "
                        "type-level schema with usage counts")
    return p


def _kg_audit(res: dict) -> dict:
    """The post-run KG quality gate: canonical edges must be
    referentially closed against nodes (operators/audit +
    components.canonical_edges), and the induced schema summarizes what
    the run actually built. All aggregates are vocabulary-sized."""
    from .operators.audit import check_constraints
    from .operators.components import canonical_edges
    from .operators.rules import schema_induction

    ce = canonical_edges(res["edges"], res["components"], res["nodes"])
    dq = check_constraints(
        ce,
        [
            {"id": "subj_not_null", "type": "not_null", "column": "subj"},
            {"id": "pred_not_null", "type": "not_null", "column": "pred"},
            {"id": "obj_not_null", "type": "not_null", "column": "obj"},
            {"id": "subj_in_nodes", "type": "ref", "column": "subj",
             "ref_table": "nodes", "ref_column": "entity_id"},
            {"id": "obj_in_nodes", "type": "ref", "column": "obj",
             "ref_table": "nodes", "ref_column": "entity_id"},
        ],
        {"nodes": res["nodes"]},
    )
    return {
        "constraints": [r.asDict() for r in dq.collect()],
        "schema": [r.asDict() for r in schema_induction(res["edges"]).collect()],
    }


def main(argv: list[str] | None = None, spark=None) -> dict:
    """Run the pipeline; returns the run summary, whose ``counts`` maps
    each output to its row count (also printed as one JSON line so
    schedulers can scrape it)."""
    args = build_parser().parse_args(argv)

    if spark is None:
        from .session import get_spark

        spark = get_spark(app_name=f"kg-pipeline-{args.run_id}")

    from . import synth
    from .plans.pipeline import run_kg_pipeline

    if args.synth is not None:
        docs = synth.synth_documents(spark, args.synth)
        fingerprint = args.fingerprint or f"synth:{args.synth}"
    elif args.input_table:
        docs = spark.read.table(args.input_table)
        fingerprint = args.fingerprint or f"table:{args.input_table}"
    else:
        docs = spark.read.parquet(args.input)
        fingerprint = args.fingerprint or f"path:{args.input}"

    alias_df = spark.read.parquet(args.aliases) if args.aliases else None
    emb_df = (spark.read.parquet(args.entity_embeddings)
              if args.entity_embeddings else None)

    res = run_kg_pipeline(
        spark, docs,
        alias_df=alias_df, entity_emb_df=emb_df,
        workdir=args.workdir, run_id=args.run_id,
        input_fingerprint=fingerprint,
        doc_partitions=args.doc_partitions,
    )
    # stage row counts come from the runner's record of the files it
    # wrote or resumed; only the views (mentions, predicates) are counted
    events = res["_runner"].events
    rows = {e["stage"]: e["rows_out"] for e in events}
    counts = {
        name: rows[name] if name in rows else df.count()
        for name, df in res.items()
        if not name.startswith("_")
    }
    summary = {
        "run_id": args.run_id,
        "workdir": args.workdir,
        "fingerprint": fingerprint,
        "counts": counts,
        "stages": list(events),
    }
    if args.audit:
        summary["audit"] = _kg_audit(res)
    print(json.dumps(summary), flush=True)
    return summary


if __name__ == "__main__":
    main(sys.argv[1:])
