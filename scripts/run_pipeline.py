"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (north_rule: spark-submit --py-files on a multi-executor cluster):

    zip -r lxs.zip list_extractor_spark
    spark-submit --py-files lxs.zip scripts/run_pipeline.py \
        --input  /data/documents_parquet \
        --snapshots /data/snapshots \
        --output /data/graph \
        --run-dir /data/runs/run1

Local smoke (no cluster):

    python scripts/run_pipeline.py --demo --output /tmp/graph
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# local mode spawns python workers with PYTHONPATH from the env, not sys.path:
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import SparkSession  # noqa: E402

from list_extractor_spark.engine.pipeline import Pipeline, snapshots_to_dfs  # noqa: E402
from list_extractor_spark.engine.schemas import (  # noqa: E402
    DOCUMENTS_SCHEMA,
    MENTION_INDEX_SCHEMA,
    REDIRECTS_SCHEMA,
    SAMEAS_SCHEMA,
)
from list_extractor_spark.engine.sinks import write_graph, write_turtle  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet dir of span documents (input_hint shape)")
    ap.add_argument("--snapshots", help="dir with mention_index/sameas/redirects parquet")
    ap.add_argument("--output", required=True, help="output graph parquet dir")
    ap.add_argument("--run-dir", default=None, help="checkpoint dir (enables resume)")
    ap.add_argument("--no-canonicalize", action="store_true")
    ap.add_argument("--turtle", default=None, help="also write a .ttl parity file")
    ap.add_argument("--demo", action="store_true", help="use the synthetic fixture corpus")
    ap.add_argument(
        "--versioned", choices=["append", "overwrite"], default=None,
        help="commit to the snapshot-log table at --output instead of a "
             "plain overwrite (engine/snapshots.py: atomic commits, time "
             "travel, manifest pruning)",
    )
    ap.add_argument(
        "--compact-target", type=int, default=None, metavar="ROWS",
        help="with --versioned: after the commit, bin-pack data files "
             "smaller than ROWS rows into ~ROWS-row files as a follow-up "
             "compact snapshot (engine/snapshots.compact_table)",
    )
    args = ap.parse_args()

    spark = SparkSession.builder.appName("list_extractor_spark").getOrCreate()

    if args.demo or not args.input:
        from list_extractor_spark.fixtures import corpus_to_rows, make_corpus, make_snapshots

        documents = spark.createDataFrame(
            corpus_to_rows(make_corpus(2000)), schema=DOCUMENTS_SCHEMA
        )
        mention_index, sameas, redirects = snapshots_to_dfs(spark, make_snapshots())
    else:
        documents = spark.read.schema(DOCUMENTS_SCHEMA).parquet(args.input)
        mention_index = spark.read.schema(MENTION_INDEX_SCHEMA).parquet(
            os.path.join(args.snapshots, "mention_index")
        )
        sameas = spark.read.schema(SAMEAS_SCHEMA).parquet(
            os.path.join(args.snapshots, "sameas")
        )
        redirects = spark.read.schema(REDIRECTS_SCHEMA).parquet(
            os.path.join(args.snapshots, "redirects")
        )

    pipe = Pipeline(spark, run_dir=args.run_dir)
    t0 = time.time()
    triples = pipe.run(
        documents, mention_index, sameas, redirects,
        canonicalize=not args.no_canonicalize,
    )
    extra = {}
    if args.versioned:
        from list_extractor_spark.engine.snapshots import (
            read_graph_at,
            write_graph_snapshot,
        )

        snap = write_graph_snapshot(triples, args.output, mode=args.versioned)
        extra["snapshot_id"] = snap
        if args.compact_target:
            from list_extractor_spark.engine.snapshots import compact_table

            extra["compact_snapshot_id"] = compact_table(
                spark, args.output, target_file_rows=args.compact_target
            )
        written = read_graph_at(spark, args.output)
        n = written.count()
    else:
        write_graph(triples, args.output)
        written = spark.read.parquet(args.output)
        n = written.count()
    if args.turtle:
        write_turtle(written, args.turtle)
    print(json.dumps({
        "triples": n,
        "sec": round(time.time() - t0, 2),
        "lineage": pipe.lineage,
        **extra,
    }))


if __name__ == "__main__":
    main()
