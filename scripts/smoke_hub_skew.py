"""Adversarial hub-skew smoke for the DEMOTED canonical-apply join.

Round-5 scale question: once the canonical map outgrows the broadcast budget
(engine/stats.fits_broadcast demotes the apply to a shuffle join), a hub
canonical target — every triple object pointing at one mega-entity — becomes
a hot join key.  This smoke builds that adversarial shape on purpose:

  1. run the pipeline to linked triples over a generated corpus,
  2. rewrite ~30% of all IRI objects to ONE hub entity,
  3. apply a file-backed canonical map with the broadcast budget disabled
     (stand-in for a dump-scale map) so the join is a real shuffle join,
  4. read per-task shuffle-read record counts of the apply stage from the
     Spark REST API and gate max/median <= 4.

AQE's skew-join split is the designed mitigation (engine/session.py enables
it); the skew thresholds are lowered here because the smoke's absolute
partition sizes are far below the production 256 MB default — the MECHANISM
under test (skewed-partition split + advisory re-coalesce) is the same one
that fires at real sizes.  Records, not durations, are the gate: shuffle
distribution is deterministic while this host's task durations are not
(BENCH/BASELINE.md documents multi-x CPU noise); durations print alongside
for context.

Usage: python scripts/smoke_hub_skew.py [n_docs]   (default 400000; run in
tmux like every benchmark on this host)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from list_extractor_spark.engine.canonicalize import apply_canonical_df  # noqa: E402
from list_extractor_spark.engine.pipeline import Pipeline, snapshots_to_dfs  # noqa: E402
from list_extractor_spark.engine.schemas import DOCUMENTS_SCHEMA  # noqa: E402
from list_extractor_spark.engine.session import get_spark  # noqa: E402
from list_extractor_spark.fixtures import make_snapshots  # noqa: E402
from list_extractor_spark.fixtures.distributed import generate_documents  # noqa: E402

HUB = "http://dbpedia.org/resource/Mega_Hub"
CANON = "http://dbpedia.org/resource/Canonical_Hub"


def _api(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}") as r:
        return json.loads(r.read().decode())


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark = get_spark(
        "hub-skew-smoke",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus * 4,
        extra_conf={
            "spark.ui.enabled": "true",
            # stand-in for a dump-scale canonical map: broadcast disabled so
            # the apply join takes the demoted shuffle path it would at 10^8
            # rows (fits_broadcast returns False at threshold<=0)
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            # scale AQE's skew thresholds down to this smoke's absolute sizes
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
        },
    )

    # linked triples, staged file-backed (the production shape for the apply)
    corpus_dir = os.path.join(tempfile.gettempdir(), f"kg_bench_corpus_{n_docs}")
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        generate_documents(spark, n_docs, partitions=cpus * 4).write.mode(
            "overwrite"
        ).parquet(corpus_dir)
    docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(corpus_dir)
    mention_index, sameas, redirects = snapshots_to_dfs(spark, make_snapshots())
    linked = Pipeline(spark).run(
        docs, mention_index, sameas, redirects, canonicalize=False
    )
    skewed_dir = os.path.join(tempfile.gettempdir(), f"kg_hub_skew_{n_docs}")
    if not os.path.exists(os.path.join(skewed_dir, "_SUCCESS")):
        # ~30% of IRI objects rewritten to ONE hub entity (deterministic)
        linked.withColumn(
            "obj",
            F.when(
                F.col("obj_dt").isNull()
                & (F.pmod(F.xxhash64("subj", "pred", "obj"), F.lit(10)) < 3),
                F.lit(HUB),
            ).otherwise(F.col("obj")),
        ).write.mode("overwrite").parquet(skewed_dir)
    triples = spark.read.parquet(skewed_dir)
    n_hub = triples.filter(F.col("obj") == HUB).count()

    # file-backed canonical map: the hub row + unique-key noise
    cmap_dir = os.path.join(tempfile.gettempdir(), f"kg_hub_cmap_{n_docs}")
    if not os.path.exists(os.path.join(cmap_dir, "_SUCCESS")):
        noise = spark.range(200_000).select(
            F.concat(F.lit("http://dbpedia.org/resource/Noise_"), "id").alias("uri"),
            F.concat(F.lit("http://dbpedia.org/resource/NoiseC_"), "id").alias(
                "canonical"
            ),
        )
        noise.unionByName(
            spark.createDataFrame([(HUB, CANON)], "uri string, canonical string")
        ).write.mode("overwrite").parquet(cmap_dir)
    cmap = spark.read.parquet(cmap_dir)

    t0 = time.time()
    out = apply_canonical_df(triples, cmap)  # over budget -> demoted
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, "apply was not demoted"
    n_rewritten = out.filter(F.col("obj") == CANON).count()
    wall = round(time.time() - t0, 2)
    assert n_rewritten == n_hub, (n_rewritten, n_hub)

    # per-task balance of the apply job's shuffle-read stages
    stages = [s for s in _api(spark, "/stages?status=COMPLETE")
              if s.get("shuffleReadRecords", 0) > 0]
    # the apply join stage = the completed stage reading the most shuffle rows
    stages.sort(key=lambda s: -s["shuffleReadRecords"])
    report = []
    for s in stages[:3]:
        tasks = _api(
            spark,
            f"/stages/{s['stageId']}/{s['attemptId']}/taskList?length=5000",
        )
        recs = sorted(
            t.get("taskMetrics", {}).get("shuffleReadMetrics", {}).get(
                "recordsRead", 0
            )
            for t in tasks
        )
        durs = sorted(t.get("duration", 0) for t in tasks)
        if not recs or recs[-1] == 0:
            continue
        med = recs[len(recs) // 2] or 1
        report.append(
            {
                "stageId": s["stageId"],
                "n_tasks": len(recs),
                "records_median": med,
                "records_max": recs[-1],
                "records_ratio": round(recs[-1] / med, 2),
                "duration_median_ms": durs[len(durs) // 2],
                "duration_max_ms": durs[-1],
            }
        )
    worst = max((r["records_ratio"] for r in report), default=0.0)
    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "n_triples": triples.count(),
                "n_hub_rows": n_hub,
                "apply_wall_sec": wall,
                "stages": report,
                "worst_records_ratio": worst,
                "pass": bool(worst and worst <= 4.0),
            },
            indent=1,
        )
    )
    if not (worst and worst <= 4.0):
        sys.exit(1)


if __name__ == "__main__":
    main()
