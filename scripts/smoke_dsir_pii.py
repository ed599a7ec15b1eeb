"""Scale smoke for DSIR importance scoring and PII redaction.

Corpus: the same closed-form Zipf-ish N-doc corpus as
smoke_retrieval_graph.py, with two planted structures:

  * every 10th doc is "target domain" and carries 8 extra domain-marker
    tokens (tgtmark0..7) — DSIR must separate the cohorts: the mean
    log-weight of target docs must exceed the raw cohort's, and cohort
    ranking must be near-perfect (fraction of target docs above the raw
    median ~ 1.0);
  * every 3rd doc carries a planted email, every 7th a phone, every 13th an
    IPv4 — redact_pii's audit counts must equal the closed-form plant counts
    exactly, and no placeholder may leak into an unplanted doc.

Everything is a deterministic function of doc_id (no RNG), so re-runs are
identical and partition-layout independent.

Usage: python scripts/smoke_dsir_pii.py [N_DOCS] [CPUS]
Emits one JSON line.  Benchmark discipline: run inside tmux on a quiet host
(background Bash tasks are CPU-throttled on this box).
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from list_extractor_spark.engine.session import get_spark  # noqa: E402
from list_extractor_spark.tda.redact import redact_pii  # noqa: E402
from list_extractor_spark.tda.retrieval import dsir_logweights  # noqa: E402

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
CPUS = sys.argv[2] if len(sys.argv) > 2 else os.environ.get("SPARK_GRAFT_CPUS", "32")

VOCAB = 50_000
DOC_LEN = 80


def build_docs(spark):
    r = spark.range(N_DOCS).select(F.col("id").alias("doc_id"))
    j = F.sequence(F.lit(0), F.lit(DOC_LEN - 1))
    word = (
        F.pmod(
            (F.col("doc_id") + F.col("k")) * F.lit(2654435761),
            F.pmod(F.col("k") * F.lit(40503) + F.col("doc_id"), F.lit(VOCAB)) + 1,
        )
    ).cast("long")
    base = (
        r.select("doc_id", F.explode(j).alias("k"))
        .select("doc_id", F.concat(F.lit("w"), word).alias("w"))
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("w")).alias("body"))
    )
    is_tgt = F.pmod(F.col("doc_id"), F.lit(10)) == 0
    marker = F.concat_ws(
        " ",
        *[F.concat(F.lit(f"tgtmark{i} x"), F.pmod(F.col("doc_id"), F.lit(50)))
          for i in range(4)],
    )
    pii = F.concat(
        F.when(
            F.pmod(F.col("doc_id"), F.lit(3)) == 0,
            F.concat(F.lit(" u"), F.col("doc_id"), F.lit("@crawl.example.org")),
        ).otherwise(F.lit("")),
        F.when(
            F.pmod(F.col("doc_id"), F.lit(7)) == 0,
            F.concat(
                F.lit(" 555-"),
                F.lpad(F.pmod(F.col("doc_id"), F.lit(1000)).cast("string"), 3, "0"),
                F.lit("-1234"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.pmod(F.col("doc_id"), F.lit(13)) == 0,
            F.concat(
                F.lit(" 10.9."),
                F.pmod(F.col("doc_id"), F.lit(200)).cast("string"),
                F.lit(".77"),
            ),
        ).otherwise(F.lit("")),
    )
    return base.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        is_tgt.alias("is_tgt"),
        F.concat(
            F.when(is_tgt, F.concat(marker, F.lit(" "))).otherwise(F.lit("")),
            F.col("body"),
            pii,
        ).alias("text"),
    )


def main():
    # the two narrow Arrow passes fit the 8g default heap at this scale
    # (nothing corpus-sized materializes)
    spark = get_spark(
        "smoke-dsir-pii", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS)
    )
    out = {"n_docs": N_DOCS, "cpus": int(CPUS)}
    docs = build_docs(spark).localCheckpoint()  # exclude synth cost

    t0 = time.time()
    scored = dsir_logweights(docs, F.col("is_tgt"), n_buckets=4096)
    joined = scored.join(docs.select("doc_id", "is_tgt"), "doc_id").localCheckpoint()
    out["dsir_sec"] = round(time.time() - t0, 2)
    out["dsir_rows"] = joined.count()

    stats = joined.groupBy("is_tgt").agg(
        F.avg("dsir_logweight").alias("mean_lw")
    ).collect()
    means = {r["is_tgt"]: r["mean_lw"] for r in stats}
    out["dsir_mean_target"] = round(means[True], 3)
    out["dsir_mean_raw"] = round(means[False], 3)
    raw_median = joined.filter(~F.col("is_tgt")).agg(
        F.expr("percentile_approx(dsir_logweight, 0.5)")
    ).collect()[0][0]
    above = joined.filter(
        F.col("is_tgt") & (F.col("dsir_logweight") > raw_median)
    ).count()
    out["dsir_target_above_raw_median"] = round(above / (N_DOCS // 10), 4)
    assert means[True] > means[False], "DSIR failed to separate the cohorts"

    t0 = time.time()
    red = redact_pii(docs)
    agg = red.agg(
        F.sum("n_email").alias("e"),
        F.sum("n_phone").alias("p"),
        F.sum("n_ipv4").alias("i"),
        F.sum("n_ssn").alias("s"),
        F.sum(F.col("text").contains("<EMAIL>").cast("long")).alias("docs_e"),
    ).collect()[0]
    out["pii_sec"] = round(time.time() - t0, 2)

    def planted(k):
        return (N_DOCS + k - 1) // k

    assert agg["e"] == planted(3) == agg["docs_e"], (agg["e"], planted(3))
    assert agg["p"] == planted(7), (agg["p"], planted(7))
    assert agg["i"] == planted(13), (agg["i"], planted(13))
    assert agg["s"] == 0
    out["pii_emails"] = agg["e"]
    out["pii_phones"] = agg["p"]
    out["pii_ips"] = agg["i"]
    out["pii_docs_per_sec"] = round(N_DOCS / out["pii_sec"], 1)
    out["dsir_docs_per_sec"] = round(N_DOCS / out["dsir_sec"], 1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
