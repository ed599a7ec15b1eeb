"""r7 stage breakdown of the bench kg_pipeline (tmux only): extract-only vs
+link vs +canonical vs full dedup+count, on the staged bench corpus."""
import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from list_extractor_spark.engine.bloom import build_bloom  # noqa: E402
from list_extractor_spark.engine.canonicalize import (  # noqa: E402
    apply_canonical_df,
    canonical_map_df,
    identity_edges,
)
from list_extractor_spark.engine.extract import extract_candidates  # noqa: E402
from list_extractor_spark.engine.linking import resolve_links, resolve_redirects  # noqa: E402
from list_extractor_spark.engine.pipeline import Pipeline, snapshots_to_dfs  # noqa: E402
from list_extractor_spark.engine.schemas import DOCUMENTS_SCHEMA  # noqa: E402
from list_extractor_spark.engine.session import get_spark  # noqa: E402
from list_extractor_spark.fixtures import make_snapshots  # noqa: E402

spark = get_spark("profile_kg_r07", master="local[32]", shuffle_partitions=32)
corpus_dir = "/tmp/kg_bench_corpus_50000"
if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
    from list_extractor_spark.fixtures.distributed import generate_documents
    generate_documents(spark, 50000, partitions=128).write.mode("overwrite").parquet(corpus_dir)
df = spark.read.schema(DOCUMENTS_SCHEMA).parquet(corpus_dir)
mention_index, sameas, redirects = snapshots_to_dfs(spark, make_snapshots())
df.count()  # warm


def t(label, fn, out, reps=3):
    best = None
    for _ in range(reps):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    out[label] = round(best, 3)


def noop(d):
    d.write.format("noop").mode("overwrite").save()


out = {}
t("bloom_build", lambda: build_bloom(mention_index.select("lang", "surface")), out)
bloom = build_bloom(mention_index.select("lang", "surface"))
docs_r = resolve_redirects(df, redirects)
cand = extract_candidates(docs_r, linkable_keys=bloom)
t("scan_only", lambda: noop(df), out)
t("extract_noop", lambda: noop(cand), out)
linked = resolve_links(cand, mention_index, sameas)
t("extract_link_noop", lambda: noop(linked), out)
cmap = canonical_map_df(identity_edges(redirects, sameas))
t("canonical_map", lambda: noop(cmap), out)
canon = apply_canonical_df(linked, cmap)
triples = canon.select("subj", "pred", "obj", "obj_dt").dropDuplicates(
    ["subj", "pred", "obj", "obj_dt"]
)
t("full_dedup_count", lambda: triples.count(), out)
t("pipeline_run_count", lambda: Pipeline(spark).run(
    df, mention_index, sameas, redirects, canonicalize=True).count(), out)
print(json.dumps(out))
