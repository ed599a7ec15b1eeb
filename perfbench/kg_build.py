"""kg_build: closed loop, one caller, full builds back to back.

One op is what ``scripts/run_pipeline.py --versioned overwrite`` does:
``Pipeline(spark).run(docs, mention_index, sameas, redirects,
canonicalize=True)`` committed by ``write_graph_snapshot(mode="overwrite")``
over a hub-skewed span corpus staged as parquet.  The extract kernel and
the snapshot layer's one large write are the largest layers.

Traced ops call the same public layer functions the pipeline composes, each
output materialized with ``localCheckpoint`` inside its span, so every layer
gets its own wall time; untraced ops alternate with them to measure the
tracing overhead.
"""

from __future__ import annotations

import random
import time

from . import inputs
from .common import WORK, check, group_stage_sums, median, tail

COLS = ["subj", "pred", "obj", "obj_dt"]
FULL = {"docs": 3000, "files": 12, "oracle_docs": 40}
SMOKE = {"docs": 300, "files": 4, "oracle_docs": 40}


def make_inputs(ctx) -> None:
    s = ctx.size
    path, gen = ctx.inputs(lambda: inputs.span_corpus(ctx.seed, s["docs"], s["files"]))
    ctx.corpus_path = path
    ctx.input_generated |= gen


def _checksum(spark, table, snapshot_ids):
    """snapshot id -> (rows, order-insensitive checksum), one Spark job."""
    from pyspark.sql import functions as F

    from list_extractor_spark.engine.snapshots import read_graph_at

    frames = [
        read_graph_at(spark, table, snapshot_id=sid).select(
            F.lit(sid).alias("sid"),
            F.xxhash64(*COLS).cast("decimal(38,0)").alias("h"),
        )
        for sid in snapshot_ids
    ]
    df = frames[0]
    for f in frames[1:]:
        df = df.unionByName(f)
    rows = df.groupBy("sid").agg(F.count("*").alias("n"), F.sum("h").alias("h")).collect()
    return {r["sid"]: (r["n"], int(r["h"])) for r in rows}


def _traced_op(ctx, op, docs, mi, sa, rd, table):
    """The pipeline's layer chain, one materialized span per layer call."""
    from pyspark.sql import functions as F

    from list_extractor_spark.engine.bloom import build_bloom
    from list_extractor_spark.engine.canonicalize import (
        apply_canonical_df,
        canonical_map_df,
        identity_edges,
    )
    from list_extractor_spark.engine.extract import extract_candidates_arrow
    from list_extractor_spark.engine.linking import resolve_links, resolve_redirects
    from list_extractor_spark.engine.snapshots import write_graph_snapshot

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("kg_build.op", op=op) as root:
        with tr.span("engine.bloom.build", spark=spark):
            keys = build_bloom(mi.select("lang", "surface"))
        with tr.span("engine.linking.redirects", spark=spark):
            rdocs = resolve_redirects(docs, rd).localCheckpoint(eager=True)
        with tr.span("engine.extract", spark=spark):
            cands = extract_candidates_arrow(rdocs, linkable_keys=keys).localCheckpoint(eager=True)
        with tr.span("engine.linking.links", spark=spark):
            linked = resolve_links(cands, mi, sa).localCheckpoint(eager=True)
        with tr.span("engine.canonicalize.map", spark=spark):
            cmap = canonical_map_df(identity_edges(rd, sa)).localCheckpoint(eager=True)
        with tr.span("engine.canonicalize.apply", spark=spark):
            canon = apply_canonical_df(linked, cmap).localCheckpoint(eager=True)
        with tr.span("engine.pipeline.dedup", spark=spark):
            triples = canon.select(*COLS).dropDuplicates(COLS).localCheckpoint(eager=True)
        with tr.span("engine.snapshots.commit", spark=spark):
            sid = write_graph_snapshot(triples, table, mode="overwrite")
    # counts, outside every span
    root["docs"] = ctx.size["docs"]
    root["candidates"] = cands.count()
    keyed = cands.filter(F.col("link_surface").isNotNull())
    idx = mi.filter(F.col("rank") == 1).select(
        F.col("lang").alias("link_lang"), F.col("surface").alias("link_surface")
    )
    root["link_keyed"] = keyed.count()
    root["link_hits"] = keyed.join(idx, ["link_lang", "link_surface"], "left_semi").count()
    root["map_rows"] = cmap.count()
    root["dedup_rows_in"] = canon.count()
    root["dedup_rows_out"] = triples.count()
    return sid


def run(ctx) -> dict:
    from list_extractor_spark.engine.pipeline import Pipeline, snapshots_to_dfs
    from list_extractor_spark.engine.schemas import DOCUMENTS_SCHEMA
    from list_extractor_spark.engine.snapshots import read_graph_at, snapshot_history, write_graph_snapshot
    from list_extractor_spark.fixtures.corpus import make_snapshots
    from list_extractor_spark.fixtures.oracle import oracle_triples

    spark, size = ctx.spark, ctx.size
    table = str(WORK / "kg_table")
    snaps = make_snapshots(ctx.seed)

    def setup():
        mi, sa, rd = snapshots_to_dfs(spark, snaps)
        docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(str(ctx.corpus_path))
        return mi, sa, rd, docs

    mi, sa, rd, docs = ctx.repeated_setup(setup)

    def op(docs=docs, table=table):
        triples = Pipeline(spark).run(docs, mi, sa, rd, canonicalize=True)
        return write_graph_snapshot(triples, table, mode="overwrite")

    # warm-up, untimed, two ops: the oracle slice (its snapshot is checked
    # after the timed section), which takes the 2-3x first-op cost of a
    # fresh JVM, then one full-size op into a table of its own.  With only
    # small warm-up ops the first timed op still ran 10-25 % slower than
    # the next ones
    sl = inputs.sample_span_docs(ctx.corpus_path, size["oracle_docs"], random.Random(ctx.seed))
    oracle_table = str(WORK / "kg_oracle")
    oracle_sid = op(spark.createDataFrame(sl, schema=DOCUMENTS_SCHEMA), oracle_table)
    op(docs, str(WORK / "kg_warm"))
    sids = []
    t0 = ctx.start_timing()
    lat, traced_lat = [], []
    i = 0
    while ctx.another_op(t0, lat):
        t = time.perf_counter()
        sids.append(op())
        lat.append(time.perf_counter() - t)
        if ctx.tracer.enabled:
            sids.append(_traced_op(ctx, i, docs, mi, sa, rd, table))
            traced_lat.append(ctx.tracer.durations("kg_build.op")[-1])
        i += 1
    ctx.end_timing()
    timed_ops = len(lat) + len(traced_lat)

    # ---- correctness: every timed op wrote the same triple set
    sums = _checksum(spark, table, sids)
    check(set(sums) == set(sids), f"snapshots missing from read-back: {sorted(set(sids) - set(sums))}")
    distinct = set(sums.values())
    check(len(distinct) == 1, f"ops disagree on (rows, checksum): {sorted(distinct)}")
    n_triples = next(iter(distinct))[0]
    hist = {m["snapshot_id"]: m for m in snapshot_history(table)}
    check(
        all(hist[s]["total_rows"] == n_triples for s in sids),
        "manifest row counts differ from the read-back snapshot",
    )
    ctx.mark("checksum")
    # ---- correctness: the seeded slice's snapshot equals the pure-Python
    # oracle
    got = {tuple(r) for r in read_graph_at(spark, oracle_table, snapshot_id=oracle_sid).select(*COLS).collect()}
    want = oracle_triples(sl, snaps, canonicalize=True)
    check(got == want, f"oracle slice differs: {len(got ^ want)} triples")

    docs_n = size["docs"]
    p50 = median(lat)
    tl, pct, n = tail(lat)
    out = {
        "attempted": timed_ops,
        "failed": 0,
        "timed_docs": docs_n * timed_ops,
        "e2e": {
            "latency_p50_ms": 1000 * p50,
            "latency_tail_ms": 1000 * tl,
            "docs_per_s": docs_n / p50,
        },
        "info": {
            "triples": n_triples,
            "triples_per_s": round(n_triples / p50, 1),
            "tail_pct": pct,
            "tail_n": n,
            "op_s": [round(x, 2) for x in lat],
        },
    }
    if ctx.tracer.enabled:
        out["layer"], out["info"]["span_coverage"] = _layer_metrics(ctx, traced_lat, lat, table)
    return out


def _layer_metrics(ctx, traced_lat, lat, table):
    import os
    from pathlib import Path

    tr = ctx.tracer
    d = lambda name: median(tr.durations(name))  # noqa: E731
    roots = tr.named("kg_build.op")
    a = lambda key: median([r["attrs"][key] for r in roots])  # noqa: E731
    extract_s = d("engine.extract")
    keyed, hits = a("link_keyed"), a("link_hits")
    shuffle = [group_stage_sums(ctx.spark, s["group"])["shuffle_bytes"] for s in tr.named("engine.pipeline.dedup")]
    commits = tr.named("engine.snapshots.commit")
    from list_extractor_spark.engine.snapshots import snapshot_history

    last = snapshot_history(table)[-1]
    manifests = sorted(Path(table).rglob("*.json"), key=os.path.getmtime)
    # children of each traced op cover its wall time up to the root's self time
    selfs = tr.self_times()
    root_total = sum(tr.durations("kg_build.op"))
    coverage = 1.0 - selfs.get("kg_build.op", 0.0) / root_total
    layer = {
        "engine.extract.busy_s": extract_s,
        "engine.extract.docs": a("docs"),
        "engine.extract.candidates": a("candidates"),
        "engine.extract.docs_per_busy_s": a("docs") / extract_s,
        "engine.linking.redirects_s": d("engine.linking.redirects"),
        "engine.linking.links_s": d("engine.linking.links"),
        "engine.linking.link_keyed": keyed,
        "engine.linking.link_hits": hits,
        "engine.linking.link_hit_ratio": hits / keyed if keyed else 0.0,
        "engine.linking.fallback_mints": keyed - hits,
        "engine.bloom.build_s": d("engine.bloom.build"),
        "engine.canonicalize.map_s": d("engine.canonicalize.map"),
        "engine.canonicalize.apply_s": d("engine.canonicalize.apply"),
        "engine.canonicalize.map_rows": a("map_rows"),
        "engine.pipeline.dedup_s": d("engine.pipeline.dedup"),
        "engine.pipeline.dedup_rows_in": a("dedup_rows_in"),
        "engine.pipeline.dedup_rows_out": a("dedup_rows_out"),
        "engine.pipeline.dedup_shuffle_bytes": median(shuffle),
        "engine.snapshots.commit_s": median([c["end"] - c["start"] for c in commits]),
        "engine.snapshots.files_written": last["n_files"],
        "engine.snapshots.manifest_bytes": os.path.getsize(manifests[-1]) if manifests else 0,
        "engine.snapshots.files_total": last["n_files"],
        "bench.trace_overhead_s": median(traced_lat) - median(lat),
        "bench.span_coverage": coverage,
    }
    return layer, round(coverage, 4)
