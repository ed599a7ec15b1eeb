"""dedup_ingest: closed loop, one caller.  Each seeded batch of text docs
is judged by ``tda.dedup.dedup_incoming`` against the corpus; the next
batch waits for the verdict because the survivors join the corpus.

Batches plant near-copies of corpus docs (about 20 %), exact copies of
corpus docs (about 5 %) and exact copies of earlier docs of the same batch
(about 5 %), so candidate verification and ``near_dup_resolve`` do real
work.  The cost that grows is the per-batch ``minhash_doc_stats`` pass over
the whole corpus.

Traced ops wrap ``minhash_doc_stats``, ``minhash_incremental_pairs`` and
``near_dup_resolve`` (module attributes, restored afterwards) so each call
is materialized and timed in its own span.
"""

from __future__ import annotations

import contextlib
import random
import shutil
import time

from . import inputs
from .common import WORK, check, group_stage_sums, median, tail

FULL = {"corpus": 5000, "batch": 300, "batches": 40, "warm_ops": 1}
SMOKE = {"corpus": 300, "batch": 60, "batches": 6, "warm_ops": 1}
NEAR, EXACT, WITHIN = 0.20, 0.05, 0.05
DEDUP_ARGS = {"k": 16, "bands": 4, "threshold": 0.5}


def _make(seed: int, size: dict, path) -> None:
    rng = random.Random(seed)
    corpus = [(f"c{i:07d}", inputs.text_doc(rng)) for i in range(size["corpus"])]
    inputs.write_text_docs(path / "corpus.parquet", corpus)
    planted = []
    for b in range(size["batches"]):
        rows = []
        for j in range(size["batch"]):
            doc_id, u = f"b{b:04d}-{j:05d}", rng.random()
            if u < NEAR:
                rows.append((doc_id, inputs.near_copy(rng, rng.choice(corpus)[1])))
            elif u < NEAR + EXACT:
                rows.append((doc_id, rng.choice(corpus)[1]))
                planted.append(doc_id)
            elif u < NEAR + EXACT + WITHIN and rows:
                rows.append((doc_id, rng.choice(rows)[1]))
                planted.append(doc_id)
            else:
                rows.append((doc_id, inputs.text_doc(rng)))
        inputs.write_text_docs(path / f"batch-{b:04d}.parquet", rows)
    (path / "planted_exact.txt").write_text("\n".join(planted))


def make_inputs(ctx) -> None:
    s = ctx.size
    key = f"dedup_s{ctx.seed}_c{s['corpus']}_b{s['batch']}x{s['batches']}"
    ctx.input_path, gen = ctx.inputs(lambda: inputs.cached(key, lambda p: _make(ctx.seed, s, p)))
    ctx.input_generated |= gen


@contextlib.contextmanager
def _traced_layers(ctx, op_box):
    """Swap the three tda.dedup functions for span-recording wrappers that
    materialize each output inside its span."""
    from list_extractor_spark.tda import dedup

    tr, spark = ctx.tracer, ctx.spark
    orig = {n: getattr(dedup, n) for n in ("minhash_doc_stats", "minhash_incremental_pairs", "near_dup_resolve")}

    def stats(documents, **kw):
        rec = op_box["stats"]
        side = ("corpus", "incoming")[len(rec)]
        with tr.span(f"tda.dedup.{side}_stats", spark=spark):
            out = orig["minhash_doc_stats"](documents, **kw).localCheckpoint(eager=True)
        rec.append(out)
        return out

    def pairs(corpus, incoming, **kw):
        with tr.span("tda.dedup.pairs", spark=spark):
            out = orig["minhash_incremental_pairs"](corpus, incoming, **kw).localCheckpoint(eager=True)
        op_box["verified"] = out.count()
        return out

    def resolve(p, *a, **kw):
        with tr.span("tda.dedup.resolve", spark=spark):
            return orig["near_dup_resolve"](p, *a, **kw).localCheckpoint(eager=True)

    dedup.minhash_doc_stats, dedup.minhash_incremental_pairs, dedup.near_dup_resolve = stats, pairs, resolve
    try:
        yield
    finally:
        for n, f in orig.items():
            setattr(dedup, n, f)


def _candidate_pairs(stats_c, stats_i, bands: int) -> int:
    """Distinct (incoming, corpus) and (incoming, incoming) doc pairs that
    share a band bucket: the pairs LSH hands to exact verification."""
    from pyspark.sql import functions as F

    def banded(st):
        return st.select(
            "doc_id",
            F.stack(F.lit(bands), *[x for b in range(bands) for x in (F.lit(b), F.col(f"bh_{b}"))]).alias("band_id", "bh"),
        )

    bi, bc = banded(stats_i).alias("x"), banded(stats_c).alias("y")
    cross = bi.join(bc, ["band_id", "bh"]).select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
    within = (
        bi.join(banded(stats_i).alias("y"), ["band_id", "bh"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
    )
    return cross.unionByName(within).distinct().count()


def run(ctx) -> dict:
    from list_extractor_spark.tda import dedup

    spark, size, tr = ctx.spark, ctx.size, ctx.tracer
    src = ctx.input_path
    planted = set(filter(None, (src / "planted_exact.txt").read_text().split("\n")))
    corpus_dir = WORK / "dedup_corpus"

    def setup():
        shutil.rmtree(corpus_dir, ignore_errors=True)
        corpus_dir.mkdir(parents=True)
        shutil.copyfile(src / "corpus.parquet", corpus_dir / "part-init.parquet")

    ctx.repeated_setup(setup)
    batch_no = iter(range(size["batches"]))

    def op():
        """-> (batch index, latency, docs dropped)"""
        b = next(batch_no)
        batch = src / f"batch-{b:04d}.parquet"
        t = time.perf_counter()
        corpus = spark.read.parquet(str(corpus_dir))
        incoming = spark.read.parquet(str(batch))
        verdicts = {r["doc_id"]: r["keep"] for r in dedup.dedup_incoming(corpus, incoming, **DEDUP_ARGS).collect()}
        dt = time.perf_counter() - t
        rows = inputs.pq.read_table(batch).to_pylist()
        ids = [r["doc_id"] for r in rows]
        check(len(verdicts) == len(ids) and set(verdicts) == set(ids), f"batch {b}: verdicts do not match the batch's docs one to one")
        kept = [(r["doc_id"], r["text"]) for r in rows if verdicts[r["doc_id"]]]
        missed = [d for d in ids if d in planted and verdicts[d]]
        check(not missed, f"batch {b}: planted exact copies kept: {missed[:5]}")
        inputs.write_text_docs(corpus_dir / f"part-{b:04d}.parquet", kept)
        return b, dt, len(ids) - len(kept)

    # warm-up, full size, untimed (survivors join the corpus).  The first
    # batch in a JVM takes ~3x as long as later ones; the next few still get
    # faster by a few % each, alike in every run, so the median of the timed
    # batches is steady although it is not the settled time
    for _ in range(size["warm_ops"]):
        op()
    t0 = ctx.start_timing()
    lat, traced_lat, dropped, layer_ops = [], [], [], []
    # two batches per turn at most, and the input holds a bounded number
    while ctx.another_op(t0, lat) and size["warm_ops"] + len(lat) + len(traced_lat) + 2 <= size["batches"]:
        _, dt, nd = op()
        lat.append(dt)
        dropped.append(nd)
        if tr.enabled:
            box = {"stats": []}
            with _traced_layers(ctx, box):
                with tr.span("dedup_ingest.op", op=len(layer_ops), spark=spark) as root:
                    _, dt, nd = op()
                traced_lat.append(dt)
            dropped.append(nd)
            root["candidates"] = _candidate_pairs(*box["stats"], DEDUP_ARGS["bands"])
            root["verified"] = box["verified"]
            layer_ops.append(root)

    ctx.end_timing()
    n = size["batch"]
    p50 = median(lat)
    tl, pct, nt = tail(lat)
    q = max(1, len(lat) // 4)
    growth = median(lat[-q:]) / median(lat[:q])
    out = {
        "attempted": len(lat) + len(traced_lat),
        "failed": 0,
        "timed_docs": n * (len(lat) + len(traced_lat)),
        "e2e": {"latency_p50_ms": 1000 * p50, "latency_tail_ms": 1000 * tl, "docs_per_s": n / p50},
        "info": {"tail_pct": pct, "tail_n": nt, "latency_growth": round(growth, 3), "dropped_per_batch": median(dropped), "op_s": [round(x, 2) for x in lat]},
    }
    if tr.enabled:
        d = lambda name: median(tr.durations(name))  # noqa: E731
        cand = median([r["candidates"] for r in layer_ops])
        ver = median([r["verified"] for r in layer_ops])
        shuffle = []
        for root in tr.named("dedup_ingest.op"):
            spans = [s for s in tr.spans if s["op"] == root["op"] and s["group"]]
            shuffle.append(sum(group_stage_sums(spark, s["group"])["shuffle_bytes"] for s in spans))
        out["layer"] = {
            "tda.dedup.corpus_stats_s": d("tda.dedup.corpus_stats"),
            "tda.dedup.incoming_stats_s": d("tda.dedup.incoming_stats"),
            "tda.dedup.candidate_pairs": cand,
            "tda.dedup.verified_pairs": ver,
            "tda.dedup.verify_yield": ver / cand if cand else 0.0,
            "tda.dedup.resolve_s": d("tda.dedup.resolve"),
            "tda.dedup.dropped": median(dropped),
            "tda.dedup.shuffle_bytes": median(shuffle),
            "tda.dedup.latency_growth": growth,
            "bench.trace_overhead_s": median(traced_lat) - p50,
        }
    return out
