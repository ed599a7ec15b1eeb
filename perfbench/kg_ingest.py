"""kg_ingest: open loop at a fixed arrival rate; one generator thread, one
consumer thread, one streaming query.

Seeded span docs arrive as one small parquet file per tick into the
directory ``streaming.stream_extract.stream_triples_versioned`` watches
(default trigger: a micro-batch starts as soon as files are there).  Every
micro-batch is appended as one snapshot of the versioned graph table, which
starts from a pre-built history of HISTORY snapshots.  The consumer learns
of each finished batch from the query's progress and reads that snapshot
with ``read_graph_at(pred_buckets=...)``.

Freshness of a file runs from its *due* time (not its write time, so a late
generator is charged to the system) until the consumer's read of a snapshot
holding it returns; file -> batch comes from the query checkpoint's source
log, batch -> snapshot from the in-manifest markers.

The history does not depend on the seed: it is built once per checkout and
copied fresh into place at the start of every run, so every seed starts
from the same table state.  Manifests store absolute paths, so the history
is always built and used at the same path.

Traced runs wrap ``engine.snapshots.write_graph_snapshot`` and
``marker_committed`` (the names ``stream_triples_versioned`` binds when it
is called) with span-recording versions that are active on odd batch ids
only, so traced and untraced batches of the same run give the tracing
overhead.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import time
from urllib.parse import unquote, urlparse

from . import inputs
from .common import CACHE, WORK, check, median, tail

# one micro-batch is busy 1.1-1.6 s, mostly fixed Spark work, on a 4-core VM,
# so a file every 3 s keeps the query about half busy and the backlog empty
FULL = {"history": 30, "docs_per_file": 25, "interval_s": 3.0, "warm_files": 2}
SMOKE = {"history": 3, "docs_per_file": 10, "interval_s": 0.5, "warm_files": 2}
HISTORY_SEED = 0
HISTORY_BASE = 1_000_000  # doc indices of the history; the stream starts at 2_000_000
STREAM_BASE = 2_000_000
READ_BUCKETS = [7]
DRAIN_S = 60.0

TABLE = WORK / "kg_ingest" / "table"


def _n_files(ctx) -> int:
    s = ctx.size
    return s["warm_files"] + int(ctx.seconds / s["interval_s"]) + 2


def _stream_files(ctx, path) -> None:
    d = ctx.size["docs_per_file"]
    for f in range(_n_files(ctx)):
        idx = range(STREAM_BASE + f * d, STREAM_BASE + (f + 1) * d)
        inputs.write_span_docs(path / f"part-{f:05d}.parquet", inputs.span_docs(idx, ctx.seed))


def _snapshot_frames(spark):
    from list_extractor_spark.engine.pipeline import snapshots_to_dfs
    from list_extractor_spark.fixtures.corpus import make_snapshots

    return snapshots_to_dfs(spark, make_snapshots(HISTORY_SEED))


def _build_history(ctx, path) -> None:
    """HISTORY append snapshots of docs_per_file docs each, committed with
    the same extract + link chain the stream runs."""
    from list_extractor_spark.engine.bloom import build_bloom
    from list_extractor_spark.engine.extract import extract_candidates
    from list_extractor_spark.engine.linking import resolve_links
    from list_extractor_spark.engine.schemas import DOCUMENTS_SCHEMA
    from list_extractor_spark.engine.snapshots import write_graph_snapshot

    spark, s = ctx.spark, ctx.size
    mi, sa, _ = _snapshot_frames(spark)
    keys = build_bloom(mi.select("lang", "surface"))
    src = path / "docs"
    src.mkdir()
    shutil.rmtree(TABLE, ignore_errors=True)
    for h in range(s["history"]):
        d = s["docs_per_file"]
        idx = range(HISTORY_BASE + h * d, HISTORY_BASE + (h + 1) * d)
        f = src / f"h-{h:05d}.parquet"
        inputs.write_span_docs(f, inputs.span_docs(idx, HISTORY_SEED))
        docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(str(f))
        triples = resolve_links(extract_candidates(docs, linkable_keys=keys), mi, sa)
        write_graph_snapshot(triples, str(TABLE), mode="append", marker=f"history-{h}")
    shutil.copytree(TABLE, path / "table")
    (path / "table_path").write_text(str(TABLE))


def _row_sums(frames: dict) -> dict:
    """label -> [rows, sum of 64-bit row hashes]: a multiset fingerprint of
    each frame, all in one Spark job."""
    from pyspark.sql import functions as F

    cols = ["doc_id", "subj", "pred", "obj", "obj_dt"]
    labelled = None
    for k, df in frames.items():
        df = df.select(F.lit(k).alias("k"), F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
        labelled = df if labelled is None else labelled.unionByName(df)
    rows = labelled.groupBy("k").agg(F.count("*").alias("n"), F.sum("h").alias("h")).collect()
    out = {k: [0, 0] for k in frames}
    out.update({r["k"]: [r["n"], int(r["h"])] for r in rows})
    return out


def make_inputs(ctx) -> None:
    s = ctx.size
    key = f"kg_ingest_s{ctx.seed}_f{_n_files(ctx)}x{s['docs_per_file']}"
    ctx.stream_src, gen = ctx.inputs(lambda: inputs.cached(key, lambda p: _stream_files(ctx, p)))
    ctx.input_generated |= gen


def _history(ctx):
    """Cached history table for this checkout (needs the session)."""
    s = ctx.size
    key = f"kg_ingest_history_h{s['history']}x{s['docs_per_file']}"
    stamp = CACHE / key / "table_path"
    if stamp.exists() and stamp.read_text() != str(TABLE):
        shutil.rmtree(CACHE / key)  # built for another checkout path
    path, gen = ctx.inputs(lambda: inputs.cached(key, lambda p: _build_history(ctx, p)))
    ctx.input_generated |= gen
    return path / "table"


def _source_log(ckpt) -> dict:
    """file name -> batch id, from the file source's offset log."""
    out = {}
    d = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(d):
        return out
    entries = set()
    for fn in os.listdir(d):
        # every compactInterval batches the log folds into "<id>.compact"
        if not fn.removesuffix(".compact").isdigit():
            continue
        with open(os.path.join(d, fn)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    entries.add((os.path.basename(unquote(urlparse(e["path"]).path)), e["batchId"]))
    for name, b in sorted(entries):
        out.setdefault(name, []).append(b)
    return out


def _committed_batches(ckpt) -> set:
    d = os.path.join(ckpt, "commits")
    return {int(f) for f in os.listdir(d) if f.isdigit()} if os.path.isdir(d) else set()


class _Tracing:
    """Span-recording stand-ins for the two snapshot functions the stream's
    batch handler calls; they trace odd batch ids only."""

    def __init__(self, tracer):
        from list_extractor_spark.engine import snapshots

        self.mod, self.tr = snapshots, tracer
        self.orig = (snapshots.write_graph_snapshot, snapshots.marker_committed)

    def __enter__(self):
        write, marker = self.orig

        def traced(m):
            return m is not None and int(m.split("-")[1]) % 2 == 1

        def w(triples, path, mode="append", marker=None):
            if not traced(marker):
                return write(triples, path, mode=mode, marker=marker)
            # no job group here: the query tags its own batch jobs
            with self.tr.span("engine.snapshots.commit", op=marker):
                return write(triples, path, mode=mode, marker=marker)

        def m(path, mk):
            if not traced(mk):
                return marker(path, mk)
            with self.tr.span("engine.snapshots.marker_check", op=mk):
                return marker(path, mk)

        self.mod.write_graph_snapshot, self.mod.marker_committed = w, m
        return self

    def __exit__(self, *exc):
        self.mod.write_graph_snapshot, self.mod.marker_committed = self.orig


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from list_extractor_spark.engine.bloom import build_bloom
    from list_extractor_spark.engine.extract import extract_candidates_arrow
    from list_extractor_spark.engine.linking import resolve_links
    from list_extractor_spark.engine.schemas import DOCUMENTS_SCHEMA
    from list_extractor_spark.engine.snapshots import read_graph_at, snapshot_history
    from list_extractor_spark.streaming.stream_extract import stream_documents, stream_triples_versioned

    spark, s, tr = ctx.spark, ctx.size, ctx.tracer
    hist_src = _history(ctx)
    n_hist = s["history"]
    base = WORK / "kg_ingest"
    in_dir, ckpt = base / "in", str(base / "ckpt")

    def setup():
        shutil.rmtree(TABLE, ignore_errors=True)
        shutil.copytree(hist_src, TABLE)
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        in_dir.mkdir(parents=True)
        mi, sa, _ = _snapshot_frames(spark)
        return mi, sa, build_bloom(mi.select("lang", "surface"))

    mi, sa, keys = ctx.repeated_setup(setup)
    files = sorted(p.name for p in ctx.stream_src.glob("part-*.parquet"))
    delivered: dict = {}  # file name -> (due, written)

    def deliver(name, due):
        tmp = in_dir / f".tmp-{name}"
        shutil.copyfile(ctx.stream_src / name, tmp)
        os.rename(tmp, in_dir / name)
        delivered[name] = (due, time.perf_counter())

    with _Tracing(tr) if tr.enabled else contextlib.nullcontext():
        query = stream_triples_versioned(
            stream_documents(spark, str(in_dir)), mi, sa, keys, str(TABLE), ckpt,
            trigger_available_now=False,
        )
    reads = []  # (batch id, t_seen, read_s, files listed)
    gen_lag = []
    stop = threading.Event()
    first_timed_batch = None

    def consumer():
        last = first_timed_batch - 1
        while not stop.is_set():
            # the commit log gets batch b once its snapshot is committed
            b = max(_committed_batches(ckpt), default=-1)
            if b <= last:
                time.sleep(0.005)
                continue
            # single appending writer: the current snapshot holds batch b
            t = time.perf_counter()
            df = read_graph_at(spark, str(TABLE), pred_buckets=READ_BUCKETS)
            df.count()
            t_seen = time.perf_counter()
            listed = len(df.inputFiles()) if tr.enabled else 0
            reads.append((b, t_seen, t_seen - t, listed))
            last = b

    def generator(t0, timed):
        for i, name in enumerate(timed):
            due = t0 + i * s["interval_s"]
            if due >= t0 + ctx.seconds or stop.is_set():
                break
            time.sleep(max(0.0, due - time.perf_counter()))
            deliver(name, due)
            gen_lag.append(delivered[name][1] - due)

    threads = []
    try:
        # warm-up: the first files, untimed, until their batches committed
        for name in files[: s["warm_files"]]:
            deliver(name, time.perf_counter())
            _wait(lambda: name in _source_log(ckpt) and max(_source_log(ckpt)[name]) in _committed_batches(ckpt), DRAIN_S, f"warm-up file {name}")
            # the consumer's read path, so the first timed read is not a cold one
            read_graph_at(spark, str(TABLE), pred_buckets=READ_BUCKETS).count()
        first_timed_batch = max(_committed_batches(ckpt)) + 1
        t0 = ctx.start_timing()
        timed = files[s["warm_files"] :]
        threads = [
            threading.Thread(target=consumer, name="consumer"),
            threading.Thread(target=generator, args=(t0, timed), name="generator"),
        ]
        for t in threads:
            t.start()
        threads[1].join()
        time.sleep(max(0.0, t0 + ctx.seconds - time.perf_counter()))
        log, done = _source_log(ckpt), _committed_batches(ckpt)
        backlog = sum(1 for n in delivered if not (n in log and max(log[n]) in done))
        # drain: every delivered file committed and seen by the consumer
        _wait(
            lambda: all(n in _source_log(ckpt) for n in delivered)
            and max(b for n in delivered for b in _source_log(ckpt)[n]) <= (reads[-1][0] if reads else -1),
            DRAIN_S,
            "draining the timed files",
            lambda: f"delivered={len(delivered)} logged={len(_source_log(ckpt))} seen={reads[-1][0] if reads else None}",
        )
        ctx.end_timing()
        progress = [p for p in query.recentProgress if p["batchId"] >= first_timed_batch]
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=DRAIN_S)
        query.stop()
    check(not any(t.is_alive() for t in threads), "generator or consumer did not stop")
    check(query.exception() is None, f"stream failed: {query.exception()}")

    # ---- correctness: every file in exactly one committed batch, one
    # marker per batch, markers unique, batch b -> snapshot n_hist + 1 + b
    log = _source_log(ckpt)
    check(sorted(log) == sorted(delivered), "source log and delivered files differ")
    check(all(len(v) == 1 for v in log.values()), "a file was read by two batches")
    batches = sorted({v[0] for v in log.values()})
    hist = snapshot_history(str(TABLE))
    markers = [m["marker"] for m in hist[n_hist:]]
    check(len(markers) == len(set(markers)), "duplicate markers in the snapshot log")
    check(markers == [f"batch-{b}" for b in batches], f"markers {markers[:3]}... do not match batches {batches[:3]}...")
    check([m["snapshot_id"] for m in hist[n_hist:]] == [n_hist + 1 + b for b in batches], "batch -> snapshot ids differ")
    # ---- correctness: the files the stream appended hold exactly the rows
    # of a batch extract+link over the delivered docs (batch kernel, as a
    # cross-check of the stream's), compared as multisets
    docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(*[str(ctx.stream_src / n) for n in delivered])
    # (listing the table's parquet files directly: a read_graph_at over the
    # whole table would infer the schema from every one of its files)
    old_files = {TABLE / f.relative_to(hist_src) for f in hist_src.rglob("*.parquet")}
    new_files = sorted(str(f) for f in TABLE.rglob("*.parquet") if f not in old_files)
    sums = _row_sums({
        "new": spark.read.parquet(*new_files),
        "want": resolve_links(extract_candidates_arrow(docs, linkable_keys=keys), mi, sa),
    })
    check(sums["new"] == sums["want"], f"appended rows differ from batch extract+link: {sums}")
    check(hist[-1]["total_rows"] - hist[n_hist - 1]["total_rows"] == sums["want"][0], "manifest row counts differ")

    # ---- metrics
    d = s["docs_per_file"]
    batch_of = {n: log[n][0] for n in delivered}
    seen_at = {}
    for b, t_seen, *_ in reads:
        for bb in range(b + 1):
            seen_at.setdefault(bb, t_seen)
    timed_names = [n for n in timed if n in delivered]
    fresh = [seen_at[batch_of[n]] - delivered[n][0] for n in timed_names]
    busy = [p["durationMs"]["triggerExecution"] for p in progress]
    rows_in = sum(p["numInputRows"] for p in progress)
    p50 = median(fresh)
    tl, pct, nt = tail(fresh)
    out = {
        "attempted": len(timed_names),
        "failed": 0,
        "timed_docs": d * len(timed_names),
        "e2e": {
            "latency_p50_ms": 1000 * p50,
            "latency_tail_ms": 1000 * tl,
            "docs_per_s": rows_in / (sum(busy) / 1000.0),
        },
        "info": {
            "tail_pct": pct, "tail_n": nt, "batches": len(progress), "reads": len(reads), "backlog_end": backlog,
            "fresh_s": [round(x, 2) for x in fresh], "busy_s": [round(x / 1000, 2) for x in busy],
        },
    }
    if tr.enabled:
        out["layer"] = _layer_metrics(tr, progress, reads, hist, gen_lag, backlog)
    return out


def _layer_metrics(tr, progress, reads, hist, gen_lag, backlog) -> dict:
    dur = lambda p, k: p["durationMs"].get(k, 0)  # noqa: E731
    busy = [dur(p, "triggerExecution") for p in progress]
    traced = lambda p: p["batchId"] % 2 == 1  # noqa: E731
    commits = [1000 * x for x in tr.durations("engine.snapshots.commit")]
    dec = max(1, len(commits) // 10)
    read_ms = [1000 * r[2] for r in reads]
    ctl, _, _ = tail(commits)
    rtl, _, _ = tail(read_ms)
    btl, _, _ = tail(busy)
    return {
        "engine.snapshots.commit_ms": median(commits),
        "engine.snapshots.commit_tail_ms": ctl,
        "engine.snapshots.commit_growth": median(commits[-dec:]) / median(commits[:dec]) if commits else 0.0,
        "engine.snapshots.marker_check_ms": 1000 * median(tr.durations("engine.snapshots.marker_check")),
        "engine.snapshots.read_ms": median(read_ms),
        "engine.snapshots.read_tail_ms": rtl,
        "engine.snapshots.files_listed_per_read": median([r[3] for r in reads]),
        "engine.snapshots.files_total": hist[-1]["n_files"],
        "engine.snapshots.files_written": median(
            [b["n_files"] - a["n_files"] for a, b in zip(hist, hist[1:]) if b["marker"] and b["marker"].startswith("batch-")]
        ),
        "streaming.stream_extract.batch_busy_ms": median(busy),
        "streaming.stream_extract.batch_busy_tail_ms": btl,
        "streaming.stream_extract.plan_ms": median([dur(p, "queryPlanning") + dur(p, "getBatch") for p in progress]),
        "streaming.stream_extract.wal_commit_ms": median([dur(p, "walCommit") for p in progress]),
        "streaming.stream_extract.docs_per_batch": median([p["numInputRows"] for p in progress]),
        "streaming.stream_extract.batches": len(progress),
        "engine.extract.docs": sum(p["numInputRows"] for p in progress),
        "bench.generator_lag_ms": 1000 * max(gen_lag, default=0.0),
        "bench.backlog_end": backlog,
        "bench.trace_overhead_s": (
            median([dur(p, "triggerExecution") for p in progress if traced(p)])
            - median([dur(p, "triggerExecution") for p in progress if not traced(p)])
        ) / 1000.0,
    }


def _wait(cond, timeout: float, what: str, state=lambda: "") -> None:
    end = time.perf_counter() + timeout
    while not cond():
        check(time.perf_counter() < end, f"stream did not catch up in time: {what} {state()}")
        time.sleep(0.02)
