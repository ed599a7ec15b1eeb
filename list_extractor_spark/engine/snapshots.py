"""Versioned graph table: an Iceberg-shaped snapshot log over parquet.

The materialize stage's production target is an Iceberg table (north rule);
this module reproduces the three Iceberg properties the pipeline actually
depends on, over plain parquet + JSON manifests — no table-format library in
the container:

  * ATOMIC COMMITS — data files land under a unique ``data/commit-*/`` dir,
    the manifest is written to a temp name and renamed, and the ``current``
    pointer flips last (rename is atomic on POSIX).  A reader never sees a
    half-written snapshot; a crashed writer leaves only unreferenced files.
  * TIME TRAVEL — every snapshot's manifest lists its full file set, so
    ``read_graph_at(..., snapshot_id=N)`` reconstructs any historical state
    and ``rollback`` is a pointer flip, not a data rewrite.
  * MANIFEST-LEVEL PRUNING — manifests carry per-file partition values
    (pred_bucket), row counts, and subj min/max bounds, so bucket-filtered
    and subj-range reads prune FILES before Spark ever lists or opens them
    — the scan-planning benefit that makes metadata tables matter at 10^5+
    files.  The counts and bounds are read from the parquet footers of the
    files the write produced, in the driver, so a commit runs no Spark job
    but the write.  Bounds are None when some row group of a file carries
    no subj min/max (parquet-mr drops binary stats once min + max reach
    4 KB); readers keep such files, so subj-range reads stay exact.
    compact_table doubles as the clustering pass that makes the bounds
    tight.  The manifest also records the snapshot's schema, so a read
    plans with no schema-inference job.

Single-writer by design (the pipeline materialize stage is one job); the
commit protocol makes concurrent READERS safe, not concurrent writers —
documented, same stance as Hive-style tables without a lock service.

Reference parity: the reference appends one Turtle file per run
(listExtractor.py:149-154); append snapshots are the scalable analog of its
run-per-file accumulation, with the run history queryable instead of
implicit in filenames.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

N_BUCKETS = 16


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _current_snapshot_id(path: str) -> int | None:
    cur = os.path.join(_meta_dir(path), "current")
    if not os.path.exists(cur):
        return None
    with open(cur) as f:
        return int(f.read().strip())


def _load_manifest(path: str, snapshot_id: int) -> dict:
    with open(os.path.join(_meta_dir(path), f"snap-{snapshot_id}.json")) as f:
        return json.load(f)


def _write_data_files(
    bucketed: DataFrame,
    path: str,
    max_records_per_file: int | None = None,
) -> list[dict]:
    """Write a pred_bucket-carrying frame under a fresh ``data/commit-*/``
    dir and return its manifest file entries.

    Per-file stats come from what actually committed: the driver lists the
    ``pred_bucket=<b>/`` dirs the write produced and reads each file's
    parquet footer (row count, subj min/max), so the write is the commit's
    only Spark job.  The table is local-FS only (os.rename commits), so the
    footers are plain local files.  A zero-row write commits only _SUCCESS
    and yields no entries."""
    commit = uuid.uuid4().hex[:12]
    data_dir = os.path.abspath(os.path.join(path, "data", f"commit-{commit}"))
    writer = bucketed.write.mode("error")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy("pred_bucket").parquet(data_dir)

    files = []
    for bucket_dir in os.listdir(data_dir):
        if not bucket_dir.startswith("pred_bucket="):
            continue  # _SUCCESS
        bdir = os.path.join(data_dir, bucket_dir)
        for fn in os.listdir(bdir):
            # Spark's own readers skip '.'/'_' files (.crc checksums)
            if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                fp = os.path.join(bdir, fn)
                n_rows, lo, hi = _footer_stats(fp, "subj")
                files.append(
                    {
                        "path": fp,
                        "pred_bucket": int(bucket_dir.removeprefix("pred_bucket=")),
                        "n_rows": n_rows,
                        "subj_min": lo,
                        "subj_max": hi,
                    }
                )
    return sorted(files, key=lambda d: d["path"])


def _footer_stats(file_path: str, col: str) -> tuple[int, str | None, str | None]:
    """(rows, min, max) of ``col`` from one parquet file's footer.

    The bounds are those Spark's F.min/F.max give (both order strings by
    unsigned UTF-8 bytes), or None/None when any row group carries no
    min/max — parquet-mr omits binary min/max once their sizes sum to 4 KB."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(file_path)
    i = md.schema.names.index(col)
    lo = hi = None
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(i).statistics
        if st is None or not st.has_min_max:
            return md.num_rows, None, None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return md.num_rows, lo, hi


def _commit_manifest(
    path: str,
    files: list[dict],
    operation: str,
    schema: dict | None,
    marker: str | None = None,
) -> int:
    """Atomically commit ``files`` (the snapshot's FULL file set) as a new
    manifest and flip ``current`` to it; returns the new snapshot id.

    ``schema`` is the read schema of every file in ``files`` (StructType
    JSON), or None when they may differ — readers then infer it.

    ``marker`` is an optional idempotence token stored IN the manifest —
    atomic with the commit itself, so a writer that checks for its marker
    before committing gets exactly-once semantics with no side ledger
    (the streaming sink's batch-replay guard)."""
    parent = _current_snapshot_id(path)
    meta = _meta_dir(path)
    os.makedirs(meta, exist_ok=True)
    # ids must be globally fresh, not parent+1: after a rollback the current
    # pointer is an OLD snapshot, and parent+1 would silently clobber an
    # existing manifest (breaking 'later snapshots stay readable')
    existing = [
        int(fn[len("snap-") : -len(".json")])
        for fn in os.listdir(meta)
        if fn.startswith("snap-") and fn.endswith(".json")
    ]
    snap_id = max(existing, default=0) + 1
    manifest = {
        "snapshot_id": snap_id,
        "parent_id": parent,
        "ts": time.time(),
        "operation": operation,
        "marker": marker,
        "files": files,
        "total_rows": sum(f["n_rows"] for f in files),
        "schema": schema,
    }
    nonce = uuid.uuid4().hex[:12]
    tmp = os.path.join(meta, f".snap-{snap_id}.json.{nonce}")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, os.path.join(meta, f"snap-{snap_id}.json"))
    tmp = os.path.join(meta, f".current.{nonce}")
    with open(tmp, "w") as f:
        f.write(str(snap_id))
    os.rename(tmp, os.path.join(meta, "current"))  # the commit point
    return snap_id


def write_graph_snapshot(
    triples: DataFrame, path: str, mode: str = "append", marker: str | None = None
) -> int:
    """Commit ``triples`` as a new snapshot of the versioned graph table at
    ``path``; returns the new snapshot id.

    ``mode="append"`` adds this batch's files to the previous snapshot's
    file set (incremental materialize — the common case for per-run
    accumulation); ``mode="overwrite"`` starts the file set fresh (full
    rebuild) while leaving every prior snapshot readable until expired."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown mode {mode!r}")
    out = triples.withColumn("pred_bucket", F.pmod(F.hash("pred"), F.lit(N_BUCKETS)))
    files = _write_data_files(out, path)
    # the schema as a parquet read returns it: every field nullable
    schema = StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in triples.schema]
    ).jsonValue()
    carried = []
    parent = _current_snapshot_id(path)
    if mode == "append" and parent is not None:
        man = _load_manifest(path, parent)
        carried = man["files"]
        if carried and man.get("schema") != schema:
            schema = None  # mixed (or unrecorded) file schemas: readers infer
    return _commit_manifest(
        path, carried + files, operation=mode, schema=schema, marker=marker
    )


def _scan(spark: SparkSession, paths: list[str], schema: dict | None) -> DataFrame:
    """Read data files by explicit path with the manifest's schema: no
    footer-inference job.  Explicit file paths get no partition columns."""
    reader = spark.read if schema is None else spark.read.schema(StructType.fromJson(schema))
    return reader.parquet(*paths)


def read_graph_at(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    pred_buckets: list[int] | None = None,
    subj_range: tuple[str, str] | None = None,
) -> DataFrame:
    """Read the table as of ``snapshot_id`` (default: current).

    ``pred_buckets`` prunes at the MANIFEST level: only matching files are
    handed to the reader — at a million files this is the difference
    between planning from a JSON scan and listing the whole table.

    ``subj_range=(lo, hi)`` (inclusive) prunes via the per-file subj
    min/max bounds the writer records (Iceberg column-stats skipping) AND
    applies the row filter, so the result is exact whether or not a file
    carries bounds (files recorded with None bounds are kept).  The
    pruning pays off after compact_table's subject clustering — appends
    write near-random subj ranges, compaction sorts within shards so each
    file covers a tight range."""
    snap = snapshot_id if snapshot_id is not None else _current_snapshot_id(path)
    if snap is None:
        raise FileNotFoundError(f"no current snapshot at {path}")
    manifest = _load_manifest(path, snap)
    files = manifest["files"]
    if pred_buckets is not None:
        want = set(pred_buckets)
        files = [f for f in files if f["pred_bucket"] in want]
    if subj_range is not None:
        lo, hi = subj_range
        files = [
            f
            for f in files
            if f.get("subj_min") is None
            or not (f["subj_max"] < lo or f["subj_min"] > hi)
        ]
    if not files:
        from .schemas import TRIPLES_SCHEMA

        out = spark.createDataFrame([], TRIPLES_SCHEMA)
    else:
        out = _scan(spark, [f["path"] for f in files], manifest.get("schema"))
    if subj_range is not None:
        out = out.filter(F.col("subj").between(subj_range[0], subj_range[1]))
    return out


def pred_buckets_for(preds) -> list[int]:
    """Manifest-pruning buckets for specific PREDICATES, computed driver-side
    with the bit-exact murmur3 replica (fixtures/spark_hash.py — the same
    value F.hash produces), so a predicate-scoped read never touches Spark
    before the file list is already pruned:

        read_graph_at(spark, path, pred_buckets=pred_buckets_for([p1, p2]))
    """
    from ..fixtures.spark_hash import hash_str

    return sorted({hash_str(p) % N_BUCKETS for p in preds})


def verify_table(path: str) -> dict:
    """Consistency audit of the snapshot table: every manifest's files must
    exist with matching bucket dirs, ids must be unique/contiguous-free of
    duplicates, and data files referenced by no manifest are reported as
    orphans (a crashed writer's leftovers — expected, reclaimable).
    Returns {missing_files, orphan_files, bad_manifests}; an intact table
    has empty missing_files and bad_manifests."""
    hist = snapshot_history(path)
    missing, bad = [], []
    live: set = set()
    seen_ids: set = set()
    for m in hist:
        sid = m["snapshot_id"]
        if sid in seen_ids:
            bad.append(f"duplicate snapshot id {sid}")
        seen_ids.add(sid)
        man = _load_manifest(path, sid)
        if man["total_rows"] != sum(f["n_rows"] for f in man["files"]):
            bad.append(f"snap-{sid}: total_rows != sum(files)")
        for f in man["files"]:
            live.add(f["path"])
            if not os.path.exists(f["path"]):
                missing.append(f"snap-{sid}: {f['path']}")
            elif f"pred_bucket={f['pred_bucket']}" not in f["path"]:
                bad.append(f"snap-{sid}: bucket mismatch {f['path']}")
    orphans = []
    data_root = os.path.join(path, "data")
    if os.path.isdir(data_root):
        for commit in os.listdir(data_root):
            cdir = os.path.join(data_root, commit)
            for bucket_dir in os.listdir(cdir):
                bdir = os.path.join(cdir, bucket_dir)
                if not os.path.isdir(bdir):
                    continue
                for fn in os.listdir(bdir):
                    fp = os.path.join(bdir, fn)
                    if fn.endswith(".parquet") and fp not in live:
                        orphans.append(fp)
    return {
        "missing_files": sorted(missing),
        "orphan_files": sorted(orphans),
        "bad_manifests": sorted(bad),
    }


def snapshot_history(path: str) -> list[dict]:
    """The snapshot log, oldest first: (snapshot_id, parent_id, operation,
    ts, total_rows, n_files) — the reference's run-accumulation made
    queryable."""
    meta = _meta_dir(path)
    if not os.path.isdir(meta):
        return []
    out = []
    for fn in sorted(os.listdir(meta)):
        if fn.startswith("snap-") and fn.endswith(".json"):
            with open(os.path.join(meta, fn)) as f:
                m = json.load(f)
            out.append(
                {
                    "snapshot_id": m["snapshot_id"],
                    "parent_id": m["parent_id"],
                    "operation": m["operation"],
                    "marker": m.get("marker"),
                    "ts": m["ts"],
                    "total_rows": m["total_rows"],
                    "n_files": len(m["files"]),
                }
            )
    return sorted(out, key=lambda m: m["snapshot_id"])


def marker_committed(path: str, marker: str) -> bool:
    """True when some snapshot already carries ``marker`` — the replay
    check of the idempotent-commit protocol (scan the manifest log; at a
    long history expire_snapshots bounds it)."""
    return any(m["marker"] == marker for m in snapshot_history(path))


def rollback(path: str, snapshot_id: int) -> None:
    """Point ``current`` at an earlier snapshot (pointer flip, no data
    movement; later snapshots stay readable by explicit id until expired)."""
    _load_manifest(path, snapshot_id)  # existence check
    meta = _meta_dir(path)
    tmp = os.path.join(meta, f".current.rb{snapshot_id}")
    with open(tmp, "w") as f:
        f.write(str(snapshot_id))
    os.rename(tmp, os.path.join(meta, "current"))


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_rows: int = 1_000_000,
    min_input_files: int = 2,
    sort_col: str | None = "subj",
) -> int | None:
    """Bin-pack small data files into ~``target_file_rows``-row files and
    commit the rewrite as a new snapshot (Iceberg ``rewrite_data_files``
    analog) — the maintenance operation that keeps per-run append
    accumulation from degrading scan planning: at 10^5+ files the task
    count, footer reads, and driver listing are all proportional to FILES,
    not rows.

    Per pred_bucket, files under ``target_file_rows`` rows are rewrite
    candidates; a bucket rewrites only when it has >= ``min_input_files``
    candidates (rewriting a lone small file is pure write amplification).
    Full-size files and non-qualifying buckets carry over untouched — the
    rewrite reads ONLY the small files, never the table.

    Scale shape: every sizing decision comes from exact manifest row
    counts, zero Spark jobs before the rewrite itself.  Each bucket's
    candidates repartition into ceil(rows/target) shards via a content salt
    (a hot bucket never funnels through one task), and maxRecordsPerFile
    caps any residual hash-collision overfill.  Readers are never blocked:
    prior snapshots keep referencing the old files (time travel intact)
    until expire_snapshots reclaims them.

    ``sort_col`` (default "subj") clusters rows within each output shard
    so the rewritten files carry tight min/max bounds for read_graph_at's
    column-stats pruning; None skips the sort.

    Returns the new snapshot id, or None when nothing qualifies (the
    no-op MUST not commit — an empty compact every maintenance tick would
    grow the log without bound)."""
    if target_file_rows < 1:
        raise ValueError("compact_table: target_file_rows must be >= 1")
    if min_input_files < 2:
        raise ValueError("compact_table: min_input_files must be >= 2")
    cur = _current_snapshot_id(path)
    if cur is None:
        raise FileNotFoundError(f"no current snapshot at {path}")
    man = _load_manifest(path, cur)
    files = man["files"]
    by_bucket: dict[int, list[dict]] = {}
    for f in files:
        if f["n_rows"] < target_file_rows:
            by_bucket.setdefault(f["pred_bucket"], []).append(f)
    rewrite = {
        b: fs for b, fs in by_bucket.items() if len(fs) >= min_input_files
    }
    if not rewrite:
        return None
    doomed = {f["path"] for fs in rewrite.values() for f in fs}
    shards = {
        b: max(1, -(-sum(f["n_rows"] for f in fs) // target_file_rows))
        for b, fs in rewrite.items()
    }
    # the bucket re-derives bit-identically from pred
    df = _scan(spark, sorted(doomed), man.get("schema")).withColumn(
        "pred_bucket", F.pmod(F.hash("pred"), F.lit(N_BUCKETS))
    )
    n_shards = sum(shards.values())
    if sort_col is not None:
        # clustered rewrite: RANGE-partition on (bucket, sort_col) so each
        # task holds a contiguous key range — the rewritten files then
        # carry TIGHT per-file min/max bounds, which is what makes
        # read_graph_at's column-stats pruning actually skip files (a
        # hash salt would spread every key range across every file).
        # Range sampling also equalizes rows per task, so a hot bucket
        # spans multiple shards instead of funneling through one.
        packed = df.repartitionByRange(
            n_shards, F.col("pred_bucket"), F.col(sort_col)
        ).sortWithinPartitions("pred_bucket", sort_col)
    else:
        shard_map = F.create_map(
            *[F.lit(x) for b, n in sorted(shards.items()) for x in (b, n)]
        )
        salted = df.withColumn(
            "_shard",
            F.pmod(
                F.xxhash64("subj", "pred", "obj"),
                shard_map[F.col("pred_bucket")],
            ),
        )
        packed = salted.repartition(
            n_shards, F.col("pred_bucket"), F.col("_shard")
        ).drop("_shard")
    new_files = _write_data_files(packed, path, max_records_per_file=target_file_rows)
    carried = [f for f in files if f["path"] not in doomed]
    return _commit_manifest(
        path, carried + new_files, operation="compact", schema=man.get("schema")
    )


def expire_snapshots(path: str, keep_last: int = 2) -> list[str]:
    """Drop manifests older than the last ``keep_last`` snapshots and delete
    data files no surviving manifest references; returns deleted paths.
    Never touches the current snapshot's lineage (current and its ancestors
    within keep_last)."""
    hist = snapshot_history(path)
    if len(hist) <= keep_last:
        return []
    keep = {m["snapshot_id"] for m in hist[-keep_last:]}
    cur = _current_snapshot_id(path)
    if cur is not None:
        keep.add(cur)
    live: set = set()
    for sid in keep:
        live.update(f["path"] for f in _load_manifest(path, sid)["files"])
    deleted = []
    meta = _meta_dir(path)
    for m in hist:
        sid = m["snapshot_id"]
        if sid in keep:
            continue
        for f in _load_manifest(path, sid)["files"]:
            if f["path"] not in live and os.path.exists(f["path"]):
                os.remove(f["path"])
                deleted.append(f["path"])
        os.remove(os.path.join(meta, f"snap-{sid}.json"))
    return deleted
