"""Zero-job size probes over Catalyst plan statistics.

Shared by the size-adaptive link join (engine/linking.py), the
canonicalization path decision (engine/canonicalize.py) and the Bloom sizing
count (engine/bloom.py): tiny driver jobs cost ~0.3-0.5 s of scheduling
latency each on a busy driver, so decisions that Catalyst already knows the
answer to should not run jobs.

Two probes with DIFFERENT safety envelopes:

* ``local_relation_rows`` — EXACT row count when the plan collapsed to a
  LocalRelation (driver-resident data).  Safe for any decision, including
  "small enough to collect" (the rows already live in the driver JVM).
* ``stats_size_bytes`` — Catalyst's sizeInBytes estimate.  For file scans
  this is the COMPRESSED on-disk size, i.e. an underestimate of in-memory
  size: fine for the decisions Spark's own planner makes with the same
  number (broadcast thresholds), NOT fine for "small enough to collect to
  the python driver" decisions — use an exact bounded count for those.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# LogicalRDD etc. report defaultSizeInBytes = Long.MaxValue: "no estimate",
# not "the table is 8 EiB"
_UNKNOWN_STATS = 1 << 62


def _optimized_plan(df: DataFrame):
    return df._jdf.queryExecution().optimizedPlan()


def local_relation_rows(df: DataFrame) -> int | None:
    """Exact row count straight from the plan when it collapsed to a
    LocalRelation, or to a Union / Project tree whose every leaf is one
    (``identity_edges`` optimizes to a Union of two), else None.  Zero jobs
    either way."""
    return _local_rows(_optimized_plan(df))


def _local_rows(plan) -> int | None:
    kind = plan.getClass().getSimpleName()
    if kind == "LocalRelation":
        return plan.data().size()
    if kind == "Project":  # row-preserving
        return _local_rows(plan.child())
    if kind == "Union":  # UNION ALL: the children's rows add up
        children = plan.children()
        total = 0
        for i in range(children.size()):
            n = _local_rows(children.apply(i))
            if n is None:
                return None
            total += n
        return total
    return None


def stats_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's sizeInBytes estimate, or None when the plan carries only
    the defaultSizeInBytes sentinel (e.g. python createDataFrame lists ->
    LogicalRDD)."""
    size = int(_optimized_plan(df).stats().sizeInBytes())
    return size if size < _UNKNOWN_STATS else None


def _parse_size_bytes(v) -> int:
    s = str(v).strip().lower()
    for suf, mult in (("tb", 1024**4), ("gb", 1024**3), ("mb", 1024**2),
                      ("kb", 1024), ("t", 1024**4), ("g", 1024**3),
                      ("m", 1024**2), ("k", 1024), ("b", 1)):
        if s.endswith(suf):
            return int(float(s[: -len(suf)])) * mult
    return int(float(s))


# conservative per-row estimate for short-string snapshot rows in a broadcast
# hash relation (JVM object overhead included); used only on the
# unknown-stats fallback path to convert the byte threshold into a row budget
EST_BYTES_PER_ROW = 96
_FITS_CACHE: dict = {}


def fits_broadcast(df: DataFrame) -> bool:
    """True while ``df`` fits spark.sql.autoBroadcastJoinThreshold — the SAME
    number Spark's own planner consults, read from the SAME Catalyst plan
    statistics, so for file-backed snapshots (the production shape) the
    decision costs ZERO extra jobs and errs exactly where the native planner
    would.  Plans with no estimate (python createDataFrame lists ->
    LogicalRDD) fall back to a LIMIT-bounded count, memoized per
    (optimized plan, threshold): even a tiny count job costs ~0.5 s of
    scheduler latency on a busy driver, so repeated runs over the same
    snapshot pay it once.

    This is the guard that keeps every snapshot join in the flagship path
    honest at dump scale: a sameAs / redirects / page_types / canonical-map
    snapshot that outgrew the broadcast budget (real dumps are 10^7-10^8
    rows) silently degrades to a shuffle join instead of a multi-GB driver
    broadcast (Spark hard-errors past 8 GB)."""
    conf = df.sparkSession.conf.get(
        "spark.sql.autoBroadcastJoinThreshold", "10485760"
    )
    threshold = _parse_size_bytes(conf)
    if threshold <= 0:  # broadcast disabled outright
        return False
    size = stats_size_bytes(df)
    if size is not None:
        return size <= threshold
    key = (_optimized_plan(df).toString(), threshold)
    if key not in _FITS_CACHE:
        if len(_FITS_CACHE) > 64:
            _FITS_CACHE.clear()
        row_budget = max(1, threshold // EST_BYTES_PER_ROW)
        n = df.limit(row_budget + 1).count()
        _FITS_CACHE[key] = n <= row_budget
    return _FITS_CACHE[key]


def spread_scan(df: DataFrame) -> DataFrame:
    """Adaptive scan parallelization for CPU-heavy narrow passes (guide §2.5
    "input skew: one huge unsplittable file ... repartition immediately after
    the read").

    A single parquet file with one row group plans a ONE-task scan no matter
    how many cores the cluster has, so every narrow per-row pass downstream
    (regex projections, mapInPandas shingling, explode+aggregate) serializes
    on one core.  Repartition round-robin to defaultParallelism ONLY when the
    source supplies fewer partitions than cores: at production scale inputs
    already carry >= cores splits and this is a plan probe + no-op (no
    exchange is added), so the fix cannot regress the many-file case.

    Results are partition-layout-independent for every caller here: per-row
    projections/Arrow passes, and aggregations whose groups are derived from
    a single input row (each row's contribution stays contiguous, so
    float accumulation order per group is unchanged)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def maybe_broadcast(df: DataFrame) -> DataFrame:
    """``F.broadcast(df)`` while the plan-stats estimate fits the broadcast
    threshold, else the unhinted frame (Catalyst plans a shuffle join and AQE
    handles runtime skew/size re-planning)."""
    from pyspark.sql import functions as F

    return F.broadcast(df) if fits_broadcast(df) else df
