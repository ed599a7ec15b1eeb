"""Versioned graph table (engine/snapshots.py): atomic snapshot commits,
time travel, rollback, manifest-level pruning, expiry."""

import json
import os

import pytest
from pyspark.sql import functions as F

from list_extractor_spark.engine.snapshots import (
    N_BUCKETS,
    expire_snapshots,
    pred_buckets_for,
    read_graph_at,
    rollback,
    snapshot_history,
    verify_table,
    write_graph_snapshot,
)


def _triples(spark, tag, n=20):
    return spark.range(n).select(
        F.concat(F.lit(f"http://dbpedia.org/resource/{tag}_"), F.col("id")).alias("subj"),
        F.concat(F.lit("http://dbpedia.org/ontology/p"), F.col("id") % 5).alias("pred"),
        F.concat(F.lit(f"v_{tag}_"), F.col("id")).alias("obj"),
        F.lit(None).cast("string").alias("obj_dt"),
    )


def test_append_snapshots_time_travel_and_rollback(spark, tmp_path):
    path = str(tmp_path / "graph")
    s1 = write_graph_snapshot(_triples(spark, "a"), path)
    s2 = write_graph_snapshot(_triples(spark, "b", n=10), path)
    assert (s1, s2) == (1, 2)
    assert read_graph_at(spark, path).count() == 30  # current = both commits
    assert read_graph_at(spark, path, snapshot_id=1).count() == 20  # time travel
    hist = snapshot_history(path)
    assert [h["snapshot_id"] for h in hist] == [1, 2]
    assert hist[1]["parent_id"] == 1 and hist[1]["total_rows"] == 30
    rollback(path, 1)
    assert read_graph_at(spark, path).count() == 20
    assert read_graph_at(spark, path, snapshot_id=2).count() == 30  # still there


def test_overwrite_keeps_history_readable(spark, tmp_path):
    path = str(tmp_path / "graph")
    write_graph_snapshot(_triples(spark, "a"), path)
    write_graph_snapshot(_triples(spark, "b", n=7), path, mode="overwrite")
    assert read_graph_at(spark, path).count() == 7
    assert read_graph_at(spark, path, snapshot_id=1).count() == 20


def test_manifest_level_bucket_pruning(spark, tmp_path):
    """A bucket-filtered read must hand Spark ONLY the matching files —
    pruning happens on manifest JSON, before any file listing."""
    path = str(tmp_path / "graph")
    write_graph_snapshot(_triples(spark, "a", n=200), path)
    full = read_graph_at(spark, path)
    some_bucket = _bucket_of(spark, "http://dbpedia.org/ontology/p0")
    pruned = read_graph_at(spark, path, pred_buckets=[some_bucket])
    assert 0 < pruned.count() < full.count()
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    got = {r["pred"] for r in pruned.collect()}
    want = {
        r["pred"]
        for r in full.collect()
        if _bucket_of(spark, r["pred"]) == some_bucket
    }
    assert got == want


def _bucket_of(spark, pred):
    return spark.range(1).select(
        F.pmod(F.hash(F.lit(pred)), F.lit(N_BUCKETS)).alias("b")
    ).first()["b"]


def test_expire_snapshots_removes_only_unreferenced_files(spark, tmp_path):
    path = str(tmp_path / "graph")
    write_graph_snapshot(_triples(spark, "a"), path)
    write_graph_snapshot(_triples(spark, "b"), path, mode="overwrite")
    write_graph_snapshot(_triples(spark, "c"), path)
    deleted = expire_snapshots(path, keep_last=2)
    # snapshot 1's files are referenced by NO surviving manifest (2 was an
    # overwrite), so they are deleted; 2 and 3 stay fully readable
    assert deleted and all("commit-" in p for p in deleted)
    assert read_graph_at(spark, path, snapshot_id=2).count() == 20
    assert read_graph_at(spark, path, snapshot_id=3).count() == 40
    with pytest.raises(FileNotFoundError):
        read_graph_at(spark, path, snapshot_id=1)
    hist = snapshot_history(path)
    assert [h["snapshot_id"] for h in hist] == [2, 3]


def test_predicate_scoped_read_via_replica_buckets(spark, tmp_path):
    """pred_buckets_for computes F.hash-parity buckets driver-side, so a
    predicate-scoped read prunes files from the manifest without a Spark
    job — and returns exactly the rows a full-scan filter would."""
    path = str(tmp_path / "graph")
    write_graph_snapshot(_triples(spark, "a", n=120), path)
    pred = "http://dbpedia.org/ontology/p2"
    buckets = pred_buckets_for([pred])
    assert buckets == [_bucket_of(spark, pred)]
    got = read_graph_at(spark, path, pred_buckets=buckets).filter(
        F.col("pred") == pred
    )
    want = read_graph_at(spark, path).filter(F.col("pred") == pred)
    assert got.count() == want.count() > 0


def test_verify_table_reports_missing_and_orphans(spark, tmp_path):
    path = str(tmp_path / "graph")
    write_graph_snapshot(_triples(spark, "a"), path)
    write_graph_snapshot(_triples(spark, "b"), path)
    rep = verify_table(path)
    assert rep == {"missing_files": [], "orphan_files": [], "bad_manifests": []}
    # orphan: a data file no manifest references (crashed-writer leftover)
    import glob

    some = glob.glob(os.path.join(path, "data", "commit-*", "pred_bucket=*",
                                  "*.parquet"))[0]
    orphan = os.path.join(os.path.dirname(some), "part-junk.parquet")
    open(orphan, "wb").write(b"x")
    # missing: delete a referenced file
    os.remove(some)
    rep = verify_table(path)
    assert any(some in m for m in rep["missing_files"])
    assert rep["orphan_files"] == [orphan]


def test_commit_after_rollback_gets_fresh_id(spark, tmp_path):
    """A commit made after rollback() must take a NEW snapshot id, not
    parent+1 — reusing an id would clobber the rolled-past snapshot's
    manifest and orphan its files (r6 review finding, reproduced)."""
    path = str(tmp_path / "graph")
    write_graph_snapshot(_triples(spark, "a"), path)
    write_graph_snapshot(_triples(spark, "b", n=12), path)
    rollback(path, 1)
    s3 = write_graph_snapshot(_triples(spark, "c", n=5), path)
    assert s3 == 3
    assert read_graph_at(spark, path, snapshot_id=2).count() == 32  # intact
    assert read_graph_at(spark, path, snapshot_id=3).count() == 25  # 20 + 5
    assert [h["snapshot_id"] for h in snapshot_history(path)] == [1, 2, 3]


def test_empty_commit_is_a_legal_snapshot(spark, tmp_path):
    """Committing a zero-row DataFrame must produce a valid (empty-file-set)
    snapshot, not crash on the schema-less stats read."""
    path = str(tmp_path / "graph")
    empty = _triples(spark, "a").filter("1 = 0")
    assert write_graph_snapshot(empty, path) == 1
    assert read_graph_at(spark, path).count() == 0
    write_graph_snapshot(_triples(spark, "b", n=4), path)
    assert read_graph_at(spark, path).count() == 4


def test_commit_is_atomic_under_crash_simulation(spark, tmp_path):
    """A manifest that never got renamed (simulated crash between data write
    and commit) must be invisible: current still points at the last good
    snapshot and history shows no partial entry."""
    path = str(tmp_path / "graph")
    write_graph_snapshot(_triples(spark, "a"), path)
    # simulate a writer that crashed after staging its manifest temp file
    meta = os.path.join(path, "metadata")
    with open(os.path.join(meta, ".snap-2.json.deadbeef"), "w") as f:
        json.dump({"snapshot_id": 2, "files": []}, f)
    assert [h["snapshot_id"] for h in snapshot_history(path)] == [1]
    assert read_graph_at(spark, path).count() == 20


class TestCompaction:
    def test_compact_merges_small_files_rows_unchanged(self, spark, tmp_path):
        from list_extractor_spark.engine.snapshots import compact_table

        path = str(tmp_path / "graph")
        # 4 append commits of small files -> each bucket holds 4 tiny files
        for tag in ("a", "b", "c", "d"):
            write_graph_snapshot(_triples(spark, tag, n=40), path)
        before = sorted(
            map(tuple, read_graph_at(spark, path).collect())
        )
        n_files_before = snapshot_history(path)[-1]["n_files"]
        sid = compact_table(spark, path, target_file_rows=1000)
        hist = snapshot_history(path)
        assert hist[-1]["snapshot_id"] == sid
        assert hist[-1]["operation"] == "compact"
        assert hist[-1]["n_files"] < n_files_before
        # all buckets fit the target -> one range shard per bucket; a range
        # boundary straddling a bucket adds at most one extra file per
        # crossing, so files <= shards + buckets - 1
        buckets = {
            f["pred_bucket"]
            for f in json.load(
                open(os.path.join(path, "metadata", f"snap-{sid}.json"))
            )["files"]
        }
        assert hist[-1]["n_files"] <= 2 * len(buckets) - 1
        assert sorted(map(tuple, read_graph_at(spark, path).collect())) == before
        # time travel to pre-compaction still reads the OLD file set
        assert sorted(
            map(tuple, read_graph_at(spark, path, snapshot_id=sid - 1).collect())
        ) == before
        v = verify_table(path)
        assert v["missing_files"] == [] and v["bad_manifests"] == []

    def test_target_rows_splits_oversize_buckets(self, spark, tmp_path):
        from list_extractor_spark.engine.snapshots import compact_table

        path = str(tmp_path / "graph")
        # one predicate -> one hot bucket with 2 files of 60 rows each
        one_pred = lambda tag: _triples(spark, tag, n=60).withColumn(  # noqa: E731
            "pred", F.lit("http://dbpedia.org/ontology/only")
        )
        write_graph_snapshot(one_pred("a"), path)
        write_graph_snapshot(one_pred("b"), path)
        sid = compact_table(spark, path, target_file_rows=50)
        files = json.load(
            open(os.path.join(path, "metadata", f"snap-{sid}.json"))
        )["files"]
        # 120 rows at target 50 -> >= 3 files, every file under the cap
        assert len(files) >= 3
        assert all(f["n_rows"] <= 50 for f in files)
        assert read_graph_at(spark, path).count() == 120

    def test_full_size_files_carry_over_untouched(self, spark, tmp_path):
        from list_extractor_spark.engine.snapshots import compact_table

        path = str(tmp_path / "graph")
        write_graph_snapshot(_triples(spark, "a", n=40), path)
        write_graph_snapshot(_triples(spark, "b", n=40), path)
        before = {
            f["path"]
            for f in json.load(
                open(os.path.join(path, "metadata", "snap-2.json"))
            )["files"]
        }
        # no file can hold under 1 row -> no candidates -> NO new commit
        assert compact_table(spark, path, target_file_rows=1) is None
        assert snapshot_history(path)[-1]["snapshot_id"] == 2
        # now compact for real, then expire: old small files are reclaimed
        sid = compact_table(spark, path, target_file_rows=1000)
        assert sid == 3
        deleted = set(expire_snapshots(path, keep_last=1))
        assert deleted == before  # all pre-compaction files reclaimed
        assert read_graph_at(spark, path).count() == 80
        v = verify_table(path)
        assert v["missing_files"] == [] and v["bad_manifests"] == []

    def test_validation(self, spark, tmp_path):
        from list_extractor_spark.engine.snapshots import compact_table

        path = str(tmp_path / "graph")
        with pytest.raises(FileNotFoundError):
            compact_table(spark, path)
        write_graph_snapshot(_triples(spark, "a"), path)
        with pytest.raises(ValueError):
            compact_table(spark, path, target_file_rows=0)
        with pytest.raises(ValueError):
            compact_table(spark, path, min_input_files=1)


class TestColumnStatsPruning:
    def test_subj_range_prunes_files_and_stays_exact(self, spark, tmp_path):
        from list_extractor_spark.engine.snapshots import (
            _load_manifest,
            compact_table,
        )

        path = str(tmp_path / "graph")
        # one predicate = one bucket; subj values aa00..aa59 + zz00..zz59
        def batch(prefix):
            return spark.range(60).select(
                F.concat(F.lit(prefix), F.format_string("%02d", "id")).alias(
                    "subj"
                ),
                F.lit("http://dbpedia.org/ontology/only").alias("pred"),
                F.concat(F.lit("o"), "id").alias("obj"),
                F.lit(None).cast("string").alias("obj_dt"),
            )

        write_graph_snapshot(batch("aa"), path)
        write_graph_snapshot(batch("zz"), path)
        sid = compact_table(spark, path, target_file_rows=40)  # sorted shards
        files = _load_manifest(path, sid)["files"]
        assert all(f["subj_min"] <= f["subj_max"] for f in files)
        # manifest bounds alone must rule out files for an aa-only range
        lo, hi = "aa00", "aa99"
        kept = [
            f for f in files if not (f["subj_max"] < lo or f["subj_min"] > hi)
        ]
        assert 0 < len(kept) < len(files)
        got = sorted(
            r["subj"]
            for r in read_graph_at(
                spark, path, subj_range=(lo, hi)
            ).collect()
        )
        assert got == sorted(f"aa{i:02d}" for i in range(60))
        # a range covering nothing is empty but schema'd
        assert read_graph_at(spark, path, subj_range=("qq", "qr")).count() == 0

    def test_stats_recorded_on_plain_appends_too(self, spark, tmp_path):
        from list_extractor_spark.engine.snapshots import _load_manifest

        path = str(tmp_path / "graph")
        write_graph_snapshot(_triples(spark, "a", n=30), path)
        files = _load_manifest(path, 1)["files"]
        assert files and all(
            f["subj_min"].startswith("http://") for f in files
        )
        # exact-row agreement with the unpruned read
        full = sorted(map(tuple, read_graph_at(spark, path).collect()))
        lo = min(f["subj_min"] for f in files)
        hi = max(f["subj_max"] for f in files)
        ranged = sorted(
            map(tuple, read_graph_at(spark, path, subj_range=(lo, hi)).collect())
        )
        assert ranged == full



def _file_aggs(spark, paths, subj=None):
    """{path: (rows, min subj, max subj)} computed by Spark over the files
    (only files holding ``subj`` when given) — the oracle for the footer
    stats the writer records."""
    import urllib.parse

    df = spark.read.parquet(*paths)
    if subj is not None:
        df = df.filter(F.col("subj") == subj)
    rows = (
        df.groupBy(F.input_file_name().alias("f"))
        .agg(F.count("*").alias("n"), F.min("subj").alias("lo"), F.max("subj").alias("hi"))
        .collect()
    )
    return {
        os.path.normpath(urllib.parse.unquote(urllib.parse.urlparse(r["f"]).path)): (
            r["n"],
            r["lo"],
            r["hi"],
        )
        for r in rows
    }


class TestFooterStats:
    # empty, non-BMP, combining (decomposed and precomposed e-acute, a lone
    # combining mark), U+FFFF, U+FFFD and ASCII edge subjects
    HOSTILE = [
        "",
        chr(0x1D518) + "x",
        chr(0x1F600),
        "e" + chr(0x301),
        chr(0xE9),
        chr(0x301),
        chr(0xFFFF),
        chr(0xFFFD),
        "a",
        "z",
        chr(0x7F),
    ]
    # over parquet-mr's 4 KB binary-stats limit, and above every other
    # subject, so it is the max of whatever file holds it
    LONG = chr(0x10FFFF) + "x" * 5000

    def _write(self, spark, path):
        rows = [
            (s, f"http://dbpedia.org/ontology/p{i % 4}", f"o{i}", None)
            for i, s in enumerate(self.HOSTILE * 3)
        ] + [(self.LONG, "http://dbpedia.org/ontology/p0", "long", None)]
        df = spark.createDataFrame(rows, "subj string, pred string, obj string, obj_dt string")
        return rows, write_graph_snapshot(df.repartition(2), path)

    def test_footer_stats_equal_spark_aggregates(self, spark, tmp_path):
        from list_extractor_spark.engine.snapshots import _load_manifest

        path = str(tmp_path / "graph")
        _, sid = self._write(spark, path)
        files = _load_manifest(path, sid)["files"]
        paths = [f["path"] for f in files]
        aggs = _file_aggs(spark, paths)
        long_files = set(_file_aggs(spark, paths, subj=self.LONG))
        assert sorted(aggs) == paths and long_files
        for f in files:
            n, lo, hi = aggs[f["path"]]
            assert f["n_rows"] == n
            if f["path"] in long_files:
                assert (f["subj_min"], f["subj_max"]) == (None, None)
            else:
                assert (f["subj_min"], f["subj_max"]) == (lo, hi)
        assert len(long_files) < len(files)

    def test_subj_range_reads_stay_exact(self, spark, tmp_path):
        path = str(tmp_path / "graph")
        rows, _ = self._write(spark, path)
        top = chr(0x10FFFF)
        for lo, hi in [
            ("", ""),
            ("", "a"),
            ("e", chr(0xFFFF)),
            (chr(0xFFFF), top),
            (top, top + "y"),
            (chr(0x301), chr(0xE9)),
        ]:
            got = read_graph_at(spark, path, subj_range=(lo, hi)).collect()
            want = [r for r in rows if lo <= r[0] <= hi]
            assert sorted(map(tuple, got)) == sorted(want), (lo, hi)


def _jobs_run_by(spark, fn):
    """(fn(), ids of the Spark jobs fn ran), via a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"snapshots-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the async listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sc.statusTracker().getJobIdsForGroup(group)


class TestMetadataJobs:
    def _wide(self, spark, tag):
        # 100 predicates over 2 write tasks: 2 files in most of the 16 buckets
        return _triples(spark, tag, n=400).withColumn(
            "pred", F.concat(F.lit("http://dbpedia.org/ontology/q"), F.col("obj").substr(-2, 2))
        ).repartition(2).localCheckpoint()

    def test_commit_runs_only_the_write_job(self, spark, tmp_path):
        path = str(tmp_path / "graph")
        frame = self._wide(spark, "a")
        sid, jobs = _jobs_run_by(spark, lambda: write_graph_snapshot(frame, path))
        assert sid == 1 and len(jobs) == 1
        sid, jobs = _jobs_run_by(spark, lambda: write_graph_snapshot(frame, path))
        assert sid == 2 and len(jobs) == 1

    def test_read_plans_with_no_job_and_the_inferred_schema(self, spark, tmp_path):
        from list_extractor_spark.engine.snapshots import _load_manifest

        path = str(tmp_path / "graph")
        for tag in ("a", "b"):
            write_graph_snapshot(self._wide(spark, tag), path)
        files = _load_manifest(path, 2)["files"]
        assert len(files) >= 33  # past Spark's parallel-listing threshold
        df, jobs = _jobs_run_by(spark, lambda: read_graph_at(spark, path))
        assert jobs == []
        inferred = spark.read.parquet(*[f["path"] for f in files]).schema
        assert df.schema == inferred
        assert [f.nullable for f in df.schema] == [True] * 4
        assert df.count() == 800

        # a manifest without the schema key (older tables) still reads
        man_path = os.path.join(path, "metadata", "snap-2.json")
        with open(man_path) as f:
            man = json.load(f)
        del man["schema"]
        with open(man_path, "w") as f:
            json.dump(man, f)
        old = read_graph_at(spark, path)
        assert old.schema == inferred and old.count() == 800

    def test_append_with_another_schema_records_none(self, spark, tmp_path):
        from list_extractor_spark.engine.snapshots import _load_manifest

        path = str(tmp_path / "graph")
        write_graph_snapshot(_triples(spark, "a"), path)
        assert _load_manifest(path, 1)["schema"] is not None
        write_graph_snapshot(_triples(spark, "b").withColumn("extra", F.lit(1)), path)
        assert _load_manifest(path, 2)["schema"] is None
        assert read_graph_at(spark, path).count() == 40
