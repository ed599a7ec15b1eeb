"""Behavioral tests for the training-data ops (beyond the DuckDB contract):
injected duplicates must be found, LSH must agree with the exact method on
high-similarity pairs, ANN must overlap the brute-force top-k."""

import pytest
from pyspark.sql import functions as F

from list_extractor_spark.tda import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "lang", "source"
    )
    # inject exact + near duplicates with known ids
    d0 = base.filter(F.col("doc_id") == "0").select("text").first()["text"]
    extra = spark.createDataFrame(
        [
            ("dup_exact", d0, "en", "synthetic"),
            ("dup_near", d0 + " trailing extra words here", "en", "synthetic"),
        ],
        schema="doc_id string, text string, lang string, source string",
    )
    return base.unionByName(extra)


def test_exact_dedup_finds_injected_duplicate(spark, docs):
    groups = dedup.exact_dedup(docs).filter(F.col("n_docs") > 1).collect()
    assert any(g["n_docs"] >= 2 for g in groups)
    kept = dedup.dedup_keep_first(docs)
    assert kept.count() == docs.count() - 1  # one exact dup collapsed


def test_shingle_jaccard_finds_near_duplicate(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(
        docs.filter(F.col("doc_id").isin("0", "dup_exact", "dup_near")), threshold=0.5
    ).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert ("0", "dup_exact") in found
    assert ("0", "dup_near") in found


def test_minhash_lsh_agrees_with_exact_on_duplicates(spark, docs):
    sub = docs.filter(F.col("doc_id").isin("0", "dup_exact", "dup_near"))
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(sub, k=16, bands=8, threshold=0.5).collect()
    }
    assert ("0", "dup_exact") in lsh  # identical docs always collide


def test_simhash_identical_docs_same_fingerprint(spark, docs):
    fps = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_fingerprints(
            docs.filter(F.col("doc_id").isin("0", "dup_exact"))
        ).collect()
    }
    assert fps["0"] == fps["dup_exact"]


def test_df_cap_bounds_hot_shingle_join(spark):
    """A boilerplate shingle shared by every doc must not create all-pairs
    output once capped; pairs that are genuinely similar beyond the hub
    shingle survive."""
    boiler = "list of items below"  # 4 tokens -> 2 hub 3-shingles in all docs
    rows = [(f"d{i}", f"{boiler} unique{i} alpha{i} beta{i} gamma{i}") for i in range(30)]
    rows += [("twin_a", f"{boiler} same same same same"),
             ("twin_b", f"{boiler} same same same same extra")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    uncapped = dedup.shingle_jaccard_pairs(df, threshold=0.1).collect()
    capped = dedup.shingle_jaccard_pairs(df, threshold=0.1, df_cap=10).collect()
    # uncapped: every pair shares the hub shingles -> quadratic pair count
    assert len(uncapped) > 100
    capped_pairs = {(r["doc_a"], r["doc_b"]) for r in capped}
    assert ("twin_a", "twin_b") in capped_pairs
    # hub-only pairs are gone: no d_i/d_j pair survives the cap
    assert not any(a.startswith("d") and b.startswith("d") for a, b in capped_pairs)


def test_df_cap_exact_when_under_cap(spark, docs):
    sub = docs.filter(F.col("doc_id").isin("0", "dup_exact", "dup_near"))
    plain = {(r["doc_a"], r["doc_b"], r["jaccard"])
             for r in dedup.shingle_jaccard_pairs(sub, threshold=0.5).collect()}
    capped = {(r["doc_a"], r["doc_b"], r["jaccard"])
              for r in dedup.shingle_jaccard_pairs(sub, threshold=0.5, df_cap=1000).collect()}
    assert plain == capped and plain


def test_simhash_pairs_finds_near_duplicate(spark, docs):
    sub = docs.filter(F.col("doc_id").isin("0", "dup_exact", "dup_near"))
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dedup.simhash_pairs(sub, bits=32, max_hamming=4).collect()}
    assert pairs.get(("0", "dup_exact")) == 0  # identical text -> hamming 0
    # near-dup within the radius is found with its exact distance
    for (a, b), h in pairs.items():
        assert h <= 4


def test_simhash_64bit_matches_replica_and_finds_dups(spark, docs):
    """bits=64 takes the xxhash64 path: fingerprints must equal the pure-
    Python replica (the oracle generator) bit-for-bit, identical docs must
    collide, and the banded pair finder must work at 16-bit chunks."""
    from list_extractor_spark.fixtures.contract_oracle import _py_tokens
    from list_extractor_spark.fixtures.spark_hash import xxh64_str

    sub = docs.filter(F.col("doc_id").isin("0", "dup_exact", "dup_near"))
    fps = {r["doc_id"]: r["simhash"]
           for r in dedup.simhash_fingerprints(sub, bits=64).collect()}
    assert fps["0"] == fps["dup_exact"]

    def replica(text):
        votes = [0] * 64
        for tok in _py_tokens(text):
            h = xxh64_str(tok) & ((1 << 64) - 1)
            for i in range(64):
                votes[i] += 1 if (h >> i) & 1 else -1
        fp = sum(1 << i for i in range(64) if votes[i] > 0)
        return fp - (1 << 64) if fp & (1 << 63) else fp

    texts = {r["doc_id"]: r["text"] for r in sub.collect()}
    for doc_id, fp in fps.items():
        assert fp == replica(texts[doc_id]), doc_id

    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dedup.simhash_pairs(sub, bits=64, max_hamming=3).collect()}
    assert pairs.get(("0", "dup_exact")) == 0


def test_simhash_rejects_width_beyond_64(spark, docs):
    with pytest.raises(ValueError):
        dedup.simhash_fingerprints(docs, bits=65)


def test_simhash_pairs_respects_hamming_radius(spark):
    rows = [("a", "alpha beta gamma delta epsilon zeta eta theta"),
            ("b", "alpha beta gamma delta epsilon zeta eta theta"),
            ("c", "totally different words entirely unrelated content here now")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.simhash_pairs(df, max_hamming=2).collect()}
    assert ("a", "b") in pairs
    assert ("a", "c") not in pairs and ("b", "c") not in pairs


def test_bucketed_ann_matches_inline_and_prunes(spark, tmp_path):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    planes = similarity.make_planes(64, n_planes=4)
    path = str(tmp_path / "buckets")
    similarity.write_bucketed_embeddings(rest, planes, path)
    got = [r["vec_id"] for r in
           similarity.lsh_topk_bucketed(spark, path, query, planes, k=5).collect()]
    want = [r["vec_id"] for r in similarity.lsh_topk(rest, query, planes, k=5).collect()]
    assert got == want
    # the probe scan is partition-pruned to the query bucket
    qb = similarity.query_bucket(query, planes)
    plan = (spark.read.parquet(path).filter(F.col("bucket") == qb)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:200]


def test_ivf_finds_planted_copy_and_is_partition_invariant(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    planted = spark.createDataFrame(
        [(999999, query, 0)], "vec_id long, embedding array<float>, label int"
    )
    rest = emb.filter(F.col("vec_id") != 0).unionByName(planted)
    cents = similarity.kmeans_centroids(rest, k=8, iters=3, sample=512)
    # an exact copy shares the query's nearest centroid -> found at nprobe=1
    got = [r["vec_id"] for r in similarity.ivf_topk(rest, cents, query, k=1, nprobe=1).collect()]
    assert got == [999999]
    # assignment is a pure per-row function: repartitioning must not change it
    a1 = sorted(tuple(r) for r in similarity.ivf_assign(rest.repartition(1), cents).collect())
    a8 = sorted(tuple(r) for r in similarity.ivf_assign(rest.repartition(8), cents).collect())
    assert a1 == a8


def test_ivf_partitioned_matches_oneshot_and_finds_planted(spark, tmp_path):
    """write_ivf_cells + ivf_topk_partitioned (the serving path) must return
    exactly what the one-shot ivf_topk computes, and recall a planted copy."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    planted = spark.createDataFrame(
        [(999999, query, 0)], "vec_id long, embedding array<float>, label int"
    )
    rest = emb.filter(F.col("vec_id") != 0).unionByName(planted)
    cents = similarity.kmeans_centroids(rest, k=8, iters=3, sample=512)
    path = str(tmp_path / "cells")
    similarity.write_ivf_cells(rest, cents, path)
    got = [
        (r["vec_id"], r["cos_sim"])
        for r in similarity.ivf_topk_partitioned(
            spark, path, cents, query, k=5, nprobe=2
        ).collect()
    ]
    want = [
        (r["vec_id"], r["cos_sim"])
        for r in similarity.ivf_topk(rest, cents, query, k=5, nprobe=2).collect()
    ]
    assert got == want
    assert got[0][0] == 999999  # the planted exact copy ranks first


def test_fingerprint_ignores_punctuation(spark):
    df = spark.createDataFrame(
        [("a", "Hello, World!"), ("b", "hello world")], "doc_id string, text string"
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in textstats.fingerprints(df).collect()}
    assert fp["a"] == fp["b"]


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            ("e", "the cat and the dog of the house"),
            ("d", "der Hund und die Katze und der Vogel"),
            ("u", "xyzzy plugh"),
        ],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in textstats.lang_id(df).collect()}
    assert out == {"e": "en", "d": "de", "u": "und"}


def test_ann_finds_planted_neighbor(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    # plant a positive-scaled copy: same hyperplane signs (guaranteed same
    # bucket) and cosine 1.0 (guaranteed brute-force top-1)
    planted = spark.createDataFrame(
        [(999999, [v * 0.5 for v in query], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    rest = emb.filter(F.col("vec_id") != 0).unionByName(planted)
    brute = [r["vec_id"] for r in similarity.brute_force_topk(rest, query, k=1).collect()]
    assert brute == [999999]
    planes = similarity.make_planes(64, n_planes=4)
    ann = [r["vec_id"] for r in similarity.lsh_topk(rest, query, planes, k=1).collect()]
    assert ann == [999999]


def test_near_dup_pairs_detects_identical_embeddings(spark):
    rows = [(1, [1.0, 0.0, 0.0], 0), (2, [1.0, 0.0, 0.0], 0), (3, [0.0, 1.0, 0.0], 0),
            (4, [1.0, 0.0, 0.0], 1)]  # id 4 identical but different block
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = {(r["id_a"], r["id_b"]): r["cos_sim"]
             for r in similarity.cosine_near_dup_pairs(df, threshold=0.99).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 4) not in pairs  # blocking bounds the comparison set


def test_media_features_shapes(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = multimodal.media_from_documents(docs)
    feats = multimodal.extract_media_features(media, dim=4).collect()
    assert len(feats) == docs.count()
    assert all(len(r["feature"]) == 4 for r in feats)
    assert all(r["n_bytes"] > 0 for r in feats)


def test_decode_stub_raises(spark):
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"\x89PNG", "image")


def test_winnow_fingerprints_detect_partial_overlap(spark):
    """Winnowing guarantee: any shared substring of length >= k+w-1 yields a
    shared fingerprint, so partially-overlapping docs intersect strongly and
    unrelated docs barely at all."""
    shared = "the quick brown fox jumps over the lazy dog multiple times"
    rows = [("a", "Intro alpha. " + shared + " Ending one."),
            ("b", "Other beta.  " + shared + " Different close."),
            ("c", "completely unrelated content with zero overlap whatsoever here")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    fps = {d: set() for d in "abc"}
    for r in textstats.winnow_posting(df).collect():
        fps[r["doc_id"]].add(r["fp"])
    assert all(fps.values())
    overlap_ab = len(fps["a"] & fps["b"]) / min(len(fps["a"]), len(fps["b"]))
    overlap_ac = len(fps["a"] & fps["c"]) / min(len(fps["a"]), len(fps["c"]))
    assert overlap_ab > 0.4 > overlap_ac
    # the compact signature agrees with the posting set
    sigs = {r["doc_id"]: r["n_fp"]
            for r in textstats.winnow_signatures(df).collect()}
    assert sigs == {d: len(s) for d, s in fps.items()}


def test_media_resize_and_frame_sampling_shapes(spark):
    """Resize: binary in -> exactly width*height bytes out. Frame sampling:
    1->N output rows (every_n-th fixed-size chunk), video rows only."""
    rows = [("0", "x" * 300, "en", "s"),   # image (0 % 3)
            ("2", "y" * 300, "en", "s"),   # video (2 % 3)
            ("5", "z" * 20, "en", "s")]    # video, shorter than one frame
    docs = spark.createDataFrame(rows, "doc_id string, text string, lang string, source string")
    media = multimodal.media_from_documents(docs)
    resized = multimodal.resize_media(media, width=4, height=4).collect()
    assert {len(r["payload"]) for r in resized} == {16}
    assert all(r["checksum"] == sum(r["payload"]) for r in resized)
    frames = multimodal.sample_frames(media, frame_bytes=64, every_n=2).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {"2", "5"}        # video only
    assert [f["frame_idx"] for f in sorted(by_doc["2"], key=lambda r: r["frame_idx"])] == [0, 2, 4][: len(by_doc["2"])]
    assert len(by_doc["2"]) == 2            # 300//64=4 frames, every 2nd -> idx 0,2
    assert by_doc["5"][0]["n_bytes"] == 20  # short payload -> one partial frame


def test_asof_join_interleaved_semantics(spark):
    """Hand-built interleaving: before-first-right -> NULL, equal-ts visible
    when inclusive and hidden when exclusive, latest-at-or-before otherwise,
    keys never cross."""
    from datetime import datetime as dt

    from list_extractor_spark.tda.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u", dt(2024, 1, 1)),   # before any right row -> NULL
         (2, "u", dt(2024, 1, 5)),   # equal ts as right@jan5
         (3, "u", dt(2024, 1, 7)),   # between jan5 and jan9 -> jan5 payload
         (4, "u", dt(2024, 1, 9)),   # equal ts as right@jan9
         (5, "v", dt(2024, 1, 8))],  # other key: only v's rights visible
        "event_id long, key string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", dt(2024, 1, 5), 50), ("u", dt(2024, 1, 9), 90),
         ("v", dt(2024, 1, 2), 20)],
        "key string, ts timestamp, payload int",
    )
    inc = {r["event_id"]: r["payload"]
           for r in asof_join(left, right, "key", "ts", ["payload"]).collect()}
    assert inc == {1: None, 2: 50, 3: 50, 4: 90, 5: 20}
    exc = {r["event_id"]: r["payload"]
           for r in asof_join(left, right, "key", "ts", ["payload"],
                              inclusive=False).collect()}
    assert exc == {1: None, 2: None, 3: 50, 4: 50, 5: 20}


def test_asof_join_null_payload_and_null_ts_semantics(spark):
    """True as-of semantics (= DuckDB ASOF): a NULL payload in the LATEST
    match stays NULL (not skipped for an older non-null), multi-payload
    columns come from one matched row, NULL-ts right rows never match, and
    a colliding payload name raises instead of silently destroying data."""
    from datetime import datetime as dt

    import pytest as _pytest

    from list_extractor_spark.tda.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u", dt(2024, 1, 10))], "event_id long, key string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u", dt(2024, 1, 2), 5, "old"),
         ("u", dt(2024, 1, 8), None, "new"),   # latest match: p NULL, q 'new'
         ("u", None, 99, "phantom")],           # NULL ts: never a match
        "key string, ts timestamp, p int, q string",
    )
    (row,) = asof_join(left, right, "key", "ts", ["p", "q"]).collect()
    assert row["p"] is None and row["q"] == "new"  # one row, not stitched
    with _pytest.raises(ValueError):
        asof_join(left.withColumn("p", F.lit(1)), right, "key", "ts", ["p"])


def test_banded_range_join_crosses_bin_boundaries(spark):
    """Pairs straddling a bin boundary must still be found exactly once, and
    pairs outside the window never."""
    from datetime import datetime as dt

    from list_extractor_spark.tda.range_join import banded_time_pairs

    rows = [
        (1, "u", dt(2024, 1, 1, 0, 9, 59)),   # bin boundary at 600s multiples
        (2, "u", dt(2024, 1, 1, 0, 10, 1)),   # 2s later, adjacent bin
        (3, "u", dt(2024, 1, 1, 0, 25, 0)),   # >600s from both
        (4, "v", dt(2024, 1, 1, 0, 10, 0)),   # other key, never pairs with u
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id string, ts timestamp")
    pairs = banded_time_pairs(df, window_sec=600, key="user_id")
    got = sorted((r["user_id"], r["id_a"], r["id_b"]) for r in pairs.collect())
    assert got == [("u", 1, 2)]
    # banding must stay an equi-join: no nested-loop / cartesian fallback
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan


def test_refresh_rollup_rewrites_only_invalidated_day_partitions(spark, tmp_path):
    """TimescaleDB-style incremental refresh: a base build missing recent +
    late rows, then refresh_rollup(since_day=earliest invalidated day) must
    (a) converge to exactly the full one-pass rollup and (b) leave the day=
    dirs before since_day byte-untouched (same files, same mtimes)."""
    import os

    from list_extractor_spark.tda.hypertable import (
        daily_from_rollup,
        refresh_rollup,
        write_hourly_rollup,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    path = str(tmp_path / "ht")
    # base build: drop everything from 2024-01-20 on, plus "late" rows that
    # belong to 2024-01-15 (so the invalidation window reaches back past the
    # newest data already rolled up)
    late = (F.to_date("ts") == "2024-01-15") & (F.col("event_id") % 3 == 0)
    write_hourly_rollup(
        events.filter((F.to_date("ts") < "2024-01-20") & ~late), path
    )

    def day_dir_state(p):
        state = {}
        for d in os.listdir(p):
            if d.startswith("day="):
                full = os.path.join(p, d)
                state[d] = sorted(
                    (f, os.stat(os.path.join(full, f)).st_mtime_ns)
                    for f in os.listdir(full)
                )
        return state

    before = day_dir_state(path)
    refresh_rollup(events, path, since_day="2024-01-15")
    after = day_dir_state(path)

    untouched = {d for d in before if d < "day=2024-01-15"}
    assert untouched, "fixture must span days before the invalidation window"
    for d in untouched:
        assert after[d] == before[d], f"{d} was rewritten by the refresh"
    assert any(d >= "day=2024-01-20" for d in after)  # new days materialized

    # refreshed rollup == full rebuild, exactly (decimal measures)
    full = str(tmp_path / "full")
    write_hourly_rollup(events, full)
    key = lambda r: (str(r["day"]), r["event_type"])  # noqa: E731
    got = {key(r): (r["n_events"], r["sum_value"])
           for r in daily_from_rollup(spark, path).collect()}
    want = {key(r): (r["n_events"], r["sum_value"])
            for r in daily_from_rollup(spark, full).collect()}
    assert got == want and got


def test_asof_join_exotic_payload_names_and_reserved_guard(spark):
    """Payload columns whose names need backtick quoting (spaces, dots) must
    survive the struct carry (DataType-built, getField access), and inputs
    already containing the internal _asof_* columns must be rejected."""
    from datetime import datetime as dt

    import pytest as _pytest

    from list_extractor_spark.tda.asof import asof_join

    left = spark.createDataFrame(
        [("k", dt(2024, 1, 2))], "key string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("k", dt(2024, 1, 1), 7, "x")],
        "key string, ts timestamp, `my value` int, `a.b` string",
    )
    (row,) = asof_join(left, right, "key", "ts", ["my value", "a.b"]).collect()
    assert row["my value"] == 7 and row["a.b"] == "x"

    with _pytest.raises(ValueError, match="_asof_side"):
        asof_join(left.withColumn("_asof_side", F.lit(1)), right, "key", "ts", ["a.b"])
    with _pytest.raises(ValueError, match="_asof_row"):
        asof_join(left, right.withColumn("_asof_row", F.lit(1)), "key", "ts", ["a.b"])


def test_winnow_overlap_pairs_finds_lifted_paragraph(spark):
    """A document that LIFTS a substring from another (classic partial
    overlap: different lengths, shared span) must surface as a pair with
    high containment overlap; unrelated docs must not pair."""
    from list_extractor_spark.tda.dedup import winnow_overlap_pairs

    src = ("The quarterly revenue figures exceeded expectations across "
           "all divisions of the company this fiscal year.")
    docs = spark.createDataFrame(
        [
            ("orig", src),
            ("lifted", "Completely new framing paragraph. " + src
             + " And an unrelated closing remark follows here."),
            ("other", "Umbrella weather patterns differ sharply between "
             "coastal regions and inland plateaus during monsoon season."),
        ],
        schema="doc_id string, text string",
    )
    pairs = {(r["doc_a"], r["doc_b"]): r for r in
             winnow_overlap_pairs(docs, min_shared=2).collect()}
    assert ("lifted", "orig") in pairs
    row = pairs[("lifted", "orig")]
    assert row["overlap"] >= 0.5  # most of orig's fingerprints are contained
    assert not any("other" in p for p in pairs)


def test_hash_split_stable_and_leakage_free(spark):
    """Split membership must be a pure function of the doc's own key:
    identical across recomputation, partitioning, and corpus growth (adding
    docs never moves an existing doc across the train/eval boundary), with
    fractions roughly respected."""
    from list_extractor_spark.tda.sampling import hash_split

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id")
    )
    splits = {"train": 0.9, "val": 0.05, "test": 0.05}
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, splits).collect()}
    b = {r["doc_id"]: r["split"]
         for r in hash_split(docs.repartition(7), splits).collect()}
    assert a == b
    sub = {r["doc_id"]: r["split"]
           for r in hash_split(docs.limit(20), splits).collect()}
    assert all(a[d] == s for d, s in sub.items())  # growth-stable
    frac_train = sum(1 for s in a.values() if s == "train") / len(a)
    assert 0.84 <= frac_train <= 0.96
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hash_split(docs, {"train": 0.5, "val": 0.1})


def test_pack_documents_budget_bound_and_determinism(spark):
    """Every pack's token total must stay within budget + one boundary doc
    (the cumulative-sum guarantee), ids must be deterministic under
    repartitioning, and the range-parallel form must hold the same bound
    per pack."""
    from list_extractor_spark.tda.sampling import pack_documents
    from list_extractor_spark.tda.textstats import token_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    toks = token_counts(docs).select(
        "doc_id", F.col("n_ws_tokens").cast("long").alias("n_tokens")
    )
    budget = 256
    for n_ranges in (1, 4):
        packed = pack_documents(toks, budget, n_ranges=n_ranges)
        agg = packed.groupBy("pack_id").agg(
            F.sum("n_tokens").alias("total"), F.max("n_tokens").alias("biggest")
        ).collect()
        assert agg
        for r in agg:
            assert r["total"] <= budget + r["biggest"], r
        again = pack_documents(toks.repartition(5), budget, n_ranges=n_ranges)
        assert {(r["doc_id"], r["pack_id"]) for r in packed.collect()} == {
            (r["doc_id"], r["pack_id"]) for r in again.collect()
        }


def test_decontaminate_flags_verbatim_eval_overlap(spark):
    """A training doc embedding an eval question verbatim must be flagged
    (and removed by remove_contaminated); clean docs survive untouched."""
    from list_extractor_spark.tda.dedup import decontaminate, remove_contaminated

    ev_q = "what is the capital city of the republic of france"
    train = spark.createDataFrame(
        [
            ("leaky", "Some scraped quiz page asks: " + ev_q + " and offers choices."),
            ("clean", "A completely unrelated document about maritime navigation beacons "
             "and their mandated luminosity standards."),
        ],
        schema="doc_id string, text string",
    )
    ev = spark.createDataFrame([("q1", ev_q)], "doc_id string, text string")
    hits = {(r["doc_id"], r["eval_id"]): r["n_hits"]
            for r in decontaminate(train, ev, n=5, min_hits=2).collect()}
    assert ("leaky", "q1") in hits and hits[("leaky", "q1")] >= 2
    assert not any(d == "clean" for d, _ in hits)
    kept = [r["doc_id"] for r in
            remove_contaminated(train, decontaminate(train, ev, n=5, min_hits=2)).collect()]
    assert kept == ["clean"]


def test_line_dedup_removes_repeats_preserving_order(spark):
    """Within-doc repeated lines are dropped keeping FIRST occurrences in
    original order; clean docs pass through unchanged with ratio 0."""
    from list_extractor_spark.tda.textstats import line_dedup

    docs = spark.createDataFrame(
        [
            ("spam", "buy now\nlimited offer\nbuy now\nact fast\nbuy now"),
            ("clean", "alpha\nbeta\ngamma"),
        ],
        schema="doc_id string, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert out["spam"]["text"] == "buy now\nlimited offer\nact fast"
    assert out["spam"]["n_lines"] == 5 and out["spam"]["n_distinct_lines"] == 3
    assert out["spam"]["dup_line_ratio"] == 0.4
    assert out["clean"]["text"] == "alpha\nbeta\ngamma"
    assert out["clean"]["dup_line_ratio"] == 0.0


def test_jsonl_loader_normalizes_and_feeds_tda_ops(spark, tmp_path):
    """JSONL corpus (mixed field availability, malformed line, numeric ids)
    must normalize to the flat documents contract without a schema-inference
    pre-scan, and feed the tda operators directly."""
    import json

    from list_extractor_spark.sources.loaders import load_documents_jsonl
    from list_extractor_spark.tda.textstats import token_counts

    p = tmp_path / "corpus.jsonl"
    rows = [
        {"id": 1, "text": "the first document body", "lang": "en"},
        {"id": 2, "text": "zweites dokument ohne sprache"},  # no lang field
        {"id": 3, "text": None},           # null text -> dropped
        {"text": "no id at all"},          # missing id -> dropped
    ]
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
        f.write("{not json at all\n")       # malformed -> dropped
    docs = load_documents_jsonl(spark, str(p))
    got = {r["doc_id"]: (r["text"], r["lang"]) for r in docs.collect()}
    assert got == {
        "1": ("the first document body", "en"),
        "2": ("zweites dokument ohne sprache", "en"),
    }
    counts = {r["doc_id"]: r["n_ws_tokens"] for r in token_counts(docs).collect()}
    assert counts == {"1": 4, "2": 4}


def test_profile_exact_and_approx_modes(spark):
    """Single-pass profile: null counts exact, native-type min/max (NOT
    lexicographic on stringified numerics), approx cardinality within HLL
    tolerance of exact."""
    from list_extractor_spark.tda.profile import profile

    df = spark.createDataFrame(
        [(9, "a"), (10, "b"), (100, None), (None, "b")],
        schema="v long, s string",
    )
    exact = {r["column"]: r for r in profile(df, exact=True).collect()}
    assert exact["v"]["n_nulls"] == 1 and exact["s"]["n_nulls"] == 1
    assert exact["v"]["n_distinct"] == 3 and exact["s"]["n_distinct"] == 2
    # native-type min/max: 9 < 10 < 100 numerically (lexicographic would
    # give min "10", max "9")
    assert exact["v"]["min_value"] == "9" and exact["v"]["max_value"] == "100"
    assert exact["v"]["n_rows"] == 4

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ex = {r["column"]: r["n_distinct"]
          for r in profile(ev, ["user_id", "event_type"], exact=True).collect()}
    ap = {r["column"]: r["n_distinct"]
          for r in profile(ev, ["user_id", "event_type"]).collect()}
    for c in ex:
        assert abs(ap[c] - ex[c]) <= max(2, 0.05 * ex[c]), (c, ap[c], ex[c])


def test_stratified_sample_deterministic_and_nested(spark):
    """Per-stratum sampling must be reproducible under repartitioning, keep
    rates roughly, and produce NESTED samples: every doc kept at rate r is
    kept at any rate > r (the ablation-pipeline property random sampleBy
    breaks)."""
    from list_extractor_spark.tda.sampling import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "lang"
    )
    small = {r["doc_id"] for r in stratified_sample(
        docs, {"en": 0.2}, "lang").collect()}
    big = {r["doc_id"] for r in stratified_sample(
        docs.repartition(9), {"en": 0.6}, "lang").collect()}
    assert small and small <= big  # nested + partitioning-independent
    n_en = docs.filter(F.col("lang") == "en").count()
    assert 0.05 * n_en <= len(small) <= 0.4 * n_en
    # default_rate drops unlisted strata entirely
    assert not {r["lang"] for r in stratified_sample(
        docs, {"en": 0.5}, "lang").collect()} - {"en"}


def test_mix_sources_solves_rates_and_matches_replica(spark):
    """mix_sources must solve keep rates from target proportions (binding
    source keeps everything), draw with the portable md5 bucket, drop
    unweighted sources, and ignore weighted-but-absent ones."""
    import hashlib

    from list_extractor_spark.tda.sampling import mix_sources

    rows = (
        [(f"a{i}", "A") for i in range(10)]
        + [(f"b{i}", "B") for i in range(40)]
        + [(f"x{i}", "X") for i in range(7)]  # unweighted -> dropped
    )
    docs = spark.createDataFrame(rows, "doc_id string, source string")
    # targets 50/50 with n_A=10, n_B=40: N_out = min(20, 80) = 20 ->
    # r_A = 1.0 (binding), r_B = 0.25; 'ghost' has no docs -> ignored
    got = {
        r["doc_id"]: (r["source"], r["mix_rate"])
        for r in mix_sources(
            docs, {"A": 0.5, "B": 0.5, "ghost": 0.0001}
        ).collect()
    }

    tot = 0.5 + 0.5 + 0.0001
    n_out = min(10 / (0.5 / tot), 40 / (0.5 / tot))
    expect = {}
    for d, s in rows:
        if s == "X":
            continue
        rate = min(1.0, (0.5 / tot) * n_out / (10 if s == "A" else 40))
        b = int(hashlib.md5(d.encode()).hexdigest()[:4], 16)
        if b < round(rate * 65536):
            expect[d] = (s, round(rate, 6))
    assert got == expect
    assert sum(1 for s, _ in got.values() if s == "A") == 10  # binding: all
    # deterministic under repartitioning
    again = {
        r["doc_id"]: (r["source"], r["mix_rate"])
        for r in mix_sources(
            docs.repartition(7), {"A": 0.5, "B": 0.5, "ghost": 0.0001}
        ).collect()
    }
    assert again == got
    with pytest.raises(ValueError):
        mix_sources(docs, {})
    with pytest.raises(ValueError):
        mix_sources(docs, {"A": 0.0})


def test_containment_catches_embedded_document(spark):
    """A small doc fully embedded in a large one must score containment 1.0
    while its Jaccard dilutes below the symmetric threshold — the case the
    asymmetric metric exists for."""
    small = "alpha beta gamma delta epsilon zeta"
    big = small + " " + " ".join(f"filler{i} pad{i} more{i}" for i in range(20))
    docs = spark.createDataFrame(
        [("big", big), ("small", small), ("other", "completely unrelated words here")],
        "doc_id string, text string",
    )
    rows = {
        (r["doc_a"], r["doc_b"]): (r["containment"], r["jaccard"])
        for r in dedup.shingle_containment_pairs(docs, threshold=0.8).collect()
    }
    assert set(rows) == {("big", "small")}
    c, j = rows[("big", "small")]
    assert c == 1.0 and j < 0.2  # Jaccard would have missed this pair
    # symmetric jaccard at the same bar finds nothing
    assert dedup.shingle_jaccard_pairs(docs, threshold=0.8).count() == 0


def test_minhash_incremental_never_pairs_corpus_with_corpus(spark):
    """The ingestion join shape: corpus x corpus near-dups must NOT appear
    (their dedup already happened when they were committed); cross-side and
    within-batch pairs must."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [("c1", text), ("c2", text), ("c3", "totally different words here ok")],
        "doc_id string, text string",
    )
    incoming = spark.createDataFrame(
        [("n1", text), ("n2", text), ("n3", "unrelated fresh content entirely")],
        "doc_id string, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_incremental_pairs(
            corpus, incoming, threshold=0.5
        ).collect()
    }
    assert ("c1", "c2") not in pairs  # corpus x corpus excluded by design
    assert {("c1", "n1"), ("c1", "n2"), ("c2", "n1"), ("c2", "n2"), ("n1", "n2")} <= pairs
    assert not any("n3" in p or "c3" in p for p in pairs)
    # within_incoming=False drops the batch-internal pair, keeps cross
    cross_only = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_incremental_pairs(
            corpus, incoming, threshold=0.5, within_incoming=False
        ).collect()
    }
    assert ("n1", "n2") not in cross_only and ("c1", "n1") in cross_only


def test_dedup_incoming_verdicts(spark):
    """Corpus dups drop unconditionally (the committed copy wins); a
    within-batch cluster keeps its min doc_id; unpaired docs keep."""
    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t2 = "one two three four five six seven eight nine ten eleven"
    corpus = spark.createDataFrame([("c1", t1)], "doc_id string, text string")
    incoming = spark.createDataFrame(
        [("n1", t1), ("n2", t2), ("n3", t2), ("n4", "fresh standalone words")],
        "doc_id string, text string",
    )
    got = {
        r["doc_id"]: r["keep"]
        for r in dedup.dedup_incoming(corpus, incoming, threshold=0.5).collect()
    }
    # n1 dups the corpus -> drop even though it is the batch's min id;
    # n2/n3 cluster within the batch -> keep_min keeps n2; n4 untouched
    assert got == {"n1": False, "n2": True, "n3": False, "n4": True}


def _jobs_run_by(spark, fn):
    """(fn(), number of Spark jobs fn ran), via a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"tda-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the async listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_dedup_incoming_job_count(spark):
    """One verdict collect runs at most 17 Spark jobs: one checkpoint of
    both sides' signatures, one band-probe join, and pair sides taken from
    the batch's own ids (the corpus is read once).  NULL-text and 2-token
    docs have no signature and keep."""
    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t2 = "one two three four five six seven eight nine ten eleven"
    corpus = spark.createDataFrame([("c1", t1)], "doc_id string, text string")
    incoming = spark.createDataFrame(
        [("n1", t1), ("n2", t2), ("n3", t2), ("n4", "fresh standalone words"),
         ("n5", None), ("n6", "two tokens")],
        "doc_id string, text string",
    )
    rows, n_jobs = _jobs_run_by(
        spark, lambda: dedup.dedup_incoming(corpus, incoming, threshold=0.5).collect()
    )
    assert {r["doc_id"]: r["keep"] for r in rows} == {
        "n1": False, "n2": True, "n3": False, "n4": True, "n5": True, "n6": True
    }
    assert n_jobs <= 17, n_jobs


def test_minhash_incremental_equals_self_join_minus_corpus_pairs(spark):
    """Seeded: the incremental pairs are exactly minhash_lsh_pairs over
    corpus + incoming minus the corpus x corpus pairs (and minus the
    incoming x incoming pairs when within_incoming=False), with planted
    exact and near copies on both sides and a hub of near copies whose
    buckets bucket_cap drops."""
    import random

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(400)]
    text = lambda n: " ".join(rng.choice(vocab) for _ in range(n))  # noqa: E731

    def near(t):
        toks = t.split()
        toks[rng.randrange(len(toks))] = rng.choice(vocab)
        return " ".join(toks)

    hub = text(40)
    corpus = [(f"c{i:02d}", text(30)) for i in range(30)]
    corpus += [(f"ch{i}", near(hub)) for i in range(4)]
    incoming = [(f"n{i:02d}", text(30)) for i in range(20)]
    incoming += [(f"nh{i}", near(hub)) for i in range(4)]
    incoming += [(f"x{i}", corpus[i][1]) for i in range(3)]  # exact, cross-side
    incoming += [(f"y{i}", near(corpus[10 + i][1])) for i in range(3)]  # near, cross-side
    incoming += [(f"z{i}", incoming[i][1]) for i in range(3)]  # exact, within
    schema = "doc_id string, text string"
    c_df = spark.createDataFrame(corpus, schema)
    i_df = spark.createDataFrame(incoming, schema)
    in_corpus = {d for d, _ in corpus}
    args = {"k": 16, "bands": 8, "threshold": 0.5}

    def pairs(df):
        return {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in df.collect()}

    hub_pairs = {}
    for cap in (None, 5):
        full = pairs(dedup.minhash_lsh_pairs(c_df.unionByName(i_df), bucket_cap=cap, **args))
        want = {p for p in full if not (p[0] in in_corpus and p[1] in in_corpus)}
        got = pairs(dedup.minhash_incremental_pairs(c_df, i_df, bucket_cap=cap, **args))
        assert got == want, cap
        cross = {p for p in want if (p[0] in in_corpus) != (p[1] in in_corpus)}
        assert cross and cross != want  # both kinds of pair occur
        assert pairs(
            dedup.minhash_incremental_pairs(
                c_df, i_df, bucket_cap=cap, within_incoming=False, **args
            )
        ) == cross, cap
        hub_pairs[cap] = {p for p in want if p[0].startswith(("ch", "nh"))}
    # the hub pairs up widely, and the cap drops some of its buckets
    assert len(hub_pairs[None]) > 10 and hub_pairs[5] < hub_pairs[None]


def test_dedup_incoming_null_short_and_chain(spark):
    """NULL, empty and < 3-token docs keep; in a within-batch chain
    a~b~c (a !~ c) only the cluster minimum a survives."""
    words = [f"t{i}" for i in range(60)]
    span = lambda lo: " ".join(words[lo : lo + 40])  # noqa: E731
    corpus = spark.createDataFrame(
        [("c1", "unrelated corpus words that pair with nothing here"), ("c2", None)],
        "doc_id string, text string",
    )
    incoming = spark.createDataFrame(
        [("a", span(0)), ("b", span(5)), ("c", span(10)),
         ("n", None), ("e", ""), ("s", "two tokens")],
        "doc_id string, text string",
    )
    args = {"k": 16, "bands": 8, "threshold": 0.7}
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_incremental_pairs(corpus, incoming, **args).collect()
    }
    assert pairs == {("a", "b"), ("b", "c")}  # the chain: a and c do not pair
    got = {r["doc_id"]: r["keep"] for r in dedup.dedup_incoming(corpus, incoming, **args).collect()}
    assert got == {"a": True, "b": False, "c": False, "n": True, "e": True, "s": True}


def test_mix_sources_random_configs_match_replica(spark):
    """Seeded-loop randomized check (same pattern as the CC property test —
    hypothesis would respawn Spark jobs per example): random corpora,
    UNNORMALIZED weights, absent-but-weighted and present-but-unweighted
    sources, vs a python replica running the identical IEEE arithmetic and
    HALF_UP bound (Spark F.round semantics, NOT python banker's round)."""
    import hashlib
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from list_extractor_spark.tda.sampling import mix_sources

    for seed in (3, 17, 99, 2024):
        rng = random.Random(seed)
        srcs = [f"s{i}" for i in range(rng.randint(2, 5))]
        rows = [
            (f"d{seed}_{s}_{i}", s)
            for s in srcs
            for i in range(rng.randint(1, 30))
        ]
        weights = {s: rng.uniform(0.05, 5.0) for s in rng.sample(srcs, len(srcs) - 1) or srcs[:1]}
        weights["ghost"] = rng.uniform(0.01, 1.0)  # weighted, absent
        docs = spark.createDataFrame(rows, "doc_id string, source string")
        got = {
            r["doc_id"]: (r["source"], r["mix_rate"])
            for r in mix_sources(docs.repartition(3), weights).collect()
        }

        total = float(sum(weights.values()))
        n = {s: sum(1 for _, x in rows if x == s) for s in srcs}
        present = [s for s in srcs if s in weights and n.get(s)]
        n_out = min(n[s] / (weights[s] / total) for s in present)
        expect = {}
        for d, s in rows:
            if s not in weights:
                continue
            w = weights[s] / total
            rate = min(1.0, w * n_out / n[s])
            bound = float(
                Decimal(repr(rate * 65536)).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )
            if int(hashlib.md5(d.encode()).hexdigest()[:4], 16) < bound:
                expect[d] = (
                    s,
                    float(
                        Decimal(repr(rate)).quantize(
                            Decimal("1e-6"), rounding=ROUND_HALF_UP
                        )
                    ),
                )
        assert got == expect, f"seed {seed}"


def test_bucket16_matches_hashlib_and_rates_nest(spark):
    """The sampling bucket must equal int(md5(key)[:4], 16) computed by ANY
    engine (the portability claim hash_split is built on), and membership
    under increasing rates must be nested for arbitrary rate ladders."""
    import hashlib

    from list_extractor_spark.tda.sampling import _SPLIT_BUCKETS, _bucket16

    ids = [f"doc_{i}" for i in range(300)]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    got = {r["doc_id"]: r["b"]
           for r in df.select("doc_id", _bucket16(F.col("doc_id")).alias("b")).collect()}
    want = {i: int(hashlib.md5(i.encode()).hexdigest()[:4], 16) for i in ids}
    assert got == want
    for rates in ([0.01, 0.3, 0.31, 0.9], [0.0, 0.5, 1.0]):
        kept_sets = [
            {i for i in ids if want[i] < int(round(r * _SPLIT_BUCKETS))}
            for r in rates
        ]
        for small, big in zip(kept_sets, kept_sets[1:]):
            assert small <= big
    assert len({i for i in ids if want[i] < _SPLIT_BUCKETS}) == len(ids)


def _uf_components(pairs):
    from list_extractor_spark.core.components import components

    return components(pairs)


def test_near_dup_resolve_fast_vs_distributed_vs_unionfind(spark):
    """The distributed label-propagation+shortcut loop, the driver-side
    union-find fast path, and the pure-Python core must all agree — on a
    graph with a long chain (worst case for propagation), a star, a cycle,
    and duplicate/reversed edges."""
    chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(12)]
    star = [("hub", f"s{i}") for i in range(5)]
    cyc = [("x1", "x2"), ("x2", "x3"), ("x3", "x1")]
    dup = [("c01", "c00"), ("c00", "c01")]  # reversed + repeated
    pairs = spark.createDataFrame(
        chain + star + cyc + dup, "doc_a string, doc_b string"
    )
    want = sorted(
        (d, c, d == c)
        for d, c in _uf_components([(a, b) for a, b in chain + star + cyc + dup]).items()
    )
    fast = sorted(map(tuple, dedup.near_dup_resolve(pairs).collect()))
    dist = sorted(
        map(tuple, dedup.near_dup_resolve(pairs, driver_threshold=0).collect())
    )
    assert fast == want
    assert dist == want


def test_near_dup_resolve_distributed_result_is_checkpointed(spark):
    """Each loop round must truncate lineage via localCheckpoint: the
    returned plan is a scan over the checkpointed label RDD, not the
    accumulated join tree (which would grow per round and re-run on every
    downstream action)."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "doc_a string, doc_b string"
    )
    out = dedup.near_dup_resolve(pairs, driver_threshold=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan
    assert "Join" not in plan, plan  # keep_min needs no survivor join


def test_near_dup_resolve_keep_longest_and_corpus(spark):
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string"
    )
    docs = spark.createDataFrame(
        [("a", "short"), ("b", "the longest text"), ("c", "mid text"),
         ("x", "same"), ("y", "same"), ("z", "untouched bystander")],
        "doc_id string, text string",
    )
    res = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in dedup.near_dup_resolve(pairs, docs, policy="keep_longest").collect()
    }
    assert res["b"] == ("a", True)  # longest in {a,b,c}
    assert res["a"][1] is False and res["c"][1] is False
    assert res["x"] == ("x", True)  # tie on length -> min doc_id
    assert res["y"][1] is False
    kept = sorted(r["doc_id"] for r in dedup.dedup_corpus(docs, pairs).collect())
    assert kept == ["a", "x", "z"]  # keep_min survivors + untouched doc
    kept_long = sorted(
        r["doc_id"]
        for r in dedup.dedup_corpus(docs, pairs, policy="keep_longest").collect()
    )
    assert kept_long == ["b", "x", "z"]


def test_near_dup_resolve_empty_pairs(spark):
    pairs = spark.createDataFrame([], "doc_a string, doc_b string")
    assert dedup.near_dup_resolve(pairs).count() == 0
    docs = spark.createDataFrame([("a", "t")], "doc_id string, text string")
    assert dedup.dedup_corpus(docs, pairs).count() == 1


def test_semantic_dedup_clusters_injected_near_identical_embeddings(spark):
    """SemDeDup end-to-end: two nearly-identical injected vectors must form
    one cluster with exactly one survivor, regardless of which k-means cell
    they land in (identical directions always share a cell)."""
    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    v = base.filter(F.col("vec_id") == 1).first()["embedding"]
    near = [x * 1.0001 for x in v]
    extra = spark.createDataFrame(
        [(90001, v, 99), (90002, near, 99)],
        schema=base.select("vec_id", "embedding", "label").schema,
    )
    emb = base.select("vec_id", "embedding", "label").unionByName(extra)
    verdict = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in similarity.semantic_dedup(emb, k=4, threshold=0.999).collect()
    }
    assert "90001" in verdict and "90002" in verdict
    assert verdict["90001"][0] == verdict["90002"][0]  # same cluster
    kept = [d for d in ("1", "90001", "90002") if d in verdict and verdict[d][1]]
    assert len(kept) == 1  # exactly one survivor among the near-identicals


def test_profile_numeric_typed_stats(spark):
    """profile_numeric: numeric columns auto-picked, typed double min/max,
    decimal-exact mean, nulls excluded from the mean denominator."""
    from list_extractor_spark.tda.profile import profile_numeric

    df = spark.createDataFrame(
        [(1, 2.5, "x"), (2, None, "y"), (None, 4.5, "z")],
        "a int, b double, s string",
    )
    rows = {r["column"]: r for r in profile_numeric(df, exact=True).collect()}
    assert set(rows) == {"a", "b"}  # string column skipped by default
    assert rows["a"]["n_nulls"] == 1
    assert rows["a"]["min_value"] == 1.0 and rows["a"]["max_value"] == 2.0
    assert rows["a"]["mean_value"] == 1.5  # mean over NON-NULL values
    assert rows["b"]["mean_value"] == 3.5
    # large-magnitude doubles must not overflow the decimal accumulator into
    # a silent NULL mean (r5 ADVICE: 28,10 had only 18 integer digits)
    big = spark.createDataFrame([(1e20,), (3e20,)], "x double")
    brows = {r["column"]: r for r in profile_numeric(big, exact=True).collect()}
    assert brows["x"]["mean_value"] == 2e20


def test_query_buckets_rejects_probe_width_past_flip_ceiling():
    planes = similarity.make_planes(8, n_planes=4)
    q = [1.0] * 8
    assert len(similarity.query_buckets(q, planes, n_probe_buckets=5)) == 5
    with pytest.raises(ValueError):
        similarity.query_buckets(q, planes, n_probe_buckets=6)


def test_near_dup_resolve_distributed_matches_unionfind_on_random_graphs(spark):
    """Property check over random pair graphs: the distributed CC loop must
    equal the pure union-find on arbitrary topologies (dense cliques, long
    chains, isolated pairs, duplicate edges) — one Spark session, many seeded
    graphs (hypothesis would respawn jobs per example; seeded loop is the
    Spark-friendly form)."""
    import random

    for seed in (1, 7, 42, 1337):
        rng = random.Random(seed)
        n = rng.randint(5, 60)
        m = rng.randint(1, 2 * n)
        pairs = [
            (f"n{rng.randrange(n):03d}", f"n{rng.randrange(n):03d}")
            for _ in range(m)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            continue
        want = sorted(
            (d, c, d == c) for d, c in _uf_components(pairs).items()
        )
        df = spark.createDataFrame(pairs, "doc_a string, doc_b string")
        got = sorted(
            map(tuple, dedup.near_dup_resolve(df, driver_threshold=0).collect())
        )
        assert got == want, f"seed={seed}"


def test_minhash_arrow_edge_docs_match_relational(spark):
    """The Arrow minhash kernel must equal the pure-Python string-set
    oracle (fixtures/contract_oracle.minhash_lsh_rows) on the awkward
    inputs: unicode, sub-n-token docs (excluded), empty text, tab/newline
    whitespace, and shingles past the vectorizer's long-string fallback."""
    from list_extractor_spark.fixtures.contract_oracle import minhash_lsh_rows

    long_tok = "x" * 600  # one shingle > LONG_STRING_CUTOFF
    rows = [
        ("u1", "häuser straße münchen die straße ist lang und die häuser alt"),
        ("u2", "häuser straße münchen die straße ist lang und die häuser neu"),
        ("tiny", "two tokens"),
        ("empty", ""),
        ("ws", "  a\tb\nc  d\x0b e f  g h i  "),
        ("long1", f"start {long_tok} middle tail words here now ok"),
        ("long2", f"start {long_tok} middle tail words here now no"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    for bands in (4, 8):
        a = sorted(map(tuple, dedup.minhash_lsh_pairs(
            docs, k=16, bands=bands, threshold=0.1).collect()))
        r = minhash_lsh_rows(None, k=16, bands=bands, threshold=0.1, docs=rows)
        assert a == r, (bands, a, r)
    assert any(p[0] == "u1" and p[1] == "u2" for p in a)  # unicode pair found
    stats_ids = {
        r["doc_id"] for r in dedup.minhash_doc_stats(docs).collect()
    }
    assert "tiny" not in stats_ids and "empty" not in stats_ids
    assert {"u1", "u2", "ws", "long1", "long2"} <= stats_ids


def test_cosine_near_dup_cell_cap_splits_mega_cell_exactly(spark):
    """Oversized-cell guard (r5 verdict #3): one adversarial mega-cell (every
    vector in a single block) must be hash-chunked into bounded chunk-pair
    groups with pairs IDENTICAL to the unguarded all-pairs run — the chunking
    is exact, not a recall trade."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(8, 16))
    rows = []
    for i in range(48):  # 6 near-dup families of 8 -> plenty of pairs
        v = base[i % 8] + rng.normal(scale=0.01, size=16)
        rows.append((i, [float(x) for x in v], 0))  # ONE block for all
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    want = sorted(
        map(tuple, similarity.cosine_near_dup_pairs(
            emb, threshold=0.9, cell_cap=None).collect())
    )
    assert len(want) > 40  # non-trivial pair set
    capped = similarity.cosine_near_dup_pairs(emb, threshold=0.9, cell_cap=8)
    got = sorted(map(tuple, capped.collect()))
    assert got == want
    # the guard actually engaged: the plan groups on the chunk-pair key
    assert "_ca" in capped._jdf.queryExecution().executedPlan().toString()


def test_cosine_near_dup_null_block_rows_still_pair(spark):
    """Rows whose block column is NULL form a real group (the uncapped
    groupBy semantics); the cell_cap path's sizes join must be null-safe,
    not silently drop them (r6 review finding)."""
    v = [1.0, 0.0, 0.0, 0.0]
    emb = spark.createDataFrame(
        [(1, v, None), (2, [x * 1.0001 for x in v], None), (3, v, 7)],
        "vec_id long, embedding array<double>, label int",
    )
    for cap in (None, 2):
        pairs = sorted(map(tuple, similarity.cosine_near_dup_pairs(
            emb, threshold=0.99, cell_cap=cap).collect()))
        assert [(p[0], p[1]) for p in pairs] == [(1, 2)], (cap, pairs)


def test_minhash_rejects_bad_band_config(spark):
    docs = spark.createDataFrame([("a", "x y z w")], "doc_id string, text string")
    for k, bands in ((4, 8), (16, 5), (16, 0)):
        with pytest.raises(ValueError):
            dedup.minhash_lsh_pairs(docs, k=k, bands=bands).collect()


def test_semantic_dedup_auto_k_and_capped_cells(spark):
    """k='auto' derives the cell count from the corpus size; the planted
    near-identical pair still resolves to one survivor with a tiny cell_cap
    forcing the chunked path."""
    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    v = base.filter(F.col("vec_id") == 1).first()["embedding"]
    near = [x * 1.0001 for x in v]
    extra = spark.createDataFrame(
        [(90001, v, 99), (90002, near, 99)],
        schema=base.select("vec_id", "embedding", "label").schema,
    )
    emb = base.select("vec_id", "embedding", "label").unionByName(extra)
    assert similarity.semantic_dedup_k(4_000_000) == 977
    assert similarity.semantic_dedup_k(100, target_cell=4096) == 1
    assert similarity.semantic_dedup_k(10**12) == 1024  # sample//4 clamp
    verdict = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in similarity.semantic_dedup(
            emb, k="auto", target_cell=64, threshold=0.999, cell_cap=16
        ).collect()
    }
    assert verdict["90001"][0] == verdict["90002"][0]
    kept = [d for d in ("1", "90001", "90002") if d in verdict and verdict[d][1]]
    assert len(kept) == 1


def test_near_dup_resolve_unions_multiple_evidence_sources(spark):
    """near_dup_resolve accepts ANY (doc_a, doc_b) frame, so multi-evidence
    dedup is plain composition: union the minhash, simhash and semantic
    pair frames and resolve ONCE — clusters merge across evidence types
    (a <-> b from minhash and b <-> c from simhash put a, b, c in one
    cluster with one survivor)."""
    mh = spark.createDataFrame([("a", "b")], "doc_a string, doc_b string")
    sh = spark.createDataFrame([("b", "c")], "doc_a string, doc_b string")
    sem = spark.createDataFrame([("d", "e")], "doc_a string, doc_b string")
    verdict = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in dedup.near_dup_resolve(
            mh.unionByName(sh).unionByName(sem)
        ).collect()
    }
    assert {verdict[x][0] for x in "abc"} == {"a"}
    assert [verdict[x][1] for x in "abcde"] == [True, False, False, True, False]


def test_near_dup_resolve_distributed_propagate_only_round_converges(spark):
    """Directed adversarial regression (r5 ADVICE): a round where only the
    min-label PROPAGATE step lowers a label (pointer-doubling shortcut idle)
    must still count as changed.  Chain (1,8),(8,9),(9,5) breaks a convergence
    flag that watches the shortcut alone — '5' ends stranded as its own
    cluster/survivor instead of joining cluster '1'.  Variants permute which
    end of the chain holds the component minimum."""
    chains = [
        [("1", "8"), ("8", "9"), ("9", "5")],
        [("5", "9"), ("9", "8"), ("8", "1")],
        [("9", "1"), ("1", "5"), ("5", "8")],
        [("7", "3"), ("3", "6"), ("6", "2"), ("2", "9"), ("9", "4")],
    ]
    import random

    for seed in (11, 23):  # long chains with shuffled (non-monotone) ids
        rng = random.Random(seed)
        n = rng.randint(8, 40)
        names = [f"n{i:03d}" for i in range(n)]
        rng.shuffle(names)
        chains.append([(names[i], names[i + 1]) for i in range(n - 1)])
    for pairs in chains:
        want = sorted((d, c, d == c) for d, c in _uf_components(pairs).items())
        df = spark.createDataFrame(pairs, "doc_a string, doc_b string")
        got = sorted(
            map(tuple, dedup.near_dup_resolve(df, driver_threshold=0).collect())
        )
        assert got == want, f"chain={pairs}"


def test_quality_filter_rules_and_reasons(spark):
    """quality_filter: keep verdicts + first-failed-rule reasons, override
    rules honored, and the drop accounting shape."""
    good = ("The quick brown fox jumps over the lazy dog and runs to the "
            "river where it drinks in the morning sun. " * 4)
    docs = spark.createDataFrame(
        [("ok", good),
         ("short", "tiny text"),
         ("shouty", ("THE QUICK BROWN FOX IS VERY LOUD AND KEEPS SHOUTING "
                     "AT THE TOP OF ITS VOICE ALL DAY LONG. " * 4))],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r for r in textstats.quality_filter(docs).collect()}
    assert out["ok"]["keep"] is True and out["ok"]["reason"] is None
    assert out["short"]["keep"] is False and out["short"]["reason"] == "too_short"
    assert out["shouty"]["keep"] is False and out["shouty"]["reason"] == "upper_heavy"
    # override: relax the length rule -> 'short' now fails on tokens instead
    relaxed = {
        r["doc_id"]: r
        for r in textstats.quality_filter(docs, rules={"min_chars": 1}).collect()
    }
    assert relaxed["short"]["reason"] == "too_few_tokens"
    # no UDF / no shuffle: the filter is a narrow codegen projection
    plan = textstats.quality_filter(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "mapInPandas" not in plan


def test_line_filter_c4_rules(spark):
    """line_filter: terminal punctuation, min words, banned substrings, order
    preserved, zero-kept documents yield empty text (not null)."""
    docs = spark.createDataFrame(
        [
            ("a", "This line is proper prose.\nshort\nAnother good sentence here!\n"
                  "this one has no terminal punctuation\n"
                  "Contains lorem ipsum filler text.\nfunction() { code; }"),
            ("b", "nothing survives here"),
        ],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r for r in textstats.line_filter(docs).collect()}
    assert out["a"]["text"] == "This line is proper prose.\nAnother good sentence here!"
    assert out["a"]["n_lines"] == 6 and out["a"]["n_kept"] == 2
    assert out["b"]["text"] == "" and out["b"]["n_kept"] == 0
    # single exchange, no python workers
    plan = textstats.line_filter(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1 and "mapInPandas" not in plan


def test_top_ngrams_counts_and_plan(spark):
    docs = spark.createDataFrame(
        [("a", "the quick fox and the quick dog"),
         ("b", "the quick fox again"),
         ("c", "x")],  # below n -> contributes nothing
        "doc_id string, text string",
    )
    rows = textstats.top_ngrams(docs, n=2, k=3).collect()
    assert (rows[0]["gram"], rows[0]["n_docs"], rows[0]["n_occurrences"]) == (
        "the quick", 2, 3
    )
    assert rows[1]["gram"] == "quick fox" and rows[1]["n_occurrences"] == 2
    plan = textstats.top_ngrams(docs)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k without a global sort
    assert "mapInPandas" not in plan


def test_chunk_documents_overlap_and_tail(spark):
    from list_extractor_spark.tda.sampling import chunk_documents

    docs = spark.createDataFrame(
        [("a", " ".join(f"w{i}" for i in range(300))), ("b", "short doc here")],
        "doc_id string, text string",
    )
    rows = sorted(
        chunk_documents(docs, chunk_tokens=128, overlap=16).collect(),
        key=lambda r: (r["doc_id"], r["chunk_idx"]),
    )
    a = [r for r in rows if r["doc_id"] == "a"]
    assert [r["n_tokens"] for r in a] == [128, 128, 76]  # ceil((300-16)/112)=3
    # overlap: chunk1 starts 16 tokens before chunk0 ends
    assert a[0]["text"].split()[-16:] == a[1]["text"].split()[:16]
    assert a[2]["text"].split()[-1] == "w299"  # tail covered
    b = [r for r in rows if r["doc_id"] == "b"]
    assert len(b) == 1 and b[0]["n_tokens"] == 3  # short doc passes whole
    plan = chunk_documents(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "mapInPandas" not in plan  # fully narrow
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=16, overlap=16)


# ---------------------------------------------------------------- retrieval


def test_tfidf_top_terms_scores_and_ranks(spark):
    import math

    from list_extractor_spark.tda.retrieval import tfidf_top_terms

    docs = spark.createDataFrame(
        [("a", "cat cat dog"), ("b", "dog fish"), ("c", "fish fish fish")],
        "doc_id string, text string",
    )
    rows = {
        (r["doc_id"], r["term"]): r for r in tfidf_top_terms(docs, k=2).collect()
    }
    # N=3; df: cat 1, dog 2, fish 2
    a_cat = rows[("a", "cat")]
    assert (a_cat["tf"], a_cat["df_docs"]) == (2, 1)
    assert a_cat["score"] == round(2 * math.log(3 / 1), 6)
    assert a_cat["term_rank"] == 1
    assert rows[("a", "dog")]["term_rank"] == 2
    assert rows[("c", "fish")]["score"] == round(3 * math.log(3 / 2), 6)
    # k cap: doc b has two terms with EQUAL score (tf=1, df=2) -> term asc
    assert rows[("b", "dog")]["term_rank"] == 1
    assert rows[("b", "fish")]["term_rank"] == 2


def test_tfidf_small_vocab_broadcasts(spark):
    from list_extractor_spark.tda.retrieval import tfidf_top_terms

    docs = spark.createDataFrame(
        [("a", "cat dog"), ("b", "dog fish")], "doc_id string, text string"
    )
    plan = (
        tfidf_top_terms(docs)._jdf.queryExecution().executedPlan().toString()
    )
    # tiny vocab -> the tf->idf join takes the size-gated broadcast path
    assert "BroadcastHashJoin" in plan
    assert "mapInPandas" not in plan


def test_bm25_search_formula_and_ranking(spark):
    import math

    from list_extractor_spark.tda.retrieval import bm25_search

    docs = spark.createDataFrame(
        [
            ("a", "rare common common"),
            ("b", "common common common"),
            ("c", "common stuff here"),
            ("d", "other words entirely"),
        ],
        "doc_id string, text string",
    )
    rows = bm25_search(docs, "rare common", k=3).collect()
    # the rare-term doc wins; scores are emitted descending
    assert rows[0]["doc_id"] == "a" and rows[0]["n_terms_hit"] == 2
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert len(rows) == 3 and {r["doc_id"] for r in rows} == {"a", "b", "c"}
    # hand BM25 for doc a: N=4, every dl=3 -> dl/avgdl=1, denom = tf + 1.2;
    # per-term partials round to 12 dp before the exact decimal sum
    idf_rare = math.log(1 + (4 - 1 + 0.5) / (1 + 0.5))
    idf_common = math.log(1 + (4 - 3 + 0.5) / (3 + 0.5))
    expected_a = round(
        round(idf_rare * 1 * 2.2 / (1 + 1.2), 12)
        + round(idf_common * 2 * 2.2 / (2 + 1.2), 12),
        6,
    )
    assert rows[0]["score"] == expected_a


def test_bm25_rejects_empty_query(spark):
    from list_extractor_spark.tda.retrieval import bm25_search

    docs = spark.createDataFrame([("a", "x")], "doc_id string, text string")
    with pytest.raises(ValueError):
        bm25_search(docs, "   ")


def test_compression_ratio_signal(spark):
    """Repetitive text must compress far below random-ish text, values must
    equal the python zlib replica exactly, and empty text must not divide
    by zero."""
    import zlib

    from list_extractor_spark.tda.textstats import compression_ratio

    rep = "spam ham " * 200
    mixed = "the quick brown fox jumps over the lazy dog once only here now"
    docs = spark.createDataFrame(
        [("r", rep), ("m", mixed), ("e", "")], "doc_id string, text string"
    )
    got = {
        r["doc_id"]: (r["n_bytes"], r["compression_ratio"])
        for r in compression_ratio(docs).collect()
    }
    for d, t in (("r", rep), ("m", mixed), ("e", "")):
        b = t.encode("utf-8")
        assert got[d] == (len(b), round(len(zlib.compress(b, 6)) / max(len(b), 1), 6))
    assert got["r"][1] < 0.05 < got["m"][1]
    with pytest.raises(ValueError):
        compression_ratio(docs, level=0)


def test_repetition_signals_fractions(spark):
    docs = spark.createDataFrame(
        [("a", "x y x y x"), ("b", "u v w z"), ("c", "solo")],
        "doc_id string, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in textstats.repetition_signals(docs, n=2).collect()
    }
    # a: bigrams [x y, y x, x y, y x] -> total 4, distinct 2, top count 2
    assert (rows["a"]["n_ngrams"], rows["a"]["n_distinct_ngrams"]) == (4, 2)
    assert rows["a"]["dup_ngram_frac"] == 0.5
    assert rows["a"]["top_ngram_share"] == 0.5
    # b: all distinct
    assert rows["b"]["dup_ngram_frac"] == 0.0
    assert rows["b"]["top_ngram_share"] == round(1 / 3, 6)
    # c: below n tokens -> no row
    assert "c" not in rows


# ------------------------------------------------------------- sessionize


def test_sessionize_hand_sessions(spark):
    from datetime import datetime

    from list_extractor_spark.tda.sessionize import sessionize

    t = lambda h, m=0: datetime(2026, 1, 1, h, m)  # noqa: E731
    events = spark.createDataFrame(
        [
            # user 1: two sessions (1h gap in-session, 10h gap breaks)
            (1, t(0), 10), (1, t(1), 11), (1, t(11), 12),
            # user 2: gap of EXACTLY 8h stays in-session (strict >)
            (2, t(0), 20), (2, t(8), 21),
            # user 3: same-ts tie -> one session, ordered by event_id
            (3, t(5), 31), (3, t(5), 30),
        ],
        "user_id long, ts timestamp, event_id long",
    )
    rows = {
        (r["user_id"], r["session_idx"]): r
        for r in sessionize(events, gap_sec=28800).collect()
    }
    assert rows[(1, 1)]["n_events"] == 2 and rows[(1, 1)]["end_ts"] == t(1)
    assert rows[(1, 2)]["n_events"] == 1 and rows[(1, 2)]["start_ts"] == t(11)
    assert rows[(2, 1)]["n_events"] == 2  # boundary gap does not split
    assert (2, 2) not in rows
    assert rows[(3, 1)]["n_events"] == 2


def test_sessionize_single_exchange(spark):
    from list_extractor_spark.tda.sessionize import sessionize

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = (
        sessionize(events)._jdf.queryExecution().executedPlan().toString()
    )
    # one user-keyed shuffle feeds both windows AND the session rollup
    assert plan.count("Exchange hashpartitioning") == 1
    assert "mapInPandas" not in plan


def test_profile_quantiles_exact_and_sketch(spark):
    from list_extractor_spark.tda.profile import profile_quantiles

    df = spark.createDataFrame([(float(i),) for i in range(1, 6)], "v double")
    rows = {
        r["p"]: r["value"]
        for r in profile_quantiles(df, ["v"], ps=(0.25, 0.5, 0.95), exact=True).collect()
    }
    # linear interpolation at rank p*(n-1): pos 1.0 -> 2.0, 2.0 -> 3.0,
    # 3.8 -> 4 + 0.8
    assert rows[0.25] == 2.0 and rows[0.5] == 3.0 and rows[0.95] == 4.8
    # the sketch path returns actual elements within sketch tolerance
    approx = {
        r["p"]: r["value"]
        for r in profile_quantiles(df, ["v"], ps=(0.5,), exact=False).collect()
    }
    assert abs(approx[0.5] - 3.0) <= 1.0


def test_unigram_logprob_hand_values(spark):
    import math

    from list_extractor_spark.tda.retrieval import unigram_logprob

    docs = spark.createDataFrame(
        [("a", "x x y"), ("b", "y z")], "doc_id string, text string"
    )
    rows = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    # corpus: x:2 y:2 z:1, total 5; partials round to 12dp before the sum
    lp_x, lp_y, lp_z = (math.log(2 / 5), math.log(2 / 5), math.log(1 / 5))
    a = round((round(2 * lp_x, 12) + round(1 * lp_y, 12)) / 3, 6)
    b = round((round(1 * lp_y, 12) + round(1 * lp_z, 12)) / 2, 6)
    assert rows["a"]["n_tokens"] == 3 and rows["a"]["avg_logprob"] == a
    assert rows["b"]["n_tokens"] == 2 and rows["b"]["avg_logprob"] == b
    # the rarer-token doc is less probable under the corpus LM
    assert rows["b"]["avg_logprob"] < rows["a"]["avg_logprob"]


# ------------------------------------------------------------- funnel


def test_funnel_hand_values(spark):
    from datetime import datetime

    from list_extractor_spark.tda.sessionize import funnel

    t = lambda h: datetime(2026, 1, 1, h)  # noqa: E731
    events = spark.createDataFrame(
        [
            # user 1: full ordered sequence
            (1, t(0), "signup"), (1, t(1), "view"), (1, t(2), "purchase"),
            # user 2: view BEFORE signup only -> stops at step 1 (sequence
            # matters: the pre-signup view must not count)
            (2, t(0), "view"), (2, t(1), "signup"),
            # user 3: signup+view at the SAME timestamp -> tie converts
            (3, t(0), "signup"), (3, t(0), "view"),
            # user 4: never signed up -> reaches nothing
            (4, t(0), "view"), (4, t(1), "purchase"),
        ],
        "user_id long, ts timestamp, event_type string",
    )
    rows = {
        r["step"]: r
        for r in funnel(events, steps=["signup", "view", "purchase"]).collect()
    }
    assert [rows[s]["users"] for s in (1, 2, 3)] == [3, 2, 1]
    assert rows[1]["conv_overall"] == 1.0 and rows[1]["conv_prev"] is None
    assert rows[2]["conv_overall"] == round(2 / 3, 6)
    assert rows[3]["conv_prev"] == 0.5
    assert rows[2]["event_type"] == "view"


def test_funnel_empty_step_gives_null_downstream_conv(spark):
    from datetime import datetime

    from list_extractor_spark.tda.sessionize import funnel

    events = spark.createDataFrame(
        [(1, datetime(2026, 1, 1), "signup")],
        "user_id long, ts timestamp, event_type string",
    )
    rows = {
        r["step"]: r for r in funnel(events, steps=["signup", "view", "purchase"]).collect()
    }
    assert rows[2]["users"] == 0 and rows[2]["conv_overall"] == 0.0
    # step 3's conv_prev divides by step 2's ZERO users -> NULL, not a crash
    assert rows[3]["conv_prev"] is None


def test_funnel_validation_and_single_user_exchange(spark):
    import pytest as _pytest

    from list_extractor_spark.tda.sessionize import funnel

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    with _pytest.raises(ValueError, match="step"):
        funnel(events, steps=[])
    with _pytest.raises(ValueError, match="step"):
        funnel(events, steps=["sign'up"])  # spliced into stack() SQL
    plan = (
        funnel(events, steps=["signup", "view", "click", "purchase"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # ONE user-keyed exchange feeds the whole step cascade; the only other
    # exchanges are the tiny global-rollup single partitions
    assert plan.count("Exchange hashpartitioning(user_id") == 1
