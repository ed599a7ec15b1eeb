"""Physical-plan shape assertions: the scale properties claimed in docstrings
must be visible in the actual plans (no shuffle in the extract stage,
broadcast joins in linking, pushdown into parquet scans)."""

from pyspark.sql import functions as F

from list_extractor_spark.engine.extract import extract_candidates
from list_extractor_spark.engine.linking import resolve_links, resolve_redirects
from list_extractor_spark.engine.pipeline import snapshots_to_dfs
from list_extractor_spark.engine.schemas import DOCUMENTS_SCHEMA
from list_extractor_spark.fixtures import corpus_to_rows, make_corpus, make_snapshots


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extract_stage_is_narrow(spark):
    docs = spark.createDataFrame(
        corpus_to_rows(make_corpus(6, hub_every=0)), schema=DOCUMENTS_SCHEMA
    )
    plan = _plan(extract_candidates(docs, linkable_keys=set()))
    assert "Exchange" not in plan, plan  # zero shuffle: scan -> mapInArrow


def test_link_join_is_broadcast(spark):
    snaps = make_snapshots()
    mi, sa, rd = snapshots_to_dfs(spark, snaps)
    docs = spark.createDataFrame(
        corpus_to_rows(make_corpus(6, hub_every=0)), schema=DOCUMENTS_SCHEMA
    )
    keys = {(r["lang"], r["surface"]) for r in mi.select("lang", "surface").collect()}
    cand = extract_candidates(resolve_redirects(docs, rd), linkable_keys=keys)
    plan = _plan(resolve_links(cand, mi, sa))
    assert "BroadcastHashJoin" in plan
    # the big (probe) side must not be shuffled for the link joins
    assert "SortMergeJoin" not in plan


def test_link_join_auto_switches_to_salted_past_threshold(spark):
    """Size-adaptive regime: when the rank-1 mention index exceeds the
    broadcast budget, resolve_links must pick the salted shuffled-hash join
    — visible as the mi_salt machinery in the plan — and produce exactly the
    triples the broadcast regime produces under the default budget."""
    from list_extractor_spark.engine.linking import AUTO_SALT, _auto_salt

    snaps = make_snapshots()
    mi, sa, rd = snapshots_to_dfs(spark, snaps)
    docs = spark.createDataFrame(
        corpus_to_rows(make_corpus(6, hub_every=0)), schema=DOCUMENTS_SCHEMA
    )
    keys = {(r["lang"], r["surface"]) for r in mi.select("lang", "surface").collect()}
    cand = extract_candidates(resolve_redirects(docs, rd), linkable_keys=keys)
    idx = mi.filter(F.col("rank") == 1)
    # default budget: tiny fixture index -> broadcast regime
    assert _auto_salt(idx) == 0
    plain = resolve_links(cand, mi, sa)
    assert "mi_salt" not in _plan(plain)
    want = sorted(map(tuple, plain.collect()))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        assert _auto_salt(idx) == AUTO_SALT
        auto = resolve_links(cand, mi, sa)  # salted under the 1-byte budget
        assert "mi_salt" in _plan(auto)
        got = sorted(map(tuple, auto.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == want


def test_redirect_join_is_broadcast(spark):
    snaps = make_snapshots()
    _, _, rd = snapshots_to_dfs(spark, snaps)
    docs = spark.createDataFrame(
        corpus_to_rows(make_corpus(6, hub_every=0)), schema=DOCUMENTS_SCHEMA
    )
    plan = _plan(resolve_redirects(docs, rd))
    assert "BroadcastHashJoin" in plan


def test_parquet_pushdown(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").write.parquet(p)
    df = (
        spark.read.parquet(p)
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)" in plan
    # column pruning: the scan must read only the two referenced columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_dedup_is_single_shuffle(spark):
    docs = spark.createDataFrame(
        corpus_to_rows(make_corpus(6, hub_every=0)), schema=DOCUMENTS_SCHEMA
    )
    cand = extract_candidates(docs, linkable_keys=set()).select(
        "subj", "pred", "obj", "obj_dt"
    )
    plan = _plan(cand.dropDuplicates(["subj", "pred", "obj", "obj_dt"]))
    assert plan.count("Exchange") == 1, plan


def test_ivf_probe_is_filter_not_join(spark):
    """The one-shot IVF probe must be a plain centroid_id filter over the
    assignment pass — no semi-join of a membership set back against the
    corpus (the set is ~nprobe/k of the corpus: an unbroadcastable OOM at
    scale), and never a corpus-wide sort-merge."""
    from list_extractor_spark.tda import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    cents = similarity.kmeans_centroids(rest, k=8, iters=2, sample=256)
    plan = _plan(similarity.ivf_topk(rest, cents, query, k=5, nprobe=2))
    assert "SortMergeJoin" not in plan
    assert "LeftSemi" not in plan  # the removed per-probe membership join
    assert "TakeOrderedAndProject" in plan  # top-k without a global sort


def test_ivf_partitioned_probe_is_partition_pruned(spark, tmp_path):
    """The materialized-cell probe must show Catalyst partition pruning on
    centroid_id (the serving path reads nprobe dirs, not the corpus)."""
    from list_extractor_spark.tda import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    cents = similarity.kmeans_centroids(rest, k=8, iters=2, sample=256)
    path = str(tmp_path / "cells")
    similarity.write_ivf_cells(rest, cents, path)
    probe = similarity.ivf_probe_centroids(query, cents, nprobe=2)
    plan = _plan(
        spark.read.parquet(path).filter(F.col("centroid_id").isin(probe))
    )
    assert "PartitionFilters" in plan
    assert "centroid_id" in plan.split("PartitionFilters")[1][:200], plan


def test_simhash_pairs_candidate_join_no_sort_merge(spark):
    from list_extractor_spark.tda import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    ).limit(50)
    plan = _plan(dedup.simhash_pairs(docs))
    # pigeonhole banding makes an equi-join on (chunk_id, chunk_val);
    # verification is a codegen'd popcount filter, no second pass over docs
    assert "bit_count" in plan
    assert plan.count("mapInPandas") == 0  # fully JVM-side


def test_bloom_build_plan_has_no_global_collect_of_rows(spark):
    """The bloom reduce collects ONE binary row, not the key rows: the plan
    of the reduced bitmap frame must end in a single-partition exchange over
    bitmap rows (width = n_partitions), never a sort/aggregate of keys."""
    from list_extractor_spark.engine.bloom import build_bloom

    keys = spark.createDataFrame(
        [("en", f"s{i}") for i in range(100)], "lang string, surface string"
    ).repartition(8)
    bloom = build_bloom(keys)
    assert ("en", "s3") in bloom and ("en", "absent") not in bloom


def test_winnow_posting_default_is_shuffle_free(spark):
    """The winnowing kernel must have ZERO exchanges: the per-doc rolling
    min runs inside the scan task, and the emitted rows are already
    distinct — its measured lead over an explode + per-doc window form
    comes precisely from this plan shape."""
    from list_extractor_spark.tda import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    plan = _plan(textstats.winnow_posting(docs))
    assert "Exchange" not in plan
    assert "MapInPandas" in plan or "mapInPandas" in plan


def test_salted_link_and_sink_have_no_ansi_abs_hash(spark):
    """abs(hash(...)) throws ARITHMETIC_OVERFLOW under ANSI mode when a row
    hashes to Integer.MIN_VALUE — the salt/bucket expressions must rely on
    pmod's non-negative range instead."""
    snaps = make_snapshots()
    mi, sa, rd = snapshots_to_dfs(spark, snaps)
    docs = spark.createDataFrame(
        corpus_to_rows(make_corpus(4, hub_every=0)), schema=DOCUMENTS_SCHEMA
    )
    cand = extract_candidates(resolve_redirects(docs, rd), linkable_keys=set())
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        plan = _plan(resolve_links(cand, mi, sa))  # the salted regime
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "mi_salt" in plan, plan
    assert "abs(hash" not in plan, plan
    # and the poison value itself survives pmod (would throw under abs)
    row = spark.sql("select pmod(-2147483648, 8) as v").first()
    assert 0 <= row["v"] < 8


def test_jaccard_sizes_join_is_not_forced_broadcast(spark):
    """The per-document `sizes` table (one row PER DOCUMENT) must never be
    hint-broadcast: at 10^8 docs it is a multi-GB build side that OOMs every
    executor.  With the broadcast budget dropped to 1 byte the sizes joins in
    all three exact-Jaccard verifiers must plan as shuffled joins — a
    BroadcastExchange appearing anyway would mean a F.broadcast() hint is
    back (hints override the threshold)."""
    from list_extractor_spark.tda import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    ).limit(40)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        for q in (
            dedup.shingle_jaccard_pairs(docs, threshold=0.2, df_cap=50),
            dedup.ngram_jaccard_pairs(docs, threshold=0.2, df_cap=50),
            dedup.minhash_lsh_pairs(docs, threshold=0.2, bucket_cap=50),
        ):
            assert "BroadcastExchange" not in _plan(q), _plan(q)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_minhash_bucket_cap_drops_hub_buckets(spark):
    """bucket_cap guards the banded self-join: a corpus of identical docs
    collides every band, so capping below the corpus size must yield zero
    candidate pairs (and no cap must yield all of them)."""
    from list_extractor_spark.tda import dedup

    docs = spark.createDataFrame(
        [(f"d{i}", "same text shingled three words repeated here") for i in range(12)],
        "doc_id string, text string",
    )
    assert dedup.minhash_lsh_pairs(docs, threshold=0.1).count() == 66
    assert dedup.minhash_lsh_pairs(docs, threshold=0.1, bucket_cap=11).count() == 0


def test_hypertable_rollup_day_range_is_partition_pruned(spark, tmp_path):
    """The rollup serving path must answer day-ranged queries via Catalyst
    partition pruning over the day= dirs, and re-aggregate losslessly."""
    from list_extractor_spark.tda.hypertable import daily_from_rollup, write_hourly_rollup

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    path = str(tmp_path / "ht")
    write_hourly_rollup(events, path)
    q = daily_from_rollup(spark, path, from_day="2024-01-05", to_day="2024-01-06")
    plan = _plan(q)
    assert "PartitionFilters" in plan
    assert "day" in plan.split("PartitionFilters")[1][:200], plan
    got = {(str(r["day"]), r["event_type"]): r["n_events"] for r in q.collect()}
    want = {
        (str(r["d"]), r["event_type"]): r["n"]
        for r in events.filter(
            (F.to_date("ts") >= "2024-01-05") & (F.to_date("ts") <= "2024-01-06")
        )
        .groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and got


def test_asof_join_is_one_window_no_join_operator(spark):
    """The as-of composition's scale claim must hold in the plan: union +
    ONE per-key window shuffle, no join operator anywhere (a range-join
    formulation would fan out per matching pair)."""
    from list_extractor_spark.tda.asof import asof_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", F.col("user_id").alias("k"), "ts"
    )
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").groupBy(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
    ).agg(F.max("o_orderkey").alias("pay"))
    plan = _plan(asof_join(ev, o, key="k", ts="ts", payloads=["pay"]))
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
                    "ShuffledHashJoin", "Cartesian"):
        assert join_op not in plan, join_op
    assert "Window" in plan


def test_winnow_overlap_pairs_is_capped_equi_join(spark):
    """The MOSS report join must stay an equi-join on the fingerprint (no
    nested-loop/cartesian fallback) with the hub cap's window reusing the
    fingerprint partitioning."""
    from list_extractor_spark.tda.dedup import winnow_overlap_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    plan = _plan(winnow_overlap_pairs(docs, min_shared=3, fp_cap=10))
    assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan


def test_decontaminate_train_side_is_narrow_broadcast_probe(spark):
    """The corpus side of the contamination scan must reach the broadcast
    join WITHOUT an exchange (shingles form in the scan task; no per-doc
    window, no posting shuffle): the plan's only exchange is the final
    (doc_id, eval_id) aggregation over matched rows."""
    from list_extractor_spark.tda.dedup import decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    ev = docs.filter(F.col("doc_id") == "3").select(
        F.concat(F.lit("e"), "doc_id").alias("doc_id"), "text"
    )
    plan = _plan(decontaminate(docs, ev, n=5, min_hits=1))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    # the probe (corpus) subtree — printed between the join node and the
    # build side's BroadcastExchange — must contain NO shuffle: scan ->
    # generate -> project -> join.  The plan's exchanges sit on matched rows
    # (count-distinct dedup + final agg) and the tiny eval distinct only.
    probe = plan.split("BroadcastHashJoin")[-1].split("BroadcastExchange")[0]
    assert "FileScan" in probe
    assert "Exchange hashpartitioning" not in probe, probe
    assert plan.count("Exchange hashpartitioning") == 3, plan


def test_minhash_doc_stats_is_shuffle_free_and_matches_relational(spark):
    """The fused Arrow signature pass (minhash_doc_stats) must be
    scan-shaped — ZERO exchanges — and minhash_lsh_pairs must produce
    exactly the pairs of the pure-Python string-set oracle (the vectorized
    murmur3 replica is bit-exact, so only a 32-bit in-document shingle
    collision could diverge them — absent on the test corpora)."""
    from list_extractor_spark.fixtures.contract_oracle import minhash_lsh_rows
    from list_extractor_spark.tda import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    plan = _plan(dedup.minhash_doc_stats(docs))
    assert "Exchange" not in plan, plan
    for bands in (4, 8):
        a = sorted(map(tuple, dedup.minhash_lsh_pairs(
            docs, k=16, bands=bands, threshold=0.2, bucket_cap=50).collect()))
        r = minhash_lsh_rows(
            "/root/testdata/sf0.001", k=16, bands=bands, threshold=0.2,
            bucket_cap=50,
        )
        assert a == r and a, bands


def test_snapshot_joins_degrade_to_shuffle_past_threshold(spark):
    """The four snapshot-side joins on the flagship path (redirects,
    page_types, sameAs, canonical-map apply) must be size-gated, not
    hint-forced: real dumps are 10^7-10^8 rows, far past any broadcast
    budget.  With the budget dropped to 1 byte every one of them must plan
    WITHOUT a broadcast build side — and produce exactly the rows the
    broadcast regime produces under the default budget."""
    from list_extractor_spark.engine.canonicalize import (
        apply_canonical_df,
        canonical_map_df,
        identity_edges,
    )
    from list_extractor_spark.engine.linking import attach_page_types
    from list_extractor_spark.fixtures import make_page_types

    snaps = make_snapshots()
    mi, sa, rd = snapshots_to_dfs(spark, snaps)
    from list_extractor_spark.engine.pipeline import page_types_df

    corpus = make_corpus(6, hub_every=0)
    pt = page_types_df(spark, {"page_types": make_page_types(corpus)})
    docs = spark.createDataFrame(
        corpus_to_rows(corpus), schema=DOCUMENTS_SCHEMA
    )
    keys = {(r["lang"], r["surface"]) for r in mi.select("lang", "surface").collect()}
    cmap = canonical_map_df(identity_edges(rd, sa))

    def build():
        d = resolve_redirects(docs, rd)
        d = attach_page_types(d, pt)
        cand = extract_candidates(d, linkable_keys=keys)
        linked = resolve_links(cand, mi, sa)
        return apply_canonical_df(linked, cmap)

    want = sorted(map(tuple, build().collect()))  # default budget: broadcast
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        out = build()
        plan = _plan(out)
        # the only broadcast allowed is the salted path's tiny range(salt)
        # replication crossJoin (IdentityBroadcastMode, NestedLoop) — no
        # snapshot may ride a broadcast HASH build side
        assert "BroadcastHashJoin" not in plan, plan
        # and each site individually, where no crossJoin muddies the plan
        for df in (
            resolve_redirects(docs, rd),
            attach_page_types(resolve_redirects(docs, rd), pt),
            apply_canonical_df(
                spark.createDataFrame(
                    [("d", "s", "p", "o", None)],
                    "doc_id string, subj string, pred string, obj string, obj_dt string",
                ),
                cmap,
            ),
        ):
            assert "BroadcastExchange" not in _plan(df), _plan(df)
        got = sorted(map(tuple, out.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == want


def test_fits_broadcast_probe_envelope(spark):
    """fits_broadcast: zero-job plan-stats answer for LocalRelation-backed
    frames, bounded-count fallback (memoized) for stat-less LogicalRDD plans,
    and False when broadcast is disabled outright."""
    from list_extractor_spark.engine.stats import fits_broadcast, stats_size_bytes
    import pandas as pd

    small = spark.createDataFrame(pd.DataFrame({"a": list(range(10))}))
    assert stats_size_bytes(small) is not None  # LocalRelation carries stats
    assert fits_broadcast(small) is True
    # python-list createDataFrame -> LogicalRDD: no stats, bounded count path
    rddish = spark.createDataFrame([(i,) for i in range(10)], "a long")
    assert stats_size_bytes(rddish) is None
    assert fits_broadcast(rddish) is True
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert fits_broadcast(small) is False  # disabled -> never broadcast
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_local_relation_rows_sums_union_and_project_trees(spark, tmp_path):
    """local_relation_rows counts Union / Project trees whose every leaf is
    a LocalRelation exactly, and is None as soon as one leaf is file-backed,
    so the canonical-map sizing of identity_edges runs no Spark job."""
    import uuid

    from list_extractor_spark.engine.canonicalize import _estimate_edge_rows, identity_edges
    from list_extractor_spark.engine.stats import _optimized_plan, local_relation_rows

    snaps = make_snapshots()
    _, sa, rd = snapshots_to_dfs(spark, snaps)
    n = len(snaps["redirects"]) + len(snaps["sameas"])
    edges = identity_edges(rd, sa)
    assert _optimized_plan(edges).getClass().getSimpleName() == "Union"
    assert local_relation_rows(edges) == n
    # a nondeterministic projection stays above the Union
    projected = edges.select("uri", F.rand(1).alias("r"))
    assert _optimized_plan(projected).getClass().getSimpleName() == "Project"
    assert local_relation_rows(projected) == n
    path = str(tmp_path / "edges")
    edges.write.parquet(path)
    assert local_relation_rows(edges.unionByName(spark.read.parquet(path))) is None
    assert local_relation_rows(edges.distinct()) is None

    sc = spark.sparkContext
    group = f"edge-sizing-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        assert _estimate_edge_rows(edges) == n
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_near_dup_resolve_evaluates_upstream_pairs_once(spark):
    """The distributed CC loop must NOT re-run the (usually expensive)
    upstream pair pipeline per round: an accumulator-counting UDF upstream
    of the pairs frame must fire a bounded number of times — exactly the
    one up-front edge checkpoint; the row estimate, fast-path collect, and
    every loop round then read the checkpoint — not once per loop round
    per join side."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from list_extractor_spark.tda import dedup

    acc = spark.sparkContext.accumulator(0)

    def tag(s):
        acc.add(1)
        return s

    tag_udf = F.udf(tag, StringType())
    # a 12-long chain: needs several doubling rounds to converge
    base = spark.createDataFrame(
        [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(12)],
        "doc_a string, doc_b string",
    )
    pairs = base.select(tag_udf("doc_a").alias("doc_a"), "doc_b")
    out = dedup.near_dup_resolve(pairs, driver_threshold=0)
    assert out.count() == 13
    # one checkpoint evaluation of 12 rows (speculation margin 2x);
    # anything larger means a consumer is re-running the upstream plan
    assert acc.value <= 24, acc.value


def test_tfidf_idf_join_degrades_to_shuffle_past_threshold(spark):
    """The tf->idf join is size-gated like the flagship snapshot joins: a
    raw-crawl vocabulary (billions of distinct terms) must not ride a
    broadcast build side.  With the budget dropped to 1 byte the join must
    plan without BroadcastHashJoin — and produce identical rows."""
    from list_extractor_spark.tda.retrieval import tfidf_top_terms

    docs = spark.createDataFrame(
        [("a", "cat cat dog fish"), ("b", "dog fish heron"), ("c", "cat heron")],
        "doc_id string, text string",
    )
    want = sorted(map(tuple, tfidf_top_terms(docs, k=2).collect()))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        out = tfidf_top_terms(docs, k=2)
        plan = _plan(out)
        # the deliberate 1-row N broadcast (IdentityBroadcastMode nested
        # loop) survives; the vocabulary join must not be a broadcast HASH
        assert "BroadcastHashJoin" not in plan, plan
        got = sorted(map(tuple, out.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == want and got


def test_pq_adc_scoring_is_jvm_only_takeordered(spark):
    """The ADC probe must never leave the JVM: encode is the ONE python
    (Arrow) pass; the scoring stage over the code table is literal-array
    element_at lookups + TakeOrderedAndProject — no second python worker,
    no join, no exchange beyond the top-k."""
    from list_extractor_spark.tda import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = similarity.pq_codebooks(emb, m=4, ksub=16, iters=1, sample=256)
    codes = similarity.pq_encode(emb, books)
    q = [0.1] * 64
    plan = _plan(similarity.pq_adc_topk(codes, q, books, k=10))
    assert plan.count("MapInPandas") + plan.count("mapInPandas") == 1  # encode only
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan and "Exchange hashpartitioning" not in plan
