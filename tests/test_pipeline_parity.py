"""End-to-end parity gate: Spark pipeline triple set == pure-Python oracle
(BASELINE.md §2: P/R >= 0.95; the engine targets exact agreement), plus the
per-row parse invariant, parallelism invariance, canonicalization agreement
and kill-and-resume reproducibility."""

import shutil
from collections import Counter

import pytest

from list_extractor_spark.core.parser import parse_spans
from list_extractor_spark.engine.extract import parse_items
from list_extractor_spark.engine.linking import driver_lookups
from list_extractor_spark.engine.pipeline import Pipeline, run_pipeline, snapshots_to_dfs
from list_extractor_spark.engine.schemas import DOCUMENTS_SCHEMA
from list_extractor_spark.fixtures import corpus_to_rows, make_corpus, make_snapshots
from list_extractor_spark.fixtures.oracle import oracle_triples

N_DOCS = 36


@pytest.fixture(scope="module")
def corpus():
    return make_corpus(N_DOCS, hub_every=24, hub_items=60)


@pytest.fixture(scope="module")
def snapshots():
    return make_snapshots()


@pytest.fixture(scope="module")
def documents_df(spark, corpus):
    return spark.createDataFrame(corpus_to_rows(corpus), schema=DOCUMENTS_SCHEMA)


def _collect_triples(df):
    return {(r["subj"], r["pred"], r["obj"], r["obj_dt"]) for r in df.collect()}


def _pr(got, want):
    tp = len(got & want)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(want) if want else 1.0
    return precision, recall


def test_pipeline_matches_oracle_exactly(spark, corpus, snapshots, documents_df):
    got = _collect_triples(run_pipeline(spark, documents_df, snapshots))
    want = oracle_triples(corpus, snapshots)
    precision, recall = _pr(got, want)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    # engine target is exact agreement — show diffs on failure
    assert got == want, (
        sorted(got - want)[:5],
        sorted(want - got)[:5],
    )


def test_parse_invariant_per_document(spark, corpus, documents_df):
    """Per-row invariant (BASELINE.json input_hint): the Spark parse stage and
    the reference-faithful parser agree on every item sequence per doc."""
    rows = parse_items(documents_df).collect()
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], []).append(
            (r["section_path"], r["item_idx"], r["depth"], r["item_text"])
        )
    for d in corpus:
        want = []
        for sect, items in parse_spans(d["spans"], d["lang"]).items():
            for idx, it in enumerate(items):
                for t in (it if isinstance(it, list) else [it]):
                    want.append((sect, idx, 2 if isinstance(it, list) else 1, t))
        assert sorted(got.get(d["doc_id"], [])) == sorted(want), d["doc_id"]


def test_parallelism_invariance(spark, corpus, snapshots, documents_df):
    got1 = _collect_triples(run_pipeline(spark, documents_df.repartition(1), snapshots))
    got16 = _collect_triples(run_pipeline(spark, documents_df.repartition(16), snapshots))
    assert got1 == got16


def test_salted_link_join_same_result(spark, corpus, snapshots, documents_df):
    """Past the broadcast threshold the link join takes its salted
    shuffled-hash regime; the triples equal the broadcast regime's."""
    plain = _collect_triples(run_pipeline(spark, documents_df, snapshots))
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        df = run_pipeline(spark, documents_df, snapshots)
        assert "mi_salt" in df._jdf.queryExecution().executedPlan().toString()
        salted = _collect_triples(df)
    finally:
        spark.conf.set(key, old)
    assert plain == salted


def test_canonicalization_spark_matches_oracle(spark, snapshots):
    from list_extractor_spark.core.canonical import build_edges, canonical_map
    from list_extractor_spark.engine.canonicalize import canonical_map_df, identity_edges

    # add a chain, a 2-cycle, a 3-cycle with a tail entering it, and a
    # self-loop on top of the fixture edges (cycle -> min-IRI semantics)
    snaps = {
        "redirects": snapshots["redirects"]
        + [("A", "B"), ("B", "C"), ("C", "D")]
        + [("Zx", "Zy"), ("Zy", "Zx")]
        + [("Tail1", "Tail2"), ("Tail2", "CycA"),
           ("CycA", "CycC"), ("CycC", "CycB"), ("CycB", "CycA")]
        + [("Self", "Self")],
        "sameas": snapshots["sameas"],
    }
    mention_index, sameas, redirects = snapshots_to_dfs(spark, snaps | {"mention_index": []})
    want = set(canonical_map(build_edges(snaps["redirects"], snaps["sameas"])).items())
    # driver fast path (small edge sets) AND the distributed pointer-doubling
    # loop (forced via driver_threshold=0) must both equal the oracle
    for threshold in (100_000, 0):
        got = {
            (r["uri"], r["canonical"])
            for r in canonical_map_df(
                identity_edges(redirects, sameas), driver_threshold=threshold
            ).collect()
        }
        assert got == want, threshold


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5])
def test_canonicalization_random_digraphs(spark, seed):
    """Randomized functional digraphs (chains, trees, cycles with tails,
    self-loops all arise) through the DISTRIBUTED pointer-doubling +
    cycle-collapse path must equal the pure union-find oracle."""
    import random

    from list_extractor_spark.core.canonical import canonical_map
    from list_extractor_spark.engine.canonicalize import canonical_map_df

    rng = random.Random(seed)
    nodes = [f"n{i:02d}" for i in range(24)]
    parent = {}
    for n in nodes:
        if rng.random() < 0.8:  # each node gets at most one outgoing edge
            parent[n] = rng.choice(nodes)
    edges = spark.createDataFrame(
        sorted(parent.items()), schema="uri string, parent string"
    )
    got = {
        (r["uri"], r["canonical"])
        for r in canonical_map_df(edges, driver_threshold=0).collect()
    }
    want = set(canonical_map(parent).items())
    assert got == want, (seed, sorted(got ^ want)[:6])


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_canonicalization_random_multigraphs(spark, seed):
    """Randomized digraphs WITH duplicate-source edges: the engine dedupes
    min-parent, so the oracle is canonical_map over the min-parent dict —
    both the driver fast path and the distributed path must match it."""
    import random

    from list_extractor_spark.core.canonical import canonical_map
    from list_extractor_spark.engine.canonicalize import canonical_map_df

    rng = random.Random(seed)
    nodes = [f"m{i:02d}" for i in range(20)]
    edge_rows = []
    for n in nodes:
        for _ in range(rng.randrange(0, 3)):  # 0-2 outgoing edges per node
            edge_rows.append((n, rng.choice(nodes)))
    if not edge_rows:
        edge_rows = [("m00", "m01")]
    parent: dict = {}
    for u, p in edge_rows:
        if u not in parent or p < parent[u]:
            parent[u] = p
    want = set(canonical_map(parent).items())
    edges = spark.createDataFrame(edge_rows, schema="uri string, parent string")
    for threshold in (100_000, 0):
        got = {
            (r["uri"], r["canonical"])
            for r in canonical_map_df(edges, driver_threshold=threshold).collect()
        }
        assert got == want, (seed, threshold, sorted(got ^ want)[:6])


def test_canonicalization_chains_longer_than_doubling_budget(spark):
    """An acyclic chain (and a cycle with a tail) LONGER than 2^max_iters must
    still resolve to the true sink / cycle-min: non-convergence alone does not
    mean 'pure cycles', so the doubling loop must keep going until the
    surviving pointers form a permutation before min-collapsing."""
    from list_extractor_spark.core.canonical import canonical_map
    from list_extractor_spark.engine.canonicalize import canonical_map_df

    parent = {f"c{i:03d}": f"c{i + 1:03d}" for i in range(40)}  # chain -> c040
    parent.update({f"t{i:02d}": f"t{i + 1:02d}" for i in range(20)})  # tail
    parent["t20"] = "cycB"  # tail enters a 3-cycle
    parent.update({"cycB": "cycC", "cycC": "cycA", "cycA": "cycB"})
    edges = spark.createDataFrame(
        sorted(parent.items()), schema="uri string, parent string"
    )
    # max_iters=2 -> only 4-step advancement per doubling batch; both the
    # 40-chain and the 21-tail rho exceed it
    got = {
        (r["uri"], r["canonical"])
        for r in canonical_map_df(edges, max_iters=2, driver_threshold=0).collect()
    }
    want = set(canonical_map(parent).items())
    assert got == want, sorted(got ^ want)[:6]


def test_canonicalization_duplicate_source_edges_deterministic(spark):
    """A uri with several outgoing edges (dirty redirect dump) resolves via
    the MIN parent on BOTH the driver fast path and the distributed path."""
    from list_extractor_spark.core.canonical import canonical_map
    from list_extractor_spark.engine.canonicalize import canonical_map_df

    rows = [("X", "B"), ("X", "A"), ("A", "S1"), ("B", "S2"), ("Y", "X")]
    edges = spark.createDataFrame(rows, schema="uri string, parent string")
    want = set(canonical_map({"X": "A", "A": "S1", "B": "S2", "Y": "X"}).items())
    for threshold in (100_000, 0):
        got = {
            (r["uri"], r["canonical"])
            for r in canonical_map_df(edges, driver_threshold=threshold).collect()
        }
        assert got == want, (threshold, sorted(got ^ want))


def test_resume_reproduces_identical_triples(spark, corpus, snapshots, documents_df, tmp_path):
    run_dir = str(tmp_path / "run")
    first = _collect_triples(
        run_pipeline(spark, documents_df, snapshots, run_dir=run_dir)
    )
    # simulate a kill after the extract stage committed: later stages vanish
    shutil.rmtree(f"{run_dir}/linked", ignore_errors=True)
    shutil.rmtree(f"{run_dir}/triples", ignore_errors=True)
    # resume with EMPTY documents: only the candidates checkpoint can supply
    # data, proving the resume path actually reuses the committed stage
    empty_docs = spark.createDataFrame([], schema=DOCUMENTS_SCHEMA)
    mention_index, sameas, redirects = snapshots_to_dfs(spark, snapshots)
    pipe = Pipeline(spark, run_dir=run_dir)
    resumed = _collect_triples(
        pipe.run(empty_docs, mention_index, sameas, redirects, linkable_keys=set())
    )
    assert resumed == first
    assert any(s["stage"] == "candidates" and s["reused"] for s in pipe.lineage)


def test_resume_across_regimes(spark, corpus, snapshots, documents_df, tmp_path):
    """A run_dir written in the driver-lookup regime (whose candidates are
    already linked and canonicalized) resumes under the join chain
    (broadcast disabled) to the identical triple set."""
    run_dir = str(tmp_path / "run")
    mention_index, sameas, redirects = snapshots_to_dfs(spark, snapshots)
    assert driver_lookups(mention_index, sameas, redirects, True) is not None
    first = _collect_triples(run_pipeline(spark, documents_df, snapshots, run_dir=run_dir))
    shutil.rmtree(f"{run_dir}/triples")
    empty_docs = spark.createDataFrame([], schema=DOCUMENTS_SCHEMA)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        assert driver_lookups(mention_index, sameas, redirects, True) is None
        pipe = Pipeline(spark, run_dir=run_dir)
        resumed = _collect_triples(
            pipe.run(empty_docs, mention_index, sameas, redirects, linkable_keys=set())
        )
    finally:
        spark.conf.set(key, old)
    assert resumed == first
    assert any(s["stage"] == "candidates" and s["reused"] for s in pipe.lineage)


def test_warm_small_snapshot_build_runs_two_jobs(spark, snapshots, documents_df, tmp_path):
    """With snapshot-sized sides, a build is one extract pass, the dedup
    shuffle and the write: 2 Spark jobs, both described as the commit, with
    the caller's job description back in place afterwards."""
    import uuid

    from list_extractor_spark.engine.snapshots import write_graph_snapshot

    sc = spark.sparkContext
    sides = snapshots_to_dfs(spark, snapshots)
    table = str(tmp_path / "graph")

    def build():
        triples = Pipeline(spark).run(documents_df, *sides, canonicalize=True)
        return write_graph_snapshot(triples, table, mode="overwrite")

    build()  # warm-up
    group = f"two-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        build()
        after = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert len(jobs) == 2, jobs
    store = sc._jsc.sc().statusStore()
    descriptions = {store.job(j).description().getOrElse(None) for j in jobs}
    assert descriptions == {f"snapshots.commit {table}"}
    assert after == group


def _nullable_frame(spark, rows, schema):
    """A pandas-backed (LocalRelation) snapshot frame whose columns may hold
    NULL, as a hostile snapshot file would."""
    from pyspark.sql import types as T

    from list_extractor_spark.engine.schemas import local_df

    fields = [T.StructField(f.name, f.dataType, True) for f in schema.fields]
    return local_df(spark, rows, T.StructType(fields))


def _regime_case(case):
    """(docs, snapshots, URIs the output must contain, whether
    oracle_triples defines the answer) for one hostile-snapshot case."""
    import re

    from list_extractor_spark.engine.extract import _fallback

    wd, dbr = "http://www.wikidata.org/entity/", "http://dbpedia.org/resource/"
    names = ("doc_id", "lang", "res_class", "spans")
    docs = [dict(zip(names, row)) for row in corpus_to_rows(make_corpus(14, hub_every=0))]
    snaps = make_snapshots()
    mi, sa, rd = list(snaps["mention_index"]), list(snaps["sameas"]), list(snaps["redirects"])
    text = " ".join(t for d in docs for _, t, _, _ in d["spans"])
    used = sorted(set(re.findall(r"\{\{Ref [^}]*\}\}", text)))
    indexed = {s: w for _, s, w, _ in mi}
    hit = [s for s in used if s in indexed]
    miss = [s for s in used if s not in indexed]
    linked_sa = dict(sa)
    unlinked = [s for s in hit if indexed[s] not in linked_sa]  # no sameAs row
    must, oracle = set(), False
    if case == "dup_rank1":
        mi += [("en", s, f"{wd}Q9{i}", 1) for i, s in enumerate(hit)]
        sa.append((f"{wd}Q90", dbr + "Second_Zero"))
        w = indexed[hit[1]]
        must = {f"{wd}Q91", dbr + "Second_Zero", linked_sa.get(w, w)}
    elif case == "rank2_only":
        mi += [("en", s, f"{wd}Q8{i}", 2) for i, s in enumerate(miss)]
        must = {_fallback("en", miss[0])}
    elif case == "dup_sameas":
        sa += [(w, d + "_Alt") for w, d in snaps["sameas"]]
        must = {d + suffix for w, d in snaps["sameas"] if w in {indexed[s] for s in hit}
                for suffix in ("", "_Alt")}
    elif case == "two_redirects":
        rd += [("Writer_0", "Alias_A"), ("Writer_0", "Alias_B")]
        must = {dbr + "Alias_A", dbr + "Alias_B"}
    elif case == "redirect_cycle":
        rd += [("Writer_0", "Band_1"), ("Band_1", "Writer_0")]
        must, oracle = {dbr + "Band_1"}, True
    elif case == "redirect_sameas_chain":
        w = next(indexed[s] for s in hit if indexed[s] in linked_sa)
        d = linked_sa[w]
        rd.append((d[len(dbr):], "Chain_End"))
        must, oracle = {dbr + "Chain_End"}, True
    elif case == "null_keys":
        mi += [("en", None, f"{wd}Q70", 1), ("en", unlinked[0], None, 1),
               (None, hit[1], f"{wd}Q71", 1)]
        sa += [(None, dbr + "Null_Entity"), (indexed[hit[2]], None)]
        rd += [(None, "Writer_0"), ("Band_1", None)]
        w = indexed[unlinked[0]]
        must = {indexed[hit[2]], w, _fallback("en", unlinked[0])}
    elif case == "all_empty":
        mi, sa, rd, oracle = [], [], [], True
    elif case == "non_bmp":
        docs = _hostile_docs("unicode")
        surface = "{{Ref \U0001F600 \u00e9\u0301}}"  # a subject mention
        for d in docs:
            d["spans"] = [(k, t.replace("{{Ref \u00e9\u0301}}", surface), m, o)
                          for k, t, m, o in d["spans"]]
        mi.append(("en", surface, f"{wd}Q\U0001F600", 1))
        sa.append((f"{wd}Q\U0001F600", dbr + "\U0001D11E_\u00e9\u0301"))
        rd.append(("Writer_\U0001F600\u0301", "Writer_\U00020BB7"))
        must, oracle = {dbr + "\U0001D11E_\u00e9\u0301", dbr + "Writer_\U00020BB7"}, True
    return docs, {"mention_index": mi, "sameas": sa, "redirects": rd}, must, oracle


REGIME_CASES = [
    "dup_rank1", "rank2_only", "dup_sameas", "two_redirects", "redirect_cycle",
    "redirect_sameas_chain", "null_keys", "all_empty", "non_bmp",
]


@pytest.mark.parametrize("case", REGIME_CASES)
def test_driver_regime_matches_join_chain(spark, case):
    """Pipeline.run's driver-lookup regime (snapshot-sized sides resolved in
    the extract pass) gives the join chain's triples on hostile snapshots:
    fan-out on duplicate keys, fallback mints, NULL keys, cycles and chains
    through the canonical map, empty sides and non-BMP keys."""
    from list_extractor_spark.engine.schemas import (
        MENTION_INDEX_SCHEMA,
        REDIRECTS_SCHEMA,
        SAMEAS_SCHEMA,
    )

    docs, snaps, must, oracle = _regime_case(case)
    df = _hostile_df(spark, docs)
    sides = (
        _nullable_frame(spark, snaps["mention_index"], MENTION_INDEX_SCHEMA),
        _nullable_frame(spark, snaps["sameas"], SAMEAS_SCHEMA),
        _nullable_frame(spark, snaps["redirects"], REDIRECTS_SCHEMA),
    )
    assert driver_lookups(*sides, True) is not None
    fast = _collect_triples(Pipeline(spark).run(df, *sides))
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        assert driver_lookups(*sides, True) is None
        joined = _collect_triples(Pipeline(spark).run(df, *sides))
    finally:
        spark.conf.set(key, old)
    assert fast == joined, (sorted(fast - joined)[:3], sorted(joined - fast)[:3])
    seen = {t[0] for t in fast} | {t[2] for t in fast}
    assert must <= seen, sorted(must - seen)
    if oracle:
        assert fast == oracle_triples(docs, snaps)


STREAM_CASES = [
    "dup_rank1", "rank2_only", "dup_sameas", "null_keys", "all_empty", "non_bmp",
    "map_dup_uri", "map_null_uri", "map_null_canonical", "map_literal_obj",
]


def _stream_case(spark, case):
    """(docs, mention index, sameAs, caller canonical map or None) for one
    stream-vs-batch case: the no-redirect hostile snapshots of
    ``_regime_case``, or a caller's map over the stream's own output."""
    from pyspark.sql import types as T

    from list_extractor_spark.engine.schemas import MENTION_INDEX_SCHEMA, SAMEAS_SCHEMA

    docs, snaps, _, _ = _regime_case("all_empty" if case.startswith("map_") else case)
    if case.startswith("map_"):
        snaps = make_snapshots()
    mi = _nullable_frame(spark, snaps["mention_index"], MENTION_INDEX_SCHEMA)
    sa = _nullable_frame(spark, snaps["sameas"], SAMEAS_SCHEMA)
    if not case.startswith("map_"):
        return docs, mi, sa, None
    from list_extractor_spark.engine.extract import extract_candidates
    from list_extractor_spark.engine.linking import resolve_links

    keys = {(r[0], r[1]) for r in snaps["mention_index"]}
    rows = resolve_links(extract_candidates(_hostile_df(spark, docs), keys), mi, sa).collect()
    subj = sorted({r["subj"] for r in rows})
    iri = sorted({r["obj"] for r in rows if r["obj_dt"] is None})
    lit = sorted({r["obj"] for r in rows if r["obj_dt"] is not None})
    cmap = {
        "map_dup_uri": [(subj[0], "urn:a"), (subj[0], "urn:b"), (iri[0], "urn:c")],
        "map_null_uri": [(None, "urn:a"), (subj[0], "urn:b"), (iri[0], "urn:c")],
        "map_null_canonical": [(subj[0], None), (subj[1], "urn:b"), (iri[0], None)],
        "map_literal_obj": [(lit[0], "urn:lit"), (subj[0], lit[0]), (iri[0], "urn:c")],
    }[case]
    schema = T.StructType([T.StructField("uri", T.StringType()),
                           T.StructField("canonical", T.StringType())])
    return docs, mi, sa, _nullable_frame(spark, cmap, schema)


@pytest.mark.timeout(600)
@pytest.mark.parametrize("case", STREAM_CASES)
def test_stream_sinks_match_batch_join_chain(spark, tmp_path, case):
    """Both stream sinks, in the driver-lookup regime and in the join chain
    (broadcast disabled), commit the rows of batch ``extract_candidates`` +
    ``resolve_links`` without redirects (+ ``apply_canonical_df`` of a
    caller's map) as a multiset, doc_id included."""
    from list_extractor_spark.engine.canonicalize import apply_canonical_df
    from list_extractor_spark.engine.extract import extract_candidates
    from list_extractor_spark.engine.linking import resolve_links
    from list_extractor_spark.engine.snapshots import read_graph_at
    from list_extractor_spark.streaming.stream_extract import (
        stream_documents,
        stream_triples,
        stream_triples_versioned,
    )

    docs, mi, sa, cmap = _stream_case(spark, case)
    keys = {(r["lang"], r["surface"]) for r in mi.collect()}
    df = _hostile_df(spark, docs)
    in_dir = str(tmp_path / "in")
    df.write.parquet(in_dir)
    want = resolve_links(extract_candidates(df, keys), mi, sa)
    if cmap is not None:
        want = apply_canonical_df(want, cmap)
    want = Counter(tuple(r) for r in want.collect())
    assert want or case == "all_empty"

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    for threshold in (old, "-1"):
        spark.conf.set(key, threshold)
        try:
            driver = driver_lookups(mi, sa, None, cmap) is not None
            assert driver == (threshold == old and case != "map_dup_uri"), threshold
            out, table = str(tmp_path / f"out{threshold}"), str(tmp_path / f"graph{threshold}")
            for q in (
                stream_triples(stream_documents(spark, in_dir), mi, sa, keys, out,
                               str(tmp_path / f"ckpt{threshold}"), canonical_map=cmap),
                stream_triples_versioned(stream_documents(spark, in_dir), mi, sa, keys, table,
                                         str(tmp_path / f"vckpt{threshold}"), canonical_map=cmap),
            ):
                q.awaitTermination(240)
        finally:
            spark.conf.set(key, old)
        cols = ("doc_id", "subj", "pred", "obj", "obj_dt")
        got = Counter(tuple(r) for r in spark.read.parquet(out).select(*cols).collect())
        assert got == want, (threshold, sorted((got - want).elements())[:3],
                             sorted((want - got).elements())[:3])
        if want:
            got = Counter(tuple(r) for r in read_graph_at(spark, table).select(*cols).collect())
            assert got == want, threshold


@pytest.mark.timeout(600)
def test_versioned_stream_micro_batch_runs_one_job(spark, tmp_path):
    """On LocalRelation snapshot sides a micro-batch of the versioned sink is
    one Spark job, the commit's write; with broadcast disabled it runs the
    join chain, whose jobs come on top of the commit."""
    from list_extractor_spark.streaming.stream_extract import (
        stream_documents,
        stream_triples_versioned,
    )

    sc = spark.sparkContext
    mi, sa, _ = snapshots_to_dfs(spark, make_snapshots())
    keys = {(r["lang"], r["surface"]) for r in mi.collect()}
    docs = corpus_to_rows(make_corpus(12, hub_every=0))
    in_dir = tmp_path / "in"
    for i in range(6):  # 6 files, 4 a trigger: 2 micro-batches
        spark.createDataFrame(docs[2 * i:2 * i + 2], schema=DOCUMENTS_SCHEMA) \
            .coalesce(1).write.parquet(str(in_dir / f"f{i}"))
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    jobs = {}
    for threshold in (old, "-1"):
        spark.conf.set(key, threshold)
        table = str(tmp_path / f"graph{threshold}")
        try:
            q = stream_triples_versioned(
                stream_documents(spark, str(in_dir / "*")), mi, sa, keys, table,
                str(tmp_path / f"ckpt{threshold}"),
            )
            q.awaitTermination(240)
        finally:
            spark.conf.set(key, old)
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(batches) == 2, q.recentProgress
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        ids = sc.statusTracker().getJobIdsForGroup(str(q.runId))
        jobs[threshold] = [store.job(j).description().getOrElse(None) for j in ids]
    commit = f"snapshots.commit {tmp_path / f'graph{old}'}"
    assert jobs[old] == [commit, commit], jobs[old]
    assert len(jobs["-1"]) > 2, jobs["-1"]


def _hostile_docs(case):
    """Span documents for one hostile-input case, as row dicts (``spans`` may
    be None; ``res_classes`` / ``res_target`` only where the case sets them)."""
    names = ("doc_id", "lang", "res_class", "spans")
    docs = [dict(zip(names, row)) for row in corpus_to_rows(make_corpus(14, hub_every=0))]
    if case == "zero_rows":
        return []
    if case == "null_spans":
        docs[0]["spans"] = None
        docs[7]["spans"] = None
        docs.append({"doc_id": "Null_end", "lang": "en", "res_class": "Writer", "spans": None})
    elif case == "empty_spans":
        docs[0]["spans"] = []
        docs[7]["spans"] = []
    elif case == "unicode":
        spans = [
            ("section:0", "Bibliography \U0001D11E", "", 0),
            ("section:1", "Nove\u0301ls", "", 1),
            ("list_item:1", "''Cafe\u0301 \U0001D4B3 \U0001F600'' (1999)", "", 2),
            ("list_item:1", "''\u0928\u093F \U00020BB7'' (2001) {{Ref \U0001F600}}", "", 3),
            ("section:0", "Awards", "", 4),
            ("list_item:1", "Won {{Ref \u00e9\u0301}} for ''Zoe\u0308'' 1990", "", 5),
            ("section:0", "Fami\u0301ly \U0001F46A", "", 6),
            ("list_item:1", "A\u030a\U0001D400 B\u0327, spouse", "", 7),
        ]
        docs.insert(3, {"doc_id": "Writer_\U0001F600\u0301", "lang": "en",
                        "res_class": "Writer", "spans": spans})
    elif case == "hub":
        spans = [("section:0", "Career", "", 0)] + [
            ("list_item:1", f"Expedition {j} leader", "", j + 1) for j in range(20000)
        ]
        docs.insert(5, {"doc_id": "Hub_big", "lang": "en", "res_class": "Person",
                        "spans": spans})
    elif case == "res_classes":
        for i, d in enumerate(docs):
            d["res_classes"] = [d["res_class"], "Person"] if i % 2 else ["Person"]
    elif case == "res_target":
        for i, d in enumerate(docs):
            d["res_target"] = f"Target_{d['doc_id']}" if i % 3 else d["doc_id"]
    return docs


def _hostile_df(spark, docs):
    from pyspark.sql import types as T

    fields = [
        T.StructField(f.name, f.dataType, f.name == "spans") for f in DOCUMENTS_SCHEMA.fields
    ]
    if docs and "res_classes" in docs[0]:
        fields.append(T.StructField("res_classes", T.ArrayType(T.StringType()), False))
    if docs and "res_target" in docs[0]:
        fields.append(T.StructField("res_target", T.StringType(), False))
    schema = T.StructType(fields)
    rows = [tuple(d[f.name] for f in schema.fields) for d in docs]
    # one partition, so the 2-row Arrow batches walk later batches' offsets
    return spark.createDataFrame(rows, schema=schema).coalesce(1)


def _core_outputs(docs, keys):
    """Plain Python loop over the core functions: the single semantic source
    the Spark kernel must reproduce."""
    from list_extractor_spark.core.links import DeferredLinker
    from list_extractor_spark.core.mappers import extract_document
    from list_extractor_spark.engine.extract import _sentinel_parts

    linker = DeferredLinker(keys)
    cands, metrics, items = [], [], []
    for d in docs:
        doc_id, lang = d["doc_id"], d["lang"]
        spans = d["spans"] or []
        classes = d.get("res_classes", [d["res_class"]])
        triples, _ = extract_document(d.get("res_target", doc_id), classes, lang, spans, linker)
        cands += [(doc_id, s, p, o, dt, *_sentinel_parts(s)) for s, p, o, dt in triples]
        triples, stats = extract_document(doc_id, classes, lang, spans, linker)
        metrics.append((doc_id, *stats, len(triples)))
        for sect, its in parse_spans(spans, lang).items():
            for idx, it in enumerate(its):
                for t in (it if isinstance(it, list) else [it]):
                    depth = 2 if isinstance(it, list) else 1
                    items.append((doc_id, lang, d["res_class"], sect, idx, depth, t))
    return Counter(cands), Counter(metrics), Counter(items)


@pytest.mark.parametrize(
    "case",
    ["null_spans", "empty_spans", "zero_rows", "unicode", "hub", "res_classes", "res_target"],
)
def test_extract_kernel_matches_core_on_hostile_input(spark, snapshots, case):
    """Candidates, metrics and parse items from the one Arrow kernel equal the
    core functions on hostile input, read in 2-row Arrow batches.  A NULL or
    empty ``spans`` is an empty document: no candidates or items, and a
    metrics row of zeros."""
    from list_extractor_spark.engine.extract import extract_candidates, extract_metrics

    keys = {(lang, s) for (lang, s, w, r) in snapshots["mention_index"]}
    keys.add(("en", "{{Ref \U0001F600}}"))
    docs = _hostile_docs(case)
    df = _hostile_df(spark, docs)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        got = [
            Counter(tuple(r) for r in out.collect())
            for out in (
                extract_candidates(df, linkable_keys=keys),
                extract_metrics(df, linkable_keys=keys),
                parse_items(df),
            )
        ]
    finally:
        spark.conf.set(conf, old)
    want = _core_outputs(docs, keys)
    for name, g, w in zip(("candidates", "metrics", "items"), got, want):
        assert g == w, (name, list((g - w).items())[:3], list((w - g).items())[:3])
    blank = [d["doc_id"] for d in docs if not d["spans"]]
    assert bool(blank) == (case in ("null_spans", "empty_spans"))
    assert all(got[1][(doc_id, 0, 0, 0, 0)] == 1 for doc_id in blank)


def test_build_edges_duplicate_sources_min_wins():
    """core/build_edges must resolve duplicate-source identity edges (e.g. a
    sameAs snapshot with one wikidata entity per language) to the MIN parent
    — the same rule the Spark engine applies, so oracle and engine agree."""
    from list_extractor_spark.core.canonical import build_edges

    parent = build_edges(
        redirects=[("X", "B"), ("X", "A")],
        sameas=[("wd:Q1", "dbr:Zebra"), ("wd:Q1", "dbr:Aardvark")],
    )
    dbr = "http://dbpedia.org/resource/"
    assert parent[dbr + "X"] == dbr + "A"
    assert parent["wd:Q1"] == "dbr:Aardvark"
