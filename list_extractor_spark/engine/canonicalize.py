"""Canonicalization stage (L6): pointer-halving closure over identity edges.

Directed identity edges (redirect src->dst, sameAs wikidata->dbpedia) form
parent pointers; the canonical IRI is the chain's sink.  The closure runs the
classic pointer-doubling iteration — parent := parent(parent) — as a self-join
per round, so chains of length L resolve in ceil(log2 L) shuffles.  This is
the DataFrame form of union-find path compression (the large-star step of
connected components); min-IRI tie-breaking bounds pathological cycles.

Scale: each round is one equi-join of the (uri, parent) set with itself —
at 10^12 docs the edge set (redirect+sameAs dumps, ~10^8 rows) is orders
smaller than the triple set, so the loop is cheap; only the final application
join touches the triples, and it broadcasts when the map is small enough.
With snapshot-sized sides Pipeline.run uses neither: its driver-lookup
regime (engine/linking.driver_lookups) builds the map with core/canonical.py
and the extract pass applies it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def canonical_map_df(
    edges: DataFrame, max_iters: int = 12, driver_threshold: int = 100_000
) -> DataFrame:
    """edges(uri, parent) -> (uri, canonical) for every uri that changes.

    Size-adaptive (same spirit as autoBroadcastJoinThreshold): identity-edge
    sets up to ``driver_threshold`` rows resolve with the exact pure-Python
    union-find (core/canonical.py — the oracle itself) in one collect, because
    the iterative join loop below costs ~2 s of pure job-scheduling latency
    even on 30 rows.  Past the threshold (real redirect/sameAs dumps, ~10^8
    rows) the distributed pointer-doubling loop runs.

    Pointer doubling: each round rewrites parent -> grandparent where one
    exists.  Converged when no row changed — which happens iff the edge set is
    acyclic (chains up to 2^max_iters resolve to their sink).

    Cycles never converge (pointers rotate forever), so after the loop any
    row whose pointer still has an outgoing edge is cycle-involved, and its
    pointer sits ON its terminal cycle (pointer doubling advanced it past the
    tail).  Because k-step advancement is a rotation — a bijection — on each
    cycle, the distinct remaining pointers are EXACTLY the cycle members;
    a min-propagation doubling pass over that (tiny) subgraph computes each
    cycle's minimum IRI, which is the oracle semantics (core/canonical.py:44:
    cycles collapse to the smallest IRI on the cycle, tails entering a cycle
    inherit it).

    The iteration partitioning follows the edge count, not the session's
    shuffle width: identity-edge sets are orders smaller than the triple set,
    and a 32-way shuffle of 40 rows costs more scheduler time than the join.
    """
    n_edges = _estimate_edge_rows(edges)
    if n_edges <= driver_threshold:
        from ..core.canonical import canonical_map, min_parent

        # deterministic min-parent on duplicate-source edges: dirty redirect
        # dumps must resolve identically on both paths (the distributed path
        # below dedupes the same way, and its joins never match a NULL end)
        cmap = sorted(canonical_map(min_parent(edges.collect())).items())
        # pandas-backed createDataFrame plans as a LocalRelation WITH size
        # statistics (a python list becomes a LogicalRDD whose stats are
        # unknown), so the downstream size-adaptive apply join decides from
        # Catalyst stats instead of running a count job per pipeline run
        import pandas as pd

        pdf = pd.DataFrame(cmap, columns=["uri", "canonical"])
        return edges.sparkSession.createDataFrame(
            pdf, schema="uri string, canonical string"
        )
    # dedupe duplicate-source edges (min parent) BEFORE iterating: without it
    # a uri with two parents fans out into two pointer rows that never merge,
    # and the fast path above would disagree
    edges = edges.groupBy("uri").agg(F.min("parent").alias("parent"))
    parts = max(1, min(int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions")),
                       n_edges // 50_000 + 1))
    cur = edges.select("uri", F.col("parent").alias("canonical")).repartition(parts)
    converged = False
    total_rounds = 0
    while not converged:
        for _ in range(max_iters):
            nxt = (
                cur.alias("a")
                .join(
                    cur.select(
                        F.col("uri").alias("p_uri"), F.col("canonical").alias("p_canonical")
                    ).alias("b"),
                    F.col("a.canonical") == F.col("b.p_uri"),
                    "left",
                )
                .select(
                    F.col("a.uri").alias("uri"),
                    F.coalesce("b.p_canonical", "a.canonical").alias("canonical"),
                    (F.col("b.p_canonical").isNotNull()
                     & (F.col("b.p_canonical") != F.col("a.canonical"))).alias("changed"),
                )
                .localCheckpoint(eager=True)  # truncate lineage each round
            )
            n_changed = nxt.filter("changed").limit(1).count()
            cur = nxt.drop("changed")
            total_rounds += 1
            if n_changed == 0:
                converged = True
                break
        if converged:
            break
        # Non-convergence after 2^total_rounds steps means cycles OR chains
        # longer than 2^total_rounds.  Min-collapse is only correct when the
        # surviving-pointer subgraph is a PERMUTATION (pure disjoint cycles);
        # a long acyclic chain — or a cycle with a longer-than-2^r tail —
        # also fails to converge, and collapsing it would pick a mid-chain
        # minimum instead of the true sink / cycle-min.  Keep doubling until
        # the survivors are pure cycles (r > longest tail) or convergence.
        if _pointers_are_pure_cycles(cur, edges):
            cur = _collapse_cycles(cur, edges, max_iters)
            break
        if total_rounds >= 60:  # 2^60-step chains cannot exist in real data
            raise RuntimeError(
                "canonical_map_df: pointer doubling did not converge and the "
                "surviving subgraph is not a permutation after "
                f"{total_rounds} rounds"
            )
    return cur.filter(F.col("uri") != F.col("canonical"))


def _estimate_edge_rows(edges: DataFrame) -> int:
    """Row count for the fast-path decision.  EXACT only: the fast path ends
    in a driver collect(), and Catalyst's byte statistics for file scans are
    COMPRESSED sizes (shared-prefix URI dumps compress 10-30x), so a bytes
    heuristic could misroute millions of rows into the driver.  LocalRelation
    plans expose their exact row count with zero jobs (and their rows already
    live in the driver); everything else pays one LIMIT-bounded count."""
    from .stats import local_relation_rows

    n = local_relation_rows(edges)
    if n is not None:
        return n
    return edges.limit(1_000_000).count()


def _pointers_are_pure_cycles(cur: DataFrame, edges: DataFrame) -> bool:
    """True iff the surviving (non-terminated) pointer set P, restricted to
    the edge function, is a permutation of itself: CLOSED (every p in P maps
    into P) and INJECTIVE (no two P-members share a parent).  A finite
    functional graph that is a bijection on itself is exactly a disjoint
    union of cycles — the precondition for _collapse_cycles."""
    srcs = edges.select("uri").distinct()
    ptrs = (
        cur.join(srcs.select(F.col("uri").alias("canonical")), "canonical", "left_semi")
        .select(F.col("canonical").alias("uri"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sub = edges.join(ptrs, "uri", "left_semi")
    escaping = sub.join(
        ptrs.select(F.col("uri").alias("parent")), "parent", "left_anti"
    )
    if escaping.limit(1).count() > 0:
        return False
    collisions = sub.groupBy("parent").count().filter(F.col("count") > 1)
    return collisions.limit(1).count() == 0


def _collapse_cycles(cur: DataFrame, edges: DataFrame, max_iters: int) -> DataFrame:
    """Rewrite non-terminated rows (pointer still has an outgoing edge) to the
    min IRI of their terminal cycle; terminated rows pass through."""
    srcs = edges.select("uri").distinct()
    # rows whose pointer is a source of an edge never terminated -> cycles
    nonconv = cur.join(
        srcs.select(F.col("uri").alias("canonical")), "canonical", "left_semi"
    )
    if nonconv.limit(1).count() == 0:
        return cur
    # distinct surviving pointers = exact cycle membership (rotation image)
    cycle_nodes = nonconv.select(F.col("canonical").alias("uri")).distinct()
    # min-propagation doubling on the cycle subgraph (parents stay in-cycle)
    state = (
        edges.join(cycle_nodes, "uri", "left_semi")
        .select("uri", F.col("parent").alias("ptr"),
                F.least("uri", "parent").alias("mval"))
    )
    # min-propagation is monotone (mval only decreases), so this always
    # converges in ceil(log2(longest cycle)) rounds; cap well past any
    # physically possible cycle length rather than at max_iters
    for _ in range(max(max_iters, 60)):
        nxt = (
            state.alias("a")
            .join(
                state.select(F.col("uri").alias("p_uri"), F.col("ptr").alias("p_ptr"),
                             F.col("mval").alias("p_mval")).alias("b"),
                F.col("a.ptr") == F.col("b.p_uri"),
            )
            .select(
                F.col("a.uri").alias("uri"),
                F.col("b.p_ptr").alias("ptr"),
                F.least("a.mval", "b.p_mval").alias("mval"),
                (F.least("a.mval", "b.p_mval") != F.col("a.mval")).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = nxt.filter("changed").limit(1).count()
        state = nxt.drop("changed")
        if n_changed == 0:
            break
    cycle_min = state.select(F.col("uri").alias("canonical"),
                             F.col("mval").alias("cycle_min"))
    fixed = (
        cur.join(F.broadcast(cycle_min), "canonical", "left")
        .select("uri", F.coalesce("cycle_min", "canonical").alias("canonical"))
    )
    return fixed


def identity_edges(
    redirects: DataFrame, sameas: DataFrame, dbr: str = "http://dbpedia.org/resource/"
) -> DataFrame:
    r = redirects.select(
        F.concat(F.lit(dbr), "src").alias("uri"), F.concat(F.lit(dbr), "dst").alias("parent")
    )
    s = sameas.select(
        F.col("wikidata_uri").alias("uri"), F.col("dbpedia_uri").alias("parent")
    )
    return r.unionByName(s)


def apply_canonical_df(triples: DataFrame, cmap: DataFrame) -> DataFrame:
    """Rewrite subj and IRI objects through the canonical map.  Literal objects
    (obj_dt non-null) are never rewritten.

    The map is broadcast only while it fits
    spark.sql.autoBroadcastJoinThreshold by Catalyst plan stats
    (engine/stats.maybe_broadcast) — the canonical map is derived FROM
    redirects ∪ sameAs, so at dump scale it has the same 10^7-10^8-row
    cardinality and must degrade to a shuffle join (AQE splits hub-target
    skew at runtime)."""
    from .stats import maybe_broadcast

    cm = maybe_broadcast(cmap)
    out = (
        triples.join(
            cm.select(F.col("uri").alias("subj"), F.col("canonical").alias("subj_c")),
            "subj",
            "left",
        )
        .join(
            cm.select(F.col("uri").alias("obj"), F.col("canonical").alias("obj_c")),
            "obj",
            "left",
        )
        .select(
            triples["doc_id"] if "doc_id" in triples.columns else F.lit(None).alias("doc_id"),
            F.coalesce("subj_c", "subj").alias("subj"),
            "pred",
            F.when(F.col("obj_dt").isNull(), F.coalesce("obj_c", "obj"))
            .otherwise(F.col("obj"))
            .alias("obj"),
            "obj_dt",
        )
    )
    return out
