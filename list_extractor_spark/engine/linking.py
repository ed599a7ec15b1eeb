"""Linking stage (L1-L3): resolve deferred mention sentinels.

Replaces the reference's two HTTP round-trips per element
(wikidataAPI_call mapper.py:1547-1577; find_DBpedia_uri mapper.py:1580-1602)
with lookups against the snapshotted mention index and the sameAs snapshot:

    subj = coalesce(sameas.dbpedia_uri, mention_index.wikidata_uri,
                    link_fallback, subj)

``link_documents`` is that step for Pipeline.run and both stream sinks
(streaming/stream_extract.py), in one of two regimes read from plan
statistics alone (``driver_lookups``): snapshot-sized sides become dicts
(``SnapshotLookups``) that the extract kernel probes per row
(engine/extract.py) with the joins' fan-out and NULL semantics, or the
join chain runs (``resolve_redirects``, ``resolve_links``,
canonicalize.apply_canonical_df), each join broadcast while its side fits
the threshold and shuffled past it (_auto_salt / stats.fits_broadcast).

Skew: hub mentions ("List of ..." pages link the same few entities millions
of times) make hot join keys.  A broadcast build side has no shuffle, so
skew costs nothing; once the rank-1 index outgrows the threshold
(_auto_salt) the probe side gets a deterministic salt, the build side is
exploded AUTO_SALT ways and AQE skew-join splitting handles the residue.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F

# salt width for the auto-selected shuffled path: wide enough to split a hub
# key across a whole executor wave, small enough that exploding the build side
# K ways stays cheap relative to the probe
AUTO_SALT = 8


class SnapshotLookups(NamedTuple):
    """The join chain's snapshot sides as driver-built dicts (the
    driver-lookup regime, ``driver_lookups``).  A value list holds one entry
    per matching snapshot row, so a duplicate key fans out as the left join
    does; NULL keys are left out, as a join never matches them."""

    redirects: dict  # src -> [coalesce(dst, src), ...]
    mentions: dict  # (lang, surface) -> [wikidata_uri, ...] of rank-1 rows
    sameas: dict  # wikidata_uri -> [dbpedia_uri, ...]
    canonical: dict  # uri -> canonical uri; empty without canonicalization


def _multimap(pairs) -> dict:
    out: dict = {}
    for k, v in pairs:
        out.setdefault(k, []).append(v)
    return out


def driver_lookups(
    mention_index: DataFrame,
    sameas: DataFrame,
    redirects: DataFrame | None = None,
    canonical: bool | DataFrame | None = None,
) -> SnapshotLookups | None:
    """The driver-lookup regime's dicts, or None for the join chain.

    ``redirects`` None resolves none.  ``canonical`` True derives the
    canonical map from the redirects and sameAs; a (uri, canonical) frame is
    a caller's map, where as in the join a NULL ``uri`` never matches and a
    NULL ``canonical`` keeps the IRI.

    It applies when every side plans as a LocalRelation (its rows already
    live in the driver, so the collects below run no job) and fits the
    broadcast budget, which then bounds each dict.  A file-backed side, a
    disabled broadcast (``spark.sql.autoBroadcastJoinThreshold <= 0``) or a
    caller's map with a duplicate ``uri`` (the join fans its rows out)
    keeps the joins."""
    from ..core.canonical import build_edges, canonical_map
    from .stats import fits_broadcast, local_relation_rows

    idx = mention_index.filter(F.col("rank") == 1).select("lang", "surface", "wikidata_uri")
    sides = [idx, sameas.select("wikidata_uri", "dbpedia_uri")]
    if redirects is not None:
        sides.append(redirects.select("src", "dst"))
    caller_map = isinstance(canonical, DataFrame)
    if caller_map:
        sides.append(canonical.select("uri", "canonical"))
    if not all(local_relation_rows(s) is not None and fits_broadcast(s) for s in sides):
        return None
    mi, sa, *rest = (s.collect() for s in sides)
    rd = rest[0] if redirects is not None else []
    if caller_map:
        cm = [(u, c) for u, c in rest[-1] if u is not None]
        if len({u for u, _ in cm}) < len(cm):
            return None
        cmap = {u: c for u, c in cm if c is not None}
    else:
        cmap = canonical_map(build_edges(rd, sa)) if canonical else {}
    return SnapshotLookups(
        redirects=_multimap(
            (src, src if dst is None else dst) for src, dst in rd if src is not None
        ),
        mentions=_multimap(
            ((lang, surface), wk) for lang, surface, wk in mi
            if lang is not None and surface is not None
        ),
        sameas=_multimap((wk, db) for wk, db in sa if wk is not None),
        canonical=cmap,
    )


def link_documents(
    documents: DataFrame,
    mention_index: DataFrame,
    sameas: DataFrame,
    linkable_keys,
    redirects: DataFrame | None = None,
    canonical: bool | DataFrame | None = None,
    stage=None,
) -> DataFrame:
    """documents -> linked (doc_id, subj, pred, obj, obj_dt) rows in the
    regime ``driver_lookups`` picks (``redirects``, ``canonical`` as there):
    one mapInArrow extract pass, or the redirect join, extract,
    ``resolve_links`` and ``apply_canonical_df``; the same rows as a
    multiset either way.

    ``stage(name, make)``: Pipeline.run's run_dir checkpoint, returning the
    committed stage ``name`` or committing ``make()``.  A reused
    ``candidates`` stage takes the join chain, a no-op on rows the driver
    regime already linked (the canonical map is idempotent)."""
    from .canonicalize import apply_canonical_df, canonical_map_df, identity_edges
    from .extract import extract_candidates

    stage = stage or (lambda _name, make: make())
    lookups = None

    def extract():
        nonlocal lookups  # set only when the stage is computed, not reused
        lookups = driver_lookups(mention_index, sameas, redirects, canonical)
        docs = documents
        if lookups is None and redirects is not None:
            docs = resolve_redirects(documents, redirects)
        return extract_candidates(docs, linkable_keys=linkable_keys, lookups=lookups)

    candidates = stage("candidates", extract)
    if lookups is not None:
        return candidates.select("doc_id", "subj", "pred", "obj", "obj_dt")
    linked = stage("linked", lambda: resolve_links(candidates, mention_index, sameas))
    if canonical is True:
        canonical = canonical_map_df(identity_edges(redirects, sameas))
    return apply_canonical_df(linked, canonical) if isinstance(canonical, DataFrame) else linked


def _auto_salt(idx: DataFrame) -> int:
    """0 (broadcast) while the rank-1 index fits the broadcast threshold,
    AUTO_SALT past it — the shared plan-stats probe (engine/stats.py
    fits_broadcast) does the sizing; see its docstring for the zero-job /
    bounded-count envelope."""
    from .stats import fits_broadcast

    return 0 if fits_broadcast(idx) else AUTO_SALT


def resolve_links(
    candidates: DataFrame,
    mention_index: DataFrame,
    sameas: DataFrame,
) -> DataFrame:
    """candidates (with link_lang/link_surface on deferred rows) -> triples
    (doc_id, subj, pred, obj, obj_dt) with sentinels resolved.

    ONE left join, no candidate split: rows without a link key have a null
    link_surface, which matches nothing, so coalesce keeps their minted subj.
    Splitting into linked/direct branches would make a lazy plan compute the
    upstream extract stage twice (each branch re-reads it).

    The index join broadcasts while the index fits the broadcast threshold
    and takes the salted shuffled-hash path past it (see _auto_salt)."""
    # top-1 semantics of the reference's wbsearchentities result (mapper.py:1566):
    # the snapshot carries a rank column; keep rank-1 rows only.
    idx = mention_index.filter(F.col("rank") == 1).select(
        F.col("lang").alias("mi_lang"),
        F.col("surface").alias("mi_surface"),
        "wikidata_uri",
    )
    sa = sameas.select("wikidata_uri", "dbpedia_uri")

    salt = _auto_salt(idx)
    if salt:
        # Shuffled-hash path with salting for when the index exceeds broadcast:
        # replicate the build side K ways, randomize the probe side's salt.
        idx = idx.crossJoin(
            F.broadcast(
                idx.sparkSession.range(salt).select(F.col("id").cast("int").alias("mi_salt"))
            )
        )
        probe = candidates.withColumn(
            # pmod alone maps negative hashes into [0, salt); abs() here would
            # be an ANSI-mode ARITHMETIC_OVERFLOW poison pill when a row
            # hashes to Integer.MIN_VALUE (1-in-2^32 per row — near-certain
            # at the row counts this path exists for)
            "salt_k", F.pmod(F.hash("doc_id", "pred", "obj"), F.lit(salt)).cast("int")
        )
        join_cond = (
            (F.col("link_lang") == F.col("mi_lang"))
            & (F.col("link_surface") == F.col("mi_surface"))
            & (F.col("salt_k") == F.col("mi_salt"))
        )
        resolved = probe.join(idx, join_cond, "left")
    else:
        resolved = candidates.join(
            F.broadcast(idx),
            (F.col("link_lang") == F.col("mi_lang"))
            & (F.col("link_surface") == F.col("mi_surface")),
            "left",
        )

    fallback = (
        ["link_fallback"] if "link_fallback" in candidates.columns else []
    )
    # sameAs snapshot: broadcast only while it fits the budget — a real
    # DBpedia<->Wikidata dump is 10^7-10^8 rows, multi-GB as a build side;
    # past the threshold this degrades to a shuffle join (AQE splits skew)
    from .stats import maybe_broadcast

    return resolved.join(maybe_broadcast(sa), "wikidata_uri", "left").select(
        "doc_id",
        # dbpedia wins when the sameAs snapshot has it (reference
        # mapper.py:876-880), else the wikidata URI; a deferred mention the
        # index cannot resolve (Bloom false positive / stale index) degrades
        # to the minted fallback IRI so no sentinel survives; else the subj
        F.coalesce("dbpedia_uri", "wikidata_uri", *fallback, "subj").alias("subj"),
        "pred",
        "obj",
        "obj_dt",
    )


def attach_page_types(documents: DataFrame, page_types: DataFrame) -> DataFrame:
    """S3/S4: rdf:type lookup as a broadcast-hash join against the page_types
    snapshot (replaces the reference's per-resource SPARQL,
    utilities.py:282-302).  A page with several types gets all of them, in
    sorted order — the reference runs the mappers once per type with the
    domain-dedup list shared across types, and collect_list order is
    nondeterministic, so sorting makes the dispatch deterministic.

    Broadcast is size-gated: grouped to one row per resource, a class-mode
    page_types snapshot is corpus-sized, so past the threshold the join
    degrades to a shuffle (stats probed on the pre-aggregation scan, whose
    file-backed estimate is reliable; the grouped side is never larger)."""
    from .stats import fits_broadcast

    types = page_types.groupBy("resource").agg(
        F.sort_array(F.collect_list("rdf_type")).alias("type_list")
    )
    if fits_broadcast(page_types):
        types = F.broadcast(types)
    return (
        documents.join(
            types, documents["doc_id"] == types["resource"], "left"
        )
        .withColumn("res_classes", F.coalesce("type_list", F.array("res_class")))
        .drop("resource", "type_list")
    )


def resolve_redirects(documents: DataFrame, redirects: DataFrame) -> DataFrame:
    """S2: left-outer join + coalesce replaces the reference's re-fetch under
    the redirect target (wikiParser.py:298-334, caller :51-53).  The resolved
    id becomes the page resource used in emitted triples.

    Broadcast is size-gated: an enwiki redirect dump is ~10^7 rows, so past
    the threshold this degrades to a shuffle join rather than forcing a
    multi-GB build side."""
    from .stats import maybe_broadcast

    r = redirects.select(F.col("src").alias("doc_id"), F.col("dst"))
    return documents.join(maybe_broadcast(r), "doc_id", "left").withColumn(
        "res_target", F.coalesce("dst", "doc_id")
    ).drop("dst")
