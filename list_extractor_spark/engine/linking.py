"""Linking stage (L1-L3): resolve deferred mention sentinels.

Replaces the reference's two HTTP round-trips per element
(wikidataAPI_call mapper.py:1547-1577; find_DBpedia_uri mapper.py:1580-1602)
with lookups against the snapshotted mention index and the sameAs snapshot:

    subj = coalesce(sameas.dbpedia_uri, mention_index.wikidata_uri,
                    link_fallback, subj)

Two regimes, picked per build from plan statistics (Pipeline.run):

* driver lookups (``driver_lookups``) — when the redirects, the rank-1 index
  and sameAs are LocalRelations within the broadcast threshold, the driver
  turns them into dicts (``SnapshotLookups``) that the extract kernel
  probes per row (engine/extract.py), with the same left-join fan-out and
  NULL semantics; no join runs.  Each dict is bounded by the broadcast
  budget of the side it replaces.
* joins (``resolve_links``, ``resolve_redirects``) — one hash join against
  the index followed by one against sameAs, each broadcast while it fits
  the threshold and shuffled past it (see _auto_salt /
  engine/stats.fits_broadcast).

Skew: hub mentions ("List of ..." pages link the same few entities millions of
times) make hot join keys.  With a broadcast build side there is no shuffle so
key skew costs nothing; the salted path is the shuffled regime for when the
index outgrows the broadcast threshold: the probe side gets a deterministic
salt column, the build side is exploded AUTO_SALT ways, and AQE skew-join
splitting handles the residue.  The regime follows the SIZE of the rank-1
index against spark.sql.autoBroadcastJoinThreshold (_auto_salt), the same
adaptive pattern as canonicalize.canonical_map_df — nothing silently
broadcasts an index that outgrew its snapshot.
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
    redirects: DataFrame,
    canonicalize: bool,
) -> SnapshotLookups | None:
    """The driver-lookup regime's dicts, or None for the join chain.

    It applies when the redirects, the rank-1 mention index and sameAs each
    plan as a LocalRelation (their rows already live in the driver, so the
    collects below run no job) and each fits the broadcast budget: every
    dict is then bounded by the same budget as the broadcast side it
    replaces, and the canonical map, derived from redirects and sameAs, by
    theirs.  A file-backed side or a disabled broadcast
    (``spark.sql.autoBroadcastJoinThreshold <= 0``) keeps the joins."""
    from ..core.canonical import build_edges, canonical_map
    from .stats import fits_broadcast, local_relation_rows

    idx = mention_index.filter(F.col("rank") == 1).select("lang", "surface", "wikidata_uri")
    sides = (redirects.select("src", "dst"), idx, sameas.select("wikidata_uri", "dbpedia_uri"))
    if not all(local_relation_rows(s) is not None and fits_broadcast(s) for s in sides):
        return None
    rd, mi, sa = (s.collect() for s in sides)
    return SnapshotLookups(
        redirects=_multimap(
            (src, src if dst is None else dst) for src, dst in rd if src is not None
        ),
        mentions=_multimap(
            ((lang, surface), wk) for lang, surface, wk in mi
            if lang is not None and surface is not None
        ),
        sameas=_multimap((wk, db) for wk, db in sa if wk is not None),
        canonical=canonical_map(build_edges(rd, sa)) if canonicalize else {},
    )


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
