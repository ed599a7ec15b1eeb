"""Narrow extract stage: documents -> candidate triples, zero shuffle.

Replaces the reference's serial per-page loop (listExtractor.py:122-142:
JVM subprocess per page + HTTP per element) with ONE Arrow-batched
``mapInArrow`` pass that fuses parse (P1-P3), rule dispatch (D1-D3) and the
mapper cascade (M1-M15) per document.  The batch pipeline
(engine/pipeline.py) and the streaming flow (streaming/stream_extract.py)
run this same kernel; the per-document stats (``extract_metrics``) and the
standalone parse stage (``parse_items``) are other emitters over it:

  * the span array stays whole inside one row, so the section-title state
    machine folds in document order with no shuffle and no explode;
  * each Arrow batch's ``spans`` list column is flattened ONCE into its four
    primitive child arrays and sliced per document, so no span becomes a
    Python dict; a NULL or empty ``spans`` is an empty document;
  * per-document state the reference relies on (mapped_domains, sticky award
    status, the staff-vs-alumni within-page anti-join) is naturally scoped;
  * rule tables ride along as broadcast variables captured in the closure;
  * entity-link *decisions* use a broadcast membership structure — an exact
    key set for small indexes, or the distributed-built Bloom bitmap
    (engine/bloom.py) the pipeline defaults to.  URI *resolution* follows
    the pipeline's regime (engine/linking.py): with snapshot-sized sides the
    linker also carries the redirect, index, sameAs and canonical dicts and
    this pass emits linked rows (``_linked``); otherwise the sentinels are
    left to the downstream joins, and at full scale only a fixed-size bitmap
    ships to executors, never the index rows.

Scale note: mega "List of ..." pages make single heavy rows.  The stage
optionally pre-distributes by span count (repartitionByRange on the spans'
size) so a few hub documents don't serialize one task; AQE handles residual
skew.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..core.extractors import dbr_ns, list_elem_clean
from ..core.links import DeferredLinker, split_sentinel
from ..core.mappers import _mint, extract_document
from ..core.parser import parse_spans
from .schemas import CANDIDATES_SCHEMA, ITEMS_SCHEMA, METRICS_SCHEMA

# the span tuple order core.parser.parse_spans folds over
_SPAN_FIELDS = ("kind", "text", "media_ref", "offset")


def _sentinel_parts(subj: str):
    """sentinel -> (link_lang, link_surface, minted fallback IRI).

    The fallback reproduces the miss branch's subject (reference
    mapper.py:884-887: list_elem_clean + fallback mint), used when the
    linking join finds no index row for a deferred mention."""
    hit = split_sentinel(subj)
    if hit is None:
        return None, None, None
    return (*hit, _fallback(*hit))


def _fallback(ll: str, ls: str) -> str:
    return _mint(list_elem_clean(ls), dbr_ns(ll))


def _link_subjects(lookups, subj: str) -> list:
    """One candidate subject through the driver-regime lookups: one entry
    per row the link join and sameAs join would give it, each
    coalesce(dbpedia_uri, wikidata_uri, link_fallback, subj), then the
    canonical map (engine/linking.resolve_links + apply_canonical_df)."""
    hit = split_sentinel(subj)
    if hit is None:
        out = [subj]
    else:
        out = []
        # a missing key, or a rank-1 row whose URI is NULL, takes the fallback
        for wk in lookups.mentions.get(hit, (None,)):
            if wk is None:
                out.append(_fallback(*hit))
            else:
                out.extend(wk if db is None else db for db in lookups.sameas.get(wk, (None,)))
    canon = lookups.canonical
    return [canon.get(s, s) for s in out]


def _map_documents(documents: DataFrame, cols, schema, emit, linker=None) -> DataFrame:
    """One mapInArrow pass: ``emit(linker, *row, spans)`` per document, where
    ``row`` holds the ``cols`` values and ``spans`` the document's
    (kind, text, media_ref, offset) tuples; it returns the document's output
    rows as tuples in ``schema`` order.

    A missing ``res_target`` column defaults to ``doc_id`` and a missing
    ``res_classes`` to ``[res_class]``."""
    defaults = {"res_target": F.col("doc_id"), "res_classes": F.array("res_class")}
    documents = documents.select(
        *(F.col(c) if c in documents.columns else defaults[c].alias(c) for c in cols),
        "spans",
    )
    b_linker = documents.sparkSession.sparkContext.broadcast(linker)
    out_schema = to_arrow_schema(schema)

    def run(batches):
        lk = b_linker.value
        for batch in batches:
            spans = batch.column("spans")
            lengths = spans.value_lengths().fill_null(0).to_pylist()
            flat = spans.flatten()
            fields = [flat.field(f).to_pylist() for f in _SPAN_FIELDS]
            rows, start = [], 0
            for *row, n in zip(*(batch.column(c).to_pylist() for c in cols), lengths):
                doc_spans = list(zip(*(f[start:start + n] for f in fields)))
                rows.extend(emit(lk, *row, doc_spans))
                start += n
            columns = list(zip(*rows)) or [()] * len(out_schema)
            yield pa.RecordBatch.from_pydict(
                dict(zip(out_schema.names, columns)), schema=out_schema
            )

    return documents.mapInArrow(run, schema=schema)


def _candidates(linker, doc_id, lang, res_classes, res_target, spans):
    triples, _ = extract_document(res_target, res_classes, lang, spans, linker)
    return [(doc_id, s, p, o, dt, *_sentinel_parts(s)) for s, p, o, dt in triples]


def _linked(linker, doc_id, lang, res_classes, spans):
    """_candidates in the driver-lookup regime: the document is extracted
    once per redirect target, and each row comes out linked and
    canonicalized (IRI objects only), with NULL link columns."""
    lk = linker.lookups
    canon = lk.canonical
    rows = []
    for target in lk.redirects.get(doc_id, (doc_id,)):
        triples, _ = extract_document(target, res_classes, lang, spans, linker)
        for s, p, o, dt in triples:
            if dt is None:
                o = canon.get(o, o)
            rows.extend(
                (doc_id, subj, p, o, dt, None, None, None) for subj in _link_subjects(lk, s)
            )
    return rows


def _metrics(linker, doc_id, lang, res_classes, spans):
    triples, stats = extract_document(doc_id, res_classes, lang, spans, linker)
    return [(doc_id, *stats, len(triples))]


def _items(_linker, doc_id, lang, res_class, spans):
    rows = []
    for section_path, items in parse_spans(spans, lang).items():
        for idx, item in enumerate(items):
            nested = isinstance(item, list)
            rows.extend(
                (doc_id, lang, res_class, section_path, idx, 2 if nested else 1, text)
                for text in (item if nested else [item])
            )
    return rows


def extract_candidates(documents: DataFrame, linkable_keys=None, lookups=None) -> DataFrame:
    """documents(doc_id, lang, res_class, spans[, res_target, res_classes])
    -> candidates (CANDIDATES_SCHEMA).

    ``linkable_keys``: broadcastable set of (lang, surface) mention keys; link
    resolution is deferred to the join stage via sentinels.
    ``res_target``: optional redirect-resolved page id (defaults to doc_id).
    ``res_classes``: optional class list overriding ``[res_class]``.
    ``lookups``: the driver-lookup regime's ``linking.SnapshotLookups``.
    With it the redirects come from ``doc_id`` and the rows come out linked
    (and canonicalized when the lookups carry a canonical map), so no join
    stage follows.
    """
    keys = linkable_keys if linkable_keys is not None else set()
    if lookups is not None:
        return _map_documents(
            documents, ("doc_id", "lang", "res_classes"),
            CANDIDATES_SCHEMA, _linked, DeferredLinker(keys, lookups),
        )
    return _map_documents(
        documents, ("doc_id", "lang", "res_classes", "res_target"),
        CANDIDATES_SCHEMA, _candidates, DeferredLinker(keys),
    )


# the benchmark (perfbench/) imports the kernel under this name as well
extract_candidates_arrow = extract_candidates


def parse_items(documents: DataFrame) -> DataFrame:
    """Standalone parse stage (P1-P3): documents -> one row per list item.

    Used for the per-row parse-invariant check and as the resumability
    boundary mirroring the reference's resDict debug dump (utilities.py:101-153).
    """
    return _map_documents(documents, ("doc_id", "lang", "res_class"), ITEMS_SCHEMA, _items)


def extract_metrics(documents: DataFrame, linkable_keys=None) -> DataFrame:
    """Per-document extraction stats (the reference's evaluate() numbers,
    utilities.py:319-346), computed by the same kernel.  The resource is
    ``doc_id`` (not ``res_target``), and a ``res_classes`` override column is
    honoured the same way extract_candidates does (so a -c classname
    override counts what the pipeline actually extracts)."""
    linker = DeferredLinker(linkable_keys if linkable_keys is not None else set())
    return _map_documents(
        documents, ("doc_id", "lang", "res_classes"), METRICS_SCHEMA, _metrics, linker
    )
