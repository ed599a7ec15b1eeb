"""Entity-linking context backed by snapshot tables (L1-L3 in SURVEY.md §2.6).

The reference resolves each mention with two live HTTP calls per element
(wikidataAPI_call, /root/reference/mapper.py:1547-1577; find_DBpedia_uri,
mapper.py:1580-1602).  This engine replaces them with lookups against
pre-snapshotted tables:

    mention_index(lang, surface, wikidata_uri)   <- top-1 wbsearchentities
    sameas(wikidata_uri, dbpedia_uri)            <- owl:sameAs snapshot

Inside the mapInArrow extract kernel (engine/extract.py) the *decision*
(does this mention link?) uses a broadcast key set or Bloom bitmap.  The
*resolution* follows the pipeline's regime (engine/linking.py): with
snapshot-sized sides the DeferredLinker also carries them as dicts and the
kernel resolves each mention itself; past the broadcast budget, or with a
file-backed side, mentions are resolved by joins, so the scale path never
ships a driver-side dict.
"""

from __future__ import annotations


class Linker:
    """Deterministic resolver over snapshot dicts."""

    def __init__(self, mention_index=None, sameas=None):
        # (lang, surface) -> wikidata_uri ; surface is the raw '{{...}}' match.
        self.mention_index = mention_index or {}
        # wikidata_uri -> dbpedia_uri
        self.sameas = sameas or {}

    def wikidata(self, surface: str, lang: str):
        """Snapshot stand-in for wikidataAPI_call (mapper.py:1547-1577)."""
        return self.mention_index.get((lang, surface))

    def dbpedia(self, wikidata_uri: str, lang: str):
        """Snapshot stand-in for find_DBpedia_uri (mapper.py:1580-1602)."""
        return self.sameas.get(wikidata_uri)


NULL_LINKER = Linker()

MENTION_SENTINEL = "urn:mention:"


class DeferredLinker(Linker):
    """Linker used inside the Spark extract kernel: it *decides* link hits
    from a broadcast membership set but defers URI resolution past the
    mapper cascade (engine/linking.py).

    A hit returns the sentinel ``urn:mention:<lang>:<surface>``; the
    resolution replaces it with coalesce(dbpedia_uri, wikidata_uri), in the
    extract kernel itself when ``lookups`` is set, else in the join stage.
    dbpedia() returns None so the sentinel survives the mapper's sameAs step
    intact.

    Scale rationale: executors only need the *key set* of the mention index
    (compact, broadcastable); past the broadcast budget the value-bearing
    index stays a distributed table joined once, instead of a driver-shipped
    dict of every URI.
    """

    def __init__(self, linkable_keys, lookups=None):
        super().__init__()
        self.linkable = linkable_keys  # set of (lang, surface)
        # driver-lookup regime: the snapshot sides as dicts
        # (engine/linking.SnapshotLookups), applied by the extract kernel
        # instead of the join stage
        self.lookups = lookups

    def wikidata(self, surface: str, lang: str):
        if (lang, surface) in self.linkable:
            return f"{MENTION_SENTINEL}{lang}:{surface}"
        return None

    def dbpedia(self, wikidata_uri: str, lang: str):
        return None


def split_sentinel(uri: str):
    """urn:mention:<lang>:<surface> -> (lang, surface) or None."""
    if not uri.startswith(MENTION_SENTINEL):
        return None
    rest = uri[len(MENTION_SENTINEL):]
    lang, _, surface = rest.partition(":")
    return lang, surface
