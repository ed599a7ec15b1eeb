"""Canonicalization semantics (L6 in SURVEY.md §2.6) — pure-Python oracle.

The reference resolves redirects only at page fetch (wikiParser.py:298-334)
and sameAs only per lookup (mapper.py:1580-1602).  This engine adds a proper
canonicalization pass over the union of directed identity edges:

    redirect:  dbr:<src>        -> dbr:<dst>
    sameAs:    wikidata entity  -> dbpedia resource

Canonical IRI of a node = the sink reached by following pointers (union-find
with path compression).  Cycles (possible in real redirect dumps) collapse to
the lexicographically smallest IRI on the cycle.  The Spark implementation
(engine/canonicalize.py) runs the same pointer-halving iteration as joins and
must agree with this oracle exactly.
"""

from __future__ import annotations


def min_parent(edges) -> dict:
    """(uri, parent) pairs -> directed parent dict {uri: parent_uri}.

    A uri with several outgoing edges (dirty redirect dumps; sameAs snapshots
    with one wikidata entity mapped per language) keeps the MIN parent —
    order-independent, and the rule the Spark engine applies on both of its
    paths (engine/canonicalize.py), so oracle and engine agree on duplicates.
    An edge with a NULL end is no edge, as in the engine's SQL joins."""
    parent: dict = {}
    for u, p in edges:
        if u is not None and p is not None and (u not in parent or p < parent[u]):
            parent[u] = p
    return parent


def build_edges(redirects, sameas, dbr: str = "http://dbpedia.org/resource/"):
    """(src_id, dst_id) redirects + (wikidata_uri, dbpedia_uri) sameAs
    -> directed parent dict {uri: parent_uri} (``min_parent``)."""
    prefixed = [(None if s is None else dbr + s, None if d is None else dbr + d)
                for s, d in redirects]
    return min_parent(prefixed + list(sameas))


def canonical_map(parent: dict) -> dict:
    """Resolve every node with a parent pointer to its sink (cycle -> min IRI).

    Returns {uri: canonical_uri} only for uris that actually change.
    """
    out = {}
    for node in parent:
        seen = [node]
        seen_set = {node}
        cur = node
        while cur in parent:
            cur = parent[cur]
            if cur in seen_set:
                cur = min(seen[seen.index(cur):])  # smallest IRI on the cycle
                break
            seen.append(cur)
            seen_set.add(cur)
        if cur != node:
            out[node] = cur
    return out


def apply_canonical(triples, cmap: dict):
    """Rewrite subj and IRI objects through the canonical map (literals kept)."""
    out = set()
    for s, p, o, dt in triples:
        s2 = cmap.get(s, s)
        o2 = o if dt is not None else cmap.get(o, o)
        out.add((s2, p, o2, dt))
    return out
