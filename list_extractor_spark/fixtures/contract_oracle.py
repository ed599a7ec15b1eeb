"""VALUES-literal DuckDB oracles for the kg_* contract queries.

The driver's hard correctness signal is Spark-vs-DuckDB agreement
(rows + schema + value hash).  The KG pipeline itself is not SQL-expressible,
but its inputs are fully deterministic: the fixture corpus is seeded
(fixtures/corpus.py) and the spanify adapter is a pure function of the
driver's parquet documents.  So the *expected output is a constant*, and the
"equivalent ANSI SQL" is a VALUES literal generated here by running the
pure-Python semantics core (the same core the pytest parity gate uses,
fixtures/oracle.py) — no Spark involved anywhere in this module.

The independence caveat (the generator shares core/ with the implementation)
is covered separately by tests/test_golden_pages.py, which checks emitted
triples against the reference's committed .ttl outputs.
"""

from __future__ import annotations

import os
import re
from decimal import ROUND_HALF_UP, Decimal

from ..core.canonical import build_edges, canonical_map
from ..core.links import DeferredLinker, split_sentinel
from ..core.mappers import extract_document
from ..core.parser import parse_spans
from .corpus import make_corpus, make_snapshots
from .oracle import oracle_triples

# contract-query corpus knobs — single source shared with __spark_entry__.py
KG_DOCS = 96
KG_HUB_EVERY = 48
KG_HUB_ITEMS = 120


def _round_half_up(value: float, ndigits: int) -> float:
    """Round matching Spark's F.round on doubles: BigDecimal.valueOf uses the
    double's SHORTEST decimal repr (== python repr), then HALF_UP.  Python's
    builtin round() is half-to-even on the binary value, which diverges on
    exactly-representable dyadic ties (e.g. 1/128 -> 0.007812 vs Spark's
    0.007813) — a data-dependent driver-hash break."""
    q = Decimal(1).scaleb(-ndigits)
    return float(Decimal(repr(value)).quantize(q, rounding=ROUND_HALF_UP))


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def values_sql(rows, cols) -> str:
    """rows + [(name, ducktype)] -> a SELECT over a VALUES literal with
    explicit casts (explicit types keep the driver's hash stable: DuckDB
    must not infer HUGEINT/DECIMAL where Spark produces BIGINT/DOUBLE)."""
    names = ", ".join(f"c{i}" for i in range(len(cols)))
    casts = ", ".join(
        f'CAST(c{i} AS {t}) AS "{name}"' for i, (name, t) in enumerate(cols)
    )
    if not rows:
        nulls = ", ".join("NULL" for _ in cols)
        return f"SELECT {casts} FROM (VALUES ({nulls})) AS t({names}) WHERE FALSE"
    body = ",\n".join("(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in rows)
    return f"SELECT {casts} FROM (VALUES\n{body}\n) AS t({names})"


def _fixture_docs():
    return make_corpus(KG_DOCS, hub_every=KG_HUB_EVERY, hub_items=KG_HUB_ITEMS)


def _linkable_keys(snapshots):
    return {(lang, s) for (lang, s, _w, _r) in snapshots["mention_index"]}


def _doc_spans(d):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]]


# -- expected-row generators (pure Python, mirror __spark_entry__ queries) ---


def kg_pipeline_rows():
    triples = oracle_triples(_fixture_docs(), make_snapshots(), canonicalize=True)
    return sorted(triples)


def kg_candidates_rows():
    snaps = make_snapshots()
    linker = DeferredLinker(_linkable_keys(snaps))
    out = []
    for d in _fixture_docs():
        triples, _ = extract_document(
            d["doc_id"], [d["res_class"]], d["lang"], _doc_spans(d), linker
        )
        for s, p, o, dt in triples:
            hit = split_sentinel(s)
            ll, ls = hit if hit is not None else (None, None)
            out.append((d["doc_id"], s, p, o, dt, ll, ls))
    return sorted(out, key=lambda r: tuple("" if v is None else v for v in r))


def kg_parse_items_rows():
    out = []
    for d in _fixture_docs():
        res_dict = parse_spans(_doc_spans(d), d["lang"])
        for section_path, items in res_dict.items():
            for idx, item in enumerate(items):
                nested = isinstance(item, list)
                for t in item if nested else [item]:
                    out.append(
                        (d["doc_id"], d["lang"], d["res_class"], section_path,
                         idx, 2 if nested else 1, t)
                    )
    return sorted(out)


def kg_metrics_rows():
    snaps = make_snapshots()
    linker = DeferredLinker(_linkable_keys(snaps))
    out = []
    for d in _fixture_docs():
        triples, (n_sections, n_items, n_extracted) = extract_document(
            d["doc_id"], d["res_class"], d["lang"], _doc_spans(d), linker
        )
        out.append((d["doc_id"], n_sections, n_items, n_extracted, len(triples)))
    return sorted(out)


def kg_accuracy_rows():
    """Run-level rollup of kg_metrics per resource-name group (the reference's
    evaluation.csv totals, utilities.py:319-346)."""
    groups: dict = {}
    for doc_id, n_sections, n_items, n_extracted, n_triples in kg_metrics_rows():
        key = re.sub(r"_[0-9]+$", "", doc_id)
        g = groups.setdefault(key, [0, 0, 0, 0, 0])
        g[0] += 1
        g[1] += n_sections
        g[2] += n_items
        g[3] += n_extracted
        g[4] += n_triples
    out = []
    for key, (n_docs, s, i, e, t) in sorted(groups.items()):
        acc = _round_half_up(e / i, 6) if i else None
        out.append((key, n_docs, s, i, e, t, acc))
    return out


def stream_extract_rows():
    """Expected rows of the streaming extract+link flow, generated the way the
    stream actually computes them: per-doc extraction with the DeferredLinker
    (so the per-doc set-dedup happens over SENTINEL subjects, pre-resolution),
    then sentinel resolution replicating engine/linking.resolve_links —
    coalesce(dbpedia, wikidata, minted fallback).  Resolving FIRST and
    dedupping after (the previous form) under-counts whenever a minted subject
    collides with a resolved link on the same (pred, obj)."""
    from ..core.extractors import dbr_ns, list_elem_clean
    from ..core.mappers import _mint

    snaps = make_snapshots()
    linker = DeferredLinker(_linkable_keys(snaps))
    mi = {(lang, s): w for (lang, s, w, r) in snaps["mention_index"] if r == 1}
    sa = dict(snaps["sameas"])
    out = []
    for d in _fixture_docs():
        triples, _ = extract_document(
            d["doc_id"], [d["res_class"]], d["lang"], _doc_spans(d), linker
        )
        for s, p, o, dt in triples:
            hit = split_sentinel(s)
            if hit is not None:
                ll, ls = hit
                wk = mi.get((ll, ls))
                if wk is not None:
                    s = sa.get(wk, wk)
                else:  # rank!=1-only key: the join misses -> minted fallback
                    s = _mint(list_elem_clean(ls), dbr_ns(ll))
            out.append((d["doc_id"], s, p, o, dt))
    return sorted(out, key=lambda r: tuple("" if v is None else v for v in r))


def stream_canonical_rows():
    """stream_extract_rows with the static canonical snapshot applied per row
    — mirrors the in-stream broadcast apply (multiset kept: global dedup
    stays a batch post-pass over the sink)."""
    snaps = make_snapshots()
    cmap = canonical_map(build_edges(snaps["redirects"], snaps["sameas"]))
    out = []
    for doc_id, s, p, o, dt in stream_extract_rows():
        s = cmap.get(s, s)
        if dt is None:
            o = cmap.get(o, o)
        out.append((doc_id, s, p, o, dt))
    return sorted(out, key=lambda r: tuple("" if v is None else v for v in r))


def stream_stateful_dedup_rows():
    """Expected verdicts of the stateful streaming dedup over the duplicate-
    injected fixture corpus (one batch, per-group doc_ids sorted): per hash
    group kept = first sorted doc, n_seen = sorted rank."""
    import hashlib

    docs = _fixture_docs()
    rows = [(d["doc_id"], "\x00".join(s["text"] for s in d["spans"])) for d in docs]
    rows += [("dup_" + d, t) for d, t in rows[:10]]
    groups: dict = {}
    for doc_id, text in rows:
        h = hashlib.md5(text.encode("utf-8")).hexdigest()
        groups.setdefault(h, []).append(doc_id)
    out = []
    for h, ids in groups.items():
        ids.sort()
        for i, doc_id in enumerate(ids):
            out.append((h, doc_id, i == 0, ids[0], i + 1))
    return sorted(out)


STREAM_WINDOWED_EVENTS_SQL = """
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, event_type,
           count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
"""


_Q15 = Decimal("1e-15")


def _dec15(x: float) -> Decimal:
    """Replica of Spark's double -> DECIMAL(28,15) cast: HALF_UP over the
    SHORTEST DECIMAL REPR of the double (BigDecimal.valueOf goes through
    Double.toString), NOT over the exact binary value — the same repr-first
    trap _round_half_up documents.  Empirically pinned against the JVM in
    tests/test_graphstats.py: Decimal(x) (exact binary) diverges on 15-dp
    midpoints like 0.150001/1024 = ...5625e-4, repr() matches."""
    return Decimal(repr(x)).quantize(_Q15, ROUND_HALF_UP)


def _oracle_triple_list():
    return oracle_triples(_fixture_docs(), make_snapshots(), canonicalize=True)


def kg_degree_rows():
    """engine/graphstats.degree_stats replica: out-degree over ALL triples,
    in-degree over entity edges (obj_dt is None), distinct predicates out."""
    out_deg: dict[str, int] = {}
    pred_out: dict[str, set] = {}
    in_deg: dict[str, int] = {}
    for s, p, o, dt in _oracle_triple_list():
        out_deg[s] = out_deg.get(s, 0) + 1
        pred_out.setdefault(s, set()).add(p)
        if dt is None:
            in_deg[o] = in_deg.get(o, 0) + 1
    ents = sorted(set(out_deg) | set(in_deg))
    return [
        (e, out_deg.get(e, 0), in_deg.get(e, 0), len(pred_out.get(e, ())))
        for e in ents
    ]


def kg_pagerank_rows(iters: int = 5, damping: float = 0.85):
    """engine/graphstats.pagerank replica (GraphX convention: init 1.0,
    rank' = (1-d) + d*sum(in-contribs), parallel edges per occurrence, no
    dangling redistribution).  Mirrors the operator's determinism measures
    exactly: contributions quantize to DECIMAL(28,15) via _dec15 and sum
    EXACTLY, so summation order is immaterial; ranks re-round to 6 decimals
    per iteration."""
    edges = [(s, o) for (s, _p, o, dt) in _oracle_triple_list() if dt is None]
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out_deg: dict[str, int] = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    rank = {n: 1.0 for n in nodes}
    zero = Decimal(0)
    for _ in range(iters):
        acc: dict[str, Decimal] = {}
        for src, dst in edges:
            c = _dec15(rank[src] / out_deg[src])
            acc[dst] = acc.get(dst, zero) + c
        rank = {
            n: _round_half_up(
                (1.0 - damping) + damping * float(acc.get(n, zero)), 6
            )
            for n in nodes
        }
    return [(n, rank[n]) for n in nodes]


def kg_components_rows():
    """engine/graphstats.connected_components replica: union-find over the
    undirected entity edges (core/components — the same semantics twin the
    dedup resolver grades against), component_id = min entity IRI, size =
    member count."""
    from collections import Counter

    from ..core.components import components

    edges = [(s, o) for (s, _p, o, dt) in _oracle_triple_list() if dt is None]
    comp = components(edges)
    sizes = Counter(comp.values())
    return sorted((e, c, sizes[c]) for e, c in comp.items())


def kg_nhop_rows(hops: int = 3):
    """engine/graphstats.nhop_neighborhood replica: undirected-distinct entity
    edges, seed = hub (max degree over the deduped directed-pair list, ties
    to the lexically smallest IRI — the exact hub_entity rule), plain BFS."""
    from collections import Counter, defaultdict

    edges = [(s, o) for (s, _p, o, dt) in _oracle_triple_list() if dt is None]
    und = set()
    for s, o in edges:
        und.add((s, o))
        und.add((o, s))
    deg: Counter = Counter()
    adj = defaultdict(set)
    for s, o in und:
        deg[s] += 1
        deg[o] += 1
        adj[s].add(o)
    seed = sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    dist = {seed: 0}
    frontier = {seed}
    for h in range(1, hops + 1):
        nxt = {n for f in frontier for n in adj[f]} - dist.keys()
        for n in nxt:
            dist[n] = h
        frontier = nxt
    return sorted(dist.items())


def kg_canonical_map_rows():
    snaps = make_snapshots()
    cmap = canonical_map(build_edges(snaps["redirects"], snaps["sameas"]))
    return sorted(cmap.items())


# -- spanify replication (mirrors sources/spanify.py exactly; Java-regex
#    semantics: \s is ASCII whitespace, trim() strips 0x20 only) -------------

_SENT_SPLIT = re.compile(r"\.[ \t\n\x0b\f\r]+")
_WS_SPLIT = re.compile(r"[ \t\n\x0b\f\r]+")


def spanify_python(doc_id, lang, text, res_class="Writer"):
    # NULL text: Spark's concat(header, transform(split(NULL))) is a NULL
    # spans array, which the extract kernel reads as an empty document
    sentences = [] if text is None else [
        s for s in _SENT_SPLIT.split(text) if len(s.strip(" ")) > 0
    ]
    spans = [] if text is None else [("section:0", "Works", "", 0)]
    for i, s in enumerate(sentences):
        words = _WS_SPLIT.split(s.strip(" "))[:6]
        year = 1900 + (i * 7 + len(s)) % 120
        spans.append(
            ("list_item:1", f"''{' '.join(words)}'' ({year})", "", i + 1)
        )
    out_lang = lang if lang in ("en", "it", "de", "es") else "en"
    return {
        "doc_id": str(doc_id),
        "lang": out_lang,
        "res_class": res_class,
        "spans": [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for (k, t, m, o) in spans
        ],
    }


def kg_spanified_rows(sf_dir: str):
    import duckdb

    docs = duckdb.sql(
        f"SELECT doc_id, lang, text FROM '{os.path.join(sf_dir, 'documents.parquet')}'"
    ).fetchall()
    spanified = [spanify_python(doc_id, lang, text) for doc_id, lang, text in docs]
    triples = oracle_triples(spanified, make_snapshots(), canonicalize=True)
    return sorted(triples)


# -- hash-engine operators (minhash / simhash / LSH ANN) ----------------------
# Deterministic functions of Spark's murmur3 (fixtures/spark_hash.py mirrors
# it bit-for-bit), so the oracle is generated pure-Python + plain SQL.

from .spark_hash import hash_int, hash_str, xxh64_str  # noqa: E402


def _sf_documents(sf_dir: str):
    import duckdb

    return duckdb.sql(
        "SELECT CAST(doc_id AS VARCHAR), text FROM "
        f"'{os.path.join(sf_dir, 'documents.parquet')}'"
    ).fetchall()


def _py_tokens(text: str):
    # mirrors _tokens() in tda/dedup.py: array_distinct(split(lower(trim s)))
    out, seen = [], set()
    for t in _WS_SPLIT.split(text.strip(" ").lower()):
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


def _py_shingles(text: str, n: int = 3):
    toks = _WS_SPLIT.split(text.strip(" ").lower())
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def simhash_fp_rows(sf_dir: str, bits: int = 32):
    """Mirrors tda/dedup.simhash_fingerprints: murmur3 votes at bits<=32,
    xxhash64 votes above (both replicated bit-for-bit in spark_hash.py)."""
    hash_fn = hash_str if bits <= 32 else xxh64_str
    rows = []
    for doc_id, text in _sf_documents(sf_dir):
        if text is None:
            continue  # Spark's explode of the NULL token array emits nothing
        votes = [0] * bits
        for tok in _py_tokens(text):
            h = hash_fn(tok) & ((1 << bits) - 1)
            for i in range(bits):
                votes[i] += 1 if (h >> i) & 1 else -1
        fp = sum(1 << i for i in range(bits) if votes[i] > 0)
        if fp & (1 << 63):  # Spark's simhash column is a signed long
            fp -= 1 << 64
        rows.append((doc_id, fp))
    return sorted(rows)


def _minhash_bands(docs, k: int, bands: int):
    """(shingle sets, LSH band buckets) of ``docs`` — the per-shingle hashing
    that dominates every minhash oracle."""
    rows_per_band = k // bands
    shingle_sets = {
        d: _py_shingles(t)
        for d, t in docs
        if t is not None  # NULL text has no signature row on the Spark side
    }
    sigs = {}
    for doc_id, shs in shingle_sets.items():
        if not shs:
            continue
        base = [hash_str(sh) for sh in shs]
        sigs[doc_id] = [min(hash_int(i, b & 0xFFFFFFFF) for b in base) for i in range(k)]
    buckets: dict = {}
    for doc_id, sig in sigs.items():
        for b in range(bands):
            h = 42
            for r in range(rows_per_band):
                h = hash_int(sig[b * rows_per_band + r], h)
            buckets.setdefault((b, h), []).append(doc_id)
    return shingle_sets, buckets


# several oracles re-derive the same sf_dir's minhash bands; keyed by the
# documents file's identity as well, so a rewritten file is re-hashed
_MINHASH_BANDS_CACHE: dict = {}


def minhash_lsh_rows(sf_dir: str, k: int = 16, bands: int = 4, threshold: float = 0.2,
                     bucket_cap: int | None = None, docs=None):
    if docs is not None:
        shingle_sets, buckets = _minhash_bands(docs, k, bands)
    else:
        st = os.stat(os.path.join(sf_dir, "documents.parquet"))
        key = (sf_dir, st.st_mtime_ns, st.st_size, k, bands)
        if key not in _MINHASH_BANDS_CACHE:
            _MINHASH_BANDS_CACHE[key] = _minhash_bands(_sf_documents(sf_dir), k, bands)
        shingle_sets, buckets = _MINHASH_BANDS_CACHE[key]
    cand = set()
    for members in buckets.values():
        if bucket_cap and len(members) > bucket_cap:
            continue  # mirrors the Spark side's hub-bucket guard
        members = sorted(members)
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                cand.add((a, b))
    out = []
    for a, b in cand:
        sa, sb = shingle_sets[a], shingle_sets[b]
        common = len(sa & sb)
        j = _round_half_up(common / (len(sa) + len(sb) - common), 6)
        if j >= threshold:
            out.append((a, b, j))
    return sorted(out)


def compression_ratio_rows(sf_dir: str, level: int = 6):
    """tda/textstats.compression_ratio replica: SAME interpreter, SAME zlib,
    identical round() — bit-stable within this deployment by construction."""
    import zlib

    return sorted(
        (
            d,
            len(t.encode("utf-8")),
            round(
                len(zlib.compress(t.encode("utf-8"), level))
                / max(len(t.encode("utf-8")), 1),
                6,
            ),
        )
        for d, t in _sf_documents(sf_dir)
        if t is not None  # the Spark kernel skips NULL text
    )


def minhash_incremental_rows(sf_dir: str, split_at: int = 250,
                             threshold: float = 0.2,
                             bucket_cap: int | None = 50):
    """Expected pairs of minhash_incremental_pairs with corpus = doc_id <
    split_at, incoming = the rest: the combined-bucket candidate set is
    identical to the full self-join's (the Spark side caps the UNION of
    both sides' postings), restricted to pairs that are not corpus x
    corpus."""
    corp = lambda d: int(d) < split_at  # noqa: E731
    return [
        (a, b, j)
        for a, b, j in minhash_lsh_rows(
            sf_dir, threshold=threshold, bucket_cap=bucket_cap
        )
        if not (corp(a) and corp(b))
    ]


def dedup_incoming_rows(sf_dir: str, split_at: int = 250,
                        threshold: float = 0.2,
                        bucket_cap: int | None = 50):
    """Expected (doc_id, keep) of dedup_incoming: incoming docs paired with
    any corpus doc drop unconditionally (the committed copy wins);
    within-batch pairs resolve by union-find + keep_min."""
    from ..core.components import components

    corp = lambda d: int(d) < split_at  # noqa: E731
    pairs = minhash_incremental_rows(
        sf_dir, split_at=split_at, threshold=threshold, bucket_cap=bucket_cap
    )
    dropped = set()
    for a, b, _j in pairs:
        if corp(a):
            dropped.add(b)
        elif corp(b):
            dropped.add(a)
    within = [(a, b) for a, b, _j in pairs if not corp(a) and not corp(b)]
    dropped |= {d for d, c in components(within).items() if d != c}
    return sorted(
        (d, d not in dropped) for d, _t in _sf_documents(sf_dir) if not corp(d)
    )


def near_dup_resolve_rows(sf_dir: str, threshold: float = 0.2,
                          bucket_cap: int | None = 50):
    """Expected (doc_id, cluster_id, keep) of near_dup_resolve over the
    minhash pair graph: union-find (core/components.py) over the
    hash-replica pair list, keep_min policy."""
    from ..core.components import components

    prs = [(a, b) for a, b, _j in
           minhash_lsh_rows(sf_dir, threshold=threshold, bucket_cap=bucket_cap)]
    comp = components(prs)
    return sorted((d, c, d == c) for d, c in comp.items())


def near_dup_resolve_longest_rows(sf_dir: str, threshold: float = 0.2,
                                  bucket_cap: int | None = 50):
    """Expected rows of near_dup_resolve(policy='keep_longest'): same
    union-find clusters, survivor = longest text (codepoints), ties to the
    smaller doc_id — the policy a real corpus dedup wants (keep the most
    complete copy)."""
    from ..core.components import components

    texts = dict(_sf_documents(sf_dir))
    prs = [(a, b) for a, b, _j in
           minhash_lsh_rows(sf_dir, threshold=threshold, bucket_cap=bucket_cap)]
    clusters: dict = {}
    for d, c in components(prs).items():
        clusters.setdefault(c, []).append(d)
    out = []
    for c, members in clusters.items():
        best = min(members, key=lambda d: (-len(texts[d]), d))
        out.extend((d, c, d == best) for d in members)
    return sorted(out)


def dedup_corpus_sql(sf_dir: str) -> str:
    """Deduplicated-corpus oracle: every document id except the
    non-surviving near-dup cluster members."""
    drop = [d for d, _c, k in near_dup_resolve_rows(sf_dir) if not k]
    base = "SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents"
    if not drop:
        return base
    lits = ", ".join("'" + d.replace("'", "''") + "'" for d in drop)
    return f"{base} WHERE CAST(doc_id AS VARCHAR) NOT IN ({lits})"


# -- end-to-end curation pipeline oracle --------------------------------------
#
# The composite query (tda/curate.curate_corpus) chains quality filter ->
# line filter -> minhash dedup -> decontamination -> hash split -> packing.
# The filter stages reuse the SAME DuckDB formulations as their standalone
# contract oracles (text_quality_filter / text_line_filter in
# __spark_entry__.py — keep in sync); the hash-dependent drop sets (minhash
# clusters, shingle contamination) are precomputed here over the duckdb-
# cleaned texts and embedded as NOT IN literals, exactly like dedup_corpus_sql.

_CURATE_CLEAN_SQL = r"""
    WITH src AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             replace(coalesce(text, ''), '. ', '.' || chr(10)) AS text
      FROM documents
    ), q AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
             round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                   / length(text), 4) AS punct_ratio,
             round(len(regexp_extract_all(lower(text), '\b(the|and|of|a|to|in|is|it)\b'))
                   / len(regexp_split_to_array(trim(text), '\s+')), 4) AS stopword_ratio,
             round((length(text) - len(regexp_split_to_array(trim(text), '\s+')) + 1)
                   / len(regexp_split_to_array(trim(text), '\s+')), 4) AS mean_word_len,
             round(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                   / length(text), 4) AS upper_ratio
      FROM src
    ), keepv AS (
      SELECT doc_id FROM q
      WHERE NOT (n_chars < 200 OR n_chars > 100000 OR n_tokens < 32
                 OR mean_word_len < 2.0 OR mean_word_len > 12.0
                 OR stopword_ratio < 0.01 OR punct_ratio > 0.20
                 OR upper_ratio > 0.20)
    ), kept AS (
      SELECT s.doc_id, s.text FROM src s JOIN keepv USING (doc_id)
    ), lns AS (
      SELECT doc_id, string_split(text, chr(10)) AS ls FROM kept
    ), ex AS (
      SELECT doc_id, i AS pos, ls[i] AS line
      FROM lns, unnest(generate_series(1, len(ls))) AS u(i)
    ), lv AS (
      SELECT doc_id, pos, line,
             (len(regexp_split_to_array(trim(line), '\s+')) >= 3
              AND lower(line) NOT LIKE '%lorem ipsum%'
              AND lower(line) NOT LIKE '%{%'
              AND lower(line) NOT LIKE '%javascript%') AS keep
      FROM ex
    ), cleaned AS (
      SELECT doc_id,
             coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                                 ORDER BY pos), '') AS text
      FROM lv GROUP BY doc_id
    )
"""

_CURATE_BUCKET = """(strpos('0123456789abcdef', substr(md5(doc_id), 1, 1)) - 1) * 4096
                   + (strpos('0123456789abcdef', substr(md5(doc_id), 2, 1)) - 1) * 256
                   + (strpos('0123456789abcdef', substr(md5(doc_id), 3, 1)) - 1) * 16
                   + (strpos('0123456789abcdef', substr(md5(doc_id), 4, 1)) - 1)"""


def _duck_docs_con(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'documents.parquet')}'"
    )
    return con


def _curate_cleaned_docs(sf_dir: str):
    """(doc_id, cleaned_text) after quality + line filtering, duckdb-side."""
    con = _duck_docs_con(sf_dir)
    return con.execute(
        _CURATE_CLEAN_SQL
        + " SELECT doc_id, text FROM cleaned WHERE length(text) > 0"
        + " ORDER BY doc_id"
    ).fetchall()


def _curate_contaminated(sf_dir: str, surv_rows, n: int = 5, min_hits: int = 3):
    """doc_ids among the dedup survivors sharing >= min_hits distinct
    n-token shingles with any eval doc (eval = raw doc_id % 29 = 3 slice,
    re-keyed — same construction as the dedup_decontaminate query)."""
    import pandas as pd

    con = _duck_docs_con(sf_dir)
    con.register("surv", pd.DataFrame(surv_rows, columns=["doc_id", "text"]))
    lo, hi = 1, n - 1  # t[i:i+(n-1)] is an inclusive n-element slice
    q = rf"""
      WITH tr AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM surv
      ), trs AS (
        SELECT doc_id, array_to_string(t[i:i+{hi}], ' ') AS sh
        FROM tr, unnest(generate_series({lo}, len(t)-{hi})) AS u(i)
        WHERE len(t) >= {n}
      ), ev AS (
        SELECT 'e' || CAST(doc_id AS VARCHAR) AS eval_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents WHERE doc_id % 29 = 3
      ), evs AS (
        SELECT DISTINCT eval_id, array_to_string(t[i:i+{hi}], ' ') AS sh
        FROM ev, unnest(generate_series({lo}, len(t)-{hi})) AS u(i)
        WHERE len(t) >= {n}
      )
      SELECT DISTINCT doc_id FROM (
        SELECT trs.doc_id FROM trs JOIN evs USING (sh)
        GROUP BY trs.doc_id, evs.eval_id
        HAVING count(DISTINCT trs.sh) >= {min_hits}
      )
    """
    return {r[0] for r in con.execute(q).fetchall()}


def _not_in(col: str, vals) -> str:
    if not vals:
        return ""
    lits = ", ".join("'" + v.replace("'", "''") + "'" for v in sorted(vals))
    return f"\n        AND {col} NOT IN ({lits})"


def curate_pipeline_sql(sf_dir: str, budget_tokens: int = 512,
                        n_ranges: int = 4) -> str:
    """Full oracle for the text_curate_pipeline contract query."""
    from ..core.components import components

    cleaned = _curate_cleaned_docs(sf_dir)
    prs = [(a, b) for a, b, _j in
           minhash_lsh_rows(sf_dir, threshold=0.2, bucket_cap=50, docs=cleaned)]
    drop_dedup = {d for d, c in components(prs).items() if d != c}
    surv1 = [(d, t) for d, t in cleaned if d not in drop_dedup]
    drop_contam = _curate_contaminated(sf_dir, surv1)
    b1 = int(round(0.9 * 65536))
    b2 = int(round(0.95 * 65536))
    return (
        _CURATE_CLEAN_SQL
        + f""", surv AS (
      SELECT doc_id, text FROM cleaned
      WHERE length(text) > 0{_not_in('doc_id', drop_dedup)}{_not_in('doc_id', drop_contam)}
    ), t AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                 AS n_tokens,
             {_CURATE_BUCKET} AS bucket
      FROM surv
    )
    SELECT doc_id,
           CASE WHEN bucket < {b1} THEN 'train'
                WHEN bucket < {b2} THEN 'val'
                ELSE 'test' END AS split,
           n_tokens,
           CAST(floor((sum(n_tokens) OVER (PARTITION BY bucket % {n_ranges}
                         ORDER BY n_tokens DESC, doc_id ASC
                         ROWS UNBOUNDED PRECEDING) - n_tokens)
                      / {budget_tokens}.0) * {n_ranges} + bucket % {n_ranges}
                AS BIGINT) AS pack_id
    FROM t"""
    )


def winnow_signature_rows(sf_dir: str, k: int = 8, w: int = 4):
    """Mirrors tda/textstats.winnow_posting + winnow_signatures: lower +
    ASCII-whitespace collapse, char k-grams hashed with xxhash64, min per
    w-window (full windows only), distinct set -> (n, xor-fold)."""
    rows = []
    for doc_id, text in _sf_documents(sf_dir):
        if text is None:
            continue  # NULL text has no grams (winnow_posting skips it)
        t = re.sub("[ \t\n\x0b\f\r]+", " ", text.lower())
        if len(t) < k:
            continue
        hs = [xxh64_str(t[i : i + k]) for i in range(len(t) - k + 1)]
        sel = {min(hs[i - w + 1 : i + 1]) for i in range(w - 1, len(hs))}
        if not sel:
            continue
        acc = 0
        for h in sel:
            acc ^= h & 0xFFFFFFFFFFFFFFFF
        if acc & (1 << 63):
            acc -= 1 << 64
        rows.append((doc_id, len(sel), acc))
    return sorted(rows)


def winnow_overlap_rows(
    sf_dir: str, k: int = 8, w: int = 4, min_shared: int = 2,
    fp_cap: int | None = None,
):
    """Mirrors tda/dedup.winnow_overlap_pairs: per-doc winnowing fingerprint
    sets (same replica as winnow_signature_rows), hub fingerprints capped at
    fp_cap docs, pair intersections >= min_shared, overlap = n_shared /
    min(n_a, n_b) with sizes from the UNCAPPED sets (the _cap_postings
    discipline: denominators stay exact)."""
    from collections import defaultdict
    from itertools import combinations

    docs: dict[str, set] = {}
    for doc_id, text in _sf_documents(sf_dir):
        if text is None:
            continue
        t = re.sub("[ \t\n\x0b\f\r]+", " ", text.lower())
        if len(t) < k:
            continue
        hs = [xxh64_str(t[i : i + k]) for i in range(len(t) - k + 1)]
        sel = {min(hs[i - w + 1 : i + 1]) for i in range(w - 1, len(hs))}
        if sel:
            docs[doc_id] = sel
    inv = defaultdict(list)
    for d, s in docs.items():
        for fp in s:
            inv[fp].append(d)
    shared: dict[tuple, int] = defaultdict(int)
    for fp, ds in inv.items():
        if fp_cap and len(ds) > fp_cap:
            continue
        for a, b in combinations(sorted(ds), 2):
            shared[(a, b)] += 1
    return sorted(
        (a, b, c, _round_half_up(c / min(len(docs[a]), len(docs[b])), 6))
        for (a, b), c in shared.items()
        if c >= min_shared
    )


def _plane_sql(plane) -> str:
    return "[" + ", ".join(repr(float(v)) for v in plane) + "]"


def lsh_topk_sql(
    sf_dir: str, dim: int = 64, n_planes: int = 6, k: int = 10,
    n_probe_buckets: int = 1,
) -> str:
    import duckdb

    from ..tda.similarity import make_planes, query_buckets

    planes = make_planes(dim, n_planes=n_planes)
    (qvec,) = duckdb.sql(
        f"SELECT embedding FROM '{os.path.join(sf_dir, 'embeddings.parquet')}' "
        "WHERE vec_id = 0"
    ).fetchone()
    qbs = query_buckets([float(x) for x in qvec], planes, n_probe_buckets)
    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {_plane_sql(p)})"
        f" > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        b AS (
          SELECT vec_id, embedding, {bucket_expr} AS bucket
          FROM embeddings WHERE vec_id != 0
        )
        SELECT vec_id,
               round(list_dot_product(embedding, qv)
                     / (sqrt(list_dot_product(embedding, embedding))
                        * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
        FROM b, q
        WHERE bucket IN ({", ".join(str(b) for b in qbs)})
        ORDER BY cos_sim DESC, vec_id ASC
        LIMIT {k}
    """


def near_dup_lsh_sql(dim: int = 64, n_planes: int = 6, threshold: float = 0.3) -> str:
    from ..tda.similarity import make_planes

    planes = make_planes(dim, n_planes=n_planes)
    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {_plane_sql(p)})"
        f" > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
        WITH b AS (
          SELECT vec_id, embedding, {bucket_expr} AS bucket FROM embeddings
        )
        SELECT a.vec_id AS id_a, x.vec_id AS id_b,
               round(list_dot_product(a.embedding, x.embedding)
                     / (sqrt(list_dot_product(a.embedding, a.embedding))
                        * sqrt(list_dot_product(x.embedding, x.embedding))), 4) AS cos_sim
        FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id
        WHERE list_dot_product(a.embedding, x.embedding)
              / (sqrt(list_dot_product(a.embedding, a.embedding))
                 * sqrt(list_dot_product(x.embedding, x.embedding))) >= {threshold}
    """


def _argmin_cells_sql(cents):
    """(score_cols, argmin CASE) for nearest-centroid assignment as SQL:
    centroid-literal dot products, first-argmin CASE cascade (ties to the
    lowest index, exactly numpy argmin's rule)."""
    score_cols = ",\n".join(
        f"-2 * list_dot_product(CAST(embedding AS DOUBLE[]), {_plane_sql(c)})"
        f" + {repr(sum(v * v for v in c))} AS s{i}"
        for i, c in enumerate(cents)
    )
    n = len(cents)
    whens = []
    for i in range(n - 1):
        rest = ", ".join(f"s{j}" for j in range(i + 1, n))
        least = f"least({rest})" if i + 1 < n - 1 else rest
        whens.append(f"WHEN s{i} <= {least} THEN {i}")
    case = "CASE " + " ".join(whens) + f" ELSE {n - 1} END"
    return score_cols, case


def semantic_dedup_sql(sf_dir: str, k_cents: int = 16, iters: int = 5,
                       sample: int = 4096, threshold: float = 0.3) -> str:
    """SemDeDup oracle: centroids from the shared Lloyd loop (trained on ALL
    embeddings, matching semantic_dedup_pairs), assignment as the
    centroid-literal argmin cascade, cosine pairs within each cell.  The
    threshold filters the UNROUNDED cosine (the Spark side compares before
    rounding too)."""
    import duckdb

    from ..tda.similarity import lloyd_centroids

    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    rows = duckdb.sql(
        f"SELECT embedding FROM '{emb_path}' ORDER BY vec_id LIMIT {sample}"
    ).fetchall()
    cents = lloyd_centroids([r[0] for r in rows], k_cents, iters)
    score_cols, case = _argmin_cells_sql(cents)
    cos = (
        "list_dot_product(a.embedding, b.embedding) "
        "/ (sqrt(list_dot_product(a.embedding, a.embedding)) "
        "* sqrt(list_dot_product(b.embedding, b.embedding)))"
    )
    return f"""
        WITH scored AS (
          SELECT vec_id, embedding, {score_cols} FROM embeddings
        ),
        cells AS (
          SELECT vec_id, embedding, {case} AS centroid_id FROM scored
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({cos}, 4) AS cos_sim
        FROM cells a JOIN cells b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        WHERE {cos} >= {threshold}
    """


def semantic_resolve_sql(sf_dir: str, k_cents: int = 16, iters: int = 5,
                         sample: int = 4096, threshold: float = 0.3) -> str:
    """Full SemDeDup verdict oracle: the same in-cell cosine pair graph as
    semantic_dedup_sql, resolved to connected components with a RECURSIVE
    transitive-closure CTE — cluster_id = min member, compared as VARCHAR
    (near_dup_resolve casts ids to string, and '10' < '9' lexically, so the
    oracle must min over the SAME collation)."""
    import duckdb

    from ..tda.similarity import lloyd_centroids

    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    rows = duckdb.sql(
        f"SELECT embedding FROM '{emb_path}' ORDER BY vec_id LIMIT {sample}"
    ).fetchall()
    cents = lloyd_centroids([r[0] for r in rows], k_cents, iters)
    score_cols, case = _argmin_cells_sql(cents)
    cos = (
        "list_dot_product(a.embedding, b.embedding) "
        "/ (sqrt(list_dot_product(a.embedding, a.embedding)) "
        "* sqrt(list_dot_product(b.embedding, b.embedding)))"
    )
    return f"""
        WITH RECURSIVE scored AS (
          SELECT vec_id, embedding, {score_cols} FROM embeddings
        ),
        cells AS (
          SELECT vec_id, embedding, {case} AS centroid_id FROM scored
        ),
        p AS (
          SELECT CAST(a.vec_id AS VARCHAR) AS ia, CAST(b.vec_id AS VARCHAR) AS ib
          FROM cells a JOIN cells b
            ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
          WHERE {cos} >= {threshold}
        ),
        und AS (
          SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p
        ),
        reach(a, b) AS (
          SELECT a, b FROM und
          UNION
          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
        )
        SELECT a AS doc_id,
               least(a, min(b)) AS cluster_id,
               a = least(a, min(b)) AS keep
        FROM reach GROUP BY a
    """


def ivf_topk_sql(sf_dir: str, k_cents: int = 16, iters: int = 5,
                 sample: int = 4096, nprobe: int = 2, k: int = 10) -> str:
    """IVF ANN oracle: centroids from the shared Lloyd loop (bit-identical to
    the Spark trainer), assignment as a first-argmin CASE cascade over
    centroid-literal dot products, probe cells from the shared python helper."""
    import duckdb

    from ..tda.similarity import ivf_probe_centroids, lloyd_centroids

    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    rows = duckdb.sql(
        f"SELECT embedding FROM '{emb_path}' WHERE vec_id != 0 "
        f"ORDER BY vec_id LIMIT {sample}"
    ).fetchall()
    cents = lloyd_centroids([r[0] for r in rows], k_cents, iters)
    (qvec,) = duckdb.sql(
        f"SELECT embedding FROM '{emb_path}' WHERE vec_id = 0"
    ).fetchone()
    probe = ivf_probe_centroids([float(v) for v in qvec], cents, nprobe)

    score_cols, case = _argmin_cells_sql(cents)
    return f"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT vec_id, embedding, {score_cols}
          FROM embeddings WHERE vec_id != 0
        ),
        cells AS (
          SELECT vec_id, embedding, {case} AS centroid_id FROM scored
        )
        SELECT vec_id,
               round(list_dot_product(embedding, qv)
                     / (sqrt(list_dot_product(embedding, embedding))
                        * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
        FROM cells, q
        WHERE centroid_id IN ({", ".join(str(p) for p in probe)})
        ORDER BY cos_sim DESC, vec_id ASC
        LIMIT {k}
    """


def pq_topk_sql(sf_dir: str, m: int = 4, ksub: int = 16, iters: int = 5,
                sample: int = 4096, k: int = 10) -> str:
    """PQ ADC oracle: codebooks from the SAME Lloyd loop as the Spark trainer
    (tda/similarity.pq_codebooks), per-subspace assignment as a first-argmin
    CASE cascade over codeword-literal L2 scores on embedding SLICES, and the
    ADC contribution inlined as the literal lut value the shared pq_adc_lut
    computes — so the final adc_score is the identical float sum on both
    engines."""
    import duckdb

    from ..tda.similarity import lloyd_centroids, pq_adc_lut

    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    rows = duckdb.sql(
        f"SELECT embedding FROM '{emb_path}' WHERE vec_id != 0 "
        f"ORDER BY vec_id LIMIT {sample}"
    ).fetchall()
    vecs = [[float(v) for v in r[0]] for r in rows]
    dim = len(vecs[0])
    dsub = dim // m
    books = [
        lloyd_centroids([v[mi * dsub:(mi + 1) * dsub] for v in vecs], ksub, iters)
        for mi in range(m)
    ]
    (qvec,) = duckdb.sql(
        f"SELECT embedding FROM '{emb_path}' WHERE vec_id = 0"
    ).fetchone()
    lut = pq_adc_lut([float(v) for v in qvec], books)

    score_cols, picks = [], []
    for mi, book in enumerate(books):
        a, b = mi * dsub + 1, (mi + 1) * dsub  # 1-based inclusive slice
        for j, c in enumerate(book):
            score_cols.append(
                f"-2 * list_dot_product((CAST(embedding AS DOUBLE[]))[{a}:{b}],"
                f" {_plane_sql(c)}) + {repr(sum(v * v for v in c))} AS s{mi}_{j}"
            )
        whens = []
        for j in range(ksub - 1):
            rest = ", ".join(f"s{mi}_{i}" for i in range(j + 1, ksub))
            least = f"least({rest})" if j + 1 < ksub - 1 else rest
            whens.append(f"WHEN s{mi}_{j} <= {least} THEN {repr(lut[mi][j])}")
        picks.append(
            "CASE " + " ".join(whens) + f" ELSE {repr(lut[mi][ksub - 1])} END"
        )
    adc = " + ".join(f"({p})" for p in picks)
    scores_sql = ",\n".join(score_cols)
    return f"""
        WITH scored AS (
          SELECT vec_id, {scores_sql}
          FROM embeddings WHERE vec_id != 0
        )
        SELECT vec_id, round({adc}, 4) AS adc_score
        FROM scored
        ORDER BY adc_score DESC, vec_id ASC
        LIMIT {k}
    """


def ivfpq_topk_sql(sf_dir: str, k_cents: int = 16, m: int = 4, ksub: int = 16,
                   iters: int = 5, sample: int = 4096, nprobe: int = 2,
                   k: int = 10) -> str:
    """IVF-PQ oracle: the ivf_topk_sql cell cascade composed with the
    pq_topk_sql per-subspace code/LUT cascade — filter to the probe cells,
    order by the inlined ADC score."""
    import duckdb

    from ..tda.similarity import (
        ivf_probe_centroids,
        lloyd_centroids,
        pq_adc_lut,
    )

    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    rows = duckdb.sql(
        f"SELECT embedding FROM '{emb_path}' WHERE vec_id != 0 "
        f"ORDER BY vec_id LIMIT {sample}"
    ).fetchall()
    vecs = [[float(v) for v in r[0]] for r in rows]
    cents = lloyd_centroids(vecs, k_cents, iters)
    dim = len(vecs[0])
    dsub = dim // m
    books = [
        lloyd_centroids([v[mi * dsub:(mi + 1) * dsub] for v in vecs], ksub, iters)
        for mi in range(m)
    ]
    (qvec,) = duckdb.sql(
        f"SELECT embedding FROM '{emb_path}' WHERE vec_id = 0"
    ).fetchone()
    query = [float(v) for v in qvec]
    probe = ivf_probe_centroids(query, cents, nprobe)
    lut = pq_adc_lut(query, books)

    cell_scores, cell_case = _argmin_cells_sql(cents)
    sub_scores, picks = [], []
    for mi, book in enumerate(books):
        a, b = mi * dsub + 1, (mi + 1) * dsub
        for j, c in enumerate(book):
            sub_scores.append(
                f"-2 * list_dot_product((CAST(embedding AS DOUBLE[]))[{a}:{b}],"
                f" {_plane_sql(c)}) + {repr(sum(v * v for v in c))} AS t{mi}_{j}"
            )
        whens = []
        for j in range(ksub - 1):
            rest = ", ".join(f"t{mi}_{i}" for i in range(j + 1, ksub))
            least = f"least({rest})" if j + 1 < ksub - 1 else rest
            whens.append(f"WHEN t{mi}_{j} <= {least} THEN {repr(lut[mi][j])}")
        picks.append(
            "CASE " + " ".join(whens) + f" ELSE {repr(lut[mi][ksub - 1])} END"
        )
    adc = " + ".join(f"({p})" for p in picks)
    sub_sql = ",\n".join(sub_scores)
    return f"""
        WITH scored AS (
          SELECT vec_id, embedding, {cell_scores}
          FROM embeddings WHERE vec_id != 0
        ),
        cells AS (
          SELECT vec_id, embedding, {cell_case} AS centroid_id FROM scored
        ),
        coded AS (
          SELECT vec_id, centroid_id, {sub_sql} FROM cells
        )
        SELECT vec_id, round({adc}, 4) AS adc_score
        FROM coded
        WHERE centroid_id IN ({", ".join(str(p) for p in probe)})
        ORDER BY adc_score DESC, vec_id ASC
        LIMIT {k}
    """


def pq_codes_sql(sf_dir: str, m: int = 4, ksub: int = 16, iters: int = 5,
                 sample: int = 4096) -> str:
    """Per-vector PQ codes oracle (grades the streaming encode surface):
    codebooks from the shared Lloyd loop trained on the FULL table sample,
    per-subspace code = the same first-argmin CASE cascade as pq_topk_sql
    but returning the codeword INDEX, flattened to one int column per
    subspace (arrays are not hashable by the driver's canonicalizer)."""
    import duckdb

    from ..tda.similarity import lloyd_centroids

    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    rows = duckdb.sql(
        f"SELECT embedding FROM '{emb_path}' ORDER BY vec_id LIMIT {sample}"
    ).fetchall()
    vecs = [[float(v) for v in r[0]] for r in rows]
    dim = len(vecs[0])
    dsub = dim // m
    books = [
        lloyd_centroids([v[mi * dsub:(mi + 1) * dsub] for v in vecs], ksub, iters)
        for mi in range(m)
    ]
    score_cols, code_cols = [], []
    for mi, book in enumerate(books):
        a, b = mi * dsub + 1, (mi + 1) * dsub
        for j, c in enumerate(book):
            score_cols.append(
                f"-2 * list_dot_product((CAST(embedding AS DOUBLE[]))[{a}:{b}],"
                f" {_plane_sql(c)}) + {repr(sum(v * v for v in c))} AS s{mi}_{j}"
            )
        whens = []
        for j in range(ksub - 1):
            rest = ", ".join(f"s{mi}_{i}" for i in range(j + 1, ksub))
            least = f"least({rest})" if j + 1 < ksub - 1 else rest
            whens.append(f"WHEN s{mi}_{j} <= {least} THEN {j}")
        code_cols.append(
            "CASE " + " ".join(whens) + f" ELSE {ksub - 1} END AS code_{mi}"
        )
    scores_sql = ",\n".join(score_cols)
    return f"""
        WITH scored AS (
          SELECT vec_id, {scores_sql} FROM embeddings
        )
        SELECT vec_id, {", ".join(code_cols)} FROM scored
    """


def _media_type(doc_id: str) -> str:
    m = int(doc_id) % 3
    return "image" if m == 0 else ("audio" if m == 1 else "video")


def media_resize_rows(sf_dir: str, width: int = 8, height: int = 8):
    from ..tda.multimodal import fake_resize

    rows = []
    for doc_id, text in _sf_documents(sf_dir):
        if text is None:
            continue  # a NULL payload produces no row
        r = fake_resize(text.encode("utf-8"), width, height)
        rows.append((doc_id, _media_type(doc_id), width, height, sum(r)))
    return sorted(rows)


def media_frames_rows(sf_dir: str, frame_bytes: int = 64, every_n: int = 4):
    rows = []
    for doc_id, text in _sf_documents(sf_dir):
        if _media_type(doc_id) != "video" or text is None:
            continue  # as in media_resize_rows
        payload = text.encode("utf-8")
        n_frames = max(1, len(payload) // frame_bytes)
        for i in range(0, n_frames, every_n):
            frame = payload[i * frame_bytes : (i + 1) * frame_bytes]
            rows.append((doc_id, i, len(frame), sum(frame)))
    return sorted(rows)


def media_plumbing_oracle_sql(sf_dir: str) -> dict[str, str]:
    return {
        "media_resize": values_sql(
            media_resize_rows(sf_dir),
            [("doc_id", "VARCHAR"), ("media_type", "VARCHAR"), ("width", "INTEGER"),
             ("height", "INTEGER"), ("checksum", "BIGINT")],
        ),
        "media_frames": values_sql(
            media_frames_rows(sf_dir),
            [("doc_id", "VARCHAR"), ("frame_idx", "INTEGER"),
             ("n_bytes", "INTEGER"), ("checksum", "BIGINT")],
        ),
    }


def hash_engine_oracle_sql(sf_dir: str) -> dict[str, str]:
    # bits=64 (the xxhash64 path) — the driver queries run the same width
    fp_values = values_sql(
        simhash_fp_rows(sf_dir, bits=64), [("doc_id", "VARCHAR"), ("simhash", "BIGINT")]
    )
    return {
        "dedup_simhash": fp_values,
        # brute-force all-pairs over the fingerprint constants: ALSO verifies
        # the banded candidate join loses no pair within the hamming radius
        "dedup_simhash_pairs": f"""
            WITH fp AS ({fp_values})
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
            FROM fp a JOIN fp b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "dedup_minhash_lsh": values_sql(
            minhash_lsh_rows(sf_dir, bucket_cap=50),
            [("doc_a", "VARCHAR"), ("doc_b", "VARCHAR"), ("jaccard", "DOUBLE")],
        ),
        # continuous-ingestion dedup: incoming batch vs committed corpus
        "dedup_incremental": values_sql(
            minhash_incremental_rows(sf_dir),
            [("doc_a", "VARCHAR"), ("doc_b", "VARCHAR"), ("jaccard", "DOUBLE")],
        ),
        "dedup_incoming": values_sql(
            dedup_incoming_rows(sf_dir),
            [("doc_id", "VARCHAR"), ("keep", "BOOLEAN")],
        ),
        "text_compression": values_sql(
            compression_ratio_rows(sf_dir),
            [("doc_id", "VARCHAR"), ("n_bytes", "INTEGER"),
             ("compression_ratio", "DOUBLE")],
        ),
        # cluster resolution over the minhash pair graph: python union-find
        # (core/components.py — the same single-source-of-truth the Spark
        # fast path calls) over the hash-replica pair list
        "dedup_resolve_minhash": values_sql(
            near_dup_resolve_rows(sf_dir),
            [("doc_id", "VARCHAR"), ("cluster_id", "VARCHAR"), ("keep", "BOOLEAN")],
        ),
        "dedup_resolve_longest": values_sql(
            near_dup_resolve_longest_rows(sf_dir),
            [("doc_id", "VARCHAR"), ("cluster_id", "VARCHAR"), ("keep", "BOOLEAN")],
        ),
        "dedup_corpus_minhash": dedup_corpus_sql(sf_dir),
        "text_curate_pipeline": curate_pipeline_sql(sf_dir),
        "text_winnow_fingerprint": values_sql(
            winnow_signature_rows(sf_dir),
            [("doc_id", "VARCHAR"), ("n_fp", "BIGINT"), ("fp_xor", "BIGINT")],
        ),
        "dedup_winnow_overlap": values_sql(
            winnow_overlap_rows(sf_dir, min_shared=3, fp_cap=10),
            [("doc_a", "VARCHAR"), ("doc_b", "VARCHAR"),
             ("n_shared", "BIGINT"), ("overlap", "DOUBLE")],
        ),
        "sim_lsh_topk": lsh_topk_sql(sf_dir),
        "sim_lsh_topk_multiprobe": lsh_topk_sql(sf_dir, n_probe_buckets=3),
        "sim_near_dup_lsh": near_dup_lsh_sql(),
        "sim_ivf_topk": ivf_topk_sql(sf_dir),
        "sim_pq_topk": pq_topk_sql(sf_dir),
        "sim_ivfpq_topk": ivfpq_topk_sql(sf_dir),
        # the streaming encode is batch-equivalent by construction, so the
        # per-vector code table IS its oracle
        "stream_pq_encode": pq_codes_sql(sf_dir),
        "sim_semantic_dedup": semantic_dedup_sql(sf_dir),
        "sim_semantic_resolve": semantic_resolve_sql(sf_dir),
    }


# -- SQL builders -------------------------------------------------------------

_TRIPLE_COLS = [
    ("subj", "VARCHAR"), ("pred", "VARCHAR"), ("obj", "VARCHAR"), ("obj_dt", "VARCHAR"),
]


def kg_oracle_sql(sf_dir: str) -> dict[str, str]:
    """All kg_* oracle SQL strings (VALUES literals over expected rows)."""
    return {
        "kg_pipeline": values_sql(kg_pipeline_rows(), _TRIPLE_COLS),
        # the snapshot-table roundtrip must reproduce the pipeline output
        # row-for-row — same VALUES oracle by construction
        "kg_snapshot_roundtrip": values_sql(kg_pipeline_rows(), _TRIPLE_COLS),
        "kg_degree_stats": values_sql(
            kg_degree_rows(),
            [("entity", "VARCHAR"), ("out_degree", "BIGINT"),
             ("in_degree", "BIGINT"), ("n_pred_out", "BIGINT")],
        ),
        "kg_pagerank": values_sql(
            kg_pagerank_rows(),
            [("entity", "VARCHAR"), ("pagerank", "DOUBLE")],
        ),
        "kg_components": values_sql(
            kg_components_rows(),
            [("entity", "VARCHAR"), ("component_id", "VARCHAR"),
             ("component_size", "BIGINT")],
        ),
        "kg_nhop": values_sql(
            kg_nhop_rows(),
            [("entity", "VARCHAR"), ("hop", "INTEGER")],
        ),
        "kg_candidates": values_sql(
            kg_candidates_rows(),
            [("doc_id", "VARCHAR"), ("subj", "VARCHAR"), ("pred", "VARCHAR"),
             ("obj", "VARCHAR"), ("obj_dt", "VARCHAR"), ("link_lang", "VARCHAR"),
             ("link_surface", "VARCHAR")],
        ),
        "kg_parse_items": values_sql(
            kg_parse_items_rows(),
            [("doc_id", "VARCHAR"), ("lang", "VARCHAR"), ("res_class", "VARCHAR"),
             ("section_path", "VARCHAR"), ("item_idx", "INTEGER"),
             ("depth", "INTEGER"), ("item_text", "VARCHAR")],
        ),
        "kg_metrics": values_sql(
            kg_metrics_rows(),
            [("doc_id", "VARCHAR"), ("n_sections", "INTEGER"), ("n_items", "INTEGER"),
             ("n_extracted", "INTEGER"), ("n_triples", "INTEGER")],
        ),
        "kg_accuracy": values_sql(
            kg_accuracy_rows(),
            [("res_group", "VARCHAR"), ("n_docs", "BIGINT"), ("total_sections", "BIGINT"),
             ("total_items", "BIGINT"), ("total_extracted", "BIGINT"),
             ("total_triples", "BIGINT"), ("accuracy", "DOUBLE")],
        ),
        "kg_canonical_map": values_sql(
            kg_canonical_map_rows(), [("uri", "VARCHAR"), ("canonical", "VARCHAR")]
        ),
        "kg_spanified_triples": values_sql(kg_spanified_rows(sf_dir), _TRIPLE_COLS),
        "stream_kg_extract": values_sql(
            stream_extract_rows(),
            [("doc_id", "VARCHAR")] + _TRIPLE_COLS,
        ),
        # the versioned streaming sink reproduces the append sink exactly
        "stream_kg_versioned": values_sql(
            stream_extract_rows(),
            [("doc_id", "VARCHAR")] + _TRIPLE_COLS,
        ),
        "stream_kg_canonical": values_sql(
            stream_canonical_rows(),
            [("doc_id", "VARCHAR")] + _TRIPLE_COLS,
        ),
        "stream_windowed_events": STREAM_WINDOWED_EVENTS_SQL,
        # streamed base+incremental-refresh rollup must converge to the
        # one-pass daily aggregate (same decimal accumulation as the batch
        # q_hypertable_rollup oracle)
        "stream_hypertable_rollup": """
            SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
                   event_type,
                   count(*) AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(28,10))), 4) AS DOUBLE)
                       AS sum_value
            FROM events
            WHERE CAST(date_trunc('day', ts) AS DATE) < DATE '2024-01-21'
            GROUP BY 1, 2
        """,
        "stream_stateful_dedup": values_sql(
            stream_stateful_dedup_rows(),
            [("text_hash", "VARCHAR"), ("doc_id", "VARCHAR"), ("kept", "BOOLEAN"),
             ("first_doc_id", "VARCHAR"), ("n_seen", "BIGINT")],
        ),
    }
