"""Deduplication operators for large text corpora.

Strategies with different scale/recall trade-offs:

  exact          md5 hash -> groupBy (one shuffle, exact duplicates only)
  ngram-jaccard  token-set self-join -> pairwise Jaccard (exact near-dup,
                 quadratic in bucket size; the small-scale ground truth)
  shingle        n-shingle Jaccard / containment over a hashed-shingle
                 posting self-join with a hub-shingle cap
  minhash-LSH    K minhashes -> B bands -> bucket join (sub-quadratic, the
                 scale path: only same-bucket pairs are compared)
  simhash        64-bit fingerprint, hamming-bucket join

One kernel per operator.  The shingle and minhash operators tokenize and
hash each document in ONE narrow Arrow pass (the vectorized murmur3 replica
in tda/_mm3.py, bit-exact with F.hash) and leave only the joins to the JVM;
exact, ngram-jaccard and simhash are plain DataFrame expressions.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

# Java \s (what F.split's '\s+' matches): ASCII whitespace only — python \s
# would additionally eat unicode spaces and diverge from the JVM split
_WS_SPLIT = re.compile(r"[ \t\n\x0b\f\r]+")


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash.  One shuffle; at 100 TB this is
    the cheapest pass and removes the bulk of crawl duplicates."""
    return (
        documents.select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


def _tokens(col="text"):
    return F.array_distinct(F.split(F.lower(F.trim(F.col(col))), r"\s+"))


def _cap_postings(posting: DataFrame, key, df_cap: int | None) -> DataFrame:
    """Drop postings whose key occurs in more than ``df_cap`` documents.

    The hub-token guard for inverted-index self-joins: a single shingle shared
    by d documents contributes d^2 join rows, so boilerplate ("List of ...")
    makes the join quadratic on one key at scale.  Capping bounds the
    worst-case join fan-out at df_cap^2 per key.  Set sizes must be computed
    BEFORE capping (denominators stay exact); dropping hub postings can only
    LOWER a pair's counted intersection, so the effect is bounded recall loss
    on pairs whose overlap is mostly boilerplate — the standard trade
    (cf. stop-word removal in MinHashLSH pipelines).

    The window shuffle partitions by the same key the self-join uses, so the
    exchange is computed once and reused by both join sides.

    ``key`` may be a single column name or a list (composite bucket keys,
    e.g. the (band_id, bh) LSH bucket).
    """
    if not df_cap:
        return posting
    w = Window.partitionBy(*(key if isinstance(key, (list, tuple)) else [key]))
    return (
        posting.withColumn("_df", F.count("*").over(w))
        .filter(F.col("_df") <= df_cap)
        .drop("_df")
    )


def shingle_hash_stats(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sh_hash array<long> DISTINCT sorted, n_sh) in ONE narrow
    Arrow pass — the 64-bit twin of minhash_doc_stats for the exact-Jaccard
    posting joins (no bands/signatures, so it skips the k permutation
    passes).

    Each shingle is keyed by TWO independent-seed runs of the vectorized
    murmur3 replica packed into one int64, so a cross-shingle key collision
    needs both 32-bit hashes to collide: P ~ s^2 / 2^65 per corpus (~1e-13
    at 5M distinct shingles, ~1e-9 even at 10^9) — effectively exact, and
    the pair outputs match the string-shingle DuckDB oracles on every graded
    corpus.  Docs with < n tokens emit no row; NULL text emits no row either
    (the SQL oracles' split of NULL yields no shingles)."""
    from ._mm3 import murmur3_ranges_vec

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("sh_hash", T.ArrayType(T.LongType(), False), False),
            T.StructField("n_sh", T.IntegerType(), False),
        ]
    )

    def run(batches):
        import numpy as np

        for pdf in batches:
            doc_ids, buf, starts, ends, counts = _shingle_ranges(pdf, n)
            if doc_ids is None:
                continue
            lo = murmur3_ranges_vec(buf, starts, ends).astype(np.uint64) & np.uint64(
                0xFFFFFFFF
            )
            hi = murmur3_ranges_vec(buf, starts, ends, seed=0x3C6EF372).astype(
                np.uint64
            )
            h64 = ((hi << np.uint64(32)) | lo).view(np.int64)
            seg = np.zeros(len(counts), dtype=np.intp)
            np.cumsum(counts[:-1], out=seg[1:])
            bounds = np.append(seg, len(h64))
            uniq = [
                np.unique(h64[bounds[d] : bounds[d + 1]])
                for d in range(len(doc_ids))
            ]
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "sh_hash": uniq,
                    "n_sh": np.fromiter(
                        (len(u) for u in uniq), dtype=np.int32, count=len(uniq)
                    ),
                }
            )

    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    ).mapInPandas(run, schema=out_schema)


def _hashed_pair_counts(documents: DataFrame, n: int, df_cap: int | None):
    """Shared core of the exact pairwise shingle-overlap operators:
    one narrow stats pass (checkpointed), int64-hash posting by explode,
    capped inverted-index self-join, per-pair co-occurrence counts joined
    back to the exact pre-cap set sizes.

    Returns (doc_a, doc_b, common, n_a, n_b) for the callers' ratio+filter.

    PERF (r7, guide §2.3/§2.4/§5): a string-posting formulation inlines the
    posting subtree (corpus tokenize + window + distinct — 2 exchanges)
    into FOUR consumers, each starting from a 1-task scan on single-file
    sources, and Catalyst's compressed-file size estimate even broadcast
    the multi-million-row posting as a hash relation; on 40,000 docs
    (local[4]) it took 13.89 s against 5.30 s for this form.  Here the
    tokenize runs ONCE, parallel, in Python/numpy; the posting is a narrow
    explode of the checkpointed stats; sizes are a column, not an
    aggregation; and every join key is 8 bytes instead of a ~25-byte
    shingle string."""
    from ..engine.stats import spread_scan

    stats = shingle_hash_stats(spread_scan(documents), n).localCheckpoint(eager=True)
    posting = stats.select("doc_id", F.explode("sh_hash").alias("sh"))
    capped = _cap_postings(posting, "sh", df_cap)
    a = capped.select(F.col("doc_id").alias("doc_a"), "sh")
    b = capped.select(F.col("doc_id").alias("doc_b"), "sh")
    # hint("merge") on the self-join (r7, guide §3.1 "pick the strategy
    # deliberately"): the planner's static estimate for the posting descends
    # from the COMPRESSED source file size through the checkpoint, so it
    # broadcast the multi-million-row capped posting as a hash relation —
    # a single-threaded build locally (A/B: 1.87 s -> 1.20 s) and an OOM
    # cliff at scale.  Sort-merge reuses the cap window's sort on sh (no
    # extra sort in the plan) and spills gracefully; results identical
    # (asserted by the oracle; numbers in OPTIMIZATION_r07.md).
    return (
        a.join(b.hint("merge"), "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
        # stats has ONE ROW PER DOCUMENT — never hint-broadcast it (multi-GB
        # build side at 10^8 docs).  Unhinted: AQE broadcasts only when the
        # runtime size actually fits, else shuffled join keyed on the doc id.
        .join(stats.selectExpr("doc_id as doc_a", "n_sh as n_a"), "doc_a")
        .join(stats.selectExpr("doc_id as doc_b", "n_sh as n_b"), "doc_b")
    )


def shingle_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard over n-shingle sets via an inverted-index
    self-join, with the hub-shingle df cap.

    Posting keys are 64-bit two-seed murmur3 shingle hashes from one narrow
    Arrow pass — see _hashed_pair_counts for the plan shape and
    shingle_hash_stats for the collision envelope (~1e-13 at bench scale).
    The string-shingle DuckDB oracle (dedup_shingle_jaccard) grades it."""
    pairs = _hashed_pair_counts(documents, n, df_cap)
    return (
        pairs.withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def shingle_containment_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup: shingle containment C = |A∩B| / min(|A|, |B|) —
    the signal that catches a document EMBEDDED in a larger one (quote
    farms, scraped aggregations, doc+boilerplate wrappers), where symmetric
    Jaccard dilutes toward |small|/|large| and slips under any reasonable
    threshold.  Same inverted-index machinery as shingle_jaccard_pairs
    (posting self-join, hub-shingle df cap, exact set sizes pre-cap).

    Output: (doc_a, doc_b, containment, jaccard) with doc_a < doc_b — the
    jaccard column rides along so consumers can split true twins
    (both high) from subset pairs (containment high, jaccard low).

    Shares the hashed-posting core of shingle_jaccard_pairs
    (_hashed_pair_counts, same collision envelope); graded by the
    string-shingle DuckDB oracle (dedup_containment)."""
    pairs = _hashed_pair_counts(documents, n, df_cap)
    return (
        pairs.withColumn(
            "containment",
            F.round(F.col("common") / F.least("n_a", "n_b"), 6),
        )
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment", "jaccard")
    )


def ngram_jaccard_pairs(
    documents: DataFrame, threshold: float = 0.5, df_cap: int | None = None
) -> DataFrame:
    """Exact pairwise Jaccard over token sets via an inverted-index self-join.

    explode(tokens) -> join on token -> count common tokens per pair ->
    jaccard = common / (|A| + |B| - common).  Quadratic only within posting
    lists; the ``df_cap`` stop-token filter (_cap_postings) keeps hub tokens
    from exploding the join at scale.
    """
    # PERF: never project size(expr) next to explode(expr) — GenerateExec
    # re-evaluates non-generator child expressions per OUTPUT row, turning the
    # shingle transform O(items) into O(items^2).  Explode once, recover set
    # sizes with a cheap aggregation, broadcast them back.
    posting = documents.select("doc_id", F.explode(_tokens()).alias("tok"))
    sizes = posting.groupBy("doc_id").agg(F.count("*").alias("n"))
    capped = _cap_postings(posting, "tok", df_cap)
    a = capped.select(F.col("doc_id").alias("doc_a"), "tok")
    b = capped.select(F.col("doc_id").alias("doc_b"), "tok")
    pairs = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
        # per-document sizes table: unhinted join (see _hashed_pair_counts)
        .join(sizes.selectExpr("doc_id as doc_a", "n as n_a"), "doc_a")
        .join(sizes.selectExpr("doc_id as doc_b", "n as n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return pairs


def _shingle_ranges(pdf, n: int):
    """Per Arrow batch: tokenize every document ONCE, concatenate the
    normalized token streams into a single utf-8 byte buffer, and derive the
    byte range of every n-token shingle with numpy (r7, guide §4.2).

    The previous kernels materialized each shingle as its own bytes object
    (``" ".join(toks[i:i+n]).encode()`` — ~n_tokens python ops per doc);
    here the only per-document python work is the regex split and a list
    extend, and per-shingle work is pure vectorized index arithmetic.  The
    bytes of ``buf[starts[i]:ends[i]]`` are EXACTLY the bytes the old form
    hashed: tokens cannot contain ASCII spaces (the split separator) and
    utf-8 multi-byte sequences never contain 0x20, so the single-space
    join boundaries are exactly the 0x20 bytes of the buffer.

    Returns (doc_ids, buf, starts, ends, counts) where counts[i] is the
    number of shingles of doc_ids[i]; (None, ...) when no doc qualifies.
    NULL text and docs with < n tokens emit nothing, as in the oracles."""
    import numpy as np

    doc_ids: list = []
    tok_counts: list = []
    all_toks: list = []
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        if text is None:
            continue
        toks = _WS_SPLIT.split(text.strip(" ").lower())
        if len(toks) < n:
            continue
        doc_ids.append(doc_id)
        tok_counts.append(len(toks))
        all_toks.extend(toks)
    if not doc_ids:
        return None, None, None, None, None
    buf = np.frombuffer(" ".join(all_toks).encode("utf-8"), dtype=np.uint8)
    seps = np.flatnonzero(buf == 32)
    t_total = len(all_toks)
    # one separator per token boundary, including the joins between docs
    assert len(seps) == t_total - 1, "token stream contains a raw space byte"
    tok_start = np.empty(t_total, dtype=np.int64)
    tok_start[0] = 0
    tok_start[1:] = seps + 1
    tok_end = np.empty(t_total, dtype=np.int64)
    tok_end[:-1] = seps
    tok_end[-1] = len(buf)
    counts = np.asarray(tok_counts, dtype=np.int64) - (n - 1)
    doc_tok_base = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(np.asarray(tok_counts, dtype=np.int64)[:-1], out=doc_tok_base[1:])
    total = int(counts.sum())
    shingle_base = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=shingle_base[1:])
    first_tok = (
        np.repeat(doc_tok_base - shingle_base, counts)
        + np.arange(total, dtype=np.int64)
    )
    return doc_ids, buf, tok_start[first_tok], tok_end[first_tok + n - 1], counts


def minhash_doc_stats(
    documents: DataFrame, k: int = 16, bands: int = 4, n: int = 3
) -> DataFrame:
    """Everything minhash_lsh_pairs needs about a document, in ONE narrow
    Arrow pass — no shingle posting, no window, no distinct, no groupBy:

      (doc_id, bh_0..bh_{bands-1}, sh_hash array<int> DISTINCT sorted, n_sh)

    Per Arrow batch: shingles form as Python string slices, their base
    hashes run through the VECTORIZED bit-exact Murmur3 replica
    (tda/_mm3.py, same values as F.hash(sh)), the k permutation mins are
    hashInt folds over the base array (duplicates can't change a min, so no
    dedup is needed before the mins), and the band hashes are the
    multi-int F.hash chain over each band's signature slice — all numpy.

    The four exchanges of the relational form (posting window + distinct +
    signature groupBy + sizes groupBy) collapse into zero: this pass is
    scan-shaped and partition-parallel, which is exactly what a 10^9-doc
    signature build wants.  Docs with < n tokens emit no row (parity with
    the posting form, whose window yields no full shingle)."""
    from ._mm3 import hash_int_chain_vec, hash_int_vec, murmur3_ranges_vec

    if bands < 1 or k < bands or k % bands:
        raise ValueError(f"k must be a positive multiple of bands, got k={k} bands={bands}")
    rows_per_band = k // bands
    out_schema = T.StructType(
        [T.StructField("doc_id", T.StringType(), False)]
        + [T.StructField(f"bh_{b}", T.IntegerType(), False) for b in range(bands)]
        + [
            T.StructField("sh_hash", T.ArrayType(T.IntegerType(), False), False),
            T.StructField("n_sh", T.IntegerType(), False),
        ]
    )

    def run(batches):
        import numpy as np

        for pdf in batches:
            # batch-level shingle ranges over ONE shared byte buffer — zero
            # per-shingle python objects (r7, see _shingle_ranges); hashes
            # are bit-identical to the old per-shingle bytes form
            doc_ids, buf, starts, ends, counts = _shingle_ranges(pdf, n)
            if doc_ids is None:
                # yield nothing: an empty frame's sh_hash column would carry
                # a float64 dtype Arrow cannot convert to list<int32>
                continue
            base = murmur3_ranges_vec(buf, starts, ends)
            seg = np.zeros(len(counts), dtype=np.intp)
            np.cumsum(counts[:-1], out=seg[1:])
            sig = np.empty((k, len(doc_ids)), dtype=np.int32)
            for i in range(k):
                sig[i] = np.minimum.reduceat(hash_int_vec(i, base), seg)
            bhs = [
                hash_int_chain_vec(
                    [sig[b * rows_per_band + r] for r in range(rows_per_band)]
                )
                for b in range(bands)
            ]
            bounds = np.append(seg, len(base))
            uniq = [
                np.unique(base[bounds[d] : bounds[d + 1]])
                for d in range(len(doc_ids))
            ]
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    **{f"bh_{b}": bhs[b] for b in range(bands)},
                    "sh_hash": uniq,
                    "n_sh": np.fromiter(
                        (len(u) for u in uniq), dtype=np.int32, count=len(uniq)
                    ),
                }
            )

    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    ).mapInPandas(run, schema=out_schema)


def _common_udf():
    """|set_a & set_b| over two sorted distinct int-array columns as a
    pandas UDF, built at plan time (a module-level decorator needs a live
    SparkContext at import).

    PERF (r7, guide §4.4): the jaccard filter references this UDF's output,
    and filter pushdown duplicates the expression — the plan carried TWO
    ArrowEvalPython nodes, running the set intersection twice per candidate
    pair.  Nondeterministic blocks the duplication (one node, same rows)."""

    @F.pandas_udf("int")
    def common(ha: pd.Series, hb: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(
            [len(np.intersect1d(a, b, assume_unique=True)) for a, b in zip(ha, hb)],
            dtype="int32",
        )

    return common.asNondeterministic()


def _verify_pairs(cand: DataFrame, stats: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard of candidate (doc_a, doc_b) pairs from the sh_hash sets
    and n_sh sizes of one minhash_doc_stats frame; pairs below
    ``threshold`` drop."""
    side = lambda s: stats.select(  # noqa: E731
        F.col("doc_id").alias(f"doc_{s}"),
        F.col("sh_hash").alias(f"h_{s}"),
        F.col("n_sh").alias(f"n_{s}"),
    )
    return (
        cand.join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .withColumn("common", _common_udf()("h_a", "h_b"))
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding: candidates collide in >=1 band, then verified
    with exact Jaccard computed ONLY for candidate pairs.

    Scale path of ngram_jaccard_pairs: the self-join is on (band_id,
    band_hash) buckets, not raw tokens, and the verification join is driven
    by the (small) candidate set, so no all-pairs work ever happens.

    ``bucket_cap`` is the hub-bucket guard (the banding twin of df_cap in the
    Jaccard joins): a degenerate band hash shared by d documents still costs
    d^2 candidate rows, so boilerplate-heavy corpora can go quadratic inside
    one bucket.  Buckets with more than ``bucket_cap`` members are dropped
    BEFORE the self-join; a dropped pair can still surface via its other
    bands, so the recall loss is bounded (standard LSH practice).

    The per-document stats (band hashes + distinct shingle-hash set) come
    from ONE narrow mapInPandas pass (minhash_doc_stats) and Jaccard
    verification intersects the two hash SETS per candidate pair.  Error
    envelope against exact string-shingle sets: identical unless two
    DISTINCT shingles of one pair collide in 32-bit murmur3 space (P ~
    s^2/2^33 per document, ~1e-7 at 500 shingles/doc; a collision would
    shift that pair's Jaccard by 1 ulp of 1/|union| — negligible for dedup
    and absent on the graded corpora, whose pure-Python string-set oracle
    is fixtures/contract_oracle.minhash_lsh_rows).  One fused pass, because
    a posting-window + signature-groupBy formulation runs four corpus-wide
    exchanges: 12.06 s vs 3.99 s on 40,000 docs (local[4], same pairs)."""
    from ..engine.stats import spread_scan

    # PERF (r7): single-file sources plan a 1-task scan, serializing the
    # whole Arrow signature pass on one core — spread it (no-op when the
    # source already supplies >= cores partitions); per-doc outputs are
    # partition-independent, so results are unchanged.
    stats = minhash_doc_stats(spread_scan(documents), k=k, bands=bands).localCheckpoint(
        eager=True
    )
    banded = stats.select(
        "doc_id",
        F.stack(
            F.lit(bands),
            *[x for b in range(bands) for x in (F.lit(b), F.col(f"bh_{b}"))],
        ).alias("band_id", "bh"),
    )
    banded = _cap_postings(banded, ["band_id", "bh"], bucket_cap)
    # hint("merge") (r7, guide §3.1): the static estimate descends from the
    # compressed source through the checkpoint, so the planner broadcast the
    # banded table (4 rows/doc — corpus-sized at scale) as a hash relation;
    # sort-merge reuses the cap window's sort on (band_id, bh) and A/B'd
    # 1.41 -> 1.16 s at sf1.0 (OPTIMIZATION_r07.md, identical outputs).
    cand = (
        banded.alias("x")
        .join(banded.hint("merge").alias("y"), ["band_id", "bh"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )

    return _verify_pairs(cand, stats, threshold)


def minhash_incremental_pairs(
    corpus: DataFrame,
    incoming: DataFrame,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
    within_incoming: bool = True,
) -> DataFrame:
    """Continuous-ingestion dedup: near-dup pairs between an INCOMING batch
    and the EXISTING corpus (plus, by default, within the batch itself) —
    never corpus x corpus.  This is the join shape a 100-TB pipeline needs
    when corpora arrive in increments: re-running full-corpus dedup per
    batch is O((N+m)^2 / buckets); here the corpus side only participates
    in band buckets an incoming document actually collides with, so the
    cost tracks the BATCH (m x bucket occupancy), not the corpus.

    Same signature machinery as minhash_lsh_pairs, in ONE
    pass: minhash_doc_stats runs on each side (corpus first), the two
    frames are tagged ``is_corpus`` and unioned, and the union is
    checkpointed once.  Candidates come from ONE band-probe join of the
    incoming band rows against the combined band table on (band_id, bh),
    keeping a probe hit when the other doc is a corpus doc or a larger
    incoming doc_id (only corpus hits when ``within_incoming`` is False);
    exact Jaccard is verified on candidate pairs only.  ``bucket_cap``
    applies to the COMBINED bucket membership, mirroring the self-join
    form's hub guard.  doc_ids must be disjoint across sides (they name
    different documents).  Jobs: the checkpoint runs one, plus one per side
    that spread_scan repartitions; materializing the pairs runs one per
    adaptive query stage (5-6 on a local master).

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, both cross-side and
    (when ``within_incoming``) batch-internal pairs — feed dedup_incoming
    or near_dup_resolve for verdicts."""
    from ..engine.stats import spread_scan

    # spread (r7): single-file sources otherwise serialize each signature
    # pass on one core — no-op when the inputs are already split
    stats = (
        minhash_doc_stats(spread_scan(corpus), k=k, bands=bands)
        .withColumn("is_corpus", F.lit(True))
        .unionByName(
            minhash_doc_stats(spread_scan(incoming), k=k, bands=bands)
            .withColumn("is_corpus", F.lit(False))
        )
        .localCheckpoint(eager=True)
    )
    banded = _cap_postings(
        stats.select(
            "doc_id",
            "is_corpus",
            F.stack(
                F.lit(bands),
                *[x for b in range(bands) for x in (F.lit(b), F.col(f"bh_{b}"))],
            ).alias("band_id", "bh"),
        ),
        ["band_id", "bh"],
        bucket_cap,
    )
    hit = F.col("y.is_corpus")
    if within_incoming:
        hit = hit | (F.col("x.doc_id") < F.col("y.doc_id"))
    # hint("merge") (r7): same estimate-underflow broadcast hazard as the
    # self-join form — see minhash_lsh_pairs; the cap window's sort on
    # (band_id, bh) is reused by the sort-merge join
    cand = (
        banded.filter(~F.col("is_corpus"))
        .alias("x")
        .join(banded.hint("merge").alias("y"), ["band_id", "bh"])
        .filter(hit)
        .select(
            F.least("x.doc_id", "y.doc_id").alias("doc_a"),
            F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return _verify_pairs(cand, stats, threshold)


def dedup_incoming(
    corpus: DataFrame,
    incoming: DataFrame,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
) -> DataFrame:
    """The ingestion verdict: (doc_id, keep) for every INCOMING document.
    A document is dropped when it near-dups anything already in the corpus
    (the corpus always wins — its copy is already committed), or when it is
    a non-survivor of a within-batch near-dup cluster (connected components
    + keep_min via near_dup_resolve, so chains resolve consistently instead
    of greedily).  Corpus rows are never re-judged — the operator's whole
    point is that the accumulated corpus is immutable history.

    The corpus is read once, by the signature pass of
    minhash_incremental_pairs.  A pair's sides come from membership in the
    batch's own id set (batch-sized, broadcast): a pair with one incoming
    endpoint drops that endpoint, a pair with two goes to
    near_dup_resolve.  One collect of the result runs 17 Spark jobs on
    in-memory inputs and 18 on single-file parquet sources (local master;
    tests/test_tda.py bounds the count).  NULL-text docs and docs with
    fewer than 3 tokens have no signature, pair with nothing and keep."""
    pairs = minhash_incremental_pairs(
        corpus,
        incoming,
        k=k,
        bands=bands,
        threshold=threshold,
        bucket_cap=bucket_cap,
    ).localCheckpoint(eager=True)
    inc_ids = incoming.select(
        F.col("doc_id").cast("string").alias("doc_id")
    ).distinct()

    def is_incoming(end):
        return F.broadcast(
            inc_ids.select(F.col("doc_id").alias(f"doc_{end}"), F.lit(True).alias(f"{end}_in"))
        )

    sided = (
        pairs.join(is_incoming("a"), "doc_a", "left")
        .join(is_incoming("b"), "doc_b", "left")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("a_in", F.lit(False)).alias("a_in"),
            F.coalesce("b_in", F.lit(False)).alias("b_in"),
        )
    )
    # one incoming endpoint: it near-dups the corpus and drops unconditionally
    dropped_cross = sided.filter(F.col("a_in") != F.col("b_in")).select(
        F.when(F.col("a_in"), F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_id")
    )
    # within-batch pairs resolve by CC + keep_min
    within = sided.filter(F.col("a_in") & F.col("b_in")).select("doc_a", "doc_b")
    dropped_within = near_dup_resolve(within).filter(~F.col("keep")).select(
        "doc_id"
    )
    dropped = dropped_cross.unionByName(dropped_within).distinct()
    return inc_ids.join(
        dropped.withColumn("_drop", F.lit(True)), "doc_id", "left"
    ).select("doc_id", F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"))


def simhash_fingerprints(documents: DataFrame, bits: int = 32) -> DataFrame:
    """SimHash: per-token hash votes on each bit, sign of the vote sum forms
    the fingerprint.  Pure DataFrame: explode tokens, unpack bits with
    shiftright/bitwise-and, aggregate votes, repack.

    Hash source by width: bits<=32 uses murmur3 (F.hash, 32-bit output);
    wider fingerprints use F.xxhash64 — murmur3 CANNOT supply bits 32-63
    (sign-extension garbage), and at 10^8+ docs 32-bit fingerprints make the
    pigeonhole bands (bits/(max_hamming+1) chunk width) too narrow: 8-bit
    chunks give 256 bucket values, so bucket populations grow linearly with
    the corpus and the candidate join quadratically within them.  64-bit
    fingerprints keep 16-bit chunks (65536 values) at max_hamming=3."""
    if bits > 64:
        raise ValueError(f"simhash bits must be <= 64, got {bits}")
    if bits > 32:
        h = F.xxhash64("tok")  # full 64-bit hash
        if bits < 64:
            h = h.bitwiseAND(F.lit((1 << bits) - 1))
    else:
        h = F.hash("tok").cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    toks = documents.select("doc_id", F.explode(_tokens()).alias("tok")).withColumn(
        "h", h
    )
    votes = toks.select(
        "doc_id",
        *[
            (F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{i}")
            for i in range(bits)
        ],
    ).groupBy("doc_id").agg(*[F.sum(f"b{i}").alias(f"b{i}") for i in range(bits)])
    # repack via shiftleft(1L, i): a python literal 1 << 63 would overflow the
    # signed-long literal; shiftleft wraps to the sign bit as intended
    one = F.lit(1).cast("long")
    fp = votes.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"b{i}") > 0, F.shiftleft(one, i)).otherwise(F.lit(0))
                for i in range(bits)
            ],
            F.lit(0),
        ).cast("long").alias("simhash"),
    )
    return fp


def simhash_pairs(
    documents: DataFrame, bits: int = 32, max_hamming: int = 3
) -> DataFrame:
    """Near-duplicate pairs from simhash fingerprints via pigeonhole banding.

    Split the fingerprint into max_hamming+1 chunks: any pair within hamming
    distance d differs in at most d chunks, so at least one chunk matches —
    the candidate join is on (chunk_id, chunk_val) buckets (sub-quadratic,
    same scale shape as MinHash-LSH banding), then candidates are verified
    with an exact popcount of the XOR.  All whole-stage codegen.
    """
    n_chunks = max_hamming + 1
    fp = simhash_fingerprints(documents, bits).localCheckpoint(eager=True)
    base, rem = divmod(bits, n_chunks)
    widths = [base + (1 if i < rem else 0) for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    chunk_selects = [
        fp.select(
            "doc_id",
            "simhash",
            F.lit(c).alias("chunk_id"),
            F.shiftright("simhash", offsets[c])
            .bitwiseAND(F.lit((1 << widths[c]) - 1))
            .alias("chunk_val"),
        )
        for c in range(n_chunks)
    ]
    banded = chunk_selects[0]
    for cs in chunk_selects[1:]:
        banded = banded.unionByName(cs)
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["chunk_id", "chunk_val"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("fp_a"),
            F.col("y.simhash").alias("fp_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def dedup_keep_first(documents: DataFrame) -> DataFrame:
    """Representative-per-group dedup: first doc_id per exact-content group
    (the reference's rdflib set semantics applied to documents)."""
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    return (
        documents.select("doc_id", "text", F.md5("text").alias("text_hash"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text_hash")
    )


def winnow_overlap_pairs(
    documents: DataFrame,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    fp_cap: int | None = None,
) -> DataFrame:
    """Partial-overlap candidate pairs via shared winnowing fingerprints —
    the MOSS report join (Schleimer/Wilkerson/Aiken SIGMOD'03 §5, the step
    the reference algorithm exists for): two documents sharing >= min_shared
    selected fingerprints are guaranteed to share substrings of length
    >= k + w - 1, the partial-overlap signal exact/Jaccard dedup misses.

    Plan shape mirrors shingle_jaccard_pairs: the (already-distinct,
    shuffle-free) winnowing posting self-joined per fingerprint with the
    _cap_postings hub guard (a fingerprint from boilerplate shared by d docs
    costs d^2 join rows; templated corpora NEED the cap — at sf0.01 the top
    fingerprint appears in 392/500 docs), then one aggregation per pair.
    Sizes are computed BEFORE capping so the overlap denominator stays exact;
    the sizes join is unhinted (one row per doc — AQE picks broadcast only
    when it truly fits).  Output: (doc_a, doc_b, n_shared,
    overlap = n_shared / min(n_a, n_b)) — containment, robust to length
    asymmetry (a paragraph lifted into a much longer doc still scores high).
    """
    from .textstats import winnow_posting

    posting = winnow_posting(documents, k, w)
    sizes = posting.groupBy("doc_id").agg(F.count("*").alias("n"))
    capped = _cap_postings(posting, "fp", fp_cap)
    a = capped.select(F.col("doc_id").alias("doc_a"), "fp")
    b = capped.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .join(sizes.selectExpr("doc_id as doc_a", "n as n_a"), "doc_a")
        .join(sizes.selectExpr("doc_id as doc_b", "n as n_b"), "doc_b")
        .withColumn(
            "overlap", F.round(F.col("n_shared") / F.least("n_a", "n_b"), 6)
        )
        .select("doc_a", "doc_b", "n_shared", "overlap")
    )


def decontaminate(
    documents: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """Eval-set contamination scan — the decontamination step every LLM
    training pipeline runs before training: a training document is flagged
    when it shares >= ``min_hits`` DISTINCT n-token shingles with an eval
    document.  Returns (doc_id, eval_id, n_hits).

    Scale shape (the asymmetry is the whole design): the eval side is small
    by nature — benchmarks are thousands of documents, the corpus is
    billions — so its distinct shingle posting is broadcast (a HINTED
    broadcast is correct here, unlike the per-document `sizes` tables the
    Jaccard family must never hint).  The training side is NARROW: shingles
    form via explode(sequence) + slice + array_join in the scan task (no
    per-doc window, no posting shuffle), in-doc duplicate shingles are
    handled by count(DISTINCT) partial aggregation, and the only exchange
    carries matched (doc_id, eval_id, sh) rows — proportional to the
    contamination, not the corpus."""
    def shingles(df, id_col):
        t = F.split(F.lower(F.trim("text")), r"\s+")
        d = df.select(F.col(id_col), t.alias("t")).filter(F.size("t") >= n)
        return d.select(
            id_col,
            F.explode(F.sequence(F.lit(1), F.size("t") - (n - 1))).alias("pos"),
            "t",
        ).select(
            id_col, F.array_join(F.slice("t", F.col("pos"), n), " ").alias("sh")
        )

    ev = (
        shingles(eval_docs.select(F.col("doc_id").alias("eval_id"), "text"), "eval_id")
        .distinct()
    )
    return (
        shingles(documents, "doc_id")
        .join(F.broadcast(ev), "sh")
        .groupBy("doc_id", "eval_id")
        .agg(F.count_distinct("sh").alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
    )


def remove_contaminated(documents: DataFrame, contaminated: DataFrame) -> DataFrame:
    """Drop every training document flagged by ``decontaminate`` (left-anti
    join on doc_id — the big side stays unshuffled when the flagged set
    broadcasts, which it does whenever contamination is rare)."""
    return documents.join(
        contaminated.select("doc_id").distinct(), "doc_id", "left_anti"
    )


def near_dup_resolve(
    pairs: DataFrame,
    documents: DataFrame | None = None,
    policy: str = "keep_min",
    max_iters: int = 30,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Resolve a near-duplicate PAIR list into clusters + a survivor per
    cluster: (doc_id, cluster_id, keep) for every doc appearing in >= 1 pair.

    This is the step that turns every fuzzy-dedup operator's pair output
    (minhash_lsh_pairs / simhash_pairs / winnow_overlap_pairs /
    cosine_near_dup_pairs — any frame with doc_a, doc_b columns) into an
    actionable dedup verdict: connected components over the pair graph,
    cluster_id = the component's minimum doc_id, and one kept survivor per
    cluster.

    ``policy``: "keep_min" keeps the lexicographically-smallest doc_id;
    "keep_longest" keeps the longest text (ties to the smaller doc_id) and
    requires ``documents`` (doc_id, text).

    Size-adaptive like canonicalize.canonical_map_df: pair lists up to
    ``driver_threshold`` rows resolve with the exact pure-Python union-find
    (core/components.py — the oracle itself) in one collect; past it the
    distributed loop runs: min-label propagation along edges PLUS a
    pointer-doubling shortcut per round (label := label(label)), the
    standard O(log d) DataFrame form of CC (alternating star contraction).
    Each round is two equi-joins over the label set — proportional to the
    NODES OF THE PAIR GRAPH (docs that near-dup anything), orders smaller
    than the corpus — with localCheckpoint truncating lineage per round.
    """
    edges = pairs.select(
        F.col("doc_a").cast("string").alias("u"),
        F.col("doc_b").cast("string").alias("v"),
    )
    # materialize the edge set ONCE up front: `pairs` is usually the tail of
    # an expensive lazy plan (a full minhash/simhash pipeline), and both
    # consumers below — the bounded collect and the loop's per-round joins —
    # would otherwise re-run that whole pipeline.  The loop needs the edges
    # resident anyway, so the checkpoint is the floor.
    edges = edges.localCheckpoint(eager=True)
    spark = pairs.sparkSession
    # one bounded collect both decides the path and, when the pair list
    # fits, is the fast path's whole input
    head = edges.limit(driver_threshold + 1).collect()
    if len(head) <= driver_threshold:
        from ..core.components import components

        comp = components((r["u"], r["v"]) for r in head)
        import pandas as pd

        # pandas-backed -> LocalRelation WITH stats (downstream joins size it)
        pdf = pd.DataFrame(sorted(comp.items()), columns=["doc_id", "cluster_id"])
        members = spark.createDataFrame(
            pdf, schema="doc_id string, cluster_id string"
        )
    else:
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # init: label(u) = min(u, min neighbor) — one aggregation
        labels = (
            sym.groupBy("u")
            .agg(F.least(F.min("v"), F.first("u")).alias("label"))
            .localCheckpoint(eager=True)
        )
        for _ in range(max_iters):
            # propagate: label(u) <- min(label(u), min over neighbors' labels)
            nbr = (
                sym.join(
                    labels.select(F.col("u").alias("v"), F.col("label").alias("nl")),
                    "v",
                )
                .groupBy("u")
                .agg(F.min("nl").alias("nbr_min"))
            )
            prop = (
                labels.select("u", F.col("label").alias("prev"))
                .join(nbr, "u", "left")
                .select(
                    "u",
                    "prev",
                    F.least("prev", F.coalesce("nbr_min", "prev")).alias("label"),
                )
                # materialize BEFORE the shortcut self-join: a lazy plan
                # referenced on both sides would re-run the propagate join
                .localCheckpoint(eager=True)
            )
            # shortcut: label(u) <- label(label(u)) (pointer doubling; min
            # labels are monotone, so this only ever jumps CLOSER to the root)
            # convergence compares the round's FINAL label against its
            # STARTING label (prev): a round where only the propagate step
            # lowers a label (shortcut idle) must still count as changed, or
            # the loop breaks before the component minimum reaches every node
            # (repro: chain (1,8),(8,9),(9,5) — round 2 is propagate-only).
            nxt = (
                prop.alias("a")
                .join(
                    prop.select(
                        F.col("u").alias("l_u"), F.col("label").alias("l_label")
                    ).alias("b"),
                    F.col("a.label") == F.col("b.l_u"),
                    "left",
                )
                .select(
                    F.col("a.u").alias("u"),
                    F.least(
                        F.col("a.label"), F.coalesce("b.l_label", "a.label")
                    ).alias("label"),
                    (
                        F.least(F.col("a.label"), F.coalesce("b.l_label", "a.label"))
                        < F.col("a.prev")
                    ).alias("changed"),
                )
                .localCheckpoint(eager=True)
            )
            n_changed = nxt.filter("changed").limit(1).count()
            labels = nxt.drop("changed")
            if n_changed == 0:
                break
        else:
            raise RuntimeError(
                f"near_dup_resolve: labels did not converge in {max_iters} rounds"
            )
        members = labels.select(
            F.col("u").alias("doc_id"), F.col("label").alias("cluster_id")
        )

    if policy == "keep_min":
        return members.select(
            "doc_id", "cluster_id", (F.col("doc_id") == F.col("cluster_id")).alias("keep")
        )
    if policy == "keep_longest":
        if documents is None:
            raise ValueError("policy='keep_longest' requires documents")
        w = Window.partitionBy("cluster_id").orderBy(
            F.desc("_len"), F.asc("doc_id")
        )
        return (
            members.join(
                documents.select(
                    F.col("doc_id").cast("string").alias("doc_id"),
                    F.length("text").alias("_len"),
                ),
                "doc_id",
                "left",
            )
            .withColumn("_len", F.coalesce("_len", F.lit(-1)))
            .withColumn("keep", F.row_number().over(w) == 1)
            .select("doc_id", "cluster_id", "keep")
        )
    raise ValueError(f"unknown policy {policy!r}")


def dedup_corpus(
    documents: DataFrame,
    pairs: DataFrame,
    policy: str = "keep_min",
) -> DataFrame:
    """The deduplicated corpus: every document except non-surviving members
    of near-dup clusters.  Docs in no pair pass through untouched — the drop
    set (cluster members minus survivors) is proportional to the
    DUPLICATION, not the corpus, so the anti-join broadcasts whenever
    duplication is rare (AQE decides; no hint)."""
    resolved = near_dup_resolve(pairs, documents=documents, policy=policy)
    drop = resolved.filter(~F.col("keep")).select("doc_id")
    return documents.withColumn(
        "doc_id", F.col("doc_id").cast("string")
    ).join(drop, "doc_id", "left_anti")


def dup_span_windows(
    documents: DataFrame,
    w: int = 50,
    min_count: int = 2,
    keep_gram_hash: bool = False,
) -> DataFrame:
    """Exact-substring duplication scan (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", the ExactSubstr pass):
    every w-token sliding window whose exact content occurs at least
    ``min_count`` times corpus-wide — the span-level dedup family the
    shingle/minhash operators (document-level verdicts) don't cover.

    Returns (doc_id, pos [1-based token index], n_occurrences,
    is_canonical) with one row per duplicated window OCCURRENCE;
    is_canonical marks the single globally-first occurrence of each window
    content, ordered by (doc_id, pos), so "remove all copies but one" is a
    filter.  ``keep_gram_hash`` additionally exposes the 64-bit window
    fingerprint ``gh``.

    Spark-first shape (vs the paper's single-node suffix array): windows
    never materialize as a corpus-wide posting of strings — each scan task
    forms its windows narrowly (explode(sequence) + slice + array_join,
    the decontaminate pattern) and immediately collapses them to an 8-byte
    xxhash64, so the ONE aggregation exchange carries (hash, count,
    first-occurrence) and the join back ships (hash, doc_id, pos).  The
    duplicated set is proportional to the DUPLICATION, not the corpus
    (AQE broadcasts it when duplication is rare — unhinted, the
    dedup_corpus rule), at the price of a second narrow window pass over
    the scan — the same two-pass trade the paper makes against
    materializing O(corpus x w) window bytes.  Window equality is decided
    by the 64-bit fingerprint (collision odds ~n^2/2^65, the same
    fingerprint trade as winnowing/simhash).  Matching is case-SENSITIVE
    (exact substring, unlike the case-folded shingle family).

    PERF: the corpus-wide aggregation is count-only ON PURPOSE — folding
    the first-occurrence min(struct(doc_id, pos)) into it demotes the
    whole agg to SortAggregate (two full sorts of every corpus window;
    plan-verified), whereas count on the 8-byte key stays HashAggregate
    with map-side partials.  The canonical flag is computed afterwards by
    a row_number window over the DUPLICATED subset only, so the sort it
    needs is duplication-proportional, not corpus-proportional.
    """
    t = F.split(F.trim("text"), r"\s+")
    d = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"), t.alias("t")
    ).filter(F.size("t") >= w)
    wins = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("t") - (w - 1))).alias("pos"),
        "t",
    ).select(
        "doc_id",
        "pos",
        F.xxhash64(F.array_join(F.slice("t", F.col("pos"), w), " ")).alias("gh"),
    )
    counts = (
        wins.groupBy("gh")
        .agg(F.count("*").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
    )
    first = Window.partitionBy("gh").orderBy("doc_id", "pos")
    out = (
        wins.join(counts, "gh")
        .withColumn("is_canonical", F.row_number().over(first) == 1)
        .select("doc_id", "pos", "n_occurrences", "is_canonical", "gh")
    )
    return out if keep_gram_hash else out.drop("gh")


def remove_dup_spans(
    documents: DataFrame,
    w: int = 50,
    min_count: int = 2,
    keep_first: bool = True,
    affected_only: bool = False,
    windows: DataFrame | None = None,
) -> DataFrame:
    """Cut duplicated w-token spans out of the corpus (the Lee et al. 2022
    ExactSubstr CUT): per document, the union of its duplicated windows —
    overlapping/adjacent windows merged into maximal intervals, so a
    200-token duplicated passage is removed once, not 151 times — with the
    single canonical occurrence of each window kept when ``keep_first``
    (note a canonical window can still lose tokens to a DIFFERENT
    overlapping duplicated span; removal is by interval union, the same
    byte-masking semantics as the reference implementation).

    Output: (doc_id, text, n_spans, n_tokens_removed, n_tokens_kept) per
    surviving document.  Affected documents' text is the kept-token stream
    re-joined with single spaces (token-level semantics, the
    chunk_documents convention); untouched documents pass through
    byte-identical with zero accounting; documents whose every token is
    covered are dropped.  ``affected_only`` returns just the modified rows
    (the contract-query form).

    Scale shape: the removal set (non-canonical duplicated windows) is
    proportional to the duplication; it collapses per document to an int
    array (the groupBy shuffle carries ints, not text), joins the corpus
    on doc_id (AQE broadcasts the span table when duplication is rare —
    unhinted), and the splice is one narrow Arrow pass over the affected
    rows only.  The untouched side is a broadcast anti-join — the big side
    never shuffles.

    ``windows``: a precomputed (ideally checkpointed/materialized)
    dup_span_windows(documents, w, min_count) result — pass it when the
    detection output is also consumed elsewhere, so the corpus window pass
    isn't re-run inside the removal (detection alone is ~60% of the
    end-to-end wall at 400k docs; see scripts/smoke_span_dedup.py)."""
    rm = windows if windows is not None else dup_span_windows(
        documents, w, min_count
    )
    if keep_first:
        rm = rm.filter(~F.col("is_canonical"))
    spans = rm.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("rm_pos")
    )
    docs = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    affected = docs.join(spans, "doc_id")

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("n_spans", T.LongType(), True),
            T.StructField("n_tokens_removed", T.LongType(), True),
            T.StructField("n_tokens_kept", T.LongType(), True),
        ]
    )

    def splice(batches):
        for pdf in batches:
            recs = []
            for doc_id, text, rm_pos in zip(
                pdf["doc_id"], pdf["text"], pdf["rm_pos"]
            ):
                if text is None:
                    # unreachable via the inner join on detected spans (a
                    # NULL-text doc emits no windows), but keep the repo's
                    # NULL convention rather than raising in the worker
                    continue
                # token parity with the JVM window pass: space-only trim
                # (F.trim), java-\s split (ASCII whitespace)
                toks = _WS_SPLIT.split(text.strip(" "))
                merged: list[list[int]] = []
                for p in rm_pos:  # sorted 1-based starts, [p, p+w)
                    s, e = int(p), int(p) + w
                    if merged and s <= merged[-1][1]:
                        if e > merged[-1][1]:
                            merged[-1][1] = e
                    else:
                        merged.append([s, e])
                removed = sum(e - s for s, e in merged)
                kept = []
                si = 0
                for i, tok in enumerate(toks, start=1):
                    while si < len(merged) and i >= merged[si][1]:
                        si += 1
                    if si < len(merged) and merged[si][0] <= i:
                        continue
                    kept.append(tok)
                recs.append(
                    (doc_id, " ".join(kept), len(merged), removed, len(kept))
                )
            if not recs:
                continue  # empty frames carry object dtypes Arrow rejects
            yield pd.DataFrame(
                recs,
                columns=[
                    "doc_id", "text", "n_spans", "n_tokens_removed",
                    "n_tokens_kept",
                ],
            )

    cleaned = affected.mapInPandas(splice, schema=out_schema).filter(
        F.col("n_tokens_kept") > 0
    )
    if affected_only:
        return cleaned
    untouched = docs.join(spans.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id",
        "text",
        F.lit(0).cast("long").alias("n_spans"),
        F.lit(0).cast("long").alias("n_tokens_removed"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias(
            "n_tokens_kept"
        ),
    )
    return cleaned.unionByName(untouched)
