"""Text retrieval over the documents corpus: inverted-index term statistics,
per-document TF-IDF keyword extraction, and BM25 ranked search.

The reference pipeline mines Wikipedia list pages; a training-data curation
stack additionally needs a retrieval surface over the same corpus — for
boilerplate discovery (which terms dominate a crawl), per-document keyword
tagging, and query-driven subset selection ("give me the docs about X" as a
ranked slice, the standard data-selection primitive in LLM corpus work).

Scale shape (the 100-TB story):

  * Tokenization happens in the scan task (codegen `split`), so the only wide
    edge is the (doc_id, term) aggregation — a classic inverted-index build
    with map-side partial counts.  No explode survives past the first
    aggregation.
  * The term-statistics table (df per term) is tiny relative to the corpus
    (vocabulary grows ~O(sqrt(tokens)), Heaps' law) but NOT guaranteed
    broadcastable at web scale (billions of distinct terms in a raw crawl),
    so the tf->idf join is size-gated through the shared plan-stats probe
    (engine/stats.maybe_broadcast) exactly like the flagship snapshot joins.
  * BM25 filters the posting explode to the query's terms BEFORE any
    aggregation — the per-query work is proportional to the posting lists of
    the query terms, not the corpus (the filter sits in the scan stage and
    Catalyst pushes the IN-list into the generated code).
  * Top-k is rank-within-partition (TF-IDF, window per doc) or a global
    TakeOrdered limit (BM25) — never a full sort of the corpus.

All scores are rounded to 6 decimals and ORDERED BY THE ROUNDED VALUE with a
deterministic tie-break, so the result set is stable across engines (the
DuckDB oracles replay the same formulas; a sub-ulp libm difference in ln()
cannot reorder rows that the rounding has already made equal).
"""

from __future__ import annotations

import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, Window, functions as F

from ..engine.stats import maybe_broadcast


def _tokens(documents: DataFrame) -> DataFrame:
    """(doc_id, term) posting rows: lowercased whitespace tokens, built in the
    scan task (codegen split + explode; same tokenizer as textstats)."""
    return documents.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"),
    )


def _tf_table(documents: DataFrame) -> DataFrame:
    """(doc_id, term, tf) aggregated ONCE and lazily localCheckpoint'd: the
    table feeds both per-doc scoring and the corpus-level term aggregates,
    and without the checkpoint Catalyst prunes the consumers differently and
    re-runs the corpus scan + explode for each (verified in the physical
    plan; same single-materialization discipline as
    tda/dedup.near_dup_resolve's pair table)."""
    return (
        _tokens(documents)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )


def tfidf_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF terms — the keyword-tagging pass.

    score = tf * ln(N / df), rounded to 6 decimals; term_rank is row_number
    over (rounded score desc, term asc) so ties and cross-engine ordering are
    deterministic.  Output: (doc_id, term, tf, df_docs, score, term_rank).

    Plan: the shared _tf_table materializes the (doc_id, term) aggregate
    once; df is then a plain count(*) over it (exactly one row per
    (doc, term)), joined back on term through the size-gated broadcast
    probe; N arrives as a 1-row cross join (broadcast by Catalyst)."""
    tf = _tf_table(documents)
    df_t = tf.groupBy("term").agg(F.count("*").alias("df_docs"))
    n_docs = documents.groupBy().agg(F.count("*").alias("_n_docs"))
    scored = (
        tf.join(maybe_broadcast(df_t), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("_n_docs") / F.col("df_docs")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select("doc_id", "term", "tf", "df_docs", "score", "term_rank")
    )


def bm25_search(
    documents: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval: top-k documents for a whitespace-tokenized
    query string (Robertson/Sparck Jones idf, the Okapi formula).

      idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
      s(d, t) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    Output: (doc_id, n_terms_hit, score) ordered by (rounded score desc,
    doc_id asc), limited to k.

    Determinism: the per-term partial scores are doubles, and a plain double
    sum adds them in shuffle-arrival order — the boundary-flip class of bug
    the quantized PageRank fixed (engine/graphstats.py).  Each partial is
    therefore rounded to 12 decimals and summed as DECIMAL(28,12) (exact,
    order-independent); the final 6-dp round happens on the decimal total
    cast back to double.  The oracle replays the identical sequence.

    Plan: the posting explode is filtered to the query's terms before any
    shuffle (per-query cost ~ posting-list size, not corpus size); dl rides
    the same scan projection; df/avgdl/N are one tiny corpus aggregate pair
    cross-joined in (both literally a handful of rows -> Catalyst
    broadcasts).  The final top-k is a TakeOrdered, not a global sort."""
    q_terms = [t for t in query.lower().split() if t]
    if not q_terms:
        raise ValueError("bm25_search: empty query")
    dl_col = F.size(F.split(F.trim("text"), r"\s+"))
    docs = documents.select("doc_id", "text", dl_col.alias("dl"))
    toks = docs.select(
        "doc_id",
        "dl",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"),
    ).filter(F.col("term").isin(q_terms))
    # the filtered tf table is tiny (<= |query terms| rows per doc); the lazy
    # checkpoint keeps the full-corpus scan + explode behind it from running
    # twice (once for scores, once for df)
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
        .localCheckpoint(eager=False)
    )
    # one row per (doc, term) -> df is a plain count(*) over tf
    df_t = tf.groupBy("term").agg(F.count("*").alias("df_docs"))
    corpus = docs.groupBy().agg(
        F.count("*").alias("_n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("_avgdl"),
    )
    idf = F.log(
        1.0
        + (F.col("_n_docs") - F.col("df_docs") + 0.5) / (F.col("df_docs") + 0.5)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("_avgdl")
    )
    per_term = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "s",
            F.round(idf * F.col("tf") * F.lit(k1 + 1.0) / denom, 12).cast(
                "decimal(28,12)"
            ),
        )
    )
    return (
        per_term.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms_hit"),
            F.round(F.sum("s").cast("double"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """Per-document unigram language-model score — the KenLM-style quality
    filter of LLM data pipelines (docs whose tokens are improbable under the
    corpus LM are noise; docs that are too probable are boilerplate).

    score(d) = sum_t tf_dt * ln(cf_t / total_tokens) / dl_d  (avg log-prob
    per token; no smoothing needed — every scored token is in the corpus by
    construction).

    Output: (doc_id, n_tokens, avg_logprob) with avg_logprob rounded to 6.

    Determinism: the per-(doc, term) partial rounds to 12 decimals and sums
    as DECIMAL(28,12) — exact and order-independent, the same discipline as
    bm25_search/pagerank; the one division and final round happen on the
    decimal total.  Plan: the shared _tf_table materializes once and feeds
    both the per-term corpus frequency and the scored rows; cf joins back
    through the size-gated broadcast probe; total_tokens is a 1-row
    broadcast."""
    tf = _tf_table(documents)
    cf = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    total = cf.groupBy().agg(F.sum("cf").alias("_total"))
    partial = (
        tf.join(maybe_broadcast(cf), "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "lp",
            F.round(
                F.col("tf") * F.log(F.col("cf") / F.col("_total")), 12
            ).cast("decimal(28,12)"),
        )
    )
    return partial.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.round(
            F.sum("lp").cast("double") / F.sum("tf"), 6
        ).alias("avg_logprob"),
    )


_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _java_ws_tokens(text: str) -> list[str]:
    """Replica of ``split(lower(trim(text)), '\\s+')`` under Spark SQL
    semantics: trim strips 0x20 only, ``\\s`` is the ASCII class, and split
    uses Java ``split(regex, -1)`` — leading AND trailing empty strings are
    KEPT (empirically pinned: 'trailing tab\\t' tokenizes to
    ['trailing', 'tab', ''], and '' to ['']).  re.split matches exactly.
    Token-equality is test-pinned against that Spark expression
    (tests/test_redact_dsir.py) including the tab/multi-space/empty edges;
    like every tokenizer replica in this repo, non-ASCII case folding is the
    documented envelope (python .lower() vs UTF8String.toLowerCase)."""
    return _JAVA_WS.split(text.strip(" ").lower())


def _gram_bucket_counts(text: str, n_buckets: int) -> dict[int, int]:
    """Per-document {bucket: count} over unigrams + bigrams: the first 16
    bits of the gram's md5, mod n_buckets (tda/sampling's portable hash)."""
    md5 = hashlib.md5
    counts: dict[int, int] = {}
    prev = None
    for t in _java_ws_tokens(text):
        b = int(md5(t.encode("utf-8")).hexdigest()[:4], 16) % n_buckets
        counts[b] = counts.get(b, 0) + 1
        if prev is not None:
            g = prev + " " + t
            b2 = int(md5(g.encode("utf-8")).hexdigest()[:4], 16) % n_buckets
            counts[b2] = counts.get(b2, 0) + 1
        prev = t
    return counts


def _rhu(x: float, nd: int) -> Decimal:
    """Spark round(double, nd) replica: BigDecimal.valueOf quantizes the
    SHORTEST decimal repr, then HALF_UP (the JVM-pinned rule from
    tests/test_graphstats)."""
    return Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP
    )


def _dsir_weights(counts: DataFrame, n_buckets: int) -> DataFrame:
    """(bucket, lr) Laplace-smoothed log-ratio table from a
    (bucket, q_cnt, p_cnt) distribution-count table (<= n_buckets rows).
    ln() evaluates in the JVM — the score pass collects these rows rather
    than re-deriving lr in python libm, so lr is the same double Spark SQL
    (and the oracle's ln) computes."""
    totals = counts.groupBy().agg(
        F.sum("q_cnt").alias("_q_total"),
        F.sum("p_cnt").alias("_p_total"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .withColumn(
            "lr",
            F.log(
                (F.col("p_cnt") + 1) / (F.col("_p_total") + F.lit(n_buckets))
            )
            - F.log(
                (F.col("q_cnt") + 1) / (F.col("_q_total") + F.lit(n_buckets))
            ),
        )
        .select("bucket", "lr")
    )


def dsir_logweights(
    documents: DataFrame,
    is_target,
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): score every raw-corpus document by how
    target-domain-like its hashed n-gram profile is, so a pretraining pipeline
    can resample the web crawl toward a quality/target distribution.

    Features are unigrams + bigrams of the whitespace tokenizer, hashed into
    ``n_buckets`` md5 buckets (md5, not the engine-native hash, for the same
    reason as tda/sampling.hash_split: any engine — and the DuckDB oracle —
    recomputes identical feature ids in plain SQL).  Two Laplace-smoothed
    bag-of-buckets unigram distributions are fit — p over the rows where
    ``is_target`` holds (the target domain), q over the whole corpus — and

        log w(d) = sum_b  count_d(b) * ( ln((p_b+1)/(P+B)) - ln((q_b+1)/(Q+B)) )

    where P/Q are total feature occurrences and B = n_buckets.  Documents with
    positive log-weight look more like the target than the average raw doc.

    Output: (doc_id, n_feats, dsir_logweight) — n_feats = total gram
    occurrences, dsir_logweight rounded to 6 decimals.  Documents with NULL
    text produce no row.

    Determinism: the per-bucket log-ratio is rounded to 12 decimals and each
    gram OCCURRENCE contributes that value as DECIMAL(28,12) — the sum is
    exact and order-independent across partitionings, the same discipline as
    bm25_search / unigram_logprob / quantized PageRank (the oracle replays it
    as cnt * round(lr, 12) in decimal arithmetic, which is identical; the
    score pass uses the proven Decimal(repr(x)) HALF_UP replica on the
    JVM-computed lr doubles).

    Plan (the 100-TB shape): TWO narrow mapInPandas passes over the corpus
    and NOTHING corpus-sized ever shuffles or materializes — the fit pass
    pre-aggregates each Arrow batch to at most ``n_buckets`` (bucket, q, p)
    partial rows in python before the tiny bucket-keyed exchange, and the
    score pass evaluates each document against the collected weight table
    (<= 2^16 (bucket, lr) rows — bounded by construction, which is the
    point of feature hashing) entirely inside the scan task: ZERO
    exchanges, plan-tested.  Measured at 400k docs x 81 tokens (local[32]):
    10.4 s vs 88 s for an all-relational posexplode + lead() window form,
    which pays for the 64M-row gram table somewhere (BENCH/BASELINE.md).
    That form won 1.4-1.9x at 5k-80k docs on a 4-core host, but needs ~3x
    the heap at scale and no benchmark workload runs DSIR, so it is not
    kept as a second regime.
    """
    if not 1 <= n_buckets <= (1 << 16):
        raise ValueError("dsir_logweights: n_buckets must be in [1, 65536]")
    tgt_col = (
        F.col(is_target) if isinstance(is_target, str) else is_target
    ).cast("boolean")
    docs = documents.select("doc_id", tgt_col.alias("is_tgt"), "text")
    return _dsir_arrow(docs, n_buckets)


def dsir_resample(
    documents: DataFrame,
    is_target,
    n_keep: int,
    n_buckets: int = 4096,
    temperature: float = 1.0,
) -> DataFrame:
    """DSIR's selection step: resample ``n_keep`` documents with probability
    proportional to exp(dsir_logweight / temperature) via the Gumbel-top-k
    trick (Kool et al. 2019) — sampling WITHOUT replacement reduces to a
    top-k over  key = logweight/T + G  where G is standard Gumbel noise.

    The noise is DETERMINISTIC and content-keyed, like every sampling
    decision in this engine (tda/sampling.hash_split): u is a 32-bit md5
    slice of doc_id mapped into (0,1), G = -ln(-ln(u)) — any engine (and the
    DuckDB oracle) recomputes the identical draw, re-runs and re-shards
    can't change the selected set, and raising temperature smoothly moves
    the selection from exploit (top weights) toward uniform.

    Output: (doc_id, dsir_logweight, gumbel_key) — the selected docs,
    gumbel_key rounded to 6 decimals, ordered (gumbel_key desc, doc_id asc)
    with the rounded-key-then-id tiebreak making cross-engine order exact.

    Scale: the scoring pass is dsir_logweights (see its docstring); the
    selection itself is a TakeOrdered over one row per document — never a
    global sort.  At fixed selection RATE (vs fixed n_keep) prefer filtering
    on a key threshold learned from a quantile sketch instead; top-k with
    n_keep in the billions would funnel through the driver."""
    if n_keep < 1:
        raise ValueError("dsir_resample: n_keep must be >= 1")
    if temperature <= 0:
        raise ValueError("dsir_resample: temperature must be > 0")
    scored = dsir_logweights(documents, is_target, n_buckets=n_buckets)
    hx = F.md5(F.col("doc_id").cast("string"))
    digit = lambda i: (  # noqa: E731
        F.instr(F.lit("0123456789abcdef"), F.substring(hx, i, 1)) - 1
    )
    # long arithmetic: digit * 16^7 overflows int32 under ANSI mode
    h32 = sum(
        digit(i + 1).cast("long") * F.lit(16 ** (7 - i)).cast("long")
        for i in range(8)
    )
    u = (h32 + F.lit(0.5)) / F.lit(float(1 << 32))
    gumbel = -F.log(-F.log(u))
    key = F.round(
        F.col("dsir_logweight") / F.lit(float(temperature)) + gumbel, 6
    ).alias("gumbel_key")
    return (
        scored.select("doc_id", "dsir_logweight", key)
        .orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
        .limit(n_keep)
    )


def _dsir_arrow(docs: DataFrame, n_buckets: int) -> DataFrame:
    """Two-narrow-pass DSIR (see dsir_logweights docstring)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    def fit(batches):
        import pandas as pd

        for pdf in batches:
            q: dict[int, int] = {}
            p: dict[int, int] = {}
            for text, tgt in zip(pdf["text"], pdf["is_tgt"]):
                if text is None:
                    continue
                for b, c in _gram_bucket_counts(text, n_buckets).items():
                    q[b] = q.get(b, 0) + c
                    if tgt:
                        p[b] = p.get(b, 0) + c
            if not q:
                continue  # empty yields break Arrow schema inference
            buckets = list(q)
            yield pd.DataFrame(
                {
                    "bucket": pd.Series(buckets, dtype="int32"),
                    "q_cnt": pd.Series([q[b] for b in buckets], dtype="int64"),
                    "p_cnt": pd.Series(
                        [p.get(b, 0) for b in buckets], dtype="int64"
                    ),
                }
            )

    partial = docs.mapInPandas(fit, "bucket int, q_cnt long, p_cnt long")
    counts = partial.groupBy("bucket").agg(
        F.sum("q_cnt").alias("q_cnt"), F.sum("p_cnt").alias("p_cnt")
    )
    # bounded collect BY CONSTRUCTION (<= n_buckets <= 2^16 rows) — the same
    # class as the IVF centroid collect; lr doubles come from the JVM
    # expression (_dsir_weights)
    lw = {
        row["bucket"]: _rhu(row["lr"], 12)
        for row in _dsir_weights(counts, n_buckets).collect()
    }

    out_schema = StructType(
        [
            docs.schema["doc_id"],
            StructField("n_feats", LongType(), False),
            StructField("dsir_logweight", DoubleType(), True),
        ]
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            ids, feats, scores = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                counts_d = _gram_bucket_counts(text, n_buckets)
                acc = Decimal(0)
                n = 0
                for b, c in counts_d.items():
                    n += c
                    acc += c * lw[b]  # KeyError = tokenizer drift, fail loud
                ids.append(doc_id)
                feats.append(n)
                scores.append(float(_rhu(float(acc), 6)))
            if not ids:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_feats": pd.Series(feats, dtype="int64"),
                    "dsir_logweight": pd.Series(scores, dtype="float64"),
                }
            )

    return docs.mapInPandas(score, out_schema)
