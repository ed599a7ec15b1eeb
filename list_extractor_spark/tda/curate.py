"""End-to-end training-data curation: the full pipeline a pre-training corpus
actually runs, composed from the per-operator building blocks in this package
as ONE DataFrame chain:

    quality filter  ->  line filter  ->  fuzzy dedup (minhash -> CC resolve
    -> corpus)  ->  eval-set decontamination  ->  hash split  ->  packing

The composition is the artifact: it proves the operators' schemas compose
without friction, and it exercises the scale shape end-to-end — quality and
line filtering stay narrow over the scan (no joins back to the corpus), the
ONLY corpus-keyed exchange is the line filter's per-document reassembly, the
dedup drop set and decontamination flag set are proportional to duplication /
contamination (anti-joins broadcast under AQE), split assignment is a narrow
md5 expression, and packing shuffles once by its range key.

At 100 TB every stage keeps the properties documented on the underlying
operator (hub caps on minhash buckets, size-adaptive connected components,
broadcast eval posting, range-parallel packing)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import (
    dedup_corpus,
    decontaminate,
    minhash_lsh_pairs,
    remove_contaminated,
)
from .sampling import hash_split, pack_documents
from .textstats import line_filter, quality_filter


def curate_corpus(
    documents: DataFrame,
    eval_docs: DataFrame,
    splits: dict[str, float] | None = None,
    budget_tokens: int = 512,
    n_ranges: int = 4,
    minhash_k: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.2,
    bucket_cap: int | None = 50,
    decontam_n: int = 5,
    decontam_min_hits: int = 3,
    line_to_newline: bool = False,
    line_require_punct: bool = True,
    dedup_policy: str = "keep_min",
) -> DataFrame:
    """Run the full curation chain over ``documents`` (doc_id, text) against
    an ``eval_docs`` benchmark set (doc_id, text).

    Returns one row per SURVIVING document: (doc_id, split, n_tokens,
    pack_id) — n_tokens counted over the line-filtered text, pack ids
    assigned over the survivors only (the set that actually ships to
    training).

    ``line_to_newline``: the driver corpus has no newlines; True applies the
    same punctuation-preserving '. ' -> '.\\n' sentence-split the standalone
    line_filter contract query uses before line-level rules.

    Stage plan (what .explain should show): quality filter = narrow
    projection of the scan (keep_text pass-through, no self-join); line
    filter = the single corpus-wide exchange (groupBy doc_id); dedup/
    decontamination survivors = two anti-joins whose right sides are small
    by construction (broadcast under AQE); split = narrow md5 bucket;
    packing = one exchange on the n_ranges range key."""
    docs = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    if line_to_newline:
        docs = docs.withColumn("text", F.expr("replace(text, '. ', '.\n')"))

    # 1. document-level quality rules: narrow, keep=reason IS NULL
    kept = (
        quality_filter(docs, keep_text=True)
        .filter("keep")
        .select("doc_id", "text")
    )

    # 2. line-level C4 rules: the filter prefix's one exchange (the
    # per-document line reassembly, keyed by doc_id).  Drop docs whose every
    # line was boilerplate.
    cleaned = (
        line_filter(kept, require_terminal_punct=line_require_punct)
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
    )
    # materialize ONCE: cleaned feeds the minhash pair plan, the dedup
    # anti-join left side, and the final token count — without a checkpoint
    # each consumer would re-run the filter chain (and the localCheckpoint
    # preserves the groupBy's doc_id partitioning for downstream reuse)
    cleaned = cleaned.localCheckpoint(eager=True)

    # 3. fuzzy dedup over the CLEANED text (dedup after cleaning, so
    # boilerplate lines can't glue unrelated documents into one cluster)
    pairs = minhash_lsh_pairs(
        cleaned, k=minhash_k, bands=bands,
        threshold=jaccard_threshold, bucket_cap=bucket_cap,
    )
    corpus = dedup_corpus(cleaned, pairs, policy=dedup_policy)

    # 4. eval-set decontamination (eval side raw: benchmarks arrive as-is)
    flagged = decontaminate(
        corpus, eval_docs, n=decontam_n, min_hits=decontam_min_hits
    )
    survivors = remove_contaminated(corpus, flagged)

    # 5. split assignment + token-budget packing over the survivors
    out = hash_split(
        survivors, splits or {"train": 0.9, "val": 0.05, "test": 0.05}
    ).withColumn(
        "n_tokens", F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    )
    return pack_documents(out, budget_tokens, n_ranges=n_ranges).select(
        "doc_id", "split", "n_tokens", "pack_id"
    )
