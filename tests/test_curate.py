"""End-to-end curation pipeline (tda/curate.curate_corpus): stage semantics
on a crafted corpus plus the composition's plan guarantees."""

import pytest
from pyspark.sql import functions as F

from list_extractor_spark.tda.curate import curate_corpus
from list_extractor_spark.tda.textstats import line_filter, quality_filter

# passes every quality rule: 280 chars, 56 ws tokens, stopwords present,
# mean word length ~4, no uppercase mass, punct ratio ~0.014
_GOOD = ("the quick brown fox jumps over the lazy dog near the old river "
         "bank. ") * 4
_GOOD2 = _GOOD.replace("dog", "cat", 1)  # near-dup of _GOOD (1 token differs)
_OTHER = ("a calm gray heron waits beside the shallow water and watches "
          "small fish drift past the reeds. ") * 4
_EVALISH = ("the data pipeline processes many records while the system "
            "keeps running smoothly through the night shift. ") * 4


def _docs(spark):
    return spark.createDataFrame(
        [("a1", _GOOD), ("a2", _GOOD2), ("b1", _OTHER),
         ("c1", "tiny text."), ("d1", _EVALISH)],
        "doc_id string, text string",
    )


def _eval(spark):
    return spark.createDataFrame(
        [("e1", _EVALISH)], "doc_id string, text string"
    )


def test_curate_corpus_stage_semantics(spark):
    """Each stage bites: c1 fails quality (too_short), a2 is dropped as a
    near-dup of a1 (keep_min), d1 is decontaminated against e1; survivors
    get split + pack assignments."""
    out = curate_corpus(
        _docs(spark), _eval(spark),
        line_to_newline=True, line_require_punct=False,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {"a1", "b1"}
    for r in rows.values():
        assert r["split"] in ("train", "val", "test")
        assert r["n_tokens"] > 30
        assert r["pack_id"] >= 0


def test_curate_corpus_keep_longest_policy(spark):
    """dedup_policy='keep_longest' keeps the longer near-dup copy instead of
    the smaller id."""
    docs = _docs(spark).withColumn(
        "text",
        F.when(F.col("doc_id") == "a2",
               F.concat("text", F.lit("plus one extra closing line here ")))
        .otherwise(F.col("text")),
    )
    out = curate_corpus(
        docs, _eval(spark),
        line_to_newline=True, line_require_punct=False,
        dedup_policy="keep_longest",
    )
    ids = {r["doc_id"] for r in out.collect()}
    assert "a2" in ids and "a1" not in ids


def test_curate_filter_stages_are_narrow(spark):
    """The quality -> line-filter prefix of the composite must run ONE
    exchange: quality filtering must not join back to the corpus, so the
    only shuffle is the line filter's per-document reassembly."""
    docs = _docs(spark)
    prefix = (
        line_filter(
            quality_filter(docs, keep_text=True).filter("keep")
            .select("doc_id", "text"),
            require_terminal_punct=False,
        )
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
    )
    plan = prefix._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_curate_drop_sets_broadcast_under_aqe(spark):
    """After execution, both anti-joins (dedup drop set, contamination flag
    set) must have resolved to broadcast form — the survivor corpus is never
    re-shuffled on doc_id for them (AQE converts the statically-planned SMJ
    because both right sides are small by construction)."""
    out = curate_corpus(
        _docs(spark), _eval(spark),
        line_to_newline=True, line_require_punct=False,
    )
    out.collect()  # drive THIS DataFrame's own execution to the AQE final plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    # 3 anti-joins in the final plan: dedup drop, contamination flag, and the
    # corpus (dedup) branch re-evaluated inside the decontaminate scan
    anti_lines = [ln for ln in final.splitlines() if "LeftAnti" in ln]
    assert len(anti_lines) == 3, final
    for ln in anti_lines:  # every one resolved to broadcast — no corpus shuffle
        assert "BroadcastHashJoin" in ln, ln
