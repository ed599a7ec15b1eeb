"""The contract-oracle generators replicate Spark-side transformations in
pure Python (fixtures/contract_oracle.py).  Any silent divergence breaks the
driver's hash gate in a later round, so each replica is pinned against the
real Spark implementation on an adversarial text corpus: Java-vs-Python regex
whitespace semantics (\\s is ASCII-only in Java, unicode-aware in Python),
trim-vs-strip (Spark trim strips 0x20 only), NBSP, CRLF, fullwidth chars,
emoji, empty and dot-only strings."""

from pyspark.sql import functions as F

from list_extractor_spark.fixtures.contract_oracle import (
    _py_shingles,
    _py_tokens,
    spanify_python,
)
from list_extractor_spark.sources.spanify import spanify_documents
from list_extractor_spark.fixtures.spark_hash import hash_str
from list_extractor_spark.tda.dedup import _tokens, shingle_hash_stats

NASTY = [
    "plain words here",
    "",
    " ",
    "...",
    "a. b.  c.\td.\ne.",
    "one.  two.\t\tthree.\r\nfour",
    "trailing dot.",
    ". leading",
    "tabs\tbetween\twords",
    "nbsp\xa0stays\xa0glued",          # \xa0 is NOT Java \s: must stay one token
    "unicode wörds ünd ßtuff. mörె more",
    "emoji 🎸 rocks. second 🎷 half",
    "CRLF line.\r\nnext line",
    "multi  spaces   collapse",
    "dot.immediately",                  # no whitespace after dot: no split
    "UPPER lower MiXeD. Case",
    "a.b.c d.e.f",
    "ends with spaces   ",
    "   starts with spaces",
    "vertical\x0btab and formfeed\x0csplit",
    "ideographic　space stays",        # U+3000 is not Java \s either
    "word. " + "x" * 300 + ". tail",
]


def test_spanify_replica_matches_spark(spark):
    rows = [(str(i), "en", t) for i, t in enumerate(NASTY)]
    df = spark.createDataFrame(rows, "doc_id string, lang string, text string")
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in spanify_documents(df).collect()
    }
    for doc_id, lang, text in rows:
        want = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in spanify_python(doc_id, lang, text)["spans"]
        ]
        assert got[doc_id] == want, (doc_id, text, got[doc_id][:3], want[:3])


def test_token_replica_matches_spark(spark):
    rows = [(str(i), t) for i, t in enumerate(NASTY)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: list(r["toks"])
        for r in df.select("doc_id", _tokens().alias("toks")).collect()
    }
    for doc_id, text in rows:
        assert got[doc_id] == _py_tokens(text), (doc_id, text)


def _two_seed_hash(sh: str) -> int:
    """The 64-bit shingle key of shingle_hash_stats: murmur3 at seed 42 in
    the low word, at seed 0x3C6EF372 in the high word, as a signed long."""
    h = (hash_str(sh, 0x3C6EF372) & 0xFFFFFFFF) << 32 | (hash_str(sh) & 0xFFFFFFFF)
    return h - (1 << 64) if h & (1 << 63) else h


def test_shingle_replica_matches_spark(spark):
    """The Arrow shingle pass must hash exactly the shingle sets the
    oracle's _py_shingles forms (same tokenizer, same join of n tokens)."""
    rows = [(str(i), t) for i, t in enumerate(NASTY)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: (list(r["sh_hash"]), r["n_sh"])
        for r in shingle_hash_stats(df).collect()
    }
    for doc_id, text in rows:
        want = sorted({_two_seed_hash(sh) for sh in _py_shingles(text)})
        assert got.get(doc_id, ([], 0)) == (want, len(want)), (doc_id, text)


def test_round_half_up_matches_spark_and_duckdb_on_dyadic_ties(spark):
    """Python round() is half-to-even; Spark F.round and DuckDB round() are
    half-up on the shortest decimal repr.  The oracle generators must use the
    half-up replica or dyadic ties (1/128 at 6 decimals, 1/16 at 4) break the
    driver hash data-dependently."""
    import duckdb
    from pyspark.sql import functions as F

    from list_extractor_spark.fixtures.contract_oracle import _round_half_up

    ties = [1 / 128, 3 / 128, 1 / 2048, 0.0000005, 0.1234565, 1.5e-06]
    df = spark.createDataFrame([(v,) for v in ties], "v double")
    spark_vals = [r[0] for r in df.select(F.round("v", 6)).collect()]
    duck_vals = [
        float(duckdb.sql(f"select round(CAST({v!r} AS DOUBLE), 6)").fetchone()[0])
        for v in ties
    ]
    ours = [_round_half_up(v, 6) for v in ties]
    assert spark_vals == ours
    assert duck_vals == ours
    # the builtin would disagree on at least one of these
    assert [round(v, 6) for v in ties] != ours
