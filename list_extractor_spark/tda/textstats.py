"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting (normalized hash + rolling-hash winnowing).  All
JVM-side expressions (regexp/length/split/window) so they stay inside
whole-stage codegen; every one has a DuckDB oracle (ANSI SQL or a generated
VALUES literal from the bit-exact python hash replicas)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T

# language -> marker words for the n-gram/stopword heuristic (deterministic
# CASE logic; SQL-expressible for the DuckDB oracle)
_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "es": ["el", "los", "que"],
    "it": ["il", "che", "di"],
}


def _marker_count(lang: str):
    pat = r"\b(" + "|".join(_LANG_MARKERS[lang]) + r")\b"
    # non-overlapping match count; Spark plans regexp_count as
    # size(regexp_extract_all(.., 0)), so the match array is still built
    return F.regexp_count(F.lower(F.col("text")), F.lit(pat))


def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-vote language ID: most marker hits wins, ties broken by the
    fixed language order en > de > es > it, 'und' (unknown) when zero hits."""
    counts = documents.select(
        "doc_id",
        *[_marker_count(lang).alias(f"n_{lang}") for lang in _LANG_MARKERS],
    )
    best = F.greatest(*[F.col(f"n_{lang}") for lang in _LANG_MARKERS])
    pred = (
        F.when(best == 0, F.lit("und"))
        .when(F.col("n_en") == best, F.lit("en"))
        .when(F.col("n_de") == best, F.lit("de"))
        .when(F.col("n_es") == best, F.lit("es"))
        .otherwise(F.lit("it"))
    )
    return counts.select("doc_id", pred.alias("pred_lang"))


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace tokens plus a BPE-ish subword proxy (4 chars/token of the
    alphanumeric mass), both as integer columns."""
    return documents.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_ws_tokens"),
        F.ceil(
            F.length(F.regexp_replace("text", r"[^A-Za-z0-9]", "")) / F.lit(4)
        ).cast("bigint").alias("n_bpe_est"),
    )


def quality_scores(documents: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """Heuristic quality features: length, punctuation ratio, stopword ratio,
    mean word length, uppercase ratio — the usual pre-training filters.
    ``extra_cols`` passes input columns through (e.g. text, so a downstream
    filter stage needs no self-join back to the corpus)."""
    n_chars = F.length("text")
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    # PERF (r7, guide §1.2 per-task work): counting characters of a fixed
    # ASCII set via regexp_replace('[^...]') pays the regex engine per char
    # plus a result-string build; length - length(translate(del set)) counts
    # the identical characters in one codegen'd pass.  Values are
    # bit-identical.  (regexp_count is only a spelling: Spark plans it as
    # size(regexp_extract_all(.., 0)).)
    n_punct = n_chars - F.length(F.translate("text", ".,;:!?", ""))
    n_stop = F.regexp_count(
        F.lower("text"), F.lit(r"\b(the|and|of|a|to|in|is|it)\b")
    )
    n_upper = n_chars - F.length(
        F.translate("text", "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "")
    )
    return documents.select(
        "doc_id",
        *extra_cols,
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(n_punct / n_chars, 4).alias("punct_ratio"),
        F.round(n_stop / n_tokens, 4).alias("stopword_ratio"),
        F.round((n_chars - n_tokens + 1) / n_tokens, 4).alias("mean_word_len"),
        F.round(n_upper / n_chars, 4).alias("upper_ratio"),
    )


def fingerprints(documents: DataFrame) -> DataFrame:
    """Normalized-content fingerprint: md5 over lowercased alphanumeric text —
    robust to whitespace/punctuation-only edits (near-exact dedup key)."""
    return documents.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower("text"), r"[^a-z0-9]", "")).alias("fingerprint"),
    )


# ASCII whitespace class shared with the python oracle replica (java \s)
_WS = "[ \\t\\n\\x0B\\f\\r]+"


def winnow_posting(
    documents: DataFrame, k: int = 8, w: int = 4, strategy: str = "arrow"
) -> DataFrame:
    """(doc_id, fp) rows: rolling-hash winnowing fingerprints (the MOSS
    algorithm, Schleimer/Wilkerson/Aiken SIGMOD'03) — the partial-overlap
    dedup primitive exact hashing can't provide.

    Normalize (lower, collapse ASCII whitespace) -> character k-grams ->
    xxhash64 per gram -> minimum over each w-gram sliding window -> distinct
    selected hashes per document.  Guarantees any shared substring of length
    >= k + w - 1 contributes a shared fingerprint.

    Default strategy is the shuffle-free Arrow form: A/B at 400k docs
    (min-of-3, local[32]) measured 3.06 s vs 15.01 s for the explode+window
    form — 4.9x, the window exchange carries one row PER CHARACTER POSITION
    (~2x corpus bytes) that the per-task rolling min never pays.  Both
    produce identical fingerprint sets (tested); ``strategy="window"`` keeps
    the all-JVM plan for clusters where python workers are unavailable."""
    if strategy == "arrow":
        return winnow_posting_arrow(documents, k, w)
    return winnow_posting_window(documents, k, w)


def winnow_posting_window(documents: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Explode+window winnowing form (the A/B loser at 400k docs, kept for
    python-worker-free deployments): explode(sequence) + substring + xxhash64
    are whole-stage codegen; the only shuffle is the per-doc window
    (partitionBy doc_id), the same single-exchange shape as shingle_posting.
    No interpreted HOFs: the k-gram transform is explode-then-substring, not
    transform()."""
    t = F.regexp_replace(F.lower("text"), _WS, " ")
    d = documents.select("doc_id", t.alias("t")).filter(F.length("t") >= k)
    grams = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("t") - (k - 1))).alias("pos"),
        F.col("t"),
    ).select("doc_id", "pos", F.xxhash64(F.expr(f"substring(t, pos, {k})")).alias("h"))
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    return (
        grams.select("doc_id", "pos", F.min("h").over(win).alias("fp"))
        .filter(F.col("pos") >= w)  # full windows only (standard winnowing)
        .select("doc_id", "fp")
        .distinct()
    )


def _xxh64_grams_ascii(buf, k: int):
    """Vectorized Spark xxhash64 (seed 42) over every k-byte sliding window
    of an ASCII uint8 buffer -> int64 array, bit-exact with F.xxhash64 on the
    corresponding k-char substrings (gram byte length == k only holds for
    ASCII; callers fall back per-gram otherwise).  Covers gram lengths < 32
    bytes — the xxh64 short path: seed+P5+len, 8-byte rounds, one optional
    4-byte chunk, tail bytes (fixtures/spark_hash.py:130 is the scalar
    reference)."""
    import numpy as np

    assert k < 32
    M = np.uint64(0xFFFFFFFFFFFFFFFF)  # noqa: F841 (documentation of domain)
    P1 = np.uint64(0x9E3779B185EBCA87)
    P2 = np.uint64(0xC2B2AE3D27D4EB4F)
    P3 = np.uint64(0x165667B19E3779F9)
    P4 = np.uint64(0x85EBCA77C2B2AE63)
    P5 = np.uint64(0x27D4EB2F165667C5)

    def rotl(x, r):
        return (x << np.uint64(r)) | (x >> np.uint64(64 - r))

    win = np.lib.stride_tricks.sliding_window_view(buf, k)  # m x k uint8
    h = np.full(win.shape[0], np.uint64(42) + P5 + np.uint64(k), dtype=np.uint64)
    i = 0
    while i + 8 <= k:
        w64 = np.zeros(win.shape[0], dtype=np.uint64)
        for b in range(8):  # little-endian 8-byte word
            w64 |= win[:, i + b].astype(np.uint64) << np.uint64(8 * b)
        h ^= rotl(w64 * P2, 31) * P1  # _xxh_round(0, w64)
        h = rotl(h, 27) * P1 + P4
        i += 8
    if i + 4 <= k:
        w32 = np.zeros(win.shape[0], dtype=np.uint64)
        for b in range(4):
            w32 |= win[:, i + b].astype(np.uint64) << np.uint64(8 * b)
        h ^= w32 * P1
        h = rotl(h, 23) * P2 + P3
        i += 4
    while i < k:
        h ^= win[:, i].astype(np.uint64) * P5
        h = rotl(h, 11) * P1
        i += 1
    h ^= h >> np.uint64(33)
    h *= P2
    h ^= h >> np.uint64(29)
    h *= P3
    h ^= h >> np.uint64(32)
    return h.view(np.int64)


def winnow_posting_arrow(documents: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Shuffle-FREE winnowing posting: normalize, k-gram-hash, and take the
    per-doc rolling min entirely inside one mapInPandas pass — each document's
    grams never leave the task that read it, so the window exchange of
    winnow_posting (which carries ~2x the corpus bytes as one row per
    character position) disappears; the emitted (doc_id, fp) rows are already
    distinct (np.unique per doc), so there is no distinct shuffle either.

    Hashing is the vectorized Spark-xxhash64 replica for ASCII documents
    (byte windows == char windows) with a bit-exact per-gram fallback
    (fixtures/spark_hash.xxh64_str) for non-ASCII ones; result sets are
    IDENTICAL to winnow_posting by construction and by test.  A/B at 400k
    docs vs the explode+window form recorded in BENCH/BASELINE.md."""
    import re as _re

    import numpy as np

    from ..fixtures.spark_hash import xxh64_str

    ws_re = _re.compile("[ \t\n\x0b\f\r]+")
    schema = T.StructType(
        [documents.schema["doc_id"], T.StructField("fp", T.LongType(), False)]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    # JVM twin drops NULL-text rows (split/substring of NULL
                    # yields nothing); skip instead of raising (r7 fix)
                    continue
                t = ws_re.sub(" ", text.lower())
                if len(t) < k:
                    continue
                b = t.encode("utf-8")
                if len(b) == len(t):  # ASCII: byte grams == char grams
                    hs = _xxh64_grams_ascii(np.frombuffer(b, dtype=np.uint8), k)
                else:
                    hs = np.array(
                        [xxh64_str(t[i : i + k]) for i in range(len(t) - k + 1)],
                        dtype=np.int64,
                    )
                if len(hs) < w:
                    continue  # no full w-window (standard winnowing)
                sel = np.unique(
                    np.lib.stride_tricks.sliding_window_view(hs, w).min(axis=1)
                )
                ids.append(np.repeat(doc_id, len(sel)))
                fps.append(sel)
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids) if ids else np.array([], dtype=object),
                    "fp": np.concatenate(fps) if fps else np.array([], dtype=np.int64),
                }
            )

    return documents.select("doc_id", "text").mapInPandas(run, schema=schema)


def winnow_signatures(documents: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Compact per-document winnowing signature: fingerprint-set size and the
    xor-fold of the set (order-insensitive, collision-resistant enough for a
    change-detection key; the posting form above serves similarity joins)."""
    return (
        winnow_posting(documents, k, w)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fp"),
            F.bit_xor("fp").alias("fp_xor"),
        )
    )


def line_dedup(documents: DataFrame) -> DataFrame:
    """Within-document repetition removal (the Gopher/RefinedWeb line-dedup
    rule): drop every repeat of an already-seen line inside a document,
    preserving first-occurrence order, and report the repetition signals
    quality filters threshold on.

    Output: (doc_id, text [deduped], n_lines, n_distinct_lines,
    dup_line_ratio).  All JVM-side: posexplode the line array, keep the
    first occurrence per (doc_id, line) with one per-doc window, reassemble
    via sort_array(collect_list(struct(pos, line))).line — GetArrayStructFields
    is codegen, so no interpreted transform() lambda (the measured HOF trap).
    Two exchanges on line rows (window + groupBy), both keyed by doc_id."""
    lines = documents.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "line")
    )
    w = Window.partitionBy("doc_id", "line").orderBy("pos")
    first = lines.withColumn("rn", F.row_number().over(w))
    return (
        first.groupBy("doc_id")
        .agg(
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("rn") == 1, F.struct("pos", "line"))
                    )
                ).getField("line"),
                "\n",
            ).alias("text"),
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_distinct_lines"),
        )
        .withColumn(
            "dup_line_ratio",
            F.round(1 - F.col("n_distinct_lines") / F.col("n_lines"), 6),
        )
    )


# default Gopher/C4-style thresholds; every rule is a pure column predicate
# over quality_scores features, so the filter stays whole-stage codegen
QUALITY_RULES = {
    "min_chars": 200,        # Gopher: drop very short documents
    "max_chars": 100_000,    # and absurdly long ones (boilerplate dumps)
    "min_tokens": 32,
    "min_mean_word_len": 2.0,   # Gopher 3-10 band, relaxed low end
    "max_mean_word_len": 12.0,
    "min_stopword_ratio": 0.01,  # C4/Gopher: prose has stopwords
    "max_punct_ratio": 0.20,     # symbol-heavy pages
    "max_upper_ratio": 0.20,     # SHOUTING / code dumps
}


def quality_filter(
    documents: DataFrame, rules: dict | None = None, keep_text: bool = False
) -> DataFrame:
    """Composite pre-training quality filter (the Gopher rules / C4 heuristics
    family): every document gets a keep verdict plus the FIRST failed rule as
    the drop reason — the audit trail a 100-TB curation run needs (how much
    did each rule cost?).

    One narrow pass: the predicates are plain column expressions over the
    quality_scores features (no UDF, no shuffle); aggregate drop accounting
    is a cheap groupBy("reason") the caller can run on the result.
    Returns (doc_id, n_chars, n_tokens, keep, reason); reason is null for
    kept documents."""
    r = dict(QUALITY_RULES)
    if rules:
        r.update(rules)
    q = quality_scores(documents, extra_cols=("text",) if keep_text else ())
    checks = [
        ("too_short", F.col("n_chars") < r["min_chars"]),
        ("too_long", F.col("n_chars") > r["max_chars"]),
        ("too_few_tokens", F.col("n_tokens") < r["min_tokens"]),
        ("word_len_low", F.col("mean_word_len") < r["min_mean_word_len"]),
        ("word_len_high", F.col("mean_word_len") > r["max_mean_word_len"]),
        ("no_stopwords", F.col("stopword_ratio") < r["min_stopword_ratio"]),
        ("punct_heavy", F.col("punct_ratio") > r["max_punct_ratio"]),
        ("upper_heavy", F.col("upper_ratio") > r["max_upper_ratio"]),
    ]
    reason = F.lit(None).cast("string")
    for name, pred in reversed(checks):  # first failed rule wins
        reason = F.when(pred, F.lit(name)).otherwise(reason)
    cols = [
        "doc_id",
        "n_chars",
        "n_tokens",
        reason.isNull().alias("keep"),
        reason.alias("reason"),
    ]
    if keep_text:
        cols.append("text")  # narrow pass-through: no join back to the corpus
    return q.select(*cols)


def line_filter(
    documents: DataFrame,
    min_words: int = 3,
    require_terminal_punct: bool = True,
    ban_substrings: tuple = ("lorem ipsum", "{", "javascript"),
    strategy: str = "jvm",
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep only
    lines that look like prose — >= ``min_words`` words, terminated by
    sentence punctuation, and free of boilerplate markers — and report the
    per-document drop accounting.

    Output: (doc_id, text [kept lines, order preserved], n_lines, n_kept,
    drop_line_ratio).

    ``strategy="jvm"`` (default, the oracle-graded form): one posexplode,
    pure column predicates, reassembly via
    sort_array(collect_list(struct)).line (codegen GetArrayStructFields,
    no interpreted transform()) — ONE exchange, keyed by doc_id (no window
    needed: the keep decision is per line).

    ``strategy="arrow"`` keeps the decision per DOCUMENT in a single
    narrow mapInPandas pass — ZERO exchanges (the explode/groupBy form
    ships one row per LINE through a corpus-wide shuffle purely to rejoin
    lines that were already co-located).  Same winnowing/minhash lesson;
    output equality with the jvm form is test-pinned, including the
    rounding of drop_line_ratio."""
    if strategy == "arrow":
        return _line_filter_arrow(
            documents, min_words, require_terminal_punct, ban_substrings
        )
    lines = documents.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "line")
    )
    keep = F.size(F.split(F.trim("line"), r"\s+")) >= min_words
    if require_terminal_punct:
        keep = keep & F.col("line").rlike(r'[.!?"]\s*$')
    for b in ban_substrings:
        keep = keep & ~F.lower("line").contains(b.lower())
    return (
        lines.withColumn("keep", keep)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.sort_array(
                    F.collect_list(F.when(F.col("keep"), F.struct("pos", "line")))
                ).getField("line"),
                "\n",
            ).alias("text"),
            F.count("*").alias("n_lines"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
        )
        .withColumn(
            "drop_line_ratio",
            F.round(1 - F.col("n_kept") / F.col("n_lines"), 6),
        )
    )


def _line_filter_arrow(
    documents: DataFrame, min_words: int, require_terminal_punct: bool,
    ban_substrings: tuple,
) -> DataFrame:
    """Narrow per-document form of line_filter (strategy='arrow'): rule
    parity with the JVM expressions is deliberate and test-pinned —
    ASCII-whitespace word split (java \\s), space-only trim, [.!?\"]\\s*$
    terminal check, case-folded substring bans, and drop_line_ratio rounded
    half-up on the shortest double repr (Spark F.round semantics)."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    term = re.compile(r'[.!?"][ \t\n\x0b\f\r]*\Z')
    bans = tuple(b.lower() for b in ban_substrings)
    q6 = Decimal("0.000001")

    out_schema = T.StructType(
        [
            documents.schema["doc_id"],
            T.StructField("text", T.StringType(), True),
            T.StructField("n_lines", T.LongType(), False),
            T.StructField("n_kept", T.LongType(), False),
            T.StructField("drop_line_ratio", T.DoubleType(), True),
        ]
    )

    def run(batches):
        for pdf in batches:
            recs = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    # the JVM line_filter drops NULL-text rows (split(NULL)
                    # explodes to nothing); skip instead of raising (r7 fix)
                    continue
                lines = text.split("\n")
                kept = []
                for line in lines:
                    low = line.lower()
                    ok = (
                        len(ws.split(line.strip(" "))) >= min_words
                        and (not require_terminal_punct or term.search(line))
                        and not any(b in low for b in bans)
                    )
                    if ok:
                        kept.append(line)
                ratio = 1 - len(kept) / len(lines)
                recs.append(
                    (
                        doc_id,
                        "\n".join(kept),
                        len(lines),
                        len(kept),
                        float(Decimal(repr(ratio)).quantize(q6, ROUND_HALF_UP)),
                    )
                )
            if not recs:
                continue  # empty frames carry object dtypes Arrow rejects
            yield pd.DataFrame(
                recs,
                columns=["doc_id", "text", "n_lines", "n_kept",
                         "drop_line_ratio"],
            )

    return documents.select("doc_id", "text").mapInPandas(run, schema=out_schema)


def repetition_signals(documents: DataFrame, n: int = 2) -> DataFrame:
    """Per-document n-gram repetition signals — the Gopher repetition family
    (Rae et al. 2021 §A1.1: documents dominated by a few repeated n-grams are
    boilerplate/spam and get filtered before training).

    Output per doc: (doc_id, n_ngrams, n_distinct_ngrams, dup_ngram_frac,
    top_ngram_share) with fractions rounded to 6 decimals:

      dup_ngram_frac  = 1 - distinct/total   (mass sitting in repeats)
      top_ngram_share = max_count/total      (share of the single hottest gram)

    Scale shape: grams form in the scan task (sequence + slice + array_join —
    codegen, not an interpreted transform() lambda), then two aggregations
    with map-side partial combine: (doc_id, gram) counts, re-aggregated to
    doc_id.  Both shuffles key on doc_id(+gram) so there is no hot corpus-
    wide key; memory per task is bounded by a document's distinct grams."""
    t = F.split(F.lower(F.trim("text")), r"\s+")
    d = documents.select("doc_id", t.alias("t")).filter(F.size("t") >= n)
    grams = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("t") - (n - 1))).alias("pos"),
        "t",
    ).select("doc_id", F.array_join(F.slice("t", F.col("pos"), n), " ").alias("gram"))
    per_gram = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("cnt"))
    return per_gram.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_ngrams"),
        F.count("*").alias("n_distinct_ngrams"),
        F.round(1 - F.count("*") / F.sum("cnt"), 6).alias("dup_ngram_frac"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top_ngram_share"),
    )


def compression_ratio(documents: DataFrame, level: int = 6) -> DataFrame:
    """Per-document zlib compressibility — the classic redundancy signal
    (CCNet/Gopher-family heuristics: highly compressible text is
    repetitive boilerplate, near-incompressible text is noise/binary soup;
    quality prose sits in between, so pipelines band-pass on this ratio).

    Output: (doc_id, n_bytes, compression_ratio) with ratio =
    len(deflate(utf8, level)) / max(n_bytes, 1), rounded to 6 decimals.

    This is one of the few justified Python UDFs in the engine: no
    built-in expression computes DEFLATE, so the pass is a single
    Arrow-batched mapInPandas over the scan — narrow, zero shuffle, CPU
    bounded by zlib itself.  Determinism: zlib output bytes are not
    guaranteed stable across zlib LIBRARY versions, but within one
    deployment (and this container, where the oracle replica runs the
    same interpreter) the ratio is bit-stable; pin the zlib version in a
    real deployment's image like any other data-affecting dependency."""
    if not 1 <= level <= 9:
        raise ValueError("compression_ratio: level must be in 1..9")
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("n_bytes", T.IntegerType(), False),
            T.StructField("compression_ratio", T.DoubleType(), False),
        ]
    )

    def run(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            # NULL text is skipped (repo convention: JVM twins drop those
            # rows; .encode() on None would raise in the worker — r7 fix)
            pdf = pdf[pdf["text"].notna()]
            if not len(pdf):
                continue
            raw = [t.encode("utf-8") for t in pdf["text"]]
            n = [len(b) for b in raw]
            ratio = [
                round(len(zlib.compress(b, level)) / max(nb, 1), 6)
                for b, nb in zip(raw, n)
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_bytes": n, "compression_ratio": ratio}
            )

    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    ).mapInPandas(run, schema=out_schema)


def top_ngrams(documents: DataFrame, n: int = 2, k: int = 20) -> DataFrame:
    """Corpus-level n-gram frequency table, top-k: the vocabulary /
    boilerplate-detection pass (the grams that dominate a crawl are almost
    always template text — candidates for the line_filter ban list).

    Output: (gram, n_docs, n_occurrences), ordered by occurrences desc with
    a deterministic gram tie-break, limited to k.

    Scale shape: grams form in the scan task via explode(sequence) + slice +
    array_join (codegen — no interpreted transform() lambda, the measured
    HOF trap), the count aggregates map-side before one shuffle on gram, and
    the top-k is TakeOrdered (no global sort).  Distinct-doc counts ride the
    same aggregation via count_distinct."""
    t = F.split(F.lower(F.trim("text")), r"\s+")
    d = documents.select("doc_id", t.alias("t")).filter(F.size("t") >= n)
    grams = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("t") - (n - 1))).alias("pos"),
        "t",
    ).select("doc_id", F.array_join(F.slice("t", F.col("pos"), n), " ").alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(k)
    )
