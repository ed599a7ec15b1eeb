"""PII redaction (tda/redact.py) and DSIR importance scoring
(tda/retrieval.dsir_logweights) unit tests: category semantics, ordering
ambiguity resolution, narrow-plan guarantees, a pure-python DSIR replica
parity check, and partitioning-independence of the decimal-summed score."""

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from list_extractor_spark.tda.redact import PII_PATTERNS, redact_pii
from list_extractor_spark.tda.retrieval import _java_ws_tokens, dsir_logweights


def _redact(spark, text):
    df = spark.createDataFrame([("d", text)], "doc_id string, text string")
    return redact_pii(df).collect()[0]


class TestRedactPII:
    def test_all_categories(self, spark):
        row = _redact(
            spark,
            "mail a.b+c@x.co.uk call 555-867-5309 or 555.867.5309 "
            "ssn 123-45-6789 host 192.168.0.1 done",
        )
        assert row.text == (
            "mail <EMAIL> call <PHONE> or <PHONE> "
            "ssn <ID> host <IP> done"
        )
        assert (row.n_email, row.n_ssn, row.n_phone, row.n_ipv4) == (1, 1, 2, 1)
        assert row.n_pii == 5

    def test_dotted_phone_not_counted_as_ip(self, spark):
        # 555.867.5309 has three dot groups -> never matches the 4-group
        # IPv4 pattern; the declaration order (phone before ipv4) plus the
        # shape disjointness keeps the categories exclusive
        row = _redact(spark, "call 555.867.5309 now")
        assert row.text == "call <PHONE> now"
        assert (row.n_phone, row.n_ipv4) == (1, 0)

    def test_ssn_phone_shapes_disjoint(self, spark):
        # 3-2-4 is an ID, 3-3-4 is a phone; neither pattern matches the other
        row = _redact(spark, "123-45-6789 then 123-456-7890")
        assert row.text == "<ID> then <PHONE>"
        assert (row.n_ssn, row.n_phone) == (1, 1)

    def test_word_boundaries_guard_digit_runs(self, spark):
        # an id-shaped substring INSIDE a longer digit run must not match
        row = _redact(spark, "serial 9123-45-67890 stays")
        assert row.text == "serial 9123-45-67890 stays"
        assert row.n_pii == 0

    def test_clean_text_unchanged(self, spark):
        row = _redact(spark, "no pii here at all")
        assert row.text == "no pii here at all"
        assert row.n_pii == 0

    def test_extra_columns_preserved(self, spark):
        df = spark.createDataFrame(
            [("d", "x@y.io", "en")], "doc_id string, text string, lang string"
        )
        row = redact_pii(df).collect()[0]
        assert row.lang == "en" and row.text == "<EMAIL>"

    def test_plan_is_narrow_and_jvm_only(self, spark):
        df = spark.createDataFrame(
            [("d", "x@y.io")], "doc_id string, text string"
        )
        plan = redact_pii(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_patterns_re2_safe(self):
        # the portability contract: no lookarounds/backrefs/\d shorthands,
        # which RE2 (DuckDB/Go oracles) would reject or read differently
        for _, pat, _ in PII_PATTERNS:
            assert "(?<" not in pat and "(?=" not in pat and "(?!" not in pat
            assert "\\d" not in pat and "\\w" not in pat


def _py_dsir(docs, targets, n_buckets, tokenize=lambda t: t.strip().lower().split()):
    """Pure-python replica of dsir_logweights (md5 buckets, Laplace
    log-ratio, 12-dp HALF_UP partials summed exactly, 6-dp final)."""

    def grams(text):
        ts = tokenize(text)
        return ts + [f"{a} {b}" for a, b in zip(ts, ts[1:])]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:4], 16) % n_buckets

    def rhu(x, nd):
        return Decimal(repr(x)).quantize(
            Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP
        )

    raw, tgt = {}, {}
    per_doc = {}
    for doc_id, text in docs.items():
        counts = {}
        for g in grams(text):
            b = bucket(g)
            counts[b] = counts.get(b, 0) + 1
            raw[b] = raw.get(b, 0) + 1
            if doc_id in targets:
                tgt[b] = tgt.get(b, 0) + 1
        per_doc[doc_id] = counts
    q_total, p_total = sum(raw.values()), sum(tgt.values())
    out = {}
    for doc_id, counts in per_doc.items():
        acc = Decimal(0)
        for b, c in counts.items():
            lr = math.log((tgt.get(b, 0) + 1) / (p_total + n_buckets)) - math.log(
                (raw[b] + 1) / (q_total + n_buckets)
            )
            acc += c * rhu(lr, 12)  # per-OCCURRENCE decimal partial
        out[doc_id] = (sum(counts.values()), float(rhu(float(acc), 6)))
    return out


DSIR_DOCS = {
    "t1": "the quick brown fox jumps over the lazy dog",
    "t2": "the quick brown fox likes the quick brown wolf",
    "r1": "spark shuffle partitions broadcast join skew salt",
    "r2": "parquet scan pushdown predicate column pruning stats",
    "r3": "the quick brown fox sat on a parquet scan",
}


class TestDSIR:
    @pytest.fixture(scope="class")
    def scored(self, spark):
        df = spark.createDataFrame(
            [(k, v, k.startswith("t")) for k, v in DSIR_DOCS.items()],
            "doc_id string, text string, is_tgt boolean",
        )
        rows = dsir_logweights(df, F.col("is_tgt"), n_buckets=512).collect()
        return {r.doc_id: (r.n_feats, r.dsir_logweight) for r in rows}

    def test_matches_python_replica(self, scored):
        expected = _py_dsir(DSIR_DOCS, {"t1", "t2"}, 512)
        assert scored == expected

    def test_arrow_equals_jvm_on_whitespace_edges(self, spark):
        # the score pass re-derives Spark's split(lower(trim(text)), '\s+')
        # in python; its tokens must equal the Spark expression's on the
        # edges (trim strips 0x20 only, a leading tab keeps an empty first
        # token, a trailing separator an empty last one, empty text
        # tokenizes to [''], runs collapse), and the scores must equal the
        # replica fed Spark's own tokens
        docs = [
            ("a", "Plain Words Here", True),
            ("b", "  padded  with   runs  ", False),
            ("c", "\tleading tab", False),
            ("d", "trailing tab\t", True),
            ("e", "", False),
            ("f", "   ", True),
            ("g", "one", False),
            ("h", "A\tB\nC\fD\x0bE\rF", False),
            ("i", "MiXeD CaSe MiXeD CaSe", True),
        ]
        df = spark.createDataFrame(
            docs, "doc_id string, text string, is_tgt boolean"
        )
        jvm_tokens = {
            r.text: r.ts
            for r in df.select(
                "text", F.split(F.lower(F.trim("text")), r"\s+").alias("ts")
            ).collect()
        }
        assert {t: _java_ws_tokens(t) for _, t, _ in docs} == jvm_tokens
        got = {
            r.doc_id: (r.n_feats, r.dsir_logweight)
            for r in dsir_logweights(df, F.col("is_tgt"), n_buckets=64).collect()
        }
        want = _py_dsir(
            {d: t for d, t, _ in docs},
            {d for d, _, tgt in docs if tgt},
            64,
            tokenize=jvm_tokens.__getitem__,
        )
        assert got == want
        assert len(got) == len(docs)

    def test_null_text_drops_doc_both_strategies(self, spark):
        # the name predates the deleted JVM form; the Arrow form is the one
        df = spark.createDataFrame(
            [("a", "some text", True), ("b", None, False)],
            "doc_id string, text string, is_tgt boolean",
        )
        got = dsir_logweights(df, F.col("is_tgt"), n_buckets=64).collect()
        assert [r.doc_id for r in got] == ["a"]

    def test_arrow_score_pass_has_zero_exchanges(self, spark):
        # the 100-TB claim: nothing corpus-sized ever shuffles — the score
        # pass is mapInPandas straight over the scan
        df = spark.createDataFrame(
            [(k, v, k.startswith("t")) for k, v in DSIR_DOCS.items()],
            "doc_id string, text string, is_tgt boolean",
        )
        plan = (
            dsir_logweights(df, F.col("is_tgt"), n_buckets=512)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, plan

    def test_target_docs_score_higher(self, scored):
        # target cohort strictly above every raw-only doc (log-weights are
        # unnormalized per-doc sums, faithful to the paper — so the mixed
        # doc r3 only beats the off-domain doc of the SAME length, r2's
        # 13-feat score isn't comparable to r3's 17-feat one directly)
        t = min(scored[d][1] for d in ("t1", "t2"))
        assert t > max(scored[d][1] for d in ("r1", "r2", "r3"))
        assert scored["r3"][1] > scored["r2"][1]

    def test_feature_counts(self, scored):
        # n_feats = unigrams + bigrams = 2 * len - 1
        for d, text in DSIR_DOCS.items():
            assert scored[d][0] == 2 * len(text.split()) - 1

    def test_partitioning_independent(self, spark):
        df = spark.createDataFrame(
            [(k, v, k.startswith("t")) for k, v in DSIR_DOCS.items()],
            "doc_id string, text string, is_tgt boolean",
        )
        a = {
            r.doc_id: r.dsir_logweight
            for r in dsir_logweights(
                df.repartition(1), F.col("is_tgt"), n_buckets=512
            ).collect()
        }
        b = {
            r.doc_id: r.dsir_logweight
            for r in dsir_logweights(
                df.repartition(7), F.col("is_tgt"), n_buckets=512
            ).collect()
        }
        assert a == b

    def test_resample_matches_python_replica(self, spark):
        from list_extractor_spark.tda.retrieval import dsir_resample

        df = spark.createDataFrame(
            [(k, v, k.startswith("t")) for k, v in DSIR_DOCS.items()],
            "doc_id string, text string, is_tgt boolean",
        )
        got = [
            (r.doc_id, r.dsir_logweight, r.gumbel_key)
            for r in dsir_resample(
                df, F.col("is_tgt"), n_keep=3, n_buckets=512
            ).collect()
        ]

        def rhu(x, nd):
            return Decimal(repr(x)).quantize(
                Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP
            )

        scored = _py_dsir(DSIR_DOCS, {"t1", "t2"}, 512)
        keyed = []
        for d, (_, lw) in scored.items():
            h32 = int(hashlib.md5(d.encode()).hexdigest()[:8], 16)
            u = (h32 + 0.5) / float(1 << 32)
            key = float(rhu(lw / 1.0 + -math.log(-math.log(u)), 6))
            keyed.append((d, lw, key))
        keyed.sort(key=lambda t: (-t[2], t[0]))
        assert got == keyed[:3]

    def test_resample_deterministic_and_validated(self, spark):
        from list_extractor_spark.tda.retrieval import dsir_resample

        df = spark.createDataFrame(
            [(k, v, k.startswith("t")) for k, v in DSIR_DOCS.items()],
            "doc_id string, text string, is_tgt boolean",
        )
        a = dsir_resample(df, F.col("is_tgt"), n_keep=2, n_buckets=512)
        b = dsir_resample(
            df.repartition(5), F.col("is_tgt"), n_keep=2, n_buckets=512
        )
        assert a.collect() == b.collect()
        with pytest.raises(ValueError):
            dsir_resample(df, F.col("is_tgt"), n_keep=0)
        with pytest.raises(ValueError):
            dsir_resample(df, F.col("is_tgt"), n_keep=1, temperature=0.0)

    def test_n_buckets_validated(self, spark):
        df = spark.createDataFrame(
            [("d", "x", True)], "doc_id string, text string, is_tgt boolean"
        )
        with pytest.raises(ValueError):
            dsir_logweights(df, F.col("is_tgt"), n_buckets=1 << 17)
