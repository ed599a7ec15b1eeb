"""Property-based robustness: the extractor primitives and the document
extractor must be total (no crashes) and deterministic over arbitrary text —
at 10^12 documents every weird byte sequence will occur."""

from hypothesis import given, settings, strategies as st

from list_extractor_spark.core import extractors as E
from list_extractor_spark.core.mappers import extract_document

text = st.text(max_size=200)


@settings(max_examples=200, deadline=None)
@given(text)
def test_extractors_total_and_deterministic(s):
    for fn in (
        E.italic_mapper,
        E.reference_mapper,
        E.quote_mapper,
        E.general_mapper,
        E.isbn_mapper,
        E.year_mapper,
        E.month_year_mapper,
        E.bracket_feature_mapper,
        E.list_elem_clean,
    ):
        assert fn(s) == fn(s)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(
                ["section:0", "section:1", "list_item:1", "list_item:2", "text", "media"]
            ),
            st.text(max_size=60),
        ),
        max_size=20,
    ),
    st.sampled_from(["Writer", "Band", "Person", "EducationalInstitution", "Magazine"]),
)
def test_extract_document_total(seq, res_class):
    spans = [(k, t, "", i) for i, (k, t) in enumerate(seq)]
    t1, _ = extract_document("Doc_X", res_class, "en", spans)
    t2, _ = extract_document("Doc_X", res_class, "en", spans)
    assert t1 == t2
    for s, p, o, dt in t1:
        assert isinstance(s, str) and isinstance(p, str) and isinstance(o, str)


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=100))
def test_xxh64_replica_total_and_deterministic(b):
    from list_extractor_spark.fixtures.spark_hash import xxh64_bytes

    v = xxh64_bytes(b, 42)
    assert v == xxh64_bytes(b, 42)
    assert -(1 << 63) <= v < (1 << 63)


def test_xxh64_replica_fuzz_vs_spark(spark):
    """Random unicode strings (hypothesis-free: one DataFrame round-trip
    instead of 300 Spark jobs) must hash identically in the replica."""
    import random

    from pyspark.sql import functions as F

    from list_extractor_spark.fixtures.spark_hash import xxh64_str

    rng = random.Random(7)
    pool = "abc XYZ 0189 \t\n ünïcødé 日本 🎸'\"\\,;"
    strs = ["".join(rng.choice(pool) for _ in range(rng.randrange(0, 80)))
            for _ in range(300)]
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in set(strs):
        assert got[s] == xxh64_str(s), repr(s)


def test_winnow_replica_fuzz_vs_spark(spark):
    """Random whitespace-heavy texts, plus a non-ASCII doc (the per-gram
    hash fallback) and a too-short doc (no full window): Spark
    winnow_posting must equal the pure-python oracle replica (same
    normalize/k-gram/window-min rules)."""
    import random
    import re

    from list_extractor_spark.fixtures.spark_hash import xxh64_str
    from list_extractor_spark.tda.textstats import winnow_posting

    rng = random.Random(11)
    words = ["alpha", "Beta", "GAMMA", "d", "ee", "ffff", "0123", "x,y;z"]
    ws = [" ", "  ", "\t", "\n", " \t "]
    rows = []
    for i in range(40):
        n = rng.randrange(0, 30)
        t = "".join(rng.choice(words) + rng.choice(ws) for _ in range(n))
        rows.append((f"d{i:02d}", t))
    rows += [("nonascii", "café résumé naïve déjà vu encore une fois"),
             ("short", "tiny")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got: dict = {}
    for r in winnow_posting(df, k=8, w=4).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for doc_id, text in rows:
        t = re.sub("[ \t\n\x0b\f\r]+", " ", text.lower())
        want = set()
        if len(t) >= 8:
            hs = [xxh64_str(t[i:i + 8]) for i in range(len(t) - 7)]
            want = {min(hs[i - 3:i + 1]) for i in range(3, len(hs))}
        assert got.get(doc_id, set()) == want, doc_id
    assert got["nonascii"] and "short" not in got


def test_full_pipeline_parity_on_adversarial_corpora(spark):
    """Seeded random corpora of adversarial span text (multi-byte unicode,
    wiki markup fragments, refs, quotes, control-ish whitespace) through the
    FULL Spark pipeline must equal the pure-python oracle exactly — the
    end-to-end guard for Arrow string round-trips and encoding edges."""
    import random

    from list_extractor_spark.engine.pipeline import run_pipeline
    from list_extractor_spark.engine.schemas import DOCUMENTS_SCHEMA
    from list_extractor_spark.fixtures import make_snapshots
    from list_extractor_spark.fixtures.oracle import oracle_triples

    pool = [
        "''Italic Törtel''", "{{Some Ref}}", '"quoted"', "plain words",
        "(1987)", "ünïcødé", "日本語テスト", "🎸 emoji", "&nbsp;", "ISBN 0-306-40615-2",
        "March 1999", "a'postrophe", "semi;colon", "{unbalanced", "}}stray",
        "'''bold'''", "tab\there", "  spaces  ", "for Best Novel", "from Academy",
    ]
    kinds = ["section:0", "section:1", "list_item:1", "list_item:2", "text"]
    classes = ["Writer", "Band", "Actor", "EducationalInstitution", "Person"]
    snaps = make_snapshots()
    for seed in (101, 202, 303):
        rng = random.Random(seed)
        docs = []
        for i in range(10):
            spans = [("section:0", "Works", "", 0)]
            for off in range(1, rng.randrange(2, 14)):
                text = " ".join(rng.choice(pool) for _ in range(rng.randrange(1, 5)))
                spans.append((rng.choice(kinds), text, "", off))
            docs.append({
                "doc_id": f"Fuzz_{seed}_{i}",
                "lang": rng.choice(["en", "it", "de", "es"]),
                "res_class": rng.choice(classes),
                "spans": [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for (k, t, m, o) in spans
                ],
            })
        rows = [
            (d["doc_id"], d["lang"], d["res_class"],
             [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
            for d in docs
        ]
        df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
        got = {
            (r["subj"], r["pred"], r["obj"], r["obj_dt"])
            for r in run_pipeline(spark, df, snaps).collect()
        }
        want = oracle_triples(docs, snaps)
        assert got == want, (seed, sorted(got ^ want)[:5])
