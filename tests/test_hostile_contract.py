"""Hostile-input harness for the graded near-dup, winnowing, line-filter,
quality, DSIR and media queries: the sf0.001 contract documents plus
adversarial rows, each query run on Spark and graded against its
oracle_sql() entry the way scripts/check_contract.py grades it (same DuckDB
views, same canon / normalize).  Every Arrow kernel behind these queries
(shingle_hash_stats, minhash_doc_stats, winnow_posting, the DSIR fit and
score passes, the media feature / resize / frame passes) and the JVM line
and quality filters must equal the oracle on NULL, empty and
whitespace-only text, a vertical tab between words, non-BMP and combining
Unicode, boilerplate and whitespace-tail lines, and one large document."""

import importlib.util
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
QUERIES = [
    "dedup_shingle_jaccard",
    "dedup_containment",
    "dedup_minhash_lsh",
    "dedup_resolve_minhash",
    "dedup_corpus_minhash",
    "text_winnow_fingerprint",
    "dedup_winnow_overlap",
    "text_line_filter",
    "text_curate_pipeline",
    "text_quality_filter",
    "text_dsir_score",
    "text_dsir_resample",
    "media_features",
    "media_resize",
    "media_frames",
]
# 15,000 words of the corpus vocabulary (81,696 ASCII chars, 146x the
# largest sf0.001 doc): under quality_filter's 100,000-char cap, so the
# curation chain carries it through the line filter into the minhash dedup,
# and small enough that the pure-Python oracle mirrors (per-gram xxhash64
# and per-shingle murmur3, re-run by several oracles) finish in seconds
LARGE_DOC_WORDS = 15_000

_check_contract_path = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "check_contract.py",
)
_spec = importlib.util.spec_from_file_location("check_contract", _check_contract_path)
check_contract = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_contract)


def _hostile_rows(vocab):
    rng = random.Random(20261019)
    large = " ".join(rng.choice(vocab) for _ in range(LARGE_DOC_WORDS))
    assert len(large) < 100_000
    non_bmp = "𐐀𐐁 deseret 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 words 🎸 rocks the hall. 𐐨 and 🎷 keeps the beat going"
    combining = "café résumé naïve déjà vu encore une fois"
    return [
        (900001, None),
        (900002, ""),
        (900003, "  \t \n  \x0b  "),
        (900004, non_bmp),
        (900005, non_bmp.replace("going", "on")),
        (900006, combining),
        (900007, combining + " ensemble"),
        (900008, "short\nthe quick brown fox jumps high.\n{ bad json }\n"
                 "JAVASCRIPT required here now.\nlorem ipsum dolor sit amet ok."),
        (900009, "one two three four five.\n\n  trailing ws line here ok.  "),
        (900010, "spaces before the end.   \nand tabs after the stop.\t\t"),
        (900011, large),
        (900014, None),  # a NULL video row (doc_id % 3 == 2) for media_frames
        # 900009 with a vertical tab for one space: Java's \s splits on it,
        # so this is 900009's token sequence; RE2's \s does not
        (900015, "one two\x0bthree four five.\n\n  trailing ws line here ok.  "),
    ]


@pytest.fixture(scope="module")
def hostile_sf(tmp_path_factory):
    """(sf_dir, oracle SQL by query name, DuckDB connection, hostile doc
    ids) for a copy of sf0.001 whose documents table carries the hostile
    rows."""
    sf_dir = tmp_path_factory.mktemp("hostile_sf")
    for name in os.listdir(SF):
        if name != "documents.parquet":
            os.symlink(os.path.join(SF, name), sf_dir / name)
    base = pq.read_table(os.path.join(SF, "documents.parquet"))
    vocab = sorted({w for t in base.column("text").to_pylist() for w in t.split()})
    rows = _hostile_rows(vocab)
    extra = pa.table(
        {
            "doc_id": [d for d, _ in rows],
            "text": [t for _, t in rows],
            "lang": ["en"] * len(rows),
            "source": ["hostile"] * len(rows),
            "n_chars": [None if t is None else len(t) for _, t in rows],
        },
        schema=base.schema,
    )
    pq.write_table(pa.concat_tables([base, extra]), sf_dir / "documents.parquet")
    previous = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = str(sf_dir)
    try:
        oracles = entrymod.oracle_sql()
    finally:
        if previous is None:
            del os.environ["SPARK_GRAFT_ORACLE_SF_DIR"]
        else:
            os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = previous
    con = check_contract.duck_views(str(sf_dir))
    yield str(sf_dir), oracles, con, {str(d) for d, _ in rows}
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_graded_query_matches_oracle_on_hostile_rows(spark, hostile_sf, name):
    """Under 2-row Arrow batches (so NULL, empty and large rows meet batch
    boundaries), the Spark query equals its oracle exactly."""
    sf_dir, oracles, con, hostile_ids = hostile_sf
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    previous = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        df = entrymod.queries()[name](spark, sf_dir)
        cols = df.columns
        got = [tuple(r) for r in df.collect()]
    finally:
        spark.conf.set(key, previous)
    want = con.execute(oracles[name]).fetchall()
    want_cols = [d[0] for d in con.description]
    assert sorted(cols) == sorted(want_cols)
    a = check_contract.normalize(got, cols)
    b = check_contract.normalize(want, want_cols)
    assert any(str(v) in hostile_ids for r in got for v in r), name
    spark_only = sorted(set(a) - set(b))[:3]
    oracle_only = sorted(set(b) - set(a))[:3]
    assert a == b, (len(a), len(b), spark_only, oracle_only)
