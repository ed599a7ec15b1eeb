"""Explicit StructType schemas (SURVEY.md §1.3: explicit schemas everywhere)."""

from pyspark.sql import types as T


def local_df(spark, rows, schema: T.StructType | str):
    """createDataFrame via an Arrow table (``schema``: a StructType or DDL):
    Spark plans it as a LocalRelation WITH size statistics, empty or not (a
    python list, or an empty pandas frame, becomes a LogicalRDD whose stats
    are Long.MaxValue), so size-adaptive decisions (the driver-lookup
    regime, link-join regime, canonicalization path) read Catalyst stats
    instead of running ~0.3-0.5 s count jobs."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.table([pa.array(c, f.type) for c, f in zip(columns, arrow_schema)],
                     schema=arrow_schema)
    return spark.createDataFrame(table, schema=schema)


SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

# The input contract (BASELINE.json input_hint) + generator side columns.
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("res_class", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
    ]
)

# Output of the parse stage (P1-P3): one row per list item.
ITEMS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("res_class", T.StringType(), False),
        T.StructField("section_path", T.StringType(), False),
        T.StructField("item_idx", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("item_text", T.StringType(), False),
    ]
)

# Output of the extract stage: candidate triples; subjects that still need the
# linking join carry link_lang/link_surface (sentinel decomposition) plus the
# minted fallback IRI used when the join finds no index row (Bloom false
# positive or stale index) — no sentinel can survive to the output.
CANDIDATES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("obj_dt", T.StringType(), True),
        T.StructField("link_lang", T.StringType(), True),
        T.StructField("link_surface", T.StringType(), True),
        T.StructField("link_fallback", T.StringType(), True),
    ]
)

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("obj_dt", T.StringType(), True),
    ]
)

MENTION_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("lang", T.StringType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("wikidata_uri", T.StringType(), False),
        T.StructField("rank", T.IntegerType(), False),
    ]
)

SAMEAS_SCHEMA = T.StructType(
    [
        T.StructField("wikidata_uri", T.StringType(), False),
        T.StructField("dbpedia_uri", T.StringType(), False),
    ]
)

PAGE_TYPES_SCHEMA = T.StructType(
    [
        T.StructField("resource", T.StringType(), False),
        T.StructField("rdf_type", T.StringType(), False),
    ]
)

REDIRECTS_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n_sections", T.IntegerType(), False),
        T.StructField("n_items", T.IntegerType(), False),
        T.StructField("n_extracted", T.IntegerType(), False),
        T.StructField("n_triples", T.IntegerType(), False),
    ]
)
