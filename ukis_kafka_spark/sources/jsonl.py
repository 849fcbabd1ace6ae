"""Text source-format parity — JSONL and CSV (reference R1 theme: the
producer reads many vector formats; this proves the engine's *tabular*
multi-format story): the events table re-materialized as JSON Lines /
CSV, read back through the corresponding Spark source with an explicit
schema, and aggregated — the result must equal aggregating the parquet
original.

The text copies are pure functions of the input table, so they live in
the same build-once cache the streaming replay uses (one write per
corpus, not one per run).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from ..cache import cache_publish, table_fingerprint

_JSON_SCHEMA = "event_id long, user_id long, event_type string, value double"


@query(
    "src_jsonl_roundtrip",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS value_sum,
       min(event_id) AS min_id,
       max(event_id) AS max_id
FROM events
GROUP BY event_type
""",
)
def src_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet → JSONL text → JSON source → aggregate. Jackson emits
    shortest-repr doubles and parses them back exactly (lossless for
    IEEE doubles), and the value sum goes through the exact-decimal
    route, so the JSON path must reproduce the parquet numbers
    bit-for-bit. ts is excluded (nanosecond timestamps do not survive
    JSON's millisecond text form — documented precision boundary)."""

    def build(into: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type", "value")
            .write.mode("overwrite")
            .json(os.path.join(into, "jsonl"))
        )

    src = os.path.join(
        cache_publish(build, ("jsonl", 2, table_fingerprint(sf_dir))), "jsonl"
    )
    back = spark.read.schema(_JSON_SCHEMA).json(src)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,10)")).cast("double").alias("value_sum"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@query(
    "src_csv_roundtrip",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS value_sum,
       min(event_id) AS min_id,
       max(event_id) AS max_id
FROM events
GROUP BY event_type
""",
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet → CSV text (header, quoted strings) → CSV source →
    aggregate. Same lossless-double + exact-decimal argument as the
    JSONL twin; additionally exercises CSV quoting (the props JSON blob
    round-trips inside a quoted field) and header-driven column order.
    """

    def build(into: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type", "value", "props")
            .write.mode("overwrite")
            .option("header", "true")
            .csv(os.path.join(into, "csv"))
        )

    src = os.path.join(
        cache_publish(build, ("csv", 2, table_fingerprint(sf_dir))), "csv"
    )
    back = spark.read.schema(
        "event_id long, user_id long, event_type string, value double, props string"
    ).option("header", "true").csv(src)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,10)")).cast("double").alias("value_sum"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@query(
    "src_orc_roundtrip",
    oracle="""
SELECT lang, source,
       count(*) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id
FROM documents
GROUP BY lang, source
""",
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet → ORC → ORC source → aggregate. ORC is the other
    columnar interchange format a lake-side engine must speak (Hive
    ecosystems); Spark's writer/reader are native JVM and preserve
    longs/strings exactly, so the round-trip aggregate equals the
    parquet-side oracle. The converted copy is built once per corpus
    fingerprint into the shared cache."""

    def build(into: str) -> None:
        (
            load_table(spark, sf_dir, "documents")
            .write.mode("overwrite")
            .orc(os.path.join(into, "orc"))
        )

    src = os.path.join(
        cache_publish(build, ("orc", 2, table_fingerprint(sf_dir, "documents"))), "orc"
    )
    back = spark.read.orc(src)
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@query(
    "src_binaryfile",
    oracle="""
SELECT doc_id, n_chars AS byte_len, sha256(text) AS content_sha
FROM documents
WHERE doc_id < 200
""",
)
def src_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary ingestion via Spark's `binaryFile` source — the
    entry point of the multimodal story (image/audio payloads arrive
    as files; the engine lifts them to (path, length, content) rows).
    Fixture: the first 200 documents are materialized once into the
    build-once cache as doc_<id>.bin files (ASCII text, so bytes ==
    chars); the query reads them back through binaryFile, recovers the
    id from the filename, and proves payload integrity byte-for-byte
    via length + SHA-256 against the parquet-side oracle. At scale the
    same reader handles real media blobs; only the downstream decoder
    (ml/multimodal.py) changes."""

    def build(into: str) -> None:
        rows = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 200)
            .select("doc_id", "text")
            .collect()
        )
        bdir = os.path.join(into, "bin")
        os.makedirs(bdir, exist_ok=True)
        for r in rows:
            with open(os.path.join(bdir, f"doc_{r['doc_id']:06d}.bin"), "wb") as fh:
                fh.write(r["text"].encode("ascii"))

    src = os.path.join(
        cache_publish(build, ("binfiles", 2, table_fingerprint(sf_dir, "documents"))), "bin"
    )
    back = spark.read.format("binaryFile").load(src)
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1).cast("long").alias("doc_id"),
        F.col("length").alias("byte_len"),
        F.lower(F.sha2(F.col("content"), 256)).alias("content_sha"),
    )


@query(
    "src_partitioned_prune",
    oracle="""
SELECT source,
       count(*) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_id
FROM documents
WHERE lang IN ('de', 'fr')
GROUP BY source
""",
)
def src_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned dataset + partition pruning: the corpus
    is re-materialized once, partitioned by lang (lang=en/, lang=de/,
    ...), and the query's lang filter must be satisfied by DIRECTORY
    pruning — the scan plans PartitionFilters and never opens the
    other languages' files. This is the 100 TB table layout story:
    partition columns turn predicates into skipped I/O before any row
    is read. tests/test_plans.py pins the PartitionFilters line."""

    def build(into: str) -> None:
        (
            load_table(spark, sf_dir, "documents")
            .write.mode("overwrite")
            .partitionBy("lang")
            .parquet(os.path.join(into, "bylang"))
        )

    src = os.path.join(
        cache_publish(build, ("bylang", 2, table_fingerprint(sf_dir, "documents"))), "bylang"
    )
    back = spark.read.parquet(src)
    return (
        back.where(F.col("lang").isin("de", "fr"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_id"),
        )
    )


@query(
    "src_text_lines",
    oracle="""
SELECT event_type, count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id
FROM events
GROUP BY event_type
""",
)
def src_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-line source: the same JSONL corpus read as
    spark.read.text (one string column per line — the entry point for
    any line-oriented custom format), fields then pulled JVM-side with
    get_json_object. Covers the text source + in-plan JSON path
    extraction combination; ids are exact integers so the aggregate
    needs no decimal route."""

    def build(into: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type", "value")
            .write.mode("overwrite")
            .json(os.path.join(into, "jsonl"))
        )

    src = os.path.join(
        cache_publish(build, ("jsonl", 2, table_fingerprint(sf_dir))), "jsonl"
    )
    lines = spark.read.text(src)
    parsed = lines.select(
        F.get_json_object("value", "$.event_id").cast("long").alias("event_id"),
        F.get_json_object("value", "$.event_type").alias("event_type"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@query(
    "src_fixed_width",
    oracle="""
SELECT o_orderstatus,
       count(*) AS n,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(28,10)) * 1000000 AS BIGINT))
            AS BIGINT) AS price_micro_sum,
       min(o_orderkey) AS min_id,
       max(o_orderkey) AS max_id
FROM orders
GROUP BY o_orderstatus
""",
)
def src_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text source (COBOL/mainframe copybook layout — the
    format enterprise batch feeds still arrive in, which Spark has no
    native reader for): orders are rendered to a fixed-column layout
    (orderkey 12 / custkey 12 / status 1 / totalprice-in-micros 20 /
    orderdate 10, all zero-padded numerics via format_string), read
    back as ONE text column, and the fields are sliced out with pure
    JVM substring+cast — the column-pruned, codegen'd way to parse a
    positional format (never a per-row Python splitter).  Price rides
    as integer MICRO-units in the wire format, so the round-trip is
    exact and the decimal-sum rule is respected end-to-end.  Scale:
    the render is one narrow map done once into the build-once cache;
    the read is a plain text scan that parallelizes by line split."""

    def build(into: str) -> None:
        (
            load_table(spark, sf_dir, "orders")
            .select(
                F.format_string(
                    "%012d%012d%1s%020d%10s",
                    F.col("o_orderkey"),
                    F.col("o_custkey"),
                    F.col("o_orderstatus"),
                    (F.col("o_totalprice").cast("decimal(28,10)") * 1_000_000)
                    .cast("bigint"),
                    F.col("o_orderdate").cast("string"),
                ).alias("value")
            )
            .write.mode("overwrite")
            .text(os.path.join(into, "fw"))
        )

    src = os.path.join(
        cache_publish(build, ("fixedwidth", 1, table_fingerprint(sf_dir))), "fw"
    )
    lines = spark.read.text(src)
    parsed = lines.select(
        F.substring("value", 1, 12).cast("long").alias("o_orderkey"),
        F.substring("value", 25, 1).alias("o_orderstatus"),
        F.substring("value", 26, 20).cast("long").alias("price_micro"),
    )
    return parsed.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price_micro").alias("price_micro_sum"),
        F.min("o_orderkey").alias("min_id"),
        F.max("o_orderkey").alias("max_id"),
    )


@query(
    "src_xml_roundtrip",
    oracle="""
SELECT s_nationkey,
       count(*) AS n,
       CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS bal_sum,
       min(s_suppkey) AS min_id,
       max(s_suppkey) AS max_id
FROM supplier
GROUP BY s_nationkey
""",
)
def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet → XML → XML source → aggregate.  Spark 4 ships the
    (formerly external) XML data source built in; enterprise feeds
    still arrive as XML and a lake engine must ingest them natively
    rather than via driver-side parsing.  The writer escapes markup in
    string fields and `Double.toString` emits the shortest exact
    representation, so reading back with an explicit schema is
    lossless and the round-trip aggregate hash-matches the parquet
    oracle (decimal-sum rule for the balance).  The XML copy is built
    once per corpus fingerprint into the shared cache; the read is a
    distributed file scan like any other source (one task per file
    split, no driver parsing)."""

    def build(into: str) -> None:
        (
            load_table(spark, sf_dir, "supplier")
            .write.mode("overwrite")
            .option("rootTag", "suppliers")
            .option("rowTag", "supplier")
            .format("xml")
            .save(os.path.join(into, "xml"))
        )

    src = os.path.join(
        cache_publish(build, ("xml", 1, table_fingerprint(sf_dir, "supplier"))), "xml"
    )
    back = (
        spark.read.schema(
            "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
        )
        .option("rowTag", "supplier")
        .format("xml")
        .load(src)
    )
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("s_acctbal").cast("decimal(28,10)")).cast("double").alias("bal_sum"),
        F.min("s_suppkey").alias("min_id"),
        F.max("s_suppkey").alias("max_id"),
    )


@query(
    "src_schema_evolve",
    oracle="""
SELECT lang,
       count(*) AS n,
       count(CASE WHEN doc_id % 3 = 0 THEN 1 END) AS n_with_quality,
       CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN n_chars % 7 END) AS BIGINT) AS quality_sum
FROM documents
GROUP BY lang
""",
)
def src_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (``mergeSchema``): an old writer produced
    (doc_id, lang, n_chars); a newer one added a ``quality`` column.
    Reading the union of both generations must widen to the superset
    schema with NULLs for pre-evolution files — the everyday lake
    situation after any additive schema change.  The aggregate proves
    the merged read: every doc appears once, quality exists exactly on
    new-generation rows.  Footer merging is a driver-side metadata
    operation over file footers, not a data pass; the scan itself
    stays fully parallel, so evolution costs nothing at 100 TB."""

    def build(into: str) -> None:
        d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
        d.where(F.col("doc_id") % 3 != 0).write.mode("overwrite").parquet(
            os.path.join(into, "gen1")
        )
        (
            d.where(F.col("doc_id") % 3 == 0)
            .withColumn("quality", (F.col("n_chars") % 7).cast("long"))
            .write.mode("overwrite")
            .parquet(os.path.join(into, "gen2"))
        )

    base = cache_publish(build, ("schema_evolve", 1, table_fingerprint(sf_dir, "documents")))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen1"), os.path.join(base, "gen2")
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("quality").alias("n_with_quality"),
        F.sum("quality").alias("quality_sum"),
    )


@query(
    "src_csv_malformed",
    oracle="""
SELECT event_type,
       count(*) AS n_rows,
       count(CASE WHEN event_id % 13 = 0 THEN 1 END) AS n_corrupt,
       CAST(CAST(SUM(CASE WHEN event_id % 13 <> 0
                          THEN CAST(value AS DECIMAL(28,10)) END) AS VARCHAR) AS DOUBLE) AS good_sum
FROM events
GROUP BY event_type
""",
)
def src_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust CSV ingestion under PERMISSIVE mode: a feed where every
    13th record carries an unparseable numeric field must load WITHOUT
    failing the job — the malformed field comes back NULL, the raw
    line is preserved in the corrupt-record column for quarantine, and
    every well-formed column of the bad row still parses.  Real feeds
    are never clean; an engine that dies on row 4 billion of a 100 TB
    load (ANSI/FAILFAST behavior) is unusable for ingest, so this pins
    the quarantine path.  The corrupted copy is built once per corpus
    fingerprint; the audit aggregate (rows, corrupt rows, sum of
    parseable values) is driven entirely by the deterministic
    corruption rule, which the oracle mirrors from the clean table."""

    def build(into: str) -> None:
        e = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        line = F.concat_ws(
            ",",
            F.col("event_id"),
            F.col("user_id"),
            F.col("event_type"),
            F.when(F.col("event_id") % 13 == 0, F.lit("NOT_A_NUMBER")).otherwise(
                F.col("value").cast("string")
            ),
        )
        e.select(line.alias("value")).write.mode("overwrite").text(
            os.path.join(into, "csv_bad")
        )

    src = os.path.join(
        cache_publish(build, ("csv_bad", 1, table_fingerprint(sf_dir))), "csv_bad"
    )
    back = (
        spark.read.schema(
            "event_id long, user_id long, event_type string, value double, _bad string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(src)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("_bad").isNotNull(), 1)).alias("n_corrupt"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("value").cast("decimal(28,10)")))
        .cast("double")
        .alias("good_sum"),
    )


@query(
    "src_json_nested",
    oracle="""
SELECT s_nationkey,
       count(*) AS n,
       CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS bal_sum,
       max(s_name) AS max_name
FROM supplier
GROUP BY s_nationkey
""",
)
def src_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON ingestion: suppliers are written as documents with a
    nested object ({"id": …, "org": {"name": …, "nation": …},
    "account": {"balance": …}}), read back with an explicit nested
    StructType, and flattened with dotted field paths — the
    schema-on-read shape for API payloads and document stores.  Struct
    field access is a zero-cost projection in Spark (no shuffle, no
    parsing beyond the scan), and numeric fidelity survives the JSON
    round-trip (shortest-repr doubles), so the flattened aggregate
    hash-matches the flat-table oracle."""

    def build(into: str) -> None:
        s = load_table(spark, sf_dir, "supplier")
        nested = s.select(
            F.col("s_suppkey").alias("id"),
            F.struct(
                F.col("s_name").alias("name"), F.col("s_nationkey").alias("nation")
            ).alias("org"),
            F.struct(F.col("s_acctbal").alias("balance")).alias("account"),
        )
        nested.write.mode("overwrite").json(os.path.join(into, "nested"))

    src = os.path.join(
        cache_publish(build, ("json_nested", 1, table_fingerprint(sf_dir, "supplier"))),
        "nested",
    )
    back = spark.read.schema(
        "id long, org struct<name: string, nation: int>, account struct<balance: double>"
    ).json(src)
    flat = back.select(
        F.col("org.nation").alias("s_nationkey"),
        F.col("org.name").alias("s_name"),
        F.col("account.balance").alias("s_acctbal"),
    )
    return flat.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("s_acctbal").cast("decimal(28,10)")).cast("double").alias("bal_sum"),
        F.max("s_name").alias("max_name"),
    )

@query(
    "src_parquet_bloom",
    oracle="""
SELECT c_custkey, c_name, c_nationkey,
       CAST(CAST(CAST(c_acctbal AS DECIMAL(28,10)) AS VARCHAR) AS DOUBLE) AS acctbal
FROM customer
WHERE c_name IN ('Customer#000000042', 'Customer#000000007', 'Customer#000000123')
""",
)
def src_parquet_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet bloom-filter point lookup: the customer table rewritten
    with a bloom filter on c_name and read back through an IN-list of
    exact names — the needle-in-haystack access pattern blooms exist
    for (high-cardinality unsorted keys where min/max stats prune
    nothing; at 100 TB the filter is what lets the scan skip the row
    groups that can't contain the needles).  Dictionary encoding is
    disabled for the bloom column in the write: parquet-mr refuses to
    emit a bloom for a fully dictionary-encoded column (the dictionary
    already IS an exact membership structure), and at real scale the
    key column blows past the dictionary-page budget anyway — the
    local write forces that regime so the test can pin the filter's
    physical presence (bloomed bytes > plain bytes, same rows).  The
    oracle proves the filtered read is lossless."""

    def build(into: str) -> None:
        (
            load_table(spark, sf_dir, "customer")
            .write.mode("overwrite")
            .option("parquet.enable.dictionary#c_name", "false")
            .option("parquet.bloom.filter.enabled#c_name", "true")
            .option("parquet.bloom.filter.expected.ndv#c_name", "16384")
            .parquet(os.path.join(into, "cust_bloom"))
        )

    src = os.path.join(
        cache_publish(build, ("parquet_bloom", 2, table_fingerprint(sf_dir, "customer"))),
        "cust_bloom",
    )
    needles = ["Customer#000000042", "Customer#000000007", "Customer#000000123"]
    back = spark.read.parquet(src).where(F.col("c_name").isin(needles))
    return back.select(
        "c_custkey", "c_name", "c_nationkey",
        F.col("c_acctbal").cast("decimal(28,10)").cast("double").alias("acctbal"),
    )


_META_RG_ROWS = 10_000


@query(
    "src_parquet_meta",
    oracle=f"""
SELECT rg, count(*) AS rg_rows,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM (
  SELECT o_orderkey,
         (row_number() OVER (ORDER BY o_orderkey) - 1) // {_META_RG_ROWS} AS rg
  FROM orders
) GROUP BY rg
""",
)
def src_parquet_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed parquet FOOTER scan: orders is rewritten (build-once
    cache) as a single file sorted by o_orderkey with exactly
    10,000-row row groups, then a binaryFile + mapInPandas
    pass parses each file's footer with pyarrow and emits one row per
    row group — index, row count, and the o_orderkey min/max straight
    from the column-chunk STATISTICS, no data pages read.

    The oracle reconstructs the same layout relationally (sorted
    row_number slices), so a hash match proves the footer metadata the
    planner would prune on (rows + exact int stats) is faithful to
    the data.  This is the scan-planning primitive behind row-group
    pruning at 100 TB: the footer pass moves kilobytes per file while
    the data stays cold, and mapInPandas parallelizes it across
    whatever file inventory the lake holds.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(into: str) -> None:
        rows = (
            load_table(spark, sf_dir, "orders")
            .orderBy("o_orderkey")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .toPandas()
        )
        os.makedirs(os.path.join(into, "orders_rg"), exist_ok=True)
        pq.write_table(
            pa.Table.from_pandas(rows, preserve_index=False),
            os.path.join(into, "orders_rg", "orders.parquet"),
            row_group_size=_META_RG_ROWS,
        )

    src = os.path.join(
        cache_publish(build, ("parquet_meta", 1, table_fingerprint(sf_dir, "orders"))),
        "orders_rg",
    )

    def parse_footers(batches):
        import pandas as pd
        import pyarrow as pa_w
        import pyarrow.parquet as pq_w

        for pdf in batches:
            out = {"rg": [], "rg_rows": [], "min_key": [], "max_key": []}
            for content in pdf["content"]:
                meta = pq_w.ParquetFile(pa_w.BufferReader(content)).metadata
                key_idx = next(
                    i for i in range(meta.num_columns)
                    if meta.row_group(0).column(i).path_in_schema == "o_orderkey"
                )
                for rg in range(meta.num_row_groups):
                    stats = meta.row_group(rg).column(key_idx).statistics
                    out["rg"].append(rg)
                    out["rg_rows"].append(meta.row_group(rg).num_rows)
                    out["min_key"].append(stats.min)
                    out["max_key"].append(stats.max)
            yield pd.DataFrame(out)

    files = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.parquet"
    ).load(src)
    return files.mapInPandas(
        parse_footers, "rg bigint, rg_rows bigint, min_key bigint, max_key bigint"
    )


@query(
    "src_gzip_text",
    oracle="""
SELECT event_type, count(*) AS n,
       CAST(SUM(user_id) AS BIGINT) AS uid_sum,
       max(event_id) AS max_id
FROM events
GROUP BY event_type
""",
)
def src_gzip_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed JSONL ingestion: the corpus is re-materialized
    once as .json.gz shards and read back through the text source's
    transparent codec path.  The scale lesson is encoded in the
    BUILD, not worked around in the read: gzip is a NON-SPLITTABLE
    codec, so one .gz file = one task regardless of its size — the
    writer therefore repartitions to many small shards first (here 8;
    at 100 TB, thousands), which is exactly how real gzip feeds must
    land to parallelize.  Field extraction stays JVM-side
    (get_json_object), ids are exact integers."""

    def build(into: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type")
            .repartition(8)
            .write.mode("overwrite")
            .option("compression", "gzip")
            .json(os.path.join(into, "gzjson"))
        )

    src = os.path.join(
        cache_publish(build, ("gzjson", 1, table_fingerprint(sf_dir))), "gzjson"
    )
    lines = spark.read.text(src)
    parsed = lines.select(
        F.get_json_object("value", "$.event_id").cast("long").alias("event_id"),
        F.get_json_object("value", "$.user_id").cast("long").alias("user_id"),
        F.get_json_object("value", "$.event_type").alias("event_type"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").alias("uid_sum"),
        F.max("event_id").alias("max_id"),
    )


@query(
    "src_glob_recursive",
    oracle="""
SELECT count(*) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id
FROM documents
""",
)
def src_glob_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive file discovery over an arbitrarily nested layout:
    the corpus lands in lang=<x>/source=<y>/ subtrees (the directory
    shape external dumps arrive in), then is read back with
    ``recursiveFileLookup`` + ``pathGlobFilter`` — the mode that
    treats the tree as a flat bag of matching files and does NOT
    parse directory names as partition columns (the complement of
    src_partitioned_prune).  The audit covers every leaf: a file
    missed by discovery or double-matched by the glob shifts the
    count/extent aggregate.  Scale: discovery is a driver-side
    filesystem listing (parallelized via the InMemoryFileIndex for
    large trees); the scan itself parallelizes per file split as
    usual."""

    def build(into: str) -> None:
        (
            load_table(spark, sf_dir, "documents")
            .write.mode("overwrite")
            .partitionBy("lang", "source")
            .parquet(os.path.join(into, "tree"))
        )

    src = os.path.join(
        cache_publish(build, ("tree", 1, table_fingerprint(sf_dir, "documents"))),
        "tree",
    )
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@query(
    "src_wholetext",
    oracle="""
SELECT count(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id
FROM documents
WHERE doc_id % 11 = 0
""",
)
def src_wholetext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file text ingestion (``option("wholetext", true)``): each
    file becomes ONE row regardless of newlines — the mode that
    ingests file-per-document corpora (the common crawl-dump layout)
    where line-oriented splitting (src_text_lines) would shred
    records.  A deterministic doc panel is materialized one file per
    document, read back whole, and audited by id + exact char mass
    recovered from the file NAME and BODY respectively — a file
    half-read or split in two breaks the hash.  Scale: one task per
    file; tiny-file overhead is real at 100 TB, which is why
    sink_compact exists — wholetext is the INGEST edge, not the
    storage format."""

    def build(into: str) -> None:
        tgt = os.path.join(into, "docs_txt")
        os.makedirs(tgt, exist_ok=True)
        rows = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 11 == 0)
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            with open(os.path.join(tgt, f"doc_{r.doc_id:08d}.txt"), "w") as fh:
                fh.write(r.text)

    src = os.path.join(
        cache_publish(build, ("docs_txt", 1, table_fingerprint(sf_dir, "documents"))),
        "docs_txt",
    )
    back = (
        spark.read.option("wholetext", "true")
        .text(src)
        .withColumn("path", F.col("_metadata.file_name"))
    )
    parsed = back.select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        F.length("value").alias("n_chars"),
    )
    return parsed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@query(
    "src_gpkg_roundtrip",
    oracle="""
SELECT s_nationkey AS nationkey,
       count(*) AS n,
       min(s_suppkey) AS min_id,
       max(s_suppkey) AS max_id,
       CAST(SUM(s_nationkey) AS BIGINT) AS lon_sum,
       31467 AS srid
FROM supplier
GROUP BY s_nationkey
""",
)
def src_gpkg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoPackage ingestion parity (the producer CLI's fourth vector
    format, reference R1): suppliers are written into a REAL .gpkg
    (sources.gpkg — SQLite + GeoPackageBinary-wrapped WKB, pure
    stdlib), read back through read_gpkg, published to an envelope
    topic, and the DISTRIBUTED half decodes the envelopes and
    aggregates per nation — coordinates travel gpkg blob → WKB →
    msgpack envelope → Arrow and must come back exact (lon is the
    integer-valued nation key).  The gpkg build + produce is the
    driver-side fixture (build-once cache, same posture as the other
    producer formats); the topic scan, decode kernel and aggregate are
    the at-scale path.  The layer's SRS id (31467) must survive the
    whole trip into every decoded row."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from ..sources.kafka import publish_features, read_topic
    from ..spatial.wkb import decode_wkb

    def build(into: str) -> None:
        from ..sources.gpkg import read_gpkg, write_gpkg

        rows = (
            load_table(spark, sf_dir, "supplier")
            .select("s_suppkey", "s_nationkey")
            .toPandas()  # bounded: supplier is the smallest dim table
        )
        gpkg_path = os.path.join(into, "suppliers.gpkg")
        write_gpkg(
            gpkg_path,
            "suppliers",
            [
                (
                    ("POINT", (float(nk), float(sk % 97))),
                    {"s_suppkey": int(sk), "s_nationkey": int(nk)},
                )
                for sk, nk in zip(rows.s_suppkey, rows.s_nationkey)
            ],
            srid=31467,
        )
        publish_features(spark, read_gpkg(gpkg_path), os.path.join(into, "topic"), "suppliers")

    src = os.path.join(
        cache_publish(build, ("gpkg", 1, table_fingerprint(sf_dir, "supplier"))),
        "topic",
    )

    @pandas_udf(T.DoubleType())  # no hints: pd is a local import here
    def wkb_lon(b):
        return pd.Series([decode_wkb(bytes(v))[1][0] for v in b])

    feats = read_topic(spark, src)
    return (
        feats.select(
            F.get_json_object("props_json", "$.s_nationkey").cast("int").alias("nationkey"),
            F.get_json_object("props_json", "$.s_suppkey").cast("long").alias("suppkey"),
            wkb_lon(F.col("wkb")).cast("long").alias("lon_i"),
            "srid",
        )
        .groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("suppkey").alias("min_id"),
            F.max("suppkey").alias("max_id"),
            F.sum("lon_i").alias("lon_sum"),
            F.max("srid").alias("srid"),
        )
    )


@query(
    "src_json_multiline",
    oracle="""
SELECT p_brand,
       count(*) AS n,
       CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
         AS retail_sum,
       max(p_name) AS max_name
FROM part
GROUP BY p_brand
""",
)
def src_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multiLine JSON ingestion: ONE file holding a single top-level
    JSON ARRAY of objects — the REST-API-dump / config-export shape
    that line-delimited readers ([src_jsonl_roundtrip]) reject.  Spark
    needs ``multiLine=true``, which changes the execution contract:
    the file is no longer splittable (one parse task per FILE, the
    whole document must fit one task's memory), so at 100 TB the
    medicine is many medium files, not one giant array — stated here
    because the option looks free and is not.  The fixture is built
    once per corpus fingerprint with stdlib json over a pandas read
    (no Spark collect); numeric fidelity survives the round-trip
    (shortest-repr doubles), so the brand aggregate hash-matches the
    flat-table oracle."""
    import json as _json

    import pandas as pd

    def build(into: str) -> None:
        pdf = pd.read_parquet(os.path.join(sf_dir, "part.parquet"))[
            ["p_partkey", "p_name", "p_brand", "p_retailprice"]
        ]
        recs = pdf.to_dict(orient="records")
        os.makedirs(os.path.join(into, "ml"), exist_ok=True)
        with open(os.path.join(into, "ml", "parts.json"), "w") as fh:
            _json.dump(recs, fh)

    src = os.path.join(
        cache_publish(
            build, ("json_multiline", 1, table_fingerprint(sf_dir, "part"))
        ),
        "ml",
    )
    back = (
        spark.read.option("multiLine", "true")
        .schema("p_partkey long, p_name string, p_brand string, p_retailprice double")
        .json(src)
    )
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("p_retailprice").cast("decimal(28,10)"))
        .cast("double")
        .alias("retail_sum"),
        F.max("p_name").alias("max_name"),
    )


@query(
    "src_csv_quoted_newlines",
    oracle="""
SELECT p_brand,
       count(*) AS n,
       min(md5(p_name || ',"' || chr(10) || p_brand)) AS min_digest,
       max(md5(p_name || ',"' || chr(10) || p_brand)) AS max_digest
FROM part
GROUP BY p_brand
""",
)
def src_csv_quoted_newlines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV quoting torture: fields carrying the delimiter, a double
    quote AND an embedded NEWLINE round-trip through the CSV sink and
    source.  [src_csv_roundtrip] covers quoted commas; the newline is
    the edge that silently corrupts data without ``multiLine=true`` on
    the read (a record then spans physical lines, and the default
    line-splitting reader shreds it).  The adversarial field is
    constructed deterministically from part columns, and the oracle
    computes each field's md5 FROM THE SOURCE — so any mis-quoting,
    mis-escaping or line-shredding on the Spark round-trip changes a
    digest and fails the hash gate.  Scale note: multiLine CSV, like
    multiLine JSON, makes files non-splittable — one parse task per
    file; shard accordingly."""

    def build(into: str) -> None:
        p = load_table(spark, sf_dir, "part")
        nasty = F.concat(
            F.col("p_name"), F.lit(',"'), F.lit("\n"), F.col("p_brand")
        )
        p.select(
            "p_partkey", "p_brand", nasty.alias("nasty")
        ).write.mode("overwrite").option("header", "true").csv(
            os.path.join(into, "csvnl")
        )

    src = os.path.join(
        cache_publish(
            build, ("csv_newlines", 1, table_fingerprint(sf_dir, "part"))
        ),
        "csvnl",
    )
    back = (
        spark.read.schema("p_partkey long, p_brand string, nasty string")
        .option("header", "true")
        .option("multiLine", "true")
        .csv(src)
    )
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.md5(F.col("nasty"))).alias("min_digest"),
        F.max(F.md5(F.col("nasty"))).alias("max_digest"),
    )


# ---- varint-framed binary records (protobuf-style wire framing) ----

def encode_uvarint(n: int) -> bytes:
    """Unsigned LEB128 — the length/integer encoding of the protobuf
    wire format (public spec: protobuf.dev/programming-guides/encoding)."""
    if n < 0:
        raise ValueError("uvarint is unsigned")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_uvarint(buf: bytes, off: int) -> tuple[int, int]:
    """(value, next_offset); raises on truncation or >10-byte runs."""
    val = 0
    shift = 0
    while True:
        if off >= len(buf):
            raise ValueError("truncated uvarint")
        if shift > 63:
            raise ValueError("uvarint overlong")
        b = buf[off]
        off += 1
        val |= (b & 0x7F) << shift
        if not (b & 0x80):
            return val, off
        shift += 7


def iter_varint_frames(buf: bytes):
    """Yield payload slices of a [uvarint length][payload] stream."""
    off = 0
    n = len(buf)
    while off < n:
        ln, off = decode_uvarint(buf, off)
        if off + ln > n:
            raise ValueError(f"frame overruns buffer at offset {off}")
        yield buf[off : off + ln]
        off += ln


def _varint_decode_batches(file_iter):
    """mapInPandas kernel: binaryFile rows -> decoded event records.
    Payload layout: uvarint event_id | uvarint user_id | uvarint
    value_centi | uvarint type_len | type bytes (ASCII)."""
    import pandas as _pd

    for pdf in file_iter:
        for content in pdf["content"]:
            buf = bytes(content)
            eids, uids, vcs, ets = [], [], [], []
            for payload in iter_varint_frames(buf):
                eid, o = decode_uvarint(payload, 0)
                uid, o = decode_uvarint(payload, o)
                vc, o = decode_uvarint(payload, o)
                tl, o = decode_uvarint(payload, o)
                if o + tl != len(payload):
                    raise ValueError("payload length mismatch")
                eids.append(eid)
                uids.append(uid)
                vcs.append(vc)
                ets.append(payload[o : o + tl].decode("ascii"))
            yield _pd.DataFrame(
                {
                    "event_id": _pd.Series(eids, dtype="int64"),
                    "user_id": _pd.Series(uids, dtype="int64"),
                    "value_centi": _pd.Series(vcs, dtype="int64"),
                    "event_type": ets,
                }
            )


@query(
    "src_varint_frames",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(SUM(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT) AS value_centi_sum,
       min(event_id) AS min_id,
       max(event_id) AS max_id
FROM events
GROUP BY event_type
""",
)
def src_varint_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Varint-framed binary record source — the protobuf wire-format
    framing ([LEB128 length][payload], payload itself a varint field
    sequence) that log shippers and RPC dumps arrive in, and that
    Spark has no native reader for.  Events are rendered ONCE into 8
    frame files by executor tasks (distributed write, no driver
    collect: each task serializes its partition and writes one file
    into the build-once cache), read back through ``binaryFile``, and
    decoded by an Arrow-batched mapInPandas kernel — the sanctioned
    binary-codec boundary (README design rule 3, same class as the
    BMP/WAV/GPKG codecs; a JVM expression can't parse variable-length
    integers).  value rides as floor(value*100) centi-units, so the
    round-trip is exact integer mass and the aggregate hash-matches
    the parquet oracle.  Scale: one file per task at build, one task
    per file at read; frames decode sequentially WITHIN a file but
    files parallelize, which is the same split model as any
    container format (the 8-file fixture stands in for thousands of
    shipper segments)."""

    def build(into: str) -> None:
        fdir = os.path.join(into, "frames")
        os.makedirs(fdir, exist_ok=True)
        ev = (
            load_table(spark, sf_dir, "events")
            .select(
                "event_id",
                "user_id",
                F.floor(F.col("value") * 100.0).cast("long").alias("value_centi"),
                "event_type",
            )
            .repartition(8, F.col("event_id") % 8)
        )

        def write_part(rows):
            import os as _os
            import uuid as _uuid

            from pyspark import TaskContext as _TC

            buf = bytearray()
            for r in rows:
                payload = (
                    encode_uvarint(r["event_id"])
                    + encode_uvarint(r["user_id"])
                    + encode_uvarint(r["value_centi"])
                    + encode_uvarint(len(r["event_type"]))
                    + r["event_type"].encode("ascii")
                )
                buf += encode_uvarint(len(payload)) + payload
            if buf:
                # Final name is keyed by PARTITION INDEX, not a uuid:
                # a retried/speculated task re-replaces the same file,
                # so at-least-once task execution stays exactly-once at
                # the file level (the committer property df.write gets
                # for free).
                pid = _TC.get().partitionId()
                tmp = _os.path.join(fdir, f"_tmp_{_uuid.uuid4().hex}")
                with open(tmp, "wb") as fh:
                    fh.write(bytes(buf))
                _os.replace(tmp, _os.path.join(fdir, f"part-{pid:05d}.vf"))
            return iter(())

        ev.rdd.mapPartitions(write_part).count()

    src = os.path.join(
        cache_publish(
            build, ("varintframes", 2, table_fingerprint(sf_dir, "events"))
        ),
        "frames",
    )
    files = spark.read.format("binaryFile").load(src).select("content")
    decoded = files.mapInPandas(
        _varint_decode_batches,
        schema="event_id long, user_id long, value_centi long, event_type string",
    )
    return decoded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_centi").cast("bigint").alias("value_centi_sum"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


# ---- Arrow IPC stream shards (the Arrow wire/file format) ----

def _arrow_ipc_decode(batch_iter):
    """mapInArrow kernel: binaryFile rows (each ``content`` cell one
    complete Arrow IPC stream) -> the embedded record batches, passed
    through Arrow-native with zero pandas round-trip."""
    import pyarrow as _pa

    for batch in batch_iter:
        for content in batch.column(batch.schema.get_field_index("content")):
            reader = _pa.ipc.open_stream(content.as_py())
            for rb in reader:
                yield rb


@query(
    "src_arrow_ipc",
    oracle="""
SELECT source, lang,
       count(*) AS n_docs,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc,
       CAST(SUM(len(text)) AS BIGINT) AS chars_total
FROM documents
GROUP BY source, lang
""",
)
def src_arrow_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC *stream* source — the standard columnar wire format
    (feather v2 / Flight payloads / `pyarrow.ipc`) that data-exchange
    pipelines hand around, and that Spark has no built-in reader for.
    Documents are rendered ONCE into 8 IPC shard files by executor
    tasks (distributed write: each task serializes its partition with
    pyarrow and writes one stream file into the build-once cache),
    read back through ``binaryFile``, and decoded by a **mapInArrow**
    kernel that re-emits the EMBEDDED RECORD BATCHES as-is — unlike
    every other codec here there is no per-row parse and no pandas
    materialization: Arrow in, Arrow out, so the Python boundary cost
    is one buffer view per batch (the reason an Arrow-native lake
    format is the cheapest possible custom source under Spark's
    vectorized UDF transport). Aggregate proves the round-trip: per
    (source, lang) counts, id range, and exact char mass hash-match
    the parquet oracle. Scale: one file per task at build, one task
    per file at read, batches stream — the 8-shard fixture stands in
    for thousands; a real deployment points the same kernel at any
    directory of IPC segments."""

    def build(into: str) -> None:
        fdir = os.path.join(into, "ipc")
        os.makedirs(fdir, exist_ok=True)
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "lang", "text")
            .repartition(8, F.col("doc_id") % 8)
        )

        def write_part(rows):
            import os as _os
            import uuid as _uuid

            import pyarrow as _pa

            rows = list(rows)
            if not rows:
                return iter(())
            schema = _pa.schema(
                [
                    ("doc_id", _pa.int64()),
                    ("source", _pa.string()),
                    ("lang", _pa.string()),
                    ("text", _pa.string()),
                ]
            )
            tbl = _pa.table(
                {
                    "doc_id": [r["doc_id"] for r in rows],
                    "source": [r["source"] for r in rows],
                    "lang": [r["lang"] for r in rows],
                    "text": [r["text"] for r in rows],
                },
                schema=schema,
            )
            # Partition-index naming: retries re-replace the same file
            # (idempotent), matching the committer guarantee df.write
            # paths get — a uuid name would duplicate rows on retry.
            from pyspark import TaskContext as _TC

            pid = _TC.get().partitionId()
            tmp = _os.path.join(fdir, f"_tmp_{_uuid.uuid4().hex}")
            with _pa.ipc.new_stream(tmp, schema) as writer:
                writer.write_table(tbl, max_chunksize=256)
            _os.replace(tmp, _os.path.join(fdir, f"part-{pid:05d}.arrows"))
            return iter(())

        d.rdd.mapPartitions(write_part).count()

    src = os.path.join(
        cache_publish(build, ("arrowipc", 2, table_fingerprint(sf_dir, "documents"))),
        "ipc",
    )
    files = spark.read.format("binaryFile").load(src).select("content")
    decoded = files.mapInArrow(
        _arrow_ipc_decode,
        schema="doc_id long, source string, lang string, text string",
    )
    return decoded.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.sum(F.length("text")).cast("bigint").alias("chars_total"),
    )


# ---- Hadoop SequenceFile source (the classic HDFS container) ----

@query(
    "src_sequencefile",
    oracle="""
SELECT event_type,
       count(*) AS n,
       min(user_id) AS min_user,
       max(user_id) AS max_user,
       CAST(SUM(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT) AS value_centi_sum
FROM events
GROUP BY event_type
""",
)
def src_sequencefile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hadoop SequenceFile source — the original HDFS key/value
    container format that legacy ingest jobs (MapReduce, Sqoop,
    Flume) still emit, exercised through Spark's bundled Hadoop I/O:
    ``saveAsSequenceFile`` writes (LongWritable, Text) records one
    file per task into the build-once cache, ``sc.sequenceFile``
    reads them back with Hadoop's own record reader (block-splittable
    on a real cluster — the property that made the format the HDFS
    default). The value payload is a pipe-delimited ASCII record
    parsed JVM-side after the handoff; value rides as
    floor(value·100) centi-units so the round-trip is exact integer
    mass against the parquet oracle. This is deliberately the ONE
    RDD-API source in the registry: the Writable↔Python conversion is
    the format's documented seam (pickle at the boundary, Hadoop
    codec underneath), kept out of every hot path and quarantined to
    the 8-file fixture read."""

    def build(into: str) -> None:
        fdir = os.path.join(into, "seq")
        ev = (
            load_table(spark, sf_dir, "events")
            .select(
                "event_id",
                "user_id",
                F.floor(F.col("value") * 100.0).cast("long").alias("value_centi"),
                "event_type",
            )
            .repartition(8, F.col("event_id") % 8)
        )
        ev.rdd.map(
            lambda r: (r["event_id"], f"{r['user_id']}|{r['value_centi']}|{r['event_type']}")
        ).saveAsSequenceFile(fdir)

    src = os.path.join(
        cache_publish(build, ("seqfile", 1, table_fingerprint(sf_dir, "events"))),
        "seq",
    )
    rdd = spark.sparkContext.sequenceFile(src)
    raw = spark.createDataFrame(rdd, schema="_1 long, _2 string")
    parsed = raw.select(
        F.split("_2", "\\|").alias("f")
    ).select(
        F.element_at("f", 1).cast("long").alias("user_id"),
        F.element_at("f", 2).cast("long").alias("value_centi"),
        F.element_at("f", 3).alias("event_type"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
        F.sum("value_centi").cast("bigint").alias("value_centi_sum"),
    )


# ---- WARC source (ISO 28500 — the web-archive / Common Crawl format) ----

def parse_warc(buf: bytes):
    """Yield (headers: dict, payload: bytes) per WARC record. Strict
    Content-Length framing per ISO 28500: header block ends at CRLFCRLF,
    payload is exactly Content-Length bytes, then two CRLFs of record
    separation."""
    off = 0
    n = len(buf)
    while off < n:
        hdr_end = buf.find(b"\r\n\r\n", off)
        if hdr_end < 0:
            raise ValueError(f"unterminated WARC header block at offset {off}")
        lines = buf[off:hdr_end].split(b"\r\n")
        if not lines[0].startswith(b"WARC/"):
            raise ValueError(f"missing WARC version line at offset {off}")
        headers = {}
        for line in lines[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().decode("ascii")] = v.strip().decode("ascii")
        ln = int(headers["Content-Length"])
        body_start = hdr_end + 4
        if body_start + ln > n:
            raise ValueError(f"payload overruns buffer at offset {body_start}")
        yield headers, buf[body_start : body_start + ln]
        off = body_start + ln
        if buf[off : off + 4] != b"\r\n\r\n":
            raise ValueError(f"missing record separator at offset {off}")
        off += 4


def _warc_decode_batches(file_iter):
    """mapInPandas kernel: binaryFile rows -> parsed WARC resource
    records (doc_id/source/lang recovered from the record headers)."""
    import pandas as _pd

    for pdf in file_iter:
        for content in pdf["content"]:
            ids, srcs, langs, nb = [], [], [], []
            for headers, payload in parse_warc(bytes(content)):
                uri = headers["WARC-Target-URI"]
                # warc://corpus/<source>/<doc_id>
                _, _, tail = uri.partition("warc://corpus/")
                source, _, doc_id = tail.partition("/")
                ids.append(int(doc_id))
                srcs.append(source)
                langs.append(headers["X-Corpus-Lang"])
                nb.append(len(payload))
            yield _pd.DataFrame(
                {
                    "doc_id": _pd.Series(ids, dtype="int64"),
                    "source": srcs,
                    "lang": langs,
                    "n_bytes": _pd.Series(nb, dtype="int64"),
                }
            )


@query(
    "src_warc",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       CAST(SUM(len(text)) AS BIGINT) AS bytes_total,
       CAST(SUM(doc_id) AS BIGINT) AS id_mass
FROM documents
GROUP BY lang
""",
)
def src_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC source (ISO 28500) — the container format the actual 100 TB
    pretraining corpora arrive in (Common Crawl ships WARC segments),
    and the one source format any 'switch your pipeline to this engine'
    story must read. Documents are rendered ONCE into 8 .warc shard
    files by executor tasks — resource records with a
    warc://corpus/<source>/<doc_id> target URI, an X-Corpus-Lang
    header, and strict Content-Length framing — then read back through
    ``binaryFile`` and parsed by an Arrow-batched mapInPandas kernel
    (the sanctioned codec boundary: CRLF-delimited header blocks +
    length-framed payloads are not expressible as a JVM expression).
    The parser is STRICT (bad version line, overrun payload, missing
    record separator all raise — property-tested), because silent
    resync-on-corruption is how web-archive pipelines lose records.
    Aggregate proves the round-trip per lang: doc count, distinct
    sources, exact payload byte mass (ASCII corpus: bytes == chars),
    id mass. Scale: one file per task at build, one task per WARC
    segment at read — exactly the Common Crawl segment model (a real
    deployment points the kernel at s3://commoncrawl/...warc.gz paths
    plus a gunzip step)."""

    def build(into: str) -> None:
        fdir = os.path.join(into, "warc")
        os.makedirs(fdir, exist_ok=True)
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "lang", "text")
            .repartition(8, F.col("doc_id") % 8)
        )

        def write_part(rows):
            import os as _os
            import uuid as _uuid

            buf = bytearray()
            for r in rows:
                payload = r["text"].encode("ascii")
                hdr = (
                    "WARC/1.0\r\n"
                    "WARC-Type: resource\r\n"
                    f"WARC-Record-ID: <urn:corpus:{r['doc_id']}>\r\n"
                    f"WARC-Target-URI: warc://corpus/{r['source']}/{r['doc_id']}\r\n"
                    f"X-Corpus-Lang: {r['lang']}\r\n"
                    f"Content-Length: {len(payload)}\r\n"
                    "\r\n"
                ).encode("ascii")
                buf += hdr + payload + b"\r\n\r\n"
            if buf:
                # Partition-index naming: a retried/speculated task
                # re-replaces its own shard instead of adding a second
                # uuid-named one (idempotent, committer-equivalent).
                from pyspark import TaskContext as _TC

                pid = _TC.get().partitionId()
                tmp = _os.path.join(fdir, f"_tmp_{_uuid.uuid4().hex}")
                with open(tmp, "wb") as fh:
                    fh.write(bytes(buf))
                _os.replace(tmp, _os.path.join(fdir, f"part-{pid:05d}.warc"))
            return iter(())

        d.rdd.mapPartitions(write_part).count()

    src = os.path.join(
        cache_publish(build, ("warc", 2, table_fingerprint(sf_dir, "documents"))),
        "warc",
    )
    files = spark.read.format("binaryFile").load(src).select("content")
    decoded = files.mapInPandas(
        _warc_decode_batches,
        schema="doc_id long, source string, lang string, n_bytes long",
    )
    return decoded.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_bytes").cast("bigint").alias("bytes_total"),
        F.sum("doc_id").cast("bigint").alias("id_mass"),
    )


# ---- ZIP container source (PKZIP — the classic multi-member archive) ----

def _zip_decode_batches(file_iter):
    """mapInPandas kernel: binaryFile rows -> one row per ZIP member.
    Member path encodes <source>/<lang>/doc_<id>.txt.  CRC integrity
    comes from ``ZipFile.read()`` itself — it verifies the stored
    CRC-32 as it inflates and raises ``BadZipFile`` on mismatch
    (ADVICE r09: a manual recompute here was redundant); the explicit
    message below only rewraps that failure with the member name."""
    import io as _io
    import zipfile as _zf

    import pandas as _pd

    for pdf in file_iter:
        for content in pdf["content"]:
            ids, srcs, langs, nb = [], [], [], []
            with _zf.ZipFile(_io.BytesIO(bytes(content))) as z:
                for info in z.infolist():
                    try:
                        payload = z.read(info.filename)
                    except _zf.BadZipFile as exc:
                        raise ValueError(
                            f"CRC mismatch in {info.filename}"
                        ) from exc
                    source, lang, leaf = info.filename.split("/")
                    ids.append(int(leaf[4:-4]))  # doc_<id>.txt
                    srcs.append(source)
                    langs.append(lang)
                    nb.append(len(payload))
            yield _pd.DataFrame(
                {
                    "doc_id": _pd.Series(ids, dtype="int64"),
                    "source": srcs,
                    "lang": langs,
                    "n_bytes": _pd.Series(nb, dtype="int64"),
                }
            )


@query(
    "src_zip",
    oracle="""
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT lang) AS n_langs,
       CAST(SUM(len(text)) AS BIGINT) AS bytes_total,
       CAST(SUM(doc_id) AS BIGINT) AS id_mass
FROM documents
GROUP BY source
""",
)
def src_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP container source — the archive format user-contributed text
    corpora actually arrive in (code datasets, document dumps, ML
    competition bundles): documents are rendered ONCE into 8 DEFLATE
    .zip shards by executor tasks (stdlib zipfile; member path
    <source>/<lang>/doc_<id>.txt), then read back through
    ``binaryFile`` and expanded by an Arrow-batched mapInPandas kernel
    that walks the central directory, INFLATEs each member, and
    verifies the stored CRC-32 against the recomputed payload (strict:
    mismatch raises — resync-on-corruption loses records silently).
    Unlike the stream-framed WARC/varint twins this exercises the
    random-access container shape: a central directory at EOF, per-
    member compression, integrity checksums. Aggregate proves the
    round-trip per source: doc count, distinct langs, exact inflated
    byte mass (ASCII corpus: bytes == chars), id mass. Scale: one
    archive per task at build, one task per archive at read — the
    member directory never leaves the executor."""

    def build(into: str) -> None:
        fdir = os.path.join(into, "zip")
        os.makedirs(fdir, exist_ok=True)
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "lang", "text")
            .repartition(8, F.col("doc_id") % 8)
        )

        def write_part(rows):
            import io as _io
            import os as _os
            import uuid as _uuid
            import zipfile as _zf

            from pyspark import TaskContext as _TC

            buf = _io.BytesIO()
            n = 0
            with _zf.ZipFile(buf, "w", compression=_zf.ZIP_DEFLATED) as z:
                for r in rows:
                    z.writestr(
                        f"{r['source']}/{r['lang']}/doc_{r['doc_id']:08d}.txt",
                        r["text"].encode("ascii"),
                    )
                    n += 1
            if n:
                pid = _TC.get().partitionId()
                tmp = _os.path.join(fdir, f"_tmp_{_uuid.uuid4().hex}")
                with open(tmp, "wb") as fh:
                    fh.write(buf.getvalue())
                _os.replace(tmp, _os.path.join(fdir, f"part-{pid:05d}.zip"))
            return iter(())

        d.rdd.mapPartitions(write_part).count()

    src = os.path.join(
        cache_publish(build, ("zipsrc", 1, table_fingerprint(sf_dir, "documents"))),
        "zip",
    )
    files = spark.read.format("binaryFile").load(src).select("content")
    decoded = files.mapInPandas(
        _zip_decode_batches,
        schema="doc_id long, source string, lang string, n_bytes long",
    )
    return decoded.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_bytes").cast("bigint").alias("bytes_total"),
        F.sum("doc_id").cast("bigint").alias("id_mass"),
    )


# ---- tar / WebDataset source (the multimodal training-shard shape) ----

def _tar_decode_batches(file_iter):
    """mapInPandas kernel: binaryFile rows -> one row per WebDataset
    SAMPLE. A sample is the group of adjacent tar members sharing a
    key prefix (``<key>.txt`` payload, ``<key>.json`` metadata,
    ``<key>.cls`` label) — the WebDataset layout (Aizman et al. 2019)
    that large-scale multimodal training loaders stream. The kernel
    enforces the grouping contract strictly: members of one sample
    must be ADJACENT (WebDataset's own requirement — loaders stream
    tars sequentially and cannot reassemble scattered members) and
    every sample must carry exactly the three expected suffixes."""
    import io as _io
    import json as _json
    import tarfile as _tf

    import pandas as _pd

    expected = {".txt", ".json", ".cls"}
    for pdf in file_iter:
        for content in pdf["content"]:
            ids, srcs, langs, nb, cls = [], [], [], [], []
            with _tf.open(fileobj=_io.BytesIO(bytes(content)), mode="r:") as t:
                cur_key, parts = None, {}

                def flush(key, parts):
                    if set(parts) != expected:
                        raise ValueError(
                            f"sample {key!r} has members {sorted(parts)}, "
                            f"expected {sorted(expected)}"
                        )
                    meta = _json.loads(parts[".json"].decode("ascii"))
                    ids.append(int(key.rsplit("/", 1)[1]))
                    srcs.append(meta["source"])
                    langs.append(meta["lang"])
                    nb.append(len(parts[".txt"]))
                    cls.append(int(parts[".cls"].decode("ascii")))

                for m in t:
                    if not m.isfile():
                        continue
                    key, dot, suffix = m.name.rpartition(".")
                    if cur_key is not None and key != cur_key:
                        flush(cur_key, parts)
                        parts = {}
                    cur_key = key
                    if dot + suffix in parts:
                        # strict sample contract (ADVICE r10): a shard
                        # with two same-suffix members for one key is
                        # malformed — a dict overwrite would decode it
                        # silently and still pass the set(parts) check
                        raise ValueError(
                            f"sample {key!r} has duplicate member suffix "
                            f"{dot + suffix!r}"
                        )
                    parts[dot + suffix] = t.extractfile(m).read()
                if cur_key is not None:
                    flush(cur_key, parts)
            yield _pd.DataFrame(
                {
                    "doc_id": _pd.Series(ids, dtype="int64"),
                    "source": srcs,
                    "lang": langs,
                    "n_bytes": _pd.Series(nb, dtype="int64"),
                    "n_tok": _pd.Series(cls, dtype="int64"),
                }
            )


@query(
    "src_tar",
    oracle="""
SELECT source,
       count(*) AS n_samples,
       count(DISTINCT lang) AS n_langs,
       CAST(SUM(len(text)) AS BIGINT) AS bytes_total,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok_mass,
       CAST(SUM(doc_id) AS BIGINT) AS id_mass
FROM documents
GROUP BY source
""",
)
def src_tar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard source — the container format multimodal
    training corpora actually ship in (LAION, DataComp): each document
    is rendered ONCE into 8 POSIX tar shards as a three-member SAMPLE
    (``<source>/<id>.txt`` payload, ``.json`` metadata, ``.cls``
    label = token count), members of a sample adjacent as WebDataset
    requires, then read back via ``binaryFile`` + an Arrow-batched
    mapInPandas kernel that re-groups members by key prefix and
    enforces the sample contract (missing/extra member raises —
    loaders that resync silently drop modalities). Differs from
    src_zip in exactly the dimension that matters: zip proves the
    random-access central-directory shape, tar proves the STREAMED
    sequential-sample shape with multi-member grouping. Aggregate
    proves the three modalities round-trip per source: sample count,
    langs from the .json, byte mass from the .txt, token mass from
    the .cls, id mass from the key. Scale: one shard per task both
    ways; samples never leave the executor ungrouped."""

    def build(into: str) -> None:
        fdir = os.path.join(into, "tar")
        os.makedirs(fdir, exist_ok=True)
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "lang", "text")
            .repartition(8, F.col("doc_id") % 8)
        )

        def write_part(rows):
            import io as _io
            import json as _json
            import os as _os
            import tarfile as _tf
            import uuid as _uuid

            from pyspark import TaskContext as _TC

            buf = _io.BytesIO()
            n = 0
            with _tf.open(fileobj=buf, mode="w") as t:

                def add(name, payload):
                    info = _tf.TarInfo(name)
                    info.size = len(payload)
                    info.mtime = 0  # deterministic shard bytes
                    t.addfile(info, _io.BytesIO(payload))

                for r in rows:
                    key = f"{r['source']}/{r['doc_id']:08d}"
                    meta = _json.dumps(
                        {"source": r["source"], "lang": r["lang"]}
                    ).encode("ascii")
                    text = r["text"].encode("ascii")
                    n_tok = str(r["text"].count(" ") + 1).encode("ascii")
                    add(key + ".txt", text)
                    add(key + ".json", meta)
                    add(key + ".cls", n_tok)
                    n += 1
            if n:
                pid = _TC.get().partitionId()
                tmp = _os.path.join(fdir, f"_tmp_{_uuid.uuid4().hex}")
                with open(tmp, "wb") as fh:
                    fh.write(buf.getvalue())
                _os.replace(tmp, _os.path.join(fdir, f"part-{pid:05d}.tar"))
            return iter(())

        d.rdd.mapPartitions(write_part).count()

    src = os.path.join(
        cache_publish(build, ("tarsrc", 1, table_fingerprint(sf_dir, "documents"))),
        "tar",
    )
    files = spark.read.format("binaryFile").load(src).select("content")
    decoded = files.mapInPandas(
        _tar_decode_batches,
        schema="doc_id long, source string, lang string, n_bytes long, n_tok long",
    )
    return decoded.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_bytes").cast("bigint").alias("bytes_total"),
        F.sum("n_tok").cast("bigint").alias("tok_mass"),
        F.sum("doc_id").cast("bigint").alias("id_mass"),
    )


# ---- XML source (the Wikipedia/arXiv dump shape) ----

def _xml_decode_batches(file_iter):
    """mapInPandas kernel: binaryFile rows -> one row per <doc>
    element, parsed with the stdlib ElementTree (a REAL XML parser —
    entity unescaping, attribute handling — not a regex scrape)."""
    import xml.etree.ElementTree as _ET

    import pandas as _pd

    for pdf in file_iter:
        for content in pdf["content"]:
            root = _ET.fromstring(bytes(content).decode("utf-8"))
            if root.tag != "corpus":
                raise ValueError(f"unexpected root element {root.tag!r}")
            ids, srcs, langs, nch, ntok = [], [], [], [], []
            for doc in root:
                ids.append(int(doc.attrib["id"]))
                srcs.append(doc.attrib["source"])
                langs.append(doc.attrib["lang"])
                text = doc.findtext("text")
                nch.append(len(text))
                ntok.append(len(text.split(" ")))
            yield _pd.DataFrame(
                {
                    "doc_id": _pd.Series(ids, dtype="int64"),
                    "source": srcs,
                    "lang": langs,
                    "n_chars": _pd.Series(nch, dtype="int64"),
                    "n_toks": _pd.Series(ntok, dtype="int64"),
                }
            )


@query(
    "src_xml",
    oracle="""
SELECT source, lang,
       count(*) AS n_docs,
       CAST(SUM(len(text)) AS BIGINT) AS chars_total,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks_total,
       CAST(SUM(doc_id) AS BIGINT) AS id_mass
FROM documents
GROUP BY source, lang
""",
)
def src_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML dump source — the format the canonical public corpora ship
    in (Wikipedia dumps, arXiv metadata, TREC collections): documents
    are rendered ONCE into 8 .xml shards by executor tasks — a
    <corpus> root holding <doc id source lang><text>…</text></doc>
    elements, BUILT with ElementTree so special characters are
    properly entity-escaped rather than string-pasted — then read
    back through ``binaryFile`` and parsed by an Arrow-batched
    mapInPandas kernel using the same real parser (round-tripping
    through an actual XML library is the point: regex-scraping dumps
    is the classic corpus-corruption bug this source exists to
    avoid). The complement of src_xml_roundtrip (Spark's NATIVE XML
    data source over flat row-per-record XML): dumps are one DEEP
    document per file — root > doc > nested text elements — which the
    rowTag-based native reader does not model; this is the
    binaryFile-plus-kernel path for that shape. Aggregate proves the
    round-trip per (source, lang): doc count, exact char and token
    mass, id mass. Scale: one shard per task at build, one task per
    shard at read; a real deployment points the same kernel at
    bz2-multistream dump segments."""

    def build(into: str) -> None:
        fdir = os.path.join(into, "xml")
        os.makedirs(fdir, exist_ok=True)
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "lang", "text")
            .repartition(8, F.col("doc_id") % 8)
        )

        def write_part(rows):
            import os as _os
            import uuid as _uuid
            import xml.etree.ElementTree as _ET

            from pyspark import TaskContext as _TC

            root = _ET.Element("corpus")
            n = 0
            for r in rows:
                doc = _ET.SubElement(
                    root,
                    "doc",
                    id=str(r["doc_id"]),
                    source=r["source"],
                    lang=r["lang"],
                )
                _ET.SubElement(doc, "text").text = r["text"]
                n += 1
            if n:
                pid = _TC.get().partitionId()
                tmp = _os.path.join(fdir, f"_tmp_{_uuid.uuid4().hex}")
                _ET.ElementTree(root).write(tmp, encoding="utf-8")
                _os.replace(tmp, _os.path.join(fdir, f"part-{pid:05d}.xml"))
            return iter(())

        d.rdd.mapPartitions(write_part).count()

    src = os.path.join(
        cache_publish(build, ("xmlsrc", 1, table_fingerprint(sf_dir, "documents"))),
        "xml",
    )
    files = spark.read.format("binaryFile").load(src).select("content")
    decoded = files.mapInPandas(
        _xml_decode_batches,
        schema="doc_id long, source string, lang string, n_chars long, n_toks long",
    )
    return decoded.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
        F.sum("n_toks").cast("bigint").alias("toks_total"),
        F.sum("doc_id").cast("bigint").alias("id_mass"),
    )


@query(
    "src_delta_log",
    oracle="""
SELECT v.version, lang,
       count(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_mass,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok_mass
FROM documents d
JOIN (VALUES (0), (1), (2)) v(version)
  ON (v.version = 0 AND d.doc_id % 4 IN (0, 1))
  OR (v.version = 1 AND d.doc_id % 4 IN (0, 2))
  OR (v.version = 2 AND d.doc_id % 4 IN (0, 2, 3))
GROUP BY v.version, lang
""",
)
def src_delta_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse transaction-log snapshot reader (the Delta-style
    ``_delta_log`` protocol: ordered JSON commit files of add/remove
    file actions; a snapshot at version v = replay of commits 0..v).
    The cache builds a table with three commits — commit 0 adds file
    slices A (doc_id%4=0) and B (%4=1); commit 1 adds C (%4=2) and
    REMOVES B (a compaction/delete); commit 2 adds D (%4=3) — and the
    reader reconstructs the live file set AT EVERY VERSION (time
    travel), reads each snapshot's parquet, and aggregates per
    (version, lang). The remove action is load-bearing: version 1+
    must NOT see slice B, so a reader that only unions adds fails the
    hash.

    Log replay is a bounded driver-side metadata read (ordered
    listing + line-JSON parse — exactly what real Delta clients do);
    the DATA path stays fully distributed (plain parquet scans of the
    live files, one union per version). Unknown actions (metaData,
    protocol) are skipped, matching the protocol's
    ignore-what-you-don't-know rule. Scale: the log is
    O(commits) metadata; each snapshot read is a parquet scan."""
    import json as _json

    def build(into: str) -> None:
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
        for name, residue in (("A", 0), ("B", 1), ("C", 2), ("D", 3)):
            (
                d.where(F.col("doc_id") % 4 == residue)
                .repartition(1)
                .write.mode("overwrite")
                .parquet(os.path.join(into, name))
            )
        log_dir = os.path.join(into, "_delta_log")
        os.makedirs(log_dir, exist_ok=True)
        commits = [
            [
                {"metaData": {"id": "ukis-demo", "format": "parquet"}},
                {"add": {"path": "A"}},
                {"add": {"path": "B"}},
            ],
            [{"add": {"path": "C"}}, {"remove": {"path": "B"}}],
            [{"add": {"path": "D"}}],
        ]
        for v, actions in enumerate(commits):
            with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as fh:
                fh.write("\n".join(_json.dumps(a) for a in actions))

    base = cache_publish(
        build, ("deltalog", 1, table_fingerprint(sf_dir, "documents"))
    )
    log_dir = os.path.join(base, "_delta_log")
    versions = sorted(
        int(f.split(".")[0]) for f in os.listdir(log_dir) if f.endswith(".json")
    )
    live: set[str] = set()
    out = None
    for v in versions:
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = _json.loads(line)
                if "add" in action:
                    live.add(action["add"]["path"])
                elif "remove" in action:
                    live.discard(action["remove"]["path"])
        snap = spark.read.parquet(*[os.path.join(base, p) for p in sorted(live)])
        agg = (
            snap.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("doc_id").cast("bigint").alias("id_mass"),
                F.sum(F.size(F.split("text", " ")))
                .cast("bigint")
                .alias("tok_mass"),
            )
            .select(F.lit(v).cast("int").alias("version"), "*")
        )
        out = agg if out is None else out.unionByName(agg)
    return out
