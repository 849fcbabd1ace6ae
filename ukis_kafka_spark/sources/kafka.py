"""The envelope topic format and its Kafka source/sink wiring
(reference parity R2/R3).

This module is the one owner of the topic format: ``TOPIC_SCHEMA``
(a topic dir is parquet files of ``value binary, offset long``, the
exact Kafka message shape plus its offset), ``publish_features`` (the
one topic write every producer uses), ``read_topic`` (the one batch
topic read) and ``decode_feature_stream`` (the one decode kernel, over
a topic dir, a file stream or a Kafka stream alike).

No broker (and no spark-sql-kafka connector jar) exists in the offline
harness, so the Kafka builders are exercised there through their
file-based twins. The selectable entry point is ``envelope_raw_stream``:
set ``UKIS_KAFKA_BROKERS`` (or pass ``brokers=``) and the SAME pipeline
reads ``format("kafka")``; leave it unset and it reads the wire-format
parquet twin. Everything downstream of the raw ``value binary`` column
— ``decode_feature_stream``, the aggregates, the sinks — is one shared
code path, byte-for-byte identical in both modes
(streaming.jobs.src_kafka_shape drives it through the oracle gate
offline).
"""

from __future__ import annotations

import json
import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

ENV_BROKERS = "UKIS_KAFKA_BROKERS"
ENV_TOPIC = "UKIS_KAFKA_TOPIC"

# the topic message shape. An explicit schema plans no footer-inference
# job, and a topic dir that mixes pre-offset files with offset-bearing
# ones (appends to an old topic) reads the same way whichever footer
# Spark would have picked — a legacy file lacks the column, so its rows
# read offset NULL, which loses to any real offset under the desc
# last-write-wins window (nulls sort last), exactly the right semantics
TOPIC_SCHEMA = "value binary, offset long"

_FEATURE_SCHEMA = "layer string, srid int, geom_type string, wkb binary, props_json string"


def envelope_raw_stream(
    spark: SparkSession,
    *,
    brokers: str | None = None,
    topic: str | None = None,
    wire_dir: str | None = None,
    starting_offsets: str = "earliest",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """The ONE source switch for envelope pipelines: returns a streaming
    DataFrame of raw msgpack envelopes (single ``value binary`` column).

    With a broker (``brokers=`` argument or the ``UKIS_KAFKA_BROKERS``
    env var) the stream is ``format("kafka")`` on ``topic`` (or
    ``UKIS_KAFKA_TOPIC``); otherwise it is the file-stream twin over
    ``wire_dir`` — a parquet directory holding the identical envelope
    bytes, which is also exactly what a Kafka->parquet archiver sink
    writes. Flipping a deployment online is therefore one env var, no
    code change."""
    brokers = brokers or os.environ.get(ENV_BROKERS)
    if brokers:
        topic = topic or os.environ.get(ENV_TOPIC, "ukis-features")
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
            .select("value")
        )
    if wire_dir is None:
        raise ValueError(
            f"no Kafka brokers configured (set {ENV_BROKERS}) and no wire_dir fallback given"
        )
    return (
        spark.readStream.schema("value binary")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(wire_dir)
    )


def decode_feature_stream(raw: DataFrame) -> DataFrame:
    """msgpack feature envelopes (``value binary``) → decoded feature
    rows (layer, srid, geom_type, wkb, props_json), followed by every
    other column of ``raw`` unchanged (a topic dir's ``offset``). Shared
    by the topic dir, the Kafka and the file-twin sources — the decode
    is source-agnostic."""
    from pyspark.sql.types import StructType

    from .envelope import read_envelope
    from ..spatial.wkb import decode_wkb

    rest = [f for f in raw.schema.fields if f.name != "value"]

    def decode(iter_pdf):
        for pdf in iter_pdf:
            out = {"layer": [], "srid": [], "geom_type": [], "wkb": [], "props_json": []}
            for buf in pdf["value"]:
                env = read_envelope(bytes(buf))
                gtype, _ = decode_wkb(env["geom"])
                out["layer"].append(env["meta"]["layer"])
                out["srid"].append(env["meta"].get("srid", 4326))
                out["geom_type"].append(gtype)
                out["wkb"].append(env["geom"])
                out["props_json"].append(json.dumps(env["props"], sort_keys=True))
            for f in rest:
                out[f.name] = list(pdf[f.name])
            yield pd.DataFrame(out)

    schema = StructType.fromDDL(_FEATURE_SCHEMA).fields + rest
    return raw.mapInPandas(decode, StructType(schema))


def read_topic(spark: SparkSession, topic_dir: str) -> DataFrame:
    """A topic dir → decoded feature rows plus their ``offset``."""
    return decode_feature_stream(spark.read.schema(TOPIC_SCHEMA).parquet(topic_dir))


def publish_features(spark: SparkSession, features, topic_dir: str, layer: str) -> int:
    """Append ``(geometry, props, srid)`` features to a topic dir as
    envelopes and return how many were published. ``None`` geometries
    are skipped. Every envelope is built before the dir is touched, so
    a bad feature fails with nothing written. Offsets continue from the
    existing topic size (Kafka-offset parity), so re-delivered keys
    keep produce order."""
    from .envelope import make_envelope
    from ..spatial.wkb import encode_wkb

    envelopes = [
        make_envelope(encode_wkb(geom), props, layer=layer, srid=srid)
        for geom, props, srid in features
        if geom is not None
    ]
    base_off = 0
    if os.path.isdir(topic_dir):
        base_off = spark.read.schema(TOPIC_SCHEMA).parquet(topic_dir).count()
    spark.createDataFrame(
        pd.DataFrame(
            {
                "value": pd.Series(envelopes, dtype=object),
                "offset": range(base_off, base_off + len(envelopes)),
            }
        ),
        schema=TOPIC_SCHEMA,
    ).write.mode("append").parquet(topic_dir)
    return len(envelopes)


def kafka_feature_stream(
    spark: SparkSession, brokers: str, topic: str, starting_offsets: str = "latest"
) -> DataFrame:
    """readStream from a topic of msgpack feature envelopes → decoded
    feature rows (layer, srid, geom_type, wkb, props_json)."""
    raw = envelope_raw_stream(
        spark, brokers=brokers, topic=topic, starting_offsets=starting_offsets
    )
    return decode_feature_stream(raw)


def write_features_to_kafka(
    features: DataFrame, brokers: str, topic: str, checkpoint: str
):
    """writeStream of (wkb, props_json, layer, srid) feature rows as
    msgpack envelopes to a topic. Returns the StreamingQuery."""
    from .envelope import make_envelope

    def encode(iter_pdf):
        for pdf in iter_pdf:
            vals = [
                make_envelope(
                    bytes(r.wkb), json.loads(r.props_json), layer=r.layer, srid=int(r.srid)
                )
                for r in pdf.itertuples(index=False)
            ]
            yield pd.DataFrame({"value": pd.Series(vals, dtype=object)})

    wire = features.mapInPandas(encode, "value binary")
    return (
        wire.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )
