"""Streaming-semantics tests (SURVEY.md §5 item 4): incremental ==
batch for windowed aggregation, and watermark late-drop behavior —
the semantics the DuckDB oracle cannot express."""

from __future__ import annotations

import collections
import math
import os

import pyspark.sql.functions as F
import pytest

from ukis_kafka_spark import api
from ukis_kafka_spark.sources import load_table

from .conftest import SF_SMOKE


def _rows(df, *cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_stateful_count_equals_batch(spark):
    stream_result = api.queries()["s_stateful_count"](spark, SF_SMOKE)
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert _rows(stream_result, "user_id", "n_events") == _rows(batch, "user_id", "n_events")


def test_watermark_drops_late_chunk(spark):
    """The late-injection replay (earliest chunk arrives last) must
    produce strictly fewer counted events than the in-order replay."""
    on_time = api.queries()["s_tumble_watermark"](spark, SF_SMOKE)
    with_late = api.queries()["s_watermark_late"](spark, SF_SMOKE)
    n_on_time = on_time.agg(F.sum("n")).collect()[0][0]
    n_with_late = with_late.agg(F.sum("n")).collect()[0][0]
    assert n_with_late < n_on_time, (
        f"late rows were not dropped: {n_with_late} >= {n_on_time}"
    )


def test_stream_join_equals_batch_range_join(spark):
    stream_result = api.queries()["s_stream_join"](spark, SF_SMOKE)
    e = load_table(spark, SF_SMOKE, "events")
    c = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    batch = c.join(
        p,
        (F.col("user_id") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
    ).select("click_id", "purchase_id", "user_id")
    assert _rows(stream_result, "click_id", "purchase_id") == _rows(
        batch, "click_id", "purchase_id"
    )


def test_stream_join_chunk_count_invariant(spark, monkeypatch):
    """The round-9 replay shave (4 → 2 micro-batches) rests on the
    docstring proof that the inner join's emission set is
    chunk-count-invariant under ts-ordered arrival; pin it by running
    the SAME job at both chunkings and comparing the full sets."""
    from ukis_kafka_spark.streaming import jobs

    at2 = _rows(api.queries()["s_stream_join"](spark, SF_SMOKE),
                "click_id", "purchase_id", "user_id")
    monkeypatch.setattr(jobs, "_STREAM_JOIN_CHUNKS", 4)
    at4 = _rows(api.queries()["s_stream_join"](spark, SF_SMOKE),
                "click_id", "purchase_id", "user_id")
    assert at2 == at4 and len(at2) > 0


def test_fullouter_join_chunk_count_invariant(spark, monkeypatch):
    """Full-outer adds NULL rows whose closure set depends only on the
    FINAL watermark (a function of the total corpus, not the
    chunking) — 2-vs-4 chunk runs must emit identical sets, including
    both NULL classes (asserted non-empty so the invariance claim is
    exercised on the withheld-row logic, not just the matches)."""
    from ukis_kafka_spark.streaming import jobs

    at2 = _rows(api.queries()["s_stream_fullouter_join"](spark, SF_SMOKE),
                "click_id", "purchase_id", "user_id")
    monkeypatch.setattr(jobs, "_STREAM_JOIN_CHUNKS", 4)
    at4 = _rows(api.queries()["s_stream_fullouter_join"](spark, SF_SMOKE),
                "click_id", "purchase_id", "user_id")
    assert at2 == at4
    assert any(c is None for c, _, _ in at2)  # unmatched purchases fired
    assert any(p is None for _, p, _ in at2)  # unmatched clicks fired


def _mem_views(spark) -> set:
    return {
        t.name
        for t in spark.catalog.listTables()
        if t.isTemporary and t.name.startswith("mem_")
    }


def _scratch_dirs(prefix: str) -> set:
    from ukis_kafka_spark.cache import fast_scratch_root

    return {d for d in os.listdir(fast_scratch_root()) if d.startswith(prefix)}


def test_scratch_queries_leave_no_session_state(spark):
    """Memory-sink operators must not grow the session: each call pins
    its result, then drops its ``mem_*`` view and its work dir — the
    three memory-sink shapes (complete-mode aggregate, state-store
    read of the sink's checkpoint, synthetic rate source) leave no
    temp view and no scratch dir behind, and their results stay
    readable."""
    names = ("s_stateful_count", "src_statestore", "s_rate_source")
    views = _mem_views(spark)
    dirs = {n: _scratch_dirs(n + "_") for n in names}
    for name in names:
        assert api.queries()[name](spark, SF_SMOKE).count() > 0
    assert _mem_views(spark) == views
    for name in names:
        assert _scratch_dirs(name + "_") == dirs[name]


def test_scratch_query_cleans_up_when_the_operator_fails(spark, monkeypatch):
    """A failure after the memory run re-raises and still drops the
    operator's view and work dir; a second memory run in one work dir
    fails loudly instead of resuming the first run's checkpoint."""
    import shutil
    import tempfile

    from ukis_kafka_spark.cache import fast_scratch_root
    from ukis_kafka_spark.registry import memory_view
    from ukis_kafka_spark.streaming import jobs

    real = jobs.run_to_memory
    works = []

    def run_then_fail(stream_df, work, mode="append"):
        works.append(work)
        real(stream_df, work, mode)
        raise RuntimeError("sink failed after the run")

    monkeypatch.setattr(jobs, "run_to_memory", run_then_fail)
    with pytest.raises(RuntimeError, match="sink failed after the run"):
        api.queries()["s_stateful_count"](spark, SF_SMOKE)
    assert len(works) == 1 and not os.path.exists(works[0])
    assert not {v for v in _mem_views(spark) if v.startswith("mem_s_stateful_count_")}

    work = tempfile.mkdtemp(prefix="stream_", dir=fast_scratch_root())
    try:
        rate = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 10)
            .option("startTimestamp", 0)
            .load()
        )
        assert real(rate, work).count() == 10
        with pytest.raises(FileExistsError):
            real(rate, work)
    finally:
        spark.catalog.dropTempView(memory_view(work))
        shutil.rmtree(work, ignore_errors=True)


def test_upsert_parquet_semantics(spark, tmp_path):
    from ukis_kafka_spark.sinks.files import upsert_parquet

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    path = str(tmp_path / "t")
    base.write.parquet(path)
    updates = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    upsert_parquet(spark, spark.read.parquet(path), updates, ["k"], path)
    got = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    # idempotency: re-applying the same updates changes nothing
    upsert_parquet(spark, spark.read.parquet(path), updates, ["k"], path)
    assert {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()} == got


def test_upsert_parquet_seq_col_last_write_wins(spark, tmp_path):
    """Duplicate keys within one update batch resolve by highest
    seq_col (Kafka offset-order re-delivery), deterministically."""
    from ukis_kafka_spark.sinks.files import upsert_parquet

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    path = str(tmp_path / "t")
    base.write.parquet(path)
    updates = spark.createDataFrame(
        [(2, "first", 10), (2, "last", 30), (2, "mid", 20), (3, "c", 11)],
        "k long, v string, off long",
    )
    upsert_parquet(spark, spark.read.parquet(path), updates, ["k"], path, seq_col="off")
    got = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "last"), (3, "c")}
    # seq column must not leak into the merged table
    assert set(spark.read.parquet(path).columns) == {"k", "v"}


def test_upsert_parquet_returns_merged_row_count(spark, tmp_path):
    from ukis_kafka_spark.sinks.files import upsert_parquet

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    path = str(tmp_path / "t")
    base.write.parquet(path)
    updates = spark.createDataFrame(
        [(2, "B", 5), (2, "BB", 6), (3, "c", 7), (4, "d", 8)], "k long, v string, off long"
    )
    n = upsert_parquet(spark, spark.read.parquet(path), updates, ["k"], path, seq_col="off")
    assert isinstance(n, int)
    assert n == spark.read.parquet(path).count() == 4
    no_seq = spark.createDataFrame([(5, "e")], "k long, v string")
    n = upsert_parquet(spark, spark.read.parquet(path), no_seq, ["k"], path)
    assert n == spark.read.parquet(path).count() == 5


def test_upsert_parquet_merge_is_one_window_one_shuffle(spark):
    """With seq_col, the dedup of the updates and the base-vs-update
    merge share one window over one key exchange."""
    from ukis_kafka_spark.sinks.files import _merge_by_key

    base = spark.createDataFrame([(1, "a")], "k long, v string")
    updates = spark.createDataFrame([(1, "A", 3), (1, "AA", 4)], "k long, v string, off long")
    plan = (
        _merge_by_key(base, updates, ["k"], seq_col="off")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    windows = [l for l in plan.splitlines() if "Window [" in l]
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning(k" in l]
    assert len(windows) == 1, plan
    assert len(exchanges) == 1, plan


def test_upsert_parquet_crash_safe_swap_leaves_no_debris(spark, tmp_path):
    from ukis_kafka_spark.sinks.files import upsert_parquet

    base = spark.createDataFrame([(1, "a")], "k long, v string")
    path = str(tmp_path / "t")
    base.write.parquet(path)
    upsert_parquet(
        spark,
        spark.read.parquet(path),
        spark.createDataFrame([(1, "A")], "k long, v string"),
        ["k"],
        path,
    )
    assert not os.path.exists(path + "._old") and not os.path.exists(path + "._new")
    assert {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()} == {(1, "A")}


def test_postgis_sink_sql_generation(spark):
    from pyspark.sql import types as T

    from ukis_kafka_spark.sinks.postgis import create_table_ddl, upsert_sql

    schema = T.StructType(
        [
            T.StructField("fid", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("area", T.DoubleType()),
            T.StructField("geom", T.BinaryType()),
        ]
    )
    ddl = create_table_ddl(schema, "features", ["fid"], geom_col="geom")
    assert '"fid" BIGINT' in ddl and '"name" TEXT' in ddl
    assert '"geom" GEOMETRY' in ddl
    assert "PRIMARY KEY (\"fid\")" in ddl
    assert ddl.startswith("CREATE TABLE IF NOT EXISTS")

    sql = upsert_sql(schema, "features", ["fid"], geom_col="geom")
    assert "ST_GeomFromWKB(%s, 4326)" in sql
    assert 'ON CONFLICT ("fid") DO UPDATE' in sql
    assert '"name" = EXCLUDED."name"' in sql
    assert '"fid" = EXCLUDED' not in sql  # keys never updated


def test_envelope_source_selects_file_twin_offline(spark, tmp_path):
    """envelope_raw_stream is the one Kafka/file switch: without
    brokers it must return a file-stream over the wire dir; with no
    brokers AND no wire_dir it must refuse loudly (silently producing
    an empty stream would corrupt a pipeline)."""
    import os

    import pytest as _pytest

    from ukis_kafka_spark.sources.kafka import ENV_BROKERS, envelope_raw_stream

    assert ENV_BROKERS not in os.environ, "offline harness must not set brokers"
    wire = str(tmp_path / "wire")
    spark.createDataFrame([(b"\x01",)], "value binary").write.parquet(wire)
    stream = envelope_raw_stream(spark, wire_dir=wire)
    assert stream.isStreaming and stream.columns == ["value"]
    plan = stream._jdf.queryExecution().logical().toString()
    assert "format: parquet" in plan and "kafka" not in plan.lower()
    with _pytest.raises(ValueError, match="UKIS_KAFKA_BROKERS"):
        envelope_raw_stream(spark)


def test_envelope_source_kafka_online(tmp_path):
    """Online half of the switch — runs only where a broker (and the
    spark-sql-kafka connector jar, see README "Going online") exists;
    the offline harness records the skip. End-to-end: produce envelopes
    to the topic with the repo's own msgpack codec via the Kafka batch
    sink, read them back through envelope_raw_stream, and assert the
    decoded rows match the file-twin decode of the same bytes."""
    import os

    import pytest as _pytest

    from ukis_kafka_spark.sources.kafka import ENV_BROKERS

    brokers = os.environ.get(ENV_BROKERS)
    if not brokers:
        _pytest.skip(f"no {ENV_BROKERS} configured (offline harness)")
    from pyspark.sql import SparkSession

    from ukis_kafka_spark.sources.envelope import make_envelope
    from ukis_kafka_spark.sources.kafka import decode_feature_stream, envelope_raw_stream
    from ukis_kafka_spark.spatial.wkb import encode_wkb

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    topic = "ukis-features-test"
    envelopes = [
        make_envelope(
            encode_wkb(("POINT", (float(i), float(2 * i)))),
            {"fid": i, "name": f"f{i}"},
            layer="smoke",
        )
        for i in range(10)
    ]
    # produce through Spark's Kafka batch sink (same jar the stream needs)
    spark.createDataFrame([(e,) for e in envelopes], "value binary").write.format(
        "kafka"
    ).option("kafka.bootstrap.servers", brokers).option("topic", topic).save()

    stream = envelope_raw_stream(spark, topic=topic)
    assert stream.isStreaming and stream.columns == ["value"]
    decoded = decode_feature_stream(stream)
    q = (
        decoded.writeStream.format("memory")
        .queryName("kafka_online_smoke")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["props_json"]
        for r in spark.sql("SELECT * FROM kafka_online_smoke").collect()
    }
    # file-twin decode of the identical bytes
    wire = str(tmp_path / "wire")
    spark.createDataFrame([(e,) for e in envelopes], "value binary").write.parquet(wire)
    twin = decode_feature_stream(envelope_raw_stream(spark, wire_dir=wire))
    q2 = (
        twin.writeStream.format("memory")
        .queryName("kafka_twin_smoke")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    want = {
        r["props_json"] for r in spark.sql("SELECT * FROM kafka_twin_smoke").collect()
    }
    assert got == want and len(want) == 10


def test_stream_left_join_closure(spark):
    """Left-outer stream join: matched rows equal the inner stream
    join; NULL extensions exist, never contradict a match, and respect
    the min-of-both-watermarks closure rule (a click whose match
    window was still open when the stream drained must stay
    withheld)."""
    left = api.queries()["s_stream_left_join"](spark, SF_SMOKE)
    inner = api.queries()["s_stream_join"](spark, SF_SMOKE)
    matched = left.where(F.col("purchase_id").isNotNull())
    assert _rows(matched, "click_id", "purchase_id") == _rows(
        inner, "click_id", "purchase_id"
    )
    nulls = {r.click_id for r in left.where(F.col("purchase_id").isNull()).collect()}
    assert nulls, "no NULL-extended rows: the outer path never fired"
    assert not nulls & {r.click_id for r in inner.collect()}, (
        "a NULL row contradicts an emitted match"
    )
    e = load_table(spark, SF_SMOKE, "events")
    wm = (
        e.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("mx"))
        .agg(F.min("mx").alias("w"))
        .collect()[0][0]
    )
    still_open = {
        r.event_id
        for r in e.where(
            (F.col("event_type") == "click")
            & (F.col("ts") + F.expr("INTERVAL 1 HOUR") >= F.lit(wm) - F.expr("INTERVAL 10 MINUTE"))
        ).collect()
    }
    assert not nulls & still_open, "emitted a NULL row before its window closed"


def test_compaction_reduces_to_one_file_per_partition(spark, tmp_path):
    from ukis_kafka_spark.sinks.files import compact_partitioned
    from ukis_kafka_spark.sources import load_table
    from .conftest import SF_SMOKE

    frag = str(tmp_path / "frag")
    out = str(tmp_path / "out")
    (
        load_table(spark, SF_SMOKE, "events")
        .select("event_id", "event_type", "value")
        .repartition(8)
        .write.partitionBy("event_type")
        .parquet(frag)
    )
    before, after = compact_partitioned(spark, frag, out)
    n_types = load_table(spark, SF_SMOKE, "events").select("event_type").distinct().count()
    assert before > after, (before, after)
    assert after == n_types  # exactly one file per partition value
    # row identity preserved
    assert (
        spark.read.parquet(out).count()
        == load_table(spark, SF_SMOKE, "events").count()
    )


def test_parquet_bloom_filter_is_physically_written(spark, tmp_path):
    """Same rows written with and without the bloom option must differ
    in on-disk bytes (the filter occupies space) while agreeing in
    content — proving the option reaches the parquet writer."""
    import os

    from ukis_kafka_spark.sources import load_table
    from .conftest import SF_SMOKE

    cust = load_table(spark, SF_SMOKE, "customer").coalesce(1)
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloom")
    # dictionary off in BOTH writes so the only byte delta is the bloom
    cust.write.option("parquet.enable.dictionary#c_name", "false").parquet(plain)
    (
        cust.write.option("parquet.enable.dictionary#c_name", "false")
        .option("parquet.bloom.filter.enabled#c_name", "true")
        .option("parquet.bloom.filter.expected.ndv#c_name", "16384")
        .parquet(bloomed)
    )

    def pq_bytes(d):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )

    assert pq_bytes(bloomed) > pq_bytes(plain)
    assert spark.read.parquet(bloomed).count() == spark.read.parquet(plain).count()


def test_suffstats_stream_equals_closed_batch_windows(spark):
    """Streamed (n, s, ss) windows must equal the batch aggregate over
    the same closed windows, and the scaled variance derived from the
    streamed state must be non-negative (it is N^2 * var_pop)."""
    stream_result = api.queries()["s_suffstats_stream"](spark, SF_SMOKE)
    x = F.floor(F.col("value") * 100).cast("long")
    ev = load_table(spark, SF_SMOKE, "events")
    closure = ev.agg(
        (F.floor(F.unix_timestamp(F.max("ts"))) - 600).alias("wm")
    ).collect()[0]["wm"]
    batch = (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum(x).alias("s"), F.sum(x * x).alias("ss"))
        .where(F.col("hour_start") + 3600 <= F.lit(closure))
    )
    cols = ("hour_start", "event_type", "n", "s", "ss")
    assert _rows(stream_result, *cols) == _rows(batch, *cols)
    for r in stream_result.collect():
        assert r.n * r.ss - r.s * r.s >= 0


def test_py_stream_sink_commit_is_idempotent(tmp_path):
    """A replayed micro-batch (same batchId after a crash) must
    overwrite its own files, not duplicate rows — the deterministic
    batch-{id}-{task}.jsonl naming is the exactly-once mechanism."""
    import json
    import os

    from ukis_kafka_spark.sources.pydatasource import _JsonlStreamWriter

    w = _JsonlStreamWriter(str(tmp_path))
    rows1 = [(1, "click", 1.5), (2, "view", 2.5)]
    m1 = w.write(iter(rows1))
    w.commit([m1], batchId=7)
    # crash-replay of batch 7 with identical content
    m2 = w.write(iter(rows1))
    w.commit([m2], batchId=7)
    files = sorted(os.listdir(tmp_path))
    assert files == ["batch-00007-00000.jsonl"]
    got = [json.loads(l) for l in open(tmp_path / files[0])]
    assert [g["event_id"] for g in got] == [1, 2]


def test_py_stream_sink_abort_removes_temp(tmp_path):
    import os

    from ukis_kafka_spark.sources.pydatasource import _JsonlStreamWriter

    w = _JsonlStreamWriter(str(tmp_path))
    m = w.write(iter([(1, "click", 1.0)]))
    assert os.path.exists(m.tmp_path)
    w.abort([m], batchId=3)
    assert os.listdir(tmp_path) == []


# ---- round-4 continuation-2 streaming invariants ---------------------


def test_stream_semi_join_emits_each_click_once(spark):
    from ukis_kafka_spark import api

    from .conftest import SF_SMOKE

    rows = api.queries()["s_stream_semi_join"](spark, SF_SMOKE).collect()
    ids = [r.click_id for r in rows]
    assert len(ids) == len(set(ids)), "semi join duplicated a left row"


def test_cdc_apply_tombstone_semantics(spark):
    from ukis_kafka_spark import api

    from .conftest import SF_SMOKE

    rows = api.queries()["s_cdc_apply"](spark, SF_SMOKE).collect()
    assert rows, "CDC log empty"
    for r in rows:
        # deleted keys carry the explicit tombstone encoding
        assert (r.live == 0) == (r.value_centi == -1)
    # the log's last_event_id is strictly monotone per user
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r.last_event_id)
    for ids in by_user.values():
        assert len(ids) == len(set(ids)), "same state emitted twice"


def test_stream_minmax_scale_bounds(spark):
    from ukis_kafka_spark import api

    from .conftest import SF_SMOKE

    rows = api.queries()["s_stream_minmax_scale"](spark, SF_SMOKE).collect()
    assert rows
    assert all(0 <= r.scaled_permille <= 1000 for r in rows)


def test_join_agg_chain_is_prefix_of_batch(spark):
    """Every emitted (window, count) must match the batch join's count
    for that window — streaming closure only WITHHOLDS windows, never
    alters counts."""
    from pyspark.sql import functions as F

    from ukis_kafka_spark import api
    from ukis_kafka_spark.sources import load_table

    from .conftest import SF_SMOKE

    got = {
        r.hour_start: r.n_pairs
        for r in api.queries()["s_join_agg_chain"](spark, SF_SMOKE).collect()
    }
    e = load_table(spark, SF_SMOKE, "events")
    c = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    batch = (
        c.join(
            p,
            (F.col("user_id") == F.col("pu"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy(F.unix_timestamp(F.date_trunc("hour", "cts")).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    full = {r.h: r.n for r in batch.collect()}
    assert got, "no windows emitted"
    for h, n in got.items():
        assert full[h] == n, f"window {h}: stream {n} != batch {full[h]}"


def test_rocksdb_state_matches_batch_and_engages_provider(spark, tmp_path):
    """s_rocksdb_state must (a) equal the batch aggregate, (b) leave
    the session's provider conf untouched, and (c) actually ENGAGE
    RocksDB — asserted by running the same shape against a kept
    checkpoint and finding RocksDB snapshot artifacts (zip/changelog)
    instead of the HDFS-backed provider's N.delta files."""
    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, "unset")
    stream_result = api.queries()["s_rocksdb_state"](spark, SF_SMOKE)
    assert spark.conf.get(key, "unset") == before  # restored

    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).cast("long").alias("v_centi"),
            F.max("event_id").alias("max_id"),
        )
    )
    cols = ("user_id", "n_events", "v_centi", "max_id")
    assert _rows(stream_result, *cols) == _rows(batch, *cols)

    # (c): tiny rate stream with the provider set, checkpoint kept
    spark.conf.set(
        key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    try:
        ck = str(tmp_path / "ck")
        df = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 50)
            .load()
        )
        q = (
            df.groupBy((F.col("value") % 5).alias("k")).count()
            .writeStream.format("noop").outputMode("complete")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(key, before) if before != "unset" else spark.conf.unset(key)
    state_files = [
        f for r, _, fs in os.walk(os.path.join(ck, "state")) for f in fs
    ]
    assert any(f.endswith((".zip", ".changelog")) for f in state_files), state_files
    assert not any(f.endswith(".delta") for f in state_files), state_files


def test_postgis_sink_online(spark):
    """Online twin of the PostGIS sink (VERDICT r5 item 4) — runs only
    where a real database (UKIS_PG_DSN) and a DB-API driver exist; the
    offline harness records the skip. End-to-end against live
    infrastructure: create-from-inferred-schema DDL, upsert a geometry
    batch TWICE (R9 at-least-once: re-delivery must be absorbed
    idempotently), assert row count and a WKB round-trip through
    ST_AsBinary."""
    import os

    import pytest as _pytest

    dsn = os.environ.get("UKIS_PG_DSN")
    if not dsn:
        _pytest.skip("no UKIS_PG_DSN configured (offline harness)")
    try:
        import psycopg2  # noqa: F401

        def connect():
            return psycopg2.connect(dsn)
    except ImportError:
        _pytest.skip("no DB-API driver (pip install psycopg2-binary)")

    from ukis_kafka_spark.sinks.postgis import postgis_batch_writer
    from ukis_kafka_spark.spatial.wkb import encode_wkb

    table = "ukis_online_smoke"
    conn = connect()
    try:
        with conn:
            conn.cursor().execute(f'DROP TABLE IF EXISTS "{table}"')
    finally:
        conn.close()

    rows = [
        (i, f"f{i}", bytearray(encode_wkb(("POINT", (float(i), float(2 * i))))))
        for i in range(10)
    ]
    batch = spark.createDataFrame(rows, "fid BIGINT, name STRING, geom BINARY")
    writer = postgis_batch_writer(table, ["fid"], connect, geom_col="geom")
    writer(batch, 0)
    writer(batch, 1)  # re-delivery: ON CONFLICT must absorb it

    conn = connect()
    try:
        cur = conn.cursor()
        cur.execute(f'SELECT count(*) FROM "{table}"')
        assert cur.fetchone()[0] == 10
        cur.execute(
            f'SELECT ST_AsBinary(geom) FROM "{table}" WHERE fid = 3'
        )
        assert bytes(cur.fetchone()[0]) == encode_wkb(("POINT", (3.0, 6.0)))
    finally:
        conn.close()


def test_kafka_source_online(spark):
    """Online twin of the Kafka seam (VERDICT r6 item 5) — runs only
    where a real broker (UKIS_KAFKA_BROKERS), a Python Kafka producer
    client, and the spark-sql-kafka connector jar all exist; the
    offline harness records the skip (symmetric with
    test_postgis_sink_online). Complements (does not duplicate)
    test_envelope_source_kafka_online above: that test produces
    through Spark's OWN Kafka batch sink — a same-jar round-trip —
    while this one validates interop against an INDEPENDENT producer
    client (kafka-python/confluent-kafka, the way the reference's
    non-Spark producers write), and drives the full src_kafka_shape
    aggregate rather than just the decode. End-to-end: produce the
    msgpack envelope corpus to a fresh unique topic, read it back
    through the SAME envelope_raw_stream(format("kafka")) →
    decode_feature_stream path the file twin drives offline, and
    assert the decoded per-type aggregate equals what was produced."""
    import os
    import tempfile
    import uuid

    import pytest as _pytest

    brokers = os.environ.get("UKIS_KAFKA_BROKERS")
    if not brokers:
        _pytest.skip("no UKIS_KAFKA_BROKERS configured (offline harness)")
    try:
        from kafka import KafkaProducer  # kafka-python

        def send_all(topic, payloads):
            prod = KafkaProducer(bootstrap_servers=brokers.split(","))
            for p in payloads:
                prod.send(topic, p)
            prod.flush()
            prod.close()
    except ImportError:
        try:
            from confluent_kafka import Producer

            def send_all(topic, payloads):
                prod = Producer({"bootstrap.servers": brokers})
                for p in payloads:
                    prod.produce(topic, p)
                prod.flush()
        except ImportError:
            _pytest.skip(
                "no Kafka client (pip install kafka-python or confluent-kafka)"
            )

    from ukis_kafka_spark.sources.envelope import make_envelope
    from ukis_kafka_spark.sources.kafka import (
        decode_feature_stream,
        envelope_raw_stream,
    )
    from ukis_kafka_spark.spatial.wkb import encode_wkb

    topic = f"ukis-online-smoke-{uuid.uuid4().hex[:8]}"
    types = ["view", "click", "purchase"]
    payloads = [
        make_envelope(
            encode_wkb(("POINT", (float(i % 360) - 180.0, float(i % 180) - 90.0))),
            {"event_id": i, "event_type": types[i % 3], "value": float(i) / 4},
            layer="events",
        )
        for i in range(60)
    ]
    send_all(topic, payloads)

    try:
        raw = envelope_raw_stream(spark, brokers=brokers, topic=topic)
    except Exception as exc:  # connector jar absent
        if "Failed to find data source" in str(exc):
            _pytest.skip(
                "no spark-sql-kafka connector jar (launch with --packages "
                "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>)"
            )
        raise

    from pyspark.sql import functions as F

    feats = decode_feature_stream(raw)
    decoded = feats.select(
        F.from_json(
            "props_json", "event_id long, event_type string, value double"
        ).alias("p")
    ).select("p.event_id", "p.event_type", "p.value")
    agg = decoded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,10)")).cast("double").alias("value_sum"),
    )
    sink = f"kafka_online_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as ck:
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            r["event_type"]: (r["n"], r["value_sum"])
            for r in spark.sql(f"SELECT * FROM {sink}").collect()
        }
    want = {}
    for i in range(60):
        n, s = want.get(types[i % 3], (0, 0.0))
        want[types[i % 3]] = (n + 1, s + float(i) / 4)
    assert {k: (n, round(s, 6)) for k, (n, s) in got.items()} == {
        k: (n, round(s, 6)) for k, (n, s) in want.items()
    }


def test_grad_accum_stream_matches_batch_rederivation(spark):
    """The streaming kernel's closed/open-step accounting re-derived
    in pandas over the same events, ordered by event_id per user —
    chunking must not matter (the monotone-max finalization rule), so
    the batch re-derivation IS the expected final table."""
    from ukis_kafka_spark.streaming.jobs import _SGA_BUDGET

    per_user = collections.defaultdict(list)
    for r in load_table(spark, SF_SMOKE, "events").collect():
        per_user[r.user_id].append((r.event_id, int(math.floor(r.value))))
    expect = {}
    for uid, evs in per_user.items():
        evs.sort()
        cum = 0
        for _, v in evs:
            s = cum // _SGA_BUDGET
            k = (uid, s)
            n, m = expect.get(k, (0, 0))
            expect[k] = (n + 1, m + v)
            cum += v
    got = {(r.user_id, r.step_id): (r.n_events, r.step_mass)
           for r in api.queries()["s_grad_accum_stream"](spark, SF_SMOKE).collect()}
    assert got == expect
    # >= 3 steps per user at smoke scale (measured corpus fact)
    per_user_steps = collections.Counter(uid for uid, _ in expect)
    assert min(per_user_steps.values()) >= 3
