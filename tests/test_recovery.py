"""Checkpoint-recovery / exactly-once test: a streaming aggregation is
stopped mid-stream and restarted from its checkpoint; the final state
must equal the batch answer with no double counting — the guarantee
that replaces the reference's at-least-once + idempotent-upsert
pattern (SURVEY.md §3.2)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyspark.sql.functions as F

from ukis_kafka_spark import cache
from ukis_kafka_spark.sources import load_table
from ukis_kafka_spark.streaming.jobs import replay_events_as_stream

from .conftest import SF_SMOKE


def test_checkpoint_recovery_exactly_once(spark):
    work = tempfile.mkdtemp(prefix="stream_", dir=cache.fast_scratch_root())
    try:
        # stage all 8 chunks, then withhold the last 4
        replay_events_as_stream(spark, SF_SMOKE, work)
        src = os.path.join(work, "src")
        held = os.path.join(work, "held")
        os.makedirs(held)
        files = sorted(os.listdir(src))
        for f in files[4:]:
            shutil.move(os.path.join(src, f), os.path.join(held, f))

        ckpt = os.path.join(work, "ckpt")

        def run_once(name: str):
            stream = (
                spark.readStream.schema(
                    "event_id long, ts timestamp, user_id long, event_type string, "
                    "value double, props string"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            counts = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
            q = (
                counts.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return {r["event_type"]: r["n"] for r in spark.table(name).collect()}

        partial = run_once("recovery_phase1")
        # "crash": the query is gone; deliver the rest and restart from
        # the SAME checkpoint — processed files must not be re-counted
        for f in files[4:]:
            shutil.move(os.path.join(held, f), os.path.join(src, f))
        final = run_once("recovery_phase2")

        batch = {
            r["event_type"]: r["n"]
            for r in load_table(spark, SF_SMOKE, "events")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert final == batch, f"recovered state diverged: {final} vs batch {batch}"
        assert sum(partial.values()) < sum(final.values())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_schema_inference_from_props(spark):
    from ukis_kafka_spark.sources.schema_infer import infer_props_schema, project_props

    df = spark.createDataFrame(
        [
            ('{"k": 87, "tag": "a", "score": 1.5, "ok": true}',),
            ('{"k": 12, "tag": "b", "score": 2, "ok": false}',),
            ('{"k": 5, "extra": "only-here"}',),
        ],
        "props_json string",
    )
    schema = infer_props_schema(df)
    assert schema == {
        "k": "bigint",
        "tag": "string",
        "score": "double",  # int+float mix widens to double
        "ok": "boolean",
        "extra": "string",
    }
    out = project_props(df, schema)
    rows = out.orderBy("k").collect()
    assert rows[0]["k"] == 5 and rows[0]["extra"] == "only-here" and rows[0]["tag"] is None
    assert rows[2]["score"] == 1.5 and rows[2]["ok"] is True

    # the corpus's events.props infers its integer key
    e = load_table(spark, SF_SMOKE, "events").withColumnRenamed("props", "props_json")
    assert infer_props_schema(e) == {"k": "bigint"}


def test_stateful_cdc_recovers_groupstate(spark):
    """applyInPandasWithState recovery: the CDC-apply job is killed
    mid-stream and restarted from its checkpoint; the restored
    GroupState must continue from the persisted (last_id, live, val)
    tuples — the final per-key state must equal the batch last-writer
    answer, and no batch may be applied twice (last_event_id strictly
    advances)."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    work = tempfile.mkdtemp(prefix="stream_", dir=cache.fast_scratch_root())
    try:
        replay_events_as_stream(spark, SF_SMOKE, work)
        src = os.path.join(work, "src")
        held = os.path.join(work, "held")
        os.makedirs(held)
        files = sorted(os.listdir(src))
        for f in files[4:]:
            shutil.move(os.path.join(src, f), os.path.join(held, f))
        ckpt = os.path.join(work, "ckpt_cdc")

        def apply_ops(key, pdfs, state: GroupState):
            last_id, live, val = state.get if state.exists else (-1, 0, -1)
            best = None
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                idx = pdf["event_id"].idxmax()
                row = pdf.loc[idx]
                if best is None or row["event_id"] > best["event_id"]:
                    best = row
            if best is not None and int(best["event_id"]) > last_id:
                last_id = int(best["event_id"])
                if best["event_type"] == "signup":
                    live, val = 0, -1
                else:
                    live, val = 1, int(math.floor(float(best["value"]) * 100))
            state.update((last_id, live, val))
            yield pd.DataFrame(
                {"user_id": [key[0]], "live": [live],
                 "value_centi": [val], "last_event_id": [last_id]}
            )

        log_dir = os.path.join(work, "cdc_log")

        def run_once(name: str):
            stream = (
                spark.readStream.schema(
                    "event_id long, ts timestamp, user_id long, "
                    "event_type string, value double, props string"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            updates = (
                stream.select("event_id", "user_id", "event_type", "value")
                .groupBy("user_id")
                .applyInPandasWithState(
                    apply_ops,
                    outputStructType=(
                        "user_id long, live int, value_centi long,"
                        " last_event_id long"
                    ),
                    stateStructType="last_id long, live int, val long",
                    outputMode="update",
                    timeoutConf=GroupStateTimeout.NoTimeout,
                )
            )

            # memory sink cannot recover an update-mode query from a
            # checkpoint; foreachBatch appending idempotent per-batch
            # parquet parts can (the production-shaped sink anyway)
            def handle(batch_df, batch_id):
                batch_df.write.mode("overwrite").parquet(
                    os.path.join(log_dir, f"{name}_batch={batch_id}")
                )

            q = (
                updates.writeStream.foreachBatch(handle)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            import glob

            parts = glob.glob(os.path.join(log_dir, f"{name}_batch=*"))
            if not parts:
                return []
            return spark.read.parquet(*parts).collect()

        phase1 = run_once("cdc_rec_1")
        for f in files[4:]:
            shutil.move(os.path.join(held, f), os.path.join(src, f))
        phase2 = run_once("cdc_rec_2")

        # final state per user = last emitted row across both phases
        final = {}
        for r in list(phase1) + list(phase2):
            prev = final.get(r.user_id)
            if prev is None or r.last_event_id > prev.last_event_id:
                final[r.user_id] = r
        e = load_table(spark, SF_SMOKE, "events")
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
        batch = {
            r.user_id: r
            for r in e.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .collect()
        }
        assert set(final) == set(batch)
        for uid, fr in final.items():
            br = batch[uid]
            assert fr.last_event_id == br.event_id, uid
            expect_live = 0 if br.event_type == "signup" else 1
            assert fr.live == expect_live, uid
        # phase 2 never re-emits a state the checkpoint already owned
        # with a stale id (ids strictly advance per user across phases)
        p1_max = {}
        for r in phase1:
            p1_max[r.user_id] = max(p1_max.get(r.user_id, -1), r.last_event_id)
        for r in phase2:
            assert r.last_event_id >= p1_max.get(r.user_id, -1), r.user_id
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_stateful_subseq_recovers_array_state(spark):
    """Array-valued GroupState recovery: the streaming subsequence
    matcher carries the last 7 values per key as ARRAY state (a
    different state-serialization path than the CDC test's scalars).
    Kill after 4 of 8 chunks, restart from the checkpoint — the union
    of matches must equal the batch sliding scan exactly, including
    any window that SPANS the kill boundary (its first rows live only
    in the restored arrays).  The matcher kernel is a DELIBERATE
    re-implementation of s_subseq_stream's (different threshold, same
    contract) so a production-kernel bug cannot hide here too."""
    import glob

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ukis_kafka_spark.streaming.jobs import _EVENT_SCHEMA

    work = tempfile.mkdtemp(prefix="stream_", dir=cache.fast_scratch_root())
    try:
        replay_events_as_stream(spark, SF_SMOKE, work)
        src = os.path.join(work, "src")
        held = os.path.join(work, "held")
        os.makedirs(held)
        files = sorted(os.listdir(src))
        for f in files[4:]:
            shutil.move(os.path.join(src, f), os.path.join(held, f))
        ckpt = os.path.join(work, "ckpt_subseq")
        log_dir = os.path.join(work, "subseq_log")

        ev = load_table(spark, SF_SMOKE, "events").select(
            "user_id", "event_id", F.floor(F.col("value") * 100).cast("long").alias("v")
        )
        pat_rows = ev.orderBy("user_id", "event_id").limit(8).collect()
        pattern = [int(r["v"]) for r in sorted(pat_rows, key=lambda r: r["event_id"])]
        thresh = 10_000_000_000  # generous: plenty of matches at sf0.001

        def matcher(key, pdfs, state: GroupState):
            ids, vs = ([], [])
            if state.exists:
                pids, pvs = state.get
                ids, vs = [int(x) for x in pids], [int(x) for x in pvs]
            pdf = pd.concat(list(pdfs)).sort_values("event_id")
            out_sid, out_dist = [], []
            evs = np.floor(pdf["value"].to_numpy() * 100).astype("int64")
            for eid, v in zip(pdf["event_id"].to_numpy(), evs):
                ids.append(int(eid))
                vs.append(int(v))
                if len(vs) >= 8:
                    d = sum((a - b) * (a - b) for a, b in zip(vs[-8:], pattern))
                    if d <= thresh:
                        out_sid.append(ids[-8])
                        out_dist.append(d)
            state.update((ids[-7:], vs[-7:]))
            yield pd.DataFrame(
                {"user_id": [key[0]] * len(out_sid), "start_id": out_sid, "dist": out_dist}
            )

        def run_once(name: str):
            stream = (
                spark.readStream.schema(_EVENT_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            matches = (
                stream.select("user_id", "event_id", "value")
                .groupBy("user_id")
                .applyInPandasWithState(
                    matcher,
                    outputStructType="user_id long, start_id long, dist long",
                    stateStructType="ids array<long>, vs array<long>",
                    outputMode="append",
                    timeoutConf=GroupStateTimeout.NoTimeout,
                )
            )

            def handle(batch_df, batch_id):
                batch_df.write.mode("overwrite").parquet(
                    os.path.join(log_dir, f"{name}_batch={batch_id}")
                )

            q = (
                matches.writeStream.foreachBatch(handle)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            parts = glob.glob(os.path.join(log_dir, f"{name}_batch=*"))
            return spark.read.parquet(*parts).collect() if parts else []

        phase1 = run_once("ss_rec_1")
        boundary_files = set(os.listdir(src))
        for f in files[4:]:
            shutil.move(os.path.join(held, f), os.path.join(src, f))
        phase2 = run_once("ss_rec_2")
        got = {(r.user_id, r.start_id, r.dist) for r in list(phase1) + list(phase2)}
        assert len(got) == len(list(phase1)) + len(list(phase2))  # no double-emit

        from pyspark.sql import Window

        w = (
            Window.partitionBy("user_id")
            .orderBy("event_id")
            .rowsBetween(Window.currentRow, 7)
        )
        pat_lit = F.array(*[F.lit(p) for p in pattern])
        batch = (
            ev.withColumn("wv", F.collect_list("v").over(w))
            .where(F.size("wv") == 8)
            .select(
                "user_id",
                F.col("event_id").alias("start_id"),
                F.aggregate(
                    F.zip_with("wv", pat_lit, lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("long"),
                    lambda acc, t: acc + t,
                ).alias("dist"),
            )
            .where(F.col("dist") <= thresh)
        )
        expect = {(r.user_id, r.start_id, r.dist) for r in batch.collect()}
        assert got == expect
        assert expect  # non-vacuous

        # at least one match window must SPAN the restart boundary:
        # its start event arrived in phase 1 but it emitted in phase 2
        p1 = {(r.user_id, r.start_id) for r in phase1}
        spanning = {(r.user_id, r.start_id) for r in phase2} & {
            (r.user_id, r.start_id)
            for r in spark.read.parquet(
                *[os.path.join(src, f) for f in boundary_files]
            )
            .select("user_id", F.col("event_id").alias("start_id"))
            .collect()
        }
        assert spanning and spanning.isdisjoint(p1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
