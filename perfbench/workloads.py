"""The benchmark's workloads: what one pass runs, and how each
operation's output is checked.

A pass is a list of ``Op``s run one at a time (closed loop, one
client). ``Op.run`` is the timed call; ``Op.check`` runs afterwards,
outside the timed region, and returns an error string or None.
"""

from __future__ import annotations

import contextlib
import decimal
import io
import json
import math
import os
import random
import shutil
from dataclasses import dataclass
from typing import Callable

import pandas as pd
import pyarrow.parquet as pq

from . import datagen


@dataclass
class Op:
    name: str  # label in the metric names
    run: Callable[[], object]
    check: Callable[[object], str | None]
    records: int  # input records the operation handles


def norm_cell(v):
    """Cell normalisation for order-insensitive result comparison
    (the same rules as the test suite's oracle comparison)."""
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if hasattr(v, "tolist"):
        return norm_cell(v.tolist())
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    return v


def norm_df(df: pd.DataFrame):
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(v) for v in t) for t in df[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple(str(x) for x in r))
    return cols, rows


def compare(got: pd.DataFrame, want) -> str | None:
    g_cols, g_rows = norm_df(got)
    w_cols, w_rows = want
    if g_cols != w_cols:
        return f"columns {g_cols} != oracle {w_cols}"
    if len(g_rows) != len(w_rows):
        return f"{len(g_rows)} rows != oracle {len(w_rows)}"
    if g_rows != w_rows:
        bad = next(i for i, (a, b) in enumerate(zip(g_rows, w_rows)) if a != b)
        return f"row {bad} differs: {g_rows[bad]} != oracle {w_rows[bad]}"
    return None


class QueryWorkload:
    """Registered queries over the seeded corpus, each checked against
    its DuckDB oracle (run once over the same files before set-up)."""

    names: tuple[str, ...] = ()
    modules: dict[str, str] = {}
    traced: tuple[tuple[str, str], ...] = ()

    def prepare(self, seed: int, work: str) -> None:
        import duckdb

        from ukis_kafka_spark import api

        self.sf_dir = os.path.join(work, "corpus")
        self.rows = datagen.write_corpus(seed, self.sf_dir)
        self.fns = {n: api.queries()[n] for n in self.names}
        con = duckdb.connect()
        try:
            for t in self.rows:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            oracle = api.oracle_sql()
            self.expected = {n: norm_df(con.execute(oracle[n]).fetchdf()) for n in self.names}
        finally:
            con.close()

    def records(self, name: str) -> int:
        return 0

    def ops(self, spark, rng: random.Random) -> list[Op]:
        order = list(self.names)
        rng.shuffle(order)
        return [self._op(spark, n) for n in order]

    def _op(self, spark, name: str) -> Op:
        fn = self.fns[name]
        want = self.expected[name]
        return Op(
            name=name,
            run=lambda: fn(spark, self.sf_dir).toPandas(),
            check=lambda got: compare(got, want),
            records=self.records(name),
        )


class StreamReplay(QueryWorkload):
    names = ("s_stateful_count", "src_kafka_shape", "s_foreach_upsert")
    modules = {n: "streaming.jobs" for n in names}
    traced = (
        ("streaming.jobs", "run_to_memory"),
        ("streaming.jobs", "replay_events_as_stream"),
        ("sinks.files", "upsert_parquet"),
        ("cache", "cache_publish"),
        ("plans", "get_spark"),
    )
    op_metrics = (
        ("triggers", "count"),
        ("input_rows", "count"),
        ("rows_per_s", "1/s"),
        ("state_commit_share", "ratio"),
    )

    def records(self, name: str) -> int:
        return self.rows["events"]  # every job replays the whole events table

    def summary(self, records, passes) -> dict:
        ok = [r for r in records if not r["error"]]
        secs = sum(r["seconds"] for r in ok)
        return {"stream_rows_per_s": (sum(r["records"] for r in ok) / secs if secs else 0.0, "1/s")}


class OperatorMix(QueryWorkload):
    modules = {
        "q_agg_groupby": "operators.aggregates",
        "q_join_theta_range": "operators.joins",
        "q_audience_overlap": "operators.analytics",
        "g_haversine": "spatial.geo",
        "m_near_dedup": "ml.dedup",
        "m_ann_pq": "ml.similarity",
        "u_pandas_udf": "functions.udfs",
    }
    names = tuple(modules)
    traced = (("registry", "checkpoint_df"), ("plans", "get_spark"))
    op_metrics = (("jobs", "count"), ("shuffle_write_bytes", "B"), ("calls_per_s", "1/s"))

    def summary(self, records, passes) -> dict:
        from .stats import median

        return {"mix_pass_s": (median(passes), "s")}


class FeatureIngest:
    """The reference pipeline through ``cli.main``: produce a seeded
    vector layer from GeoJSON and CSV-WKT, upsert it, re-deliver a
    subset with changed properties, upsert again, then export it to
    partitioned parquet and to GeoJSON text sequences."""

    N_FEATURES = 1500
    SAMPLE = 50
    names = (
        "produce",
        "produce-wkt",
        "consume-upsert",
        "produce-redelivery",
        "consume-upsert-redelivery",
        "consume-files",
        "consume-geojson",
    )
    modules = {n: "cli" for n in names}
    traced = (("sinks.files", "upsert_parquet"), ("plans", "get_spark"))
    op_metrics = (("jobs", "count"), ("features_per_s", "1/s"))
    codec_units = {
        "sources.envelope.make_envelope_per_s": "1/s",
        "sources.envelope.read_envelope_per_s": "1/s",
        "sources.envelope.bytes_per_feature": "B",
        "spatial.wkb.encode_wkb_per_s": "1/s",
        "spatial.wkb.decode_wkb_per_s": "1/s",
        "spatial.wkt.parse_wkt_per_s": "1/s",
    }

    def prepare(self, seed: int, work: str) -> None:
        self.layer = datagen.feature_layer(seed, self.N_FEATURES)
        self.files = datagen.write_feature_files(self.layer, os.path.join(work, "features"))
        self.sample = random.Random(seed).sample(range(self.N_FEATURES), self.SAMPLE)
        self.out = os.path.join(work, "ingest")
        self.n_first = len(self.layer.geojson_fids) + len(self.layer.wkt_fids)
        self.n_total = self.n_first + len(self.layer.redelivered)

    def ops(self, spark, rng: random.Random) -> list[Op]:
        from ukis_kafka_spark import cli

        shutil.rmtree(self.out, ignore_errors=True)
        d = {k: os.path.join(self.out, k) for k in ("topic", "table", "files", "geojson")}
        n_geo, n_wkt = len(self.layer.geojson_fids), len(self.layer.wkt_fids)
        n_redo = len(self.layer.redelivered)

        def call(*argv):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                rc = cli.main(list(argv))
            return rc, buf.getvalue()

        def said(n: int, text: str):
            def check(res):
                rc, out = res
                if rc != 0:
                    return f"exit code {rc}"
                return None if text.format(n) in out else f"expected {text.format(n)!r}, got {out!r}"

            return check

        # Fixed pipeline order: the seed picks the data (which features go
        # to which format, which are re-delivered), not the steps, so the
        # per-step job counts repeat (a produce into an existing topic
        # reads it first to continue its offsets).
        produce = [
            Op("produce", lambda: call("produce", "--geojson", self.files["geojson"],
                                              "--topic-dir", d["topic"], "--layer", "features"),
               said(n_geo, "produced {} features"), n_geo),
            Op("produce-wkt", lambda: call("produce-wkt", "--csv", self.files["wkt"],
                                                  "--topic-dir", d["topic"], "--layer", "features"),
               said(n_wkt, "produced {} features"), n_wkt),
        ]
        upsert = ("consume-upsert", "--topic-dir", d["topic"], "--table", d["table"], "--key", "fid")
        return produce + [
            Op("consume-upsert", lambda: call(*upsert),
               said(self.N_FEATURES, "now {} rows"), self.n_first),
            Op("produce-redelivery",
               lambda: call("produce", "--geojson", self.files["redelivery"],
                            "--topic-dir", d["topic"], "--layer", "features"),
               said(n_redo, "produced {} features"), n_redo),
            Op("consume-upsert-redelivery", lambda: call(*upsert),
               lambda res: said(self.N_FEATURES, "now {} rows")(res) or self._check_table(d["table"]),
               self.n_total),
            Op("consume-files",
               lambda: call("consume-files", "--topic-dir", d["topic"], "--out", d["files"]),
               lambda res: said(self.n_total, "wrote {} features")(res)
               or self._check_count(pq.read_table(d["files"]).num_rows, "files"),
               self.n_total),
            Op("consume-geojson",
               lambda: call("consume-geojson", "--topic-dir", d["topic"], "--out", d["geojson"]),
               lambda res: said(self.n_total, "exported {} features")(res)
               or self._check_geojson(d["geojson"]),
               self.n_total),
        ]

    def _check_count(self, n: int, what: str) -> str | None:
        return None if n == self.n_total else f"{what}: {n} features != {self.n_total} produced"

    def _check_table(self, table: str) -> str | None:
        from ukis_kafka_spark.spatial.wkb import encode_wkb

        t = pq.read_table(table, columns=["fid", "props_json", "wkb"]).to_pydict()
        fids = [int(f) for f in t["fid"]]
        if len(set(fids)) != len(fids) or len(fids) != self.N_FEATURES:
            return f"table has {len(fids)} rows for {len(set(fids))} fids, want {self.N_FEATURES}"
        row = {f: i for i, f in enumerate(fids)}
        for f, props in self.layer.redelivered.items():
            got = json.loads(t["props_json"][row[f]])
            if got != props:
                return f"fid {f}: {got} is not the re-delivered {props}"
        for f in self.sample:
            if bytes(t["wkb"][row[f]]) != encode_wkb(self.layer.geoms[f]):
                return f"fid {f}: geometry does not round-trip byte-equal"
        return None

    def _check_geojson(self, out: str) -> str | None:
        lines = []
        for name in sorted(os.listdir(out)):
            if name.startswith("part-"):
                with open(os.path.join(out, name)) as fh:
                    lines += fh.read().splitlines()
        if (err := self._check_count(len(lines), "geojson")) is not None:
            return err
        by_fid = {}
        for line in lines:
            feat = json.loads(line)
            by_fid[feat["properties"]["fid"]] = feat["geometry"]
        for f in self.sample:
            if by_fid.get(f) != datagen.geojson_geometry(self.layer.geoms[f]):
                return f"fid {f}: exported GeoJSON geometry differs from the input"
        return None

    def summary(self, records, passes) -> dict:
        """The pipeline's user-facing throughputs, in features per
        second of the steps that move them."""

        def rate(names):
            mine = [r for r in records if r["op"] in names and not r["error"]]
            secs = sum(r["seconds"] for r in mine)
            return (sum(r["records"] for r in mine) / secs if secs else 0.0), "1/s"

        return {
            "produce_features_per_s": rate({"produce", "produce-wkt", "produce-redelivery"}),
            "upsert_features_per_s": rate({"consume-upsert", "consume-upsert-redelivery"}),
            "export_features_per_s": rate({"consume-files", "consume-geojson"}),
        }

    def codec_metrics(self, reps: int = 3) -> dict:
        """In-process codec calls per second over this layer's own
        features (median of ``reps`` sweeps), and the mean envelope size."""
        import time

        from ukis_kafka_spark.sources.envelope import make_envelope, read_envelope
        from ukis_kafka_spark.spatial.wkb import decode_wkb, encode_wkb
        from ukis_kafka_spark.spatial.wkt import format_wkt, parse_wkt

        from .stats import median

        geoms, props = self.layer.geoms, self.layer.props
        wkts = [format_wkt(g) for g in geoms]
        wkbs = [encode_wkb(g) for g in geoms]
        envs = [make_envelope(w, p, layer="features") for w, p in zip(wkbs, props)]

        def calls_per_s(fn, items):
            runs = []
            for _ in range(reps):
                t0 = time.perf_counter()
                for it in items:
                    fn(it)
                runs.append(len(items) / (time.perf_counter() - t0))
            return median(runs)

        return {
            "spatial.wkb.encode_wkb_per_s": calls_per_s(encode_wkb, geoms),
            "spatial.wkb.decode_wkb_per_s": calls_per_s(decode_wkb, wkbs),
            "spatial.wkt.parse_wkt_per_s": calls_per_s(parse_wkt, wkts),
            "sources.envelope.make_envelope_per_s": calls_per_s(
                lambda wp: make_envelope(wp[0], wp[1], layer="features"), list(zip(wkbs, props))),
            "sources.envelope.read_envelope_per_s": calls_per_s(read_envelope, envs),
            "sources.envelope.bytes_per_feature": sum(map(len, envs)) / len(envs),
        }


WORKLOADS = {
    "feature_ingest": FeatureIngest,
    "stream_replay": StreamReplay,
    "operator_mix": OperatorMix,
}
