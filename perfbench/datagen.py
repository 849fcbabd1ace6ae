"""Seeded synthetic inputs for the benchmark.

Everything here is a pure function of the seed: the corpus tables (the
schema of the package's ``sources.TABLES`` corpus, at about a tenth of
the sf0.1 row counts) and the vector feature layer the CLI workload
ingests. The same seed writes byte-identical files; the package only
ever sees the files.
"""

from __future__ import annotations

import csv
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the corpus the stream and operator workloads read.
CORPUS_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
N_USERS = 150
EMBED_DIM = 64
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_US_PER_DAY = 86_400_000_000


def _ts_us(year: int, month: int, day: int) -> int:
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us").astype(np.int64))


def _days(rng, n: int, first: tuple, last: tuple) -> pa.Array:
    lo, hi = _ts_us(*first) // _US_PER_DAY, _ts_us(*last) // _US_PER_DAY
    return pa.array(rng.integers(lo, hi + 1, n) * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def corpus_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed % (1 << 63), 1])
    n = CORPUS_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(segments, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    adj = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    n_part = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    n_ord = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    n_li = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n["supplier"], n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, (1995, 1, 2), (2001, 11, 4)),
        }
    )
    n_ev = n["events"]
    # distinct microsecond timestamps over 30 days, event_id in ts order
    offsets = np.sort(rng.choice(30 * _US_PER_DAY, n_ev, replace=False))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(_ts_us(2024, 1, 1) + offsets, pa.timestamp("us")),
            "user_id": rng.integers(0, N_USERS, n_ev),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_doc = n["documents"]
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_VOCAB, int(rng.integers(10, 101)))))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_doc, p=[0.15, 0.4, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    n_emb = n["embeddings"]
    vecs = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return t


def write_corpus(seed: int, sf_dir: str) -> dict[str, int]:
    """Write the seeded corpus as ``<sf_dir>/<table>.parquet``; returns
    the row count of each table."""
    os.makedirs(sf_dir, exist_ok=True)
    counts = {}
    for name, table in corpus_tables(seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


@dataclass
class FeatureLayer:
    """The vector layer feature_ingest pushes through the CLI.

    ``geoms[fid]`` uses the package's geometry model (nested tuples);
    ``props[fid]`` is the first delivery, ``redelivered[fid]`` the
    changed properties of the re-delivered subset."""

    geoms: list
    props: list
    geojson_fids: list
    wkt_fids: list
    redelivered: dict


def feature_layer(seed: int, n: int) -> FeatureLayer:
    rng = np.random.default_rng([seed % (1 << 63), 2])
    geoms, props = [], []
    for fid in range(n):
        cx, cy = float(rng.uniform(-170, 170)), float(rng.uniform(-80, 80))
        if rng.random() < 0.5:
            geoms.append(("POINT", (round(cx, 6), round(cy, 6))))
        else:
            k = int(rng.integers(4, 201))  # ring vertices, closing one included
            ang = np.sort(rng.uniform(0, 2 * np.pi, k - 1))
            rad = rng.uniform(0.01, 0.5, k - 1)
            xs = np.round(cx + rad * np.cos(ang), 6).tolist()
            ys = np.round(cy + rad * np.sin(ang), 6).tolist()
            ring = list(zip(xs, ys))
            geoms.append(("POLYGON", (tuple(ring + ring[:1]),)))
        props.append({"fid": fid, "name": f"f-{fid}-{_word(rng)}", "score": _score(rng)})
    order = rng.permutation(n)
    half = n // 2
    redo = sorted(int(f) for f in rng.choice(n, n // 5, replace=False))
    redelivered = {
        f: {"fid": f, "name": f"f-{f}-{_word(rng)}-v2", "score": _score(rng)} for f in redo
    }
    return FeatureLayer(
        geoms=geoms,
        props=props,
        geojson_fids=sorted(int(f) for f in order[:half]),
        wkt_fids=sorted(int(f) for f in order[half:]),
        redelivered=redelivered,
    )


def _word(rng) -> str:
    return "".join(chr(c) for c in rng.integers(97, 123, 6))


def _score(rng) -> float:
    # always a non-integral float: CSV cells are type-sniffed int-first
    return round(float(rng.uniform(0, 1000)), 3) + 0.0005


def geojson_geometry(geom) -> dict:
    gtype, body = geom
    if gtype == "POINT":
        return {"type": "Point", "coordinates": list(body)}
    return {"type": "Polygon", "coordinates": [[list(p) for p in ring] for ring in body]}


def write_geojson(path: str, layer: FeatureLayer, fids, props_of) -> None:
    feats = [
        {"type": "Feature", "geometry": geojson_geometry(layer.geoms[f]), "properties": props_of(f)}
        for f in fids
    ]
    with open(path, "w") as fh:
        json.dump({"type": "FeatureCollection", "features": feats}, fh)


def write_wkt_csv(path: str, layer: FeatureLayer, fids) -> None:
    from ukis_kafka_spark.spatial.wkt import format_wkt

    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["WKT", "fid", "name", "score"])
        for f in fids:
            p = layer.props[f]
            w.writerow([format_wkt(layer.geoms[f]), p["fid"], p["name"], repr(p["score"])])


def write_feature_files(layer: FeatureLayer, into: str) -> dict[str, str]:
    """The three producer inputs: first delivery as GeoJSON and as
    CSV-WKT (disjoint halves), then the re-delivered subset as GeoJSON."""
    os.makedirs(into, exist_ok=True)
    paths = {
        "geojson": os.path.join(into, "layer.geojson"),
        "wkt": os.path.join(into, "layer.csv"),
        "redelivery": os.path.join(into, "redelivery.geojson"),
    }
    write_geojson(paths["geojson"], layer, layer.geojson_fids, lambda f: layer.props[f])
    write_wkt_csv(paths["wkt"], layer, layer.wkt_fids)
    write_geojson(paths["redelivery"], layer, sorted(layer.redelivered), layer.redelivered.get)
    return paths
