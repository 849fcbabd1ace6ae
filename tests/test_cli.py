"""End-to-end test of the reference-parity CLI: GeoJSON → envelope
topic dir → partitioned file sink / keyed upsert table (the
producer/consumer lifecycle of SURVEY.md §3.1, offline)."""

from __future__ import annotations

import json

from ukis_kafka_spark import cli


def _write_geojson(path, n=5, start=0):
    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "geometry": {"type": "Point", "coordinates": [10.0 + i, 50.0 + i]},
                "properties": {"fid": start + i, "name": f"feat{start + i}"},
            }
            for i in range(n)
        ],
    }
    path.write_text(json.dumps(fc))


def test_cli_produce_consume_roundtrip(spark, tmp_path):
    gj = tmp_path / "in.geojson"
    _write_geojson(gj, n=5)
    topic = str(tmp_path / "topic")
    out = str(tmp_path / "sink")
    table = str(tmp_path / "table")

    assert cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic, "--layer", "pts"]) == 0
    assert cli.main(["consume-files", "--topic-dir", topic, "--out", out]) == 0

    feats = spark.read.parquet(out)
    assert feats.columns == ["srid", "geom_type", "wkb", "props_json", "offset", "layer"]
    rows = feats.collect()
    assert len(rows) == 5
    assert {r["layer"] for r in rows} == {"pts"}
    assert {r["geom_type"] for r in rows} == {"POINT"}
    props = sorted(json.loads(r["props_json"])["fid"] for r in rows)
    assert props == [0, 1, 2, 3, 4]

    # upsert twice: second delivery of the same messages must be a no-op
    assert cli.main(["consume-upsert", "--topic-dir", topic, "--table", table]) == 0
    n1 = spark.read.parquet(table).count()
    assert cli.main(["consume-upsert", "--topic-dir", topic, "--table", table]) == 0
    assert spark.read.parquet(table).count() == n1 == 5

    # a second batch with overlapping keys: only the new key is added,
    # and the duplicate fid resolves to the LATEST produce (the second
    # batch's offsets are higher → offset-order last-write-wins)
    gj2 = tmp_path / "in2.geojson"
    _write_geojson(gj2, n=2, start=4)  # fids 4 (dup) and 5 (new)
    assert cli.main(["produce", "--geojson", str(gj2), "--topic-dir", topic, "--layer", "pts"]) == 0
    assert cli.main(["consume-upsert", "--topic-dir", topic, "--table", table]) == 0
    assert spark.read.parquet(table).count() == 6

    from ukis_kafka_spark.spatial.wkb import decode_wkb

    fid4 = [
        r
        for r in spark.read.parquet(table).collect()
        if json.loads(r["props_json"])["fid"] == 4
    ]
    assert len(fid4) == 1
    # batch 1 wrote fid 4 at (14, 54); batch 2 (start=4, i=0) at (10, 50)
    assert decode_wkb(bytes(fid4[0]["wkb"])) == ("POINT", (10.0, 50.0))


def test_cli_consume_upsert_drops_keyless_features(spark, tmp_path, capsys):
    gj = tmp_path / "in.geojson"
    _write_geojson(gj, n=6)
    fc = json.loads(gj.read_text())
    for f in fc["features"][1:3]:  # fids 1 and 2 lose their key
        del f["properties"]["fid"]
    gj.write_text(json.dumps(fc))
    topic = str(tmp_path / "topic")
    table = str(tmp_path / "table")

    assert cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic]) == 0
    capsys.readouterr()
    assert cli.main(["consume-upsert", "--topic-dir", topic, "--table", table]) == 0
    out = capsys.readouterr().out
    assert "warning: dropping 2 features without a 'fid' property" in out
    assert "now 4 rows" in out
    fids = sorted(json.loads(r["props_json"])["fid"] for r in spark.read.parquet(table).collect())
    assert fids == [0, 3, 4, 5]


def test_cli_produce_skips_null_geometry(spark, tmp_path, capsys):
    """RFC 7946 §3.2 allows ``"geometry": null``; such a feature is
    skipped, like a null shape in produce-shp or produce-gpkg."""
    gj = tmp_path / "in.geojson"
    _write_geojson(gj, n=3)
    fc = json.loads(gj.read_text())
    fc["features"][1]["geometry"] = None
    gj.write_text(json.dumps(fc))
    topic = str(tmp_path / "topic")

    assert cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic]) == 0
    assert f"produced 2 features to {topic}" in capsys.readouterr().out


def test_cli_produce_unsupported_type_writes_nothing(spark, tmp_path):
    """Every envelope is built before the topic dir is touched: a bad
    feature fails the produce with nothing written."""
    import os

    import pytest

    gj = tmp_path / "in.geojson"
    _write_geojson(gj, n=3)
    fc = json.loads(gj.read_text())
    fc["features"][2]["geometry"] = {
        "type": "GeometryCollection",
        "geometries": [{"type": "Point", "coordinates": [0.0, 0.0]}],
    }
    gj.write_text(json.dumps(fc))
    topic = str(tmp_path / "topic")

    with pytest.raises(ValueError, match="unsupported GeoJSON geometry type: GEOMETRYCOLLECTION"):
        cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic])
    assert not os.path.exists(topic)


def test_no_package_module_imports_cli():
    """Layering guard: the CLI sits on top of the package; no other
    package module may import it."""
    import ast
    from pathlib import Path

    pkg = Path(cli.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "cli.py":
            continue
        # a module's dotted path; level-N relative imports drop N parts
        # (for __init__.py the first drop lands on its own package)
        parts = ["ukis_kafka_spark", *path.relative_to(pkg).with_suffix("").parts]
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = parts[: len(parts) - node.level] if node.level else []
                mod = ".".join(base + ([node.module] if node.module else []))
                mods = [mod] + [f"{mod}.{a.name}" for a in node.names]
            else:
                continue
            if "ukis_kafka_spark.cli" in mods:
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert offenders == []


def _write_legacy_topic(spark, topic: str, fids: list[int]) -> None:
    """A pre-offset topic file: the ``value`` column only."""
    import pandas as pd

    from ukis_kafka_spark.sources.envelope import make_envelope
    from ukis_kafka_spark.spatial.wkb import encode_wkb

    envelopes = [
        make_envelope(encode_wkb(("POINT", (0.0, float(f)))), {"fid": f}, layer="pts")
        for f in fids
    ]
    spark.createDataFrame(
        pd.DataFrame({"value": pd.Series(envelopes, dtype=object)}), "value binary"
    ).write.parquet(topic)


def test_cli_mixed_legacy_topic_offset_bearing_message_wins(spark, tmp_path):
    """A topic dir holding a value-only file plus produced (offset-bearing)
    files: the legacy rows read offset NULL and lose last-write-wins to a
    re-delivery of the same fid."""
    from ukis_kafka_spark.spatial.wkb import decode_wkb

    topic = str(tmp_path / "topic")
    _write_legacy_topic(spark, topic, [0, 1])
    gj = tmp_path / "in.geojson"
    _write_geojson(gj, n=2, start=1)  # fid 1 re-delivered at (10, 50), fid 2 new
    assert cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic, "--layer", "pts"]) == 0

    table = str(tmp_path / "table")
    assert cli.main(["consume-upsert", "--topic-dir", topic, "--table", table]) == 0
    by_fid = {
        json.loads(r["props_json"])["fid"]: decode_wkb(bytes(r["wkb"]))
        for r in spark.read.parquet(table).collect()
    }
    assert by_fid == {
        0: ("POINT", (0.0, 0.0)),
        1: ("POINT", (10.0, 50.0)),
        2: ("POINT", (11.0, 51.0)),
    }

    out = str(tmp_path / "sink")
    assert cli.main(["consume-files", "--topic-dir", topic, "--out", out]) == 0
    offsets = [
        (json.loads(r["props_json"])["fid"], r["offset"]) for r in spark.read.parquet(out).collect()
    ]
    # the produce continued from the topic's 2 legacy rows
    assert len(offsets) == 4
    assert set(offsets) == {(0, None), (1, None), (1, 2), (2, 3)}


def test_cli_all_legacy_topic_consumes_with_null_offsets(spark, tmp_path):
    topic = str(tmp_path / "topic")
    _write_legacy_topic(spark, topic, [0, 1, 2])

    out = str(tmp_path / "sink")
    assert cli.main(["consume-files", "--topic-dir", topic, "--out", out]) == 0
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3 and {r["offset"] for r in rows} == {None}

    table = str(tmp_path / "table")
    assert cli.main(["consume-upsert", "--topic-dir", topic, "--table", table]) == 0
    assert spark.read.parquet(table).count() == 3


def test_cli_consumers_stay_single_pass(spark, tmp_path):
    """Job-count guard: consume-files is one job, a consume-upsert into
    an existing table at most three — a count or decode that re-reads
    the topic or the output adds jobs and fails here."""
    gj = tmp_path / "in.geojson"
    _write_geojson(gj, n=5)
    topic = str(tmp_path / "topic")
    table = str(tmp_path / "table")
    assert cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic]) == 0
    assert cli.main(["consume-upsert", "--topic-dir", topic, "--table", table]) == 0

    sc = spark.sparkContext

    def jobs(group: str, argv: list[str]) -> int:
        sc.setJobGroup(group, group)
        try:
            assert cli.main(argv) == 0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    n_files = jobs(
        f"single-pass-files-{id(tmp_path)}",
        ["consume-files", "--topic-dir", topic, "--out", str(tmp_path / "sink")],
    )
    n_upsert = jobs(
        f"single-pass-upsert-{id(tmp_path)}",
        ["consume-upsert", "--topic-dir", topic, "--table", table],
    )
    assert n_files == 1
    assert 1 <= n_upsert <= 3


def test_pipeline_demo_runs(spark):
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "examples/pipeline_demo.py"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-500:]
    assert "pipeline_demo OK" in r.stdout


def test_cli_produce_wkt_consume_roundtrip(spark, tmp_path):
    csv_path = tmp_path / "in.csv"
    csv_path.write_text(
        "WKT,fid,name,height\n"
        '"POINT (10.5 50.25)",0,alpha,12.5\n'
        '"LINESTRING (0 0, 1 1, 2 0)",1,beta,7\n'
        '"POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",2,gamma,true\n'
    )
    topic = str(tmp_path / "topic")
    out = str(tmp_path / "sink")

    assert cli.main(["produce-wkt", "--csv", str(csv_path), "--topic-dir", topic,
                     "--layer", "wkt_layer"]) == 0
    assert cli.main(["consume-files", "--topic-dir", topic, "--out", out]) == 0

    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3
    assert {r["layer"] for r in rows} == {"wkt_layer"}
    by_fid = {json.loads(r["props_json"])["fid"]: r for r in rows}
    assert by_fid[0]["geom_type"] == "POINT"
    assert by_fid[1]["geom_type"] == "LINESTRING"
    assert by_fid[2]["geom_type"] == "POLYGON"
    # CSV prop typing: int fid, float/int/bool coercion
    assert json.loads(by_fid[0]["props_json"])["height"] == 12.5
    assert json.loads(by_fid[1]["props_json"])["height"] == 7
    assert json.loads(by_fid[2]["props_json"])["height"] is True

    # geometry bytes survive: decode the WKB back to coordinates
    from ukis_kafka_spark.spatial.wkb import decode_wkb

    gtype, body = decode_wkb(bytes(by_fid[0]["wkb"]))
    assert (gtype, body) == ("POINT", (10.5, 50.25))


def test_cli_produce_wkt_missing_column(tmp_path, capsys):
    csv_path = tmp_path / "in.csv"
    csv_path.write_text("geomwkt,fid\n\"POINT (1 2)\",0\n")
    rc = cli.main(["produce-wkt", "--csv", str(csv_path),
                   "--topic-dir", str(tmp_path / "t")])
    assert rc == 2


def test_cli_produce_shp_roundtrip(spark, tmp_path):
    from ukis_kafka_spark.sources.shapefile import write_shapefile

    shp = tmp_path / "roads.shp"
    write_shapefile(
        str(shp),
        [
            (("LINESTRING", ((0.0, 0.0), (1.0, 1.0), (2.0, 0.5))), {"fid": 1, "name": "a"}),
            (("LINESTRING", ((5.0, 5.0), (6.0, 6.0))), {"fid": 2, "name": "b"}),
        ],
    )
    topic = str(tmp_path / "topic")
    out = str(tmp_path / "sink")
    assert cli.main(["produce-shp", "--shp", str(shp), "--topic-dir", topic, "--layer", "roads"]) == 0
    assert cli.main(["consume-files", "--topic-dir", topic, "--out", out]) == 0
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2
    assert {r["layer"] for r in rows} == {"roads"}
    assert {r["geom_type"] for r in rows} == {"LINESTRING"}


def test_cli_produce_gpkg_roundtrip(spark, tmp_path):
    """GeoPackage → envelope topic → partitioned parquet, same harness
    as produce-shp: geometry + properties + the layer's SRS id survive
    the full producer/consumer path."""
    import json

    from ukis_kafka_spark.sources.gpkg import write_gpkg
    from ukis_kafka_spark.spatial.wkb import decode_wkb

    gpkg = tmp_path / "roads.gpkg"
    write_gpkg(
        str(gpkg),
        "roads",
        [
            (("LINESTRING", ((0.0, 0.0), (1.0, 1.0), (2.0, 0.5))), {"rid": 1, "name": "a"}),
            (("POINT", (10.5, 50.25)), {"rid": 2, "name": "b"}),
            (None, {"rid": 3, "name": "null-geom-skipped"}),
        ],
        srid=25832,
    )
    topic = str(tmp_path / "topic")
    out = str(tmp_path / "sink")
    assert cli.main(["produce-gpkg", "--gpkg", str(gpkg), "--topic-dir", topic,
                     "--layer", "roads"]) == 0
    assert cli.main(["consume-files", "--topic-dir", topic, "--out", out]) == 0
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2  # the NULL geometry is skipped, like produce-shp
    assert {r["layer"] for r in rows} == {"roads"}
    assert {r["srid"] for r in rows} == {25832}  # layer SRS id rode the envelope
    by_rid = {json.loads(r["props_json"])["rid"]: r for r in rows}
    assert decode_wkb(bytes(by_rid[2]["wkb"])) == ("POINT", (10.5, 50.25))
    assert json.loads(by_rid[1]["props_json"])["name"] == "a"


def test_cli_produce_gpkg_layer_selection(tmp_path, capsys):
    """Two feature layers: omitting --gpkg-layer is ambiguous; naming
    one selects it."""
    import pytest

    from ukis_kafka_spark.sources.gpkg import read_gpkg, write_gpkg

    gpkg = tmp_path / "two.gpkg"
    write_gpkg(str(gpkg), "a", [(("POINT", (1.0, 2.0)), {"k": 1})])
    # append a second layer by writing a sibling file and merging is
    # overkill — write_gpkg is single-layer by design, so build the
    # second layer with sqlite directly
    import sqlite3

    with sqlite3.connect(str(gpkg)) as con:
        con.execute("INSERT INTO gpkg_contents (table_name, data_type, identifier, srs_id)"
                    " VALUES ('b', 'features', 'b', 4326)")
        con.execute("INSERT INTO gpkg_geometry_columns VALUES ('b', 'geom', 'GEOMETRY', 4326, 0, 0)")
        con.execute("CREATE TABLE b (fid INTEGER PRIMARY KEY, geom BLOB)")
        con.commit()
    with pytest.raises(ValueError, match="2 feature layers"):
        list(read_gpkg(str(gpkg)))
    assert [g for g, _, _ in read_gpkg(str(gpkg), layer="a")] == [("POINT", (1.0, 2.0))]


def test_cli_consume_geojson_roundtrip(spark, tmp_path):
    """Export leg: topic → GeoJSON, both output shapes, all six
    geometry types — and the exported FeatureCollection must be
    re-producible (export → produce → export is a fixed point)."""
    import glob

    geoms = {
        0: {"type": "Point", "coordinates": [10.0, 50.0]},
        1: {"type": "LineString", "coordinates": [[0.0, 0.0], [1.0, 1.5]]},
        2: {
            "type": "Polygon",
            "coordinates": [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 0.0]]],
        },
        3: {"type": "MultiPoint", "coordinates": [[1.0, 2.0], [3.0, 4.0]]},
        4: {
            "type": "MultiLineString",
            "coordinates": [[[0.0, 0.0], [1.0, 0.0]], [[5.0, 5.0], [6.0, 5.5]]],
        },
        5: {
            "type": "MultiPolygon",
            "coordinates": [[[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]]],
        },
    }
    fc = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "geometry": g, "properties": {"fid": i, "name": f"f{i}"}}
            for i, g in geoms.items()
        ],
    }
    gj = tmp_path / "in.geojson"
    gj.write_text(json.dumps(fc))
    topic = str(tmp_path / "topic")

    assert cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic, "--layer", "mix"]) == 0

    # distributed GeoJSONSeq: one Feature per line, geometry + props intact
    seq_out = str(tmp_path / "seq")
    assert cli.main(["consume-geojson", "--topic-dir", topic, "--out", seq_out]) == 0
    lines = []
    for f in glob.glob(seq_out + "/part-*"):
        with open(f) as fh:
            lines += [json.loads(ln) for ln in fh if ln.strip()]
    assert len(lines) == 6
    by_fid = {f["properties"]["fid"]: f for f in lines}
    assert all(by_fid[i]["geometry"] == g for i, g in geoms.items())
    assert by_fid[3]["properties"]["name"] == "f3"

    # single FeatureCollection: valid GeoJSON, offset-ordered, and a
    # fixed point of the produce → export cycle
    col_out = str(tmp_path / "out.geojson")
    assert cli.main(
        ["consume-geojson", "--topic-dir", topic, "--out", col_out, "--collection"]
    ) == 0
    fc2 = json.loads(open(col_out).read())
    assert fc2["type"] == "FeatureCollection"
    assert [f["properties"]["fid"] for f in fc2["features"]] == [0, 1, 2, 3, 4, 5]
    assert [f["geometry"] for f in fc2["features"]] == [geoms[i] for i in range(6)]

    topic2 = str(tmp_path / "topic2")
    col_out2 = str(tmp_path / "out2.geojson")
    assert cli.main(["produce", "--geojson", col_out, "--topic-dir", topic2, "--layer", "mix"]) == 0
    assert cli.main(
        ["consume-geojson", "--topic-dir", topic2, "--out", col_out2, "--collection"]
    ) == 0
    assert json.loads(open(col_out2).read()) == fc2

    # layer filter: a second layer in the same topic is excluded
    assert cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic, "--layer", "other"]) == 0
    only = str(tmp_path / "only.geojson")
    assert cli.main(
        ["consume-geojson", "--topic-dir", topic, "--out", only, "--collection", "--layer", "other"]
    ) == 0
    assert len(json.loads(open(only).read())["features"]) == 6


def test_geo_lifecycle_demo_runs(spark):
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "examples/geo_lifecycle_demo.py"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-500:]
    assert "geo_lifecycle OK" in r.stdout
    assert "re-delivery is a no-op" in r.stdout


import subprocess
import sys
from pathlib import Path

import pytest as _pt


@_pt.mark.parametrize(
    "script",
    ["llm_data_pipeline.py", "geo_lifecycle_demo.py", "pipeline_demo.py"],
)
def test_examples_run_clean(script):
    """Every examples/ script must run end-to-end at the smoke scale —
    round 6's m_temperature_mix re-key (source -> lang) silently broke
    llm_data_pipeline.py for a full round because nothing executed it
    (code-review r7); each spawns its own SparkSession so they run as
    subprocesses. ~30 s each on a warm FS."""
    repo = Path(__file__).resolve().parents[1]
    proc = subprocess.run(
        [sys.executable, str(repo / "examples" / script)],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(repo),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_fixed_width_layout_parses_back_exactly(spark):
    """The rendered fixed-width lines must slice back to the exact
    source rows (spot-check re-derived with python string slicing on
    the staged file itself)."""
    import glob

    from tests.conftest import SF_SMOKE
    from ukis_kafka_spark import api

    rows = {
        r.o_orderstatus: r
        for r in api.queries()["src_fixed_width"](spark, SF_SMOKE).collect()
    }
    import pandas as pd

    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    grp = orders.groupby("o_orderstatus")
    for status, g in grp:
        r = rows[status]
        assert r.n == len(g)
        assert r.min_id == g["o_orderkey"].min()
        assert r.max_id == g["o_orderkey"].max()
        micros = (g["o_totalprice"].map(lambda v: int(round(v * 1_000_000))))
        assert r.price_micro_sum == int(micros.sum())
