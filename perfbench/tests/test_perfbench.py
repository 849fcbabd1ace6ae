"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.report import layer_metric_units  # noqa: E402
from perfbench.stats import NAME_RE, TooFewSamples, check_metrics, highest_percentile, percentile  # noqa: E402
from perfbench.workloads import WORKLOADS, norm_df  # noqa: E402

E2E_UNITS = {"setup_s": "s", "pass_s": "s"}


def _inputs(seed: int, into: str) -> dict[str, bytes]:
    datagen.write_corpus(seed, os.path.join(into, "corpus"))
    layer = datagen.feature_layer(seed, 300)
    datagen.write_feature_files(layer, os.path.join(into, "features"))
    out = {}
    for sub in ("corpus", "features"):
        for name in sorted(os.listdir(os.path.join(into, sub))):
            with open(os.path.join(into, sub, name), "rb") as fh:
                out[f"{sub}/{name}"] = fh.read()
    return out


def test_same_seed_gives_identical_bytes(tmp_path):
    a = _inputs(5, str(tmp_path / "a"))
    b = _inputs(5, str(tmp_path / "b"))
    assert a.keys() == b.keys()
    assert all(a[k] == b[k] for k in a)


def test_other_seed_gives_other_inputs_of_the_same_size(tmp_path):
    a = _inputs(5, str(tmp_path / "a"))
    b = _inputs(6, str(tmp_path / "b"))
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a if k.startswith("features/") or "events" in k)
    for seed in (5, 6):
        tables = datagen.corpus_tables(seed)
        assert {t: tables[t].num_rows for t in tables} == datagen.CORPUS_ROWS
    la, lb = datagen.feature_layer(5, 300), datagen.feature_layer(6, 300)
    assert len(la.geoms) == len(lb.geoms) and len(la.redelivered) == len(lb.redelivered)
    assert la.geoms != lb.geoms


def test_percentile_needs_ten_samples_beyond_it():
    vals = list(range(100))
    assert percentile(vals, 90) == pytest.approx(89.1)
    with pytest.raises(TooFewSamples):
        percentile(vals, 95)
    with pytest.raises(TooFewSamples):
        percentile(list(range(19)), 50)
    assert percentile(list(range(20)), 50) == pytest.approx(9.5)
    assert highest_percentile(list(range(40))) == (75, pytest.approx(29.25))
    assert highest_percentile(list(range(39))) is None


def test_every_metric_has_a_name_and_a_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    layer = layer_metric_units()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layer
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for name, unit in {**E2E_UNITS, **layer}.items():
        assert NAME_RE.fullmatch(name) and len(name) <= 64, name
        assert unit
    check_metrics({n: {"value": 1.0, "unit": u} for n, u in layer.items()})
    with pytest.raises(ValueError):
        check_metrics({"bad name": {"value": 1.0, "unit": "s"}})
    with pytest.raises(ValueError):
        check_metrics({"ok": {"value": 1.0, "unit": ""}})


def test_metric_names_use_the_defining_module_of_each_query():
    from ukis_kafka_spark import api

    queries = api.queries()
    for cls in (WORKLOADS["stream_replay"], WORKLOADS["operator_mix"]):
        for name in cls.names:
            wrapped = queries[name]  # the registry's wrapper closes over the function
            fn = next(c.cell_contents for c in wrapped.__closure__ if callable(c.cell_contents))
            assert fn.__module__ == f"ukis_kafka_spark.{cls.modules[name]}", name


def test_result_normalisation_matches_the_oracle_tests():
    util = pytest.importorskip("tests.util")
    df = pd.DataFrame({"b": [2.5, None, float("nan")], "a": ["x", "y", "z"], "c": [b"\x01", b"\x02", b"\x03"]})
    assert norm_df(df) == util.norm_df(df)
