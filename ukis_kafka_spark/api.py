"""Driver-facing API: the implementations behind ``__spark_entry__``.

Importing this module imports every operator module, which populates
the registry (``ukis_kafka_spark.registry``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Import for registration side effects — every module below registers
# its queries/oracles with ukis_kafka_spark.registry.
from .functions import scalars, udfs  # noqa: F401
from .ml import chunking, dedup, graph, multimodal, similarity, sketch, text  # noqa: F401
from .sinks import files as sink_files  # noqa: F401
from .sources import avroscan as src_avroscan  # noqa: F401
from .sources import jsonl as src_jsonl  # noqa: F401
from .sources import props as src_props  # noqa: F401
from .sources import pydatasource as src_pyds  # noqa: F401
from .spatial import geo  # noqa: F401
from .streaming import batch_windows, jobs  # noqa: F401
from .operators import (  # noqa: F401
    aggregates,
    analytics,
    filters,
    joins,
    modern,
    scans,
    setops,
    sorts,
    windows,
)

from .registry import ORACLE, QUERIES

FLAGSHIP = "q_agg_groupby"
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001 (driver smoke check: rows > 0)."""
    return QUERIES[FLAGSHIP](spark, SMOKE_SF_DIR)


# Physical-plan refloats: IDs whose plan was refactored after their
# latest CORRECTNESS row, mapped to the first round whose rows post-date
# the refactor. An older green row tested the old plan, so it does not
# count until a row from >= that round lands. Maintenance rule: when
# refactoring a shipped operator's physical plan, add it here with the
# upcoming round number; delete the entry once a satisfying row lands.
# tools/plan_audit.py flags a plan change with no entry.
_REFLOAT_MIN_ROUND = {
    "q_join_theta_range": 13,
    "s_foreach_upsert": 13,
    "s_warm_start_upsert": 13,
    "sink_upsert": 13,
    "src_gpkg_roundtrip": 13,
    "src_kafka_shape": 13,
}


def _driver_evidence(root: str | None = None) -> tuple[set[str], dict[str, int]]:
    """(green IDs, round of each ID's latest satisfying row).

    Green = the LATEST driver CORRECTNESS row satisfies the query's
    current check level: hash-green for oracle-checked queries, a clean
    rows-only row (``err == 'no_oracle'`` with a row count) for queries
    that have no oracle by design. An ID upgraded rows-only->oracle
    after its last driver window is NOT green (its old row is weaker
    than its current contract); an ID in ``_REFLOAT_MIN_ROUND`` is
    green only if its satisfying row comes from that round or later.
    Files are ordered by PARSED round number, never by filename sort —
    an unpadded CORRECTNESS_r9.json must not beat r10."""
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parsed: list[tuple[int, str]] = []
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        parsed.append((int(m.group(1)) if m else 0, path))
    latest: dict[str, dict] = {}
    latest_round: dict[str, int] = {}
    for rnd, path in sorted(parsed):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if isinstance(rows, dict):
            for k, v in rows.items():
                if isinstance(v, dict):
                    latest[k] = v
                    latest_round[k] = rnd
    green = set()
    for name, row in latest.items():
        if latest_round.get(name, 0) < _REFLOAT_MIN_ROUND.get(name, 0):
            continue
        if row.get("hash_match"):
            green.add(name)
        elif (
            name not in ORACLE
            and row.get("err") == "no_oracle"
            and row.get("spark_rows") is not None
        ):
            green.add(name)
    return green, latest_round


def _ordered_names(root: str | None = None) -> list[str]:
    """Order for ``queries()``, one stable sort of the registry: IDs
    that are not green first, in registry order, then green IDs by
    OLDEST satisfying round first. Each round's correctness gate checks
    the first 50 IDs, so the window drains the unchecked backlog first
    and then refreshes the stalest evidence."""
    green, rounds = _driver_evidence(root)
    return sorted(QUERIES, key=lambda n: (1, rounds[n]) if n in green else (0, 0))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Full registry in ``_ordered_names`` order (pure registry order
    when no CORRECTNESS files exist)."""
    return {n: QUERIES[n] for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE)
