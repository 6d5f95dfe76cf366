"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship TPC-H-Q1-shaped pricing summary at
sf0.001; ``queries()``/``oracle_sql()`` expose every implemented
operator slug from SURVEY.md §2 (registered in
``resotodatalink_spark.registry`` by the ``queries/`` modules).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from resotodatalink_spark import registry

registry.load_all()

# The driver's correctness sweep attests the FIRST 50 ``queries()``
# entries only.  Slugs whose implementation or oracle changed since the
# newest CORRECTNESS report go here; every other slug ranks itself from
# the committed reports (see ``attest_order``).
CHANGED = [
    "sparse_cosine_pairs",  # dead alias dropped from the verify joins
]

_HERE = Path(__file__).resolve().parent
_REPORT = re.compile(r"CORRECTNESS_r(\d+)\.json")
_GREEN = ("rows_match", "schema_match", "hash_match")


def newest_green(reports_dir: Path) -> dict[str, int]:
    """Slug -> round of its newest green row in ``CORRECTNESS_r<N>.json``.

    A row is green when rows, schema and value hash all match and it
    carries no error."""
    newest: dict[str, int] = {}
    for path in Path(reports_dir).glob("CORRECTNESS_r*.json"):
        m = _REPORT.fullmatch(path.name)
        if not m:
            continue
        for slug, row in json.loads(path.read_text()).items():
            if all(row.get(k) is True for k in _GREEN) and row.get("err") is None:
                newest[slug] = max(newest.get(slug, 0), int(m.group(1)))
    return newest


def attest_order(names: Iterable[str], reports_dir: Path = _HERE) -> list[str]:
    """Rank ``names`` for the driver's attestation window.

    ``CHANGED`` first, then slugs with no green row in any report, then
    the rest by the round of their newest green row, oldest first.  The
    sort is stable, so registry order breaks ties; with no reports the
    order is registry order.  Report names that are not in ``names``
    are ignored."""
    names = list(names)
    head = [n for n in CHANGED if n in names]
    newest = newest_green(reports_dir)
    rest = [n for n in names if n not in head]
    return head + sorted(rest, key=lambda n: newest.get(n, -1))


_ORDER = attest_order(registry.QUERIES)


def _ordered(mapping: dict) -> dict:
    return {n: mapping[n] for n in _ORDER if n in mapping}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return registry.QUERIES["agg_sum_avg_min_max"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _ordered(dict(registry.QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent per slug (omitted entries get
    the driver's weaker rows-only check)."""
    return _ordered(dict(registry.ORACLES))
