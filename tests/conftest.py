"""Shared pytest fixtures: one SparkSession per test session, oracle helper."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def cc_both_sides(edges, **kwargs) -> list:
    """Sorted ``connected_components(edges)`` rows, computed on both sides
    of its size gate: the driver bound forced above every edge count
    (driver union-find) and below every edge count, the empty graph
    included (distributed min-label loop). Asserts both sides give the
    same rows and ``bigint`` columns."""
    from kafka_topic_analyzer_spark.operators import dedup as D

    sides = []
    for bound in (1 << 62, -1):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(D, "CC_DRIVER_MAX_EDGES", bound)
            df = D.connected_components(edges, **kwargs)
            sides.append(
                (
                    [f.dataType.simpleString() for f in df.schema.fields],
                    sorted(tuple(r) for r in df.collect()),
                )
            )
    assert sides[0] == sides[1], sides
    types, rows = sides[0]
    assert types == ["bigint", "bigint"]
    return rows


@pytest.fixture(scope="session")
def spark():
    import os

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from kafka_topic_analyzer_spark.session import get_spark

    s = get_spark("tests")
    yield s


class DuckOracle:
    """DuckDB connection with the testdata views registered like the driver does."""

    def __init__(self):
        import duckdb

        self.con = duckdb.connect()

    def register_sf(self, sf_dir: str) -> None:
        from kafka_topic_analyzer_spark.schema import TESTDATA_TABLES

        for t in TESTDATA_TABLES:
            self.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )

    def execute(self, sql: str):
        return self.con.execute(sql)


@pytest.fixture(scope="session")
def duck():
    d = DuckOracle()
    yield d
    d.con.close()
