from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"


# r10 (verdict #5): unblock the transformWithStateInPandas replay test
# when the host carries a pure-Python protobuf anywhere. ONE shared
# implementation (multiagent_document_etl_system_spark/protoshim.py —
# also behind `check_oracle --shim`; the r11 review caught the two call
# sites drifting as near-copies). Must run at conftest IMPORT time:
# PYTHONPATH has to be exported before the first SparkSession starts so
# the Python workers Spark spawns (which speak the protobuf
# state-server protocol) inherit it. No-op when real protobuf exists or
# the SDK copy is absent — the tws test keeps its skip gate either way.
from multiagent_document_etl_system_spark.protoshim import (  # noqa: E402
    activate_proto_shim,
)

activate_proto_shim()


@pytest.fixture(scope="session")
def spark():
    from multiagent_document_etl_system_spark import get_spark

    s = get_spark(app_name="tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from multiagent_document_etl_system_spark.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def driver_compare(spark, duck, name, sf_dir=SF_DIR):
    """Compare a registry query against its DuckDB oracle exactly the
    way the external driver does: columns sorted by name, rows sorted as
    tuples, full value equality. ONE shared implementation (the r12
    review caught three test files carrying near-copies)."""
    from multiagent_document_etl_system_spark.plans.registry import QUERIES

    fn, oracle = QUERIES[name]
    assert oracle is not None, f"{name} has no oracle"
    got = fn(spark, sf_dir)
    cols = sorted(got.columns)
    spark_rows = sorted(tuple(r[c] for c in cols) for r in got.collect())
    res = duck.sql(oracle)
    assert sorted(res.columns) == cols
    idx = [res.columns.index(c) for c in sorted(res.columns)]
    duck_rows = sorted(tuple(row[i] for i in idx)
                       for row in res.fetchall())
    assert spark_rows == duck_rows


def jobs_in_group(spark, group: str, fn):
    """Run ``fn()`` under a Spark job group; return (its result, the number
    of jobs the group ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))
