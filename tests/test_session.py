"""Session helpers: the default driver heap follows the host, so the
local-mode JVM fits the machine it runs on; driver-held rows become a
table through one Arrow batch, not a Python RDD."""

import pytest

from go_scrapper_spark.schemas import ROBOTS_SCHEMA
from go_scrapper_spark.session import driver_memory, local_table

GIB_KB = 1024 * 1024


def test_driver_memory_is_half_of_host_capped_at_48g():
    assert driver_memory(15 * GIB_KB) == "7680m"
    assert driver_memory(128 * GIB_KB) == "49152m"  # 48g cap
    assert driver_memory(96 * GIB_KB) == "49152m"


def test_local_table_round_trips_rows(spark):
    """Dict rows bind by name (a missing key is NULL), tuple rows by
    position; array<string> columns, a NULL in a nullable long and an
    empty row list all come back as given, under the exact schema."""
    rows = [
        {"host": "a.example", "allow_prefixes": ["/"], "disallow_prefixes": [],
         "crawl_delay_ms": None, "max_parallel": 3},
        {"host": "b.example", "allow_prefixes": None,
         "disallow_prefixes": ["/private/", "/x/"], "crawl_delay_ms": 3000},
    ]
    robots = local_table(spark, rows, ROBOTS_SCHEMA)
    assert robots.schema == ROBOTS_SCHEMA
    assert [r.asDict() for r in robots.collect()] == [
        rows[0], {**rows[1], "max_parallel": None},
    ]
    metrics = [(1, "fetched", 7), (1, "bytes", None)]
    df = local_table(spark, metrics, "wave_id long, metric string, value long")
    assert [tuple(r) for r in df.collect()] == metrics
    empty = local_table(spark, [], "host string, cookie string")
    assert empty.columns == ["host", "cookie"] and empty.collect() == []


def test_local_table_is_a_local_relation(spark):
    """The optimized plan is a LocalRelation, and nothing in the
    executed lineage is a PythonRDD."""
    df = local_table(spark, [(1, "x")], "k long, v string")
    qe = df._jdf.queryExecution()
    assert qe.optimizedPlan().getClass().getSimpleName() == "LocalRelation"
    assert "PythonRDD" not in qe.toRdd().toDebugString()


def test_local_table_rejects_null_in_non_nullable_field(spark):
    with pytest.raises(ValueError, match="non-nullable"):
        local_table(spark, [{"host": None, "max_parallel": 1}], ROBOTS_SCHEMA)
