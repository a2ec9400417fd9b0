"""Session defaults: the two shuffle widths (SCALE.md "Shuffle sizing")
and ``local_frame``, the JVM-side path for driver rows."""

import datetime
import decimal
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import __spark_entry__ as entry
from _multi_source_retail_data_integration_hub_spark import schemas
from _multi_source_retail_data_integration_hub_spark.operators import text as T
from _multi_source_retail_data_integration_hub_spark.plans.events_ts import (
    q126_streaming_tumbling,
    q136_streaming_dedup,
)
from _multi_source_retail_data_integration_hub_spark.plans.training_data import (
    _BPE_RULES_SCHEMA,
)
from _multi_source_retail_data_integration_hub_spark.session import (
    local_frame,
    session_conf,
)
from _multi_source_retail_data_integration_hub_spark.sources.retail import (
    categories_from_list,
    products_from_records,
)
from _multi_source_retail_data_integration_hub_spark.sources.sinks import RUN_LOG_SCHEMA

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
BATCH_WIDTH = os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32")


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


# ---------------------------------------------------------------------------
# shuffle widths
# ---------------------------------------------------------------------------
def test_live_session_runs_session_conf(spark):
    conf = session_conf()
    assert conf["spark.sql.shuffle.partitions"] == CPUS
    assert conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] == BATCH_WIDTH
    for k, v in conf.items():
        assert spark.conf.get(k) == v, k


def test_widths_at_32_cores(monkeypatch):
    """bench.py keys its floor on ``spark.sql.shuffle.partitions``; the
    canonical cpus=32 run must keep reading "32" or the first capture
    wipes the stored floor (bench._update_floor resets on a new key)."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    monkeypatch.delenv("SPARK_SHUFFLE_PARTITIONS", raising=False)
    conf = session_conf()
    assert conf["spark.sql.shuffle.partitions"] == "32"
    assert conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] == "32"


def test_batch_plans_keep_the_batch_width(spark):
    df = entry.queries()["q64_revenue_by_nation"](spark, entry.SMOKE_SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(" in plan
    assert f"NULLS FIRST, {BATCH_WIDTH})" in plan, plan


class _StateWidths(StreamingQueryListener):
    def __init__(self) -> None:
        self.widths: list[int] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.widths += [s.numShufflePartitions for s in event.progress.stateOperators]

    def onQueryTerminated(self, event) -> None:
        pass


def test_streaming_state_is_sized_to_the_cores(spark):
    listener = _StateWidths()
    spark.streams.addListener(listener)
    try:
        out = q126_streaming_tumbling(spark, entry.SMOKE_SF_DIR)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert out.count() > 0
    assert listener.widths and set(listener.widths) == {int(CPUS)}


# ---------------------------------------------------------------------------
# local_frame
# ---------------------------------------------------------------------------
PRODUCTS = [
    {"id": 1, "title": "Laptop", "price": 999.99, "description": "d",
     "category": "electronics", "image": "http://x/1.png",
     "rating": {"rate": 4.5, "count": 120}},
    {"id": 2, "title": None, "price": None, "description": None,
     "category": "jewelery", "image": None, "rating": None},
    {"id": 3, "title": "Ring", "price": 168.0, "description": "shiny",
     "category": "jewelery", "image": "http://x/3.png",
     "rating": {"rate": None, "count": 7}},
]

CASES = {
    "products": (PRODUCTS, schemas.API_PRODUCTS_JSON),
    "categories": ([("electronics",), ("jewelery",), (None,)], "category string"),
    "empty": ([], "category string"),
    "run_log": ([("run_1", "success", 2000, 1990, 1.5, None)], RUN_LOG_SCHEMA),
    "bpe_rules": ([(1, "t", "h", 40, 900), (2, "th", "e", 31, 869)], _BPE_RULES_SCHEMA),
    "typed": (
        [(datetime.datetime(2024, 2, 29, 12, 30, 1, 5), datetime.date(2024, 2, 29),
          decimal.Decimal("1.25"), [1, None], {"k": 1}),
         (None, None, None, None, None)],
        "ts timestamp, d date, m decimal(18,2), arr array<int>, mp map<string,int>",
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_equals_create_data_frame(spark, case):
    rows, schema = CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "PythonRDD" in _lineage(want)  # the path local_frame replaces
    assert "PythonRDD" not in _lineage(got)


def test_call_sites_build_jvm_only_frames(spark):
    """Every former ``createDataFrame(list)`` site now scans without a
    Python worker, and q136's snapshot round-trips its drained rows."""
    frames = {
        "products": products_from_records(spark, PRODUCTS),
        "categories": categories_from_list(spark, ["electronics", "jewelery"]),
        "bpe_rules": T.bpe_learn_merges(
            local_frame(spark, [("hello", 3), ("help", 2)], "word string, freq long"), 2
        ),
    }
    q136 = q136_streaming_dedup(spark, entry.SMOKE_SF_DIR)
    rows = q136.collect()
    assert rows == spark.createDataFrame(rows, q136.schema).collect()
    frames["q136"] = q136
    for name, df in frames.items():
        assert "PythonRDD" not in _lineage(df), name
    assert frames["products"].where(F.col("rating_rate").isNull()).count() == 2
