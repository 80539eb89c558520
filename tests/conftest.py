from __future__ import annotations

import os
import sys
import uuid
from datetime import datetime, timedelta

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from stock_data_etl_pipeline_spark.session import get_spark
    # small core count: test DataFrames are tiny, scheduling dominates
    s = get_spark(cores=4)
    yield s


@pytest.fixture()
def tmp_table_dir(tmp_path):
    return str(tmp_path / "tbl")


@pytest.fixture()
def jobs_during(spark):
    """``jobs_during(fn)``: the Spark jobs launched while ``fn`` runs,
    counted under a job group of their own."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "count jobs")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))
    return count


@pytest.fixture()
def tied_runs_lake(spark, tmp_path):
    """A lake whose AAPL runs tie on created_at in pairs: DONE runs a1 and
    a2 (raw documents {"v": 1} and {"v": 2}), then a day later a FAILED
    run b1 and a queued run b2. The larger id wins each tie; an older DONE
    run z9 and a newer MSFT run must never win."""
    from stock_data_etl_pipeline_spark.plans.pipeline import StockLake
    from stock_data_etl_pipeline_spark.schemas import BRONZE, INGESTION_RUNS
    from stock_data_etl_pipeline_spark.state_machine import IngestionState as S
    from stock_data_etl_pipeline_spark.state_machine import new_run_row

    lake = StockLake(spark, str(tmp_path / "lake"))
    bronze = os.path.join(lake.root, "bronze", "b0")
    t0 = datetime(2024, 1, 2)
    rows = []
    for rid, ticker, state, ts in [
            ("z9", "AAPL", S.DONE, t0 - timedelta(days=1)),
            ("a1", "AAPL", S.DONE, t0), ("a2", "AAPL", S.DONE, t0),
            ("b1", "AAPL", S.FAILED, t0 + timedelta(days=1)),
            ("b2", "AAPL", S.QUEUED_FOR_FETCH, t0 + timedelta(days=1)),
            ("zz", "MSFT", S.DONE, t0 + timedelta(days=2))]:
        r = new_run_row(f"stock-{ticker}", ticker, now=ts)
        r.update(id=rid, state=state, raw_data_uri=bronze)
        rows.append(r)
    lake.runs.create(spark.createDataFrame(rows, INGESTION_RUNS))
    spark.createDataFrame(
        [(r["ticker"], r["id"], f'{{"v": {i}}}') for i, r in enumerate(rows)],
        BRONZE).write.parquet(bronze)
    return lake
