"""Result ownership and driver-built results.

``Engine.executions`` is a metadata-only history: ``sql()`` hands its
result DataFrame to the caller and retains nothing, so a long-lived
engine does not keep every executed plan live in the JVM. Only
``submit()`` pins a result (for ``results()`` / ``results_page()``,
until ``cleanup_results``), and an opt-in reuse cache entry owns its
producer's frame.

Driver-built statement results (DML metric rows, SHOW/DESCRIBE, the
metadata-served count) are LocalRelations: collecting them runs no
Spark job.
"""

from __future__ import annotations

import gc
import time
import uuid
import weakref

import pytest

from tf_aws_lakeformation_governed_datalake_demo_spark import fixtures as fx
from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
    GovernedCatalog,
    TableDef,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.engine import (
    Engine,
    QueryFailedError,
    QueryState,
    ResultNotRetainedError,
    _local_df,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    publish_overwrite,
)


@pytest.fixture()
def engine(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("ownership"))
    return Engine(spark, fx.bootstrap(spark, lake))


@pytest.fixture()
def manifest_eng(spark, tmp_path):
    cat = GovernedCatalog(spark, lake_root=str(tmp_path))
    cat.create_database("db")
    cat.set_admins(["ops"])
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], i) for i in range(37)],
        "id long, grp string, v long",
    )
    loc = f"{tmp_path}/t"
    publish_overwrite(spark, loc, df, ["grp"], manifest=True)
    cat.register_table(
        TableDef("db", "t", loc, schema=df.schema, partition_keys=("grp",))
    )
    return Engine(spark, cat)


def _leaf_classes(df) -> list[str]:
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


def _jobs_during(spark, fn):
    """(fn's return value, number of Spark jobs fn started). A sentinel
    job runs last in the same job group; the listener bus delivers
    events in order, so once the sentinel shows, every job fn started
    shows too."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")
    try:
        out = fn()
        spark.range(1).collect()  # the sentinel: exactly one job
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    ids = tracker.getJobIdsForGroup(group)
    while not ids and time.monotonic() < deadline:
        time.sleep(0.05)
        ids = tracker.getJobIdsForGroup(group)
    assert ids, "sentinel job never reached the status tracker"
    return out, len(ids) - 1


# ------------------------------------------------------------ retention


def test_sql_results_are_not_retained_and_audit_stays(engine):
    refs = []
    for i in range(20):
        df = engine.sql(
            "SELECT customer_id, sales_amount FROM sales_db.sales "
            f"WHERE sales_amount > {i}",
            "analyst",
        )
        df.collect()
        refs.append(weakref.ref(df))
    dml = engine.sql(
        "UPDATE sales_db.sales SET sales_amount = sales_amount + 1 "
        "WHERE sales_region = 'APAC'",
        "dataadmin",
    )
    assert dml.first().rows_updated == 8
    refs.append(weakref.ref(dml))
    del df, dml
    gc.collect()
    assert [r for r in refs if r() is not None] == []
    # the history still answers every audit question
    records = list(engine.executions.values())
    assert len(records) == 21
    assert all(qe.state is QueryState.SUCCEEDED for qe in records)
    assert all("sales_db.sales" in qe.tables for qe in records)
    assert all(qe.filters_applied for qe in records[:20])  # analyst filter


def test_submit_pins_pages_until_cleanup(engine):
    qid = engine.submit(
        "SELECT customer_id FROM sales_db.sales ORDER BY customer_id",
        principal="dataadmin",
    )
    page1, tok = engine.results_page(qid, max_rows=15)
    page2, tok2 = engine.results_page(qid, max_rows=15, next_token=tok)
    assert len(page1) == 15 and len(page2) == 5 and tok2 is None
    ids = [r.customer_id for r in page1 + page2]
    assert ids == sorted(ids) and len(set(ids)) == 20
    pinned = weakref.ref(engine._results[qid])
    page_source = weakref.ref(engine._page_sources[qid])
    engine.cleanup_results(qid)
    gc.collect()
    assert pinned() is None and page_source() is None
    with pytest.raises(ResultNotRetainedError, match="submit"):
        engine.results(qid)
    assert engine.status(qid) is QueryState.SUCCEEDED  # record stays


def test_results_of_sql_execution_raise_typed_error(engine):
    engine.sql("SELECT customer_id FROM sales_db.sales", "dataadmin")
    qid = list(engine.executions)[-1]
    with pytest.raises(ResultNotRetainedError, match="submit"):
        engine.results(qid)
    # a failed execution keeps its own typed error
    bad = engine.submit("SELECT ssn FROM sales_db.sales", principal="analyst")
    with pytest.raises(QueryFailedError, match="FAILED"):
        engine.results(bad)


def test_reuse_cache_owns_the_producer_frame(engine):
    q = "SELECT sales_region, count(*) AS n FROM sales_db.sales GROUP BY sales_region"
    first = sorted(map(tuple, engine.sql(q, "analyst", reuse_max_age=3600).collect()))
    gc.collect()  # the caller dropped the producer's frame
    qid = engine.submit(q, principal="analyst", reuse_max_age=3600)
    assert engine.executions[qid].reused_from is not None
    assert sorted(map(tuple, engine.results(qid))) == first


# --------------------------------------------------- driver-built results


def test_metadata_count_collects_without_a_job(manifest_eng, spark):
    out = manifest_eng.sql("SELECT count(*) AS n FROM db.t", "ops")
    assert _leaf_classes(out) == ["LocalRelation"]
    rows, jobs = _jobs_during(spark, out.collect)
    assert [r.n for r in rows] == [37]
    assert jobs == 0


def test_dml_metrics_row_collects_without_a_job(manifest_eng, spark):
    out = manifest_eng.sql("DELETE FROM db.t WHERE v < 5", "ops")
    assert _leaf_classes(out) == ["LocalRelation"]
    rows, jobs = _jobs_during(spark, out.collect)
    assert rows[0].rows_deleted == 5
    assert jobs == 0


def test_local_df_round_trips_values_exactly(spark):
    schema = "s string, l long, d double, b boolean, a array<string>"
    rows = [
        ("x'y", 2**62, 0.1, True, ["p", None, ""]),
        ("", -1, -2.5e-300, False, []),
        (None, None, None, None, None),
    ]
    df = _local_df(spark, rows, schema)
    assert _leaf_classes(df) == ["LocalRelation"]
    assert [f.dataType.simpleString() for f in df.schema] == [
        "string", "bigint", "double", "boolean", "array<string>"
    ]
    assert [tuple(r) for r in df.collect()] == rows
    empty = _local_df(spark, [], schema)
    assert empty.collect() == [] and empty.schema == df.schema
