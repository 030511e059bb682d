"""SQL-surface tests (sqlrunner.py): view auto-registration for both
directory layouts, and end-to-end statements through Catalyst."""

from good_enough_timecamp_data_pipeline_spark import sqlrunner
from good_enough_timecamp_data_pipeline_spark.sources.fixtures import demo_transport
from good_enough_timecamp_data_pipeline_spark.sources.pipeline import run_pipeline


def test_sql_over_testdata_layout(spark, sf_dir):
    names = sqlrunner.register_data_views(spark, sf_dir)
    assert {"lineitem", "orders", "events", "documents"} <= set(names)
    df = sqlrunner.run_sql(
        spark,
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1",
        sf_dir,
    )
    got = {r.o_orderstatus: r.n for r in df.collect()}
    assert sum(got.values()) == spark.read.parquet(f"{sf_dir}/orders.parquet").count()


def test_sql_over_pipeline_layout(spark, tmp_path):
    out = str(tmp_path / "landed")
    run_pipeline(
        spark,
        demo_transport(),
        out,
        "2025-01-01",
        "2026-02-01",
        datasets=("tasks", "users", "entries"),
        fmt="parquet",
    )
    df = sqlrunner.run_sql(
        spark,
        "SELECT u.display_name, SUM(e.duration) AS total_s "
        "FROM entries e JOIN users u ON e.user_id = u.user_id "
        "GROUP BY 1 ORDER BY 2 DESC",
        out,
    )
    rows = df.collect()
    assert rows and rows[0].total_s >= rows[-1].total_s
    assert {r.display_name for r in rows} == {"Ada", "Sam"}


def test_sql_events_normalized(spark, sf_dir):
    """The events view must go through the ts-vintage normalizer — an
    instant-domain query must not die or drift under the UTC pin."""
    df = sqlrunner.run_sql(
        spark,
        "SELECT COUNT(DISTINCT CAST(ts AS DATE)) AS days FROM events",
        sf_dir,
    )
    assert df.collect()[0].days == 30


def test_registering_landed_dir_starts_no_job(spark, tmp_path):
    """Landed tables are read with their pinned schemas, so registering
    the views infers nothing (a parquet schema inference is one job per
    table). A trailing sentinel job in the same group proves the status
    tracker has seen every earlier job of the group."""
    out = str(tmp_path / "landed")
    run_pipeline(spark, demo_transport(), out, "2025-01-01", "2026-02-01",
                 dates=["2026-01-05"])
    sc = spark.sparkContext
    group = "register-landed-views"
    sc.setJobGroup(group, "register")
    try:
        names = sqlrunner.register_data_views(spark, out)
        spark.range(1).collect()  # one job, no exchange
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(names) == {"tasks", "users", "entries", "computer_activities",
                          "application_names"}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
