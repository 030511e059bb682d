"""Sources-layer tests.

Tier 1 mirrors the reference's API-client suite (mocked HTTP —
``/root/reference/tests/test_api.py:26-87``): retry honors retry_after,
retry cap raises, 400 fails fast, 100-id application batching.
Tier 2 covers what the reference never tested: the enrichment builders,
writers, and incremental layer, end-to-end on the offline fixture
workspace.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from good_enough_timecamp_data_pipeline_spark.sources import incremental, ingest, io
from good_enough_timecamp_data_pipeline_spark.sources.client import (
    TimeCampAPIError,
    TimeCampClient,
)
from good_enough_timecamp_data_pipeline_spark.sources.fixtures import (
    DictTransport,
    demo_transport,
)
from good_enough_timecamp_data_pipeline_spark.sources.pipeline import run_pipeline


def make_client(transport) -> TimeCampClient:
    sleeps: list[float] = []
    c = TimeCampClient(transport, sleeper=sleeps.append)
    c._sleeps = sleeps  # type: ignore[attr-defined]
    return c


# ---------------------------------------------------------------------------
# tier 1: client semantics (no Spark)
# ---------------------------------------------------------------------------

class TestClientRetry:
    def test_retry_honors_json_retry_after(self):
        t = DictTransport({r"/entries$": [
            (429, {}, {"retry_after": 2}),
            (200, {}, [{"id": 1}]),
        ]})
        c = make_client(t)
        rows = c.get_time_entries("2026-01-01", "2026-01-02")
        assert rows == [{"id": 1}]
        assert c._sleeps == [2.0]

    def test_retry_honors_header(self):
        t = DictTransport({r"/entries$": [
            (503, {"Retry-After": "7"}, {}),
            (200, {}, []),
        ]})
        c = make_client(t)
        c.get_time_entries("2026-01-01", "2026-01-02")
        assert c._sleeps == [7.0]

    def test_linear_backoff_default(self):
        t = DictTransport({r"/entries$": [
            (500, {}, "oops"),
            (500, {}, "oops"),
            (200, {}, []),
        ]})
        c = make_client(t)
        c.get_time_entries("2026-01-01", "2026-01-02")
        assert c._sleeps == [5.0, 10.0]  # 5s * attempt

    def test_retry_cap_raises(self):
        t = DictTransport({r"/entries$": (503, {}, "downstream down")})
        c = make_client(t)
        with pytest.raises(TimeCampAPIError) as e:
            c.get_time_entries("2026-01-01", "2026-01-02")
        assert e.value.status == 503
        assert len(c._sleeps) == 4  # 5 attempts, 4 sleeps between

    def test_non_retryable_fails_fast(self):
        t = DictTransport({r"/entries$": (400, {}, "bad request")})
        c = make_client(t)
        with pytest.raises(TimeCampAPIError) as e:
            c.get_time_entries("2026-01-01", "2026-01-02")
        assert e.value.status == 400
        assert len(t.requests) == 1 and c._sleeps == []


class TestClientBatching:
    def test_applications_batch_100(self):
        t = DictTransport({r"/application$": {}})
        c = make_client(t)
        c.get_applications([str(i) for i in range(201)])
        sizes = [len(p["application_ids"].split(",")) for _, _, p in t.requests]
        assert sizes == [100, 100, 1]

    def test_user_settings_batch_50(self):
        t = DictTransport({r"/user_settings$": []})
        c = make_client(t)
        c.get_user_settings(list(range(120)), "disabled_user")
        sizes = [len(p["user_ids"].split(",")) for _, _, p in t.requests]
        assert sizes == [50, 50, 20]

    def test_activities_chunk_20_dates_per_user(self):
        t = DictTransport({r"/computer_activities$": []})
        c = make_client(t)
        dates = [f"2026-01-{d:02d}" for d in range(1, 26)]  # 25 dates
        c.get_computer_activities(dates, user_ids=[1, 2])
        # 2 users x (20+5 dates) = 4 requests
        assert len(t.requests) == 4
        assert {p.get("user_id") for _, _, p in t.requests} == {"1", "2"}

    def test_activities_tolerates_failed_batch(self):
        calls = {"n": 0}

        def flaky(method, url, params):
            calls["n"] += 1
            if params.get("user_id") == "1":
                return 400, {}, "boom"  # non-retryable → batch dropped
            return 200, {}, json.dumps([{"user_id": "2", "application_id": "5"}])

        c = make_client(flaky)
        rows = c.get_computer_activities(["2026-01-01"], user_ids=[1, 2])
        assert rows == [{"user_id": "2", "application_id": "5"}]

    def test_tasks_dict_normalized_to_list(self):
        t = DictTransport({r"/tasks$": {"1": {"task_id": 1}, "2": {"task_id": 2}}})
        c = make_client(t)
        assert sorted(x["task_id"] for x in c.get_tasks()) == [1, 2]


# ---------------------------------------------------------------------------
# tier 2: builders on the fixture workspace
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def demo_client():
    return TimeCampClient(demo_transport(), sleeper=lambda s: None)


def test_build_tasks_breadcrumbs(spark, demo_client):
    tasks = {r["task_id"]: r for r in ingest.build_tasks(spark, demo_client).collect()}
    assert tasks["3"]["task_breadcrumb"] == "Acme / Platform / Ingest"
    assert tasks["3"]["task_level_1"] == "Acme"
    assert tasks["3"]["task_level_3"] == "Ingest"
    assert tasks["3"]["task_level_4"] == ""
    # '' and 0 parents are roots
    assert tasks["1"]["parent_id"] is None and tasks["5"]["parent_id"] is None
    # orphan parent → walk stops at self
    assert tasks["6"]["task_breadcrumb"] == "Orphan"
    assert tasks["2"]["budgeted"] == 7200


def test_build_users_enrichment(spark, demo_client):
    users = {r["user_id"]: r for r in
             ingest.build_users(spark, demo_client, include_disabled=True).collect()}
    # W1 deterministic primary group: min numeric id → Everyone (10) for 101
    assert users["101"]["group_name"] == "Everyone"
    assert users["102"]["group_name"] == "Engineering"
    assert users["102"]["group_breadcrumb"] == "Everyone / Engineering"
    assert users["102"]["group_level_2"] == "Engineering"
    # enabled flag from 50-id-batched settings; 102 disabled
    assert users["101"]["is_enabled"] is True
    assert users["102"]["is_enabled"] is False
    # default filter drops disabled (P3)
    active = ingest.build_users(spark, demo_client).select("user_id").collect()
    assert {r.user_id for r in active} == {"101", "103"}


def test_build_entries_tags_json(spark, demo_client):
    entries = ingest.build_entries(spark, demo_client, "2025-01-01", "2026-02-01")
    rows = {r["id"]: r for r in entries.collect()}
    assert json.loads(rows["9001"]["tags"]) == [{"tagId": "7"}]
    assert rows["9002"]["tags"] is None  # empty list → NULL like json.dumps skip
    assert rows["9001"]["duration"] == 3600


def test_build_application_names(spark, demo_client):
    acts = ingest.build_computer_activities(
        spark, demo_client, ["2026-01-05", "2026-01-06"]
    )
    # P4: '0' app id excluded
    ids = {r.application_id for r in ingest.distinct_application_ids(acts).collect()}
    assert ids == {"501", "502"}
    apps = {r["application_id"]: r for r in
            ingest.build_application_names(spark, demo_client, acts).collect()}
    # F4 fallback chain: full_name first, else aditional_info (typo renamed)
    assert apps["501"]["application_name"] == "Super Editor"
    assert apps["502"]["application_name"] == "Web Browser"
    assert apps["502"]["additional_info"] == "Web Browser"
    # J3 category map with default
    assert apps["501"]["category_name"] == "Developer Tools"
    assert apps["502"]["category_name"] == "Reference & Search"


def test_run_pipeline_roundtrip(spark, tmp_path, demo_client):
    res = run_pipeline(
        spark,
        demo_transport(),
        str(tmp_path),
        "2025-01-01",
        "2026-02-01",
        dates=["2026-01-05", "2026-01-06"],
    )
    assert set(res.tables) == {"tasks", "users", "entries",
                               "computer_activities", "application_names"}
    # dedup by pk: fixture entries contain a duplicated id 9004
    landed = io.read_table(spark, str(tmp_path), "entries")
    assert landed.count() == 4
    assert landed.filter(F.col("id") == "9004").count() == 1
    # jsonl + csv writers round-trip the same table
    io.write_table(res.tables["tasks"], str(tmp_path / "alt"), "tasks", fmt="jsonl")
    back = io.read_table(spark, str(tmp_path / "alt"), "tasks", fmt="jsonl")
    assert back.count() == res.tables["tasks"].count()
    assert {f.name for f in back.schema.fields} == \
        {f.name for f in res.tables["tasks"].schema.fields}


def test_landed_write_plans_dedup_once(spark, tmp_path, monkeypatch):
    """run_pipeline deduplicates each landed table once: one partial+final
    ``first()`` aggregate pair keyed on the pk, none without a pk; the
    Observation still counts the landed (post-dedup) rows."""
    import re

    from good_enough_timecamp_data_pipeline_spark.sources.pipeline import DATASETS

    frame_cls = type(spark.range(1))  # the session's concrete DataFrame class
    written = []
    write = frame_cls.write
    monkeypatch.setattr(
        frame_cls, "write", property(lambda df: (written.append(df), write.fget(df))[1])
    )
    res = run_pipeline(spark, demo_transport(), str(tmp_path), "2025-01-01",
                       "2026-02-01", dates=["2026-01-05", "2026-01-06"])
    monkeypatch.undo()
    assert len(written) == len(DATASETS)
    for name, df in zip(DATASETS, written):
        plan = df._jdf.queryExecution().executedPlan().toString()
        dedups = re.findall(r"Aggregate\(keys?=\[(\w+)#\d+\], functions=\[(?:partial_)?first\(", plan)
        pk = io.schemas.PRIMARY_KEYS[name]
        assert dedups == ([pk, pk] if pk else []), (name, plan)
    assert res.row_counts["entries"] == 4  # duplicate id 9004 dropped once


def test_run_pipeline_leaves_nothing_persisted(spark, tmp_path):
    """No cached blocks outlive run_pipeline, and the one activities
    fetch still feeds both activity-derived tables."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    inner = demo_transport()
    urls: list[str] = []

    def send(method, url, params):
        urls.append(url.rstrip("/"))
        return inner(method, url, params)

    res = run_pipeline(spark, send, str(tmp_path), "2025-01-01", "2026-02-01",
                       dates=["2026-01-05", "2026-01-06"])
    assert set(jsc.getPersistentRDDs().keys()) - before == set()
    assert not any(df.is_cached for df in res.tables.values())
    assert sum(u.endswith("/computer_activities") for u in urls) == 1
    assert sum(u.endswith("/application") for u in urls) == 1
    assert res.row_counts["computer_activities"] == 4
    assert res.row_counts["application_names"] == 2


# ---------------------------------------------------------------------------
# tier 2: incremental layer
# ---------------------------------------------------------------------------

def test_grow_only_dim(spark, tmp_path):
    path = str(tmp_path / "apps_dim")
    fetched_batches: list[list[str]] = []

    def fetch(ids):
        fetched_batches.append(list(ids))
        return spark.createDataFrame(
            [(i, f"name-{i}") for i in ids], "application_id string, name string"
        )

    need1 = spark.createDataFrame([("1",), ("2",)], "application_id string")
    dim = incremental.grow_only_dim(spark, path, need1, fetch)
    assert dim.count() == 2

    # second call: only the never-seen id is fetched
    need2 = spark.createDataFrame([("2",), ("3",)], "application_id string")
    dim = incremental.grow_only_dim(spark, path, need2, fetch)
    assert fetched_batches == [["1", "2"], ["3"]]
    assert dim.count() == 3


def test_refresh_activities_partition_overwrite(spark, tmp_path):
    import datetime

    path = str(tmp_path / "acts")
    today = datetime.date.today()
    old_day = str(today - datetime.timedelta(days=30))
    recent_day = str(today)
    fetch_log: list[list[str]] = []

    def fetch(dates):
        fetch_log.append(sorted(dates))
        return spark.createDataFrame(
            [(d, "u1", 1) for d in dates], "end_date string, user_id string, v long"
        )

    # bootstrap: both days fetched
    out = incremental.refresh_activities(spark, path, fetch, [old_day, recent_day])
    assert out.count() == 2
    # second run: the old (immutable) day is served from the table,
    # only the recent day is refetched
    out = incremental.refresh_activities(spark, path, fetch, [old_day, recent_day])
    assert fetch_log == [sorted([old_day, recent_day]), [recent_day]]
    assert out.count() == 2
    # the old partition survived the dynamic overwrite
    assert out.filter(F.col("end_date") == old_day).count() == 1


# ---------------------------------------------------------------------------
# CLI surface
# ---------------------------------------------------------------------------

def test_cli_offline_demo(spark, tmp_path, capsys):
    from good_enough_timecamp_data_pipeline_spark import cli

    rc = cli.main([
        "--offline-demo", "--from", "2025-01-01", "--to", "2026-02-01",
        "--datasets", "tasks,entries", "--output", str(tmp_path / "out"),
        "--format", "parquet",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "tasks: 6 rows" in out
    assert "entries: 4 rows" in out  # dedup-by-pk applied before landing

    landed = io.read_table(spark, str(tmp_path / "out"), "entries")
    assert landed.count() == 4


def test_cli_rejects_unknown_dataset():
    from good_enough_timecamp_data_pipeline_spark import cli

    with pytest.raises(ValueError, match="Invalid datasets"):
        cli.parse_datasets("tasks,nonsense")


def test_cli_requires_credentials(capsys, monkeypatch):
    from good_enough_timecamp_data_pipeline_spark import cli

    monkeypatch.delenv("TIMECAMP_API_KEY", raising=False)
    rc = cli.main(["--datasets", "tasks"])
    assert rc == 2
    assert "no API key" in capsys.readouterr().err


def test_write_bigquery_reports_missing_connector(spark):
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises((RuntimeError, Exception)) as e:
        io.write_bigquery(df, "proj.ds.t")
    # no connector jar here: the error must say so (or name the format)
    assert "bigquery" in str(e.value).lower()


def test_write_duckdb_roundtrip(spark, tmp_path):
    import duckdb

    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", 7.0)], "id long, s string, v double"
    )
    db = str(tmp_path / "out.duckdb")
    io.write_duckdb(df, db, "t1")
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*), SUM(v) FROM t1").fetchone() == (2, 9.5)
    # append mode grows the table
    con.close()
    io.write_duckdb(df, db, "t1", staging_dir=str(tmp_path / "stage2"), mode="append")
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*) FROM t1").fetchone() == (4,)
    con.close()


def test_cli_offline_demo_end_to_end(spark, tmp_path, capsys):
    """The CLI surface (reference parity: --from/--to/--datasets/--format/
    --output) runs the whole offline-demo pipeline and lands files."""
    import os

    from good_enough_timecamp_data_pipeline_spark import cli

    out = str(tmp_path / "cli_out")
    rc = cli.main([
        "--from", "2025-01-01", "--to", "2026-02-01",
        "--datasets", "tasks,entries",
        "--format", "jsonl",
        "--output", out,
        "--offline-demo",
    ])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "tasks:" in printed and "entries:" in printed
    assert os.path.isdir(os.path.join(out, "tasks"))
    back = io.read_table(spark, out, "entries", fmt="jsonl")
    assert back.count() > 0


def test_cli_rejects_unknown_dataset_and_missing_key(tmp_path, monkeypatch):
    import pytest as _pytest

    from good_enough_timecamp_data_pipeline_spark import cli

    with _pytest.raises(ValueError, match="Invalid datasets"):
        cli.parse_datasets("tasks,nonsense")
    monkeypatch.delenv("TIMECAMP_API_KEY", raising=False)
    rc = cli.main(["--output", str(tmp_path), "--datasets", "tasks"])
    assert rc == 2  # no API key and not offline-demo


def test_incremental_task_totals_matches_full_recompute(spark, sf_dir):
    from pyspark.sql import functions as F

    from good_enough_timecamp_data_pipeline_spark.operators.hierarchy import (
        transitive_closure,
    )
    from good_enough_timecamp_data_pipeline_spark.plans.testdata import (
        entries_df,
        tasks_df,
    )
    from good_enough_timecamp_data_pipeline_spark.sources.incremental import (
        incremental_task_totals,
    )

    closure = transitive_closure(tasks_df(spark, sf_dir), strategy="unroll", max_depth=3)
    entries = entries_df(spark, sf_dir)
    h1 = entries.filter(F.col("entry_id").cast("long") % 2 == 0)
    h2 = entries.filter(F.col("entry_id").cast("long") % 2 == 1)

    state1 = incremental_task_totals(closure, h1)
    state2 = incremental_task_totals(closure, h2, state=state1)
    got = {r.ancestor_id: r.cumulative_seconds for r in state2.collect()}

    full = (
        entries.join(closure, entries["task_id"] == closure["descendant_id"])
        .groupBy("ancestor_id")
        .agg(F.sum("duration").alias("s"))
    )
    expect = {r.ancestor_id: r.s for r in full.collect()}
    assert got == expect

    # retraction: replaying a batch negated returns to the prior state
    neg = h2.withColumn("duration", -F.col("duration"))
    reverted = incremental_task_totals(closure, neg, state=state2)
    back = {
        r.ancestor_id: r.cumulative_seconds
        for r in reverted.collect()
        if r.cumulative_seconds != 0
    }
    base = {r.ancestor_id: r.cumulative_seconds for r in state1.collect() if r.cumulative_seconds != 0}
    assert back == base


def test_run_pipeline_resume_skips_completed_steps(spark, tmp_path):
    """Crash-resume parity with dlt pipeline state: a rerun with
    resume=True refetches nothing; wiping one table's ledger entry
    refetches only that table."""
    import json
    import shutil

    def recording_transport():
        inner = demo_transport()
        calls: list[tuple[str, str, dict]] = []

        def send(method, url, params):
            calls.append((method, url, dict(params)))
            return inner(method, url, params)

        send.requests = calls  # type: ignore[attr-defined]
        return send

    out = str(tmp_path / "run")
    t1 = recording_transport()
    run_pipeline(spark, t1, out, "2025-01-01", "2026-02-01",
                 dates=["2026-01-05"], datasets=("tasks", "users"))
    assert t1.requests, "first run must hit the transport"

    # full resume: zero transport traffic, same tables read back
    t2 = recording_transport()
    res = run_pipeline(spark, t2, out, "2025-01-01", "2026-02-01",
                       dates=["2026-01-05"], datasets=("tasks", "users"),
                       resume=True)
    assert t2.requests == []
    assert sorted(res.skipped) == ["tasks", "users"]
    assert res.tables["tasks"].count() > 0

    # invalidate one step (simulates crash between write and mark):
    # only that dataset refetches
    ledger_path = f"{out}/_run_ledger.json"
    ledger = json.load(open(ledger_path))
    ledger.pop(next(k for k in ledger if k.startswith("users|")))
    json.dump(ledger, open(ledger_path, "w"))
    shutil.rmtree(f"{out}/users", ignore_errors=True)
    t3 = recording_transport()
    res3 = run_pipeline(spark, t3, out, "2025-01-01", "2026-02-01",
                        dates=["2026-01-05"], datasets=("tasks", "users"),
                        resume=True)
    assert res3.skipped == ["tasks"]
    assert any("/users" in u for _, u, _ in t3.requests)
    assert not any("/tasks" in u for _, u, _ in t3.requests)
    # window change invalidates the signature: everything refetches
    t4 = recording_transport()
    res4 = run_pipeline(spark, t4, out, "2025-06-01", "2026-02-01",
                        dates=["2026-01-05"], datasets=("tasks", "users"),
                        resume=True)
    assert res4.skipped == []


def test_cli_demo_run_writes_rotating_log(spark, tmp_path, capsys):
    """Round-5 VERDICT item 6: reference users grep logs/sync.log after a
    run (common/logger.py:1-46) — a demo run must land one under the
    output dir with the run window and per-dataset rows."""
    import logging

    from good_enough_timecamp_data_pipeline_spark import cli

    out_dir = tmp_path / "out"
    # isolate the logger between tests (setup_logger is idempotent per name)
    logging.getLogger("timecamp_sync").handlers.clear()
    rc = cli.main([
        "--offline-demo", "--from", "2025-01-01", "--to", "2026-02-01",
        "--datasets", "tasks", "--output", str(out_dir), "--format", "parquet",
    ])
    assert rc == 0
    log_file = out_dir / "logs" / "sync.log"
    assert log_file.is_file()
    body = log_file.read_text()
    assert "run start: window=2025-01-01..2026-02-01" in body
    assert "tasks: 6 rows" in body
    assert "run complete" in body
    # rotating handler with the reference's 10 MB x 5 policy
    from logging.handlers import RotatingFileHandler

    handlers = [
        h for h in logging.getLogger("timecamp_sync").handlers
        if isinstance(h, RotatingFileHandler)
    ]
    assert handlers and handlers[0].maxBytes == 10 * 1024 * 1024
    assert handlers[0].backupCount == 5
    logging.getLogger("timecamp_sync").handlers.clear()


def test_setup_logger_repeat_call_follows_new_log_dir(tmp_path):
    """Round-6 ADVICE item 3: a second run in the same process with a
    different --output must log under the NEW directory — the repeat
    setup_logger call swaps the file handler instead of appending to the
    first run's file forever."""
    import logging

    from good_enough_timecamp_data_pipeline_spark.sources.logconf import setup_logger

    name = "timecamp_sync_swap_test"
    logging.getLogger(name).handlers.clear()
    a, b = tmp_path / "run_a", tmp_path / "run_b"
    log = setup_logger(name, log_dir=str(a))
    log.info("first run")
    log = setup_logger(name, log_dir=str(b))
    log.info("second run")
    assert "first run" in (a / "sync.log").read_text()
    body_b = (b / "sync.log").read_text()
    assert "second run" in body_b and "first run" not in body_b
    # and first run's file stops growing
    assert "second run" not in (a / "sync.log").read_text()
    # same-dir repeat call keeps the handler (no churn)
    h_before = [h for h in logging.getLogger(name).handlers]
    setup_logger(name, log_dir=str(b))
    assert logging.getLogger(name).handlers == h_before
    logging.getLogger(name).handlers.clear()


def test_dotenv_loading(tmp_path, monkeypatch):
    """.env parity (reference common/utils.py:19-26): KEY=VALUE lines,
    comments, quotes, export prefix; override semantics."""
    from good_enough_timecamp_data_pipeline_spark.sources.logconf import load_dotenv

    env = tmp_path / ".env"
    env.write_text(
        "# comment\n"
        "TIMECAMP_API_KEY=sekrit\n"
        'QUOTED="hello world"\n'
        "export EXPORTED='single'\n"
        "NOT_OVERRIDDEN=fromfile\n"
        "malformed line without equals ignored? no-equals\n"
    )
    monkeypatch.delenv("TIMECAMP_API_KEY", raising=False)
    monkeypatch.setenv("NOT_OVERRIDDEN", "fromenv")
    import os

    loaded = load_dotenv(str(env), override=False)
    assert loaded["TIMECAMP_API_KEY"] == "sekrit"
    assert os.environ["TIMECAMP_API_KEY"] == "sekrit"
    assert os.environ["QUOTED"] == "hello world"
    assert os.environ["EXPORTED"] == "single"
    assert os.environ["NOT_OVERRIDDEN"] == "fromenv"  # override=False keeps env
    load_dotenv(str(env), override=True)
    assert os.environ["NOT_OVERRIDDEN"] == "fromfile"
    monkeypatch.delenv("TIMECAMP_API_KEY", raising=False)
    # missing file is a silent no-op
    assert load_dotenv(str(tmp_path / "absent.env")) == {}
