"""TimeCamp as a first-class Spark data source (Python DataSource API).

Spark 4's ``pyspark.sql.datasource`` lets the reference's REST extract
run as a NATIVE source::

    spark.dataSource.register(TimecampDataSource)
    df = (spark.read.format("timecamp")
          .option("dataset", "entries")
          .option("from", "2025-01-01").option("to", "2025-03-01")
          .option("mode", "offline-demo")        # or .option("api_key", ...)
          .load())

This is the architecturally-right shape for the extract layer at scale:
**the date range is split into ≤``chunk_days``-day input partitions and
each EXECUTOR fetches its own window** (the reference's sequential
date-chunk loop, ``/root/reference/dlt_fetch_timecamp.py:214-258``, made
parallel), so ingest throughput scales with the cluster instead of the
driver's socket. Rows come back already coerced to the landed schemas.

Scope: this source serves the RAW extract tier —

- ``dataset=entries``: the time-entries FACT, partitioned by date chunk;
  rows match ``ingest.build_entries`` exactly (same coercions, same
  tags→JSON-text rule; parity is pinned by a test).
- ``dataset=tasks`` / ``dataset=users``: the raw dimension payloads
  (single partition — dimension endpoints return the whole set).
  Hierarchy breadcrumbs / group enrichment stay downstream: `ingest`
  walks the payloads it holds on the driver with
  `hierarchy.breadcrumb_rows`, and a tasks frame read from this source
  gets its crumbs from the DataFrame operator `hierarchy.breadcrumbs`,
  like any file-based source feeding a transform layer.

Transports are constructed PER EXECUTOR from options (never pickled):
``mode=offline-demo`` builds the deterministic fixture workspace,
otherwise ``api_key`` builds the real HTTP transport.
"""

from __future__ import annotations

import datetime as _dt
import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from . import schemas

RAW_TASKS_SCHEMA = (
    "task_id string, parent_id string, name string, budgeted bigint, "
    "public_hash string, task_key string"
)
RAW_USERS_SCHEMA = (
    "user_id string, email string, display_name string, is_enabled boolean"
)


class _DateChunk(InputPartition):
    def __init__(self, from_date: str, to_date: str):
        self.from_date = from_date
        self.to_date = to_date


def _make_client(opts: dict):
    from .client import TimeCampClient

    if opts.get("mode") == "offline-demo":
        from .fixtures import demo_transport

        return TimeCampClient(demo_transport())
    api_key = opts.get("api_key")
    if not api_key:
        raise ValueError(
            "timecamp source needs .option('api_key', ...) or "
            ".option('mode', 'offline-demo')"
        )
    from .client import requests_transport

    return TimeCampClient(requests_transport(api_key))


def _chunks(from_date: str, to_date: str, chunk_days: int) -> list[_DateChunk]:
    d0 = _dt.date.fromisoformat(from_date)
    d1 = _dt.date.fromisoformat(to_date)
    if d1 < d0:
        raise ValueError(f"empty window {from_date}..{to_date}")
    out = []
    cur = d0
    while cur <= d1:
        end = min(cur + _dt.timedelta(days=chunk_days - 1), d1)
        out.append(_DateChunk(str(cur), str(end)))
        cur = end + _dt.timedelta(days=1)
    return out


def _entry_row(r: dict) -> tuple:
    """Pure-Python twin of build_entries' coercion (parity-tested)."""

    def s(v):
        return None if v is None else str(v)

    def i(v):
        try:
            return None if v is None else int(float(v))
        except (TypeError, ValueError):
            return None

    def f(v):
        try:
            return None if v is None else float(v)
        except (TypeError, ValueError):
            return None

    def d(v):
        if v is None:
            return None
        try:
            return _dt.date.fromisoformat(str(v)[:10])
        except ValueError:
            return None

    tags = r.get("tags")
    if isinstance(tags, list) and tags:
        # same text F.to_json emits for array<map<string,string>>
        tags_json = json.dumps(
            [{str(k): str(v) for k, v in t.items()} for t in tags],
            separators=(",", ":"),
            ensure_ascii=False,
        )
    else:
        tags_json = None
    return (
        s(r.get("id")),
        s(r.get("task_id")),
        s(r.get("user_id")),
        d(r.get("date")),
        i(r.get("duration")),
        s(r.get("description")),
        tags_json,
        s(r.get("project_name")),
        f(r.get("rate")),
    )


class _EntriesReader(DataSourceReader):
    def __init__(self, opts: dict):
        self.opts = opts
        self.chunk_days = int(opts.get("chunk_days", "20"))
        self.from_date = opts.get("from")
        self.to_date = opts.get("to")
        if not self.from_date or not self.to_date:
            raise ValueError("dataset=entries needs .option('from'/'to', ...)")

    def partitions(self) -> Sequence[InputPartition]:
        return _chunks(self.from_date, self.to_date, self.chunk_days)

    def read(self, partition: _DateChunk) -> Iterator[tuple]:
        client = _make_client(self.opts)
        raw = client.get_time_entries(
            partition.from_date,
            partition.to_date,
            opt_fields="tags,breadcrumps",
        )
        for r in raw:
            yield _entry_row(r)


class _TasksReader(DataSourceReader):
    def __init__(self, opts: dict):
        self.opts = opts

    def read(self, partition) -> Iterator[tuple]:
        client = _make_client(self.opts)
        for r in client.get_tasks():
            budget = r.get("budgeted")
            try:
                budget = None if budget is None else int(float(budget))
            except (TypeError, ValueError):
                budget = None
            yield (
                None if r.get("task_id") is None else str(r.get("task_id")),
                None if r.get("parent_id") is None else str(r.get("parent_id")),
                None if r.get("name") is None else str(r.get("name")),
                budget,
                None if r.get("public_hash") is None else str(r.get("public_hash")),
                None if r.get("task_key") is None else str(r.get("task_key")),
            )


class _UsersReader(DataSourceReader):
    def __init__(self, opts: dict):
        self.opts = opts

    def read(self, partition) -> Iterator[tuple]:
        client = _make_client(self.opts)
        for r in client.get_users():
            yield (
                None if r.get("user_id") is None else str(r.get("user_id")),
                None if r.get("email") is None else str(r.get("email")),
                None if r.get("display_name") is None else str(r.get("display_name")),
                bool(r.get("is_enabled", True)),
            )


class _UserDatesChunk(InputPartition):
    def __init__(self, dates: list[str], user_id: int | None):
        self.dates = dates
        self.user_id = user_id


def _activity_row(r: dict) -> tuple:
    """Pure-Python twin of build_computer_activities' coercion
    (schemas.COMPUTER_ACTIVITIES; parity-tested)."""

    def s(v):
        return None if v is None else str(v)

    def i(v):
        try:
            return None if v is None else int(float(v))
        except (TypeError, ValueError):
            return None

    def d(v):
        if v is None:
            return None
        try:
            return _dt.date.fromisoformat(str(v)[:10])
        except ValueError:
            return None

    return (
        s(r.get("user_id")),
        s(r.get("application_id")),
        s(r.get("window_title")),
        s(r.get("start_time")),
        s(r.get("end_time")),
        d(r.get("end_date")),
        i(r.get("duration")),
    )


class _ActivitiesReader(DataSourceReader):
    """``dataset=computer_activities`` — the per-user × ≤20-date fan-out
    (the reference's sequential nested loop,
    ``/root/reference/common/api.py:226-324``) as INPUT PARTITIONS: the
    grid cell (one user batch × one date chunk) that the reference
    fetches in sequence is exactly the unit that parallelizes across
    executors, and it is the dataset where that matters most — the
    activity fact is per-user × per-day sized. A failed cell yields
    zero rows (the reference's per-batch tolerance), never a job abort.
    """

    def __init__(self, opts: dict):
        self.opts = opts
        self.dates_per_request = int(opts.get("dates_per_request", "20"))
        from_date, to_date = opts.get("from"), opts.get("to")
        if not from_date or not to_date:
            raise ValueError(
                "dataset=computer_activities needs .option('from'/'to', ...)"
            )
        d0 = _dt.date.fromisoformat(from_date)
        d1 = _dt.date.fromisoformat(to_date)
        if d1 < d0:
            raise ValueError(f"empty window {from_date}..{to_date}")
        self.dates = [
            str(d0 + _dt.timedelta(days=k)) for k in range((d1 - d0).days + 1)
        ]
        uid_opt = opts.get("user_ids")
        self.user_ids: list[int | None] = (
            [int(u) for u in str(uid_opt).split(",") if u] if uid_opt else [None]
        )

    def partitions(self) -> Sequence[InputPartition]:
        step = self.dates_per_request
        return [
            _UserDatesChunk(self.dates[i : i + step], u)
            for u in self.user_ids
            for i in range(0, len(self.dates), step)
        ]

    def read(self, partition: _UserDatesChunk) -> Iterator[tuple]:
        client = _make_client(self.opts)
        raw = client.get_computer_activities(
            partition.dates,
            include="application,window_title",
            user_ids=None if partition.user_id is None else [partition.user_id],
            dates_per_request=self.dates_per_request,
        )
        for r in raw:
            yield _activity_row(r)


class _IdBatch(InputPartition):
    def __init__(self, ids: list[str]):
        self.ids = ids


def _application_row(d: dict) -> tuple:
    """Pure-Python twin of build_application_names' landed projection
    (P2 rename, F4 fallback chain, J3 category lookup; parity-tested
    against schemas.APPLICATION_NAMES)."""
    from .ingest import CATEGORY_NAMES

    def nz(v):
        return "" if v is None else str(v)

    def fallback(*vals):
        for v in vals:
            if v is not None and str(v).strip() != "":
                return str(v).strip()
        return ""

    app_id = d.get("application_id")
    cat = "0" if d.get("category_id") is None else str(d.get("category_id"))
    return (
        None if app_id is None else str(app_id),
        fallback(d.get("full_name"), d.get("aditional_info"), d.get("app_name")),
        nz(d.get("app_name")),
        nz(d.get("full_name")),
        nz(d.get("aditional_info")),
        cat,
        CATEGORY_NAMES.get(cat, "No category"),
        nz(d.get("type")),
        nz(d.get("icon_url")),
    )


class _ApplicationsReader(DataSourceReader):
    """``dataset=application_names`` — the 100-id-batch dimension fetch
    (``/root/reference/dlt_fetch_timecamp.py:606-653``), one input
    partition per id batch so a large catalog fans out across
    executors. Ids come from ``.option('application_ids', '1,2,…')`` —
    the upstream distinct-id reduction is a DataFrame op
    (ingest.distinct_application_ids), exactly like any source fed a
    pushed-down id list."""

    def __init__(self, opts: dict):
        self.opts = opts
        ids_opt = opts.get("application_ids")
        if not ids_opt:
            raise ValueError(
                "dataset=application_names needs .option('application_ids', 'id,id,…')"
            )
        self.ids = sorted({i for i in str(ids_opt).split(",") if i})
        self.batch_size = int(opts.get("batch_size", "100"))

    def partitions(self) -> Sequence[InputPartition]:
        step = self.batch_size
        return [
            _IdBatch(self.ids[i : i + step]) for i in range(0, len(self.ids), step)
        ]

    def read(self, partition: _IdBatch) -> Iterator[tuple]:
        client = _make_client(self.opts)
        details = client.get_applications(partition.ids, batch_size=self.batch_size)
        for d in details.values():
            yield _application_row(d)


class _DateWindowStreamReader(SimpleDataSourceStreamReader):
    """Shared incremental-sync machinery for date-windowed datasets.

    The reference syncs by re-running the extract on a cron and letting
    dlt merge state; here the same behavior is a native streaming
    source: the OFFSET is the next unsynced date, each micro-batch
    pulls one ≤``chunk_days`` date window, and the checkpoint makes the
    sync resumable/exactly-once downstream (foreachBatch upsert or an
    append sink both work). ``to`` bounds the backfill for tests;
    unbounded mode follows yesterday (the immutable-past horizon —
    today's rows are still mutable, the S12 contract). Subclasses
    implement ``_fetch(from_date, to_date)``.
    """

    def __init__(self, opts: dict):
        self.opts = opts
        self.chunk_days = int(opts.get("chunk_days", "20"))
        self.from_date = opts.get("from")
        if not self.from_date:
            raise ValueError("streaming timecamp source needs .option('from', ...)")
        self.end_date = opts.get("to")  # None → follow yesterday
        # 'yesterday' is evaluated in an EXPLICIT timezone — default UTC,
        # override with .option('tz', 'Europe/Warsaw') to the workspace's
        # zone. The driver's ambient local date is never used: a driver
        # clock ahead of the workspace would otherwise pull the
        # workspace's still-mutable current day into the immutable-past
        # cache (S12 contract; round-7 ADVICE item 5).
        self.tz = opts.get("tz", "UTC")

    def _horizon(self) -> _dt.date:
        if self.end_date:
            return _dt.date.fromisoformat(self.end_date)
        from zoneinfo import ZoneInfo

        now = _dt.datetime.now(ZoneInfo(self.tz))
        return now.date() - _dt.timedelta(days=1)

    def initialOffset(self) -> dict:
        return {"next_date": self.from_date}

    def _window(self, start: dict):
        d0 = _dt.date.fromisoformat(start["next_date"])
        hi = self._horizon()
        if d0 > hi:
            return None
        d1 = min(d0 + _dt.timedelta(days=self.chunk_days - 1), hi)
        return d0, d1

    def read(self, start: dict):
        w = self._window(start)
        if w is None:  # caught up — no new batch, offset unchanged
            return iter(()), start
        d0, d1 = w
        nxt = {"next_date": str(d1 + _dt.timedelta(days=1))}
        return self._fetch(str(d0), str(d1)), nxt

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # replay for recovery: the window is [start, end) in date space
        d0 = _dt.date.fromisoformat(start["next_date"])
        d1 = _dt.date.fromisoformat(end["next_date"]) - _dt.timedelta(days=1)
        if d1 < d0:
            return iter(())
        return self._fetch(str(d0), str(d1))

    def _fetch(self, from_date: str, to_date: str) -> Iterator[tuple]:
        raise NotImplementedError


class _EntriesStreamReader(_DateWindowStreamReader):
    """``readStream`` ``dataset=entries`` — one ≤chunk_days entry window
    per micro-batch."""

    def _fetch(self, from_date: str, to_date: str) -> Iterator[tuple]:
        client = _make_client(self.opts)
        raw = client.get_time_entries(
            from_date, to_date, opt_fields="tags,breadcrumps"
        )
        return iter([_entry_row(r) for r in raw])


class _ActivitiesStreamReader(_DateWindowStreamReader):
    """``readStream`` ``dataset=computer_activities`` — the dataset the
    reference re-syncs on a cron (``dlt_fetch_timecamp.py:194-237``:
    yesterday + today, every run) as a checkpointed incremental stream.
    Each micro-batch covers one ≤``chunk_days`` date window; within the
    window the fetch uses the same per-user × ≤``dates_per_request``
    batching as the batch reader (``_ActivitiesReader``), so one
    micro-batch issues the identical request grid the reference's loop
    would. ``user_ids`` is optional — absent means the workspace-wide
    fetch."""

    def __init__(self, opts: dict):
        super().__init__(opts)
        self.dates_per_request = int(opts.get("dates_per_request", "20"))
        uid_opt = opts.get("user_ids")
        self.user_ids: list[int] | None = (
            [int(u) for u in str(uid_opt).split(",") if u] if uid_opt else None
        )

    def _fetch(self, from_date: str, to_date: str) -> Iterator[tuple]:
        client = _make_client(self.opts)
        d0 = _dt.date.fromisoformat(from_date)
        d1 = _dt.date.fromisoformat(to_date)
        dates = [str(d0 + _dt.timedelta(days=k)) for k in range((d1 - d0).days + 1)]
        raw = client.get_computer_activities(
            dates,
            include="application,window_title",
            user_ids=self.user_ids,
            dates_per_request=self.dates_per_request,
        )
        return iter([_activity_row(r) for r in raw])


class TimecampDataSource(DataSource):
    """``spark.read.format("timecamp")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "timecamp"

    def schema(self):
        ds = self.options.get("dataset", "entries")
        if ds == "entries":
            return StructType(schemas.ENTRIES.fields)
        if ds == "tasks":
            return RAW_TASKS_SCHEMA
        if ds == "users":
            return RAW_USERS_SCHEMA
        if ds == "computer_activities":
            return StructType(schemas.COMPUTER_ACTIVITIES.fields)
        if ds == "application_names":
            return StructType(schemas.APPLICATION_NAMES.fields)
        raise ValueError(
            f"unknown dataset {ds!r} "
            "(entries|tasks|users|computer_activities|application_names)"
        )

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        ds = self.options.get("dataset", "entries")
        if ds == "entries":
            return _EntriesStreamReader(dict(self.options))
        if ds == "computer_activities":
            return _ActivitiesStreamReader(dict(self.options))
        raise ValueError(
            "streaming timecamp source supports "
            "dataset=entries|computer_activities"
        )

    def reader(self, schema) -> DataSourceReader:
        ds = self.options.get("dataset", "entries")
        opts = dict(self.options)
        if ds == "entries":
            return _EntriesReader(opts)
        if ds == "tasks":
            return _TasksReader(opts)
        if ds == "computer_activities":
            return _ActivitiesReader(opts)
        if ds == "application_names":
            return _ApplicationsReader(opts)
        return _UsersReader(opts)
