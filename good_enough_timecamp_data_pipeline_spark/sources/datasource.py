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
driver's socket. Each reader applies the table's row rule from `ingest`
(``entry_rows``, ``task_rows``, ...), the same function the driver-side
builders apply, so its rows are the builder's rows by construction.

Scope: this source serves the RAW extract tier —

- ``dataset=entries``: the time-entries FACT, partitioned by date chunk.
- ``dataset=computer_activities``: the activity fact, partitioned by
  user × date chunk; ``dataset=application_names``: the application
  dimension, partitioned by id batch.
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
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from . import ingest, schemas


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


def _dates(from_date: str, to_date: str) -> list[str]:
    d0 = _dt.date.fromisoformat(from_date)
    d1 = _dt.date.fromisoformat(to_date)
    return [str(d0 + _dt.timedelta(days=k)) for k in range((d1 - d0).days + 1)]


def _user_ids(opts: dict) -> list[int] | None:
    uid_opt = opts.get("user_ids")
    return [int(u) for u in str(uid_opt).split(",") if u] if uid_opt else None


def _tuples(rows: list[dict]) -> Iterator[tuple]:
    """Rule-shaped dict rows as the tuples a reader yields (a list
    iterator: the streaming wrapper copies a cached batch's iterator)."""
    return iter([tuple(r.values()) for r in rows])


def _entries(opts: dict, from_date: str, to_date: str) -> Iterator[tuple]:
    return _tuples(ingest.fetch_entries(_make_client(opts), from_date, to_date))


def _activities(
    opts: dict, dates: list[str], user_ids: list[int] | None, dates_per_request: int
) -> Iterator[tuple]:
    client = _make_client(opts)
    return _tuples(ingest.fetch_activities(client, dates, user_ids, dates_per_request))


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
        return _entries(self.opts, partition.from_date, partition.to_date)


class _TasksReader(DataSourceReader):
    def __init__(self, opts: dict):
        self.opts = opts

    def read(self, partition) -> Iterator[tuple]:
        return _tuples(ingest.task_rows(_make_client(self.opts).get_tasks()))


class _UsersReader(DataSourceReader):
    def __init__(self, opts: dict):
        self.opts = opts

    def read(self, partition) -> Iterator[tuple]:
        return _tuples(ingest.user_rows(_make_client(self.opts).get_users()))


class _UserDatesChunk(InputPartition):
    def __init__(self, dates: list[str], user_id: int | None):
        self.dates = dates
        self.user_id = user_id


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
        self.dates = _dates(from_date, to_date)
        if not self.dates:
            raise ValueError(f"empty window {from_date}..{to_date}")
        self.user_ids: list[int | None] = _user_ids(opts) or [None]

    def partitions(self) -> Sequence[InputPartition]:
        step = self.dates_per_request
        return [
            _UserDatesChunk(self.dates[i : i + step], u)
            for u in self.user_ids
            for i in range(0, len(self.dates), step)
        ]

    def read(self, partition: _UserDatesChunk) -> Iterator[tuple]:
        user_ids = None if partition.user_id is None else [partition.user_id]
        return _activities(self.opts, partition.dates, user_ids, self.dates_per_request)


class _IdBatch(InputPartition):
    def __init__(self, ids: list[str]):
        self.ids = ids


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
        return _tuples(ingest.application_rows(details.values()))


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
        return _entries(self.opts, from_date, to_date)


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
        self.user_ids = _user_ids(opts)

    def _fetch(self, from_date: str, to_date: str) -> Iterator[tuple]:
        dates = _dates(from_date, to_date)
        return _activities(self.opts, dates, self.user_ids, self.dates_per_request)


_SCHEMAS = {
    "entries": schemas.ENTRIES,
    "tasks": schemas.RAW_TASKS,
    "users": schemas.RAW_USERS,
    "computer_activities": schemas.COMPUTER_ACTIVITIES,
    "application_names": schemas.APPLICATION_NAMES,
}


class TimecampDataSource(DataSource):
    """``spark.read.format("timecamp")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "timecamp"

    def schema(self):
        ds = self.options.get("dataset", "entries")
        if ds not in _SCHEMAS:
            raise ValueError(f"unknown dataset {ds!r} ({'|'.join(_SCHEMAS)})")
        return _SCHEMAS[ds]

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
