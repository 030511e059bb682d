"""Full ELT run: fetch → enrich → land all five tables.

The Spark twin of the reference CLI run (``/root/reference/
dlt_fetch_timecamp.py:656-713``): one call fetches every dataset through a
`TimeCampClient`, applies the relational enrichment, and lands
dir-per-table files. Offline by default — pass
``fixtures.demo_transport()`` (tests do) or ``client.requests_transport
(token)`` for the real API.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from . import ingest, io
from .client import TimeCampClient, Transport

DATASETS = ("tasks", "users", "entries", "computer_activities", "application_names")


@dataclass
class PipelineResult:
    tables: dict[str, DataFrame] = field(default_factory=dict)
    paths: dict[str, str] = field(default_factory=dict)
    skipped: list[str] = field(default_factory=list)
    #: landed row counts, observed on the WRITE job itself (A6 logging)
    row_counts: dict[str, int] = field(default_factory=dict)


def _ledger_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_run_ledger.json")


def _load_ledger(out_dir: str) -> dict:
    try:
        with open(_ledger_path(out_dir)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _save_ledger(out_dir: str, ledger: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    tmp = _ledger_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ledger, f, indent=1)
    os.replace(tmp, _ledger_path(out_dir))  # atomic: crash leaves old ledger


def run_pipeline(
    spark: SparkSession,
    transport: Transport,
    out_dir: str,
    from_date: str,
    to_date: str,
    dates: list[str] | None = None,
    datasets: tuple[str, ...] = DATASETS,
    fmt: str = "parquet",
    resume: bool = False,
) -> PipelineResult:
    """``resume=True`` consults the run ledger (``_run_ledger.json`` in
    ``out_dir``, written atomically after each landed table): steps whose
    (dataset, window, fmt) signature already completed are read back from
    disk instead of refetched — the dlt-pipeline-state behavior of the
    reference (crash mid-run, rerun, only unfinished work executes). The
    ledger records row counts so a short-landed table (crash between
    write and ledger mark) is never trusted."""
    unknown = set(datasets) - set(DATASETS)
    if unknown:
        raise ValueError(f"unknown datasets: {sorted(unknown)}")

    client = TimeCampClient(transport)
    res = PipelineResult()
    ledger = _load_ledger(out_dir) if resume else {}

    def step_key(name: str) -> str:
        return f"{name}|{from_date}|{to_date}|{fmt}"

    def done(name: str) -> bool:
        entry = ledger.get(step_key(name))
        return bool(entry) and os.path.exists(io.table_path(out_dir, name))

    def recall(name: str) -> None:
        path = io.table_path(out_dir, name)
        res.tables[name] = io.read_table_path(spark, path, fmt)
        res.paths[name] = path
        res.skipped.append(name)
        res.row_counts[name] = int(ledger[step_key(name)]["rows"])

    def land(name: str, df: DataFrame) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        # A5 dedup-by-primary-key before landing, the one dedup of the
        # table: ahead of the Observation, so row_counts counts landed rows
        df = io.dedup_by_pk(df, io.schemas.PRIMARY_KEYS.get(name))
        res.tables[name] = df
        # A6 row-count logging rides the WRITE job via the Observation
        # API — the previous df.count() re-ran the whole extract+derive
        # pipeline a second time per dataset just to fill the ledger
        obs = Observation()
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        res.paths[name] = io.write_table(observed, out_dir, name, fmt=fmt)
        rows = int(obs.get["rows"])
        res.row_counts[name] = rows
        ledger[step_key(name)] = {"rows": rows}
        _save_ledger(out_dir, ledger)

    acts: DataFrame | None = None
    if "tasks" in datasets:
        recall("tasks") if done("tasks") else land("tasks", ingest.build_tasks(spark, client))
    if "users" in datasets:
        recall("users") if done("users") else land("users", ingest.build_users(spark, client))
    if "entries" in datasets:
        if done("entries"):
            recall("entries")
        else:
            land("entries", ingest.build_entries(spark, client, from_date, to_date))
    acts_needed = [
        n
        for n in ("computer_activities", "application_names")
        if n in datasets and not done(n)
    ]
    if acts_needed:
        # one activities fetch feeds both outputs (the reference preloads
        # for the same reason, :447-454); the payload is a local relation,
        # so the second read needs no cache
        acts = ingest.build_computer_activities(spark, client, dates or [])
    if "computer_activities" in datasets:
        if done("computer_activities"):
            recall("computer_activities")
        else:
            land("computer_activities", acts)
    if "application_names" in datasets:
        if done("application_names"):
            recall("application_names")
        else:
            land("application_names", ingest.build_application_names(spark, client, acts))
    return res
