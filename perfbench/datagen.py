"""Seeded synthetic inputs for the benchmark.

Two generators, both pure functions of ``(seed, size)``:

- ``write_star(out_dir, seed, sf)`` lands the TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings`` as one parquet file per
  table, with the column names and types the engine's catalog and
  reports read (``region nation customer supplier part orders lineitem
  events documents embeddings``). Row counts scale with ``sf`` the way
  the shipped test data does (150k customers, 1.5M orders, 6M line
  items, 50k documents per unit of ``sf``).
- ``Workspace`` builds a TimeCamp workspace (task tree, nested user
  groups, time entries with duplicate ids, activities, applications)
  and serves it through a ``Transport`` callable, with the expected
  post-dedup row count of every landed dataset.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
PART_ADJ = ("red", "blue", "green", "large", "small", "hot", "old", "new")
PART_NOUN = ("bolt", "ring", "plate", "gear", "valve", "pipe", "nut", "screw")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")


def _ts(rng: np.random.Generator, n: int, lo: str, hi: str, unit: str) -> pa.Array:
    lo_us = int(np.datetime64(lo, "us").astype(np.int64))
    hi_us = int(np.datetime64(hi, "us").astype(np.int64))
    step = 86_400_000_000 if unit == "D" else 1
    vals = rng.integers(lo_us // step, hi_us // step, n) * step
    return pa.array(vals.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random-word documents with a few exact copies and ~5% near copies
    (one to three words replaced), so every dedup stage has work."""
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(k))])
        for k in rng.integers(12, 95, n)
    ]
    for i in rng.choice(n, max(1, n // 20), replace=False):
        src = texts[int(rng.integers(0, n))].split()
        for j in rng.integers(0, len(src), int(rng.integers(1, 4))):
            src[j] = str(rng.choice(words))
        texts[i] = " ".join(src)
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return texts


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_part = max(200, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(200, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))
    i32 = pa.int32()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", "2001-08-02", "D"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng, n_li, "1995-01-02", "2001-11-05", "D"),
    })
    ts = np.sort(_ts(rng, n_ev, "2024-01-01", "2024-01-31", "us").to_numpy())
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, n_cust // 10), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(2.0, 25.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _doc_texts(rng, n_doc)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{k % 20}" for k in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_star(out_dir: str, seed: int, sf: float,
               only: tuple[str, ...] | None = None) -> dict[str, int]:
    """Land the star tables (all, or those named in ``only``) as
    ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in star_tables(seed, sf).items():
        if only is not None and name not in only:
            continue
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# ---------------------------------------------------------------------------
# TimeCamp workspace behind a fake API
# ---------------------------------------------------------------------------

UNICODE_WORDS = (
    "Ærø", "Łódź", "Straße", "東京", "서울", "Zürich", "São Paulo", "Kraków",
    "Ελλάδα", "München", "Čeština", "Ñandú", "Ångström", "İstanbul", "Ωmega",
)
YEAR = 2025
ACTIVITY_DAYS = 40
DUP_FRAC = 0.03  # share of entries that repeat an earlier id
RETRY_FRAC = 0.2  # share of requests whose first attempt gets a 429


class Workspace:
    """A seeded TimeCamp workspace and the ``Transport`` that serves it.

    The transport answers every endpoint the pipeline calls, filters
    entries and activities server-side like the real API, and answers a
    request's first attempt with a retryable 429 (``Retry-After: 0``) on
    a seeded share of requests, so the client's retry path runs at most
    once per request. It counts requests, retries, response bytes and
    the seconds spent building responses (``api_s``), so callers can
    subtract the fake API from timings that include it.
    """

    def __init__(self, seed: int, n_tasks: int, n_users: int, n_entries: int, n_apps: int):
        rnd = random.Random(seed)
        self.from_date = f"{YEAR}-01-01"
        self.to_date = f"{YEAR}-12-31"
        day0 = dt.date(YEAR, 1, 1)
        self.dates = [(day0 + dt.timedelta(days=d)).isoformat() for d in range(ACTIVITY_DAYS)]

        def name(k: int) -> str:
            return f"{rnd.choice(UNICODE_WORDS)} {k}"

        # task tree up to 8 deep: each task's parent is a random earlier
        # task whose depth is < 8; ~1% roots, '' / 0 / None root markers
        self.tasks: dict[str, dict] = {}
        depth: dict[int, int] = {}
        roots = max(3, n_tasks // 100)
        for tid in range(1, n_tasks + 1):
            if tid <= roots:
                parent, depth[tid] = rnd.choice(("", 0, None)), 1
            else:
                p = rnd.randint(1, tid - 1)
                while depth[p] >= 8:
                    p = rnd.randint(1, tid - 1)
                parent, depth[tid] = p, depth[p] + 1
            self.tasks[str(tid)] = {
                "task_id": tid, "parent_id": parent, "name": name(tid),
                "budgeted": rnd.choice((0, 0, 3600 * rnd.randint(1, 200))),
                "public_hash": f"ph{tid}", "task_key": f"K{tid}",
                "users": {}, "perms": {},
            }

        # users and a nested group tree ('g'-prefixed group ids, 'u'-prefixed
        # member ids); about one user in ten is disabled
        user_ids = list(range(1001, 1001 + n_users))
        self.users = [
            {"user_id": str(u), "email": f"user{u}@example.com", "display_name": name(u)}
            for u in user_ids
        ]
        self.disabled = {u for u in user_ids if rnd.random() < 0.1}
        n_groups = max(4, n_users // 10)
        groups = []
        for g in range(1, n_groups + 1):
            parent = "0" if g == 1 else f"g{rnd.randint(1, g - 1)}"
            members = rnd.sample(user_ids, k=min(len(user_ids), rnd.randint(3, 25)))
            groups.append({
                "group_id": f"g{g}" if g % 2 else str(g), "name": name(g),
                "parent_id": parent,
                "users": {f"u{u}": {"user_id": f"u{u}"} for u in members},
            })
        self.people_picker = {"groups": groups}

        # entries over the year; DUP_FRAC of them repeat an earlier id
        task_ids = list(range(1, n_tasks + 1))
        n_unique = int(n_entries * (1 - DUP_FRAC))
        self.entries = []
        for eid in range(1, n_unique + 1):
            day = day0 + dt.timedelta(days=rnd.randrange(365))
            self.entries.append({
                "id": 500_000 + eid, "task_id": rnd.choice(task_ids),
                "user_id": rnd.choice(user_ids), "date": day.isoformat(),
                "duration": str(60 * rnd.randint(1, 240)),
                "description": rnd.choice(("", "review", "build", "Überprüfung", "設計")),
                "tags": [{"tagId": str(rnd.randint(1, 50))}] if rnd.random() < 0.3 else [],
            })
        for _ in range(n_entries - n_unique):
            self.entries.append(dict(rnd.choice(self.entries[:n_unique])))
        rnd.shuffle(self.entries)
        self.entries_by_date: dict[str, list] = {}
        for e in self.entries:
            self.entries_by_date.setdefault(e["date"], []).append(e)

        # activities on a date grid; application id '0' means unknown
        app_ids = [str(100 + a) for a in range(n_apps)]
        self.activities = []
        for d in self.dates:
            for u in rnd.sample(user_ids, k=min(len(user_ids), 40)):
                for _ in range(rnd.randint(1, 4)):
                    app = rnd.choice(app_ids) if rnd.random() > 0.05 else "0"
                    self.activities.append({
                        "user_id": str(u), "application_id": app,
                        "window_title": f"{name(int(app))} — doc",
                        "start_time": f"{d} 09:00:00", "end_time": f"{d} 09:30:00",
                        "end_date": d, "duration": 60 * rnd.randint(1, 60),
                    })
        self.applications = {
            a: {"application_id": a, "app_name": f"app{a}.bin",
                "full_name": name(int(a)) if rnd.random() < 0.6 else "",
                "aditional_info": "Suite" if rnd.random() < 0.5 else "",
                "category_id": str(rnd.randint(0, 18)), "type": "desktop",
                "icon_url": ""}
            for a in app_ids
        }
        self.seed = seed
        self.requests = self.retries = self.bytes_in = 0
        self.served: dict[str, int] = {}
        self.api_s = 0.0

    def expected_rows(self) -> dict[str, int]:
        """Post-dedup landed row count of each dataset."""
        enabled = [u for u in self.users if int(u["user_id"]) not in self.disabled]
        used_apps = {a["application_id"] for a in self.activities} - {"0"}
        return {
            "tasks": len(self.tasks),
            "users": len(enabled),
            "entries": len({e["id"] for e in self.entries}),
            "computer_activities": len(self.activities),
            "application_names": len(used_apps),
        }

    def _payload(self, url: str, params: dict):
        ep = url.rstrip("/").rsplit("/", 1)[-1]
        if ep == "tasks":
            return self.tasks
        if ep == "users":
            return self.users
        if ep == "people_picker":
            return self.people_picker
        if ep == "user_settings":
            ids = [u for u in str(params.get("user_ids", "")).split(",") if u]
            return [{"user_id": u, "value": "1" if int(u) in self.disabled else "0"}
                    for u in ids]
        if ep == "entries":
            lo, hi = str(params.get("from")), str(params.get("to"))
            return [e for d, rows in self.entries_by_date.items() if lo <= d <= hi
                    for e in rows]
        if ep == "computer_activities":
            dates = {str(v) for k, v in params.items() if str(k).startswith("dates[")}
            return [a for a in self.activities if a["end_date"] in dates]
        if ep == "application":
            ids = str(params.get("application_ids", "")).split(",")
            return {a: self.applications[a] for a in ids if a in self.applications}
        return None

    def transport(self):
        """A fresh ``Transport`` for one sync. Whether a request's first
        attempt gets a 429 depends only on the seed and the request, so
        every sync of one workspace sees the same retries."""
        seen: set = set()

        def send(method: str, url: str, params: dict):
            t0 = time.perf_counter()
            self.requests += 1
            key = f"{self.seed}|{url}|{sorted((str(k), str(v)) for k, v in params.items())}"
            first = key not in seen
            seen.add(key)
            try:
                if first and random.Random(key).random() < RETRY_FRAC:
                    self.retries += 1
                    return 429, {"Retry-After": "0"}, '{"error": "rate limited"}'
                payload = self._payload(url, params)
                if payload is None:
                    return 404, {}, '{"error": "no route"}'
                ep = url.rstrip("/").rsplit("/", 1)[-1]
                self.served[ep] = self.served.get(ep, 0) + len(payload)
                body = json.dumps(payload)
                self.bytes_in += len(body.encode())
                return 200, {}, body
            finally:
                self.api_s += time.perf_counter() - t0

        return send
