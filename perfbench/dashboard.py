"""The dashboard section of ``batch_headline``: the publisher's poller,
one client in a closed loop over the serving endpoints.

A round is the request pool (``make_requests``) in a seeded order:
``realtime_total``, ``realtime_hour``, ``paged_detail`` four ways
(shallow page, keyword filter, deep offset, keyset ``after=`` cursor),
``map_order_data`` and ``stat_groups``.  The seed picks the days, the
keywords, the page depths and the order; every round has the same
composition, so percentiles compare across seeds.  Every response is
compared with a reference computed once per run by DuckDB over the same
files; a mismatch is a failed request.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import datetime

from perfbench.datagen import EVENT_DAY0, EVENT_DAYS
from perfbench.host import nproc
from perfbench.metrics import ENDPOINTS
from perfbench.stats import median, percentile

PAGE_SIZE = 20


def make_requests(seed: int) -> list[tuple[str, str, dict]]:
    """The request pool: ``(kind, endpoint, kwargs)``, one per kind."""
    rng = random.Random(seed)
    day = (EVENT_DAY0 + datetime.timedelta(days=rng.randrange(1, EVENT_DAYS))).date().isoformat()
    return [
        ("realtime_total", "realtime_total", {"date": day}),
        ("realtime_hour", "realtime_hour", {"date": day}),
        ("paged_shallow", "paged_detail", {"page": rng.randrange(1, 6), "size": PAGE_SIZE}),
        ("paged_keyword", "paged_detail",
         {"page": 1, "size": PAGE_SIZE,
          "keyword": f"{rng.randrange(100, 1000)} {rng.randrange(100, 1000)}"}),
        ("paged_deep", "paged_detail", {"page": rng.randrange(200, 400), "size": PAGE_SIZE}),
        ("paged_keyset", "paged_detail", {"page": rng.randrange(2, 50), "size": PAGE_SIZE}),
        ("map_order_data", "map_order_data", {}),
        ("stat_groups", "stat_groups", {}),
    ]


class Reference:
    """Every endpoint's answer computed by DuckDB over the same files."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {nproc()}")
        for t in ("orders", "customer", "nation", "events"):
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def _rows(self, sql: str, params=()) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()

    def realtime_total(self, date: str) -> list:
        (n,) = self._rows(
            "SELECT count(DISTINCT user_id) FROM events WHERE strftime(ts, '%Y-%m-%d') = ?",
            [date],
        )[0]
        return [
            {"id": "dau", "name": "新增日活", "value": n},
            {"id": "new_mid", "name": "新增设备", "value": 2},
        ]

    def realtime_hour(self, date: str) -> dict:
        yday = (datetime.date.fromisoformat(date) - datetime.timedelta(days=1)).isoformat()
        rows = self._rows(
            """SELECT dt, strftime(first_ts, '%H') AS hr, count(*) FROM (
                   SELECT strftime(ts, '%Y-%m-%d') AS dt, user_id, min(ts) AS first_ts
                   FROM events GROUP BY 1, 2)
               WHERE dt IN (?, ?) GROUP BY 1, 2""",
            [date, yday],
        )
        out: dict = {"today": {}, "yesterday": {}}
        for dt, hr, ct in rows:
            out["today" if dt == date else "yesterday"][hr] = ct
        return out

    def paged_detail(self, page: int, size: int, keyword: str | None = None,
                     after: tuple | None = None) -> dict:
        where, params = [], []
        if keyword:
            terms = [t for t in keyword.split() if t]
            where.append("(" + " OR ".join("contains(c_name, ?)" for _ in terms) + ")")
            params += terms
        base = f"""FROM orders JOIN customer ON o_custkey = c_custkey
                   {"WHERE " + " AND ".join(where) if where else ""}"""
        (total,) = self._rows(f"SELECT count(*) {base}", params)[0]
        cols = ("o_orderkey, o_custkey, c_name, c_mktsegment, o_orderstatus, "
                "o_totalprice, o_orderdate")
        order = "ORDER BY o_orderdate DESC, o_orderkey ASC"
        if after is not None:
            bd, bi = after
            cond = "(o_orderdate < CAST(? AS TIMESTAMP) OR (o_orderdate = CAST(? AS TIMESTAMP) AND o_orderkey > ?))"
            sql = (f"SELECT {cols} {base} {'AND' if where else 'WHERE'} {cond} "
                   f"{order} LIMIT {size}")
            rows = self._rows(sql, params + [bd, bd, bi])
        else:
            rows = self._rows(
                f"SELECT {cols} {base} {order} LIMIT {size} OFFSET {(page - 1) * size}", params
            )
        out = [
            {"order_id": r[0], "user_id": r[1], "user_name": r[2], "segment": r[3],
             "order_status": r[4], "final_total_amount": r[5], "order_date": str(r[6])}
            for r in rows
        ]
        last = [out[-1]["order_date"], out[-1]["order_id"]] if out else None
        return {"total": total, "rows": out, "last_key": last}

    def map_order_data(self) -> list:
        rows = self._rows(
            """SELECT n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
               FROM orders JOIN customer ON o_custkey = c_custkey
               JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name"""
        )
        return [{"name": n, "value": v} for n, v in rows]

    def stat_groups(self) -> dict:
        tiers = self._rows(
            """SELECT CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'vip'
                           WHEN c_acctbal < 0 THEN 'debt'
                           WHEN c_acctbal < 5000 THEN 'standard' ELSE 'premium' END AS t,
                      count(*) FROM customer GROUP BY 1 ORDER BY 1"""
        )
        segs = self._rows(
            """SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 'B' ELSE 'C' END AS s,
                      count(*) FROM customer GROUP BY 1 ORDER BY 1"""
        )
        return {"stat": [
            {"group": [{"name": k, "value": v} for k, v in tiers]},
            {"group": [{"name": k, "value": v} for k, v in segs]},
        ]}


def _same(got, want) -> bool:
    """JSON equality, floats to 1e-9 relative."""
    if isinstance(want, float) or isinstance(got, float):
        return isinstance(got, (int, float)) and abs(got - want) <= 1e-9 * max(1.0, abs(want))
    if isinstance(want, dict):
        return isinstance(got, dict) and got.keys() == want.keys() and all(
            _same(got[k], want[k]) for k in want
        )
    if isinstance(want, (list, tuple)):
        return isinstance(got, list) and len(got) == len(want) and all(
            _same(g, w) for g, w in zip(got, want)
        )
    return got == want


def resolve(requests, ref: Reference) -> list[tuple[str, str, dict, object]]:
    """Fill each keyset request's cursor (the last key of the page before
    it) and attach the reference answer to every request."""
    out = []
    for kind, endpoint, kw in requests:
        kw = dict(kw)
        if kind == "paged_keyset":
            kw["after"] = tuple(ref.paged_detail(kw["page"] - 1, PAGE_SIZE)["last_key"])
        if endpoint == "paged_detail":
            want = ref.paged_detail(kw["page"], kw["size"], kw.get("keyword"), kw.get("after"))
        else:
            want = getattr(ref, endpoint)(**kw)
        out.append((kind, endpoint, kw, want))
    return out


def call(spark, data_dir: str, endpoint: str, kw: dict):
    from gmallrealtime02_spark import serving

    body = json.loads(getattr(serving, endpoint)(spark, data_dir, **kw))
    if endpoint == "paged_detail":
        body.pop("draw")
    return body


class Client:
    """The poller: calls each request of the pool, checks the answer and
    records latency and Spark job count per endpoint."""

    def __init__(self, spark, data_dir: str, seed: int, jobs, tracer) -> None:
        ref = Reference(data_dir)
        self.pool = resolve(make_requests(seed), ref)
        ref.con.close()
        self.spark, self.data_dir, self.jobs, self.tracer = spark, data_dir, jobs, tracer
        self.rng = random.Random(seed + 1)
        self.attempted = self.failed = 0
        self.lat: list[float] = []
        self.by_endpoint: dict[str, list[float]] = {e: [] for e in ENDPOINTS}
        self.jobs_of: dict[str, list[int]] = {e: [] for e in ENDPOINTS}

    def round(self) -> float:
        """One round in a fresh seeded order; returns its wall seconds."""
        order = self.pool[:]
        self.rng.shuffle(order)
        t_round = time.perf_counter()
        for kind, endpoint, kw, want in order:
            self.attempted += 1
            group = self.jobs.group(endpoint)
            t0 = time.perf_counter()
            try:
                with self.tracer.span(endpoint, "bench", rid=f"req{self.attempted}"):
                    got = call(self.spark, self.data_dir, endpoint, kw)
            except Exception as exc:  # counted; the client goes on
                print(f"dashboard: {kind} failed: {exc!r}", file=sys.stderr)
                self.failed += 1
                continue
            ms = (time.perf_counter() - t0) * 1000
            if not _same(got, want):
                print(f"dashboard: {kind} {kw} differs from the reference", file=sys.stderr)
                self.failed += 1
            self.lat.append(ms)
            self.by_endpoint[endpoint].append(ms)
            self.jobs_of[endpoint].append(self.jobs.counts(group)[0])
        return time.perf_counter() - t_round

    def layer(self) -> dict:
        out = {
            "serving_p50_ms": percentile(self.lat, 50),
            "serving_p95_ms": percentile(self.lat, 95),
        }
        for e in ENDPOINTS:
            out[f"serving.{e}.p50_ms"] = median(self.by_endpoint[e])
            out[f"serving.{e}.jobs"] = median(self.jobs_of[e])
        return out
