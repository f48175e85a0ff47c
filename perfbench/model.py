"""Reference models the workloads' outputs are checked against.

Each model is independent of the engine: a pure-Python replay for the
ingest job, a DuckDB replay of the governed table's op log, and numpy
brute force for the IVF probe. Result sets are compared through an
order-insensitive digest of canonicalised rows.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import struct
from collections import defaultdict

import duckdb
import numpy as np
import pandas as pd

from perfbench import gen

_MASK = (1 << 64) - 1


def _canon(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    if isinstance(v, (dt.datetime, dt.date, pd.Timestamp)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def digest(rows) -> tuple[int, int]:
    """(row count, sum of per-row 64-bit hashes): equal for equal
    multisets of rows, in any order."""
    n, acc = 0, 0
    for r in rows:
        h = hashlib.blake2b(repr(tuple(_canon(v) for v in r)).encode(), digest_size=8)
        acc = (acc + struct.unpack("<Q", h.digest())[0]) & _MASK
        n += 1
    return n, acc


def same_rows(got, want, what: str) -> str | None:
    g, w = digest(got), digest(want)
    if g != w:
        return f"{what}: engine {g[0]} rows / model {w[0]} rows, digests differ"
    return None


# ---- ingest_daily ----------------------------------------------------------


def chunk_iso(ts) -> str:
    return pd.Timestamp(ts).strftime("%Y-%m-%dT%H:%M:%S")


class IngestModel:
    """What the cron job must have landed: per (channel, chunk) the
    landed payload size or the dead-letter error type."""

    ERROR_TYPES = {"http_404": "HTTP_ERROR", "timeout": "CONNECTION_ERROR"}

    def __init__(self, seed: int, catalog: pd.DataFrame) -> None:
        self.seed = seed
        self.chans = list(catalog.itertuples(index=False))
        self.landed: dict[tuple, int] = {}
        self.dead: dict[tuple, str] = {}
        self.per_day: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])

    @staticmethod
    def chunks(ws: dt.datetime, we: dt.datetime) -> list[str]:
        n = int((we - ws).total_seconds() // 3600)
        return [(ws + dt.timedelta(hours=i)).strftime("%Y-%m-%dT%H:%M:%S") for i in range(n)]

    def outcome(self, key: tuple) -> tuple[str, int]:
        net, sta, cha, start = key
        return gen.url_outcome(self.seed, net, sta, cha, start)

    def pending(self, ws, we) -> set[tuple]:
        return {
            (c.network, c.station, c.channel, s)
            for s in self.chunks(ws, we)
            for c in self.chans
            if (c.network, c.station, c.channel, s) not in self.landed
        }

    def land(self, key: tuple) -> None:
        """Apply one fetch of ``key`` as the job must route it."""
        what, size = self.outcome(key)
        day = key[3][:10]
        if what == "ok":
            self.landed[key] = size
            self.per_day[day][0] += 1
            self.per_day[day][2] += size
        elif what in self.ERROR_TYPES:
            self.dead[key] = self.ERROR_TYPES[what]
            self.per_day[day][1] += 1

    def prelanded(self) -> list[tuple]:
        day0, _ = gen.tick_window(1)
        out = []
        for s in self.chunks(day0, day0 + dt.timedelta(days=1)):
            for c in self.chans:
                key = (c.network, c.station, c.channel, s)
                if gen.prelanded(self.seed, *key) and self.outcome(key)[0] == "ok":
                    out.append(key)
        return out

    def status(self, ws, we) -> list[tuple]:
        out = []
        for s in self.chunks(ws, we):
            for c in self.chans:
                key = (c.network, c.station, c.channel, s)
                st = "landed" if key in self.landed else self.dead.get(key, "missing")
                out.append((*key, st))
        return out


# ---- table_mixed -----------------------------------------------------------

_COLS = ", ".join(gen.ORDER_COLUMNS)

QUERY = """
    SELECT c.c_nation AS nation,
           CAST(year(o.o_date) * 100 + month(o.o_date) AS BIGINT) AS ym,
           CAST(SUM(o.o_cents) AS BIGINT) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(RANK() OVER (PARTITION BY year(o.o_date) * 100 + month(o.o_date)
                             ORDER BY SUM(o.o_cents) DESC) AS BIGINT) AS rnk
    FROM {src} o JOIN customers c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey BETWEEN {lo} AND {hi}
    GROUP BY c.c_nation, year(o.o_date) * 100 + month(o.o_date)
"""


class TableModel:
    """DuckDB replay of the governed table's op log. Each row version
    carries the snapshot it appeared at (b), the snapshot it stopped
    being visible at (e), whether an equality delete ended it (eqd) and
    the snapshot a delete compaction physically removed it at (c).

    The two views follow the facade's contract (pinned by
    tests/test_governed_table.py): ``scan``/``scan_multi`` return the
    rows of the visible files, so an equality-deleted row stays in them
    until ``compact_deletes``; ``scan_with_deletes`` and ``sql``
    subtract the deletes."""

    def __init__(self, orders: pd.DataFrame, customers: pd.DataFrame) -> None:
        self.con = duckdb.connect()
        self.con.register("orders0", orders)
        self.con.execute(
            f"CREATE TABLE m AS SELECT {_COLS}, 0 AS b, CAST(NULL AS INTEGER) AS e, "
            "FALSE AS eqd, CAST(NULL AS INTEGER) AS c FROM orders0"
        )
        self.con.unregister("orders0")
        self.con.register("customers_df", customers)
        self.con.execute("CREATE TABLE customers AS SELECT * FROM customers_df")
        self.con.unregister("customers_df")

    def _insert(self, rows: pd.DataFrame, snap: int) -> None:
        self.con.register("ins", rows)
        self.con.execute(
            f"INSERT INTO m SELECT {_COLS}, {snap}, NULL, FALSE, NULL FROM ins"
        )
        self.con.unregister("ins")

    def _end(self, keys, snap: int, eqd: bool) -> None:
        self.con.register("ks", pd.DataFrame({"k": list(keys)}, dtype="int64"))
        self.con.execute(
            f"UPDATE m SET e = {snap}, eqd = {str(eqd).upper()} "
            "WHERE e IS NULL AND o_orderkey IN (SELECT k FROM ks)"
        )
        self.con.unregister("ks")

    def merge(self, delta: pd.DataFrame, snap: int) -> dict:
        live = {
            r[0]
            for r in self.con.execute(
                "SELECT o_orderkey FROM m WHERE e IS NULL"
            ).fetchall()
        }
        matched = delta[delta.o_orderkey.isin(live)]
        dels = matched[matched.o_status == "D"]
        upd = matched[matched.o_status != "D"]
        ins = delta[~delta.o_orderkey.isin(live) & (delta.o_status != "D")]
        self._end(matched.o_orderkey, snap, eqd=False)
        self._insert(pd.concat([upd, ins]), snap)
        return {"updated": len(upd), "inserted": len(ins), "deleted": len(dels)}

    def delete(self, keys: list[int], snap: int) -> None:
        self._end(keys, snap, eqd=True)

    def append(self, rows: pd.DataFrame, snap: int) -> None:
        self._insert(rows, snap)

    def compact(self, snap: int) -> None:
        self.con.execute(f"UPDATE m SET c = {snap} WHERE eqd AND c IS NULL")

    @staticmethod
    def _physical(s: int) -> str:
        return (
            f"b <= {s} AND (e IS NULL OR e > {s} OR (eqd AND (c IS NULL OR c > {s})))"
        )

    @staticmethod
    def _logical(s: int) -> str:
        return f"b <= {s} AND (e IS NULL OR e > {s})"

    NOW = 2**30

    def scan(self, lo: int, hi: int, cents: tuple[int, int] | None = None):
        where = self._physical(self.NOW) + f" AND o_orderkey BETWEEN {lo} AND {hi}"
        if cents is not None:
            where += f" AND o_cents BETWEEN {cents[0]} AND {cents[1]}"
        return self.con.execute(f"SELECT {_COLS} FROM m WHERE {where}").fetchall()

    def scan_logical(self, lo: int, hi: int, as_of: int):
        where = self._logical(as_of) + f" AND o_orderkey BETWEEN {lo} AND {hi}"
        return self.con.execute(f"SELECT {_COLS} FROM m WHERE {where}").fetchall()

    def query(self, lo: int, hi: int):
        src = f"(SELECT {_COLS} FROM m WHERE {self._logical(self.NOW)})"
        return self.con.execute(QUERY.format(src=src, lo=lo, hi=hi)).fetchall()


# ---- llm_curation ------------------------------------------------------------


def probe_brute_force(
    ids: np.ndarray,
    vecs: np.ndarray,
    centroids: np.ndarray,
    queries: list[tuple[int, np.ndarray]],
    k: int,
    nprobe: int,
) -> dict[int, list[tuple[int, float]]]:
    """Exact top-k per query over the vectors whose cell (argmax dot
    with the centroids) is among the query's ``nprobe`` nearest cells;
    ties broken on the dot rounded to 6 places, then neighbor id."""
    cells = np.argmax(vecs @ centroids.T, axis=1)
    out = {}
    for qid, q in queries:
        q = np.asarray(q, dtype=np.float32).astype(np.float64)
        probed = np.argsort(-(centroids @ q))[:nprobe]
        mask = np.isin(cells, probed) & (ids != qid)
        dots = vecs[mask] @ q
        order = sorted(zip(-np.round(dots, 6), ids[mask], dots))[:k]
        out[int(qid)] = [(int(i), float(d)) for _, i, d in order]
    return out


def probed_cells(centroids: np.ndarray, queries, nprobe: int) -> set[int]:
    q = np.vstack([np.asarray(v, dtype=np.float32).astype(np.float64) for _, v in queries])
    return {int(c) for row in np.argsort(-(q @ centroids.T), axis=1)[:, :nprobe] for c in row}
