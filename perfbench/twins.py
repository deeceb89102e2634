"""Batch twins: DuckDB SQL over the generator's output, and the hash compare.

The gmall twins follow the shape of the repo's SQL oracles (``SQL_A1``
windowed counts, ``SQL_W1`` lead()-based bounce, ``SQL_J1`` interval join)
over the rows the generator wrote, parsed here in Python exactly as
``logsplit.parse_or_dirty`` routes them: a line that is not a JSON object
is dirty.
"""

from __future__ import annotations

import hashlib
import json

import duckdb
import pandas as pd

from perfbench.gen import tm_of

GAP_US = 10 * 1_000_000  # chain.BOUNCE_GAP_S
DELAY_MS = 2_000  # chain.BOUNCE_DELAY

STT = "strftime(make_timestamp((floor({c} / 10000) * 10000)::BIGINT * 1000), '%Y-%m-%d %H:%M:%S')"

GOLD_SQL = f"""
WITH pv AS (
  SELECT {STT.format(c='ts')} AS stt, 'pv' AS kind, ch AS dim, count(*) AS ct,
         sum(during_time) AS amount
  FROM pages GROUP BY 1, 2, 3
), uv AS (
  SELECT strftime(make_timestamp(ts * 1000), '%Y-%m-%d') AS stt, 'uv' AS kind, '' AS dim,
         count(DISTINCT mid) AS ct, 0 AS amount
  FROM pages GROUP BY 1, 2, 3
), l AS (
  SELECT *, lead(ts) OVER (PARTITION BY mid ORDER BY ts, eid) AS nts,
            lead(ie) OVER (PARTITION BY mid ORDER BY ts, eid) AS nie
  FROM (SELECT mid, eid, ts, CASE WHEN last_page_id IS NULL THEN 1 ELSE 0 END AS ie
        FROM pages)
), uj AS (
  SELECT {STT.format(c='ts')} AS stt, 'uj' AS kind, '' AS dim,
         sum(CASE WHEN nts IS NOT NULL AND (nts - ts) * 1000 < {GAP_US} AND nie = 0
                  THEN 0 ELSE 1 END) AS ct, 0 AS amount
  FROM l
  WHERE ie = 1 AND ts * 1000 + {GAP_US} < ((SELECT max(ts) FROM pages) - {DELAY_MS}) * 1000
  GROUP BY 1, 2, 3
), od AS (
  SELECT {STT.format(c='i.create_ts')} AS stt, 'order' AS kind, d.tm_id::VARCHAR AS dim,
         count(*) AS ct, sum(d.sku_num * d.order_price) AS amount
  FROM detail d JOIN info i
    ON d.order_id = i.id AND d.create_ts BETWEEN i.create_ts - 5000 AND i.create_ts + 5000
  GROUP BY 1, 2, 3
)
SELECT * FROM pv UNION ALL SELECT * FROM uv UNION ALL SELECT * FROM uj
UNION ALL SELECT * FROM od
"""

SCD2_SQL = """
SELECT id, ver, sku_name, price, tm_id, ver AS valid_from,
       lead(ver) OVER (PARTITION BY id ORDER BY ver) AS valid_to,
       lead(ver) OVER (PARTITION BY id ORDER BY ver) IS NULL AS is_current
FROM dims
"""


def _parse(line: str):
    try:
        v = json.loads(line)
    except ValueError:
        return None
    return v if isinstance(v, dict) else None


def gmall_inputs(log_lines: list[str], db_lines: list[str]) -> tuple[dict, int]:
    """DataFrames of the rows the chain should see, and the dirty count."""
    pages, dirty = [], 0
    for line in log_lines:
        ev = _parse(line)
        if ev is None:
            dirty += 1
        elif ev.get("start") is None and ev.get("page") is not None:
            c, p = ev["common"], ev["page"]
            pages.append((int(c["mid"]), ev["eid"], c["ch"], p["last_page_id"],
                          p["during_time"], ev["ts"]))
    info, detail, dims = [], [], []
    for line in db_lines:
        e = json.loads(line)
        a, t, op = e["after"], e["tableName"], e["type"]
        if op == "delete":
            continue
        if t == "order_info":
            info.append((int(a["id"]), int(a["create_ts"])))
        elif t == "order_detail":
            sku = int(a["sku_id"])
            detail.append((int(a["order_id"]), int(a["sku_num"]), int(a["order_price"]),
                           int(a["create_ts"]), tm_of(sku)))
        elif t == "sku_info":
            dims.append((int(a["id"]), int(a["ver"]), a["sku_name"], int(a["price"]),
                         int(a["tm_id"])))
    frames = {
        "pages": pd.DataFrame(pages, columns=["mid", "eid", "ch", "last_page_id",
                                              "during_time", "ts"]),
        "info": pd.DataFrame(info, columns=["id", "create_ts"]),
        "detail": pd.DataFrame(detail, columns=["order_id", "sku_num", "order_price",
                                                "create_ts", "tm_id"]),
        "dims": pd.DataFrame(dims, columns=["id", "ver", "sku_name", "price", "tm_id"]),
    }
    return frames, dirty


def run_sql(frames: dict, sql: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        for name, df in frames.items():
            con.register(name, df)
        return con.execute(sql).fetchall()
    finally:
        con.close()


def canon(rows) -> list[tuple]:
    """Order-free canonical form: numbers that are whole become ints,
    everything else is kept, then rows are sorted by their text."""
    out = []
    for r in rows:
        t = []
        for v in r:
            if isinstance(v, float) and v.is_integer():
                v = int(v)
            elif hasattr(v, "item"):
                v = v.item()
            t.append(v)
        out.append(tuple(t))
    return sorted(out, key=repr)


def digest(rows) -> str:
    return hashlib.sha256(repr(canon(rows)).encode()).hexdigest()


def compare(name: str, got, want) -> str | None:
    """None when the two row sets hash-equal; else a short description."""
    g, w = canon(got), canon(want)
    if digest(g) == digest(w):
        return None
    gs, ws = set(g), set(w)
    return (f"{name}: {len(g)} rows vs twin {len(w)}; e.g. only in output "
            f"{sorted(gs - ws, key=repr)[:3]}, only in twin {sorted(ws - gs, key=repr)[:3]}")
