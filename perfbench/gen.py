"""Seeded input generators for the gmall chain and the serving stores.

Everything the program under test sees is produced here from ``seed``:
the same seed gives byte-identical files. Event times live on a logical
clock (``BASE_MS`` + file index x tick), so files do not depend on the wall
clock; the wall-clock due time of each file is kept by the load generator
in ``run.py``.

ODS files come in pairs sharing one file id (``fid``):

- ``log``: gmall behaviour-log JSON lines (``schemas.LOG_EVENT_SCHEMA``
  plus top-level ``fid``/``eid``), a seeded share of malformed lines and a
  seeded share of out-of-order event times;
- ``db``: CDC envelopes (``schemas.CDC_ENVELOPE_SCHEMA`` plus ``fid``) for
  ``order_info``/``order_detail`` inserts, ``sku_info`` dim updates, some
  deletes (dropped by the DWD delete filter) and ``cart_info`` rows that
  no routing rule matches.
"""

from __future__ import annotations

import json
import os
import random

from flinkrealtimedatawarehouse_spark import layers

BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
N_SKU = 200
N_TM = 12
CHANNELS = ("xiaomi", "huawei", "oppo", "web", "appstore")
PAGES = ("home", "good_list", "good_detail", "cart", "trade", "payment", "search")
DIRTY_SHARE = 0.02
LATE_SHARE = 0.03
LATE_MAX_MS = 1500  # below every watermark delay in the chain: nothing is late-dropped

# table_process rows: (source_table, operate_type, sink_type, sink_table, sink_columns)
ROUTES = (
    ("order_info", "insert", "kafka", "dwd_order_info",
     "id,user_id,province_id,total_amount,create_ts"),
    ("order_detail", "insert", "kafka", "dwd_order_detail",
     "id,order_id,sku_id,sku_num,order_price,create_ts"),
    ("sku_info", "insert", "hbase", "dim_sku_info", "id,ver,sku_name,price,tm_id"),
    ("sku_info", "update", "hbase", "dim_sku_info", "id,ver,sku_name,price,tm_id"),
)


def tm_of(sku: int) -> int:
    """The trademark of a sku; never changed by a dim update, so the DWM
    enrichment is independent of dim-update timing."""
    return sku % N_TM


class GmallGen:
    """Stateful generator: file ``fid`` depends on every file before it, so
    files must be produced in order (``file(0)``, ``file(1)``, ...)."""

    def __init__(self, seed: int, n_mid: int, log_per_file: int,
                 orders_per_file: float, tick_ms: int):
        self.rng = random.Random(seed)
        self.n_mid = n_mid
        self.log_per_file = log_per_file
        self.orders_per_file = orders_per_file
        self.tick_ms = tick_ms
        self.last_page: dict[int, str | None] = {}
        self.sku_ver = [0] * N_SKU
        self.next_eid = 0
        self.next_order = 0
        self.next_detail = 0
        self.dirty = 0  # malformed log lines injected so far

    # --- log ------------------------------------------------------------

    def _log_line(self, fid: int, ts: int) -> str:
        r = self.rng
        mid = r.randrange(1, self.n_mid + 1)
        eid = self.next_eid
        self.next_eid += 1
        common = {
            "ar": str(r.randrange(1, 35)), "ba": "Xiaomi", "ch": r.choice(CHANNELS),
            "is_new": r.choice(("0", "1")), "md": "Xiaomi 9", "mid": str(mid),
            "os": "Android 11.0", "uid": str(r.randrange(1, 5000)), "vc": "v2.1.134",
        }
        ev: dict = {"common": common}
        if r.random() < 0.08:
            ev["start"] = {"entry": "icon", "loading_time": r.randrange(500, 9000),
                           "open_ad_id": r.randrange(1, 20),
                           "open_ad_ms": r.randrange(1000, 6000),
                           "open_ad_skip_ms": 0}
        else:
            prev = self.last_page.get(mid)
            entry = prev is None or r.random() < 0.3
            page = r.choice(PAGES)
            ev["page"] = {"during_time": r.randrange(1000, 20000), "item": str(r.randrange(N_SKU)),
                          "item_type": "sku_id", "last_page_id": None if entry else prev,
                          "page_id": page, "sourceType": "promotion"}
            self.last_page[mid] = page
            if r.random() < 0.3:
                ev["displays"] = [
                    {"displayType": "query", "item": str(r.randrange(N_SKU)),
                     "item_type": "sku_id", "order": k + 1, "pos_id": r.randrange(1, 6)}
                    for k in range(r.randrange(1, 4))
                ]
        ev["ts"] = ts
        ev["fid"] = fid
        ev["eid"] = eid
        line = json.dumps(ev, separators=(",", ":"))
        if r.random() < DIRTY_SHARE:
            self.dirty += 1
            return line[: len(line) // 2]  # truncated record: unparseable
        return line

    def _times(self, fid: int, n: int) -> list[int]:
        r = self.rng
        t0 = BASE_MS + fid * self.tick_ms
        ts = sorted(t0 + r.randrange(self.tick_ms) for _ in range(n))
        return [t - r.randrange(200, LATE_MAX_MS) if r.random() < LATE_SHARE else t
                for t in ts]

    # --- db -------------------------------------------------------------

    @staticmethod
    def _cdc(fid: int, table: str, op: str, after: dict) -> str:
        return json.dumps({
            "database": "gmall", "tableName": table, "type": op, "before": {},
            "after": {k: str(v) for k, v in after.items()}, "fid": fid,
        }, separators=(",", ":"))

    def dim_load(self, fid: int) -> list[str]:
        """Initial ``sku_info`` inserts (version 0 of every sku)."""
        r = self.rng
        return [self._cdc(fid, "sku_info", "insert", {
            "id": s, "ver": 0, "sku_name": f"sku{s}-v0", "price": r.randrange(100, 99_900),
            "tm_id": tm_of(s)}) for s in range(N_SKU)]

    def _db_lines(self, fid: int) -> list[str]:
        r = self.rng
        t0 = BASE_MS + fid * self.tick_ms
        out = []
        n_orders = int(self.orders_per_file) + (r.random() < self.orders_per_file % 1)
        for _ in range(n_orders):
            oid = self.next_order
            self.next_order += 1
            ts = t0 + r.randrange(self.tick_ms)
            details = []
            for _ in range(r.randrange(1, 4)):
                did = self.next_detail
                self.next_detail += 1
                details.append({"id": did, "order_id": oid, "sku_id": r.randrange(N_SKU),
                                "sku_num": r.randrange(1, 4),
                                "order_price": r.randrange(100, 50_000), "create_ts": ts})
            total = sum(d["sku_num"] * d["order_price"] for d in details)
            out.append(self._cdc(fid, "order_info", "insert", {
                "id": oid, "user_id": r.randrange(1, 5000), "province_id": r.randrange(1, 35),
                "total_amount": total, "create_ts": ts}))
            out.extend(self._cdc(fid, "order_detail", "insert", d) for d in details)
        if r.random() < 0.3:
            s = r.randrange(N_SKU)
            self.sku_ver[s] += 1
            v = self.sku_ver[s]
            out.append(self._cdc(fid, "sku_info", "update", {
                "id": s, "ver": v, "sku_name": f"sku{s}-v{v}",
                "price": r.randrange(100, 99_900), "tm_id": tm_of(s)}))
        if r.random() < 0.1 and self.next_order:
            out.append(self._cdc(fid, "order_info", "delete",
                                 {"id": r.randrange(self.next_order)}))
        if r.random() < 0.2:
            out.append(self._cdc(fid, "cart_info", "insert",
                                 {"id": r.randrange(10**6), "sku_id": r.randrange(N_SKU)}))
        return out

    def file(self, fid: int) -> tuple[list[str], list[str]]:
        """(log lines, db lines) of ODS file ``fid``."""
        log = [self._log_line(fid, t) for t in self._times(fid, self.log_per_file)]
        return log, self._db_lines(fid)

    def flush_file(self, fid: int, pad_ms: int = 3_600_000) -> tuple[list[str], list[str]]:
        """A last file whose single page event (its own mid, not an entry)
        lies far past every other event: it moves every watermark in the
        chain past the data, so all pending bounce decisions emit."""
        ts = BASE_MS + fid * self.tick_ms + pad_ms
        ev = {"common": {"ar": "1", "ba": "x", "ch": "web", "is_new": "0", "md": "x",
                         "mid": str(self.n_mid + 1), "os": "x", "uid": "0", "vc": "x"},
              "page": {"during_time": 1, "item": "0", "item_type": "sku_id",
                       "last_page_id": "home", "page_id": "home", "sourceType": "x"},
              "ts": ts, "fid": fid, "eid": self.next_eid}
        self.next_eid += 1
        return [json.dumps(ev, separators=(",", ":"))], []


def write_ods(root: str, fid: int, log: list[str], db: list[str]) -> None:
    """Publish one ODS file pair atomically: each file is written under a
    dot-name the file source ignores, then renamed into view."""
    for topic, lines in ((layers.ODS_BASE_LOG, log), (layers.ODS_BASE_DB, db)):
        d = os.path.join(root, topic)
        name = f"{fid:08d}.json"
        tmp = os.path.join(d, "." + name)
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + ("\n" if lines else ""))
        os.rename(tmp, os.path.join(d, name))


# --- serving-store corpus ----------------------------------------------------

WORDS = ("the fast key order sort table scan merge part window small hash join "
         "spark group query row data slow filter customer line batch value "
         "stream index probe vector cell bucket shard fold chunk tier").split()


def serve_tables(seed: int, n_docs: int, n_vec: int, dim: int, n_orders: int,
                 n_parts: int, n_cells: int) -> dict[str, list[dict]]:
    """Rows for the serving workload: documents, embeddings, part, orders,
    lineitem, plus the small dims/events the ADS views join."""
    r = random.Random(seed)
    docs = [{"doc_id": i, "text": " ".join(r.choice(WORDS) for _ in range(r.randrange(8, 40))),
             "lang": r.choice(("en", "de", "zh")), "source": f"src{r.randrange(4)}"}
            for i in range(n_docs)]
    for d in docs:
        d["n_chars"] = len(d["text"])
    centers = [[r.gauss(0, 1) for _ in range(dim)] for _ in range(n_cells)]
    emb = []
    for i in range(n_vec):
        c = r.randrange(n_cells)
        emb.append({"vec_id": i, "embedding": [round(x + r.gauss(0, 0.4), 4) for x in centers[c]],
                    "label": c})
    part = [{"p_partkey": p, "p_name": f"part{p}", "p_brand": f"Brand#{r.randrange(1, 26)}",
             "p_type": "STANDARD", "p_size": r.randrange(1, 50),
             "p_retailprice": float(r.randrange(900, 2000))} for p in range(n_parts)]
    orders, lineitem = [], []
    for o in range(n_orders):
        day = r.randrange(30)
        orders.append({"o_orderkey": o, "o_custkey": r.randrange(100), "o_orderstatus": "O",
                       "o_totalprice": float(r.randrange(1000, 100_000)),
                       "o_orderdate": BASE_MS // 1000 + day * 86400,
                       "o_orderpriority": "1-URGENT"})
        for ln in range(r.randrange(1, 5)):
            lineitem.append({"l_orderkey": o, "l_partkey": r.randrange(n_parts),
                             "l_suppkey": r.randrange(10), "l_linenumber": ln + 1,
                             "l_quantity": float(r.randrange(1, 50)),
                             "l_extendedprice": float(r.randrange(100, 10_000)),
                             "l_discount": 0.05, "l_tax": 0.01, "l_returnflag": "N",
                             "l_linestatus": "O", "l_shipdate": BASE_MS // 1000 + day * 86400})
    events = [{"event_id": i, "ts": BASE_MS // 1000 + r.randrange(30 * 86400),
               "user_id": r.randrange(200), "event_type": r.choice(
                   ("signup", "click", "error", "view", "purchase")),
               "value": float(r.randrange(100, 20_000)) / 100, "props": "{}"}
              for i in range(2000)]
    return {
        "region": [{"r_regionkey": i, "r_name": f"R{i}"} for i in range(5)],
        "nation": [{"n_nationkey": i, "n_name": f"N{i}", "n_regionkey": i % 5} for i in range(25)],
        "customer": [{"c_custkey": i, "c_name": f"C{i}", "c_nationkey": i % 25,
                      "c_acctbal": 0.0, "c_mktsegment": "AUTO"} for i in range(100)],
        "supplier": [{"s_suppkey": i, "s_name": f"S{i}", "s_nationkey": i % 25,
                      "s_acctbal": 0.0} for i in range(10)],
        "part": part, "orders": orders, "lineitem": lineitem, "events": events,
        "documents": docs, "embeddings": emb,
    }
