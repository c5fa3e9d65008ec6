"""ingest_upsert: a seeded change stream against orders, with reads
between the writes.

Each batch is about 70% updates of existing keys (biased toward recent
order dates), 25% new keys and 5% deletes. It is applied twice:

- through Engine.sql INSERT ... VALUES / UPDATE / DELETE on a
  UNIQUE_KEYS table made by Engine.create_table (merge on read), and
- through streaming.ingest.upsert_writer into a parquet directory (the
  upserts; that writer has no delete path), after which
  MaterializedView.refresh brings a year-partitioned rollup of the
  directory up to date.

Then point lookups and a rollup read of the merged table, and a rollup
read that Engine.sql answers from the materialized view. Every read, and
the final state of both targets, is checked against a model in this file
of the latest version per key.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Change rows per batch: the size of the 500-row INSERT probe whose cost
# (about 0.8 s, a quarter of it SQL text rewrite) motivates this workload.
BATCH_ROWS = 500
# Point lookups per batch, besides the two rollup reads: a time budget,
# not a measured mix. A run of one batch takes its median read latency
# from these 30 reads.
LOOKUPS = 28
COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority", "ver")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
# Assumed, not measured: updates and deletes pick a key by its rank in
# order-date order, newest first, with an exponential bias of mean rank
# RECENT_SHARE of the table; new keys' dates, and the rollup reads, cover
# the last RECENT_DAYS days.
RECENT_SHARE = 0.1
RECENT_DAYS = 120


def _sql_row(r) -> str:
    ts = r[4].strftime("%Y-%m-%d %H:%M:%S")
    return (f"({r[0]}, {r[1]}, '{r[2]}', {r[3]!r}, TIMESTAMP '{ts}', '{r[5]}', {r[6]})")


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def _rollup(rows, month_cut: str | None = None, date_cut=None) -> dict:
    """{(month or '', status): (count, revenue)} over model rows."""
    out: dict = {}
    for r in rows:
        month = r[4].strftime("%Y-%m")
        if month_cut is not None and month < month_cut:
            continue
        if date_cut is not None and r[4] < date_cut:
            continue
        k = (month if month_cut is not None else "", r[2])
        n, s = out.get(k, (0, 0.0))
        out[k] = (n + 1, s + r[3])
    return out


def _same_rollup(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        got[k][0] == want[k][0] and _close(got[k][1], want[k][1]) for k in want)


class IngestUpsert:
    min_passes = 1

    def __init__(self, h, seed: int) -> None:
        self.h = h
        self.rng = random.Random(seed)
        base = pq.read_table(os.path.join(h.data_dir, "orders.parquet")).to_pylist()
        # model of the Engine table (upserts and deletes) and of the
        # parquet target (upserts only): key -> row tuple in COLS order
        self.model_eng = {r["o_orderkey"]: tuple(r[c] for c in COLS[:-1]) + (0,) for r in base}
        self.model_lake = dict(self.model_eng)
        # keys newest first: the update/delete bias draws from the front
        self.recent = sorted(self.model_eng, key=lambda k: (self.model_eng[k][4], k), reverse=True)
        self.next_key = max(self.model_eng) + 1
        self.max_date = max(r[4] for r in self.model_eng.values())
        self.date_cut = self.max_date - dt.timedelta(days=RECENT_DAYS)
        self.month_cut = self.date_cut.strftime("%Y-%m")
        self.batch_no = 0
        self.lake_dir = os.path.join(h.run_dir, "orders_lake")
        self.mv_dir = os.path.join(h.run_dir, "mv")

    # --------------------------------------------------------- the stream

    def _pick_recent(self, taken: set) -> int:
        """A live key not yet taken, biased toward the newest."""
        mean = RECENT_SHARE * len(self.recent)
        while True:
            i = int(self.rng.expovariate(1 / mean))
            if i >= len(self.recent):
                continue
            k = self.recent[i]
            if k in self.model_eng and k not in taken:
                return k

    def _batch(self):
        """(upsert rows via INSERT, upsert rows via UPDATE, delete keys)."""
        b = self.batch_no
        taken: set = set()
        upd = []
        for _ in range(round(BATCH_ROWS * 0.7)):
            k = self._pick_recent(taken)
            taken.add(k)
            r = self.model_eng[k]
            upd.append((k, r[1], self.rng.choice("FOP"),
                        round(self.rng.uniform(900.0, 500000.0), 2), r[4], r[5], b))
        new = []
        for _ in range(round(BATCH_ROWS * 0.25)):
            day = self.max_date - dt.timedelta(days=self.rng.randrange(RECENT_DAYS))
            new.append((self.next_key, self.rng.randrange(1, 1500), "O",
                        round(self.rng.uniform(900.0, 500000.0), 2), day,
                        self.rng.choice(PRIORITIES), b))
            self.next_key += 1
        dels = []
        for _ in range(BATCH_ROWS - len(upd) - len(new)):
            dels.append(self._pick_recent(taken))
            taken.add(dels[-1])
        half = len(upd) // 2
        return upd[:half] + new, upd[half:], dels

    # ----------------------------------------------------------- set-up

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        from doris_spark.engine import Engine
        from doris_spark.streaming.ingest import upsert_writer
        from doris_spark.streaming.mtmv import MaterializedView

        h = self.h
        spark = h.spark
        self.eng = Engine(spark)
        orders = h.tables["orders"].withColumn("ver", F.lit(0).cast("bigint"))
        self.schema = orders.schema
        self.eng.create_table(orders, "orders_u", "UNIQUE_KEYS",
                              keys=["o_orderkey"], sequence_col="ver")
        self.writer = upsert_writer(self.lake_dir, keys=["o_orderkey"], sequence_col="ver")
        self.writer(orders, 0)
        self.mv = MaterializedView(
            spark, "orders_month_mv", self.mv_dir,
            definition=lambda df: df.groupBy("o_year", "o_month", "o_orderstatus").agg(
                F.count(F.lit(1)).alias("cnt"), F.sum("o_totalprice").alias("revenue")),
            partition_col="o_year",
        )
        self._register_lake()
        self.mv.refresh(spark.table("orders_lake"))
        self.eng.register_mv("orders_month_mv", "orders_lake",
                             dims=["o_year", "o_month", "o_orderstatus"],
                             measures={"cnt": "count(*)", "revenue": "sum(o_totalprice)"},
                             view=self.mv.read())
        self.run_pass(-1)  # one untimed warm-up batch

    def _register_lake(self) -> None:
        from pyspark.sql import functions as F

        (self.h.spark.read.parquet(self.lake_dir)
         .withColumn("o_year", F.year("o_orderdate"))
         .withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
         .createOrReplaceTempView("orders_lake"))

    # --------------------------------------------------------- one batch

    def _dml(self, sql: str):
        with self.h.tracer.span("engine.dml"):
            return self.h.collect(self.eng.sql(sql))

    def _read(self, sql: str):
        with self.h.tracer.span("engine.sql"):
            df = self.eng.sql(sql)
        return self.h.collect(df)

    def _merge(self, rows, batch_id: int) -> None:
        with self.h.tracer.span("streaming.merge"):
            self.writer(self.h.spark.createDataFrame(rows, self.schema), batch_id)
            self._register_lake()

    def _refresh(self):
        with self.h.tracer.span("mtmv.refresh"):
            res = self.mv.refresh(self.h.spark.table("orders_lake"))
            self.mv.read().createOrReplaceTempView("orders_month_mv")
        return res

    def run_pass(self, i: int) -> None:
        h = self.h
        self.batch_no += 1
        ins, upd, dels = self._batch()
        cols = ", ".join(COLS)
        h.op("write", "insert_values", lambda: self._dml(
            f"INSERT INTO orders_u ({cols}) VALUES " + ", ".join(_sql_row(r) for r in ins)))
        keys = ", ".join(str(r[0]) for r in upd)
        status = " ".join(f"WHEN {r[0]} THEN '{r[2]}'" for r in upd)
        price = " ".join(f"WHEN {r[0]} THEN {r[3]!r}" for r in upd)
        h.op("write", "update", lambda: self._dml(
            f"UPDATE orders_u SET o_orderstatus = CASE o_orderkey {status} END, "
            f"o_totalprice = CASE o_orderkey {price} END, ver = {self.batch_no} "
            f"WHERE o_orderkey IN ({keys})"))
        h.op("write", "delete", lambda: self._dml(
            f"DELETE FROM orders_u WHERE o_orderkey IN ({', '.join(map(str, dels))})"))
        self.recent[:0] = [r[0] for r in ins if r[0] not in self.model_eng]
        for r in ins + upd:
            self.model_eng[r[0]] = r
            self.model_lake[r[0]] = r
        for k in dels:
            del self.model_eng[k]
        h.op("write", "upsert_merge", lambda: self._merge(ins + upd, self.batch_no))
        res, rec = h.op("write", "mv_refresh", self._refresh)
        if res is not None:
            h.count("mtmv.partitions_refreshed", len(res["refreshed"]))
        h.count("storage.rows_ingested", len(ins) + len(upd) + len(dels))
        h.count("storage.user_bytes", sum(len(_sql_row(r)) for r in ins + upd))

        # point lookups: keys this batch touched through each path, plus
        # keys drawn from the whole table
        keys = [upd[0][0], upd[-1][0], ins[0][0], ins[-1][0], dels[0]]
        keys += [self.rng.choice(self.recent) for _ in range(LOOKUPS - len(keys))]
        for k in keys:
            rows, rec = h.op("read", "point_lookup", lambda k=k: self._read(
                f"SELECT {', '.join(COLS[:-1])} FROM orders_u WHERE o_orderkey = {k}"))
            if rows is not None:
                want = [self.model_eng[k][:-1]] if k in self.model_eng else []
                if [tuple(r) for r in rows] != want:
                    h.wrong(rec, f"point lookup of key {k}")
        rows, rec = h.op("read", "rollup", lambda: self._read(
            "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS revenue FROM orders_u "
            f"WHERE o_orderdate >= TIMESTAMP '{self.date_cut:%Y-%m-%d %H:%M:%S}' "
            "GROUP BY o_orderstatus"))
        if rows is not None and not _same_rollup(
                {("", r[0]): (r[1], r[2]) for r in rows},
                _rollup(self.model_eng.values(), date_cut=self.date_cut)):
            h.wrong(rec, "rollup of the merged table")
        rows, rec = h.op("read", "mv_rollup", lambda: self._read(
            "SELECT o_month, o_orderstatus, count(*) AS n, sum(o_totalprice) AS revenue "
            f"FROM orders_lake WHERE o_year >= {self.date_cut.year} "
            f"AND o_month >= '{self.month_cut}' GROUP BY o_month, o_orderstatus"))
        if rows is not None:
            if not _same_rollup({(r[0], r[1]): (r[2], r[3]) for r in rows},
                                _rollup(self.model_lake.values(), month_cut=self.month_cut)):
                h.wrong(rec, "rollup answered from the materialized view")
            h.count("plans.mv_rewrite_hits", self.eng.last_mv_rewrite == "orders_month_mv")

    # ---------------------------------------------------------- the end

    def final_check(self) -> bool:
        """Full state of both targets against the model (untimed)."""
        spark = self.h.spark
        eng_rows = {r[0]: tuple(r) for r in self.eng.table("orders_u").select(*COLS).collect()}
        lake_rows = {r[0]: tuple(r)
                     for r in spark.read.parquet(self.lake_dir).select(*COLS).collect()}
        return eng_rows == self.model_eng and lake_rows == self.model_lake

    def extra_metrics(self) -> dict:
        c = self.h.counters
        lake_bytes = sum(os.path.getsize(os.path.join(self.lake_dir, f))
                         for f in os.listdir(self.lake_dir) if f.endswith(".parquet"))
        live = os.path.join(self.h.run_dir, "live.parquet")
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(COLS, r)) for r in self.model_lake.values()]), live)
        return {
            "storage.rows_rewritten_per_row": (
                c["storage.rows_moved"] / c["storage.rows_ingested"]
                if c["storage.rows_ingested"] else 0.0, "count"),
            # bytes written per byte of the changes as the VALUES text a
            # client sends
            "storage.write_amp": (
                c["storage.bytes_written"] / c["storage.user_bytes"]
                if c["storage.user_bytes"] else 0.0, "ratio"),
            "storage.space_amp": (lake_bytes / os.path.getsize(live), "ratio"),
        }
