"""``medallion``: the paper's main path, stream → ODS → DWD → DM.

Fact ``lineitem`` rows arrive as JSON micro-batches and are enriched with
dimension ``part`` (FIXTURES.md §2). ODS and DWD are MERGE_ON_READ with
inline compaction; DM is COPY_ON_WRITE. Set-up seed-loads a base. Each
tick then hands one pre-generated JSON batch file to ``stream2ods_batch``
(the body the reference's MSK2Hudi ``foreachBatch`` runs), then runs
``dwd_increment`` and ``dm_increment``, closed loop. The first tick of
each compaction cycle is a ``stream`` tick: its batch goes through a
one-shot file-stream query (``json_lines_stream`` +
``start_foreach_batch``, drained) instead of a direct call. Clean and
timeline archival run on the compaction cadence, inside the tick that
completes a cycle.

The update share and its recency bias are assumptions, not taken from
a trace: see ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import json
import os
import statistics

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from emr_hudi_example_spark.lake import DELETED_COL, META_COLS, LakeTable
from emr_hudi_example_spark.pipelines import dwd2dm, ods2dwd, stream2ods
from emr_hudi_example_spark.streaming import sources

import storage

N_PARTS = 2000
BASE_ROWS = 5000
BATCH_ROWS = 1000
UPDATE_SHARE = 0.3
#: delta commits per inline compaction of ODS and DWD; clean + archive
#: run on the same cadence, and each cycle starts with a stream tick
COMPACT_EVERY = 4
#: tick cost on the reference host, used only to size the fixed schedule
EST_TICK_S = 5.0
KEY = ["l_orderkey", "l_linenumber"]
DM_GROUP = ["p_brand", "l_returnflag"]


def _rows(keys: np.ndarray, rng, part_of: dict, flag_of: dict) -> pa.Table:
    n = len(keys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": keys // 8,
        "l_linenumber": (keys % 8).astype(np.int32),
        "l_partkey": np.array([part_of[k] for k in keys], dtype=np.int64),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_returnflag": [flag_of[k] for k in keys],
        "l_shipdate": [f"199{k % 8}-0{1 + k % 9}-1{k % 10}" for k in keys],
    })


def _json_lines(t: pa.Table, path: str) -> int:
    with open(path, "w") as fh:
        for row in t.to_pylist():
            fh.write(json.dumps(row) + "\n")
    return os.path.getsize(path)


class Medallion:
    name = "medallion"
    primary = "tick"

    def __init__(self, spark, work: str, seed: int, seconds: float):
        self.spark, self.work, self.seed = spark, work, seed
        cycles = max(1, round(seconds / (EST_TICK_S * COMPACT_EVERY)))
        self.n_ticks = cycles * COMPACT_EVERY
        self.src = os.path.join(work, "src")

    # -- inputs (untimed) ------------------------------------------------
    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        os.makedirs(self.src, exist_ok=True)
        parts = pa.table({
            "p_partkey": np.arange(N_PARTS, dtype=np.int64),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PARTS)],
            "p_type": rng.choice(["PROMO", "ECONOMY", "SMALL"], N_PARTS),
        })
        self.part_path = os.path.join(self.src, "part.parquet")
        pq.write_table(parts, self.part_path)
        self.parts = parts
        total = BASE_ROWS + self.n_ticks * BATCH_ROWS
        # a tenth of the line items reference a part the dimension lacks
        part_of = dict(enumerate(rng.integers(0, N_PARTS * 11 // 10, total)))
        flag_of = dict(enumerate(rng.choice(["N", "R", "A"], total)))
        self.arrivals = []  # row batches in arrival order: base, then ticks
        base = _rows(np.arange(BASE_ROWS), rng, part_of, flag_of)
        self.base_path = os.path.join(self.src, "base.json")
        _json_lines(base, self.base_path)
        self.arrivals.append(base)
        self.batches, self.input_bytes = [], 0
        next_key = BASE_ROWS
        for i in range(self.n_ticks):
            n_upd = int(BATCH_ROWS * UPDATE_SHARE)
            # updates favour recent keys: exponential age from the newest
            age = rng.exponential(next_key * 0.15, n_upd * 2).astype(np.int64)
            upd = np.unique(next_key - 1 - age[age < next_key])[:n_upd]
            new = np.arange(next_key, next_key + BATCH_ROWS - len(upd))
            next_key += len(new)
            t = _rows(np.concatenate([upd, new]), rng, part_of, flag_of)
            # one directory per batch, so a stream source over it sees
            # exactly this batch
            os.makedirs(os.path.join(self.src, f"batch-{i:04d}"))
            path = os.path.join(self.src, f"batch-{i:04d}", "rows.json")
            self.input_bytes += _json_lines(t, path)
            self.batches.append(path)
            self.arrivals.append(t)
        self.source_rows = self.n_ticks * BATCH_ROWS

    # -- set-up (timed, repeated) ---------------------------------------
    def setup(self, root: str) -> dict:
        sp = self.spark
        mor = dict(table_type="MERGE_ON_READ", partition_keys=["l_returnflag"],
                   inline_compact_deltas=COMPACT_EVERY)
        st = {
            "root": root,
            "ods": LakeTable(sp, root, "m", "ods", KEY, "created_ts", **mor),
            "dwd": LakeTable(sp, root, "m", "dwd", KEY + ["p_brand"],
                             "created_ts", **mor),
            "dm": LakeTable(sp, root, "m", "dm", DM_GROUP, "created_ts"),
            "dim": sp.read.parquet(self.part_path).select("p_partkey", "p_brand"),
        }
        # the ODS target schema is read from the table: seed it with the
        # base batch, parsed once here (the reference's Hive2Hudi step)
        base = sp.read.json(self.base_path, schema=_BASE_SCHEMA)
        st["ods"].write(base.withColumn("created_ts", F.lit(0).cast("long")),
                        op="upsert")
        st["cursor"] = ods2dwd.dwd_increment(st["ods"], st["dim"], st["dwd"],
                                             begin=None)
        dwd2dm.dm_init(st["dwd"], st["dm"], DM_GROUP, "l_quantity", "sum_qty")
        st["dm_cursor"] = ods2dwd.init_cursor(st["dwd"])
        return st

    # -- measured schedule -----------------------------------------------
    def tables(self, st) -> list[LakeTable]:
        return [st["ods"], st["dwd"], st["dm"]]
    def warmup(self, st) -> None:
        """A stream tick, then a tick with table services, on a set-up
        that is not measured."""
        self._tick(st, 0, stream=True, services=False)
        self._tick(st, 1, stream=False, services=True)

    def _tick(self, st, i: int, stream: bool, services: bool) -> None:
        ods = st["ods"]
        if stream:
            # a fresh checkpoint, so the query reads the batch directory once
            query = sources.start_foreach_batch(
                sources.json_lines_stream(
                    self.spark, os.path.dirname(self.batches[i])),
                lambda df, _bid: stream2ods.stream2ods_batch(df, ods, batch_id=i),
                os.path.join(st["root"], "_stream", str(i)),
                query_name=f"stream2ods-{i}")
            sources.drain(query)
        else:
            batch = self.spark.read.text(self.batches[i])  # the batch hand-off
            stream2ods.stream2ods_batch(batch, ods, batch_id=i)
        st["cursor"] = ods2dwd.dwd_increment(
            st["ods"], st["dim"], st["dwd"], begin=st["cursor"])
        end = st["dwd"].last_instant()
        dwd2dm.dm_increment(st["dwd"], st["dm"], st["dm_cursor"], end,
                            DM_GROUP, "l_quantity", "sum_qty")
        st["dm_cursor"] = end
        if services:
            for t in self.tables(st):
                t.clean()
                t.archive_timeline()

    def run(self, st, clock, account) -> list[dict]:
        ops = []
        for i in range(self.n_ticks):
            stream = i % COMPACT_EVERY == 0
            services = (i + 1) % COMPACT_EVERY == 0
            op = clock("stream" if stream else "tick",
                       lambda i=i, m=stream, s=services: self._tick(st, i, m, s))
            op["services"] = services
            op.update(account())
            ops.append(op)
        return ops

    def summarize(self, ops, ledger, st) -> dict:
        walls = [o["s"] for o in ops]
        compacting = [o["s"] for o in ops if o["compactions"]]
        return {
            "ingest_rows_per_s": self.source_rows / sum(walls),
            "write_amp": ledger.bytes_written / self.input_bytes,
            "space_amp": ledger.live_bytes() / self.final_bytes,
            "compactions": sum(o["compactions"] for o in ops),
            "compact_tick_s.p50": statistics.median(compacting or [0.0]),
        }

    # -- correctness (untimed) -------------------------------------------
    def check(self, st) -> tuple[int, int, dict]:
        con = duckdb.connect()
        arr = pa.concat_tables([
            t.append_column("seq", pa.array([i] * t.num_rows, pa.int64()))
            for i, t in enumerate(self.arrivals)
        ])
        con.register("arrivals", arr)
        con.register("part", self.parts)
        dwd = (st["dwd"].snapshot()
               .select("l_orderkey", "l_linenumber", "p_brand", "l_quantity",
                       "l_returnflag").toArrow())
        dm = st["dm"].snapshot().select(*DM_GROUP, "sum_qty").toArrow()
        con.register("dwd_out", dwd)
        con.register("dm_out", dm)
        con.execute("""
            CREATE VIEW dwd_model AS
            SELECT a.l_orderkey, a.l_linenumber,
                   coalesce(p.p_brand, 'N/A') AS p_brand, a.l_quantity,
                   a.l_returnflag
            FROM arrivals a LEFT JOIN part p ON a.l_partkey = p.p_partkey
            QUALIFY row_number() OVER (
                PARTITION BY a.l_orderkey, a.l_linenumber ORDER BY seq DESC) = 1
        """)
        # running-sum semantics: every deduped arrival is added, updates too
        con.execute("""
            CREATE VIEW dm_model AS
            SELECT coalesce(p.p_brand, 'N/A') AS p_brand, a.l_returnflag,
                   sum(a.l_quantity) AS sum_qty
            FROM arrivals a LEFT JOIN part p ON a.l_partkey = p.p_partkey
            GROUP BY 1, 2
        """)
        checks = {"dwd": _diff(con, "dwd_out", "dwd_model"),
                  "dm": _diff(con, "dm_out", "dm_model")}
        failed = sum(1 for v in checks.values() if v)
        info = {"dwd_rows": dwd.num_rows, "dm_rows": dm.num_rows,
                "check_mismatched_rows": checks}
        self.final_bytes = sum(
            storage.snappy_bytes(t.snapshot().drop(*META_COLS, DELETED_COL).toArrow())
            for t in self.tables(st))
        return len(checks), failed, info


def _diff(con, a: str, b: str) -> int:
    return con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL "
        f"SELECT * FROM {b})) + (SELECT count(*) FROM (SELECT * FROM {b} "
        f"EXCEPT ALL SELECT * FROM {a}))"
    ).fetchone()[0]


_BASE_SCHEMA = (
    "l_orderkey BIGINT, l_linenumber INT, l_partkey BIGINT, "
    "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, "
    "l_returnflag STRING, l_shipdate STRING"
)
