"""``serve``: read-heavy serving over one indexed MERGE_ON_READ table.

An orders-derived table, built from a seeded base and key-shifted
clones of it, partitioned by ``o_orderpriority``, with a record index,
column stats on ``o_totalprice``/``o_orderdate`` and a secondary index
on the non-key column ``o_clerk``. The schedule is a seeded shuffle of
a fixed op mix: record-key point reads (hot keys favoured), equality
reads on the indexed column, range reads on a stats column, incremental
reads of the most recent upsert's commit, a full-snapshot aggregate,
catalog rows over an orders fixture file, and small indexed upserts in
between. The upserts arrive as Debezium change events (JSON envelopes)
and go through the ``cdc`` parser before the write, as a CDC-fed
serving table would.

Key popularity follows YCSB's scrambled Zipfian request distribution
(constant 0.99; Cooper et al., "Benchmarking Cloud Serving Systems with
YCSB", SoCC 2010). The op mix itself is an assumption, not derived from
a trace: see ``perfbench/NOTES.md``.

A seeded sample of read results is checked against a DuckDB model of
the table as of that op, and every catalog row against its registered
``ORACLE`` SQL, outside the timed region.
"""

from __future__ import annotations

import json
import os
import re

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from emr_hudi_example_spark import catalog
from emr_hudi_example_spark.cdc import debezium
from emr_hudi_example_spark.lake import RECORD_KEY_COL, LakeTable

import storage

SEED_ROWS = 5000
CLONES = 8  # table rows = SEED_ROWS * CLONES
UPSERT_ROWS = 200
N_CLERKS = 400
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
#: op mix per block of 25 ops, shuffled per seed. An assumption, not
#: taken from a trace (see NOTES.md): key lookups dominate a serving
#: table, and each other kind runs at least twice so its median exists.
#: Four upserts, so that the upsert throughput is not a two-sample figure
MIX = {"point": 11, "filter": 2, "range": 2, "incr": 2, "scan": 1,
       "upsert": 4, "catalog": 3}
#: catalog rows run in turn by the ``catalog`` ops; all read only
#: ``orders``, which the benchmark writes from the table's base
CATALOG_ROWS = ["a1_group_sum", "a3_distinct", "limit_sorted"]
#: YCSB's Zipfian constant
ZIPF_S = 0.99
#: cost of one mix block on the reference host, used only to size the
#: fixed schedule
EST_BLOCK_S = 18.0
CHECK_SHARE = 0.5
PRUNED_READS = ("point", "filter", "range")
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority", "o_clerk", "ver"]
ROW_SCHEMA = T.StructType([
    T.StructField("o_orderkey", T.LongType()),
    T.StructField("o_custkey", T.LongType()),
    T.StructField("o_orderstatus", T.StringType()),
    T.StructField("o_totalprice", T.DoubleType()),
    T.StructField("o_orderdate", T.DateType()),
    T.StructField("o_orderpriority", T.StringType()),
    T.StructField("o_clerk", T.StringType()),
    T.StructField("ver", T.LongType()),
])


def _orders(keys: np.ndarray, rng, ver: int) -> pa.Table:
    n = len(keys)
    return pa.table({
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, 15000, n),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n), 2),
        "o_orderdate": np.datetime64("1995-01-01") + rng.integers(0, 2500, n)
        .astype("timedelta64[D]"),
        # the partition value is a function of the key, so an upsert never
        # moves a key to another partition
        "o_orderpriority": [PRIORITIES[k % len(PRIORITIES)] for k in keys],
        "o_clerk": [f"Clerk#{c:06d}" for c in rng.integers(0, N_CLERKS, n)],
        "ver": np.full(n, ver, dtype=np.int64),
    })


class Serve:
    name = "serve"
    primary = "point"

    def __init__(self, spark, work: str, seed: int, seconds: float):
        self.spark, self.work, self.seed = spark, work, seed
        self.blocks = max(1, round(seconds / EST_BLOCK_S))
        self.src = os.path.join(work, "src")
        self.fixture = os.path.join(self.src, "fixture")

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        os.makedirs(self.src, exist_ok=True)
        seed_rows = _orders(np.arange(SEED_ROWS), rng, 0)
        self.seed_path = os.path.join(self.src, "seed.parquet")
        pq.write_table(seed_rows, self.seed_path)
        n = SEED_ROWS * CLONES
        # the base as the model sees it: clone i shifts keys by i*SEED_ROWS
        self.base = pa.concat_tables([
            seed_rows.set_column(0, "o_orderkey", pa.array(
                seed_rows["o_orderkey"].to_numpy() + i * SEED_ROWS))
            for i in range(CLONES)
        ])
        # the catalog rows' fixture: the base in the sf fixture's schema
        os.makedirs(self.fixture)
        orders = self.base.select(["o_orderkey", "o_custkey", "o_orderstatus",
                                   "o_totalprice", "o_orderdate",
                                   "o_orderpriority"])
        orders = orders.set_column(4, "o_orderdate",
                                   orders["o_orderdate"].cast(pa.timestamp("us")))
        pq.write_table(orders, os.path.join(self.fixture, "orders.parquet"))
        # scrambled Zipfian: popularity rank r has weight 1/(r+1)^s, and a
        # seeded permutation spreads the popular keys over the key space
        weights = 1.0 / np.arange(1, n + 1) ** ZIPF_S
        cdf = np.cumsum(weights / weights.sum())
        key_of_rank = rng.permutation(n)
        kinds = [k for k, c in MIX.items() for _ in range(c)]
        self.schedule = []
        n_upserts, n_catalog, self.input_bytes = 0, 0, 0
        next_key = n
        for b in range(self.blocks):
            block = [str(k) for k in rng.permutation(kinds)]
            # an incremental read needs an upsert before it to read
            first_incr, first_upsert = block.index("incr"), block.index("upsert")
            if b == 0 and first_incr < first_upsert:
                block[first_incr], block[first_upsert] = "upsert", "incr"
            for kind in block:
                op = {"kind": kind, "check": rng.random() < CHECK_SHARE}
                if kind == "point":
                    rank = min(n - 1, int(np.searchsorted(cdf, rng.random())))
                    op["key"] = int(key_of_rank[rank])
                elif kind == "filter":
                    op["clerk"] = f"Clerk#{int(rng.integers(0, N_CLERKS)):06d}"
                elif kind == "range":
                    lo = float(rng.uniform(1000, 390000))
                    op["lo"], op["hi"] = lo, lo + 4000.0
                elif kind == "catalog":
                    op["row"] = CATALOG_ROWS[n_catalog % len(CATALOG_ROWS)]
                    op["check"] = True
                    n_catalog += 1
                elif kind == "upsert":
                    upd = rng.choice(next_key, UPSERT_ROWS // 2, replace=False)
                    new = np.arange(next_key, next_key + UPSERT_ROWS // 2)
                    next_key += len(new)
                    n_upserts += 1
                    t = _orders(np.concatenate([upd, new]), rng, n_upserts)
                    path = os.path.join(self.src, f"cdc-{n_upserts}.json")
                    self.input_bytes += _debezium_lines(t, len(upd), path)
                    op["path"], op["rows"] = path, t
                self.schedule.append(op)

    def setup(self, root: str) -> dict:
        sp = self.spark
        t = LakeTable(
            sp, root, "s", "orders", ["o_orderkey"], "ver",
            partition_keys=["o_orderpriority"], table_type="MERGE_ON_READ",
            record_index=True, index_shards=8,
            stats_columns=["o_totalprice", "o_orderdate"],
            secondary_index_columns=["o_clerk"],
        )
        seed_df = sp.read.parquet(self.seed_path)
        clones = sp.range(CLONES).withColumnRenamed("id", "_clone")
        base = seed_df.crossJoin(clones).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.col("_clone") * SEED_ROWS
        ).drop("_clone")
        t.write(base, op="bulk_insert", sort_mode="GLOBAL_SORT")
        return {"root": root, "table": t}

    def tables(self, st) -> list[LakeTable]:
        return [st["table"]]

    def warmup(self, st) -> None:
        """One op of each kind on a set-up that is not measured."""
        first = {}
        for spec in self.schedule:
            first.setdefault(spec["kind"], spec)
        for spec in first.values():
            self._op(st["table"], spec)()

    def run(self, st, clock, account) -> list[dict]:
        t = st["table"]
        con = duckdb.connect()
        con.execute("CREATE VIEW orders AS SELECT * FROM read_parquet("
                    f"'{os.path.join(self.fixture, 'orders.parquet')}')")
        model = self.base
        self.mismatches, self.checked = 0, 0
        ops = []
        incr_log: list[pa.Table] = []  # rows of each upsert, in order
        for spec in self.schedule:
            kind = spec["kind"]
            op = clock(kind, self._op(t, spec))
            if kind == "upsert" and op["ok"]:
                incr_log.append(spec["rows"])
                model = _apply(con, model, spec["rows"])
            if spec["check"] and op["ok"] and kind != "upsert":
                self.checked += 1
                if _canon(op["result"]) != _canon(
                        _expect(con, model, spec, incr_log)):
                    op["ok"] = False
                    op["error"] = f"{kind}: result differs from model"
                    self.mismatches += 1
            if kind in PRUNED_READS:
                op["pruned"] = {
                    "files_skipped": t.last_files_skipped,
                    "record": t.last_record_read_pruned,
                    "sec_index": t.last_sec_index_pruned,
                    "partitions": t.last_partitions_pruned,
                }
            if kind == "catalog":
                op["family"] = _family(spec["row"])
            op.update(account())
            op.pop("result", None)
            ops.append(op)
        self.final_rows = model
        return ops

    def _op(self, t, spec):
        kind = spec["kind"]
        if kind == "point":
            pred = [(RECORD_KEY_COL, "=", str(spec["key"]))]
            return lambda: _rows(t.snapshot(predicate=pred))
        if kind == "filter":
            pred = [("o_clerk", "=", spec["clerk"])]
            return lambda: _rows(t.snapshot(predicate=pred))
        if kind == "range":
            pred = [("o_totalprice", "between", (spec["lo"], spec["hi"]))]
            return lambda: _rows(t.snapshot(predicate=pred))
        if kind == "incr":
            def incr():
                # the commits after the one before the latest: the most
                # recent upsert, which the schedule puts before any incr
                tl = t.timeline()
                if len(tl) < 2:
                    raise RuntimeError("incremental read before any upsert")
                return _rows(t.incremental(tl[-2], None))
            return incr
        if kind == "catalog":
            fn = catalog.Q[spec["row"]]
            return lambda: fn(self.spark, self.fixture).collect()
        if kind == "scan":
            return lambda: t.snapshot().groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("total"),
            ).collect()
        def upsert():
            events = debezium.parse_debezium(
                self.spark.read.text(spec["path"]), ROW_SCHEMA)
            rows = debezium.debezium_to_upserts(events)
            return t.write(rows.drop("_cdc_deleted", "ts_ms"), op="upsert")
        return upsert

    def summarize(self, ops, ledger, st) -> dict:
        upserts = [o for o in ops if o["kind"] == "upsert"]
        return {"ingest_rows_per_s": UPSERT_ROWS * len(upserts)
                / sum(o["s"] for o in upserts),
                "catalog.pass_s": sum(o["s"] for o in ops
                                      if o["kind"] == "catalog"),
                "write_amp": ledger.bytes_written / self.input_bytes,
                "space_amp": ledger.live_bytes() / self.final_bytes,
                "checked_reads": self.checked}

    def check(self, st) -> tuple[int, int, dict]:
        """Final snapshot against the model; per-op samples were checked
        during the run and already count in the ops' ``ok``."""
        t = st["table"]
        out = t.snapshot().select(*COLS).toArrow()
        con = duckdb.connect()
        con.register("out_rows", out)
        con.register("model_rows", self.final_rows)
        bad = con.execute(
            "SELECT (SELECT count(*) FROM (SELECT * FROM out_rows EXCEPT ALL "
            "SELECT * FROM model_rows)) + (SELECT count(*) FROM (SELECT * "
            "FROM model_rows EXCEPT ALL SELECT * FROM out_rows))"
        ).fetchone()[0]
        self.final_bytes = storage.snappy_bytes(out)
        return 1, int(bad > 0), {"final_rows": out.num_rows,
                                 "final_mismatched_rows": bad,
                                 "sampled_read_checks": self.checked,
                                 "sampled_read_mismatches": self.mismatches}


def _debezium_lines(t: pa.Table, n_updates: int, path: str) -> int:
    """Write ``t`` as Debezium envelopes (the first ``n_updates`` rows as
    ``u``, the rest as ``c``); returns the file size."""
    with open(path, "w") as fh:
        for i, row in enumerate(t.to_pylist()):
            row["o_orderdate"] = row["o_orderdate"].isoformat()
            fh.write(json.dumps({
                "before": None, "after": row, "source": None,
                "op": "u" if i < n_updates else "c", "ts_ms": row["ver"],
            }) + "\n")
    return os.path.getsize(path)


def _family(row: str) -> str:
    """Catalog family: the first name segment, digits stripped, as
    ``bench.py`` groups its rows."""
    return re.sub(r"\d+$", "", row.split("_", 1)[0])


def _rows(df):
    return df.select(*COLS).collect()


def _apply(con, rows: pa.Table, batch: pa.Table) -> pa.Table:
    con.register("m_rows", rows)
    con.register("m_batch", batch)
    out = con.execute(
        "SELECT * FROM m_rows WHERE o_orderkey NOT IN "
        "(SELECT o_orderkey FROM m_batch) UNION ALL SELECT * FROM m_batch"
    ).arrow()
    con.unregister("m_rows")
    con.unregister("m_batch")
    return out


def _expect(con, rows: pa.Table, spec: dict, incr_log) -> list[tuple]:
    kind = spec["kind"]
    con.register("m_rows", rows)
    cols = ", ".join(COLS)
    if kind == "point":
        q = f"SELECT {cols} FROM m_rows WHERE o_orderkey = {spec['key']}"
    elif kind == "filter":
        q = f"SELECT {cols} FROM m_rows WHERE o_clerk = '{spec['clerk']}'"
    elif kind == "range":
        q = (f"SELECT {cols} FROM m_rows WHERE o_totalprice BETWEEN "
             f"{spec['lo']!r} AND {spec['hi']!r}")
    elif kind == "incr":
        # the rows of the most recent upsert, as the table now holds them
        con.register("m_recent", incr_log[-1])
        q = (f"SELECT {cols} FROM m_rows WHERE o_orderkey IN "
             "(SELECT o_orderkey FROM m_recent)")
    elif kind == "catalog":
        q = catalog.ORACLE[spec["row"]]
    else:
        q = ("SELECT o_orderstatus, count(*) AS n, "
             "round(sum(o_totalprice), 2) AS total FROM m_rows GROUP BY 1")
    res = con.execute(q).fetchall()
    con.unregister("m_rows")
    return res


def _canon(rows) -> list[tuple]:
    out = []
    for r in rows:
        vals = []
        for v in tuple(r):
            if isinstance(v, float):
                v = round(v, 2)
            elif hasattr(v, "isoformat"):
                v = v.isoformat()[:10]
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)
