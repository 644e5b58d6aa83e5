"""lake_cdc: small CDC transactions, head reads and an incremental MV on
one merge-on-read ``SnapshotTable`` seeded from sf0.1 ``orders``.

One cycle is a fixed op sequence (``gen.lake_ops``): four CDC batches
of 100, 400, 700 and 1000 ops in a seeded order, each applied with
``cdc_apply_merge(mor=True)`` and followed by a head read, an MV refresh
after every second batch, then ``compact()`` and ``vacuum()``.  The
maintenance step bounds file and deletion-vector counts, so every cycle
starts from the same kind of state and latency stays stationary across
cycles.  Every read and refresh is checked against ``gen.OrdersModel``,
which replays the same changelog outside the timer.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
from tracer import dir_usage

OPS_SCHEMA = T.StructType([
    T.StructField("o_orderkey", T.LongType()),
    T.StructField("o_custkey", T.LongType()),
    T.StructField("o_orderstatus", T.StringType()),
    T.StructField("o_totalprice", T.DoubleType()),
    T.StructField("o_orderdate", T.TimestampNTZType()),
    T.StructField("o_orderpriority", T.StringType()),
    T.StructField("op", T.StringType()),
    T.StructField("seq", T.LongType()),
])


def _agg_problem(rows, want: dict, what: str) -> str | None:
    got = {r[0]: (int(r[1]), float(r[2])) for r in rows}
    if sorted(got) != sorted(want):
        return f"{what}: groups {sorted(got)} != {sorted(want)}"
    for k, (n, s) in want.items():
        gn, gs = got[k]
        if gn != n or not math.isclose(gs, s, rel_tol=1e-9, abs_tol=1e-6):
            return f"{what}: {k} = ({gn}, {gs}), expected ({n}, {s})"
    return None


class Workload:
    name = "lake_cdc"
    CYCLE_S = 9.5  # one cycle on the 4-core box the benchmark was defined on

    def __init__(self, spark, ws, seed, tracer, rec, log):
        self.spark, self.ws, self.seed = spark, ws, seed
        self.tr, self.rec, self.log = tracer, rec, log
        self.batch_no = 0
        self.rows_applied = 0

    # -- setup ------------------------------------------------------------
    def prepare(self) -> None:
        """Stage sf0.1 orders as parquet."""
        with self.tr.span("session.stage"):
            self.base = gen.orders_table(self.seed)
            self.src = gen.write_parquet(self.base, self.ws.sub("orders.parquet"))

    def build(self, rep: int) -> None:
        """Build the snapshot table and its MV under ``build-<rep>``; the
        last build is the one the run uses."""
        from aliyun_maxcompute_data_collectors_spark.mv import MaterializedAggView
        from aliyun_maxcompute_data_collectors_spark.snapshots import SnapshotTable
        d = self.ws.sub(f"build-{rep}")
        with self.tr.span("session.stage"):
            self.table_path = os.path.join(d, "orders_lake")
            self.t = SnapshotTable.init(self.spark, self.table_path)
            self.t.append(self.spark.read.parquet(self.src))
            self.mv = MaterializedAggView.init(
                self.spark, self.t, os.path.join(d, "mv_state"),
                keys=["o_orderstatus"],
                aggs={"n": ("count", ""), "revenue": ("sum", "o_totalprice")})
            self.mv.refresh()
        self.model = gen.OrdersModel(self.base)
        self.ops = gen.lake_ops(self.seed, self.model)

    def oracle(self) -> None:
        """The expected results come from :class:`gen.OrdersModel`,
        replayed op by op outside the timer; nothing to precompute."""

    def warm_up(self) -> None:
        """Cycle 0, untimed and checked: every op type runs before
        the timer starts (class loading, codegen, JIT)."""
        self.cycle(timed=False)

    # -- the loop ---------------------------------------------------------
    def cycle(self, timed: bool = True) -> None:
        run = {"write": self.apply_batch, "read": self.head_read,
               "refresh": self.refresh, "maintain": self.maintain}
        for kind, payload in self.ops:
            gen.log_lake_op(self.log, kind, payload)
            run[kind](payload, timed)
            if kind == "maintain":
                return

    def _op(self, timed, kind, fn, check=None, rows=None):
        if timed:
            return self.rec.op(kind, fn, check, rows=rows, roots=[
                self.table_path, os.path.join(self.table_path, "_snapshots")])
        out = fn()
        if check is not None:
            problem = check(out)
            if problem:
                raise RuntimeError(f"warm-up {kind}: {problem}")
        return out

    def apply_batch(self, batch: dict, timed: bool) -> None:
        path = self.ws.sub("batches", f"b{self.batch_no:05d}.parquet")
        gen.write_parquet(gen.batch_arrow(batch), path)
        ops = self.spark.read.schema(OPS_SCHEMA).parquet(path)
        before = self.t.current_version()

        def write():
            from aliyun_maxcompute_data_collectors_spark.snapshots import cdc_apply_merge
            with self.tr.span("snapshots.apply"):
                return cdc_apply_merge(self.t, ops, ["o_orderkey"], ["seq"],
                                       op_col="op", mor=True)

        def check(version):
            if version is None or version <= before:
                return f"committed version {version} after {before}"
            return None

        self._op(timed, "write", write, check, rows=len(batch["key"]))
        self.model.apply(batch)
        if timed:
            self.rows_applied += len(batch["key"])
        self.batch_no += 1

    def head_read(self, rng: tuple[int, int], timed: bool) -> None:
        lo, hi = rng
        want = self.model.range_agg(lo, hi)

        def read():
            with self.tr.span("snapshots.read_plan"):
                df = (self.t.read(where=[("o_orderkey", "between", (lo, hi))])
                      .groupBy("o_orderstatus")
                      .agg(F.count(F.lit(1)), F.sum("o_totalprice")))
            with self.tr.span("spark.query_exec"):
                return df.collect()

        self._op(timed, "read", read, lambda rows: _agg_problem(rows, want, "head read"))
        if timed and self.tr.enabled:
            m = self.t.manifest()
            self.tr.sample("snapshots.live_files", len(m["files"]))
            self.tr.sample("snapshots.dv_files", len(m.get("dvs") or {}))

    def refresh(self, _payload, timed: bool) -> None:
        want = self.model.status_agg()

        def refresh():
            with self.tr.span("mv.refresh"):
                return self.mv.refresh()

        def check(out):
            if out[1] != self.t.current_version():
                return f"refreshed to {out[1]}, head is {self.t.current_version()}"
            return _agg_problem(self.mv.read().collect(), want, "mv")

        self._op(timed, "refresh", refresh, check)

    def maintain(self, _payload, timed: bool) -> None:
        rows = self.model.live_rows()

        def compact():
            with self.tr.span("snapshots.compact"):
                return self.t.compact()

        def vacuum():
            with self.tr.span("snapshots.vacuum"):
                removed = self.t.vacuum(keep_last=2)
                self.mv.state.vacuum(keep_last=2)
                return removed

        self._op(timed, "compact", compact,
                 lambda _v: None if self.t.manifest()["rows"] == rows
                 else f"{self.t.manifest()['rows']} rows after compact, expected {rows}")
        self._op(timed, "vacuum", vacuum)

    # -- after the timer --------------------------------------------------
    def space_amp(self) -> float:
        """Bytes under the table root over the bytes of its live rows
        written once as a fresh compacted table."""
        from aliyun_maxcompute_data_collectors_spark.snapshots import SnapshotTable
        fresh_path = self.ws.sub("fresh_lake")
        fresh = SnapshotTable.init(self.spark, fresh_path)
        fresh.append(self.t.read().coalesce(1))
        return dir_usage(self.table_path)[0] / dir_usage(fresh_path)[0]

    def throughput(self, timed_s: float) -> tuple[float, str]:
        return self.rows_applied / timed_s, "changelog rows applied"
