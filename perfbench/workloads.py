"""The three benchmark workloads: ``ingest``, ``scan`` and ``dml``.

Each workload is one client in a closed loop: it sends the next
operation only after the previous one has finished. A workload

* ``warm_up()``s on a throwaway table (JVM codegen, one op of each kind),
* ``build()``s its table (repeated by the runner; the last build is used),
* ``run()``s its timed loop through ``Runner.op``, keeping each op's
  result,
* and ``check()``s every kept result and the final table state against
  plain Spark over the generated inputs, outside the timed phase.

All table access goes through the engine's public API; the engine only
ever sees the DataFrames ``datagen`` builds.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback

from pyspark.sql import functions as F

from iceberg_rust_archive_spark.plans.engine import Engine
from iceberg_rust_archive_spark.predicates import Pred
from iceberg_rust_archive_spark.sources.manifests import (
    read_manifest_list, read_manifests,
)
from iceberg_rust_archive_spark.spec.manifest import (
    CONTENT_DATA, STATUS_DELETED,
)
from iceberg_rust_archive_spark.table import Table

from perfbench import datagen
from perfbench.tracing import list_files

# Per-scale sizes. ``tiny`` exists for the smoke test only.
SCALES = {
    "full": {
        "ingest": {"batch_rows": 2_000, "batches_per_day": 10, "every": 6,
                   "warm_cycles": 3},
        "scan": {"rows": 1_000_000, "days": 30, "cycles": 3,
                 "delete_users_mod": 50, "dv_amount_min": 99_000,
                 "warm_passes": 2},
        "dml": {"rows": 100_000, "days": 10, "merge_rows": 2_000,
                "warm_rounds": 2},
    },
    "tiny": {
        "ingest": {"batch_rows": 200, "batches_per_day": 3, "every": 2,
                   "warm_cycles": 1},
        "scan": {"rows": 20_000, "days": 6, "cycles": 1,
                 "delete_users_mod": 50, "dv_amount_min": 99_000,
                 "warm_passes": 1},
        "dml": {"rows": 10_000, "days": 4, "merge_rows": 100,
                "warm_rounds": 1},
    },
}

AGG_SQL = ("SELECT cat, count(*) AS n, sum(amount) AS s FROM {t} "
           "GROUP BY cat")


def agg(df):
    """The benchmark's read: per-category row count and amount sum."""
    return df.groupBy("cat").agg(F.count(F.lit(1)).alias("n"),
                                 F.sum("amount").alias("s"))


def ts_lit(t):
    """A timestamp literal read in the session time zone, as the engine
    reads a predicate's ISO string."""
    return F.lit(t.isoformat(sep=" ")).cast("timestamp")


def rows_of(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


def percentile(values, pct):
    """Nearest-rank percentile (``pct`` in 0..100)."""
    vs = sorted(values)
    if not vs:
        return float("nan")
    k = max(0, min(len(vs) - 1, -(-len(vs) * pct // 100) - 1))
    return vs[int(k)]


class Runner:
    """Times ops in a closed loop and, in traced mode, records spans,
    Spark job groups and warehouse listings around them.

    A workload repeats a fixed cycle of ops and marks each cycle's end,
    so throughput is taken over whole cycles and always has the same op
    mix. In traced mode half the ops of each kind are traced, in the
    pattern traced, untraced, untraced, traced, so that neither half is
    favoured by a trend over the run or by a behaviour that alternates
    from op to op; the untraced half gives the tracing overhead."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.ops: list[dict] = []
        self._parity: dict[str, int] = {}
        self.start = time.perf_counter()
        self.cycle_ends: list[tuple[float, int]] = [(self.start, 0)]

    def end_cycle(self):
        self.cycle_ends.append((time.perf_counter(), len(self.ops)))

    @property
    def cycles(self) -> int:
        return len(self.cycle_ends) - 1

    def ops_per_s(self) -> float:
        """Throughput of the median cycle: ops per cycle / median cycle
        time. Every cycle has the same op mix, and the median keeps one
        stalled cycle from moving the figure."""
        spans = [(t1 - t0, n1 - n0) for (t0, n0), (t1, n1)
                 in zip(self.cycle_ends, self.cycle_ends[1:])]
        return statistics.median(n / t for t, n in spans)

    def op(self, kind: str, fn, *, check=None):
        """Run ``fn()`` as one timed op of ``kind``. ``check``
        (optional) is stored with the result for the post-run check."""
        ctx = self.ctx
        n = self._parity.get(kind, 0)
        self._parity[kind] = n + 1
        traced = ctx.trace and n % 4 in (0, 3)
        before = list_files(ctx.warehouse) if traced else None
        rec = {"id": len(self.ops), "kind": kind, "traced": traced,
               "ok": True, "check": check, "result": None}
        t0 = time.perf_counter()
        with ctx.tracer.op(kind, rec["id"], traced):
            try:
                rec["result"] = fn()
            except Exception:  # one failed op must not end the run
                rec["ok"] = False
                traceback.print_exc(file=sys.stderr)
        rec["latency_s"] = time.perf_counter() - t0
        if traced:
            rec["files_before"] = before
            rec["files_after"] = list_files(ctx.warehouse)
        self.ops.append(rec)
        return rec

    def latencies(self, *kinds):
        return [o["latency_s"] for o in self.ops
                if o["ok"] and (not kinds or o["kind"] in kinds)]


class Workload:
    name = ""
    #: the op kinds the workload is named for (``op_p50_s``, ``op_tail_s``)
    main_kinds: tuple[str, ...] = ()
    #: op kinds that read the table (``read_p50_s``)
    read_kinds: tuple[str, ...] = ()
    #: the highest percentile of the main ops with at least ten samples
    #: beyond it at the run length in BENCHMARK.json
    tail_pct = 90

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.seed = ctx.seed
        self.p = SCALES[ctx.scale][self.name]
        self.rng = random.Random(f"{self.name}:{ctx.seed}")
        self.catalog = ctx.catalog
        self.engine = Engine(self.spark, self.catalog)

    def prime(self):
        """Set-up work on the built table before timing (none by
        default)."""

    def collect(self, df):
        with self.ctx.tracer.span("operators.scan.exec"):
            return df.collect()

    def sql(self, stmt_type: str, text: str):
        with self.ctx.tracer.span("plans.engine.sql", stmt=stmt_type):
            return self.engine.sql(text)

    def live_rows(self, table: Table) -> int:
        return table.refresh().scan(self.spark).count()

    def sizes(self, table: Table) -> dict:
        """End-of-run sizes. ``snapshot_bytes`` counts what the current
        snapshot references (data and delete files, manifests, manifest
        list, metadata file); ``stored_bytes`` is everything under the
        table location, older snapshots included."""
        table.refresh()
        snap = table.metadata.current_snapshot()
        mlist = read_manifest_list(snap.manifest_list)
        files, n_data = {}, 0
        for entries in read_manifests([m.manifest_path for m in mlist]):
            for e in entries:
                if e.status != STATUS_DELETED:
                    files[e.data_file.file_path] = \
                        e.data_file.file_size_in_bytes or 0
                    n_data += e.data_file.content == CONTENT_DATA
        snapshot_bytes = (sum(files.values())
                          + sum(m.manifest_length for m in mlist)
                          + os.path.getsize(snap.manifest_list)
                          + os.path.getsize(table.metadata_location))
        return {"rows": table.scan(self.spark).count(),
                "data_files": n_data, "delete_files": len(files) - n_data,
                "manifests": len(mlist), "snapshot_bytes": snapshot_bytes,
                "stored_bytes": sum(list_files(
                    table.metadata.location).values())}


# --- ingest ------------------------------------------------------------------

class Ingest(Workload):
    """Micro-batch appends into a ``day(ts)``-partitioned table, each
    followed by a pruned read of the freshest day; every ``every``
    appends, an incremental refresh of an aggregate MV over the
    table."""

    name = "ingest"
    main_kinds = ("append",)
    read_kinds = ("fresh_read",)
    tail_pct = 70

    def _create(self, ident):
        t = Table.create(self.catalog, ident, datagen.SCHEMA,
                         datagen.DAY_SPEC)
        mv = ident + "_mv"
        self.engine.create_materialized_view(mv, AGG_SQL.format(t=ident))
        self.engine.refresh_materialized_view(mv)
        return t, mv

    def _batch(self, b):
        n = self.p["batch_rows"]
        return datagen.events(self.spark, self.seed, b * n, (b + 1) * n,
                              n * self.p["batches_per_day"])

    def warm_up(self):
        t, mv = self._create("warm.ingest")
        every = self.p["every"]
        for b in range(self.p["warm_cycles"] * every):
            t.append(self.spark, self._batch(b))
            agg(t.scan(self.spark, filter=self._fresh_filter(b))).collect()
            if (b + 1) % every == 0:
                self.engine.refresh_materialized_view(mv)

    def build(self, rep):
        self.table, self.mv = self._create(f"db{rep}.events")

    def _fresh_filter(self, b):
        day = b // self.p["batches_per_day"]
        return [Pred("ts", ">=", datagen.day_start(day).isoformat())]

    def _fresh_read(self, b):
        df = agg(self.table.scan(self.spark, filter=self._fresh_filter(b)))
        return rows_of(self.collect(df))

    def _refresh(self):
        with self.ctx.tracer.span("plans.mv.refresh") as sp:
            strategy = self.engine.refresh_materialized_view(self.mv)
            sp["strategy"] = strategy
        return strategy

    def run(self, runner, deadline):
        b = 0
        while not runner.cycles or time.perf_counter() < deadline:
            df = self._batch(b)  # input built outside the timed op
            runner.op("append",
                      lambda df=df: self.table.append(self.spark, df))
            runner.op("fresh_read", lambda b=b: self._fresh_read(b),
                      check=b)
            b += 1
            if b % self.p["every"] == 0:
                runner.op("mv_refresh", self._refresh)
                runner.end_cycle()
        self.batches = b

    def check(self, runner):
        n = self.p["batch_rows"]
        src = datagen.events(self.spark, self.seed, 0, self.batches * n,
                             n * self.p["batches_per_day"]).cache()
        try:
            for o in runner.ops:
                if o["kind"] == "fresh_read" and o["ok"]:
                    b = o["check"]
                    day0 = datagen.day_start(b // self.p["batches_per_day"])
                    want = rows_of(agg(
                        src.filter(F.col("id") < (b + 1) * n)
                           .filter(F.col("ts") >= ts_lit(day0))).collect())
                    o["ok"] = o["result"] == want
            final_ok = self.live_rows(self.table) == self.batches * n
            self.engine.refresh_materialized_view(self.mv)
            got = rows_of(self.engine.sql(
                f"SELECT cat, n, s FROM {self.mv}").collect())
            final_ok = final_ok and got == rows_of(agg(src).collect())
        finally:
            src.unpersist()
        return final_ok

    def extra(self, runner, elapsed):
        appends = runner.latencies("append")
        rows = self.batches * self.p["batch_rows"]
        return {
            "ingest_rows_per_s": rows / elapsed,
            "append_p50_s": statistics.median(appends),
            f"append_p{self.tail_pct}_s": percentile(appends, self.tail_pct),
            "append_samples": len(appends),
            "fresh_read_p50_s": statistics.median(
                runner.latencies("fresh_read")),
            "mv_refresh_p50_s": statistics.median(
                runner.latencies("mv_refresh")),
        }


# --- scan --------------------------------------------------------------------

class Scan(Workload):
    """A bulk-loaded ``day(ts)`` table with one equality delete and one
    deletion vector, read by a fixed, seed-chosen mix of pruned range and
    point aggregates and full-table aggregates. No commits are timed."""

    name = "scan"
    main_kinds = ("pruned",)
    read_kinds = ("full_scan",)
    tail_pct = 75

    def _rows_per_day(self):
        return self.p["rows"] // self.p["days"]

    def _load(self, ident, rows):
        t = Table.create(self.catalog, ident, datagen.SCHEMA,
                         datagen.DAY_SPEC)
        t.append(self.spark, datagen.events(self.spark, self.seed, 0, rows,
                                            self._rows_per_day()))
        t.delete_where_equal(
            self.spark, datagen.deleted_users(
                self.spark, self.seed, self.p["delete_users_mod"]),
            ["user_id"])
        t.delete_where_pos(self.spark,
                           F.col("amount") >= self.p["dv_amount_min"],
                           use_dv=True)
        return t.refresh()

    def warm_up(self):
        """Nothing up front: the first build warms the write path and
        ``prime`` warms the read path on the built table itself."""

    def prime(self):
        """Run the timed query list ``warm_passes`` times on the built
        table, so the timed loop starts with warm manifest caches, warm
        code and Spark's generated code for these queries already
        compiled (their literals are part of the generated code)."""
        self.qs = self._queries(self.p["cycles"])
        for _ in range(self.p["warm_passes"]):
            for q in self.qs:
                self._query(q)

    def build(self, rep):
        self.table = self._load(f"db{rep}.events", self.p["rows"])

    def _queries(self, cycles):
        """``cycles`` blocks of eight seed-chosen queries, each shuffled:
        four one-day ranges (partition-pruned), two 64-id points (one
        file by id bounds) and two full-table aggregates."""
        rows, days = self.p["rows"], self.p["days"]
        qs = []
        for _ in range(cycles):
            block = [("full",)] * 2
            for _ in range(4):
                d = self.rng.randrange(days)
                block.append(("range", d, d + 1))
            for _ in range(2):
                lo = self.rng.randrange(rows - 64)
                block.append(("point", lo, lo + 64))
            self.rng.shuffle(block)
            qs.extend(block)
        return qs

    @staticmethod
    def _preds(q):
        if q[0] == "range":
            return [Pred("ts", ">=", datagen.day_start(q[1]).isoformat()),
                    Pred("ts", "<", datagen.day_start(q[2]).isoformat())]
        if q[0] == "point":
            return [Pred("id", ">=", q[1]), Pred("id", "<", q[2])]
        return None

    @staticmethod
    def _where(df, q):
        if q[0] == "range":
            return df.filter(
                (F.col("ts") >= ts_lit(datagen.day_start(q[1])))
                & (F.col("ts") < ts_lit(datagen.day_start(q[2]))))
        if q[0] == "point":
            return df.filter((F.col("id") >= q[1]) & (F.col("id") < q[2]))
        return df

    def _query(self, q):
        df = agg(self.table.scan(self.spark, filter=self._preds(q)))
        return rows_of(self.collect(df))

    def run(self, runner, deadline):
        qs = self.qs
        i = 0
        while not runner.cycles or time.perf_counter() < deadline:
            q = qs[i % len(qs)]
            kind = "full_scan" if q[0] == "full" else "pruned"
            runner.op(kind, lambda q=q: self._query(q), check=q)
            i += 1
            if i % 8 == 0:
                runner.end_cycle()

    def _expected_source(self):
        src = datagen.events(self.spark, self.seed, 0, self.p["rows"],
                             self._rows_per_day())
        gone = datagen.deleted_users(self.spark, self.seed,
                                     self.p["delete_users_mod"])
        return (src.join(gone, "user_id", "left_anti")
                   .filter(F.col("amount") < self.p["dv_amount_min"]))

    def check(self, runner):
        live = self._expected_source().cache()
        try:
            want = {}
            for o in runner.ops:
                if not o["ok"]:
                    continue
                q = o["check"]
                if q not in want:
                    want[q] = rows_of(agg(self._where(live, q)).collect())
                o["ok"] = o["result"] == want[q]
            return self.live_rows(self.table) == live.count()
        finally:
            live.unpersist()

    def extra(self, runner, elapsed):
        pruned = runner.latencies("pruned")
        return {
            "pruned_p50_s": statistics.median(pruned),
            f"pruned_p{self.tail_pct}_s": percentile(pruned, self.tail_pct),
            "pruned_samples": len(pruned),
            "full_scan_p50_s": statistics.median(
                runner.latencies("full_scan")),
        }


# --- dml ---------------------------------------------------------------------

class Dml(Workload):
    """Rounds of SQL ``DELETE`` / ``UPDATE`` / ``MERGE INTO`` on one
    table through ``Engine.sql``, each round followed by a read; the run
    ends with ``CALL system.compact`` and a final read."""

    name = "dml"
    # every op: a run has too few statements alone for a tail percentile
    main_kinds = ("delete", "update", "merge", "read", "compact")
    read_kinds = ("read",)
    tail_pct = 60
    #: time kept free at the end of the loop for compaction + final read
    reserve_s = 3.0

    def _rows_per_day(self):
        return self.p["rows"] // self.p["days"]

    def _load(self, ident, rows):
        t = Table.create(self.catalog, ident, datagen.SCHEMA,
                         datagen.DAY_SPEC,
                         properties={"write.delete.format": "dv"})
        t.append(self.spark, datagen.events(self.spark, self.seed, 0, rows,
                                            self._rows_per_day()))
        return t

    def warm_up(self):
        rows = 10_000
        self._load("warm.dml", rows)
        self.ident = "warm.dml"
        for r in range(self.p["warm_rounds"]):
            for _kind, f in self._round(r, self._round_params(r, rows)):
                f()
            self._read()
        self.sql("call", f"CALL system.compact('{self.ident}')")
        self._read()

    def build(self, rep):
        self.ident = f"db{rep}.events"
        self.table = self._load(self.ident, self.p["rows"])

    def _round_params(self, r, rows=None):
        rows = rows or self.p["rows"]
        half = self.p["merge_rows"] // 2
        stride = max(1, rows // half)
        return {"del": self.rng.randrange(101), "upd": self.rng.randrange(103),
                "old": (self.rng.randrange(stride), rows, stride),
                "new_lo": rows + r * half}

    def _round(self, r, prm):
        """The round's statements as ``(kind, fn)`` pairs. The MERGE
        source view is registered here, before any op is timed."""
        view = f"perfbench_merge_src_{r}"
        t = self.ident
        datagen.merge_source(self.spark, self.seed, r, prm["old"],
                             prm["new_lo"], self._rows_per_day()
                             ).createOrReplaceTempView(view)

        def merge():
            self.sql("merge", f"MERGE INTO {t} t USING {view} m "
                     "ON t.id = m.id WHEN MATCHED THEN UPDATE SET * "
                     "WHEN NOT MATCHED THEN INSERT *")
        return [
            ("delete", lambda: self.sql(
                "delete", f"DELETE FROM {t} WHERE user_id % 101 = "
                f"{prm['del']}")),
            ("update", lambda: self.sql(
                "update", f"UPDATE {t} SET amount = amount + 1 "
                f"WHERE user_id % 103 = {prm['upd']}")),
            ("merge", merge),
        ]

    def _read(self):
        df = self.sql("select", AGG_SQL.format(t=self.ident))
        return rows_of(self.collect(df))

    def run(self, runner, deadline):
        self.rounds = []
        r = 0
        while r == 0 or time.perf_counter() < deadline - self.reserve_s:
            prm = self._round_params(r)
            self.rounds.append(prm)
            for kind, f in self._round(r, prm):
                runner.op(kind, f)
            runner.op("read", self._read, check=r)
            runner.end_cycle()
            r += 1
        before = self.live_files() if self.ctx.trace else None
        rec = runner.op("compact", lambda: self.sql(
            "call", f"CALL system.compact('{self.ident}')"))
        if before is not None:
            rec["live_files_before"] = before
            rec["live_files_after"] = self.live_files()
        runner.op("read", self._read, check=r - 1)

    def live_files(self) -> int:
        """Data plus delete files the current snapshot reads."""
        report: dict = {}
        Table.load(self.catalog, self.ident).scan(self.spark, report=report)
        return (report["data_files_planned"]
                + report["equality_delete_files"]
                + report["position_delete_files"])

    def _replay(self, state, r, prm):
        """Set-algebra replay of round ``r`` over plain Spark frames."""
        state = state.filter(F.col("user_id") % 101 != prm["del"])
        state = state.withColumn(
            "amount", F.when(F.col("user_id") % 103 == prm["upd"],
                             F.col("amount") + 1).otherwise(F.col("amount")))
        src = datagen.merge_source(self.spark, self.seed, r, prm["old"],
                                   prm["new_lo"], self._rows_per_day())
        return (state.join(src.select("id"), "id", "left_anti")
                .unionByName(src))

    def check(self, runner):
        state = datagen.events(self.spark, self.seed, 0, self.p["rows"],
                               self._rows_per_day())
        want = []
        for r, prm in enumerate(self.rounds):
            state = self._replay(state, r, prm).localCheckpoint()
            want.append(rows_of(agg(state).collect()))
        for o in runner.ops:
            if o["kind"] == "read" and o["ok"]:
                o["ok"] = o["result"] == want[o["check"]]
        return self.live_rows(self.table) == state.count()

    def extra(self, runner, elapsed):
        out = {f"{k}_p50_s": statistics.median(runner.latencies(k))
               for k in ("delete", "update", "merge")}
        out["dml_read_p50_s"] = statistics.median(runner.latencies("read"))
        out["compact_s"] = statistics.median(runner.latencies("compact"))
        return out


WORKLOADS = {w.name: w for w in (Ingest, Scan, Dml)}
