"""The benchmark's workloads.

Each workload is a closed loop with one client: the next batch, read or
query goes out only after the previous one completed. A workload sets up
its state three times (timing each set-up), warms up untimed, then runs a
fixed number of rounds sized from `--seconds` (`Ctx.measure`), checking
results against DuckDB outside the timed spans.

Operations are timed as root spans of the tracer (`Tracer.op`); with tracing
on, the calls into each layer are spans too (`install_layer_spans`).
"""

from __future__ import annotations

import os
import queue
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.oracle import CHECK_EXPRS, LwwState, oracle_hash, read_destination, result_hash

DST = f"{gen.TABLE_NS}.{gen.TABLE_NAME}"

# workload sizes (documented in perfbench/README.md)
WAL = dict(rows=50_000, batch=5_000, warm=1, round_s=4.0, slots=2, xact=100, buckets=32,
           p_new=0.15, p_del=0.15, compact_files_per_bucket=4)
HOT = dict(rows=200_000, batch=5_000, round_s=12.0, xact=50, buckets=32, hot_keys=2_000,
           hot_frac=0.8, p_new=0.05, p_del=0.1, normalize_every=4,
           compact_files_per_bucket=4)
QUERY_ORDERS = 7_500  # lineitem ~30k rows
QUERY_PASS_S = 8.0  # a pass over QUERY_NAMES on the reference host
# two declared queries from each group: QRep and pass-through, CDC read
# side, events, dedup and search
QUERY_NAMES = (
    "qrep_ntile_partitions", "passthrough_join",
    "cdc_time_travel", "mirror_table_diff",
    "events_sessionize", "events_asof_join",
    "dedup_minhash_lsh_pairs", "bloom_membership",
)
SETUPS = 3

LAYERS = [
    "streaming", "cdc.sync", "cdc.normalize", "normalize.merge",
    "storage.replace_partitions", "storage.split", "storage.compact",
    "mview.fold", "cdc.read", "queries.build", "queries.exec",
]


@dataclass
class Op:
    kind: str  # batch | read | query
    op_id: str
    latency: float
    ok: bool
    traced: bool
    events: int = 0
    bytes_written: int = 0


@dataclass
class Outcome:
    setup_s: list[float] = field(default_factory=list)
    ops: list[Op] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    # checks that are not part of a timed operation (final destination
    # state, query oracles)
    extra_checks: int = 0
    extra_failed: int = 0
    # per timed normalize range: (change rows, distinct keys, traced)
    lww: list[tuple[int, int, bool]] = field(default_factory=list)
    # JVM GC and JIT seconds spent during each measuring phase
    jvm: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.extra_checks += 1
        if not ok:
            self.extra_failed += 1
            self.failures.append(what)


@dataclass
class Ctx:
    spark: object
    tracer: object
    out: Outcome
    seed: int
    seconds: float
    work: str
    # measuring phases: untraced, then (with --trace 1) traced; the
    # difference between the two is the tracing overhead
    phases: tuple = (False,)
    traced: bool = False  # the phase being measured

    def measure(self, one, i: int, round_s: float) -> int:
        """Run rounds `one(i, timed=True)`, i = i, i+1, .. in each phase:
        `seconds / round_s` of them (a round's nominal length), at least
        one, so every run measures the same work whatever the host's
        speed."""
        n_rounds = max(1, round(self.seconds / round_s))
        for traced in self.phases:
            self.traced = traced
            if traced:
                install_layer_spans(self.tracer)
            jvm0 = _jvm_times(self.spark)
            for _ in range(n_rounds):
                one(i, timed=True)
                i += 1
            jvm1 = _jvm_times(self.spark)
            self.out.jvm[traced] = {k: jvm1[k] - jvm0[k] for k in jvm0}
        self.traced = False
        self.tracer.unwrap_all()
        return i


def _jvm_times(spark) -> dict:
    """Cumulative JVM garbage-collection and JIT-compilation seconds."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {"gc_s": gc / 1000.0,
            "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0}


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _tree_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


class WriteMeter:
    """Bytes of parquet files that appeared under some directories since
    the previous call (the raw batch plus the rewritten buckets)."""

    def __init__(self, *paths: str):
        self.paths = paths
        self.known = self._scan()

    def _scan(self) -> dict[str, int]:
        out = {}
        for p in self.paths:
            out.update(_tree_files(p))
        return out

    def delta(self) -> int:
        now = self._scan()
        new = sum(sz for p, sz in now.items() if p not in self.known)
        self.known = now
        return new


def _snapshot_df(ctx: Ctx, snap, path: str):
    pq.write_table(snap, path)
    return ctx.spark.read.parquet(path)


# -- layer spans ----------------------------------------------------------------

def install_layer_spans(tracer) -> None:
    """Wrap the program's layer entry points in spans (tracing runs only)."""
    from peerdb_spark import normalize as N
    from peerdb_spark.cdc import CdcPipeline
    from peerdb_spark.mview import ViewTable
    from peerdb_spark.storage import ParquetTable

    def on_replace(span, args, kwargs, result):
        table, buckets = args[0], args[2] if len(args) > 2 else kwargs["buckets"]
        span.attrs["buckets"] = len(buckets)
        span.attrs["leaves"] = len(table.leaf_buckets())
        # rows now in the rewritten buckets, read from parquet footers when
        # the operation is over
        span.attrs["_rows_rewritten"] = lambda: sum(
            table.rows_per_bucket(list(buckets)).values())

    tracer.wrap(CdcPipeline, "sync_batch", "cdc.sync")
    tracer.wrap(CdcPipeline, "normalize_batches", "cdc.normalize")
    tracer.wrap(N, "merge_into_table", "normalize.merge")
    tracer.wrap(ParquetTable, "replace_partitions", "storage.replace_partitions",
                on_replace)
    tracer.wrap(ParquetTable, "maybe_split", "storage.split")
    tracer.wrap(ParquetTable, "split_bucket", "storage.split")
    tracer.wrap(ParquetTable, "compact", "storage.compact")
    tracer.wrap(ViewTable, "fold", "mview.fold")


# -- pg_wal_eager -----------------------------------------------------------------

def _wal_table_config(path: str):
    from pyspark.sql import types as T

    from peerdb_spark import cdc

    # pgoutput text tuples decode to strings; the destination types come
    # from the mirror's column settings, as in the product
    val = T.StructType([T.StructField(c, T.StringType()) for c in gen.COLUMNS])
    return cdc.CdcTableConfig(
        DST, ["id"], val, path, n_buckets=WAL["buckets"],
        type_overrides={"id": "bigint", "k": "int", "v": "bigint"},
        compact_files_per_bucket=WAL["compact_files_per_bucket"])


def _runner_class(tracer):
    from peerdb_spark.streaming import WalStreamRunner

    class BenchWalRunner(WalStreamRunner):
        """Signals each finished micro-batch to the waiting client."""

        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            self.finished: queue.Queue = queue.Queue()

        def _foreach_batch(self, batch_df, batch_id):
            try:
                with tracer.in_op_group():
                    super()._foreach_batch(batch_df, batch_id)
            finally:
                self.finished.put(batch_id)

    return BenchWalRunner


def pg_wal_eager(ctx: Ctx, out: Outcome) -> None:
    sp = ctx.spark
    snap = gen.snapshot(ctx.seed, WAL["rows"])
    Runner = _runner_class(ctx.tracer)

    def setup(i: int):
        d = _fresh(os.path.join(ctx.work, f"wal{i}"))
        t0 = time.perf_counter()
        runner = Runner(sp, os.path.join(d, "wal"), os.path.join(d, "ckpt"), [],
                        os.path.join(d, "raw"), max_files_per_trigger=1)
        runner.pipeline.add_table(
            _wal_table_config(os.path.join(d, "dst")),
            backfill=_snapshot_df(ctx, snap, os.path.join(d, "snap.parquet")))
        os.makedirs(os.path.join(d, "wal"))
        runner.start(processing_time="0 seconds")
        out.setup_s.append(time.perf_counter() - t0)
        return d, runner

    runners = [setup(i) for i in range(SETUPS)]
    for _d, r in runners[:-1]:
        r.stop()
    d, runner = runners[-1]
    try:
        _wal_loop(ctx, out, d, runner, snap)
    finally:
        runner.stop()


def _wal_loop(ctx, out, d, runner, snap):
    stream = gen.ChangeStream(ctx.seed, WAL["rows"], p_new=WAL["p_new"],
                              p_del=WAL["p_del"])
    reader = Reader(ctx, out, runner.pipeline, None, snap)
    meter = WriteMeter(os.path.join(d, "raw"), os.path.join(d, "dst"))
    stage = _fresh(os.path.join(d, "stage"))

    def one(i: int, timed: bool) -> None:
        ev = stream.next_batch(WAL["batch"])
        wal = gen.wal_batch(ev, WAL["slots"], WAL["xact"], with_relation=(i == 0))
        tmp = os.path.join(stage, f"b{i:06d}.parquet")
        pq.write_table(wal, tmp)
        op_id = f"batch{i}"
        with ctx.tracer.op("streaming" if timed else "warm", op_id) as s:
            os.rename(tmp, os.path.join(d, "wal", f"b{i:06d}.parquet"))
            _wait_batch(runner)
        if timed:
            out.ops.append(Op("batch", op_id, s.end - s.start, True,
                              ctx.traced, events=len(ev),
                              bytes_written=meter.delta()))
            out.lww.append((len(ev), len(set(ev.column("id").to_pylist())),
                            ctx.traced))
        else:
            meter.delta()
        ctx.tracer.harvest()
        reader.after_batch(i, ev, merged=True, timed=timed)

    for i in range(WAL["warm"]):  # untimed warm-up: relations, code generation
        one(i, timed=False)
    ctx.measure(one, WAL["warm"], WAL["round_s"])
    reader.final_check(os.path.join(d, "dst"), "pg_wal_eager")


class Reader:
    """The client's reader pass after every batch: the destination through
    `read_table` with a fixed aggregate, then the maintained view if there
    is one. Both are checked against the DuckDB fold of the generator's
    records; the view reflects the state as of the last normalize."""

    def __init__(self, ctx, out, pipe, view, snap):
        self.ctx, self.out, self.pipe, self.view = ctx, out, pipe, view
        self.expect = LwwState(snap)
        self.view_expect = self.expect.groups()

    def after_batch(self, i: int, ev, merged: bool, timed: bool) -> None:
        ctx = self.ctx
        self.expect.apply(ev)
        if merged:
            self.view_expect = self.expect.groups()
        rid = f"read{i}"
        with ctx.tracer.op("cdc.read" if timed else "warm", rid) as s:
            got = tuple(self.pipe.read_table(DST).selectExpr(*CHECK_EXPRS).collect()[0])
            got_view = (sorted(tuple(r) for r in self.view.read().collect())
                        if self.view is not None else None)
        ok = got == self.expect.check_row()
        ok_view = self.view is None or got_view == self.view_expect
        what = (f"{rid}: table {'ok' if ok else 'MISMATCH'}, "
                f"view {'ok' if ok_view else 'MISMATCH'}")
        if timed:
            self.out.ops.append(Op("read", rid, s.end - s.start, ok and ok_view,
                                   ctx.traced))
            if not (ok and ok_view):
                self.out.failures.append(what)
        else:
            self.out.check(ok and ok_view, what)
        ctx.tracer.harvest()

    def final_check(self, dst_path: str, name: str) -> None:
        """The destination read straight from its files, row by row."""
        bad = self.expect.diff_rows(read_destination(dst_path))
        self.out.check(bad == 0, f"{name} final destination: {bad} rows differ")
        self.expect.close()


def _wait_batch(runner, timeout: float = 170.0) -> None:
    deadline = time.perf_counter() + timeout
    while True:
        try:
            runner.finished.get(timeout=0.5)
            return
        except queue.Empty:
            exc = runner.query.exception() if runner.query else None
            if exc is not None:
                raise RuntimeError(f"stream failed: {exc}")
            if time.perf_counter() > deadline:
                raise TimeoutError("micro-batch did not finish")


# -- hot_lazy_read -------------------------------------------------------------------

def _hot_table_config(path: str):
    from pyspark.sql import types as T

    from peerdb_spark import cdc

    val = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("k", T.IntegerType()),
        T.StructField("v", T.LongType()), T.StructField("s", T.StringType()),
    ])
    return cdc.CdcTableConfig(
        DST, ["id"], val, path, n_buckets=HOT["buckets"],
        compact_files_per_bucket=HOT["compact_files_per_bucket"])


def hot_lazy_read(ctx: Ctx, out: Outcome) -> None:
    from peerdb_spark.cdc import CHANGELOG_SCHEMA, CdcPipeline
    from peerdb_spark.mview import ViewTable

    sp = ctx.spark
    snap = gen.snapshot(ctx.seed, HOT["rows"])

    def setup(i: int):
        d = _fresh(os.path.join(ctx.work, f"hot{i}"))
        t0 = time.perf_counter()
        pipe = CdcPipeline(sp, os.path.join(d, "raw"), [],
                           normalize_every=HOT["normalize_every"])
        pipe.add_table(_hot_table_config(os.path.join(d, "dst")),
                       backfill=_snapshot_df(ctx, snap, os.path.join(d, "snap.parquet")))
        view = ViewTable(sp, os.path.join(d, "view"), ["k"], "v")
        pipe.attach_view(DST, view, backfill=True)
        out.setup_s.append(time.perf_counter() - t0)
        return d, pipe, view

    d, pipe, view = [setup(i) for i in range(SETUPS)][-1]
    stream = gen.ChangeStream(ctx.seed, HOT["rows"], p_new=HOT["p_new"],
                              p_del=HOT["p_del"], hot_frac=HOT["hot_frac"],
                              n_hot=HOT["hot_keys"])
    reader = Reader(ctx, out, pipe, view, snap)
    meter = WriteMeter(os.path.join(d, "raw"), os.path.join(d, "dst"))
    stage = _fresh(os.path.join(d, "stage"))
    pending: list[int] = []  # events per batch since the last merge
    pending_ids: set = set()

    def one(i: int, timed: bool) -> None:
        """One batch and its reader pass."""
        ev = stream.next_batch(HOT["batch"])
        path = os.path.join(stage, f"c{i:06d}.parquet")
        pq.write_table(gen.changelog_batch(ev, HOT["xact"], DST), path)
        chg = sp.read.schema(CHANGELOG_SCHEMA).parquet(path)
        op_id = f"batch{i}"
        with ctx.tracer.op("batch" if timed else "warm", op_id) as s:
            merged = pipe.process_batch(chg, i)
        pending.append(len(ev))
        pending_ids.update(ev.column("id").to_pylist())
        if timed:
            out.ops.append(Op("batch", op_id, s.end - s.start, True,
                              ctx.traced, events=len(ev),
                              bytes_written=meter.delta()))
            if merged:
                out.lww.append((sum(pending), len(pending_ids), ctx.traced))
        else:
            meter.delta()
        if merged:
            pending.clear()
            pending_ids.clear()
        ctx.tracer.harvest()
        reader.after_batch(i, ev, merged, timed)

    ne = HOT["normalize_every"]
    for i in range(ne):  # warm-up covers one merge
        one(i, timed=False)

    def cycle(c: int, timed: bool) -> None:
        """One cadence cycle: `normalize_every` batches, the last merges."""
        for i in range(c * ne, (c + 1) * ne):
            one(i, timed)

    last = ctx.measure(cycle, 1, HOT["round_s"]) * ne - 1
    pipe.maybe_normalize(last, force=True)
    reader.final_check(os.path.join(d, "dst"), "hot_lazy_read")


# -- query_mix -------------------------------------------------------------------------

def query_mix(ctx: Ctx, out: Outcome) -> None:
    import duckdb

    from peerdb_spark.queries import ORACLES, QUERIES
    from peerdb_spark.session import load_tables

    def setup(i: int) -> str:
        d = _fresh(os.path.join(ctx.work, f"q{i}"))
        t0 = time.perf_counter()
        for name, tbl in gen.query_tables(ctx.seed, QUERY_ORDERS).items():
            pq.write_table(tbl, os.path.join(d, f"{name}.parquet"))
        load_tables(ctx.spark, d)
        out.setup_s.append(time.perf_counter() - t0)
        return d

    data = [setup(i) for i in range(SETUPS)][-1]
    sp = ctx.spark
    # the warm-up pass doubles as the oracle check: every query's result is
    # collected once and hash-matched against its DuckDB SQL
    con = duckdb.connect()
    for name in ("lineitem", "orders", "customer", "nation", "events",
                 "documents", "embeddings"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, name + '.parquet')}')")
    bad_queries = set()
    for q in QUERY_NAMES:
        df = QUERIES[q](sp, data)
        rows = [tuple(r) for r in df.collect()]
        ok = result_hash(df.columns, rows) == oracle_hash(con, ORACLES[q])
        out.check(ok, f"query_mix {q}: result differs from its oracle")
        if not ok:
            bad_queries.add(q)
    con.close()

    def one_pass(p: int, timed: bool) -> None:
        """Every declared query once, in an order drawn from the seed."""
        rng = np.random.default_rng([ctx.seed, 20, p])
        for j in rng.permutation(len(QUERY_NAMES)):
            q = QUERY_NAMES[j]
            op_id = f"p{p}_{q}"
            with ctx.tracer.op("query", op_id) as s:
                with ctx.tracer.span("queries.build"):
                    df = QUERIES[q](sp, data)
                with ctx.tracer.span("queries.exec"):
                    df.write.format("noop").mode("overwrite").save()
            out.ops.append(Op("query", op_id, s.end - s.start, q not in bad_queries,
                              ctx.traced))
            ctx.tracer.harvest()

    ctx.measure(one_pass, 0, QUERY_PASS_S)


WORKLOADS = {
    "pg_wal_eager": pg_wal_eager,
    "hot_lazy_read": hot_lazy_read,
    "query_mix": query_mix,
}
