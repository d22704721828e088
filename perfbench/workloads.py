"""The benchmark's workloads: closed loops with one client.

``point`` drives registry queries over the sf0.01 fixture, plus the
mirror adopters over a 17x layout of it; ``lake`` drives the lakehouse
write and read API. Each returns a ``Result``; ``run.py`` turns
it into the printed metrics.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from statistics import median

import numpy as np
import pyarrow as pa

import datagen
import engine
from sparkstatus import StatusReader, union_s
from spans import Tracer

# The five relational headline queries, twelve registered TPC-H shapes and
# two Python-worker queries, so that the Python layer (mapInArrow,
# mapInPandas) is measured on a workload that runs.
POINT_MIX = [
    "q_agg_groupby",
    "q_limit_topk",
    "q_join_star_multiway",
    "q_win_latest_per_key",
    "q_stream_tumbling",
    "q_sql_q3_shipping_priority",
    "q_sql_q4_priority_exists",
    "q_sql_q5_local_volume",
    "q_sql_q8_mkt_share",
    "q_sql_q9_product_profit",
    "q_sql_q10_returned_topk",
    "q_sql_q12_priority_by_class",
    "q_sql_q13_cust_distribution",
    "q_sql_q16_supplier_cnt",
    "q_sql_q17_small_qty_revenue",
    "q_sql_q18_volume_customer",
    "q_sql_q21_waiting_supplier",
    "q_text_idf_top_terms",
    "q_mm_feature_extract",
]

# The mirror adopters run a second time over MIRROR_FACTOR key-shifted
# replicas of sf0.01: lineitem then has 1.02 M rows, above
# bucketed._MIN_MIRROR_ROWS, so ingest builds the part-key lineitem mirror
# and both queries read it. Every other input stays below the threshold.
MIRROR_MIX = ["q_sql_q16_supplier_cnt", "q_sql_q17_small_qty_revenue"]
MIRROR_FACTOR = 17

SETUPS = 3

_PY_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}

# Lakehouse table: base rows (sf0.1 ``orders``, keys 0..149 999) and, per
# cycle, the changeset sizes as shares of it; compaction every K cycles.
LAKE_ROWS = 150_000
LAKE_APPEND = 0.01
LAKE_UPSERT = 0.01
LAKE_DELETE = 0.005
LAKE_COMPACT_EVERY = 2
# Range layout: 16 key ranges, new keys land in the last; a key_range read
# covers two whole ranges below the last, so it prunes to their files.
LAKE_RANGE_KEYS = LAKE_ROWS // 16
LAKE_BUCKET_EXPR = f"LEAST(15, CAST(k DIV {LAKE_RANGE_KEYS} AS INT))"
LAKE_WRITES = ("append", "merge", "delete", "compact")
LAKE_READS = ("read", "range_read")


@dataclass
class Ctx:
    sessions: engine.Sessions
    inputs: str
    seed: int
    seconds: float
    trace: bool


@dataclass
class Result:
    setup_s: list[float] = field(default_factory=list)
    ops: list[tuple[str, float]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    tracer: Tracer | None = None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


def closed_loop(cycle, seconds: float) -> float:
    """Run whole cycles while the next one, judged by the last, still ends
    within ``seconds`` — at least one. Return the wall."""
    t0 = time.perf_counter()
    while True:
        c0 = time.perf_counter()
        cycle()
        now = time.perf_counter()
        if now - t0 + (now - c0) > seconds:
            return now - t0


def ops_per_s(ops: list[tuple[str, float]]) -> float:
    return len(ops) / sum(s for _, s in ops)


def _overhead(traced_ops_per_s: float, cycle, seconds: float) -> float:
    """Tracing overhead: 1 - traced / untraced throughput, the untraced
    side measured right after the traced window, so that both run in the
    same warmed-up session (the first window after a setup is slower)."""
    ops: list = []
    closed_loop(lambda: cycle(ops), seconds)
    return 1.0 - traced_ops_per_s / ops_per_s(ops)


# ---------------------------------------------------------------- point


def run_point(ctx: Ctx) -> Result:
    from cuny_courses_spark import registry

    res = Result()
    sig = datagen.tree_sig(datagen.SF001)
    big = datagen.scaled_layout(f"{ctx.inputs}/sf0.01-x{MIRROR_FACTOR}-{sig}", MIRROR_FACTOR)
    res.info["input_dirs"] = [datagen.SF001, big]
    # Op label -> (query, input directory).
    ops = {name: (name, datagen.SF001) for name in POINT_MIX}
    ops.update({f"{name}@x{MIRROR_FACTOR}": (name, big) for name in MIRROR_MIX})
    qs = registry.queries()
    twins = registry.oracles()

    # Setups: a new session (the first also launches the JVM), ingest (the
    # mirrors the adopters ask for) and warm-up (one registry build of
    # every op fills the plan cache). The loop then runs on the last
    # setup's session, after one checked pass there: each op collected
    # once and compared with its DuckDB twin on its input (which also
    # warms the JIT and the session), then built again to see whether the
    # warm build recomputes anything.
    mirrors, guard, verified = [], {}, {}
    phases = []
    for i in range(SETUPS):
        last = i == SETUPS - 1
        ctx.sessions.stop()  # the previous setup's session; not set-up work
        t = time.perf_counter()
        spark = ctx.sessions.start()
        t_session = time.perf_counter()
        if i == 0:
            res.info["jvm_start_s"] = t_session - t
        rd = StatusReader(spark)
        mirrors.append(engine.ingest_mirrors(spark, [datagen.SF001, big]))
        t_ingest = time.perf_counter()
        built = {}
        for label, (name, sf) in ops.items():
            g = rd.group("build") if last else None
            try:
                built[label] = qs[name](spark, sf)
            except Exception as e:  # the engine failed this query
                res.check(False, f"{label}: {type(e).__name__}: {e}")
            if g is not None:
                guard[label] = {"first_build_jobs": len(rd.job_ids(g))}
        rd.clear()
        t_end = time.perf_counter()
        res.setup_s.append(t_end - t)
        phases.append([t_session - t, t_ingest - t_session, t_end - t_ingest])
    res.info["setup_phases_s"] = phases
    t = time.perf_counter()
    _verify_point(spark, qs, twins, ops, built, rd, guard, verified, res)
    mix = [n for n in ops if n in verified and not guard[n]["memoized"]]
    res.info["empty_job_s"] = rd.empty_job_s()
    res.info["verify_s"] = time.perf_counter() - t
    res.info["guard"] = guard
    res.info["mix"] = mix
    res.info["rejected"] = [n for n in ops if guard.get(n, {}).get("memoized")]
    res.info["mirror_ops"] = [n for n in mix if guard[n]["reads_mirror"]]

    rng = np.random.default_rng([ctx.seed, 0])

    def one(label: str) -> float:
        name, sf = ops[label]
        t0 = time.perf_counter()
        try:
            table = qs[name](spark, sf).toArrow()
        except Exception as e:
            res.check(False, f"{label}: {type(e).__name__}: {e}")
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        res.check(engine.result_hash(table) == verified[label], f"{label}: result hash differs")
        return dt

    def cycle(sink: list) -> None:
        for i in rng.permutation(len(mix)):
            sink.append((mix[i], one(mix[i])))

    res.info["window_s"] = closed_loop(lambda: cycle(res.ops), ctx.seconds)
    if ctx.trace:
        res.layers, res.tracer = _trace_point(ctx, spark, qs, ops, mix, verified, rng, res)
        res.layers["trace.overhead"] = _overhead(res.layers.pop("_ops_per_s"), cycle, ctx.seconds)
        res.layers["bucketed.build_s"] = median(m["build_s"] for m in mirrors)
        res.layers["bucketed.bytes"] = mirrors[-1]["bytes"]
        res.layers["bucketed.adopted"] = mirrors[-1]["adopted"]
    res.info["bucketed"] = mirrors[-1]
    return res


def _verify_point(spark, qs, twins, ops, built, rd, guard, verified, res) -> None:
    from cuny_courses_spark.oracle import compare, duck_con

    cons = {sf: duck_con(sf) for _, sf in ops.values()}
    for label, df in built.items():
        name, sf = ops[label]
        try:
            table = df.toArrow()
            g = rd.group("rebuild")
            warm = qs[name](spark, sf)
            warm_jobs = len(rd.job_ids(g))
            leaves = engine.in_memory_leaves(warm)
            mirror = engine.reads_mirror(warm)
            rd.clear()
        except Exception as e:  # the engine failed this query
            res.check(False, f"{label}: {type(e).__name__}: {e}")
            continue
        first = guard[label]["first_build_jobs"]
        guard[label].update(warm_build_jobs=warm_jobs, in_memory=leaves,
                            memoized=engine.memoized(first, warm_jobs, leaves),
                            reads_mirror=mirror)
        if name in twins:
            status, msg = compare(engine.to_pandas(table), cons[sf].execute(twins[name]).df())
            res.check(status == "PASS", f"{label}: oracle {status} {msg}")
        else:
            res.check(table.num_rows > 0, f"{label}: empty result")
        verified[label] = engine.result_hash(table)
    for con in cons.values():
        con.close()


def _trace_point(ctx, spark, qs, ops, mix, verified, rng, res):
    from cuny_courses_spark.session import configure, tune_for_input

    rd = StatusReader(spark)
    tr = Tracer()
    acc = _Acc()
    walls = []

    # The session layer, timed directly and apart from the traced window:
    # the registry's call wrapper runs the same two calls inside each build.
    conf_s = []
    for label in mix:
        t = time.perf_counter()
        configure(spark)
        tune_for_input(spark, ops[label][1])
        conf_s.append(time.perf_counter() - t)

    def one(label: str) -> None:
        name, sf = ops[label]
        ids_before, _ = engine.plan_cache_entries(spark)
        gb = rd.group("build")
        w0, p0 = time.time(), time.perf_counter()
        try:
            df = qs[name](spark, sf)
            w1, p1 = time.time(), time.perf_counter()
            gc = rd.group("collect")
            table = df.toArrow()
        except Exception as e:
            rd.clear()
            res.check(False, f"{label}: {type(e).__name__}: {e}")
            return
        w2, p2 = time.time(), time.perf_counter()
        rd.clear()
        walls.append(p2 - p0)
        res.check(engine.result_hash(table) == verified[label], f"{label}: result hash differs")
        ids_after, cached = engine.plan_cache_entries(spark)
        if name in cached:
            acc.count("plan_cache", hit=not (ids_after - ids_before))
        bjobs, cjobs = rd.jobs(gb), rd.jobs(gc)
        jobs = bjobs + cjobs
        op = tr.add("op", w0, w2, query=label)
        sb = tr.add("build", w0, w1, op)
        sc = tr.add("collect", w1, w2, op)
        for j in bjobs:
            tr.add("spark.job", j.start_s, j.end_s, sb, job=j.job_id)
        for j in cjobs:
            tr.add("spark.job", j.start_s, j.end_s, sc, job=j.job_id)
        acc.add("registry.build_s", p1 - p0)
        acc.add("registry.build_jobs", len(bjobs))
        acc.add("collect.arrow_s", (p2 - p1) - union_s([(j.start_s, j.end_s) for j in cjobs], w1, w2))
        acc.add("collect.result_bytes", table.nbytes)
        acc.add("self.jobs_s", union_s([(j.start_s, j.end_s) for j in jobs], w0, w2))
        _add_jobs(acc, jobs)
        py = rd.python_metrics({j.job_id for j in jobs})
        for raw, key in _PY_METRICS.items():
            acc.add(key, py.get(raw, 0.0))

    def cycle() -> None:
        for i in rng.permutation(len(mix)):
            one(mix[i])

    closed_loop(cycle, ctx.seconds)
    layers = acc.means(len(walls))
    layers["compute.core_util"] = acc.sums["compute.run_s"] / (sum(walls) * ctx.sessions.nproc)
    layers["plan_cache.hit_ratio"] = acc.ratio("plan_cache")
    layers["session.configure_s"] = median(conf_s)
    layers["dispatch.empty_job_s"] = res.info["empty_job_s"]
    # The collect span's self time is collect.arrow_s.
    layers["self.build_s"] = tr.self_times().get("build", 0.0) / len(walls)
    layers["_ops_per_s"] = len(walls) / sum(walls)
    return layers, tr


def _add_jobs(acc: "_Acc", jobs) -> None:
    acc.add("dispatch.jobs", len(jobs))
    for attr, key in (
        ("stages", "dispatch.stages"), ("tasks", "dispatch.tasks"),
        ("input_bytes", "scan.input_bytes"), ("input_rows", "scan.input_rows"),
        ("shuffle_write_bytes", "exchange.shuffle_write_bytes"),
        ("shuffle_read_bytes", "exchange.shuffle_read_bytes"),
        ("fetch_wait_s", "exchange.fetch_wait_s"),
        ("run_s", "compute.run_s"), ("cpu_s", "compute.cpu_s"), ("gc_s", "compute.gc_s"),
    ):
        acc.add(key, sum(getattr(j, attr) for j in jobs))


class _Acc:
    """Sums and hit counts for per-op means."""

    def __init__(self) -> None:
        self.sums: dict[str, float] = {}
        self.n: dict[str, int] = {}
        self.hits: dict[str, list[int]] = {}

    def add(self, key: str, v: float) -> None:
        self.sums[key] = self.sums.get(key, 0.0) + v
        self.n[key] = self.n.get(key, 0) + 1

    def count(self, key: str, hit: bool) -> None:
        h = self.hits.setdefault(key, [0, 0])
        h[0 if hit else 1] += 1

    def ratio(self, key: str) -> float:
        h, m = self.hits.get(key, [0, 0])
        return h / (h + m) if h + m else 0.0

    def means(self, n_ops: int) -> dict[str, float]:
        return {k: v / n_ops for k, v in self.sums.items()}

    def mean_of(self, key: str) -> float:
        return self.sums[key] / self.n[key] if self.n.get(key) else 0.0


# ----------------------------------------------------------------- lake


class LakeModel:
    """The live rows the table must hold, replayed from the changesets."""

    def __init__(self, base: pa.Table) -> None:
        k = base.column("k").to_pylist()
        self.rows = dict(zip(k, zip(base.column("cents").to_pylist(),
                                    base.column("status").to_pylist())))
        self.next_key = max(k) + 1

    def live_keys(self) -> np.ndarray:
        return np.fromiter(self.rows.keys(), np.int64, len(self.rows))

    def apply(self, upserts: pa.Table | None = None, deletes: pa.Table | None = None) -> None:
        if upserts is not None:
            for k, c, s in zip(upserts.column("k").to_pylist(),
                               upserts.column("cents").to_pylist(),
                               upserts.column("status").to_pylist()):
                self.rows[k] = (c, s)
        if deletes is not None:
            for k in deletes.column("k").to_pylist():
                self.rows.pop(k, None)

    def aggregate(self, lo: int | None = None, hi: int | None = None) -> tuple[int, int, int, int]:
        """(rows, sum of cents, rows with status 'O', their sum of cents)."""
        n = s = n_o = s_o = 0
        for k, (c, st) in self.rows.items():
            if lo is None or lo <= k <= hi:
                n += 1
                s += c
                if st == "O":
                    n_o += 1
                    s_o += c
        return n, s, n_o, s_o

    def arrow_bytes(self) -> int:
        cents, status = zip(*self.rows.values())
        return pa.table({"k": pa.array(list(self.rows), pa.int64()),
                         "cents": pa.array(cents, pa.int64()),
                         "status": pa.array(status)}).nbytes


class Lake:
    """One lakehouse table driven through the engine's public API, with
    the seeded changesets and the model that checks every read."""

    def __init__(self, spark, table_dir: str, base: pa.Table, rng) -> None:
        from cuny_courses_spark.operators import lakehouse as L

        self.L = L
        self.spark = spark
        self.dir = table_dir
        self.rng = rng
        self.model = LakeModel(base)
        L.snapshot_write(spark.createDataFrame(base), table_dir, key="k", version=1,
                         bucket_expr=LAKE_BUCKET_EXPR)
        self.version = 1
        self.pending_dvs = 0
        self.user_bytes = 0
        self.last_range = (None, None)

    def _rows(self, keys: np.ndarray) -> pa.Table:
        n = len(keys)
        return pa.table({
            "k": pa.array(keys, pa.int64()),
            "cents": pa.array(self.rng.integers(100_000, 50_000_000, n), pa.int64()),
            "status": self.rng.choice(["F", "O", "P"], n),
        })

    def _new_keys(self, n: int) -> np.ndarray:
        k = np.arange(self.model.next_key, self.model.next_key + n, dtype=np.int64)
        self.model.next_key += n
        return k

    def ops(self, cycle: int) -> list[tuple[str, object]]:
        """The cycle's operations, in order, each a (kind, callable) whose
        call runs the engine and returns a check for the model."""
        L, spark, d = self.L, self.spark, self.dir
        base = LAKE_ROWS
        out = []

        app = self._rows(self._new_keys(int(base * LAKE_APPEND)))

        def append():
            self.version, _ = L.append_snapshot(d, self.version, spark.createDataFrame(app), key="k")
            return lambda: self._wrote(app, None)
        out.append(("append", append))

        live = self.model.live_keys()
        n_up = int(base * LAKE_UPSERT)
        upd_keys = np.concatenate([
            self.rng.choice(live, n_up * 4 // 5, replace=False), self._new_keys(n_up - n_up * 4 // 5)])
        upd = self._rows(upd_keys)

        def merge():
            L.merge_upsert(spark, d, self.version, spark.createDataFrame(upd), key="k")
            self.version += 1
            return lambda: self._wrote(upd, None)
        out.append(("merge", merge))

        upd_set = set(upd_keys.tolist())
        cand = np.array([k for k in live if k not in upd_set], np.int64)
        dels = pa.table({"k": pa.array(self.rng.choice(cand, int(base * LAKE_DELETE), replace=False))})

        def delete():
            self.version, n_dv = L.delete_merge_on_read(spark, d, self.version, spark.createDataFrame(dels), key="k")
            self.pending_dvs += n_dv
            return lambda: self._wrote(None, dels)
        out.append(("delete", delete))

        out.append(("read", lambda: self._read(None, None)))
        lo = int(self.rng.integers(0, 14)) * LAKE_RANGE_KEYS
        hi = lo + 2 * LAKE_RANGE_KEYS - 1
        out.append(("range_read", lambda: self._read(lo, hi)))

        if cycle % LAKE_COMPACT_EVERY == LAKE_COMPACT_EVERY - 1:
            def compact():
                L.optimize_compact(spark, d, self.version, key="k")
                self.version += 1
                self.pending_dvs = 0
                return None
            out.append(("compact", compact))

            def expire():
                L.expire_snapshots(d, keep=[self.version])
                return None
            out.append(("expire", expire))
        return out

    def _wrote(self, upserts, deletes) -> tuple[bool, str]:
        self.model.apply(upserts, deletes)
        self.user_bytes += (upserts.nbytes if upserts is not None else 0) + (
            deletes.nbytes if deletes is not None else 0)
        return True, ""

    def read_df(self, lo, hi):
        from pyspark.sql import functions as F

        if lo is None:
            return self.L.snapshot_read(self.spark, self.dir)
        return self.L.snapshot_read(self.spark, self.dir, key_range=(lo, hi)).filter(
            F.col("k").between(lo, hi))

    def _read(self, lo, hi):
        from pyspark.sql import functions as F

        self.last_range = (lo, hi)
        is_o = F.col("status") == "O"
        row = self.read_df(lo, hi).agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"),
            F.count(F.when(is_o, 1)).alias("n_o"),
            F.sum(F.when(is_o, F.col("cents"))).alias("s_o")).collect()[0]
        got = (row["n"], row["s"] or 0, row["n_o"], row["s_o"] or 0)

        def check():
            want = self.model.aggregate(lo, hi)
            return got == want, f"read [{lo}, {hi}]: got {got}, model {want}"
        return check

    def run_op(self, fn) -> tuple[float, bool, str]:
        """Time one engine call; then check it against the model."""
        t0 = time.perf_counter()
        try:
            check = fn()
        except Exception as e:
            return time.perf_counter() - t0, False, f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        ok, msg = check() if check is not None else (True, "")
        return dt, ok, msg

    def space_amp(self) -> float:
        return engine.dir_bytes(self.dir) / self.model.arrow_bytes()


def run_lake(ctx: Ctx) -> Result:
    res = Result()
    base = datagen.lake_base()
    assert base.num_rows == LAKE_ROWS
    res.info["input_dirs"] = [os.path.dirname(datagen.SF01_ORDERS)]
    work = ctx.sessions.work

    # Setups: a new session (the first also launches the JVM), ingest (the
    # base snapshot_write of a fresh table) and warm-up (one HEAD read,
    # checked). The loop then runs on the last setup's table, after one
    # cycle there that ends in a compaction, so it checks every operation
    # kind (and warms the JIT and the session).
    for i in range(SETUPS):
        ctx.sessions.stop()  # the previous setup's session; not set-up work
        t = time.perf_counter()
        spark = ctx.sessions.start()
        if i == 0:
            res.info["jvm_start_s"] = time.perf_counter() - t
        lake = Lake(spark, f"{work}/lake-{i}", base, np.random.default_rng([ctx.seed, 2]))
        _dt, ok, msg = lake.run_op(lambda: lake._read(None, None))
        res.setup_s.append(time.perf_counter() - t)
        res.check(ok, f"setup read: {msg}")
    t = time.perf_counter()
    for kind, fn in lake.ops(LAKE_COMPACT_EVERY - 1):
        _dt, ok, msg = lake.run_op(fn)
        res.check(ok, f"verify {kind}: {msg}")
    res.info["empty_job_s"] = StatusReader(spark).empty_job_s()
    res.info["verify_s"] = time.perf_counter() - t

    amps = []

    def cycle(sink: list) -> None:  # one compaction period
        for c in range(LAKE_COMPACT_EVERY):
            for kind, fn in lake.ops(c):
                dt, ok, msg = lake.run_op(fn)
                sink.append((kind, dt))
                res.check(ok, f"{kind}: {msg}")
            if sink is res.ops:
                amps.append(lake.space_amp())

    res.info["window_s"] = closed_loop(lambda: cycle(res.ops), ctx.seconds)
    res.extra["read_p50_s"] = median(s for k, s in res.ops if k in LAKE_READS)
    res.extra["write_p50_s"] = median(s for k, s in res.ops if k in LAKE_WRITES)
    res.extra["space_amp"] = median(amps)
    if ctx.trace:
        res.layers, res.tracer = _trace_lake(ctx, lake, res)
        res.layers["trace.overhead"] = _overhead(res.layers.pop("_ops_per_s"), cycle, ctx.seconds)
        res.layers.update({k: res.extra[k] for k in ("read_p50_s", "write_p50_s", "space_amp")})
    return res


def _trace_lake(ctx, lake: Lake, res: Result):
    L, d = lake.L, lake.dir
    rd = StatusReader(lake.spark)
    tr = Tracer()
    acc = _Acc()
    walls = []
    written = [0]

    def cycle() -> None:
        for kind, fn in (op for c in range(LAKE_COMPACT_EVERY) for op in lake.ops(c)):
            before = engine.file_sizes(d) if kind in LAKE_WRITES else None
            g = rd.group(kind)
            w0 = time.time()
            dt, ok, msg = lake.run_op(fn)
            w1 = time.time()
            rd.clear()
            res.check(ok, f"{kind}: {msg}")
            walls.append(dt)
            jobs = rd.jobs(g)
            op = tr.add(f"lake.{kind}", w0, w1)
            for j in jobs:
                tr.add("spark.job", j.start_s, j.end_s, op, job=j.job_id)
            acc.add(f"lakehouse.{kind}_s", dt)
            acc.add("self.jobs_s", union_s([(j.start_s, j.end_s) for j in jobs], w0, w1))
            _add_jobs(acc, jobs)
            if before is not None:
                after = engine.file_sizes(d)
                written[0] += sum(s for p, s in after.items() if before.get(p) != s)
            t = time.perf_counter()
            head = L.latest_version(d)
            files = L.read_manifest(d, head)
            acc.add("lakehouse.manifest_s", time.perf_counter() - t)
            acc.add("lakehouse.live_files", len(files))
            acc.add("lakehouse.dv_files", lake.pending_dvs)
            if kind in LAKE_READS:
                acc.add("lakehouse.files_read", len(lake.read_df(*lake.last_range).inputFiles()))

    user0 = lake.user_bytes
    closed_loop(cycle, ctx.seconds)
    n = len(walls)
    layers = {k: v / n for k, v in acc.sums.items() if not k.startswith("lakehouse.")}
    for kind in ("append", "merge", "delete", "read", "range_read", "compact", "expire"):
        layers[f"lakehouse.{kind}_s"] = acc.mean_of(f"lakehouse.{kind}_s")
    for key in ("manifest_s", "live_files", "dv_files", "files_read"):
        layers[f"lakehouse.{key}"] = acc.mean_of(f"lakehouse.{key}")
    layers["lakehouse.write_amp"] = written[0] / max(1, lake.user_bytes - user0)
    layers["compute.core_util"] = acc.sums["compute.run_s"] / (sum(walls) * ctx.sessions.nproc)
    layers["dispatch.empty_job_s"] = res.info["empty_job_s"]
    selfs = tr.self_times()
    layers["self.lake_driver_s"] = sum(v for k, v in selfs.items() if k.startswith("lake.")) / n
    layers["_ops_per_s"] = n / sum(walls)
    return layers, tr
