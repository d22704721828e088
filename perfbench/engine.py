"""Sessions, result checks and layer probes shared by the workloads.

Everything here reaches the engine through its public functions; the
package itself carries no instrumentation.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import time

import pandas as pd
import pyarrow as pa

# The (table, key) groups the mix's mirror adopters ask
# ``bucketed.clustered_views`` for: q4/q10/q12/q21 both order-key mirrors,
# q13 both customer-key mirrors, q16/q17 the part-key lineitem mirror.
MIRROR_GROUPS = [
    [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    [("customer", "c_custkey"), ("orders", "o_custkey")],
    [("lineitem", "l_partkey")],
]


class Sessions:
    """One local[nproc] SparkSession at a time, each on a fresh private
    warehouse, all inside the run's work directory."""

    def __init__(self, work: str, nproc: int) -> None:
        self.work = work
        self.nproc = nproc
        self.spark = None
        self.count = 0
        self.jvm_pid: int | None = None

    def stop(self) -> None:
        """Stop the current session, if any; the JVM stays up."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def start(self):
        from pyspark.sql import SparkSession

        self.stop()
        self.count += 1
        wh = os.path.join(self.work, f"warehouse-{self.count}")
        self.spark = (
            SparkSession.builder.master(f"local[{self.nproc}]")
            .appName(f"perfbench-{self.count}")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.warehouse.dir", wh)
            .config("spark.local.dir", os.path.join(self.work, "local"))
            # Spark's default 1g driver heap, committed and touched at
            # start: peak RSS then moves with native and Python memory,
            # not with when the collector chose to grow the heap.
            .config("spark.driver.extraJavaOptions", "-Xms1g -XX:+AlwaysPreTouch")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm_pid is None:
            self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return self.spark

    def close(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def peak_rss_mb(jvm_pid: int | None) -> tuple[float, float]:
    """Peak resident memory of this driver process and of the JVM, in MB."""
    import resource

    jvm_kb = 0
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, jvm_kb / 1024.0


def to_pandas(table: pa.Table) -> pd.DataFrame:
    """``table`` as ``DataFrame.toPandas`` would give it: timestamps as
    naive values in the session time zone (UTC)."""
    df = table.to_pandas()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


def result_hash(table: pa.Table) -> str:
    """Order-insensitive content hash of a query result."""
    from cuny_courses_spark.oracle import canon

    df = canon(to_pandas(table))
    h = hashlib.sha1(",".join(map(str, df.columns)).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return h.hexdigest()


def in_memory_leaves(df) -> list[str]:
    """Leaf relations of ``df``'s analyzed plan that hold rows in memory
    (LocalRelation, LogicalRDD) instead of reading files."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    names = [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]
    return [n for n in names if n in ("LocalRelation", "LogicalRDD")]


def memoized(first_build_jobs: int, warm_build_jobs: int, leaves: list[str]) -> bool:
    """True when a query's later calls would return results computed by an
    earlier call: its first build ran Spark jobs, its warm build ran none
    (so nothing was recomputed) and the plan it returned reads an
    in-memory relation instead of files."""
    return first_build_jobs > 0 and warm_build_jobs == 0 and bool(leaves)


def plan_cache_entries(spark) -> tuple[set[int], set[str]]:
    """(ids of cached plans, query names with a cached plan) of the
    engine's plan cache for ``spark``, read from outside the module."""
    from cuny_courses_spark.plans import plan_cache

    per_session = plan_cache._CACHE.get(spark) or {}
    return {id(v) for v in per_session.values()}, {k[0] for k in per_session}


def reads_mirror(df) -> bool:
    """True when ``df``'s analyzed plan reads a bucketed mirror table."""
    return "ccs_bkt_" in df._jdf.queryExecution().analyzed().toString()


def ingest_mirrors(spark, sf_dirs: list[str]) -> dict:
    """Ask the engine, over each input directory, for each mirror group the
    mix's adopters use, as they ask for it; return the time spent, the
    (table, key) pairs served from a mirror and the bytes the mirrors
    occupy in the warehouse."""
    from urllib.parse import urlparse

    from cuny_courses_spark.sources import bucketed

    t = time.perf_counter()
    got = [bucketed.clustered_views(spark, sf, g) or {} for sf in sf_dirs for g in MIRROR_GROUPS]
    build_s = time.perf_counter() - t
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    names = {n for m in got for n in m.values()}
    return {
        "build_s": build_s,
        "adopted": sum(len(m) for m in got),
        "bytes": sum(dir_bytes(os.path.join(wh, n)) for n in names),
        "mirrors": sorted(names),
    }


def file_sizes(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def dir_bytes(path: str) -> int:
    return sum(file_sizes(path).values())
