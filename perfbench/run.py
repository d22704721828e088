"""Engine benchmark: per-call latency on closed-loop workloads.

    python3 perfbench/run.py --workload point_sf0.01 --seed 1 --seconds 14 --trace 0

Run from the repository root. One client calls the engine's public API
in a closed loop on a local[nproc] session and checks every result. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics (read from Spark's status stores
around each call) with ``--trace 1``. The lines before it print every
metric by name with its unit, and the run's provenance.

All state lives under ``.perfbench/`` in the repository root: derived
inputs (written once, reused across runs) and one private work
directory per run (warehouse, TMPDIR, Spark local dirs), removed at exit.
Runs never overlap: each holds an exclusive lock for its whole duration.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ["point_sf0.01", "lake_rw"]

E2E = [
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("latency_p50_s", "s"),
    ("peak_rss_mb", "MB"),
]

# Per-layer metrics are per-op means over the traced window unless the
# name says otherwise; a layer a workload does not run reads 0. The last
# five are end-to-end metrics of the untraced window that are printed but
# not gated: latency_tail_s because a one-cycle window has fewer than 20
# ops, so it is the maximum, which moves too much from run to run; the
# rest because they are 0 or meaningless on some workload.
PER_LAYER = [
    ("registry.build_s", "s"), ("registry.build_jobs", "count"),
    ("session.configure_s", "s"), ("plan_cache.hit_ratio", "ratio"),
    ("dispatch.jobs", "count"), ("dispatch.stages", "count"),
    ("dispatch.tasks", "count"), ("dispatch.empty_job_s", "s"),
    ("scan.input_bytes", "B"), ("scan.input_rows", "count"),
    ("exchange.shuffle_write_bytes", "B"), ("exchange.shuffle_read_bytes", "B"),
    ("exchange.fetch_wait_s", "s"),
    ("compute.run_s", "s"), ("compute.cpu_s", "s"), ("compute.gc_s", "s"),
    ("compute.core_util", "ratio"),
    ("collect.arrow_s", "s"), ("collect.result_bytes", "B"),
    ("bucketed.build_s", "s"), ("bucketed.bytes", "B"), ("bucketed.adopted", "count"),
    ("python.start_s", "s"), ("python.init_s", "s"), ("python.run_s", "s"),
    ("python.bytes_sent", "B"), ("python.bytes_returned", "B"),
    ("lakehouse.append_s", "s"), ("lakehouse.merge_s", "s"), ("lakehouse.delete_s", "s"),
    ("lakehouse.read_s", "s"), ("lakehouse.range_read_s", "s"),
    ("lakehouse.compact_s", "s"), ("lakehouse.expire_s", "s"),
    ("lakehouse.manifest_s", "s"), ("lakehouse.write_amp", "ratio"),
    ("lakehouse.live_files", "count"), ("lakehouse.dv_files", "count"),
    ("lakehouse.files_read", "count"),
    ("self.build_s", "s"), ("self.jobs_s", "s"),
    ("self.lake_driver_s", "s"),
    ("trace.overhead", "ratio"),
    ("latency_tail_s", "s"), ("read_p50_s", "s"), ("write_p50_s", "s"),
    ("space_amp", "ratio"), ("failed_ratio", "ratio"),
]


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown (not a git checkout)"
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    p = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(p):
        with open(p) as f:
            return f.read().strip()
    return f"unknown ({ref[5:]})"


def _descendants() -> set[int]:
    """PIDs of every live descendant of this process."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - out
        out |= frontier
    return out


def _reap(pids: set[int], timeout_s: float = 20.0) -> None:
    """Wait for ``pids`` to exit; kill what is left after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _metric(v: float, unit: str) -> dict:
    return {"value": v, "unit": unit}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cuny_courses_spark", "__init__.py")):
        print(f"perfbench: no cuny_courses_spark package under {ROOT}", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    os.makedirs(state, exist_ok=True)
    lock = open(os.path.join(state, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    work = tempfile.mkdtemp(prefix="run-", dir=state)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Before anything imports the engine: its scratch tables live under
    # tempfile.gettempdir(), and the JVM and Python workers inherit these.
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Both JVMs (spark-submit's launcher and the driver): temp files in the
    # work directory, and no hsperfdata file in the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    cleared = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    for k in cleared:
        del os.environ[k]
    os.chdir(work)
    sys.path.insert(0, ROOT)

    import datagen
    import engine
    import workloads

    nproc = _nproc()
    sessions = engine.Sessions(work, nproc)
    ctx = workloads.Ctx(sessions, os.path.join(state, "inputs"), args.seed,
                        args.seconds, bool(args.trace))
    try:
        run = {"point_sf0.01": workloads.run_point, "lake_rw": workloads.run_lake}[args.workload]
        res = run(ctx)
        spark = sessions.spark
        prov = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc, "master": spark.sparkContext.master,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "duckdb": __import__("duckdb").__version__,
            "python": sys.version.split()[0],
            "git_commit": _git_commit(),
            "engine_sig": datagen.tree_sig(os.path.join(ROOT, "cuny_courses_spark"), ".py"),
            "cleared_env": cleared,
        }
        prov["inputs"] = {os.path.relpath(d, ROOT): datagen.tree_sig(d)
                          for d in res.info.pop("input_dirs")}
        for k in ("jvm_start_s", "empty_job_s", "window_s"):
            prov[k] = res.info.pop(k)
        prov["peak_rss_driver_mb"], prov["peak_rss_jvm_mb"] = engine.peak_rss_mb(sessions.jvm_pid)
        if res.tracer is not None:
            os.makedirs(os.path.join(state, "spans"), exist_ok=True)
            spans_path = os.path.join(state, "spans", f"{args.workload}-seed{args.seed}.json")
            res.tracer.dump(spans_path)
            prov["spans"] = os.path.relpath(spans_path, ROOT)
    finally:
        kids = _descendants()
        sessions.close()
        _reap(_descendants() | kids)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    from stats import hd_quantile, median, tail

    lat = [s for _, s in res.ops]
    tail_v, tail_p = tail(lat)
    e2e = {
        "setup_s": median(res.setup_s),
        "ops_per_s": workloads.ops_per_s(res.ops),
        "latency_p50_s": hd_quantile(lat, 0.5),
        "peak_rss_mb": prov["peak_rss_driver_mb"] + prov["peak_rss_jvm_mb"],
    }
    res.extra["latency_tail_s"] = tail_v
    res.extra["failed_ratio"] = res.failed / res.attempted
    prov["tail_percentile"] = tail_p
    prov["samples"] = len(lat)
    prov["setup_samples_s"] = res.setup_s

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    print("provenance " + json.dumps(prov, sort_keys=True))
    print("info " + json.dumps(res.info, sort_keys=True, default=str))
    by_kind: dict[str, list[float]] = {}
    for kind, s in res.ops:
        by_kind.setdefault(kind, []).append(s)
    print("op_p50_s " + json.dumps({k: round(median(v), 4) for k, v in sorted(by_kind.items())}))
    print("ops " + json.dumps([[k, round(s, 6)] for k, s in res.ops]))
    for f in res.failures[:20]:
        print(f"FAILED {f}")
    units = dict(E2E + PER_LAYER)
    for name, v in {**e2e, **res.extra}.items():
        note = ""
        if name == "latency_tail_s":
            note = (f"  (p{tail_p:g} of {len(lat)} ops)" if tail_p else
                    f"  (max of {len(lat)} ops: too few for a percentile with ten beyond it)")
        print(f"metric {name} = {v:.6g} {units[name]}{note}")
    layers = {}
    if args.trace:
        layers = {name: float(res.layers.get(name, 0.0)) for name, _ in PER_LAYER}
        layers.update({k: res.extra[k] for k in ("latency_tail_s", "failed_ratio")})
        for name, unit in PER_LAYER:
            print(f"layer {name} = {layers[name]:.6g} {unit}")
    metrics = (
        {n: _metric(layers[n], u) for n, u in PER_LAYER} if args.trace
        else {n: _metric(e2e[n], u) for n, u in E2E}
    )
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
