import json
import os

import pytest

import datagen
import engine
import run
import stats
from spans import Tracer
from sparkstatus import StatusReader, metric_value, union_s

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.parametrize("n, level", [
    (5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_level_is_highest_percentile_with_ten_beyond(n, level):
    assert stats.tail_level(n) == level
    if level is not None:
        assert stats.beyond(n, level) >= 10
        higher = [p for p in stats.TAIL_LADDER if p > level]
        assert all(stats.beyond(n, p) < 10 for p in higher)


def test_tail_value_and_fallback():
    xs = [float(i) for i in range(1, 41)]  # 40 samples: p75 has 10 beyond
    value, level = stats.tail(xs)
    assert level == 75.0 and 30.0 <= value <= 31.0
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, None)


def test_harrell_davis_quantile():
    # n = 3, p = 0.5: weights 7/27, 13/27, 7/27 (I_x(2, 2) = 3x^2 - 2x^3).
    assert stats.hd_quantile([0.0, 0.0, 1.0], 0.5) == pytest.approx(7 / 27, abs=1e-6)
    assert stats.hd_quantile([2.0, 0.0, 1.0], 0.5) == pytest.approx(1.0, abs=1e-6)
    assert stats.hd_quantile([5.0], 0.5) == 5.0
    xs = [float(i) for i in range(101)]
    assert stats.hd_quantile(xs, 0.5) == pytest.approx(50.0, abs=1e-6)
    assert 85.0 < stats.hd_quantile(xs, 0.9) < 95.0


def test_iqr_share():
    assert stats.iqr_share([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert stats.iqr_share([9.0, 10.0, 10.0, 11.0]) == pytest.approx(0.15)


def test_metric_value_parses_spark_formats():
    assert metric_value("12 ms") == pytest.approx(0.012)
    assert metric_value("1.5 s") == pytest.approx(1.5)
    assert metric_value("2.0 KiB") == pytest.approx(2048)
    assert metric_value("total (min, med, max (stageId: taskId))\n3.0 MiB (1.0 MiB, "
                        "1.0 MiB, 1.0 MiB (stage 1.0: task 2))") == pytest.approx(3 * 2**20)
    assert metric_value("1,234") == 1234


def test_union_and_self_time():
    assert union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_s([(0, 2), (1, 3)], 1.5, 2.5) == 1
    tr = Tracer()
    op = tr.add("op", 0.0, 10.0)
    b = tr.add("build", 0.0, 4.0, op)
    tr.add("spark.job", 1.0, 3.0, b)
    tr.add("collect", 4.0, 9.0, op)
    selfs = tr.self_times()
    assert selfs["op"] == pytest.approx(1.0)
    assert selfs["build"] == pytest.approx(2.0)
    assert selfs["collect"] == pytest.approx(5.0)


def test_status_store_counts_jobs_and_stages(spark):
    rd = StatusReader(spark)
    jl = spark.sparkContext._jvm.java.util.ArrayList()
    for i in range(6):
        jl.add(i)
    g = rd.group("jvm-count")
    spark.sparkContext._jsc.parallelize(jl, 3).count()
    rd.clear()
    jobs = rd.jobs(g)
    assert [(j.stages, j.tasks) for j in jobs] == [(1, 3)]

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    g = rd.group("agg")
    spark.range(0, 1000, 1, 4).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    rd.clear()
    jobs = rd.jobs(g)
    assert len(jobs) == 1
    assert (jobs[0].stages, jobs[0].tasks) == (2, 4 + 2)
    assert jobs[0].shuffle_write_bytes > 0
    assert jobs[0].shuffle_read_bytes == jobs[0].shuffle_write_bytes


def test_memo_rule():
    assert engine.memoized(3, 0, ["LogicalRDD"])
    assert not engine.memoized(7, 7, ["LogicalRDD"])  # rebuilt each call (q8, q18)
    assert not engine.memoized(1, 0, [])              # schema-inference job, file scan
    assert not engine.memoized(0, 0, ["LocalRelation"])


def _guard(spark, sf_dir, name):
    from cuny_courses_spark import registry

    q = registry.queries()[name]
    rd = StatusReader(spark)
    g = rd.group("first")
    q(spark, sf_dir).toArrow()
    first = len(rd.job_ids(g))
    g = rd.group("warm")
    df = q(spark, sf_dir)
    warm = len(rd.job_ids(g))
    rd.clear()
    return engine.memoized(first, warm, engine.in_memory_leaves(df))


def test_memo_guard_rejects_lake_fsck_accepts_agg_groupby(spark):
    assert _guard(spark, datagen.SF001, "q_lake_fsck")
    assert not _guard(spark, datagen.SF001, "q_agg_groupby")


def test_scaled_layout_replicas_are_disjoint(tmp_path):
    import pyarrow.parquet as pq

    out = datagen.scaled_layout(str(tmp_path / "x3"), 3)
    src = pq.read_table(f"{datagen.SF001}/orders.parquet")
    big = pq.read_table(f"{out}/orders.parquet")
    assert big.num_rows == 3 * src.num_rows
    assert len(set(big.column("o_orderkey").to_pylist())) == big.num_rows
    assert pq.read_table(f"{out}/nation.parquet").equals(pq.read_table(f"{datagen.SF001}/nation.parquet"))


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.E2E
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOADS
