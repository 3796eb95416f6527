"""Tests for the benchmark's own helpers (not for the package it measures).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import os

import pyarrow.parquet as pq
import pytest

import checks
import eventlog
import gen
import stats
from spans import Span, Tracer, covered, self_time_ns


# -- the percentile rule ------------------------------------------------------

def test_tail_needs_ten_samples_beyond():
    assert not stats.supported(99, 90)
    assert stats.supported(100, 90)
    assert not stats.supported(39, 75)
    assert stats.supported(40, 75)
    assert not stats.supported(999, 99)
    assert stats.supported(1000, 99)


def test_median_always_supported():
    assert stats.supported(1, 50)
    assert stats.median([3.0]) == 3.0
    assert stats.median([1, 2, 3, 10]) == 2.5


def test_highest_tail_picks_highest_supported():
    assert stats.highest_tail(list(range(39))) is None
    p, v = stats.highest_tail(list(range(40)))
    assert p == 75 and v == pytest.approx(29.25)
    p, _ = stats.highest_tail(list(range(100)))
    assert p == 90


def test_geomean_weighs_every_sample_alike():
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)
    # doubling one request kind of four moves the summary by 2**(1/4)
    base = [100.0, 200.0, 400.0, 800.0]
    slow = [100.0, 200.0, 800.0, 800.0]
    assert stats.geomean(slow) / stats.geomean(base) == pytest.approx(2 ** 0.25)
    with pytest.raises(ValueError):
        stats.geomean([])


def test_percentile_interpolates_like_numpy():
    import numpy as np
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
    for p in (10, 50, 75, 90):
        assert stats.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


# -- span self time -----------------------------------------------------------

def _span(i, lo, hi, parent=None):
    return Span(i, f"s{i}", lo, hi, parent, None)


def test_self_time_subtracts_children():
    parent = _span(1, 0, 100)
    kids = [_span(2, 10, 30, 1), _span(3, 50, 60, 1)]
    assert self_time_ns(parent, kids) == 70


def test_self_time_counts_overlapping_children_once():
    parent = _span(1, 0, 100)
    kids = [_span(2, 10, 50, 1), _span(3, 40, 70, 1), _span(4, 60, 65, 1)]
    assert covered([(k.start_ns, k.end_ns) for k in kids], 0, 100) == 60
    assert self_time_ns(parent, kids) == 40


def test_self_time_clips_children_to_parent():
    parent = _span(1, 100, 200)
    kids = [_span(2, 50, 120, 1), _span(3, 190, 250, 1), _span(4, 300, 400, 1)]
    assert self_time_ns(parent, kids) == 70


def test_tracer_nests_and_restores_wrapped_functions():
    class Box:
        def work(self):
            return 7

    tr = Tracer()
    tr.wrap(Box, "work", "box.work")
    assert Box().work() == 7 and tr.spans == []   # disabled: no spans
    tr.enabled, tr.op = True, 3
    with tr.span("outer"):
        Box().work()
    inner, outer = tr.spans
    assert (inner.name, inner.parent, inner.op) == ("box.work", outer.id, 3)
    assert outer.parent is None
    assert tr.children() == {outer.id: [inner]}
    tr.close()
    assert Box.work.__name__ == "work" and not hasattr(Box.work, "__wrapped__")


# -- output checks ---------------------------------------------------------------

def test_rows_match_is_exact_unless_the_caller_accepts_a_tie():
    cols = ["k", "avg"]
    assert checks.rows_match(cols, [(1, 12.5)], cols, [(1, 12.5 + 1e-12)]) is None
    assert checks.rows_match(cols, [(1, 12.5)], cols, [(1, 12.4)]) is not None
    assert checks.rows_match(cols, [(1, 0.1235)], cols, [(1, 0.1234)]) is not None

    def tie(col, a, b):
        return col == "avg" and a["k"] == 1

    assert checks.rows_match(cols, [(1, 0.1235)], cols, [(1, 0.1234)], tie) is None
    assert checks.rows_match(cols, [(2, 0.1235)], cols, [(2, 0.1234)], tie) is not None


def test_avg_rounding_tie_only_on_an_exact_tie():
    # 8 values summing to 0.01: average 0.00125, a tie at 4 decimals
    assert checks.avg_rounding_tie(1, 8, 0.0013, 0.0012)
    assert checks.avg_rounding_tie(3, 8, 0.0037, 0.0038)     # 0.00375
    assert not checks.avg_rounding_tie(1, 8, 0.0013, 0.0011)  # not neighbours
    assert not checks.avg_rounding_tie(1, 3, 0.0033, 0.0034)  # 0.00333...
    assert not checks.avg_rounding_tie(1, 4, 0.0025, 0.0026)  # 0.0025 exactly


# -- the generator -------------------------------------------------------------

SMALL = gen.Sizes(customers=50, users=10, events=200, orders=100, lineitems=300,
                  documents=40, embeddings=30, cdc_files=4, cdc_rows_per_file=50)
TABLES = ("region", "nation", "customer", "orders", "lineitem", "events",
          "documents", "embeddings")


def _write_all(root, seed):
    gen.write_star(str(root / "star"), seed, SMALL, TABLES)
    info = gen.write_cdc(str(root / "cdc"), seed, SMALL, files_per_dir=2)
    return info


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def test_same_seed_same_bytes(tmp_path):
    _write_all(tmp_path / "a", 7)
    _write_all(tmp_path / "b", 7)
    names = _files(tmp_path / "a")
    assert names == _files(tmp_path / "b") and len(names) == len(TABLES) + 4
    for n in names:
        assert filecmp.cmp(tmp_path / "a" / n, tmp_path / "b" / n, shallow=False), n


def test_other_seed_same_counts_other_bytes(tmp_path):
    ia = _write_all(tmp_path / "a", 7)
    ib = _write_all(tmp_path / "b", 8)
    assert (ia["frames"], ia["valid"]) == (ib["frames"], ib["valid"]) == (200, 196)
    names = _files(tmp_path / "a")
    assert names == _files(tmp_path / "b")
    differ = 0
    for n in names:
        ra = pq.read_metadata(tmp_path / "a" / n).num_rows
        rb = pq.read_metadata(tmp_path / "b" / n).num_rows
        assert ra == rb, n
        differ += not filecmp.cmp(tmp_path / "a" / n, tmp_path / "b" / n,
                                  shallow=False)
    assert differ >= len(names) - 2   # region/nation carry no seeded values


def test_near_dup_share_is_fixed(tmp_path):
    for seed in (1, 2, 3):
        gen.write_star(str(tmp_path / str(seed)), seed, SMALL, ("documents",))
        texts = pq.read_table(tmp_path / str(seed) / "documents.parquet")["text"]
        n_dup = sum(" dup" in f" {t}" for t in texts.to_pylist())
        assert n_dup == round(SMALL.documents * SMALL.near_dup_share)


# -- the event-log parser -------------------------------------------------------

def test_eventlog_parser_on_a_local_job(tmp_path):
    import time

    from pyspark.sql import SparkSession

    evdir = tmp_path / "ev"
    evdir.mkdir()
    spark = (SparkSession.builder.master("local[2]").appName("evlog-test")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", str(evdir))
             .config("spark.sql.shuffle.partitions", "3")
             .config("spark.sql.adaptive.enabled", "false")
             .getOrCreate())
    try:
        sc = spark.sparkContext
        t0 = time.time() * 1000
        sc.setJobDescription("op1:agg")
        (spark.range(0, 1000, numPartitions=2).selectExpr("id % 7 AS k")
         .groupBy("k").count().collect())
        sc.setJobDescription(None)
        t1 = time.time() * 1000
        spark.range(10).count()          # untagged, outside the op window
    finally:
        spark.stop()
    jobs = eventlog.parse(str(evdir))
    tagged = [j for j in jobs if j.desc == "op1:agg"]
    assert tagged and all(j.end_ms >= j.start_ms for j in tagged)
    tasks = [t for j in tagged for t in j.tasks]
    assert len(tasks) >= 2 + 3   # two map tasks + three reduce tasks
    assert sum(t.shuffle_write for t in tasks) > 0
    assert sum(t.shuffle_read for t in tasks) > 0
    ops = [eventlog.OpWindow(1, t0, t1)]
    by_op = eventlog.attribute(jobs, ops)
    assert by_op[1] == tagged
    m = eventlog.summarize(ops, by_op)
    assert m["spark.jobs_per_op"] == len(tagged)
    assert m["spark.tasks_per_op"] == len(tasks)
    assert 0 <= m["spark.sched_gap_ms_p50"] <= t1 - t0
    assert m["spark.executor_run_ms"] >= 0 and m["spark.task_skew_max"] >= 1


def test_attribute_falls_back_to_time_window():
    jobs = [eventlog.Job(1, "", 150, 180), eventlog.Job(2, "op9:x", 400, 450),
            eventlog.Job(3, "", 900, 950)]
    ops = [eventlog.OpWindow(5, 100, 200), eventlog.OpWindow(9, 300, 500)]
    by_op = eventlog.attribute(jobs, ops)
    assert [j.id for j in by_op[5]] == [1]
    assert [j.id for j in by_op[9]] == [2]
    assert eventlog.sched_gap_ms(ops[0], by_op[5]) == 70
