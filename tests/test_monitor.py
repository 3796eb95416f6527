"""Stream observability: the push-based progress monitor must see every
micro-batch and account for every input row (reference monitor loop
semantics, SaveDelta.scala:176-203, without the per-tick table rescan)."""

from __future__ import annotations

from sport_advantages_moderne_data_infrastructure_spark.sources import domain as D
from sport_advantages_moderne_data_infrastructure_spark.streaming import (
    pipeline as P,
)
from sport_advantages_moderne_data_infrastructure_spark.streaming.monitor import (
    ProgressMonitor,
)


def test_progress_monitor_accounts_all_rows(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    cdc = D.cdc_events(spark, sf_dir)
    cdc.write.parquet(src)
    mon = ProgressMonitor()
    spark.streams.addListener(mon)
    try:
        q = P.write_stream_memory(
            P.stream_cdc_from_files(spark, src), "mon_mem")
        q.awaitTermination(120)
        qid = str(q.id)
        # listener events are async — give the bus a moment
        import time
        for _ in range(20):
            if mon.stats.get(qid) and mon.stats[qid].batches > 0:
                break
            time.sleep(0.5)
        s = mon.stats[qid]
        assert s.batches >= 1
        assert s.total_rows == cdc.count()
        assert mon.summary()[qid]["mean_rows_per_batch"] > 0

        # drift reconciliation (SaveDelta.scala:209-219): the memory sink
        # holds the parsed rows; the parse drops malformed/NULL frames, so
        # accounting them as filtered must reconcile to zero drift
        sink_rows = spark.table("mon_mem").count()
        filtered = cdc.count() - sink_rows
        rec = mon.reconcile(qid, sink_rows, filtered_rows=filtered)
        assert rec["drift"] == 0 and rec["explanation"] == "in sync"
        # and a shortfall is flagged as listener-ahead
        assert mon.reconcile(qid, sink_rows - 1,
                             filtered_rows=filtered)["drift"] == 1
    finally:
        spark.streams.removeListener(mon)


def test_progress_monitor_keeps_phase_timings_and_state(spark, sf_dir,
                                                        tmp_path):
    """Every micro-batch's durationMs phases and its state operators'
    sizes are kept, so a stream's fixed per-batch cost is measured."""
    import time

    src = str(tmp_path / "src")
    D.cdc_events(spark, sf_dir).repartition(3).write.parquet(src)
    mon = ProgressMonitor()
    spark.streams.addListener(mon)
    try:
        parsed = P.stream_cdc_from_files(spark, src, max_files_per_trigger=1)
        q = P.write_stream_memory(parsed.dropDuplicates(["id"]), "mon_phases")
        q.awaitTermination(120)
        qid, n = str(q.id), len(q.recentProgress)
        for _ in range(20):  # listener events are async
            if qid in mon.stats and mon.stats[qid].batches >= n:
                break
            time.sleep(0.5)
        s = mon.stats[qid]
        assert n >= 3 and s.batches == n
        assert len(s.duration_ms) == len(s.state_operators) == n
        for d in s.duration_ms:
            for phase in ("triggerExecution", "addBatch", "latestOffset",
                          "walCommit", "commitOffsets"):
                assert phase in d and d[phase] >= 0
        assert all(len(ops) == 1 for ops in s.state_operators)
        distinct = spark.table("mon_phases").count()
        assert s.state_operators[-1][0]["numRowsTotal"] == distinct
        assert s.state_operators[-1][0]["memoryUsedBytes"] > 0
        p50 = mon.summary()[qid]["phase_ms_p50"]
        assert p50["triggerExecution"] >= p50["addBatch"]
    finally:
        spark.streams.removeListener(mon)
