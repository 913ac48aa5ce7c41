"""One workload in one fresh process: set up, warm up, run the timed
closed loop, check the answers, and write a result file.

Started by ``run.py``; not meant to be run by hand. The working
directory is the run's own scratch directory, and the engine's
package is found through ``PYTHONPATH``, which ``run.py`` sets for
this process and, through the JVM, for Spark's Python workers.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import compare  # noqa: E402
import procstat  # noqa: E402
import recall  # noqa: E402
from ledger import MB, Tracer, mean, self_times  # noqa: E402

# Contract queries per workload. interactive spans the relational,
# text/LLM-data and statistics families over the base tier, where
# fixed per-query costs bound every query; batch_10x holds the heavy
# joins, sorts and Arrow-UDF text operators over the 10x tier.
INTERACTIVE = [
    "q_agg_group", "q_inner_join", "q_window_rank", "q_dedup_lastwins",
    "q_asof_join",
    "q_text_stats", "q_chunk_docs", "q_url_normalize", "q_inverted_index",
    "q_gopher_filter", "q_jaro",
    "q_winsorize", "q_mad_outliers", "q_heavy_hitters", "q_kaplan_meier",
    "q_kendall_dist",
]
BATCH = [
    "q_tpch_q21_shape", "q_tpch_q9_shape", "q_tpcds_q51_shape",
    "q_anti_join", "q_dup_spans", "q_tfidf",
]
WORKLOADS = {
    "interactive": {"queries": INTERACTIVE, "tier": "base"},
    "batch_10x": {"queries": BATCH, "tier": "x10"},
    "recall_stream": {},
}
# untimed rounds before the stream's timed loop: the first round in a
# fresh JVM costs three to four warm ones, and the second still more
# CPU than the rounds after it
WARM_ROUNDS = 2
# The CPU cost is read over a fixed amount of work at the start of the
# timed loop, which runs at least that long: the passes or rounds that
# fit in a run's seconds vary with the host, and a later pass costs less
# (the JVM is still warming up) while a later round costs more (the
# topic and the sink grow).
CPU_PASSES = 2
CPU_ROUNDS = 3
RECORDS_PER_ROUND = 200
SINK_URL = "jdbc:derby:memory:perfbench;create=true"
SINK_TABLE = "rappel_conso"
DERBY = "org.apache.derby.jdbc.EmbeddedDriver"

HEAP_READINGS = 8

# per-layer metric -> unit, in the order the traced run reports them
LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "catalog.calls": "count", "catalog.s": "s", "catalog.jobs": "count",
    "build.s": "s", "build.jobs": "count", "build.py4j_calls": "count",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.input_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.task_skew": "ratio",
    "cache.resident_mb": "MB",
    "source.produce_s": "s", "stream.latest_offset_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "ingest.build_s": "s", "ingest.rows_in": "count", "ingest.keep_ratio": "ratio",
    "sink.read_keys_s": "s", "sink.publish_s": "s", "sink.rows_written": "count",
}
EXEC_KEYS = ["jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"]


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    order = list(names)
    random.Random(seed * 7919 + pass_no).shuffle(order)
    return order


def cache_resident_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def release_cache(spark) -> None:
    """Drop every cached frame and persisted RDD an operator left, so
    no operation answers from the previous one's cache."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def heap_live_mb(spark) -> float:
    """Heap in use after a full GC. Python's collector runs first so
    py4j releases the JVM objects the driver no longer holds; the JVM
    then collects every half second, ``HEAP_READINGS`` times, and the
    lowest reading counts. The context cleaner releases broadcasts and
    shuffles asynchronously after the collection that found them
    unreachable, so the heap steps down over the first two seconds, and
    two readings in a row can agree while a step is still to come
    (146 then 146 MB, then 81 MB)."""
    gc.collect()
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for i in range(HEAP_READINGS):
        if i:
            time.sleep(0.5)
        mx.gc()
        used.append(mx.getHeapMemoryUsage().getUsed())
    return min(used) / MB


def start_session(tracer: Tracer, app: str):
    from pipeline_dataengineer_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(
        app,
        spark__sql__warehouse__dir=os.path.join(os.getcwd(), "warehouse"),
        spark__ui__showConsoleProgress="false",
    )
    tracer.spark = spark
    tracer.instrument()
    return spark, time.perf_counter() - t0


# ---- query workloads ---------------------------------------------------


def _ledger_row(tracer: Tracer, op: str, df, wall: float) -> dict:
    """One query's layer row; ``wall`` is its latency as timed."""
    spans = tracer.op_spans(op)
    own = self_times(spans)
    by = lambda n: [s for s in spans if s["name"] == n]  # noqa: E731
    build, action, cat = by("build"), by("action"), by("catalog")
    ex = tracer.job_metrics([s["group"] for s in action])
    py4j_self = sum(s["py4j"] for s in build) - sum(s["py4j"] + 2 for s in cat)
    row = {
        "catalog.calls": len(cat),
        "catalog.s": sum(own[s["id"]] for s in cat),
        "catalog.jobs": tracer.job_metrics([s["group"] for s in cat])["jobs"],
        "build.s": sum(own[s["id"]] for s in build),
        "build.jobs": tracer.job_metrics([s["group"] for s in build])["jobs"],
        "build.py4j_calls": py4j_self,
        "exec.s": sum(own[s["id"]] for s in action),
        **{f"exec.{k}": ex[k] for k in EXEC_KEYS},
        "exec.task_skew": ex["task_skew"],
    }
    ph = tracer.catalyst_ms(df)
    row.update({f"plan.{k}_ms": v for k, v in ph.items()})
    row["self_gap"] = abs(sum(own.values()) - wall) / wall
    return row


def run_queries(args, spark, tracer: Tracer, spec: dict, data_dir: str, answers: dict,
                result: dict) -> None:
    from pipeline_dataengineer_spark.contract import QUERIES

    names = spec["queries"]
    # warm-up pass 1 collects every answer and checks it (untimed)
    warm0 = time.perf_counter()
    for name in pass_order(names, args.seed, -1):
        df = QUERIES[name](spark, data_dir)
        cols, rows = compare.canon_rows(df.columns, [tuple(r) for r in df.collect()])
        want = answers[name]
        problem = compare.compare(cols, rows, want["columns"],
                                  [compare.canon(tuple(r)) for r in want["rows"]])
        if problem:
            result["correct"] = False
            result["errors"].append(f"{name}: {problem}")
        release_cache(spark)
    # warm-up pass 2 runs the timed action, so the timed passes start
    # past the steepest part of the JVM's warm-up
    for name in pass_order(names, args.seed, -2):
        QUERIES[name](spark, data_dir).write.format("noop").mode("overwrite").save()
        release_cache(spark)
    result["warmup_s"] = time.perf_counter() - warm0

    lat, names_done, resident, ledger = [], [], [], []
    loop = LoopMeter(spark, CPU_PASSES)
    pass_no = 0
    while True:
        for name in pass_order(names, args.seed, pass_no):
            tracer.op = f"{pass_no}.{name}"
            result["attempted"] += 1
            df = wall = None
            try:
                with tracer.span("op"):
                    t0 = time.perf_counter()
                    with tracer.span("build"):
                        df = QUERIES[name](spark, data_dir)
                    with tracer.span("action"):
                        df.write.format("noop").mode("overwrite").save()
                    wall = time.perf_counter() - t0
                lat.append(wall)
                names_done.append(name)
            except Exception:
                result["failed"] += 1
                result["errors"].append(f"{name}: {traceback.format_exc(limit=2)}")
            resident.append(cache_resident_mb(spark))
            release_cache(spark)
            if tracer.enabled and wall is not None:
                ledger.append({"op": tracer.op, **_ledger_row(tracer, tracer.op, df, wall)})
        pass_no += 1
        loop.lap(result, len(names))
        if pass_no >= CPU_PASSES and loop.elapsed() >= args.seconds:
            break
    loop.stop(result)
    del df
    result["latencies"] = lat
    result["op_names"] = names_done
    result["heap_live_mb"] = heap_live_mb(spark)
    result["ledger"] = ledger
    result["cache_resident_mb"] = mean(resident)


class LoopMeter:
    """Wall clock, CPU and host load over the timed loop.

    The CPU is the process tree's (this process, the JVM, Spark's Python
    workers) less the JVM's JIT compiler threads. Those compile in the
    background whatever got hot during the warm-up, so how much of that
    lands inside the loop depends on how far the compile queue had
    drained when it started, not on the operations; the detail record
    keeps it apart (``jit_s``)."""

    def __init__(self, spark, cpu_laps: int):
        self.cpu_laps = cpu_laps
        self.jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.root = procstat.self_pid()
        self.load0 = procstat.loadavg()
        self.host0 = procstat.host_cpu()
        self.tree0, self.jit0 = self._cpu()
        self.t0 = time.perf_counter()
        self.m0 = time.monotonic()

    def _cpu(self) -> tuple[float, float]:
        # the JVM is a root of its own too, so its cost counts even if
        # the walk from this process does not reach it
        return (procstat.tree_cpu_seconds([self.root, self.jvm]),
                procstat.threads_cpu_seconds(self.jvm, procstat.JIT_THREADS))

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def lap(self, result: dict, ops: int) -> None:
        """Close a pass or round of ``ops`` operations; the CPU cost is
        read when the first ``cpu_laps`` of them are done."""
        tree, jit = self._cpu()
        laps = result.setdefault("laps", [])
        laps.append({"ops": ops, "cpu_tree_s": tree - self.tree0, "jit_s": jit - self.jit0})
        if len(laps) == self.cpu_laps:
            result["cpu_ops"] = sum(lap["ops"] for lap in laps)
            result["cpu_tree_s"] = tree - self.tree0
            result["jit_s"] = jit - self.jit0
            result["cpu_s"] = result["cpu_tree_s"] - result["jit_s"]
            result["cpu_window"] = [self.m0, time.monotonic()]

    def stop(self, result: dict) -> None:
        result["loop_s"] = self.elapsed()
        result["host"] = {
            **procstat.host_window(self.host0, procstat.host_cpu()),
            "loadavg_before": self.load0,
            "loadavg_after": procstat.loadavg(),
        }


def open_inputs(spark, data_dir: str) -> None:
    from pipeline_dataengineer_spark import catalog

    for name in catalog.TABLES:
        catalog.table(spark, data_dir, name)


# ---- recall_stream -----------------------------------------------------


class RecallStream:
    """Producer and consumer of the recall topic, one round at a time."""

    def __init__(self, spark, tracer: Tracer, run_dir: str, seed: int):
        from pipeline_dataengineer_spark.sinks.ddl import execute_ddl
        from pipeline_dataengineer_spark.sources.kafka_sim import register_kafka_log_source

        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.topic = os.path.join(run_dir, "topic")
        self.ckpt = os.path.join(run_dir, "ckpt")
        self.rounds: list[list[dict]] = []
        self.commit_t: float | None = None
        self.new_rows: list[int] = []
        register_kafka_log_source(spark)
        os.makedirs(self.topic, exist_ok=True)
        cols = ", ".join(
            f"{c} VARCHAR(64) PRIMARY KEY" if c == "reference_fiche" else f"{c} VARCHAR(1024)"
            for c in recall.SINK_COLUMNS
        )
        execute_ddl(spark, SINK_URL, f"CREATE TABLE {SINK_TABLE} ({cols})", driver=DERBY)

    def _sink(self):
        # pushDownPredicate off: Spark maps strings to CLOB on Derby,
        # which cannot compare a CLOB to a pushed-down literal
        return (
            self.spark.read.format("jdbc").option("url", SINK_URL)
            .option("dbtable", SINK_TABLE).option("driver", DERBY)
            .option("pushDownPredicate", "false").load()
        )

    def sink_count(self) -> int:
        conn = self.spark._jvm.java.sql.DriverManager.getConnection(SINK_URL)
        try:
            rs = conn.createStatement().executeQuery(f"SELECT COUNT(*) FROM {SINK_TABLE}")
            rs.next()
            return rs.getLong(1)
        finally:
            conn.close()

    def produce(self, round_no: int) -> None:
        import pandas as pd

        from pipeline_dataengineer_spark.pipelines import recall_ingest
        from pipeline_dataengineer_spark.sinks.writers import kafka_json_payload
        from pipeline_dataengineer_spark.sources import kafka_sim

        records = recall.make_round(self.seed, round_no, RECORDS_PER_ROUND)
        self.rounds.append(records)
        # through pandas and Arrow: one transfer, not a py4j call per value
        raw = self.spark.createDataFrame(
            pd.DataFrame(records, columns=recall.RAW_COLUMNS),
            ", ".join(f"{c} string" for c in recall.RAW_COLUMNS),
        )
        payload = kafka_json_payload(recall_ingest.transform_recall_records(raw))
        kafka_sim.produce(self.topic, payload)

    def _consume(self, count_new: bool):
        from pipeline_dataengineer_spark.pipelines import recall_ingest
        from pipeline_dataengineer_spark.sinks import jdbc_tx

        def write(new_rows, epoch):
            if count_new:
                self.new_rows.append(new_rows.count())
            jdbc_tx.staged_jdbc_append(new_rows, SINK_URL, SINK_TABLE, epoch,
                                       columns=recall.SINK_COLUMNS, driver=DERBY)

        def on_batch(batch_df, epoch):
            with self.tracer.span("sink.read_keys"):
                existing = self._sink().select("reference_fiche").cache()
                existing.count()
            recall_ingest.ingest_batch(batch_df, existing, writer=lambda d: write(d, epoch))
            existing.unpersist()
            self.commit_t = time.perf_counter()

        return on_batch

    def drain(self, ckpt: str, count_new: bool = False):
        from pipeline_dataengineer_spark.pipelines.recall_ingest import parse_json_records

        stream = self.spark.readStream.format("kafka_log").option("path", self.topic).load()
        q = (
            parse_json_records(stream, value_col="value").writeStream
            .foreachBatch(self._consume(count_new))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def round(self, round_no: int) -> tuple[float, float, object]:
        """Produce one segment and drain it. Returns (latency from the
        segment's creation to the sink commit that holds it, round wall
        time, the finished query)."""
        t0 = time.perf_counter()
        with self.tracer.span("producer"):
            self.produce(round_no)
        with self.tracer.span("stream"):
            q = self.drain(self.ckpt)
        return self.commit_t - t0, time.perf_counter() - t0, q

    def check(self, result: dict) -> None:
        """The sink must equal the plain-Python expectation, and a
        replay of the whole topic from a fresh checkpoint must append
        nothing."""
        want = recall.expected_sink(self.rounds)
        # Derby folds the unquoted DDL names to upper case
        rows = {}
        for r in self._sink().collect():
            row = {k.lower(): v for k, v in r.asDict().items()}
            rows[row["reference_fiche"]] = row
        if set(rows) != set(want):
            result["correct"] = False
            result["errors"].append(
                f"sink keys: {len(set(rows) - set(want))} unexpected, "
                f"{len(set(want) - set(rows))} missing")
        for k in sorted(set(rows) & set(want)):
            bad = [c for c in recall.SINK_COLUMNS if rows[k][c] != want[k][c]]
            if bad:
                result["correct"] = False
                result["errors"].append(
                    f"sink row {k}: {[(c, rows[k][c], want[k][c]) for c in bad[:3]]}")
                break
        before = self.sink_count()
        self.new_rows = []
        self.drain(os.path.join(os.path.dirname(self.ckpt), "ckpt-replay"), count_new=True)
        if self.sink_count() != before or any(self.new_rows):
            result["correct"] = False
            result["errors"].append(f"replay appended rows: {self.new_rows}")


def _progress(q) -> dict:
    """Duration parts of the micro-batch that carried data."""
    for p in reversed(q.recentProgress):
        if p.numInputRows > 0:
            d = p.durationMs
            return {"rows": p.numInputRows, "latest_offset_ms": d.get("latestOffset", 0),
                    "add_batch_ms": d.get("addBatch", 0), "wal_commit_ms": d.get("walCommit", 0)}
    return {"rows": 0, "latest_offset_ms": 0, "add_batch_ms": 0, "wal_commit_ms": 0}


def run_stream(args, spark, tracer: Tracer, rs: RecallStream, result: dict) -> None:
    warm0 = time.perf_counter()
    round_no = 0
    for _ in range(WARM_ROUNDS):
        rs.round(round_no)
        round_no += 1
    result["warmup_s"] = time.perf_counter() - warm0

    lat, walls, resident, ledger = [], [], [], []
    loop = LoopMeter(spark, CPU_ROUNDS)
    while True:
        tracer.op = f"round{round_no}"
        result["attempted"] += 1
        before = rs.sink_count() if tracer.enabled else 0
        q = None
        try:
            with tracer.span("op"):
                latency, wall, q = rs.round(round_no)
            lat.append(latency)
            walls.append(wall)
        except Exception:
            result["failed"] += 1
            result["errors"].append(traceback.format_exc(limit=3))
        round_no += 1
        resident.append(cache_resident_mb(spark))
        release_cache(spark)
        if tracer.enabled and q is not None:
            ledger.append(_stream_ledger_row(tracer, q, rs.sink_count() - before, wall))
        loop.lap(result, 1)
        if result["attempted"] >= CPU_ROUNDS and loop.elapsed() >= args.seconds:
            break
    loop.stop(result)
    result["latencies"] = lat
    result["op_walls"] = walls
    result["heap_live_mb"] = heap_live_mb(spark)
    result["ledger"] = ledger
    result["cache_resident_mb"] = mean(resident)
    tracer.op = "check"
    rs.check(result)


def _stream_ledger_row(tracer: Tracer, q, written: int, wall: float) -> dict:
    """One round's layer row; ``wall`` is the round's time as timed."""
    op = tracer.op
    spans = tracer.op_spans(op)
    own = self_times(spans)
    t = lambda n: sum(own[s["id"]] for s in spans if s["name"] == n)  # noqa: E731
    ex = tracer.job_metrics([s["group"] for s in spans] + [str(q.runId)])
    pr = _progress(q)
    return {
        "op": op,
        "source.produce_s": t("source.produce"),
        "stream.latest_offset_ms": pr["latest_offset_ms"],
        "stream.add_batch_ms": pr["add_batch_ms"],
        "stream.wal_commit_ms": pr["wal_commit_ms"],
        "ingest.build_s": t("ingest"),
        "ingest.rows_in": pr["rows"],
        "sink.read_keys_s": t("sink.read_keys"),
        "sink.publish_s": t("sink.publish"),
        "sink.rows_written": written,
        "exec.s": wall,
        **{f"exec.{k}": ex[k] for k in EXEC_KEYS},
        "exec.task_skew": ex["task_skew"],
        "self_gap": abs(sum(own.values()) - wall) / wall,
    }


# ---- per-layer summary -------------------------------------------------


def per_layer(result: dict) -> dict[str, float]:
    ledger = result["ledger"]
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    for key in LAYER_UNITS:
        vals = [row[key] for row in ledger if key in row]
        if vals:
            out[key] = mean(vals)
    rows_in = sum(row.get("ingest.rows_in", 0) for row in ledger)
    written = sum(row.get("sink.rows_written", 0) for row in ledger)
    out["ingest.keep_ratio"] = written / rows_in if rows_in else 0.0
    skews = sorted(row["exec.task_skew"] for row in ledger)
    out["exec.task_skew"] = skews[len(skews) // 2] if skews else 0.0
    out["session.start_s"] = result["session_start_s"]
    out["session.warmup_s"] = result["warmup_s"]
    out["cache.resident_mb"] = result["cache_resident_mb"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    spec = WORKLOADS[args.workload]
    tracer = Tracer(enabled=bool(args.trace))
    result = {"correct": True, "attempted": 0, "failed": 0, "errors": []}
    spark, result["session_start_s"] = start_session(tracer, f"perfbench-{args.workload}")
    if args.workload == "recall_stream":
        rs = RecallStream(spark, tracer, os.getcwd(), args.seed)
    else:
        data_dir = os.path.join(args.data, spec["tier"])
        open_inputs(spark, data_dir)
        import pipeline_dataengineer_spark.contract  # noqa: F401  (builders load with setup)
        with open(os.path.join(args.data, "answers.json")) as fh:
            answers = json.load(fh)[spec["tier"]]
    result["ready"] = time.monotonic()

    if args.workload == "recall_stream":
        run_stream(args, spark, tracer, rs, result)
    else:
        run_queries(args, spark, tracer, spec, data_dir, answers, result)
    if tracer.enabled:
        result["per_layer"] = per_layer(result)
        result["spans"] = tracer.spans
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
