"""The measured process of one benchmark run.

``run.py`` starts this script in a fresh process, so ``setup_s`` covers a
user's whole cold start: interpreter, imports, JVM, session and the
engine warm-up (Python workers and the Arrow path). The script then runs
the workload, collects every output to a pickle for ``run.py`` to check,
and writes ``result.json`` into ``--run-dir``. With ``--trace 1`` it also
records spans, py4j round trips, Catalyst phases and a Spark event log,
and writes the per-layer table.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import pickle
import random
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads as wl  # noqa: E402


def live_wiring(df):
    """The live_stream wiring, the flagship's shape: a per-key EWMA of
    ``value`` and a crossover flag, through the Stream API. On a streaming
    frame the EWMA binds to its state-store twin (``KeyedStateOp.run_stream``);
    on a batch frame to the historical kernel."""
    from pyspark.sql import functions as F

    from wingfoil_spark.stream import Stream

    s = Stream(df, ts="ts_us", seq="event_id", keys=("key",))
    sig = s.ewma("value", alpha=0.25).map(
        above=(F.col("value") > F.col("ewma")).cast("int"))
    return sig.df.select("key", "ts_us", "event_id", "value", "ewma", "above")


def _warm_up(spark) -> None:
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    (spark.range(10_000).withColumn("g", F.col("id") % n).groupBy("g")
     .applyInPandas(lambda p: p, schema="id long, g long").count())
    spark.range(10).toPandas()


def _pct(values, q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def _dump(obj, path: str) -> str:
    with open(path, "wb") as f:
        pickle.dump(obj, f)
    return path


class BatchRunner:
    """Closed loop, one client: each pass builds and collects every query of
    the workload once, in a seeded order. A cold pass, then a fixed number
    of warm passes (see ``Workload.pass_s``)."""

    def __init__(self, spark, entry, w, args, tracer):
        self.spark, self.w, self.args, self.tracer = spark, w, args, tracer
        self.queries = entry.queries()
        self.rng = random.Random(args.seed)
        self.records: list[dict] = []

    def one_pass(self, p: int) -> float:
        from tracing import catalyst_phases

        tr = self.tracer
        order = list(self.w.queries)
        self.rng.shuffle(order)
        wall = 0.0
        for name in order:
            op = f"p{p}/{name}"
            rec = {"pass": p, "query": name, "op": op}
            if tr:
                self._job_group(op + "/build")
                tr.op, tr.phase = op, "build"
            t0, c0 = time.time(), time.perf_counter()
            c1, t1 = c0, t0
            try:
                df = self.queries[name](self.spark, self.args.sf_dir)
                c1, t1 = time.perf_counter(), time.time()
                if tr:
                    tr.phase = None
                    self._job_group(op + "/exec")
                    tr.phase = "exec"
                pdf = df.toPandas()
            except Exception as e:  # a failing query is a counted failure
                rec["error"] = repr(e)[:400]
                pdf = None
            c2, t2 = time.perf_counter(), time.time()
            if tr:
                tr.op = tr.phase = None
            rec.update(build_s=c1 - c0, exec_s=c2 - c1,
                       window=(t0 * 1e3, t1 * 1e3, t2 * 1e3))
            wall += c2 - c0
            if pdf is not None:
                if tr and tr.enabled:
                    tr.enabled = False
                    rec["catalyst"] = catalyst_phases(df)
                    tr.enabled = True
                rec["output"] = _dump(pdf, os.path.join(
                    self.args.run_dir, "out", op.replace("/", "_") + ".pkl"))
            self.records.append(rec)
        return wall

    def _job_group(self, name: str) -> None:
        enabled, self.tracer.enabled = self.tracer.enabled, False
        self.spark.sparkContext.setJobGroup(name, name)
        self.tracer.enabled = enabled

    def run(self) -> dict:
        cold = self.one_pass(0)
        n = max(2, round(self.args.seconds / self.w.pass_s))
        warm = [self.one_pass(p) for p in range(1, n + 1)]
        by_query: dict[str, list[float]] = {}
        for r in self.records:
            if r["pass"] > 0 and "error" not in r:
                by_query.setdefault(r["query"], []).append(r["build_s"] + r["exec_s"])
        # each query's median, then their geometric mean: a median over the
        # pooled latencies of four queries falls in the gap between two of
        # them and jumps from one side to the other between runs
        p50 = {q: statistics.median(v) for q, v in by_query.items()}
        out = {
            "e2e": {
                "setup_s": None,
                "first_pass_s": cold,
                "wall_s": statistics.median(warm),
                "latency_s_p50": (statistics.geometric_mean(p50.values())
                                  if p50 else cold),
            },
            "samples": {"warm_passes": len(warm),
                        "query_latencies": sum(map(len, by_query.values())),
                        "query_p50_s": {q: round(v, 3) for q, v in p50.items()},
                        "cold_pass_s": round(cold, 3),
                        "warm_pass_s": [round(x, 3) for x in warm]},
            "warm_passes": list(range(1, len(warm) + 1)),
        }
        if self.tracer:
            self.tracer.enabled = False
            untraced = self.one_pass(len(warm) + 1)
            out["untraced_pass_s"] = untraced
            out["trace_overhead_s"] = statistics.median(warm) - untraced
        return out


def run_stream(spark, args, tracer) -> tuple[dict, list[dict]]:
    """Open-loop live stream: the generator in run.py drops one parquet file
    every LIVE_FILE_EVERY_S into ``live/src``; this side starts the query
    over a priming backlog, reports the time to its first emission, then
    signals the generator and drains until it has emitted everything."""
    live = os.path.join(args.run_dir, "live")
    src, ckpt = os.path.join(live, "src"), os.path.join(live, "ckpt")
    emitted = []

    def sink(batch_df, batch_id):
        pdf = batch_df.toPandas()
        if len(pdf):
            pdf["t_emit"] = time.time()
            pdf["batch_id"] = batch_id
            emitted.append(pdf)

    if tracer:
        tracer.op, tracer.phase = "stream", "build"
    t0, c0 = time.time(), time.perf_counter()
    sdf = spark.readStream.schema(gen.LIVE_SCHEMA).parquet(src)
    out = live_wiring(sdf)
    q = (out.writeStream.foreachBatch(sink).outputMode("append")
         .option("checkpointLocation", ckpt).start())
    build_s, t1 = time.perf_counter() - c0, time.time()
    if tracer:
        tracer.phase = "exec"
    _wait(lambda: emitted, 120, "first emission", q)
    first_pass_s = emitted[0]["t_emit"].iloc[0] - t0
    with open(os.path.join(live, "started"), "w") as f:
        f.write(str(time.time()))
    done_path = os.path.join(live, "gen_done")
    _wait(lambda: os.path.exists(done_path), args.seconds + 90, "generator", q)
    with open(done_path) as f:
        gen_info = json.load(f)
    q.processAllAvailable()
    t_end = time.time()
    _mark_measured(args.run_dir)
    progress = [p if isinstance(p, dict) else json.loads(p.json)
                for p in q.recentProgress]
    q.stop()
    if tracer:
        tracer.enabled = False
        tracer.op = tracer.phase = None

    # the check: the historical binding of the same wiring over every
    # generated row must equal what the stream emitted
    import pandas as pd
    import pyarrow.parquet as pq

    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    events = pd.concat([pq.read_table(os.path.join(src, f)).to_pandas()
                        for f in files], ignore_index=True)
    batch = live_wiring(spark.createDataFrame(events, gen.LIVE_SCHEMA)).toPandas()
    stream_rows = pd.concat(emitted, ignore_index=True)
    rec = {"query": "live_stream", "op": "stream", "pass": 1,
           "generated": len(events),
           "output": _dump(stream_rows.drop(columns=["t_emit", "batch_id"]),
                           os.path.join(args.run_dir, "out", "stream.pkl")),
           "expected": _dump(batch, os.path.join(args.run_dir, "out", "batch.pkl")),
           "window": (t0 * 1e3, t1 * 1e3, t_end * 1e3), "build_s": build_s,
           "exec_s": t_end - t1}
    if tracer:
        from tracing import catalyst_phases

        rec["catalyst"] = dict(catalyst_phases(out), planning=sum(
            p["durationMs"].get("queryPlanning", 0) for p in progress))

    gen_t0 = gen_info["t0"]
    warmup_s = min(wl.LIVE_WARMUP_S, args.seconds / 2)
    timed = stream_rows[stream_rows["ts_us"] >= warmup_s * 1e6]
    lat = (timed["t_emit"] - (gen_t0 + timed["ts_us"] / 1e6)).tolist()
    # the cold batch (the one that read the priming file) is left out of
    # the per-batch medians
    cold_id = int(emitted[0]["batch_id"].iloc[0])
    busy = [p for p in progress
            if p.get("numInputRows", 0) > 0 and p["batchId"] != cold_id]
    # one warm pass = the cycle between consecutive emissions after the
    # cold first batch
    emits = [float(e["t_emit"].iloc[0]) for e in emitted]
    cycles = [b - a for a, b in zip(emits[1:], emits[2:])]

    def dur(name):
        vals = [p["durationMs"].get(name, 0) for p in busy]
        return statistics.median(vals) if vals else 0.0

    state = [p["stateOperators"][0] for p in busy if p.get("stateOperators")]
    gen_s = gen_info["files"] * wl.LIVE_FILE_EVERY_S

    per_file = int(round(wl.LIVE_RATE_PER_S * wl.LIVE_FILE_EVERY_S))
    prime = int((events["ts_us"] < 0).sum())

    def backlog(t):  # events dropped by time t minus events emitted by t
        files = min(gen_info["files"], int((t - gen_t0) / wl.LIVE_FILE_EVERY_S))
        return prime + per_file * files - int((stream_rows["t_emit"] <= t).sum())

    growth = (backlog(gen_t0 + gen_s) - backlog(gen_t0 + warmup_s)) / (gen_s - warmup_s)
    result = {
        "e2e": {
            "setup_s": None,
            "first_pass_s": float(first_pass_s),
            "wall_s": statistics.median(cycles) if cycles else float(first_pass_s),
            "latency_s_p50": statistics.median(lat),
        },
        "samples": {"event_latencies": len(lat), "emission_cycles": len(cycles),
                    "progress_updates": len(progress)},
        "stream": {
            "batches": len(emitted),
            "latency_s_p99": _pct(lat, 0.99),
            "trigger_ms_p50": dur("triggerExecution"),
            "add_batch_ms_p50": dur("addBatch"),
            "planning_ms_p50": dur("queryPlanning"),
            "offsets_ms_p50": dur("latestOffset") + dur("getBatch"),
            "commit_ms_p50": dur("walCommit") + dur("commitOffsets"),
            "state_rows": state[-1].get("numRowsTotal", 0) if state else 0,
            "state_bytes": state[-1].get("memoryUsedBytes", 0) if state else 0,
            "state_commit_ms_p50": (statistics.median(
                s.get("commitTimeMs", 0) for s in state) if state else 0.0),
            "backlog_growth_events_per_s": growth,
            "generator_late_s_max": gen_info["late_s_max"],
            "add_batch_ms_sum": sum(p["durationMs"].get("addBatch", 0)
                                    for p in progress),
        },
        "warm_passes": [1],
    }
    return result, [rec]


def _mark_measured(run_dir: str) -> None:
    """Tell run.py the measured phases are over: later work (the live
    check, shutdown) no longer counts towards ``peak_pss_mb``."""
    with open(os.path.join(run_dir, "measured"), "w"):
        pass


def _wait(cond, timeout: float, what: str, query) -> None:
    """Poll ``cond`` every 10 ms; fail fast if the query died (checked
    every 0.5 s, each check is a py4j round trip)."""
    deadline = time.time() + timeout
    for i in itertools.count():
        if cond():
            return
        if time.time() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        if i % 50 == 0 and query.exception() is not None:
            raise RuntimeError(f"live query failed: {query.exception()}")
        time.sleep(0.01)


def order_book_msg_per_s(n: int = 600_000) -> float:
    """Single-core ``order_book_step`` throughput on a synthetic feed, the
    like-for-like figure for the reference's ~0.9 M msg/s order-book
    replay (median of three)."""
    import numpy as np
    import pandas as pd

    from wingfoil_spark.operators.market import order_book_step

    rng = np.random.default_rng(7)
    i = np.arange(n)
    pdf = pd.DataFrame({
        "ts": i.astype(np.int64), "upd_seq": i.astype(np.int64),
        "kind": np.where(i % 50 == 0, "snapshot", "delta"),
        "side": np.where(i % 2 == 0, "bid", "ask"),
        "level": rng.integers(0, 250, n),
        "qty_delta": (i % 10 - 2).astype(np.int64),
    })
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        order_book_step(None, pdf)
        times.append(time.perf_counter() - t0)
    return n / statistics.median(times)


def per_layer(w, runner_out: dict, records: list[dict], tracer,
              event_logs: list[str], cores: int) -> tuple[dict, list[dict]]:
    """Per-layer metrics: per warm pass, summed over its operations, then
    the median over warm passes. Also returns the per-operation table."""
    from tracing import parse_event_log

    windows = []
    for r in records:
        a, b, c = r["window"]
        windows += [(a, b, r["op"] + "/build"), (b, c, r["op"] + "/exec")]
    jobs = parse_event_log(event_logs, windows)
    table = []
    for r in records:
        if "catalyst" not in r and r["op"] != "stream":
            continue  # untraced pass
        calls, wait = tracer.py4j.get((r["op"], "build"), (0, 0.0))
        bj, ex = jobs.get(r["op"] + "/build", {}), jobs.get(r["op"] + "/exec", {})
        mods = tracer.module_table({r["op"]})
        mod = {k: sum(mods.get(m, {}).get(k, 0) for m in w.modules)
               for k in ("calls", "self_s", "py4j_calls")}
        cat = r.get("catalyst", {})
        table.append({
            "pass": r["pass"], "query": r["query"],
            "stream.build_s": r["build_s"], "stream.py4j_calls": calls,
            "stream.py4j_wait_s": wait, "stream.python_s": r["build_s"] - wait,
            "build.jobs": bj.get("jobs", 0),
            "build.job_s": bj.get("job_s", 0.0),
            "module.calls": mod.get("calls", 0),
            "module.self_s": mod.get("self_s", 0.0),
            "module.py4j_calls": mod.get("py4j_calls", 0),
            "catalyst.analysis_ms": cat.get("analysis", 0.0),
            "catalyst.optimization_ms": cat.get("optimization", 0.0),
            "catalyst.planning_ms": cat.get("planning", 0.0),
            "catalyst.plan_ms": cat.get("optimization", 0.0) + cat.get("planning", 0.0),
            "exec.s": r["exec_s"],
            **{f"exec.{k}": v for k, v in ex.items()},
        })
    per_pass = {}
    for row in table:
        if row["pass"] not in runner_out["warm_passes"]:
            continue
        acc = per_pass.setdefault(row["pass"], {})
        for k, v in row.items():
            if k in ("pass", "query"):
                continue
            if k == "exec.task_skew":
                acc[k] = max(acc.get(k, 1.0), v)
            else:
                acc[k] = acc.get(k, 0) + v
    names = [n for n, _ in wl.PER_LAYER]
    out = {}
    for n in names:
        vals = [acc.get(n, 0) for acc in per_pass.values()]
        out[n] = statistics.median(vals) if vals else 0
    out["exec.cpu_util"] = out["exec.executor_cpu_s"] / max(out["exec.s"] * cores, 1e-9)
    return out, table


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--sf-dir", default="")
    ap.add_argument("--spawn-time", type=float, required=True)
    args = ap.parse_args()
    w = wl.WORKLOADS[args.workload]
    os.makedirs(os.path.join(args.run_dir, "out"), exist_ok=True)

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install_py4j()
        tracer.wrap_package("wingfoil_spark")
    import __spark_entry__ as entry

    if tracer:
        tracer.wrap_functions(entry, "entry",
                              [n for n in vars(entry) if n.startswith("q_")])
    from wingfoil_spark.session import get_spark

    spark = get_spark("perfbench")
    _warm_up(spark)
    setup_s = time.time() - args.spawn_time
    if tracer:
        tracer.enabled = True

    if w.kind == "batch":
        runner = BatchRunner(spark, entry, w, args, tracer)
        result = runner.run()
        records = runner.records
    else:
        result, records = run_stream(spark, args, tracer)
    result["e2e"]["setup_s"] = setup_s
    _mark_measured(args.run_dir)
    cores = spark.sparkContext.defaultParallelism
    app_id = spark.sparkContext.applicationId
    spark.stop()

    result["records"] = records
    if tracer:
        tracer.enabled = False
        logs = sorted(
            (os.path.join(d, f)
             for d, _, fs in os.walk(os.path.join(args.run_dir, "eventlog"))
             for f in fs if f.startswith("events_") and app_id in f),
            key=lambda p: int(os.path.basename(p).split("_")[1]))
        layer, table = per_layer(w, result, records, tracer, logs, cores)
        if w.kind == "stream":
            layer["streaming.batches"] = result["stream"]["batches"]
            layer["streaming.state_rows"] = result["stream"]["state_rows"]
            layer["exec.s"] = result["stream"]["add_batch_ms_sum"] / 1e3
            layer["exec.cpu_util"] = layer["exec.executor_cpu_s"] / max(
                layer["exec.s"] * cores, 1e-9)
        layer["operators.order_book_msg_per_s"] = order_book_msg_per_s()
        result["per_layer"] = layer
        result["layer_table"] = table
        result["modules"] = tracer.module_table()
        tracer.write_spans(os.path.join(args.run_dir, "spans.jsonl"))
    with open(os.path.join(args.run_dir, "result.json"), "w") as f:
        json.dump(result, f, default=float)
    return 0


if __name__ == "__main__":
    sys.exit(main())
