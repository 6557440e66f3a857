"""Workload and metric definitions shared by the orchestrator, the engine
process and the tests. BENCHMARK.json lists the same workload and metric
names; ``test_perfbench.py`` keeps the two in step.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    #: ``batch`` = closed loop, one client, queries from
    #: ``__spark_entry__.queries()``; ``stream`` = open-loop generator
    #: feeding a Structured Streaming query
    kind: str
    #: the wingfoil_spark subpackages the workload is built to load; their
    #: spans give the ``module.*`` per-layer metrics
    modules: tuple[str, ...]
    #: scale factor of the generated tables (batch) or None (stream)
    sf: float | None
    queries: tuple[str, ...] = ()
    #: the generated tables the queries (and their oracles) read
    tables: tuple[str, ...] = ()
    #: nominal seconds of one warm pass: a run makes
    #: max(2, round(seconds / pass_s)) warm passes, the same work on every
    #: run whatever the host's speed
    pass_s: float = 0.0


WORKLOADS = {
    w.name: w for w in (
        # closed-loop historical replay: window frames over events, an
        # embedding dedup with py4j assembly and eager build-time jobs, and
        # a relational sessionize; at sf0.01 a pass is about half build
        # (py4j) and half execution, dominated by per-job fixed costs
        Workload("batch", "batch", ("operators", "functions", "plans"), 0.01, (
            "sessionize", "dynamic_group_sum", "analysis_scores",
            "cosine_near_dups",
        ), ("events", "embeddings"), pass_s=4.0),
        # open-loop file-source stream through the state-store binding of a
        # keyed EWMA; bound by the fixed cost of each micro-batch
        Workload("live_stream", "stream", ("streaming",), None),
    )
}

#: live_stream generator: fixed offered rate, file cadence, key space
LIVE_RATE_PER_S = 2000
LIVE_FILE_EVERY_S = 0.1
#: few enough keys that every micro-batch holds nearly all of them: the
#: state-store step then costs about the same whatever the batch size, so a
#: slow batch does not make the next one bigger and slower (with 500 keys
#: the live timings spread up to 0.31 over ten runs, with 50 up to 0.2)
LIVE_KEYS = 50
LIVE_ZIPF_A = 1.3
#: events in the priming file, read by the stream's cold start
LIVE_PRIME = LIVE_RATE_PER_S // 2
#: events created in the first LIVE_WARMUP_S of the open loop (at most
#: half of it) are emitted and checked but excluded from the latencies
LIVE_WARMUP_S = 2.0

#: (name, unit) of the end-to-end metrics, printed with --trace 0
END_TO_END = (
    ("setup_s", "s"),
    ("first_pass_s", "s"),
    ("wall_s", "s"),
    ("latency_s_p50", "s"),
    ("peak_pss_mb", "MB"),
)

#: (name, unit) of the per-layer metrics, printed with --trace 1
PER_LAYER = (
    ("stream.build_s", "s"),
    ("stream.py4j_calls", "count"),
    ("stream.py4j_wait_s", "s"),
    ("stream.python_s", "s"),
    ("build.jobs", "count"),
    ("module.calls", "count"),
    ("module.self_s", "s"),
    ("module.py4j_calls", "count"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.plan_ms", "ms"),
    ("exec.s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.executor_cpu_s", "s"),
    ("exec.cpu_util", "ratio"),
    ("exec.scheduler_delay_s", "s"),
    ("exec.task_skew", "ratio"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.input_bytes", "bytes"),
    ("exec.python_bytes_sent", "bytes"),
    ("exec.python_bytes_received", "bytes"),
    ("streaming.batches", "count"),
    ("streaming.state_rows", "count"),
    ("operators.order_book_msg_per_s", "msg/s"),
    ("host.steal_jiffies", "count"),
)
