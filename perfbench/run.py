#!/usr/bin/env python3
"""wingfoil_spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the repository root. The run

1. generates the workload's inputs from ``--seed`` under
   ``.perfbench_work/`` (tables for batch workloads; live_stream's priming
   file) and computes the DuckDB oracle of every batch query;
2. starts ``engine.py`` in a fresh process with a pinned configuration,
   samples the memory (PSS) of its process tree (driver, JVM, Python
   workers) and,
   for live_stream, drives the open-loop generator; at the end it waits
   until every process of the tree has ended;
3. checks every output: batch results against the oracle with the
   canonical compare of ``tests/test_oracle_parity.py``, the stream's
   emitted rows against the historical binding of the same step;
4. prints one JSON line: ``{"correct", "attempted", "failed", "metrics"}``
   with the end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``). Context (configuration, sample counts, steal,
   concurrent Spark JVMs, the per-layer table) goes to stderr.

Exits non-zero without a result when the engine cannot run at all.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads as wl  # noqa: E402

#: the engine is killed after this many seconds (the run must end < 180 s)
ENGINE_TIMEOUT_S = 160
REQUIRED = ("wingfoil_spark", "__spark_entry__.py", "tests/test_oracle_parity.py")
#: memory sampling period: one PSS read of the JVM takes about 20 ms of CPU
#: and holds the JVM's memory-map lock while it walks the page tables, so
#: sampling faster perturbs the timings it runs beside
MEM_SAMPLE_EVERY_S = 1.0


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- host


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, start time in clock ticks), every process."""
    table = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            table[int(p)] = (int(fields[1]), int(fields[19]))
        except (OSError, IndexError, ValueError):
            continue
    return table


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    between its sharers, so a forked Python worker does not count its
    parent's pages twice (a plain RSS sum jumps with every fork)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # the process ended between the listing and the read
    return 0


def _tree(root: int, table) -> list[int]:
    """``root`` and its descendants. The tree, not the process group:
    PySpark's worker daemon moves itself into a group of its own."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root] if root in table else []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, ())
    return out


def _other_spark_jvms() -> int:
    n = 0
    for pid in _proc_table():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().decode("utf-8", "replace").lower()
        except OSError:
            continue
        n += "java" in cmd and "spark" in cmd
    return n


class ProcessTree:
    """Every process the engine started, remembered by (pid, start time) so
    that orphans are still found after their parent exits."""

    def __init__(self, root: int):
        self.root = root
        self.seen: set[tuple[int, int]] = set()

    def _track(self, table) -> list[int]:
        pids = _tree(self.root, table)
        self.seen.update((pid, table[pid][1]) for pid in pids)
        return pids

    def sample_pss(self) -> dict[str, int]:
        """PSS bytes of the tree by part: the engine's driver process, the
        JVM and the Python workers."""
        parts = {"driver": 0, "jvm": 0, "workers": 0}
        for pid in self._track(_proc_table()):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue  # ended between the listing and the read
            part = ("driver" if pid == self.root
                    else "jvm" if comm == "java" else "workers")
            parts[part] += _pss_bytes(pid)
        return parts

    def alive(self) -> list[int]:
        table = _proc_table()
        self._track(table)
        return [pid for pid, start in self.seen
                if pid in table and table[pid][1] == start]

    def stop(self, grace_s: float) -> None:
        """Wait for every process to end; TERM then KILL what outlives
        ``grace_s``."""
        for sig in (None, signal.SIGTERM, signal.SIGKILL):
            for pid in self.alive() if sig is not None else ():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + grace_s
            while time.time() < deadline:
                if not self.alive():
                    return
                time.sleep(0.1)


def config() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        # well below host RAM: the session default (16g) exceeds small hosts
        "SPARK_DRIVER_MEMORY": f"{min(1024, mem_mb // 4)}m",
    }


# ---------------------------------------------------------------- inputs


def _oracle_module():
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_parity", os.path.join(ROOT, "tests", "test_oracle_parity.py"))
    mod = importlib.util.module_from_spec(spec)
    sys.path.insert(0, ROOT)
    spec.loader.exec_module(mod)
    return mod


def oracle_frames(parity, sf_dir: str, names, tables=gen.TABLES) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
        return {n: con.execute(parity.ORACLES[n]).df() for n in names}
    finally:
        con.close()


def _drop_file(src: str, index: int, table) -> None:
    import pyarrow.parquet as pq

    tmp = os.path.join(src, f".part-{index:05d}.parquet")  # ignored by Spark
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(src, f"part-{index:05d}.parquet"))


class Generator:
    """Single-threaded open-loop generator: file i is due at t0 + i*every
    regardless of how far the stream has got."""

    def __init__(self, seed: int, live: str, seconds: float):
        self.live = live
        self.src = os.path.join(live, "src")
        self.files = max(1, int(round(seconds / wl.LIVE_FILE_EVERY_S)))
        self.t0 = None
        self.next = 1
        self.late_max = 0.0
        self.events = 0
        os.makedirs(self.src, exist_ok=True)
        prime = gen.live_file(seed, 0, wl.LIVE_PRIME)
        self.events += prime.num_rows
        _drop_file(self.src, 0, prime)
        # build every file up front so the loop only writes
        self.tables = [gen.live_file(seed, i, wl.LIVE_PRIME)
                       for i in range(1, self.files + 1)]

    def due(self) -> float | None:
        if self.t0 is None:
            if not os.path.exists(os.path.join(self.live, "started")):
                return time.time() + 0.02
            self.t0 = time.time()
        if self.next > self.files:
            return None
        return self.t0 + self.next * wl.LIVE_FILE_EVERY_S

    def step(self) -> None:
        due = self.due()
        if due is None or time.time() < due:
            return
        table = self.tables[self.next - 1]
        _drop_file(self.src, self.next, table)
        self.late_max = max(self.late_max, time.time() - due)
        self.events += table.num_rows
        self.next += 1
        if self.next > self.files:
            with open(os.path.join(self.live, ".gen_done"), "w") as f:
                json.dump({"t0": self.t0, "events": self.events,
                           "files": self.files, "late_s_max": self.late_max}, f)
            os.rename(os.path.join(self.live, ".gen_done"),
                      os.path.join(self.live, "gen_done"))


# ---------------------------------------------------------------- checks


def check_batch(parity, records, oracle) -> tuple[int, list[str]]:
    import pandas as pd

    failed, notes = 0, []
    for r in records:
        if "error" in r:
            failed += 1
            notes.append(f"{r['op']}: {r['error']}")
            continue
        sdf = pd.read_pickle(r["output"])
        try:
            parity.compare(r["query"], sdf, oracle[r["query"]])
        except AssertionError as e:
            failed += 1
            notes.append(f"{r['op']}: {str(e)[:300]}")
    return failed, notes


def check_stream(parity, rec) -> tuple[int, list[str]]:
    """Failures = missing + extra + differing rows (keyed by event_id)."""
    import pandas as pd

    got, want = pd.read_pickle(rec["output"]), pd.read_pickle(rec["expected"])
    notes = []
    m = got.merge(want, on="event_id", how="outer", suffixes=("", "_b"),
                  indicator=True)
    missing = int((m["_merge"] == "right_only").sum())
    extra = int((m["_merge"] == "left_only").sum()) + int(
        got["event_id"].duplicated().sum())
    both = m[m["_merge"] == "both"]
    diff = pd.Series(False, index=both.index)
    for c in want.columns:
        if c != "event_id":
            a, b = both[c], both[c + "_b"]
            diff |= ~((a == b) | (a.isna() & b.isna()))
    failed = missing + extra + int(diff.sum())
    try:
        parity.compare("live_stream", got, want)
    except AssertionError as e:
        notes.append(str(e)[:300])
        failed = max(failed, 1)
    if missing or extra:
        notes.append(f"missing {missing}, extra {extra} of {rec['generated']}")
    return failed, notes


# ---------------------------------------------------------------- main


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the engine cleanup


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"cannot run: {', '.join(missing)} missing under {ROOT}")
        return 2
    w = wl.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(
        work, "runs", f"{w.name}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "eventlog"), os.path.join(work, "cache")):
        os.makedirs(d, exist_ok=True)

    t_run = time.time()
    cfg = config()
    parity = _oracle_module()
    sf_dir, oracle, generator = "", {}, None
    if w.kind == "batch":
        sf_dir = gen.write_tables(os.path.join(run_dir, "data"), args.seed, w.sf,
                                  w.tables)
        oracle = oracle_frames(parity, sf_dir, w.queries, w.tables)
    else:
        generator = Generator(args.seed, os.path.join(run_dir, "live"), args.seconds)

    submit = [
        # PerfDisableSharedMem: no /tmp/hsperfdata_<user> file, so the run
        # writes only inside the checkout. The heap is fixed at the driver
        # memory and touched at JVM start, so its share of peak_pss_mb does
        # not follow how far G1 happens to grow the heap in a run (that
        # moved live_stream's peak by up to 700 MB)
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem "
        f"-Xms{cfg['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        # keep every micro-batch's progress (Spark keeps only the last 100
        # by default), so the live stream's per-batch figures cover the run
        "--conf", "spark.sql.streaming.numRecentProgressUpdates=100000",
    ]
    if args.trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", f"spark.eventLog.dir=file://{os.path.join(run_dir, 'eventlog')}"]
    env = dict(
        os.environ, **cfg,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        TMPDIR=tmp,
        XDG_CACHE_HOME=os.path.join(work, "cache"),
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in submit) + " pyspark-shell",
    )
    log(f"config: workload={w.name} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} sf={w.sf} " + " ".join(f"{k}={v}" for k, v in cfg.items())
        + f" SPARK_LOCAL_DIRS={env['SPARK_LOCAL_DIRS']}")
    log(f"context: concurrent Spark JVMs at start: {_other_spark_jvms()}")

    log(f"timing: inputs and oracle {time.time() - t_run:.1f} s")
    steal0 = _steal_jiffies()
    engine_log = os.path.join(run_dir, "engine.log")
    spawn = time.time()
    with open(engine_log, "w") as logf:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"),
             "--workload", w.name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--run-dir", run_dir, "--sf-dir", sf_dir, "--spawn-time", repr(spawn)],
            cwd=ROOT, env=env, stdout=logf, stderr=subprocess.STDOUT,
            start_new_session=True)
    tree = ProcessTree(proc.pid)
    measured = os.path.join(run_dir, "measured")
    peak, peak_parts, next_mem, timed_out = 0, {}, 0.0, False
    try:
        while proc.poll() is None:
            now = time.time()
            if now - spawn > ENGINE_TIMEOUT_S:
                timed_out = True
                break
            if generator is not None:
                generator.step()
            if now >= next_mem:
                parts = tree.sample_pss()
                if not os.path.exists(measured) and sum(parts.values()) > peak:
                    peak, peak_parts = sum(parts.values()), parts
                next_mem = now + MEM_SAMPLE_EVERY_S
            due = generator.due() if generator is not None else None
            wake = min(next_mem, due) if due is not None else next_mem
            time.sleep(max(0.0, min(0.05, wake - time.time())))
    finally:
        tree.stop(15.0)
        proc.wait()
    steal = _steal_jiffies() - steal0
    log(f"timing: engine process {time.time() - spawn:.1f} s")

    result_path = os.path.join(run_dir, "result.json")
    if timed_out or proc.returncode != 0 or not os.path.exists(result_path):
        with open(engine_log) as f:
            tail = f.read()[-4000:]
        log(f"engine failed (exit {proc.returncode}, timed out: {timed_out}):\n{tail}")
        _cleanup(run_dir)
        return 1
    with open(result_path) as f:
        res = json.load(f)

    records = res["records"]
    if w.kind == "batch":
        attempted = len(records)
        failed, notes = check_batch(parity, records, oracle)
    else:
        attempted = records[0]["generated"]
        failed, notes = check_stream(parity, records[0])
    for n in notes:
        log(f"FAILED {n}")

    log(f"samples: {json.dumps(res['samples'])}")
    if "stream" in res:
        log("stream: " + json.dumps(res["stream"]))
    if args.trace:
        values = dict(res["per_layer"], **{"host.steal_jiffies": steal})
        _print_layer_table(res)
        if "trace_overhead_s" in res:
            log(f"tracing overhead: traced warm pass minus untraced pass = "
                f"{res['trace_overhead_s']:.3f} s (untraced {res['untraced_pass_s']:.3f} s)")
        metrics = wl.PER_LAYER
    else:
        values = dict(res["e2e"], peak_pss_mb=peak / 2**20)
        log(f"context: steal jiffies during run: {steal}")
        log("memory at peak (MB): " + " ".join(
            f"{k}={v / 2**20:.0f}" for k, v in peak_parts.items()))
        metrics = wl.END_TO_END
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in metrics},
    }
    with open(os.path.join(work, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"workload": w.name, "seed": args.seed,
                            "trace": args.trace, "time": spawn, **out}) + "\n")
    _cleanup(run_dir)
    log(f"timing: whole run {time.time() - t_run:.1f} s")
    print(json.dumps(out))
    return 0


def _print_layer_table(res: dict) -> None:
    cols = ["stream.build_s", "stream.py4j_wait_s", "stream.py4j_calls",
            "build.jobs", "build.job_s", "module.self_s",
            "catalyst.optimization_ms", "catalyst.planning_ms", "exec.s",
            "exec.jobs", "exec.tasks", "exec.executor_cpu_s", "exec.gc_s",
            "exec.spill_bytes"]
    log("per-layer table (traced passes):")
    log("pass query".ljust(34) + " ".join(c.split(".", 1)[1][:12].rjust(12) for c in cols))
    for row in res["layer_table"]:
        log(f"{row['pass']:>4} {row['query'][:28]:<29}"
            + " ".join(f"{row.get(c, 0):12.3f}" if isinstance(row.get(c, 0), float)
                       else f"{row.get(c, 0):12d}" for c in cols))
    log("modules (all traced spans): " + json.dumps(
        {k: {kk: round(vv, 4) for kk, vv in v.items()} for k, v in res["modules"].items()}))


def _cleanup(run_dir: str) -> None:
    """Keep result.json, spans.jsonl and engine.log; drop inputs, outputs,
    event log, checkpoints and Spark scratch."""
    for name in ("data", "out", "tmp", "live", "eventlog", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, name), ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
