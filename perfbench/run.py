"""Benchmark entry point.

    python3 perfbench/run.py --workload <survey_medallion|query_mix|stream_ingest> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root, in one process with one client and a
closed loop on ``local[<cores>]``. A run:

1. generates the workload's inputs from ``--seed`` (outside all timing);
2. sets up once, cold: starts the JVM and a Spark session and runs the
   first op of round 0; that time is ``setup_s``;
3. runs the rest of round 0 untimed, so caches and code generation are
   done before anything is counted, then resets the peak-memory marks;
4. with ``--trace 0``, runs whole rounds until ``--seconds`` have
   passed and reports the end-to-end metrics;
5. with ``--trace 1``, runs the workload's ``TRACE_ROUNDS`` rounds
   instead, in which traced and untraced ops alternate, and reports the
   per-layer metrics, plus the spans as JSON lines under ``.perfbench/``.

Every op's output is checked, and so is the state a round leaves; the
last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. The exit code is 1 when any check failed and
2 when the engine is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.getcwd()
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s",
    "rows_per_s": "rows/s", "peak_rss_mb": "MiB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit; a traced run of any
    workload reports all of them, 0 for a layer it never calls."""
    from perfbench.workloads import HEADLINE, STAGES

    units = {"session.get_session_s": "s"}
    for st in STAGES:
        units.update({f"pipeline.{st}.build_s": "s", f"pipeline.{st}.exec_s": "s",
                      f"pipeline.{st}.jobs": "count", f"pipeline.{st}.tasks": "count",
                      f"pipeline.{st}.shuffle_bytes": "bytes",
                      f"pipeline.{st}.executor_cpu_s": "s"})
    units.update({"sources.read_csv_s": "s", "sources.export_s": "s",
                  "sources.bytes_written": "bytes", "sources.write_amplification": "ratio"})
    for q in HEADLINE:
        units.update({f"query.{q}.build_s": "s", f"query.{q}.exec_s": "s",
                      f"query.{q}.jobs": "count"})
    units.update({"query_mix.tasks": "count", "query_mix.shuffle_bytes": "bytes",
                  "query_mix.executor_cpu_s": "s", "query_mix.stage_reuse_ratio": "ratio"})
    for sink in ("dedup", "ann"):
        units.update({f"streaming.{sink}.batch_s": "s", f"streaming.{sink}.jobs": "count",
                      f"streaming.{sink}.shuffle_bytes": "bytes",
                      f"streaming.{sink}.bytes_written": "bytes",
                      f"streaming.{sink}.state_bytes": "bytes",
                      f"streaming.{sink}.state_files": "count",
                      f"streaming.{sink}.slope": "ratio"})
    units["trace.overhead_share"] = "ratio"
    return units


def is_traced(key: int, k: int) -> bool:
    """Whether trace round ``k`` traces an op with key ``key``: see
    ``Runner.trace_rounds``."""
    return (key + k + k // 2) % 2 == 0


def _isolate(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run's own directory inside the checkout."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # A fixed heap, touched in full at start: without -Xms G1 grows the
    # heap by its GC-time heuristics, and without the pre-touch the
    # share of the heap a run happens to touch decides the JVM's peak
    # RSS; either moved it 20-25% between runs of the same work. So
    # peak_rss_mb moves with memory outside the heap and in Python, not
    # with heap use. No hsperfdata file under /tmp.
    java_opts = (f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell")
    os.chdir(work)


class Runner:
    def __init__(self, workload, seed: int, seconds: float, trace: bool):
        from perfbench.workloads import WORKLOADS

        self.wl = WORKLOADS[workload]()
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.attempted = self.failed = 0
        self.spark = None

    def _op(self, tracer, item, op_id: int) -> tuple[float, int]:
        t0 = time.perf_counter()
        with tracer.op(op_id):
            rows, ok = self.wl.op(self.spark, tracer, item)
        dt = time.perf_counter() - t0
        self.attempted += 1
        self._count(ok, f"op {op_id} ({item})")
        return dt, rows

    def _count(self, ok: bool, what: str) -> None:
        self.failed += not ok
        if not ok:
            print(f"# check failed: {self.wl.name} {what}", flush=True)

    def _check_round(self, rnd: int) -> None:
        """The state a round left behind, checked outside all timing; a
        failure counts against the round's last op."""
        self._count(self.wl.check_round(self.spark), f"round {rnd}")

    def setup(self) -> tuple[float, float]:
        """The cold set-up: start the JVM and a Spark session, then run
        the first op of round 0. Returns (set-up, session start) in
        seconds."""
        from ffi_etl_spark.session import get_session
        from perfbench.trace import Tracer

        t0 = time.perf_counter()
        self.spark = get_session(f"perfbench-{self.wl.name}")
        session = time.perf_counter() - t0
        self._op(Tracer(self.spark.sparkContext, False), self.wl.setup_item, -1)
        return time.perf_counter() - t0, session

    def warm_up(self, tracer) -> None:
        """The rest of round 0, untimed, on ``WARMUP_THREADS`` client
        threads."""
        items = self.wl.schedule(self.seed, 0)
        items.remove(self.wl.setup_item)
        with ThreadPoolExecutor(self.wl.WARMUP_THREADS) as ex:
            oks = list(ex.map(lambda item: self.wl.op(self.spark, tracer, item)[1], items))
        for item, ok in zip(items, oks):
            self.attempted += 1
            self._count(ok, f"warm-up op ({item})")
        self._check_round(0)

    def rounds(self, tracer, first_round: int, seconds: float):
        """Whole rounds until their ops took ``seconds``. Returns
        (latencies, rows, elapsed, rounds)."""
        lat, rows, elapsed, rnd = [], 0, 0.0, first_round
        while True:
            t0 = time.perf_counter()
            for item in self.wl.schedule(self.seed, rnd):
                dt, r = self._op(tracer, item, len(lat))
                lat.append(dt)
                rows += r
            elapsed += time.perf_counter() - t0
            self._check_round(rnd)
            rnd += 1
            if elapsed >= seconds:
                return lat, rows, elapsed, rnd - first_round

    def trace_rounds(self, first_round: int):
        """The workload's ``TRACE_ROUNDS`` rounds, in which traced and
        untraced ops alternate: in round k an op is traced when its key
        plus k + k // 2 is even. Over two rounds, a query (keyed by its
        place in the list) runs traced once and untraced once; over four
        one-op rounds (key 0) ops run traced, untraced, untraced,
        traced, so warming and drift weigh on both sides alike. Returns
        the tracer and ``trace.overhead_share``: the traced ops' total
        latency over the untraced ops' total, minus 1 (on query_mix both
        totals cover every query once; the medians of two such mixed
        sets moved by up to 24% between runs of the same seed)."""
        from perfbench.trace import Tracer

        on = Tracer(self.spark.sparkContext, True)
        off = Tracer(self.spark.sparkContext, False)
        lat: dict[bool, list[float]] = {True: [], False: []}
        for k in range(self.wl.TRACE_ROUNDS):
            for item in self.wl.schedule(self.seed, first_round + k):
                traced = is_traced(self.wl.key(item), k)
                dt, _ = self._op(on if traced else off, item, len(lat[True]) + len(lat[False]))
                lat[traced].append(dt)
            on.collect_counters()
            self._check_round(first_round + k)
        return on, sum(lat[True]) / sum(lat[False]) - 1

    def run(self, work: str) -> dict:
        from perfbench import stats
        from perfbench.trace import Tracer

        t0 = time.perf_counter()
        manifest = self.wl.prepare(work, self.seed)
        print(f"# {self.wl.name} seed={self.seed} inputs: {json.dumps(manifest)}", flush=True)
        phases = {"prepare": time.perf_counter() - t0}
        setup_s, session_s = self.setup()
        phases["setup"] = setup_s
        off = Tracer(self.spark.sparkContext, False)
        t0 = time.perf_counter()
        self.warm_up(off)
        phases["warm_up"] = time.perf_counter() - t0
        print(f"# get_session_s = {session_s:.3f}", flush=True)
        if self.trace:
            t0 = time.perf_counter()
            tracer, overhead = self.trace_rounds(1)
            phases["trace"] = time.perf_counter() - t0
            print("# phases_s: " + ", ".join(f"{k}={v:.1f}" for k, v in phases.items()))
            out_dir = os.path.join(ROOT, ".perfbench")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{self.wl.name}-seed{self.seed}.jsonl"))
            layer = layer_metrics(tracer, self.wl, manifest)
            layer["session.get_session_s"] = session_s
            layer["trace.overhead_share"] = overhead
            print(f"# trace.overhead_share = {overhead:.4f}")
            units = per_layer_units()
            return {k: {"value": layer.get(k, 0), "unit": u} for k, u in units.items()}

        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()  # warm-up garbage is not the timed ops' cost
        jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        for pid in ("self", jvm_pid):  # the peak covers the timed rounds only
            stats.reset_hwm(pid)
        t0 = time.perf_counter()
        lat, rows, elapsed, n_rounds = self.rounds(off, 1, self.seconds)
        phases["timed"] = time.perf_counter() - t0
        pct, tail_v, n = stats.tail(lat)
        rss = {"python": stats.vm_hwm_mb(), "jvm": stats.vm_hwm_mb(jvm_pid)}
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_v,
            "ops_per_s": len(lat) / elapsed,
            "rows_per_s": rows / elapsed,
            "peak_rss_mb": rss["python"] + rss["jvm"],
        }
        print("# phases_s: " + ", ".join(f"{k}={v:.1f}" for k, v in phases.items()))
        print("# peak_rss_mb by process: " + ", ".join(f"{k}={v:.1f}" for k, v in rss.items()))
        print(f"# timed: {len(lat)} ops in {n_rounds} rounds, {elapsed:.2f} s; "
              f"tail = p{pct:g} of {n} samples; latencies {[round(x, 3) for x in lat]}")
        for k, v in e2e.items():
            print(f"# {k} = {v:.6g} {END_TO_END[k]}")
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}


def _inclusive(spans: list[dict], sp: dict, key: str):
    """A counter summed over a span and all its descendants."""
    kids = [s for s in spans if s["parent"] == sp["id"]]
    return sp.get(key, 0) + sum(_inclusive(spans, k, key) for k in kids)


def layer_metrics(tracer, wl, manifest: dict) -> dict:
    """Per-layer numbers from the traced rounds' spans: medians over
    ops for times and per-op counters."""
    from perfbench.workloads import STAGES

    med = statistics.median
    spans = tracer.spans
    by_name: dict[str, list[dict]] = {}
    for sp in spans:
        by_name.setdefault(sp["name"], []).append(sp)
    out: dict[str, float] = {}

    for st in STAGES:
        ss = by_name.get(f"pipeline.stage.{st}", [])
        if ss:
            out[f"pipeline.{st}.build_s"] = med([s["build_end"] - s["start"] for s in ss])
            out[f"pipeline.{st}.exec_s"] = med([s["end"] - s["build_end"] for s in ss])
            for c in ("jobs", "tasks", "shuffle_bytes", "executor_cpu_s"):
                out[f"pipeline.{st}.{c}"] = med([_inclusive(spans, s, c) for s in ss])
    for name in ("read_csv", "export"):
        per_op: dict[int, float] = {}  # an op reads and exports several files
        for s in by_name.get(f"sources.{name}", []):
            per_op[s["op"]] = per_op.get(s["op"], 0.0) + s["end"] - s["start"]
        if per_op:
            out[f"sources.{name}_s"] = med(per_op.values())
    if getattr(wl, "bytes_written", None):
        out["sources.bytes_written"] = med(wl.bytes_written)
        out["sources.write_amplification"] = out["sources.bytes_written"] / manifest["input_bytes"]

    queries = [s for s in spans if s["name"].startswith("query.") and s["parent"] is None]
    for s in queries:
        q = s["name"]
        out[f"{q}.build_s"] = med([k["end"] - k["start"] for k in by_name[f"{q}.build"]])
        out[f"{q}.exec_s"] = med([k["end"] - k["start"] for k in by_name[f"{q}.exec"]])
        out[f"{q}.jobs"] = med([_inclusive(spans, k, "jobs") for k in by_name[q]])
    if queries:
        rounds = max(1, len(queries) // len(set(s["name"] for s in queries)))
        for c in ("tasks", "shuffle_bytes", "executor_cpu_s"):
            out[f"query_mix.{c}"] = sum(_inclusive(spans, s, c) for s in queries) / rounds
        planned = sum(_inclusive(spans, s, "stages") for s in queries)
        skipped = sum(_inclusive(spans, s, "skipped_stages") for s in queries)
        out["query_mix.stage_reuse_ratio"] = skipped / planned if planned else 0.0

    for sink in ("dedup", "ann"):
        ss = sorted(by_name.get(f"streaming.{sink}", []), key=lambda s: s["start"])
        if not ss:
            continue
        times = [s["end"] - s["start"] for s in ss]
        out[f"streaming.{sink}.batch_s"] = med(times)
        for c in ("jobs", "shuffle_bytes", "bytes_written"):
            out[f"streaming.{sink}.{c}"] = med([s[c] for s in ss])
        state_bytes, state_files = wl.state_usage(sink)
        out[f"streaming.{sink}.state_bytes"] = state_bytes
        out[f"streaming.{sink}.state_files"] = state_files
        # every batch appended after round 0, traced or not: the late
        # half's median over the early half's
        appends = wl.append_times[sink]
        half = len(appends) // 2
        out[f"streaming.{sink}.slope"] = med(appends[-half:]) / med(appends[:half])
    return out


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ffi_etl_spark", "pipeline.py")):
        print(f"perfbench: no engine package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    _isolate(work)
    runner = Runner(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        metrics = runner.run(work)
    finally:
        if runner.spark is not None:
            runner.spark.stop()
            _stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(f"# error_rate = {runner.failed / runner.attempted:.6g} "
          f"({runner.failed} of {runner.attempted} ops)")
    print(json.dumps({"correct": runner.failed == 0, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0 if runner.failed == 0 else 1


def _stop_jvm() -> None:
    """Shut the py4j gateway's JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    if proc is not None:  # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
