"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload topic --seed 1 --seconds 16 --trace 0

Run from the root of a source checkout. A run

1. generates the workload's inputs from ``--seed`` in a separate process
   (``gen.py``; not timed, reported as ``gen_s``);
2. brings a Spark session up through the package's ``session.get_spark``
   on a fresh JVM and runs the workload's untimed warm-up passes
   (``setup_s``);
3. times passes of the workload for ``--seconds`` (tracing off);
4. with ``--trace 1``, times a second window with spans and Spark counters
   on, writes the spans to ``.perfbench/out/`` and reports the per-layer
   metrics and the tracing overhead against the first window;
5. checks the outputs against the ground truth and the oracles.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0 only
when every check passed and no operation failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
NPROC = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1
# with 2 GB the JVM heap grew to a different size run to run, and peak RSS
# spread 10-20% over seeds; 1 GB fills it alike every run
DRIVER_MEMORY = "1g"
RUN_MARK = "PERFBENCH_RUN"


def _declared() -> tuple[dict, dict]:
    """Units of the end-to-end and per-layer metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _env(work: str, run_id: str) -> None:
    """Confine the run to the checkout: temp files, Spark local dirs and JVM
    temp dirs go under ``work``; child processes carry a marker so the run
    can wait for every one of them."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            RUN_MARK: run_id,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_CPUS": str(NPROC),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "PYSPARK_PYTHON": sys.executable,
            # every JVM of the run, the launcher's too: no /tmp perf data
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        }
    )
    tempfile.tempdir = tmp


def _marked_pids(run_id: str) -> list[int]:
    """Processes other than this one whose environment carries the run mark."""
    mark = f"{RUN_MARK}={run_id}".encode()
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if mark in f.read().split(b"\0"):
                    pids.append(int(d))
        except OSError:
            continue
    return pids


def _reap(run_id: str, grace: float = 20.0) -> None:
    """Wait for every process this run started; terminate stragglers."""
    deadline = time.monotonic() + grace
    sig = None
    while pids := _marked_pids(run_id):
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for p in pids:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.1)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Session:
    """A SparkSession on its own JVM, built by the package's ``get_spark``."""

    def __init__(self) -> None:
        from kafka_topic_analyzer_spark.session import get_spark
        from pyspark import SparkContext

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.startup_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway = SparkContext._gateway
        self.jvm_pid = self._gateway.proc.pid

    def peak_rss_mb(self) -> float:
        return _vm_hwm_mb(self.jvm_pid) + _vm_hwm_mb("self")

    def close(self) -> None:
        """Stop the session and its JVM, so the next one starts cold."""
        from pyspark import SparkContext

        self.spark.stop()
        proc = self._gateway.proc
        self._gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _generate(workload: str, seed: int, out: str) -> tuple[dict, float]:
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload, "--seed", str(seed), "--out", out],
        check=True,
    )
    with open(os.path.join(out, "truth.json")) as f:
        return json.load(f), time.perf_counter() - t0


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def run(args) -> int:
    sys.path.insert(0, ROOT)
    import kafka_topic_analyzer_spark  # noqa: F401  (fails fast outside a checkout)
    import workloads
    from counters import Collector
    from spans import NullTracer, Tracer

    t_run = time.perf_counter()
    run_id = uuid.uuid4().hex
    work = os.path.join(STATE, f"work-{run_id[:12]}")
    os.makedirs(work)
    _env(work, run_id)
    session = None
    try:
        truth, gen_s = _generate(args.workload, args.seed, os.path.join(work, "inputs"))
        wl = workloads.WORKLOADS[args.workload](os.path.join(work, "inputs"), truth, work)

        # one set-up per run: a fresh JVM plus warm-up takes 20-45 s on a
        # 4-core host, and the run budget (README, Budget) has room for one
        t0 = time.perf_counter()
        session = Session()
        spark = session.spark
        wl.warm(spark)
        setup_s = time.perf_counter() - t0

        t_window = time.perf_counter()
        samples = wl.window(spark, args.seconds, NullTracer())
        window_s = time.perf_counter() - t_window
        peak_rss = session.peak_rss_mb()
        e2e = wl.end_to_end(samples)

        layers, overhead = {}, None
        if args.trace:
            collector = Collector(spark)
            tr = Tracer(collector)
            wl.wrap(tr)
            t_trace = time.perf_counter()
            try:
                traced = wl.window(spark, args.seconds, tr)
            finally:
                tr.unwrap_all()
                collector.close()
            wl.errors += [f"trace: {e}" for e in collector.errors]
            traced_e2e = wl.end_to_end(traced)
            overhead = e2e[wl.ops[0]] / traced_e2e[wl.ops[0]] - 1.0
            layers = {"session.startup_s": session.startup_s}
            layers.update(workloads.spark_layer(tr))
            layers.update(wl.layers(tr, traced))
            layers["trace.overhead"] = overhead
            out_dir = os.path.join(STATE, "out")
            os.makedirs(out_dir, exist_ok=True)
            base = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            tr.dump(base + ".spans.json", t_trace)
            with open(base + ".layers.json", "w") as f:
                json.dump(layers, f, indent=1, sort_keys=True)

        t_checks = time.perf_counter()
        try:
            checks = wl.checks(spark, samples)
        except Exception as e:  # a check that cannot run is a failed check
            checks = [("checks ran", False, f"{type(e).__name__}: {e}"[:500])]
        checks_s = time.perf_counter() - t_checks
        wl.attempted += len(checks)
        wl.failed += sum(1 for _, ok, _ in checks if not ok)
    finally:
        if session is not None:
            session.close()
        _reap(run_id)
        shutil.rmtree(work, ignore_errors=True)

    failed_share = wl.failed / wl.attempted
    correct = wl.failed == 0
    print(f"workload {args.workload}  seed {args.seed}  window {args.seconds}s  cores {NPROC}")
    print(f"  setup_s {setup_s:.3f} s")
    print(f"  not timed: gen_s {gen_s:.3f} s  window_s {window_s:.3f} s  checks_s {checks_s:.3f} s"
          f"  run_s {time.perf_counter() - t_run:.3f} s")
    print(f"  peak_rss_mb {peak_rss:.1f} MB   failed_share {failed_share:.4f} ({wl.failed}/{wl.attempted})")
    for k, v in e2e.items():
        unit = "1/s" if k.endswith("_per_s") else ("s" if k.endswith("_s") else "")
        print(f"  {k} {_fmt(v)} {unit}")
    for k, v in samples.items():
        if k.endswith("_walls"):
            print(f"  {k} " + " ".join(f"{w:.3f}" for w in v) + " s")
    for name, ok, detail in checks:
        print(f"  check {'ok  ' if ok else 'FAIL'} {name}  ({detail})")
    for err in wl.errors[:5]:
        print(f"  error {err}")
    if args.trace:
        print(f"  tracing overhead {overhead:+.3%} on {wl.ops[0]}")
        for k in sorted(layers):
            print(f"  layer {k} {_fmt(layers[k])}")

    end_to_end, per_layer = _declared()
    if args.trace:
        # a layer the workload never calls reads 0
        metrics = {m: {"value": layers.get(m, 0), "unit": u} for m, u in per_layer.items()}
    else:
        values = {"setup_s": setup_s, "peak_rss_mb": peak_rss}
        values.update({f"op{i}_items_per_s": e2e[op] for i, op in enumerate(wl.ops, 1)})
        metrics = {m: {"value": values[m], "unit": u} for m, u in end_to_end.items()}
    print(json.dumps({"correct": correct, "attempted": wl.attempted, "failed": wl.failed, "metrics": metrics}))
    return 0 if correct else 1


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=["topic", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return run(ap.parse_args())


if __name__ == "__main__":
    sys.exit(main())
