"""One benchmark run of one workload, from the root of a qfilter checkout.

    python3 perfbench/run.py --workload filter_batch --seed 1 --seconds 7 --trace 0

Load shape: a closed loop with one client.  A single driver process
starts a ``local[nproc]`` SparkSession and, after one untimed warm-up
iteration, runs the workload's operation again and again until the
timed operations add up to ``--seconds``, starting the next operation
only when the previous one has finished and been verified.

* ``--trace 0`` prints every end-to-end metric of ``BENCHMARK.json``.
* ``--trace 1`` runs the same loop with every other iteration traced,
  then the workload's layer probes, and prints every per-layer metric,
  including the tracing overhead; the spans go to ``perfbench/.traces/``.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  The exit code is 0 only if
every operation ran and every output matched its reference.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# seeded input generation is repeated and its median kept; setup_s is
# not reported with --trace 1, whose run has the least time to spare
SETUP_REPS = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--driver-mem", default="2g",
        help="driver JVM heap, passed to qfilter through QFILTER_DRIVER_MEM",
    )
    ap.add_argument(
        "--worker-pythonpath", choices=("checkout",), default="checkout",
        help="put the checkout root on the Python workers' PYTHONPATH so "
             "executors can import qfilter",
    )
    return ap.parse_args(argv)


class Run:
    """Session lifecycle and the closed measurement loop of one run."""

    def __init__(self, seed: int, cores: int, work: str):
        self.seed = seed
        self.cores = cores
        self.work = work
        self.spark = None
        self._jvm_proc = None
        self.attempted = 0
        self.failed = 0

    # ------------------------------------------------------------ session
    def start_session(self, cores: int) -> float:
        from qfilter.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app="perfbench",
            master=f"local[{cores}]",
            extra={
                # the status store's REST API is what SparkStatus reads
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedStages": "20000",
                "spark.ui.retainedJobs": "20000",
                "spark.driver.host": "127.0.0.1",
                "spark.driver.bindAddress": "127.0.0.1",
                # keep every file the run writes inside the checkout
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # a heap committed and touched up front: the tree's peak memory
                # then follows the workers and off-heap memory, not when
                # the collector chose to grow the heap
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.work}/tmp "
                    f"-Xms{os.environ['QFILTER_DRIVER_MEM']} -XX:+AlwaysPreTouch"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self._jvm_proc = SparkContext._gateway.proc
        return time.perf_counter() - t0

    def restart_session(self, cores: int):
        self.spark.stop()
        self.start_session(cores)
        return self.spark

    def jvm_pid(self) -> int:
        return self._jvm_proc.pid

    def close(self, procs=None) -> None:
        """Stop Spark, the JVM and its Python workers; wait for each."""
        tree = set()
        if procs is not None:
            tree = procs.pids()
            procs.stop()
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # noqa: BLE001 — still take the JVM down below
                traceback.print_exc()
        if self._jvm_proc is not None:
            from pyspark import SparkContext

            if SparkContext._gateway is not None:
                SparkContext._gateway.shutdown()
            self._jvm_proc.stdin.close()  # the gateway exits on EOF
            try:
                self._jvm_proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — TimeoutExpired
                self._jvm_proc.kill()
                self._jvm_proc.wait()
        deadline = time.monotonic() + 30
        alive = {p for p in tree if os.path.exists(f"/proc/{p}")}
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass

    # -------------------------------------------------------------- loop
    def warm_up(self, w) -> bool:
        """One untimed, verified iteration: starts the Python workers and
        fills the per-process caches the timed loop then finds warm."""
        self.attempted += 1
        try:
            w.iteration(0)
            problems = w.verify(0)
        except Exception:  # noqa: BLE001 — a raised run is a counted failure
            traceback.print_exc()
            problems = ["raised"]
        for p in problems:
            print(f"verify[{w.name} warm-up]: {p}", file=sys.stderr)
        self.failed += bool(problems)
        return not problems

    def loop(self, w, seconds: float, procs, status, tracer=None) -> dict:
        """Closed loop until the timed iterations add up to ``seconds``
        (verification is not counted), at least one iteration; samples per
        iteration, split into ``untraced`` and ``traced``.

        With a tracer the iterations alternate untraced, traced,
        untraced, ... and the loop ends on an untraced one, so every
        traced iteration sits between two untraced ones at about the
        same warmth; the loop stops at the first failed iteration."""
        out = {False: [], True: []}
        k = 1
        timed = 0.0
        while True:
            traced = tracer is not None and k % 2 == 0
            mark = status.mark()
            procs.take_peak()
            cpu0 = procs.sample()["cpu_s"]
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if traced:
                    tracer.trace_id = k
                    w.trace(tracer)
                    try:
                        with tracer.span("iteration", workload=w.name):
                            w.iteration(k)
                    finally:
                        tracer.unwrap_all()
                else:
                    w.iteration(k)
                wall = time.perf_counter() - t0
                cpu = procs.sample()["cpu_s"] - cpu0
                peak = procs.take_peak()
                delta = status.delta(mark, skew=traced)
                problems = w.verify(k)
            except Exception:  # noqa: BLE001 — a raised run is a counted failure
                traceback.print_exc()
                problems = ["raised"]
            else:
                if delta["spark.failed_tasks"]:
                    problems.append(f"{int(delta['spark.failed_tasks'])} failed Spark tasks")
            for p in problems:
                print(f"verify[{w.name} it{k}]: {p}", file=sys.stderr)
            if problems:
                self.failed += 1
                return out
            out[traced].append({
                "trace": k, "start": t0, "wall": wall, "cpu": cpu, "peak": peak,
                "spark": delta,
            })
            k += 1
            timed += wall
            if timed >= seconds and not traced and (
                tracer is None or out[True]
            ):
                return out


def heap_pools(spark):
    """The heap pools that hold data surviving a young collection.  Eden
    is left out: with the heap fixed at its maximum size the collector
    lets Eden fill most of it, whatever the live data."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [
        p for p in mf.getMemoryPoolMXBeans()
        if str(p.getType()) == "Heap memory" and "Eden" not in p.getName()
    ]


def execute(args, spec: dict, cores: int, work: str) -> dict:
    from probes import ProcTree, SparkStatus, Tracer, median
    from workloads import WORKLOADS

    run = Run(args.seed, cores, work)
    procs = None

    def result(metrics: dict) -> dict:
        return {"metrics": metrics, "attempted": run.attempted, "failed": run.failed}

    try:
        t0 = time.perf_counter()
        session_s = run.start_session(cores)
        procs = ProcTree(run.jvm_pid()).start()
        status = SparkStatus(run.spark)
        w = WORKLOADS[args.workload](run)
        init_s = time.perf_counter() - t0 - session_s
        reps = []
        for _ in range(1 if args.trace else SETUP_REPS):
            t1 = time.perf_counter()
            w.setup()
            reps.append(time.perf_counter() - t1)
        t1 = time.perf_counter()
        w.reference()
        ref_s = time.perf_counter() - t1
        if not run.warm_up(w):
            return result({})
        warm_s = time.perf_counter() - t1 - ref_s
        setup_s = session_s + init_s + median(reps) + ref_s + warm_s
        print(f"setup: session {session_s:.2f} s, init {init_s:.2f} s, inputs "
              f"{' '.join(f'{r:.2f}' for r in reps)} s, reference {ref_s:.2f} s, "
              f"warm-up {warm_s:.2f} s")

        tracer = Tracer() if args.trace else None
        if tracer is not None:
            pools = heap_pools(run.spark)
            for p in pools:
                p.resetPeakUsage()
        samples = run.loop(w, args.seconds, procs, status, tracer)
        if tracer is not None:
            heap_peak = sum(p.getPeakUsage().getUsed() for p in pools)
        base, traced = samples[False], samples[True]
        for name, ss in (("untraced", base), ("traced", traced)):
            if ss:
                print(f"{name} walls: " + " ".join(f"{s['wall']:.3f}" for s in ss))
        if run.failed:
            return result({})
        wall_s = median(s["wall"] for s in base)
        if tracer is None:
            metrics = {
                "setup_s": setup_s,
                "wall_s": wall_s,
                "images_per_s": w.n_rows / wall_s,
                "cpu_s": median(s["cpu"] for s in base),
                "peak_rss_mb": max(s["peak"]["total"] for s in base) / 2**20,
            }
        else:
            metrics = {m["name"]: 0.0 for m in spec["per_layer"]}
            metrics.update({
                "session.start_s": session_s,
                "trace.overhead_s": median(s["wall"] for s in traced) - wall_s,
                "mem.jvm_heap_peak_mb": heap_peak / 2**20,
                "mem.py_worker_rss_peak_mb":
                    max(s["peak"]["workers"] for s in traced) / 2**20,
            })
            for m in traced[0]["spark"]:
                metrics[m] = median(s["spark"][m] for s in traced)
            metrics.update(w.traced_layers(tracer, traced, wall_s))
            tracer.dump(os.path.join(HERE, ".traces", f"{w.name}-seed{args.seed}.json"))
        return result(metrics)
    finally:
        if run.spark is not None or procs is not None:
            run.close(procs)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "qfilter", "__init__.py")):
        print(f"perfbench: no qfilter package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [wl["name"] for wl in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2
    declared = spec["per_layer" if args.trace else "end_to_end"]

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["QFILTER_DRIVER_MEM"] = args.driver_mem
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        res = execute(args, spec, cores, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    correct = res["failed"] == 0 and res["attempted"] > 0
    unknown = set(got) - {m["name"] for m in declared}
    missing = {m["name"] for m in declared} - set(got)
    if unknown or (correct and missing):
        raise KeyError(f"metrics not declared: {sorted(unknown)}; not measured: {sorted(missing)}")
    # a failed run stops measuring early; its metrics read 0
    metrics = {
        m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]} for m in declared
    }
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
