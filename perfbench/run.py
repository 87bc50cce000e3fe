"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sql_read --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the layer wrappers are installed and the metrics are the per-layer
ones (and the spans are written to ``perfbench/_out/``). Earlier lines
carry the environment record and a per-operation summary.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
# Fixed constants of the benchmark, not read from the host: Spark runs
# local[2] beside the driver's Python and the JVM's own threads on a
# 4-core box, with a heap that fits the box.
CORES = 2
DRIVER_MEM = "2g"


def _proc_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def calibrate() -> float:
    """Median of three runs of a fixed pure-Python loop: a host-noise
    diagnostic, never used to normalize a metric."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        sum(i * i for i in range(300_000))
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def fs_type(path: str) -> str:
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, fstype = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) \
                    and len(mnt) > len(best):
                best, kind = mnt, fstype
    return kind


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Runner:
    def __init__(self, args, work: Path) -> None:
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.timed: list[dict] = []

    def execute(self, workload, op, tracer, op_id: int) -> dict:
        if tracer is not None:
            tracer.op_id = op_id
        t0 = time.perf_counter()
        err = result = None
        try:
            result = op.run()
        except Exception as e:  # an engine failure is counted, not raised
            err = e
        latency = time.perf_counter() - t0
        if tracer is not None:
            tracer.op_id = None
        ok = False
        if err is None:
            try:
                ok = workload.check(op, result)
            except Exception as e:  # a malformed result is a wrong result
                err = e
        self.attempted += 1
        rec = {"id": op_id, "kind": op.kind, "cls": op.cls, "t0": t0,
               "latency": latency, "ok": ok,
               "rows": op.rows(result) if ok else 0,
               "detail": op.info.get("detail")}
        if not ok:
            self.failed += 1
            msg = f"{op.kind}: " + (
                "".join(traceback.format_exception_only(err)).strip()
                if err is not None else "wrong result")
            self.errors.append(msg)
            print(f"perfbench: operation failed: {msg}", file=sys.stderr)
            if hasattr(workload, "resync"):
                workload.resync()
        return rec

    def run(self) -> int:
        from perfbench import stats
        from perfbench.workloads import WORKLOADS

        args = self.args
        stat0, load0 = _proc_stat(), os.getloadavg()[0]
        cal = [calibrate()]
        workload = WORKLOADS[args.workload](None, args.seed, str(self.work))

        t = time.perf_counter()
        from seamdb_spark.session import build_session

        spark = build_session(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": str(self.work / "spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        try:
            spark.range(1).count()
            session_start_s = time.perf_counter() - t
            return self._run_with(spark, workload, session_start_s,
                                  stat0, load0, cal, stats)
        finally:
            stop_spark(spark)

    def _run_with(self, spark, workload, session_start_s, stat0, load0,
                  cal, stats) -> int:
        args = self.args
        workload.spark = spark
        marks = {"session_ready": time.perf_counter()}
        workload.setup()
        marks["setup_done"] = time.perf_counter()
        # one cold set-up: what a process start pays
        setup_s = session_start_s + marks["setup_done"] - marks["session_ready"]
        workload.prepare()
        marks["prepared"] = time.perf_counter()

        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            tracer.install()
        ops = workload.ops()
        op_id = 0
        for _ in range(workload.warmup_ops):
            op_id += 1
            self.execute(workload, next(ops), tracer, op_id)

        job0 = tracer.next_job_id() if tracer else 0
        gc0 = tracer.gc_ms() if tracer else 0.0
        cpu0 = time.process_time()
        start = marks["warmed_up"] = time.perf_counter()
        deadline = start + args.seconds
        # The window lasts --seconds, rounded up to whole cycles of the
        # workload's operation mix, so every window holds the same mix.
        while time.perf_counter() < deadline or len(self.timed) % workload.cycle_len:
            op_id += 1
            self.timed.append(self.execute(workload, next(ops), tracer, op_id))
        window = time.perf_counter() - start
        cpu_s = time.process_time() - cpu0
        # Spark jobs and GC time are read now: the final check below
        # runs jobs of its own outside the window
        job1 = tracer.next_job_id() if tracer else 0
        gc1 = tracer.gc_ms() if tracer else 0.0
        if tracer is not None:
            tracer.uninstall()

        marks["window_done"] = time.perf_counter()
        problems = workload.final_check()
        marks["checked"] = time.perf_counter()
        for p in problems:
            print(f"perfbench: final check failed: {p}", file=sys.stderr)
        cal.append(calibrate())
        stat1 = _proc_stat()
        d = [b - a for a, b in zip(stat0, stat1)]
        steal_share = d[7] / max(1, sum(d))

        # Latencies count every timed operation, failed ones too: a
        # failure is reported through "failed", not hidden from timing.
        lat = [r["latency"] for r in self.timed]
        per_kind = stats.median_by_kind([(r["kind"], r["latency"]) for r in self.timed])
        cls_of = {r["kind"]: r["cls"] for r in self.timed}

        def class_s(cls: str) -> float:
            return stats.geomean([v for k, v in per_kind.items() if cls_of[k] == cls])

        tail = stats.tail(lat)
        env = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
            "core_budget": CORES, "driver_mem": DRIVER_MEM,
            "warehouse_dir": str(self.work.relative_to(ROOT)),
            "warehouse_fs": fs_type(str(self.work)),
            "pyspark": __import__("pyspark").__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty(
                "java.version"),
            "python": platform.python_version(),
            "steal_ticks": d[7], "steal_share": steal_share,
            "loadavg": [load0, os.getloadavg()[0]], "cal_s": cal,
            "process_s": time.perf_counter() - T_PROCESS,
        }
        summary = {
            "phases_s": {k: v - T_PROCESS for k, v in marks.items()},
            "setup_s": setup_s, "setup_detail": workload.setup_detail,
            "session_start_s": session_start_s,
            "window_s": window, "timed_ops": len(self.timed),
            "cycles": len(self.timed) // workload.cycle_len,
            "median_by_kind": per_kind,
            "n_by_kind": {k: sum(1 for r in self.timed if r["kind"] == k)
                          for k in per_kind},
            "tail": {"value": tail[0], "percentile": tail[1], "n": tail[2]}
            if tail else None,
            "error_share": self.failed / max(1, self.attempted),
            "errors": self.errors[:20], "final_problems": problems,
        }
        print("perfbench-env " + json.dumps(env))
        print("perfbench-summary " + json.dumps(summary))

        if not args.trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                "light_s": (class_s("light"), "s"),
                "heavy_s": (class_s("heavy"), "s"),
                "ops_per_s": (len(self.timed) / window, "ops/s"),
                "rows_per_s": (sum(r["rows"] for r in self.timed) / window, "rows/s"),
            }
        else:
            metrics = self._layer_metrics(tracer, (job0, job1), gc1 - gc0,
                                          cpu_s, window, session_start_s,
                                          steal_share, cal, env, summary,
                                          class_s)
        declared = declared_units("per_layer" if args.trace else "end_to_end")
        if set(metrics) != set(declared):
            raise RuntimeError(
                f"metrics {sorted(set(metrics) ^ set(declared))} do not match"
                " BENCHMARK.json")
        result = {
            "correct": self.failed == 0 and not problems,
            "attempted": self.attempted,
            "failed": self.failed + len(problems),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result))
        return 0

    def _layer_metrics(self, tracer, jobs, gc_ms, cpu_s, window,
                       session_start_s, steal_share, cal, env, summary,
                       class_s) -> dict:
        from perfbench.trace import layer_metrics

        n = max(1, len(self.timed))
        spark_tot = tracer.spark_work(*jobs)
        m = layer_metrics(tracer, self.timed, spark_tot, window, CORES)
        m.update({
            "session.start_s": session_start_s,
            "jvm.gc_ms": gc_ms / n,
            "driver.py_cpu_s": cpu_s / n,
            "host.steal_share": steal_share,
            "host.loadavg": os.getloadavg()[0],
            "host.cal_s": statistics.median(cal),
            "traced.light_s": class_s("light"),
            "traced.heavy_s": class_s("heavy"),
        })
        out = ROOT / "perfbench" / "_out" / (
            f"trace-{self.args.workload}-{self.args.seed}.json")
        tracer.write(str(out), {"ops": self.timed, "env": env,
                                "summary": summary, "spark": spark_tot})
        units = declared_units("per_layer")
        return {k: (float(v), units[k]) for k, v in m.items()}


def declared_units(section: str) -> dict[str, str]:
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "seamdb_spark" / "engine.py").is_file():
        print(f"perfbench: no seamdb_spark package under {ROOT}; run from the"
              " root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from"
              f" {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / "perfbench" / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    (work / "spark-local").mkdir()
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        # every JVM the launcher starts: temp files in the work dir, and
        # no hsperfdata file in the system temp dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    )
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return Runner(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
