#!/usr/bin/env python3
"""Benchmark of the F1 Spark engine's query catalog.

    python3 perfbench/run.py --workload f1_dashboard --seed 1 --seconds 20 --trace 0

Run from the repository root. One client drives the public catalog as
a closed loop (``QUERIES[name](spark, sf_dir)`` then a ``noop`` write,
the next request only after the previous one returns) on the
repository's Spark session with ``local[nproc/2]``, over the sf0.01
tables in ``perfbench/data``. The seed shuffles the request order,
which every pass of the run repeats; the program sees only the
resulting query-name sequence.

A run sets up (session start, an untimed warm-up pass that collects
each distinct query's result, and ``WARMUP_PASSES`` untimed ``noop``
passes), runs at least ``MIN_PASSES`` whole passes and more until
``--seconds`` have elapsed, then checks every collected result against
its DuckDB oracle. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``; with ``--trace 1`` the middle passes are traced
and the metrics are their per-layer counters (see ``trace.py``). Raw
samples, spans and the per-layer self-time table go to
``.perfbench_out/`` at the repository root.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path[:0] = [str(REPO)]

from perfbench import oracle, procfs, trace  # noqa: E402
from perfbench.workloads import WORKLOADS, pass_order  # noqa: E402

#: Fits a 15 GB machine shared with other jobs; sf0.01 needs far less.
DRIVER_MEM = "1g"
MB = 1024.0 * 1024.0
#: Whole timed passes per run, at the least.
MIN_PASSES = 2
#: Untimed noop passes after the collect pass (see README, "Warm-up").
WARMUP_PASSES = 1
#: C1 only, with the code cache size C2 would get: the default two-tier
#: JIT compiles the generated classes of Spark's codegen for more than a
#: core's worth of CPU per pass, so the run measures how the host shares
#: its cores out (see README, "JIT").
JIT_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", default="sf0.01", help="table directory under perfbench/data")
    return p.parse_args(argv)


def hermetic_env(work: Path, cores: int) -> dict[str, str]:
    """Point every scratch location of this process (and of the JVM and
    Python workers it starts) into ``work``; return the extra Spark conf."""
    dirs = {k: work / k for k in ("tmp", "local", "warehouse", "jvm")}
    for d in dirs.values():
        d.mkdir(parents=True)
    os.environ["TMPDIR"] = str(dirs["tmp"])
    tempfile.tempdir = str(dirs["tmp"])
    os.environ["SPARK_LOCAL_DIRS"] = str(dirs["local"])
    # Python workers import the package by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # -UsePerfData: no hsperfdata file under /tmp, for the launcher JVM
    # that spark-submit runs first and for the driver JVM.
    jvm_opts = f"-Djava.io.tmpdir={dirs['jvm']} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    # A fixed heap and few malloc arenas keep peak RSS from depending
    # on when the JVM chose to grow.
    os.environ["MALLOC_ARENA_MAX"] = "2"
    return {
        "spark.sql.warehouse.dir": str(dirs["warehouse"]),
        "spark.driver.extraJavaOptions": f"{jvm_opts} -Xms{DRIVER_MEM} {JIT_OPTS}",
    }


def spark_cores() -> int:
    """Half the machine's cores: the other half is left to the JVM's JIT
    and GC threads, the Python driver and neighbours on a shared host.
    On a shared 4-vCPU VM, local[2] ran the workloads faster than
    local[4] and with about half the run-to-run spread."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def du_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


class Runner:
    """One Spark session driving one workload."""

    def __init__(self, spark, sf_dir: str, work_tmp: Path):
        from formula1_dataengineering_spark.caching import cache_scope
        from formula1_dataengineering_spark.plans import QUERIES

        self.spark = spark
        self.sf_dir = sf_dir
        self.work_tmp = work_tmp
        self.queries = QUERIES
        self.cache_scope = cache_scope
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self.stored_bytes: list[int] = []

    def _fresh_root(self) -> None:
        """Give the request its own empty work root, so a gate writes its
        layouts from scratch and its cost does not depend on the order."""
        tempfile.tempdir = tempfile.mkdtemp(prefix="req_", dir=self.work_tmp)

    def _drop_root(self) -> None:
        root = tempfile.tempdir
        self.stored_bytes.append(du_bytes(root))
        tempfile.tempdir = str(self.work_tmp)
        shutil.rmtree(root, ignore_errors=True)

    def collect(self, name: str):
        """Untimed warm-up execution that keeps the result for the oracle."""
        self._fresh_root()
        try:
            with self.cache_scope():
                df = self.queries[name](self.spark, self.sf_dir)
                return list(df.columns), [tuple(r) for r in df.collect()]
        finally:
            self.spark.catalog.clearCache()
            self._drop_root()

    def request(self, tracer, name: str, **key) -> dict:
        """One timed request: build the lazy frame, force it to ``noop``."""
        fn = self.queries[name]
        sample = dict(key, query=name, ok=True)
        self._fresh_root()
        j0 = self._dag.nextJobId()
        try:
            with tracer.request(query=name, **key) as root:
                with self.cache_scope() as frames:
                    t0 = time.perf_counter()
                    with tracer.span("plans.build"):
                        df = fn(self.spark, self.sf_dir)
                    t1 = time.perf_counter()
                    with tracer.span("spark.action"):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    root.attrs["frames_released"] = len(frames)
                    root.attrs["storage_bytes"] = tracer.storage_used()
            sample.update(build_s=t1 - t0, action_s=t2 - t1)
        except Exception as exc:  # a failed request is counted, the loop goes on
            sample.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:500])
        finally:
            sample["jobs"] = self._dag.nextJobId() - j0
            self.spark.catalog.clearCache()
            gc.collect()
            self._drop_root()
        return sample


def quantile(values: list[float], q: float) -> float:
    xs = sorted(values)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def run(args, work: Path, proc_start: float) -> dict:
    cores = spark_cores()
    conf = hermetic_env(work, cores)
    sf_dir = str(HERE / "data" / args.sf)
    if not os.path.isdir(sf_dir):
        raise SystemExit(f"no tables at {sf_dir}")

    from formula1_dataengineering_spark.session import get_spark

    with procfs.RssSampler(os.getpid()) as rss:
        t = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        session_start_s = time.perf_counter() - t
        try:
            runner = Runner(spark, sf_dir, work / "tmp")
            phases = {"session_s": session_start_s}
            order = pass_order(args.workload, args.seed)
            jit = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

            def run_pass(p: int, tracer) -> tuple[list[dict], dict]:
                """One pass of the seeded order: its samples, and its wall
                time beside the JIT's compile time and the host's steal
                share during it."""
                jit0 = jit.getTotalCompilationTime()
                steal0, ticks0 = procfs.cpu_jiffies()
                t_pass = time.perf_counter()
                out = [
                    runner.request(tracer, name, workload=args.workload, **{"pass": p, "seq": i})
                    for i, name in enumerate(order)
                ]
                wall_s = time.perf_counter() - t_pass
                jit_s = (jit.getTotalCompilationTime() - jit0) / 1000.0
                steal1, ticks1 = procfs.cpu_jiffies()
                return out, {
                    "pass": p,
                    "wall_s": wall_s,
                    "jit_s": jit_s,
                    "steal_share": (steal1 - steal0) / max(1, ticks1 - ticks0),
                    "ok": sum(s["ok"] for s in out),
                }

            t = time.perf_counter()
            results = {}
            for name in WORKLOADS[args.workload]:
                try:
                    results[name] = runner.collect(name)
                except Exception as exc:
                    results[name] = exc
            phases["warmup_pass_s"] = time.perf_counter() - t
            t = time.perf_counter()
            for warm in range(1, WARMUP_PASSES + 1):
                run_pass(-warm, trace.NULL_TRACER)
            phases["noop_warmup_s"] = time.perf_counter() - t
            setup_s = time.time() - proc_start

            tracer = trace.Tracer(spark, cores) if args.trace else None
            samples, passes = [], []
            t_loop = time.perf_counter()
            min_passes = 4 if args.trace else MIN_PASSES
            p = 0
            while True:
                # Traced runs go untraced, traced, traced, untraced, so
                # passes getting faster as the JIT settles do not bias
                # the traced-to-untraced throughput ratio.
                traced = bool(args.trace) and p % 4 in (1, 2)
                if traced:
                    tracer.install()
                out, record = run_pass(p, tracer if traced else trace.NULL_TRACER)
                if traced:
                    tracer.uninstall()
                for s in out:
                    s["traced"] = traced
                samples += out
                passes.append(dict(record, traced=traced))
                p += 1
                if p >= min_passes and time.perf_counter() - t_loop >= args.seconds:
                    break
            peak_rss = rss.peak
        finally:
            stop_spark(spark)

    # Oracle check, outside the timed section.
    defects = oracle.check(results, sf_dir, work / "duckdb")
    for s in samples:
        if s["ok"] and s["query"] in defects:
            s.update(ok=False, error=f"oracle mismatch: {defects[s['query']]}")

    untraced = [s for s in samples if not s["traced"]]
    attempted = len(samples)
    failed = sum(not s["ok"] for s in samples)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "driver_mem": DRIVER_MEM,
        "sf": args.sf,
        "setup_phases": phases,
        "passes": passes,
        "error_rate": failed / attempted,
        "defects": defects,
        "stored_mb": statistics.fmean(runner.stored_bytes) / MB,
    }
    if args.trace:
        metrics = layer_metrics(tracer, passes, session_start_s, report["stored_mb"])
        report["self_time"] = trace.self_time_table(tracer.spans)
        report["spans"] = [s.as_dict() for s in tracer.spans]
    else:
        metrics, raw = timing_metrics(untraced, passes)
        metrics = {
            "setup_s": (setup_s, "s"),
            **metrics,
            "peak_rss_mb": (peak_rss / MB, "MB"),
        }
        report.update(raw)
    report["samples"] = samples
    report["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    write_artifact(report, args)
    summary = {
        k: report[k]
        for k in (
            "workload", "seed", "cores", "driver_mem", "sf", "error_rate", "defects", "stored_mb",
            "setup_phases",
        )
    }
    summary.update({k: report[k] for k in ("samples_n", "query_p90_s") if k in report})
    summary["pass_wall_s"] = [p["wall_s"] for p in passes]
    summary["pass_jit_s"] = [p["jit_s"] for p in passes]
    # Host contention: the share of the machine's CPU time the hypervisor
    # gave to other guests while each pass ran.
    summary["pass_steal_share"] = [p["steal_share"] for p in passes]
    print(json.dumps(summary))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": report["metrics"],
    }


def timing_metrics(samples: list[dict], passes: list[dict]):
    """End-to-end timings: completed requests over the whole timed wall
    time, and the median request latency."""
    lat = [s["build_s"] + s["action_s"] for s in samples if s["ok"]]
    nan = float("nan")
    metrics = {
        "queries_per_s": (len(lat) / sum(p["wall_s"] for p in passes), "1/s"),
        "query_p50_s": (statistics.median(lat) if lat else nan, "s"),
    }
    raw = {"samples_n": len(lat)}
    if len(lat) >= 100:
        raw["query_p90_s"] = quantile(lat, 0.9)
    return metrics, raw


def layer_metrics(tracer, passes, session_start_s: float, stored_mb: float) -> dict:
    """Per-layer metrics: means per traced request, plus ratios."""
    reqs = tracer.requests
    out = {
        name: (statistics.fmean(r[name] for r in reqs), unit)
        for name, unit in trace.COUNTER_UNITS.items()
    }
    req_s = sum(r["request_s"] for r in reqs)
    out["plans.build_share"] = (sum(r["plans.build_s"] for r in reqs) / req_s, "ratio")
    out["spark.core_busy_share"] = (
        sum(r["spark.task_s"] for r in reqs) / (req_s * tracer.cores),
        "ratio",
    )
    out["session.start_s"] = (session_start_s, "s")
    out["stored_mb"] = (stored_mb, "MB")

    def qps(traced):
        ps = [p for p in passes if p["traced"] is traced]
        return sum(p["ok"] for p in ps) / sum(p["wall_s"] for p in ps)

    out["trace.overhead"] = (qps(True) / qps(False), "ratio")
    return out


def artifact_name(workload: str, sf: str, seed: int, trace: int) -> str:
    return f"{workload}-{sf}-seed{seed}-trace{trace}.json"


def write_artifact(report: dict, args) -> None:
    out = REPO / ".perfbench_out"
    out.mkdir(exist_ok=True)
    path = out / artifact_name(args.workload, args.sf, args.seed, args.trace)
    path.write_text(json.dumps(report, indent=1, default=str))


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits at the end of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # With the JVM gone, the py4j callback server (started by
        # foreachBatch sinks and the streaming listener) can join its
        # connection threads instead of waiting on live sockets.
        if gw is not None:
            gw.shutdown()
        reap_descendants()


def reap_descendants(timeout_s: float = 30.0) -> None:
    import signal

    deadline = time.time() + timeout_s
    while True:
        left = procfs.descendants(os.getpid())
        if not left:
            return
        sig = signal.SIGKILL if time.time() > deadline else signal.SIGTERM
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def main(argv=None) -> int:
    proc_start = procfs.process_start_epoch()
    args = parse_args(argv)
    work = REPO / ".perfbench_work" / str(os.getpid())
    try:
        result = run(args, work, proc_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
