"""The repository's benchmark of record.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ingest_cron --seed 1 --seconds 15 --trace 0

``--trace 0`` measures the end-to-end metrics with nothing installed in
the program; ``--trace 1`` installs span wrappers from this directory
(see ``spans.py``), writes the spans under ``.perfbench/spans/`` and
prints the per-layer metrics instead. Every run checks every operation's
output; a mismatch counts as a failed operation and makes the command
exit non-zero. The last stdout line is the result object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The line before it (``detail``) carries the workload's own figures, the
pinned session settings and the stated traffic assumptions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_cores() -> int:
    """What ``nproc`` reports (the affinity mask, not OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def session_settings(work: str, c1_only: bool) -> dict:
    """The pinned session: every knob the benchmark sets, recorded in the
    output. ``session.py`` would otherwise default to 32 cores and a 16g
    driver heap."""
    cores = host_cores()
    mem_mb = min(1024, host_mem_mb() // 4)
    return {
        "cores": cores,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "conf": {
            "spark.ui.showConsoleProgress": "false",
            # per-operation stage diffs must never truncate
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": " ".join(
                [
                    # every JVM scratch file stays inside the work dir
                    f"-Djava.io.tmpdir={work}/tmp",
                    f"-Dderby.system.home={work}",
                    "-XX:-UsePerfData",
                ]
                # C1 only (per workload): a JVM that lives under a minute
                # never repays C2 compiles, whose threads compete with the
                # task slots. C1-only ergonomics shrink the code cache from
                # 240 MB to 48 MB, which Spark's generated code fills
                # ("Out of space in CodeCache for adapters" kills the
                # JVM), so the default size is restored.
                + (["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"] if c1_only else [])
            ),
        },
    }


def cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def live_heap_mb(spark) -> float:
    """JVM heap in use after a full collection: what the driver retains."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


class RssSampler:
    """Peak of (driver Python RSS + JVM RSS), sampled every 20 ms."""

    def __init__(self, pids: list[int]) -> None:
        self.pids = pids
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _rss(self) -> int:
        total = 0
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._rss())
            self._stop.wait(0.02)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, self._rss())
        return False


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full", help="tiny: self-test size")
    ap.add_argument(
        "--corrupt-expected",
        action="store_true",
        help="plant one wrong expected value (self-test: the check must trip)",
    )
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import gen
        import workloads as W
        from data_ingestion_from_multiple_directories_linux_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cls = W.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    settings = session_settings(work, cls.c1_only)
    os.environ.update(
        SPARK_GRAFT_CPUS=settings["SPARK_GRAFT_CPUS"],
        SPARK_GRAFT_DRIVER_MEM=settings["SPARK_GRAFT_DRIVER_MEM"],
        SPARK_LOCAL_DIRS=settings["conf"]["spark.local.dir"],
        TMPDIR=os.path.join(work, "tmp"),
    )
    scale = dict(cls.scales[args.scale], corrupt_expected=args.corrupt_expected)
    spark = None
    try:
        wl = cls(None, work, args.seed, scale)
        wl.prepare()  # seeded inputs: never timed

        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            cpus=settings["cores"],
            extra_conf=settings["conf"],
        )
        session_s = time.perf_counter() - t0
        wl.spark = spark
        tracer = counters = None
        if args.trace:
            import spans as T

            tracer = T.Tracer(spark.sparkContext)
            T.install(tracer, spark.sparkContext, W.dir_size)
            wl.tracer_span = tracer.span
        setup_ops = wl.setup()
        # the program's time only: input drops and output checks excluded
        setup_s = session_s + sum(o.latency_s for o in setup_ops)

        if args.trace:
            counters = T.SparkCounters(spark, tracer)
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        ops: list[list] = []  # one list of Op per timed operation
        n_primary = 0
        wall0 = time.time()
        perf0 = time.perf_counter()
        steal0 = cpu_steal_jiffies()
        with RssSampler([os.getpid(), jvm_pid]) as rss:
            t_start = time.perf_counter()
            while True:
                if tracer is not None:
                    tracer.op = len(ops) + 1
                ops.append(wl.op())
                if counters is not None:
                    counters.collect(len(ops), wl.fallback_layer, wall0, perf0)
                n_primary += sum(1 for o in ops[-1] if o.kind.split(":")[0] == wl.primary)
                if (
                    time.perf_counter() - t_start >= args.seconds
                    and n_primary >= wl.min_ops
                    and len(ops) % wl.stop_every == 0
                ):
                    break
            timed_s = time.perf_counter() - t_start
        steal1 = cpu_steal_jiffies()
        # share of the host's CPU time taken by other tenants while timing
        steal_share = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        heap_mb = live_heap_mb(spark) if args.trace else None
        try:
            final_problems = wl.final_check()
        except Exception as e:  # noqa: BLE001 — a crashed check is a failed check
            final_problems = [f"final check raised {type(e).__name__}: {e}"[:500]]

        all_ops = setup_ops + [o for batch in ops for o in batch]
        failed = [o for o in all_ops if not o.ok]
        correct = not failed and not final_problems
        flat = [o for batch in ops for o in batch]
        detail = wl.summary(flat, timed_s)
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
            "op_latency_s": {"value": detail.pop("_latency"), "unit": "s"},
            "ops_per_s": {"value": detail.pop("_rate"), "unit": "1/s"},
        }
        if args.trace:
            layer = layer_metrics(wl, tracer, counters, ops, timed_s, session_s, settings)
            layer["jvm.live_heap_mb"] = {"value": heap_mb, "unit": "MB"}
            spans = os.path.join(
                ROOT, ".perfbench", "spans", f"{args.workload}-seed{args.seed}.jsonl"
            )
            tracer.dump(spans)
            tracer.uninstall()
            detail["spans_file"] = os.path.relpath(spans, ROOT)
            detail["tracing_overhead_share"] = layer["trace.overhead_share"]["value"]
            detail["end_to_end_under_trace"] = metrics
            metrics = layer
        detail.update(
            workload=args.workload,
            seed=args.seed,
            trace=args.trace,
            timed_s=round(timed_s, 3),
            setup_s=round(setup_s, 3),
            session_start_s=round(session_s, 3),
            setup_ops=[(o.kind, round(o.latency_s, 3)) for o in setup_ops],
            op_error_ratio=round(len(failed) / max(1, len(all_ops)), 6),
            host_cpu_steal_share=round(steal_share, 4),
            errors=[o.error for o in failed][:5] + final_problems[:5],
            session=settings,
            traffic=gen.TRAFFIC if args.workload == "ingest_cron" else None,
            scale=scale,
        )
        print("detail " + json.dumps(detail, default=str))
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": len(all_ops),
                    "failed": len(failed) + len(final_problems),
                    "metrics": metrics,
                }
            )
        )
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        W.cleanup(work)


def layer_metrics(wl, tracer, counters, ops, timed_s, session_s, settings) -> dict:
    """Every per-layer metric, for every workload (0 where a layer is idle).
    Counts and times are per timed operation (a cron cycle or one query)."""
    import workloads as W

    n = max(1, len(ops))
    timed = set(range(1, len(ops) + 1))
    flat = [o for batch in ops for o in batch]
    m: dict[str, tuple[float, str]] = {}

    def per(x: float) -> float:
        return x / n

    m["session.start_s"] = (session_s, "s")
    m["sources.discover_s"] = (per(tracer.total("sources.discover", timed)), "s")
    m["sources.files_listed"] = (per(tracer.attr_sum("sources.discover", "files", timed)), "count")
    m["sources.json_scan_tasks"] = (per(counters.json_scan["tasks"]), "count")
    m["sources.json_scan_cpu_s"] = (per(counters.json_scan["cpu_s"]), "s")
    m["sources.json_input_bytes"] = (per(counters.json_scan["input_bytes"]), "B")
    m["store.append_calls"] = (per(tracer.count("store.append", timed)), "count")
    m["store.append_s"] = (per(tracer.total("store.append", timed)), "s")
    m["store.files_written"] = (per(tracer.attr_sum("store.append", "files", timed)), "count")
    m["store.bytes_written"] = (per(tracer.attr_sum("store.append", "bytes", timed)), "B")
    m["store.overwrite_calls"] = (per(tracer.count("store.overwrite", timed)), "count")
    m["store.overwrite_s"] = (per(tracer.total("store.overwrite", timed)), "s")
    m["store.bytes_rewritten"] = (per(tracer.attr_sum("store.overwrite", "bytes", timed)), "B")
    m["store.read_calls"] = (per(tracer.count("store.read", timed)), "count")
    m["store.log_part_files"] = (0, "count")
    m["store.bytes_per_input_byte"] = (0, "ratio")
    m.update(wl.layer_extras())

    runs = [s for s in tracer.spans if s.name == "ingest.run" and s.op in timed]
    m["ingest.run_s"] = (per(tracer.total("ingest.run", timed)), "s")
    m["ingest.self_s"] = (per(tracer.self_time("ingest.run", timed)), "s")
    m["ingest.jobs_per_run"] = (
        sum((s.attrs or {}).get("jobs", 0) for s in runs) / max(1, len(runs)),
        "count",
    )
    listed = sum((s.attrs or {}).get("files_seen", 0) for s in runs)
    selected = sum((s.attrs or {}).get("files_selected", 0) for s in runs)
    m["ingest.selected_ratio"] = (selected / listed if listed else 0, "ratio")
    attempted = sum(o.facts.get("attempted", 0) for o in flat)
    reatt = sum(o.facts.get("reattempted", 0) for o in flat)
    m["ingest.reattempt_ratio"] = (reatt / attempted if attempted else 0, "ratio")
    m["ingest.report_s"] = (
        per(tracer.total("ingest.summary_report", timed) + tracer.total("ingest.patient_counts", timed)),
        "s",
    )

    m["catalog.load_calls"] = (per(tracer.count("catalog.load", timed)), "count")
    m["catalog.load_s"] = (per(tracer.total("catalog.load", timed)), "s")

    m["query.plan_s"] = (per(tracer.total("query.plan", timed)), "s")
    m["query.exec_s"] = (per(tracer.total("query.exec", timed)), "s")
    # family sums per pass of the mix
    fam: dict[str, float] = {}
    queries = [o for o in flat if o.kind.startswith("query:")]
    for o in queries:
        f = W.MIX[o.kind.split(":", 1)[1]]
        fam[f] = fam.get(f, 0.0) + o.latency_s
    passes = max(1, len(queries)) / len(W.MIX)
    for f in ("relational", "temporal", "vector", "retrieval", "training"):
        m[f"mix.{f}_s"] = (fam.get(f, 0.0) / passes, "s")
    m["similarity.train_calls"] = (
        tracer.count("similarity.train_ivf", timed) + tracer.count("similarity.train_pq", timed),
        "count",
    )
    m["funnel.gate_train_s"] = (per(tracer.total("funnel.gate_train", timed)), "s")

    cores = settings["cores"]
    m["spark.jobs"] = (per(counters.jobs), "count")
    m["spark.stages"] = (per(counters.stages), "count")
    m["spark.tasks"] = (per(counters.total("tasks")), "count")
    m["spark.executor_run_s"] = (per(counters.total("run_s")), "s")
    m["spark.executor_cpu_s"] = (per(counters.total("cpu_s")), "s")
    m["spark.gc_s"] = (per(counters.total("gc_s")), "s")
    m["spark.shuffle_read_bytes"] = (per(counters.total("shuffle_read_bytes")), "B")
    m["spark.shuffle_write_bytes"] = (per(counters.total("shuffle_write_bytes")), "B")
    m["spark.input_bytes"] = (per(counters.total("input_bytes")), "B")
    m["spark.output_bytes"] = (per(counters.total("output_bytes")), "B")
    m["spark.core_busy_share"] = (counters.total("run_s") / (timed_s * cores), "ratio")
    for layer in ("sources", "ingest", "catalog", "operators", "other"):
        acc = counters.by_layer.get(layer, {})
        m[f"spark.executor_run_s.{layer}"] = (per(acc.get("run_s", 0.0)), "s")
    m["trace.overhead_share"] = ((tracer.overhead_s + counters.read_s) / timed_s, "ratio")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


if __name__ == "__main__":
    sys.exit(main())
