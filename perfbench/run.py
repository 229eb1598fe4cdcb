#!/usr/bin/env python3
"""Product-flow benchmark for kafka_backup_spark.

    python3 perfbench/run.py --workload backup-bulk --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --write-config      # regenerate BENCHMARK.json

Run from the repository root.  One client in one process drives one flow
closed-loop (each step starts after the previous one ends) on
``local[<cores>]``.  Inputs are generated from ``--seed``; the program only
sees the generated parquet.

A run: five set-ups (SparkSession start and input generation; ``setup_s``
is their median), then passes of the flow until ``--seconds`` of flow time
(and at least one pass) are measured.  The first pass runs in a fresh
SparkContext, as a CLI command would: no warm-up.
After each pass, outside the timed region, DuckDB checks the outputs; every
mismatch counts in ``failed``.

``--trace 0`` reports the end-to-end metrics: medians over the passes of
wall time net of hypervisor steal.  ``--trace 1`` makes an untraced pass
and a traced one (the layer fragments run after it), then one single-core
(``local[1]``) baseline pass, and reports the per-layer metrics; the spans
go to ``.bench_out/``.

The last stdout line is one JSON object:
``{"correct": …, "attempted": …, "failed": …, "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SETUPS = 5
MIN_PASSES = 1
RUN_SECONDS = 3

# name: (unit, better, bound).  Times are wall clock net of hypervisor
# steal, medians over a run's passes; the bounds are set from the spread of
# ten seeds per workload.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "flow_s": ("s", "lower", 0.25),
    "ingest.mb_s_core": ("MB/s/core", "higher", 0.25),
    "ingest.krec_s": ("krec/s", "higher", 0.25),
    "validate_s": ("s", "lower", 0.25),
    "store.bytes_per_payload_byte": ("ratio", "lower", 0.05),
}

# name: (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "cpu.flow_s": ("s", "lower"),
    "cpu.mb_per_cpu_s": ("MB/cpu-s", "higher"),
    "cpu.validate_s": ("s", "lower"),
    "memory.peak_pss_mb": ("MB", "lower"),
    "host.steal_s": ("s", "lower"),
    "warm.flow_s": ("s", "lower"),
    "warm.ingest_mb_s_core": ("MB/s/core", "higher"),
    "restore.mb_s_core": ("MB/s/core", "higher"),
    "restore.mapping_s": ("s", "lower"),
    "segments.write_s": ("s", "lower"),
    "segments.files_written": ("count", "lower"),
    "segments.bytes_written": ("bytes", "lower"),
    "segments.read_s": ("s", "lower"),
    "segments.files_read": ("count", "lower"),
    "segments.bytes_read": ("bytes", "lower"),
    "segments.compact_s": ("s", "lower"),
    "segments.compact_task_skew": ("ratio", "lower"),
    "filters.scan_rows": ("count", "lower"),
    "filters.rows_out": ("count", "lower"),
    "projections.backup_headers_s": ("s", "lower"),
    "projections.source_offset_s": ("s", "lower"),
    "repartition.assign_s": ("s", "lower"),
    "repartition.shuffle_bytes": ("bytes", "lower"),
    "repartition.target_skew": ("ratio", "lower"),
    "repartition.python_bytes": ("bytes", "lower"),
    "manifest.build_s": ("s", "lower"),
    "manifest.segments": ("count", "lower"),
    "manifest.compressed_size_error": ("ratio", "lower"),
    "manifest_store.save_s": ("s", "lower"),
    "manifest_store.doc_bytes": ("bytes", "lower"),
    "engine.backup_s": ("s", "lower"),
    "engine.persist_mb": ("MB", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.batch_p50_s": ("s", "lower"),
    "streaming.batch_p90_s": ("s", "lower"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.commit_s": ("s", "lower"),
    "validation.rescan_s": ("s", "lower"),
    "validation.integrity_s": ("s", "lower"),
    "validation.restore_checks_s": ("s", "lower"),
    "three_phase.mapping_s": ("s", "lower"),
    "three_phase.phase3_s": ("s", "lower"),
    "asof.probe_rows": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.driver_s": ("s", "lower"),
    "trace.flow_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
    "trace.accounted_ratio": ("ratio", "higher"),
    "baseline_1core.flow_s": ("s", "lower"),
    "baseline_1core.mb_s_core": ("MB/s/core", "higher"),
    "scaling.speedup": ("ratio", "higher"),
}


def benchmark_config() -> dict:
    """The content of ``BENCHMARK.json``, built from the tables above and the
    workloads, so the file names exactly what a run prints."""
    from perfbench.flows import WORKLOADS

    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in WORKLOADS.values()],
        "end_to_end": [{"name": k, "unit": u, "better": b, "bound": bound}
                       for k, (u, b, bound) in END_TO_END.items()],
        "per_layer": [{"name": k, "unit": u, "better": b} for k, (u, b) in PER_LAYER.items()],
    }


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs))


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, work: str):
        from perfbench.flows import WORKLOADS

        self.flow = WORKLOADS[workload]()
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}
        self._dirs = 0

    # -- session -------------------------------------------------------

    def start_session(self, cores: int) -> float:
        from kafka_backup_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(f"perfbench-{self.flow.name}", master=f"local[{cores}]",
                               shuffle_partitions=cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the SparkContext, the JVM and its Python workers, and wait."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        wait_for_descendants(timeout_s=15)

    # -- passes --------------------------------------------------------

    def new_dir(self, tag: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{tag}-{self._dirs}")

    def one_pass(self, con, tracer=None, fragments: bool = False):
        """One flow pass plus its checks; None when the pass raised."""
        from perfbench.flows import remove
        from perfbench.trace import NullTracer

        tr = tracer or NullTracer()
        it_dir = self.new_dir("pass")
        self.attempted += 1
        try:
            if tr.enabled:
                before = tr.overhead_s
                with tr.span("flow") as root:
                    p = self.flow.iteration(self.spark, tr, it_dir)
                overhead = tr.overhead_s - before
                p.layers.update({f"spark.{k}": v for k, v in tr.counters(root).items()})
                self_s = tr.self_seconds()
                p.layers["trace.flow_s"] = root.seconds
                p.layers["trace.overhead_ratio"] = overhead / (root.seconds - overhead)
                p.layers["trace.accounted_ratio"] = 1.0 - self_s[root.id] / root.seconds
                if fragments:
                    scratch = self.new_dir("fragment")
                    self.flow.fragments(self.spark, tr, p, scratch)
                    remove(scratch)
            else:
                p = self.flow.iteration(self.spark, tr, it_dir)
        except Exception:
            self.failed += 1
            log(f"pass failed:\n{traceback.format_exc()}")
            remove(it_dir)
            return None
        t0 = time.perf_counter()
        for name, ok in self.flow.check(con, p):
            self.attempted += 1
            if not ok:
                self.failed += 1
                log(f"check failed: {name}")
        log(f"checks: {time.perf_counter() - t0:.3f} s")
        remove(it_dir)
        return p

    def window(self, con, seconds: float, min_passes: int, tracer=None,
               fragments: bool = False) -> list:
        """Passes until ``seconds`` of flow time and ``min_passes`` passes."""
        passes, measured, failures = [], 0.0, 0
        while (measured < seconds or len(passes) < min_passes) and failures < 3:
            p = self.one_pass(con, tracer, fragments)
            if p is None:
                failures += 1
                continue
            passes.append(p)
            measured += p.flow.wall
            log(f"pass {len(passes)}: flow {p.flow.wall:.3f} s ({p.flow.cpu:.2f} cpu-s, "
                f"{p.flow.steal:.2f} s stolen per cpu), "
                f"step {p.step.wall:.3f} s ({p.step.cpu:.2f}), "
                f"validate {p.validate.wall:.3f} s ({p.validate.cpu:.2f})")
        return passes

    def setup(self) -> list[float]:
        """SETUPS set-ups: SparkSession start (the first one launches the
        JVM, later ones restart the SparkContext in it) and input
        generation."""
        from perfbench.flows import remove
        from perfbench.trace import cost, mark

        times, prev = [], None
        for i in range(SETUPS):
            m0 = mark()
            start = self.start_session(self.cores)
            if i == 0:
                self.layers["session.start_s"] = start
            setup_dir = self.new_dir("setup")
            self.flow.prepare(self.spark, setup_dir, self.seed)
            times.append(cost(m0, mark()).net)
            if prev is not None:
                remove(prev)
            prev = setup_dir
            log(f"set-up {i + 1}/{SETUPS}: {times[-1]:.3f} s")
        return times

    @staticmethod
    def flow_metrics(passes, cores: int) -> dict[str, float]:
        """Medians over passes.  Times are wall clock net of the CPU time
        the hypervisor stole per CPU meanwhile (``Cost.net``); the CPU
        seconds of the whole process tree go beside them."""
        mb = 1e6
        return {
            "flow_s": median(p.flow.net for p in passes),
            "ingest.mb_s_core": median(p.payload_bytes / mb / p.step.net / cores for p in passes),
            "ingest.krec_s": median(p.records / 1e3 / p.step.net for p in passes),
            "validate_s": median(p.validate.net for p in passes),
            "store.bytes_per_payload_byte": median(p.written_bytes / p.payload_bytes for p in passes),
            "cpu.flow_s": median(p.flow.cpu for p in passes),
            "cpu.mb_per_cpu_s": median(p.payload_bytes / mb / p.step.cpu for p in passes),
            "cpu.validate_s": median(p.validate.cpu for p in passes),
            "host.steal_s": median(p.flow.steal for p in passes),
        }

    def run(self, trace: bool) -> tuple[dict, dict]:
        import duckdb

        con = duckdb.connect()
        try:
            setups = self.setup()
            if trace:
                return self.traced(con)
            passes = self.window(con, self.seconds, MIN_PASSES)
            if not passes:
                raise RuntimeError("no pass of the flow succeeded")
            e2e = {"setup_s": median(setups), **self.flow_metrics(passes, self.cores)}
            return e2e, {"default_parallelism": self.spark.sparkContext.defaultParallelism,
                         "passes": len(passes), "setups_s": setups}
        finally:
            con.close()

    def traced(self, con) -> tuple[dict, dict]:
        """An untraced pass where the end-to-end run measures, a traced pass
        (fragments after it), then a single-core pass on ``local[1]``, which
        scaling compares with the traced pass: both run warm."""
        from perfbench.trace import RssSampler, Tracer

        tracer = Tracer(self.spark, f"{self.flow.name}-{self.seed}-{os.getpid()}")
        with RssSampler() as rss:
            plain = self.window(con, 0, 1)
            traced = self.window(con, 0, 1, tracer, fragments=True)
        if not plain or not traced:
            raise RuntimeError("no pass of the flow succeeded")
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(self.layers)
        layers.update(traced[0].layers)
        untraced = self.flow_metrics(plain, self.cores)
        layers.update({k: v for k, v in untraced.items() if k in PER_LAYER})
        layers["memory.peak_pss_mb"] = rss.peak_bytes / 1e6
        warm = self.flow_metrics(traced, self.cores)
        layers["warm.flow_s"] = warm["flow_s"]
        layers["warm.ingest_mb_s_core"] = warm["ingest.mb_s_core"]
        parallelism = self.spark.sparkContext.defaultParallelism
        self.start_session(1)
        single = self.window(con, 0, 1)
        if single:
            base = self.flow_metrics(single, 1)
            layers["baseline_1core.flow_s"] = base["flow_s"]
            layers["baseline_1core.mb_s_core"] = base["ingest.mb_s_core"]
            layers["scaling.speedup"] = base["flow_s"] / warm["flow_s"]
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        spans = os.path.join(out_dir, f"{self.flow.name}-seed{self.seed}-spans.jsonl")
        tracer.dump(spans)
        return layers, {"default_parallelism": parallelism, "single_core_passes": len(single),
                        "spans": spans, "end_to_end": untraced}


def wait_for_descendants(timeout_s: float) -> None:
    """Wait until every process this one started has exited; kill stragglers."""
    import signal

    from perfbench.trace import descendants

    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not descendants(os.getpid()):
            return
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def parse_args(argv=None):
    from perfbench.flows import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, default=float(RUN_SECONDS))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-config", action="store_true",
                    help="write BENCHMARK.json at the repository root and exit")
    args = ap.parse_args(argv)
    if not args.write_config and (args.workload is None or args.seed is None):
        ap.error("--workload and --seed are required")
    return args


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "kafka_backup_spark", "__init__.py")):
        log(f"kafka_backup_spark not found under {ROOT}; run from a checkout of the repository")
        return 2
    args = parse_args(argv)
    if args.write_config:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as fh:
            json.dump(benchmark_config(), fh, indent=2)
            fh.write("\n")
        return 0
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    run = Run(args.workload, args.seed, args.seconds, work)
    try:
        metrics, info = run.run(bool(args.trace))
    except Exception:
        log(f"run failed:\n{traceback.format_exc()}")
        return 1
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
    units = {k: v[0] for k, v in (PER_LAYER if args.trace else END_TO_END).items()}
    info.update({"workload": args.workload, "seed": args.seed, "cpus": run.cores,
                 "attempted": run.attempted, "failed": run.failed})
    print(json.dumps(info, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
