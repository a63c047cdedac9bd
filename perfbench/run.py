#!/usr/bin/env python3
"""Transcript-pipeline benchmark.

    python3 perfbench/run.py --workload short_convs --seed 1 --seconds 12 --trace 0

Runs one workload (see BENCHMARK.json and perfbench/README.md) from one
Python process on one ``local[nproc]`` SparkSession, as a closed loop with
one client: each committed ``pipeline.run`` starts when the previous one has
finished and been checked against the oracle. It prints an environment line,
then as the last line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.

Phases, in order:

1. inputs -- generated from ``--seed`` and cached with their oracle
   reference under ``.perfbench/cache`` (not timed, not part of setup_s);
2. setup -- session start plus WARMUP_RUNS full-size committed runs
   (``setup_s``);
3. timed runs -- committed runs, each into a fresh SinkCatalog, until
   their summed wall time reaches ``--seconds``;
4. with ``--trace 1`` only: as many traced runs, with spans around every
   public pipeline call; prefix materializations that split the build into
   layers; a streaming drain (short_convs); the render kernel on one core;
   and the Spark event log. Per-layer metrics replace the end-to-end ones.

Every run -- warm-up, timed, traced, drained -- is checked against the
oracle; a run that raises or mismatches is a failed operation. Everything
is written under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("short_convs", "long_convs")
WARMUP_RUNS = 3
DRIVER_MEM = "2g"
PREFIXES = ("enrich", "shuffle", "render")   # cumulative prefixes of build
SINKS = ("json_doc", "xml_doc", "error", "raw", "_metrics")
KERNEL_TURNS = 30_000
STREAM_METRICS = {
    "stream.batches": "count", "stream.turns_per_s": "1/s",
    "stream.microbatch_s_p50": "s", "stream.add_batch_s": "s",
    "stream.state_rows": "count", "stream.state_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package from source."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ----------------------------------------------------------- processes --
def _proc_stat(pid) -> tuple[str, int] | None:
    """(state, ppid) of a live process, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return fields[0], int(fields[1])
    except (OSError, IndexError, ValueError):
        return None


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(name)
            if st and st[0] != "Z":
                children.setdefault(st[1], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemSampler:
    """Peak summed proportional set size (PSS) of the session JVM and the
    Python workers it forks, sampled from /proc on a background thread.
    PSS splits the pages forked workers share, so the sum is not inflated
    by copy-on-write sharing."""

    def __init__(self, root_pid: int, period: float = 0.2):
        self.root_pid, self.period = root_pid, period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(map(_pss, process_tree(self.root_pid))))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class Bench:
    def __init__(self, args, work: str):
        from perfbench import workloads

        self.args, self.work = args, work
        self.inputs = workloads.prepare(os.path.join(WORK, "cache"), args.workload,
                                        args.seed, args.size)
        self.ref = (self.inputs.docs(), self.inputs.errors())
        self.attempted = self.failed = 0
        self.n_runs = 0
        self.spark = None

    # ------------------------------------------------------------ session --
    def start_session(self, trace: bool) -> None:
        from transcriptpipe.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"),
        }
        if trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = get_spark(app_name="perfbench", cpus=self.nproc, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.src = self.spark.read.parquet(self.inputs.table)
        self.jvm = self.spark.sparkContext._gateway.proc

    def close(self) -> None:
        """Stop the session, then the gateway JVM (it exits when its stdin
        closes) and the Python workers it forked; wait for all of them."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        tree = process_tree(self.jvm.pid)
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            alive = [p for p in tree if (_proc_stat(p) or ("Z",))[0] != "Z"]
            if not alive:
                break
            time.sleep(0.1)

    def environment(self) -> dict:
        import pyarrow

        jvm = self.spark._jvm.java.lang.System
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "size": self.args.size, "turns": self.inputs.turns,
            "nproc": self.nproc, "spark": self.spark.version,
            "pyarrow": pyarrow.__version__, "python": platform.python_version(),
            "java": jvm.getProperty("java.version"),
        }

    # --------------------------------------------------------------- runs --
    def _record(self, bad: list[str], what: str) -> bool:
        self.attempted += 1
        if bad:
            self.failed += 1
            print(f"perfbench: {what} failed: {bad}", file=sys.stderr)
        return not bad

    def batch_run(self, keep: bool = False) -> tuple[float, int, bool]:
        """One committed pipeline.run into a fresh catalog, checked against
        the oracle. Returns (wall seconds, committed sink bytes, passed).
        The catalog is deleted unless ``keep``."""
        from perfbench import check
        from transcriptpipe import pipeline
        from transcriptpipe.sinks import SinkCatalog

        self.n_runs += 1
        run_id = f"r{self.n_runs}"
        cat = self.catalog = SinkCatalog(os.path.join(self.work, "wh", run_id))
        try:
            t0 = time.perf_counter()
            pipeline.run(self.spark, self.src, cat, run_id)
            wall = time.perf_counter() - t0
            bad = check.check_batch(cat, self.inputs, *self.ref)
            nbytes = sum(du(os.path.join(cat.root, t, "data", run_id)) for t in SINKS)
        except Exception:
            traceback.print_exc()
            wall, nbytes, bad = 0.0, 0, ["raised"]
        if not keep:
            shutil.rmtree(cat.root, ignore_errors=True)
        return wall, nbytes, self._record(bad, run_id)

    def warm_up(self) -> list[float]:
        return [self.batch_run()[0] for _ in range(WARMUP_RUNS)]

    def loop(self, seconds: float) -> list[tuple[float, int]]:
        """Closed loop: committed runs back to back until their summed wall
        time reaches ``seconds``; returns (wall, bytes) of passing runs."""
        samples, spent, t0 = [], 0.0, time.perf_counter()
        while spent < seconds and time.perf_counter() - t0 < 4 * seconds + 60:
            wall, nbytes, ok = self.batch_run()
            spent += wall
            if ok:
                samples.append((wall, nbytes))
        if not samples:
            raise RuntimeError("no timed run passed")
        return samples

    # -------------------------------------------------------------- modes --
    def run_untraced(self) -> dict:
        t0 = time.perf_counter()
        self.start_session(trace=False)
        warm = self.warm_up()
        setup_s = time.perf_counter() - t0
        with MemSampler(self.jvm.pid) as mem:
            samples = self.loop(self.args.seconds)
        walls = [w for w, _ in samples]
        print(json.dumps({"perfbench": dict(self.environment(), warmup_s=warm,
                                            run_s=walls)}))
        self.close()
        return {
            "turns_per_s": (self.inputs.turns / statistics.median(walls), "1/s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (mem.peak / 1e6, "MB"),
            "sink_mb": (statistics.median(b for _, b in samples) / 1e6, "MB"),
        }

    def run_traced(self) -> dict:
        from perfbench import trace

        self.start_session(trace=True)
        self.warm_up()
        untraced = [w for w, _ in self.loop(self.args.seconds)]
        tracer = trace.Tracer(self.spark)
        traced, gc0 = [], trace.gc_seconds(self.spark)
        with trace.patched(tracer):
            for i in range(len(untraced)):
                tracer.run_id = f"traced{i}"
                wall, _, ok = self.batch_run(keep=i == len(untraced) - 1)
                if ok:
                    traced.append(wall)
        gc_s = (trace.gc_seconds(self.spark) - gc0) / len(untraced)
        out = self._catalog_layers()
        prefix = self._prefixes(tracer)
        stream = self._stream_layer() if self.args.workload == "short_convs" else {}
        kernel = self._kernel_turns_per_s()
        print(json.dumps({"perfbench": dict(self.environment(), untraced_run_s=untraced,
                                            traced_run_s=traced)}))
        self.close()
        log = trace.EventLog.read(self.event_dir)
        layer = self._per_layer(tracer, log, prefix, out, kernel, untraced, traced)
        layer["jvm.gc_s"] = (gc_s, "s")
        for name, unit in STREAM_METRICS.items():
            layer[name] = stream.get(name, (0, unit))
        return layer

    # ------------------------------------------------------ traced layers --
    def _catalog_layers(self) -> dict:
        """Counts and committed sizes from the last traced run's catalog."""
        import pyarrow.parquet as pq

        cat, run_id = self.catalog, f"r{self.n_runs}"
        files = [os.path.join(cat.root, "json_doc", f)
                 for s in cat.manifest("json_doc")["snapshots"] for f in s["files"]]
        trimmed = pq.ParquetDataset(files).read(columns=["trimmed"]).column(0)
        out = {
            "sizes": {t: du(os.path.join(cat.root, t, "data", run_id)) for t in SINKS},
            "stage_bytes": du(os.path.join(cat.root, "_staging")),
            "docs": cat.total_rows("json_doc"),
            "trimmed": sum(trimmed.to_pylist()),
            "error_rows": cat.total_rows("error"),
        }
        shutil.rmtree(cat.root, ignore_errors=True)
        return out

    def _prefixes(self, tracer) -> dict[str, float]:
        """Cumulative prefixes of pipeline.build, each materialized into the
        noop sink: scan+enrich, + shuffle/sort, + render. Three rounds; the
        median of each is kept (the first round runs these plans cold)."""
        from pyspark.sql import functions as F

        from transcriptpipe import enrich, pipeline

        spark, src = self.spark, self.src

        def enrich_frame():
            e = enrich.enrich_roles(src, enrich.role_dict_df(spark))
            return e.join(F.broadcast(enrich.tool_dict_df(spark)),
                          e["tool"] == F.col("tool_code"), "left")

        frames = {
            "enrich": enrich_frame,
            "shuffle": lambda: pipeline.jvm_stage_frame(spark, src),
            "render": lambda: pipeline.rendered_frame(spark, src),
        }
        for rnd in range(3):
            tracer.run_id = f"prefix{rnd}"
            for name, make in frames.items():
                with tracer.span(f"prefix.{name}"):
                    make().write.format("noop").mode("overwrite").save()
        return {name: tracer.median(f"prefix.{name}") for name in PREFIXES}

    def _stream_layer(self) -> dict:
        """One AvailableNow drain of the table landed as ts-range files,
        checked against the oracle."""
        from perfbench import check, trace
        from transcriptpipe import streaming

        out_dir = os.path.join(self.work, "stream", "out")
        queries: list = []
        t0 = time.perf_counter()
        with trace.capture_queries(queries):
            streaming.run_stream_once(
                self.spark, self.inputs.stream_dir, out_dir,
                os.path.join(self.work, "stream", "checkpoint"), max_doc_bytes=8192)
        wall = time.perf_counter() - t0
        self._record(check.check_stream(out_dir, self.ref[0]), "stream drain")
        prog = [p for q in queries for p in trace.progress(q)]
        ops = [op for p in prog for op in p["stateOperators"]]
        return {
            "stream.batches": (len(prog), "count"),
            "stream.turns_per_s": (self.inputs.turns / wall, "1/s"),
            "stream.microbatch_s_p50": (statistics.median(
                p["durationMs"]["triggerExecution"] for p in prog) / 1e3, "s"),
            "stream.add_batch_s": (sum(p["durationMs"].get("addBatch", 0)
                                       for p in prog) / 1e3, "s"),
            "stream.state_rows": (max(op["numRowsTotal"] for op in ops), "count"),
            "stream.state_mb": (max(op["memoryUsedBytes"] for op in ops) / 1e6, "MB"),
        }

    def _kernel_turns_per_s(self) -> float:
        """fastkernel.render_conv in this process, on one core, over a
        stride sample (about KERNEL_TURNS turns) of the workload's own
        conversations, rows shaped as the sorted render pass feeds them:
        three passes, median."""
        import pandas as pd

        from perfbench.workloads import MAX_DOC_BYTES, MAX_TURNS
        from transcriptpipe import fastkernel, oracle

        df = self.inputs.frame()
        capped = set(df.loc[df["turn_idx"] >= MAX_TURNS, "conv_id"])
        df = df[df["turn_idx"] < MAX_TURNS].sort_values(["conv_id", "turn_idx"])
        df["tool"] = df["tool"].astype(object).where(df["tool"].notna(), None)
        convs = []
        for conv_id, g in df.groupby("conv_id", sort=True):
            rows = [(t, oracle.ROLE_MAP.get(r, r), x, tl, oracle.TOOL_MAP.get(tl))
                    for t, r, x, tl in zip(g["turn_idx"].tolist(), g["role"],
                                           g["text"], g["tool"])]
            convs.append((conv_id, rows, pd.Timestamp(g["ts"].min()), conv_id in capped))
        sample = convs[::max(1, len(df) // KERNEL_TURNS)]
        n_turns = sum(len(rows) for _, rows, _, _ in sample)
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            for conv_id, rows, min_ts, cap in sample:
                fastkernel.render_conv(conv_id, rows, min_ts, cap, MAX_DOC_BYTES,
                                       100, True, False, want_xml=True)
            rates.append(n_turns / (time.perf_counter() - t0))
        return statistics.median(rates)

    def _per_layer(self, tracer, log, prefix, out, kernel, untraced, traced) -> dict:
        from perfbench import trace

        runs = sorted({s.run_id for s in tracer.spans if s.run_id.startswith("traced")})
        n = len(runs)
        build_tasks = [t for r in runs for t in log.tasks(f"{r}/build")]
        run_tasks = build_tasks + [t for r in runs for s in SINKS
                                   for t in log.tasks(f"{r}/sink.{s}")]
        # the render stage reads the exchange and writes no shuffle output
        render_stages: dict[int, list[float]] = {}
        for t in build_tasks:
            if t.shuffle_read and not t.shuffle_written:
                render_stages.setdefault(t.stage, []).append(t.seconds)
        skews = [max(v) / statistics.median(v) for v in render_stages.values()
                 if statistics.median(v) > 0]
        shuffled = sum(t.shuffle_records for t in build_tasks) / n
        selfs = trace.self_times(prefix, list(PREFIXES))
        selfs["stage"] = tracer.median("build") - prefix["render"]
        sink_s = {s: tracer.median(f"sink.{s}") for s in SINKS}
        wall = statistics.median(traced)
        turns = self.inputs.turns
        layer = {
            "enrich.s": (selfs["enrich"], "s"),
            "shuffle.s": (selfs["shuffle"], "s"),
            "shuffle.write_mb": (sum(t.shuffle_written for t in build_tasks) / n / 1e6, "MB"),
            "shuffle.fetch_wait_s": (sum(t.fetch_wait_s for t in run_tasks) / n, "s"),
            "shuffle.useful_share": (self.inputs.meta["rendered_turns"] / shuffled
                                     if shuffled else 0.0, "ratio"),
            "render.s": (selfs["render"], "s"),
            "render.task_skew": (statistics.median(skews) if skews else 0.0, "ratio"),
            "render.docs_out": (out["docs"], "count"),
            "render.trimmed_docs": (out["trimmed"], "count"),
            "route.error_rows": (out["error_rows"], "count"),
            "fastkernel.turns_per_core_s": (kernel, "1/s"),
            "stage.s": (selfs["stage"], "s"),
            "stage.mb": (out["stage_bytes"] / 1e6, "MB"),
        }
        for s in SINKS:
            layer[f"sink.{s}.s"] = (sink_s[s], "s")
            layer[f"sink.{s}.mb"] = (out["sizes"][s] / 1e6, "MB")
        layer.update({
            "spill.mb": (sum(t.spilled for t in run_tasks) / n / 1e6, "MB"),
            "tasks.failed": (log.failed_tasks, "count"),
            "trace.wall_s": (wall, "s"),
            "trace.self_sum_s": (sum(selfs.values()) + sum(sink_s.values()), "s"),
            "trace.overhead_turns_per_s": (
                turns / wall - turns / statistics.median(untraced), "1/s"),
        })
        return layer


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "transcriptpipe", "pipeline.py")):
        print(f"perfbench: no transcriptpipe package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"run-{os.getpid()}")
    prepare_env(work)
    bench = None
    try:
        bench = Bench(args, work)
        metrics = bench.run_traced() if args.trace else bench.run_untraced()
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
