#!/usr/bin/env python3
"""End-to-end benchmark of the engine: one workload, one seed, one run.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run generates (or reuses) the seeded
inputs, starts one Spark session on ``local[N]`` (N = min(2, usable
cores)), warms it up, times warm passes for ``--seconds`` seconds, runs
the correctness gate untimed, stops the JVM and its Python workers and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). A fuller run record is printed on the line before
and written to ``e2ebench/.work/records/``. See README.md in this
directory for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import io
import json
import os
import runpy
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

import gate
import inputs
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "anime_data_pipeline_spark"
EP1_CLI = os.path.join(ROOT, "scripts", "run_pipeline.py")
PAGE = os.sysconf("SC_PAGE_SIZE")

# Driver heap pinned through the program's own knob, so peak RSS does
# not follow GC timing on a large default heap.
DRIVER_MEM = "1g"
# Timed passes per run. A fixed count keeps every run at the same point
# on the JIT warm-up curve; two is what the run budget allows (README.md).
# Traced runs alternate untraced-traced and traced-untraced pairs and
# need an even count too.
MIN_PASSES = 2
# The one query that runs the full-pixel codecs (PNG, GIF, BMP, TIFF-LZW
# and JPEG decoders in operators/*_codec.py) inside mapInPandas workers.
CODEC_QUERY = "q192_foreign_stream_decode"

WORKLOADS: dict[str, dict] = {
    "ep1_ingest": {"inputs": "ep1"},
    "llm_curation": {
        "inputs": "tables",
        "queries": ["q86_semantic_dedup", "q35_curation_pipeline", "q163_hierarchy_flatten",
                    CODEC_QUERY],
    },
}

LLM_LAYERS = ("operators.dedup", "operators.similarity", "operators.graph",
              "operators.textstats", "plans.curation")
EP1_STAGES = ("sources.scan_s", "sources.sidecar_s", "sources.aesthetic_s", "sources.vocab_s",
              "operators.multimodal.decode_s", "operators.bucketing.assign_s",
              "plans.pipeline.join_s", "operators.tags.order_s", "plans.pipeline.sink_s",
              "plans.pipeline.report_s")
EP1_COUNTS = ("sources.files", "operators.multimodal.decoded_ratio", "plans.pipeline.kept_ratio")
EXEC = ("exec.sink_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
        "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
        "exec.spill_mb", "exec.python_mb", "exec.python_run_s")
PER_LAYER = (
    ("session.start_s", "queries.build_s", "queries.eager_s", "queries.eager_jobs",
     "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms")
    + EXEC + EP1_STAGES + EP1_COUNTS
    + tuple(f"{layer}.{m}" for layer in LLM_LAYERS for m in ("build_s", "eager_jobs"))
    + ("operators.codec.python_s", "trace.overhead_s")
)
UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_ratio": "ratio"}


def unit(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def log(msg: str) -> None:
    print(f"[e2ebench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Host and process probes
# ---------------------------------------------------------------------------

def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7] if len(f) > 7 else 0


def _tree_rss(root_pid: int) -> dict[int, int]:
    """RSS bytes of ``root_pid`` and each of its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for pid in _procs():
        f = _stat(pid)
        if f is not None:
            children.setdefault(int(f[1]), []).append(pid)
            rss[pid] = int(f[21]) * PAGE
    tree, frontier = {}, [root_pid]
    while frontier:
        pid = frontier.pop()
        tree[pid] = rss.get(pid, 0)
        frontier.extend(children.get(pid, []))
    return tree


class RssSampler(threading.Thread):
    """Sustained peak of the summed RSS of the driver JVM and its Python
    workers: samples every 0.1 s and keeps the largest median of five
    consecutive samples, so a Python worker forked for a few
    milliseconds does not set the peak. Also keeps the split at the
    peak (JVM bytes, process count)."""

    WINDOW = 5

    def __init__(self, pid: int, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.pid, self.interval, self.peak = pid, interval, 0
        self.at_peak: dict = {}
        self._recent: collections.deque = collections.deque(maxlen=self.WINDOW)
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            tree = _tree_rss(self.pid)
            self._recent.append((sum(tree.values()), tree.get(self.pid, 0), len(tree)))
            total, jvm, n = sorted(self._recent)[len(self._recent) // 2]
            if len(self._recent) == self.WINDOW and total > self.peak:
                self.peak = total
                self.at_peak = {"jvm_mb": jvm / 2**20, "processes": n}
            self._stop_evt.wait(self.interval)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------

def n_cpus() -> int:
    """local[N] with N = min(2, usable cores). On a shared 4-core host two
    task slots warm up faster and spread less run to run than four, at
    the same warm pass time."""
    return max(1, min(2, len(os.sched_getaffinity(0))))


def start_session(scratch: str, trace: bool):
    from anime_data_pipeline_spark.session import get_spark

    # -Xms: initial heap = the pinned maximum, so the heap never resizes;
    # -XX:-UsePerfData: no hsperfdata files in the system temp dir
    java_opts = (f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={scratch}/tmp "
                 f"-Dderby.system.home={scratch}/derby")
    conf = {
        "spark.local.dir": f"{scratch}/spark-local",
        "spark.sql.warehouse.dir": f"{scratch}/warehouse",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{scratch}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="e2ebench", cpus=n_cpus(), extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM (it exits when its stdin closes),
    and wait for the JVM and every process under it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    tree = [pid for pid in _procs() if _is_descendant(pid, proc.pid)]
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    for pid in tree:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def _procs() -> list[int]:
    return [int(d) for d in os.listdir("/proc") if d.isdigit()]


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rfind(")") + 2:].split()


def _alive(pid: int) -> bool:
    f = _stat(pid)
    return f is not None and f[0] != "Z"


def _is_descendant(pid: int, root: int) -> bool:
    for _ in range(64):
        f = _stat(pid)
        if f is None:
            return False
        pid = int(f[1])
        if pid == root:
            return True
        if pid <= 1:
            return False
    return False


# ---------------------------------------------------------------------------
# Workload passes
# ---------------------------------------------------------------------------

class Runner:
    """Holds one run's session, inputs and operation counters."""

    def __init__(self, spark, workload: str, manifest: dict, scratch: str, tracer) -> None:
        self.spark, self.manifest = spark, manifest
        self.scratch, self.tracer = scratch, tracer
        self.spec = WORKLOADS[workload]
        self.attempted = self.failed = 0
        self.catalyst: list[dict] = []  # per traced query: phase ms
        self.last_stdout = ""
        self.results: dict = {}  # query name -> collected warm-up result
        if self.spec["inputs"] == "ep1":
            self.ep1_main = runpy.run_path(EP1_CLI, run_name="ep1_cli")["main"]
            m = manifest
            self.out_path = os.path.join(scratch, "ep1_out")
            self.ep1_argv = (
                ["run_pipeline.py", "--image_dirs", *m["image_dirs"], "--sidecar_dir",
                 m["sidecar_dir"], "--aesthetic_files", *m["aesthetic_files"], "--vocab_csv",
                 m["vocab_csv"], "--out_path", self.out_path, "--out_format", "parquet",
                 "--cpus", str(n_cpus())]
            )
        else:
            from anime_data_pipeline_spark.registry import all_queries

            self.queries = all_queries()

    def _op(self, fn, *args):
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
            self.failed += 1
            log("operation failed:\n" + traceback.format_exc())
            return None

    def one_pass(self, catalyst: bool = False, collect: bool = False) -> None:
        """One pass over the workload's input. ``collect`` materializes
        query results to the driver (kept for the gate) instead of
        writing them to the noop sink."""
        if self.spec["inputs"] == "ep1":
            out = self._op(self._ep1_once)
            self.last_stdout = out if out is not None else ""
            return
        for name in self.spec["queries"]:
            self._op(self._query_once, name, catalyst, collect)

    def _query_once(self, name: str, catalyst: bool, collect: bool) -> None:
        tracer = self.tracer
        self.spark.catalog.clearCache()
        with tracer.span(f"queries.{name}", "queries"):
            df = self.queries[name](self.spark, self.manifest["dir"])
        if catalyst:
            with tracer.span(f"catalyst.{name}", "catalyst"):
                self.catalyst.append(tracing.catalyst_phases(df))
        if collect:
            self.results[name] = df.toPandas()
        else:
            with tracer.span(f"exec.sink.{name}", "exec.sink"):
                df.write.format("noop").mode("overwrite").save()

    def _ep1_once(self) -> str:
        buf = io.StringIO()
        argv, sys.argv = sys.argv, list(self.ep1_argv)
        try:
            with contextlib.redirect_stdout(buf):
                self.ep1_main()
        finally:
            sys.argv = argv
        return buf.getvalue()

    def gate(self) -> dict:
        """Correctness gate over outputs this run already produced: the
        warm-up pass's collected query results, or the files and stdout
        of the last EP1 pass. Untimed."""
        if self.spec["inputs"] == "ep1":
            return gate.check_ep1(self.last_stdout, self.out_path, self.manifest)
        from anime_data_pipeline_spark.catalog import TABLES
        from anime_data_pipeline_spark.registry import all_oracles

        con = gate.oracle_connection(self.manifest["dir"], list(TABLES))
        res = gate.check_queries(self.results, all_oracles(), con)
        for name in self.spec["queries"]:
            if name not in self.results:
                res["ok"] = False
                res["failures"][name] = "query raised"
        return res


def timed_passes(runner: Runner, seconds: float, n: int = MIN_PASSES,
                 catalyst: bool = False) -> list[dict]:
    """Warm passes until ``seconds`` have elapsed and at least ``n`` ran;
    each sample carries its load1 and CPU steal share."""
    samples: list[dict] = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(samples) < n:
        load1 = os.getloadavg()[0]
        tot0, steal0 = _cpu_ticks()
        w0, t0 = time.time(), time.perf_counter()
        runner.one_pass(catalyst=catalyst)
        wall = time.perf_counter() - t0
        tot1, steal1 = _cpu_ticks()
        samples.append({"wall_s": wall, "load1": load1, "start": w0, "end": time.time(),
                        "steal_pct": 100.0 * (steal1 - steal0) / max(1, tot1 - tot0)})
    return samples


def traced_passes(runner: Runner, seconds: float) -> tuple[list[dict], list[dict]]:
    """Alternate traced and untraced passes for ``seconds`` (at least
    MIN_PASSES of each), so the tracing overhead is measured on passes
    that share the same warm-up state and host load. Pairs run in
    untraced-traced, traced-untraced order, so the warm-up trend over
    consecutive passes does not favour either side."""
    from pyspark.sql.readwriter import DataFrameWriter

    tracer = runner.tracer
    orig_parquet = DataFrameWriter.parquet

    def parquet_sink(writer, *a, **k):
        with tracer.span("catalyst.ep1", "catalyst"):
            runner.catalyst.append(tracing.catalyst_phases(writer._df))
        with tracer.span("exec.sink.parquet", "exec.sink"):
            return orig_parquet(writer, *a, **k)

    def one_traced() -> list[dict]:
        # the layer wrappers serve the query workloads' per-layer split;
        # EP1's stage split comes from ep1_stage_split instead
        undo = tracing.install_wrappers(tracer) if runner.spec["inputs"] == "tables" else []
        DataFrameWriter.parquet = parquet_sink
        tracer.enabled = True
        try:
            return timed_passes(runner, 0, n=1, catalyst=True)
        finally:
            tracer.enabled = False
            DataFrameWriter.parquet = orig_parquet
            tracing.remove_wrappers(undo)

    # one more warm pass first: the step from the first warm pass to the
    # second is the largest on the warm-up curve, and the pair order
    # only cancels a trend that is close to linear
    timed_passes(runner, 0, n=1)
    traced: list[dict] = []
    untraced: list[dict] = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(traced) < MIN_PASSES:
        if len(traced) % 2 == 0:
            untraced += timed_passes(runner, 0, n=1)
            traced += one_traced()
        else:
            traced += one_traced()
            untraced += timed_passes(runner, 0, n=1)
    return traced, untraced


# ---------------------------------------------------------------------------
# Traced-run layer split
# ---------------------------------------------------------------------------

def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def ep1_stage_split(runner: Runner, reps: int = 2) -> dict:
    """EP1 stage times from cumulative-prefix materializations through
    the noop sink, composed from the same public functions the CLI uses.
    Each figure is the median over ``reps`` repetitions."""
    from pyspark.sql import functions as F

    from anime_data_pipeline_spark.config import parse_args
    from anime_data_pipeline_spark.operators.multimodal import decode_image_meta
    from anime_data_pipeline_spark.plans import pipeline as P
    from anime_data_pipeline_spark.sources.aesthetic import read_aesthetic_scores
    from anime_data_pipeline_spark.sources.images import derive_keys, scan_image_dirs
    from anime_data_pipeline_spark.sources.sidecar import read_sidecar_tags
    from anime_data_pipeline_spark.sources.vocab import (
        CATEGORY_GENERAL, read_tag_vocab, vocab_names_by_category)

    spark, m = runner.spark, runner.manifest
    cfg = parse_args(runner.ep1_argv[1:]).pipeline_config()
    rows: dict[str, list[float]] = {k: [] for k in EP1_STAGES}
    for _ in range(reps):
        spark.catalog.clearCache()
        scan = scan_image_dirs(spark, m["image_dirs"])
        images = decode_image_meta(derive_keys(scan).withColumnRenamed("path", "image_key"))
        images = (images.withColumn("is_corrupt", F.col("image_meta").isNull())
                  .withColumn("width", F.col("image_meta.width"))
                  .withColumn("height", F.col("image_meta.height")).drop("content"))
        sidecars = read_sidecar_tags(spark, m["sidecar_dir"])
        scores = read_aesthetic_scores(spark, m["aesthetic_files"])
        t0 = time.perf_counter()
        names = [r["name"] for r in vocab_names_by_category(
            read_tag_vocab(spark, m["vocab_csv"]), CATEGORY_GENERAL).collect()]
        vocab_s = time.perf_counter() - t0
        bucketed = P.bucketing_stage(images, cfg.bucket)
        joined, audit = P.aesthetic_stage(P.sidecar_join_stage(bucketed, sidecars), scores,
                                          cfg.aesthetic_threshold)
        meta, _ = P.run_ep1(images, sidecars, scores, names, cfg)
        t = {"scan": _noop_s(scan), "decode": _noop_s(images), "bucket": _noop_s(bucketed),
             "join": _noop_s(joined), "order": _noop_s(meta),
             "sidecar": _noop_s(sidecars), "aesthetic": _noop_s(scores)}
        t0 = time.perf_counter()
        meta.write.mode("overwrite").parquet(os.path.join(runner.scratch, "ep1_split"))
        sink_full = time.perf_counter() - t0
        t0 = time.perf_counter()
        audit.collect()
        P.bucket_report(meta).orderBy("bucket_reso").collect()
        report_s = time.perf_counter() - t0
        for k, v in (("sources.scan_s", t["scan"]), ("sources.sidecar_s", t["sidecar"]),
                     ("sources.aesthetic_s", t["aesthetic"]), ("sources.vocab_s", vocab_s),
                     ("operators.multimodal.decode_s", t["decode"] - t["scan"]),
                     ("operators.bucketing.assign_s", t["bucket"] - t["decode"]),
                     ("plans.pipeline.join_s", t["join"] - t["bucket"]),
                     ("operators.tags.order_s", t["order"] - t["join"]),
                     ("plans.pipeline.sink_s", sink_full - t["order"]),
                     ("plans.pipeline.report_s", report_s)):
            rows[k].append(v)
    out = {k: statistics.median(v) for k, v in rows.items()}
    n_files = scan.count()
    n_decoded = images.filter(F.col("image_meta").isNotNull()).count()
    n_written = spark.read.parquet(runner.out_path).count()
    out.update({"sources.files": n_files,
                "operators.multimodal.decoded_ratio": n_decoded / max(1, n_files),
                "plans.pipeline.kept_ratio": n_written / max(1, n_files)})
    return out


def traced_metrics(runner: Runner, samples: list[dict], event_dir: str) -> dict:
    """Per-layer metrics of the traced passes, medians over passes."""
    tracer = runner.tracer
    jobs, stages = tracing.parse_event_log(event_dir)
    tracing.attach_jobs(tracer.spans, jobs)
    tracer.dump(os.path.join(runner.scratch, "spans.jsonl"), jobs)
    per_pass: dict[str, list[float]] = {}
    for s in samples:
        layers = tracing.layer_summary(tracer.spans, jobs, s["start"], s["end"])
        q = layers.get("queries", {})
        row = {
            "queries.build_s": q.get("self_s", 0.0),
            "queries.eager_s": q.get("job_s", 0.0),
            "queries.eager_jobs": q.get("jobs", 0),
            "exec.sink_s": sum(sp["end"] - sp["start"] for sp in tracer.spans
                               if sp["layer"] == "exec.sink"
                               and s["start"] <= sp["start"] <= s["end"]),
        }
        row.update(tracing.exec_metrics(jobs, stages, s["start"], s["end"]))
        # codec decoding runs in Python workers during the codec query's sink
        row["operators.codec.python_s"] = sum(
            tracing.exec_metrics(jobs, stages, sp["start"], sp["end"])["exec.python_run_s"]
            for sp in tracer.spans
            if sp["name"] == f"exec.sink.{CODEC_QUERY}" and s["start"] <= sp["start"] <= s["end"])
        for layer in LLM_LAYERS:
            row[f"{layer}.build_s"] = layers.get(layer, {}).get("self_s", 0.0)
            row[f"{layer}.eager_jobs"] = layers.get(layer, {}).get("jobs", 0)
        for k, v in row.items():
            per_pass.setdefault(k, []).append(v)
    out = {k: statistics.median(v) for k, v in per_pass.items()}
    n = max(1, len(samples))
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = sum(c[phase] for c in runner.catalyst) / n
    return out


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------

def parse(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def import_program() -> None:
    """The program under test must come from this checkout."""
    sys.path.insert(0, ROOT)
    try:
        import anime_data_pipeline_spark as pkg
    except ImportError as e:
        sys.exit(f"e2ebench: the program is not in this checkout ({e})")
    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        sys.exit(f"e2ebench: {PACKAGE} imported from outside the checkout: {pkg.__file__}")
    if not os.path.exists(EP1_CLI):
        sys.exit(f"e2ebench: missing {EP1_CLI}")


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    import_program()
    spec = WORKLOADS[args.workload]

    t_gen = time.perf_counter()
    manifest = inputs.prepare(WORK, args.seed, spec["inputs"])
    gen_s = time.perf_counter() - t_gen

    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog", "derby"):
        os.makedirs(os.path.join(scratch, d))
    os.environ.update({
        "TMPDIR": os.path.join(scratch, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(n_cpus()),
        # the launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}/tmp",
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    tracer = tracing.Tracer()
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "cpus": n_cpus(), "driver_mem": DRIVER_MEM, "input_gen_s": gen_s,
                    "inputs": {k: manifest[k] for k in ("signature", "files", "bytes")
                               if k in manifest}}
    record["inputs"].update({k: manifest[k] for k in ("rows", "n_image_files") if k in manifest})
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(scratch, bool(args.trace))
        session_s = time.perf_counter() - t0
        runner = Runner(spark, args.workload, manifest, scratch, tracer)
        runner.one_pass(collect=True)
        setup_s = time.perf_counter() - t0
        warm = setup_s - session_s
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}s, warm-up {warm:.2f}s)")

        from pyspark import SparkContext

        sampler = RssSampler(SparkContext._gateway.proc.pid)
        sampler.start()

        if args.trace:
            # the interleaved untraced passes stand in for the plain ones
            traced, samples = traced_passes(runner, args.seconds)
            log("traced passes " + " ".join(f"{s['wall_s']:.3f}" for s in traced))
        else:
            samples = timed_passes(runner, args.seconds)
        peak_rss = sampler.stop()
        pass_s = statistics.median(s["wall_s"] for s in samples)
        log("passes " + " ".join(f"{s['wall_s']:.3f}" for s in samples))
        record.update(session_s=session_s, warmup_s=warm, setup_s=setup_s,
                      passes=samples, pass_s=pass_s, peak_rss_mb=peak_rss / 2**20,
                      rss_at_peak=sampler.at_peak)
        if args.trace:
            record["traced_passes"] = traced
            split = ep1_stage_split(runner) if spec["inputs"] == "ep1" else {}

        t_gate = time.perf_counter()
        result = runner.gate()
        log(f"gate {time.perf_counter() - t_gate:.2f}s")
        if not (result["ok"] and result["selftest_ok"]):
            log(f"GATE FAILED: {json.dumps(result, default=str)[:2000]}")
        record["gate"] = {k: v for k, v in result.items() if k != "output_bytes"}
        output_mb = result["output_bytes"] / 2**20
    finally:
        if spark is not None:
            t_stop = time.perf_counter()
            stop_session(spark)
            log(f"teardown {time.perf_counter() - t_stop:.2f}s")

    if args.trace:
        metrics = traced_metrics(runner, traced, os.path.join(scratch, "eventlog"))
        metrics.update(split)
        metrics["session.start_s"] = session_s
        metrics["trace.overhead_s"] = statistics.median(s["wall_s"] for s in traced) - pass_s
        metrics = {k: metrics.get(k, 0) for k in PER_LAYER}
    else:
        metrics = {"setup_s": setup_s, "pass_s": pass_s, "peak_rss_mb": peak_rss / 2**20,
                   "output_mb": output_mb}
    record["metrics"] = metrics
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, "records", name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        shutil.copy(os.path.join(scratch, "spans.jsonl"),
                    os.path.join(WORK, "records", name.replace(".json", ".spans.jsonl")))
    shutil.rmtree(scratch, ignore_errors=True)

    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": bool(result["ok"] and result["selftest_ok"]),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
