#!/usr/bin/env python3
"""Extraction benchmark: the shipped job and its layers, on seeded inputs.

Run from the root of a checkout::

    python3 perfbench/run.py --workload extract_text --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, one table

One run materializes the workload's input for ``--seed`` (cached, never
timed), then sets up: ``job.build_session`` plus the workload's warm
passes (``setup_s``; the first pass in a fresh JVM runs 2-5x the steady
wall, and the short extract pass needs a second one to settle). It then
repeats the workload's pass for ``--seconds`` (at least once) while
sampling memory, and checks the output of the measured code path with
``gate.py``. ``--trace 1`` replaces the timed
window with the layer legs (``LAYERS``) and prints the per-layer metrics
instead of the end-to-end ones. Before it exits, a run stops every
process it started (the JVM, its Python workers, the input generator's
resource tracker) and waits for each to end.

The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``;
``failed / attempted`` is the run's error rate (failed docs per checked
doc), printed above it as ``error_rate``.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src")
WORK = os.path.join(ROOT, ".perfbench")
SHM, SHM_PREFIX = "/dev/shm", "perfbench-"

# Why each workload exists is in BENCHMARK.json. "job" runs the shipped job
# (lineage.run_with_lineage with the job's defaults); "extract" runs
# pipeline.run_extraction into a noop sink. Every run pays a JVM launch and
# a cold first pass (10-40 s on 4 vCPUs), which is what limits the number
# of workloads; the giant-doc and streaming paths are measured as layers
# of every traced run instead.
#
# job_mixed's 12000 docs: a job pass is mostly per-commit work that does
# not grow with the input (4000 docs ran 14-18 s, 32000 17-22 s on 4 vCPUs).
# The size is capped by the time all runs of the benchmark may take (a run
# at 20000 docs took 61-88 s) and by the LPT branch of repartition_packed,
# which the traced legs must take: 5% of the family mix is heavy, and the
# branch needs at most 1024 heavy docs.
WORKLOADS = {
    "job_mixed": {"kind": "job", "docs": 12000, "heavy_spans": 2000, "warm": 1},
    "extract_text": {"kind": "extract", "docs": 20000, "heavy_spans": 20, "warm": 2},
}
# --size tiny (the benchmark's own tests): a twentieth of the docs, at
# least one full family cycle of gen_doc (100 docs, heavy docs included)
TINY_DIVISOR, TINY_MIN_DOCS = 20, 100

ORACLE_SAMPLE = 48
# two fragment-file pairs per micro-batch: 4 micro-batches per stream, and
# every doc completes one batch after it started (see inputs.py)
FILES_PER_TRIGGER = 2 * inputs.RANGES_PER_BATCH

END_TO_END = {"docs_per_sec": "docs/s", "setup_s": "s", "peak_rss_mb": "MB"}

# per-layer metric -> (unit, end-to-end metric it should move, on which
# workloads). Every trace run measures every layer on its workload's input;
# job.* are totals over all of the traced run's Spark stages. The LPT branch
# of repartition_packed and the staged stream run only in the traced legs.
LAYERS = {
    "catalog.scan_s": ("s", "docs_per_sec", "extract_text job_mixed"),
    "pipeline.repartition_s": ("s", "docs_per_sec", "extract_text"),
    "pipeline.pack_s": ("s", "docs_per_sec", "extract_text"),
    "pipeline.packed_branch": ("count", "none (1 on job_mixed input)", "traced legs"),
    "pipeline.shuffle_write_bytes": ("bytes", "docs_per_sec", "extract_text"),
    "pipeline.task_skew": ("ratio", "docs_per_sec", "extract_text"),
    "pipeline.transport_s": ("s", "docs_per_sec", "extract_text"),
    "segment.kernel_s": ("s", "docs_per_sec", "extract_text job_mixed"),
    "segment.kernel_cpu_s": ("s", "docs_per_sec", "extract_text job_mixed"),
    "classify.classify_s": ("s", "docs_per_sec", "extract_text job_mixed"),
    "postprocess.postprocess_s": ("s", "docs_per_sec", "extract_text job_mixed"),
    "postprocess.calls": ("count", "docs_per_sec", "extract_text job_mixed"),
    "segment.sort_group_emit_s": ("s", "docs_per_sec", "extract_text job_mixed"),
    "lineage.extract_write_s": ("s", "docs_per_sec", "job_mixed"),
    "lineage.commit_s": ("s", "docs_per_sec", "job_mixed"),
    "lineage.stats_s": ("s", "docs_per_sec", "job_mixed"),
    "lineage.commits": ("count", "docs_per_sec", "job_mixed"),
    "lineage.input_read_amplification": ("ratio", "docs_per_sec", "job_mixed"),
    "catalog.output_files": ("count", "docs_per_sec", "job_mixed"),
    "catalog.output_bytes": ("bytes", "docs_per_sec", "job_mixed"),
    "streaming_staged.microbatch_p50_s": ("s", "none", "traced stream leg"),
    "streaming_staged.add_batch_s": ("s", "none", "traced stream leg"),
    "streaming_staged.trigger_overhead_s": ("s", "none", "traced stream leg"),
    "streaming_staged.jobs_per_batch": ("count", "none", "traced stream leg"),
    "streaming_staged.rescan_rows": ("rows", "none", "traced stream leg"),
    "streaming_staged.staging_bytes": ("bytes", "none", "traced stream leg"),
    "job.gc_s": ("s", "peak_rss_mb docs_per_sec", "extract_text job_mixed"),
    "job.executor_cpu_s": ("s", "peak_rss_mb docs_per_sec", "extract_text job_mixed"),
    "job.spill_bytes": ("bytes", "peak_rss_mb docs_per_sec", "extract_text job_mixed"),
    "trace.overhead_ratio": ("ratio", "none (traced / untraced kernel wall)", "all"),
}


# --------------------------------------------------------------- machine


def machine() -> dict:
    """Sizing taken from this machine: task slots and driver heap."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:")) // 1024
    return {
        "cpus": cpus,
        "mem_mb": mem_mb,
        # a quarter of RAM, within [1, 8] GB: the JVM shares the box with
        # its Python workers and with everything else on the machine
        "driver_mb": max(1024, min(8192, mem_mb // 4)),
    }


def shuffle_dir() -> str:
    """This run's ``spark.local.dir``, created empty.

    ``build_session`` keeps shuffle files in RAM (``/dev/shm``) because a
    disk-backed local dir stalls shuffle writers on slow disks; the run
    keeps that, in a directory of its own that it removes when it ends
    (and removes those of runs that died). Where ``/dev/shm`` is not
    writable the directory is in the checkout, and the run line says so.
    """
    if os.access(SHM, os.W_OK):
        for e in os.listdir(SHM):
            pid = e[len(SHM_PREFIX):]
            dead = pid.isdigit() and not os.path.exists(f"/proc/{pid}")
            if e.startswith(SHM_PREFIX) and dead:
                shutil.rmtree(os.path.join(SHM, e), ignore_errors=True)
        path = os.path.join(SHM, f"{SHM_PREFIX}{os.getpid()}")
    else:
        path = os.path.join(WORK, "spark-local")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def configure_env(m: dict, local_dir: str) -> None:
    """Everything the session reads at JVM launch."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [SRC, HERE, os.environ.get("PYTHONPATH")])
    )
    os.environ["TMPDIR"] = tmp
    os.environ["EXTRACTION_DRIVER_MEM"] = f"{m['driver_mb']}m"
    os.environ["EXTRACTION_LOCAL_DIR"] = local_dir
    # build_session's default collector, a JVM temp dir in the checkout,
    # and no hsperfdata files in the system temp dir (launcher JVM too)
    os.environ["EXTRACTION_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        "pyspark-shell"
    )


# ----------------------------------------------------------------- passes


def identity_batches(it):
    """mapInArrow with no work: the transport leg's UDF."""
    yield from it


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def read_docs(spark, inp):
    from extraction.catalog import read_docs as catalog_read
    from extraction.schema import DOCS_SCHEMA

    return catalog_read(spark, inp.docs_dir, DOCS_SCHEMA)


def extract_pass(spark, inp, partitions: int) -> None:
    from extraction.pipeline import run_extraction

    noop(run_extraction(read_docs(spark, inp), partitions))


def job_pass(spark, inp, out: str) -> None:
    from extraction.lineage import run_with_lineage

    run_with_lineage(
        spark,
        read_docs(spark, inp),
        os.path.join(out, "output"),
        os.path.join(out, "lineage"),
        "perfbench",
    )


def stream_pass(spark, inp, out: str) -> list[dict]:
    """One availableNow stream over the fragment files; its trigger progress."""
    from extraction.streaming import FRAGMENTS_SCHEMA
    from extraction.streaming_staged import start_staged_assembly

    q = start_staged_assembly(
        spark.readStream.schema(FRAGMENTS_SCHEMA)
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .parquet(inp.frags_dir),
        out,
    )
    q.awaitTermination()
    return [p for p in q.recentProgress if "addBatch" in p["durationMs"]]


# ------------------------------------------------------------ correctness


def gate_failures(spark, inp, out) -> set[str]:
    """Doc ids of ``inp`` that fail the gate on output DataFrame ``out``."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    import gate
    from extraction.corpus import gen_doc

    expected = {}
    for i in gate.oracle_sample(inp.n_docs, inp.seed, ORACLE_SAMPLE):
        doc_id, spans = gen_doc(i, inp.seed, inp.heavy_spans)
        expected[doc_id] = gate.expected_spans(spans)
    rows = out.select(
        "doc_id",
        F.when(F.col("doc_id").isin(list(expected)), F.col("spans")).alias("spans"),
    ).collect()
    got = {r["doc_id"]: gate.as_tuples(r["spans"]) for r in rows if r["spans"] is not None}
    input_ids = pq.read_table(inp.docs_dir, columns=["doc_id"]).column(0).to_pylist()
    return gate.failed_docs(input_ids, [r["doc_id"] for r in rows], got, expected)


def stream_vs_batch(spark, inp, stream_out) -> set[str]:
    """Docs whose streamed output differs from one batch pass
    (``assemble_completed`` + ``extract``) over the same fragments."""
    from pyspark.sql import functions as F

    from extraction.pipeline import extract
    from extraction.streaming import FRAGMENTS_SCHEMA
    from extraction.streaming_staged import assemble_completed

    frags = spark.read.schema(FRAGMENTS_SCHEMA).parquet(inp.frags_dir)
    batch = extract(assemble_completed(frags, frags.select("doc_id").distinct()))

    def hashes(df) -> dict:
        return dict(
            df.select("doc_id", F.xxhash64(F.to_json("spans")).alias("h")).collect()
        )

    a, b = hashes(stream_out), hashes(batch)
    return {d for d in set(a) | set(b) if a.get(d) != b.get(d)}


def extract_output(spark, inp, partitions: int, path: str):
    """The ``run_extraction`` output, written to parquet for the gate."""
    from extraction.pipeline import run_extraction

    run_extraction(read_docs(spark, inp), partitions).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def job_output(spark, out: str):
    from extraction.catalog import read_back

    return read_back(spark, os.path.join(out, "output"))


def stream_output(spark, out: str):
    path = os.path.join(out, "out")
    return spark.read.option("basePath", path).parquet(path)


# ---------------------------------------------------------------- timed


def workload_pass(spark, kind: str, inp, m: dict, out: str) -> None:
    if kind == "job":
        job_pass(spark, inp, out)
    else:
        extract_pass(spark, inp, 2 * m["cpus"])


def timed_window(spark, kind: str, inp, m: dict, work: str, seconds: float):
    """Repeat the workload's pass until ``seconds`` have passed (at least
    once). Returns the pass walls, the peak memory and the last pass's
    output DataFrame."""
    from probes import RssSampler

    walls, out = [], None
    t_start = time.perf_counter()
    with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
        while not walls or time.perf_counter() - t_start < seconds:
            if out:
                shutil.rmtree(out, ignore_errors=True)
            out = os.path.join(work, f"pass-{len(walls)}")
            t0 = time.perf_counter()
            workload_pass(spark, kind, inp, m, out)
            walls.append(time.perf_counter() - t0)
    if kind == "job":
        result = job_output(spark, out)
    else:
        result = extract_output(spark, inp, 2 * m["cpus"], os.path.join(work, "check"))
    jvm, workers, n = rss.at_peak
    print(f"peak rss: JVM {jvm:.0f} MB + {n} Python processes {workers:.0f} MB", flush=True)
    return walls, rss.peak_mb, result


# ----------------------------------------------------------------- traced


def timed(fn):
    """Run ``fn``; its wall (s) and its (start, end) epoch-ms window, by
    which Spark's REST metrics are attributed to it."""
    w0 = time.time() * 1e3
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0, (w0 - 1.0, time.time() * 1e3 + 1.0)


def dir_files_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix) and not f.startswith("."):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def kernel_stages(inp) -> dict:
    """Spark-free single-thread kernel pass over the workload's own batches
    (the Arrow batch size Spark uses: maxRecordsPerBatch 8192)."""
    import pyarrow.dataset as ds

    from extraction import segment
    from probes import Tally

    batches = list(
        ds.dataset(inp.docs_dir, format="parquet").to_batches(
            columns=["doc_id", "spans"], batch_size=8192
        )
    )

    def consume() -> float:
        t0 = time.perf_counter()
        for _ in segment.extract_batches(iter(batches)):
            pass
        return time.perf_counter() - t0

    for _ in segment.extract_batches(iter(batches[:1])):
        pass  # first use of the Arrow compute kernels in this process
    untraced = consume()
    with Tally(segment, "classify_flat") as cl, Tally(segment, "postprocess_doc") as pp:
        traced = consume()
    return {
        "segment.kernel_cpu_s": untraced,
        "classify.classify_s": cl.seconds,
        "postprocess.postprocess_s": pp.seconds,
        "postprocess.calls": pp.calls,
        "segment.sort_group_emit_s": traced - cl.seconds - pp.seconds,
        "trace.overhead_ratio": traced / untraced,
    }


def trace_layers(spark, inp, m: dict, work: str):
    """Every per-layer metric, measured on this workload's input. Returns
    (metrics, doc ids failing the gate on the job and stream legs' output)."""
    from extraction import lineage, pipeline
    from extraction.pipeline import repartition_packed
    from extraction.schema import DOCS_SCHEMA
    from probes import SparkRest, Tally, stage_totals

    P = 2 * m["cpus"]
    legs = {
        "scan": lambda: noop(read_docs(spark, inp)),
        "repartition": lambda: noop(repartition_packed(read_docs(spark, inp), P)),
        "transport": lambda: noop(
            repartition_packed(read_docs(spark, inp), P)
            .select("doc_id", "spans")
            .mapInArrow(identity_batches, DOCS_SCHEMA)
        ),
    }
    walls, windows = {}, {}
    for name, fn in legs.items():
        walls[name], windows[name] = timed(fn)
    with Tally(pipeline, "repartition_packed") as pk, Tally(
        pipeline, "partition_index_salts"
    ) as salts:
        walls["kernel"], windows["kernel"] = timed(lambda: extract_pass(spark, inp, P))

    job_out = os.path.join(work, "trace-job")
    with Tally(lineage, "overwrite_buckets") as wr, Tally(lineage, "append_rows") as cm:
        job_wall, windows["job"] = timed(lambda: job_pass(spark, inp, job_out))
    out_files, out_bytes = dir_files_bytes(os.path.join(job_out, "output"), ".parquet")

    stream_out = os.path.join(work, "trace-stream")
    progress: list[dict] = []
    stream_s, windows["stream"] = timed(
        lambda: progress.extend(stream_pass(spark, inp, stream_out))
    )
    print("trace legs: " + ", ".join(
        f"{k} {v:.2f} s" for k, v in {**walls, "job": job_wall, "stream": stream_s}.items()
    ), flush=True)
    nb = max(1, len(progress))
    dur = [p["durationMs"] for p in progress]
    _, staging_bytes = dir_files_bytes(os.path.join(stream_out, "staging"))

    rest = SparkRest(spark)
    rest.snapshot()
    run_totals = stage_totals(rest.stages)
    kernel_stage = max(rest.stages_in(windows["kernel"]), key=lambda s: s["executorRunTime"])

    def rest_total(leg: str, key: str) -> float:
        return stage_totals(rest.stages_in(windows[leg]))[key]

    metrics = {
        "catalog.scan_s": walls["scan"],
        "pipeline.repartition_s": walls["repartition"] - walls["scan"],
        "pipeline.pack_s": pk.seconds,
        "pipeline.packed_branch": int(salts.calls > 0),
        "pipeline.shuffle_write_bytes": rest_total("repartition", "shuffle_write_bytes"),
        "pipeline.task_skew": rest.task_skew(kernel_stage),
        "pipeline.transport_s": walls["transport"] - walls["repartition"],
        "segment.kernel_s": walls["kernel"] - walls["transport"],
        "lineage.extract_write_s": wr.seconds,
        "lineage.commit_s": cm.seconds,
        "lineage.stats_s": job_wall - wr.seconds - cm.seconds,
        "lineage.commits": wr.calls,
        "lineage.input_read_amplification": rest_total("job", "input_records") / inp.n_docs,
        "catalog.output_files": out_files,
        "catalog.output_bytes": out_bytes,
        "streaming_staged.microbatch_p50_s": statistics.median(
            d["triggerExecution"] for d in dur
        ) / 1e3,
        "streaming_staged.add_batch_s": statistics.median(d["addBatch"] for d in dur) / 1e3,
        "streaming_staged.trigger_overhead_s": statistics.median(
            d["triggerExecution"] - d["addBatch"] for d in dur
        ) / 1e3,
        "streaming_staged.jobs_per_batch": len(rest.jobs_in(windows["stream"])) / nb,
        "streaming_staged.rescan_rows": rest_total("stream", "input_records") / nb,
        "streaming_staged.staging_bytes": staging_bytes,
        "job.gc_s": run_totals["gc_s"],
        "job.executor_cpu_s": run_totals["cpu_s"],
        "job.spill_bytes": run_totals["spill_bytes"],
    }
    metrics.update(kernel_stages(inp))
    stream_out_df = stream_output(spark, stream_out)
    bad = gate_failures(spark, inp, job_output(spark, job_out))
    bad |= gate_failures(spark, inp, stream_out_df)
    bad |= stream_vs_batch(spark, inp, stream_out_df)
    return metrics, bad


def print_trace_tables(workload: str, inp, t: dict) -> None:
    """The layer map and the Spark-free kernel stage table."""
    print("layer metric -> end-to-end metric it should move, on workloads")
    for k, (_, moves, on) in LAYERS.items():
        print(f"  {k:<38} {moves}, {on}")
    traced = t["segment.kernel_cpu_s"] * t["trace.overhead_ratio"]
    print(
        f"kernel stages, Spark-free, 1 thread, {workload}: "
        f"{inp.n_docs} docs / {inp.n_spans} spans"
    )
    for name, key in (
        ("classify", "classify.classify_s"),
        ("postprocess", "postprocess.postprocess_s"),
        ("sort/group/emit", "segment.sort_group_emit_s"),
    ):
        print(f"  {name:<16} {t[key]:8.3f} s  {100 * t[key] / traced:5.1f}%")
    print(
        f"  traced wall {traced:.3f} s, untraced wall {t['segment.kernel_cpu_s']:.3f} s, "
        f"tracing overhead x{t['trace.overhead_ratio']:.3f}"
    )


# ------------------------------------------------------------------- main

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Become the reaper of every process started below this one, so a
    process whose parent exits (a Python worker of the Spark JVM) is
    re-parented here and ``reap_children`` still finds it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(grace_s: float = 10.0) -> None:
    """Stop every process still below this one and wait until each has
    ended: SIGTERM, then SIGKILL after ``grace_s``. Also stops the resource
    tracker that input generation's process pool started."""
    from multiprocessing import resource_tracker

    from probes import children_map

    gc.collect()  # finalizers that would talk to the tracker run now
    resource_tracker._resource_tracker._stop()
    me, sig, told = os.getpid(), signal.SIGTERM, False
    deadline = time.monotonic() + grace_s
    while True:
        live = []
        for pid in children_map().get(me, ()):
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == 0:
                    live.append(pid)
            except ChildProcessError:  # already reaped
                pass
        if not live:
            return
        if not told:
            print(f"perfbench: stopping leftover processes {live}", file=sys.stderr)
            told = True
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM, which exits when its stdin
    (held by this process) closes; the JVM stops its Python workers."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def run_workload(a, m: dict, local_dir: str) -> int:
    import pyarrow
    import pyspark

    spec = WORKLOADS[a.workload]
    n_docs = spec["docs"]
    if a.size == "tiny":
        n_docs = max(TINY_MIN_DOCS, n_docs // TINY_DIVISOR)
    inp = inputs.materialize(ROOT, a.workload, n_docs, spec["heavy_spans"], a.seed, m["cpus"])
    print("run " + json.dumps({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "cpus": m["cpus"], "mem_mb": m["mem_mb"], "driver_mb": m["driver_mb"],
        "spark_local_dir": local_dir,
        "docs": inp.n_docs, "spans": inp.n_spans, "input_bytes": inp.docs_bytes,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
    }), flush=True)

    from extraction.job import build_session

    work = os.path.join(WORK, "work", f"{os.getpid()}-{a.workload}")
    spark = None
    try:
        t0 = time.perf_counter()
        spark = build_session(f"local[{m['cpus']}]", 2 * m["cpus"], app="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        build_s = time.perf_counter() - t0
        warm = []
        for k in range(spec["warm"]):
            warm_dir = os.path.join(work, f"warm-{k}")
            warm.append(timed(lambda: workload_pass(spark, spec["kind"], inp, m, warm_dir))[0])
            shutil.rmtree(warm_dir, ignore_errors=True)
        warm_s = sum(warm)
        print(f"setup: build_session {build_s:.3f} s, warm passes "
              f"{[round(w, 3) for w in warm]} s", flush=True)

        if a.trace:
            metrics, bad = trace_layers(spark, inp, m, work)
            print_trace_tables(a.workload, inp, metrics)
            units = {k: v[0] for k, v in LAYERS.items()}
        else:
            walls, peak_mb, out = timed_window(spark, spec["kind"], inp, m, work, a.seconds)
            print(f"passes {len(walls)}, walls {[round(w, 3) for w in walls]} s", flush=True)
            metrics = {
                "docs_per_sec": inp.n_docs / statistics.median(walls),
                "setup_s": build_s + warm_s,
                "peak_rss_mb": peak_mb,
            }
            units = END_TO_END
            bad = gate_failures(spark, inp, out)
        attempted, failed = inp.n_docs, len(bad)
    except Exception:  # a run that raises fails every doc it attempted
        traceback.print_exc()
        attempted, failed, metrics, units = n_docs, n_docs, {}, {}
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    for k, v in metrics.items():
        print(f"{k:<38} {v:>16.6g} {units[k]}")
    print(f"{'error_rate':<38} {failed / attempted:>16.6g} failed/attempted")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def run_all(a) -> int:
    """Every workload in its own process (its own JVM), then one table."""
    results, rc = {}, 0
    for name in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--size", a.size],
            cwd=ROOT, stdout=subprocess.PIPE, text=True,
        )
        rc |= p.returncode
        lines = p.stdout.strip().splitlines()
        try:
            results[name] = json.loads(lines[-1])
            lines.pop()
        except (IndexError, ValueError):  # the child died before its result
            results[name] = None
            rc |= 1
        print("\n".join(lines))
    print(f"{'workload':<18} {'metric':<38} {'value':>14} unit")
    for name, r in results.items():
        if r is None:
            print(f"{name:<18} no result")
            continue
        for k, v in r["metrics"].items():
            print(f"{name:<18} {k:<38} {v['value']:>14.6g} {v['unit']}")
        rate = r["failed"] / r["attempted"]
        print(f"{name:<18} {'error_rate':<38} {rate:>14.6g} failed/attempted")
    done = [r for r in results.values() if r]
    print(json.dumps({
        "correct": len(done) == len(results) and all(r["correct"] for r in done),
        "attempted": sum(r["attempted"] for r in done),
        "failed": sum(r["failed"] for r in done),
        "metrics": {
            f"{name}.{k}": v for name, r in results.items() if r
            for k, v in r["metrics"].items()
        },
    }))
    return rc


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    a = p.parse_args(argv)

    if not os.path.isdir(os.path.join(SRC, "extraction")):
        print(f"perfbench: no program to measure under {SRC}", file=sys.stderr)
        return 2
    adopt_orphans()
    local_dir = None
    try:
        if a.workload == "all":
            return run_all(a)
        m = machine()
        local_dir = shuffle_dir()
        configure_env(m, local_dir)
        sys.path[:0] = [SRC, HERE]
        return run_workload(a, m, local_dir)
    finally:
        reap_children()  # the session's JVM and its Python workers
        if local_dir:
            shutil.rmtree(local_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
