#!/usr/bin/env python
"""Per-round benchmark harness (driver contract).

Runs the headline queries from ``__spark_entry__`` against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE COMPACT JSON line::

    {"metric": ..., "value": N, "unit": "sec", "n_queries": ...,
     "sec_per_query": ..., "sf": ..., "extract": {...}, "scaling": {...},
     "scaling_protocol": {...}, "queries_file": "BENCH/queries_rN.json"}

The stdout line is deliberately small (< 1 KB): round 2's full
per-query map outgrew the driver's tail-capture window and the whole
line became unparseable (BENCH_r02.json ``parsed: null``). The
per-query second map — now median-of-3 with every raw wall retained,
because this box swings 2-4x run to run (see BENCH/BASELINE.md
measurement protocol) — goes to ``BENCH/queries_r{round}.json``.

Beyond the per-query seconds it reports the north metric
(BASELINE.json): extraction docs/sec on the deterministic synthetic
corpus, measured in two separate sessions at local[SCALE_N] (default 4)
and local[SCALE_N4] (default 16) with ``efficiency =
docs_per_sec(N4) / ((N4/N) * docs_per_sec(N))`` — a quick in-process
estimate of the N→4N executor scaling criterion. The authoritative
protocol number (spark-submit, best-of-3, BENCH/BASELINE.md) is read
from BENCH/scaling.json and reported as ``scaling_protocol``.

Set SPARK_GRAFT_BENCH_SCALING=0 to skip the second (small) session and
only report single-level throughput.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
_SRC = os.path.join(_REPO, "src")
sys.path.insert(0, _REPO)  # __spark_entry__
sys.path.insert(0, _SRC)  # extraction package
# python workers inherit the JVM's env captured at session launch — set
# PYTHONPATH before any SparkSession is built (prod ships --py-files)
os.environ["PYTHONPATH"] = _SRC + os.pathsep + os.environ.get("PYTHONPATH", "")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
RUN_SCALING = os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0"
# extraction corpus size for the throughput measurement (docs)
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "120000"))
HEAVY_SPANS = int(os.environ.get("SPARK_GRAFT_BENCH_HEAVY_SPANS", "2000"))
# scaling pair: N and 4N task slots. Each mapInArrow task keeps BOTH a
# JVM thread (scan decode + Arrow transport) and a Python worker busy, so
# local[k] occupies ~2k vCPUs — on this 32-vCPU box local[16] is the
# largest level that does not oversubscribe (oversubscription measured
# 2-3x slower AND noisier, see BENCH/BASELINE.md).
SCALE_N = int(os.environ.get("SPARK_GRAFT_BENCH_N", "4"))
SCALE_N4 = int(os.environ.get("SPARK_GRAFT_BENCH_N4", str(SCALE_N * 4)))
# measured runs per query (after 1 warmup); median reported
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def _corpus_version() -> str:
    """Fingerprint of the corpus generator source (stale-cache guard)."""
    from extraction.fingerprint import source_fingerprint

    return source_fingerprint("corpus.py")


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.0


def build_session(cores: int, app: str):
    from extraction.job import build_session as _bs

    return _bs(f"local[{cores}]", shuffle_partitions=cores, app=app)


def _force(df) -> int:
    """Fully execute a DataFrame without driver-side materialization."""
    return df.write.format("noop").mode("overwrite").save() or 0


def run_queries(spark) -> dict[str, dict]:
    """Per-query timing: 1 warmup + ``REPEATS`` measured runs, median.

    Median-of-3 because single observations on this box are meaningless:
    round 2 recorded the four UNCHANGED embeddings queries at 10-20x
    their steady state (12-20 s vs 1.9-2.6 s measured the same day by
    tools/ann_recall.py) purely from neighbor contention. All raw walls
    are retained in the per-query file so an outlier window is visible
    instead of silently shaping the headline number."""
    import statistics

    import __spark_entry__ as entrymod

    # warmup: JVM/JIT + parquet footer caches, so query 1 isn't charged
    # session-startup cost
    for t in ("events", "documents", "embeddings"):
        spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet")).count()

    times: dict[str, dict] = {}
    for name, fn in entrymod.queries().items():
        # one unmeasured execution first: queries with large generated
        # expression trees (minhash fold, per-dimension cosine) pay
        # 5-12 s of one-time Janino/JIT compile on first run — measured
        # 2-3x inflation vs steady state. Production runs a query shape
        # repeatedly; the measured number is the steady-state one.
        _force(fn(spark, SF_DIR))
        runs = []
        for _ in range(REPEATS):
            t0 = time.monotonic()
            _force(fn(spark, SF_DIR))
            runs.append(round(time.monotonic() - t0, 3))
        times[name] = {"median": round(statistics.median(runs), 3), "runs": runs}
    return times


def _round_number() -> int:
    """Current driver round (PROGRESS.jsonl last line); 0 if unknown."""
    try:
        with open(os.path.join(_REPO, "PROGRESS.jsonl"), "rb") as f:
            last = f.readlines()[-1]
        return int(json.loads(last).get("round", 0))
    except Exception:
        return 0


def corpus_parquet(spark, n_docs: int) -> str:
    """Materialize the deterministic corpus once; reused across sessions.

    The input must come from storage, not a persisted DataFrame: a
    MEMORY_AND_DISK cache gets partially evicted by shuffle execution
    memory mid-measurement and silently re-runs corpus synthesis inside
    the measured window (observed as a 4x slowdown at local[32]).

    The cache path carries a fingerprint of corpus.py so a generator
    change can never silently reuse a stale corpus."""
    path = f"/dev/shm/bench_corpus_{n_docs}_{HEAVY_SPANS}_{_corpus_version()}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from extraction.corpus import corpus_df

        corpus_df(spark, n_docs, heavy_spans=HEAVY_SPANS, slices=128).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def measure_extraction(spark, n_docs: int, warmup: bool = True) -> dict:
    """North metric: docs/sec through read -> salted repartition -> kernel.

    One unmeasured warmup pass strips JIT-compilation and Python-worker
    spawn cost from the measured window (a production job amortizes both
    over hours; a cold 20 s run does not)."""
    from extraction.pipeline import run_extraction
    from extraction.schema import DOCS_SCHEMA

    cores = spark.sparkContext.defaultParallelism
    path = corpus_parquet(spark, n_docs)
    # scan granularity: >= 4 tasks per core at either parallelism level
    # (the corpus is tens of MB; the 128 MB default would scan it in ~2
    # tasks and measure single-core parquet decode)
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes",
        str(max(1 << 20, _dir_bytes(path) // (cores * 4))),
    )
    docs = spark.read.schema(DOCS_SCHEMA).parquet(path)
    if warmup:
        _force(run_extraction(docs, num_partitions=cores * 4))
    t0 = time.monotonic()
    _force(run_extraction(docs, num_partitions=cores * 4))
    wall = time.monotonic() - t0
    return {
        "docs": n_docs,
        "cores": cores,
        "wall_sec": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 1),
    }


def main() -> int:
    t_all = time.monotonic()
    spark = build_session(CPUS, "bench")
    try:
        qtimes = run_queries(spark)
    finally:
        spark.stop()

    # extraction throughput in its own session at the no-oversubscription
    # parallelism (SCALE_N4), fresh JVM so prior query state can't leak in
    spark = build_session(SCALE_N4, "bench-extract")
    try:
        ext_full = measure_extraction(spark, N_DOCS)
    finally:
        spark.stop()

    scaling = None
    if RUN_SCALING:
        spark = build_session(SCALE_N, "bench-scaling")
        try:
            ext_small = measure_extraction(spark, N_DOCS)
        finally:
            spark.stop()
        factor = SCALE_N4 / SCALE_N
        eff = ext_full["docs_per_sec"] / (factor * ext_small["docs_per_sec"])
        # note kept short: this block is an in-process estimate on the
        # saturated wide pair; scaling_protocol is the authoritative
        # north-rule number (spark-submit best-of-3, BENCH/BASELINE.md)
        scaling = {
            "n_cores": SCALE_N,
            "n4_cores": SCALE_N4,
            "n_docs_per_sec": ext_small["docs_per_sec"],
            "n4_docs_per_sec": ext_full["docs_per_sec"],
            "efficiency": round(eff, 3),
            "note": "in-process estimate; scaling_protocol is authoritative",
        }

    # authoritative spark-submit scaling evidence (bench/scaling.py
    # protocol, BENCH/BASELINE.md) — the in-process `scaling` block above
    # is a quick same-harness estimate, not the protocol number
    protocol = None
    try:
        with open(os.path.join(_REPO, "BENCH", "scaling.json")) as f:
            sj = json.load(f)
        protocol = {
            "n_cores": sj["n_run"]["cores"],
            "n4_cores": sj["n4_run"]["cores"],
            "n_docs_per_sec": sj["n_run"]["docs_per_sec"],
            "n4_docs_per_sec": sj["n4_run"]["docs_per_sec"],
            "efficiency": sj["efficiency"],
            "source": "BENCH/scaling.json (spark-submit protocol, best-of-3)",
        }
        # same protocol re-run in a VERIFIED quiet window (membw probe
        # 33 GB/s; walls in a 5% band) — see BENCH/BASELINE.md
        # "r3 quiet-window replicate"
        with open(
            os.path.join(_REPO, "BENCH", "scaling_120k_quiet_r3g.json")
        ) as f:
            qj = json.load(f)
        protocol["quiet_window_replicate"] = {
            "efficiency": qj["efficiency"],
            "source": "BENCH/scaling_120k_quiet_r3g.json",
        }
    except Exception:
        pass

    # pinned-budget 1M-doc pair (bench/scaling.py --cpuset-factor, the
    # fixed-CPU-budget analog of N vs 4N executors) — reported alongside
    # when the protocol has produced it
    protocol_1m = None
    try:
        # prefer the pair measured on the shipped (packed-partitioner)
        # code path; the pre-fix r3 pairs stay as replicates
        candidates = (
            "scaling_1m_pinned_r5.json",
            "scaling_1m_pinned_r4.json",
            "scaling_1m_pinned_packedfix.json",
            "scaling_1m_pinned_r3.json",
        )
        src, pj = None, None
        for name in candidates:
            try:
                with open(os.path.join(_REPO, "BENCH", name)) as f:
                    pj = json.load(f)
                src = name
                break
            except OSError:
                continue
        protocol_1m = {
            "docs": pj["n_run"]["docs"],
            "n_cores": pj["n_run"]["cores"],
            "n4_cores": pj["n4_run"]["cores"],
            "n_docs_per_sec": pj["n_run"]["docs_per_sec"],
            "n4_docs_per_sec": pj["n4_run"]["docs_per_sec"],
            "efficiency": pj["efficiency"],
            "source": f"BENCH/{src} (taskset-pinned budgets)",
        }
        reps = []
        for name in (
            "scaling_1m_pinned_r5.json",
            "scaling_1m_pinned_r5b.json",
            "scaling_1m_pinned_r5f.json",
            "scaling_1m_pinned_r5g.json",
            "scaling_1m_pinned_r5h.json",
            "scaling_1m_pinned_r5i.json",
            "scaling_1m_pinned_r5j.json",
            "scaling_1m_pinned_r5c.json",
            "scaling_1m_pinned_r5d.json",
            "scaling_1m_pinned_r5e.json",
            "scaling_1m_pinned_r4.json",
            "scaling_1m_pinned_r4b.json",
            "scaling_1m_pinned_r4c.json",
            "scaling_1m_pinned_r4d.json",
            "scaling_1m_pinned_packedfix.json",
            "scaling_1m_pinned_r3e.json",
            "scaling_1m_pinned_r3h.json",
            "scaling_1m_pinned_r3i.json",
            "scaling_1m_pinned_r3f.json",
            "scaling_1m_pinned_r3.json",
            "scaling_1m_pinned_r3b.json",
        ):
            if name == src:
                continue
            try:
                with open(os.path.join(_REPO, "BENCH", name)) as f:
                    j = json.load(f)
                # best SAME-WINDOW pair when the file records per-pair
                # efficiencies (cross-window best-legs pooling can mix a
                # contended window's leg into the ratio — r3f's 0.754
                # pooled vs 0.848 same-window); else the file's headline
                # pairs > 1.0 are excluded: supra-linear efficiency on
                # a fixed pipeline means the N leg was crushed mid-pair
                # (r3i pair 2: n1 633.9 s vs 374.6 s in-window) — an
                # artifact that would OVERSTATE, not a measurement
                raw_pairs = j.get("interleaved_pair_efficiencies") or []
                pairs = [p for p in raw_pairs if p <= 1.0]
                if raw_pairs and not pairs:
                    # every pair supra-linear: the N leg was crushed in
                    # every window, and the pooled headline embeds the
                    # same artifact — skip the file entirely
                    continue
                reps.append(max(pairs) if pairs else j["efficiency"])
            except Exception:
                pass
        if reps:
            # headline = MEDIAN of the full replicate set (src's own
            # value included) — a best-of headline invites the reader to
            # discount the whole protocol; the max stays alongside.
            # The src file passes through the SAME same-window/supra-
            # linear filter as every other replicate, so the median
            # never mixes two measurement policies.
            import statistics

            src_pairs = [
                x
                for x in (pj.get("interleaved_pair_efficiencies") or [])
                if x <= 1.0
            ]
            src_eff = max(src_pairs) if src_pairs else pj["efficiency"]
            all_eff = sorted(reps + [src_eff])
            protocol_1m["efficiency"] = round(statistics.median(all_eff), 3)
            protocol_1m["efficiency_stat"] = "median_of_replicates"
            protocol_1m["efficiency_max"] = max(all_eff)
            protocol_1m["efficiency_replicates"] = all_eff
    except Exception:
        pass

    total = round(sum(q["median"] for q in qtimes.values()), 3)
    # per-query map (medians + all raw walls) to its own file — round 2's
    # in-line map overflowed the driver's tail capture and the whole
    # stdout line was recorded unparseable
    qfile = os.path.join("BENCH", f"queries_r{_round_number()}.json")
    os.makedirs(os.path.join(_REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(_REPO, qfile), "w") as f:
        json.dump(
            {
                "sf": _sf_of(SF_DIR),
                "cpus": CPUS,
                "repeats_per_query": REPEATS,
                "stat": "median",
                "total_median_sec": total,
                "queries": qtimes,
            },
            f,
            indent=1,
        )
    # the stdout line must survive the driver's 2000-char tail capture
    # (round 2's full 55-entry per-query map overflowed it and the round's
    # bench was recorded `parsed: null`), so the line carries only the
    # flagship medians inline; the full map lives in queries_file
    flagships = {
        k: qtimes[k]["median"]
        for k in ("extract_pipeline", "extract_kind_stats")
        if k in qtimes
    }
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        # the query set GROWS round over round (new operators add new
        # entries), so compare sec_per_query across rounds, not value
        "n_queries": len(qtimes),
        "sec_per_query": round(total / max(1, len(qtimes)), 3),
        "per_query_stat": f"median_of_{REPEATS}",
        "queries": flagships,
        "queries_file": qfile,
        "sf": _sf_of(SF_DIR),
        "extract": ext_full,
        "scaling": scaling,
        "scaling_protocol": protocol,
        "bench_wall_sec": round(time.monotonic() - t_all, 1),
    }
    if protocol_1m is not None:
        out["scaling_protocol_1m_pinned"] = protocol_1m
    inv4m = os.path.join(_REPO, "BENCH", "scaling_4m_invariance.json")
    if os.path.exists(inv4m):
        try:
            legs = json.load(open(inv4m))["bracket_legs_in_order"]
            mid = next(l for l in legs if l["docs"] == 4000000)
            ends = [l["docs_per_sec"] for l in legs if l["docs"] != 4000000]
            out["invariance_4m"] = {
                "docs_per_sec": mid["docs_per_sec"],
                "vs_1m_bracket_mean": round(
                    mid["docs_per_sec"] / (sum(ends) / len(ends)), 3
                ),
                "source": "BENCH/scaling_4m_invariance.json (1M/4M/1M bracket)",
            }
        except (KeyError, StopIteration, ValueError):
            pass
    for label, fname, big_docs, small in (
        ("invariance_8m", "scaling_8m_invariance.json", 8000000, "1M"),
        ("invariance_16m", "scaling_16m_invariance.json", 16000000, "4M"),
    ):
        fpath = os.path.join(_REPO, "BENCH", fname)
        if not os.path.exists(fpath):
            continue
        try:
            jv = json.load(open(fpath))
            big = next(
                l
                for l in jv["bracket_legs_in_order"]
                if l["docs"] == big_docs
            )
            out[label] = {
                "docs_per_sec": big["docs_per_sec"],
                "vs_small_bracket_mean": jv["big_vs_small_ratio"],
                "oracle_mismatches": big.get("oracle_mismatches"),
                "source": f"BENCH/{fname} ({small} bracket)",
            }
            # replicate brackets (same protocol, suffixes _b, _c, …):
            # report their ratios alongside so the headline is never a
            # single window
            reps_r = []
            for sfx in ("_b", "_c", "_d"):
                rep_path = fpath.replace(".json", f"{sfx}.json")
                if os.path.exists(rep_path):
                    rj = json.load(open(rep_path))
                    reps_r.append(rj["big_vs_small_ratio"])
            if reps_r:
                out[label]["replicate_ratios"] = reps_r
        except (KeyError, StopIteration, ValueError):
            pass
    stream_path = os.path.join(_REPO, "BENCH", "streaming_throughput.json")
    if os.path.exists(stream_path):
        try:
            sj = json.load(open(stream_path))
            if sj.get("outputs_identical") and not sj.get(
                "oracle_mismatches"
            ):
                out["streaming"] = {
                    "docs_per_sec": sj["stream_docs_per_sec"],
                    "vs_batch_same_input": sj["streaming_over_batch"],
                    "micro_batches": sj["micro_batches"],
                    "source": "BENCH/streaming_throughput.json "
                              "(amortization curve in BENCH/STREAMING.md)",
                }
        except (KeyError, ValueError):
            pass
    line = json.dumps(out)
    # belt-and-braces: degrade rather than overflow the 2000-char capture
    for drop in ("scaling", "queries", "extract"):
        if len(line) <= 1900:
            break
        out.pop(drop, None)
        line = json.dumps(out)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
