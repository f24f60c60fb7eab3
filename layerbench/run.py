"""Layered benchmark for the full-text engine.

    python3 layerbench/run.py --workload query_warm --seed 1 \
        --seconds 5 --trace 0

Runs one workload (see ``workloads.py``) from one process on
``local[<cores>]``, checks every answer after the timed region, and
prints each metric as ``name = value unit`` followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` is
a separate run that wraps the engine's entry points in spans and
reports the per-layer metrics. Exit status 0 only when every answer
matched and each workload stayed on its side of the single-task gate.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from layerbench.trace import Tracer, covered, patched  # noqa: E402

WORKLOADS = ("query_warm", "query_hot")
REFUSED_ENV = ("SPARK_GRAFT_SINGLE_TASK_MAX_POSTINGS",)

# name → unit, in report order
E2E_UNITS = {
    "setup_s": "s",
    "build_files_per_s": "1/s",
    "index_bytes_per_source_byte": "B/B",
    "query_p50_ms": "ms",
    "queries_per_s": "1/s",
    "cold_query_ms": "ms",
}
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.spark_job_ms": "ms",
    "session.spark_sql_ms": "ms",
    "host.cpu_matmul_gflops": "GFLOP/s",
    "build.stage_s": "s",
    "build.segments_s": "s",
    "build.finalize_s": "s",
    "build.segment_split_p50_s": "s",
    "build.segment_split_max_s": "s",
    **{f"build.{ph}.spark_{c}": "count"
       for ph in ("stage", "segments", "finalize")
       for c in ("jobs", "stages", "tasks")},
    "build.segments.shuffle_write_bytes": "B",
    "build.finalize.shuffle_write_bytes": "B",
    "build.segments.executor_busy_frac": "frac",
    "build.tasks_failed": "count",
    "tokenize.code_docs_per_s": "1/s",
    "codec.encode_postings_per_s": "1/s",
    "codec.decode_postings_per_s": "1/s",
    "codec.bytes_per_posting": "B",
    "dictindex.sidecars_s": "s",
    "query.open_ms": "ms",
    "query.plan_ms": "ms",
    "query.collect_ms": "ms",
    "query.spark_jobs_per_query": "count",
    "query.spark_tasks_per_query": "count",
    "query.executor_run_ms_per_query": "ms",
    "query.shuffle_bytes_per_query": "B",
    "query.input_bytes_per_result": "B",
    "query.and.p50_ms": "ms",
    "query.or.p50_ms": "ms",
    "query.est_postings_p50": "count",
    "query.single_task_frac": "frac",
    "ingest.batch_s": "s",
    "ingest.merge_s": "s",
    "ingest.merge.spark_jobs": "count",
    "ingest.merge.shuffle_write_bytes": "B",
    "ingest.bytes_written_per_source_byte": "B/B",
    "maintain.delete.spark_jobs": "count",
    "trace.overhead_frac": "frac",
}


def ms(v: float) -> float:
    return v * 1000.0


def median(vals) -> float:
    return float(statistics.median(vals))


# ---------------------------------------------------------- process state


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Spark's
    Python workers import the engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # get_spark's engine warm-up is two throwaway builds: 17-25 s of a
    # 50-90 s run on a busy 4-core host, more than the whole timed part.
    # Every run, traced or not, starts Spark without it, so the set-up
    # build compiles the engine's plans instead.
    os.environ["SPARK_GRAFT_NO_ENGINE_WARMUP"] = "1"


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Σ VmHWM of the driver, the JVM and the Python workers."""
    jvm = jvm_pid(spark)
    pids = {os.getpid(), jvm, *descendants(jvm)}
    return sum(vm_hwm_kb(p) for p in pids) / 1024.0


def shutdown(spark) -> None:
    """Stop Spark, then wait for the JVM and its Python workers."""
    from pyspark import SparkContext

    jvm = jvm_pid(spark)
    kids = descendants(jvm)
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


# ------------------------------------------------------------ calibration


def calibrate(spark, matmul_s: float = 0.5) -> dict:
    """``bench.py``'s host probes: single-core matmul rate, best-of-5
    one-task Spark job, best-of-5 ``select 1`` collect."""
    import numpy as np

    a = np.random.default_rng(0).random((1024, 1024))
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < matmul_s:
        a @ a
        n += 1
    gflops = n * 2 * 1024 ** 3 / (time.perf_counter() - t0) / 1e9
    spark.range(1, numPartitions=1).count()

    def best(thunk):
        out = []
        for _ in range(5):
            t = time.perf_counter()
            thunk()
            out.append(time.perf_counter() - t)
        return ms(min(out))

    return {
        "host.cpu_matmul_gflops": gflops,
        "session.spark_job_ms": best(
            lambda: spark.range(1, numPartitions=1).count()),
        "session.spark_sql_ms": best(
            lambda: spark.sql("select 1").collect()),
    }


def _rate(fn, n_items: int, min_s: float = 0.2) -> float:
    """Items per second of ``fn()``: the median of at least three calls,
    repeated for at least ``min_s``."""
    times: list[float] = []
    t_end = time.perf_counter() + min_s
    while len(times) < 3 or time.perf_counter() < t_end:
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return n_items / median(times)


def micro_layers(index_dir: str, seed: int) -> dict:
    """In-process, one-core rates of the tokenizer and the codec, on a
    seeded code sample and on the workload's own postings blocks."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from datastream_io_spark.corpus import corpus_pandas
    from datastream_io_spark.functions import tokenize
    from datastream_io_spark.operators.codec import (
        decode_block_dls,
        decode_block_docs,
        decode_block_positions,
        decode_block_tfs,
        encode_runs,
    )

    texts = pd.Series(corpus_pandas(300, start=seed % 100_000)["content"])
    tokenize._expand_ident.cache_clear()
    t = time.perf_counter()
    tokenize.tokenize_series(texts, "code")
    tok_rate = len(texts) / (time.perf_counter() - t)

    rows = pq.read_table(os.path.join(index_dir, "postings"),
                         columns=["blocks"]).column("blocks")
    runs, n_blocks = [], 0
    for chunk in rows.chunks:
        for blocks in chunk.to_pylist():
            runs.append(blocks)
            n_blocks += len(blocks)
            if n_blocks >= 2000:
                break
        if n_blocks >= 2000:
            break
    positional = runs[0][0]["poss"] is not None

    def decode_run(bl):
        tfs = [decode_block_tfs(b) for b in bl]
        return (np.concatenate([decode_block_docs(b) for b in bl]),
                np.concatenate(tfs),
                np.concatenate([decode_block_dls(b) for b in bl]),
                np.concatenate([decode_block_positions(b, tf)
                                for b, tf in zip(bl, tfs)])
                if positional else None)

    decoded = [decode_run(bl) for bl in runs]
    n_post = sum(d[0].size for d in decoded)
    dec_rate = _rate(lambda: [decode_run(bl) for bl in runs], n_post)

    # the build kernel's call: one encode_runs over a batch of runs
    ends = np.cumsum([d[0].size for d in decoded])
    starts = ends - np.array([d[0].size for d in decoded])
    ids, tfs, dls = (np.concatenate([d[i] for d in decoded])
                     for i in range(3))
    pos = np.concatenate([d[3] for d in decoded]) if positional else None

    def encode():
        return encode_runs(ids, tfs, dls, starts, ends, positions=pos)

    enc_rate = _rate(encode, n_post)
    for d, bl in zip(decoded, encode()):
        again = decode_run(bl)
        if not all(np.array_equal(a, b) for a, b in zip(d, again)
                   if a is not None):
            raise AssertionError("codec round trip changed a posting run")
    with open(os.path.join(index_dir, "manifest", "merge.json")) as f:
        merge = json.load(f)
    return {
        "tokenize.code_docs_per_s": tok_rate,
        "codec.encode_postings_per_s": enc_rate,
        "codec.decode_postings_per_s": dec_rate,
        "codec.bytes_per_posting": (merge["compressed_bytes"]
                                    / merge["n_postings"]),
    }


# ---------------------------------------------------------------- layers


def build_layers(tracer, ncpu: int) -> dict:
    sp = tracer.spans
    idx = {name: [i for i, s in enumerate(sp) if s.name == name]
           for name in ("build", "build.stage", "build.segment",
                        "build.finalize")}

    def totals(name):
        tot: dict = {}
        for i in idx[name]:
            for k, v in tracer.spark_totals(i).items():
                tot[k] = tot.get(k, 0) + v
        return tot

    segs = [sp[i] for i in idx["build.segment"]]
    seg_s = covered((s.start, s.end) for s in segs)
    t_stage, t_seg, t_fin = (totals("build.stage"),
                             totals("build.segment"),
                             totals("build.finalize"))
    out = {
        "build.stage_s": sum(sp[i].duration for i in idx["build.stage"]),
        "build.segments_s": seg_s,
        "build.finalize_s": sum(sp[i].duration
                                for i in idx["build.finalize"]),
        "build.segment_split_p50_s": median([s.duration for s in segs]),
        "build.segment_split_max_s": max(s.duration for s in segs),
        "build.segments.shuffle_write_bytes": t_seg["shuffle_write_bytes"],
        "build.finalize.shuffle_write_bytes": t_fin["shuffle_write_bytes"],
        "build.segments.executor_busy_frac": (
            t_seg["run_ms"] / 1000.0 / (seg_s * ncpu)),
        "build.tasks_failed": totals("build")["failed_tasks"],
    }
    for ph, tot in (("stage", t_stage), ("segments", t_seg),
                    ("finalize", t_fin)):
        for c in ("jobs", "stages", "tasks"):
            out[f"build.{ph}.spark_{c}"] = tot[c]
    return out


def query_layers(tracer, records, gates, n_spans: int) -> dict:
    """Layers of the workload's own queries: the first ``n_spans``
    spans, before the traced run's extra steps."""
    sp = tracer.spans[:n_spans]
    roots = [i for i, s in enumerate(sp)
             if s.parent is None and s.name.startswith("query.")
             and s.name != "query.open"]
    timed = [r for r in records if r.timed]
    # roots and records are in the same order (warm-up first)
    timed_roots = [i for i, r in zip(roots, records) if r.timed]
    tots = [tracer.spark_totals(i) for i in timed_roots]
    n = len(tots)
    rows = sum(r.rows for r in timed)

    def span_ms(name):
        return ms(median([s.duration for s in sp if s.name == name]))

    def kind_ms(kind):
        return ms(median([r.latency_s for r in timed
                          if r.op.kind == kind]))

    out = {
        "query.open_ms": span_ms("query.open"),
        "query.plan_ms": span_ms("query.plan"),
        "query.collect_ms": span_ms("query.collect"),
        "query.spark_jobs_per_query": sum(t["jobs"] for t in tots) / n,
        "query.spark_tasks_per_query": sum(t["tasks"] for t in tots) / n,
        "query.executor_run_ms_per_query": sum(t["run_ms"]
                                               for t in tots) / n,
        "query.shuffle_bytes_per_query": sum(
            t["shuffle_write_bytes"] for t in tots) / n,
        "query.input_bytes_per_result": (
            sum(t["input_bytes"] for t in tots) / max(rows, 1)),
        "query.input_rows_per_result": (
            sum(t["input_records"] for t in tots) / max(rows, 1)),
        "query.est_postings_p50": median([g[0] for g in gates]),
        "query.single_task_frac": sum(g[1] for g in gates) / len(gates),
    }
    for kind in sorted({r.op.kind for r in timed}):
        out[f"query.{kind}.p50_ms"] = kind_ms(kind)
    return out


def write_layers(tracer, written: int, batch_bytes: int) -> dict:
    """Layers of the traced run's extra steps: the expansion sidecars
    and the ingest → merge → delete cycle. ``ingest_docs_per_s`` and
    ``delete_ms`` are printed only: one cycle per run is too few
    samples to gate them."""
    from layerbench.workloads import INGEST_BATCH

    idx = {s.name: i for i, s in enumerate(tracer.spans)
           if s.name in ("dictindex.sidecars", "ingest.batch",
                         "ingest.merge", "maintain.delete")}
    dur = {name: tracer.spans[i].duration for name, i in idx.items()}
    merge = tracer.spark_totals(idx["ingest.merge"])
    return {
        "dictindex.sidecars_s": dur["dictindex.sidecars"],
        "ingest.batch_s": dur["ingest.batch"],
        "ingest.merge_s": dur["ingest.merge"],
        "ingest.merge.spark_jobs": merge["jobs"],
        "ingest.merge.shuffle_write_bytes": merge["shuffle_write_bytes"],
        "ingest.bytes_written_per_source_byte": written / batch_bytes,
        "maintain.delete.spark_jobs": tracer.spark_totals(
            idx["maintain.delete"])["jobs"],
        "ingest_docs_per_s": INGEST_BATCH / (dur["ingest.batch"]
                                             + dur["ingest.merge"]),
        "delete_ms": ms(dur["maintain.delete"]),
    }


# ------------------------------------------------------------- workloads


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 work: str, sizes=None) -> dict:
    """Set up, run and check one workload; returns the full report."""
    from datastream_io_spark.golden import brute_force_topk
    from datastream_io_spark.operators import build
    from datastream_io_spark.operators.dictindex import build_term_sidecars
    from datastream_io_spark.session import get_spark
    from layerbench import workloads as W
    from layerbench.reference import Reference, same_topk

    sizes = sizes or W.Sizes()
    os.makedirs(work, exist_ok=True)
    ncpu = cores()
    tracer = Tracer(enabled=trace)
    info: dict = {"cores": ncpu}

    t_setup = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(f"layerbench-{workload}", cores=ncpu)
    get_spark_s = time.perf_counter() - t_setup
    tracer.attach(spark.sparkContext)
    calib = calibrate(spark)  # not part of set-up time

    t0 = time.perf_counter()
    if workload == "query_warm":
        corpus = W.code_corpus(sizes.code_docs, seed)
        tokenizer, positions = "code", True
    else:
        corpus = W.hot_corpus(sizes, seed)
        tokenizer, positions = "simple", False
    src = os.path.join(work, "corpus.parquet")
    src_bytes = W.write_corpus(corpus, src)
    index_dir = os.path.join(work, "index")
    with patched(tracer, build, {"stage_corpus": "build.stage",
                                 "build_segment": "build.segment",
                                 "finalize_index": "build.finalize"}):
        t_build = time.perf_counter()
        with tracer.span("build"):
            build.build_index(spark, spark.read.parquet(src), index_dir,
                              tokenizer=tokenizer, positions=positions,
                              max_concurrent_splits=min(4, ncpu))
        build_s = time.perf_counter() - t_build
    corpus_df = (spark.read.parquet(src) if workload == "query_warm"
                 else None)
    runner = W.Runner(spark, index_dir, tracer, corpus_df)
    setup_s = get_spark_s + time.perf_counter() - t0

    if workload == "query_warm":
        n_docs = int(build.read_stats(index_dir)["n_docs"])
        first, stream, step = W.warm_ops(seed, n_docs)
    else:
        first, stream, step = W.hot_ops(seed, sizes)
    records, loop_s = W.timed_loop(runner, first, stream, step, seconds)
    rss = peak_rss_mb(spark)
    t_check = time.perf_counter()

    # ---- checks, after the timed region
    docs = W.docs_with_text(index_dir, corpus)
    ref = Reference(docs, tokenizer)
    failed = [r for r in records
              if not W.matches(r.op, r.result, W.expected(ref, r.op))]
    ref_ok = True
    if workload == "query_warm":
        # the array scorer must agree with the golden brute force
        q = next(r.op.q for r in records if r.op.kind == "and")
        gold = brute_force_topk(docs, q, W.K, "and", tokenizer=tokenizer)
        ref_ok = same_topk([(g["doc_id"], g["score"]) for g in gold],
                           ref.ranked(q, W.K, "and"))
        info["reference_matches_golden"] = ref_ok
    dict_df = W.read_dict_df(index_dir)
    gates = [W.gate_path(dict_df, ref, r.op) for r in records]
    single_frac = sum(g[1] for g in gates) / len(gates)
    want_frac = 1.0 if workload == "query_warm" else 0.0
    gate_ok = single_frac == want_frac
    attempted = len(records) + 1  # every query plus the build
    index_bytes = W.du(index_dir)
    check_s = time.perf_counter() - t_check

    if trace:
        # span bookkeeping ÷ wall time, over set-up and the loop
        overhead = tracer.overhead_s / (t_check - t_setup)
        n_spans = len(tracer.spans)
        # steps only the traced run takes: the expansion sidecars on the
        # workload's index, then writes beside reads on a streaming index
        with tracer.span("dictindex.sidecars"):
            build_term_sidecars(spark, index_dir)
        written, batch_bytes, ingested, exp = W.ingest_cycle(
            spark, tracer, work, seed)
        failed += [r for r, e in zip(ingested, exp)
                   if not W.matches(r.op, r.result, e)]
        attempted += 4 + len(ingested)  # sidecars, ingest, merge, delete
        info["ingest_queries_checked"] = len(ingested)

    timed = [r for r in records if r.timed]
    warm = [r.latency_s for r in timed]
    cold = [r.latency_s for r in records if r.op.cold]
    e2e = {
        "setup_s": setup_s,
        "build_files_per_s": len(corpus) / build_s,
        "index_bytes_per_source_byte": index_bytes / src_bytes,
        "query_p50_ms": ms(median(warm)),
        "queries_per_s": len(timed) / loop_s,
        "cold_query_ms": ms(median(cold)),
    }
    info.update({
        "peak_rss_mb": rss,
        "error_rate": len(failed) / attempted,
        "queries_timed": len(timed),
        "warm_samples": len(warm),
        "cold_samples": len(cold),
        "single_task_frac": single_frac,
        "est_postings_min": min(g[0] for g in gates),
        "est_postings_max": max(g[0] for g in gates),
        "session.get_spark_s": get_spark_s,
        "build_s": build_s,
        "check_s": check_s,
        **calib,
    })
    batch = [r.latency_s for r in timed if r.op.kind == "batch"]
    if batch:
        info["batch_query_ms"] = ms(median(batch))
    if len(warm) >= 20:
        # the highest percentile with at least ten samples above it
        pct = int(100 * (1 - 10 / len(warm)))
        info[f"query_p{pct}_ms"] = ms(statistics.quantiles(
            warm, n=100, method="inclusive")[pct - 1])

    layers = {}
    if trace:
        tracer.collect_spark()
        layers.update({"session.get_spark_s": get_spark_s, **calib})
        layers.update(build_layers(tracer, ncpu))
        layers.update(micro_layers(index_dir, seed))
        layers.update(query_layers(tracer, records, gates, n_spans))
        layers.update(write_layers(tracer, written, batch_bytes))
        layers["trace.overhead_frac"] = overhead

    for r in failed:
        print(f"MISMATCH {r.op.kind} {r.op.q!r}: got {r.result!r}",
              file=sys.stderr)
    if not ref_ok:
        print("MISMATCH reference vs golden.brute_force_topk",
              file=sys.stderr)
    if not gate_ok:
        print(f"GATE single_task_frac={single_frac} on {workload}, "
              f"expected {want_frac}", file=sys.stderr)
    return {
        "correct": not failed and ref_ok and gate_ok,
        "attempted": attempted,
        "failed": len(failed) + (not ref_ok) + (not gate_ok),
        "e2e": e2e,
        "layers": layers,
        "info": info,
        "records": records,
        "tracer": tracer,
        "spark": spark,
    }


# ------------------------------------------------------------------- CLI


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bad = [v for v in REFUSED_ENV if v in os.environ]
    if bad:
        print(f"refusing to run with {', '.join(bad)} set: the benchmark "
              "measures the engine's default gate", file=sys.stderr)
        return 2
    try:
        import datastream_io_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(work)
    try:
        rep = run_workload(args.workload, args.seed, args.seconds,
                           bool(args.trace), work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = LAYER_UNITS if args.trace else E2E_UNITS
    values = rep["layers"] if args.trace else rep["e2e"]
    for name, v in {**rep["e2e"], **rep["layers"], **rep["info"]}.items():
        unit = E2E_UNITS.get(name) or LAYER_UNITS.get(name, "")
        print(f"{name} = {v} {unit}".rstrip())
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"ops-{tag}.json"), "w") as f:
        json.dump([{"kind": r.op.kind, "q": repr(r.op.q), "cold": r.op.cold,
                    "timed": r.timed, "latency_ms": ms(r.latency_s),
                    "plan_ms": ms(r.plan_s), "collect_ms": ms(r.collect_s)}
                   for r in rep["records"]], f, indent=1)
    if args.trace:
        rep["tracer"].dump(os.path.join(out_dir, f"spans-{tag}.json"))
    print(json.dumps({
        "correct": rep["correct"],
        "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0 if rep["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
