"""Benchmark of the KG engine's production paths, driven from outside
through its public functions.

    python3 perfbench/run.py --workload crawl_rich --seed 1 --seconds 10 --trace 0

Run from the repository root. One process = one run: it starts one
long-lived ``local[nproc]`` Spark session, generates the workload's inputs
from ``--seed`` (``gen.py``), runs warm-up ops (timed into ``setup_s``),
then runs ops in a closed loop (``clients`` threads, each starting its next
op when the previous one returns), as many as make each client spend about
``--seconds`` inside ops at the workload's nominal op time
(``measured_ops``). Every op's output is checked against an independent
expectation after the loop; an op that raised or mismatched counts as failed.

``--trace 0`` prints the end-to-end metrics (``END_TO_END``). ``--trace 1``
runs the same setup, then alternates untraced and traced ops; the traced
ops record one span per engine-layer call (``tracing.py``) and the run
prints the per-layer metrics (``per_layer_names``), writes the span ledger
to ``.perfbench/ledger-<workload>-seed<seed>.json`` and reports the traced
vs untraced op time as ``bench.trace_overhead_ratio``.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``;
the lines before it list every metric by name with its unit, plus
diagnostics (op count, ``nproc``, host CPU steal from ``/proc/stat``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_p75_ms": "ms",
}

# per-layer spans, in production-path order per workload
SPANS = {
    "crawl_rich": (
        "textprep.resolve_text", "textprep.dedup_latest_text",
        "graph.doc_kg_combined", "triples.subrels_from_evidence",
        "er.canonical_map", "er.minhash_signatures", "er.lsh_candidate_pairs",
        "er.canonical_map.verify", "connected_components.connected_components",
        "triples.rejoin_triples", "catalog.write_triples_table",
    ),
    "kg_query": (
        "kg_query.match_pattern.lookup", "kg_query.match_pattern.chain",
        "kg_query.match_pattern.path", "kg_query.reach_pairs",
    ),
    "curate_dedup": (
        "curate.curate_corpus", "curate.quality_exact",
        "dedup.minhash_signatures_wide", "dedup.minhash_pairs_from_sigs",
        "curate.verify", "connected_components.connected_components",
        "curate.neardup", "curate.sampled",
    ),
}
SPAN_MEASURES = {"self_ms": "ms", "jobs": "count", "busy_share": "ratio",
                 "shuffle_write_bytes": "B", "gc_ms": "ms"}
# measures printed only for the spans that can move them: bytes to and from
# Python workers for the two pandas-UDF stages, spill for the widest shuffles
EXTRA_MEASURES = {
    "textprep.resolve_text": ("py_bytes_in", "py_bytes_out"),
    "graph.doc_kg_combined": ("py_bytes_in", "py_bytes_out", "spill_bytes"),
    "triples.rejoin_triples": ("spill_bytes",),
    "catalog.write_triples_table": ("spill_bytes",),
    "connected_components.connected_components": ("spill_bytes",),
    "dedup.minhash_pairs_from_sigs": ("spill_bytes",),
}
# where a layer can waste work (computed per op in ``ratios``)
RATIOS = {
    "graph.doc_kg_combined.docs_with_evidence_ratio": "ratio",
    "er.canonical_map.verify.kept_ratio": "ratio",
    "dedup.minhash_pairs_from_sigs.verify_kept_ratio": "ratio",
    **{f"{s}.rows_scanned_per_result": "rows/row" for s in SPANS["kg_query"]},
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit (the same set on every
    workload; a span a workload never calls reads 0)."""
    out: dict[str, str] = {}
    for spans in SPANS.values():
        for s in spans:
            for m, unit in SPAN_MEASURES.items():
                out[f"{s}.{m}"] = unit
            for m in EXTRA_MEASURES.get(s, ()):
                out[f"{s}.{m}"] = "B"
    out.update(RATIOS)
    out["bench.trace_overhead_ratio"] = "ratio"
    # process-tree RSS high-water; varies too much between runs (JVM heap
    # growth) to bound as an end-to-end metric, so it is read here
    out["bench.peak_rss_mb"] = "MB"
    return out


def ratios(spans: dict[str, dict]) -> dict[str, float]:
    """The ``RATIOS`` one traced op gives, from its spans' summed fields
    (span name -> fields); a ratio with a zero denominator is left out."""
    out = {}
    if "graph.doc_kg_combined" in spans:
        out["graph.doc_kg_combined.docs_with_evidence_ratio"] = (
            spans["graph.doc_kg_combined"]["docs_with_evidence_ratio"])
    pairs, kept = spans.get("er.lsh_candidate_pairs"), spans.get("er.canonical_map.verify")
    if pairs and kept and pairs["rows"]:
        out["er.canonical_map.verify.kept_ratio"] = kept["rows"] / pairs["rows"]
    pairs, kept = spans.get("dedup.minhash_pairs_from_sigs"), spans.get("curate.verify")
    if pairs and kept and pairs["rows"]:
        out["dedup.minhash_pairs_from_sigs.verify_kept_ratio"] = (
            kept["rows"] / pairs["rows"])
    for s in SPANS["kg_query"]:
        if s in spans and spans[s]["rows"]:
            out[f"{s}.rows_scanned_per_result"] = (
                spans[s]["rows_scanned"] / spans[s]["rows"])
    return out


def confine_env(work: str) -> None:
    """Point temp files, Spark's local dirs and the Python workers' import
    path into the checkout (set before any thread or process starts)."""
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # every JVM, the spark-submit launcher included: temp files in the
    # checkout, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def start_session(nproc: int, work: str, trace: bool):
    from pyspark.sql import SparkSession

    from nary_relation_extraction_decomposed_spark.session import ENGINE_CONFS

    local = os.environ["SPARK_LOCAL_DIRS"]
    builder = SparkSession.builder.master(f"local[{nproc}]").appName("perfbench")
    confs = dict(ENGINE_CONFS)
    confs.update({
        "spark.driver.memory": "2g",
        # the heap starts at full size, so the first ops after the cold one
        # do not also pay for heap growth (shortens the warm-up ramp)
        "spark.driver.extraJavaOptions": f"-XX:ActiveProcessorCount={nproc} -Xms2g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    })
    if trace:
        confs.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for them."""
    from pyspark import SparkContext

    from stats import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = process_tree(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # the Python workers are the JVM's children: wait until they are gone,
    # killing any that outlive the JVM by 30 s
    def alive():
        return [p for p in tree if os.path.exists(f"/proc/{p}")]

    def wait_gone(seconds):
        deadline = time.monotonic() + seconds
        while alive() and time.monotonic() < deadline:
            time.sleep(0.1)

    wait_gone(30)
    for p in alive():
        try:
            os.kill(p, 9)
        except OSError:
            pass
    wait_gone(30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measured_ops(wl, seconds: float, trace: bool) -> int:
    """Ops after the warm-up: in a timed run each client runs
    ceil(seconds / nominal op time) ops, a count that depends on --seconds
    only, never on how fast the ops ran, so every run of a workload does
    the same work; a traced run alternates trace_pairs untraced and traced
    ops."""
    if trace:
        return 2 * wl.trace_pairs
    return wl.clients * math.ceil(seconds / wl.nominal_op_s)


class Runner:
    def __init__(self, wl, states: list):
        self.wl, self.states = wl, states
        self.next_op = 0
        self.lock = threading.Lock()
        self.done: list[dict] = []  # every op: st, result, start, end, error

    def op(self, tracer=None, warmup: bool = False) -> dict:
        with self.lock:
            i = self.next_op
            self.next_op += 1
        st = self.states[i].result()
        t0 = time.perf_counter()
        result = error = None
        try:
            result = self.wl.run(st, tracer)
        except Exception:  # an op that raises counts as failed; keep going
            error = traceback.format_exc()
            print(error, file=sys.stderr)
        t1 = time.perf_counter()
        if tracer is not None:
            tracer.finish_op()
        self.wl.spark.catalog.clearCache()
        rec = {"st": st, "result": result, "start": t0, "end": t1,
               "error": error, "warmup": warmup, "traced": tracer is not None}
        print(f"op {i}: {(t1 - t0) * 1000:.0f} ms"
              f"{' warm-up' if warmup else ''}{' traced' if tracer else ''}",
              file=sys.stderr)
        with self.lock:
            self.done.append(rec)
        return rec

    def closed_loop(self, n: int, warmup: bool = False) -> None:
        """``n`` ops split over ``clients`` threads; each thread starts its
        next op when the previous one returns."""
        def client():
            for _ in range(n // self.wl.clients):
                self.op(warmup=warmup)

        threads = [threading.Thread(target=client) for _ in range(self.wl.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def check_all(self) -> int:
        """Check every op's output; returns the number of failed ops."""
        failed = 0
        for rec in self.done:
            ok = rec["error"] is None and self.wl.check(rec["st"], rec["result"])
            if not ok:
                failed += 1
                if rec["error"] is None:
                    print(f"output mismatch in op {rec['st']}"[:500], file=sys.stderr)
            self.wl.cleanup(rec["st"])
        return failed


def end_to_end(done: list[dict], setup_s: float) -> dict:
    """Metrics over the measured (non-warm-up) ops: percentiles of op
    latency (linear interpolation) and units per second of busy wall, the
    time at least one client had an op in flight."""
    import numpy as np

    from stats import busy_wall

    ops = [r for r in done if not r["warmup"]]
    lat = [(r["end"] - r["start"]) * 1000 for r in ops]
    units = sum(r["st"]["units"] for r in ops)
    p50, p75, p95 = np.percentile(lat, [50, 75, 95]).tolist()
    return {
        "setup_s": setup_s,
        "throughput_per_s": units / busy_wall([(r["start"], r["end"]) for r in ops]),
        "op_p50_ms": p50,
        "op_p75_ms": p75,
        "op_p95_ms": p95,
    }


def per_layer(runner: Runner, tracer, nproc: int, peak_rss: int) -> dict:
    from statistics import median

    traced = [r for r in runner.done if r["traced"]]
    plain = [r for r in runner.done if not r["traced"] and not r["warmup"]]
    # per op: span name -> summed fields of that op's spans of that name
    by_op: dict[int, dict[str, dict]] = {}
    for s in tracer.spans:
        agg = by_op.setdefault(s["op"], {}).setdefault(s["name"], {})
        for k, v in s.items():
            if isinstance(v, (int, float)) and k not in ("id", "op", "parent",
                                                         "start", "end"):
                agg[k] = agg.get(k, 0) + v
    values: dict[str, list[float]] = {}

    def add(name, v):
        values.setdefault(name, []).append(v)

    for spans in by_op.values():
        for name, f in spans.items():
            self_ms = f["self_s"] * 1000
            add(f"{name}.self_ms", self_ms)
            add(f"{name}.jobs", f["jobs"])
            add(f"{name}.busy_share",
                f["executor_run_ms"] / (self_ms * nproc) if self_ms > 0 else 0.0)
            for m in ("shuffle_write_bytes", "gc_ms", "spill_bytes",
                      "py_bytes_in", "py_bytes_out"):
                add(f"{name}.{m}", f[m])
        for name, v in ratios(spans).items():
            add(name, v)
    lat = lambda rs: median(r["end"] - r["start"] for r in rs)  # noqa: E731
    out = {name: (median(values[name]) if name in values else 0.0)
           for name in per_layer_names()}
    out["bench.trace_overhead_ratio"] = lat(traced) / lat(plain)
    out["bench.peak_rss_mb"] = peak_rss / 1e6
    return out


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(SPANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("nary_relation_extraction_decomposed_spark",
                           os.path.join("fixtures", "corpus.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    from stats import RssSampler, cpu_jiffies, steal_pct
    from tracing import Tracer
    from workloads import WORKLOADS

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    confine_env(work)
    nproc = len(os.sched_getaffinity(0))
    trace = bool(args.trace)
    spark = wl = None
    try:
        with RssSampler() if trace else nullcontext() as rss:
            wl = WORKLOADS[args.workload](work, args.seed)
            n = wl.warmup_ops + measured_ops(wl, args.seconds, trace)
            # inputs are generated while the JVM starts and the warm-up
            # ops run, never while a measured op runs
            with ThreadPoolExecutor(1) as bg:
                inputs = bg.submit(wl.prepare, n)
                spark = start_session(nproc, work, trace)
                t_session = time.perf_counter() - t_start
                states = inputs.result()
            wl.setup(spark)
            runner = Runner(wl, states)
            runner.closed_loop(wl.warmup_ops, warmup=True)
            for f in wl.building:
                f.result()
            setup_s = time.perf_counter() - t_start
            print(f"session start {t_session:.2f} s, set-up {setup_s:.2f} s",
                  file=sys.stderr)
            j0 = cpu_jiffies()
            if trace:
                tracer = Tracer(spark)
                for _ in range(wl.trace_pairs):
                    runner.op()
                    tracer.op = runner.next_op
                    runner.op(tracer)
                tracer.collect_metrics()
            else:
                runner.closed_loop(n - wl.warmup_ops)
            j1 = cpu_jiffies()
        failed = runner.check_all()
        attempted = len(runner.done)
        if trace:
            metrics = per_layer(runner, tracer, nproc, rss.peak)
            units = per_layer_names()
            tracer.write(
                os.path.join(out_dir, f"ledger-{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "nproc": nproc,
                 "ops": [{"op": i, "ms": (r["end"] - r["start"]) * 1000,
                          "traced": r["traced"], "warmup": r["warmup"]}
                         for i, r in enumerate(runner.done)]})
        else:
            metrics = end_to_end(runner.done, setup_s)
            units = dict(END_TO_END)
    finally:
        if spark is not None:
            stop_session(spark)
        if wl is not None:
            wl.close()
        shutil.rmtree(work, ignore_errors=True)

    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units.get(name, 'ms')}")
    n_ops = sum(1 for r in runner.done if not r["warmup"])
    print(f"ops = {n_ops} measured, {attempted} attempted (throughput in "
          f"{wl.unit}/s); fail_ratio = "
          f"{failed / attempted:.6g}; nproc = {nproc}; "
          f"steal_pct = {steal_pct(j0, j1):.3g}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
