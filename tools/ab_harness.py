"""Generic same-window interleaved A/B harness (VERDICT r5 #4).

The same-window A/B method that pinned the r4 er_canon regression as
window-caused, for ANY bench entry and ANY env-switched variant pair:

  A/B/A/B... interleaved draws inside ONE Spark session, per-draw
  /proc/stat steal, bench.py's cache+GC reset between draws, and
  tools/bandwidth_probe.py before and after to classify the window.
  Interleaving makes window drift hit both variants symmetrically, so the
  A-B delta is the code effect and the A-A spread is pure window noise.

Two modes:
  * variant-pair: --env-a/--env-b set env vars read by the entry's code
    path (e.g. SPARK_GRAFT_KG_FUSION=combined vs pairs) before each draw.
  * noise-pin (default when no env given): A and B are IDENTICAL current
    code — the output quantifies window noise for that entry, which is
    the pre-commitment VERDICT r5 asked for on corpus_dedup (its builder
    band read 4.66-14.3 s on a pure refactor).

Usage:
  python tools/ab_harness.py --entry corpus_dedup --pairs 3
  python tools/ab_harness.py --entry kg_pipeline \
      --env-a SPARK_GRAFT_KG_FUSION=combined --env-b SPARK_GRAFT_KG_FUSION=pairs

Entries: any bench.bench_<name>(spark, sf_dir) function.
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPL as usual.
Writes one JSON line to stdout (BENCH/samples/ material).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def probe() -> dict:
    """Run tools/bandwidth_probe.py and parse its per-process-count
    bandwidth and 4->16 process efficiency lines."""
    out = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "bandwidth_probe.py")],
        capture_output=True, text=True, timeout=600,
    ).stdout
    res = {}
    for line in out.splitlines():
        if line.startswith("procs="):
            procs = int(line.split("=")[1].split()[0])
            res[f"gbps_{procs}p"] = float(line.split("~")[1].split()[0])
        elif "efficiency" in line:
            res["bw_eff_4to16"] = float(line.rsplit(":", 1)[1])
    return res


def _parse_env(kvs: list[str]) -> dict:
    out = {}
    for kv in kvs:
        k, _, v = kv.partition("=")
        out[k] = v
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--entry", required=True,
                    help="bench entry name (bench.bench_<entry>)")
    ap.add_argument("--pairs", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_AB_PAIRS", "3")))
    ap.add_argument("--env-a", action="append", default=[], metavar="K=V")
    ap.add_argument("--env-b", action="append", default=[], metavar="K=V")
    ap.add_argument("--skip-probe", action="store_true",
                    help="skip the bandwidth probes (saves ~3 min when the "
                         "window is classified externally)")
    args = ap.parse_args()

    import bench
    from bench import _cpu_stat
    from pyspark.sql import SparkSession

    fn = getattr(bench, f"bench_{args.entry}", None)
    if fn is None:
        raise SystemExit(f"no bench.bench_{args.entry}; see bench.py")
    env_a, env_b = _parse_env(args.env_a), _parse_env(args.env_b)
    # bench reads these at MODULE IMPORT — switching them per draw is a
    # silent no-op that would emit a bogus ~0-delta variant_pair record
    # (review r6); set them in the harness's OWN environment instead
    _import_time = {
        "SPARK_GRAFT_BENCH_REPL", "SPARK_GRAFT_HEAVY_REPL",
        "SPARK_GRAFT_RICH_ENTS", "SPARK_GRAFT_RICH_FRAC_DEN",
        "SPARK_GRAFT_BENCH_ATTEMPTS", "SPARK_GRAFT_BENCH_ATTEMPTS_STEAL",
        "SPARK_GRAFT_STEAL_RETRY_PCT", "SPARK_GRAFT_LONG_ENTRY_SEC",
    }
    frozen = _import_time & (set(env_a) | set(env_b))
    if frozen:
        raise SystemExit(
            f"env vars {sorted(frozen)} are read at bench import time and "
            "cannot vary per draw; export them before launching the harness"
        )
    noise_pin = not env_a and not env_b

    bw_before = {} if args.skip_probe else probe()

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.driver.memory", "32g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.local.dir",
                os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-ab"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").count()  # warm

    draws: list[dict] = []

    def one(variant: str, env: dict) -> None:
        saved = {k: os.environ.get(k) for k in env}
        os.environ.update(env)
        try:
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            s0, c0 = _cpu_stat()
            t0 = time.time()
            result = fn(spark, SF_DIR)
            wall = round(time.time() - t0, 2)
            s1, c1 = _cpu_stat()
        finally:
            for k, v in saved.items():
                if v is None:
                    os.environ.pop(k, None)
                else:
                    os.environ[k] = v
        draws.append({
            "variant": variant,
            "wall_sec": wall,
            "steal_pct": round(100.0 * (s1 - s0) / max(c1 - c0, 1), 1),
            "result": repr(result)[:80],
        })
        print(f"  {variant}: {wall}s steal={draws[-1]['steal_pct']}%",
              file=sys.stderr)

    for _ in range(args.pairs):
        one("A", env_a)
        one("B", env_b)
    spark.stop()

    bw_after = {} if args.skip_probe else probe()
    best = {v: min(d["wall_sec"] for d in draws if d["variant"] == v)
            for v in ("A", "B")}
    walls = {v: [d["wall_sec"] for d in draws if d["variant"] == v]
             for v in ("A", "B")}
    print(json.dumps({
        "harness": "ab_interleaved",
        "entry": args.entry,
        "mode": "noise_pin" if noise_pin else "variant_pair",
        "env_a": env_a, "env_b": env_b,
        "sf_dir": SF_DIR, "cpus": int(CPUS),
        "repl": os.environ.get("SPARK_GRAFT_BENCH_REPL"),
        "bw_before": bw_before, "bw_after": bw_after,
        "draws": draws, "walls": walls, "best": best,
        "b_minus_a_sec": round(best["B"] - best["A"], 2),
    }))


if __name__ == "__main__":
    main()
