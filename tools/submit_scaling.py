"""spark-submit --py-files launch-contract evidence at N vs 4N cores.

BASELINE.json's north rule names a specific launch mechanism: "run via
spark-submit --py-files on a multi-executor cluster at two cluster sizes".
The official scaling-efficiency numbers come from the bench path
(tools/scaling_bench.py; BENCH/BASELINE.md round-6 samples D/F) — this tool
closes the remaining clause end-to-end: the SAME production job
(jobs/run_pipeline.py, incl. the partitioned triple sink) is launched with

    spark-submit --master local[N] --py-files dist/nary_kg.zip run_pipeline.py

from a scratch directory OUTSIDE the repo checkout, so every engine import
resolves from the zip (the deployment artifact), never the source tree —
the exact shape a real cluster submit has.

Method matches the gate method (BENCH/BASELINE.md round-2 onward):
  - -XX:ActiveProcessorCount={N} on the driver JVM (honest N-core node);
  - SPARK_LOCAL_DIRS on tmpfs (per-node NVMe stand-in);
  - per-run steal%% from /proc/stat;
  - host multiprocessing 4->16 ceiling probed before and after the draws
    (the launch predictor that held twice in round 6);
  - decisive pair back-to-back per corpus; two corpus sizes so the
    marginal efficiency cancels the ~15-25 s single-node fixed costs that
    a 10^12-row run amortizes to nothing. Corpora here are sized for a
    launch-mechanism check, not an official gate draw — read marginal.

Two job variants, each asserted parallelism-invariant in triple count:
  full  — the staged pipeline with canonicalization (run_pipeline
          defaults): every corpus-level exchange the production job has;
  fused — --fused-rejoin --no-canonicalize: the triples-only fast lane,
          i.e. the same shape the official gate samples measure, now
          entering through the spark-submit + zip deployment path.

Usage: python tools/submit_scaling.py [out_json]
Env:   SUBMIT_REPL_SMALL (default 100), SUBMIT_REPL_LARGE (default 400),
       SUBMIT_N (default 4; large size is 4*N cores),
       SUBMIT_VARIANTS (comma list from {full,fused}; default both)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.scaling_bench import host_mp_efficiency  # noqa: E402

FIXT = os.path.join(REPO, "tests", "fixtures", "data")
ZIP = os.path.join(REPO, "dist", "nary_kg.zip")
SCRATCH = "/tmp/submit_scaling"
SHM = "/dev/shm/spark-tmp"
REPL_SMALL = int(os.environ.get("SUBMIT_REPL_SMALL", "100"))
REPL_LARGE = int(os.environ.get("SUBMIT_REPL_LARGE", "400"))
# spark-submit's default driver JVM is 1g — in local mode the driver IS the
# executor, so the whole pipeline would run under GC pressure and OOM at
# 16 threads on the 858k-doc corpus. Match the bench path (bench.py: 16g).
DRIVER_MEM = os.environ.get("SUBMIT_DRIVER_MEM", "16g")
VARIANT_ARGS = {
    "full": [],
    "fused": ["--fused-rejoin", "--no-canonicalize"],
}


def _steal_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def prep_corpus(repl: int, dest: str) -> int:
    """Replicate the entity-bearing fixture corpus with distinct urls
    (no Spark needed for prep; the pipeline under test reads plain parquet
    of exactly the input_hint shape url/warc_ts/html/text/lang)."""
    con = duckdb.connect()
    src = os.path.join(FIXT, "pages.parquet")
    con.execute(
        f"""
        COPY (
          SELECT p.url || '?copy=' || r.range AS url,
                 p.warc_ts, p.html, p.text, p.lang
          FROM read_parquet('{src}') p CROSS JOIN range({repl}) r
        ) TO '{dest}' (FORMAT PARQUET)
        """
    )
    n = con.execute(f"SELECT count(*) FROM read_parquet('{dest}')").fetchone()[0]
    con.close()
    return n


def submit(cpus: int, pages: str, out: str, extra: list[str]) -> dict:
    env = dict(os.environ)
    if os.path.isdir("/dev/shm"):
        os.makedirs(SHM, exist_ok=True)
        env["SPARK_LOCAL_DIRS"] = SHM
    # Scratch cwd + copied job file: the job's own sys.path fallback points
    # at /tmp, so the engine package can ONLY come from the --py-files zip.
    cmd = [
        "spark-submit",
        "--master", f"local[{cpus}]",
        "--driver-memory", DRIVER_MEM,
        "--conf",
        f"spark.driver.extraJavaOptions=-XX:ActiveProcessorCount={cpus}",
        "--py-files", ZIP,
        os.path.join(SCRATCH, "run_pipeline.py"),
        "--pages", pages,
        "--fixtures", FIXT,
        "--output", out,
        *extra,
    ]
    t0 = time.time()
    s0, c0 = _steal_jiffies()
    res = subprocess.run(
        cmd, cwd=SCRATCH, env=env, capture_output=True, text=True, timeout=3600
    )
    s1, c1 = _steal_jiffies()
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-2000:] + "\n" + res.stderr[-4000:] + "\n")
        raise SystemExit(f"spark-submit local[{cpus}] failed")
    # Last PARSEABLE JSON line, scanned back-to-front: a Spark/py4j warning
    # that happens to start with "{", or a missing record after a job
    # contract change, must not kill a multi-run sweep with a bare
    # IndexError/JSONDecodeError and no captured output (review r6 cont.).
    rec = None
    for l in reversed(res.stdout.strip().splitlines()):
        if l.startswith("{"):
            try:
                rec = json.loads(l)
                break
            except json.JSONDecodeError:
                continue
    if not isinstance(rec, dict):
        sys.stderr.write(res.stdout[-2000:] + "\n" + res.stderr[-4000:] + "\n")
        raise SystemExit(
            f"spark-submit local[{cpus}] exited 0 but printed no JSON record"
        )
    rec["submit_wall_sec"] = round(time.time() - t0, 2)
    rec["steal_pct"] = round(100.0 * (s1 - s0) / max(c1 - c0, 1), 1)
    time.sleep(8)  # let the JVM/python workers fully release between runs
    return rec


def main() -> None:
    n_small = int(os.environ.get("SUBMIT_N", "4"))
    n_large = 4 * n_small
    variants = [
        v for v in os.environ.get("SUBMIT_VARIANTS", "full,fused").split(",")
        if v
    ]
    unknown = [v for v in variants if v not in VARIANT_ARGS]
    if unknown:
        raise SystemExit(f"unknown SUBMIT_VARIANTS entries: {unknown}")
    subprocess.run([sys.executable, os.path.join(REPO, "tools", "build_dist.py")],
                   check=True)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    shutil.copy(os.path.join(REPO, "jobs", "run_pipeline.py"), SCRATCH)
    corpora = {
        "large": (REPL_LARGE, os.path.join(SCRATCH, "pages_large.parquet")),
        "small": (REPL_SMALL, os.path.join(SCRATCH, "pages_small.parquet")),
    }
    for name, (repl, path) in corpora.items():
        n = prep_corpus(repl, path)
        print(f"corpus {name}: {n} docs ({repl}x fixture)")

    ceiling_before = host_mp_efficiency(n_small, n_large)
    print(f"host ceiling before: {ceiling_before}")

    report: dict = {
        "mechanism": "spark-submit --py-files dist/nary_kg.zip, scratch cwd "
                     "(imports resolve from the zip only), "
                     "ActiveProcessorCount honest core emulation",
        "N": n_small, "4N": n_large,
        "host_mp_ceiling_before": ceiling_before,
        "variants": {},
    }
    for variant in variants:
        runs: dict[str, dict] = {}
        # decisive pair back-to-back per corpus (same rationale as
        # scaling_bench: effective CPU budget drifts across ~10-min windows)
        for size in ("large", "small"):
            for cpus in (n_small, n_large):
                out = os.path.join(SCRATCH, f"out_{variant}_{size}_{cpus}")
                rec = submit(cpus, corpora[size][1], out,
                             VARIANT_ARGS[variant])
                runs[f"{size}_c{cpus}"] = rec
                print(f"{variant} {size} local[{cpus}]: {rec['n_docs']} docs, "
                      f"{rec['n_triples']} triples, job {rec['wall_sec']}s "
                      f"({rec['docs_per_sec']} docs/s), "
                      f"steal {rec['steal_pct']}%")

        for size in ("large", "small"):
            a, b = runs[f"{size}_c{n_small}"], runs[f"{size}_c{n_large}"]
            assert a["n_triples"] == b["n_triples"], (
                f"{variant}/{size}: triple count differs across parallelism "
                f"({a['n_triples']} vs {b['n_triples']})")

        big4, big16 = runs[f"large_c{n_small}"], runs[f"large_c{n_large}"]
        sm4, sm16 = runs[f"small_c{n_small}"], runs[f"small_c{n_large}"]
        raw_eff = big16["docs_per_sec"] / (4 * big4["docs_per_sec"])
        d_docs = big4["n_docs"] - sm4["n_docs"]
        d4 = big4["wall_sec"] - sm4["wall_sec"]
        d16 = big16["wall_sec"] - sm16["wall_sec"]
        marg_eff = (d_docs / d16) / (4 * (d_docs / d4)) \
            if d4 > 0 and d16 > 0 else None
        report["variants"][variant] = {
            "job_args": VARIANT_ARGS[variant],
            "raw_eff": round(raw_eff, 3),
            "marginal_eff": round(marg_eff, 3) if marg_eff else None,
            "triples_parallelism_invariant": True,
            "runs": runs,
        }
        print(json.dumps({"variant": variant, "raw_eff": round(raw_eff, 3),
                          "marginal_eff": round(marg_eff, 3) if marg_eff
                          else None}))

    report["host_mp_ceiling_after"] = host_mp_efficiency(n_small, n_large)
    print(f"host ceiling after: {report['host_mp_ceiling_after']}")

    out_json = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "BENCH", "samples", "round_6_submit_pyfiles_scaling.json")
    with open(out_json, "w") as f:
        json.dump(report, f, indent=1)
    print(f"wrote {out_json}")


if __name__ == "__main__":
    main()
