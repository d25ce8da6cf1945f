"""Benchmark runner (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...}

Headline mix = the engine's load-bearing paths:
  kg_pipeline   full extract->mentions->BFS->decompose->rejoin over pages
  kg_heavy      kg_pipeline over realistic multi-KB html (extractor-
                dominated, text NULLed to force the html path)
  er_canon      MinHash-LSH + distributed star-CC entity resolution over
                3*ER_FACTOR surfaces per doc (synthetic alias clusters)
  rejoin_heavy  the binary->triple equi-join at lineitem scale
  agg_q1        TPC-H-Q1-style wide aggregation
  corpus_dedup  end-to-end exact + MinHash-LSH dedup over a replicated
                corpus with planted exact/near duplicates
  ann_lsh       LSH-bucketed ANN, full table self-query + exact rerank
  ann_ivf_build IVF index build (deterministic Lloyd) + catalog persist
  ann_ivf       IVF ANN query against the STORED cid-partitioned index
  ann_topk      brute-force cosine top-k over embeddings
  win_session   session windows over events

Every entry is steal-defended: per-entry steal measured from /proc/stat,
entries over the retry threshold rerun, min wall kept (+ its steal and the
attempt count in the JSON) — one contended draw can't be the headline.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _cpu_stat() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from /proc/stat — this sandbox runs on
    a shared host with measured 0-45%% steal; every wall time must be read
    against the steal it suffered."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


REPLICATE = int(os.environ.get("SPARK_GRAFT_BENCH_REPL", "40"))
# steal-gated retry: entries whose run suffered more host steal than this
# rerun (the committed sample must not be one contended draw)
STEAL_RETRY_PCT = float(os.environ.get("SPARK_GRAFT_STEAL_RETRY_PCT", "3.0"))
MAX_ATTEMPTS = int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "3"))
# extended cap when every draw so far of a LONG entry was steal-stolen:
# r4's driver committed a 17.7 s kg_pipeline (13.1% steal, 3/3 attempts
# stolen) against a 7.8 s clean capability — a long entry whose BEST draw
# is still over the steal threshold keeps drawing up to this many attempts
# (VERDICT r4 #5); clean-by-3 entries behave exactly as before
# ADVICE r5: a user who LOWERS the base cap must get a lowered ceiling too —
# the steal extension defaults to 5 only when the base cap itself is the
# default; an explicitly-set SPARK_GRAFT_BENCH_ATTEMPTS pins both unless
# SPARK_GRAFT_BENCH_ATTEMPTS_STEAL is also explicitly set.
_STEAL_ENV = os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS_STEAL")
if _STEAL_ENV is not None:
    MAX_ATTEMPTS_STEAL = int(_STEAL_ENV)
elif "SPARK_GRAFT_BENCH_ATTEMPTS" in os.environ:
    MAX_ATTEMPTS_STEAL = MAX_ATTEMPTS
else:
    MAX_ATTEMPTS_STEAL = 5
# entries longer than this always get a SECOND draw (min kept): this host's
# effective CPU budget drifts ~25% across ~10-min windows WITHOUT showing
# as steal (BENCH/BASELINE.md round 3), so steal alone can't defend a
# long-running entry against one slow-budget window. 5 s (was 15 in r3):
# the r3 driver sample committed a single-draw 14.3 s kg_pipeline against a
# double-drawn 7.7 s capability because 14.3 < 15 escaped the second draw
# (VERDICT r3) — now every multi-second entry draws at least twice
LONG_ENTRY_MIN2_SEC = float(os.environ.get("SPARK_GRAFT_LONG_ENTRY_SEC", "5"))


def _kg_width(spark) -> int:
    # partitions per core > 1 evens out straggler tails in the Python
    # stages (at exactly 1 task/core one slow task idles every other core).
    # MEASURED round 3 at 16 cores / 329k docs: MULT=1 41.5-56.7 s,
    # MULT=2 38.9 s, MULT=3 38.0 s; at 4 cores MULT=2 is neutral and
    # MULT=3 is 16% WORSE (task overhead) -> default 2.
    return spark.sparkContext.defaultParallelism * int(
        os.environ.get("SPARK_GRAFT_WIDTH_MULT", "2")
    )


def _kg_replicated_pages(spark, sf_dir: str, width: int):
    """Pages derived from the documents table, replicated REPLICATE x with
    distinct urls so throughput is measured on a corpus, not on fixed
    per-stage overhead."""
    import pyspark.sql.functions as F

    from nary_relation_extraction_decomposed_spark.sources.tables import (
        pages_from_documents,
    )

    pages = pages_from_documents(spark, sf_dir, num_partitions=width)
    if REPLICATE > 1:
        pages = pages.select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(REPLICATE - 1))).alias("_copy")
        ).select(
            F.concat_ws("/", "url", "_copy").alias("url"),
            "warc_ts", "html", "text", "lang",
        )
    return pages


def bench_kg_pipeline(spark, sf_dir: str) -> tuple[int, int]:
    """Full KG pipeline over the replicated documents-derived corpus, using
    the closed-vocabulary bench gazetteer so mention/evidence stages do real
    work. Returns (n_docs, n_triples)."""
    from nary_relation_extraction_decomposed_spark.plans.q_kg import _gaz_df

    width = _kg_width(spark)
    pages = _kg_replicated_pages(spark, sf_dir, width)
    return _run_kg(spark, pages, _gaz_df(spark), width)


def _run_kg(spark, pages, gaz_df, width: int) -> tuple[int, int]:
    """The shared pipeline body of bench_kg_pipeline / bench_kg_rich —
    since round 6 this IS the production entry point (plans.pipeline
    .run_pipeline), so the measured path and the shipped path are the same
    code by construction (review r6: the bench previously hand-assembled
    an equivalent chain, leaving 'production never executes the advertised
    operators' as a paper gap).

    SPARK_GRAFT_KG_FUSION=pairs (default) -> fused_rejoin=True, the
    round-6 triples-only fast lane (ONE doc mapInPandas, support agg is
    the only corpus exchange); =combined -> fused_rejoin=False, the same
    stages with the doc pass emitting every row kind (sentences and
    evidence too), kept selectable for A/B. SPARK_GRAFT_KG_DEDUP=skip is
    the diagnostic that isolates the latest-per-url text shuffle (never
    the headline).
    Canonicalization is off: the bench gazetteer's closed vocabulary has
    nothing to canonicalize (er_canon measures that stage)."""
    from nary_relation_extraction_decomposed_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from nary_relation_extraction_decomposed_spark.plans.q_kg import PRED_WORDS

    rules = spark.createDataFrame(
        [(f"{p}#a", f"{p}#b", p, f"{p}.ctx") for p in PRED_WORDS],
        "subrel_a string, subrel_b string, pred_a string, pred_b string",
    )
    cfg = PipelineConfig(
        pivot_type="PIV",
        arg_slots=(("ARGA", "a"), ("ARGB", "b")),
        pred_vocab=tuple(PRED_WORDS),
        canonicalize=False,
        dedup_mode=(
            "skip"
            if os.environ.get("SPARK_GRAFT_KG_DEDUP", "latest") == "skip"
            else "latest"
        ),
        python_parallelism=width,
        fused_rejoin=(
            os.environ.get("SPARK_GRAFT_KG_FUSION", "pairs") != "combined"
        ),
    )
    res = run_pipeline(pages, gaz_df, rules, cfg)
    n_triples = res.triples.count()
    n_docs = res.docs.count()  # cached — near-free after the run
    res.docs.unpersist()
    return n_docs, n_triples


# kg_rich corpus knobs (VERDICT r5 #6): RICH_ENTS parametric entities per
# arg slot (gazetteer = 1 pivot + 2*RICH_ENTS surfaces), planted into every
# RICH_FRAC_DEN-th page. Expected distinct triples ~= 2 slots x RICH_ENTS x
# |PRED_WORDS| = 1,024 at the defaults — O(10^3) as the directive asks.
RICH_ENTS = int(os.environ.get("SPARK_GRAFT_RICH_ENTS", "256"))
RICH_FRAC_DEN = int(os.environ.get("SPARK_GRAFT_RICH_FRAC_DEN", "4"))


def bench_kg_rich(spark, sf_dir: str) -> tuple[int, int]:
    """kg_pipeline over an ENTITY-BEARING corpus (VERDICT r5 #6: the
    documents-derived pages contain almost no gazetteer entities, so the
    flagship docs/s measured detection over entity-free text while
    decompose/rejoin ran near-empty — kg_triples was 8).

    Every RICH_FRAC_DEN-th page (by url hash; default 25%) gets ONE planted
    evidence sentence appended as an extra <p> block, built entirely
    JVM-side (codegen concat over xxhash64-derived entity indexes — no
    Python in corpus construction): 'spark arga<K> <pred> argb<M>' with K,
    M, pred drawn from independent xxhash64 seeds. The gazetteer is the
    parametric 1 + 2*RICH_ENTS surface set. The planted sentence exercises
    the FULL path: mention detection (3 matches), sentence analysis (pred
    attach), BFS evidence, decompose into both arg slots, per-doc rejoin,
    and a support aggregation whose key space is O(10^3) distinct triples
    instead of 8. The other 75% of pages stay entity-free, keeping the
    skip-fast-path share realistic for web text.

    Same pipeline body as bench_kg_pipeline (_run_kg); reported separately
    so the headline entry keeps round-to-round continuity."""
    import pyspark.sql.functions as F

    from nary_relation_extraction_decomposed_spark.plans.q_kg import PRED_WORDS

    width = _kg_width(spark)
    pages = _kg_replicated_pages(spark, sf_dir, width)
    k = F.pmod(F.xxhash64(F.col("url"), F.lit(1)), F.lit(RICH_ENTS))
    m = F.pmod(F.xxhash64(F.col("url"), F.lit(2)), F.lit(RICH_ENTS))
    pred = F.element_at(
        F.array(*[F.lit(p) for p in PRED_WORDS]),
        (F.pmod(F.xxhash64(F.col("url"), F.lit(3)), F.lit(len(PRED_WORDS)))
         + 1).cast("int"),
    )
    planted = F.concat(
        F.lit("<p>spark arga"), k.cast("string"),
        F.lit(" "), pred,
        F.lit(" argb"), m.cast("string"), F.lit("</p>"),
    )
    # tags are stripped position-independently by the frozen extractor and
    # each block tag opens a new line (= sentence), so appending after
    # </html> yields exactly one extra planted sentence per chosen page
    pages = pages.withColumn(
        "html",
        F.when(
            F.pmod(F.xxhash64(F.col("url")), F.lit(RICH_FRAC_DEN)) == 0,
            F.concat(F.col("html"), F.encode(planted, "UTF-8")),
        ).otherwise(F.col("html")),
    )
    gaz_rows = (
        [("spark", "E_PIV", "PIV")]
        + [(f"arga{i}", f"E_A{i}", "ARGA") for i in range(RICH_ENTS)]
        + [(f"argb{i}", f"E_B{i}", "ARGB") for i in range(RICH_ENTS)]
    )
    gaz = spark.createDataFrame(
        gaz_rows, "surface_norm string, ent_id string, ent_type string"
    )
    return _run_kg(spark, pages, gaz, width)


HEAVY_REPL = int(os.environ.get("SPARK_GRAFT_HEAVY_REPL", "10"))

_BOILER = (
    "<div class=nav><ul>" + "".join(
        f"<li><a href=/s/{i}>section {i} link text with several words</a></li>"
        for i in range(12)
    ) + "</ul></div>"
    + "".join(
        f"<p>Boilerplate paragraph {i}: navigation chrome, cookie banners, "
        "footer text and related-article teasers make up most bytes of a "
        "real crawled page; the extractor must scan and drop them all.</p>"
        for i in range(18)
    )
)


def bench_kg_heavy(spark, sf_dir: str) -> tuple[int, int]:
    """kg_pipeline over REALISTIC page weights: text is NULLed so the frozen
    extractor must parse multi-KB html (nav chrome + 18 boilerplate
    paragraphs + the body, ~4KB/page vs ~200B in the light corpus) — the
    compute profile of actual Common-Crawl pages, where extraction
    dominates. Separate entry; kg_pipeline stays the round-comparable
    headline. Returns (n_docs, n_triples)."""
    import pyspark.sql.functions as F

    from nary_relation_extraction_decomposed_spark.operators.graph import (
        doc_graph_subrels,
    )
    from nary_relation_extraction_decomposed_spark.operators.mentions import (
        analyze_sentences,
        detect_mentions,
    )
    from nary_relation_extraction_decomposed_spark.operators.textprep import (
        dedup_latest_text,
        filter_pages,
        resolve_text,
    )
    from nary_relation_extraction_decomposed_spark.operators.triples import (
        rejoin_triples,
        subrels_from_evidence,
    )
    from nary_relation_extraction_decomposed_spark.plans.q_kg import PRED_WORDS, _gaz_df
    from nary_relation_extraction_decomposed_spark.sources.tables import (
        pages_from_documents,
    )

    # 2 tasks/core: same straggler lesson as kg_pipeline (measured MULT
    # sweep in BENCH/BASELINE.md round 3) — extraction tails especially,
    # since heavy pages vary 10x in parse cost
    width = spark.sparkContext.defaultParallelism * 2
    pages = pages_from_documents(spark, sf_dir, num_partitions=width)
    if HEAVY_REPL > 1:
        pages = pages.select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(HEAVY_REPL - 1))).alias("_c")
        ).select(
            F.concat_ws("/", "url", "_c").alias("url"), "warc_ts", "html", "text", "lang"
        )
    heavy = pages.select(
        "url", "warc_ts",
        F.encode(
            F.concat(
                F.lit("<html><head><title>doc</title></head><body>"),
                F.lit(_BOILER),
                F.lit("<p>"), F.coalesce(F.col("text"), F.lit("")),
                F.lit("</p><div id=footer>&copy; corpus footer</div></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        F.lit(None).cast("string").alias("text"),  # force the html path
        "lang",
    )
    docs = dedup_latest_text(
        resolve_text(filter_pages(heavy, "en")), num_partitions=width
    ).persist()
    ments = detect_mentions(docs, _gaz_df(spark))
    sents = analyze_sentences(docs, PRED_WORDS)
    ev = doc_graph_subrels(
        ments, sents, "PIV", [("ARGA", "a"), ("ARGB", "b")], num_partitions=width
    )
    sr = subrels_from_evidence(ev)
    rules = spark.createDataFrame(
        [(f"{p}#a", f"{p}#b", p, f"{p}.ctx") for p in PRED_WORDS],
        "subrel_a string, subrel_b string, pred_a string, pred_b string",
    )
    trips = rejoin_triples(sr, rules, canon_map=None)
    n_triples = trips.count()
    n_docs = docs.count()
    docs.unpersist()
    return n_docs, n_triples


ER_FACTOR = int(os.environ.get("SPARK_GRAFT_ER_FACTOR", "4"))


def bench_er_canon(spark, sf_dir: str) -> int:
    """Full MinHash-LSH -> verify -> distributed star-contraction CC ->
    canonical-label ER over a deterministic synthetic surface corpus:
    ER_FACTOR cores per document row, 3 alias variants per core (compact /
    spaced / dashed — same compact form, so expected clusters are exactly
    size 3). driver_threshold=0 forces the distributed CC path (the
    size-adaptive default would solve this on the driver); star contraction
    converges in O(log n) rounds. Returns n_surfaces for throughput."""
    import pyspark.sql.functions as F

    from nary_relation_extraction_decomposed_spark.operators.er import canonical_map

    width = spark.sparkContext.defaultParallelism
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    cores = d.select(
        F.explode(F.sequence(F.lit(0), F.lit(ER_FACTOR - 1))).alias("i"), "doc_id"
    ).select(
        F.substring(
            F.md5(F.concat_ws("#", F.col("doc_id").cast("string"), F.col("i"))), 1, 10
        ).alias("core")
    )
    surfaces = (
        cores.select(F.col("core").alias("surface_norm"))
        .union(cores.select(
            F.concat(F.substring("core", 1, 5), F.lit(" "),
                     F.substring("core", 6, 5)).alias("surface_norm")))
        .union(cores.select(
            F.concat(F.substring("core", 1, 3), F.lit("-"),
                     F.substring("core", 4, 7)).alias("surface_norm")))
    ).repartition(width * 2)
    return canonical_map(
        surfaces, cc_driver_threshold=0, cc_algorithm="star"
    ).count()


DEDUP_REPL = int(os.environ.get("SPARK_GRAFT_DEDUP_REPL", "8"))


def bench_corpus_dedup(spark, sf_dir: str) -> tuple[int, int, int]:
    """End-to-end near-dup detection over a replicated corpus with planted
    duplicates: documents x DEDUP_REPL copies — even copies byte-identical
    (exact dups), odd copies with a deterministic mutated tail (near-dups) —
    through exact content-hash dedup AND MinHash-LSH candidate generation.
    Returns (n_docs, n_exact_groups, n_lsh_candidates)."""
    import pyspark.sql.functions as F

    from nary_relation_extraction_decomposed_spark.operators import dedup as D

    width = spark.sparkContext.defaultParallelism
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    docs = (
        d.select(
            F.explode(F.sequence(F.lit(0), F.lit(DEDUP_REPL - 1))).alias("c"),
            "doc_id", "text",
        )
        .select(
            (F.col("doc_id") * DEDUP_REPL + F.col("c")).alias("doc_id"),
            F.when(
                F.col("c") % 2 == 1,
                F.concat("text", F.lit(" variant "), F.col("c").cast("string")),
            ).otherwise(F.col("text")).alias("text"),
        )
        .repartition(width * 2)
        .persist()
    )
    n_docs = docs.count()
    n_groups = D.exact_dedup(docs, "doc_id", F.col("text")).count()
    n_cand = D.minhash_dup_candidates(docs, "doc_id", F.col("text"), shingle_n=3).count()
    docs.unpersist()
    return n_docs, n_groups, n_cand


def bench_ann_ivf_build(spark, sf_dir: str) -> tuple:
    """IVF index BUILD: deterministic Lloyd (nlist=32) + persist through
    plans/catalog.write_ivf_index (centroids parquet + cid-partitioned
    lists) — the pay-once artifact. Returns the reread (centroids, lists)."""
    from nary_relation_extraction_decomposed_spark.operators import similarity as S
    from nary_relation_extraction_decomposed_spark.plans.catalog import (
        read_ivf_index,
        write_ivf_index,
    )

    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent, lists = S.ivf_index(em, nlist=32, lloyd_iters=2)
    path = "/tmp/spark_graft_ivf_bench"
    write_ivf_index(cent, lists, path)
    return read_ivf_index(spark, path)


def bench_ann_ivf_query(spark, sf_dir: str, index) -> int:
    """IVF ANN QUERY at the same full-table self-query scale as ann_lsh,
    against the STORED index: each query probes n_probe=2 of nlist=32
    cid-partitioned lists (~6% of the corpus reranked exactly). Returns
    result rows."""
    from nary_relation_extraction_decomposed_spark.operators import similarity as S

    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.ann_topk_ivf(None, em, k=5, n_probe=2, index=index).count()


def bench_ann_lsh(spark, sf_dir: str) -> int:
    """LSH-bucketed ANN at a query scale the brute-force crossJoin path is
    NOT meant for: the whole embeddings table queries itself through the
    OR-amplified hyperplane buckets + exact rerank. Returns result rows."""
    from nary_relation_extraction_decomposed_spark.operators import similarity as S

    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.ann_topk_lsh(em, em, k=5, dim=64, n_planes=8, n_tables=8).count()


def main() -> None:
    from pyspark.sql import functions as F

    from nary_relation_extraction_decomposed_spark.session import build_session
    from nary_relation_extraction_decomposed_spark.plans.queries import register_all

    QUERIES = register_all()

    spark = build_session(
        app_name="nary-kg-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTS", str(max(int(CPUS), 8))
        )),
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
            # emulate an N-core NODE, not N task slots on a 32-core host:
            # GC/JIT/common-pool threads all derive from the processor count,
            # so without this a local[8] run gets free host-wide JVM
            # parallelism and understates N->4N scaling
            "spark.driver.extraJavaOptions": f"-XX:ActiveProcessorCount={CPUS}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    entry_steal: dict[str, float] = {}
    entry_attempts: dict[str, int] = {}
    extras: dict[str, float] = {}

    # warm the JVM (parquet reader, codegen) AND the Python worker pool —
    # a cluster amortizes worker spawn over hours; a cold pool would charge
    # ~100ms x slots to the first timed UDF stage
    docs_warm = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs_warm.count()

    def _noop(it):
        for pdf in it:
            yield pdf[["doc_id"]]

    (docs_warm.repartition(int(CPUS)).mapInPandas(_noop, "doc_id bigint").count())

    def reset_between_entries() -> None:
        """Drop cached/localCheckpointed blocks and force a JVM GC between
        suite entries: leftover storage blocks + old-gen garbage from the
        previous entry otherwise tax the next one's timing (measured 2-3x
        inflation of er_canon when run after kg_pipeline)."""
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    def timed(name: str, fn):
        """Steal-defended timing (VERDICT r2 #3: the committed sample must
        defend itself): per-entry steal from /proc/stat; entries that
        suffered > STEAL_RETRY_PCT steal rerun (up to MAX_ATTEMPTS). The
        kept number is the MINIMUM wall across attempts — the capability
        measurement on a shared-steal box — with ITS steal recorded."""
        best = None
        # honor a user-raised base cap even past the steal-extension default
        for attempt in range(1, max(MAX_ATTEMPTS, MAX_ATTEMPTS_STEAL) + 1):
            reset_between_entries()
            s0, c0 = _cpu_stat()
            t0 = time.time()
            result = fn()
            wall = round(time.time() - t0, 3)
            s1, c1 = _cpu_stat()
            steal = round(100.0 * (s1 - s0) / max(c1 - c0, 1), 1)
            if best is None or wall < best[0]:
                best = (wall, steal, result)
            entry_attempts[name] = attempt
            if steal <= STEAL_RETRY_PCT and not (
                attempt == 1 and wall > LONG_ENTRY_MIN2_SEC
            ):
                break
            if attempt >= MAX_ATTEMPTS and not (
                best[1] > STEAL_RETRY_PCT and best[0] > LONG_ENTRY_MIN2_SEC
            ):
                break  # past the base cap, only still-stolen LONG entries redraw
        timings[name], entry_steal[name], result = best
        return result

    n_docs, n_triples = timed(
        "kg_pipeline", lambda: bench_kg_pipeline(spark, SF_DIR)
    )
    extras["kg_docs"] = n_docs
    extras["kg_triples"] = n_triples

    def run(name: str, qkey: str) -> None:
        timed(name, lambda: QUERIES[qkey](spark, SF_DIR).count())

    if os.environ.get("SPARK_GRAFT_BENCH_ONLY", "") != "kg":
        hd, ht = timed("kg_heavy", lambda: bench_kg_heavy(spark, SF_DIR))
        extras["kg_heavy_docs"] = hd
        extras["kg_heavy_docs_per_sec"] = round(hd / timings["kg_heavy"], 2)

        rd, rt = timed("kg_rich", lambda: bench_kg_rich(spark, SF_DIR))
        extras["kg_rich_docs"] = rd
        extras["kg_rich_triples"] = rt
        extras["kg_rich_docs_per_sec"] = round(rd / timings["kg_rich"], 2)

        extras["er_surfaces"] = timed(
            "er_canon", lambda: bench_er_canon(spark, SF_DIR)
        )

        run("rejoin_heavy", "rejoin_triples")
        run("agg_q1", "agg_stats")

        nd, ng, nc = timed(
            "corpus_dedup", lambda: bench_corpus_dedup(spark, SF_DIR)
        )
        extras["dedup_docs"] = nd
        extras["dedup_exact_groups"] = ng
        extras["dedup_lsh_candidates"] = nc

        extras["ann_result_rows"] = timed(
            "ann_lsh", lambda: bench_ann_lsh(spark, SF_DIR)
        )

        # IVF split per VERDICT r2 #5: the Lloyd build + catalog persist is
        # the pay-once artifact; the query entry runs against the STORED
        # cid-partitioned index
        index = timed("ann_ivf_build", lambda: bench_ann_ivf_build(spark, SF_DIR))
        extras["ann_ivf_rows"] = timed(
            "ann_ivf", lambda: bench_ann_ivf_query(spark, SF_DIR, index)
        )

        run("ann_topk", "ann_topk")
        run("win_session", "win_session")
        # downstream KG-query surface (r6): 2-hop BGP over a ~1.2M-edge
        # triple table — hop join + set-semantics dedup under AQE
        run("kg_pattern", "kg_pattern")

    steal_vals = list(entry_steal.values())
    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "steal_pct": round(max(steal_vals), 1) if steal_vals else 0.0,
        "metric": "kg_pipeline+operator_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "entry_steal_pct": entry_steal,
        "entry_attempts": entry_attempts,
        "sf": SF_DIR,
        "cpus": int(CPUS),
        "docs_per_sec": round(n_docs / timings["kg_pipeline"], 2),
        **extras,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
