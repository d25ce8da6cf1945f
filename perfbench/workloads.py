"""The benchmark's workloads: each drives one production job's path through
the engine's public functions, on inputs from ``gen``.

A workload object builds every op's inputs and expected output without
Spark (``prepare``, started while the JVM starts; it returns one future per
op, and keeps every future it started in ``building``, which the runner
waits for before the first measured op, so generation overlaps only the
session start and the warm-up ops), does the Spark side of its setup
(``setup``), runs one op (``run``, the timed part) and checks an op's
output against its expectation (``check``, untimed); at the end of the
run it stops every process and thread it started and waits for them
(``close``). ``run`` with a
``Tracer`` runs the same path with every layer on it traced. Each op gets
fresh urls or ids, so no op can reuse another op's output.
"""

from __future__ import annotations

import gc
import multiprocessing
import os
import shutil
from concurrent.futures import Future, ProcessPoolExecutor, ThreadPoolExecutor
from contextlib import nullcontext
from multiprocessing import resource_tracker

import duckdb
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
from fixtures.corpus import compute_goldens, gazetteer_rows, pred_rules_rows
from nary_relation_extraction_decomposed_spark.operators import (
    curate,
    er,
    graph,
    kg_query,
    textprep,
)
from nary_relation_extraction_decomposed_spark.operators import triples as T
from nary_relation_extraction_decomposed_spark.plans import catalog
from nary_relation_extraction_decomposed_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline,
)
from tracing import materialize


def done(value) -> Future:
    f = Future()
    f.set_result(value)
    return f


def crawl_pages(seed: int, i: int, n_pages: int, work: str) -> dict:
    """Op ``i``'s state: its pages, written to parquet."""
    table = gen.pages_table(gen.crawl_batch(seed, i, n_pages, gen.rich_pool(seed)))
    pages = os.path.join(work, f"pages-{i}.parquet")
    pq.write_table(table, pages)
    return {"op": i, "pages": pages, "out": os.path.join(work, f"triples-{i}"),
            "units": table.num_rows}


def crawl_golden(seed: int, i: int, n_pages: int) -> list:
    """Op ``i``'s golden triples from ``fixtures.corpus.compute_goldens``."""
    corpus = gen.crawl_batch(seed, i, n_pages, gen.rich_pool(seed))
    golden = compute_goldens(corpus)["golden_triples"]
    return sorted((r["subj"], r["pred"], r["obj"], r["support"]) for r in golden)


class Crawl:
    """``jobs/run_pipeline.py`` without ``--checkpoint``: read pages
    parquet, ``run_pipeline`` with the job's config (``PipelineConfig()``
    plus ``collect_metrics=True``), ``catalog.write_triples_table``, and the
    job's read-back and docs counts."""

    unit = "pages"
    clients = 1
    warmup_ops = 3  # op time levels off after the cold op and two more
    trace_pairs = 2
    nominal_op_s = 7.5
    # the most pages whose runs still fit the benchmark's time budget; the
    # rest of an op (ER over the alias pool, job overhead) is fixed per op
    n_pages = 12000

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.workers = None

    def prepare(self, n: int) -> list[Future]:
        """The gazetteer and rule tables, then the pages of ops 0..n-1 and
        after them their goldens, built in parallel processes (the golden
        simulation is pure Python, and the ops need only the pages)."""
        pool = gen.rich_pool(self.seed)
        self.gaz_path = os.path.join(self.work, "gazetteer.parquet")
        self.rules_path = os.path.join(self.work, "pred_rules.parquet")
        pq.write_table(pa.Table.from_pylist(
            gazetteer_rows(pool), schema=gen.GAZETTEER_SCHEMA), self.gaz_path)
        pq.write_table(pa.Table.from_pylist(pred_rules_rows()), self.rules_path)
        ctx = multiprocessing.get_context("spawn")
        # half the cores, so the JVM still starts at full speed
        self.workers = ProcessPoolExecutor(
            max(1, len(os.sched_getaffinity(0)) // 2), ctx)
        states = [self.workers.submit(crawl_pages, self.seed, i, self.n_pages, self.work)
                  for i in range(n)]
        self.goldens = [self.workers.submit(crawl_golden, self.seed, i, self.n_pages)
                        for i in range(n)]
        self.building = states + self.goldens
        return states

    def close(self) -> None:
        """Wait for the generator processes to exit, then stop the
        resource tracker process that the spawn context started; it would
        otherwise outlive this process."""
        if self.workers is None:
            return
        self.workers.shutdown(wait=True, cancel_futures=True)
        self.workers = None
        # the pool's semaphores unregister from the tracker when collected;
        # collected after the tracker stopped, they would start a new one
        gc.collect()
        resource_tracker._resource_tracker._stop()

    def setup(self, spark) -> None:
        self.spark = spark

    def run(self, st: dict, tracer=None) -> None:
        spark = self.spark
        pages = spark.read.parquet(st["pages"])
        gaz = spark.read.parquet(self.gaz_path)
        rules = spark.read.parquet(self.rules_path)
        with tracer.patch(self._traced_layers(tracer)) if tracer else nullcontext():
            result = run_pipeline(
                pages, gaz, rules, PipelineConfig(collect_metrics=True)
            )
            catalog.write_triples_table(result.triples, st["out"])
        spark.read.parquet(st["out"]).count()
        result.docs.count()

    def check(self, st: dict, _result) -> bool:
        got = ds.dataset(st["out"], partitioning="hive").to_table().to_pylist()
        return sorted(
            (r["subj"], r["pred"], r["obj"], r["support"]) for r in got
        ) == self.goldens[st["op"]].result()

    def cleanup(self, st: dict) -> None:
        os.remove(st["pages"])
        shutil.rmtree(st["out"], ignore_errors=True)

    @staticmethod
    def _traced_layers(tr) -> list:
        def doc_kg_combined(docs, *args, **kwargs):
            with tr.span("graph.doc_kg_combined") as rec:
                out = materialize(orig_combined(docs, *args, **kwargs))
            tr.after_op(rec, "docs_with_evidence_ratio", lambda: (
                graph.evidence_from_combined(out).select("url").distinct().count()
                / max(docs.count(), 1)))
            return out

        def cc(edges, *args, **kwargs):
            edges = tr.traced("er.canonical_map.verify", lambda: edges, "rows")()
            return tr.traced("connected_components.connected_components",
                             orig_cc)(edges, *args, **kwargs)

        orig_combined, orig_cc = graph.doc_kg_combined, er.connected_components
        return [
            (textprep, "resolve_text",
             tr.traced("textprep.resolve_text", textprep.resolve_text)),
            (textprep, "dedup_latest_text",
             tr.traced("textprep.dedup_latest_text", textprep.dedup_latest_text)),
            (graph, "doc_kg_combined", doc_kg_combined),
            (T, "subrels_from_evidence",
             tr.traced("triples.subrels_from_evidence", T.subrels_from_evidence)),
            (er, "canonical_map", tr.traced("er.canonical_map", er.canonical_map)),
            (er, "minhash_signatures",
             tr.traced("er.minhash_signatures", er.minhash_signatures)),
            (er, "lsh_candidate_pairs",
             tr.traced("er.lsh_candidate_pairs", er.lsh_candidate_pairs, "rows")),
            (er, "connected_components", cc),
            (T, "rejoin_triples",
             tr.traced("triples.rejoin_triples", T.rejoin_triples)),
            (catalog, "write_triples_table",
             tr.spanned("catalog.write_triples_table",
                        catalog.write_triples_table)),
        ]


class Query:
    """``jobs/run_query.py`` without ``--output``: read the triples table,
    answer one pattern (``kg_query.match_pattern``) or reachability
    (``kg_query.reach_pairs``) query and collect the rows. The table is
    written once at setup by ``catalog.write_triples_table``."""

    unit = "queries"
    clients = 2
    warmup_ops = 20  # one cycle of the query mix
    trace_pairs = 10
    nominal_op_s = 0.5
    n_rows = 2_000_000

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.workers = None

    def prepare(self, n: int) -> list[Future]:
        """The triple table (as raw parquet and in DuckDB) and a mix of n
        queries over it; each query's answer from DuckDB follows on a
        background thread."""
        table = gen.triples_table(self.seed, self.n_rows)
        self.raw = os.path.join(self.work, "triples-raw.parquet")
        pq.write_table(table, self.raw)
        self.duck = duckdb.connect()
        self.duck.register("t_arrow", table)
        self.duck.execute("CREATE TABLE t AS SELECT * FROM t_arrow")
        self.duck.unregister("t_arrow")
        mix = gen.query_mix(self.seed, n, self.duck)
        self.workers = ThreadPoolExecutor(1)
        self.answers = [self.workers.submit(self.expected, q) for q in mix]
        self.building = self.answers
        return [done({"op": i, "q": q, "units": 1, "span": (
            "kg_query.reach_pairs" if q["kind"] == "reach"
            else f"kg_query.match_pattern.{q['kind']}")})
            for i, q in enumerate(mix)]

    def setup(self, spark) -> None:
        """Write the triples table once, as the pipeline job does."""
        self.spark = spark
        self.path = os.path.join(self.work, "triples")
        catalog.write_triples_table(spark.read.parquet(self.raw), self.path)
        os.remove(self.raw)

    def run(self, st: dict, tracer=None) -> list:
        q = st["q"]
        triples = self.spark.read.parquet(self.path)

        def answer():
            if q["kind"] == "reach":
                return kg_query.reach_pairs(
                    triples, q["pred"], q["max_hops"], sources=[q["source"]])
            return kg_query.match_pattern(
                triples, q["pattern"], reorder=q.get("reorder", False))

        if tracer is not None:
            answer = tracer.traced(st["span"], answer, "rows")
        return sorted(tuple(r) for r in answer().collect())

    def check(self, st: dict, rows: list) -> bool:
        return rows == self.answers[st["op"]].result()

    def expected(self, q: dict) -> list:
        """The query's answer computed by DuckDB over the same triples."""
        k = q["kind"]
        if k == "lookup":
            (s, p, _), = q["pattern"]
            sql, args = ("SELECT DISTINCT obj FROM t WHERE subj = ? AND pred = ?",
                         [s, p])
        elif k == "chain":
            (s, p1, _), (_, p2, _) = q["pattern"]
            sql = ("SELECT DISTINCT a.obj, b.obj FROM t a JOIN t b ON a.obj = b.subj "
                   "WHERE a.subj = ? AND a.pred = ? AND b.pred = ?")
            args = [s, p1, p2]
        elif k == "path":
            (s, alt, _), (_, inv, _) = q["pattern"]
            p1, p2 = alt.split("|")
            sql = ("SELECT DISTINCT a.obj, b.subj FROM t a JOIN t b ON a.obj = b.obj "
                   "WHERE a.subj = ? AND a.pred IN (?, ?) AND b.pred = ?")
            args = [s, p1, p2, inv.lstrip("^")]
        else:
            sql = (
                "WITH RECURSIVE r(src, dst, h) AS ("
                " SELECT subj, obj, 1 FROM t WHERE pred = ? AND subj = ?"
                " UNION"
                " SELECT r.src, t.obj, r.h + 1 FROM r JOIN t ON t.subj = r.dst"
                " WHERE t.pred = ? AND r.h < ?)"
                " SELECT src, dst, min(h) FROM r GROUP BY src, dst")
            args = [q["pred"], q["source"], q["pred"], q["max_hops"]]
        return sorted(tuple(r) for r in self.duck.execute(sql, args).fetchall())

    def cleanup(self, st: dict) -> None:
        pass

    def close(self) -> None:
        if self.workers is not None:
            self.workers.shutdown(wait=True, cancel_futures=True)
            self.duck.close()
            self.workers = None


class Curate:
    """``jobs/run_curate.py``: read documents parquet, ``curate_corpus``
    (quality gate, exact dedup, MinHash near-dup clustering, stratified
    sample), write the sampled survivors to parquet and count the funnel."""

    unit = "docs"
    clients = 1
    warmup_ops = 3  # op time levels off after the cold op and two more
    trace_pairs = 2
    nominal_op_s = 5.0
    n_docs = 3000

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed

    def prepare(self, n: int) -> list[Future]:
        out = []
        for i in range(n):
            table, expected = gen.curate_batch(self.seed, i, self.n_docs)
            path = os.path.join(self.work, f"docs-{i}.parquet")
            pq.write_table(table, path)
            out.append(done({
                "docs": path, "units": table.num_rows,
                "out": os.path.join(self.work, f"curated-{i}"),
                "expected": expected}))
        self.building = []
        return out

    def setup(self, spark) -> None:
        self.spark = spark

    def run(self, st: dict, tracer=None) -> None:
        spark = self.spark
        docs = spark.read.parquet(st["docs"])
        with tracer.patch(self._traced_layers(tracer)) if tracer else nullcontext():
            stages = curate.curate_corpus(
                docs, stratum_col="lang", min_quality=gen.CURATE_MIN_QUALITY,
                rates=gen.CURATE_RATES, default_rate=gen.CURATE_DEFAULT_RATE,
                salt=gen.CURATE_SALT, verify_threshold=0.5,
            )
            if tracer is not None:
                with tracer.span("curate.neardup"):
                    stages["neardup"] = materialize(stages["neardup"])
            with tracer.span("curate.sampled") if tracer else nullcontext():
                stages["sampled"].write.mode("overwrite").parquet(st["out"])
        docs.count()
        for name in ("quality", "exact", "neardup"):
            stages[name].count()
        spark.read.parquet(st["out"]).count()

    def check(self, st: dict, _result) -> bool:
        got = pq.read_table(st["out"], columns=["doc_id"]).column("doc_id")
        return sorted(got.to_pylist()) == st["expected"]

    def cleanup(self, st: dict) -> None:
        os.remove(st["docs"])
        shutil.rmtree(st["out"], ignore_errors=True)

    def close(self) -> None:
        pass  # generation runs in this process

    @staticmethod
    def _traced_layers(tr) -> list:
        def sigs(df, *args, **kwargs):
            df = tr.traced("curate.quality_exact", lambda: df)()
            return tr.traced("dedup.minhash_signatures_wide", orig_sigs)(
                df, *args, **kwargs)

        def cc(pairs, *args, **kwargs):
            pairs = tr.traced("curate.verify", lambda: pairs, "rows")()
            return tr.traced("connected_components.connected_components",
                             orig_cc)(pairs, *args, **kwargs)

        orig_sigs, orig_cc = curate.minhash_signatures_wide, curate.connected_components
        return [
            (curate, "curate_corpus",
             tr.spanned("curate.curate_corpus", curate.curate_corpus)),
            (curate, "minhash_signatures_wide", sigs),
            (curate, "minhash_pairs_from_sigs",
             tr.traced("dedup.minhash_pairs_from_sigs",
                       curate.minhash_pairs_from_sigs, "rows")),
            (curate, "connected_components", cc),
        ]


WORKLOADS = {"crawl_rich": Crawl, "kg_query": Query, "curate_dedup": Curate}

