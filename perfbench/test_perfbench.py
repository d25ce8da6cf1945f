"""Tests of the benchmark's own arithmetic and input generation.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import io
import json
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
from stats import busy_wall, process_tree, self_times  # noqa: E402
from tracing import parse_size  # noqa: E402


def _bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def _crawl(seed: int, op: int = 0) -> bytes:
    pool = gen.rich_pool(seed, n_per_type=40)
    corpus = gen.crawl_batch(seed, op, 60, pool)
    return _bytes(gen.pages_table(corpus)) + repr(corpus["gazetteer"]).encode()


def _duck(table: pa.Table):
    duck = duckdb.connect()
    duck.register("t", table)
    return duck


def _triples(seed: int) -> bytes:
    t = gen.triples_table(seed, 200_000, n_entities=20_000)
    return _bytes(t) + repr(gen.query_mix(seed, 20, _duck(t))).encode()


def _curate(seed: int, op: int = 0) -> bytes:
    table, expected = gen.curate_batch(seed, op, 400)
    return _bytes(table) + repr(expected).encode()


@pytest.mark.parametrize("make", [_crawl, _triples, _curate])
def test_same_seed_same_bytes_other_seed_other_bytes(make):
    assert make(7) == make(7)
    assert make(7) != make(8)


@pytest.mark.parametrize("make", [_crawl, _curate])
def test_ops_of_one_run_get_fresh_inputs(make):
    assert make(7, 0) != make(7, 1)


def test_crawl_close_waits_for_every_process_it_started(tmp_path):
    import workloads

    wl = workloads.Crawl(str(tmp_path), 5)
    wl.n_pages = 30
    wl.prepare(2)
    for f in wl.building:
        f.result()
    wl.close()
    assert process_tree(os.getpid()) == [os.getpid()]


def test_crawl_urls_unique_per_op():
    pool = gen.rich_pool(3, n_per_type=40)
    urls = [{p["url"] for p in gen.crawl_batch(3, op, 50, pool)["pages"]}
            for op in (0, 1)]
    assert urls[0] and not urls[0] & urls[1]


def test_rich_pool_aliases_share_one_compact_form():
    from nary_relation_extraction_decomposed_spark.functions.textnorm import (
        compact_form, normalize_surface)

    pool = gen.rich_pool(5, n_per_type=100)
    assert len(pool) == 300
    norms = 0
    for e in pool:
        assert len({compact_form(s) for s in e.surfaces}) == 1
        norms += len({normalize_surface(s) for s in e.surfaces})
    assert norms >= 2 * len(pool)


def test_curate_expected_survivors_are_base_docs():
    table, expected = gen.curate_batch(11, 2, 500)
    ids = table.column("doc_id").to_pylist()
    assert len(ids) == len(set(ids)) == 500
    assert set(expected) <= set(ids)
    # planted copies and junk take the ids above the base range
    base_top = 3 * 10_000_000 + 400
    assert max(expected) < base_top < max(ids)


def test_query_mix_anchors_are_unique_and_kinds_pair_up():
    t = gen.triples_table(2, 200_000, n_entities=20_000)
    qs = gen.query_mix(2, 40, _duck(t))
    kinds = [q["kind"] for q in qs]
    assert kinds[:20] == kinds[20:]
    assert {k: kinds.count(k) for k in gen.QUERY_KINDS} == {
        "lookup": 12, "chain": 12, "path": 12, "reach": 4}
    assert all(kinds[i] == kinds[i + 1] for i in range(0, len(kinds), 2))
    anchors = [q.get("source") or q["pattern"][0][0] for q in qs]
    assert len(anchors) == len(set(anchors))


def _op(start, end, units=10, warmup=False):
    return {"start": start, "end": end, "warmup": warmup, "st": {"units": units}}


def test_end_to_end_percentiles_and_throughput():
    done = [_op(0.0, 9.0, warmup=True)]  # warm-up: excluded
    # two clients: [10, 12) and [11, 14) overlap, then [14, 15) and [20, 21)
    done += [_op(10.0, 12.0), _op(11.0, 14.0), _op(14.0, 15.0), _op(20.0, 21.0)]
    m = run.end_to_end(done, setup_s=9.5)
    assert m["setup_s"] == 9.5
    # latencies 2000, 3000, 1000, 1000 ms -> sorted 1000, 1000, 2000, 3000
    assert m["op_p50_ms"] == pytest.approx(1500.0)
    assert m["op_p75_ms"] == pytest.approx(2250.0)  # rank 0.75 * 3 = 2.25
    assert m["op_p95_ms"] == pytest.approx(2850.0)  # rank 2.85
    # 40 units over a busy wall of 6 s: [10, 15) and [20, 21)
    assert m["throughput_per_s"] == pytest.approx(40 / 6.0)


def test_busy_wall_is_union_of_intervals():
    assert busy_wall([]) == 0.0
    assert busy_wall([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert busy_wall([(0, 10), (2, 3), (4, 5)]) == 10.0


def test_self_time_subtracts_children_union():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},   # overlaps span 1
        {"id": 3, "parent": 2, "start": 3.5, "end": 4.5},   # grandchild
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 1.0))
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0 - 1.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)


def test_ratios_divide_kept_rows_by_candidate_rows():
    spans = {
        "graph.doc_kg_combined": {"docs_with_evidence_ratio": 0.9},
        "er.lsh_candidate_pairs": {"rows": 200},
        "er.canonical_map.verify": {"rows": 150},
        "kg_query.reach_pairs": {"rows": 0, "rows_scanned": 10},  # no result
    }
    assert run.ratios(spans) == {
        "graph.doc_kg_combined.docs_with_evidence_ratio": 0.9,
        "er.canonical_map.verify.kept_ratio": 0.75,
    }
    assert set(run.ratios(spans)) <= set(run.per_layer_names())


def test_parse_size_reads_spark_metric_strings():
    assert parse_size("1,234") == 1234
    assert parse_size("3.5 KiB") == 3.5 * 1024
    assert parse_size("total (min, med, max (stageId: taskId))\n"
                      "2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 3.0: task 7))"
                      ) == 2.0 * 1024 ** 2


def test_benchmark_json_lists_what_run_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_names()
    assert {w["name"] for w in spec["workloads"]} <= set(run.SPANS)
    assert len(spec["per_layer"]) <= 128
