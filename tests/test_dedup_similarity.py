"""Training-data-pipeline operators: dedup family, ANN, multimodal plumbing.
Hash-family ops (MinHash/SimHash/hyperplane-LSH) have no DuckDB oracle, so
their correctness contract lives here: determinism, recall against planted
duplicates, and agreement with exact methods."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from nary_relation_extraction_decomposed_spark.operators import dedup as D
from nary_relation_extraction_decomposed_spark.operators import similarity as S
from nary_relation_extraction_decomposed_spark.operators.multimodal import (
    decode_image,
    extract_media_features,
    media_from_documents,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dupes(spark):
    """Documents plus planted near-duplicates: doc_id+100000 copies with one
    word changed (high jaccard), doc_id+200000 exact copies."""
    d = spark.read.parquet(f"{SF}/documents.parquet").filter(F.col("doc_id") < 50)
    near = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("zzz "), F.substring("text", 5, 100000)).alias("text"),
        "lang", "source", "n_chars",
    )
    exact = d.select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return d.unionByName(near).unionByName(exact)


def test_exact_dedup_finds_planted(spark, docs_with_dupes):
    res = D.exact_dedup(docs_with_dupes, "doc_id", F.col("text")).collect()
    groups = {r["keep_id"]: r["group_size"] for r in res}
    # each of the 50 originals groups with its exact copy
    assert sum(1 for k, v in groups.items() if v == 2 and k < 50) == 50


def test_minhash_recall_on_planted(spark, docs_with_dupes):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_dup_candidates(
            docs_with_dupes, "doc_id", F.col("text"), shingle_n=3
        ).collect()
    }
    exact_pairs = sum(1 for a, b in pairs if b == a + 200000)
    assert exact_pairs == 50  # identical docs always share all bands
    # near-dups (1 shingle-run changed) should mostly be caught
    near_pairs = sum(1 for a, b in pairs if b == a + 100000)
    assert near_pairs >= 40


def test_minhash_deterministic(spark, docs_with_dupes):
    r1 = D.minhash_dup_candidates(docs_with_dupes, "doc_id", F.col("text")).collect()
    r2 = D.minhash_dup_candidates(
        docs_with_dupes.repartition(13), "doc_id", F.col("text")
    ).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))


def test_simhash_exact_dupes_identical_and_near(spark, docs_with_dupes):
    sigs = {r["id"]: r["simhash"] for r in
            D.simhash_signatures(docs_with_dupes, "doc_id", F.col("text")).collect()}
    for i in range(50):
        assert sigs[i] == sigs[i + 200000]
    # near-dups: docs here are tiny (~25 distinct tokens) so each changed
    # token moves many near-zero bit votes — hamming is genuinely noisy;
    # assert it is still far below the ~32 expected for unrelated docs
    hams = [bin((sigs[i] ^ sigs[i + 100000]) & 0xFFFFFFFFFFFFFFFF).count("1")
            for i in range(50)]
    assert sum(1 for h in hams if h <= 20) >= 35, sorted(hams)
    pairs = D.simhash_near_pairs(
        D.simhash_signatures(docs_with_dupes, "doc_id", F.col("text")), max_hamming=8
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert sum(1 for a, b in got if b == a + 200000) == 50


def test_simhash_hot_band_is_capped(spark):
    """Planted degenerate band (1k docs with simhash=0 — the empty/boiler-
    plate case guaranteed at web scale): the pair generator must stay
    bounded (bucket truncation) instead of expanding ~500k pairs on one
    reducer, while genuinely-near pairs in small buckets still come out.

    Over-cap buckets TRUNCATE to their first MAX_BLOCK_SIZE members (not a
    drop): an identical-simhash cluster is over-cap in EVERY band, so a
    drop would emit zero pairs for exactly the most-duplicated content —
    the truncated sample keeps it discoverable at bounded cost."""
    from nary_relation_extraction_decomposed_spark.operators.er import (
        MAX_BLOCK_SIZE,
    )

    hot = [(i, 0) for i in range(1000)]
    near = [(100001, 3 << 40), (100002, (3 << 40) | 1)]  # hamming 1
    sigs = spark.createDataFrame(hot + near, "id bigint, simhash bigint")
    got = D.simhash_near_pairs(sigs, max_hamming=8).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert (100001, 100002) in pairs
    hot_pairs = [(a, b) for a, b in pairs if a < 1000 and b < 1000]
    # the identical-simhash cluster IS represented (was a silent recall
    # hole when over-cap buckets were dropped outright)...
    assert hot_pairs
    # ...but only through the deterministic first-MAX_BLOCK_SIZE sample,
    # so the expansion stays bounded at C(cap, 2)
    assert all(a < MAX_BLOCK_SIZE and b < MAX_BLOCK_SIZE for a, b in hot_pairs)
    assert len(hot_pairs) == MAX_BLOCK_SIZE * (MAX_BLOCK_SIZE - 1) // 2


def test_ann_lsh_recall_vs_bruteforce(spark):
    em = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = em.filter(F.col("vec_id") < 10)
    exact = {
        (r["q_id"], r["n_id"])
        for r in S.ann_topk_bruteforce(em, q, k=5).collect()
    }
    approx = {
        (r["q_id"], r["n_id"])
        for r in S.ann_topk_lsh(em, q, k=5, dim=64, n_planes=4, n_tables=8).collect()
    }
    # random vectors are hyperplane-LSH's worst case; OR-amplification over
    # 8 tables should still recover half the exact neighbors
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall
    # and the LSH result is deterministic across partitioning
    approx2 = {
        (r["q_id"], r["n_id"])
        for r in S.ann_topk_lsh(
            em.repartition(7), q, k=5, dim=64, n_planes=4, n_tables=8
        ).collect()
    }
    assert approx == approx2


def test_ann_ivf_recall_and_determinism(spark):
    """IVF ANN (deterministic Lloyd -> inverted lists -> n_probe search):
    probing 2/16 of the corpus must still recover most exact neighbors on
    random vectors, and the whole index+search is partitioning-invariant."""
    em = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = em.filter(F.col("vec_id") < 10)
    exact = {
        (r["q_id"], r["n_id"])
        for r in S.ann_topk_bruteforce(em, q, k=5).collect()
    }
    approx = {
        (r["q_id"], r["n_id"])
        for r in S.ann_topk_ivf(em, q, k=5, nlist=16, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # random vectors are the worst case for a coarse quantizer too; with
    # n_probe=4 of nlist=16 (25% of the corpus scanned) expect >= 0.5
    assert recall >= 0.5, recall
    approx2 = {
        (r["q_id"], r["n_id"])
        for r in S.ann_topk_ivf(
            em.repartition(7), q, k=5, nlist=16, n_probe=4
        ).collect()
    }
    assert approx == approx2


def test_ann_ivf_stored_index_roundtrip(spark, tmp_path):
    """Persisting the IVF index through plans/catalog (centroids parquet +
    cid-partitioned lists) and querying the stored form must match the
    in-memory index exactly — the build is a pay-once artifact."""
    from nary_relation_extraction_decomposed_spark.plans.catalog import (
        read_ivf_index,
        write_ivf_index,
    )

    em = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = em.filter(F.col("vec_id") < 10)
    cent, lists = S.ivf_index(em, nlist=16, lloyd_iters=2)
    mem = {
        (r["q_id"], r["n_id"], r["rank"])
        for r in S.ann_topk_ivf(None, q, k=5, n_probe=4,
                                index=(cent, lists)).collect()
    }
    write_ivf_index(cent, lists, str(tmp_path / "ivf"))
    stored = read_ivf_index(spark, str(tmp_path / "ivf"))
    got = {
        (r["q_id"], r["n_id"], r["rank"])
        for r in S.ann_topk_ivf(None, q, k=5, n_probe=4,
                                index=stored).collect()
    }
    assert got == mem and got
    # in-query build (corpus arg) is the same index by determinism
    inq = {
        (r["q_id"], r["n_id"], r["rank"])
        for r in S.ann_topk_ivf(em, q, k=5, nlist=16, n_probe=4).collect()
    }
    assert inq == mem


def test_ann_ivf_lists_partition_corpus(spark):
    """The inverted lists are a PARTITION of the corpus (every vector in
    exactly one list) and centroids stay nlist-sized."""
    em = spark.read.parquet(f"{SF}/embeddings.parquet")
    centroids, lists = S.ivf_index(em, nlist=8, lloyd_iters=1)
    assert centroids.count() == 8
    assert lists.count() == em.count()
    assert lists.select("id").distinct().count() == em.count()


def test_centroids_sql_vs_pandas(spark):
    em = spark.read.parquet(f"{SF}/embeddings.parquet")
    sql_c = {
        (r["label"], r["pos"]): r["centroid"]
        for r in S.centroids_sql(em, "label").collect()
    }
    pd_c = {}
    for r in S.centroids_pandas(em, "label").collect():
        for pos, v in enumerate(r["centroid_vec"]):
            pd_c[(r["label"], pos)] = v
    assert set(sql_c) == set(pd_c)
    for k in sql_c:
        assert abs(sql_c[k] - pd_c[k]) < 2e-6, k


def test_multimodal_plumbing(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    feats = extract_media_features(media_from_documents(docs), fake_decode=True)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert r["n_bytes"] > 0
        assert len(r["magic"]) == 8
        assert len(r["feat"]) == 8
        assert abs(sum(r["feat"]) - 1.0) < 1e-3  # normalized histogram
    # the real-decode path is an explicit stub
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG....", fake=False)


def test_er_hot_bucket_truncates_not_drops(spark):
    """ER twin of test_simhash_hot_band_is_capped: surfaces "abc"*k (k>=2)
    are DISTINCT strings with IDENTICAL char-shingle sets, so they share
    one MinHash signature and collide in EVERY LSH band — the boilerplate-
    title cluster guaranteed at web scale. With the old size-cap DROP such
    a cluster emitted zero candidate pairs in every band and never
    canonicalized; truncation keeps the first MAX_BLOCK_SIZE sorted members
    pairing (bounded cost), CC merges them, and the rest stay singletons."""
    from nary_relation_extraction_decomposed_spark.operators.er import (
        MAX_BLOCK_SIZE,
        canonical_map,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    n_hot = MAX_BLOCK_SIZE + 16
    hot = ["abc" * k for k in range(2, 2 + n_hot)]  # sorted == by length
    normal = ["acme corporation", "acme corporations", "zz unrelated thing"]
    surfaces = spark.createDataFrame(
        [(s,) for s in hot + normal], "surface_norm string"
    )

    sigs = minhash_signatures(surfaces)
    pairs = {
        (r["a"], r["b"]) for r in lsh_candidate_pairs(sigs).collect()
    }
    hot_pairs = [(a, b) for a, b in pairs if a in set(hot) and b in set(hot)]
    # the cluster IS represented (was a silent recall hole under the drop)...
    assert hot_pairs
    # ...but only via the deterministic first-MAX_BLOCK_SIZE sample
    kept = set(sorted(hot)[:MAX_BLOCK_SIZE])
    assert all(a in kept and b in kept for a, b in hot_pairs)
    assert len(hot_pairs) == MAX_BLOCK_SIZE * (MAX_BLOCK_SIZE - 1) // 2

    canon = {r["surface_norm"]: r["canonical"] for r in
             canonical_map(surfaces).collect()}
    # the sampled members all canonicalize to the cluster min; the
    # beyond-cap tail stays singleton (documented bounded-recall trade)
    assert {canon[s] for s in kept} == {"abcabc"}
    for s in set(hot) - kept:
        assert canon[s] == s
    # normal near-pair behavior untouched
    assert canon["acme corporation"] == canon["acme corporations"]
    assert canon["zz unrelated thing"] == "zz unrelated thing"


def test_hyperplane_buckets_match_spec_twin(spark):
    """The codegen signer (hyperplane_buckets) must reproduce the spec twin
    (hyperplane_signature_col's interpreted fold) bit-for-bit: same xxhash64
    parity per (table, plane, pos), and the partial-agg sum accumulates the
    exploded components in ascending pos order from one input row, matching
    the spec's left fold exactly in IEEE double arithmetic."""
    em = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200)
    n_planes, n_tables = 4, 8
    fast = {
        (r["id"], r["tbl"]): r["bucket"]
        for r in S.hyperplane_buckets(
            em, "vec_id", "embedding", 64, n_planes, n_tables
        ).collect()
    }
    v = S.as_double(F.col("embedding"))
    spec_cols = [
        S.hyperplane_signature_col(v, 64, n_planes, seed=42 + t).alias(f"b{t}")
        for t in range(n_tables)
    ]
    spec = {}
    for r in em.select(F.col("vec_id").alias("id"), *spec_cols).collect():
        for t in range(n_tables):
            spec[(r["id"], t)] = r[f"b{t}"]
    assert fast == spec


def test_pair_generators_match_python_reference_on_random_sigs(spark):
    """Independent recomputation of BOTH pair generators over seeded random
    signature tables (beyond the committed-fixture DuckDB oracles, which
    pin one input): a pure-Python reference implements band-group /
    sort / truncate-to-MAX_BLOCK_SIZE / pair-expand, and the Spark SQL
    shapes must emit exactly its pair sets. Inputs force collisions —
    a 100-row identical-signature hot cluster (over-cap in every band)
    plus small-alphabet random columns."""
    import numpy as np

    from nary_relation_extraction_decomposed_spark.operators import dedup as D
    from nary_relation_extraction_decomposed_spark.operators.er import (
        MAX_BLOCK_SIZE,
    )

    for seed in (0, 1):
        rng = np.random.default_rng(seed)
        n, perms = 240, 64
        sig = rng.integers(0, 3, size=(n, perms)).astype(np.int64)
        sig[:100] = sig[0]  # hot cluster: identical in every band
        ids = np.arange(n, dtype=np.int64)

        rows = [(int(i), *map(int, sig[k])) for k, i in enumerate(ids)]
        cols = ", ".join(f"h{j} bigint" for j in range(perms))
        sigs_df = spark.createDataFrame(rows, f"id bigint, {cols}")

        # ---- python reference: minhash banding (16 bands x 4 rows)
        want = set()
        for b in range(16):
            buckets: dict = {}
            for k in range(n):
                key = tuple(sig[k, 4 * b : 4 * b + 4])
                buckets.setdefault(key, []).append(int(ids[k]))
            for members in buckets.values():
                members = sorted(members)[:MAX_BLOCK_SIZE]
                for x in range(len(members)):
                    for y in range(x + 1, len(members)):
                        want.add((members[x], members[y]))
        got = {
            (r["id_a"], r["id_b"])
            for r in D.minhash_pairs_from_sigs(sigs_df).collect()
        }
        assert got == want, f"minhash seed {seed}"

        # ---- python reference: simhash banding (9 bands x 7 bits, mh=8)
        sh = rng.integers(-(2**62), 2**62, size=n, dtype=np.int64)
        sh[:100] = sh[0]
        sh_df = spark.createDataFrame(
            [(int(i), int(s)) for i, s in zip(ids, sh)], "id bigint, simhash bigint"
        )
        want_s = set()
        for b in range(9):
            buckets = {}
            for k in range(n):
                key = (int(sh[k]) >> (b * 7)) & 127
                buckets.setdefault(key, []).append((int(ids[k]), int(sh[k])))
            for members in buckets.values():
                members = sorted(members)[:MAX_BLOCK_SIZE]
                for x in range(len(members)):
                    for y in range(x + 1, len(members)):
                        ham = bin((members[x][1] ^ members[y][1]) & (2**64 - 1)).count("1")
                        if ham <= 8:
                            want_s.add((members[x][0], members[y][0], ham))
        got_s = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in D.simhash_near_pairs(sh_df, max_hamming=8).collect()
        }
        assert got_s == want_s, f"simhash seed {seed}"


def test_hyperplane_zero_vector_tie_bits(spark):
    """Quantized-sum tie semantics: a zero vector has every plane sum
    exactly 0, and `sum >= 0` must set the bit in BOTH implementations —
    all-ones bucket in every table, identically (the sign decision at
    exactly zero is part of the frozen contract; integer sums make it
    reachable deterministically)."""
    df = spark.createDataFrame(
        [(1, [0.0] * 64), (2, [0.0] * 64)], "vec_id bigint, embedding array<double>"
    )
    n_planes, n_tables = 4, 3
    fast = {
        (r["id"], r["tbl"]): r["bucket"]
        for r in S.hyperplane_buckets(df, "vec_id", "embedding", 64, n_planes, n_tables).collect()
    }
    all_ones = (1 << n_planes) - 1
    assert fast == {(i, t): all_ones for i in (1, 2) for t in range(n_tables)}
    v = S.as_double(F.col("embedding"))
    spec = df.select(
        "vec_id", *[S.hyperplane_signature_col(v, 64, n_planes, seed=42 + t).alias(f"b{t}")
                    for t in range(n_tables)]
    ).collect()
    for r in spec:
        for t in range(n_tables):
            assert r[f"b{t}"] == all_ones


def test_hyperplane_signs_fixture_matches_engine(spark):
    """The ann_lsh oracle's committed sign table
    (tests/fixtures/data/hyperplane_signs.parquet, fixtures/gen_sigs.py)
    must agree with the ENGINE's own sign convention — recomputed here
    THROUGH hyperplane_buckets itself, not by restating the parity
    expression: for the one-hot basis vector e_pos, plane (t, p)'s signed
    sum is exactly sgn(t, p, pos) * 1e6, so bucket bit p is set iff
    sgn = +1. Any future seed/parity/type change in similarity.py that is
    not regenerated into the fixture fails HERE instead of as an opaque
    driver-time oracle mismatch."""
    import pandas as pd

    signs = pd.read_parquet("tests/fixtures/data/hyperplane_signs.parquet")
    n_tables = int(signs.tbl.max()) + 1
    n_planes = int(signs.plane.max()) + 1
    dim = int(signs.pos.max()) + 1
    assert (n_tables, n_planes, dim) == (8, 4, 64)

    basis = [
        (pos, [1.0 if i == pos else 0.0 for i in range(dim)])
        for pos in range(dim)
    ]
    df = spark.createDataFrame(basis, "vec_id bigint, embedding array<double>")
    buckets = {
        (r["id"], r["tbl"]): r["bucket"]
        for r in S.hyperplane_buckets(
            df, "vec_id", "embedding", dim, n_planes, n_tables
        ).collect()
    }
    want = {
        (int(r.pos), int(r.tbl), int(r.plane)): int(r.sgn)
        for r in signs.itertuples()
    }
    for pos in range(dim):
        for t in range(n_tables):
            b = buckets[(pos, t)]
            for p in range(n_planes):
                engine_sgn = 1 if (b >> p) & 1 else -1
                assert engine_sgn == want[(pos, t, p)], (pos, t, p)


def test_er_minhash_distinct_shapes_identical(spark):
    """Round-6 AQE-starvation fix: minhash_signatures dedups surfaces via
    explicit repartition(n, col) + dropDuplicates (one exchange, parallel)
    instead of .distinct() (whose small shuffle output AQE coalesces to ONE
    partition, single-threading the gram explode + 64-hash stage). Inputs
    WITH duplicate surfaces exercise the dedup itself."""
    from nary_relation_extraction_decomposed_spark.operators.er import (
        minhash_signatures,
    )

    surfaces = spark.createDataFrame(
        [("acme corp",), ("acme corp",), ("acme corporation",),
         ("zz unrelated",), ("a b c",), ("a b c",)],
        "surface_norm string",
    )
    got = [r["surface_norm"] for r in minhash_signatures(surfaces).collect()]
    assert sorted(got) == ["a b c", "acme corp", "acme corporation",
                           "zz unrelated"]  # duplicates deduped

    # exactly ONE exchange: the explicit repartition clusters by
    # surface_norm, so neither the dedup nor the 64-min aggregate
    # re-shuffles (a fresh, unexecuted frame: an executed adaptive plan
    # prints its initial and final plans both)
    plan = minhash_signatures(surfaces)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_word_ngrams_col_binds_tokens_once(spark):
    """word_ngrams_col runs its token regex once per text: the lambda
    reads the tokens through an outer lambda variable (a lambda that
    referenced the regexp_extract_all column itself would rerun it once
    per token, quadratic in the text length). Values match a Python
    reference for texts shorter than, equal to and longer than n, and NULL."""
    import re

    n = 3
    col = D.word_ngrams_col(F.col("text"), n)
    assert str(col).count("regexp_extract_all") == 1, str(col)

    def ref(text):
        if text is None:
            return []
        toks = re.findall("[a-z0-9]+", text.lower())
        return sorted({" ".join(toks[i:i + n])
                       for i in range(len(toks) - n + 1)})

    words = [f"W{i % 7}" for i in range(60)]
    texts = [None, "", "one", "one two", "One two, three!",
             " ".join(words), " ".join(words[:4] + words[:4])]
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    got = {r.id: list(r.g) for r in df.select("id", col.alias("g")).collect()}
    assert got == {i: ref(t) for i, t in enumerate(texts)}


def test_widen_if_narrow_probe_vs_exchange_dispatch(spark):
    """_widen_if_narrow must (a) widen a narrow exchange-free input via the
    partition-count probe, (b) leave an already-wide exchange-free input
    untouched, (c) repartition an exchange-bearing chain WITHOUT probing
    getNumPartitions (under AQE the probe would materialize every
    upstream stage), and (d, e) trust only a topmost REPARTITION_BY_NUM
    exchange on the key. Values are never changed."""
    nparts = spark.sparkContext.defaultParallelism
    em = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id")

    # (a) narrow scan chain -> widened by key
    narrow = S._widen_if_narrow(em.coalesce(1), "vec_id")
    assert narrow.rdd.getNumPartitions() == nparts

    # (b) already-wide exchange-free input -> returned as-is (same plan id)
    wide = em.repartition(nparts, F.col("vec_id")).localCheckpoint()
    assert S._widen_if_narrow(wide, "vec_id") is wide

    # (c) exchange-bearing chain -> unconditional keyed repartition on top
    shuffled = em.groupBy("vec_id").count()
    out = S._widen_if_narrow(shuffled, "vec_id")
    assert out is not shuffled
    plan = out._jdf.queryExecution().sparkPlan().toString()
    # the keyed repartition satisfies the aggregate's distribution
    # requirement, so Catalyst plans ONE collapsed exchange (not two) —
    # the explicit repartition costs nothing here, it replaces the
    # groupBy's own shuffle with an AQE-coalesce-exempt one
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    assert sorted(r["vec_id"] for r in out.collect()) == sorted(
        r["vec_id"] for r in shuffled.collect()
    )

    # (d) a keyed repartition WITHOUT a count (REPARTITION_BY_COL) is not
    # a width guarantee — AQE may coalesce it — and (e) an orderBy above a
    # wide repartition(n, key) is range-partitioned on top: the topmost
    # exchange decides, so both come back with a keyed REPARTITION_BY_NUM
    want = sorted(r["vec_id"] for r in em.collect())
    for df in (
        em.repartition(F.col("vec_id")),
        em.repartition(nparts, "vec_id").orderBy("vec_id"),
    ):
        out = S._widen_if_narrow(df, "vec_id")
        assert out is not df
        plan = out._jdf.queryExecution().executedPlan().toString()
        top = next(line for line in plan.splitlines() if "Exchange" in line)
        assert "hashpartitioning(vec_id" in top, plan
        assert f", {nparts}), REPARTITION_BY_NUM" in top, plan
        assert sorted(r["vec_id"] for r in out.collect()) == want


def test_hyperplane_buckets_input_partitioning_invariant(spark):
    """Round-6: hyperplane_buckets repartitions under-partitioned inputs
    before the posexplode+agg stage (a single-split parquet scan would
    otherwise run the whole signature computation on one core). Buckets
    must be identical from a 1-partition and a many-partition copy of the
    same input — guaranteed by integer micro-unit sums (exact under any
    accumulation order), asserted here."""
    em = spark.read.parquet(f"{SF}/embeddings.parquet").limit(120)

    def buckets(df):
        return {
            (r["id"], r["tbl"], r["bucket"])
            for r in S.hyperplane_buckets(
                df, "vec_id", "embedding", 64, 4, 8
            ).collect()
        }

    one = buckets(em.coalesce(1))
    many = buckets(em.repartition(8, F.col("vec_id")))
    assert one == many and one


def test_assign_nearest_input_partitioning_invariant(spark):
    """Same invariance for the IVF assignment path: _assign_nearest
    repartitions an under-partitioned vecs side; the (id -> cid) assignment
    must not depend on input partitioning (per-row rounded cosine +
    deterministic cid tie-break)."""
    from pyspark.sql.window import Window

    em = spark.read.parquet(f"{SF}/embeddings.parquet").limit(120)
    vecs = em.select(
        F.col("vec_id").alias("id"), S.as_double(F.col("embedding")).alias("vec")
    )
    cent = (
        vecs.orderBy("id").limit(4)
        .select(
            (F.row_number().over(Window.orderBy("id")) - 1).cast("int").alias("cid"),
            F.col("vec").alias("c_vec"),
        )
    )

    def assign(df):
        return {
            (r["id"], r["cid"]) for r in S._assign_nearest(df, cent).collect()
        }

    assert assign(vecs.coalesce(1)) == assign(vecs.repartition(8, F.col("id")))


def test_ann_lsh_end_to_end_partitioning_invariant(spark):
    """End-to-end twin of the buckets test: the FULL ann_topk_lsh result
    (ids, cosine, rank) must be identical from a 1-partition and a
    many-partition copy of the same corpus — pins the whole chain
    (buckets -> candidate dedup -> explicit q_id repartition -> rounded
    cosine -> deterministic-tie top-k window) against partitioning."""
    em = spark.read.parquet(f"{SF}/embeddings.parquet").limit(150)

    def run(df):
        return {
            (r["q_id"], r["n_id"], r["cosine"], r["rank"])
            for r in S.ann_topk_lsh(df, df, k=3).collect()
        }

    one = run(em.coalesce(1))
    many = run(em.repartition(8, F.col("vec_id")))
    assert one == many and one


def _band_pairs_reference(banded) -> set:
    """Python sort / truncate-to-MAX_BLOCK_SIZE / pair step over
    (member, band, bucket) rows."""
    buckets: dict = {}
    for m, band, bucket in banded:
        buckets.setdefault((band, bucket), []).append(m)
    out = set()
    for members in buckets.values():
        members = sorted(members)[: D.MAX_BLOCK_SIZE]
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                out.add((members[x], members[y]))
    return out


def _er_spec_pairs(sigs, col: str) -> set:
    """ER candidate pairs from the spec twin: explode(lsh_band_hashes_col)
    over the signature array, then the Python bucket step."""
    from nary_relation_extraction_decomposed_spark.functions.hashing import (
        lsh_band_hashes_col,
    )

    sig = F.array(*[F.col(f"h{i}") for i in range(64)])
    banded = sigs.select(
        F.col(col).alias("m"), F.explode(lsh_band_hashes_col(sig)).alias("bb")
    ).select("m", "bb.band", "bb.bucket")
    return _band_pairs_reference(tuple(r) for r in banded.collect())


def test_er_signatures_and_pairs_match_spec_twins(spark, fixture_dir):
    """The rows-only `minhash_sig` and `lsh_blocks` oracle queries run the
    interpreted spec twins in functions/hashing.py; ER runs the shared
    codegen'd MinHash aggregation and dedup's banding. Pinned by value: the
    64 wide values of er.minhash_signatures equal
    minhash_signature_col(shingles_col(surface)) element for element, and
    er.lsh_candidate_pairs equals the pairs of the spec twin's buckets —
    on the fixture gazetteer surfaces, on the hot-bucket input of
    test_er_hot_bucket_truncates_not_drops and on seeded random signatures
    with an over-cap identical cluster."""
    import numpy as np

    from nary_relation_extraction_decomposed_spark.functions.hashing import (
        minhash_signature_col,
    )
    from nary_relation_extraction_decomposed_spark.functions.textnorm import (
        shingles_col,
    )
    from nary_relation_extraction_decomposed_spark.operators.er import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    gaz = spark.read.parquet(f"{fixture_dir}/gazetteer.parquet").select(
        "surface_norm"
    )
    hot = ["abc" * k for k in range(2, 2 + D.MAX_BLOCK_SIZE + 16)]
    hot_df = spark.createDataFrame(
        [(s,) for s in hot + ["acme corporation", "acme corporations"]],
        "surface_norm string",
    )
    for surfaces in (gaz, hot_df):
        sigs = minhash_signatures(surfaces)
        spec = {
            r["surface_norm"]: r["sig"]
            for r in surfaces.distinct().select(
                "surface_norm",
                minhash_signature_col(shingles_col(F.col("surface_norm"))).alias("sig"),
            ).collect()
        }
        wide = {r["surface_norm"]: [r[f"h{i}"] for i in range(64)]
                for r in sigs.collect()}
        assert wide == spec
        got = {(r["a"], r["b"]) for r in lsh_candidate_pairs(sigs).collect()}
        assert got and got == _er_spec_pairs(sigs, "surface_norm")

    rng = np.random.default_rng(2)
    sig = rng.integers(0, 3, size=(240, 64)).astype(np.int64)
    sig[:100] = sig[0]
    cols = ", ".join(f"h{j} bigint" for j in range(64))
    sigs = spark.createDataFrame(
        [(k, *map(int, sig[k])) for k in range(240)], f"id bigint, {cols}"
    )
    got = {(r["a"], r["b"]) for r in lsh_candidate_pairs(sigs, "id").collect()}
    assert got == _er_spec_pairs(sigs, "id")


def test_er_layers_called_through_module_globals(spark, monkeypatch):
    """canonical_map reaches its layers through er's module globals, so a
    wrapper patched onto each (as a traced benchmark run does) sees exactly
    one call per canonical_map."""
    from nary_relation_extraction_decomposed_spark.operators import er

    calls = {}

    def counting(name):
        orig = getattr(er, name)

        def wrapper(*args, **kwargs):
            calls[name] = calls.get(name, 0) + 1
            return orig(*args, **kwargs)

        monkeypatch.setattr(er, name, wrapper)

    names = ("minhash_signatures", "lsh_candidate_pairs", "connected_components")
    for name in names:
        counting(name)
    surfaces = spark.createDataFrame(
        [("acme corporation",), ("acme corporations",), ("zz unrelated",)],
        "surface_norm string",
    )
    canon = {r["surface_norm"]: r["canonical"]
             for r in er.canonical_map(surfaces).collect()}
    assert canon["acme corporations"] == "acme corporation"
    assert calls == dict.fromkeys(names, 1)
