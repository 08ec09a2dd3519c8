"""Similarity search vs DuckDB oracle + ANN recall sanity."""

from __future__ import annotations

import pytest

from .oracle import assert_matches_oracle

SIM = [
    "cosine_topk",
    "ivf_assignments",
    "ivf_topk",
    "embedding_near_duplicates",
    "lsh_codes",
    "lsh_topk",
    "semantic_search",
    "ivf_topk_indexed",
    "lsh_topk_indexed",
]


@pytest.mark.parametrize("name", SIM)
def test_matches_oracle(spark, sf_correct, name):
    import __spark_entry__ as entrymod

    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    assert_matches_oracle(q(spark, sf_correct), sql, sf_correct)


# every top-k entry point that reranks by exact cosine against a query id
RERANK_ENTRY_POINTS = [
    "cosine_topk",
    "ivf_topk",
    "lsh_topk",
    "ivf_topk_trained",
    "semantic_search",
    "ivf_topk_indexed",
    "lsh_topk_indexed",
]


@pytest.mark.parametrize("name", RERANK_ENTRY_POINTS)
def test_absent_query_id_is_empty_with_normal_schema(spark, sf_smoke, name):
    """A query id that is not in the table yields an empty result with
    the schema a present id gets, never an exception."""
    from bigdata_infra_cs489_spark.operators import similarity as S
    from bigdata_infra_cs489_spark.operators import vector_index as VI

    fn = getattr(VI if name.endswith("_indexed") else S, name)
    absent = fn(spark, sf_smoke, query_vec_id=10**9)
    assert absent.collect() == []

    def shape(df):
        return [(f.name, f.dataType) for f in df.schema.fields]

    assert shape(absent) == shape(fn(spark, sf_smoke))


def test_query_vector_ranks_first(spark, sf_correct):
    from bigdata_infra_cs489_spark.operators.similarity import QUERY_VEC_ID, cosine_topk

    rows = cosine_topk(spark, sf_correct).collect()
    assert rows[0].vec_id == QUERY_VEC_ID
    assert rows[0].cosine == pytest.approx(1.0, abs=1e-6)
    cosines = [r.cosine for r in rows]
    assert cosines == sorted(cosines, reverse=True)


def test_ivf_recall_vs_bruteforce(spark, sf_correct):
    """IVF with nprobe=2 of 16 centroids should still recover most of the
    true top-10 (sanity bound, not a tight guarantee)."""
    from bigdata_infra_cs489_spark.operators.similarity import cosine_topk, ivf_topk

    exact = {r.vec_id for r in cosine_topk(spark, sf_correct).collect()}
    approx = {r.vec_id for r in ivf_topk(spark, sf_correct).collect()}
    assert len(exact & approx) >= 3


def test_lsh_recall_and_pruning(spark, sf_correct):
    """Banded sign-LSH must actually prune (candidate set well under the
    corpus) while recovering a usable share of the true top-10. Random
    fixtures have no cluster structure, so the recall floor is loose."""
    from pyspark.sql import functions as F

    from bigdata_infra_cs489_spark.operators import similarity as S

    exact = {r.vec_id for r in S.cosine_topk(spark, sf_correct).collect()}
    approx = {r.vec_id for r in S.lsh_topk(spark, sf_correct).collect()}
    assert len(exact & approx) >= 3

    total = S._emb(spark, sf_correct).count()
    codes = S.lsh_codes(spark, sf_correct)
    n_codes = codes.select("code").distinct().count()
    assert n_codes > total * 0.5  # codes spread, not collapsed

    # candidate fraction: vectors sharing >=1 band with the query
    bands = S.lsh_bands(codes)
    qb = bands.where(F.col("vec_id") == S.QUERY_VEC_ID).select(
        "band", "band_val"
    )
    n_cand = (
        bands.join(qb, ["band", "band_val"]).select("vec_id").distinct().count()
    )
    assert n_cand < total * 0.5


def test_near_duplicate_pairs_low_threshold_matches_oracle(spark, sf_correct):
    """The registered 0.9 threshold finds nothing in the random fixtures
    (0 == 0 is vacuous), so exercise the block-pair matmul kernel where it
    actually emits pairs: every pair >= 0.5 must match DuckDB exactly —
    including pairs whose two vec_ids land in the same block (upper-triangle
    path) and in different blocks (min/max path)."""
    from bigdata_infra_cs489_spark.operators.similarity import (
        cosine_near_duplicate_pairs,
    )

    got = cosine_near_duplicate_pairs(spark, sf_correct, threshold=0.5)
    assert got.count() > 0
    sql = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.5
    """
    assert_matches_oracle(got, sql, sf_correct)


def test_kmeans_matches_numpy_replay(spark, sf_correct):
    """Spherical k-means centroids match a NumPy replay of the same
    algorithm (deterministic init = first C unit vectors, argmax-cosine
    assignment with ties to the lowest centroid id, renormalized means)."""
    import numpy as np

    from bigdata_infra_cs489_spark.operators.similarity import kmeans_centroids

    C, ITERS = 8, 3
    got = {
        r["centroid_id"]: np.array(r["cvec"])
        for r in kmeans_centroids(spark, sf_correct, n_centroids=C, iterations=ITERS).collect()
    }

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_correct}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    E = np.array([r[1] for r in rows], dtype=np.float64)
    U = E / np.linalg.norm(E, axis=1, keepdims=True)
    cent = U[:C].copy()
    for _ in range(ITERS):
        sims = U @ cent.T
        assign = sims.argmax(axis=1)  # first max = lowest centroid id
        for c in range(C):
            members = U[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / np.linalg.norm(m)
    assert set(got) == set(range(C))
    for c in range(C):
        assert np.allclose(got[c], cent[c], atol=1e-6), f"centroid {c} diverged"


def test_kmeans_centroids_are_unit_vectors(spark, sf_correct):
    import numpy as np

    from bigdata_infra_cs489_spark.operators.similarity import kmeans_centroids

    for r in kmeans_centroids(spark, sf_correct, n_centroids=4, iterations=2).collect():
        assert abs(np.linalg.norm(np.array(r["cvec"])) - 1.0) < 1e-9


def test_trained_ivf_recall_vs_bruteforce(spark, sf_correct):
    """The kmeans-trained IVF probe must recover a usable share of the
    true top-10 (same loose bound as the static-centroid IVF)."""
    from bigdata_infra_cs489_spark.operators.similarity import (
        cosine_topk,
        ivf_topk_trained,
    )

    exact = {r.vec_id for r in cosine_topk(spark, sf_correct).collect()}
    approx = {r.vec_id for r in ivf_topk_trained(spark, sf_correct).collect()}
    assert len(exact & approx) >= 3
    cosines = [r.cosine for r in ivf_topk_trained(spark, sf_correct).collect()]
    assert cosines == sorted(cosines, reverse=True)


def test_pq_codes_match_numpy_replay(spark, sf_smoke):
    """PQ codes equal an independent NumPy argmin over the same
    deterministic sub-centroids (ties to lowest id)."""
    import numpy as np

    from bigdata_infra_cs489_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        _emb,
        pq_codes,
    )

    rows = sorted(
        _emb(spark, sf_smoke).collect(), key=lambda r: int(r["vec_id"])
    )
    mat = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    subc = np.stack(np.split(mat[:PQ_K], PQ_M, axis=1))  # (m, k, dsub)
    subs = np.stack(np.split(mat, PQ_M, axis=1))  # (m, n, dsub)
    want = {}
    for idx, r in enumerate(rows):
        codes = []
        for j in range(PQ_M):
            dists = ((subs[j][idx] - subc[j]) ** 2).sum(axis=1)
            codes.append(int(dists.argmin()))  # first-min = lowest id
        want[int(r["vec_id"])] = ",".join(map(str, codes))

    got = {
        r["vec_id"]: r["codes"] for r in pq_codes(spark, sf_smoke).collect()
    }
    assert got == want


def test_pq_topk_is_adc_over_codes(spark, sf_smoke):
    """pq_topk equals the NumPy ADC computation: per-subspace distance
    table lookups summed over each vector's codes, ascending, vec_id
    tie-break."""
    import numpy as np

    from bigdata_infra_cs489_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        QUERY_VEC_ID,
        TOP_K,
        _emb,
        pq_topk,
    )

    rows = sorted(
        _emb(spark, sf_smoke).collect(), key=lambda r: int(r["vec_id"])
    )
    mat = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    subc = np.stack(np.split(mat[:PQ_K], PQ_M, axis=1))
    subs = np.stack(np.split(mat, PQ_M, axis=1))
    qsub = np.stack(np.split(mat[QUERY_VEC_ID], PQ_M))
    scores = []
    for idx, r in enumerate(rows):
        ad = 0.0
        for j in range(PQ_M):
            dists = ((subs[j][idx] - subc[j]) ** 2).sum(axis=1)
            code = int(dists.argmin())
            ad += float(((qsub[j] - subc[j][code]) ** 2).sum())
        scores.append((round(ad, 6), int(r["vec_id"])))
    want = sorted(scores)[:TOP_K]
    got = [
        (r["approx_dist"], r["vec_id"])
        for r in pq_topk(spark, sf_smoke).collect()
    ]
    assert [(pytest.approx(a, abs=1e-6), v) for a, v in want] == got


def test_ivf_assignment_is_shuffle_free(spark, sf_smoke):
    """The literal-argmax assignment must plan as one narrow scan: no
    exchange of any kind (the old crossJoin+groupBy shape re-shuffled
    C x corpus rows)."""
    from bigdata_infra_cs489_spark.operators.similarity import ivf_assignments

    plan = (
        ivf_assignments(spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_cluster_balanced_sample_invariants(spark, sf_smoke):
    """Equal-mass rebalance: the smallest cluster is kept whole
    (keep_ppm == 1e6), every kept row's membership matches the portable
    hash rule, and kept counts can't exceed cluster sizes."""
    from collections import Counter

    import hashlib

    from bigdata_infra_cs489_spark.operators.similarity import (
        CB_SAMPLE_SALT,
        _CB_PPM,
        cluster_balanced_sample,
        ivf_assignments,
    )

    def py_h8(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    sizes = Counter(
        r.centroid_id for r in ivf_assignments(spark, sf_smoke).collect()
    )
    mn = min(sizes.values())
    kept = cluster_balanced_sample(spark, sf_smoke).collect()
    kept_by_cluster = Counter(r.centroid_id for r in kept)
    for cid, n in sizes.items():
        ppm = mn * _CB_PPM // n
        expect = sum(
            1
            for r in kept
            if r.centroid_id == cid
        )
        assert expect <= n
        if n == mn:
            assert kept_by_cluster[cid] == n  # smallest cluster kept whole
    for r in kept:
        ppm = mn * _CB_PPM // sizes[r.centroid_id]
        assert py_h8(f"{r.vec_id}{CB_SAMPLE_SALT}") % _CB_PPM < ppm


def test_semantic_dedup_keep_best_invariants(spark, sf_correct):
    """One kept representative per cosine-closure group; group sizes sum
    to the corpus; the kept member minimizes (rounded centroid cosine,
    vec_id) within its group — checked against a Python union-find over
    the oracle-green pair list."""
    from bigdata_infra_cs489_spark.operators.similarity import (
        cosine_near_duplicate_pairs,
        semantic_dedup_keep_best,
    )

    # the registered 0.9 threshold is vacuous on the random fixtures (no
    # pairs — same note as the block-pair kernel test above), so exercise
    # the group semantics at 0.5 where pairs exist; pair_mode='exact'
    # because the union-find reference below is built from the EXACT
    # pair list (the scoped default's low-threshold divergence from it
    # is pinned separately in test_semantic_dedup_scoped_*)
    pairs = [
        (r.vec_a, r.vec_b)
        for r in cosine_near_duplicate_pairs(spark, sf_correct, threshold=0.5).collect()
    ]
    kept = semantic_dedup_keep_best(
        spark, sf_correct, threshold=0.5, pair_mode="exact"
    ).collect()
    n_vecs = spark.read.parquet(f"{sf_correct}/embeddings.parquet").count()
    assert sum(r.group_size for r in kept) == n_vecs
    assert len({r.cluster_id for r in kept}) == len(kept)

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for r in kept:
        groups[r.cluster_id] = r
    sizes = {}
    for v in range(n_vecs):
        sizes[find(v)] = sizes.get(find(v), 0) + 1
    assert {find(v) for v in range(n_vecs)} == set(groups)
    for root, n in sizes.items():
        assert groups[root].group_size == n
    assert any(r.group_size > 1 for r in kept)  # fixture has semantic dups


def test_chunk_embed_topk_contract(spark, sf_smoke):
    """RAG pipeline sanity: k results, cosine within [-1, 1], descending
    with deterministic tie-break, and the embed is reproducible (two
    plans, identical rows)."""
    from bigdata_infra_cs489_spark.operators.similarity import (
        RAG_TOP_K,
        chunk_embed_topk,
    )

    a = chunk_embed_topk(spark, sf_smoke).collect()
    b = chunk_embed_topk(spark, sf_smoke).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) == RAG_TOP_K
    cos = [r.cosine for r in a]
    assert cos == sorted(cos, reverse=True)
    assert all(-1.0 <= c <= 1.0 for c in cos)


def _synthetic_neardup_emb(spark, n_base=40, n_dups=12, dim=8, n_centroids=8):
    """(emb_df, cents): deterministic random-ish base vectors plus
    near-identical copies (one tiny component perturbation), so the
    cosine >= 0.9 pair graph has real multi-member groups and every
    near-dup shares its original's nearest centroid (copies sit far from
    any Voronoi boundary by construction)."""
    import hashlib

    def vec(i):
        return [
            (int(hashlib.md5(f"sdv-{i}-{j}".encode()).hexdigest()[:8], 16) % 1000)
            / 1000.0
            - 0.5
            for j in range(dim)
        ]

    rows = [(i, vec(i)) for i in range(n_base)]
    for d in range(n_dups):
        src = d % n_base
        v = list(rows[src][1])
        v[0] += 1e-4  # near-identical: cosine ~ 1 - eps
        rows.append((n_base + d, v))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = [(i, rows[i][1]) for i in range(n_centroids)]
    return emb, cents


def test_semantic_dedup_scoped_matches_exact_on_neardup_fixture(spark):
    """The scoped (default) pair stage keeps the IDENTICAL set as the
    exact block-grid twin on a fixture with real near-dup groups — the
    repeated_spans_fp pinning playbook for the SemDeDup candidate path."""
    from bigdata_infra_cs489_spark.operators.similarity import (
        semantic_dedup_keep_best_core,
    )

    emb, cents = _synthetic_neardup_emb(spark)
    scoped = semantic_dedup_keep_best_core(emb, cents, pair_mode="scoped")
    exact = semantic_dedup_keep_best_core(emb, cents, pair_mode="exact")
    srows = sorted(tuple(r) for r in scoped.collect())
    erows = sorted(tuple(r) for r in exact.collect())
    assert srows == erows
    assert any(r[4] > 1 for r in srows)  # real multi-member groups


def test_semantic_dedup_scoped_pairs_are_within_centroid(spark, sf_correct):
    """The scoped candidate set is a SUBSET of the exact pair set, and
    every scoped pair shares a nearest centroid — the documented
    approximation regime: at low thresholds on the random fixture the
    exact scan finds cross-centroid pairs the scoped stage (per the
    SemDeDup paper's within-cluster discipline) deliberately skips."""
    from pyspark.sql import functions as F

    from bigdata_infra_cs489_spark.operators import similarity as S

    emb = S._emb(spark, sf_correct)
    cents = S._centroid_rows(spark, sf_correct, S.N_CENTROIDS)
    scoped = {
        (r.vec_a, r.vec_b)
        for r in S.scoped_near_duplicate_pairs(emb, cents, threshold=0.5).collect()
    }
    exact = {
        (r.vec_a, r.vec_b)
        for r in S.cosine_near_duplicate_pairs(spark, sf_correct, threshold=0.5).collect()
    }
    assert scoped <= exact
    asg = {
        r.vec_id: r.cid
        for r in emb.select(
            "vec_id", S._nearest_centroid_col(cents).alias("cid")
        ).collect()
    }
    for a, b in scoped:
        assert asg[a] == asg[b]
    # every exact pair the scoped stage skipped straddles centroids
    for a, b in exact - scoped:
        assert asg[a] != asg[b]


def test_standing_kmeans_matches_inline(spark, sf_correct):
    """The standing trained quantizer must equal the inline k-means
    output exactly (the centroid doubles are driver-computed and parquet
    round-trips them bit-exactly), so a missed KMEANS_MODEL_VERSION bump
    after a trainer-affecting change fails here before any oracle row
    does."""
    from bigdata_infra_cs489_spark.operators.similarity import (
        kmeans_centroids,
        standing_kmeans_centroids,
    )

    inline = sorted(
        (int(r["centroid_id"]), tuple(r["cvec"]))
        for r in kmeans_centroids(spark, sf_correct).collect()
    )
    asset = sorted(
        (int(r["centroid_id"]), tuple(r["cvec"]))
        for r in standing_kmeans_centroids(spark, sf_correct).collect()
    )
    assert len(inline) > 0
    assert asset == inline


def test_trained_ivf_rides_standing_model(spark, sf_smoke):
    """Once the trained-quantizer asset exists, the norms card must
    PROBE it (a kmeansmodel_v* parquet scan); ivf_topk_trained reads the
    same asset eagerly at plan-build time (its centroid literals), so
    the on-disk _SUCCESS gate plus the asset==inline test pin that
    path."""
    import os

    import __spark_entry__ as entrymod

    from bigdata_infra_cs489_spark.operators.similarity import (
        kmeans_model_path,
        standing_kmeans_centroids,
    )
    from bigdata_infra_cs489_spark.operators.similarity import N_CENTROIDS

    standing_kmeans_centroids(spark, sf_smoke).count()  # ensure built
    sub = os.path.join(kmeans_model_path(sf_smoke, N_CENTROIDS, 3), "centroids")
    assert os.path.exists(os.path.join(sub, "_SUCCESS"))
    files = entrymod.queries()["ivf_centroid_norms"](spark, sf_smoke).inputFiles()
    assert any("kmeansmodel_v" in f for f in files), (
        f"ivf_centroid_norms does not probe the model table: {files}"
    )


def test_dlit_nonfinite_parses_to_the_ieee_value(spark):
    """Round-15 advisory: repr() of non-finite doubles ('nan'/'inf') is
    not a SQL literal — _dlit must emit the CAST spelling so a NaN/Inf
    model value still builds the column F.lit() used to produce."""
    import math

    from pyspark.sql import functions as F

    from bigdata_infra_cs489_spark.operators.similarity import _dlit

    row = spark.range(1).select(
        F.expr(_dlit(float("nan"))).alias("n"),
        F.expr(_dlit(float("inf"))).alias("p"),
        F.expr(_dlit(float("-inf"))).alias("m"),
        F.expr(_dlit(0.30000000000000004)).alias("f"),
        F.expr(_dlit(None)).alias("z"),
    ).collect()[0]
    assert row.z is None
    assert math.isnan(row.n)
    assert row.p == float("inf")
    assert row.m == float("-inf")
    assert row.f == 0.30000000000000004


def test_subc_from_rows_filters_by_id_not_position(spark):
    """Round-15 advisory: the tensor must take vec_id < k (the old
    DataFrame filter), so an id gap may not let id >= k slip in."""
    import numpy as np

    from bigdata_infra_cs489_spark.operators.similarity import _subc_from_rows

    k, m, dim = 4, 2, 4
    # ids 0,1,3 < k plus a gap; id 7 >= k must be excluded even though
    # positionally rows[:4] would include it
    rows = [
        (0, [0.0] * dim),
        (1, [1.0] * dim),
        (3, [3.0] * dim),
        (7, [7.0] * dim),
    ]
    t = _subc_from_rows(rows, m, k)
    assert t.shape == (m, 3, dim // m)
    assert 7.0 not in np.asarray(t)


def test_rp_project_cols_rejects_column_objects(spark):
    """Round-15 advisory: the pre-r15 Column calling convention must
    fail loudly, not interpolate a repr into SQL."""
    import pytest
    from pyspark.sql import functions as F

    from bigdata_infra_cs489_spark.operators.similarity import rp_project_cols

    with pytest.raises(TypeError, match="SQL text"):
        rp_project_cols(F.col("embedding"))


def test_embed_expr_forms_match_column_forms(spark):
    """The r16 SQL-text embed builders must produce bit-identical
    vectors to the original Column builders (the _dlit parity
    discipline applied to _hash_embed/_int_embed)."""
    from pyspark.sql import functions as F

    from bigdata_infra_cs489_spark.operators.similarity import (
        _hash_embed,
        _hash_embed_expr,
        _int_embed,
        _int_embed_expr,
    )

    df = spark.createDataFrame(
        [("fast data table",), ("",), ("ünïcode tøkens",), ("a b c d e",)],
        "text string",
    )
    rows = df.select(
        _hash_embed(F.col("text")).alias("hc"),
        _hash_embed_expr("text").alias("hs"),
        _int_embed(F.col("text")).alias("ic"),
        _int_embed_expr("text").alias("is"),
    ).collect()
    for r in rows:
        assert r.hc == r.hs
        assert r.ic == r["is"]
