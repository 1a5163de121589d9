"""Pipeline-op tests added with the round-3 fixes: near-dup recall vs
brute force, ragged-dimension guard, empty-input laziness, short-document
shingle guard, and the IVF single-coarse-scan plan property.

Reference behavior basis: the reference repo has no ANN/dedup surface —
these ops are the training-data-pipeline extension; correctness is pinned
against exact brute-force recomputation (numpy / SQL), not the reference.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from json_schema_spark.pipeline import dedup, similarity


def _emb_df(spark, rows):
    data = [(int(i), [float(x) for x in v]) for i, v in rows]
    return spark.createDataFrame(data, "vec_id bigint, embedding array<float>")


def _planted_corpus(n_base=150, n_dups=25, dim=16, seed=7):
    """Random base vectors + planted near-dups at cosines 0.90..0.996."""
    rng = np.random.RandomState(seed)
    base = rng.normal(size=(n_base, dim))
    rows = [(i, base[i]) for i in range(n_base)]
    for j in range(n_dups):
        v = base[j]
        noise = rng.normal(size=dim)
        noise -= (noise @ v) / (v @ v) * v  # orthogonal component only
        t = 0.90 + 0.004 * j
        w = (v / np.linalg.norm(v) * t
             + noise / np.linalg.norm(noise) * math.sqrt(1.0 - t * t))
        rows.append((1000 + j, w * np.linalg.norm(v)))
    return rows


def _brute_force_pairs(rows, threshold, q=1000):
    """Exact near-dup pairs over the SAME quantization the operator uses
    (float32 round-trip, round(x*q) integers, double division)."""
    ids = [i for i, _ in rows]
    Q = np.round(np.array(
        [[float(np.float32(x)) for x in v] for _, v in rows]) * q)
    nrm = (Q * Q).sum(axis=1)
    expected = set()
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            cos = float(Q[a] @ Q[b]) / math.sqrt(nrm[a] * nrm[b])
            if cos >= threshold:
                ia, ib = sorted((ids[a], ids[b]))
                expected.add((ia, ib))
    return expected


def test_near_dup_recall_vs_brute_force(spark):
    """OR-amplified multi-band LSH must find ≥95% of true ≥0.9-cosine
    pairs (round-2 VERDICT: the single band found ~40%), and every
    emitted pair must be exactly above threshold (precision 1.0)."""
    rows = _planted_corpus()
    df = _emb_df(spark, rows)
    out = similarity.embedding_near_dups(df, threshold=0.9,
                                         bands=8, planes_per_band=6)
    got = {tuple(sorted((r.id_a, r.id_b))) for r in out.collect()}
    expected = _brute_force_pairs(rows, 0.9)
    assert len(expected) >= 20, "corpus must actually contain near-dups"
    assert got.issubset(expected), f"false positives: {got - expected}"
    recall = len(got & expected) / len(expected)
    assert recall >= 0.95, f"recall {recall:.3f} < 0.95 ({len(got)}/{len(expected)})"
    spark.catalog.clearCache()


def test_single_band_recall_is_why_we_amplify(spark):
    """The round-2 design (one 6-plane band) misses a large fraction of
    true pairs on the same corpus — pin that so the amplification isn't
    'simplified' away later."""
    rows = _planted_corpus()
    df = _emb_df(spark, rows)
    out = similarity.embedding_near_dups(df, threshold=0.9,
                                         bands=1, planes_per_band=6)
    got = {tuple(sorted((r.id_a, r.id_b))) for r in out.collect()}
    expected = _brute_force_pairs(rows, 0.9)
    assert len(got) < len(expected), "single band should demonstrably under-recall"
    spark.catalog.clearCache()


def test_ragged_dims_fail_loudly(spark):
    df = _emb_df(spark, [(1, [1.0] * 16), (2, [1.0] * 8), (3, [0.5] * 16)])
    with pytest.raises(Exception, match="embedding dim"):
        similarity.hyperplane_buckets(df, planes=4, dims=16).collect()
    with pytest.raises(Exception, match="embedding dim"):
        similarity.hyperplane_bands(df, bands=2, planes_per_band=3,
                                    dims=16).collect()


def test_empty_embeddings_are_lazily_empty(spark):
    df = _emb_df(spark, []).where(F.lit(False))
    assert similarity.hyperplane_buckets(df, planes=4).count() == 0
    assert similarity.hyperplane_bands(df, bands=2, planes_per_band=2).count() == 0
    assert similarity.embedding_near_dups(df).count() == 0


def test_short_docs_do_not_abort_shingle_pipelines(spark):
    """ADVICE r2 (high): docs with fewer than n tokens previously drove
    sequence(0, size-n) negative and slice(toks, 0, n) aborted the job.
    Short docs must instead contribute no shingles/signatures."""
    docs = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, ""),
         (4, "a longer document with plenty of tokens here")],
        "doc_id bigint, text string")
    sh = dedup.shingles(docs, n=3)
    ids = {r.doc_id for r in sh.select("doc_id").distinct().collect()}
    assert ids == {4}
    # every consumer of shingles() must survive a short-doc corpus
    assert dedup.jaccard_pairs(docs, n=3, threshold=0.1).count() == 0
    sigs = dedup.minhash_signatures(docs, n=3, num_hashes=4)
    assert {r.doc_id for r in sigs.collect()} == {4}
    sims = dedup.simhash(docs, n=3)
    assert {r.doc_id for r in sims.collect()} == {4}
    assert dedup.simhash_near_pairs(docs, max_hamming=8).count() == 0
    spark.catalog.clearCache()


def test_ivf_coarse_scan_runs_once(spark):
    """The coarse scoring pass (one row-local scorer UDF, no n×C cross
    join) feeds both sides of the candidate join on cid; it must be cached
    so it runs once, and no cross join may appear in the optimized plan
    (round-2 VERDICT measured the coarse scoring running twice)."""
    rows = _planted_corpus(n_base=80, n_dups=0)
    df = _emb_df(spark, rows)
    out = similarity.ivf_topk(df, k=3, n_centroids=16, nprobe=2)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    assert "Join Cross" not in plan, "coarse crossJoin escaped the cache"
    spark.catalog.clearCache()


def test_lsh_topk_multiband_improves_top1_recall(spark):
    """bands=4 must recover (nearly) all exact top-1 neighbors for the
    planted near-dup pairs; the single band misses a chunk of them. Run on
    the planted corpus where each planted vector's true top-1 is its
    source."""
    rows = _planted_corpus()
    df = _emb_df(spark, rows)
    # exact top-1 via cosine_topk (the repo's own exact baseline)
    top1 = {r.query_id: r.neighbor_id
            for r in similarity.cosine_topk(df, k=1).collect()}
    planted_qs = [1000 + j for j in range(25)]

    def recall(bands):
        got = {(r.query_id, r.neighbor_id)
               for r in similarity.lsh_topk(df, k=1, planes=6,
                                            bands=bands).collect()}
        hit = sum((q, top1[q]) in got for q in planted_qs)
        spark.catalog.clearCache()
        return hit / len(planted_qs)

    r4 = recall(4)
    r1 = recall(1)
    assert r4 >= 0.92, f"multi-band top-1 recall {r4:.2f}"
    assert r4 >= r1, (r4, r1)


class TestPrototypicality:
    def test_matches_python_reference(self, spark):
        # two tight clusters around orthogonal axes + one in-between
        # straggler; expectations come from a from-scratch Python replica
        # (md5 centroid sample, integer quantization, exact dots)
        import hashlib
        import math
        import random
        rng = random.Random(7)
        rows = []
        for i in range(20):                       # cluster A ~ +x
            rows.append((i, [1.0, rng.uniform(-0.05, 0.05)]))
        for i in range(20, 40):                   # cluster B ~ +y
            rows.append((i, [rng.uniform(-0.05, 0.05), 1.0]))
        rows.append((99, [0.6, 0.55]))            # in-between straggler
        rows = [(i, [float(np.float32(x)) for x in v]) for i, v in rows]

        def quant(v):
            return [int(math.floor(x * 1000 + 0.5)) if x >= 0
                    else int(math.ceil(x * 1000 - 0.5)) for x in v]

        qv = {i: quant(v) for i, v in rows}
        nrm = {i: sum(x * x for x in q) for i, q in qv.items()}
        r = {i: int(hashlib.md5(f"ivf_42_{i}".encode())
                    .hexdigest()[:15], 16) for i, _ in rows}
        sample = sorted(rows, key=lambda t: (r[t[0]], t[0]))[:2]
        cen = {ci + 1: (qv[i], nrm[i])
               for ci, (i, _) in enumerate(sorted(
                   sample, key=lambda t: (r[t[0]], t[0])))}
        best = {}
        for i, _ in rows:
            scored = []
            for cid, (cv, cn) in cen.items():
                dot = sum(a * b for a, b in zip(qv[i], cv))
                scored.append((dot / math.sqrt(nrm[i] * cn), -cid))
            ccos, ncid = max(scored)
            best[i] = (-ncid, ccos)
        exp_pr = {}
        for cid in cen:
            members = sorted([(i, p) for i, (c, p) in best.items()
                              if c == cid], key=lambda t: (-t[1], t[0]))
            n = len(members)
            for rk, (i, _) in enumerate(members):
                exp_pr[i] = rk / (n - 1) if n > 1 else 0.0

        df = spark.createDataFrame(rows,
                                   "vec_id bigint, embedding array<float>")
        out = {r2.vec_id: r2 for r2 in
               similarity.prototypicality(df, n_centroids=2).collect()}
        assert len(out) == 41
        for i, _ in rows:
            assert out[i].cid == best[i][0], i
            assert abs(out[i].proto - best[i][1]) < 1e-12, i
            assert out[i].pr == exp_pr[i], i

    def test_singleton_cluster_pr_zero(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
            "vec_id bigint, embedding array<float>")
        out = similarity.prototypicality(df, n_centroids=2).collect()
        assert all(r.pr == 0.0 for r in out)


def _crossjoin_assignments(base, cen, nprobe):
    """The pairwise formulation ``ivf_assignments`` replaced, kept as the
    reference: broadcast crossJoin of every vector with every centroid,
    ``_pair_cosine_udf`` per pair, ``max_by(cid, struct(ccos, -cid))``
    for the cell and a ``(ccos desc, cid)`` row_number for the probes →
    {id: (cid, ccos, [probe cids])}."""
    from pyspark.sql import Window

    pc = similarity._pair_cosine_udf()
    scored = (base.crossJoin(F.broadcast(cen))
              .withColumn("ccos", pc(F.col("qv"), F.col("cv"),
                                     F.col("nrm"), F.col("cn"))))
    best = (scored.groupBy("vec_id")
            .agg(F.max_by(F.struct("cid", "ccos"),
                          F.struct(F.col("ccos"), -F.col("cid"))).alias("b"))
            .collect())
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), "cid")
    probes = {}
    for r in (scored.withColumn("prank", F.row_number().over(w))
              .where(F.col("prank") <= nprobe).collect()):
        probes.setdefault(r["vec_id"], []).append((r["prank"], r["cid"]))
    return {r["vec_id"]: (r["b"]["cid"], r["b"]["ccos"],
                          [c for _, c in sorted(probes.get(r["vec_id"], []))])
            for r in best}


def _scorer_corpus(seed, n=40, dim=3):
    """Small-integer vectors (many exact cosine ties, e.g. orthogonal
    pairs), duplicated vectors, NULL vectors, NULL elements and zero
    vectors; the ids with the smallest md5('ivf_42_' || id) — the
    centroid sample — get a NULL vector, a zero vector, a NULL element
    and the same vector twice."""
    import hashlib

    rng = np.random.RandomState(seed)
    vecs = {i: [float(x) for x in rng.randint(-2, 3, dim) * 0.5]
            for i in range(n)}
    for i in rng.choice(n, 6, replace=False):
        vecs[int(i)] = vecs[int(rng.randint(n))]        # duplicates
    for i in rng.choice(n, 3, replace=False):
        vecs[int(i)] = None
    for i in rng.choice(n, 2, replace=False):
        vecs[int(i)] = [0.0] * dim
    by_hash = sorted(range(n), key=lambda i: int(hashlib.md5(
        f"ivf_42_{i}".encode()).hexdigest()[:15], 16))
    vecs[by_hash[0]] = None
    vecs[by_hash[1]] = [0.0] * dim
    vecs[by_hash[2]] = [1.0, None] + [0.5] * (dim - 2)
    vecs[by_hash[3]] = vecs[by_hash[4]] = [1.0, 1.0] + [0.0] * (dim - 2)
    return [(i, v) for i, v in vecs.items()]


def _sampled_centroids(base, n_centroids):
    """The pairwise path's centroid table: the md5 sample of the
    quantized corpus, numbered by a row_number over the sample."""
    from pyspark.sql import Window

    r = F.conv(F.substring(F.md5(F.concat(
        F.lit("ivf_42_"), F.col("vec_id").cast("string"))), 1, 15),
        16, 10).cast("bigint")
    return (base.withColumn("r", r).orderBy("r", "vec_id")
            .limit(n_centroids)
            .withColumn("cid", F.row_number().over(
                Window.orderBy("r", "vec_id")))
            .select("cid", F.col("qv").alias("cv"), F.col("nrm").alias("cn")))


@pytest.mark.parametrize("seed,n_centroids,nprobe,cells", [
    (1, 6, 3, None), (2, 8, 2, None), (3, 5, 9, None), (4, 6, 3, 3)])
def test_ivf_scorer_matches_crossjoin(spark, monkeypatch, seed,
                                      n_centroids, nprobe, cells):
    """Row-local scorer == crossJoin + max_by + row_number, for the md5
    sample (with NULL, zero and duplicated vectors among the centroids)
    and for a trained-style ``centroids=`` table with non-contiguous cids;
    ``cells`` shrinks the matmul chunk to a row at a time."""
    if cells is not None:
        monkeypatch.setattr(similarity, "_SCORE_CELLS", cells)
    df = spark.createDataFrame(_scorer_corpus(seed),
                               "vec_id bigint, embedding array<float>")
    base = similarity._quant_vecs(df, "vec_id", "embedding", 1000,
                                  "qv", "nrm")
    trained = spark.createDataFrame(
        [(7, [500, 500, 0], 500000), (3, [0, 0, 0], 0), (11, None, None),
         (5, [500, 500, 0], 500000), (2, [-500, 1000, 500], 1500000)],
        "cid int, cv array<bigint>, cn bigint")
    for cen_ref, kwargs in ((_sampled_centroids(base, n_centroids),
                             {}), (trained, {"centroids": trained})):
        cen, assign = similarity.ivf_assignments(
            df, n_centroids, nprobe=nprobe, **kwargs)
        got = {r["vec_id"]: (r["cid"], r["ccos"], list(r["probes"]))
               for r in assign.collect()}
        want = _crossjoin_assignments(base, cen_ref, nprobe)
        assert len(got) == len(want) == 40
        assert got == want, {i: (got[i], want[i]) for i in got
                             if got[i] != want.get(i)}
        assert cen == sorted(map(tuple, cen_ref.collect()))
        # the sample really holds the NULL, zero and duplicated centroids
        assert any(cv is None for _, cv, _ in cen)


def test_ivf_scorer_edge_inputs(spark):
    """An empty table gives an empty assignment (no error), and a
    centroid table with a duplicated cid is rejected."""
    empty = _emb_df(spark, [])
    cen, assign = similarity.ivf_assignments(empty, 4, nprobe=2)
    assert cen == [] and assign.count() == 0
    assert similarity.ivf_topk(empty, k=3, n_centroids=4).count() == 0
    dup = spark.createDataFrame([(1, [1, 0], 1), (1, [0, 1], 1)],
                                "cid int, cv array<bigint>, cn bigint")
    df = _emb_df(spark, [(1, [1.0, 0.0])])
    with pytest.raises(ValueError, match="unique"):
        similarity.ivf_assignments(df, centroids=dup)
    spark.catalog.clearCache()
