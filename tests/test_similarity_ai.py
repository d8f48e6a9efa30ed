"""Similarity-search and AI-function operator tests."""

import hashlib

import pytest
from pyspark.sql import functions as F

from apache_iceberg_lakehouse_workshop_spark.functions.ai import (
    ai_classify,
    ai_complete,
    ai_generate,
    ai_generate_file,
)
from apache_iceberg_lakehouse_workshop_spark.operators import similarity as SIM
from apache_iceberg_lakehouse_workshop_spark.tables import load_table


def vec_df(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),   # identical to 1
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
        (4, [0.9, 0.1, 0.0, 0.0]),   # close to 1
        (5, [-1.0, 0.0, 0.0, 0.0]),  # opposite
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )


def test_knn_bruteforce_ranks_identical_first(spark):
    df = vec_df(spark)
    out = SIM.knn_bruteforce(df, df.filter(F.col("vec_id") == 1), k=3)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.cand_id for r in rows] == [2, 4, 3]
    assert rows[0].cosine_sim == 1.0
    assert all(r.query_id == 1 for r in rows)


def test_knn_excludes_self(spark):
    df = vec_df(spark)
    out = SIM.knn_bruteforce(df, df, k=4)
    assert all(r.query_id != r.cand_id for r in out.collect())


def test_neardup_pairs_threshold(spark):
    pairs = SIM.embedding_neardup_pairs(vec_df(spark), threshold=0.999)
    assert {(p.vec_a, p.vec_b) for p in pairs.collect()} == {(1, 2)}
    # cosine(v1, v4) = 0.9/sqrt(0.82) ~= 0.9939 -> caught by a looser threshold
    loose = SIM.embedding_neardup_pairs(vec_df(spark), threshold=0.99)
    assert {(p.vec_a, p.vec_b) for p in loose.collect()} == {(1, 2), (1, 4), (2, 4)}


def test_lsh_recall_against_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = SIM.knn_bruteforce(emb, q, k=5)
    approx = SIM.knn_lsh(emb, q, k=5, dim=64, n_planes=4)
    e = {(r.query_id, r.cand_id) for r in exact.collect()}
    a = {(r.query_id, r.cand_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3  # 4-plane LSH on random vectors: partial recall expected
    # every LSH hit must carry the same similarity the exact scorer computes
    exact_sims = {(r.query_id, r.cand_id): r.cosine_sim for r in exact.collect()}
    for r in approx.collect():
        if (r.query_id, r.cand_id) in exact_sims:
            assert r.cosine_sim == pytest.approx(exact_sims[(r.query_id, r.cand_id)])


def test_ai_classify_closed_label_set(spark):
    df = spark.createDataFrame(
        [(1, "the table has rows"), (2, "stream stream table"), (3, "nothing relevant")],
        ["id", "text"],
    )
    out = df.select("id", ai_classify(F.col("text"), ["table", "stream"]).alias("label"))
    got = {r.id: r.label for r in out.collect()}
    assert got == {1: "table", 2: "stream", 3: "Unknown"}


def test_ai_complete_deterministic(spark):
    df = spark.createDataFrame([(1, "  hello world  ")], ["id", "p"])
    out = df.select(ai_complete(F.col("p")).alias("r")).collect()
    assert out[0].r == "echo[15]:HELLO WORLD"


def test_ai_generate_schema_coercion(spark):
    df = spark.createDataFrame([(1, "slow slow fast query runs")], ["id", "text"])
    g = ai_generate(
        F.col("text"),
        [("summary", "string"), ("n_words", "int"), ("sentiment", "string"), ("bogus", "string")],
    )
    row = df.select(g.alias("g")).select("g.*").collect()[0]
    assert row.summary == "slow slow fast query runs"
    assert row.n_words == 5
    assert row.sentiment == "negative"
    assert row.bogus is None  # unparseable field -> NULL, never an exception


def test_ai_generate_file_multimodal(spark, tmp_path):
    """AI2: LIST_FILES -> AI_GENERATE(prompt, file content) WITH SCHEMA —
    the full ai_generate.sql:5-23 pipeline shape on the mock backend."""
    import hashlib

    from apache_iceberg_lakehouse_workshop_spark.sources import list_files

    d = tmp_path / "manifests"
    d.mkdir()
    (d / "m1.pdf").write_bytes(b"%PDF-one")
    (d / "m2.pdf").write_bytes(b"%PDF-two-longer")
    (d / "notes.txt").write_bytes(b"skip me")

    files = list_files(spark, str(d)).filter(F.col("path").like("%.pdf"))
    out = files.select(
        "path",
        ai_generate_file(
            F.concat(F.lit("summarize fast fast doc "), F.col("path")),
            F.col("content"),
            [("content_bytes", "int"), ("digest", "string"), ("summary", "string")],
        ).alias("s"),
    # struct immediately flattened into columns, the reference's follow-up
    # view idiom (logistics_AI.sql:146-161)
    ).select("path", "s.content_bytes", "s.digest", "s.summary")

    rows = {r.path.split("/")[-1]: r for r in out.collect()}
    assert set(rows) == {"m1.pdf", "m2.pdf"}
    assert rows["m1.pdf"].content_bytes == 8
    assert rows["m1.pdf"].digest == hashlib.md5(b"%PDF-one").hexdigest()[:8]
    assert rows["m2.pdf"].content_bytes == 15
    assert rows["m1.pdf"].summary.startswith("summarize fast fast doc")


def test_ivf_recall_against_bruteforce(spark, sf_dir):
    """IVF-flat (sampled+refined centroids, nprobe cells) recalls most of
    the exact top-k on the driver's embeddings table."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(8)
    exact = SIM.knn_bruteforce(emb, queries, k=5)
    approx = SIM.knn_ivf(emb, queries, k=5, n_cells=8, nprobe=4)
    e = {(r.query_id, r.cand_id) for r in exact.collect()}
    a = {(r.query_id, r.cand_id) for r in approx.collect()}
    assert len(a & e) / len(e) >= 0.5  # recall floor; nprobe/n_cells tunable
    # same schema contract as the other knn variants
    assert approx.columns == ["query_id", "cand_id", "cosine_sim", "rank"]


def test_knn_arrow_bit_identical_to_sql_twin(spark, sf_dir):
    """knn_bruteforce_arrow (numpy C@Q.T, partial top-k) returns exactly the
    rows of the pure-SQL knn_bruteforce — same quantized-int arithmetic,
    same tie-breaking, same HALF_UP rounding. Guards the fast path against
    drift from its oracle-checked twin."""
    from apache_iceberg_lakehouse_workshop_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 6)
    a = sorted(map(tuple, SIM.knn_bruteforce(emb, q, k=4).collect()))
    b = sorted(map(tuple, SIM.knn_bruteforce_arrow(emb, q, k=4).collect()))
    assert a == b


def test_embedding_neardup_lsh_matches_allpairs_verifier(spark, sf_dir):
    """LSH-blocked embedding near-dup vs the all-pairs verifier on the
    seeded dup corpus: at threshold 0.99 the pair sets must be identical
    (exact duplicates collide in every hyperplane table), while the LSH
    plan never all-pairs joins."""
    from pyspark.sql import functions as F

    from apache_iceberg_lakehouse_workshop_spark.operators import similarity as SIM
    from apache_iceberg_lakehouse_workshop_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dup = emb.filter(F.col("vec_id") < 12).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionAll(dup)
    lsh = {
        (r.vec_a, r.vec_b, r.cosine_sim)
        for r in SIM.embedding_neardup_lsh(corpus, threshold=0.99).collect()
    }
    allp = {
        (r.vec_a, r.vec_b, r.cosine_sim)
        for r in SIM.embedding_neardup_pairs(corpus, threshold=0.99).collect()
    }
    assert lsh == allp and len(lsh) >= 12
    plan = SIM.embedding_neardup_lsh(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_pq_adc_properties_and_recall(spark, sf_dir):
    """knn_pq: (a) the ADC distance is the EXACT sum of per-subspace
    code distances (int64 end to end — verified against a hand rollup),
    (b) recall against exact brute force clears the PQ floor on the
    driver's embeddings, (c) schema/rank contract matches the family."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(8)
    approx = SIM.knn_pq(emb, queries, k=5, dim=64, m_sub=4, k_codes=16)
    rows = approx.collect()
    assert approx.columns == ["query_id", "cand_id", "approx_dist", "rank"]
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q_id, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        dists = [r.approx_dist for r in rs]
        assert dists == sorted(dists)          # ascending distance
        assert all(r.cand_id != q_id for r in rs)

    # Retrieval guarantee that matters for dedup pipelines: an exact
    # duplicate of the query shares its codes, so its ADC distance is the
    # GLOBAL minimum (the query's own argmin per subspace) — it must land
    # in the top-k. (Uniform random 64-dim vectors have no meaningful
    # neighbors — distance concentration — so a recall-vs-exact floor
    # would measure the data, not the operator.)
    from pyspark.sql import functions as F

    dup = queries.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    corpus2 = emb.select("vec_id", "embedding").unionAll(dup)
    out2 = SIM.knn_pq(corpus2, queries, k=5, dim=64, m_sub=4, k_codes=16)
    got2 = {}
    for r in out2.collect():
        got2.setdefault(r.query_id, []).append(r)
    for q_id, rs in got2.items():
        cands = {r.cand_id for r in rs}
        assert q_id + 100000 in cands, f"exact dup of {q_id} missed"
        best = min(r.approx_dist for r in rs)
        dup_dist = next(r.approx_dist for r in rs if r.cand_id == q_id + 100000)
        assert dup_dist == best

    # ADC exactness: recompute one query's distances by hand from the
    # codebook + codes and compare

    book = SIM.pq_codebook(emb, dim=64, m_sub=4, k_codes=16)
    cb = {(r.m, r.code): r.cv for r in book.collect()}
    q0 = by_q[min(by_q)][0].query_id
    qv = [
        int(round(x * 1000))
        for x in emb.filter(F.col("vec_id") == q0).first().embedding
    ]
    import apache_iceberg_lakehouse_workshop_spark.operators.similarity as S

    v = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        S.quantized(F.col("embedding")).alias("qv"),
    )
    codes = {
        (r.cand_id, r.m): r.code
        for r in S._pq_encode_arrow(v, book, "cand_id", 4, 16).collect()
    }
    for r in by_q[q0]:
        want = 0
        for m in range(4):
            cv = cb[(m, codes[(r.cand_id, m)])]
            qs = qv[m * 16 : (m + 1) * 16]
            want += sum((a_ - b_) ** 2 for a_, b_ in zip(qs, cv))
        assert r.approx_dist == want


def test_widen_repartitions_derived_corpus(spark):
    """ADVICE r5 (low): a derived (non-file-backed) corpus has
    inputFiles()==[], which used to silently skip widening — the whole
    per-vector ANN map chain could run in ONE task. Derived corpora now
    widen by default; widen=False opts out."""
    from apache_iceberg_lakehouse_workshop_spark.operators.similarity import _widen

    par = spark.sparkContext.defaultParallelism
    derived = spark.createDataFrame(
        [(i, [float(i)]) for i in range(10)], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).coalesce(1)
    assert derived.inputFiles() == []
    assert _widen(derived).rdd.getNumPartitions() == par
    assert _widen(derived, widen=False).rdd.getNumPartitions() == 1


def test_ivfpq_composes_coarse_and_fine_quantizers(spark, sf_dir):
    """knn_ivfpq (round-6 task #2): (a) family schema/rank contract,
    (b) every returned (query, cand) pair carries EXACTLY the ADC distance
    the full PQ scan assigns it (the coarse quantizer only FILTERS
    candidates, never changes distances), (c) candidates come only from
    the query's probed cells, and (d) an exact duplicate of the query —
    same cell, same codes — lands in the top-k at the global-min ADC
    distance (the retrieval guarantee dedup pipelines need)."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(8)
    out = SIM.knn_ivfpq(emb, queries, k=5, dim=64, m_sub=4, k_codes=16,
                        n_cells=16, nprobe=4)
    rows = out.collect()
    assert out.columns == ["query_id", "cand_id", "approx_dist", "rank"]
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {r.vec_id for r in queries.select("vec_id").collect()}
    for q_id, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        dists = [r.approx_dist for r in rs]
        assert dists == sorted(dists)
        assert all(r.cand_id != q_id for r in rs)

    # (b) distances agree with the un-probed full PQ scan pair-for-pair
    full = SIM.knn_pq(emb, queries, k=10**9, dim=64, m_sub=4, k_codes=16)
    full_d = {(r.query_id, r.cand_id): r.approx_dist for r in full.collect()}
    for r in rows:
        assert full_d[(r.query_id, r.cand_id)] == r.approx_dist

    # (d) an exact duplicate shares cell AND codes -> top-k at global min
    dup = queries.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    corpus2 = emb.select("vec_id", "embedding").unionAll(dup)
    out2 = SIM.knn_ivfpq(corpus2, queries, k=5, dim=64, m_sub=4, k_codes=16,
                         n_cells=16, nprobe=4)
    got2 = {}
    for r in out2.collect():
        got2.setdefault(r.query_id, []).append(r)
    for q_id, rs in got2.items():
        cands = {r.cand_id for r in rs}
        assert q_id + 100000 in cands, f"exact dup of {q_id} missed"
        dup_dist = next(r.approx_dist for r in rs if r.cand_id == q_id + 100000)
        assert dup_dist == min(r.approx_dist for r in rs)


def test_ivfpq_residual_reduces_quantization_error(spark, sf_dir):
    """knn_ivfpq(residual=True) — FAISS IndexIVFPQ: (a) family contract,
    (b) an exact duplicate of the query (same cell, same residual, same
    codes) lands top-k at the global-min ADC distance, (c) the CLAIMED
    advantage is measurable: mean |ADC − exact|^2 error over the returned
    pairs is LOWER with residual encoding than with raw-vector PQ at the
    same (m_sub, k_codes) budget."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(8)
    kw = dict(k=5, dim=64, m_sub=4, k_codes=16, n_cells=16, nprobe=4)
    res = SIM.knn_ivfpq(emb, queries, residual=True, **kw)
    rows = res.collect()
    assert res.columns == ["query_id", "cand_id", "approx_dist", "rank"]
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q_id, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert [r.approx_dist for r in rs] == sorted(r.approx_dist for r in rs)
        assert all(r.cand_id != q_id for r in rs)

    # (b) exact-duplicate guarantee
    dup = queries.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    corpus2 = emb.select("vec_id", "embedding").unionAll(dup)
    out2 = SIM.knn_ivfpq(corpus2, queries, residual=True, **kw)
    got2 = {}
    for r in out2.collect():
        got2.setdefault(r.query_id, []).append(r)
    for q_id, rs in got2.items():
        assert q_id + 100000 in {r.cand_id for r in rs}, f"dup of {q_id} missed"
        dup_dist = next(r.approx_dist for r in rs if r.cand_id == q_id + 100000)
        assert dup_dist == min(r.approx_dist for r in rs)

    # (c) quantization error vs raw-vector PQ at the same budget, measured
    # against the EXACT integer L2 distance on the same returned pairs
    from apache_iceberg_lakehouse_workshop_spark.operators.similarity import (
        _l2_int,
        quantized,
    )

    vq = emb.select(
        F.col("vec_id").cast("long").alias("vid"), quantized(F.col("embedding")).alias("qv")
    )

    def mean_abs_err(approx_df):
        j = (
            approx_df.join(vq.withColumnRenamed("vid", "query_id").withColumnRenamed("qv", "q_v"), "query_id")
            .join(vq.withColumnRenamed("vid", "cand_id").withColumnRenamed("qv", "c_v"), "cand_id")
            .select(
                F.abs(
                    F.col("approx_dist") - _l2_int(F.col("q_v"), F.col("c_v"))
                ).alias("err")
            )
        )
        return j.agg(F.avg("err")).first()[0]

    raw = SIM.knn_ivfpq(emb, queries, residual=False, **kw)
    err_res = mean_abs_err(res)
    err_raw = mean_abs_err(raw)
    assert err_res < err_raw, (
        f"residual encoding must reduce ADC error ({err_res} vs {err_raw})"
    )


def test_ivfpq_adaptive_probe_cut(spark, sf_dir):
    """probe_sim_gap (round-7 verdict #4): (a) an effectively-infinite gap
    is a no-op (identical results to unpruned), (b) gap=0 keeps only cells
    tied with the query's best cell — every candidate then comes from the
    query's top-1 cell set, i.e. a subset of the nprobe=1 candidate pool,
    and (c) a moderate gap returns a SUBSET of the unpruned candidate
    pairs with identical distances on shared pairs (pruning only removes
    cells, never rescores)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(8)
    kw = dict(k=5, dim=64, m_sub=4, k_codes=16, n_cells=16, nprobe=4,
              residual=True)

    base = {(r.query_id, r.cand_id): r.approx_dist
            for r in SIM.knn_ivfpq(emb, queries, **kw).collect()}
    # (a) huge gap keeps every probed cell
    wide = {(r.query_id, r.cand_id): r.approx_dist
            for r in SIM.knn_ivfpq(emb, queries, probe_sim_gap=10.0, **kw).collect()}
    assert wide == base

    # (b) gap=0 == probe only best-tied cells == nprobe=1 candidate pool
    zero = SIM.knn_ivfpq(emb, queries, probe_sim_gap=0.0, **kw)
    one = SIM.knn_ivfpq(emb, queries, **{**kw, "nprobe": 1})
    zero_d = {(r.query_id, r.cand_id): r.approx_dist for r in zero.collect()}
    one_d = {(r.query_id, r.cand_id): r.approx_dist for r in one.collect()}
    assert zero_d == one_d

    # (c) moderate gap: k may refill from surviving cells, so compare the
    # un-truncated candidate pools (k huge): subset + identical distances
    big = {**kw, "k": 10**9}
    full_base = {(r.query_id, r.cand_id): r.approx_dist
                 for r in SIM.knn_ivfpq(emb, queries, **big).collect()}
    full_cut = {(r.query_id, r.cand_id): r.approx_dist
                for r in SIM.knn_ivfpq(emb, queries, probe_sim_gap=0.15, **big).collect()}
    assert set(full_cut) <= set(full_base)
    assert len(full_cut) < len(full_base)  # the cut actually prunes here
    for pair, d in full_cut.items():
        assert full_base[pair] == d


# (row count, sha256 of repr(sorted rows)) per ANN config over the sf0.001
# embeddings, 8 queries, k=5. Frozen from a build whose Arrow kernels and
# pure-SQL reference forms were asserted equal on every config, at 4 and at
# 8 cores. The DuckDB oracles do not cover the sampled (train_frac) or the
# ivf/residual-gap configs, so this is their only exact check.
ANN_GOLDEN = {
    "ivf": (40, "17f481ca8a8e07945ace5d221f14a1361d7b3c05bae554cdc2b7ff4c48dc198a"),
    "pq": (40, "0c0adc2d889486313fae4b1a1e9c361f8106a5da01ea6304e4eefb972922dcff"),
    "ivfpq": (40, "49d5f78de7cd9e8d84dcb2cb55eeaf7947a54d398912eefe955b507fc18caf43"),
    "ivfpq_res_gap": (40, "e558b297b5c79d68bed774d7482ea34592ef8a46b6c5f96ff18f921e82cb9ec5"),
    "ivf_sampled": (40, "6cd86424f1ddc254c5f7c17af15551d8d0947498edf80c75768e138056836a56"),
    "pq_sampled": (40, "5fdc368d24defe8a0c210397924e96ce1a477f84b429d024d76192a228f5c2ba"),
    "ivfpq_res_sampled": (40, "53c49bd996fe0b0e49b074be4e2b7620c231b2954d87944b59c16d20be631cfc"),
}


def _ann_runs(emb, queries):
    return {
        "ivf": lambda: SIM.knn_ivf(emb, queries, k=5, n_cells=16, nprobe=4),
        "pq": lambda: SIM.knn_pq(emb, queries, k=5, dim=64, m_sub=4, k_codes=16),
        "ivfpq": lambda: SIM.knn_ivfpq(
            emb, queries, k=5, dim=64, m_sub=4, k_codes=16, n_cells=16, nprobe=4),
        "ivfpq_res_gap": lambda: SIM.knn_ivfpq(
            emb, queries, k=5, dim=64, m_sub=4, k_codes=16, n_cells=16,
            nprobe=4, residual=True, probe_sim_gap=0.15),
        "ivf_sampled": lambda: SIM.knn_ivf(
            emb, queries, k=5, n_cells=16, nprobe=4, train_frac=0.5),
        "pq_sampled": lambda: SIM.knn_pq(emb, queries, k=5, train_frac=0.5),
        "ivfpq_res_sampled": lambda: SIM.knn_ivfpq(
            emb, queries, k=5, n_cells=16, nprobe=4, residual=True,
            probe_sim_gap=0.15, train_frac=0.5),
    }


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _digest(rows):
    return len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()


def test_ann_kernels_match_frozen_golden(spark, sf_dir):
    """The IVF / PQ / IVFxPQ kernels return exactly the frozen golden rows
    (exact int64 arithmetic, IEEE double sims, fixed tie-breaks), so the
    results cannot drift from what the oracles were built against."""
    emb = load_table(spark, sf_dir, "embeddings")
    runs = _ann_runs(emb, emb.orderBy("vec_id").limit(8))
    for name in ("ivf", "pq", "ivfpq", "ivfpq_res_gap"):
        assert _digest(_sorted_rows(runs[name]())) == ANN_GOLDEN[name], name


def _md5_order(ids):
    return sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))


def test_training_over_the_cap_uses_the_md5_smallest_rows(spark, sf01_dir, monkeypatch):
    """A training slice over ``TRAIN_CAP`` trains every quantizer on the
    cap's worth of rows with the smallest (md5(id), id): centroids and
    codebooks (raw and residual) equal training on exactly those rows,
    the seeds are the corpus's md5-smallest rows as without the cap, and a
    repeat run is identical."""
    emb = load_table(spark, sf01_dir, "embeddings")
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    assert len(ids) == 2000
    kept = _md5_order(ids)[:500]
    kept_emb = emb.filter(F.col("vec_id").isin(kept))

    def trained(corpus):
        cents, book, _ = SIM.ivfpq_build(corpus, residual=True)
        return {
            "cents": _sorted_rows(SIM.ivf_centroids(corpus, n_cells=16)),
            "book": _sorted_rows(SIM.pq_codebook(corpus, k_codes=16)),
            "res_cents": _sorted_rows(cents),
            "res_book": _sorted_rows(book),
        }

    uncapped = trained(emb)
    monkeypatch.setattr(SIM, "TRAIN_CAP", 500)
    capped = trained(emb)
    assert capped == trained(kept_emb)
    assert capped["cents"] != uncapped["cents"]  # the cap did bite
    assert trained(emb) == capped

    v = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        SIM.quantized(F.col("embedding")).alias("qv"),
    )
    got, V = SIM._train_matrix(v, None)
    assert sorted(got) == sorted(kept) and V.shape == (500, 64)
    for k in (16, 8):
        assert [got[i] for i in SIM._seeds(got, k)] == sorted(_md5_order(ids)[:k])


def test_empty_corpus_trains_an_empty_codebook(spark, sf_dir):
    """An empty training sample trains an empty PQ codebook and no IVF
    centroids, and the ops that train them over an empty corpus return
    no rows."""
    empty = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 0)
    assert SIM.pq_codebook(empty).collect() == []
    assert SIM.knn_pq(empty, empty).collect() == []
    assert SIM.ivf_centroids(empty).collect() == []
    assert SIM.knn_ivfpq(empty, empty).collect() == []
    assert SIM.semdedup(empty).collect() == []


# Jobs of each op over the sf0.1 embeddings (2,000 vectors) and 8 queries,
# built and collected, measured at 2, 4 and 8 cores. Both quantizers now
# train from one collect of the training sample; with a collect per
# quantizer the same ops ran 11 / 11 / 8 / 12.
ANN_JOB_CEILINGS = {
    "knn_ivfpq": 9,
    "knn_ivfpq residual": 9,
    "semdedup": 8,
    "build_ann_index": 10,
}


def test_ann_job_ceilings(spark, sf01_dir, tmp_path, count_jobs):
    """The IVFxPQ ops, SemDeDup and the persisted ANN build stay within
    their job ceilings."""
    from apache_iceberg_lakehouse_workshop_spark.operators import ann_index as AX
    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

    emb = load_table(spark, sf01_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    lake = Lakehouse(spark, str(tmp_path / "wh"))
    lake.create_table_as("a.v", emb)
    ops = {
        "knn_ivfpq": lambda: SIM.knn_ivfpq(emb, queries).collect(),
        "knn_ivfpq residual": lambda: SIM.knn_ivfpq(emb, queries, residual=True).collect(),
        "semdedup": lambda: SIM.semdedup(emb).collect(),
        "build_ann_index": lambda: AX.build_ann_index(lake, "a.v", "a.idx"),
    }
    jobs = {name: count_jobs(fn)[0] for name, fn in ops.items()}
    over = {k: (n, ANN_JOB_CEILINGS[k]) for k, n in jobs.items()
            if n > ANN_JOB_CEILINGS[k]}
    assert not over, f"jobs over ceiling (got, ceiling): {over}"


def test_semdedup_transitive_groups_and_singletons(spark):
    """SemDeDup keeps one doc per TRANSITIVE duplicate group (A~B, B~C →
    one survivor even when (A, C) alone misses the threshold) and leaves
    non-duplicates as singletons keeping themselves."""
    # 1/2/3 are unit vectors at 0°/2°/4° in one plane: adjacent cosines
    # (≈0.99939 quantized) clear the 0.999 threshold, the 0°-4° pair
    # (≈0.99755) does NOT — the cluster must come from the transitive hop
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.035, 0.0, 0.0]),
        (3, [0.998, 0.070, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),       # orthogonal singleton
        (5, [0.0, 0.0, 1.0, 0.0]),       # singleton
        (6, [0.0, 0.0, 1.0, 0.0]),       # exact copy of 5
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out = {
        r.vec_id: r
        for r in SIM.semdedup(df, n_cells=2, sim_threshold=0.999).collect()
    }
    assert len(out) == 6
    # 1-2-3 one component via the chain (1~2 and 2~3 at 0.999; 1~3 below)
    assert out[1].cluster_rep == out[2].cluster_rep == out[3].cluster_rep == 1
    assert out[1].cluster_size == 3 and out[1].is_kept == 1
    assert out[2].is_kept == 0 and out[3].is_kept == 0
    # 5-6 exact copies: one survivor
    assert out[5].cluster_rep == out[6].cluster_rep == 5
    assert out[5].is_kept == 1 and out[6].is_kept == 0
    # 4 is a singleton keeping itself
    assert out[4].cluster_rep == 4 and out[4].cluster_size == 1 and out[4].is_kept == 1


def test_sampled_training_invariants(spark, sf_dir):
    """train_frac (FAISS train-on-a-sample): frac=1.0 is bit-identical to
    the default full-corpus training; a real slice is deterministic, keeps
    the output shape, and matches the frozen golden (the md5 slice is
    engine-portable, so the DuckDB oracle replays it)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(8)

    base = _sorted_rows(SIM.knn_pq(emb, queries, k=5))
    assert _sorted_rows(SIM.knn_pq(emb, queries, k=5, train_frac=1.0)) == base

    runs = _ann_runs(emb, queries)
    names = ("ivf_sampled", "pq_sampled", "ivfpq_res_sampled")
    sampled = {name: _sorted_rows(runs[name]()) for name in names}
    for name, got in sampled.items():
        per_q = {}
        for row in got:
            per_q.setdefault(row[0], []).append(row)
        assert all(len(v) == 5 for v in per_q.values()), f"{name}: not k rows"
        assert _digest(got) == ANN_GOLDEN[name], name
    # deterministic across invocations
    assert _sorted_rows(runs["pq_sampled"]()) == sampled["pq_sampled"]


def test_rrf_fuse_hybrid_semantics(spark):
    from apache_iceberg_lakehouse_workshop_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "rank BIGINT, doc_id BIGINT"
    ).select("doc_id", "rank")
    sem = spark.createDataFrame(
        [(1, 20), (2, 40), (3, 50)], "rank BIGINT, doc_id BIGINT"
    ).select("doc_id", "rank")
    out = rrf_fuse([lex, sem], k=60, n=10).collect()
    by_id = {r.doc_id: r for r in out}
    # doc 20 appears in BOTH lists (ranks 2+1) -> beats every single-list doc
    assert out[0].doc_id == 20 and by_id[20].n_systems == 2
    assert {r.doc_id for r in out} == {10, 20, 30, 40, 50}
    # exact quantized contributions: round(1e6/(60+r))
    assert by_id[20].rrf_q6 == round(1e6 / 62) + round(1e6 / 61)
    assert by_id[10].rrf_q6 == round(1e6 / 61)
    # ranks are a total order 1..5, ties impossible here
    assert [r.rank for r in out] == [1, 2, 3, 4, 5]


def test_cell_pairs_kernel_margin_covers_rounding_slack(spark):
    """ADVICE r7 (medium): the Arrow kernel's pre-filter margin must cover
    the HALF_UP rounding slack — a pair whose raw cosine lies in
    [threshold-5e-7, threshold) passes the exact decision
    (round6(sim) >= threshold) and must therefore be emitted by the
    kernel, else it drops pairs the exact decision accepts and splits
    duplicate components."""
    import math

    threshold = 0.95
    x = 10_000_000
    found = None
    y0 = round(x * math.tan(math.acos(threshold)))
    for y in range(y0 - 400, y0 + 400):
        c = x / math.sqrt(x * x + y * y)
        in_band = threshold - 5e-7 <= c < threshold
        half_up_accepts = math.floor(c * 1e6 + 0.5) / 1e6 >= threshold
        if in_band and half_up_accepts:
            found = (y, c)
            break
    assert found is not None, "no integer vector lands in the slack band"
    y, _ = found
    df = spark.createDataFrame(
        [(0, 1, [x, 0]), (0, 2, [x, y])],
        "cell_id INT, vec_id LONG, qv ARRAY<LONG>",
    )
    pairs = SIM._cell_pairs_arrow(df, threshold).collect()
    assert [(p.vec_a, p.vec_b) for p in pairs] == [(1, 2)]


def test_two_stage_rerank_refines_toward_bruteforce(spark, sf_dir):
    """s11: with a generous recall budget the two-stage result converges
    on brute force (exact final ordering over recalled candidates); the
    output is always a subset of stage-1 candidates re-ranked by exact
    cosine."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(4)

    def snap(df):
        return sorted(tuple(r) for r in df.collect())

    out = SIM.knn_two_stage(emb, queries, k=3, recall_m=10)
    rows = out.collect()
    # contract shape: k rows per query, rank 1..k, sims descending
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q_rows in by_q.values():
        q_rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in q_rows] == list(range(1, len(q_rows) + 1))
        sims = [r.cosine_sim for r in q_rows]
        assert sims == sorted(sims, reverse=True)
    # stage-2 output is drawn from stage-1's candidate set
    cands = {
        (r.query_id, r.cand_id)
        for r in SIM.knn_ivfpq(emb, queries, k=10).select(
            "query_id", "cand_id"
        ).collect()
    }
    assert {(r.query_id, r.cand_id) for r in rows} <= cands
    # recall_m = |corpus| AND nprobe = n_cells makes stage 1 exhaustive
    # -> the two-stage result IS brute force
    n = emb.count()
    full = SIM.knn_two_stage(emb, queries, k=3, recall_m=n, nprobe=16)
    brute = SIM.knn_bruteforce(emb, queries, k=3)
    assert snap(full) == snap(brute)


def test_local_trainer_riders_skip_collect_and_match(spark, sf_dir, monkeypatch):
    """The trainers (``_ivf_train`` / ``_pq_train``) attach their
    (already-driver-resident) data to the returned frame as
    ``_sg_local_cents`` / ``_sg_local_book`` riders; ``_collect_centroids``
    / ``_collect_book`` read the rider WITHOUT any Spark job, and the
    values are identical to the collect path."""
    emb = load_table(spark, sf_dir, "embeddings")

    cents = SIM.ivf_centroids(emb, n_cells=8)
    assert getattr(cents, "_sg_local_cents", None) is not None
    C, cells, nb = SIM._collect_centroids(cents)
    rows = sorted(
        cents.select("cell_id", "centroid").collect(), key=lambda r: r.cell_id
    )
    assert cells.tolist() == [r.cell_id for r in rows]
    assert C.tolist() == [list(r.centroid) for r in rows]
    assert nb.tolist() == [sum(x * x for x in r.centroid) for r in rows]

    book = SIM.pq_codebook(emb, dim=64, m_sub=4, k_codes=8)
    assert getattr(book, "_sg_local_book", None) is not None
    by_m = SIM._collect_book(book)
    brows = sorted(book.collect(), key=lambda r: (r.m, r.code))
    for m in {r.m for r in brows}:
        grp = [r for r in brows if r.m == m]
        codes, cvs = by_m[int(m)]
        assert codes.tolist() == [r.code for r in grp]
        assert cvs.tolist() == [list(r.cv) for r in grp]

    # rider reads run NO Spark job: any collect would blow up here
    def boom(self):
        raise AssertionError("collect() reached inside a rider read")

    monkeypatch.setattr(type(cents), "collect", boom)
    C2, cells2, nb2 = SIM._collect_centroids(cents)
    by_m2 = SIM._collect_book(book)
    assert (C2 == C).all() and (cells2 == cells).all() and (nb2 == nb).all()
    assert set(by_m2) == set(by_m)


def test_rider_bypass_results_identical_to_stripped(spark, sf_dir, monkeypatch):
    """End-to-end: serving through the rider fast path returns EXACTLY the
    rows of the stripped path (riders deleted -> every consumer collects
    the frame) for both quantizer families."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(6)

    def snap(df):
        return sorted(tuple(r) for r in df.collect())

    with_r = {
        "d6": snap(SIM.semdedup(emb, n_cells=8, sim_threshold=0.95)),
        "s8": snap(SIM.knn_ivfpq(
            emb, queries, k=5, n_cells=8, nprobe=3, residual=True,
            probe_sim_gap=0.15)),
        "s6": snap(SIM.knn_pq(emb, queries, k=5, dim=64, m_sub=4, k_codes=8)),
    }

    orig_cents, orig_book = SIM._ivf_train, SIM._pq_train

    def cents_no_rider(*a, **k):
        df = orig_cents(*a, **k)
        if hasattr(df, "_sg_local_cents"):
            del df._sg_local_cents
        return df

    def book_no_rider(*a, **k):
        df = orig_book(*a, **k)
        if hasattr(df, "_sg_local_book"):
            del df._sg_local_book
        return df

    monkeypatch.setattr(SIM, "_ivf_train", cents_no_rider)
    monkeypatch.setattr(SIM, "_pq_train", book_no_rider)
    assert snap(SIM.semdedup(emb, n_cells=8, sim_threshold=0.95)) == with_r["d6"]
    assert snap(SIM.knn_ivfpq(
        emb, queries, k=5, n_cells=8, nprobe=3, residual=True,
        probe_sim_gap=0.15)) == with_r["s8"]
    assert snap(SIM.knn_pq(
        emb, queries, k=5, dim=64, m_sub=4, k_codes=8)) == with_r["s6"]


def test_cell_pairs_kernel_streams_cells_across_arrow_batches(spark):
    """r14: _cell_pairs_arrow runs as ONE mapInArrow over a cell-sorted
    partition and slices Arrow batches at cell boundaries — a cell that
    spans two batches (forced here with a tiny maxRecordsPerBatch) must
    still produce exactly the per-cell pairs a plain numpy reference
    computes, and no cross-cell pair may ever appear."""
    import itertools
    import math
    import random

    rng = random.Random(7)
    rows = []
    # ragged cell sizes around the 7-row batch cap: 1, 3, 10, 7, 18 rows
    sizes = {0: 1, 1: 3, 2: 10, 3: 7, 4: 18}
    vid = 0
    base = {c: [rng.randrange(1, 50) for _ in range(8)] for c in sizes}
    for cell, n in sizes.items():
        for _ in range(n):
            # near-copies within a cell so plenty of pairs clear 0.95
            v = [x + rng.randrange(0, 2) for x in base[cell]]
            rows.append((cell, vid, v))
            vid += 1
    df = spark.createDataFrame(
        rows, "cell_id INT, vec_id LONG, qv ARRAY<LONG>"
    )
    threshold = 0.95
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        got = {
            (r.vec_a, r.vec_b, r.raw_sim)
            for r in SIM._cell_pairs_arrow(df, threshold).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    # plain-python reference: per cell, all id-ordered pairs >= cut
    by_cell = {}
    for cell, v_id, v in rows:
        by_cell.setdefault(cell, []).append((v_id, v))
    want = set()
    for cell, members in by_cell.items():
        for (ia, va), (ib, vb) in itertools.combinations(
            sorted(members), 2
        ):
            dot = sum(x * y for x, y in zip(va, vb))
            na = sum(x * x for x in va)
            nb = sum(x * x for x in vb)
            sim = (
                float(dot) / math.sqrt(float(na) * float(nb))
                if na and nb
                else 0.0
            )
            if sim >= threshold - 1e-6:
                want.add((ia, ib, sim))
    assert {(a, b) for a, b, _ in got} == {(a, b) for a, b, _ in want}
    gs = {(a, b): s for a, b, s in got}
    for a, b, s in want:
        assert abs(gs[(a, b)] - s) < 1e-12, (a, b)
