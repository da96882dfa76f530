"""Empirical recall floors for the approximate operators.

The driver's oracle can only declare these queries rows-only (hash-family /
learned results are not SQL-reproducible), so THIS is where their quality
is guaranteed: each approximate path is measured against the exact answer
on the same data and pinned to a recall floor. All three are seeded and
deterministic, so the floors have margin only for library-version drift,
not run-to-run noise.

Measured at sf0.001 (2026-08-13, pyspark 4.1.2):
  v3 multi-assignment KMeans-IVF (64 cells, corpus in 3 cells, 3 probes,
     21.8% of corpus probed): recall@10 = 0.66 on the uniform-random
     fixture (r2 label-quantized: 0.12; r3 single-assignment: 0.44) and
     1.00 on a clustered corpus at the same probe budget — see the two
     ivf tests for why the fixture number is the data's ceiling, not the
     operator's;
  v4 BRP-LSH radius join: recall(r<=10) = 0.935;
  d11 banded MinHash: recall(j>=0.9) = 0.897, zero false positives;
  d6 SimHash: recall(tf-cosine>=0.95) = 0.964.

d6's ground truth is TF-COSINE, not set-Jaccard, and the distinction is
load-bearing: SimHash with per-occurrence ±1 weighting approximates the
angle between term-FREQUENCY vectors. On this vocab-saturated corpus most
doc pairs share nearly all tokens (set-Jaccard >= 0.6 for tens of
thousands of pairs) while their frequency profiles differ — measured
against set-Jaccard d6 would show 3% "recall", which is a property of the
metric mismatch, not the operator. MinHash (d11) is the set-similarity
tool; SimHash is the frequency-direction tool; a pipeline picks by which
notion of "near-duplicate" it means.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from tests.conftest import record_floor
from tts_etl_pipeline_spark.operators.similarity import (
    N_QUERY_VECS,
    v1_topk_cosine_exact,
    v3_ivf_ann_topk,
    v4_lsh_ann_topk,
)
from tts_etl_pipeline_spark.sources.tables import table


def test_ivf_multiprobe_recall_floor(spark, sf_dir):
    """Multi-assignment IVF (64 cells, corpus in its 3 nearest cells, 3
    probes/query) on the DRIVER FIXTURE — which is uniform random on the
    64-d sphere (top-10 neighbor cosine ~0.35 = ~70° away, no cluster
    structure). On such data no partition-based ANN localizes well: a
    numpy sweep over k∈{8..128} x assign∈{1..6} x probe∈{2..24} x 6 KMeans
    seeds caps at mean recall ~0.65-0.70 under a 25%-candidate budget
    (single-assignment r3 measured 0.44). Measured here: recall 0.66 at
    21.8% probed with pyspark KMeans seed 42.

    TARGET CLOSED (round 5, verdict item 4, option B): a wider-pool sweep
    through the real operator measured, on this fixture —
      cells=128 assign=4 probe=8: recall 0.82 at 37.3% probed
      cells=128 assign=6 probe=8: recall 0.90 at 50.5% probed
      cells=96  assign=4 probe=6: recall 0.82 at 39.8% probed
    i.e. >=0.8 recall is reachable but ONLY by probing ~1.5-2x the 25%
    budget; no config meets 0.8 within it. The >=0.8-uniform target is
    therefore retired as infeasible for partition-based ANN on
    structure-free embeddings, and v5 (graph ANN, recall 0.86 on this same
    fixture within a corpus-size-independent search budget — see
    test_graph_ann_recall_and_sublinearity) is the DESIGNATED uniform-corpus
    path. v3 remains the clustered-corpus path (recall 1.0 at <25% probed,
    test_ivf_recall_clustered_corpus). Recorded in COVERAGE.md B3."""
    from tts_etl_pipeline_spark.operators.similarity import (
        ivf_candidates,
    )
    from tts_etl_pipeline_spark.sources.tables import table

    exact = {(r.q_id, r.n_id) for r in v1_topk_cosine_exact(spark, sf_dir).collect()}
    ivf = {(r.q_id, r.n_id) for r in v3_ivf_ann_topk(spark, sf_dir).collect()}
    recall = len(exact & ivf) / len(exact)
    record_floor("v3_ivf_ann_topk", "recall@10_uniform", recall, 0.60)
    assert recall >= 0.60, f"IVF recall@10 collapsed to {recall:.2f}"
    # the sublinearity contract: candidates stay within a quarter of the
    # corpus per query (else "approximate" quietly degrades to brute force)
    emb = table(spark, sf_dir, "embeddings")
    cand, _ = ivf_candidates(emb)
    frac = cand.count() / (N_QUERY_VECS * emb.count())
    assert frac <= 0.25, f"IVF probed fraction grew to {frac:.3f}"


def test_ivf_recall_clustered_corpus(spark):
    """The same ivf_topk code on a CLUSTERED corpus — what real embedding
    models emit — must reach high recall within the same probe budget.
    20 spherical Gaussian clusters (sigma 0.4/sqrt(dim)) x 500 vectors:
    measured recall 1.0 at <25% probed across numpy seeds; floor 0.90."""
    import numpy as np

    from tts_etl_pipeline_spark.operators.similarity import (
        ivf_candidates,
        ivf_topk,
    )

    rng = np.random.RandomState(7)
    centers = rng.randn(20, 64)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    X = centers[rng.randint(0, 20, 500)] + 0.4 * rng.randn(500, 64) / np.sqrt(64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id bigint, embedding array<float>",
    )
    Xf = X.astype(np.float32).astype(np.float64)  # match stored precision
    cos = Xf @ Xf.T
    np.fill_diagonal(cos, -2)
    exact = {
        (q, n) for q in range(N_QUERY_VECS) for n in np.argsort(-cos[q])[:10]
    }
    got = {(r.q_id, r.n_id) for r in ivf_topk(emb).collect()}
    recall = len(exact & got) / len(exact)
    record_floor("v3_ivf_ann_topk", "recall@10_clustered", recall, 0.90)
    assert recall >= 0.90, f"IVF recall on clustered corpus fell to {recall:.2f}"
    cand, _ = ivf_candidates(emb)
    frac = cand.count() / (N_QUERY_VECS * 500)
    assert frac <= 0.25, f"IVF probed fraction on clustered corpus {frac:.3f}"


def test_graph_ann_recall_and_sublinearity(spark, sf_dir):
    """v5 NN-Descent + beam search: on the SAME uniform-random fixture
    where partition-based ANN caps at ~0.66 (see above), graph routing
    measured recall@10 = 0.92 (k=16 graph, r5 re-tune after the
    dense-ordinal rework; 0.86 with the r4 k=12 graph) — local proximity is
    enough to navigate even without global cluster structure. Also asserts
    the search's scored set respects its corpus-size-INDEPENDENT bound
    (entries + hops·beam·(K+1) per query): that bound, not the n=500
    fraction, is the 100 TB story."""
    from tts_etl_pipeline_spark.functions.graph_ann import (
        BEAM,
        K_NEIGHBORS,
        N_ENTRIES,
        N_HOPS,
        build_knn_graph,
        graph_search_topk,
    )
    from tts_etl_pipeline_spark.sources.tables import table

    emb = table(spark, sf_dir, "embeddings")
    exact = {(r.q_id, r.n_id) for r in v1_topk_cosine_exact(spark, sf_dir).collect()}
    edges = build_knn_graph(emb)
    topk, seen = graph_search_topk(emb, edges, N_QUERY_VECS, 10)
    got = {(r.q_id, r.n_id) for r in topk.collect()}
    recall = len(exact & got) / len(exact)
    record_floor("v5_graph_ann_topk", "recall@10", recall, 0.80)
    assert recall >= 0.80, f"graph-ANN recall@10 collapsed to {recall:.2f}"
    bound = N_QUERY_VECS * (N_ENTRIES + BEAM + N_HOPS * BEAM * (K_NEIGHBORS + 1))
    n_scored = seen.count()
    assert n_scored <= bound, f"scored {n_scored} pairs > bound {bound}"


def test_graph_ann_search_cost_constant_in_corpus_size(spark):
    """The graph search's scored set is bounded by entries + beam +
    hops·beam·(K+1) per query — a budget the CALLER picks for the recall
    they need, INDEPENDENT of corpus size n. At n=5000 (10× the fixture,
    still uniform-random — the worst case) a beam=48/hops=10 budget
    measures recall 0.78 while scoring ~1200 candidates/query (24% here,
    2.4% at n=50k, 0.24% at n=500k: the fraction is what shrinks).
    Contrast IVF, whose probe cost is a FRACTION of n by construction."""
    import numpy as np

    from tts_etl_pipeline_spark.functions.graph_ann import (
        build_knn_graph,
        graph_search_topk,
    )

    n, nq, k = 5000, 5, 10
    beam, hops, ents, kn = 48, 10, 16, 12
    rng = np.random.RandomState(11)
    X = rng.randn(n, 64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "vec_id bigint, embedding array<float>",
    )
    Xd = X.astype(np.float32).astype(np.float64)
    cos = Xd[:nq] @ Xd.T
    for q in range(nq):
        cos[q, q] = -2
    exact = {(q, j) for q in range(nq) for j in np.argsort(-cos[q])[:k]}
    edges = build_knn_graph(emb, k=kn)
    topk, seen = graph_search_topk(
        emb, edges, nq, k, beam=beam, hops=hops, n_entries=ents
    )
    got = {(r.q_id, r.n_id) for r in topk.collect()}
    recall = len(exact & got) / len(exact)
    n_scored = seen.count()
    bound = nq * (ents + beam + hops * beam * (kn + 1))
    assert n_scored <= bound, f"scored {n_scored} > bound {bound}"
    assert n_scored / (nq * n) <= 0.26, "scored set exceeded its budget"
    record_floor("v5_graph_ann_topk", "recall@10_n5000", recall, 0.70)
    assert recall >= 0.70, f"graph-ANN recall at n=5000 fell to {recall:.2f}"


def test_lsh_radius_recall_floor(spark, sf_dir):
    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in table(spark, sf_dir, "embeddings").collect()
    }
    truth = {
        (q, n)
        for q in range(N_QUERY_VECS)
        for n, v in emb.items()
        if n != q and np.linalg.norm(emb[q] - v) <= 10.0
    }
    got = {(r.q_id, r.n_id) for r in v4_lsh_ann_topk(spark, sf_dir).collect()}
    recall = len(truth & got) / max(len(truth), 1)
    record_floor("v4_lsh_ann_topk", "recall_r10", recall, 0.85)
    assert recall >= 0.85, f"BRP-LSH recall(r<=10) collapsed to {recall:.2f}"


def test_simhash_recall_floor_tf_cosine(spark, sf_dir):
    from collections import Counter

    from tts_etl_pipeline_spark.operators.dedup import d6_simhash_neardup

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.lower(F.trim("text")).alias("t"))
        .collect()
    )
    tf = {r.doc_id: Counter((r.t or "").split()) for r in docs}
    vocab = {w: i for i, w in enumerate(sorted(set().union(*tf.values())))}
    ids = sorted(tf)
    mat = np.zeros((len(ids), len(vocab)))
    for r, d in enumerate(ids):
        for w, c in tf[d].items():
            mat[r, vocab[w]] = c
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    cos = mat @ mat.T
    truth = {
        (ids[i], ids[j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if cos[i, j] >= 0.95
    }
    got = {(r.id_a, r.id_b) for r in d6_simhash_neardup(spark, sf_dir).collect()}
    recall = len(truth & got) / max(len(truth), 1)
    record_floor("d6_simhash_neardup", "recall_cos095", recall, 0.85)
    assert recall >= 0.85, f"SimHash recall(cos>=0.95) collapsed to {recall:.2f}"


def test_banded_minhash_recall_and_exactness(spark, sf_dir):
    """d11 (AND-amplified b=4 x r=8 banding, exact-verified candidates):
    zero false positives BY CONSTRUCTION (every output pair carries its
    exact token-set Jaccard >= 0.8), and recall vs clearly-above-threshold
    ground truth (j >= 0.9) must clear the banding S-curve's theoretical
    ~0.90 with margin. Measured 0.897 at sf0.001; at the 0.8 boundary
    itself the S-curve gives ~0.74 — that tail is the designed trade."""
    from tts_etl_pipeline_spark.operators.dedup import d11_banded_minhash_neardup

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.lower(F.trim("text")).alias("t"))
        .collect()
    )
    toks = {r.doc_id: set((r.t or "").split()) for r in docs}
    rows = d11_banded_minhash_neardup(spark, sf_dir).collect()
    for r in rows:  # exact-verification invariant
        sa, sb = toks[r.id_a], toks[r.id_b]
        exact = len(sa & sb) / len(sa | sb)
        assert abs(exact - r.jaccard) < 1e-9 and exact >= 0.8
    got = {(r.id_a, r.id_b) for r in rows}
    ids = sorted(toks)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = toks[a], toks[b]
            if (sa or sb) and len(sa & sb) / len(sa | sb) >= 0.9:
                truth.add((a, b))
    recall = len(truth & got) / max(len(truth), 1)
    record_floor("d11_banded_minhash_neardup", "recall_j09", recall, 0.80)
    assert recall >= 0.80, f"banded MinHash recall(j>=0.9) collapsed to {recall:.2f}"


def test_dedup_e2e_agreement_floor(spark, sf_dir):
    """d12 (banded pairs -> large-star components -> keep-min) vs the EXACT
    pipeline (exact j>=0.8 pairs -> union-find -> keep-min): per-document
    keep/drop agreement must stay high. Banding misses boundary pairs
    (recall ~0.74 at j=0.8), but a missed edge only changes the verdict
    when it was the sole bridge between clusters — measured agreement
    0.982 at sf0.001."""
    from tts_etl_pipeline_spark.operators.dedup import d12_neardup_dedup_e2e

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.lower(F.trim("text")).alias("t"))
        .collect()
    )
    toks = {r.doc_id: set((r.t or "").split()) for r in docs}
    ids = sorted(toks)
    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = toks[a], toks[b]
            if (sa or sb) and len(sa & sb) / len(sa | sb) >= 0.8:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    exact_kept = {d for d in ids if find(d) == d}
    rows = d12_neardup_dedup_e2e(spark, sf_dir).collect()
    assert len(rows) == len(ids)  # one verdict per document
    got_kept = {r.doc_id for r in rows if r.is_kept}
    agree = sum((d in exact_kept) == (d in got_kept) for d in ids) / len(ids)
    record_floor("d12_neardup_dedup_e2e", "keep_agreement", agree, 0.95)
    assert agree >= 0.95, f"dedup-e2e agreement collapsed to {agree:.3f}"


def test_pq_recall_compression_and_determinism(spark, sf_dir):
    """v6 product quantization: (a) recall@10 vs the exact answer after the
    ADC + exact-re-rank pipeline — measured 0.94 at sf0.001 / 0.92 at
    sf0.01 (m=16 subspaces, 16 centroids each, pool 8k per partition) on
    the uniform-random fixture, floor 0.85; (b) the code relation really is
    compressed: m int codes per vector, every code < 16 (uint8-packable =
    16 B vs 256 B of floats); (c) the whole pipeline is deterministic —
    codebooks trained twice are bit-identical (hash-ordered sample, fixed
    Lloyd iterations)."""
    from tts_etl_pipeline_spark.functions.pq import (
        PQ_K,
        PQ_M,
        encode,
        train_codebooks,
    )
    from tts_etl_pipeline_spark.operators.similarity import v6_pq_ann_topk

    emb = table(spark, sf_dir, "embeddings")
    exact = {
        (r.q_id, r.n_id) for r in v1_topk_cosine_exact(spark, sf_dir).collect()
    }
    got = {(r.q_id, r.n_id) for r in v6_pq_ann_topk(spark, sf_dir).collect()}
    recall = len(exact & got) / len(exact)
    record_floor("v6_pq_ann_topk", "recall@10", recall, 0.85)
    assert recall >= 0.85, f"PQ recall@10 fell to {recall:.2f}"

    books = train_codebooks(emb)
    assert books.shape[:2] == (PQ_M, PQ_K)
    codes = encode(emb, books).collect()
    assert all(len(r["codes"]) == PQ_M for r in codes)
    assert all(0 <= c < PQ_K for r in codes for c in r["codes"])  # uint8-packable
    books2 = train_codebooks(emb)
    assert (books == books2).all()


def test_d14_zero_norm_vectors_are_singletons_matching_oracle(spark, tmp_path):
    """r7 review finding: a zero-norm embedding's cosine is 0/0 — ANSI
    Spark RAISES on the division while the DuckDB oracle yields NULL
    (never >= tau), making zero vectors SINGLETONS (no edges, not even to
    an identical zero twin). d14 must (a) not crash, (b) not connect the
    identical zero twins via collapse membership edges, and (c) match the
    recursive-CTE oracle exactly on a corpus containing such vectors."""
    import duckdb
    import numpy as np

    import __spark_entry__ as e

    rng = np.random.default_rng(77)
    rows = []
    # two identical ZERO vectors + near-identical normal pair + an outlier,
    # all in one label block
    zero = [0.0] * 8
    v = rng.standard_normal(8)
    rows.append((0, zero, 1))
    rows.append((1, zero, 1))
    rows.append((2, [float(x) for x in v], 1))
    rows.append((3, [float(x) for x in v * 2.0], 1))  # cos = 1 with vec 2
    rows.append((4, [float(x) for x in rng.standard_normal(8)], 1))
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf_dir}/embeddings.parquet")

    got = e.queries()["d14_semantic_dedup"](spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet/*.parquet')"
    )
    expect = con.execute(e.oracle_sql()["d14_semantic_dedup"]).fetchdf()
    cols = sorted(got.columns)
    a = got[cols].sort_values(by=cols).reset_index(drop=True)
    b = expect[cols].sort_values(by=cols).reset_index(drop=True)
    assert a.equals(b), (a, b)
    comp = {r.vec_id: r.component for r in got.itertuples()}
    assert comp[0] == 0 and comp[1] == 1  # zero twins NOT connected
    assert comp[3] == 2  # scaled copy joins its direction-mate's component


def test_cosine_family_zero_norm_vectors_match_oracle(spark, tmp_path):
    """r7 hardening: v1/v2/v7/v8 divide by vector norms — under ANSI Spark
    a zero-norm embedding's 0/0 cosine would RAISE where the DuckDB oracle
    yields NULL. All four now filter zero-norm vectors on BOTH sides (a
    zero vector has no direction — neither query nor neighbor), with the
    same guard in the oracle WHERE. Drive a corpus containing zero vectors
    through every one of them against its oracle."""
    import duckdb
    import numpy as np

    import __spark_entry__ as e

    rng = np.random.default_rng(99)
    emb_rows = [(0, [0.0] * 8, 1), (1, [0.0] * 8, 1)]  # zero twins
    for i in range(2, 30):
        emb_rows.append((i, [float(x) for x in rng.standard_normal(8)], i % 3))
    doc_rows = [(i, f"doc {i}", "en" if i % 2 == 0 else "fr", "s", 5)
                for i in range(30)]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf_dir}/embeddings.parquet")
    spark.createDataFrame(
        doc_rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    con = duckdb.connect()
    for t in ("embeddings", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet/*.parquet')"
        )
    qs, osql = e.queries(), e.oracle_sql()
    for name in (
        "v1_topk_cosine_exact",
        "v2_embedding_neardup_pairs",
        "v7_filtered_ann_topk",
        "v8_knn_graph_exact",
    ):
        got = qs[name](spark, sf_dir).toPandas()
        expect = con.execute(osql[name]).fetchdf()
        cols = sorted(got.columns)
        a = got[cols].sort_values(by=cols).reset_index(drop=True)
        b = expect[cols].sort_values(by=cols).reset_index(drop=True)
        assert a.equals(b), (name, a.head(), b.head())
        # the zero twins appear in no pair/neighbor output
        for c in ("q_id", "n_id", "src", "dst", "id_a", "id_b"):
            if c in got.columns:
                assert not got[c].isin([0, 1]).any(), (name, c)
