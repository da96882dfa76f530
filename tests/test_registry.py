"""Registry contract: importable without a SparkSession, names unique,
every oracle key has a query, and the driver entry surface is intact."""

from __future__ import annotations


def test_registry_importable_and_consistent():
    # must not require an active SparkSession at import/build time (the
    # driver imports __spark_entry__ before creating its session)
    from tts_etl_pipeline_spark.registry import all_oracles, all_queries

    qs, osql = all_queries(), all_oracles()
    assert set(osql) <= set(qs), sorted(set(osql) - set(qs))
    assert len(qs) >= 50
    # rows-only (oracle-less) set is exactly the approximate/hash-family ops
    # (st3 session windows were PROMOTED to oracle-exact: the session_window
    # split rule is deterministic and replicated in SQL at full precision)
    # plus the audio E2E pipeline (inputs are synthesized WAVs, not the
    # driver's parquet tables — DuckDB has nothing equivalent to run)
    # d5_minhash_lsh_neardup stays ABSENT: pyspark.ml's OR-amplified LSH
    # goes quadratic on self-similar corpora; d11's banded MinHash is the
    # one LSH near-dedup path
    assert "d5_minhash_lsh_neardup" not in qs
    rows_only = set(qs) - set(osql)
    assert rows_only == {
        "d11_banded_minhash_neardup",
        "d12_neardup_dedup_e2e",
        "d6_simhash_neardup",
        "v3_ivf_ann_topk",
        "v4_lsh_ann_topk",
        "v5_graph_ann_topk",
        "v6_pq_ann_topk",
        "x1_approx_distinct_stats",
        "t17_bpe_merge_training",
        "t19_bpe_encode",
        "x2_cms_heavy_hitters",
        "x4_tdigest_quantiles",
        # x9: native DataSketches HLL — the HIP estimator's value depends
        # on stream order, so no engine-independent oracle exists; error
        # bound + union-row consistency pinned in test_sketches.py
        "x9_hll_native_sketch",
        "pr1_copurchase_pagerank",
        "p1_audio_pipeline_e2e",
        "m2_image_codec_features",
        "m3_video_codec_features",
        "m4_audio_codec_features",
        # m5: perceptual-hash near-dup over synthesized media payloads (the
        # m2/m3 precedent); band-candidate semantics pinned exactly in
        # tests/test_multimodal.py against a driver-side brute force
        "m5_image_dhash_neardup",
        # m6: the audio twin of m5 (spectral energy-share fingerprint);
        # brute-force parity + the amplitude-invariance law pinned in
        # tests/test_multimodal.py
        "m6_audio_fingerprint_neardup",
        "h4_lttb_downsample",
        "st11_pyds_stream_counts",
        # v9: MMR greedy re-rank — iterative selection has no SQL twin;
        # exactness pinned vs an independent replay in tests/test_mmr.py
        "v9_mmr_diversified_topk",
    }


def test_driver_entry_surface():
    import __spark_entry__ as e

    assert callable(e.entry)
    assert set(e.oracle_sql()) <= set(e.queries())


def test_verify_priority_file_complete_and_valid():
    """Every VERIFY_PRIORITY.txt name must exist in the registry (a typo
    silently falls out of the driver's verification window) and every
    registered query should be listed so the rotation is explicit."""
    from tts_etl_pipeline_spark.registry import _priority, all_queries

    qs, pr = set(all_queries()), _priority()
    assert [n for n in pr if n not in qs] == []
    assert sorted(qs - set(pr)) == []
    assert len(pr) == len(set(pr))  # no duplicates hiding a shadowed entry
