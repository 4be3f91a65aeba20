"""Pins for the r11 LSH-banding knob and the perceptual-hash dedup:
invariants the oracle hash can't state directly (cross-QUERY identity
on planted dups, subset relations between bandings)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cuttlefish_spark.registry import load_all

SPECS = load_all()


def test_banded_clusters_agree_on_exact_dups(spark, sf_dir):
    """Docs with IDENTICAL token sets must land in the same cluster
    under BOTH bandings — exact dups collapse via rep_id before any
    band join, so their cluster identity is banding-invariant (the
    docstring's claim, pinned)."""
    from cuttlefish_spark.operators.dedup import _token_signatures

    sig = _token_signatures(spark, sf_dir, with_rep=True).select(
        "doc_id", "rep_id"
    )
    base = SPECS["dedup_clusters"].fn(spark, sf_dir).select(
        "doc_id", F.col("cluster_id").alias("c_base")
    )
    banded = SPECS["dedup_clusters_banded"].fn(spark, sf_dir).select(
        "doc_id", F.col("cluster_id").alias("c_banded")
    )
    j = sig.join(base, "doc_id").join(banded, "doc_id")
    # each rep group maps into ONE cluster per query
    for col in ("c_base", "c_banded"):
        n_bad = (
            j.groupBy("rep_id")
            .agg(F.count_distinct(col).alias("k"))
            .filter(F.col("k") > 1)
            .count()
        )
        assert n_bad == 0, f"{col}: exact-dup group split across clusters"


def test_adaptive_banding_decision(spark, sf_dir, tmp_path):
    """_pick_banding must return 8 on the collision-heavy 31-word-vocab
    testdata (measured 158+ est-pairs/rep at every SF) and 2 on a clean
    high-entropy corpus (every doc a distinct token set, no band
    collisions) — the two calibration regimes of _ADAPT_MULT."""
    from cuttlefish_spark.operators.dedup import (
        _pick_banding,
        _token_signatures,
    )

    sig = _token_signatures(spark, sf_dir, with_rep=True, wide=True)
    assert _pick_banding(sig.filter("doc_id = rep_id")) == 8

    rows = [
        (i, " ".join(f"uniq{i}_{j}" for j in range(20)), "en", "s", 1)
        for i in range(50)
    ]
    clean = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "cleansf")
    clean.write.parquet(d + "/documents.parquet")
    sig2 = _token_signatures(spark, d, with_rep=True, wide=True)
    assert _pick_banding(sig2.filter("doc_id = rep_id")) == 2


def test_banded_candidates_are_subset(spark, sf_dir):
    """b=1,r=8 candidates must be a strict subset of b=2,r=2's: an
    8-window collision implies both 2-window band collisions (bands 1
    and 2 are sub-windows of the r=8 key)."""
    from cuttlefish_spark.operators.dedup import (
        _band_candidates,
        _token_signatures,
    )

    wide = _token_signatures(spark, sf_dir, wide=True)
    narrow = (
        _band_candidates(wide, rows_per_band=2)
        .select("doc_a", "doc_b")
        .distinct()
    )
    tight = _band_candidates(wide, rows_per_band=8).select(
        "doc_a", "doc_b"
    )
    missing = tight.join(narrow, ["doc_a", "doc_b"], "left_anti").count()
    assert missing == 0


def test_phash_planted_dups_cluster_together(spark, sf_dir):
    """The planted image-dup schedule (doc_id % 40 in (1, 2) copies the
    group base) must cluster: exact copies at Hamming 0, the perturbed
    near-dup within the Hamming <= 3 gate."""
    out = (
        SPECS["image_phash_dedup"]
        .fn(spark, sf_dir)
        .select("doc_id", "cluster_id")
        .toPandas()
        .set_index("doc_id")["cluster_id"]
        .to_dict()
    )
    for d, c in out.items():
        r = d % 40
        if r in (1, 2) and (d - r) in out:
            assert c == out[d - r], f"doc {d} not clustered with base {d - r}"


def test_dsir_resample_copies_sum_to_target(spark, sf_dir):
    """Systematic resampling must emit EXACTLY n = corpus//10 copies
    (the telescoping floor identity), all non-negative."""
    out = SPECS["dsir_resample"].fn(spark, sf_dir).toPandas()
    n_docs = len(out)
    assert int(out["n_copies"].sum()) == n_docs // 10
    assert (out["n_copies"] >= 0).all()
    assert bool((out["selected"] == (out["n_copies"] > 0)).all())


def test_kcenter_radius_nonincreasing(spark, sf_dir):
    """Greedy k-center's coverage radius is monotonically
    non-increasing: min-dist to a growing set can only shrink, so the
    max over points shrinks too."""
    out = (
        SPECS["kcenter_coreset"]
        .fn(spark, sf_dir)
        .orderBy("round")
        .toPandas()
    )
    radii = out["coverage_radius"].dropna().tolist()
    assert all(a >= b for a, b in zip(radii, radii[1:])), radii
    assert out["selected_id"].is_unique


def test_tfidf_kmeans_cluster_ids_bounded(spark, sf_dir):
    out = SPECS["tfidf_kmeans_clusters"].fn(spark, sf_dir).toPandas()
    assert out["cluster_id"].between(0, 3).all()
    assert (out["d2_tera"] >= 0).all()


def test_best_of_n_uplift_nonnegative(spark, sf_dir):
    out = SPECS["best_of_n_selection"].fn(spark, sf_dir).toPandas()
    assert (out["uplift"] >= 0).all()
    assert (out["chosen_reward"] >= out["ref_reward"]).all()


def test_substring_spans_within_bounds(spark, sf_dir):
    from cuttlefish_spark.operators.dedup import _SS_W

    spans = SPECS["substring_dedup_spans"].fn(spark, sf_dir).toPandas()
    assert (spans["span_start"] >= 1).all()
    assert (spans["span_tokens"] >= _SS_W).all()
    assert (spans["span_end"] - spans["span_start"] + 1
            == spans["span_tokens"]).all()


def test_kn_logprob_nonpositive(spark, sf_dir):
    """Interpolated KN is a proper distribution: P <= 1, so the mean
    log-prob cannot be positive."""
    out = SPECS["lm_kneser_ney_score"].fn(spark, sf_dir).toPandas()
    assert (out["avg_logprob"] <= 0).all()


def test_cluster_prune_partition_identity(spark, sf_dir):
    """The percentile-band prune must PARTITION each cluster: kept +
    prototypical-pruned + outlier-pruned = cluster size, and the
    agreement fraction is a true fraction."""
    out = SPECS["cluster_prune_prototypes"].fn(spark, sf_dir).toPandas()
    assert (
        out["n_kept"] + out["n_pruned_proto"] + out["n_pruned_outlier"]
        == out["n_vectors"]
    ).all()
    assert out["agree_frac"].between(0.0, 1.0).all()
    assert (out["n_agree"] <= out["n_vectors"]).all()


def test_tfidf_prune_band_bounds(spark, sf_dir):
    """Per-doc verdicts: rank within [1, cluster_size], pct within
    [0, 100], keep iff pct in the (25, 95] band."""
    out = SPECS["tfidf_cluster_prune"].fn(spark, sf_dir).toPandas()
    assert (out["rank_in_cluster"].between(1, out["cluster_size"])).all()
    assert out["pct"].between(0, 100).all()
    expect = (out["pct"] > 25) & (out["pct"] <= 95)
    assert (out["keep"] == expect).all()


def test_incremental_ivf_shares_partition(spark, sf_dir):
    """Occupancy shares must each sum to 1 over cells (every vector
    lands in exactly one cell) and drift must sum to 0."""
    out = SPECS["incremental_ivf"].fn(spark, sf_dir).toPandas()
    assert abs(out["base_share"].sum() - 1.0) < 1e-9
    assert abs(out["new_share"].sum() - 1.0) < 1e-9
    assert abs(out["occupancy_drift"].sum()) < 1e-9
    assert (out["n_base"] >= 1).all()  # every centroid is its own base member


def test_capstone_agreement_cross_check(spark, sf_dir):
    """pretrain_data_e2e's composition audit: n_both_pass must equal
    n_clf_kept (stage 6 is exactly gopher-pass AND clf-pass among
    stage-4 survivors) and the 2x2 cells partition n_c4_kept."""
    out = SPECS["pretrain_data_e2e"].fn(spark, sf_dir).toPandas()
    assert (out["n_both_pass"] == out["n_clf_kept"]).all()
    cells = (
        out["n_both_pass"] + out["n_gopher_only"]
        + out["n_clf_only"] + out["n_neither"]
    )
    assert (cells == out["n_c4_kept"]).all()
    assert out["gate_agree_frac"].between(0.0, 1.0).all()


def test_audio_planted_dups_cluster_together(spark, sf_dir):
    """The planted audio-dup schedule (doc_id % 40 in (3, 4) copies
    the group base) must cluster: exact copies at Hamming 0, the
    perturbed near-dup (one sample in frame 32, flipping at most bits
    31/32) within the Hamming <= 3 gate."""
    out = (
        SPECS["audio_fingerprint_dedup"]
        .fn(spark, sf_dir)
        .select("doc_id", "cluster_id", "afp")
        .toPandas()
        .set_index("doc_id")
    )
    clusters = out["cluster_id"].to_dict()
    afps = out["afp"].to_dict()
    for d, c in clusters.items():
        r = d % 40
        if r in (3, 4) and (d - r) in clusters:
            assert c == clusters[d - r], f"doc {d} not clustered with base {d - r}"
        if r == 4 and (d - r) in afps:
            assert afps[d] == afps[d - r], "exact copy fingerprint differs"


def test_audio_near_dup_hamming_bound(spark, sf_dir):
    """The single-sample perturbation flips at most 2 fingerprint bits
    (frame 32 feeds only the bit-31 and bit-32 energy comparisons) —
    the designed property the docstring claims."""
    import numpy as np

    from cuttlefish_spark.operators.multimodal import (
        _AFP_FLEN,
        _AFP_FRAMES,
        _afp_samples,
    )

    def bits(b, perturb):
        s = _afp_samples(b, perturb).reshape(_AFP_FRAMES, _AFP_FLEN)
        e = (s * s).sum(axis=1)
        return (e[1:] > e[:-1]).astype(int)

    for base in (0, 40, 80, 200, 1000):
        d = int(np.abs(bits(base, False) - bits(base, True)).sum())
        assert d <= 2, f"base {base}: perturbation flipped {d} bits"
        flipped = np.nonzero(bits(base, False) != bits(base, True))[0]
        assert all(f in (31, 32) for f in flipped), flipped


def test_incremental_minhash_verdicts_consistent(spark, sf_dir):
    """Cross-checks against the family's own primitives: every batch
    doc whose EXACT normalized text already exists in the corpus
    (incremental_dedup's dup_of_corpus) must be near_dup_of_corpus
    here too (J = 1.0 on identical token sets >= any bar), EXCEPT
    blank docs (NULL bands never pair — the family's documented
    discipline)."""
    imh = (
        SPECS["incremental_minhash_dedup"]
        .fn(spark, sf_dir)
        .select("doc_id", F.col("verdict").alias("v_mh"))
    )
    exact = (
        SPECS["incremental_dedup"]
        .fn(spark, sf_dir)
        .select("doc_id", F.col("verdict").alias("v_ex"))
    )
    from cuttlefish_spark.io import load_table, spread

    blank = (
        spread(spark, load_table(spark, sf_dir, "documents"))
        .select("doc_id", F.trim(F.lower(F.col("text"))).alias("t"))
        .filter(F.col("t") == "")
        .select("doc_id")
    )
    j = imh.join(exact, "doc_id").join(blank, "doc_id", "left_anti")
    bad = j.filter(
        (F.col("v_ex") == "dup_of_corpus")
        & (F.col("v_mh") != "near_dup_of_corpus")
    ).count()
    assert bad == 0, f"{bad} exact corpus dups missed by the minhash probe"


def test_incremental_minhash_persisted_equal(spark, sf_dir):
    """The parquet-round-tripped index must be verdict-equivalent to
    the inline one (the production property, asserted directly on top
    of the shared oracle hash)."""
    a = SPECS["incremental_minhash_dedup"].fn(spark, sf_dir)
    b = SPECS["incremental_minhash_dedup_persisted"].fn(spark, sf_dir)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_incremental_minhash_index_update_consistent(spark, sf_dir):
    """The appended index rows are exactly the kept-verdict docs, and
    every appended row is a batch REP (one per distinct new set)."""
    upd = SPECS["incremental_minhash_index_update"].fn(spark, sf_dir)
    verd = SPECS["incremental_minhash_dedup"].fn(spark, sf_dir)
    new_ids = {r.doc_id for r in upd.filter("is_new").select("doc_id").collect()}
    kept_ids = {
        r.doc_id
        for r in verd.filter("verdict = 'kept'").select("doc_id").collect()
    }
    assert new_ids == kept_ids
