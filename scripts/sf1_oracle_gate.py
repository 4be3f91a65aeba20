"""sf1 CORRECTNESS gate: DuckDB hash-comparison at 10x scale for the
highest-output queries (r5 VERDICT item 3).

The driver's oracle gate runs at sf0.01 and the local pytest gate at
sf0.001; the cross-engine rounding-flip class (round(,6) half-to-even
vs half-away-from-zero, wild-caught at sf0.1 — PLANS.md Notes) scales
with the NUMBER OF EMITTED VALUES, so small-sf gates under-sample it.
This script runs the full compare (row count + sorted columns + exact
values, tests/oracle_harness.compare — stricter than the driver's
value-hash) at sf1 for the ~20 queries with the largest outputs:
the entire pair-producing dedup/similarity family, the token-level
text family, and the O(input)-output window family.

Corpus: the same sf1 generators as scale_stress.py (documents +
embeddings, TPC-H star schema) plus a 10x events table mirroring the
driver's sf0.1 marginals (1M rows, 15k users, 5 uniform event types,
ts ~ U(Jan 2024), value ~ U(0, 560), props = {"k": int}).

Two queries need special handling, because the synthetic corpus's
31-word vocab makes token-SET similarity DEGENERATE at 50k docs
(~0.7% of ALL pairs are true near-dups; r5 scale-stress measured
ngram_jaccard's true output at 87M pairs at sf1 — the ENGINE side is
exponent-proven there, but no SQL oracle can verify 87M-pair ground
truth in bounded spill):

- `ngram_jaccard` gates on a 15k-doc SUBSET of the sf1 corpus (still
  3x the largest driver scale, ~8.5M emitted pairs, every one
  value-compared). Its jaccard is an unrounded IEEE division of
  identical integers, so the rounding-flip class cannot occur at any
  scale — the subset bounds oracle cost, not detection power.
- `dedup_clusters` gates on the same subset with an ENGINE-INDEPENDENT
  oracle: edges from the same DuckDB edge SQL the committed oracle
  uses, transitive closure via Python union-find. The committed
  recursive-CTE closure materializes O(component^2) (node,label) pairs
  — correct semantics, but the degenerate corpus builds near-complete
  components and the CTE spilled >80 GB at 50k docs. Union-find is the
  textbook scalable closure and shares no code with the Spark path.
  (Output is integer-only; no float-flip class exists here at all.)

Usage: python scripts/sf1_oracle_gate.py [--skip-gen] [names...]
Writes one JSON line per query and the committed report to
SF1_ORACLE.json at the repo root.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from scripts.scale_stress import SF1, generate, generate_tpch  # noqa: E402

SUBSET = f"{SF1}_subset15k"
SUBSET_DOCS = 15_000

# Bound DuckDB's footprint so one pathological oracle cannot fill the
# disk and cascade errors into later queries (observed r6: the
# recursive-CTE closure spilled >80 GB and the NEXT query died on
# "no space left on device").
PRAGMAS = [
    "SET temp_directory='/tmp/duck_spill'",
    "SET max_temp_directory_size='40GB'",
    "SET memory_limit='32GB'",
]

GATE_QUERIES = [
    # pair-producing dedup / similarity family
    "dedup_clusters",
    "ngram_jaccard",
    "substring_dedup",
    "editdist_near_dup",
    "semantic_dedup",
    "decontaminate",
    "minhash_shingles",
    "simhash_dedup",
    "line_dedup",
    "embedding_near_dup",
    "embedding_lsh_bucket",
    # token-level text family (output ~ corpus token count)
    "explode_tokens",
    "lm_bigram_score",
    "cooccurrence_pmi",
    "bpe_pair_counts",
    "tfidf_top_terms",
    # O(input)-output window family over the 1M-row events table
    "window_running",
    "window_lag_delta",
    "window_distribution",
    "window_rank",
    # cross-corpus dedup incl. the persisted-index round-trip
    "incremental_dedup",
    "incremental_dedup_persisted",
    "incremental_minhash_dedup",
    "incremental_minhash_dedup_persisted",
    "incremental_minhash_index_update",
    # TPC-H SQL front-end q1-q22 over the 6M-row sf1 star schema
    # (r6 VERDICT item 1: the dec_sum/rounding-flip class scales with
    # emitted values and the q1-style aggregate surface is its natural
    # habitat — previously sf1 timing-only, oracle-checked at sf0.1).
    # Promptly wild-caught sum_charge's >2^53 double-rounding ulp flip.
    *[f"sql_frontend_q{i}" for i in range(1, 23)],
    # r7 curation family: rule-based + TRAINED quality filtering (the
    # classifier's 24-step fixed-point training re-derived by DuckDB's
    # unrolled CTE chain over the 50k-doc corpus), mixture sampling,
    # and URL/domain curation
    "gopher_quality_rules",
    "temperature_sampling",
    "unimax_mixture",
    "knn_graph_ivf",
    "knn_graph_nndescent",
    "knn_graph_recall",
    "length_curriculum_order",
    "knn_graph_dedup",
    "incremental_knn_graph",
    "incremental_knn_graph_persisted",
    "bpe_train_merges",
    "quality_classifier_ngram",
    "quality_classifier_weights",
    "quality_classifier_pr_curve",
    "quality_classifier_calibration",
    "quality_classifier_auc",
    "url_host_profile",
    "domain_cap_sample",
    # r7 additions: the BPE-encode vocabulary profile, per-language
    # perplexity terciles (ranks 50k quantized LM means), canonical-URL
    # dedup (~17k survivor groups), and the composed 3-stage funnel
    "bpe_token_stats",
    "ccnet_perplexity_buckets",
    "url_dedup_canonical",
    "curation_funnel_e2e",
    "pretrain_data_e2e",
    "bpe_train_merges_batched",
    "bpe_fertility_by_source",
    "embedding_pca_power",
    "embedding_abtt_projection",
    "host_pagerank",
    # r8 growth (r7 VERDICT item 4), stalest-first: the r4-era
    # embedding family value-compared over the 20k-vector sf1 table
    "embedding_kmeans",
    "embedding_centroids",
    "embedding_quantize",
    "embedding_cosine_topk",
    "ann_ivf_topk",
    "ann_ivf_multiprobe",
    "ivf_recall_audit",
    "mrl_truncation_audit",
    "negative_sampling",
    "embedding_array_stats",
    # the streaming eight against 10x input (1M-row events: 10x state
    # store volume; drained stream == batch SQL at scale)
    "streaming_tumbling_hourly",
    "streaming_sessionize",
    "streaming_dedup",
    "streaming_interval_join",
    "streaming_running_totals",
    "streaming_hopping_halfhour",
    "streaming_quality_gate",
    "streaming_left_interval_join",
    "streaming_restart_dedup",
    # r10: the late-data drop/keep boundary against the 1M-row stream
    # (4-file arrival choreography, ~200k late rows), and the
    # bounded-state dedup (2M-row replay, every key duplicated)
    "streaming_late_data",
    "streaming_dedup_within_watermark",
    # scaled-fixture gates (r9): the three golden-fixture queries,
    # value-compared at 10k chapters / 1000x markdown via SCALED_FIXTURE
    "ingest_normalize",
    "ingest_datasource",
    "streaming_datasource_ingest",
    "markdown_html",
    # r4-era text/dedup stalest cohort
    "exact_dedup_docs",
    "doc_fingerprint",
    "bm25_topk",
    "hybrid_rank_fusion",
    "token_count_bpe",
    "sequence_packing",
    # r8 additions: unigram ladder, real-PPM multimodal pair, bounded
    # near-dup manifests (subset — pair-volume-bound like ngram_jaccard)
    "unigram_train",
    "unigram_token_stats",
    "multimodal_decode",
    "multimodal_resize",
    "ngram_jaccard_topk",
    "dsir_importance",
    "c4_line_filter",
    # r8 two-phase rewrites (plan changed; value-compare the new shape;
    # sequence_packing already gated in the r4 cohort above)
    "adaptive_length_cutoff",
    "tokenizer_compare",
    # r8 second wave: the behavioral/window family over 1M-row events —
    # float-bearing windows (ewma, time-weighted, interpolation) are
    # where cross-engine drift classes live, previously gated <= sf0.01
    "funnel_steps",
    "cohort_retention",
    "scd2_collapse",
    "transition_matrix",
    "time_weighted_avg",
    "ewma_trailing",
    "locf_impute",
    "rolling_median",
    "resample_interpolate",
    "sessionize",
    "session_window_native",
    "tumbling_window",
    "hopping_window",
    "window_first_last",
    "window_range_frame",
    "ranking_functions",
    "window_distribution",
    # aggregate family over the 6M-row star schema
    "grouping_sets_agg",
    "time_rollup",
    "skew_salted_agg",
    "incremental_rollup",
    "agg_minmax_by",
    "agg_percentiles",
    "agg_stats",
    "conditional_agg",
    "histogram_bins",
    "agg_cube",
    "agg_groupby",
    "agg_rollup",
    "profile_table",
    # join family over the 6M-row star schema
    "fk_integrity_audit",
    "range_join_bucketed",
    "skew_salted_join",
    "full_outer_join",
    "outer_join_agg",
    "asof_join",
    "broadcast_join",
    "hash_join",
    "semi_anti_join",
    "correlated_subquery",
    "subquery_semantics",
    # r8 third wave: the remainder of the declared surface, so every
    # sf-scalable query carries an sf1 value-compare. Excluded, with
    # reasons: ingest_normalize / ingest_datasource / markdown_html
    # (golden fixture replay — input is the committed 8-row fixtures at
    # every sf, so the sf0.01 driver check already IS the maximal
    # check); minhash_accuracy runs on the 15k subset (pair-volume
    # bound by the degenerate hot band, like ngram_jaccard).
    "anomaly_zscore",
    "array_functions",
    "bitwise_functions",
    "cdc_merge",
    "class_balance",
    "countmin_heavy_hitters",
    "dataset_split",
    "datetime_functions",
    "dedup_lastwrite",
    "dispatch_union",
    "distinct_approx",
    "distinct_exact",
    "doc_chunking",
    "error_split",
    "feature_binning",
    "filter_pushdown",
    "hash_sample",
    "json_functions",
    "keyed_output_counts",
    "lang_id",
    "leakage_safe_split",
    "linear_regression",
    "map_functions",
    "minhash_accuracy",
    "minhash_banding_sweep",
    "mixture_plan",
    "multimodal_audio_features",
    "multimodal_framesample",
    "multimodal_meta",
    "nest_events_per_key",
    "nested_json_extract",
    "path_analysis",
    "pattern_profile",
    "percentile_sketch",
    "pii_redact",
    "pivot_counts",
    "prefix_dedup",
    "quality_filter_funnel",
    "quality_score",
    "recursive_date_spine",
    "repetition_ratio",
    "scan_project",
    "set_ops",
    "sketch_union",
    "skew_profile",
    "snapshot_diff",
    "source_overlap_matrix",
    "span_corruption_mask",
    "stratified_sample",
    "string_agg_ordered",
    "string_functions",
    "target_encode",
    "text_stats",
    "token_budget_trim",
    "topk_orders",
    "training_shuffle",
    "try_functions",
    "ts_normalize",
    "udaf_geomean",
    "udtf_ngrams",
    "unpivot_melt",
    "videos_normalize",
    "vocab_topk",
    "weighted_sampling",
    "zorder_layout",
    # r10: the selection/preference/graph/tokenizer additions
    "doremi_mixture_weights",
    "rho_loss_selection",
    "host_label_propagation",
    "bradley_terry_strength",
    "preference_pairs_dpo",
    "wordpiece_train_merges",
    "wordpiece_encode_stats",
    "packing_efficiency_audit",
    "bloom_filter_join",
    "distribution_drift_psi",
    "streaming_drift_psi",
    "pq_adc_topk",
    "ivfpq_topk",
    # r11: banding knob (subset — identical-set pair volume, like
    # dedup_clusters), removal spans, JM trigram LM, learned lang-ID,
    # perceptual-hash image dedup, best-of-n
    "dedup_clusters_banded",
    "substring_dedup_spans",
    "lm_trigram_jm_score",
    "lang_id_learned",
    "image_phash_dedup",
    "audio_fingerprint_dedup",
    "best_of_n_selection",
    "range_join_events",
    "lm_kneser_ney_score",
    "lsh_banding_plan",
    "quality_signal_agreement",
    "char_entropy_filter",
    "kcenter_coreset",
    "substring_dedup_apply",
    "hard_negative_mining",
    "bpe_vocab_prune_audit",
    "dsir_resample",
    "tfidf_kmeans_clusters",
    # r12: repetition rules, best-fit packing, bucketed layout,
    # cluster pruning, incremental IVF
    "gopher_repetition_rules",
    "sequence_packing_bestfit",
    "bucketed_join_layout",
    "cluster_prune_prototypes",
    "tfidf_cluster_prune",
    "incremental_ivf",
    "incremental_ivf_persisted",
    "streaming_static_enrich",
]

SUBSET_QUERIES = {
    "dedup_clusters",
    "ngram_jaccard",
    "ngram_jaccard_topk",
    "minhash_accuracy",
    # same candidate pipeline, same DuckDB oracle cost shape (r10)
    "minhash_banding_sweep",
    # r11: identical-set classes collide on ALL bands at any r, so the
    # banded variant's oracle edge volume is the same
    # sum-of-squared-class-sizes as dedup_clusters' (223k pairs at 15k
    # docs, 2.8M at 50k)
    "dedup_clusters_banded",
}

# --- scaled-fixture gates (r8 VERDICT item 7) -------------------------
# The three golden-fixture queries have no sf1 corpus by design; their
# scaled twins fan the SAME golden protos out by a pure formula — 10k
# chapters cycling the four adapters (one DataSource partition per
# chapter), 1000x the markdown corpus — so the expected output is the
# golden table joined to the formula, and the gate value-compares it
# like any other query.

FIXTURE_N_CHAPTERS = 10_000
FIXTURE_MD_REPS = 1_000


def _scaled_ingest_normalize(spark):
    from cuttlefish_spark.operators.ingest import _flat_frame
    from cuttlefish_spark.sources.adapters import dispatch_replay
    from cuttlefish_spark.sources.fixtures import synth_chapters

    return _flat_frame(dispatch_replay(spark, synth_chapters(FIXTURE_N_CHAPTERS)))


def _scaled_ingest_datasource(spark):
    import tempfile

    from cuttlefish_spark.operators.ingest import datasource_canonical
    from cuttlefish_spark.sources.fixtures import write_chapters_json

    path = os.path.join(tempfile.mkdtemp(prefix="chapters10k"), "chapters.json")
    write_chapters_json(FIXTURE_N_CHAPTERS, path)
    # datasource_canonical already emits the flat golden schema.
    return datasource_canonical(spark, chapters_path=path)


def _scaled_markdown_html(spark):
    from pyspark.sql import functions as F

    from cuttlefish_spark.functions.markdown import (
        MD_FIXTURE,
        markdown_to_html_minimal,
    )

    base = spark.createDataFrame(MD_FIXTURE, "doc_id long, text string")
    reps = spark.range(FIXTURE_MD_REPS).select(F.col("id").alias("rep"))
    docs = base.crossJoin(reps).select(
        (F.col("doc_id") + 12 * F.col("rep")).alias("doc_id"), "text"
    )
    html = markdown_to_html_minimal(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(F.encode(html, "UTF-8")).alias("html_md5"),
        F.length(html).cast("long").alias("n_html_chars"),
    )


def _scaled_ingest_oracle() -> str:
    from cuttlefish_spark.operators.ingest import _INGEST_GOLDEN_SQL

    return f"""
    WITH ch AS (
        SELECT 'c' || lpad(CAST(i AS VARCHAR), 5, '0') AS chapter_id,
               CASE i % 4 WHEN 0 THEN 'newyork' WHEN 1 THEN 'stlouis'
                          WHEN 2 THEN 'london' ELSE 'atlantis' END AS proto
        FROM (SELECT unnest(range(0, {FIXTURE_N_CHAPTERS})) AS i)
    ),
    g AS ({_INGEST_GOLDEN_SQL})
    SELECT ch.chapter_id, g.event_id, g.url, g.time, g.utc_offset, g.title,
           g.description, g.venue_city, g.venue_postal, g.venue_lon,
           g.venue_lat, g.n_photos, g.status, g.error
    FROM ch JOIN g ON g.chapter_id = ch.proto
    """


def _scaled_md_oracle() -> str:
    from cuttlefish_spark.operators.ingest import _MD_GOLDEN_SQL

    return f"""
    WITH g AS ({_MD_GOLDEN_SQL}),
    r AS (SELECT unnest(range(0, {FIXTURE_MD_REPS})) AS rep)
    SELECT g.doc_id + 12 * r.rep AS doc_id, g.html_md5, g.n_html_chars
    FROM g CROSS JOIN r
    """


def _scaled_streaming_ingest(spark):
    import tempfile

    from cuttlefish_spark.operators.ingest import streaming_ingest_canonical
    from cuttlefish_spark.sources.fixtures import write_chapters_json

    path = os.path.join(tempfile.mkdtemp(prefix="chapters10k"), "chapters.json")
    write_chapters_json(FIXTURE_N_CHAPTERS, path)
    return streaming_ingest_canonical(
        spark, chapters_path=path, chapters_per_batch=500
    )


SCALED_FIXTURE = {
    "streaming_datasource_ingest": (
        _scaled_streaming_ingest,
        _scaled_ingest_oracle,
        f"fixture-{FIXTURE_N_CHAPTERS}-chapters (simpleStreamReader, "
        "500 chapters/microbatch)",
    ),
    "ingest_normalize": (
        _scaled_ingest_normalize,
        _scaled_ingest_oracle,
        f"fixture-{FIXTURE_N_CHAPTERS}-chapters (driver-side fetch)",
    ),
    "ingest_datasource": (
        _scaled_ingest_datasource,
        _scaled_ingest_oracle,
        f"fixture-{FIXTURE_N_CHAPTERS}-chapters (DataSource, replay "
        "one chunk per core)",
    ),
    "markdown_html": (
        _scaled_markdown_html,
        _scaled_md_oracle,
        f"fixture-x{FIXTURE_MD_REPS} ({12 * FIXTURE_MD_REPS} docs)",
    ),
}

EVENTS_N = 1_000_000
EVENTS_USERS = 15_000
SEED = 43


def generate_events() -> None:
    """10x events with sf0.1's marginals (profiled: 100k rows / 1500
    users at sf0.1; uniform event types, ts ~ U(2024-01-01, 2024-01-31),
    value ~ U(0, 560) rounded to cents, props a one-key JSON object)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SEED)
    os.makedirs(SF1, exist_ok=True)
    t0 = np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
    t1 = np.datetime64("2024-01-31").astype("datetime64[us]").astype(np.int64)
    ks = rng.integers(0, 100, EVENTS_N)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(EVENTS_N, dtype=np.int64)),
                "ts": pa.array(
                    rng.integers(t0, t1, EVENTS_N).astype("datetime64[us]")
                ),
                "user_id": pa.array(rng.integers(0, EVENTS_USERS, EVENTS_N)),
                "event_type": pa.array(
                    rng.choice(
                        ["signup", "purchase", "view", "click", "error"],
                        EVENTS_N,
                    )
                ),
                "value": pa.array(np.round(rng.uniform(0, 560, EVENTS_N), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in ks]),
            }
        ),
        f"{SF1}/events.parquet",
    )


def build_subset() -> None:
    """15k-doc subset dir: documents truncated, every other table
    symlinked to the full sf1 corpus."""
    import pyarrow.parquet as pq

    os.makedirs(SUBSET, exist_ok=True)
    docs = pq.read_table(f"{SF1}/documents.parquet").slice(0, SUBSET_DOCS)
    pq.write_table(docs, f"{SUBSET}/documents.parquet")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "embeddings".split()
    ):
        dst = f"{SUBSET}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SF1}/{t}.parquet", dst)


def union_find_clusters(edges_a, edges_b, doc_ids):
    """min-label connected components: cluster_id = min doc_id of the
    component; independent of the Spark iterative-propagation path."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(edges_a, edges_b):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # smaller id always the root -> min-label
    rows = []
    for d in doc_ids:
        d = int(d)
        lbl = find(d)
        rows.append((d, lbl, lbl == d))
    import pandas as pd

    return pd.DataFrame(rows, columns=["doc_id", "cluster_id", "is_canonical"])


def dedup_clusters_oracle(sf_dir: str, banded: bool = False):
    """Edges from the committed oracle's edge SQL; closure in Python
    (the recursive CTE is super-quadratic on this corpus's clique-heavy
    near-dup graph; the edge SQL + union-find re-derivation is the
    independent check at scale). banded=True swaps in the wide
    signature + b=1,r=8 edge predicate of dedup_clusters_banded."""
    import cuttlefish_spark.operators.dedup as dd
    from tests.oracle_harness import run_oracle

    sig_sql = dd._TOKSIG_WIDE_SQL
    if banded:
        edge_sql = dd._CLUSTER_EDGE_B1R8_SQL
    else:
        # Adaptive flagship (r12): re-derive the banding decision in
        # DuckDB (the same _ADAPT_DEC_SQL integer statistic the inline
        # oracle and the Spark operator use), then run the chosen
        # branch's edge SQL.
        dec = run_oracle(
            f"WITH sig AS ({sig_sql}), {dd._ADAPT_DEC_SQL} "
            "SELECT rpb FROM dec",
            sf_dir,
            pragmas=PRAGMAS,
        )
        rpb = int(dec["rpb"].iloc[0])
        edge_sql = (
            dd._CLUSTER_EDGE_B1R8_SQL if rpb == 8 else dd._CLUSTER_EDGE_SQL
        )
    edges = run_oracle(
        f"WITH sig AS ({sig_sql}), e AS ({edge_sql}) "
        "SELECT doc_a, doc_b FROM e",
        sf_dir,
        pragmas=PRAGMAS,
    )
    docs = run_oracle("SELECT doc_id FROM documents", sf_dir, pragmas=PRAGMAS)
    return union_find_clusters(
        edges["doc_a"].to_numpy(), edges["doc_b"].to_numpy(),
        docs["doc_id"].to_numpy(),
    )


def main() -> int:
    from cuttlefish_spark.registry import load_all
    from cuttlefish_spark.session import get_spark
    from tests.oracle_harness import compare, run_oracle

    spark = get_spark(
        "sf1-oracle-gate", cpus=os.environ.get("SPARK_GRAFT_CPUS", 32)
    )
    skip = "--skip-gen" in sys.argv
    if not (skip and os.path.exists(f"{SF1}/documents.parquet")):
        generate(spark)
    if not (skip and os.path.exists(f"{SF1}/lineitem.parquet")):
        generate_tpch()
    if not (skip and os.path.exists(f"{SF1}/events.parquet")):
        generate_events()
    build_subset()

    only = [a for a in sys.argv[1:] if not a.startswith("--")]
    specs = load_all()
    report: dict[str, dict] = {}
    out_path = Path(REPO) / "SF1_ORACLE.json"
    if only and out_path.exists():
        # A named-subset run MERGES into the committed report instead of
        # clobbering the other queries' rows (used to append newly added
        # operators to the gate without re-running the whole suite).
        try:
            with open(out_path) as f:
                report = json.load(f).get("queries", {})
        except (OSError, ValueError):
            report = {}
    n_fail = 0
    for name in dict.fromkeys(only or GATE_QUERIES):
        scaled = SCALED_FIXTURE.get(name)
        if scaled is None:
            spec = specs[name]
        sf_dir = SUBSET if name in SUBSET_QUERIES else SF1
        row: dict = {
            "scale": scaled[2]
            if scaled
            else ("sf0.3-subset" if name in SUBSET_QUERIES else "sf1")
        }
        try:
            t0 = time.monotonic()
            got = (
                scaled[0](spark) if scaled else spec.fn(spark, sf_dir)
            ).toPandas()
            row["spark_sec"] = round(time.monotonic() - t0, 2)
            t0 = time.monotonic()
            if name == "dedup_clusters":
                want = dedup_clusters_oracle(sf_dir)
                row["oracle"] = "edge-SQL + union-find closure"
            elif name == "dedup_clusters_banded":
                want = dedup_clusters_oracle(sf_dir, banded=True)
                row["oracle"] = "edge-SQL (b1r8) + union-find closure"
            elif scaled:
                want = run_oracle(scaled[1](), sf_dir, pragmas=PRAGMAS)
            else:
                want = run_oracle(spec.oracle, sf_dir, pragmas=PRAGMAS)
            row["oracle_sec"] = round(time.monotonic() - t0, 2)
            row["rows"] = len(got)
            compare(got, want, name)
            row["status"] = "match"
        except AssertionError as e:
            row["status"] = "MISMATCH"
            row["detail"] = str(e)[:500]
            n_fail += 1
        except Exception as e:  # noqa: BLE001 — gate must report, not die
            row["status"] = "ERROR"
            row["detail"] = f"{type(e).__name__}: {e}"[:500]
            n_fail += 1
        report[name] = row
        print(json.dumps({name: row}), flush=True)
        shutil.rmtree("/tmp/duck_spill", ignore_errors=True)

    n_mismatch_total = sum(
        1 for r in report.values() if r.get("status") != "match"
    )
    out = {
        "sf": 1,
        "docs": 50_000,
        "subset_docs": SUBSET_DOCS,
        "embeddings": 20_000,
        "events": EVENTS_N,
        "lineitem": 6_000_000,
        "n_queries": len(report),
        "n_mismatch": n_mismatch_total,
        "queries": report,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"summary": {"n_queries": len(report), "n_mismatch": n_fail}}))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
