"""Audit the physical plan of every declared query and write PLANS.md.

For each query: exchange (shuffle) count, broadcast joins, sort-merge
joins, whole-stage-codegen presence, Python-eval operators, and scan
pushdown evidence — the at-a-glance proof that the engine's plans are
the ones you'd want at 100 TB, kept current by re-running this script.

Usage: python scripts/plan_audit.py  [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from cuttlefish_spark.plans import checks  # noqa: E402
from cuttlefish_spark.registry import load_all  # noqa: E402
from cuttlefish_spark.session import get_spark  # noqa: E402

HEADER = """# PLANS — physical-plan audit of every declared query

Generated by `scripts/plan_audit.py` (re-run after plan-affecting
changes). Columns:

- **Exch** — number of Exchange (shuffle) operators. Narrow ops show 0;
  one keyed aggregation/join shows 1; salted two-stage aggs show 2.
- **BHJ / SMJ / BNLJ** — broadcast-hash / sort-merge / broadcast-nested-
  loop join counts. BNLJ > 0 is acceptable only for deliberate tiny
  cross products (probe-vector joins).
- **WSCG** — whole-stage codegen present (JVM-compiled pipeline).
- **Py** — Python-eval operators in the plan (ArrowEvalPython /
  MapInPandas / PythonDataSource / FlatMapGroupsInPandas); the declared
  slow paths only.
- **Scan** — pushed filters and/or pruned read schema observed on a
  parquet scan (n/a for fixture-backed plans).

| Query | Exch | BHJ | SMJ | BNLJ | WSCG | Py | Scan |
|---|---|---|---|---|---|---|---|
"""


FOOTER = """
## Notes

- `try_functions` (r1 bench 6.3 s outlier, resolved): Spark's try_cast
  reports each failed parse by throwing and catching a JVM exception
  per row; with a third of rows failing that dominated the 0-exchange
  plan. Each cast now sits behind a cheap validity guard (digit regex /
  day-range check) that routes known-bad rows to NULL without entering
  the parser — ~5x faster, identical results.
- `token_budget_trim` / `feature_binning`: global prefix scans run as
  two-phase distributed cumsum (range repartition -> per-partition
  subtotals to the driver -> windowed within partitions + offset);
  no ordered window with an empty partition spec remains in the tree
  (pinned by tests/test_plans.py::test_no_global_ordered_windows;
  vocab_topk's 50-row post-cut rank window is the documented
  exemption).
- `ngram_jaccard` / `dedup_clusters` / `embedding_near_dup`: candidate
  generation is MinHash-band / LSH-bucket equi-joins (high-cardinality
  keys), never a low-cardinality block key; band joins carry bare id
  pairs and payload arrays join on once per candidate (plain keyed
  join — AQE broadcasts at test scale; a forced broadcast would
  collect corpus-sized arrays to the driver). On the synthetic corpus
  (~8% of ALL pairs are true 0.9-Jaccard dups) the output itself is
  near-quadratic, so their wall time tracks the real pair count, not
  wasted comparisons.
- `dedup_clusters` (r3 bench 18.2 s outlier, resolved r4): profiled at
  sf0.1 as ~6 s sig-build + pair-verify over 4.46M true >=0.7 edges +
  ~7 s CC machinery. Three changes, oracle-identical results: (1)
  token payloads ride as 60-bit md5-window hashes (`hw`) instead of
  strings — long-array intersects are ~2x cheaper and the md5 is
  already paid for the MinHash; (2) Jaccard = i/(na+nb-i) from ONE
  intersect (union arrays never built); (3) exact-dup collapse before
  the band join: docs with identical token sets (sf0.1: 5000 -> 3935)
  map to a min-doc representative via one sorted-hash-array window —
  equal sets share bands and have J=1.0, so the oracle's closure puts
  members in the rep's component anyway; edges drop 4.46M -> 1.67M and
  the CC passes shrink with them. Warm solo: 18.2 -> 8.1 s. At 100 TB
  the collapse is the standard exact-dedup-before-fuzzy-dedup stage
  and removes the dup-rate^2 share of the quadratic pair volume.
- decimal-free exact sums (r4): every oracle-checked SUM over value-
  like doubles runs as round(x*1e6)-as-LONG partial sums divided back
  once (`functions.columns.dec_sum`) — the same 6-decimal quantization
  DECIMAL(18,6) applies, minus the per-row BigDecimal boxing (measured
  5x on the Q1-style summary). Capacity |total| < 9.2e12; widen to
  decimal(38,0) past that.
- round(x, 6) is NOT cross-engine deterministic even on bit-identical
  doubles (found r4 via lm_bigram_score at sf0.1): Spark rounds the
  shortest DECIMAL repr of the double (BigDecimal HALF_UP) while
  DuckDB rounds the BINARY product x*1e6 (std round, half away) — a
  value whose decimal repr sits within one ulp below a half boundary
  but whose *1e6 product lands exactly on .5 (observed:
  -3.4140894999999998 -> Spark -3.414089, DuckDB -3.414090) flips
  between engines. Incidence ~1 per ~5M emitted values. Mitigation
  hierarchy used here: (1) best — emit UNROUNDED quotients of
  identical integers (dec_sum's discipline; lm_bigram_score's
  avg_logprob after the r4 fix): IEEE division is bit-identical, no
  boundary exists; (2) round transcendental outputs (exp/ln) coarsely
  (ppl at 2 decimals: flip odds ~1e-12/value); (3) round(,6) on
  algebraically-identical doubles (cosines etc.) retains the ~2e-7
  per-million-value residual — acceptable for the pair-emitting ops
  whose outputs are bounded, and the oracle gate would surface a hit
  as a single-row hash diff.
- sf1 scale-stress of the pair-producing family (r5,
  `scripts/scale_stress.py`): a 10x corpus (50k docs / 20k embeddings,
  same generative distributions as the driver data — 31-word vocab,
  ~54-token docs, observed lang mix, 0.16% exact-dup + 0.16%
  one-token-edit rate; embeddings N(0, 0.125^2)/dim) was generated and
  each query timed warm at sf0.1 vs sf1 alongside its output volume.
  Wall-time exponent (log10 t_ratio) vs output-volume exponent:

  | query | sf0.1 s | sf1 s | out sf0.1 | out sf1 | t_exp | vol_exp |
  |---|---|---|---|---|---|---|
  | dedup_clusters | 7.77 | 47.9 | 5,000 | 50,000 | 0.79 | 1.00 |
  | ngram_jaccard | 1.04 | 51.3 | 945,234 | 87,237,343 | 1.69 | 1.97 |
  | substring_dedup | 0.33 | 0.36 | 5,000 | 50,000 | 0.03 | 1.00 |
  | editdist_near_dup | 0.75 | 1.64 | 79 | 38 | 0.34 | n/a |
  | semantic_dedup | 0.92 | 1.19 | 2,000 | 20,000 | 0.11 | 1.00 |
  | decontaminate | 1.11 | 2.05 | 39 | 559 | 0.27 | 1.16 |

  Reading: every query's time exponent is <= its volume exponent —
  runtime grows no faster than the work the semantics demand. The one
  near-quadratic row (ngram_jaccard, vol 92x) is TRUE pair volume
  (the tiny synthetic vocab makes ~0.2% of all pairs 0.5-Jaccard
  similar; 87M emitted pairs at sf1) and its time grew only 49x —
  candidate generation stayed bounded by real output, not n^2 probes.
  editdist emits FEWER pairs at sf1 (longer docs make the random
  32-char prefix/suffix collisions rarer — block keys get more
  selective as the corpus grows, the desired direction). Driver
  ru_maxrss delta was 0.0 MB for every measurement: no collect()-shaped
  driver growth anywhere in the family. dedup_clusters' 6.2x at 10x
  data reflects its fixed CC-round machinery amortizing, not added
  per-row cost. Second wave (same corpus, same method):

  | query | sf0.1 s | sf1 s | out sf0.1 | out sf1 | t_exp | vol_exp |
  |---|---|---|---|---|---|---|
  | minhash_shingles | 1.20 | 1.34 | 253 | 152 | 0.05 | n/a |
  | simhash_dedup | 0.46 | 1.02 | 280,720 | 18,532,208 | 0.34 | 1.82 |
  | line_dedup | 0.34 | 0.35 | 5,000 | 50,000 | 0.01 | 1.00 |
  | embedding_near_dup | 0.96 | 1.13 | 81 | 6,916 | 0.07 | 1.93 |
  | embedding_lsh_bucket | 0.91 | 0.89 | 108 | 9,709 | -0.01 | 1.95 |

  simhash emits 66x the pairs for 2.2x the time; the two LSH embedding
  ops absorb ~90x output growth at flat wall-clock (bucket sizes grow
  linearly, the numpy block kernels are bandwidth-bound, and output
  stays a tiny fraction of corpus size). minhash emits FEWER pairs at
  sf1 (longer random docs dilute 3-shingle Jaccard below the 0.5
  cut — band false-positives get verified away; the verify cost is
  the candidate count, which grew linearly).
- sf1 scale-stress of the COMPLETE TPC-H suite (r5,
  `scripts/scale_stress.py --tpch`): a 10x star schema (6M lineitem /
  1.5M orders / 150k customer / 10k supplier / 200k part, marginals
  mirrored from sf0.1 — serial keys, uniform FKs, independent-uniform
  dates exactly as the driver data has them) timed warm at sf0.1 vs
  sf1. Time exponents for 10x INPUT (1.0 would be linear scaling;
  well under 1 means fixed overheads amortize and the plan stays
  scan/shuffle-bound): q1 0.12, q2 0.36, q3 -0.14, q4 0.65, q5 0.58,
  q6 0.12, q7 0.32, q8 0.10, q9 0.30, q10 0.43, q11 0.22, q12 0.43,
  q13 0.43, q14 0.20, q15 0.14, q16 0.15, q17 0.23, q18 0.44,
  q19 0.05, q20 0.23, q21 0.82, q22 0.69. EVERY query is sublinear in
  input volume; the worst (q21, 1.3s -> 8.6s) is the three-pass
  fact-table self-semi/anti query, still 6.6x time for 10x data with
  its LIMIT-100 output flat. Driver ru_maxrss delta 0.0 MB across all
  44 measurements — no per-row driver state anywhere in the SQL
  front-end. (Absolute sf1 numbers: q1 0.83s over 6M rows ~ 7.2M
  rows/s/query on local[32] shared with a concurrent test run.)
- Third wave (same 10x corpus): source_overlap_matrix 2.06s -> 4.41s
  (t_exp 0.33; output saturates at all 190 source pairs as rare-
  shingle overlap accumulates — the DF cap keeps join fan-out bounded
  regardless), incremental_dedup 0.91s -> 1.18s (t_exp 0.11 for 10x
  verdicts), adaptive_length_cutoff flat at ~0.3s (20-row output).
  Driver RSS delta 0.0 MB for all six measurements.
- RSS methodology fix (r5 review): the original ru_maxrss delta was
  sampled AFTER the untimed warm-up run — a lifetime peak read there
  cannot see driver growth the warm-up already caused, so the zeros
  above were vacuous. Re-measured with the baseline read BEFORE the
  warm-up and the session primed (spark.range(1e5).toPandas() absorbs
  one-time py4j/Arrow allocations): every pair-family and TPC-H
  measurement is a true 0.0 MB except dedup_clusters' 24.2 MB at
  sf0.1 — which stays 0.0 MB at sf1 (10x data), i.e. fixed
  first-in-session machinery (plan/state buffers + scalar convergence
  collects), not data-proportional materialization. The corrected
  numbers CONFIRM the original conclusion; the method that produced
  the original zeros could not have.
- BPE training depth stress (r7, `scripts/bpe_depth_stress.py`): the
  bpe_train_merges loop run for 64 merges over the sf1 corpus (50k
  docs). Per-round wall-clock FALLS as merges accumulate — first-8
  median 0.407 s vs last-8 median 0.217 s, max 0.98 s (round 1, plan
  warm-up), min 0.183 s, 16.0 s total — because each merge shrinks the
  O(vocab) symbol table the next round scans; nothing in the round
  cost grows with merge index or symbol length. This is the measured
  form of the O(vocab) claim: the corpus collapses once to word
  frequencies, and 64 sequential rounds stay scan-bound on a table
  that only shrinks. (64th merge still count-driven: ("gr","o") at
  86,847 occurrences.)
- r8 sf1 scale-stress (10x input, `scripts/scale_stress.py`):
  dsir_importance time_exp 0.00 (2.13 s -> 2.14 s; the 128-bucket model
  shuffle is constant-size, both corpus passes scan-bound),
  c4_line_filter 0.03 (no shuffle at all), unigram_train -0.05 /
  unigram_token_stats 0.05 (E-steps run on the O(vocabulary) word
  table, which the 31-word corpus keeps constant), and
  ccnet_perplexity_buckets 0.12 — the r7 weak item's two-phase
  per-language rank measured at 10x: 3.0 s -> 4.0 s where the old
  lang-partitioned window funneled each language through one task.
  Driver RSS flat for all five. The same sweep after converting the
  two remaining low-card-key pipeline windows to the two-phase shape
  (guard: test_no_low_card_ordered_windows over {lang, source,
  event_type, label}): adaptive_length_cutoff -0.05 (per-source
  two-phase rank), sequence_packing 0.40 vs output exp 0.98 (per-
  source two-phase prefix sum). window_distribution and
  ranking_functions were converted in r9 to closed forms over the
  two-phase rank (operators/twophase.py) — the guard's exemption set
  is now EMPTY; no low-card-key ordered window remains anywhere in
  the surface. ngram_jaccard_topk is candidate-bound
  like ngram_jaccard (vol_exp 1.97, semantics-bound) — its sf1
  evidence is the 15k-subset oracle gate (44,215 output rows
  value-compared; output is capped at k rows/doc, exp 1.0 by
  construction).
- r9 new-query sf1 scale-stress (10x input,
  `scripts/scale_stress.py --skip-gen <names>`): pretrain_data_e2e
  time_exp **0.40** (5.6 s -> 14.3 s — nine composed stages including
  the 24-step classifier training and the survivor-set MinHash bands;
  output fixed at one row/source; driver RSS flat),
  ann_ivf_multiprobe 0.50 (assignment pass is the linear term; the
  three probe branches are cell-bound), bm25_topk 0.12 (two
  index-build aggregates + broadcast dims), mrl_truncation_audit 0.09
  (probe-sampled brute force, P fixed), bpe_train_merges_batched
  **0.04** (corpus collapses to word frequencies once; 4 driver syncs
  regardless of scale), hybrid_rank_fusion 0.15 (RRF over the BM25 and
  cosine rankings, both computed as two-phase GLOBAL ranks — constant
  query-id key, O(partitions) offset collects). All six: zero
  driver-RSS growth at 10x.
- Batched-BPE depth stress (r9,
  `scripts/bpe_batched_depth_stress.py`, 16 rounds over sf1): 63
  merges land in 16 driver syncs — the dominance batch stays FULL at
  depth (15 rounds of 4, one of 3; starvation as the pair table
  concentrates does not materialize) — with per-round cost FALLING
  (first-4 median 0.48 s vs last-4 0.27 s, 6.1 s total). The
  sequential trainer's 64-merge stress on the same corpus took 16.0 s
  in 64 syncs: batching cuts both wall-clock (~2.6x) and the
  sync count (4x) at identical answer quality per the dominance
  contract — the measured form of the 32k-merge production argument.
- Chapter-fetch task batching (r9, `chapters_per_partition`, now
  `operators.ingest.chapter_chunks`): a Python fetch task costs
  ~0.5 core-seconds of setup, so the 10k-chapter fixture work-list at
  the reference-parity 1 chapter/partition sustains ~108 chapters/s
  on local[32]; batching 16/partition -> 1,437/s (13x, 625 tasks) and
  100/partition -> 932/s (scheduling-granularity loss past ~3 waves).
  Output is partitioning-invariant (pinned by
  tests/test_adapters.py::test_datasource_chapter_batching_invariance
  and test_datasource_replay_auto_batching). Defaults are
  transport-dependent since r10 (r9 VERDICT item 5): live HTTP keeps
  1/partition — the scheduler owns retry/latency skew at item
  granularity — while replay/cache-backed work-lists auto-batch to
  ~n/(3*parallelism), which took the 10k-chapter sf1 gate row from
  177.8 s to 11.8 s (value-match unchanged). Replay now makes one
  chunk per core, ceil(n/parallelism) chapters each, so the fetch runs
  in one wave and each core pays the task setup once; an explicit
  `chapters_per_partition` always wins.
- Zipfian-vocabulary tokenizer stress (r9,
  `scripts/zipf_vocab_stress.py`; closes the r8 "vocabulary-degenerate
  evidence" item): 50k docs drawing from a 49,165-distinct-word
  zipf(1.1) vocabulary — 1,586x the 31-word corpus the r7/r8 depth
  stresses rode on. Unigram hard-EM, 8 rounds: first-4 median 1.17 s
  vs last-4 median 1.04 s (flat), and the driver-side collects stay
  O(model), NOT O(vocab) — 99-136 rows/round measured (alphabet
  singles + top-120 candidates + usage of the surviving pieces). BPE,
  64 merges: first-8 median 0.48 s vs last-8 0.34 s (falling), one
  argmax row per merge. Against the 31-word baseline the per-round
  cost grew only ~2.5x (unigram) / ~1.6x (BPE) for a 1,586x vocab:
  both trainers are corpus-scan-bound, which is the O(vocab) claim in
  its measured form. The one-argmax-per-merge driver round-trip note
  is RETIRED by `bpe_train_merges_batched` (r9): per round, the top-32
  pairs are ranked and the 1-hop-dominance-compatible subset (no
  symbol OR merged-string overlap with any higher-ranked candidate —
  the rule that provably keeps a single left-to-right application
  pass chain-free) applies as ONE batch, so a 32k-merge production
  vocab needs ~32k/M driver syncs instead of 32k at identical
  per-pass cost.
- IVF recall-vs-cost sweep (r9, `ivf_recall_audit` at sf1, 20k
  vectors, 8 cells, 10 probes): nprobe=1 -> recall@10 0.86 at 12.7%
  of the corpus scanned; nprobe=2 -> 0.88 at 24.8%; nprobe=4 -> 0.96
  at 48.9%. This is the measured knob a 100 TB ANN deployment turns:
  the marginal cell (1->2) buys little on this corpus while 4 cells
  approach exact recall at half the scan — with more/finer cells the
  curve shifts, and the audit re-measures it from the same plan.
  `ann_ivf_multiprobe` is the serving-path twin (per-nprobe
  TakeOrdered branches over the checkpointed assignment manifest;
  centroid ranks via self-join count, never an ordered window).
  The third ANN-evidence knob, `mrl_truncation_audit` (dimension
  truncation, k in {8,16,32,64} vs full 64-dim), originally measured
  recall@10 = 0.00 / 0.02 / 0.14 / 1.00 at sf1 — constant by
  construction, because isotropic N(0, sigma) embeddings concentrate
  NO neighbor structure in leading coordinates. Since r10 (r9 VERDICT
  item 6) the audit applies a deterministic ANISOTROPIC transform
  inside the query (dim j scaled by the decaying integer 64-j; one
  IEEE multiply, identical arithmetic in the oracle via DuckDB's
  indexed list_transform), giving leading dims the variance dominance
  an MRL-trained embedding has: the curve is now strictly increasing
  (0.08 / 0.24 / 0.73 / 1.00 at sf0.1) and the k=64 row remains the
  built-in 1.0 sanity anchor.
- sf10 scale rung, non-pair family (r10, `scripts/scale_stress.py
  --sf10`, 500k docs — r9 VERDICT item 4; the 100 TB argument now
  rests on TWO measured decades, sf0.1->sf1->sf10):
  substring_dedup time_exp **-0.08** (0.77 s -> 0.64 s at 10x,
  out_rows exp 1.0), line_dedup **-0.00** (0.51 s -> 0.51 s) — both
  flat-to-falling wall-clock at 10x input, driver RSS flat. The
  pair-enumerating members were NOT run on this corpus, with the
  arithmetic recorded rather than a silent skip: the degenerate
  31-word vocabulary makes ~7% of ALL pairs genuinely 0.5-Jaccard
  similar (87M emitted pairs at sf1, vol_exp 1.97), so sf10 implies
  ~8.7e9 candidate/output pairs and ONE giant near-dup component —
  an attempted dedup_clusters run held 26 cores for 15+ minutes with
  0/64 band-join tasks complete before being stopped. Quadratic BY
  SEMANTICS: any correct clustering of that graph is O(true pairs);
  no real crawl looks like this corpus.
- sf10 scale rung, pair-enumerating family on a REALISTIC vocabulary
  (r10, `scripts/scale_stress.py --sf10-zipf`, 50k->500k docs drawing
  from a 50k-type HEAD-TRUNCATED zipf(1.1) vocabulary, p(r) ~
  1/(r+100)^1.1, same 0.16% exact-dup + 0.16% one-token-edit planting
  as the driver corpus): ngram_jaccard time_exp **0.93** vs pair_exp
  1.01 (1.8 s -> 15.6 s, 148 -> 1,502 true pairs — dup-planting-bound
  like a real crawl), ngram_jaccard_topk **0.80** vs 1.02,
  minhash_shingles **0.83** vs 1.01, minhash_accuracy **0.76** (fixed
  3-row output; comparator is its candidate stream), dedup_clusters
  **1.22** vs out_rows exp 1.00 — adjudicated by probing its real
  work driver: the b=2,r=2 band-candidate stream grew at exponent
  **2.03** (165,441 -> 17,579,825 candidates) while VERIFIED edges
  stayed linear (74 -> 786), so wall-clock is strongly sublinear in
  candidate work (16.4x time for 106x candidates; the length-ratio
  prefilter + cheap intersect absorb the false positives). The
  measured 100 TB lesson: LSH false-positive candidates grow
  ~n^2 * mean-collision-rate^r for FIXED banding — the knob
  production turns with corpus size is r (hashes per band; Lee 2021
  uses 20x20 at web scale), and `minhash_accuracy` is exactly the
  audit that tells you when b=2,r=2 stops being enough. Driver RSS
  flat across all seven sf10 measurements. Head truncation is itself
  a recorded finding: with the raw zipf head, the top type lands in
  ~99% of 54-token docs (a stopword) and funnels a constant corpus
  fraction into one band bucket — the run showed a 3-straggler-task
  tail at 26-core idle until stopped; token-set Jaccard presumes
  content words, and production pipelines strip stopwords before
  shingling (C4/CCNet), which the truncation models.
- Unigram-LM EM depth stress (r8, `scripts/unigram_depth_stress.py`):
  the unigram hard-EM loop run for 8 rounds over the sf1 corpus (50k
  docs). Per-round wall-clock FLAT-TO-FALLING — first-4 median 0.487 s
  vs last-4 median 0.413 s, max 0.95 s (round 1, plan warm-up), 4.02 s
  total — each E-step is one Viterbi pass over the O(vocabulary)
  distinct-word table plus an O(V) usage collect, and unlike BPE the
  vocabulary does not grow with depth. EM converged (cost table
  identical) by round 8; final vocab 55 pieces. Measured form of the
  tokenizer ladder's O(vocab) claim for its second trainer.
- ngram_jaccard vs ngram_jaccard_topk output contract (r8): the
  exhaustive pair dump emits O(dups^2) rows (87M true pairs at sf1,
  vol_exp 1.97 — semantics-bound) and exists as the auditable oracle
  form; the top-k variant caps output at k=3 rows/doc over the SAME
  candidate pipeline (identical band joins + length prune + single-
  intersect Jaccard; the only addition is a rank window partitioned by
  corpus-cardinality doc_id). Consumers of near-dup evidence at 100 TB
  take the top-k manifest; audits and oracles take the exhaustive dump.
- Fixed-point classifier training (r7, quality_classifier_ngram):
  each of the 24 gradient steps is ONE job — broadcast 129-row model
  join, exchange-free doc aggregate + labels join (both sides
  co-partitioned by doc_id from the localCheckpoint), 129-key gradient
  aggregate, O(129)-row collect. Measured per-step cost (~0.7 s at
  sf0.1) equals this harness's floor for ANY 2-stage collect (~0.6 s
  measured on a trivial 100k-row groupBy) — pure job latency, not
  data: the same 24 jobs amortize to nothing at production scale, and
  the trained model is memoized per corpus so the three downstream
  classifier queries (weights/PR-curve/calibration) cost one scoring
  pass each.
- r12 additions' own sf10 decades (same harness rungs as the r11
  family): gopher_repetition_rules time_exp **-0.13** at 50k -> 500k
  docs (bounded per-doc work, overhead-dominated at this SF);
  sequence_packing_bestfit **0.62** (2.3 s -> 9.7 s) AFTER a found-
  and-fixed multi-scan: the first measurement read 85 s at 500k docs
  because five consumers (per-source max, both two-phase prefix sums,
  totals, big-doc tier) each re-ran the scan+tokenize (~7 s/pass at
  14 input splits) — ONE eager localCheckpoint of the narrow
  (doc_id, source, n_tok) frame restored the one-pass contract
  (85 -> 9.7 s, hashes re-gated); incremental_ivf **-0.04** and
  cluster_prune_prototypes **0.27** on the emb10 decade (20k -> 200k
  vectors; the prune's number is the post-manifest marginal — its
  kmeans assignment + SemDedup inputs are session-memoized, the
  production persisted-manifest shape). Driver RSS flat on all four.
- ADAPTIVE banding default (r12, closes r11 VERDICT item 2):
  `dedup_clusters` itself now picks its banding per corpus —
  `_pick_banding` prices the b=2,r=2 candidate join from the
  representatives' band-value frequency tables (the lsh_banding_plan
  statistic, integral sum of C(n,2), one scalar driver sync) and
  tightens to b=1,r=8 above 16 est-pairs/rep. Calibration probe over
  the committed corpora: 158 (sf0.01) / 1,246 (sf0.1) / 9,622 (sf1)
  pairs/rep on the collision-heavy 31-word testdata vs 7.0 (zipf-sf1)
  / 74.5 (zipf-sf10) on the realistic vocabulary. Measured across the
  zipf decade (`--band-exp` adaptive rung): the flagship chooses r=2
  at 50k docs (349,261 candidates — recall-oriented while cheap) and
  r=8 at 500k (1,361), candidate exponent **-2.41** vs the old fixed
  2.03; the OPERATOR across the same decade (`--sf10-zipf
  dedup_clusters`): time_exp **0.45** (4.8 s -> 13.4 s), out_rows exp
  1.00, driver RSS flat. The DuckDB oracle re-derives the identical
  integer decision (_ADAPT_DEC_SQL), so the branch choice itself is
  hash-gated at sf0.01/sf0.3-subset/sf1.
- LSH banding knob, wired and re-measured (r11,
  `scripts/scale_stress.py --band-exp`, zipf sf1 -> sf10, 50k -> 500k
  docs, closes the r10 "operator-level mitigation" item): band-join
  CANDIDATE stream exponents over the decade — b=2,r=2 (the
  recall-oriented branch of dedup_clusters' r12 ADAPTIVE default)
  **2.03** (349,261 -> 37,309,626), b=1,r=4
  **1.56** (177 -> 6,422; a 5,800x absolute cut but still
  FP-dominated at 500k docs), b=1,r=8 over the widened two-family
  signature (`_token_signatures(wide=True)`) **1.02** (129 -> 1,361)
  — pinned to the linear planted-dup floor, which is why
  `dedup_clusters_banded` (the pinned r=8 audit variant of the
  adaptive default) pins r=8 and why `_pick_banding` flips there. The operator itself across the
  same decade: time_exp **0.43** (6.3 s -> 16.9 s), out_rows exp 1.00,
  driver RSS flat. Recall falls on edited near-dups per the j^8
  S-curve (minhash_banding_sweep's measured trade); exact copies are
  banding-invariant (rep-collapse precedes the band join).
- ANN/serving-ladder sf10 decade (r11, `scripts/scale_stress.py
  --emb10`, 20k -> 200k vectors): time_exp embedding_cosine_topk
  **0.59**, ann_ivf_multiprobe **0.54**, embedding_kmeans **0.68**,
  hard_negative_mining **0.69**, kcenter_coreset **0.93** (8 greedy
  rounds, each a full-corpus broadcast-min — linear by construction),
  pq_adc_topk **0.94** / ivfpq_topk **0.99** (the ADC scan touches
  every code by design — linear IS the contract; the PQ win is
  bytes/vector, not asymptotics). The one superlinear reading,
  ann_ivf_topk at **1.15** (44.8 s), was a real finding: its cell
  assignment still used a per-vector rank WINDOW over the n x K
  crossJoin and the un-checkpointed `assigned` frame re-ran that
  crossJoin for both consumers (probe lookup + cell scan). Rewritten
  to the pq_adc min(struct) hash-agg argmax + one localCheckpoint
  (the write-partitioned-by-cell step at scale): re-measured
  **0.85** (29.8 s), sublinear, hash unchanged vs the oracle's
  identical ordering. Driver RSS flat on all eight.
- TPC-H join-core sf10 decade (r11, `scripts/scale_stress.py
  --tpch10`, 6M -> 60M lineitem star schema + 1M -> 10M events,
  closes the r10 "TPC-H scale evidence stops at sf1" item): time_exp
  q5 **-0.28** (AQE/warm-cache noise band at these absolute times),
  q8 **0.17**, q9 **0.13**, q21 **0.85** (the four-join self-join
  shape — heaviest, still sublinear on 10x input), asof_join **0.24**
  (output exp 1.00), range_join_bucketed **0.29**. Driver RSS flat on
  all six. Note range_join_bucketed emits 0 rows at every scale on
  this data family — the driver corpus's o_orderdate span (1995-2001)
  and events ts span (2024-01) are disjoint by construction, so the
  measurement is the bucket-explode + hash-join machinery itself,
  which is the quantity that had no second decade.
- r13 decades for the two r12 queries that lacked scale_stress rows
  (r12 VERDICT item 8): bucketed_join_layout over the tpch10 decade
  (6M -> 60M lineitem) time_exp **0.46** (1.1 s -> 3.3 s, including
  each corpus's one-time bucketed write; out_rows pinned at 3, the
  Exch=0 plan contract holds at both scales); streaming_static_enrich
  over the same decade's events (1M -> 10M) time_exp **0.09**
  (1.6 s -> 1.9 s — the micro-batch machinery's ~1.5 s fixed cost
  dominates at these sizes, so the exponent reads the per-row cost as
  near-free; the stream-static join itself re-plans the broadcast dim
  per micro-batch). Driver RSS flat on both.
- r13 capstone stage-3 decade (`scripts/scale_stress.py --e2e-stage3`,
  zipf 50k -> 500k docs, the r12 VERDICT item 2 'Done' evidence):
  candidate exponent **1.03** (69 -> 737 candidates) through the SAME
  _e2e_stage3_pairs the capstone calls, with _pick_banding choosing
  b=2,r=2 at BOTH scales on the realistic-vocabulary corpora (shingle
  bands are collision-light there; est-pairs/doc stays under the
  16x bar) — the adaptive decision, not a pinned knob, is what holds
  the stage linear, and the degenerate-vocabulary corpora flip it to
  b=1,r=8 (observed at the sf0.01/sf1 gates).
- r13 zipf decades for the round's new dedup rungs (50k -> 500k
  docs, `scripts/scale_stress.py --sf10-zipf`): incremental_minhash_
  dedup time_exp **-0.00** (2.78 s at both scales — the probe joins
  are rep-collapsed and candidate-bound, so the 10x corpus costs
  nothing extra at these sizes), incremental_minhash_index_update
  **0.06** (4.97 -> 5.70 s, out_rows exp 1.0 — the append is one
  narrow anti-join + union), audio_fingerprint_dedup **0.90**
  (4.53 -> 36.2 s — the row-local mapInPandas PCM synthesis +
  fingerprint dominates, linear by construction; the LSH band joins
  and CC behind it stay candidate-bound). Driver RSS flat on all
  three.
- r13 decades for the k-NN-graph family and curriculum: the COLD base
  build (_knn_base_dag, the real work — the family's per-query bench
  numbers are memo marginals by the disclosed persisted-manifest
  convention) measured over the emb10 decade (20k -> 200k vectors)
  at time_exp **0.95** (59.5 -> 533.1 s, out_rows exp 1.0, flat
  driver RSS): pair volume is linear by bounded cell size; the
  broadcast-argmax assignment's n^2/250 term is still fold-dominated
  at 200k and is the documented hierarchical-assignment replacement
  point at ~10^5 cells. Memo-marginal exponents from scale_stress:
  knn_graph_nndescent 0.18, knn_graph_dedup 0.18 (its own two-phase
  edge budget + star-contraction CC over the memoized base),
  knn_graph_ivf -0.21 (pure memo read). length_curriculum_order
  over sf0.1 -> sf1: **-0.03** (1.53 -> 1.45 s — two-phase rank +
  32-group shard windows, overhead-dominated), unimax_mixture
  **-0.05** (1.26 -> 1.13 s, one low-card groupBy + O(languages)
  driver waterfill). Driver RSS flat on all.
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()
    rows = []
    for name in sorted(specs):
        df = specs[name].fn(spark, sf_dir)
        plan = checks.formatted_plan(df)
        n_exch = checks.count_exchanges(df)
        bhj = plan.count("BroadcastHashJoin")
        smj = plan.count("SortMergeJoin")
        bnlj = plan.count("BroadcastNestedLoopJoin")
        wscg = "y" if checks.has_whole_stage_codegen(df) else "-"
        py_ops = sorted(
            set(
                re.findall(
                    r"(ArrowEvalPython|MapInPandas|PythonDataSource|"
                    r"FlatMapGroupsInPandas|BatchEvalPython)",
                    plan,
                )
            )
        )
        py = ",".join(p.replace("EvalPython", "Py") for p in py_ops) or "-"
        pushed = "pushed" if re.search(r"PushedFilters: \[[^\]]", plan) else ""
        pruned = "pruned" if "ReadSchema" in plan else ""
        scan = "+".join(x for x in (pushed, pruned) if x) or "n/a"
        rows.append(
            f"| `{name}` | {n_exch} | {bhj} | {smj} | {bnlj} | {wscg} | {py} | {scan} |"
        )
    (REPO / "PLANS.md").write_text(HEADER + "\n".join(rows) + "\n" + FOOTER)
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
