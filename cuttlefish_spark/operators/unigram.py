"""Unigram-LM tokenizer rung (SentencePiece-style, Kudo 2018) —
completes the tokenizer ladder next to BPE the way quality_classifier
completed the quality ladder: seed a candidate piece vocabulary from
corpus substrings, run hard-EM (Viterbi E-step, count-based M-step)
rounds over the word-frequency table, then apply the trained model.

Public-knowledge basis: Kudo 2018 "Subword Regularization" §3 (the
unigram LM model + EM training loop) and the SentencePiece trainer's
seed-and-prune structure. Everything is re-derived fixed-point so the
DuckDB oracle can replay training bit-identically:

- Piece costs are INTEGER surrogate negative-log-probs:
  cost(p) = bits(total) - bits(count(p)) + 1 with bits(x) =
  length(bin(x)) = floor(log2 x)+1 — exact integer arithmetic in both
  engines (no IEEE log anywhere).
- The Viterbi E-step is exact integer DP over word positions. The DP
  state is encoded as ONE string, lpad(cost, 6, '0') || '|' || seg
  (seg = best segmentation, pieces space-joined), so the per-position
  argmin is least(VARCHAR...) — lexicographic on (cost, seg), the same
  total order in Spark (UTF8 binary) and DuckDB (binary collation).
  Ties therefore break identically: lowest cost, then
  lexicographically-least segmentation string.
- Hard-EM (Viterbi counts, not forward-backward expectations): the
  M-step recounts piece usage along each word's best path, weighted by
  word frequency — SentencePiece's E-step uses soft expectations; the
  hard variant is the standard deterministic simplification and keeps
  both engines in exact integer land.

Scale shape (the BPE factorization, curation.py:389): the corpus
collapses ONCE to the distinct-word frequency table, so every E-step
runs on O(vocabulary) rows regardless of corpus size; the trained
model is O(V) and moves to the driver once per round (the bounded
collect discipline of _pca_iterate / _bpe_train). Words longer than
{_UG_MAXLEN} chars are excluded from training AND stats in both
engines (SentencePiece likewise caps candidate/sentence lengths).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cuttlefish_spark.functions import tokens
from cuttlefish_spark.io import load_table, memo_key, memo_put, register_memo, spread
from cuttlefish_spark.registry import query

_UG_MAXLEN = 16  # words longer than this are excluded everywhere
_UG_MAXP = 4  # max candidate piece length
_UG_V = 120  # multi-char seed vocabulary cap (all single chars always kept)

# ---------------------------------------------------------------------------
# Shared SQL fragments (DuckDB oracle)
# ---------------------------------------------------------------------------

_UG_WORDS_SQL = rf"""words AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                     ELSE regexp_split_to_array(trim(lower(text)), '\s+')
                     END) AS word
              FROM documents)
        WHERE length(word) BETWEEN 1 AND {_UG_MAXLEN}
        GROUP BY word
    )"""

_POS_VALUES = ", ".join(f"({i})" for i in range(1, _UG_MAXLEN + 1))
_LEN_VALUES = ", ".join(f"({L})" for L in range(1, _UG_MAXP + 1))

_UG_SEEDS_SQL = f"""seeds AS MATERIALIZED (
        SELECT piece, CAST(sum(freq) AS BIGINT) AS seed_freq
        FROM (
            SELECT substr(w.word, p.i, l.L) AS piece, w.freq
            FROM words w
            CROSS JOIN (VALUES {_POS_VALUES}) p(i)
            CROSS JOIN (VALUES {_LEN_VALUES}) l(L)
            WHERE p.i + l.L - 1 <= length(w.word)
        )
        GROUP BY piece
    ),
    singles AS MATERIALIZED (
        SELECT piece, seed_freq FROM seeds WHERE length(piece) = 1
    ),
    v0b AS MATERIALIZED (
        SELECT piece, seed_freq FROM singles
        UNION ALL
        SELECT piece, seed_freq FROM
            (SELECT piece, seed_freq FROM seeds WHERE length(piece) >= 2
             ORDER BY seed_freq DESC, piece LIMIT {_UG_V})
    ),
    vocab0 AS MATERIALIZED (
        SELECT piece, seed_freq,
               CAST(length(bin(CAST((SELECT sum(seed_freq) FROM v0b) AS BIGINT)))
                    - length(bin(seed_freq)) + 1 AS BIGINT) AS cost
        FROM v0b
    )"""


def _ug_dp_sql(vocab: str, out: str) -> str:
    """One unrolled Viterbi E-step over `words` with piece costs from
    CTE `vocab` (columns piece, cost): emits CTE `{out}` with
    (word, freq, seg). Position k's state b{k} is built from b{k-L}
    as one NESTED SUBQUERY PER POSITION — not lateral column aliases,
    which DuckDB binds by textual substitution so 16 chained aliases
    each referencing 4 predecessors explode to a 4^16-node expression
    tree (observed: the binder never returns). Nesting makes each
    b{k} a real column before the next layer references it, keeping
    the plan linear in _UG_MAXLEN. Positions beyond the word carry
    forward, so b{_UG_MAXLEN} is the final state for every word."""
    inner = f"SELECT word, freq, cl, pl, '000000|' AS b0 FROM {out}_cm"
    for k in range(1, _UG_MAXLEN + 1):
        cands = []
        for L in range(1, _UG_MAXP + 1):
            j = k - L
            if j < 0:
                continue
            idx = j * _UG_MAXP + L  # 1-based list index of (i=j+1, L)
            if j == 0:
                seg = f"pl[{idx}]"
            else:
                seg = f"substr(b{j}, 8) || ' ' || pl[{idx}]"
            cands.append(
                f"CASE WHEN cl[{idx}] IS NOT NULL THEN "
                f"lpad(CAST(CAST(substr(b{j}, 1, 6) AS BIGINT) + cl[{idx}] "
                f"AS VARCHAR), 6, '0') || '|' || ({seg}) END"
            )
        best = cands[0] if len(cands) == 1 else "least(" + ", ".join(cands) + ")"
        inner = (
            f"SELECT *, CASE WHEN {k} > length(word) THEN b{k - 1} "
            f"ELSE {best} END AS b{k} FROM ({inner})"
        )
    return f"""{out}_lk AS MATERIALIZED (
        SELECT w.word, w.freq, (p.i - 1) * {_UG_MAXP} + l.L AS idx,
               CASE WHEN p.i + l.L - 1 <= length(w.word)
                    THEN v.cost END AS cost,
               CASE WHEN p.i + l.L - 1 <= length(w.word)
                    THEN substr(w.word, p.i, l.L) END AS piece
        FROM words w
        CROSS JOIN (VALUES {_POS_VALUES}) p(i)
        CROSS JOIN (VALUES {_LEN_VALUES}) l(L)
        LEFT JOIN {vocab} v ON v.piece = substr(w.word, p.i, l.L)
                           AND p.i + l.L - 1 <= length(w.word)
        WHERE p.i <= length(w.word)
    ),
    {out}_cm AS MATERIALIZED (
        SELECT word, freq,
               list(cost ORDER BY idx) AS cl,
               list(piece ORDER BY idx) AS pl
        FROM {out}_lk GROUP BY word, freq
    ),
    {out} AS MATERIALIZED (
        SELECT word, freq, substr(b{_UG_MAXLEN}, 8) AS seg
        FROM ({inner})
    )"""


def _ug_usage_sql(dp: str, out: str) -> str:
    return f"""{out} AS MATERIALIZED (
        SELECT piece, CAST(sum(freq) AS BIGINT) AS usage
        FROM (SELECT unnest(string_split(seg, ' ')) AS piece, freq FROM {dp})
        GROUP BY piece
    )"""


def _ug_vocab_sql(u: str, out: str) -> str:
    """M-step: integer costs from usage counts; unused single chars
    stay in the vocabulary at the max (unit-count) cost so every word
    remains segmentable."""
    return f"""{out} AS MATERIALIZED (
        SELECT piece, usage,
               CAST(length(bin(CAST((SELECT sum(usage) FROM {u}) AS BIGINT)))
                    - length(bin(usage)) + 1 AS BIGINT) AS cost
        FROM {u}
        UNION ALL
        SELECT s.piece, CAST(0 AS BIGINT),
               CAST(length(bin(CAST((SELECT sum(usage) FROM {u}) AS BIGINT)))
                    + 1 AS BIGINT) AS cost
        FROM singles s WHERE s.piece NOT IN (SELECT piece FROM {u})
    )"""


_UG_CHAIN_SQL = ",\n    ".join(
    [
        _UG_WORDS_SQL,
        _UG_SEEDS_SQL,
        _ug_dp_sql("vocab0", "dp1"),
        _ug_usage_sql("dp1", "u1"),
        _ug_vocab_sql("u1", "vocab1"),
        _ug_dp_sql("vocab1", "dp2"),
        _ug_usage_sql("dp2", "u2"),
        _ug_vocab_sql("u2", "vocab2"),
    ]
)

_UG_TRAIN_SQL = f"""
    WITH {_UG_CHAIN_SQL}
    SELECT v.piece,
           CAST(length(v.piece) AS INT) AS piece_len,
           s.seed_freq,
           v.usage,
           v.cost
    FROM vocab2 v JOIN seeds s USING (piece)
"""

_UG_STATS_SQL = f"""
    WITH {_UG_CHAIN_SQL},
    {_ug_dp_sql("vocab2", "dp3")},
    src AS (
        SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT source,
                     unnest(CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                            ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                            END) AS word
              FROM documents)
        WHERE length(word) BETWEEN 1 AND {_UG_MAXLEN}
        GROUP BY source, word
    ),
    segw AS (
        SELECT word,
               len(string_split(seg, ' ')) AS ppw,
               len(list_filter(string_split(seg, ' '),
                               p -> length(p) = 1)) AS spw
        FROM dp3
    ),
    per_source AS (
        SELECT s.source,
               CAST(sum(s.cnt) AS BIGINT) AS n_tokens,
               CAST(sum(s.cnt * g.ppw) AS BIGINT) AS n_pieces,
               CAST(sum(s.cnt * g.spw) AS BIGINT) AS n_single_pieces
        FROM src s JOIN segw g USING (word)
        GROUP BY s.source
    ),
    dpieces AS (
        SELECT s.source, CAST(count(DISTINCT x.piece) AS BIGINT)
                   AS n_distinct_pieces
        FROM src s
        JOIN (SELECT word, unnest(string_split(seg, ' ')) AS piece
              FROM dp3) x USING (word)
        GROUP BY s.source
    )
    SELECT p.source, p.n_tokens, p.n_pieces,
           CAST(floor(CAST(p.n_pieces * 1000000 AS DOUBLE) / p.n_tokens)
                AS BIGINT) AS fertility_micro,
           d.n_distinct_pieces, p.n_single_pieces
    FROM per_source p JOIN dpieces d USING (source)
"""


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------


_UG_WORDS_CACHE: dict[tuple, DataFrame] = register_memo()


def _ug_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-word frequency table — the O(vocabulary) working set
    every E-step runs on (words longer than _UG_MAXLEN excluded).
    Checkpointed and memoized per (session, corpus): training, the
    train query's output frame, and the stats query all branch off it
    several times each, and without reuse every branch re-pays the
    corpus explode+aggregate (measured: 22 exchanges in the
    unigram_train plan before, 1 corpus pass after)."""
    key = memo_key(spark, sf_dir, "documents")
    if key in _UG_WORDS_CACHE:
        return _UG_WORDS_CACHE[key]
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    words = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.length("word").between(1, _UG_MAXLEN))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .localCheckpoint(eager=True)
    )
    memo_put(_UG_WORDS_CACHE, key, words)
    return words


def _ug_seeds(words: DataFrame) -> DataFrame:
    """Candidate pieces: every substring of length 1.._UG_MAXP,
    occurrence-weighted by word frequency (one narrow explode — no
    Python, no shuffle beyond the piece-key aggregate)."""
    sub = words.select(
        "freq",
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, length(word)), i ->
                    filter(transform(sequence(1, {_UG_MAXP}), L ->
                        CASE WHEN i + L - 1 <= length(word)
                             THEN substr(word, i, L) END),
                      p -> p IS NOT NULL)))"""
            )
        ).alias("piece"),
    )
    return sub.groupBy("piece").agg(F.sum("freq").alias("seed_freq"))


def _bits(x: int) -> int:
    return int(x).bit_length()


def _ug_seg_col(cost: dict[str, int]) -> Column:
    """The Viterbi E-step as ONE JVM-side expression over column
    `word`: an F.aggregate fold over positions 1.._UG_MAXLEN whose
    accumulator is the array of encoded DP states (lpad(cost,6,'0') ||
    '|' || seg); position k takes least() over the <= _UG_MAXP valid
    (previous state + piece) extensions, positions past the word carry
    forward. The trained model rides as a map literal (O(V), the
    bounded-model discipline); try_element_at keeps missing-piece and
    index probes NULL-safe under ANSI mode."""
    m = F.create_map(*[F.lit(v) for kv in cost.items() for v in kv])
    word = F.col("word")
    n = F.length(word)

    def cand(acc: Column, k: Column, L: int) -> Column:
        prev = F.try_element_at(acc, (k - F.lit(L) + 1).cast("int"))
        piece = F.substr(word, k - F.lit(L) + 1, F.lit(L))
        c = F.try_element_at(m, piece)
        new_cost = F.substring(prev, 1, 6).cast("long") + c.cast("long")
        seg = F.when(F.length(prev) == 7, piece).otherwise(
            F.concat(F.substr(prev, F.lit(8)), F.lit(" "), piece)
        )
        enc = F.concat(F.lpad(new_cost.cast("string"), 6, "0"), F.lit("|"), seg)
        return F.when((k >= F.lit(L)) & c.isNotNull(), enc)

    def step(acc: Column, k: Column) -> Column:
        best = F.least(*[cand(acc, k, L) for L in range(1, _UG_MAXP + 1)])
        nxt = F.when(k > n, F.element_at(acc, -1)).otherwise(best)
        return F.concat(acc, F.array(nxt))

    states = F.aggregate(
        F.sequence(F.lit(1), F.lit(_UG_MAXLEN)),
        F.array(F.lit("000000|")),
        step,
    )
    return F.substr(F.element_at(states, -1), F.lit(8))


def _ug_usage(words: DataFrame, cost: dict[str, int]) -> DataFrame:
    """E-step counts: piece usage along each word's best path,
    weighted by word frequency."""
    seg = words.select("freq", _ug_seg_col(cost).alias("seg"))
    return (
        seg.select("freq", F.explode(F.split("seg", " ")).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("usage"))
    )


_UG_CACHE: dict[tuple, tuple] = register_memo()


def _ug_em(
    spark: SparkSession,
    sf_dir: str,
    rounds: int,
) -> list[dict[str, int]]:
    """The hard-EM loop, depth-parameterized (the queries run it at
    rounds=2). Each E-step is one segmentation pass over the
    O(vocabulary) word table plus an O(V) usage collect; nothing in
    that shape grows with the round index. Returns
    [cost1, ..., cost_rounds]."""
    words = _ug_words(spark, sf_dir)
    seeds = _ug_seeds(words)
    singles_rows = seeds.filter(F.length("piece") == 1).collect()
    multi_rows = (
        seeds.filter(F.length("piece") >= 2)
        .orderBy(F.desc("seed_freq"), "piece")
        .limit(_UG_V)
        .collect()
    )
    seed_freq = {
        r["piece"]: int(r["seed_freq"]) for r in (*singles_rows, *multi_rows)
    }
    singles = {r["piece"] for r in singles_rows}
    total0 = sum(seed_freq.values())
    cost0 = {p: _bits(total0) - _bits(f) + 1 for p, f in seed_freq.items()}

    def m_step(u: dict[str, int]) -> dict[str, int]:
        tot = sum(u.values())
        cost = {p: _bits(tot) - _bits(c) + 1 for p, c in u.items()}
        for ch in singles:  # unused singles stay segmentable, max cost
            cost.setdefault(ch, _bits(tot) + 1)
        return cost

    costs: list[dict[str, int]] = []
    cur = cost0
    for _ in range(rounds):
        u = {
            r["piece"]: int(r["usage"])
            for r in _ug_usage(words, cur).collect()
        }
        cur = m_step(u)
        costs.append(cur)
    return costs


def _ug_model(
    spark: SparkSession, sf_dir: str
) -> tuple[dict[str, int], dict[str, int]]:
    """Two hard-EM rounds; returns (cost1, cost2) — the model after
    round 1 (used by round 2's E-step) and the FINAL model (what
    unigram_token_stats applies). Each round moves O(V) integers to
    the driver (the _pca_iterate bounded-collect discipline); memoized
    per (session, corpus) via memo_key/memo_put so train and stats
    share one training run."""
    key = memo_key(spark, sf_dir, "documents")
    if key in _UG_CACHE:
        return _UG_CACHE[key]
    cost1, cost2 = _ug_em(spark, sf_dir, rounds=2)
    memo_put(_UG_CACHE, key, (cost1, cost2))
    return cost1, cost2


@query("unigram_train", layer="C", oracle=_UG_TRAIN_SQL)
def unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (Kudo 2018 hard-EM; see module
    docstring for the fixed-point re-derivation): seed vocabulary =
    all corpus single chars + the top-{_UG_V} substrings of length
    2..{_UG_MAXP} by occurrence-weighted frequency (ties by piece
    text); two EM rounds of Viterbi-segment-then-recount; emits the
    final vocabulary as (piece, piece_len, seed_freq, usage, cost)
    with usage = round-2 Viterbi counts and cost = the final integer
    model.

    The emitted frame stays distributed: round-2 usage is one
    explode + piece-key aggregate over the word table, the
    kept-but-unused single chars arrive via a left-anti join against
    it, and the final costs need only the usage grand total — a
    1-row broadcast scalar, never a collect. The DuckDB oracle
    replays the identical training (unrolled 16-position DP per
    E-step, same encoded-state least() tie-break), so the hash match
    verifies the full EM loop, not just the last projection."""
    cost1, _ = _ug_model(spark, sf_dir)
    words = _ug_words(spark, sf_dir)
    seeds = _ug_seeds(words)
    u2 = _ug_usage(words, cost1)
    singles = seeds.filter(F.length("piece") == 1).select("piece")
    unused = singles.join(u2, "piece", "left_anti").select(
        "piece", F.lit(0).cast("long").alias("usage")
    )
    vocab2 = u2.unionByName(unused)
    tot = vocab2.agg(F.sum("usage").alias("tot"))
    bits_tot = F.length(F.bin(F.col("tot")))
    cost = F.when(
        F.col("usage") > 0,
        bits_tot - F.length(F.bin(F.col("usage"))) + 1,
    ).otherwise(bits_tot + 1)
    return (
        vocab2.crossJoin(F.broadcast(tot))
        .join(seeds, "piece")
        .select(
            "piece",
            F.length("piece").cast("int").alias("piece_len"),
            "seed_freq",
            "usage",
            cost.cast("long").alias("cost"),
        )
    )


@query("unigram_token_stats", layer="C", oracle=_UG_STATS_SQL)
def unigram_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Applies the TRAINED unigram model (unigram_train's final costs)
    to every source's token stream and reports the per-source
    tokenizer profile: token instances, emitted pieces, fertility
    (pieces per token, micro fixed-point — one IEEE division of exact
    int64 products, bit-identical per the repo's determinism recipe),
    distinct pieces used, and single-char fallback volume — the
    bpe_fertility_by_source report for the ladder's second trainer,
    which is exactly what you compare when choosing BPE vs unigram for
    a corpus.

    Scale shape: the Viterbi segmentation runs ONCE per distinct word
    (O(vocabulary) rows); per-source token counts are one narrow
    aggregate over the corpus; the two meet in an equi-join on word.
    At 100 TB the corpus pass is scan-bound and the segmentation cost
    is independent of corpus size."""
    _, cost2 = _ug_model(spark, sf_dir)
    words = _ug_words(spark, sf_dir)
    segw = words.select(
        "word", _ug_seg_col(cost2).alias("seg")
    ).localCheckpoint(eager=True)

    d = spread(spark, load_table(spark, sf_dir, "documents"))
    src = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.length("word").between(1, _UG_MAXLEN))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pieces = F.split("seg", " ")
    g = segw.select(
        "word",
        F.size(pieces).alias("ppw"),
        F.size(F.filter(pieces, lambda p: F.length(p) == 1)).alias("spw"),
    )
    joined = src.join(g, "word")
    per_source = joined.groupBy("source").agg(
        F.sum("cnt").alias("n_tokens"),
        F.sum(F.col("cnt") * F.col("ppw")).alias("n_pieces"),
        F.sum(F.col("cnt") * F.col("spw")).alias("n_single_pieces"),
    )
    dpieces = (
        src.join(
            segw.select("word", F.explode(pieces).alias("piece")), "word"
        )
        .groupBy("source")
        .agg(F.count_distinct("piece").alias("n_distinct_pieces"))
    )
    fert = F.floor(
        (F.col("n_pieces") * F.lit(1_000_000)).cast("double")
        / F.col("n_tokens")
    ).cast("long")
    return (
        per_source.join(dpieces, "source")
        .select(
            "source",
            "n_tokens",
            "n_pieces",
            fert.alias("fertility_micro"),
            "n_distinct_pieces",
            "n_single_pieces",
        )
    )


# ---------------------------------------------------------------------------
# tokenizer_compare — BPE vs unigram head-to-head (the ladder capstone)
# ---------------------------------------------------------------------------


def _tokenizer_compare_oracle() -> str:
    """Both trainers' full oracle chains composed in ONE query: the
    8-merge BPE unroll (curation._bpe_ctes) and the two-round unigram
    hard-EM unroll (this module's chain + a final dp3 segmentation),
    joined per source. CTE namespaces are disjoint by construction
    (seq/p/b/x/a{i} vs words/seeds/vocab/dp*)."""
    from cuttlefish_spark.operators.curation import _BPE_MERGES, _bpe_ctes

    return (
        "WITH "
        + ",\n    ".join(_bpe_ctes(_BPE_MERGES))
        + ",\n    "
        + _UG_CHAIN_SQL
        + ",\n    "
        + _ug_dp_sql("vocab2", "dp3")
        + f""",
    bpev AS (
        SELECT word, CAST(len(syms) AS BIGINT) AS n_bpe
        FROM seq{_BPE_MERGES}
    ),
    ugv AS (
        SELECT word, CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_ug
        FROM dp3
    ),
    src AS (
        SELECT source, word, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT source,
                     unnest(CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                            ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                            END) AS word
              FROM documents)
        WHERE length(word) BETWEEN 1 AND {_UG_MAXLEN}
        GROUP BY source, word
    )
    SELECT s.source,
           CAST(sum(s.c) AS BIGINT) AS n_words,
           CAST(sum(s.c * b.n_bpe) AS BIGINT) AS bpe_tokens,
           CAST(sum(s.c * u.n_ug) AS BIGINT) AS unigram_pieces,
           CAST(floor(CAST(sum(s.c * b.n_bpe) * 1000000 AS DOUBLE)
                      / sum(s.c)) AS BIGINT) AS bpe_fert_micro,
           CAST(floor(CAST(sum(s.c * u.n_ug) * 1000000 AS DOUBLE)
                      / sum(s.c)) AS BIGINT) AS unigram_fert_micro,
           CASE WHEN sum(s.c * b.n_bpe) < sum(s.c * u.n_ug) THEN 'bpe'
                WHEN sum(s.c * b.n_bpe) > sum(s.c * u.n_ug) THEN 'unigram'
                ELSE 'tie' END AS winner
    FROM src s
    JOIN bpev b USING (word)
    JOIN ugv u USING (word)
    GROUP BY s.source
"""
    )


@query("tokenizer_compare", layer="C", oracle=_tokenizer_compare_oracle())
def tokenizer_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer ladder's CAPSTONE: train BOTH tokenizers on the
    corpus — 8-merge BPE (curation._bpe_train) and two-round unigram
    hard-EM (this module) — encode the same per-source token streams
    with each, and report the head-to-head fertility table with a
    per-source winner (fewer emitted units = better compression =
    lower training cost per document). This is THE comparison a
    tokenizer owner runs before committing a vocabulary to a
    pretraining run, and it composes two independently hash-verified
    training loops in one plan, so the hash match here verifies their
    INTERACTION (the curation_funnel_e2e principle applied to the
    tokenizer ladder).

    Apples-to-apples contract: the comparison restricts to words of
    <= {_UG_MAXLEN} chars (the unigram trainer's declared cap; BPE has
    no cap, so its vocabulary is re-restricted at the join). All
    emitted values are int64 counts and one floored IEEE division of
    exact products (the fixed-point fertility recipe); the winner is
    an integer comparison. Both trained models are memoized per
    (session, corpus), so this query costs two O(vocabulary)
    encodes + one per-source aggregate when the trainers already ran."""
    from cuttlefish_spark.operators.curation import _BPE_MERGES, _bpe_train

    _, seq = _bpe_train(spark, sf_dir, _BPE_MERGES)
    bpev = seq.select("word", F.size("syms").cast("long").alias("n_bpe"))
    _, cost2 = _ug_model(spark, sf_dir)
    words = _ug_words(spark, sf_dir)
    ugv = words.select(
        "word",
        F.size(F.split(_ug_seg_col(cost2), " ")).cast("long").alias("n_ug"),
    )
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    src = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.length("word").between(1, _UG_MAXLEN))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    j = src.join(bpev, "word").join(ugv, "word")
    agg = j.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_words"),
        F.sum(F.col("c") * F.col("n_bpe")).cast("long").alias("bpe_tokens"),
        F.sum(F.col("c") * F.col("n_ug")).cast("long").alias("unigram_pieces"),
    )
    fert = lambda c: F.floor(  # noqa: E731
        (c * F.lit(1_000_000)).cast("double") / F.col("n_words")
    ).cast("long")
    winner = (
        F.when(F.col("bpe_tokens") < F.col("unigram_pieces"), F.lit("bpe"))
        .when(F.col("bpe_tokens") > F.col("unigram_pieces"), F.lit("unigram"))
        .otherwise(F.lit("tie"))
    )
    return agg.select(
        "source",
        "n_words",
        "bpe_tokens",
        "unigram_pieces",
        fert(F.col("bpe_tokens")).alias("bpe_fert_micro"),
        fert(F.col("unigram_pieces")).alias("unigram_fert_micro"),
        winner.alias("winner"),
    )
