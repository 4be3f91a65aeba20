"""Corpus-curation operators: rule-based quality filtering, mixture
re-balancing by temperature, iterative BPE tokenizer TRAINING, a
TRAINED n-gram quality classifier (fixed-point logistic regression),
and URL/domain-level curation (host profiling + per-domain cap
sampling, the C4/RefinedWeb recipe).

These extend the LLM-data-pipeline surface (SURVEY.md §2.B "absent in
reference" categories; the reference engine has no text analytics at
all — its only text op is markdown->HTML,
/root/reference/private/workers/facebook.rkt:30-32). Everything here
is built from JVM-side built-ins; the one driver-side loop
(bpe_train_merges) moves exactly one scalar triple per iteration —
the same pattern as dedup_clusters' convergence check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuttlefish_spark.functions import hash60, tokens, word_shingles
from cuttlefish_spark.io import load_table, register_memo, spread
from cuttlefish_spark.operators.dedup import (
    _ADAPT_MULT,
    _mh_sql,
    _NORM_SQL,
    _pick_banding,
    _SHINGLES_SQL,
)
from cuttlefish_spark.operators.scale import _SHUFFLE_SHARDS
from cuttlefish_spark.operators.text import (
    _LM_SCORED_CTES,
    PACK_WINDOW,
    STOPWORDS,
    _sql_list,
)
from cuttlefish_spark.registry import query

# ---------------------------------------------------------------------------
# gopher_quality_rules
# ---------------------------------------------------------------------------

_G_MIN_WORDS, _G_MAX_WORDS = 40, 100_000
_G_MIN_MWL, _G_MAX_MWL = 3.0, 10.0
_G_MIN_ALPHA = 0.8
_G_MIN_STOP = 2
_G_MAX_SYMBOL = 0.1
_G_MAX_BULLET = 0.9
_G_MAX_ELLIPSIS = 0.3

_GOPHER_SQL = rf"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks,
               regexp_split_to_array(text, '\n') AS lines,
               length(regexp_replace(text, '[^#]', '', 'g'))
                   + (length(text) - length(replace(text, '...', ''))) // 3
                   AS n_symbols
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CASE WHEN len(toks) > 0 THEN
                    CAST(list_sum(list_transform(toks, w -> length(w)))
                         AS DOUBLE) / len(toks) END AS mean_word_len,
               CASE WHEN len(toks) > 0 THEN
                    CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
                         AS DOUBLE) / len(toks) ELSE 0.0 END AS frac_alpha_words,
               CAST(len(list_filter(toks,
                    w -> list_contains({_sql_list(STOPWORDS["en"])}, w)))
                    AS BIGINT) AS n_stopwords,
               CASE WHEN len(toks) > 0 THEN
                    CAST(n_symbols AS DOUBLE) / len(toks) ELSE 0.0 END
                   AS symbol_word_ratio,
               CAST(len(list_filter(lines, l -> trim(l) LIKE '-%'
                                          OR trim(l) LIKE '*%'))
                    AS DOUBLE) / len(lines) AS frac_bullet_lines,
               CAST(len(list_filter(lines, l -> trim(l) LIKE '%...'))
                    AS DOUBLE) / len(lines) AS frac_ellipsis_lines
        FROM t
    )
    SELECT doc_id, n_words, mean_word_len, frac_alpha_words, n_stopwords,
           symbol_word_ratio, frac_bullet_lines, frac_ellipsis_lines,
           n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS} AS r_word_count,
           coalesce(mean_word_len BETWEEN {_G_MIN_MWL} AND {_G_MAX_MWL},
                    FALSE) AS r_mean_word_len,
           frac_alpha_words >= {_G_MIN_ALPHA} AS r_alpha_words,
           n_stopwords >= {_G_MIN_STOP} AS r_stopwords,
           symbol_word_ratio < {_G_MAX_SYMBOL} AS r_symbol_ratio,
           frac_bullet_lines < {_G_MAX_BULLET} AS r_bullet_lines,
           frac_ellipsis_lines < {_G_MAX_ELLIPSIS} AS r_ellipsis_lines,
           (n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS})
               AND coalesce(mean_word_len BETWEEN {_G_MIN_MWL} AND {_G_MAX_MWL},
                            FALSE)
               AND frac_alpha_words >= {_G_MIN_ALPHA}
               AND n_stopwords >= {_G_MIN_STOP}
               AND symbol_word_ratio < {_G_MAX_SYMBOL}
               AND frac_bullet_lines < {_G_MAX_BULLET}
               AND frac_ellipsis_lines < {_G_MAX_ELLIPSIS} AS keep
    FROM m
"""


@query("gopher_quality_rules", layer="C", oracle=_GOPHER_SQL)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1,
    the public-paper rule set every modern pretraining pipeline starts
    from): per doc, word count in [40, 100000] (_G_MIN/_G_MAX_WORDS),
    mean word length in [3, 10], >=80% of words containing a letter,
    >=2 stopword hits, symbol-to-word ratio (# / ellipsis) < 0.1, <90%
    bullet-point lines, <30% ellipsis-terminated lines. Emits every
    measured stat, every per-rule verdict, and the conjunction `keep`
    — the funnel composes with quality_filter_funnel downstream.

    Exactness: every stat is a ratio of integers computed identically
    on both engines (IEEE division of identical operands), thresholds
    are exact binary/decimal literals, so no rule can flip on a float
    boundary. Scale shape: one narrow projection per row, zero
    shuffles, zero Python — at 100 TB this is a scan-bound map the
    optimizer fuses into one WholeStageCodegen span."""
    return _gopher_flags(load_table(spark, sf_dir, "documents"))


def _gopher_flags(d: DataFrame, extra: tuple = ()) -> DataFrame:
    """The Gopher rule set as a PURE column program over any
    documents-shaped frame (doc_id, text) — batch and STREAMING alike
    (stateless per-row maps are streaming-legal; streaming_quality_gate
    runs exactly this over a file-source stream). `extra` names
    pass-through columns inserted right after doc_id, BEFORE the stat
    and rule columns (empty for gopher_quality_rules so its declared
    schema is unchanged)."""
    stop_en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    t = d.select(
        "doc_id",
        *extra,
        tokens(F.col("text")).alias("toks"),
        F.split(F.col("text"), "\n", -1).alias("lines"),
        (
            F.length(F.regexp_replace(F.col("text"), "[^#]", "")).cast("long")
            + F.expr(
                "(length(text) - length(replace(text, '...', ''))) div 3"
            )
        ).alias("n_symbols"),
    )
    n_words = F.size("toks").cast("long")
    trimmed = lambda l: F.trim(l)  # noqa: E731
    m = t.select(
        "doc_id",
        *extra,
        n_words.alias("n_words"),
        F.when(
            n_words > 0,
            F.aggregate(
                F.transform(F.col("toks"), F.length),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).cast("double")
            / n_words,
        ).alias("mean_word_len"),
        F.when(
            n_words > 0,
            F.size(F.filter(F.col("toks"), lambda w: w.rlike("[a-z]")))
            .cast("double")
            / n_words,
        )
        .otherwise(0.0)
        .alias("frac_alpha_words"),
        F.size(F.filter(F.col("toks"), lambda w: F.array_contains(stop_en, w)))
        .cast("long")
        .alias("n_stopwords"),
        F.when(n_words > 0, F.col("n_symbols").cast("double") / n_words)
        .otherwise(0.0)
        .alias("symbol_word_ratio"),
        (
            F.size(
                F.filter(
                    F.col("lines"),
                    lambda l: trimmed(l).startswith("-")
                    | trimmed(l).startswith("*"),
                )
            ).cast("double")
            / F.size("lines")
        ).alias("frac_bullet_lines"),
        (
            F.size(F.filter(F.col("lines"), lambda l: trimmed(l).endswith("...")))
            .cast("double")
            / F.size("lines")
        ).alias("frac_ellipsis_lines"),
    )
    rules = {
        "r_word_count": F.col("n_words").between(_G_MIN_WORDS, _G_MAX_WORDS),
        "r_mean_word_len": F.coalesce(
            F.col("mean_word_len").between(_G_MIN_MWL, _G_MAX_MWL), F.lit(False)
        ),
        "r_alpha_words": F.col("frac_alpha_words") >= _G_MIN_ALPHA,
        "r_stopwords": F.col("n_stopwords") >= _G_MIN_STOP,
        "r_symbol_ratio": F.col("symbol_word_ratio") < _G_MAX_SYMBOL,
        "r_bullet_lines": F.col("frac_bullet_lines") < _G_MAX_BULLET,
        "r_ellipsis_lines": F.col("frac_ellipsis_lines") < _G_MAX_ELLIPSIS,
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    return m.select(
        "*",
        *[c.alias(n) for n, c in rules.items()],
        keep.alias("keep"),
    )


# ---------------------------------------------------------------------------
# gopher_repetition_rules — Rae 2021 §A1.2, the repetition half
# ---------------------------------------------------------------------------

# Published thresholds (Rae et al. 2021 Table A1): a doc is REMOVED
# when the signal exceeds the bound, so keep-rules are `<=`.
_GR_DUP_LINE_MAX = 0.30
_GR_DUP_PARA_MAX = 0.30
_GR_DUP_LINE_CHAR_MAX = 0.20
_GR_DUP_PARA_CHAR_MAX = 0.20
_GR_TOP_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
_GR_DUP_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
_GR_PACK = 1 << 32  # (count, charlen) packed argmax base


def _gr_shingle_sql(k: int) -> str:
    """DuckDB twin of functions.word_shingles(toks, k): starts
    1..L-k+1 (range stop exclusive), slice i..i+k-1 inclusive, '_'
    join; empty below k tokens."""
    return (
        f"list_transform(range(1, greatest(len(toks) - {k - 2}, 1)), "
        f"i -> array_to_string(toks[i:i+{k - 1}], '_'))"
    )


# Generated oracle fragments for the n = 5..10 dup-n-gram family (the
# full published rule set — one UNION branch / join / frac / rule per
# width, driven off _GR_DUP_MAX so Spark and oracle can never skew).
_GR_WINS_SQL = "\n        UNION ALL\n".join(
    f"""        SELECT doc_id, {n} AS n,
               unnest({_gr_shingle_sql(n)}) AS g,
               unnest(range(1, greatest(len(toks) - {n - 2}, 1))) AS st
        FROM t"""
    for n in sorted(_GR_DUP_MAX)
)
_GR_DUP_FRACS = ",\n".join(
    f"""               CASE WHEN b.tok_chars > 0 THEN
                   CAST(COALESCE(c{n}.chars, 0) AS DOUBLE) / b.tok_chars
               ELSE 0.0 END AS dup{n}gram_char_frac"""
    for n in sorted(_GR_DUP_MAX)
)
_GR_DUP_JOINS = "\n".join(
    f"        LEFT JOIN covs c{n} ON c{n}.doc_id = b.doc_id AND c{n}.n = {n}"
    for n in sorted(_GR_DUP_MAX)
)
_GR_DUP_COLS = ", ".join(f"dup{n}gram_char_frac" for n in sorted(_GR_DUP_MAX))
_GR_DUP_RULES = ",\n".join(
    f"           dup{n}gram_char_frac <= {_GR_DUP_MAX[n]} AS r_dup{n}gram"
    for n in sorted(_GR_DUP_MAX)
)
_GR_DUP_KEEP = "\n".join(
    f"               AND dup{n}gram_char_frac <= {_GR_DUP_MAX[n]}"
    for n in sorted(_GR_DUP_MAX)
)


_GR_SQL = rf"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks,
               regexp_split_to_array(text, '\n') AS lines,
               regexp_split_to_array(text, '\n\n') AS paras
        FROM documents
    ),
    s AS (
        SELECT doc_id, toks,
               len(lines) AS n_lines, len(paras) AS n_paras,
               CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
                    AS BIGINT) AS tok_chars,
               COALESCE(list_sum(list_transform(lines, x -> length(x))), 0) AS line_chars,
               COALESCE(list_sum(list_transform(paras, x -> length(x))), 0) AS para_chars,
               list_sort(lines) AS lsl, list_sort(paras) AS lsp
        FROM t
    ),
    sd AS (
        SELECT *,
               list_filter(lsl, (x, i) -> x = lsl[i - 1]) AS dl,
               list_filter(lsp, (x, i) -> x = lsp[i - 1]) AS dp
        FROM s
    ),
    base AS (
        SELECT doc_id, toks, tok_chars, n_lines, n_paras,
               CAST(len(dl) AS DOUBLE) / n_lines AS dup_line_frac,
               CASE WHEN line_chars > 0 THEN
                   CAST(COALESCE(list_sum(list_transform(dl, x -> length(x))), 0)
                        AS DOUBLE) / line_chars ELSE 0.0 END AS dup_line_char_frac,
               CAST(len(dp) AS DOUBLE) / n_paras AS dup_para_frac,
               CASE WHEN para_chars > 0 THEN
                   CAST(COALESCE(list_sum(list_transform(dp, x -> length(x))), 0)
                        AS DOUBLE) / para_chars ELSE 0.0 END AS dup_para_char_frac
        FROM sd
    ),
    sh AS (
        SELECT doc_id, 2 AS n, unnest({_gr_shingle_sql(2)}) AS g FROM t
        UNION ALL
        SELECT doc_id, 3 AS n, unnest({_gr_shingle_sql(3)}) AS g FROM t
        UNION ALL
        SELECT doc_id, 4 AS n, unnest({_gr_shingle_sql(4)}) AS g FROM t
    ),
    topn AS (
        SELECT doc_id, n,
               max(cnt * {_GR_PACK} + (length(g) - n + 1)) AS packed
        FROM (SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS cnt
              FROM sh GROUP BY doc_id, n, g)
        WHERE cnt >= 2
        GROUP BY doc_id, n
    ),
    topw AS (
        SELECT doc_id,
               max(CASE WHEN n = 2 THEN (packed // {_GR_PACK}) * (packed % {_GR_PACK}) END) AS t2,
               max(CASE WHEN n = 3 THEN (packed // {_GR_PACK}) * (packed % {_GR_PACK}) END) AS t3,
               max(CASE WHEN n = 4 THEN (packed // {_GR_PACK}) * (packed % {_GR_PACK}) END) AS t4
        FROM topn GROUP BY doc_id
    ),
    wins AS (
{_GR_WINS_SQL}
    ),
    dupw AS (
        SELECT doc_id, n, st FROM (
            SELECT doc_id, n, st,
                   count(*) OVER (PARTITION BY doc_id, n, g) AS cw
            FROM wins
        ) WHERE cw >= 2
    ),
    isl AS (
        SELECT doc_id, n, st, st + n - 1 AS en,
               CASE WHEN st > COALESCE(max(st + n - 1) OVER (
                        PARTITION BY doc_id, n ORDER BY st
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1)
                    THEN 1 ELSE 0 END AS brk
        FROM dupw
    ),
    isl2 AS (
        SELECT doc_id, n, st, en,
               sum(brk) OVER (PARTITION BY doc_id, n ORDER BY st
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS isle
        FROM isl
    ),
    merged AS (
        SELECT doc_id, n, min(st) AS a, max(en) AS b
        FROM isl2 GROUP BY doc_id, n, isle
    ),
    pos AS (
        SELECT doc_id, i,
               CAST(length(toks[i]) AS BIGINT) AS cl
        FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t)
    ),
    cum AS (
        SELECT doc_id, i,
               sum(cl) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS p
        FROM pos
    ),
    covs AS (
        SELECT m.doc_id, m.n,
               CAST(sum(cb.p - COALESCE(ca.p, 0)) AS BIGINT) AS chars
        FROM merged m
        JOIN cum cb ON cb.doc_id = m.doc_id AND cb.i = m.b
        LEFT JOIN cum ca ON ca.doc_id = m.doc_id AND ca.i = m.a - 1
        GROUP BY m.doc_id, m.n
    ),
    m AS (
        SELECT b.doc_id, b.n_lines, b.n_paras, b.tok_chars,
               b.dup_line_frac, b.dup_line_char_frac,
               b.dup_para_frac, b.dup_para_char_frac,
               CASE WHEN b.tok_chars > 0 THEN
                   CAST(COALESCE(tw.t2, 0) AS DOUBLE) / b.tok_chars
               ELSE 0.0 END AS top2gram_char_frac,
               CASE WHEN b.tok_chars > 0 THEN
                   CAST(COALESCE(tw.t3, 0) AS DOUBLE) / b.tok_chars
               ELSE 0.0 END AS top3gram_char_frac,
               CASE WHEN b.tok_chars > 0 THEN
                   CAST(COALESCE(tw.t4, 0) AS DOUBLE) / b.tok_chars
               ELSE 0.0 END AS top4gram_char_frac,
{_GR_DUP_FRACS}
        FROM base b
        LEFT JOIN topw tw ON tw.doc_id = b.doc_id
{_GR_DUP_JOINS}
    )
    SELECT doc_id, n_lines, n_paras, tok_chars,
           dup_line_frac, dup_line_char_frac,
           dup_para_frac, dup_para_char_frac,
           top2gram_char_frac, top3gram_char_frac, top4gram_char_frac,
           {_GR_DUP_COLS},
           dup_line_frac <= {_GR_DUP_LINE_MAX} AS r_dup_line,
           dup_line_char_frac <= {_GR_DUP_LINE_CHAR_MAX} AS r_dup_line_chars,
           dup_para_frac <= {_GR_DUP_PARA_MAX} AS r_dup_para,
           dup_para_char_frac <= {_GR_DUP_PARA_CHAR_MAX} AS r_dup_para_chars,
           top2gram_char_frac <= {_GR_TOP_MAX[2]} AS r_top2gram,
           top3gram_char_frac <= {_GR_TOP_MAX[3]} AS r_top3gram,
           top4gram_char_frac <= {_GR_TOP_MAX[4]} AS r_top4gram,
{_GR_DUP_RULES},
           dup_line_frac <= {_GR_DUP_LINE_MAX}
               AND dup_line_char_frac <= {_GR_DUP_LINE_CHAR_MAX}
               AND dup_para_frac <= {_GR_DUP_PARA_MAX}
               AND dup_para_char_frac <= {_GR_DUP_PARA_CHAR_MAX}
               AND top2gram_char_frac <= {_GR_TOP_MAX[2]}
               AND top3gram_char_frac <= {_GR_TOP_MAX[3]}
               AND top4gram_char_frac <= {_GR_TOP_MAX[4]}
{_GR_DUP_KEEP} AS keep
    FROM m
"""


@query("gopher_repetition_rules", layer="C", oracle=_GR_SQL)
def gopher_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's REPETITION rule set (Rae et al. 2021 §A1.2 / Table A1
    — the second half of the published filter whose §A1.1 half is
    gopher_quality_rules; r11 VERDICT item 1): per doc,

    - duplicate line / paragraph FRACTION: occurrences beyond the
      first of each repeated line (paragraph = '\\n\\n' block) over the
      total count — computed with ZERO shuffles as equal-adjacent runs
      of the sorted array (sum over values of cnt-1 = the number of
      sorted positions equal to their predecessor);
    - duplicate line / paragraph CHARACTER fraction: the same
      occurrences weighted by their char length over total structure
      chars;
    - top n-gram character fraction (n = 2, 3, 4): chars claimed by
      the single most frequent token n-gram (count x n-gram token
      chars) over total token chars. DELIBERATE DEVIATION from the
      paper: the metric is scored only when that n-gram occurs >= 2
      times — Rae 2021 scores the most-frequent n-gram regardless of
      count, which would charge an all-unique short doc charlen/
      tok_chars purely for being short; here a count-1 "top" scores 0
      (not repetition). "Top" is the lexicographic max of (count,
      charlen) packed into one int64 (count * 2^32 + charlen) so both
      engines pick the identical winner with pure integer arithmetic —
      no string-order tiebreak;
    - duplicate n-gram character fraction, the COMPLETE published set
      n = 5..10 (Table A1 thresholds 0.15/0.14/0.13/0.12/0.11/0.10):
      fraction of token chars COVERED by at least one occurrence of a
      within-doc-repeated n-gram — overlaps counted once by merging
      each width's duplicated windows [st, st+n-1] into disjoint
      intervals (gaps-and-islands over sorted starts per (doc, n)),
      then charging each merged interval P[b] - P[a-1] against the
      per-doc prefix sum of token lengths; the same gaps-and-islands
      discipline as substring_dedup_spans but per-document.

    Keep-thresholds are the paper's: 0.30/0.30 dup line/para frac,
    0.20/0.20 char fracs, 0.20/0.18/0.16 top-{{2,3,4}}-gram,
    0.15/0.14/0.13/0.12/0.11/0.10 dup-{{5..10}}-gram. `keep` is the
    conjunction — the gate quality_filter_funnel-style pipelines
    compose AFTER the §A1.1 rules.

    Exactness: every fraction is IEEE division of identical integers;
    the argmax rides the packed int64; thresholds are decimal
    literals. Scale shape: the line/para block is a pure per-row
    column program (no shuffle at all); the n-gram blocks shuffle on
    high-cardinality (doc_id, n, gram) keys with map-side partials;
    coverage is O(L log L) per doc — two keyed window sorts (island
    merge, prefix sum) plus equi-joins on (doc, position), never a
    position x window range join (the r12 shape, quadratic exactly on
    long repetitive docs). At 100 TB every stage is a uniform keyed
    shuffle over ~doc-sized groups."""
    d = spread(spark, load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    base = d.select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
        F.split(F.col("text"), "\n", -1).alias("line"),
        F.split(F.col("text"), "\n\n", -1).alias("para"),
    )

    def chars_of(col) -> F.Column:
        return F.aggregate(
            col, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        )

    def dup_structure(name: str) -> list:
        ls = F.array_sort(F.col(name))
        # occurrences beyond the first = sorted elements equal to their
        # predecessor (F.get is 0-based and NULL-safe at -1, mirroring
        # DuckDB's 1-based lsl[i-1] with lsl[0] = NULL).
        dups = F.filter(ls, lambda x, i: x == F.get(ls, i - 1))
        n = F.size(name).cast("long")
        total = chars_of(F.col(name))
        return [
            n.alias(f"n_{name}s"),
            (F.size(dups).cast("double") / n).alias(f"dup_{name}_frac"),
            F.when(total > 0, chars_of(dups).cast("double") / total)
            .otherwise(0.0)
            .alias(f"dup_{name}_char_frac"),
        ]

    stats = base.select(
        "doc_id",
        chars_of(F.col("toks")).alias("tok_chars"),
        *dup_structure("line"),
        *dup_structure("para"),
    )

    def _tag_one(n: int) -> F.Column:
        return F.transform(
            word_shingles(F.col("toks"), k=n),
            lambda g, i: F.struct(
                F.lit(n).alias("n"),
                (i + 1).cast("long").alias("st"),
                g.alias("g"),
            ),
        )

    def tagged(ns: tuple) -> F.Column:
        return F.explode(F.flatten(F.array(*[_tag_one(n) for n in ns])))

    sh = base.select("doc_id", tagged((2, 3, 4)).alias("x")).select(
        "doc_id", F.col("x.n").alias("n"), F.col("x.g").alias("g")
    )
    # A count-1 "top" n-gram is not repetition: an all-unique short doc
    # must score 0, not charlen/tok_chars (which would fail the 0.20
    # bound purely for being short).
    topn = (
        sh.groupBy("doc_id", "n", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .groupBy("doc_id", "n")
        .agg(
            F.max(
                F.col("cnt") * _GR_PACK
                + (F.length("g") - F.col("n") + 1).cast("long")
            ).alias("packed")
        )
    )
    num = F.expr(f"(packed div {_GR_PACK}) * (packed % {_GR_PACK})")
    topw = topn.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("n") == n, num)).alias(f"t{n}")
            for n in (2, 3, 4)
        ]
    )

    from pyspark.sql import Window

    wins = base.select("doc_id", tagged(tuple(sorted(_GR_DUP_MAX))).alias("x")).select(
        "doc_id",
        F.col("x.n").alias("n"),
        F.col("x.st").alias("st"),
        F.col("x.g").alias("g"),
    )
    dupw = (
        wins.withColumn(
            "cw", F.count(F.lit(1)).over(Window.partitionBy("doc_id", "n", "g"))
        )
        .filter(F.col("cw") >= 2)
        .select("doc_id", "n", "st")
    )
    pos = base.select(
        "doc_id", F.posexplode("toks").alias("i0", "tok")
    ).select(
        "doc_id",
        (F.col("i0") + 1).cast("long").alias("i"),
        F.length("tok").cast("long").alias("cl"),
    )

    # Coverage by per-doc INTERVAL MERGE (r12 ADVICE: the old
    # position x window-start range join was O(L x dup-windows) per doc
    # — quadratic exactly on the long repetitive docs this filter
    # exists to catch). A duplicated window of width n covers token
    # positions [st, st+n-1]; gaps-and-islands over the sorted starts
    # per (doc, n) merges overlapping windows into disjoint intervals
    # [a, b] (a new island starts when st exceeds the running max end),
    # and each interval's covered chars come from two O(1) lookups into
    # the per-doc prefix sum of token lengths: P[b] - P[a-1]. Total
    # work is O(L log L) per doc (two keyed window sorts + equi-joins)
    # — the same gaps-and-islands discipline as substring_dedup_spans.
    wI = Window.partitionBy("doc_id", "n").orderBy("st")
    prev_end = F.max(F.col("st") + F.col("n") - 1).over(
        wI.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = dupw.select(
        "doc_id",
        "n",
        "st",
        (F.col("st") + F.col("n") - 1).alias("en"),
        F.when(F.col("st") > F.coalesce(prev_end, F.lit(-1)), 1)
        .otherwise(0)
        .alias("brk"),
    )
    merged = (
        isl.withColumn(
            "isle", F.sum("brk").over(wI.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("doc_id", "n", "isle")
        .agg(F.min("st").alias("a"), F.max("en").alias("b"))
    )
    cum = pos.withColumn(
        "p",
        F.sum("cl").over(
            Window.partitionBy("doc_id")
            .orderBy("i")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    cb = cum.select(
        F.col("doc_id").alias("b_doc"), F.col("i").alias("b_i"),
        F.col("p").alias("p_b"),
    )
    ca = cum.select(
        F.col("doc_id").alias("a_doc"), F.col("i").alias("a_i"),
        F.col("p").alias("p_a"),
    )
    cov = (
        merged.join(cb, (merged.doc_id == cb.b_doc) & (merged.b == cb.b_i))
        .join(
            ca,
            (merged.doc_id == ca.a_doc) & ((merged.a - 1) == ca.a_i),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(
                    F.when(
                        F.col("n") == n,
                        F.col("p_b") - F.coalesce(F.col("p_a"), F.lit(0).cast("long")),
                    )
                ).alias(f"cov{n}")
                for n in sorted(_GR_DUP_MAX)
            ]
        )
    )

    j = stats.join(topw, "doc_id", "left").join(cov, "doc_id", "left")
    den = F.col("tok_chars")

    def frac(col: str) -> F.Column:
        return (
            F.when(
                den > 0,
                F.coalesce(F.col(col), F.lit(0).cast("long")).cast("double")
                / den,
            ).otherwise(0.0)
        )

    metrics = {
        "dup_line_frac": F.col("dup_line_frac"),
        "dup_line_char_frac": F.col("dup_line_char_frac"),
        "dup_para_frac": F.col("dup_para_frac"),
        "dup_para_char_frac": F.col("dup_para_char_frac"),
        "top2gram_char_frac": frac("t2"),
        "top3gram_char_frac": frac("t3"),
        "top4gram_char_frac": frac("t4"),
        **{f"dup{n}gram_char_frac": frac(f"cov{n}") for n in sorted(_GR_DUP_MAX)},
    }
    bounds = {
        "dup_line_frac": _GR_DUP_LINE_MAX,
        "dup_line_char_frac": _GR_DUP_LINE_CHAR_MAX,
        "dup_para_frac": _GR_DUP_PARA_MAX,
        "dup_para_char_frac": _GR_DUP_PARA_CHAR_MAX,
        "top2gram_char_frac": _GR_TOP_MAX[2],
        "top3gram_char_frac": _GR_TOP_MAX[3],
        "top4gram_char_frac": _GR_TOP_MAX[4],
        **{f"dup{n}gram_char_frac": _GR_DUP_MAX[n] for n in sorted(_GR_DUP_MAX)},
    }
    rule_names = {
        "dup_line_frac": "r_dup_line",
        "dup_line_char_frac": "r_dup_line_chars",
        "dup_para_frac": "r_dup_para",
        "dup_para_char_frac": "r_dup_para_chars",
        "top2gram_char_frac": "r_top2gram",
        "top3gram_char_frac": "r_top3gram",
        "top4gram_char_frac": "r_top4gram",
        **{
            f"dup{n}gram_char_frac": f"r_dup{n}gram"
            for n in sorted(_GR_DUP_MAX)
        },
    }
    sel = j.select(
        "doc_id",
        F.col("n_lines"),
        F.col("n_paras"),
        F.col("tok_chars"),
        *[c.alias(n) for n, c in metrics.items()],
    )
    keep = None
    rules = []
    for mname, rname in rule_names.items():
        r = F.col(mname) <= bounds[mname]
        rules.append(r.alias(rname))
        keep = r if keep is None else (keep & r)
    return sel.select("*", *rules, keep.alias("keep"))


# ---------------------------------------------------------------------------
# temperature_sampling
# ---------------------------------------------------------------------------

_TEMP_M = 10_000  # keep-rate granularity: 1/10000

_TEMP_SQL = f"""
    WITH counts AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ),
    mx AS (SELECT MAX(n_docs) AS n_max FROM counts),
    kept AS (
        SELECT source, count(*) AS n_kept
        FROM (
            SELECT d.source,
                   CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) % {_TEMP_M} AS h,
                   c.n_docs, mx.n_max
            FROM documents d
            JOIN counts c USING (source) CROSS JOIN mx
        )
        WHERE h * h * n_max < {_TEMP_M * _TEMP_M} * n_docs
        GROUP BY source
    )
    SELECT c.source, c.n_docs,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(k.n_kept, 0) * 1.0 / c.n_docs AS achieved_rate
    FROM counts c LEFT JOIN kept k USING (source)
"""


@query("temperature_sampling", layer="C", oracle=_TEMP_SQL)
def temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture re-balancing (alpha = 0.5): each
    source keeps docs with probability p_s = (n_s / n_max)^alpha — the
    multilingual-LLM up/down-sampling rule (smaller sources keep a
    LARGER share, the biggest source keeps 100%) with the keep decision
    made by a deterministic content-independent doc_id hash, so the
    sample is reproducible across engines and incremental runs
    (mixture_plan decides targets; this executes a smoothing).

    Exactness by construction: the sqrt never happens. Keep iff
    hash_frac < sqrt(n_s/n_max) is restated as the INTEGER comparison
    h*h*n_max < M*M*n_s (h = hash % M, M = _TEMP_M = 10000) — both engines
    compare exact int64 products, so no float boundary exists anywhere
    in the verdict path. Bound: h^2 <= 1e8, so n_max up to ~9.2e10 docs
    fits int64; past that, widen to DECIMAL(38,0) on both engines.

    Scale shape: one count aggregate (O(sources) rows) broadcast back
    onto the doc scan, a narrow hash filter, one re-aggregate — two
    tiny shuffles, no wide rows, no windows; AQE-safe at any corpus
    size. `counts` is localCheckpointed (it is O(sources) rows) so the
    corpus is scanned exactly twice — once for the counts, once for the
    keep filter — instead of once per plan branch (r6 VERDICT item 5:
    the un-checkpointed plan re-aggregated the scan three times)."""
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    counts = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .localCheckpoint(eager=True)
    )
    n_max = counts.agg(F.max("n_docs").alias("n_max"))
    h = hash60(F.col("doc_id").cast("string")) % _TEMP_M
    kept = (
        d.select("doc_id", "source")
        .join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(n_max))
        .filter(h * h * F.col("n_max") < F.lit(_TEMP_M * _TEMP_M) * F.col("n_docs"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        counts.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (
                F.coalesce(F.col("n_kept"), F.lit(0)) * F.lit(1.0) / F.col("n_docs")
            ).alias("achieved_rate"),
        )
    )


# ---------------------------------------------------------------------------
# unimax_mixture — UniMax epoch-capped language budget allocation
# ---------------------------------------------------------------------------

_UMX_M = 10_000  # doc keep-rate granularity (temperature_sampling's M)

_UMX_SQL = rf"""
    WITH RECURSIVE ltok AS (
        SELECT doc_id, lang,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(lower(text)), '\s+'))
               END AS tok
        FROM documents
    ),
    langs AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(COALESCE(sum(tok), 0) AS BIGINT) AS u
        FROM ltok GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(u) AS BIGINT) AS su,
                   CAST(count(*) AS BIGINT) AS l FROM langs),
    ordered AS (
        SELECT lang, n_docs, u, u AS cap,
               CAST(row_number() OVER (ORDER BY u, lang) AS BIGINT) AS i
        FROM langs
    ),
    wf AS (
        SELECT CAST(0 AS BIGINT) AS i,
               (SELECT (3 * su) // 4 FROM tot) AS remaining,
               CAST(NULL AS VARCHAR) AS lang, CAST(0 AS BIGINT) AS alloc
        UNION ALL
        SELECT o.i,
               wf.remaining - LEAST(o.cap,
                   wf.remaining // ((SELECT l FROM tot) - o.i + 1)),
               o.lang,
               LEAST(o.cap,
                   wf.remaining // ((SELECT l FROM tot) - o.i + 1))
        FROM wf JOIN ordered o ON o.i = wf.i + 1
    ),
    al AS (SELECT lang, alloc FROM wf WHERE lang IS NOT NULL),
    kept AS (
        SELECT t.lang, count(*) AS n_kept
        FROM ltok t JOIN al USING (lang) JOIN langs lg USING (lang)
        WHERE (CAST('0x' || substr(md5('um:' || CAST(t.doc_id AS VARCHAR)),
                                   1, 15) AS BIGINT)
               % {_UMX_M}) * lg.u < al.alloc * {_UMX_M}
        GROUP BY t.lang
    )
    SELECT o.lang, o.n_docs, o.u AS lang_tokens, o.cap AS cap_tokens,
           al.alloc AS alloc_tokens,
           (al.alloc = o.cap) AS is_capped,
           CASE WHEN o.u > 0 THEN (al.alloc * 1000000) // o.u
                ELSE 0 END AS epochs_micro,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept_docs
    FROM ordered o
    JOIN al USING (lang)
    LEFT JOIN kept k USING (lang)
"""


@query("unimax_mixture", layer="C", oracle=_UMX_SQL)
def unimax_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language-budget allocation (Chung et al. 2023, ICLR —
    "UniMax: Fairer and More Effective Language Sampling for
    Large-Scale Multilingual Pretraining"): distribute a total token
    budget T as UNIFORMLY as possible across languages subject to a
    per-language epoch cap — the published alternative to temperature
    sampling (temperature_sampling here) that avoids both
    high-resource domination AND low-resource over-epoching. This
    engine runs UniMax-1 (cap = 1 epoch = the language's own token
    count) at T = 3/4 of the corpus, chosen so the committed corpora
    exercise BOTH branches (small languages hit the cap, the largest
    absorbs the waterfilled remainder).

    The allocation is the standard WATERFILL: visit languages in
    ascending capacity order; each takes min(cap, remaining //
    languages_left). All integer arithmetic (floor division), so the
    sequential loop is bit-reproducible — the oracle re-derives it
    with a recursive CTE over the identical ordering (u, then lang).
    Per-language doc materialization uses the family's integer
    keep-test: doc kept iff (h60('um:'||doc_id) % {_UMX_M}) * U_lang <
    alloc * {_UMX_M} — temperature_sampling's hash discipline at rate
    alloc/U (doc-count approximation of the token-level rate;
    production samples at sequence level post-packing).

    Scale shape: one groupBy(lang) aggregate (map-side partial over a
    low-cardinality key — languages number in the hundreds, the ONE
    place a low-card key is the contract), an O(languages) driver
    loop (the documented trainer class — same as the BPE/k-means
    syncs), then a broadcast join + filter for the keep counts. At
    100 TB: one corpus scan + one broadcast; the waterfill itself is
    O(L log L) on the driver over a table that fits in a page."""
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    lt = d.select(
        "doc_id", "lang", F.size(tokens(F.col("text"))).alias("tok")
    )
    langs = lt.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("tok"), F.lit(0)).cast("long").alias("u"),
    )
    # O(languages) driver sync — the documented trainer-loop class.
    rows = sorted(langs.collect(), key=lambda r: (r.u, r.lang))
    total = sum(r.u for r in rows)
    n_langs = len(rows)
    remaining = (3 * total) // 4
    out_rows = []
    for idx, r in enumerate(rows):
        share = remaining // (n_langs - idx)
        a = min(r.u, share)
        remaining -= a
        out_rows.append((r.lang, r.n_docs, r.u, r.u, a))
    am = spark.createDataFrame(
        out_rows,
        "lang string, n_docs long, lang_tokens long, "
        "cap_tokens long, alloc_tokens long",
    )
    h = hash60(F.concat(F.lit("um:"), F.col("doc_id").cast("string")))
    kept = (
        lt.join(
            F.broadcast(
                am.select(
                    "lang", "alloc_tokens",
                    F.col("lang_tokens").alias("u2"),
                )
            ),
            "lang",
        )
        .filter((h % _UMX_M) * F.col("u2") < F.col("alloc_tokens") * _UMX_M)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept_docs"))
    )
    return (
        am.join(kept, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "lang_tokens",
            "cap_tokens",
            "alloc_tokens",
            (F.col("alloc_tokens") == F.col("cap_tokens")).alias("is_capped"),
            F.when(
                F.col("lang_tokens") > 0,
                F.expr("(alloc_tokens * 1000000) div lang_tokens"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("epochs_micro"),
            F.coalesce(F.col("n_kept_docs"), F.lit(0).cast("long")).alias(
                "n_kept_docs"
            ),
        )
    )


# ---------------------------------------------------------------------------
# length_curriculum_order — sequence-length-warmup training order
# ---------------------------------------------------------------------------

_CUR_STAGES = 4
_CUR_SHARDS = 8

_CUR_SQL = rf"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(lower(text)), '\s+'))
               END AS n_tok
        FROM documents
    ),
    r AS (
        SELECT doc_id, n_tok,
               CAST(row_number() OVER (ORDER BY n_tok, doc_id) AS BIGINT)
                   AS rn,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM t
    ),
    s AS (
        SELECT doc_id, n_tok,
               ((rn - 1) * {_CUR_STAGES}) // n AS stage,
               CAST('0x' || substr(md5('cur:' || CAST(doc_id AS VARCHAR)),
                                   1, 15) AS BIGINT) AS hv
        FROM r
    )
    SELECT doc_id, n_tok, stage,
           hv % {_CUR_SHARDS} AS shard,
           CAST(row_number() OVER (
               PARTITION BY stage, hv % {_CUR_SHARDS}
               ORDER BY hv, doc_id) AS BIGINT) AS pos
    FROM s
"""


@query("length_curriculum_order", layer="C", oracle=_CUR_SQL)
def length_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length-warmup curriculum order (Li et al. 2022,
    "The Stability-Efficiency Dilemma: Investigating Sequence Length
    Warmup for Training GPT Models" — the published curriculum that
    orders early training toward SHORT sequences; Bengio et al. 2009
    is the general recipe): docs are split into {_CUR_STAGES}
    equal-count stages by global (token count, doc_id) rank — stage 0
    = shortest quartile, consumed first — and WITHIN a stage the
    training order is the engine's deterministic hash shuffle
    (training_shuffle's discipline, salted 'cur:' so the permutation
    is independent of the plain epoch shuffle): shard = h60 %
    {_CUR_SHARDS}, position = rank by (hash, doc_id) within
    (stage, shard). Reading stages in order, shards round-robin,
    replays one fixed length-curriculum permutation on any
    engine/run/cluster.

    Stage boundaries are exact-rank quartiles (((rn-1) *
    {_CUR_STAGES}) div n — integer end-to-end), not fixed length
    thresholds, so stages are balanced on any corpus distribution.

    Scale shape: the global rank is the sanctioned TWO-PHASE form
    (range-repartition on (n_tok, doc_id), driver-folded offsets over
    O(partitions) slice counts, per-partition windows — no
    empty-partition-spec global window; the test_no_global_ordered_
    windows pin applies), then ONE shuffle on (stage, shard) with a
    per-shard ordered window — training_shuffle's contract: production
    sets shards ~ 10x executor count so each window sorts
    corpus/(stages x shards) rows in one task's memory."""
    from pyspark.sql import Window

    from cuttlefish_spark.operators.twophase import two_phase_rank

    d = spread(spark, load_table(spark, sf_dir, "documents"))
    lt = d.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tok")
    ).withColumn("g", F.lit(0))
    rk = two_phase_rank(
        spark, lt, "g", [F.col("n_tok"), F.col("doc_id")], key_type="int"
    )
    hv = hash60(F.concat(F.lit("cur:"), F.col("doc_id").cast("string")))
    s = rk.select(
        "doc_id",
        "n_tok",
        F.expr(f"((rn - 1) * {_CUR_STAGES}) div n").alias("stage"),
        hv.alias("hv"),
        (hv % _CUR_SHARDS).alias("shard"),
    )
    w = Window.partitionBy("stage", "shard").orderBy("hv", "doc_id")
    return s.select(
        "doc_id",
        "n_tok",
        "stage",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )


# ---------------------------------------------------------------------------
# bpe_train_merges — iterative BPE tokenizer training
# ---------------------------------------------------------------------------

_BPE_MERGES = 8

_WORDS_SQL = r"""
        SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM (
            SELECT unnest(CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(trim(lower(text)), '\s+')
                          END) AS word
            FROM documents
        ) GROUP BY word
"""


def _bpe_ctes(n_merges: int, scoring: str = "count") -> list[str]:
    """The shared CTE chain of the BPE oracles: seq0 (char-split word
    frequency table) through seq{n} (symbol sequences after n greedy
    merges), with b{i} holding round i's argmax pair. Each iteration:
    pair counts -> argmax (cnt DESC, l, r) -> greedy left-to-right
    merge application via window-function run-parity (among consecutive
    match positions, offsets 0, 2, 4... are active; position j+1 of an
    active match is consumed). The window formulation is deliberately a
    DIFFERENT algorithm from the Spark side's sequential fold — the two
    are provably equivalent on greedy BPE, so a hash match checks the
    algorithm, not a shared implementation.

    scoring="count" is classic BPE (argmax pair count);
    scoring="wordpiece" is the WordPiece likelihood criterion
    (Schuster & Nakajima 2012; Wu 2016 GNMT §4.1): argmax
    cnt / (freq(l) * freq(r)) — the pair whose merge most increases
    corpus likelihood under a unigram-independence model — which
    needs a per-round symbol-frequency CTE s{i}. The double division
    is IEEE-identical in both engines (exact bigint inputs), so the
    argmax and the emitted round(score, 9) hash-match."""
    ctes = [
        f"""seq0 AS MATERIALIZED (
        SELECT word, freq,
               list_transform(generate_series(1, length(word)),
                              i -> substr(word, i, 1)) AS syms
        FROM ({_WORDS_SQL})
    )"""
    ]
    for i in range(n_merges):
        ctes.append(f"""p{i} AS MATERIALIZED (
        SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt
        FROM (
            SELECT freq, syms[j] AS l, syms[j + 1] AS r
            FROM (
                SELECT freq, syms,
                       unnest(generate_series(1, len(syms) - 1)) AS j
                FROM seq{i} WHERE len(syms) >= 2
            )
        ) GROUP BY l, r
    )""")
        if scoring == "wordpiece":
            ctes.append(f"""s{i} AS MATERIALIZED (
        SELECT sym, CAST(sum(freq) AS BIGINT) AS f
        FROM (SELECT freq, unnest(syms) AS sym FROM seq{i})
        GROUP BY sym
    )""")
            ctes.append(f"""b{i} AS MATERIALIZED (
        SELECT l, r, cnt,
               round(CAST(cnt AS DOUBLE)
                     / (CAST(fl.f AS DOUBLE) * CAST(fr.f AS DOUBLE)), 9)
                   AS score
        FROM p{i}
        JOIN s{i} fl ON fl.sym = p{i}.l
        JOIN s{i} fr ON fr.sym = p{i}.r
        ORDER BY CAST(cnt AS DOUBLE)
                 / (CAST(fl.f AS DOUBLE) * CAST(fr.f AS DOUBLE)) DESC, l, r
        LIMIT 1
    )""")
        else:
            ctes.append(f"""b{i} AS MATERIALIZED (
        SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1
    )""")
        ctes.append(f"""x{i} AS MATERIALIZED (
        SELECT word, freq, j, syms[j] AS sym,
               (syms[j] = b.l AND j < len(syms) AND syms[j + 1] = b.r) AS m
        FROM (
            SELECT word, freq, syms,
                   unnest(generate_series(1, len(syms))) AS j
            FROM seq{i}
        ) CROSS JOIN b{i} b
    )""")
        ctes.append(f"""a{i} AS MATERIALIZED (
        SELECT word, j,
               row_number() OVER (PARTITION BY word, grp ORDER BY j) % 2 = 1
                   AS active
        FROM (
            SELECT word, j,
                   j - row_number() OVER (PARTITION BY word ORDER BY j) AS grp
            FROM x{i} WHERE m
        )
    )""")
        ctes.append(f"""seq{i + 1} AS MATERIALIZED (
        SELECT x.word, x.freq,
               list(CASE WHEN coalesce(a.active, FALSE)
                         THEN x.sym || b.r ELSE x.sym END
                    ORDER BY x.j) AS syms
        FROM x{i} x
        CROSS JOIN b{i} b
        LEFT JOIN a{i} a ON a.word = x.word AND a.j = x.j
        LEFT JOIN a{i} c ON c.word = x.word AND c.j = x.j - 1 AND c.active
        WHERE c.j IS NULL
        GROUP BY x.word, x.freq
    )""")
    return ctes


def _bpe_oracle(n_merges: int) -> str:
    """The learned merge table: one row per training round's argmax."""
    steps = "\n        UNION ALL\n".join(
        f"        SELECT {i + 1} AS step, l AS left_sym, r AS right_sym,"
        f" l || r AS merged, cnt AS pair_count FROM b{i}"
        for i in range(n_merges)
    )
    return (
        "WITH " + ",\n    ".join(_bpe_ctes(n_merges))
        + f"\n    SELECT * FROM (\n{steps}\n"
        "    ) ORDER BY step"
    )


def _wp_oracle(n_merges: int) -> str:
    """The learned WordPiece merge table: argmax-by-likelihood rows."""
    steps = "\n        UNION ALL\n".join(
        f"        SELECT {i + 1} AS step, l AS left_sym, r AS right_sym,"
        f" l || r AS merged, cnt AS pair_count, score AS wp_score FROM b{i}"
        for i in range(n_merges)
    )
    return (
        "WITH " + ",\n    ".join(_bpe_ctes(n_merges, scoring="wordpiece"))
        + f"\n    SELECT * FROM (\n{steps}\n"
        "    ) ORDER BY step"
    )


def _bpe_token_stats_oracle(n_merges: int) -> str:
    """Vocabulary profile of the ENCODED corpus — the seq{n} CTE (the
    symbol sequences after n merges) exploded and aggregated."""
    return (
        "WITH " + ",\n    ".join(_bpe_ctes(n_merges)) + f"""
    SELECT sym AS token,
           CAST(length(sym) AS BIGINT) AS token_len,
           CAST(sum(freq) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT word) AS BIGINT) AS n_words
    FROM (SELECT word, freq, unnest(syms) AS sym FROM seq{n_merges})
    GROUP BY sym"""
    )


# Trained merges + encoded-corpus memo, keyed on corpus identity and
# depth (same discipline as _QC_CACHE): bpe_train_merges and
# bpe_token_stats share ONE training run per corpus per session.
_BPE_CACHE: dict[tuple, tuple] = register_memo()


def _bpe_train(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int,
    scoring: str = "count",
    capture: dict[int, DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The BPE training loop, depth-parameterized (bpe_train_merges
    runs it at _BPE_MERGES = 8, bpe_vocab_prune_audit also at
    _BPE_MERGES // 2). Returns (merge table, final seq) — seq is the ENCODED
    corpus vocabulary (word, freq, syms after all merges), which
    bpe_token_stats aggregates; both are memoized per (session, corpus,
    depth) so the two queries train once.

    `capture` (r14, bpe_vocab_prune_audit): a dict whose KEYS name
    intermediate depths; on return capture[k] holds the encoded seq
    after k merges. The depth-k working set is literally an
    intermediate of the depth-n chain (greedy argmax is deterministic),
    so a vocab-size ablation over several depths trains ONCE instead of
    once per depth — the snapshots are the per-round checkpoints the
    loop materializes anyway, zero extra compute. On a memo hit the
    intermediates no longer exist; callers fall back to per-depth
    training (which then hits the per-depth memos)."""
    from cuttlefish_spark.io import memo_key, memo_put

    key = memo_key(spark, sf_dir, "documents") + (n_merges, scoring)
    if capture is None and key in _BPE_CACHE:
        return _BPE_CACHE[key]

    d = spread(spark, load_table(spark, sf_dir, "documents"))
    words = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    seq = words.select(
        "word",
        "freq",
        F.expr(
            "transform(sequence(1, length(word)), i -> substr(word, i, 1))"
        ).alias("syms"),
    ).localCheckpoint(eager=True)

    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        pairs = (
            seq.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " j -> struct(element_at(syms, j) AS l,"
                        "             element_at(syms, j + 1) AS r))"
                    )
                ).alias("p"),
            )
            .select("freq", "p.l", "p.r")
            .groupBy("l", "r")
            .agg(F.sum("freq").alias("cnt"))
        )
        if scoring == "wordpiece":
            # WordPiece likelihood criterion: score = cnt / (f_l * f_r)
            # (Schuster & Nakajima 2012). Symbol totals are one bounded
            # groupBy over the O(vocab) working set per round; the
            # double division is IEEE-identical to the oracle's.
            symfreq = (
                seq.select("freq", F.explode("syms").alias("sym"))
                .groupBy("sym")
                .agg(F.sum("freq").alias("f"))
            )
            raw = F.col("cnt").cast("double") / (
                F.col("fl").cast("double") * F.col("fr").cast("double")
            )
            scored = (
                pairs.join(
                    symfreq.select(F.col("sym").alias("l"), F.col("f").alias("fl")),
                    "l",
                )
                .join(
                    symfreq.select(F.col("sym").alias("r"), F.col("f").alias("fr")),
                    "r",
                )
                .select(
                    "l", "r", "cnt", raw.alias("raw"), F.round(raw, 9).alias("score")
                )
            )
            best = scored.orderBy(F.desc("raw"), "l", "r").limit(1).collect()
        else:
            best = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1).collect()
        if not best:  # corpus fully merged — no adjacent pairs left
            break
        l, r, cnt = best[0]["l"], best[0]["r"], best[0]["cnt"]
        if scoring == "wordpiece":
            merges.append((step, l, r, l + r, cnt, best[0]["score"]))
        else:
            merges.append((step, l, r, l + r, cnt))
        # Greedy left-to-right merge as a JVM-side fold: merge when the
        # accumulator's last symbol is `l` and the current one is `r`;
        # the just-merged symbol (l||r, strictly longer than l) can
        # never itself equal `l`, so the fold is exactly one greedy
        # pass — provably the same result as the oracle's run-parity
        # window formulation.
        last = F.element_at  # noqa: E731 — alias for line width
        seq = seq.select(
            "word",
            "freq",
            F.aggregate(
                F.col("syms"),
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    F.when(F.size(acc) > 0, last(acc, -1)) == F.lit(l),
                    F.when(
                        x == F.lit(r),
                        F.concat(
                            F.slice(acc, 1, F.size(acc) - 1),
                            F.array(F.lit(l + r)),
                        ),
                    ).otherwise(F.concat(acc, F.array(x))),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("syms"),
        ).localCheckpoint(eager=True)
        if capture is not None and step in capture:
            capture[step] = seq

    schema = (
        "step int, left_sym string, right_sym string, merged string,"
        " pair_count long"
    )
    if scoring == "wordpiece":
        schema += ", wp_score double"
    merges_df = spark.createDataFrame(merges, schema)
    memo_put(_BPE_CACHE, key, (merges_df, seq))
    return merges_df, seq


@query("bpe_train_merges", layer="C", oracle=_bpe_oracle(_BPE_MERGES))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, distributed: the first _BPE_MERGES = 8
    merge rules learned from the corpus (bpe_pair_counts is one round
    of this loop's counting step; token_count_bpe APPLIES a trained
    tokenizer — this trains one). Per iteration: adjacent-symbol pair
    counts weighted by word frequency, argmax by (count DESC, pair
    lexicographic), then greedy left-to-right merge application; emits
    (step, left_sym, right_sym, merged, pair_count).

    Spark-first iterative shape (the standard BPE factorization): the
    corpus collapses ONCE to the word-frequency table — the working
    set is O(vocabulary), not O(corpus), so at 100 TB the loop runs on
    a few million rows regardless of input size. Each iteration is one
    explode + one bounded-key count shuffle, the argmax moves ONE
    scalar triple to the driver (the dedup_clusters convergence
    pattern — a literal is required to build the next plan), merge
    application is a JVM-side F.aggregate fold (no Python, no
    shuffle), and seq is localCheckpointed per iteration so lineage
    stays flat. The DuckDB oracle implements the SAME greedy semantics
    with a structurally different algorithm (window-function run
    parity instead of a sequential fold), so the hash match verifies
    the algorithm itself. All values are integers or symbol strings —
    no float exists anywhere in this query."""
    return _bpe_train(spark, sf_dir, _BPE_MERGES)[0]


_WP_MERGES = 8


@query("wordpiece_train_merges", layer="C", oracle=_wp_oracle(_WP_MERGES))
def wordpiece_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer training (Schuster & Nakajima 2012; the
    BERT/GNMT vocabulary algorithm) — completes the tokenizer-trainer
    triad next to BPE (bpe_train_merges, frequency argmax) and
    unigram-LM (unigram_train, EM pruning): same greedy merge loop as
    BPE but the selection criterion is the LIKELIHOOD gain
    score = count(l,r) / (freq(l) * freq(r)) — merge the pair most
    surprising under symbol independence, not the most frequent one.
    Emits (step, left_sym, right_sym, merged, pair_count, wp_score).

    Shares _bpe_train: the corpus collapses once to the O(vocab)
    word-frequency working set; per round WordPiece adds ONE bounded
    symbol-frequency groupBy and two vocab-sized equi-joins on top of
    BPE's pair count — still one scalar argmax row to the driver per
    round, merge application still the JVM-side greedy fold. The
    oracle unrolls the identical rounds with the run-parity window
    formulation (a structurally different algorithm), with the same
    s{{i}} symbol-frequency CTE; the score's double division is
    IEEE-identical on exact bigint inputs, so argmax choices and the
    emitted round(score, 9) hash-match exactly.

    The selection genuinely diverges from BPE on this corpus (different
    merge tables), so the hash pins the CRITERION, not just the loop.
    """
    return _bpe_train(spark, sf_dir, _WP_MERGES, scoring="wordpiece")[0]


def _wp_encode_oracle(n_merges: int) -> str:
    """Greedy longest-match (maximal-munch) encoding of the corpus
    with the trained WordPiece vocab, as a RECURSIVE CTE: each step
    consumes the longest vocab token matching at the cursor. A
    deliberately different algorithm from the Spark side's
    F.aggregate fold — the hash match checks maximal-munch itself.
    The longest match for EVERY (word, cursor) is precomputed OUTSIDE
    the recursion (lmatch: a join against vocab + arg_max by length —
    tie-free, since at a given cursor each length matches at most one
    token, all being prefixes of the same suffix); the recursive part
    is then a plain equi-join walk. Correlated subqueries inside a
    DuckDB recursive CTE are NOT reliably evaluated (observed: the
    argmax silently degraded to an arbitrary match), so no per-
    iteration matching logic is allowed in there."""
    merged_union = "\n        UNION\n".join(
        f"        SELECT l || r AS tok FROM b{i}" for i in range(n_merges)
    )
    ctes = _bpe_ctes(n_merges, scoring="wordpiece") + [
        f"""vocab AS (
        SELECT DISTINCT unnest(syms) AS tok FROM seq0
        UNION
{merged_union}
    )""",
        """lmatch AS MATERIALIZED (
        SELECT p.word, p.pos, arg_max(v.tok, length(v.tok)) AS m
        FROM (SELECT word,
                     unnest(generate_series(1, length(word))) AS pos
              FROM seq0) p
        JOIN vocab v
          ON substr(p.word, CAST(p.pos AS INTEGER), length(v.tok)) = v.tok
        GROUP BY p.word, p.pos
    )""",
        """enc AS (
        SELECT word, freq, CAST(1 AS BIGINT) AS pos,
               []::VARCHAR[] AS toks
        FROM seq0
        UNION ALL
        SELECT e.word, e.freq, e.pos + length(m.m) AS pos,
               list_append(e.toks, m.m) AS toks
        FROM enc e
        JOIN lmatch m ON m.word = e.word AND m.pos = e.pos
        WHERE e.pos <= length(e.word)
    )""",
    ]
    return (
        "WITH RECURSIVE " + ",\n    ".join(ctes) + """
    SELECT tok AS token,
           CAST(length(tok) AS BIGINT) AS token_len,
           CAST(sum(freq) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT word) AS BIGINT) AS n_words
    FROM (SELECT word, freq, unnest(toks) AS tok
          FROM enc WHERE pos > length(word))
    GROUP BY tok"""
    )


@query("wordpiece_encode_stats", layer="C", oracle=_wp_encode_oracle(_WP_MERGES))
def wordpiece_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece ENCODING — greedy longest-match (maximal munch), the
    inference-time algorithm BERT tokenizers run — with the vocab
    trained by wordpiece_train_merges, profiled over the corpus
    (token, length, occurrences, word coverage). This is the
    train/encode asymmetry the tokenizer ladder was missing:
    bpe_token_stats ENCODES by replaying merges in training order;
    WordPiece encoding ignores merge order entirely and takes the
    longest vocab match at each cursor — the two disagree on real
    corpora, so this query pins the second algorithm.

    Vocab = corpus alphabet + the {_WP_MERGES} trained merges: O(model)
    state, collected once (the bounded tokenizer-state discipline of
    bpe_train_merges) and inlined as a literal array; training itself
    is shared with wordpiece_train_merges via the _BPE_CACHE memo —
    one training run per session. Encoding is a JVM-side F.aggregate
    fold over character positions (skip until the cursor, then consume
    the longest match via a filter over the literal vocab — no Python,
    no shuffle; one narrow pass over the O(vocab) word table). The
    oracle re-derives maximal munch as a RECURSIVE CTE that walks a
    longest-match table PRECOMPUTED outside the recursion (see
    _wp_encode_oracle: correlated subqueries inside DuckDB recursive
    CTEs silently mis-evaluate) — a structurally different algorithm,
    so the hash verifies the semantics, not an implementation echo.

    At 100 TB the word table is O(vocabulary) regardless of corpus
    size (the _bpe_train factorization), and a production encoder
    replaces the literal-array probe with a trie/Aho-Corasick kernel —
    the PLAN (bounded model broadcast + narrow fold) is the part that
    survives scale."""
    merges_df, seq = _bpe_train(spark, sf_dir, _WP_MERGES, scoring="wordpiece")
    merged = [r["merged"] for r in merges_df.select("merged").collect()]
    # the trainer's memoized word-frequency table IS the encode input —
    # no second corpus scan
    words = seq.select("word", "freq")
    alphabet = [
        r["ch"]
        for r in words.select(
            F.explode(F.expr("transform(sequence(1, length(word)),"
                             " i -> substr(word, i, 1))")).alias("ch")
        )
        .distinct()
        .collect()
    ]
    # Longest-first, ties lexicographic — the exact probe order of the
    # oracle's ORDER BY length DESC, tok LIMIT 1.
    vocab = sorted(set(alphabet) | set(merged), key=lambda t: (-len(t), t))
    vlit = F.array(*[F.lit(t) for t in vocab])

    def step(acc, i):
        m = F.element_at(
            F.filter(
                vlit,
                lambda v: F.substr(F.col("word"), acc["pos"], F.length(v)) == v,
            ),
            1,
        )
        return F.when(i != acc["pos"], acc).otherwise(
            F.struct(
                (acc["pos"] + F.length(m)).alias("pos"),
                F.concat(acc["toks"], F.array(m)).alias("toks"),
            )
        )

    enc = words.select(
        "word",
        "freq",
        F.aggregate(
            F.sequence(F.lit(1), F.length("word")),
            F.struct(
                F.lit(1).cast("int").alias("pos"),
                F.array().cast("array<string>").alias("toks"),
            ),
            step,
        )["toks"].alias("toks"),
    )
    return (
        enc.select("word", "freq", F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(
            F.sum("freq").cast("long").alias("n_occurrences"),
            F.countDistinct("word").cast("long").alias("n_words"),
        )
        .select(
            "token",
            F.length("token").cast("long").alias("token_len"),
            "n_occurrences",
            "n_words",
        )
    )


@query(
    "bpe_token_stats",
    layer="C",
    oracle=_bpe_token_stats_oracle(_BPE_MERGES),
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — the third rung of the tokenizer ladder
    (bpe_pair_counts counts one round, bpe_train_merges learns the
    merge table, this APPLIES the trained tokenizer and profiles the
    resulting vocabulary): the corpus re-tokenized under the first
    _BPE_MERGES = 8 learned merges, then per emitted token its length,
    total corpus occurrences (word-frequency-weighted) and the number
    of distinct words it appears in. This is the table a tokenizer
    report is built from — fertility, single-char fallback rate, which
    merges actually pay.

    Spark-first shape: training is shared with bpe_train_merges via
    the per-(session, corpus, depth) memo — ONE training run serves
    both queries (the _QC_CACHE discipline) — and encoding falls out
    of training for free: the final `seq` frame IS the encoded
    corpus's word->symbols map, already localCheckpointed and
    O(vocabulary) not O(corpus), so the profile is one explode plus
    one token-keyed count shuffle. The oracle re-derives seq{8} with
    the run-parity window formulation and aggregates the exploded
    symbols — same greedy semantics, structurally different algorithm.
    All outputs are integers and symbol strings — no float anywhere."""
    seq = _bpe_train(spark, sf_dir, _BPE_MERGES)[1]
    return (
        seq.select("word", "freq", F.explode("syms").alias("token"))
        .groupBy("token")
        .agg(
            F.sum("freq").cast("long").alias("n_occurrences"),
            F.countDistinct("word").alias("n_words"),
        )
        .select(
            "token",
            F.length("token").cast("long").alias("token_len"),
            "n_occurrences",
            "n_words",
        )
    )


# ---------------------------------------------------------------------------
# URL/domain-level curation (C4 / RefinedWeb recipe)
# ---------------------------------------------------------------------------

# The corpus schema carries `source` but no URL column (TESTDATA.md), so
# a deterministic URL is SYNTHESIZED per doc from a salted hash and then
# PARSED back (the parse is the operator under test; the synthesis is
# the fixture). host index = floor(sqrt(h % 10000)) gives 100 hosts with
# a skewed size law P(idx=k) = (2k+1)/10000 — the biggest host holds
# ~2% of the corpus, the smallest 0.01%, so the cap sample has real
# work to do at every sf. sqrt is IEEE-754 correctly-rounded in both
# engines (required by the standard, unlike exp/log) and its argument
# is an exact small integer, so floor(sqrt(...)) is bit-deterministic.
_URL_SQL_FRAG = """
        SELECT doc_id, source, n_chars,
               'https://www.h' || CAST(
                   CAST(floor(sqrt(CAST(
                       CAST('0x' || substr(md5('url:' || CAST(doc_id AS VARCHAR)), 1, 15)
                            AS BIGINT) % 10000 AS DOUBLE))) AS BIGINT)
                   AS VARCHAR)
               || '.example.com/' || source || '/doc-'
               || CAST(doc_id AS VARCHAR) AS url
        FROM documents
"""

_HOST_SQL_FRAG = f"""
        SELECT doc_id, source, n_chars,
               regexp_extract(url, 'https://([^/]+)/', 1) AS host
        FROM ({_URL_SQL_FRAG})
"""

_URL_HOST_PROFILE_SQL = f"""
    WITH h AS ({_HOST_SQL_FRAG}),
    agg AS (
        SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        FROM h GROUP BY host
    ),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM agg)
    SELECT host, n_docs, n_chars, n_sources,
           CAST(n_docs AS DOUBLE) / n_total AS doc_share,
           CAST(row_number() OVER (ORDER BY n_docs DESC, host) AS BIGINT)
               AS size_rank
    FROM agg CROSS JOIN tot
"""


def _docs_with_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + synthesized url + host parsed back out via the
    engine's real URL parser (Spark `parse_url`; the oracle re-parses
    with a regex so the two parses are independent implementations)."""
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    hidx = F.floor(
        F.sqrt((hash60(F.concat(F.lit("url:"), F.col("doc_id").cast("string")))
                % 10_000).cast("double"))
    ).cast("long")
    url = F.concat(
        F.lit("https://www.h"), hidx.cast("string"), F.lit(".example.com/"),
        F.col("source"), F.lit("/doc-"), F.col("doc_id").cast("string"),
    )
    return d.select(
        "doc_id", "source", "n_chars", url.alias("url")
    ).withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))


@query("url_host_profile", layer="C", oracle=_URL_HOST_PROFILE_SQL)
def url_host_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host corpus profile — the discovery step of C4/RefinedWeb
    domain curation (Raffel et al. 2020 §2.2; Penedo et al. 2023 §3.1
    dedup by URL + host-level stats before content filtering): parse
    the host out of each doc's URL (Spark's parse_url — the oracle
    re-parses with an independent regex), then per host: doc count,
    total chars, distinct sources, corpus share, and size rank.

    Exactness: counts/sums are integers; doc_share is one IEEE division
    of identical integers; size_rank orders by (n_docs DESC, host) —
    fully tie-broken, so the rank is deterministic. Scale shape: one
    hash-partitioned aggregate over hosts (high cardinality in a real
    crawl — web-scale host counts are ~1e8, far beyond broadcast, which
    is why the profile aggregates rather than collects); size_rank is
    the TWO-PHASE distributed rank (range-repartition on the sort key,
    per-partition row_number plus an exclusive offset lifted from one
    O(partitions) count collect — the feature_binning/token_budget_trim
    pattern), never a single-task global ordered window over the 1e8
    hosts."""
    h = _docs_with_host(spark, sf_dir)
    # localCheckpoint the O(hosts) aggregate: it feeds both the total
    # and the output, and without materialization the corpus scan +
    # host aggregate lineage is executed once per consumer (the
    # temperature_sampling r6->r7 lesson; plan audit showed 7 Exch).
    agg = (
        h.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
        .localCheckpoint(eager=True)
    )
    tot = agg.agg(F.sum("n_docs").alias("n_total"))
    from pyspark.sql import Window

    nparts = spark.sparkContext.defaultParallelism
    part = (
        agg.repartitionByRange(nparts, F.col("n_docs").desc(), F.col("host"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    subs = sorted(
        (r["pid"], r["count"]) for r in part.groupBy("pid").count().collect()
    )
    offsets, acc = [], 0
    for pid, cnt in subs:
        offsets.append((pid, acc))
        acc += cnt
    off_df = spark.createDataFrame(offsets, "pid int, off bigint")
    w = Window.partitionBy("pid").orderBy(F.desc("n_docs"), "host")
    return (
        part.join(F.broadcast(off_df), "pid")
        .crossJoin(F.broadcast(tot))
        .select(
            "host",
            "n_docs",
            "n_chars",
            "n_sources",
            (F.col("n_docs").cast("double") / F.col("n_total")).alias("doc_share"),
            (F.row_number().over(w) + F.col("off")).cast("long").alias("size_rank"),
        )
    )


_CAP_M = 10_000  # keep-test granularity, shared with temperature_sampling
_CAP_DEN = 100  # per-host cap = ceil(corpus / 100) = 1% share

_DOMAIN_CAP_SQL = f"""
    WITH h AS ({_HOST_SQL_FRAG}),
    agg AS (
        SELECT host, CAST(count(*) AS BIGINT) AS n_docs
        FROM h GROUP BY host
    ),
    tot AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
               CAST((sum(n_docs) + {_CAP_DEN - 1}) // {_CAP_DEN} AS BIGINT)
                   AS cap_docs
        FROM agg
    ),
    kept AS (
        SELECT host, CAST(count(*) AS BIGINT) AS n_kept
        FROM (
            SELECT h.host,
                   CAST('0x' || substr(md5('cap:' || CAST(h.doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) % {_CAP_M} AS h2,
                   a.n_docs, t.cap_docs
            FROM h JOIN agg a USING (host) CROSS JOIN tot t
        )
        WHERE h2 * n_docs < cap_docs * {_CAP_M}
        GROUP BY host
    )
    SELECT a.host, a.n_docs, t.cap_docs,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           a.n_docs > t.cap_docs AS capped,
           coalesce(k.n_kept, 0) * 1.0 / a.n_docs AS kept_share
    FROM agg a CROSS JOIN tot t LEFT JOIN kept k USING (host)
"""


@query("domain_cap_sample", layer="C", oracle=_DOMAIN_CAP_SQL)
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap sampling — the C4/RefinedWeb rule that no single
    host may dominate the corpus: each host's share is capped at 1%
    (cap = ceil(corpus/{100}), integer-exact ceil via (n+99)//100 on
    both engines), and over-cap hosts are downsampled to the cap by the
    same deterministic content-independent hash keep-test as
    temperature_sampling: keep iff h2 * n_host < cap * M with
    h2 = md5-hash(doc_id) % M — pure int64 products, no float anywhere
    in the verdict path, and when n_host <= cap the inequality holds
    for every h2 so under-cap hosts keep everything with no branch.

    Scale shape: this is the 100 TB-safe formulation — NO per-host
    window/rank (a row_number per host would sort the biggest host's
    billions of rows in one partition; the hash test is embarrassingly
    parallel and skew-immune), one O(hosts) aggregate broadcast back
    onto the doc scan, one re-aggregate. The keep-rate is cap/n_host in
    expectation (binomial around the cap), which is the published
    behavior of hash-based domain capping; exact-N capping requires the
    skew-prone sort and buys nothing for training-mix purposes."""
    h = _docs_with_host(spark, sf_dir)
    agg = (
        h.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .localCheckpoint(eager=True)
    )
    tot = agg.agg(
        F.sum("n_docs").alias("n_total"),
        F.expr(f"(sum(n_docs) + {_CAP_DEN - 1}) div {_CAP_DEN}")
        .cast("long")
        .alias("cap_docs"),
    )
    h2 = hash60(F.concat(F.lit("cap:"), F.col("doc_id").cast("string"))) % _CAP_M
    kept = (
        h.select("doc_id", "host")
        .join(F.broadcast(agg), "host")
        .crossJoin(F.broadcast(tot))
        .filter(h2 * F.col("n_docs") < F.col("cap_docs") * F.lit(_CAP_M))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        agg.crossJoin(F.broadcast(tot.select("cap_docs")))
        .join(kept, "host", "left")
        .select(
            "host",
            "n_docs",
            "cap_docs",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_docs") > F.col("cap_docs")).alias("capped"),
            (
                F.coalesce(F.col("n_kept"), F.lit(0)) * F.lit(1.0) / F.col("n_docs")
            ).alias("kept_share"),
        )
    )


# ---------------------------------------------------------------------------
# quality_classifier_ngram — TRAINED quality filter (fastText-style)
# ---------------------------------------------------------------------------

_QC_D = 128          # hashed feature buckets; bucket _QC_D is the bias (x=1)
_QC_T = 24           # full-batch gradient steps
_QC_SCALE = 1 << 20  # fixed-point scale (2^20)


def _qc_lr_div(t: int) -> int:
    """Deterministic step-decay schedule: lr_t = 1 / 2^(t // 4) of the
    mean gradient (halve every 4 steps). Measured at sf0.01 this is the
    schedule that CONVERGES (training accuracy stable at 0.830 for the
    last 4 steps) where fixed lr oscillates between 0.39 and 0.81 —
    full-batch GD on a hard-sigmoid link needs decay, and a power-of-2
    schedule keeps every update an exact integer floordiv."""
    return 1 << (t // 4)


# Trained weights memo, keyed on the corpus file identity so the two
# classifier queries (scores + weights) and repeated test invocations
# train once per corpus, not once per call (same discipline as the
# streaming left-join cutoff memo keyed on (path, mtime, size)).
_QC_CACHE: dict[tuple, tuple] = register_memo()


def _qc_feature_sql() -> str:
    """DuckDB twin of _qc_feats: unigram + bigram ('_'-joined) tokens,
    salted-md5 feature hashing into _QC_D buckets, plus the constant
    bias feature (bucket _QC_D, cnt 1) on EVERY doc — carrying the bias
    as a feature row makes one keyed aggregate compute the whole
    gradient and guarantees featureless (empty-text) docs still score."""
    return rf"""
            SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
            FROM (
              SELECT doc_id,
                     CAST('0x' || substr(md5('qc:' || f), 1, 15) AS BIGINT)
                         % {_QC_D} AS bucket
              FROM (
                SELECT doc_id, unnest(list_concat(toks,
                       CASE WHEN len(toks) >= 2 THEN
                            list_transform(generate_series(1, len(toks) - 1),
                                           i -> toks[i] || '_' || toks[i + 1])
                       ELSE []::VARCHAR[] END)) AS f
                FROM (SELECT doc_id,
                             CASE WHEN length(trim(text)) = 0
                                  THEN []::VARCHAR[]
                                  ELSE regexp_split_to_array(
                                           trim(lower(text)), '\s+') END AS toks
                      FROM documents)
              )
            ) GROUP BY doc_id, bucket
            UNION ALL
            SELECT doc_id, CAST({_QC_D} AS BIGINT) AS bucket,
                   CAST(1 AS BIGINT) AS cnt
            FROM documents
"""


def _qc_ctes(n_steps: int) -> list[str]:
    """The CTE chain of the classifier oracles (lbl/nn/ft/w0..w{n}/
    s*/p*/g*): returned as a list so composed pipelines
    (pretrain_data_e2e) can embed the trained scorer inside a larger
    WITH without re-stating the training."""
    D, S = _QC_D, _QC_SCALE
    ctes = [
        f"lbl AS MATERIALIZED (SELECT doc_id, CAST(keep AS INT) AS y "
        f"FROM ({_GOPHER_SQL}))",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lbl)",
        f"ft AS MATERIALIZED ({_qc_feature_sql()})",
        f"w0 AS (SELECT unnest(generate_series(0, {D})) AS bucket,"
        f" CAST(0 AS BIGINT) AS w)",
    ]
    for t in range(n_steps + 1):
        ctes.append(f"""s{t} AS MATERIALIZED (
            SELECT l.doc_id, l.y, d.score
            FROM lbl l
            JOIN (SELECT f.doc_id, CAST(sum(f.cnt * w.w) AS BIGINT) AS score
                  FROM ft f JOIN w{t} w USING (bucket)
                  GROUP BY f.doc_id) d
              USING (doc_id))""")
        ctes.append(f"""p{t} AS MATERIALIZED (
            SELECT doc_id, y, score,
                   greatest(CAST(0 AS BIGINT), least(CAST({S} AS BIGINT),
                            {S // 2} + (score >> 2))) AS p_int
            FROM s{t})""")
        if t == n_steps:
            break
        m = f"(nn.n * {_qc_lr_div(t)})"
        ctes.append(f"""g{t} AS MATERIALIZED (
            SELECT f.bucket,
                   CAST(sum((pp.p_int - CAST(pp.y AS BIGINT) * {S}) * f.cnt)
                        AS BIGINT) AS g
            FROM ft f JOIN p{t} pp USING (doc_id) GROUP BY f.bucket)""")
        ctes.append(f"""w{t + 1} AS MATERIALIZED (
            SELECT w.bucket,
                   w.w - CASE WHEN g.g IS NULL THEN 0
                         ELSE (g.g - ((g.g % {m}) + {m}) % {m}) // {m}
                         END AS w
            FROM w{t} w CROSS JOIN nn
            LEFT JOIN g{t} g ON g.bucket = w.bucket)""")
    return ctes


def _qc_oracle(n_steps: int, final: str) -> str:
    """Unrolled n-step fixed-point logistic-regression training in pure
    SQL — every cross-row reduction is an int64 SUM (order-independent
    by construction), the hard-sigmoid is shift/clip integer math, and
    the weight update's floor-division is spelled with the pmod
    identity because DuckDB `//` truncates while the Spark driver's
    Python `//` floors. `final` selects either the scored corpus or the
    trained weight vector from the same training CTE chain."""
    return "WITH " + ",\n    ".join(_qc_ctes(n_steps)) + f"\n    {final}"


def _qc_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bucket, cnt): salted-md5 feature hashing of unigrams +
    '_'-joined bigrams into _QC_D buckets (Weinberger et al. 2009
    hashing trick; the fastText feature recipe of Joulin et al. 2016),
    plus the constant bias feature (bucket _QC_D, cnt 1) per doc."""
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    feats = F.concat(toks, word_shingles(toks, k=2, sep="_"))
    ngram = (
        d.select("doc_id", F.explode(feats).alias("f"))
        .select(
            "doc_id",
            (hash60(F.concat(F.lit("qc:"), F.col("f"))) % _QC_D).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bias_rows = d.select(
        "doc_id",
        F.lit(_QC_D).cast("long").alias("bucket"),
        F.lit(1).cast("long").alias("cnt"),
    )
    return ngram.unionByName(bias_rows)


def _qc_score(
    spark: SparkSession, feats: DataFrame, labels: DataFrame, w: list[int]
) -> DataFrame:
    """Score every doc under integer weight vector `w` and attach the
    hard-sigmoid p and residual, all in int64: score = sum(w*cnt) over
    the doc's feature rows incl. the bias row (exact int sum —
    order-independent), p = clip(S/2 + score>>2, 0, S) (arithmetic
    shift = floor division by 4 in BOTH engines — verified: Spark
    shiftright(-7,1) = DuckDB -7>>1 = -4, while DuckDB `//` truncates
    and would disagree), resid = p - y*S.

    The model rides in as a BROADCAST 129-row DataFrame, not a literal
    array: literals change the generated code every step, forcing a
    whole-stage-codegen recompile per iteration (measured: the literal
    formulation cost ~1.6 s/step at sf0.1, dominated by compilation;
    the broadcast-join plan is byte-identical across steps so the
    codegen cache hits). feats/labels arrive pre-partitioned by doc_id,
    so the doc aggregate and the labels join run exchange-free."""
    wdf = spark.createDataFrame(
        [(b, int(w[b])) for b in range(_QC_D + 1)], "bucket long, w long"
    )
    dots = (
        feats.join(F.broadcast(wdf), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("w")).cast("long").alias("score"))
    )
    scored = labels.join(dots, "doc_id").select("doc_id", "y", "score")
    p = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit(_QC_SCALE).cast("long"),
            F.lit(_QC_SCALE // 2) + F.shiftright(F.col("score"), 2),
        ),
    )
    return scored.withColumn("p", p.cast("long")).withColumn(
        "resid", F.col("p") - F.col("y").cast("long") * _QC_SCALE
    )


def _qc_train(spark: SparkSession, sf_dir: str) -> tuple:
    """_QC_T full-batch gradient steps of hashed-n-gram logistic
    regression with a hard-sigmoid link, ENTIRELY in fixed-point int64
    — see quality_classifier_ngram's docstring for why that makes
    distributed training bit-reproducible. Returns (weights, n_docs);
    weights[_QC_D] is the bias. The driver holds O(_QC_D) ints per step
    (the model — the same bounded-scalar discipline as bpe_train_merges'
    argmax); all per-doc work stays distributed, one collect per step.
    Returns the checkpointed feats/labels too so callers score without
    re-deriving them; memo key includes the Spark applicationId because
    localCheckpoints die with their session."""
    from cuttlefish_spark.io import memo_key, memo_put

    key = memo_key(spark, sf_dir, "documents")
    if key in _QC_CACHE:
        return _QC_CACHE[key]

    # Pre-partition BOTH sides by doc_id before checkpointing: the
    # per-step doc aggregate and labels join then satisfy their
    # distribution requirements from the checkpointed partitioning —
    # the only exchange left per step is the 129-key gradient
    # aggregate, which map-side partial combine collapses first.
    feats = (
        _qc_feats(spark, sf_dir)
        .repartition("doc_id")
        .localCheckpoint(eager=True)
    )
    labels = (
        gopher_quality_rules(spark, sf_dir)
        .select("doc_id", F.col("keep").cast("int").alias("y"))
        .repartition("doc_id")
        .localCheckpoint(eager=True)
    )
    n = labels.count()
    w = [0] * (_QC_D + 1)
    for t in range(_QC_T):
        scored = _qc_score(spark, feats, labels, w)
        g_rows = (
            feats.join(scored.select("doc_id", "resid"), "doc_id")
            .groupBy("bucket")
            .agg(F.sum(F.col("resid") * F.col("cnt")).alias("g"))
            .collect()
        )
        m = n * _qc_lr_div(t)
        # Python // floors — matches the oracle's pmod-spelled floordiv.
        for row in g_rows:
            w[row["bucket"]] -= int(row["g"]) // m
    memo_put(_QC_CACHE, key, (w, n, feats, labels))
    return w, n, feats, labels


_QC_SCORES_FINAL = (
    f"SELECT doc_id, y, score AS score_fixed,"
    f" CAST(p_int AS DOUBLE) / {_QC_SCALE} AS prob,"
    f" score > 0 AS predicted FROM p{_QC_T}"
)

_QC_WEIGHTS_FINAL = (
    f"SELECT bucket, w AS w_fixed, CAST(w AS DOUBLE) / {_QC_SCALE} AS weight"
    f" FROM w{_QC_T}"
)


@query(
    "quality_classifier_ngram",
    layer="C",
    oracle=_qc_oracle(_QC_T, _QC_SCORES_FINAL),
)
def quality_classifier_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED n-gram quality classifier — the learned rung above
    gopher_quality_rules on the heuristic->learned quality ladder
    (public recipe: Joulin et al. 2016 fastText — bag of hashed
    uni+bigram features into a linear classifier — which is the quality
    filter DCLM/RedPajama-class pipelines train; labels here are
    distilled from the Gopher rule set, the standard weak-supervision
    bootstrap). _QC_T = 24 full-batch gradient steps with a
    halve-every-4 lr schedule, then the corpus is scored:
    (doc_id, y, score_fixed, prob, predicted).

    Bit-reproducibility by construction — the entire training loop is
    fixed-point int64: feature counts are ints, weights are ints in
    units of 2^-20, scores are exact int sums (order-independent, so
    ANY partitioning/reduction order gives the same model), the
    logistic link is the HARD sigmoid clip(1/2 + z/4, 0, 1) (standard
    in quantized training, e.g. Courbariaux et al. 2015) computed as
    clip(S/2 + score>>2, 0, S) — an arithmetic shift, floor division in
    both engines — and the update divides by (n * 2^(t//4)) with an
    explicit pmod-floor so Python's floored // and DuckDB's truncating
    // agree. exp/log appear NOWHERE: unlike IEEE sqrt/divide,
    transcendentals are not correctly-rounded across libms, and one ulp
    of drift per step would compound through the iteration — the hard
    link removes the class entirely. prob = p / 2^20 divides by a power
    of two, so even the exported double is exact. Measured at sf0.01:
    training accuracy 0.830 vs 0.612 majority-class, stable for the
    last 4 steps (the 31-word synthetic vocab bounds separability; real
    corpora separate far better).

    Scale shape: the corpus collapses once to the hashed feature table
    (O(docs x distinct-buckets-per-doc) narrow ints + one bias row per
    doc, repartitioned by doc_id and localCheckpointed); each step is
    then ONE job — the model broadcast in as a 129-row join (not a
    literal array: literals force a codegen recompile every step), an
    exchange-free doc aggregate + labels join (both sides co-partitioned
    by doc_id from the checkpoint), and a 129-key gradient aggregate
    (map-side partial combine collapses it) ending in one O(_QC_D)-row
    collect (the model — bounded, like bpe_train_merges' argmax row).
    Measured per-step cost equals this harness's floor for ANY 2-stage
    collect (~0.6 s — pure job latency, not data), so the loop's sf0.1
    cold cost (~18 s) is fixed machinery like the streaming queries'
    micro-batch setup, amortizing to nothing at production scale;
    trained weights are memoized per corpus so re-scoring is one pass.
    No windows, no skew exposure, no Python in the row path. Overflow
    bound: |resid| <= 2^20 and the gradient sum must fit int64 => safe
    past 1e11 token occurrences per bucket; widen the gradient sum to
    DECIMAL(38,0) beyond that."""
    w, _, feats, labels = _qc_train(spark, sf_dir)
    scored = _qc_score(spark, feats, labels, w)
    return scored.select(
        "doc_id",
        "y",
        F.col("score").alias("score_fixed"),
        (F.col("p").cast("double") / F.lit(float(_QC_SCALE))).alias("prob"),
        (F.col("score") > 0).alias("predicted"),
    )


@query(
    "quality_classifier_weights",
    layer="C",
    oracle=_qc_oracle(_QC_T, _QC_WEIGHTS_FINAL),
)
def quality_classifier_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained model itself: the _QC_D+1 fixed-point weights (bias
    at bucket _QC_D) after quality_classifier_ngram's training loop,
    exported as (bucket, w_fixed, weight). Checks the TRAJECTORY of the
    training (every gradient step's exact arithmetic), not just the
    final per-doc verdicts — a single flipped floor anywhere in any
    step moves at least one weight. The oracle re-derives the weights
    through the same unrolled CTE chain; the Spark side returns the
    driver-held model directly (it IS O(_QC_D) scalars by design)."""
    w = _qc_train(spark, sf_dir)[0]
    rows = [(b, int(w[b]), float(w[b]) / _QC_SCALE) for b in range(_QC_D + 1)]
    return spark.createDataFrame(
        rows, "bucket long, w_fixed long, weight double"
    )


_QC_PR_FINAL = f"""SELECT CAST(k AS BIGINT) AS k,
           CAST(k AS DOUBLE) / 16 AS threshold,
           CAST(sum(CASE WHEN p_int > k * {_QC_SCALE // 16} AND y = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN p_int > k * {_QC_SCALE // 16} AND y = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN p_int <= k * {_QC_SCALE // 16} AND y = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           CAST(sum(CASE WHEN p_int <= k * {_QC_SCALE // 16} AND y = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS fn
    FROM p{_QC_T} CROSS JOIN (SELECT unnest(generate_series(1, 15)) AS k)
    GROUP BY k"""

_QC_PR_SQL = (
    "SELECT k, threshold, tp, fp, tn, fn,"
    " CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END"
    " AS precision_,"
    " CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END"
    " AS recall_ FROM (\n"
)


@query(
    "quality_classifier_pr_curve",
    layer="C",
    oracle=_QC_PR_SQL + _qc_oracle(_QC_T, _QC_PR_FINAL) + "\n)",
)
def quality_classifier_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall sweep of the trained quality classifier — the
    measurement a pipeline runs BEFORE deploying a filter (pick the
    operating threshold from the curve, the DCLM/fastText-filter
    workflow). 15 thresholds at k/16 (k = 1..15): exact binary
    fractions of the fixed-point scale, so `p_int > k * S/16` is a pure
    int64 comparison — no float appears in any confusion count.
    Emits (k, threshold, tp, fp, tn, fn, precision_, recall_);
    precision/recall are single IEEE divisions of identical integers
    (NULL when undefined, rather than ANSI div-by-zero).

    Scale shape: one scoring pass (memoized model), a 15-way broadcast
    cross join, one 15-key aggregate with map-side combine — the
    sweep costs one corpus scan regardless of threshold count."""
    w, _, feats, labels = _qc_train(spark, sf_dir)
    scored = _qc_score(spark, feats, labels, w)
    ks = spark.range(1, 16).select(F.col("id").cast("long").alias("k"))
    thr = F.col("k") * F.lit(_QC_SCALE // 16)
    pred = F.col("p") > thr
    pos = F.col("y") == 1
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    agg = (
        scored.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            cnt(pred & pos).alias("tp"),
            cnt(pred & ~pos).alias("fp"),
            cnt(~pred & ~pos).alias("tn"),
            cnt(~pred & pos).alias("fn"),
        )
    )
    return agg.select(
        "k",
        (F.col("k").cast("double") / 16).alias("threshold"),
        "tp",
        "fp",
        "tn",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
        ).alias("precision_"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fn")),
        ).alias("recall_"),
    )


_QC_CALIB_FINAL = f"""SELECT CAST(p_int * 8 // {_QC_SCALE} AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p_int) AS BIGINT) AS sum_p_fixed,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST(sum(p_int) AS DOUBLE) / (count(*) * {_QC_SCALE})
               AS mean_predicted,
           CAST(sum(y) AS DOUBLE) / count(*) AS actual_rate
    FROM p{_QC_T}
    GROUP BY 1"""


@query(
    "quality_classifier_calibration",
    layer="C",
    oracle=_qc_oracle(_QC_T, _QC_CALIB_FINAL),
)
def quality_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the trained classifier: docs bucketed
    by bin = p_int * 8 // S (exact integer arithmetic; S is a power of
    two so the product never rounds) — 8 equal-width bins 0-7 plus a
    9th bin 8 holding the docs whose hard-sigmoid output saturates at
    exactly p_int == S (any score >= 2S clips there; mean_predicted is
    exactly 1.0 for that bin) — each bin reporting mean predicted
    probability vs actual keep rate. A
    calibrated filter's two columns track each other; systematic gaps
    say the scores need temperature scaling before thresholding —
    the standard pre-deployment audit for a learned quality filter.
    All aggregates are int64 sums; the two rates are single IEEE
    divisions of identical integers on both engines."""
    w, _, feats, labels = _qc_train(spark, sf_dir)
    scored = _qc_score(spark, feats, labels, w)
    return (
        scored.groupBy(
            F.floor(F.col("p") * 8 / _QC_SCALE).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("p").cast("long").alias("sum_p_fixed"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        .select(
            "bin",
            "n_docs",
            "sum_p_fixed",
            "n_pos",
            (
                F.col("sum_p_fixed").cast("double")
                / (F.col("n_docs") * F.lit(_QC_SCALE))
            ).alias("mean_predicted"),
            (F.col("n_pos").cast("double") / F.col("n_docs")).alias("actual_rate"),
        )
    )


# ---------------------------------------------------------------------------
# ccnet_perplexity_buckets — LM-perplexity head/middle/tail split
# ---------------------------------------------------------------------------

_CCNET_SQL = f"""
    WITH {{lm_ctes}},
    d AS (
        SELECT s.doc_id, s.n_bigrams,
               CAST(floor(CAST(s.slp AS DOUBLE) / s.n_bigrams) AS BIGINT)
                   AS lp_micro,
               doc.lang
        FROM scored s JOIN documents doc USING (doc_id)
    ),
    r AS (
        SELECT lang, n_bigrams, lp_micro,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY lp_micro DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM d
    )
    SELECT lang,
           CASE WHEN rn <= (n + 2) // 3 THEN 'head'
                WHEN rn <= (2 * n + 2) // 3 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bigrams) AS BIGINT) AS tot_bigrams,
           CAST(min(lp_micro) AS BIGINT) AS min_lp_micro,
           CAST(max(lp_micro) AS BIGINT) AS max_lp_micro
    FROM r GROUP BY lang, bucket
"""


@query(
    "ccnet_perplexity_buckets",
    layer="C",
    oracle=_CCNET_SQL.format(lm_ctes=_LM_SCORED_CTES),
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity bucketing (Wenzek et al. 2019 §4.3, the
    RedPajama/CC-pipeline staple): per LANGUAGE, rank documents by
    corpus-LM quality and cut the ranking into equal thirds — head
    (best third, lowest perplexity), middle, tail (the filter-out
    candidates) — reporting each bucket's doc count, bigram volume,
    and score range. Per-language terciles are the point: one global
    cutoff would let a verbose language's distribution set the bar
    for every other language (the same failure adaptive_length_cutoff
    guards against for length).

    Determinism: the ranking key is lp_micro = floor(slp/n_bigrams) —
    one IEEE division of identical int64s then floor, bit-identical on
    both engines — with doc_id as total-order tiebreak, and the
    tercile cuts are exact integer order statistics ceil(n/3) =
    (n+2) div 3 (DuckDB `//` truncates but the operands are positive),
    so no float boundary exists anywhere. Docs with <2 tokens have no
    bigrams and are excluded (ccnet drops them as unscoreable).

    Scale shape: the LM scoring frame is shared plan-for-plan with
    lm_bigram_score (two corpus count aggregates with map-side
    partials, pre-aggregated model join); the per-language rank is the
    TWO-PHASE distributed rank of token_budget_trim applied per
    language group — never `row_number() OVER (PARTITION BY lang ...)`,
    which at 5 language values sorts each language's entire corpus in
    ONE task. Phase 1: range-repartition on (lang, lp_micro DESC,
    doc_id) so partitions tile each language's total order, then
    collect ONE (pid, lang, count) row per partition-language slice —
    O(partitions × |langs|) scalars — and fold them into exclusive
    per-slice rank offsets plus per-language totals on the driver.
    Phase 2: each partition windows ONLY within itself (partitionBy
    pid, lang) and adds its offset; the offset/total frame is a
    broadcast of a few hundred rows. The result is identical for any
    range-boundary placement because (lang, lp_micro DESC, doc_id) is
    a strict total order. At 100 TB every task sorts ~1/numPartitions
    of one language — no single-task funnel anywhere."""
    from cuttlefish_spark.operators.text import lm_scored

    d = load_table(spark, sf_dir, "documents")
    scored = lm_scored(spark, sf_dir)
    lp_micro = F.floor(
        F.col("slp").cast("double") / F.col("n_bigrams")
    ).cast("long")
    dd = scored.join(d.select("doc_id", "lang"), "doc_id").select(
        "lang", "n_bigrams", "doc_id", lp_micro.alias("lp_micro")
    )
    from cuttlefish_spark.operators.twophase import two_phase_rank

    ranked = two_phase_rank(
        spark, dd, "lang", [F.desc("lp_micro"), F.col("doc_id")]
    ).select("lang", "n_bigrams", "lp_micro", "rn", "n")
    bucket = (
        F.when(F.col("rn") <= F.expr("(n + 2) div 3"), F.lit("head"))
        .when(F.col("rn") <= F.expr("(2 * n + 2) div 3"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        ranked.groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("tot_bigrams"),
            F.min("lp_micro").alias("min_lp_micro"),
            F.max("lp_micro").alias("max_lp_micro"),
        )
    )


# ---------------------------------------------------------------------------
# url_dedup_canonical — canonical-URL dedup (C4/RefinedWeb first pass)
# ---------------------------------------------------------------------------

# Fixture: raw URLs are SYNTHESIZED so that every 3 consecutive doc_ids
# share one canonical target, each wearing a different real-world
# disguise — doc_id%3 = 0 plain, 1 tracking query-string, 2 trailing
# slash + fragment — and odd doc_ids additionally upper-case the
# authority. The host derives from md5('url:' || doc_id//3) via the
# same floor(sqrt(h % 10000)) skew law as url_host_profile, keyed on
# the GROUP so variants agree on the host. The parse + canonicalize is
# the operator under test; the synthesis is the fixture.
_UDC_Q = "?utm_source=feed&utm_campaign=sync"

# Shared CTE chain (url_dedup_canonical + curation_funnel_e2e): the
# synthesized raw URLs and their canonical forms.
_UDC_CTES = f"""raw AS (
        SELECT doc_id, source, n_chars,
               'https://'
               || CASE WHEN doc_id % 2 = 1 THEN upper(h) ELSE h END
               || '/doc-' || CAST(doc_id // 3 AS VARCHAR)
               || CASE WHEN doc_id % 3 = 1 THEN '{_UDC_Q}'
                       WHEN doc_id % 3 = 2 THEN '/#section-2'
                       ELSE '' END AS url
        FROM (
            SELECT doc_id, source, n_chars,
                   'www.h' || CAST(CAST(floor(sqrt(CAST(
                       CAST('0x' || substr(md5('url:'
                                || CAST(doc_id // 3 AS VARCHAR)), 1, 15)
                            AS BIGINT) % 10000 AS DOUBLE))) AS BIGINT)
                       AS VARCHAR)
                   || '.example.com' AS h
            FROM documents
        )
    ),
    canon AS (
        SELECT doc_id, source, n_chars,
               lower(regexp_extract(url, 'https://([^/]+)', 1)) AS host,
               'https://'
               || lower(regexp_extract(url, 'https://([^/]+)', 1))
               || rtrim(regexp_extract(url, 'https://[^/]+([^?#]*)', 1), '/')
                   AS canonical_url
        FROM raw
    )"""

def _url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the raw/canon CTEs: documents + synthesized raw
    URL, parsed (java.net parse_url) and canonicalized to
    (doc_id, source, n_chars, host, canonical_url)."""
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    gid = F.expr("doc_id div 3")
    hidx = F.floor(
        F.sqrt(
            (hash60(F.concat(F.lit("url:"), gid.cast("string"))) % 10_000)
            .cast("double")
        )
    ).cast("long")
    h = F.concat(F.lit("www.h"), hidx.cast("string"), F.lit(".example.com"))
    cased = F.when(F.col("doc_id") % 2 == 1, F.upper(h)).otherwise(h)
    deco = (
        F.when(F.col("doc_id") % 3 == 1, F.lit(_UDC_Q))
        .when(F.col("doc_id") % 3 == 2, F.lit("/#section-2"))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        F.lit("https://"), cased, F.lit("/doc-"), gid.cast("string"), deco
    )
    raw = d.select("doc_id", "source", "n_chars", url.alias("url"))
    host = F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
    # Strip ALL trailing slashes ('/+$'), matching the oracle's
    # rtrim(path, '/') — a lone '/$' would diverge on inputs ending
    # '//' (real crawls have them) even though the fixture only
    # synthesizes one.
    path = F.regexp_replace(
        F.parse_url(F.col("url"), F.lit("PATH")), "/+$", ""
    )
    return raw.select(
        "doc_id",
        "source",
        "n_chars",
        host.alias("host"),
        F.concat(F.lit("https://"), host, path).alias("canonical_url"),
    )


_URL_DEDUP_SQL = f"""
    WITH {_UDC_CTES},
    agg AS (
        SELECT canonical_url,
               min(host) AS host,
               CAST(count(*) AS BIGINT) AS n_variants,
               CAST(max(n_chars) AS BIGINT) AS kept_chars
        FROM canon GROUP BY canonical_url
    ),
    kept AS (
        SELECT c.canonical_url, CAST(min(c.doc_id) AS BIGINT) AS kept_doc_id
        FROM canon c
        JOIN agg a ON c.canonical_url = a.canonical_url
                  AND c.n_chars = a.kept_chars
        GROUP BY c.canonical_url
    )
    SELECT a.canonical_url, a.host, a.n_variants, k.kept_doc_id,
           a.kept_chars, a.n_variants - 1 AS n_dropped
    FROM agg a JOIN kept k USING (canonical_url)
"""


@query("url_dedup_canonical", layer="C", oracle=_URL_DEDUP_SQL)
def url_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup — the FIRST dedup pass of C4/RefinedWeb-class
    pipelines (Penedo et al. 2023 §3.1 dedups by URL before any
    content hashing; crawls re-fetch the same page under tracking
    query-strings, fragments, trailing slashes, and case-shifted
    hosts): canonicalize each URL (lower-case the authority, strip
    query string and fragment, strip the trailing slash) and keep ONE
    document per canonical target — the longest (max n_chars), ties
    to the smallest doc_id. Emits per canonical URL the survivor and
    the collapse accounting (n_variants, n_dropped).

    The canonicalizer is the operator under test, implemented twice
    independently: Spark parses with parse_url(HOST/PATH) (java.net
    semantics), the oracle with regexes — a hash match means the two
    parses agree on every synthesized disguise. The argmax is the
    deterministic max(struct(n_chars, -doc_id)) aggregate (max n_chars
    per group, ties to the smallest doc_id — exactly the oracle's
    join-back rule), never a first()/max_by() whose tie behavior is
    engine-defined.

    Scale shape: ONE hash aggregate on canonical_url (high-cardinality
    key — web-scale URL dedup is the textbook embarrassingly-parallel
    groupBy) with map-side partials; no join-back, no windows, no
    Python, no skew risk beyond genuinely viral URLs (the same
    residual C4 accepts). All outputs are integers and strings."""
    # r14 (guide §2.4): the (max n_chars, then min doc_id) argmax is
    # ONE deterministic aggregate — max(struct(n_chars, -doc_id)) —
    # instead of the agg + equality-join-back + second groupBy + final
    # join (4 operators, 3 exchanges, and a re-evaluation of the whole
    # _url_canon column program for the join probe side). The struct
    # comparator IS the oracle's rule (ties on n_chars fall to the
    # larger -doc_id = smaller doc_id) with no engine-defined tie
    # behavior — this is not a first()/max_by().
    canon = _url_canon(spark, sf_dir)
    best = F.max(
        F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid"))
    ).alias("b")
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.min("host").alias("host"),
            F.count(F.lit(1)).alias("n_variants"),
            best,
        )
        .select(
            "canonical_url",
            "host",
            "n_variants",
            (-F.col("b.nid")).cast("long").alias("kept_doc_id"),
            F.col("b.n_chars").cast("long").alias("kept_chars"),
            (F.col("n_variants") - 1).alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# curation_funnel_e2e — the composed pipeline: URL dedup -> quality ->
# domain cap, with per-source funnel accounting
# ---------------------------------------------------------------------------

_FUNNEL_CAP_M = 10_000
_FUNNEL_CAP_DEN = 100

_CURATION_FUNNEL_SQL = f"""
    WITH {_UDC_CTES},
    agg AS (
        SELECT canonical_url, CAST(max(n_chars) AS BIGINT) AS kept_chars
        FROM canon GROUP BY canonical_url
    ),
    surv AS (
        SELECT c.canonical_url, CAST(min(c.doc_id) AS BIGINT) AS doc_id
        FROM canon c
        JOIN agg a ON c.canonical_url = a.canonical_url
                  AND c.n_chars = a.kept_chars
        GROUP BY c.canonical_url
    ),
    s1 AS (
        SELECT c.doc_id, c.source, c.host, c.n_chars
        FROM canon c JOIN surv s ON c.doc_id = s.doc_id
    ),
    q AS (SELECT doc_id, keep FROM ({_GOPHER_SQL})),
    s2 AS (SELECT s1.* FROM s1 JOIN q USING (doc_id) WHERE q.keep),
    hagg AS (
        SELECT host, CAST(count(*) AS BIGINT) AS n_host FROM s2 GROUP BY host
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n2,
               CAST((count(*) + {_FUNNEL_CAP_DEN - 1}) // {_FUNNEL_CAP_DEN}
                    AS BIGINT) AS cap_docs
        FROM s2
    ),
    s3 AS (
        SELECT s2.* FROM s2 JOIN hagg USING (host) CROSS JOIN tot
        WHERE CAST('0x' || substr(md5('cap2:' || CAST(s2.doc_id AS VARCHAR)),
                                  1, 15) AS BIGINT) % {_FUNNEL_CAP_M} * n_host
              < cap_docs * {_FUNNEL_CAP_M}
    ),
    base AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_raw
        FROM documents GROUP BY source
    ),
    f1 AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_url_kept
        FROM s1 GROUP BY source
    ),
    f2 AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_quality_kept
        FROM s2 GROUP BY source
    ),
    f3 AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_final,
               CAST(sum(n_chars) AS BIGINT) AS final_chars
        FROM s3 GROUP BY source
    ),
    ftot AS (SELECT CAST(sum(n_final) AS BIGINT) AS n_final_total FROM f3)
    SELECT b.source, b.n_raw,
           CAST(coalesce(f1.n_url_kept, 0) AS BIGINT) AS n_url_kept,
           CAST(coalesce(f2.n_quality_kept, 0) AS BIGINT) AS n_quality_kept,
           CAST(coalesce(f3.n_final, 0) AS BIGINT) AS n_final,
           CAST(coalesce(f3.final_chars, 0) AS BIGINT) AS final_chars,
           CAST(coalesce(f3.n_final, 0) AS DOUBLE) / ftot.n_final_total
               AS final_share
    FROM base b
    LEFT JOIN f1 USING (source)
    LEFT JOIN f2 USING (source)
    LEFT JOIN f3 USING (source)
    CROSS JOIN ftot
"""


@query("curation_funnel_e2e", layer="C", oracle=_CURATION_FUNNEL_SQL)
def curation_funnel_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED curation pipeline, end to end in one plan — the
    C4/RefinedWeb macro-recipe run as a single query: (1) URL-level
    dedup (canonicalize, keep the longest doc per canonical target —
    url_dedup_canonical's survivor rule), (2) Gopher rule-based
    quality gate on the survivors (gopher_quality_rules' conjunction),
    (3) per-domain cap sampling of the quality-kept set (cap = 1% of
    the post-quality corpus, domain_cap_sample's deterministic hash
    keep-test on salt 'cap2:'), reported as a per-SOURCE funnel:
    n_raw -> n_url_kept -> n_quality_kept -> n_final, with surviving
    char volume and final corpus share. quality_filter_funnel is the
    per-doc-RULE funnel; this is the cross-doc STAGE funnel — the
    number a pipeline owner actually watches per ingest source.

    Composition is the point: every stage re-uses the exact logic of
    its standalone operator (same synthesis, same survivor argmax,
    same rule set, same keep-test discipline), so the standalone
    hash-verifications transfer to the composition and this query
    verifies their INTERACTION. The narrow stage frames (doc_id,
    source, host, n_chars — never text) are localCheckpointed between
    stages, the production shape where each stage persists its
    survivor manifest; at 100 TB the checkpoint becomes a parquet
    write and every stage remains a hash-partitioned aggregate or
    equi-joined filter — no windows, no Python, no driver state. The
    per-host count join carries no broadcast hint: at web scale the
    host dimension (~1e8 rows, url_host_profile's own sizing) is far
    beyond broadcast, and AQE picks broadcast on its own at test scale
    where the aggregate is tiny.
    All funnel counts are int64; final_share is one IEEE division of
    identical integers."""
    # r14 (guide §2.4, the url_dedup_canonical rewrite applied to the
    # composed stage): survivor (doc_id, source, host, n_chars) per
    # canonical URL in ONE aggregate — max(struct(n_chars, -doc_id,
    # source, host)); the trailing fields never decide (doc_id is
    # unique) and just ride along, so the max-then-fetch join-back, its
    # second groupBy, AND the canon checkpoint (canon now has exactly
    # one consumer) disappear: stage 1 is scan -> canon map -> one
    # exchange -> s1.
    canon = _url_canon(spark, sf_dir)
    best = F.max(
        F.struct(
            F.col("n_chars"),
            (-F.col("doc_id")).alias("nid"),
            F.col("source").alias("source"),
            F.col("host").alias("host"),
        )
    ).alias("b")
    s1 = (
        canon.groupBy("canonical_url")
        .agg(best)
        .select(
            (-F.col("b.nid")).alias("doc_id"),
            F.col("b.source").alias("source"),
            F.col("b.host").alias("host"),
            F.col("b.n_chars").alias("n_chars"),
        )
        .localCheckpoint(eager=True)
    )
    q = gopher_quality_rules(spark, sf_dir).select("doc_id", "keep")
    s2 = (
        s1.join(q, "doc_id")
        .filter(F.col("keep"))
        .drop("keep")
        .localCheckpoint(eager=True)
    )
    hagg = s2.groupBy("host").agg(F.count(F.lit(1)).alias("n_host"))
    tot = s2.agg(
        F.count(F.lit(1)).alias("n2"),
        F.expr(
            f"(count(1) + {_FUNNEL_CAP_DEN - 1}) div {_FUNNEL_CAP_DEN}"
        ).cast("long").alias("cap_docs"),
    ).select("cap_docs")
    h2 = (
        hash60(F.concat(F.lit("cap2:"), F.col("doc_id").cast("string")))
        % _FUNNEL_CAP_M
    )
    s3 = (
        s2.join(hagg, "host")
        .crossJoin(F.broadcast(tot))
        .filter(h2 * F.col("n_host") < F.col("cap_docs") * F.lit(_FUNNEL_CAP_M))
    )
    base = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_raw"))
    )
    f1 = s1.groupBy("source").agg(F.count(F.lit(1)).alias("n_url_kept"))
    f2 = s2.groupBy("source").agg(F.count(F.lit(1)).alias("n_quality_kept"))
    # f3 feeds BOTH the final join and the ftot total — materialize the
    # O(sources) aggregate so the cap-filter subtree runs once, not per
    # consumer (the url_host_profile/temperature_sampling lesson).
    f3 = (
        s3.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_final"),
            F.sum("n_chars").cast("long").alias("final_chars"),
        )
        .localCheckpoint(eager=True)
    )
    ftot = f3.agg(F.sum("n_final").alias("n_final_total"))
    z = F.lit(0).cast("long")
    return (
        base.join(f1, "source", "left")
        .join(f2, "source", "left")
        .join(f3, "source", "left")
        .crossJoin(F.broadcast(ftot))
        .select(
            "source",
            "n_raw",
            F.coalesce(F.col("n_url_kept"), z).alias("n_url_kept"),
            F.coalesce(F.col("n_quality_kept"), z).alias("n_quality_kept"),
            F.coalesce(F.col("n_final"), z).alias("n_final"),
            F.coalesce(F.col("final_chars"), z).alias("final_chars"),
            (
                F.coalesce(F.col("n_final"), z).cast("double")
                / F.col("n_final_total")
            ).alias("final_share"),
        )
    )


# ---------------------------------------------------------------------------
# bpe_fertility_by_source — per-source tokenizer fertility report
# ---------------------------------------------------------------------------


def _bpe_fertility_oracle(n_merges: int) -> str:
    return (
        "WITH " + ",\n    ".join(_bpe_ctes(n_merges)) + f""",
    vocab AS (
        SELECT word, CAST(len(syms) AS BIGINT) AS n_syms FROM seq{n_merges}
    ),
    w AS (
        SELECT source,
               unnest(CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                      END) AS word
        FROM documents
    ),
    per AS (
        SELECT source, word, CAST(count(*) AS BIGINT) AS c
        FROM w GROUP BY source, word
    )
    SELECT p.source,
           CAST(sum(p.c) AS BIGINT) AS n_words,
           CAST(count(*) AS BIGINT) AS n_distinct_words,
           CAST(sum(p.c * v.n_syms) AS BIGINT) AS n_tokens,
           CAST(sum(p.c * v.n_syms) AS DOUBLE) / sum(p.c) AS fertility,
           CAST(sum(CASE WHEN v.n_syms = length(p.word) THEN p.c ELSE 0 END)
                AS BIGINT) AS n_unmerged_words
    FROM per p JOIN vocab v USING (word)
    GROUP BY p.source"""
    )


@query(
    "bpe_fertility_by_source",
    layer="C",
    oracle=_bpe_fertility_oracle(_BPE_MERGES),
)
def bpe_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY report, per ingest source — the number a
    tokenizer owner actually tracks (tokens emitted per word; the
    standard multilingual-tokenizer health metric): encode the corpus
    under the first _BPE_MERGES = 8 trained merges and report, per
    source, word volume, distinct vocabulary, token volume, fertility
    = n_tokens/n_words, and how many word occurrences the merge table
    never touched (n_syms == word length, the char-fallback class).

    Spark-first shape: the trained word->symbols map comes from the
    shared per-(session, corpus, depth) training memo (O(vocabulary),
    localCheckpointed — see bpe_token_stats); the corpus collapses to
    per-(source, word) counts BEFORE joining it, so the join is
    per-distinct-word-per-source, never per-occurrence. Two keyed
    count shuffles + one equi-join + one per-source aggregate; all
    counts int64, fertility one IEEE division of identical integers."""
    seq = _bpe_train(spark, sf_dir, _BPE_MERGES)[1]
    vocab = seq.select(
        "word",
        F.size("syms").cast("long").alias("n_syms"),
        F.length("word").cast("long").alias("wlen"),
    )
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    per = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per.join(vocab, "word")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.sum(F.col("c") * F.col("n_syms")).cast("long").alias("n_tokens"),
            (
                F.sum(F.col("c") * F.col("n_syms")).cast("double")
                / F.sum("c")
            ).alias("fertility"),
            F.sum(
                F.when(F.col("n_syms") == F.col("wlen"), F.col("c")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_unmerged_words"),
        )
    )


# ---------------------------------------------------------------------------
# host_pagerank — domain-authority scores over the host link graph
# ---------------------------------------------------------------------------

_PR_T = 10            # damped iterations
_PR_SCALE = 1_000_000  # fixed-point rank scale
_PR_D_NUM, _PR_D_DEN = 85, 100  # damping 0.85 as an exact rational
_PR_OUT = 3           # synthesized out-links per host


def _host_graph(spark: SparkSession, sf_dir: str):
    """The shared host-graph fixture of host_pagerank and
    host_label_propagation: hosts (host, idx, n_docs) from the corpus,
    plus the deterministic synthesized link structure ({_PR_OUT}
    arithmetic out-links per host, (idx*31 + 17k + 7) mod 100, dropped
    when the target is absent or self). Both DataFrames are
    localCheckpointed — iterations run on the O(hosts + links) remnant,
    never rescanning the corpus."""
    h = _docs_with_host(spark, sf_dir)
    hosts = (
        h.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "host",
            F.regexp_extract(F.col("host"), r"www\.h(\d+)\.", 1)
            .cast("long")
            .alias("idx"),
            "n_docs",
        )
        .localCheckpoint(eager=True)
    )
    ks = spark.range(_PR_OUT).select(F.col("id").alias("k"))
    tgt = (F.col("idx") * 31 + 17 * F.col("k") + 7) % 100
    src = hosts.crossJoin(F.broadcast(ks)).select(
        F.col("host").alias("src"), "idx", tgt.alias("tgt")
    )
    tdf = hosts.select(F.col("host").alias("dst"), F.col("idx").alias("tidx"))
    edges = (
        src.join(tdf, src["tgt"] == tdf["tidx"])
        .filter(F.col("idx") != F.col("tgt"))
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    return hosts, edges


def _pr_oracle(n_iters: int) -> str:
    """Unrolled fixed-point PageRank. Every value is a non-negative
    int64, every division is a floor of non-negatives (DuckDB `//`
    truncation == floor there), so no float and no pmod identity is
    needed anywhere."""
    ctes = [
        f"""hosts AS MATERIALIZED (
        SELECT host,
               CAST(regexp_extract(host, 'www\\.h(\\d+)\\.', 1) AS BIGINT)
                   AS idx,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM ({_HOST_SQL_FRAG})
        GROUP BY host
    )""",
        f"""edges AS MATERIALIZED (
        SELECT s.host AS src, t.host AS dst
        FROM (
            SELECT host, idx, (idx * 31 + 17 * k + 7) % 100 AS tgt
            FROM hosts CROSS JOIN
                 (SELECT unnest(generate_series(0, {_PR_OUT - 1})) AS k)
        ) s JOIN hosts t ON t.idx = s.tgt
        WHERE s.idx <> s.tgt
    )""",
        """deg AS (
        SELECT src AS host, CAST(count(*) AS BIGINT) AS outdeg
        FROM edges GROUP BY src
    )""",
        f"""r0 AS (
        SELECT host, CAST({_PR_SCALE} AS BIGINT) AS r FROM hosts
    )""",
    ]
    teleport = _PR_SCALE * (_PR_D_DEN - _PR_D_NUM) // _PR_D_DEN
    for t in range(n_iters):
        ctes.append(f"""c{t} AS MATERIALIZED (
        SELECT e.dst AS host, CAST(sum(r.r // d.outdeg) AS BIGINT) AS c
        FROM edges e
        JOIN r{t} r ON r.host = e.src
        JOIN deg d ON d.host = e.src
        GROUP BY e.dst
    )""")
        ctes.append(f"""r{t + 1} AS MATERIALIZED (
        SELECT h.host,
               {teleport} + ({_PR_D_NUM} * coalesce(c.c, 0)) // {_PR_D_DEN}
                   AS r
        FROM hosts h LEFT JOIN c{t} c ON c.host = h.host
    )""")
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT h.host, h.n_docs,
           CAST(coalesce(d.outdeg, 0) AS BIGINT) AS outdeg,
           r.r AS rank_fixed,
           CAST(r.r AS DOUBLE) / {_PR_SCALE} AS rank
    FROM hosts h
    JOIN r{n_iters} r ON r.host = h.host
    LEFT JOIN deg d ON d.host = h.host"""
    )


@query("host_pagerank", layer="C", oracle=_pr_oracle(_PR_T))
def host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-authority scores by damped PageRank (Page et al. 1999)
    over the host LINK graph — the domain-reputation signal
    RefinedWeb-class curation uses to weight quality upstream of
    content filters (a host linked by many authorities earns trust;
    link farms decay). Hosts come from the corpus (the same parsed
    host universe as url_host_profile — presence varies with sf since
    small hosts may own zero docs at low scale); the link structure is
    SYNTHESIZED deterministically (3 arithmetic out-links per
    host, (idx*31 + 17k + 7) mod 100, dropped when the target host is
    absent from the corpus or self) — the fixture; the ITERATION is
    the operator under test. Ten rounds of
    r <- teleport + floor(0.85 * sum_in(floor(r_u / outdeg_u))),
    the pruned-dangling variant (absent-target mass is dropped, not
    redistributed — documented semantics, standard for web-scale
    implementations that prune cross-partition dangling bookkeeping).

    Fixed-point int64 end to end: damping is the exact rational 85/100
    and every division floors non-negative integers (DuckDB `//`
    truncation == floor on non-negatives; Spark `div` likewise), so
    each round is bit-identical across engines AND partitionings — no
    float exists until the final display division. The oracle unrolls
    the same ten rounds as CTEs.

    Scale shape: the rank table is O(hosts) (~1e8 web-scale — far
    beyond driver/broadcast, which is why the loop is TWO hash joins
    (rank x edges, + degree) and one dst-keyed aggregate per round,
    all AQE-friendly equi-joins, localCheckpointed per round to keep
    lineage flat; nothing ever collects. The corpus is touched once
    (host extraction); iterations run on the O(hosts + links)
    remnant — the dedup_clusters contraction discipline applied to a
    rank loop."""
    hosts, edges = _host_graph(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    esrc = edges.join(
        deg.select(F.col("host").alias("src"), "outdeg"), "src"
    ).localCheckpoint(eager=True)
    teleport = _PR_SCALE * (_PR_D_DEN - _PR_D_NUM) // _PR_D_DEN
    r = hosts.select("host", F.lit(_PR_SCALE).cast("long").alias("r"))
    for _ in range(_PR_T):
        c = (
            esrc.join(r.select(F.col("host").alias("src"), "r"), "src")
            .select(
                F.col("dst").alias("host"),
                F.expr("r div outdeg").alias("contrib"),
            )
            .groupBy("host")
            .agg(F.sum("contrib").alias("c"))
        )
        r = (
            hosts.select("host")
            .join(c, "host", "left")
            .select(
                "host",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({_PR_D_NUM} * coalesce(c, 0L)) div {_PR_D_DEN}"
                    )
                ).cast("long").alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        hosts.select("host", "n_docs")
        .join(r, "host")
        .join(deg, "host", "left")
        .select(
            "host",
            "n_docs",
            F.coalesce(F.col("outdeg"), F.lit(0)).cast("long").alias("outdeg"),
            F.col("r").alias("rank_fixed"),
            (F.col("r").cast("double") / F.lit(float(_PR_SCALE))).alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# host_label_propagation — community detection on the host graph
# ---------------------------------------------------------------------------

_LP_T = 4  # synchronized label-propagation rounds


def _lp_oracle(n_iters: int) -> str:
    """Unrolled synchronous LPA. Pure string/integer arithmetic —
    neighbor-label counts and a (count DESC, label ASC) argmax — so the
    trajectory is exactly reproducible in any engine."""
    ctes = [
        f"""hosts AS MATERIALIZED (
        SELECT host,
               CAST(regexp_extract(host, 'www\\.h(\\d+)\\.', 1) AS BIGINT)
                   AS idx,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM ({_HOST_SQL_FRAG})
        GROUP BY host
    )""",
        f"""edges AS MATERIALIZED (
        SELECT s.host AS src, t.host AS dst
        FROM (
            SELECT host, idx, (idx * 31 + 17 * k + 7) % 100 AS tgt
            FROM hosts CROSS JOIN
                 (SELECT unnest(generate_series(0, {_PR_OUT - 1})) AS k)
        ) s JOIN hosts t ON t.idx = s.tgt
        WHERE s.idx <> s.tgt
    )""",
        """adj AS MATERIALIZED (
        SELECT src AS node, dst AS nbr FROM edges
        UNION
        SELECT dst AS node, src AS nbr FROM edges
    )""",
        "l0 AS (SELECT host AS node, host AS lab FROM hosts)",
    ]
    for t in range(n_iters):
        ctes.append(f"""cnt{t} AS MATERIALIZED (
        SELECT a.node, l.lab, CAST(count(*) AS BIGINT) AS c
        FROM adj a JOIN l{t} l ON l.node = a.nbr
        GROUP BY a.node, l.lab
    )""")
        ctes.append(f"""b{t} AS MATERIALIZED (
        SELECT node, lab FROM (
            SELECT node, lab,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY c DESC, lab) AS rn
            FROM cnt{t}
        ) WHERE rn = 1
    )""")
        ctes.append(f"""l{t + 1} AS MATERIALIZED (
        SELECT p.node, coalesce(b.lab, p.lab) AS lab
        FROM l{t} p LEFT JOIN b{t} b ON b.node = p.node
    )""")
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT h.host, h.n_docs, l.lab AS community, s.n AS community_size
    FROM hosts h
    JOIN l{n_iters} l ON l.node = h.host
    JOIN (SELECT lab, CAST(count(*) AS BIGINT) AS n
          FROM l{n_iters} GROUP BY lab) s ON s.lab = l.lab"""
    )


@query("host_label_propagation", layer="C", oracle=_lp_oracle(_LP_T))
def host_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the host link graph by synchronous
    label propagation (Raghavan 2007, "Near linear time algorithm to
    detect community structures") — the clustering a curation pipeline
    uses to group mirror/farm domains BEFORE capping or sampling
    (domain_cap_sample caps per host; capping per COMMUNITY closes the
    mirror-evasion hole). Same graph fixture as host_pagerank
    (_host_graph), undirected.

    {_LP_T} synchronized rounds, each fully deterministic: every node
    adopts its neighbors' plurality label with ties broken by smallest
    label string — argmax computed as min(struct(-count, label)), a
    hash aggregation (map-side partial, no rank window); isolated
    nodes keep their previous label via the left-join coalesce. The
    oracle unrolls identical rounds with a row_number formulation (a
    structurally different argmax). Labels are host strings and counts
    are int64 — nothing floats, so the trajectory is bit-reproducible
    across engines and partitionings.

    Scale shape: per round = one adjacency-x-labels equi-join + two
    bounded aggregations, localCheckpointed — O(edges) work per round
    on the contracted host remnant, the host_pagerank loop discipline.
    At web scale (~1e8 hosts) nothing collects or broadcasts except
    the final community-size join."""
    hosts, edges = _host_graph(spark, sf_dir)
    adj = (
        edges.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
        .unionByName(
            edges.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    lab = hosts.select(F.col("host").alias("node"), F.col("host").alias("lab"))
    for _ in range(_LP_T):
        cnt = (
            adj.join(lab.select(F.col("node").alias("nbr"), "lab"), "nbr")
            .groupBy("node", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = (
            cnt.select(
                "node",
                F.struct((-F.col("c")).alias("negc"), F.col("lab").alias("lab")).alias(
                    "cand"
                ),
            )
            .groupBy("node")
            .agg(F.min("cand").alias("b"))
            .select("node", F.col("b.lab").alias("blab"))
        )
        lab = (
            lab.join(best, "node", "left")
            .select("node", F.coalesce("blab", "lab").alias("lab"))
            .localCheckpoint(eager=True)
        )
    sizes = lab.groupBy("lab").agg(F.count(F.lit(1)).alias("community_size"))
    return (
        hosts.select("host", "n_docs")
        .join(lab, hosts["host"] == lab["node"])
        .join(sizes, "lab")
        .select(
            "host",
            "n_docs",
            F.col("lab").alias("community"),
            F.col("community_size").cast("long").alias("community_size"),
        )
    )


# ---------------------------------------------------------------------------
# dsir_importance — DSIR importance-weighted data selection (Xie 2023)
# ---------------------------------------------------------------------------

_DSIR_B = 128  # hashed bigram feature buckets

_DSIR_SQL = rf"""
    WITH lbl AS MATERIALIZED (
        SELECT doc_id, keep FROM ({_GOPHER_SQL})
    ),
    toks AS MATERIALIZED (
        SELECT doc_id, source,
               CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+')
               END AS w
        FROM documents
    ),
    bg AS MATERIALIZED (
        SELECT doc_id, source,
               CAST('0x' || substr(md5('dsir:' || w[CAST(i AS INT)] || '_'
                                        || w[CAST(i AS INT) + 1]), 1, 15)
                    AS BIGINT) % {_DSIR_B} AS bucket
        FROM (SELECT doc_id, source, w,
                     unnest(CASE WHEN len(w) < 2 THEN []::BIGINT[]
                            ELSE generate_series(1, len(w) - 1) END) AS i
              FROM toks)
    ),
    pc AS MATERIALIZED (
        SELECT doc_id, source, bucket, CAST(count(*) AS BIGINT) AS cnt
        FROM bg GROUP BY doc_id, source, bucket
    ),
    tb AS MATERIALIZED (
        SELECT bucket,
               CAST(sum(CASE WHEN l.keep THEN cnt ELSE 0 END) AS BIGINT) AS t_b,
               CAST(sum(cnt) AS BIGINT) AS r_b
        FROM pc JOIN lbl l USING (doc_id)
        GROUP BY bucket
    ),
    tot AS (
        SELECT CAST(sum(t_b) + {_DSIR_B} AS BIGINT) AS t2,
               CAST(sum(r_b) + {_DSIR_B} AS BIGINT) AS r2
        FROM tb
    ),
    prods AS (
        -- HUGEINT products: (t_b+1)*r2 overflows int64 once corpus
        -- bigram counts pass ~3e9 in the same bucket; int128 is exact
        -- to 2^126 (Spark side mirrors with DECIMAL(38,0)).
        SELECT bucket,
               CAST(t_b + 1 AS HUGEINT) * r2 AS tp,
               CAST(r_b + 1 AS HUGEINT) * t2 AS rp
        FROM tb, tot
    ),
    lr AS MATERIALIZED (
        -- bits(x) split at 2^62: len(bin(x)) needs a BIGINT, and
        -- bits(x) = 62 + bits(x >> 62) exactly when x >= 2^62.
        SELECT bucket,
               CAST((CASE WHEN tp < 4611686018427387904
                          THEN length(bin(CAST(tp AS BIGINT)))
                          ELSE 62 + length(bin(CAST(
                               tp // 4611686018427387904 AS BIGINT))) END)
                  - (CASE WHEN rp < 4611686018427387904
                          THEN length(bin(CAST(rp AS BIGINT)))
                          ELSE 62 + length(bin(CAST(
                               rp // 4611686018427387904 AS BIGINT))) END)
                    AS BIGINT) AS lr
        FROM prods
    ),
    sc AS MATERIALIZED (
        SELECT p.doc_id, CAST(sum(p.cnt) AS BIGINT) AS n_bigrams,
               CAST(sum(p.cnt * lr.lr) AS BIGINT) AS importance
        FROM pc p JOIN lr USING (bucket)
        GROUP BY p.doc_id
    )
    SELECT d.doc_id, d.source,
           coalesce(s.n_bigrams, 0) AS n_bigrams,
           coalesce(s.importance, 0) AS importance,
           coalesce(s.importance, 0) >= 0 AS keep
    FROM documents d LEFT JOIN sc s USING (doc_id)
"""


# Scored-importance memo: dsir_importance and dsir_resample share ONE
# scoring pass per (session, corpus) — the persisted importance
# manifest of a production DSIR pipeline (closes the r11 ADVICE low).
_DSIR_CACHE: dict[tuple, DataFrame] = register_memo()


@query("dsir_importance", layer="C", oracle=_DSIR_SQL)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, the standard method for steering a raw crawl toward a target
    domain): estimate hashed-n-gram language models of the TARGET
    (here: the Gopher-rule-passing subset, the same proxy-target trick
    the quality classifier trains on) and the RAW corpus, then score
    every document by its importance log-ratio sum_f n_f(x) *
    log(p_target(f)/p_raw(f)) over hashed bigram features, and keep
    docs whose importance clears the threshold (>= 0; real DSIR
    resamples with Gumbel noise — the deterministic gate is the
    engine's declared variant, the scoring is the paper's).

    Fixed-point discipline: features are hashed word bigrams into
    {_DSIR_B} buckets (hash60 % {_DSIR_B}, the portable md5 recipe);
    each bucket's log-ratio is the BIT-RESOLUTION integer log2,
    lr[b] = bits((t_b+1) * R') - bits((r_b+1) * T') with bits(x) =
    length(bin(x)) — exactly floor-log2 of the add-one-smoothed
    probability ratio, the same integer-log surrogate as the unigram
    trainer's costs — so the whole query is exact integer end to end,
    no IEEE op anywhere. The products are widened to int128
    (DECIMAL(38,0) / HUGEINT: int64 would wrap once corpus bigram
    counts pass ~3e9 in one bucket) and bits() splits at 2^62 so the
    engines' 64-bit bin() always applies — exact to 2^124 products,
    i.e. bucket counts to ~2^60 ≈ 1.2e18 bigrams, 10x past a 100 TB
    corpus. Docs with <2 tokens carry importance 0 and pass (the
    unscoreable-docs convention of ccnet_perplexity_buckets).

    Scale shape: one narrow bigram explode -> a {_DSIR_B}-key count
    aggregate (map-side combine, constant-size shuffle) -> the lr
    table is {_DSIR_B} rows by construction and broadcast-joins back
    to the per-doc counts -> one doc-key aggregate. No window, no
    Python, no collect; at 100 TB this is two scan-bound passes and a
    constant-width model join — the cheapest data-selection rung in
    the ladder (the trained classifier costs 24 fixed-point steps;
    DSIR costs two corpus counts)."""
    from cuttlefish_spark.io import memo_key, memo_put

    key = memo_key(spark, sf_dir, "documents")
    if key in _DSIR_CACHE:
        return _DSIR_CACHE[key]
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", "source", tokens(F.col("text")).alias("w"))
    bucket = (
        hash60(F.concat(F.lit("dsir:"), F.col("sh"))) % _DSIR_B
    ).alias("bucket")
    pc = (
        toks.select(
            "doc_id",
            "source",
            F.explode(word_shingles(F.col("w"), k=2, sep="_")).alias("sh"),
        )
        .select("doc_id", "source", bucket)
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # Read by both the bucket-model aggregate and the per-doc scorer
        # — checkpoint so the corpus explode+count runs ONCE (at scale:
        # the persisted feature manifest between the two passes).
        .localCheckpoint(eager=True)
    )
    lbl = gopher_quality_rules(spark, sf_dir).select("doc_id", "keep")
    tb = (
        pc.join(lbl, "doc_id")
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("keep"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("t_b"),
            F.sum("cnt").cast("long").alias("r_b"),
        )
    )
    tot = tb.agg(
        (F.sum("t_b") + F.lit(_DSIR_B)).cast("long").alias("t2"),
        (F.sum("r_b") + F.lit(_DSIR_B)).cast("long").alias("r2"),
    )
    # DECIMAL(19,0) x DECIMAL(19,0) -> DECIMAL(38,0): exact to ~8.5e37
    # (int64 products would wrap past ~3e9-count buckets); bits(x)
    # splits at 2^62 so bin() always sees a BIGINT — value-identical
    # to the plain int64 form wherever that form doesn't overflow.
    prod = lambda a, b: (  # noqa: E731
        a.cast("decimal(19,0)") * b.cast("decimal(19,0)")
    )
    bits = lambda name: F.when(  # noqa: E731
        F.col(name) < F.lit(1 << 62),
        F.length(F.bin(F.col(name).cast("long"))),
    ).otherwise(
        F.lit(62)
        + F.length(F.bin(F.expr(f"CAST({name} div {1 << 62} AS BIGINT)")))
    )
    lr = (
        tb.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            prod(F.col("t_b") + 1, F.col("r2")).alias("tp"),
            prod(F.col("r_b") + 1, F.col("t2")).alias("rp"),
        )
        .select(
            "bucket",
            (bits("tp") - bits("rp")).cast("long").alias("lr"),
        )
    )
    sc = (
        pc.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("lr")).cast("long").alias("importance"),
        )
    )
    out = (
        d.select("doc_id", "source")
        .join(sc, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("importance", F.lit(0)).cast("long").alias("importance"),
            (F.coalesce("importance", F.lit(0)) >= 0).alias("keep"),
        )
        # eager checkpoint = the materialized importance manifest; the
        # memo hands the SAME frame to dsir_resample (and repeat calls)
        # so the scoring pass runs once per session per corpus.
        .localCheckpoint(eager=True)
    )
    memo_put(_DSIR_CACHE, key, out)
    return out


# ---------------------------------------------------------------------------
# pretrain_data_e2e — the full public pretraining-data recipe as ONE plan
# ---------------------------------------------------------------------------

_E2E_NEAR_J = 0.5  # near-dup Jaccard threshold (minhash_shingles' bar)


def _e2e_stage3_pairs(nsh: DataFrame) -> tuple[int, DataFrame, DataFrame]:
    """The capstone's stage-3 ADAPTIVE banded candidate join:
    given `nsh` = (doc_id, sh) shingle sets of the upstream survivors,
    build the two-family MinHash signature (band1/band2 from the
    shingle md5, band3/band4 from an independent 'w2:'-salted md5 —
    reusing windows of one md5 would correlate the families), let
    _pick_banding price the b=2,r=2 candidate join from the band-value
    frequency tables (integral sum of C(n,2), one scalar driver sync),
    and run the chosen branch: band1|band2 OR-join below the bar,
    all-four-bands conjunction (b=1,r=8) above it. Returns
    (rows_per_band, candidate pairs (da, db), checkpointed signature).
    The capstone's oracle re-derives the identical integer decision in
    its ndec CTE (_ADAPT_DEC_SQL discipline), so the chosen branch can
    never diverge cross-engine."""

    def mh(col: str, start: int):
        return F.array_min(
            F.transform(F.col(col), lambda x: F.substring(x, start, 8))
        )

    nsig = (
        nsh.withColumn("h", F.transform(F.col("sh"), F.md5))
        .withColumn(
            "h2",
            F.transform(F.col("sh"), lambda x: F.md5(F.concat(F.lit("w2:"), x))),
        )
        .select(
            "doc_id",
            "sh",
            F.concat(mh("h", 1), mh("h", 9)).alias("band1"),
            F.concat(mh("h", 17), mh("h", 25)).alias("band2"),
            F.concat(mh("h2", 1), mh("h2", 9)).alias("band3"),
            F.concat(mh("h2", 17), mh("h2", 25)).alias("band4"),
        )
        .localCheckpoint(eager=True)
    )
    rpb = _pick_banding(nsig)
    if rpb == 2:
        pairs = None
        for band in ["band1", "band2"]:
            a = nsig.select(F.col("doc_id").alias("da"), F.col(band).alias("k"))
            b = nsig.select(F.col("doc_id").alias("db"), F.col(band).alias("k"))
            c = a.join(b, "k").filter(F.col("da") < F.col("db")).select("da", "db")
            pairs = c if pairs is None else pairs.unionByName(c)
        pairs = pairs.distinct()
    else:
        bands = ["band1", "band2", "band3", "band4"]
        a = nsig.select(F.col("doc_id").alias("da"), *bands)
        b = nsig.select(
            F.col("doc_id").alias("db"),
            *[F.col(x).alias(f"{x}_b") for x in bands],
        )
        cond = F.col("da") < F.col("db")
        for x in bands:
            cond = cond & (F.col(x) == F.col(f"{x}_b"))
        pairs = a.join(b, cond).select("da", "db")
    return rpb, pairs, nsig

_E2E_H60 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


def _e2e_oracle() -> str:
    """The capstone oracle: every stage restates its standalone
    operator's exact SQL (URL canon = _UDC_CTES, classifier = the full
    _qc_ctes training chain incl. the Gopher labels it distills from,
    near-dup = _SHINGLES_SQL/_mh_sql bands, C4 = _C4_SQL, temperature
    = the integer h^2 keep-test, packing/shuffle = their window
    formulations), chained through survivor manifests st1..st7. CTE
    names avoid the qc chain's lbl/nn/ft/w*/s*/p*/g* namespace."""
    h60_doc = _E2E_H60.format(x="CAST(st6.doc_id AS VARCHAR)")
    h60_shuf = _E2E_H60.format(x="'shuf:' || CAST(doc_id AS VARCHAR)")
    qc_chain = ",\n    ".join(_qc_ctes(_QC_T))
    return f"""
    WITH {_UDC_CTES},
    {qc_chain},
    u_agg AS (
        SELECT canonical_url, CAST(max(n_chars) AS BIGINT) AS kept_chars
        FROM canon GROUP BY canonical_url
    ),
    u_surv AS (
        SELECT c.canonical_url, CAST(min(c.doc_id) AS BIGINT) AS doc_id
        FROM canon c JOIN u_agg a ON c.canonical_url = a.canonical_url
                                 AND c.n_chars = a.kept_chars
        GROUP BY c.canonical_url
    ),
    st1 AS MATERIALIZED (
        SELECT c.doc_id, c.source
        FROM canon c JOIN u_surv u ON c.doc_id = u.doc_id
    ),
    eh AS MATERIALIZED (
        SELECT d.doc_id, md5({_NORM_SQL}) AS ch
        FROM documents d JOIN st1 USING (doc_id)
    ),
    st2 AS MATERIALIZED (
        SELECT e.doc_id, st1.source
        FROM eh e
        JOIN (SELECT ch, min(doc_id) AS kd FROM eh GROUP BY ch) k
          ON e.ch = k.ch AND e.doc_id = k.kd
        JOIN st1 ON st1.doc_id = e.doc_id
    ),
    nsh AS (
        SELECT t.doc_id, t.sh FROM ({_SHINGLES_SQL}) t JOIN st2 USING (doc_id)
    ),
    nsig AS MATERIALIZED (
        SELECT doc_id, sh,
               {_mh_sql(1)} || {_mh_sql(9)} AS band1,
               {_mh_sql(17)} || {_mh_sql(25)} AS band2,
               {_mh_sql(1, "h2")} || {_mh_sql(9, "h2")} AS band3,
               {_mh_sql(17, "h2")} || {_mh_sql(25, "h2")} AS band4
        FROM (SELECT doc_id, sh, list_transform(sh, x -> md5(x)) AS h,
                     list_transform(sh, x -> md5('w2:' || x)) AS h2
              FROM nsh)
    ),
    ndec AS (
        SELECT CASE WHEN
            (SELECT COALESCE(sum((n * (n - 1)) // 2), 0)
             FROM (SELECT count(*) AS n FROM nsig
                   WHERE band1 IS NOT NULL GROUP BY band1))
          + (SELECT COALESCE(sum((n * (n - 1)) // 2), 0)
             FROM (SELECT count(*) AS n FROM nsig
                   WHERE band1 IS NOT NULL GROUP BY band2))
          > {_ADAPT_MULT} * (SELECT count(*) FROM nsig
                             WHERE band1 IS NOT NULL)
        THEN 8 ELSE 2 END AS rpb
    ),
    npair AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM nsig a JOIN nsig b
          ON a.doc_id < b.doc_id
         AND (a.band1 = b.band1 OR a.band2 = b.band2)
        WHERE (SELECT rpb FROM ndec) = 2
        UNION ALL
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM nsig a JOIN nsig b
          ON a.doc_id < b.doc_id
         AND a.band1 = b.band1 AND a.band2 = b.band2
         AND a.band3 = b.band3 AND a.band4 = b.band4
        WHERE (SELECT rpb FROM ndec) = 8
    ),
    ndrop AS (
        SELECT DISTINCT pr.db AS doc_id
        FROM npair pr
        JOIN nsig sa ON sa.doc_id = pr.da
        JOIN nsig sb ON sb.doc_id = pr.db
        WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / len(list_distinct(sa.sh || sb.sh)) >= {_E2E_NEAR_J}
    ),
    st3 AS MATERIALIZED (
        SELECT st2.* FROM st2 LEFT JOIN ndrop USING (doc_id)
        WHERE ndrop.doc_id IS NULL
    ),
    c4k AS (
        SELECT doc_id FROM documents
        WHERE NOT contains(lower(text), 'lorem ipsum')
          AND NOT contains(text, '{{')
    ),
    st4 AS (SELECT st3.* FROM st3 JOIN c4k USING (doc_id)),
    st5 AS (SELECT st4.* FROM st4 JOIN lbl USING (doc_id) WHERE lbl.y = 1),
    st6 AS MATERIALIZED (
        SELECT st5.* FROM st5 JOIN p{_QC_T} USING (doc_id)
        WHERE p{_QC_T}.score > 0
    ),
    tcnt AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM st6 GROUP BY source
    ),
    tmx AS (SELECT max(n_docs) AS n_max FROM tcnt),
    st7 AS MATERIALIZED (
        SELECT doc_id, source FROM (
            SELECT st6.doc_id, st6.source,
                   {h60_doc} % {_TEMP_M} AS hq, t.n_docs, m.n_max
            FROM st6 JOIN tcnt t USING (source) CROSS JOIN tmx m
        ) WHERE hq * hq * n_max < {_TEMP_M * _TEMP_M} * n_docs
    ),
    ptok AS (
        SELECT s.doc_id, s.source,
               CASE WHEN length(trim(d.text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(lower(d.text)),
                                                   '\\s+'))
               END AS n_tok
        FROM st7 s JOIN documents d USING (doc_id)
    ),
    pcum AS (
        SELECT doc_id, source, n_tok,
               SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tok AS cb
        FROM ptok
    ),
    pk AS (
        SELECT source,
               CAST(count(DISTINCT cb // {PACK_WINDOW}) AS BIGINT)
                   AS packed_windows,
               CAST(sum(n_tok) AS BIGINT) AS final_tokens
        FROM pcum GROUP BY source
    ),
    shh AS (
        SELECT doc_id, source, {h60_shuf} AS hv FROM st7
    ),
    spos AS (
        SELECT source,
               CAST(row_number() OVER (
                   PARTITION BY hv % {_SHUFFLE_SHARDS}
                   ORDER BY hv, doc_id) AS BIGINT) AS pos
        FROM shh
    ),
    shp AS (
        SELECT source, CAST(sum(pos) AS BIGINT) AS shuffle_possum
        FROM spos GROUP BY source
    ),
    e2e_base AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_raw
        FROM documents GROUP BY source
    ),
    cnt1 AS (SELECT source, count(*) AS n_url_kept FROM st1 GROUP BY source),
    cnt2 AS (SELECT source, count(*) AS n_exact_kept FROM st2 GROUP BY source),
    cnt3 AS (SELECT source, count(*) AS n_neardup_kept FROM st3 GROUP BY source),
    cnt4 AS (SELECT source, count(*) AS n_c4_kept FROM st4 GROUP BY source),
    cnt5 AS (SELECT source, count(*) AS n_gopher_kept FROM st5 GROUP BY source),
    cnt6 AS (SELECT source, count(*) AS n_clf_kept FROM st6 GROUP BY source),
    cnt7 AS (SELECT source, count(*) AS n_mix_kept FROM st7 GROUP BY source),
    agr AS (
        SELECT st4.source,
               CAST(COALESCE(sum(CASE WHEN lbl.y = 1 AND p.score > 0
                                      THEN 1 END), 0) AS BIGINT)
                   AS n_both_pass,
               CAST(COALESCE(sum(CASE WHEN lbl.y = 1 AND p.score <= 0
                                      THEN 1 END), 0) AS BIGINT)
                   AS n_gopher_only,
               CAST(COALESCE(sum(CASE WHEN lbl.y <> 1 AND p.score > 0
                                      THEN 1 END), 0) AS BIGINT)
                   AS n_clf_only,
               CAST(COALESCE(sum(CASE WHEN lbl.y <> 1 AND p.score <= 0
                                      THEN 1 END), 0) AS BIGINT)
                   AS n_neither
        FROM st4 JOIN lbl USING (doc_id) JOIN p{_QC_T} p USING (doc_id)
        GROUP BY st4.source
    )
    SELECT b.source, b.n_raw,
           CAST(coalesce(cnt1.n_url_kept, 0) AS BIGINT) AS n_url_kept,
           CAST(coalesce(cnt2.n_exact_kept, 0) AS BIGINT) AS n_exact_kept,
           CAST(coalesce(cnt3.n_neardup_kept, 0) AS BIGINT) AS n_neardup_kept,
           CAST(coalesce(cnt4.n_c4_kept, 0) AS BIGINT) AS n_c4_kept,
           CAST(coalesce(cnt5.n_gopher_kept, 0) AS BIGINT) AS n_gopher_kept,
           CAST(coalesce(cnt6.n_clf_kept, 0) AS BIGINT) AS n_clf_kept,
           CAST(coalesce(cnt7.n_mix_kept, 0) AS BIGINT) AS n_mix_kept,
           CAST(coalesce(pk.packed_windows, 0) AS BIGINT) AS packed_windows,
           CAST(coalesce(pk.final_tokens, 0) AS BIGINT) AS final_tokens,
           CAST(coalesce(shp.shuffle_possum, 0) AS BIGINT) AS shuffle_possum,
           CAST(coalesce(agr.n_both_pass, 0) AS BIGINT) AS n_both_pass,
           CAST(coalesce(agr.n_gopher_only, 0) AS BIGINT) AS n_gopher_only,
           CAST(coalesce(agr.n_clf_only, 0) AS BIGINT) AS n_clf_only,
           CAST(coalesce(agr.n_neither, 0) AS BIGINT) AS n_neither,
           CASE WHEN coalesce(cnt4.n_c4_kept, 0) > 0 THEN
               (coalesce(agr.n_both_pass, 0) + coalesce(agr.n_neither, 0))
                   * 1.0 / cnt4.n_c4_kept
           ELSE 0.0 END AS gate_agree_frac
    FROM e2e_base b
    LEFT JOIN cnt1 USING (source)
    LEFT JOIN cnt2 USING (source)
    LEFT JOIN cnt3 USING (source)
    LEFT JOIN cnt4 USING (source)
    LEFT JOIN cnt5 USING (source)
    LEFT JOIN cnt6 USING (source)
    LEFT JOIN cnt7 USING (source)
    LEFT JOIN pk USING (source)
    LEFT JOIN shp USING (source)
    LEFT JOIN agr USING (source)
    """


@query("pretrain_data_e2e", layer="C", oracle=_e2e_oracle())
def pretrain_data_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining-data CAPSTONE — the full public curation recipe
    (C4 / Gopher / RefinedWeb / DCLM lineage) chained as ONE plan with
    per-stage survivor manifests and per-source attrition accounting,
    the join-graph/stage-composition stress no single query exercises
    (the LLM-pipeline analogue of TPC-H Q8):

      raw -> (1) URL dedup (canonicalize, keep longest per target —
      url_dedup_canonical's survivor argmax) -> (2) exact dedup among
      survivors (min doc_id per normalized-content md5 —
      exact_dedup_docs' rule) -> (3) near-dup keep-list (ADAPTIVE
      MinHash banding: _pick_banding prices the b=2,r=2 candidate
      join on the survivors' own band-value frequency tables and
      tightens to b=1,r=8 above the calibrated est-pairs/doc bar,
      with the oracle's ndec CTE re-deriving the identical integer
      decision; candidates then verify exact Jaccard >=
      {_E2E_NEAR_J}, drop the larger id of each verified pair —
      dedup_clusters' adaptive default composed as a bounded
      manifest) -> (4) C4 page rules (lorem-ipsum /
      curly-brace; the LINE-level rule is verified standalone by
      c4_line_filter but is vacuous on this single-line synthetic
      corpus, so the capstone carries C4's page-rule subset) ->
      (5) Gopher rule gate -> (6) TRAINED classifier threshold (the
      24-step fixed-point model of quality_classifier_ngram, trained
      once on the full corpus, score > 0) -> (7) temperature mixture
      (alpha=0.5 integer h^2 keep-test of temperature_sampling over
      the SURVIVOR counts) -> (8) sequence packing (per-source
      two-phase prefix sum into {PACK_WINDOW}-token windows) ->
      (9) training shuffle (salted-hash shard + within-shard rank,
      emitted as the per-source position checksum).

    Output: one row per source — n_raw and the seven post-stage
    survivor counts, plus packed_windows / final_tokens (stage 8),
    shuffle_possum (stage 9), and the stage-5/6 COMPOSITION AUDIT
    (r11 VERDICT item 8): the 2x2 gopher-keep x classifier-pass
    cross-tab measured on stage-4 survivors (n_both_pass /
    n_gopher_only / n_clf_only / n_neither + gate_agree_frac) — the
    quality_signal_agreement ablation at the capstone's own
    composition point. Every number is int64; every stage
    restates its standalone operator's exact arithmetic, so the
    standalone hash-verifications transfer and this query verifies
    their INTERACTION (stage order, manifest joins, survivor-dependent
    statistics like the temperature counts).

    Scale shape: the corpus is scanned once per stage-feature (hash,
    shingles, rules — each a pruned column scan joined to the previous
    narrow manifest); manifests (doc_id, source) are localCheckpointed
    between stages — at 100 TB each becomes a parquet write, the
    production form. The near-dup stage runs bands on stage-2
    SURVIVORS (post-URL/exact collapse), the order that makes the
    expensive stage cheapest — the whole point of running dedup
    early. No low-card ordered window anywhere: packing uses the
    two-phase prefix sum; the shuffle window partitions by the
    uniform hash shard (production sizes S ~ 10x executors)."""
    from pyspark.sql import Window

    d = spread(spark, load_table(spark, sf_dir, "documents"))

    # Stage 1: URL dedup survivors. r14 (guide §2.4, the
    # url_dedup_canonical/curation_funnel_e2e rewrite applied to the
    # capstone): (max n_chars, ties -> min doc_id) is ONE deterministic
    # max(struct(n_chars, -doc_id, source)) aggregate — the trailing
    # field never decides (doc_id unique) and just rides along — so the
    # agg + equality-join-back + second groupBy + survivor join AND the
    # canon checkpoint (canon now has one consumer) disappear.
    canon = _url_canon(spark, sf_dir)
    u_best = F.max(
        F.struct(
            F.col("n_chars"),
            (-F.col("doc_id")).alias("nid"),
            F.col("source").alias("source"),
        )
    ).alias("b")
    st1 = (
        canon.groupBy("canonical_url")
        .agg(u_best)
        .select(
            (-F.col("b.nid")).alias("doc_id"), F.col("b.source").alias("source")
        )
        .localCheckpoint(eager=True)
    )

    # Stage 2: exact dedup among survivors (min doc_id per content md5)
    # — same r14 discipline: min(struct(doc_id, source)) per content
    # hash replaces the min-agg + equality-join-back (and eh, now
    # single-consumer, no longer needs its own checkpoint).
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    eh = d.select("doc_id", F.md5(norm).alias("ch")).join(st1, "doc_id")
    st2 = (
        eh.groupBy("ch")
        .agg(F.min(F.struct(F.col("doc_id"), F.col("source"))).alias("b"))
        .select(F.col("b.doc_id").alias("doc_id"), F.col("b.source").alias("source"))
        .localCheckpoint(eager=True)
    )

    # Stage 3: near-dup keep-list via ADAPTIVE MinHash bands on stage-2
    # survivors (r12 VERDICT item 2 — the hard-coded b=2,r=2 join here
    # measured candidate exponent 2.03 over the zipf decade, the exact
    # cliff _pick_banding removed from dedup_clusters; see
    # _e2e_stage3_pairs for the branch machinery and the cross-engine
    # decision contract).
    sh = F.array_distinct(word_shingles(tokens(F.col("text")), k=3))
    nsh = d.select("doc_id", sh.alias("sh")).join(st2.select("doc_id"), "doc_id")
    _rpb, pairs, nsig = _e2e_stage3_pairs(nsh)
    sa = nsig.select(F.col("doc_id").alias("da"), F.col("sh").alias("sha"))
    sb = nsig.select(F.col("doc_id").alias("db"), F.col("sh").alias("shb"))
    jac = F.size(F.array_intersect("sha", "shb")).cast("double") / F.size(
        F.array_union("sha", "shb")
    )
    ndrop = (
        pairs.join(sa, "da")
        .join(sb, "db")
        .filter(jac >= _E2E_NEAR_J)
        .select(F.col("db").alias("doc_id"))
        .distinct()
    )
    st3 = st2.join(ndrop, "doc_id", "left_anti").localCheckpoint(eager=True)

    # Stage 4: C4 page rules (line rule vacuous on this corpus — see above).
    c4k = d.filter(
        (~F.lower(F.col("text")).contains("lorem ipsum"))
        & (~F.col("text").contains("{"))
    ).select("doc_id")
    st4 = st3.join(c4k, "doc_id").localCheckpoint(eager=True)

    # Stage 5: Gopher rule gate.
    q = gopher_quality_rules(spark, sf_dir).select("doc_id", "keep")
    st5 = (
        st4.join(q, "doc_id")
        .filter(F.col("keep"))
        .drop("keep")
        .localCheckpoint(eager=True)
    )

    # Stage 6: trained classifier threshold (model memoized per corpus).
    w, _n, feats, labels = _qc_train(spark, sf_dir)
    clf = _qc_score(spark, feats, labels, w).select(
        "doc_id", (F.col("score") > 0).alias("clf_pass")
    )
    st6 = st5.join(
        clf.filter(F.col("clf_pass")).select("doc_id"), "doc_id"
    ).localCheckpoint(eager=True)

    # Stage 5/6 COMPOSITION AUDIT (r11 VERDICT item 8 — the ablation
    # discipline quality_signal_agreement exists for, wired into the
    # capstone): both gate verdicts evaluated on the stage-4 survivors
    # — agreement AT THE POINT OF COMPOSITION, conditional on the
    # upstream dedup/C4 gates, which is the number that decides
    # whether stacking gate 6 after gate 5 buys anything. n_clf_only
    # (classifier fires where Gopher fails) and n_neither are the
    # genuinely new cells; n_both_pass must equal n_clf_kept (the
    # cross-check the oracle enforces).
    agr = (
        st4.join(q, "doc_id")
        .join(clf, "doc_id")
        .groupBy("source")
        .agg(
            *[
                F.coalesce(F.sum(F.when(cond, 1)), F.lit(0))
                .cast("long")
                .alias(name)
                for name, cond in [
                    ("n_both_pass", F.col("keep") & F.col("clf_pass")),
                    ("n_gopher_only", F.col("keep") & ~F.col("clf_pass")),
                    ("n_clf_only", ~F.col("keep") & F.col("clf_pass")),
                    ("n_neither", ~F.col("keep") & ~F.col("clf_pass")),
                ]
            ]
        )
    )

    # Stage 7: temperature mixture over SURVIVOR counts (alpha = 0.5).
    tcnt = st6.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tmx = tcnt.agg(F.max("n_docs").alias("n_max"))
    hq = hash60(F.col("doc_id").cast("string")) % _TEMP_M
    st7 = (
        st6.join(F.broadcast(tcnt), "source")
        .crossJoin(F.broadcast(tmx))
        .filter(
            hq * hq * F.col("n_max") < F.lit(_TEMP_M * _TEMP_M) * F.col("n_docs")
        )
        .select("doc_id", "source")
        .localCheckpoint(eager=True)
    )

    # Stage 8: sequence packing — per-source TWO-PHASE prefix sum
    # (operators/twophase.py, the same helper sequence_packing uses).
    from cuttlefish_spark.operators.twophase import two_phase_prefix_sum

    ptok = d.select("doc_id", F.size(tokens(F.col("text"))).alias("n_tok")).join(
        st7, "doc_id"
    )
    pcum = two_phase_prefix_sum(
        spark, ptok, "source", [F.col("doc_id")], "n_tok"
    ).withColumn("cb", F.col("cum") - F.col("n_tok"))
    pk = pcum.groupBy("source").agg(
        F.countDistinct(F.expr(f"cb div {PACK_WINDOW}")).alias("packed_windows"),
        F.sum("n_tok").cast("long").alias("final_tokens"),
    )

    # Stage 9: training shuffle — salted shard hash + within-shard rank.
    hv = hash60(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    shh = st7.select(
        "doc_id", "source", hv.alias("hv")
    ).withColumn("shard", F.col("hv") % _SHUFFLE_SHARDS)
    w_s = Window.partitionBy("shard").orderBy("hv", "doc_id")
    shp = (
        shh.select("source", F.row_number().over(w_s).cast("long").alias("pos"))
        .groupBy("source")
        .agg(F.sum("pos").cast("long").alias("shuffle_possum"))
    )

    # Funnel assembly: one row per raw source, zeros where extinct.
    out = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    stage_counts = [
        (st1, "n_url_kept"),
        (st2, "n_exact_kept"),
        (st3, "n_neardup_kept"),
        (st4, "n_c4_kept"),
        (st5, "n_gopher_kept"),
        (st6, "n_clf_kept"),
        (st7, "n_mix_kept"),
    ]
    for frame, cname in stage_counts:
        out = out.join(
            frame.groupBy("source").agg(F.count(F.lit(1)).alias(cname)),
            "source",
            "left",
        )
    out = (
        out.join(pk, "source", "left")
        .join(shp, "source", "left")
        .join(agr, "source", "left")
    )
    z = F.lit(0).cast("long")
    final_cols = [c for _, c in stage_counts] + [
        "packed_windows",
        "final_tokens",
        "shuffle_possum",
        "n_both_pass",
        "n_gopher_only",
        "n_clf_only",
        "n_neither",
    ]
    c4k_n = F.coalesce(F.col("n_c4_kept"), z)
    agree_frac = F.when(
        c4k_n > 0,
        (
            F.coalesce(F.col("n_both_pass"), z)
            + F.coalesce(F.col("n_neither"), z)
        )
        * 1.0
        / c4k_n,
    ).otherwise(0.0)
    return out.select(
        "source",
        "n_raw",
        *[F.coalesce(F.col(c), z).alias(c) for c in final_cols],
        agree_frac.alias("gate_agree_frac"),
    )


# ---------------------------------------------------------------------------
# bpe_train_merges_batched — batched compatible-merge selection
# ---------------------------------------------------------------------------

_BPE_B_ROUNDS = 4  # driver sync points
_BPE_B_M = 4       # max merges learned per round
_BPE_B_CAND = 32   # candidate pool ranked per round (both engines cap here)


def _bpe_batched_ctes(n_rounds: int) -> list[str]:
    """CTE chain of the batched-BPE oracle: per round, rank the top
    {_BPE_B_CAND} pairs by (cnt DESC, l, r), select the
    DOMINANCE-COMPATIBLE subset (a candidate is selected iff NO
    higher-ranked candidate's symbol set {l, r, l||r} intersects its
    own — including the MERGED strings, which is what makes a single
    left-to-right application pass chain-free), cap at {_BPE_B_M}, and
    apply ALL selected pairs in ONE run-parity window pass (legal
    because selected pairs are symbol-disjoint: a match run can only
    ever be one pair repeating)."""
    ctes = [
        f"""seq0 AS MATERIALIZED (
        SELECT word, freq,
               list_transform(generate_series(1, length(word)),
                              i -> substr(word, i, 1)) AS syms
        FROM ({_WORDS_SQL})
    )"""
    ]
    for i in range(n_rounds):
        ctes.append(f"""p{i} AS MATERIALIZED (
        SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt
        FROM (
            SELECT freq, syms[j] AS l, syms[j + 1] AS r
            FROM (
                SELECT freq, syms,
                       unnest(generate_series(1, len(syms) - 1)) AS j
                FROM seq{i} WHERE len(syms) >= 2
            )
        ) GROUP BY l, r
    )""")
        ctes.append(f"""c{i} AS MATERIALIZED (
        SELECT l, r, cnt, row_number() OVER (ORDER BY cnt DESC, l, r) AS rk
        FROM p{i} ORDER BY cnt DESC, l, r LIMIT {_BPE_B_CAND}
    )""")
        ctes.append(f"""b{i} AS MATERIALIZED (
        SELECT l, r, cnt, rk FROM c{i} q
        WHERE NOT EXISTS (
            SELECT 1 FROM c{i} p
            WHERE p.rk < q.rk
              AND (p.l IN (q.l, q.r, q.l || q.r)
                   OR p.r IN (q.l, q.r, q.l || q.r)
                   OR p.l || p.r IN (q.l, q.r, q.l || q.r))
        )
        ORDER BY rk LIMIT {_BPE_B_M}
    )""")
        ctes.append(f"""x{i} AS MATERIALIZED (
        SELECT t.word, t.freq, t.j, t.sym,
               b.l IS NOT NULL AS m, b.r AS br
        FROM (
            SELECT word, freq, syms, j, syms[j] AS sym,
                   CASE WHEN j < len(syms) THEN syms[j + 1] END AS nxt
            FROM (
                SELECT word, freq, syms,
                       unnest(generate_series(1, len(syms))) AS j
                FROM seq{i}
            )
        ) t
        LEFT JOIN b{i} b ON t.sym = b.l AND t.nxt = b.r
    )""")
        ctes.append(f"""a{i} AS MATERIALIZED (
        SELECT word, j,
               row_number() OVER (PARTITION BY word, grp ORDER BY j) % 2 = 1
                   AS active
        FROM (
            SELECT word, j,
                   j - row_number() OVER (PARTITION BY word ORDER BY j) AS grp
            FROM x{i} WHERE m
        )
    )""")
        ctes.append(f"""seq{i + 1} AS MATERIALIZED (
        SELECT x.word, x.freq,
               list(CASE WHEN coalesce(a.active, FALSE)
                         THEN x.sym || x.br ELSE x.sym END
                    ORDER BY x.j) AS syms
        FROM x{i} x
        LEFT JOIN a{i} a ON a.word = x.word AND a.j = x.j
        LEFT JOIN a{i} c ON c.word = x.word AND c.j = x.j - 1 AND c.active
        WHERE c.j IS NULL
        GROUP BY x.word, x.freq
    )""")
    return ctes


def _bpe_batched_oracle(n_rounds: int) -> str:
    steps = "\n        UNION ALL\n".join(
        f"        SELECT {i + 1} AS round,"
        f" CAST(row_number() OVER (ORDER BY rk) AS BIGINT) AS sel_rank,"
        f" l AS left_sym, r AS right_sym, l || r AS merged,"
        f" cnt AS pair_count FROM b{i}"
        for i in range(n_rounds)
    )
    return (
        "WITH " + ",\n    ".join(_bpe_batched_ctes(n_rounds))
        + f"\n    SELECT * FROM (\n{steps}\n    ) ORDER BY round, sel_rank"
    )


def _bpe_dominance_batch(cand: list[tuple]) -> list[tuple]:
    """Driver-side twin of the oracle's b{i}: cand is the ranked
    top-{_BPE_B_CAND} [(l, r, cnt), ...]; a candidate survives iff no
    HIGHER-RANKED candidate's {l, r, l||r} intersects its own (the
    1-hop dominance rule — a pure function of the ranked list, so both
    engines state it identically; unlike greedy selection it does not
    depend on which earlier candidates were themselves selected)."""
    out = []
    for qi, (ql, qr, qcnt) in enumerate(cand):
        qset = {ql, qr, ql + qr}
        ok = True
        for pl, pr, _pc in cand[:qi]:
            if {pl, pr, pl + pr} & qset:
                ok = False
                break
        if ok:
            out.append((ql, qr, qcnt))
            if len(out) == _BPE_B_M:
                break
    return out


@query(
    "bpe_train_merges_batched",
    layer="C",
    oracle=_bpe_batched_oracle(_BPE_B_ROUNDS),
)
def bpe_train_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED BPE training — the scale path bpe_train_merges'
    one-argmax-per-merge loop documents but doesn't take (a 32k-merge
    production vocabulary wants ~thousands of driver syncs, not 32k):
    per round, rank the top {_BPE_B_CAND} pairs by (count DESC, pair),
    keep the dominance-compatible subset (no symbol OR merged-string
    overlap with a higher-ranked candidate — the public batched-BPE
    practice of applying independent merges together, stated with the
    deterministic 1-hop rule both engines can express), cap at
    {_BPE_B_M}, and apply the whole batch in ONE pass over the symbol
    table. {_BPE_B_ROUNDS} rounds learn up to
    {_BPE_B_ROUNDS * _BPE_B_M} merges with {_BPE_B_ROUNDS} driver
    round-trips — the sync count drops M-fold at identical per-pass
    cost, which is the entire scaling argument.

    Chain-freedom is the correctness core (and why the rule covers
    MERGED strings, not just components): with selected pairs'
    {{l, r, l||r}} sets pairwise disjoint, a merge can never create a
    symbol that participates in another selected pair, so Spark's
    single left-to-right fold and the oracle's run-parity window over
    the ORIGINAL sequence provably agree — the same two-algorithm
    cross-check as bpe_train_merges, batched. Driver traffic is
    O({_BPE_B_CAND}) rows per round (the bounded-model discipline).
    """
    return _bpe_train_batched(spark, sf_dir, _BPE_B_ROUNDS)


def _bpe_train_batched(
    spark: SparkSession,
    sf_dir: str,
    n_rounds: int,
) -> DataFrame:
    """The batched training loop, depth-parameterized (the query runs
    it at {_BPE_B_ROUNDS})."""
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    words = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    seq = words.select(
        "word",
        "freq",
        F.expr(
            "transform(sequence(1, length(word)), i -> substr(word, i, 1))"
        ).alias("syms"),
    ).localCheckpoint(eager=True)

    rows: list[tuple] = []
    for rnd in range(1, n_rounds + 1):
        pairs = (
            seq.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " j -> struct(element_at(syms, j) AS l,"
                        "             element_at(syms, j + 1) AS r))"
                    )
                ).alias("p"),
            )
            .select("freq", "p.l", "p.r")
            .groupBy("l", "r")
            .agg(F.sum("freq").alias("cnt"))
        )
        cand = [
            (r["l"], r["r"], int(r["cnt"]))
            for r in pairs.orderBy(F.desc("cnt"), "l", "r")
            .limit(_BPE_B_CAND)
            .collect()
        ]
        batch = _bpe_dominance_batch(cand)
        if not batch:
            break
        for si, (l, r, cnt) in enumerate(batch, start=1):
            rows.append((rnd, si, l, r, l + r, cnt))
        merge_map = F.create_map(
            *[
                F.lit(v)
                for l, r, _c in batch
                for v in (l + "\x00" + r, l + r)
            ]
        )
        def _fold_step(acc, x):
            # NULL-safe lookup key: empty accumulator -> NULL prev ->
            # NULL concat -> try_element_at returns NULL (no ANSI
            # out-of-bounds error on element_at(empty, -1)). merge_map
            # is captured by closure (a default arg would make
            # F.aggregate see a 3-parameter lambda); the fold is applied
            # before the next loop iteration rebinds it.
            prev = F.when(F.size(acc) > 0, F.element_at(acc, -1))
            merged = F.try_element_at(
                merge_map, F.concat(prev, F.lit("\x00"), x)
            )
            return F.when(
                merged.isNotNull(),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
            ).otherwise(F.concat(acc, F.array(x)))

        seq = seq.select(
            "word",
            "freq",
            F.aggregate(
                F.col("syms"),
                F.array().cast("array<string>"),
                _fold_step,
            ).alias("syms"),
        ).localCheckpoint(eager=True)

    return spark.createDataFrame(
        rows,
        "round int, sel_rank long, left_sym string, right_sym string,"
        " merged string, pair_count long",
    )


# ---------------------------------------------------------------------------
# quality_classifier_auc — exact tie-corrected Mann-Whitney AUC (r10)
# ---------------------------------------------------------------------------

_QC_AUC_FINAL = f""", lv AS (
        SELECT score, CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(sum(1 - y) AS BIGINT) AS n_neg
        FROM p{_QC_T} GROUP BY score),
    c AS (
        SELECT n_pos, n_neg,
               COALESCE(sum(n_neg) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_lt
        FROM lv),
    t AS (
        SELECT CAST(sum(n_pos) AS BIGINT) AS np,
               CAST(sum(n_neg) AS BIGINT) AS nn2,
               CAST(sum(n_pos * (2 * cum_lt + n_neg)) AS BIGINT) AS u2,
               CAST(count(*) AS BIGINT) AS n_levels,
               CAST(count(CASE WHEN n_pos + n_neg > 1 THEN 1 END) AS BIGINT)
                   AS n_tied_levels
        FROM c)
    SELECT np AS n_pos, nn2 AS n_neg, u2, n_levels, n_tied_levels,
           CASE WHEN np > 0 AND nn2 > 0
                THEN CAST(u2 AS DOUBLE) / (2 * np * nn2) END AS auc
    FROM t"""


@query(
    "quality_classifier_auc",
    layer="C",
    oracle=_qc_oracle(_QC_T, _QC_AUC_FINAL),
)
def quality_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the trained quality classifier — the
    threshold-free companion to quality_classifier_pr_curve (which
    sweeps 15 operating points; AUC is the single ranking-quality
    number model cards quote). Computed as the tie-corrected
    Mann-Whitney U statistic in EXACT integer arithmetic: group docs
    into score LEVELS on the raw pre-sigmoid integer score (the
    hard-sigmoid saturates, so p_int would tie half the corpus at 0/S
    — the raw dot product is the resolution the ranking actually has),
    then U2 = 2U = sum over levels of n_pos * (2 * negatives_below +
    negatives_tied), and AUC = U2 / (2 * N_pos * N_neg) — ties
    contribute the standard 1/2. u2 <= 2 * N_pos * N_neg stays in
    int64 to ~2.1e9 docs per class; the final AUC is one IEEE division
    of identical integers (NULL when a class is empty, in both
    engines).

    Plan shape: one scoring pass (the memoized _qc_train model — this
    query costs ONE corpus aggregate like its three classifier
    siblings), a level aggregate on the high-cardinality score key,
    and the negatives-below prefix sum via two_phase_prefix_sum (the
    plan-guard-compliant distributed cumulative: range-partition by
    score, per-partition window, O(partitions) collected offsets —
    never a global ordered window). The level table is
    O(distinct scores) <= O(docs); everything after it is a
    single-row reduce."""
    from cuttlefish_spark.operators.twophase import two_phase_prefix_sum

    w, _, feats, labels = _qc_train(spark, sf_dir)
    scored = _qc_score(spark, feats, labels, w)
    lv = (
        scored.groupBy("score")
        .agg(
            F.sum(F.col("y")).cast("long").alias("n_pos"),
            F.sum(1 - F.col("y")).cast("long").alias("n_neg"),
        )
        .withColumn("g", F.lit("all"))
    )
    cum = two_phase_prefix_sum(
        spark, lv, "g", [F.col("score")], "n_neg"
    ).withColumn("cum_lt", F.col("cum") - F.col("n_neg"))
    t = cum.agg(
        F.sum("n_pos").cast("long").alias("np"),
        F.sum("n_neg").cast("long").alias("nn2"),
        F.sum(F.col("n_pos") * (2 * F.col("cum_lt") + F.col("n_neg")))
        .cast("long")
        .alias("u2"),
        F.count(F.lit(1)).alias("n_levels"),
        F.sum(F.when(F.col("n_pos") + F.col("n_neg") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_tied_levels"),
    )
    return t.select(
        F.col("np").alias("n_pos"),
        F.col("nn2").alias("n_neg"),
        "u2",
        "n_levels",
        "n_tied_levels",
        F.when(
            (F.col("np") > 0) & (F.col("nn2") > 0),
            F.col("u2").cast("double") / (2 * F.col("np") * F.col("nn2")),
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# doremi_mixture_weights — domain reweighting by excess proxy loss
# ---------------------------------------------------------------------------

_DRM_T = 3              # multiplicative-weights rounds
_DRM_SCALE = 1_000_000  # fixed-point weight scale
_DRM_ETA_DIV = 1        # factor bump = excess_unats div 1 (lr = 1/nat,
                        # the paper's step size)
_DRM_EPS_DEN = 100      # uniform smoothing epsilon = 1/100

# w after T rounds of w <- (w * factor) div SCALE from w0 = SCALE,
# unrolled as a pure per-row integer expression (factor is static
# because the proxy loss is a fixed measurement here; production
# DoReMi re-measures between rounds).
def _drm_w_expr(div: str) -> str:
    w = str(_DRM_SCALE)
    for _ in range(_DRM_T):
        w = f"(({w} * factor) {div} {_DRM_SCALE})"
    return w


_DRM_SQL = f"""
    WITH {_LM_SCORED_CTES},
    per_src AS (
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(s.n_bigrams) AS BIGINT) AS n_bigrams,
               CAST(sum(s.slp) AS BIGINT) AS sslp
        FROM scored s JOIN documents d USING (doc_id)
        GROUP BY d.source
    ),
    ref AS (
        SELECT (-CAST(sum(sslp) AS BIGINT)) // CAST(sum(n_bigrams) AS BIGINT)
                   AS ref_unats,
               CAST(count(*) AS BIGINT) AS k
        FROM per_src
    ),
    ex AS (
        SELECT source, n_docs, n_bigrams,
               (-sslp) // n_bigrams AS avg_nll_unats,
               greatest(CAST(0 AS BIGINT),
                        (-sslp) // n_bigrams - ref.ref_unats) AS excess_unats,
               ref.k
        FROM per_src CROSS JOIN ref
    ),
    upd AS (
        SELECT source, n_docs, n_bigrams, avg_nll_unats, excess_unats, k,
               {_drm_w_expr('//')} AS w_fixed
        FROM (SELECT *, {_DRM_SCALE} + excess_unats // {_DRM_ETA_DIV}
                         AS factor FROM ex)
    ),
    tot AS (SELECT CAST(sum(w_fixed) AS BIGINT) AS t FROM upd)
    SELECT source, n_docs, n_bigrams, avg_nll_unats, excess_unats,
           CAST(w_fixed AS BIGINT) AS w_fixed,
           round(({_DRM_EPS_DEN - 1}.0 * w_fixed)
                 / ({_DRM_EPS_DEN}.0 * tot.t)
                 + 1.0 / ({_DRM_EPS_DEN}.0 * k), 6) AS weight
    FROM upd CROSS JOIN tot
"""


@query("doremi_mixture_weights", layer="C", oracle=_DRM_SQL)
def doremi_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    upweight domains whose PROXY-model loss exceeds the reference
    loss, by multiplicative weights over the excess. The proxy loss
    here is the corpus's own add-one-smoothed bigram NLL (the
    lm_scored machinery shared with ccnet_perplexity_buckets —
    micro-nat-quantized exact int64 sums), aggregated per source;
    the reference is the corpus-wide mean.

    Deviations from the paper, stated: the update is the LINEARIZED
    multiplicative-weights form w <- w * (1 + lr * excess) in exact
    fixed-point integers rather than exp() (cross-engine exp() is not
    bit-stable; the linear form is the standard MW approximation and
    keeps every round exactly reproducible), and the loss is static
    across the {_DRM_T} rounds (production re-trains the proxy between
    rounds — the ITERATION SHAPE is what this query pins). Final
    weights get the paper's uniform smoothing (eps = 1/{_DRM_EPS_DEN})
    and normalize to sum ~1.

    Scale shape: ONE corpus pass builds per-doc (n_bigrams, slp); per
    source it collapses to three int64 sums — O(sources) state from
    then on, every update a per-row integer expression (no joins, no
    iteration I/O at all: the static-loss MW fold is closed-form
    unrolled). All arithmetic integer until the display-only weight
    division; floors are floors of non-negatives in both engines.
    """
    from cuttlefish_spark.operators.text import lm_scored

    scored = lm_scored(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    per_src = (
        scored.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("n_bigrams"),
            F.sum("slp").alias("sslp"),
        )
        # O(sources) manifest; checkpointed so the ref/excess/total
        # consumers don't each re-expand the corpus-scoring subtree.
        .localCheckpoint(eager=True)
    )
    ref = per_src.agg(
        F.expr("(-CAST(sum(sslp) AS BIGINT)) div CAST(sum(n_bigrams) AS BIGINT)")
        .alias("ref_unats"),
        F.count(F.lit(1)).alias("k"),
    )
    ex = per_src.crossJoin(F.broadcast(ref)).select(
        "source",
        "n_docs",
        "n_bigrams",
        F.expr("(-sslp) div n_bigrams").alias("avg_nll_unats"),
        F.expr(
            "greatest(0L, (-sslp) div n_bigrams - ref_unats)"
        ).alias("excess_unats"),
        "k",
    )
    upd = ex.withColumn(
        "factor", F.expr(f"{_DRM_SCALE} + excess_unats div {_DRM_ETA_DIV}")
    ).withColumn("w_fixed", F.expr(_drm_w_expr("div")))
    tot = upd.agg(F.sum("w_fixed").alias("t"))
    return upd.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("avg_nll_unats").cast("long").alias("avg_nll_unats"),
        F.col("excess_unats").cast("long").alias("excess_unats"),
        F.col("w_fixed").cast("long").alias("w_fixed"),
        F.round(
            (F.lit(float(_DRM_EPS_DEN - 1)) * F.col("w_fixed"))
            / (F.lit(float(_DRM_EPS_DEN)) * F.col("t"))
            + F.lit(1.0) / (F.lit(float(_DRM_EPS_DEN)) * F.col("k")),
            6,
        ).alias("weight"),
    )


# ---------------------------------------------------------------------------
# rho_loss_selection — reducible-holdout-loss data selection
# ---------------------------------------------------------------------------

_RHO_HOLD_MOD = 5  # doc_id % 5 == 0 -> holdout split (20%)

# Two bigram models over the same tokenization: one trained on the
# holdout split, one on the full corpus (the "current proxy model").
# OOV handling is explicit add-one smoothing with LEFT joins:
# lp = ln((b + 1) / (u + V)) with b, u = 0 for unseen pair/unigram and
# V = the TRAINING vocab size — deterministic in both engines.
def _rho_model_ctes(tag: str, train_where: str) -> str:
    return f"""uni_{tag} AS (
        SELECT tok AS w1, count(*) AS u
        FROM (SELECT unnest(w) AS tok FROM t WHERE {train_where})
        GROUP BY tok
    ),
    v_{tag} AS (SELECT count(*) AS v FROM uni_{tag}),
    big_{tag} AS (
        SELECT pair, count(*) AS b
        FROM (SELECT w[i] || ' ' || w[i + 1] AS pair
              FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
                    FROM t WHERE ({train_where}) AND len(w) >= 2))
        GROUP BY pair
    ),
    scored_{tag} AS (
        SELECT d.doc_id,
               CAST(sum(d.c) AS BIGINT) AS n_bigrams,
               CAST(sum(CAST(round(ln((coalesce(big.b, 0) + 1.0)
                                      / (coalesce(uni.u, 0) + v.v)) * 1000000)
                             AS BIGINT) * d.c) AS BIGINT) AS slp
        FROM docbg d
        LEFT JOIN big_{tag} big USING (pair)
        LEFT JOIN uni_{tag} uni ON uni.w1 = d.w1
        CROSS JOIN v_{tag} v
        GROUP BY d.doc_id
    )"""


_RHO_SQL = rf"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+')
               END AS w
        FROM documents
    ),
    bg AS (
        SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i + 1] AS pair
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, len(w) - 1)) AS i
              FROM t WHERE len(w) >= 2)
    ),
    docbg AS (
        SELECT doc_id, w1, pair, count(*) AS c FROM bg GROUP BY ALL
    ),
    {_rho_model_ctes("cur", "TRUE")},
    {_rho_model_ctes("hold", f"doc_id % {_RHO_HOLD_MOD} = 0")}
    SELECT c.doc_id, d.source,
           c.n_bigrams,
           (-c.slp) AS nll_cur_unats,
           (-h.slp) AS nll_hold_unats,
           (h.slp - c.slp) AS reducible_unats,
           CAST(h.slp - c.slp AS DOUBLE) / c.n_bigrams
               AS reducible_unats_per_bigram,
           (h.slp - c.slp) > 0 AS selected
    FROM scored_cur c
    JOIN scored_hold h USING (doc_id)
    JOIN documents d USING (doc_id)
    WHERE d.doc_id % {_RHO_HOLD_MOD} <> 0
"""


@query("rho_loss_selection", layer="C", oracle=_RHO_SQL)
def rho_loss_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RHO-loss data selection (Mindermann et al. 2022, "Prioritized
    Training on Points that are Learnable, Worth Learning, and Not Yet
    Learnt"): score every training candidate by its REDUCIBLE holdout
    loss — loss under the CURRENT model minus loss under the
    holdout-trained reference model (the paper's L[cur] - L[ho]) —
    and select where it is positive. High reducible loss = the point
    is not yet learnt (current model still scores it badly) AND
    learnable (the holdout model, trained without it, explains it
    cheaply from held-out structure — so it is not noise); noise and
    memorized redundancy score low. Completes the data-SELECTION family next to DSIR
    (dsir_importance, distribution matching) and DoReMi
    (doremi_mixture_weights, domain reweighting) — the three published
    selection paradigms, all on one engine.

    Proxy models, stated honestly: both "models" are add-one-smoothed
    bigram LMs (the lm_scored micro-nat discipline) — the holdout model
    trains on the doc_id %% {_RHO_HOLD_MOD} == 0 split, the "current"
    model on the full corpus; production recomputes the current model
    as training progresses (the iteration is out of scope; the SCORING
    CONTRACT is what this query pins). OOV is explicit: unseen
    pairs/unigrams hit the smoothing floor ln(1 / (0 + V_train)) via
    left joins, so both engines score identically outside the training
    vocabulary. Selection emits only the training split (holdout rows
    are the reference, never candidates — the leakage_safe_split
    discipline).

    Scale shape: ONE tokenization pass (one token explode + one
    bigram explode, rolled up per doc) feeds both models' count
    tables — O(vocab), broadcastable — and the per-doc scoring join; reducible loss is exact int64 subtraction of
    micro-nat totals, so `selected` is integer-exact and the only
    float is the display-scaled per-bigram mean. Doubling the model
    count costs two more bounded count tables, not another corpus
    pass.
    """
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", "source", tokens(F.col("text")).alias("w"))
    bg = (
        t.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("w") - 1)).alias("i"),
            "w",
        )
        .select(
            "doc_id",
            F.element_at("w", F.col("i")).alias("w1"),
            F.concat_ws(
                " ", F.element_at("w", F.col("i")), F.element_at("w", F.col("i") + 1)
            ).alias("pair"),
        )
    )
    # docbg/doctok are each consumed by BOTH models' count rollups and
    # the scoring join — localCheckpoint so the corpus explode runs
    # once (at production these are the persisted feature manifests).
    docbg = (
        bg.groupBy("doc_id", "w1", "pair")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )

    # ONE token explode and ONE bigram explode feed both models:
    # per-doc token counts (doctok) and the per-doc pair counts
    # (docbg) roll up to each model's training counts by filtering on
    # the training predicate and summing — the corpus is never
    # re-exploded per model.
    doctok = (
        t.select("doc_id", F.explode("w").alias("w1"))
        .groupBy("doc_id", "w1")
        .agg(F.count(F.lit(1)).alias("tc"))
        .localCheckpoint(eager=True)
    )

    def model_scores(train_pred, tag: str) -> DataFrame:
        uni = (
            doctok.filter(train_pred)
            .groupBy("w1")
            .agg(F.sum("tc").alias("u"))
        )
        v = uni.agg(F.count(F.lit(1)).alias("v"))
        big = (
            docbg.filter(train_pred)
            .groupBy("pair")
            .agg(F.sum("c").alias("b"))
        )
        lp_micro = F.round(
            F.log(
                (F.coalesce(F.col("b"), F.lit(0)) + F.lit(1.0))
                / (F.coalesce(F.col("u"), F.lit(0)) + F.col("v"))
            )
            * 1_000_000
        ).cast("long")
        return (
            docbg.join(F.broadcast(big), "pair", "left")
            .join(F.broadcast(uni), "w1", "left")
            .crossJoin(F.broadcast(v))
            .groupBy("doc_id")
            .agg(
                F.sum("c").alias("n_bigrams"),
                F.sum(lp_micro * F.col("c")).alias(f"slp_{tag}"),
            )
        )

    cur = model_scores(F.lit(True), "cur")
    hold = model_scores(
        F.col("doc_id") % _RHO_HOLD_MOD == 0, "hold"
    ).drop("n_bigrams")
    red = F.col("slp_hold") - F.col("slp_cur")
    return (
        cur.join(hold, "doc_id")
        .join(t.select("doc_id", "source"), "doc_id")
        .filter(F.col("doc_id") % _RHO_HOLD_MOD != 0)
        .select(
            "doc_id",
            "source",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            (-F.col("slp_cur")).cast("long").alias("nll_cur_unats"),
            (-F.col("slp_hold")).cast("long").alias("nll_hold_unats"),
            red.cast("long").alias("reducible_unats"),
            (red.cast("double") / F.col("n_bigrams")).alias(
                "reducible_unats_per_bigram"
            ),
            (red > 0).alias("selected"),
        )
    )


# ---------------------------------------------------------------------------
# quality_signal_agreement — cross-signal audit of the quality ladder
# ---------------------------------------------------------------------------

_QSA_FINAL = f"""qs AS (
        SELECT doc_id,
               (CASE WHEN n_tokens BETWEEN 50 AND 1000 THEN 0.25 ELSE 0.0 END
                + CASE WHEN chars_per_token BETWEEN 3 AND 10 THEN 0.25 ELSE 0.0 END
                + CASE WHEN punct_ratio < 0.1 THEN 0.25 ELSE 0.0 END
                + CASE WHEN stopword_ratio > 0.02 THEN 0.25 ELSE 0.0 END)
               >= 0.75 AS qs_pass
        FROM (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CASE WHEN len(toks) > 0
                        THEN CAST(n_chars AS DOUBLE) / len(toks) END
                       AS chars_per_token,
                   CASE WHEN n_chars > 0
                        THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END
                       AS punct_ratio,
                   CASE WHEN len(toks) > 0
                        THEN CAST(len(list_filter(toks,
                             t -> list_contains({{stop_en}}, t))) AS DOUBLE)
                             / len(toks)
                        ELSE 0.0 END AS stopword_ratio
            FROM (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                            ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                       END AS toks,
                       length(text) AS n_chars,
                       length(regexp_replace(text, '[^!?.,;:]', '', 'g'))
                           AS n_punct
                FROM documents
            )
        )
    )
    SELECT (s.y = 1) AS gopher_keep,
           (s.score > 0) AS clf_predicted,
           qs.qs_pass,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) AS DOUBLE) / nn.n AS share
    FROM s{_QC_T} s
    JOIN qs USING (doc_id)
    CROSS JOIN nn
    GROUP BY 1, 2, 3, nn.n"""


def _qsa_oracle() -> str:
    final = "," + _QSA_FINAL.replace("{stop_en}", _sql_list(STOPWORDS["en"]))
    return "WITH " + ",\n    ".join(_qc_ctes(_QC_T)) + f"\n    {final}"


@query("quality_signal_agreement", layer="C", oracle=_qsa_oracle())
def quality_signal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-signal AGREEMENT audit of the quality ladder — the check a
    production pipeline runs before composing filters (the
    Dolma/FineWeb-class ablation discipline: quality signals are only
    stackable if their disagreement structure is understood; a filter
    that mostly re-fires an earlier one buys nothing, one that fires
    anti-correlated needs a reason). One row per cell of the 2x2x2
    cross-tab between the three rungs this engine ships: the Gopher
    rule verdict (gopher_quality_rules' keep), the TRAINED classifier's
    prediction (quality_classifier_ngram, score > 0 — trained ON the
    Gopher labels, so its agreement with rung 1 is training fit
    measured on an interpretable grid), and the heuristic
    quality_score at the 3-of-4-indicators bar (quality >= 0.75, an
    exact 0.25-step double).

    Shares the memoized classifier (_qc_train — no retraining) and
    restates the other two signals' closed forms; the oracle embeds
    the full unrolled 24-step training CTE chain (_qc_ctes, the
    pretrain_data_e2e pattern) so DuckDB re-derives all three signals
    independently.

    Scale shape: one scoring pass over the checkpointed feature table
    (broadcast model join), one heuristic scan, one join on doc_id,
    and an 8-cell aggregate — map-side partials collapse everything
    before the shuffle. share = count/corpus as IEEE quotients of
    identical integers."""
    from cuttlefish_spark.operators.text import quality_score

    w, n, feats, labels = _qc_train(spark, sf_dir)
    scored = _qc_score(spark, feats, labels, w).select(
        "doc_id",
        (F.col("y") == 1).alias("gopher_keep"),
        (F.col("score") > 0).alias("clf_predicted"),
    )
    qs = quality_score(spark, sf_dir).select(
        "doc_id", (F.col("quality") >= 0.75).alias("qs_pass")
    )
    return (
        scored.join(qs, "doc_id")
        .groupBy("gopher_keep", "clf_predicted", "qs_pass")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "gopher_keep",
            "clf_predicted",
            "qs_pass",
            F.col("n_docs").cast("long").alias("n_docs"),
            (F.col("n_docs").cast("double") / F.lit(n).cast("double")).alias(
                "share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# bpe_vocab_prune_audit — the vocab-size ablation curve
# ---------------------------------------------------------------------------

_VPA_DEPTHS = (0, _BPE_MERGES // 2, _BPE_MERGES)


def _vpa_oracle() -> str:
    rows = "\n    UNION ALL ".join(
        f"""SELECT CAST({k} AS BIGINT) AS n_merges,
           CAST(count(DISTINCT sym) AS BIGINT) AS n_distinct_tokens,
           CAST(sum(freq) AS BIGINT) AS total_tokens,
           tw.w AS total_words,
           CAST(sum(freq) AS DOUBLE) / tw.w AS tokens_per_word
    FROM (SELECT word, freq, unnest(syms) AS sym FROM seq{k})
    CROSS JOIN tw GROUP BY tw.w"""
        for k in _VPA_DEPTHS
    )
    return (
        "WITH "
        + ",\n    ".join(_bpe_ctes(_BPE_MERGES))
        + ",\n    tw AS (SELECT CAST(sum(freq) AS BIGINT) AS w FROM seq0)\n    "
        + rows
    )


@query("bpe_vocab_prune_audit", layer="C", oracle=_vpa_oracle())
def bpe_vocab_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer VOCAB-SIZE ablation — the fertility-vs-vocabulary
    curve a tokenizer report leads with (the public trade every
    tokenizer paper tunes: more merges -> fewer tokens per word ->
    shorter sequences, at the cost of vocab/embedding size; see the
    vocab-size ablations in SentencePiece/GPT-2-class reports): the
    corpus encoded at 0, {_BPE_MERGES // 2}, and {_BPE_MERGES} trained
    merges, each row reporting distinct tokens in use, total corpus
    tokens, and fertility (tokens per word). The marginal fertility
    drop per added merge IS the prune criterion — merges past the
    elbow buy nothing and a pruned vocab frees embedding rows.

    Depth-k encodes reuse _bpe_train's per-(corpus, depth) memo — the
    depth-{_BPE_MERGES} run is shared with bpe_train_merges /
    bpe_token_stats, the depth-{_BPE_MERGES // 2} run trains its own
    (bounded: {_BPE_MERGES // 2} driver argmax rows), and depth 0 is
    the raw char split with no training at all. The oracle derives all
    three from ONE unrolled CTE chain (seq0/seq{_BPE_MERGES // 2}/
    seq{_BPE_MERGES} are successive intermediates of the same
    derivation — cheaper than three chains and structurally different
    from the Spark side's memoized folds).

    Scale shape: each row is one explode + aggregate over the
    O(vocabulary) word table (never the corpus — the _bpe_train
    factorization), with total_words folded in as a broadcast scalar.
    Fertility is the IEEE quotient of identical integers."""
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    words = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    seq0 = words.select(
        "word",
        "freq",
        F.expr(
            "transform(sequence(1, length(word)), i -> substr(word, i, 1))"
        ).alias("syms"),
    )
    # r14: ONE training run at the deepest depth, with the shallower
    # depths CAPTURED as its per-round checkpoints (the depth-k working
    # set is an intermediate of the depth-n chain — greedy argmax is
    # deterministic, so the captured frame is bit-identical to a
    # separate depth-k train). Previously each depth trained its own
    # chain: {len(_VPA_DEPTHS) - 1} loops of pair-count + argmax-collect
    # + fold + checkpoint instead of one. Fallback to per-depth training
    # (memo hits / early-exhausted corpora) preserves the old path.
    frames = {0: seq0}
    deepest = _VPA_DEPTHS[-1]
    cap: dict[int, DataFrame] = {
        k: None for k in _VPA_DEPTHS[1:] if k != deepest
    }
    frames[deepest] = _bpe_train(spark, sf_dir, deepest, capture=cap)[1]
    for k in _VPA_DEPTHS[1:]:
        if k == deepest:
            continue
        frames[k] = (
            cap[k]
            if cap.get(k) is not None
            else _bpe_train(spark, sf_dir, k)[1]
        )
    tw = seq0.agg(F.sum("freq").alias("w"))
    out = None
    for k, seq in frames.items():
        row = (
            seq.select("word", "freq", F.explode("syms").alias("sym"))
            .crossJoin(F.broadcast(tw))
            .groupBy("w")
            .agg(
                F.countDistinct("sym").cast("long").alias("n_distinct_tokens"),
                F.sum("freq").cast("long").alias("total_tokens"),
            )
            .select(
                F.lit(k).cast("long").alias("n_merges"),
                "n_distinct_tokens",
                "total_tokens",
                F.col("w").cast("long").alias("total_words"),
                (F.col("total_tokens").cast("double") / F.col("w")).alias(
                    "tokens_per_word"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# dsir_resample — the RESAMPLING half of DSIR (systematic, deterministic)
# ---------------------------------------------------------------------------

_DSIR_N_DIV = 10  # target sample size = corpus size // 10

_DSIR_RESAMPLE_SQL = f"""
    WITH imp AS MATERIALIZED ({_DSIR_SQL}),
    wts AS (SELECT doc_id, greatest(importance, 0) + 1 AS w FROM imp),
    cum AS (
        SELECT doc_id, w,
               sum(w) OVER (ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cw
        FROM wts
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
                   CAST(count(*) // {_DSIR_N_DIV} AS BIGINT) AS n
            FROM wts)
    SELECT doc_id,
           CAST(w AS BIGINT) AS weight,
           CAST(cw AS BIGINT) AS cum_weight,
           CAST((CAST(cw AS HUGEINT) * n) // tw
                - (CAST(cw - w AS HUGEINT) * n) // tw AS BIGINT) AS n_copies,
           ((CAST(cw AS HUGEINT) * n) // tw
                - (CAST(cw - w AS HUGEINT) * n) // tw) > 0 AS selected
    FROM cum, tot
"""


@query("dsir_resample", layer="C", oracle=_DSIR_RESAMPLE_SQL)
def dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESAMPLING half of DSIR (Xie et al. 2023 select by sampling
    proportionally to importance; dsir_importance's deterministic gate
    was the declared variant — this completes the paper's actual step
    with the deterministic member of the resampling family): SYSTEMATIC
    resampling (Kitagawa 1996; the stratified/systematic scheme of the
    particle-filter literature) over per-doc importance weights
    w = max(importance, 0) + 1, drawing n = corpus/{_DSIR_N_DIV}
    slots: doc copies = floor(cw*n/W) - floor((cw-w)*n/W) over the
    doc_id-ordered cumulative weight cw — copies sum to EXACTLY n, high-
    importance docs repeat (the upsampling DSIR wants), zero-importance
    docs keep a floor chance via the +1. Fully deterministic: no RNG,
    same selection on every engine/partitioning — the property that
    makes the sampled corpus itself reproducible, which production
    pipelines value over the Gumbel-noise draw.

    The cumulative weight is the engine's two-phase distributed prefix
    sum (operators/twophase.py — no global ordered window); the
    stride arithmetic rides DECIMAL(38,0)/HUGEINT products (cw*n
    overflows int64 once W*n passes ~9e18 — i.e. at real corpus
    scale), floor-divided identically in both engines (non-negative
    operands, so truncation = floor).

    Scale shape: dsir_importance's scoring pass (one bigram explode,
    {_DSIR_B}-key model, broadcast join) + one two-phase prefix sum +
    a broadcast 1-row total. Output one row per doc with its copy
    count — the materialization a sampler actually consumes."""
    from cuttlefish_spark.operators.twophase import two_phase_prefix_sum

    imp = dsir_importance(spark, sf_dir).select(
        "doc_id",
        (F.greatest(F.col("importance"), F.lit(0)) + 1).alias("w"),
    ).withColumn("g", F.lit("all"))
    cum = two_phase_prefix_sum(spark, imp, "g", [F.col("doc_id")], "w")
    tot = imp.agg(
        F.sum("w").cast("long").alias("tw"),
        # Integral div (the oracle's `//`) — double-divide-then-truncate
        # loses exactness past 2^53 counts.
        F.expr(f"count(1) div {_DSIR_N_DIV}").alias("n"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    # `div` = exact integral division on DECIMAL(38,0) products —
    # floor(decimal_mul / tw) would round the quotient to the result
    # scale BEFORE flooring and can flip a stride boundary; div cannot.
    copies = F.expr(
        "CAST(CAST(cum AS DECIMAL(38,0)) * n div tw AS BIGINT)"
        " - CAST(CAST(cum - w AS DECIMAL(38,0)) * n div tw AS BIGINT)"
    )
    return j.select(
        "doc_id",
        F.col("w").cast("long").alias("weight"),
        F.col("cum").cast("long").alias("cum_weight"),
        copies.alias("n_copies"),
        (copies > 0).alias("selected"),
    )


# ---------------------------------------------------------------------------
# tfidf_kmeans_clusters — topic clustering over hashed tf-idf vectors
# ---------------------------------------------------------------------------

_TFK_D = 16  # hashed tf-idf dimensions
_TFK_K = 4   # clusters

# The hashed-tf-idf Lloyd round as reusable CTE text (d2t = final
# per-(doc, centroid) squared distances) — shared by
# tfidf_kmeans_clusters and tfidf_cluster_prune.
_TFK_CTES = rf"""
    tf AS MATERIALIZED (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM (
            SELECT doc_id,
                   unnest(CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(trim(lower(text)), '\s+')
                          END) AS tok
            FROM documents
        ) GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
    idf AS (
        SELECT tok,
               CAST(round(ln(CAST(nn.n AS DOUBLE) / df) * 1000000)
                    AS BIGINT) AS idf_q
        FROM df, nn
    ),
    sparse AS (
        SELECT tf.doc_id,
               CAST('0x' || substr(md5('tfk:' || tf.tok), 1, 15) AS BIGINT)
                   % {_TFK_D} AS b,
               CAST(sum(tf.tf * idf.idf_q) AS BIGINT) AS x
        FROM tf JOIN idf USING (tok)
        GROUP BY tf.doc_id,
                 CAST('0x' || substr(md5('tfk:' || tf.tok), 1, 15) AS BIGINT)
                     % {_TFK_D}
    ),
    docs1 AS (SELECT DISTINCT doc_id FROM tf),
    vec AS MATERIALIZED (
        SELECT d.doc_id, dims.b, COALESCE(s.x, 0) AS x
        FROM docs1 d
        CROSS JOIN (SELECT unnest(generate_series(0, {_TFK_D} - 1)) AS b) dims
        LEFT JOIN sparse s ON s.doc_id = d.doc_id AND s.b = dims.b
    ),
    init AS (SELECT doc_id FROM docs1 ORDER BY doc_id LIMIT {_TFK_K}),
    c0 AS (
        SELECT CAST(dense_rank() OVER (ORDER BY v.doc_id) - 1 AS BIGINT) AS k,
               v.b, v.x AS c
        FROM (SELECT vec.* FROM vec JOIN init USING (doc_id)) v
    ),
    d1 AS (
        SELECT v.doc_id, c.k,
               CAST(sum(CAST((v.x - c.c) AS DECIMAL(38,0)) * (v.x - c.c))
                    AS DECIMAL(38,0)) AS d2
        FROM vec v JOIN c0 c USING (b)
        GROUP BY v.doc_id, c.k
    ),
    a1 AS (
        -- argmin packed into one DECIMAL (min_by has no struct key in
        -- DuckDB): k < 8, so min(d2*8 + k) recovers (min d2, tie min k)
        SELECT doc_id,
               CAST(min(CAST(d2 AS HUGEINT) * 8 + k) % 8 AS BIGINT) AS k
        FROM d1 GROUP BY doc_id
    ),
    c1 AS (
        SELECT a.k, v.b,
               CAST(CAST(sum(v.x) AS DECIMAL(38,0)) // count(*) AS BIGINT) AS c
        FROM a1 a JOIN vec v USING (doc_id)
        GROUP BY a.k, v.b
    ),
    d2t AS (
        SELECT v.doc_id, c.k,
               CAST(sum(CAST((v.x - c.c) AS DECIMAL(38,0)) * (v.x - c.c))
                    AS DECIMAL(38,0)) AS d2
        FROM vec v JOIN c1 c USING (b)
        GROUP BY v.doc_id, c.k
    )
"""

_TFK_SQL = f"""
    WITH {_TFK_CTES}
    SELECT doc_id,
           CAST(min(CAST(d2 AS HUGEINT) * 8 + k) % 8 AS BIGINT) AS cluster_id,
           CAST((min(CAST(d2 AS HUGEINT) * 8 + k) // 8) // 1000000000000
                AS BIGINT) AS d2_tera
    FROM d2t GROUP BY doc_id
"""


@query("tfidf_kmeans_clusters", layer="C", oracle=_TFK_SQL)
def tfidf_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOPIC clustering over hashed tf-idf document vectors — the
    corpus-organization rung the embedding family's k-means
    (embedding_kmeans) provides only when embeddings exist; real
    curation pipelines cluster raw TEXT first (cluster-balanced
    sampling, SemDeDup-style within-cluster pruning, DSIR's domain
    strata all start from exactly this: TF-IDF + k-means, the
    Sculley-2010-web-scale-k-means lineage): documents become
    {_TFK_D}-dim hashed tf-idf vectors and one Lloyd round from the
    deterministic first-{_TFK_K}-docs init assigns every doc a
    cluster, emitting (doc_id, cluster_id, scaled squared distance).

    ENTIRELY integer arithmetic — the embedding_kmeans float
    discipline taken one step further: tf counts are ints, idf is
    micro-nat-quantized (round(ln(N/df)*1e6) as LONG — the
    lm_bigram_score recipe), vector components x[b] = sum tf*idf_q are
    exact int64, squared distances accumulate in DECIMAL(38,0) (the
    per-dim square passes 2^63 once docs are long and corpora large),
    centroid updates are exact integer floor-mean (sum div count),
    and argmins break ties on cluster id via min_by over the (d2, k)
    pair. exp/log appear once, inside the quantization. Blank docs
    (no tokens) carry no vector and emit no row in both engines.

    Scale shape: tf/df are token-keyed map-side-partial counts; the
    dense vector table is docs x {_TFK_D} narrow ints; each
    assignment is a broadcast join against {_TFK_K}x{_TFK_D} centroid
    rows + a per-doc argmin (hash agg, no window); the update is one
    (k, b)-keyed aggregate. Two assignment passes + one update =
    three joins total, no iteration-by-convergence (fixed rounds keep
    the oracle static — embedding_kmeans' contract)."""
    final = _tfk_assign_final(spark, sf_dir)
    return final.select(
        "doc_id",
        F.col("k").alias("cluster_id"),
        F.expr("CAST(d2 div 1000000000000 AS BIGINT)").alias("d2_tera"),
    )


# Session memo of the final tf-idf assignment (io.memo_key discipline):
# tfidf_kmeans_clusters and tfidf_cluster_prune share one materialized
# assignment instead of each re-running tf/idf/vectorize + two Lloyd
# passes.
_TFK_CACHE: dict = register_memo()


def _tfk_assign_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tfidf_kmeans_clusters' full pipeline up to the FINAL assignment
    (doc_id, k, d2) with the exact DECIMAL(38,0) squared distance —
    the Spark twin of the _TFK_CTES d2t argmin, shared with
    tfidf_cluster_prune (which ranks on the tera-quantized d2).
    Memoized per (session, corpus)."""
    from cuttlefish_spark.io import memo_key, memo_put

    mkey = memo_key(spark, sf_dir, "documents")
    if mkey in _TFK_CACHE:
        return _TFK_CACHE[mkey]
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    nn = tf.agg(F.countDistinct("doc_id").alias("n"))
    idf = dfreq.crossJoin(F.broadcast(nn)).select(
        "tok",
        F.round(F.log(F.col("n").cast("double") / F.col("df")) * 1_000_000)
        .cast("long")
        .alias("idf_q"),
    )
    sparse = (
        tf.join(idf, "tok")
        .select(
            "doc_id",
            (hash60(F.concat(F.lit("tfk:"), F.col("tok"))) % _TFK_D).alias("b"),
            (F.col("tf") * F.col("idf_q")).alias("xx"),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("xx").cast("long").alias("x"))
    )
    docs1 = tf.select("doc_id").distinct()
    dims = spark.range(_TFK_D).select(F.col("id").cast("long").alias("b"))
    vec = (
        docs1.crossJoin(F.broadcast(dims))
        .join(sparse, ["doc_id", "b"], "left")
        .select("doc_id", "b", F.coalesce("x", F.lit(0)).cast("long").alias("x"))
        .localCheckpoint(eager=True)
    )
    init_ids = [
        r["doc_id"]
        for r in docs1.orderBy("doc_id").limit(_TFK_K).collect()
    ]
    c0 = vec.filter(F.col("doc_id").isin(init_ids)).select(
        F.col("doc_id").alias("init_id"), "b", F.col("x").alias("c")
    )
    rank_map = {int(v): i for i, v in enumerate(sorted(init_ids))}
    k_col = F.when(F.col("init_id") == sorted(init_ids)[0], 0)
    for v, i in list(rank_map.items())[1:]:
        k_col = k_col.when(F.col("init_id") == v, i)
    c0 = c0.select(k_col.cast("long").alias("k"), "b", "c")

    def assign(cents: DataFrame) -> DataFrame:
        d2 = (
            vec.join(F.broadcast(cents), "b")
            .groupBy("doc_id", "k")
            .agg(
                F.sum(
                    (F.col("x") - F.col("c")).cast("decimal(38,0)")
                    * (F.col("x") - F.col("c"))
                ).alias("d2")
            )
        )
        return d2.groupBy("doc_id").agg(
            F.min(F.struct("d2", "k")).alias("m")
        ).select("doc_id", F.col("m.k").alias("k"), F.col("m.d2").alias("d2"))

    a1 = assign(c0).select("doc_id", "k")
    c1 = (
        a1.join(vec, "doc_id")
        .groupBy("k", "b")
        .agg(
            F.expr("CAST(CAST(sum(x) AS DECIMAL(38,0)) div count(*) AS BIGINT)")
            .alias("c")
        )
    )
    out = assign(c1).localCheckpoint(eager=True)
    memo_put(_TFK_CACHE, mkey, out)
    return out


_TFP_LO_PCT = 25  # drop the most-prototypical quartile
_TFP_HI_PCT = 95  # drop the top-5% farthest outliers


@query(
    "tfidf_cluster_prune",
    layer="C",
    oracle=f"""
    WITH {_TFK_CTES},
    fin AS (
        SELECT doc_id,
               CAST(min(CAST(d2 AS HUGEINT) * 8 + k) % 8 AS BIGINT)
                   AS cluster_id,
               CAST((min(CAST(d2 AS HUGEINT) * 8 + k) // 8) // 1000000000000
                    AS BIGINT) AS d2_tera
        FROM d2t GROUP BY doc_id
    ),
    rk AS (
        SELECT doc_id, cluster_id,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY d2_tera, doc_id) AS rn,
               count(*) OVER (PARTITION BY cluster_id) AS n
        FROM fin
    )
    SELECT doc_id, cluster_id,
           CAST(rn AS BIGINT) AS rank_in_cluster,
           CAST(n AS BIGINT) AS cluster_size,
           CAST((rn * 100) // n AS BIGINT) AS pct,
           (rn * 100) // n > {_TFP_LO_PCT}
               AND (rn * 100) // n <= {_TFP_HI_PCT} AS keep
    FROM rk
    """,
)
def tfidf_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-distance pruning over the TEXT geometry (Sorscher et al.
    2022 prototypes, same method as cluster_prune_prototypes but on
    tfidf_kmeans_clusters' hashed-tf-idf centroids — the no-embeddings
    rung a raw-text corpus prunes with; r11 VERDICT item 7's second
    half): within each tf-idf cluster, docs rank by their
    TERA-QUANTIZED squared distance to the centroid (d2 div 10^12 —
    the same quantization the base query emits; ranking on the raw
    DECIMAL(38,0) d2 would expose last-ulp ln() differences between
    engines through the ORDER, wild-caught as a 2-row rank swap at
    the sf1 gate), rank 1 = most prototypical with doc_id tiebreak,
    percentile = (rank * 100) div n — integer arithmetic end-to-end.
    keep = percentile in ({_TFP_LO_PCT}, {_TFP_HI_PCT}]: the redundant
    prototypical core and the outlier tail are pruned, the
    informative middle band survives.

    Emits the PER-DOC verdict manifest (doc_id, cluster, rank, size,
    pct, keep) — the artifact a pipeline joins against the corpus to
    materialize the pruned training set.

    Scale shape: tfidf_kmeans_clusters' three broadcast joins + ONE
    two-phase distributed rank within the {_TFK_K} clusters (a plain
    PARTITION BY cluster window would funnel each cluster through one
    task at 100 TB)."""
    from cuttlefish_spark.operators.twophase import two_phase_rank

    final = _tfk_assign_final(spark, sf_dir).select(
        "doc_id", "k", F.expr("CAST(d2 div 1000000000000 AS BIGINT)").alias("d2t")
    )
    rk = two_phase_rank(
        spark, final, "k", [F.col("d2t"), F.col("doc_id")], key_type="bigint"
    )
    pct = F.expr("(rn * 100) div n")
    return rk.select(
        "doc_id",
        F.col("k").alias("cluster_id"),
        F.col("rn").alias("rank_in_cluster"),
        F.col("n").alias("cluster_size"),
        pct.alias("pct"),
        ((pct > _TFP_LO_PCT) & (pct <= _TFP_HI_PCT)).alias("keep"),
    )
