"""Deduplication operators over `documents` — exact, MinHash+LSH,
SimHash, and n-gram Jaccard. The LLM-training-data dedup surface.

Reference anchor: the reference's only dedup is implicit last-write-
wins re-keying (/root/reference/private/workers/meetup.rkt:40-41) —
covered by Layer A's dedup_lastwrite. Everything here is the mandated
fuzzy-dedup extension.

Scale design:
- Signatures (minhash bands, simhash bit-strings, content hashes) are
  computed row-local with JVM built-ins (md5-based portable hashes, see
  functions.columns.hash60) — one narrow pass over the corpus.
- Candidate generation is an equi-join on band/signature keys — the
  classic LSH bucket join. Only candidates pay the verification cost
  (exact Jaccard), never the O(n^2) cross product. At 100 TB the band
  join is a standard keyed shuffle; hot buckets (boilerplate docs) are
  handled by AQE skew splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuttlefish_spark.functions import hash60, tokens, word_shingles
from cuttlefish_spark.io import load_table, register_memo, spread
from cuttlefish_spark.registry import query

_NORM_SQL = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"


@query(
    "exact_dedup_docs",
    layer="C",
    oracle=f"""
    SELECT md5({_NORM_SQL}) AS content_hash,
           min(doc_id) AS canonical_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content hash: group on
    md5(collapse-whitespace(lower(text))), keep min doc_id as the
    canonical representative.

    At 100 TB: hash computed at the scan, one shuffle on a uniformly
    distributed 128-bit key — no skew by construction. `dropDuplicates`
    is the one-liner form; the group-by form also reports copy counts.
    """
    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return d.groupBy(F.md5(norm).alias("content_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


_SHINGLES_SQL = r"""
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(len(w) - 1, 1)),
                             i -> array_to_string(w[i:i+2], '_'))) AS sh
        FROM (SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\s+') AS w
              FROM documents)
"""


def _mh_sql(start: int, src: str = "h") -> str:
    return f"list_min(list_transform({src}, x -> substr(x, {start}, 8)))"


@query(
    "minhash_shingles",
    layer="C",
    oracle=f"""
    WITH toks AS ({_SHINGLES_SQL}),
    hashed AS (
        SELECT doc_id, sh, list_transform(sh, x -> md5(x)) AS h FROM toks
    ),
    sig AS (
        SELECT doc_id, sh,
               {_mh_sql(1)} || {_mh_sql(9)} AS band1,
               {_mh_sql(17)} || {_mh_sql(25)} AS band2
        FROM hashed
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON a.doc_id < b.doc_id
         AND (a.band1 = b.band1 OR a.band2 = b.band2)
    ),
    scored AS (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                   / len(list_distinct(sa.sh || sb.sh)) AS jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.5
    """,
)
def minhash_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidates, verified by exact Jaccard.

    Pipeline: 3-word shingles -> ONE md5 per shingle, 4 MinHashes taken
    as lexicographic mins of 4 disjoint hex windows of that digest
    (independent permutations, 4x cheaper than 4 salted digests) ->
    2 bands of 2 hashes -> band equi-join for candidates -> exact
    shingle-set Jaccard >= 0.5.

    Banding math: P[candidate] = 1 - (1 - j^2)^2 for Jaccard j, the
    standard b=2, r=2 S-curve. The OR-of-bands is expressed as two
    equi-joins + union + distinct (Catalyst can't equi-join an OR), so
    each band join shuffles on its own uniformly-hashed band key.

    The signature table is persisted before the self-joins: it feeds
    the two band-join branches plus the two payload fetches, and
    without materialization Spark re-tokenizes and re-hashes the
    corpus once per branch. At 100 TB you'd write it to a signatures
    table (it's ~200 B/doc, orders of magnitude smaller than the
    corpus); the eager localCheckpoint is the in-session equivalent.
    """
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    sh = F.array_distinct(word_shingles(tokens(F.col("text")), k=3))

    def mh(start: int):
        return F.array_min(F.transform(F.col("h"), lambda x: F.substring(x, start, 8)))

    sig = (
        d.select("doc_id", sh.alias("sh"))
        .withColumn("h", F.transform(F.col("sh"), F.md5))
        .select(
            "doc_id",
            "sh",
            F.concat(mh(1), mh(9)).alias("band1"),
            F.concat(mh(17), mh(25)).alias("band2"),
        )
        # Eager localCheckpoint: the four self-join scan branches below
        # otherwise each recompute the full tokenize+hash pass; the
        # in-session analogue of the production "write signatures, then
        # join" two-job pipeline, and (unlike a bare persist with no
        # unpersist) reclaimed with the DataFrame itself.
        .localCheckpoint(eager=True)
    )

    # Narrow, DISJOINT band joins (band2 fires only when band1
    # differs) — no pair dedup shuffle, payload arrays broadcast-
    # joined once per candidate; see _token_band_candidates.
    a1 = sig.select(F.col("doc_id").alias("doc_a"), F.col("band1").alias("k"))
    b1 = sig.select(F.col("doc_id").alias("doc_b"), F.col("band1").alias("k"))
    cand1 = _salt_band_join(a1, b1).filter(F.col("doc_a") < F.col("doc_b")).drop("k")
    a2 = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("band2").alias("k"), F.col("band1").alias("p_a")
    )
    b2 = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("band2").alias("k"), F.col("band1").alias("p_b")
    )
    cand2 = (
        _salt_band_join(a2, b2)
        .filter((F.col("doc_a") < F.col("doc_b")) & (F.col("p_a") != F.col("p_b")))
        .select("doc_a", "doc_b")
    )
    # Payload fetch is a plain keyed join on doc_id — NOT a forced
    # broadcast: the fetch side carries the shingle ARRAYS (corpus-text
    # sized), so broadcasting it would collect the corpus to the driver
    # and OOM long before 100 TB. AQE broadcasts it at test scale on
    # its own; at scale it stays a shuffled join on uniform doc_id.
    cand = (
        cand1.unionByName(cand2)
        .join(sig.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sig.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
    )
    jaccard = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


_SIMHASH_BITS = 16

_SIMHASH_SQL = f"""
        SELECT doc_id,
               array_to_string(
                   list_transform(range(0, {_SIMHASH_BITS}),
                       b -> CASE WHEN 2 * coalesce(list_sum(list_transform(hs,
                                      h -> CAST((h >> b) & 1 AS INTEGER))), 0)
                                      >= len(hs)
                                 THEN '1' ELSE '0' END),
                   '') AS simhash
        FROM (
            SELECT doc_id,
                   list_transform(
                       list_filter(
                           list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')),
                           w -> len(w) > 0),
                       w -> CAST('0x' || substr(md5(w), 1, 15) AS BIGINT)) AS hs
            FROM documents
        )
"""


@query(
    "simhash_dedup",
    layer="C",
    oracle=f"""
    WITH sig AS ({_SIMHASH_SQL})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash
    FROM sig a JOIN sig b
      ON a.simhash = b.simhash AND a.doc_id < b.doc_id
    """,
)
def simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: per-doc {bits}-bit signature, pairs with
    identical signatures.

    Each bit is the majority vote of that bit across the doc's distinct
    token hashes (Charikar's simhash). The signature is emitted as a
    bit-string key so the pair generation is a plain equi-join; a
    Hamming-distance<=k variant re-joins on bit-band substrings (same
    LSH pattern as minhash_shingles).
    """
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    hs = F.transform(F.array_distinct(tokens(F.col("text"))), hash60)
    with_h = d.select("doc_id", hs.alias("hs"))
    bit = (
        "case when 2 * aggregate(hs, 0L, (acc, h) -> acc + cast(shiftright(h, b) & 1 as bigint))"
        " >= size(hs) then '1' else '0' end"
    )
    sig = with_h.select(
        "doc_id",
        F.expr(
            f"array_join(transform(sequence(0, {_SIMHASH_BITS - 1}), b -> {bit}), '')"
        ).alias("simhash"),
    )
    a = sig.select(F.col("doc_id").alias("doc_a"), "simhash")
    b = sig.select(F.col("doc_id").alias("doc_b"), "simhash")
    return a.join(b, "simhash").filter(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b", "simhash"
    )


# Token-set MinHash signature: same 4-windows-of-one-md5 scheme as the
# shingle signatures above, but over distinct 1-gram tokens — shared by
# ngram_jaccard and the dedup_clusters edge generator.
# list_filter(len>0) mirrors the Spark tokens() blank guard: Spark maps
# blank/whitespace-only text to an EMPTY token array (null band keys,
# doc excluded from candidates), while a bare regexp_split_to_array
# maps it to [''] (a real md5 band) — two blank docs would pair with
# jaccard 1.0 in DuckDB only. Filtering empty tokens is a no-op for
# non-blank trimmed text, so the engines see identical token sets.
_TOKSIG_SQL = rf"""
        SELECT doc_id, w,
               list_transform(h, x -> CAST('0x' || substr(x, 1, 15) AS BIGINT)) AS hw,
               {_mh_sql(1)} || {_mh_sql(9)} AS band1,
               {_mh_sql(17)} || {_mh_sql(25)} AS band2
        FROM (SELECT doc_id, w, list_transform(w, x -> md5(x)) AS h
              FROM (SELECT doc_id,
                           list_filter(
                               list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')),
                               x -> len(x) > 0) AS w
                    FROM documents))
"""


# Session memo for the signature table (io.memo_key discipline, the
# similarity.py shared-manifest pattern): NINE operator entry points
# build this table — the ngram/minhash candidate family, both cluster
# queries, the banding planners, and the r13 incremental-minhash trio
# — and in the driver/bench session (one SparkSession for the whole
# surface) each used to pay the tokenize + double-md5 + rep-window
# build. Build the FULL (wide, with_rep) table once per (session,
# corpus), serve column subsets; marginal per-query cost after the
# first consumer is one checkpoint read.
_sig_memo: dict = register_memo()


def _token_signatures(
    spark: SparkSession, sf_dir: str, with_rep: bool = False, wide: bool = False
) -> DataFrame:
    """Persisted token-set MinHash signature table: one row per doc
    with (doc_id, hw, nw, band1, band2) — the shared input of the band
    joins below. Materialized eagerly once per (session, corpus) via
    _sig_memo and read by every consumer.

    `with_rep=True` adds `rep_id` = min doc_id among docs with the
    IDENTICAL token set (Jaccard depends only on the set, so equal-set
    docs are interchangeable in every downstream comparison) — the
    exact-dup collapse a production fuzzy-dedup runs first. The group
    key is the sorted hash array; one uniform corpus-sized window
    shuffle. Blank docs (empty set) keep rep_id = self: the oracle's
    band joins never pair them (NULL bands), so collapsing them would
    diverge.

    `wide=True` adds band3/band4 — a SECOND independent MinHash family
    from a salted md5 per token ('w2:' prefix), needed by the r=8
    banding (_band_candidates(rows_per_band=8)): 8 matching windows
    require 8 hashes of material, and reusing windows of one md5 would
    correlate the families.

    The memoized build always computes BOTH families and the rep
    window (one extra md5 pass + one keyed window over what the
    narrowest consumer needs, paid once per session per corpus);
    callers get exactly the columns their flag combination names, so
    downstream plans are unchanged."""
    from cuttlefish_spark.io import memo_key, memo_put

    key = memo_key(spark, sf_dir, "documents")
    cached = _sig_memo.get(key)
    if cached is None:
        d = spread(spark, load_table(spark, sf_dir, "documents"))
        t = d.select(
            "doc_id", F.array_distinct(tokens(F.col("text"))).alias("w")
        )

        def mh(col: str, start: int):
            return F.array_min(
                F.transform(F.col(col), lambda x: F.substring(x, start, 8))
            )

        hashed = t.withColumn(
            "h", F.transform(F.col("w"), F.md5)
        ).withColumn(
            "h2",
            F.transform(F.col("w"), lambda x: F.md5(F.concat(F.lit("w2:"), x))),
        )
        sig = hashed.select(
            "doc_id",
            F.transform(
                F.col("h"),
                lambda x: F.conv(F.substring(x, 1, 15), 16, 10).cast("long"),
            ).alias("hw"),
            F.size("w").alias("nw"),
            F.concat(mh("h", 1), mh("h", 9)).alias("band1"),
            F.concat(mh("h", 17), mh("h", 25)).alias("band2"),
            F.concat(mh("h2", 1), mh("h2", 9)).alias("band3"),
            F.concat(mh("h2", 17), mh("h2", 25)).alias("band4"),
        )
        from pyspark.sql import Window

        grp = Window.partitionBy(F.array_sort("hw"))
        sig = sig.withColumn(
            "rep_id",
            F.when(F.col("nw") == 0, F.col("doc_id")).otherwise(
                F.min("doc_id").over(grp)
            ),
        )
        # Re-spread BEFORE checkpointing: at test scale AQE coalesces
        # the rep-window shuffle output to ONE partition, and a
        # 1-partition checkpoint serializes every downstream band join
        # onto one core (measured: ngram_jaccard_topk 3.9 s -> 32.9 s
        # at sf0.1 when this line was missing). At 100 TB the window
        # output is already wide and the repartition is noise.
        sig = spread(spark, sig)
        # Eager localCheckpoint, not a bare persist(): materializes once
        # for all consumers AND is reclaimed with the DataFrame (a
        # persist with no unpersist would leak storage memory in a
        # long-lived session). memo_put evicts superseded corpora.
        cached = sig.localCheckpoint(eager=True)
        memo_put(_sig_memo, key, cached)
    cols = ["doc_id", "hw", "nw", "band1", "band2"]
    if wide:
        cols += ["band3", "band4"]
    if with_rep:
        cols += ["rep_id"]
    return cached.select(*cols)


# Hot-band salting (guide §2.5, r14; r13 VERDICT item 1): MinHash band
# keys are high-cardinality by construction but NOT uniform — every doc
# whose token set contains the corpus's globally-minimal token hash
# shares that window's minimum, so one band value can hold a large
# fraction of the corpus (3166/5000 docs at sf0.1). The pair stream of
# that ONE key lands in ONE join task, and because the payload joins
# that follow are broadcasts at test scale, the per-pair verify work
# stays in the same task — measured fully serial (minhash_accuracy
# 41.8 s at 32 cores vs 15.7 s at 8 in BENCH_r13). AQE skew-join can't
# help: it splits oversized partitions, never a single enormous key
# (guide §2.5). Salting: one narrow count per band value over the
# already-checkpointed signatures, broadcast the keys with >=
# _SALT_MIN_ROWS rows, derive a per-key split width sn = ceil(kn /
# _SALT_A_ROWS); the probe side keeps ONE row at u = hash(id) % sn, the
# build side is exploded to every u in [0, sn); the join key becomes
# (k, u). Each (a, b) pair joins at exactly u = hash(a) % sn, so the
# pair SET is identical — hot keys just spread over sn tasks. Cold keys
# (the overwhelming majority) pay one broadcast-hash lookup and no
# explode. Scale note: sn derives from the key's own frequency, so the
# split width adapts to any corpus size; per-task pair count is
# bounded at ~_SALT_A_ROWS * |build side of the key|.
_SALT_MIN_ROWS = 256
_SALT_A_ROWS = 48


def _salt_band_join(a: DataFrame, b: DataFrame) -> DataFrame:
    """Inner-join `a` and `b` on column `k` with hot keys salted.

    Same row set as a.join(b, "k"); the hash of `a`'s `doc_a` spreads
    the probe side across the salt splits."""
    freq = F.broadcast(
        b.groupBy("k")
        .agg(F.count(F.lit(1)).alias("kn"))
        .filter(F.col("kn") >= _SALT_MIN_ROWS)
    )
    sn = F.coalesce(
        F.ceil(F.col("kn") / F.lit(_SALT_A_ROWS)).cast("int"), F.lit(1)
    )
    a_s = (
        a.join(freq, "k", "left")
        .withColumn("u", F.pmod(F.xxhash64("doc_a"), sn).cast("int"))
        .drop("kn")
    )
    b_s = (
        b.join(freq, "k", "left")
        .withColumn("u", F.explode(F.sequence(F.lit(0), sn - F.lit(1))))
        .drop("kn")
    )
    return a_s.join(b_s, ["k", "u"]).drop("u")


def _band_candidates(
    sig: DataFrame,
    min_jaccard: float | None = None,
    rows_per_band: int = 2,
) -> DataFrame:
    """Candidate near-dup pairs via token-set MinHash band collisions.

    The scale-safe candidate generator: 4 MinHashes from disjoint hex
    windows of one md5 per token, 2 bands of 2, candidates = pairs
    colliding on either band (two equi-joins, made disjoint below).
    The band keys are high-cardinality by construction, so each join
    is a uniform keyed shuffle — NO low-cardinality block key, no
    per-block O(n^2).

    `rows_per_band` is the measured 100 TB dial (r10 VERDICT item 1:
    fixed b=2,r=2 candidates grew at exponent 2.03 over the sf1->sf10
    zipf decade while true edges stayed linear — the knob
    minhash_banding_sweep quantifies, now wired into the operators):
    2 = the default b=2 bands x r=2 hashes; 4 = b=1 x r=4, a candidate
    must collide on ALL four MinHash windows — ONE equi-join on the
    concatenated key, candidate probability j^4 instead of
    1-(1-j^2)^2, a strict subset of the default's candidates; 8 =
    b=1 x r=8 over the widened two-family signature (requires
    _token_signatures(wide=True)), candidate probability j^8 —
    measured on the zipf sf1->sf10 decade this is the setting that
    pins candidate growth to the linear true-pair floor. Widening
    rows_per_band as the corpus grows is exactly how the published
    web-scale recipe holds candidates linear (Lee et al. 2021 run 20
    bands x 20 hashes).

    `min_jaccard` enables the implied length-ratio prune: J >= t
    forces t <= |A|/|B| <= 1/t, and token COUNTS (4-byte ints) ride
    the band joins for free, so mismatched-size pairs are dropped
    BEFORE their token arrays are ever fetched. Pure pruning — the
    surviving pair set is unchanged, so callers' oracles don't state
    it.

    Payload representation: tokens ride as 60-bit HASHES (`hw`, the
    first 15 hex chars of the md5 already computed for the MinHash,
    parsed base-16 — functions.hash60's scheme), not raw strings.
    Set intersections over fixed-width longs are ~2x cheaper than
    over strings and the cached signature table shrinks accordingly
    (measured 3.1s -> 0.8s sig build, 3.1s -> 1.7s verify at sf0.1).
    Both engines hash with the same md5 windows, so the hashed-set
    Jaccard is engine-identical even in the (never observed) collision
    case. Output columns: doc_a, doc_b, nw_a, nw_b, hw_a, hw_b —
    callers compute J = i / (nw_a + nw_b - i) from the intersect size
    alone, which also skips materializing union arrays.
    """
    # Band joins stay NARROW (ids + token counts) — token arrays are
    # fetched once per candidate afterwards, not dragged through the
    # band shuffles. The OR-of-bands is made DISJOINT instead of
    # union+dropDuplicates: the band2 join only emits pairs whose
    # band1 keys differ, so no pair appears twice and the multi-
    # million-row dedup shuffle disappears (same pair set as the
    # oracle's DISTINCT over the OR join).
    if rows_per_band in (4, 8):
        # b=1: one equi-join on the full 4- or 8-window key. NULL keys
        # (blank docs) never match, same as the 2-band path.
        kk = (
            F.concat("band1", "band2")
            if rows_per_band == 4
            else F.concat("band1", "band2", "band3", "band4")
        )
        a4 = sig.select(F.col("doc_id").alias("doc_a"),
                        F.col("nw").alias("nw_a"), kk.alias("k"))
        b4 = sig.select(F.col("doc_id").alias("doc_b"),
                        F.col("nw").alias("nw_b"), kk.alias("k"))
        cand = _salt_band_join(a4, b4).filter(F.col("doc_a") < F.col("doc_b")).drop("k")
    elif rows_per_band == 2:
        a1 = sig.select(F.col("doc_id").alias("doc_a"), F.col("nw").alias("nw_a"),
                        F.col("band1").alias("k"))
        b1 = sig.select(F.col("doc_id").alias("doc_b"), F.col("nw").alias("nw_b"),
                        F.col("band1").alias("k"))
        cand1 = _salt_band_join(a1, b1).filter(F.col("doc_a") < F.col("doc_b")).drop("k")
        a2 = sig.select(F.col("doc_id").alias("doc_a"), F.col("nw").alias("nw_a"),
                        F.col("band2").alias("k"), F.col("band1").alias("p_a"))
        b2 = sig.select(F.col("doc_id").alias("doc_b"), F.col("nw").alias("nw_b"),
                        F.col("band2").alias("k"), F.col("band1").alias("p_b"))
        cand2 = (
            _salt_band_join(a2, b2)
            .filter((F.col("doc_a") < F.col("doc_b")) & (F.col("p_a") != F.col("p_b")))
            .select("doc_a", "doc_b", "nw_a", "nw_b")
        )
        cand = cand1.unionByName(cand2.select(*cand1.columns))
    else:
        raise ValueError(f"rows_per_band must be 2, 4, or 8, got {rows_per_band}")
    if min_jaccard is not None:
        # |A∩B| <= min(|A|,|B|) and |A∪B| >= max(|A|,|B|), so
        # J >= t implies min/max >= t. Integer form avoids float edges.
        scale = int(round(min_jaccard * 1000))
        cand = cand.filter(
            (F.col("nw_a") * 1000 >= F.col("nw_b") * scale)
            & (F.col("nw_b") * 1000 >= F.col("nw_a") * scale)
        )
    wa = sig.select(F.col("doc_id").alias("doc_a"), F.col("hw").alias("hw_a"))
    wb = sig.select(F.col("doc_id").alias("doc_b"), F.col("hw").alias("hw_b"))
    # Payload fetch joins carry the token-hash ARRAYS (corpus sized),
    # so they must NOT be forced broadcasts — that collects the corpus
    # to the driver and dies at scale. Left to AQE: broadcast at test
    # scale, shuffled join on uniform doc_id at 100 TB.
    return cand.join(wa, "doc_a").join(wb, "doc_b")


def _token_band_candidates(
    spark: SparkSession, sf_dir: str, min_jaccard: float | None = None
) -> DataFrame:
    """Signature build + band joins in one call (see _token_signatures
    and _band_candidates)."""
    return _band_candidates(_token_signatures(spark, sf_dir), min_jaccard)


def _hashed_jaccard() -> F.Column:
    """Exact token-set Jaccard from _token_band_candidates columns:
    J = i / (nw_a + nw_b - i) with i = |hw_a ∩ hw_b| — one intersect,
    no union array ever built (|A∪B| = |A|+|B|-|A∩B|; the arrays are
    distinct by construction)."""
    i = F.size(F.array_intersect("hw_a", "hw_b")).cast("double")
    return i / (F.col("nw_a") + F.col("nw_b") - i)


@query(
    "ngram_jaccard",
    layer="C",
    oracle=f"""
    WITH sig AS ({_TOKSIG_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON a.doc_id < b.doc_id
         AND (a.band1 = b.band1 OR a.band2 = b.band2)
    )
    SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (na + nb - i) AS jaccard FROM (
        SELECT c.doc_a, c.doc_b,
               len(list_intersect(sa.hw, sb.hw)) AS i,
               len(sa.hw) AS na, len(sb.hw) AS nb
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b
    ) WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.9
    """,
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-gram (token-set) Jaccard near-dups over MinHash band
    candidates.

    Candidate generation is the banded MinHash equi-join
    (_token_band_candidates) — the same S-curve LSH as minhash_shingles
    (b=2, r=2: P[candidate] = 1-(1-j^2)^2, >= 0.96 at the j=0.9
    emit threshold) — then ONLY candidates pay the exact token-set
    Jaccard. Earlier rounds blocked on `source` (~5 values), which is
    per-block O(n^2) and dies at corpus scale; band keys are
    high-cardinality so every shuffle stays uniform. The oracle states
    the identical deterministic candidate generation, so both engines
    see the same pair set.
    """
    cand = _token_band_candidates(spark, sf_dir, min_jaccard=0.9)
    return (
        cand.select("doc_a", "doc_b", _hashed_jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= 0.9)
    )


_NJ_TOPK = 3
_NJ_TOPK_MIN = 0.5


@query(
    "ngram_jaccard_topk",
    layer="C",
    oracle=f"""
    WITH sig AS ({_TOKSIG_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON a.doc_id < b.doc_id
         AND (a.band1 = b.band1 OR a.band2 = b.band2)
    ),
    pairs AS (
        SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
        FROM (
            SELECT c.doc_a, c.doc_b,
                   len(list_intersect(sa.hw, sb.hw)) AS i,
                   len(sa.hw) AS na, len(sb.hw) AS nb
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.doc_a
            JOIN sig sb ON sb.doc_id = c.doc_b
        ) WHERE CAST(i AS DOUBLE) / (na + nb - i) >= {_NJ_TOPK_MIN}
    ),
    sym AS (
        SELECT doc_a AS doc_id, doc_b AS partner_id, jaccard FROM pairs
        UNION ALL
        SELECT doc_b AS doc_id, doc_a AS partner_id, jaccard FROM pairs
    )
    SELECT doc_id, partner_id, jaccard, rnk FROM (
        SELECT doc_id, partner_id, jaccard,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY jaccard DESC, partner_id) AS rnk
        FROM sym
    ) WHERE rnk <= {_NJ_TOPK}
    """,
)
def ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED near-dup partner lists: each document's top-{_NJ_TOPK}
    most-similar neighbors (exact token-set Jaccard >= {_NJ_TOPK_MIN},
    ties broken by partner id) over the same banded MinHash candidates
    as ngram_jaccard. This is the output contract a 100 TB *consumer*
    of near-dup evidence should take: ngram_jaccard's exhaustive pair
    dump is O(dups^2) rows at the output (87M true pairs at sf1,
    vol_exp 1.97 — semantics-bound, PLANS.md Notes), correct for an
    audit/oracle but unusable as a downstream manifest; the top-k form
    caps the output at k rows per document while the candidate-side
    cost is identical (same band joins, same length prune, same
    single-intersect Jaccard).

    The rank window partitions by doc_id — corpus-cardinality key, so
    no task ever sees more than one document's candidate partners
    (bounded by that doc's band-collision fan-out, not the corpus).
    Jaccard doubles are IEEE divisions of identical integers in both
    engines, so the (jaccard DESC, partner_id) order — and therefore
    the emitted row set — is engine-identical."""
    from pyspark.sql import Window

    cand = _token_band_candidates(spark, sf_dir, min_jaccard=_NJ_TOPK_MIN)
    pairs = (
        cand.select("doc_a", "doc_b", _hashed_jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= _NJ_TOPK_MIN)
    )
    sym = pairs.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("partner_id"),
        "jaccard",
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("partner_id"),
            "jaccard",
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("jaccard"), "partner_id")
    return (
        sym.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _NJ_TOPK)
    )


_CLUSTER_EDGE_SQL = f"""
        SELECT c.doc_a, c.doc_b
        FROM (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM sig a JOIN sig b
                ON a.doc_id < b.doc_id
               AND (a.band1 = b.band1 OR a.band2 = b.band2)) c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b
        WHERE len(sa.w) * 10 >= len(sb.w) * 7
          AND len(sb.w) * 10 >= len(sa.w) * 7
          AND CAST(len(list_intersect(sa.hw, sb.hw)) AS DOUBLE)
                  / (len(sa.hw) + len(sb.hw) - len(list_intersect(sa.hw, sb.hw))) >= 0.7
"""


def _cc_min_label(nodes: DataFrame, e: DataFrame) -> DataFrame:
    """Connected components via star contraction + min-label fixpoint
    on the contracted remnant — the shared closure of dedup_clusters /
    dedup_clusters_banded / image_phash_dedup. `nodes` is one `node`
    column (every vertex, singletons included), `e` the (doc_a, doc_b)
    edge list among them. Returns (node, cluster_id) with cluster_id =
    min node of the component.

    Round 0 maps every node to min(self, min neighbor) in ONE
    groupBy(node).min() over the edges (each label0 class is a star —
    connected by construction), then the edge set is CONTRACTED to
    distinct (label0(a), label0(b)) pairs — near-dup graphs are
    clique-heavy, so this collapses orders of magnitude (510k edges ->
    hundreds at sf0.1). Min-label propagation then iterates to fixpoint
    on the contracted graph only (sum-of-labels is monotonically
    non-increasing; unchanged sum = fixpoint), and a final join maps
    node -> star -> component. Full-size data is touched by exactly
    three shuffles (edge join, star agg, label map-back); the
    O(diameter) iterations run on the contracted remnant. At 100 TB you
    repeat the contraction per round (large-star/small-star) and
    checkpoint every few rounds to truncate lineage — same plan shape.
    """
    e = e.persist()
    sym = e.unionByName(
        e.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    # Round 0: star contraction. label0(v) = min(v, min neighbor(v));
    # singletons (no edges) keep their own id via the left join.
    mins = sym.groupBy(F.col("doc_a").alias("node")).agg(
        F.min("doc_b").alias("mn")
    )
    # localCheckpoint (not persist): the loop below builds plans on top
    # of these frames every round; checkpointing truncates the logical
    # plan so lineage — and plan-string size — stays O(1) per round
    # instead of compounding the full edge-generator subtree each time.
    lbl0 = (
        nodes.join(mins, "node", "left")
        .select("node", F.least("node", F.coalesce("mn", "node")).alias("lbl"))
        .localCheckpoint()
    )
    la = lbl0.select(F.col("node").alias("doc_a"), F.col("lbl").alias("ca"))
    lb = lbl0.select(F.col("node").alias("doc_b"), F.col("lbl").alias("cb"))
    contracted = (
        e.join(la, "doc_a")
        .join(lb, "doc_b")
        .filter(F.col("ca") != F.col("cb"))
        .select(F.col("ca").alias("doc_a"), F.col("cb").alias("doc_b"))
        .distinct()
    )
    csym = contracted.unionByName(
        contracted.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint()
    labels = csym.select(F.col("doc_a").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    ).localCheckpoint()
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    for _ in range(30):
        if prev_sum is None:  # contracted graph empty: stars ARE the components
            break
        prop = csym.join(labels, csym.doc_a == labels.node).select(
            F.col("doc_b").alias("node"), F.col("lbl")
        )
        new_labels = (
            labels.unionByName(prop).groupBy("node").agg(F.min("lbl").alias("lbl"))
        ).localCheckpoint()
        new_sum = new_labels.agg(F.sum("lbl")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:  # pragma: no cover - 30 rounds >> any sf's contracted diameter
        raise RuntimeError("connected components did not converge in 30 rounds")
    e.unpersist()
    # Map back: node -> star -> component (stars not in the contracted
    # graph are whole components already).
    cc = labels.select(F.col("node").alias("lbl"), F.col("lbl").alias("root"))
    return lbl0.join(cc, "lbl", "left").select(
        "node", F.coalesce("root", "lbl").alias("cluster_id")
    )


def _mh2_sql(start: int) -> str:
    return f"list_min(list_transform(h2, x -> substr(x, {start}, 8)))"


# Widened two-family signature (the Spark _token_signatures(wide=True)
# twin): band3/band4 minhash an independent salted md5 per token.
_TOKSIG_WIDE_SQL = rf"""
        SELECT doc_id, w,
               list_transform(h, x -> CAST('0x' || substr(x, 1, 15) AS BIGINT)) AS hw,
               {_mh_sql(1)} || {_mh_sql(9)} AS band1,
               {_mh_sql(17)} || {_mh_sql(25)} AS band2,
               {_mh2_sql(1)} || {_mh2_sql(9)} AS band3,
               {_mh2_sql(17)} || {_mh2_sql(25)} AS band4
        FROM (SELECT doc_id, w, list_transform(w, x -> md5(x)) AS h,
                     list_transform(w, x -> md5('w2:' || x)) AS h2
              FROM (SELECT doc_id,
                           list_filter(
                               list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')),
                               x -> len(x) > 0) AS w
                    FROM documents))
"""

# b=1,r=8 edge predicate: a candidate must collide on ALL eight MinHash
# windows (band1..band4) — the single-conjunction join needs no
# DISTINCT (one key, no OR).
_CLUSTER_EDGE_B1R8_SQL = """
        SELECT c.doc_a, c.doc_b
        FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM sig a JOIN sig b
                ON a.doc_id < b.doc_id
               AND a.band1 = b.band1 AND a.band2 = b.band2
               AND a.band3 = b.band3 AND a.band4 = b.band4) c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b
        WHERE len(sa.w) * 10 >= len(sb.w) * 7
          AND len(sb.w) * 10 >= len(sa.w) * 7
          AND CAST(len(list_intersect(sa.hw, sb.hw)) AS DOUBLE)
                  / (len(sa.hw) + len(sb.hw) - len(list_intersect(sa.hw, sb.hw))) >= 0.7
"""

# Adaptive-banding switch point: tighten b=2,r=2 -> b=1,r=8 when the
# estimated r=2 candidate join exceeds this many pairs PER
# REPRESENTATIVE (see _pick_banding's measured calibration).
_ADAPT_MULT = 16

# The decision statistic as DuckDB CTEs (expects `sig` =
# _TOKSIG_WIDE_SQL): representatives (min doc_id per identical sorted
# token-hash set, blanks excluded), then the planner's integral
# sum-of-C(n,2) over both r=2 band-value frequency tables compared
# against _ADAPT_MULT * n_reps. Shared by the dedup_clusters oracle and
# the incremental minhash oracles (_IMH_CTES) so each re-derives the
# SAME branch decision the Spark operator takes.
_ADAPT_DEC_SQL = f"""
    rep AS (
        SELECT min(doc_id) AS rep_id
        FROM sig WHERE len(w) > 0
        GROUP BY list_sort(hw)
    ),
    rsig AS (
        SELECT s.* FROM sig s JOIN rep ON s.doc_id = rep.rep_id
        WHERE s.band1 IS NOT NULL
    ),
    dec AS (
        SELECT CASE WHEN
            (SELECT COALESCE(sum((n * (n - 1)) // 2), 0)
             FROM (SELECT count(*) AS n FROM rsig GROUP BY band1))
          + (SELECT COALESCE(sum((n * (n - 1)) // 2), 0)
             FROM (SELECT count(*) AS n FROM rsig GROUP BY band2))
          > {_ADAPT_MULT} * (SELECT count(*) FROM rsig)
        THEN 8 ELSE 2 END AS rpb
    )
"""


def _pick_banding(rep_sig: DataFrame) -> int:
    """The wired lsh_banding_plan decision (r11 VERDICT item 2): from
    the representatives' band-value frequency tables, price the b=2,r=2
    candidate join as sum over band values of C(n, 2) (union bound over
    both bands — the planner's own statistic, integral arithmetic, NO
    pair join ever runs) and return 8 (tight b=1,r=8 banding) when it
    exceeds _ADAPT_MULT pairs per representative, else 2.

    Measured calibration (r12, probe over the committed corpora):
    r=2 est-pairs/rep = 158 at sf0.01 / 1246 at sf0.1 / 9622 at sf1
    (the degenerate 31-word-vocab testdata — collision-heavy by
    construction) vs 7.0 at zipf-sf1 / 74.5 at zipf-sf10 (realistic
    50k-type vocabulary, dup-planting-bound until scale pushes band
    collisions superlinear — the exponent-2.03 cliff). _ADAPT_MULT=16
    therefore keeps the recall-oriented b=2,r=2 S-curve on clean
    corpora and flips to the linear-exponent banding exactly where the
    candidate stream would outgrow the true-pair floor.

    Driver sync: one 1-row aggregate over the checkpointed signature
    reps (two groupBys fused via a tagged explode) — O(scalars) driver
    traffic, the same documented class as the two-phase boundary
    offsets. The DuckDB oracle re-derives the identical integer
    statistic, so the chosen branch can never diverge cross-engine."""
    nn = rep_sig.filter(F.col("band1").isNotNull())
    row = (
        nn.select(
            F.explode(
                F.array(
                    F.concat(F.lit("1:"), "band1"),
                    F.concat(F.lit("2:"), "band2"),
                )
            ).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.coalesce(
                F.sum(F.expr("(n * (n - 1)) div 2")), F.lit(0).cast("long")
            ).alias("cand")
        )
        .crossJoin(F.broadcast(nn.agg(F.count(F.lit(1)).alias("n_reps"))))
        .first()
    )
    return 8 if row.cand > _ADAPT_MULT * row.n_reps else 2


def _cluster_over_bands(
    spark: SparkSession, sf_dir: str, rows_per_band: int | None
) -> DataFrame:
    """Shared body of dedup_clusters (rows_per_band=None — ADAPTIVE:
    _pick_banding chooses b=2,r=2 or b=1,r=8 from the corpus's own
    band-value frequency tables) and dedup_clusters_banded (b=1,r=8
    pinned): exact-dup collapse, banded Jaccard >= 0.7 edges over the
    representatives, min-label components, map-back through rep_id.

    Exact-dup collapse first (the production fuzzy-dedup order): docs
    with IDENTICAL token sets are Jaccard-interchangeable, so connected
    components run over one representative per distinct set; members
    inherit the rep's cluster at map-back. Semantically exact at EITHER
    banding — equal nonempty sets share all four MinHash windows (hence
    every band key) and have J = 1.0, so the oracle's full closure puts
    every member in its rep's component anyway. On a dup-heavy crawl
    this collapses the quadratic pair volume by the square of the dup
    rate before any band join runs.

    rep_id = min(doc_id) of its set group, so min over a component's
    reps = min over all its docs — cluster_id keeps the full-corpus
    min-doc-id contract.

    The adaptive path always builds the WIDE (two-family) signature so
    either branch can run off the one checkpointed table — one extra
    md5 map pass when the decision lands on r=2, nothing when it lands
    on r=8 (which is exactly the corpus where the extra pass is
    cheapest relative to the avoided candidate volume)."""
    adaptive = rows_per_band is None
    sig = _token_signatures(
        spark, sf_dir, with_rep=True, wide=adaptive or rows_per_band == 8
    )
    rep_sig = sig.filter(F.col("doc_id") == F.col("rep_id"))
    if adaptive:
        rows_per_band = _pick_banding(rep_sig)
    e = (
        _band_candidates(rep_sig, min_jaccard=0.7, rows_per_band=rows_per_band)
        .filter(_hashed_jaccard() >= 0.7)
        .select("doc_a", "doc_b")
    )
    comp = _cc_min_label(rep_sig.select(F.col("doc_id").alias("node")), e)
    rep_cluster = comp.select(F.col("node").alias("rep_id"), "cluster_id")
    out = sig.select("doc_id", "rep_id").join(rep_cluster, "rep_id")
    return out.select(
        "doc_id",
        "cluster_id",
        (F.col("cluster_id") == F.col("doc_id")).alias("is_canonical"),
    )


@query(
    "dedup_clusters",
    layer="C",
    oracle=f"""
    WITH RECURSIVE sig AS ({_TOKSIG_WIDE_SQL}),
    {_ADAPT_DEC_SQL},
    e AS (
        SELECT doc_a, doc_b FROM ({_CLUSTER_EDGE_SQL}) e2
        WHERE (SELECT rpb FROM dec) = 2
        UNION ALL
        SELECT doc_a, doc_b FROM ({_CLUSTER_EDGE_B1R8_SQL}) e8
        WHERE (SELECT rpb FROM dec) = 8
    ),
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM e
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM e
    ),
    r AS (
        SELECT doc_id AS node, doc_id AS lbl FROM documents
        UNION
        SELECT s.b AS node, r.lbl FROM r JOIN sym s ON s.a = r.node
    )
    SELECT node AS doc_id, min(lbl) AS cluster_id,
           (min(lbl) = node) AS is_canonical
    FROM r GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over near-duplicate edges -> dedup clusters
    and a canonical keep-list. Pair-producing dedup ops
    (minhash_shingles, simhash_dedup, ngram_jaccard, editdist_near_dup)
    emit EDGES; a real corpus dedup needs the transitive closure —
    similarity is not transitive, so A~B and B~C must collapse into one
    cluster even when A~C fails the threshold. Every doc gets
    cluster_id = min doc_id of its component (singletons keep their
    own id); `is_canonical` marks the one row per cluster a training
    pipeline keeps.

    Edges are token-set Jaccard >= 0.7 over MinHash band candidates at
    an ADAPTIVELY CHOSEN banding (r11 VERDICT item 2 — the flagship
    entry point now wires lsh_banding_plan's decision in rather than
    shipping the quadratic default): _pick_banding prices the b=2,r=2
    candidate join from the representatives' band-value frequency
    tables (integral sum of C(n,2), no pair join) and keeps the
    recall-oriented b=2,r=2 S-curve only while it costs <= _ADAPT_MULT
    candidate pairs per representative, switching to the measured
    linear-exponent b=1,r=8 banding (candidate exp 1.02 vs 2.03 on the
    zipf sf1->sf10 decade) beyond that — the 100x user gets the
    scale-safe plan WITHOUT knowing to reach for the _banded variant.
    The DuckDB oracle re-derives the identical integer decision
    (_ADAPT_DEC_SQL) and the matching edge predicate, so the gate
    checks the branch choice itself, not just either endpoint. Both
    bandings apply the length-ratio prefilter ahead of the O(|A|+|B|)
    intersect: J >= 0.7 forces 0.7 <= |A|/|B| <= 1/0.7, and the
    conjunct short-circuits inside codegen, so mismatched-size pairs
    never pay the set math.

    (b=2,r=2 lives on as the explicit recall-audit setting via
    _band_candidates(rows_per_band=2) and the minhash_banding_sweep /
    lsh_banding_plan audit queries; dedup_clusters_banded pins r=8.)

    The closure runs as star contraction + tiny-graph iteration:
    round 0 maps every node to min(self, min neighbor) in ONE
    groupBy(node).min() over the edges (each label0 class is a star —
    connected by construction), then the edge set is CONTRACTED to
    distinct (label0(a), label0(b)) pairs — near-dup graphs are
    clique-heavy, so this collapses orders of magnitude (510k edges ->
    hundreds at sf0.1). Min-label propagation then iterates to fixpoint
    on the contracted graph only (sum-of-labels is monotonically
    non-increasing; unchanged sum = fixpoint), and a final join maps
    doc -> star -> component. Full-size data is touched by exactly
    three shuffles (edge join, star agg, label map-back); the
    O(diameter) iterations run on the contracted remnant. At 100 TB you
    repeat the contraction per round (large-star/small-star) and
    checkpoint every few rounds to truncate lineage — same plan shape.
    The DuckDB oracle runs the identical closure as a recursive CTE.
    """
    return _cluster_over_bands(spark, sf_dir, rows_per_band=None)


@query(
    "dedup_clusters_banded",
    layer="C",
    oracle=f"""
    WITH RECURSIVE sig AS ({_TOKSIG_WIDE_SQL}),
    e AS ({_CLUSTER_EDGE_B1R8_SQL}),
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM e
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM e
    ),
    r AS (
        SELECT doc_id AS node, doc_id AS lbl FROM documents
        UNION
        SELECT s.b AS node, r.lbl FROM r JOIN sym s ON s.a = r.node
    )
    SELECT node AS doc_id, min(lbl) AS cluster_id,
           (min(lbl) = node) AS is_canonical
    FROM r GROUP BY node
    """,
)
def dedup_clusters_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE PINNED r=8 AUDIT VARIANT of dedup_clusters: same clustering
    contract, banding hard-pinned to b=1 x r=8 instead of the adaptive
    default (r12 made _pick_banding's decision the flagship default;
    this query keeps the tight operating point independently
    verifiable and regression-pinned whatever the planner chooses).
    A candidate must collide on ALL EIGHT MinHash windows (two
    independent salted-md5 families; P[cand] = j^8 instead of
    1-(1-j^2)^2), so ONE equi-join on the concatenated key replaces
    the two-band OR — Lee et al. 2021's web-scale recipe (20 bands x
    20 hashes) is this dial at production width. Measured on the zipf
    sf1->sf10 decade (PLANS.md Notes): r=2 candidates grow at exponent
    2.03, r=4 at 1.56 (still FP-dominated at 500k docs), r=8 pins the
    stream to the linear planted-dup floor — which is why the pin is
    r=8 and why the adaptive default flips HERE when the frequency
    tables demand it.

    Semantics are otherwise dedup_clusters' exactly: exact-dup
    collapse (exact copies NEVER ride the banding — identical token
    sets collapse to one representative before the band join, so
    exact-dup cluster identity is banding-invariant), Jaccard >= 0.7
    verification with the length-ratio prune, star-contraction
    components, min-doc-id cluster identity, is_canonical keep-list.
    The recall cost falls entirely on near-dup (edited) pairs per the
    S-curve j^8 — the knob's documented trade, the exact quantity
    minhash_banding_sweep measures — and the DuckDB oracle re-derives
    the full closure at the tight banding independently, so the gate
    checks the chosen operating point, not a fuzzy approximation.

    Scale shape: strictly cheaper than dedup_clusters — half the band
    shuffles (one join on the 64-hex-char concatenated key), a
    candidate stream that shrinks as j^8, one extra md5 map pass for
    the second hash family, and the identical 3-shuffle closure."""
    return _cluster_over_bands(spark, sf_dir, rows_per_band=8)


# Short-doc third band: docs shorter than _ED_SHORT_MAX chars also
# block on (lang, 16-char length bucket), adjacent buckets included.
# 80 covers every pair with a sub-64-char member: if the longer side is
# L, a pair passing edit_dist <= 0.2*L forces the shorter side >= 0.8*L,
# so shorter < 64 implies L < 80. Bucket width 16 > 0.2*79 means any
# qualifying pair's buckets differ by at most 1.
_ED_SHORT_MAX = 80
_ED_BUCKET = 16


@query(
    "editdist_near_dup",
    layer="C",
    oracle=f"""
    WITH n AS (
        SELECT doc_id, lang, {_NORM_SQL} AS norm,
               substr({_NORM_SQL}, 1, 32) AS blk_p,
               right({_NORM_SQL}, 32) AS blk_s
        FROM documents
    ),
    cand AS (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        FROM n a JOIN n b
          ON a.lang = b.lang AND a.blk_p = b.blk_p AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id, b.doc_id
        FROM n a JOIN n b
          ON a.lang = b.lang AND a.blk_s = b.blk_s AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id, b.doc_id
        FROM n a JOIN n b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
         AND length(a.norm) < {_ED_SHORT_MAX}
         AND length(b.norm) < {_ED_SHORT_MAX}
         AND abs(length(a.norm) // {_ED_BUCKET}
                 - length(b.norm) // {_ED_BUCKET}) <= 1
    )
    SELECT doc_id_a, doc_id_b, lang, edit_dist,
           1.0 - edit_dist * 1.0 / max_len AS similarity
    FROM (
        SELECT c.doc_id_a, c.doc_id_b, a.lang AS lang,
               CAST(levenshtein(a.norm, b.norm) AS BIGINT) AS edit_dist,
               greatest(length(a.norm), length(b.norm)) AS max_len
        FROM cand c
        JOIN n a ON c.doc_id_a = a.doc_id
        JOIN n b ON c.doc_id_b = b.doc_id
    )
    WHERE edit_dist <= 0.2 * max_len
    """,
)
def editdist_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance (Levenshtein) near-duplicate pairs — the
    character-level fuzzy dedup that catches small in-place edits
    (typo fixes, date bumps, template fills) which token-set Jaccard
    and MinHash can miss or over-match.

    Levenshtein is O(len^2) per pair, so the join MUST be blocked.
    THREE blocking passes, unioned: (lang, first-32-chars) catches
    docs whose edit lies past the prefix, (lang, last-32-chars)
    catches edits INSIDE the first 32 chars (a date bump in a title
    line) that pass 1 is structurally blind to, and — because docs
    under 64 chars have OVERLAPPING anchors, where one edit can change
    both keys — a (lang, 16-char length bucket) band over docs shorter
    than {_ED_SHORT_MAX} chars (the r5 short-doc recall gap, closed
    r6). The length band is recall-complete for every pair with a
    sub-64-char member: the 20% edit budget bounds the pair's length
    difference under the bucket width, so each side emitting
    (bucket, bucket+1) and equi-joining covers all |Δbucket| <= 1
    pairs — an equi-shuffle, never a non-equi join. Candidates from
    all passes are union-deduped on the pair key BEFORE the DP, so
    each pair pays Levenshtein exactly once; ids are rejoined to the
    norms by doc_id (plain equi-shuffles). At 100 TB all three block
    keys are standard shuffle keys, hot blocks (boilerplate prefixes/
    suffixes, dense short-length buckets) split under AQE, and the
    candidate union grows additively, not multiplicatively; the length
    band pairs all-to-all only WITHIN a (lang, ~16-char-band) cell of
    sub-80-char docs — the short tail production would cap or shard if
    a corpus were dominated by near-identical-length tiny docs. Pairs
    keep if edit_dist <= 20% of the longer string. Both engines run
    the identical unit-cost Levenshtein DP, so the integer distances
    agree exactly.
    """
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    n = d.select("doc_id", "lang", norm.alias("norm")).select(
        "doc_id", "lang", "norm",
        F.substring("norm", 1, 32).alias("blk_p"),
        F.expr("right(norm, 32)").alias("blk_s"),
    )

    def pass_pairs(blk: str) -> DataFrame:
        a = n.select("lang", blk, F.col("doc_id").alias("doc_id_a"))
        b = n.select("lang", blk, F.col("doc_id").alias("doc_id_b"))
        return (
            a.join(b, ["lang", blk])
            .filter(F.col("doc_id_a") < F.col("doc_id_b"))
            .select("doc_id_a", "doc_id_b")
        )

    # Third band: short docs keyed by length bucket; each side emits
    # (bucket, bucket+1) so the equi-join covers adjacent buckets —
    # set-intersection of {b, b+1} x {b', b'+1} is exactly |Δb| <= 1.
    bucket = F.floor(F.length("norm") / _ED_BUCKET)
    short = n.filter(F.length("norm") < _ED_SHORT_MAX).select(
        "doc_id", "lang",
        F.explode(F.array(bucket, bucket + 1)).alias("bk"),
    )
    short_pairs = (
        short.select("lang", "bk", F.col("doc_id").alias("doc_id_a"))
        .join(short.select("lang", "bk", F.col("doc_id").alias("doc_id_b")),
              ["lang", "bk"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
    )
    cand = (
        pass_pairs("blk_p").union(pass_pairs("blk_s")).union(short_pairs)
        .distinct()
    )
    na = n.select(F.col("doc_id").alias("doc_id_a"), "lang",
                  F.col("norm").alias("norm_a"))
    nb = n.select(F.col("doc_id").alias("doc_id_b"),
                  F.col("norm").alias("norm_b"))
    dist = F.levenshtein("norm_a", "norm_b").cast("long")
    max_len = F.greatest(F.length("norm_a"), F.length("norm_b"))
    return (
        cand.join(na, "doc_id_a")
        .join(nb, "doc_id_b")
        .select(
            "doc_id_a", "doc_id_b", "lang",
            dist.alias("edit_dist"), max_len.alias("max_len"),
        )
        .filter(F.col("edit_dist") <= 0.2 * F.col("max_len"))
        .select(
            "doc_id_a", "doc_id_b", "lang", "edit_dist",
            (1.0 - F.col("edit_dist") / F.col("max_len")).alias("similarity"),
        )
    )


_LINE_CHUNK = 10
_LINE_MIN_OCC = 3
_TOK_SQL = (
    r"CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[] "
    r"ELSE regexp_split_to_array(trim(lower(text)), '\s+') END"
)


@query(
    "line_dedup",
    layer="C",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOK_SQL} AS w FROM documents
    ),
    idx AS (
        SELECT doc_id, w,
               unnest(CASE WHEN len(w) = 0 THEN []::BIGINT[]
                      ELSE generate_series(
                          0, CAST(ceil(len(w) / {_LINE_CHUNK}.0) AS BIGINT) - 1)
                      END) AS i
        FROM t
    ),
    c AS (
        SELECT doc_id, i AS chunk_pos,
               array_to_string(
                   w[i * {_LINE_CHUNK} + 1 : i * {_LINE_CHUNK} + {_LINE_CHUNK}],
                   ' ') AS chunk
        FROM idx
    ),
    h AS (
        SELECT doc_id, chunk_pos, chunk,
               CAST('0x' || substr(md5(chunk), 1, 15) AS BIGINT) AS ch
        FROM c
    ),
    o AS (SELECT ch, count(*) AS n_occ FROM h GROUP BY ch),
    k AS (SELECT h.* FROM h JOIN o USING (ch) WHERE o.n_occ < {_LINE_MIN_OCC}),
    agg AS (
        SELECT doc_id, count(*) AS n_kept,
               md5(string_agg(chunk, ' ' ORDER BY chunk_pos)) AS clean_hash
        FROM k GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(ceil(len(t.w) / {_LINE_CHUNK}.0) AS BIGINT) AS n_chunks,
           COALESCE(agg.n_kept, 0) AS n_kept,
           COALESCE(agg.clean_hash, md5('')) AS clean_hash
    FROM t LEFT JOIN agg USING (doc_id)
    """,
)
def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level line deduplication: drop every text
    segment whose EXACT content occurs >= {_LINE_MIN_OCC} times across
    the whole corpus (boilerplate, navigation chrome, license headers),
    then reassemble each document from its surviving segments in
    order. This is the classic web-corpus cleaning pass (C4's
    "three-sentence" rule, ccnet's hashed-line dedup) that exact
    whole-doc dedup cannot express. The synthetic corpus has no
    newlines, so a "line" here is a fixed {_LINE_CHUNK}-token window —
    the segmentation is one substitutable expression.

    Scale shape: segments are counted and joined BY 60-BIT HASH
    (functions.hash60), so the global occurrence shuffle carries
    (long, count) pairs, never segment text; the only frame holding
    text is the narrow pre-shuffle segment table, re-joined on the
    long key. Reassembly sorts WITHIN each doc (sort_array over
    (pos, chunk) structs — no global or per-partition ordered window),
    and the output rides as md5(clean_text), one scalar per doc. Two
    keyed shuffles (occurrence count, per-doc regroup) + one
    broadcast-or-shuffled hash join — uniform keys throughout; a hash
    collision (p ~ 1e-7 per million distinct segments) would merge two
    segments' counts identically in both engines.
    """
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    w = tokens(F.col("text"))
    n_chunks = F.ceil(F.size(w) / F.lit(float(_LINE_CHUNK))).cast("long")
    chunked = d.select(
        "doc_id",
        n_chunks.alias("n_chunks"),
        F.when(F.size(w) == 0, F.array().cast("array<string>"))
        .otherwise(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size(w) - 1) / F.lit(_LINE_CHUNK)).cast("int"),
                ),
                lambda i: F.array_join(
                    F.slice(w, i * _LINE_CHUNK + 1, _LINE_CHUNK), " "
                ),
            )
        )
        .alias("chunks"),
    )
    seg = chunked.select(
        "doc_id", F.posexplode("chunks").alias("chunk_pos", "chunk")
    ).withColumn("ch", hash60(F.col("chunk")))
    occ = seg.groupBy("ch").agg(F.count(F.lit(1)).alias("n_occ"))
    kept = seg.join(occ, "ch").filter(F.col("n_occ") < _LINE_MIN_OCC)
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_pos", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            )
        ).alias("clean_hash"),
    )
    return (
        chunked.select("doc_id", "n_chunks")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_hash", F.md5(F.lit(""))).alias("clean_hash"),
        )
    )


@query(
    "leakage_safe_split",
    layer="C",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_sort(list_filter(
                   list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')),
                   x -> len(x) > 0)) AS sw
        FROM documents
    ),
    r AS (
        SELECT doc_id,
               CASE WHEN len(sw) = 0 THEN doc_id
                    ELSE min(doc_id) OVER (PARTITION BY md5(array_to_string(sw, ' ')))
               END AS rep_id
        FROM t
    )
    SELECT doc_id, rep_id,
           CASE WHEN h < 80 THEN 'train'
                WHEN h < 90 THEN 'validation'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, rep_id,
                 CAST('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 15)
                      AS BIGINT) % 100 AS h
          FROM r)
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/validation/test split with duplicate-leakage control: all
    docs sharing an IDENTICAL token set follow one representative
    (min doc_id of the set group) through the hash split, so a
    duplicated document can never land in train AND test — the
    benchmark-inflation leak dataset_split's independent per-doc hash
    cannot prevent. This is the split discipline every LLM data
    pipeline needs between dedup and sharding (the cluster-level
    generalization — split by near-dup cluster — swaps rep_id for
    dedup_clusters' cluster_id, same plan from there on).

    Plan: one narrow pass computes each doc's set key (md5 of its
    sorted distinct tokens), one window over that high-cardinality key
    assigns reps (uniform keyed shuffle — identical shape to the
    exact-dup collapse inside dedup_clusters), and the split is the
    portable hash60(rep_id) % 100 of dataset_split, so assignment is
    reproducible across engines and re-ingests. Blank docs keep
    themselves as rep (empty set is not evidence of duplication).
    """
    from pyspark.sql import Window

    d = spread(spark, load_table(spark, sf_dir, "documents"))
    sw = F.array_sort(F.array_distinct(tokens(F.col("text"))))
    keyed = d.select(
        "doc_id",
        F.md5(F.array_join(sw, " ")).alias("set_key"),
        (F.size(sw) == 0).alias("blank"),
    )
    rep = keyed.select(
        "doc_id",
        F.when(F.col("blank"), F.col("doc_id"))
        .otherwise(F.min("doc_id").over(Window.partitionBy("set_key")))
        .alias("rep_id"),
    )
    h = hash60(F.col("rep_id").cast("string")) % 100
    return rep.select(
        "doc_id",
        "rep_id",
        F.when(h < 80, "train").when(h < 90, "validation").otherwise("test").alias("split"),
    )


_PREFIX_TOK = 32


@query(
    "prefix_dedup",
    layer="C",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+')
               END AS toks
        FROM documents
    ),
    keyed AS (
        SELECT doc_id,
               md5(array_to_string(list_slice(toks, 1, {_PREFIX_TOK}), ' '))
                   AS prefix_hash
        FROM t WHERE len(toks) > 0
    ),
    g AS (
        SELECT prefix_hash, count(*) AS group_size, min(doc_id) AS rep_id
        FROM keyed GROUP BY prefix_hash
    )
    SELECT k.doc_id, k.prefix_hash, g.group_size, g.rep_id,
           k.doc_id <> g.rep_id AS is_dup
    FROM keyed k JOIN g USING (prefix_hash)
    WHERE g.group_size >= 2
    """,
)
def prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix duplicate families: documents whose first
    {_PREFIX_TOK} lowercased tokens are identical — the truncation /
    pagination / mirror-page duplicate class that EXACT whole-text
    dedup misses (the tails differ) and MinHash may under-score (a
    long doc sharing only its head has low global Jaccard). Docs
    shorter than the prefix key on their full token string, so a short
    doc only groups with its exact-length twins, never with a longer
    doc it happens to prefix. Emitted: every member of a family of
    >= 2 with the family size, representative (min doc_id), and
    non-representative flag.

    Plan: narrow scan computes the prefix hash per doc (JVM slice +
    md5, no Python), ONE aggregation on the high-cardinality hash
    builds family stats, and the members fetch their family row back
    via an equi-join on the same key — at 100 TB both exchanges hash-
    partition on prefix_hash (near-unique, skew-free by construction),
    and AQE broadcast-converts the family side when the dup family
    table is small. No windows, no quadratic pair emission.
    """
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    keyed = (
        d.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.slice(F.col("toks"), 1, _PREFIX_TOK))).alias(
                "prefix_hash"
            ),
        )
    )
    g = keyed.groupBy("prefix_hash").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min("doc_id").alias("rep_id"),
    )
    return (
        keyed.join(g, "prefix_hash")
        .filter(F.col("group_size") >= 2)
        .select(
            "doc_id",
            "prefix_hash",
            "group_size",
            "rep_id",
            (F.col("doc_id") != F.col("rep_id")).alias("is_dup"),
        )
    )


@query(
    "minhash_accuracy",
    layer="C",
    oracle=f"""
    WITH sig AS ({_TOKSIG_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON a.doc_id < b.doc_id
         AND (a.band1 = b.band1 OR a.band2 = b.band2)
    ),
    pairs AS (
        SELECT (CASE WHEN substr(sa.band1, 1, 8) = substr(sb.band1, 1, 8)
                     THEN 1 ELSE 0 END
              + CASE WHEN substr(sa.band1, 9, 8) = substr(sb.band1, 9, 8)
                     THEN 1 ELSE 0 END
              + CASE WHEN substr(sa.band2, 1, 8) = substr(sb.band2, 1, 8)
                     THEN 1 ELSE 0 END
              + CASE WHEN substr(sa.band2, 9, 8) = substr(sb.band2, 9, 8)
                     THEN 1 ELSE 0 END) / 4.0 AS est,
               CAST(len(list_intersect(sa.hw, sb.hw)) AS DOUBLE)
                   / (len(sa.hw) + len(sb.hw)
                      - len(list_intersect(sa.hw, sb.hw))) AS exact
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b
    )
    SELECT est,
           count(*) AS n_pairs,
           SUM(CAST(round(exact * 1000000000) AS BIGINT))
                 / 1000000000.0 / count(*) AS mean_exact,
           SUM(CAST(round(abs(est - exact) * 1000000000) AS BIGINT))
                 / 1000000000.0 / count(*) AS mean_abs_err,
           CAST(SUM(CASE WHEN exact >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_07
    FROM pairs
    GROUP BY est
    """,
)
def minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy audit OF the MinHash estimator itself — "measure,
    don't guess" applied to the sketch every near-dup query here
    trusts: for each band-candidate pair, the 4-hash similarity
    estimate (fraction of matching MinHash windows; candidates share a
    band, so est >= 0.5) is compared against the EXACT token-set
    Jaccard, grouped by estimate level. Per level: pair count, mean
    true Jaccard, mean absolute estimator error, and how many pairs
    clear the 0.7 true-similarity bar — the false-positive /
    calibration table that tells you whether b=2, r=2 banding is
    sufficient before scaling the dedup to the full corpus.

    Plan shape is ngram_jaccard's: banded equi-join candidates
    (uniform high-cardinality keys), payload fetched once per
    candidate, then a 3-group aggregation — the audit costs one extra
    closed-form column over the existing candidate pipeline. Float
    discipline: est is an exact k/4 float; the double sums
    (mean_exact, mean_abs_err) ride the quantized-long path
    (round(x*1e9) summed as BIGINT) so the hash is order-independent
    across engines and partition counts.
    """
    # r14 (guide §2.3 narrower types + §2.5): the per-pair estimator
    # used to compare 4 x substring(8) of the 16-char band STRINGS
    # carried through the joins — ~10 short-lived UTF8String
    # allocations per pair x ~5M pairs made the verify stage
    # allocation-bound and bimodal under 32-thread GC churn. The
    # MinHash windows are now parsed to LONGS once per DOC before the
    # join (conv is injective on fixed 8-hex-char windows, so long
    # equality == window-string equality), and each branch's join key
    # already implies TWO of the four window matches (cand1 joins on
    # band1 = windows 1||2; cand2 on band2 = windows 3||4), so per
    # pair the estimator is 2 long equalities and zero allocations —
    # and the band joins carry 2 longs instead of 2 strings.
    sig = _token_signatures(spark, sf_dir)

    def win(col: str, start: int) -> F.Column:
        return F.conv(F.substring(F.col(col), start, 8), 16, 10).cast("long")

    a1 = sig.select(F.col("doc_id").alias("doc_a"), F.col("band1").alias("k"),
                    win("band2", 1).alias("w3_a"), win("band2", 9).alias("w4_a"))
    b1 = sig.select(F.col("doc_id").alias("doc_b"), F.col("band1").alias("k"),
                    win("band2", 1).alias("w3_b"), win("band2", 9).alias("w4_b"))
    eq = lambda a, b: F.when(F.col(a) == F.col(b), 1).otherwise(0)  # noqa: E731
    cand1 = (
        _salt_band_join(a1, b1)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b",
                (2 + eq("w3_a", "w3_b") + eq("w4_a", "w4_b")).alias("matches"))
    )
    a2 = sig.select(F.col("doc_id").alias("doc_a"), F.col("band2").alias("k"),
                    win("band1", 1).alias("w1_a"), win("band1", 9).alias("w2_a"))
    b2 = sig.select(F.col("doc_id").alias("doc_b"), F.col("band2").alias("k"),
                    win("band1", 1).alias("w1_b"), win("band1", 9).alias("w2_b"))
    cand2 = (
        _salt_band_join(a2, b2)
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & ((F.col("w1_a") != F.col("w1_b")) | (F.col("w2_a") != F.col("w2_b")))
        )
        .select("doc_a", "doc_b",
                (eq("w1_a", "w1_b") + eq("w2_a", "w2_b") + 2).alias("matches"))
    )
    cand = cand1.unionByName(cand2.select(*cand1.columns))
    wa = sig.select(F.col("doc_id").alias("doc_a"), F.col("hw").alias("hw_a"))
    wb = sig.select(F.col("doc_id").alias("doc_b"), F.col("hw").alias("hw_b"))
    pairs = cand.join(wa, "doc_a").join(wb, "doc_b")
    matches = F.col("matches")
    i = F.size(F.array_intersect("hw_a", "hw_b")).cast("double")
    exact = i / (F.size("hw_a") + F.size("hw_b") - i)
    scored = pairs.select(
        (matches / F.lit(4.0)).alias("est"), exact.alias("exact")
    )
    qsum = lambda c: F.sum(F.round(c * 1_000_000_000).cast("long"))  # noqa: E731
    # means emitted UNROUNDED: the quantized-long sums are identical
    # integers in both engines, and IEEE division of identical
    # integers is bit-identical; a final round(,6) of an integer
    # quotient lands on a half boundary with ~1/q odds (PLANS Notes)
    return scored.groupBy("est").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (qsum(F.col("exact")) / F.lit(1e9) / F.count(F.lit(1))).alias("mean_exact"),
        (
            qsum(F.abs(F.col("est") - F.col("exact"))) / F.lit(1e9) / F.count(F.lit(1))
        ).alias("mean_abs_err"),
        F.sum(F.when(F.col("exact") >= 0.7, 1).otherwise(0)).cast("long").alias(
            "n_true_07"
        ),
    )


@query(
    "minhash_banding_sweep",
    layer="C",
    oracle=f"""
    WITH sig AS ({_TOKSIG_SQL}),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               (a.band1 = b.band1 AND a.band2 = b.band2) AS both_bands,
               len(list_intersect(a.hw, b.hw)) AS i,
               len(a.hw) AS na, len(b.hw) AS nb
        FROM sig a JOIN sig b
          ON a.doc_id < b.doc_id
         AND (a.band1 = b.band1 OR a.band2 = b.band2)
    ),
    j AS (
        SELECT both_bands,
               CAST(i AS DOUBLE) / (na + nb - i) >= 0.7 AS ok
        FROM cand
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS c22,
               CAST(count(CASE WHEN ok THEN 1 END) AS BIGINT) AS v22,
               CAST(count(CASE WHEN both_bands THEN 1 END) AS BIGINT) AS c14,
               CAST(count(CASE WHEN both_bands AND ok THEN 1 END) AS BIGINT)
                   AS v14
        FROM j
    )
    SELECT 'b2_r2' AS config, c22 AS n_candidates, v22 AS n_verified,
           CASE WHEN c22 > 0 THEN CAST(c22 AS DOUBLE) / c22 END
               AS candidate_share,
           CASE WHEN v22 > 0 THEN CAST(v22 AS DOUBLE) / v22 END
               AS verified_recall
    FROM agg
    UNION ALL
    SELECT 'b1_r4', c14, v14,
           CASE WHEN c22 > 0 THEN CAST(c14 AS DOUBLE) / c22 END,
           CASE WHEN v22 > 0 THEN CAST(v14 AS DOUBLE) / v22 END
    FROM agg
    """,
)
def minhash_banding_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH BANDING-WIDTH knob, measured (the r10 sf10 rung's
    operational conclusion made a first-class query): for a fixed
    4-hash MinHash signature, compare the production b=2 bands x r=2
    hashes configuration against the stricter b=1 x r=4 on the same
    corpus — candidate volume bought vs verified >= 0.7 pairs lost.

    Why this is THE 100 TB dial: false-positive band candidates grow
    ~n^2 * (mean collision rate)^r for fixed banding (measured at the
    sf10 zipf rung: candidate exponent 2.03 over one decade while true
    pairs stayed linear), so production widens r as the corpus grows
    — Lee et al. 2021 ship 20 bands x 20 hashes at web scale. b=1,r=4
    collisions require BOTH 2-hash bands to match, so its candidate
    set is a strict subset of b=2,r=2's: `candidate_share` is the scan
    cost retained and `verified_recall` the fraction of b2_r2's
    verified pairs still found (S-curve: P[cand] = j^4 vs
    1-(1-j^2)^2). One candidate pass computes both configurations —
    the subset relation means no second join.

    Determinism: counts are exact integers from the same band/Jaccard
    arithmetic as ngram_jaccard (identical md5-window minhashes both
    engines); share/recall are IEEE quotients of identical integers,
    NULL-guarded when a denominator is zero in both engines alike.
    Scale shape: the ONE band-join pass of the family (uniform
    high-cardinality keys), a 4-counter aggregate, and a 2-row
    explode — audit cost equals one ngram_jaccard candidate pass."""
    sig = _token_signatures(spark, sf_dir)
    a1 = sig.select(F.col("doc_id").alias("doc_a"), F.col("nw").alias("nw_a"),
                    F.col("band1").alias("k"), F.col("band2").alias("b2_a"))
    b1 = sig.select(F.col("doc_id").alias("doc_b"), F.col("nw").alias("nw_b"),
                    F.col("band1").alias("k"), F.col("band2").alias("b2_b"))
    cand1 = (
        _salt_band_join(a1, b1)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "nw_a", "nw_b",
                (F.col("b2_a") == F.col("b2_b")).alias("both_bands"))
    )
    a2 = sig.select(F.col("doc_id").alias("doc_a"), F.col("nw").alias("nw_a"),
                    F.col("band2").alias("k"), F.col("band1").alias("p_a"))
    b2 = sig.select(F.col("doc_id").alias("doc_b"), F.col("nw").alias("nw_b"),
                    F.col("band2").alias("k"), F.col("band1").alias("p_b"))
    cand2 = (
        _salt_band_join(a2, b2)
        .filter((F.col("doc_a") < F.col("doc_b")) & (F.col("p_a") != F.col("p_b")))
        .select("doc_a", "doc_b", "nw_a", "nw_b",
                F.lit(False).alias("both_bands"))
    )
    cand = cand1.unionByName(cand2)
    wa = sig.select(F.col("doc_id").alias("doc_a"), F.col("hw").alias("hw_a"))
    wb = sig.select(F.col("doc_id").alias("doc_b"), F.col("hw").alias("hw_b"))
    ok = (_hashed_jaccard() >= 0.7).alias("ok")
    j = cand.join(wa, "doc_a").join(wb, "doc_b").select("both_bands", ok)
    agg = j.agg(
        F.count(F.lit(1)).alias("c22"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("long").alias("v22"),
        F.sum(F.when(F.col("both_bands"), 1).otherwise(0)).cast("long").alias("c14"),
        F.sum(F.when(F.col("both_bands") & F.col("ok"), 1).otherwise(0))
        .cast("long")
        .alias("v14"),
    )

    def row(cfg: str, c: str, v: str):
        return F.struct(
            F.lit(cfg).alias("config"),
            F.col(c).alias("n_candidates"),
            F.col(v).alias("n_verified"),
            F.when(F.col("c22") > 0, F.col(c).cast("double") / F.col("c22"))
            .alias("candidate_share"),
            F.when(F.col("v22") > 0, F.col(v).cast("double") / F.col("v22"))
            .alias("verified_recall"),
        )

    return agg.select(
        F.explode(F.array(row("b2_r2", "c22", "v22"),
                          row("b1_r4", "c14", "v14"))).alias("r")
    ).select("r.*")


# S-curve hit probabilities P[candidate | true Jaccard j] = 1-(1-j^r)^b
# per banding config, computed ONCE here in Python and interpolated as
# the SAME literal into the Spark plan and the oracle SQL — identical
# by construction, no cross-engine libm pow.
def _s_curve(b: int, r: int, j: float) -> float:
    return 1.0 - (1.0 - j**r) ** b


_LSH_CONFIGS = [("b2_r2", 2, 2), ("b1_r4", 1, 4), ("b1_r8", 1, 8)]


def _lsh_plan_oracle() -> str:
    def cnt(alias: str, grp: str) -> str:
        return (
            f"{alias} AS (SELECT CAST(COALESCE(sum(n * (n - 1) // 2), 0)"
            f" AS BIGINT) AS p FROM (SELECT count(*) AS n FROM sig"
            f" WHERE band1 IS NOT NULL GROUP BY {grp}))"
        )

    rows = []
    for cfg, b, r in _LSH_CONFIGS:
        pairs = "c1.p + c2.p" if r == 2 else ("c4.p" if r == 4 else "c8.p")
        exact = "false" if r == 2 else "true"
        rows.append(
            f"SELECT '{cfg}' AS config, CAST({b} AS BIGINT) AS n_bands,"
            f" CAST({r} AS BIGINT) AS rows_per_band,"
            f" {pairs} AS candidate_pairs, {exact} AS exact,"
            f" CAST({pairs} AS DOUBLE) / nd.n AS pairs_per_doc,"
            f" {_s_curve(b, r, 0.7)!r}e0 AS p_cand_j07,"
            f" {_s_curve(b, r, 0.9)!r}e0 AS p_cand_j09"
            f" FROM c1, c2, c4, c8, nd"
        )
    return (
        f"""
    WITH sig AS ({_TOKSIG_WIDE_SQL}),
    {cnt("c1", "band1")},
    {cnt("c2", "band2")},
    {cnt("c4", "band1 || band2")},
    {cnt("c8", "band1 || band2 || band3 || band4")},
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
    """
        + "\n    UNION ALL\n    ".join(rows)
    )


@query("lsh_banding_plan", layer="C", oracle=_lsh_plan_oracle())
def lsh_banding_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding COST PLANNER — the query a 100 TB user runs BEFORE
    dedup to pick the knob dedup_clusters_banded wires in: for each
    supported banding (b=2,r=2 / b=1,r=4 / b=1,r=8) it prices the
    candidate join from the corpus's own band-value frequency tables
    (candidate pairs = sum over band values of C(n_v, 2) — computed in
    O(corpus) with NO pair join ever running; that avoidance is the
    whole point of a planner) and reports the theoretical S-curve hit
    rates P[candidate | j] = 1-(1-j^r)^b at j = 0.7 (the operators'
    verification threshold) and j = 0.9 (the planted-dup regime). The
    b=2,r=2 pair count is the union bound over its two bands (`exact`
    = false — pairs colliding on both bands count twice); the single-
    band configs are exact. Read it as: candidate cost vs recall at
    the threshold — exactly the published trade Lee et al. 2021 tune
    (20x20 at web scale) and the sf1->sf10 zipf decade measured
    (exponents 2.03 / 1.56 / 1.02, PLANS.md Notes).

    Determinism: pair counts are exact int64 from identical md5-window
    band values (blank docs' NULL bands excluded in both engines);
    per-doc ratios are IEEE quotients of identical integers; the
    S-curve constants are computed ONCE in Python and interpolated as
    the same literal into both plans — no cross-engine pow.

    Scale shape: four count-aggregations over the (checkpointed, wide)
    signature table with map-side partials on high-cardinality band
    keys, four scalar sums, a 3-row explode. Strictly cheaper than any
    single band join it prices."""
    sig = _token_signatures(spark, sf_dir, wide=True)
    nn = sig.filter(F.col("band1").isNotNull())

    def pairs(grp: F.Column, alias: str) -> DataFrame:
        # Integral `div`, not float `/`: float division + double summation
        # loses exactness (and diverges from the oracle's `//`) once
        # n*(n-1) or the running sum passes 2^53 — reachable at the
        # 100 TB scale this planner prices.
        return (
            nn.groupBy(grp.alias("v"))
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.coalesce(
                    F.sum(F.expr("(n * (n - 1)) div 2")),
                    F.lit(0).cast("long"),
                ).alias(alias)
            )
        )

    d = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("nd")
    )
    combined = (
        pairs(F.col("band1"), "c1")
        .crossJoin(pairs(F.col("band2"), "c2"))
        .crossJoin(pairs(F.concat("band1", "band2"), "c4"))
        .crossJoin(pairs(F.concat("band1", "band2", "band3", "band4"), "c8"))
        .crossJoin(F.broadcast(d))
    )

    def row(cfg: str, b: int, r: int):
        p = (
            (F.col("c1") + F.col("c2"))
            if r == 2
            else (F.col("c4") if r == 4 else F.col("c8"))
        )
        return F.struct(
            F.lit(cfg).alias("config"),
            F.lit(b).cast("long").alias("n_bands"),
            F.lit(r).cast("long").alias("rows_per_band"),
            p.alias("candidate_pairs"),
            F.lit(r != 2).alias("exact"),
            (p.cast("double") / F.col("nd")).alias("pairs_per_doc"),
            F.lit(_s_curve(b, r, 0.7)).alias("p_cand_j07"),
            F.lit(_s_curve(b, r, 0.9)).alias("p_cand_j09"),
        )

    return combined.select(
        F.explode(
            F.array(*[row(cfg, b, r) for cfg, b, r in _LSH_CONFIGS])
        ).alias("r")
    ).select("r.*")


_SS_W = 8  # rolling-window width in tokens
_SS_MIN_OCC = 2  # a window is "duplicated" when it occurs this often corpus-wide


@query(
    "substring_dedup",
    layer="C",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+')
               END AS w
        FROM documents
    ),
    seg AS (
        SELECT doc_id, i AS pos,
               CAST('0x' || substr(
                   md5(array_to_string(w[i : i + {_SS_W} - 1], ' ')),
                   1, 15) AS BIGINT) AS h
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, len(w) - {_SS_W} + 1)) AS i
              FROM t WHERE len(w) >= {_SS_W})
    ),
    occ AS (SELECT h, count(*) AS n_occ FROM seg GROUP BY h),
    dup AS (
        SELECT seg.doc_id, seg.pos,
               lead(seg.pos) OVER (PARTITION BY seg.doc_id
                                   ORDER BY seg.pos) AS nxt
        FROM seg JOIN occ USING (h)
        WHERE occ.n_occ >= {_SS_MIN_OCC}
    ),
    cov AS (
        SELECT doc_id, count(*) AS dup_windows,
               CAST(sum(CASE WHEN nxt IS NULL THEN {_SS_W}
                        ELSE least({_SS_W}, nxt - pos) END) AS BIGINT)
                   AS dup_tokens
        FROM dup GROUP BY doc_id
    )
    SELECT t.doc_id,
           len(t.w) AS n_tokens,
           CAST(greatest(len(t.w) - {_SS_W} + 1, 0) AS BIGINT) AS n_windows,
           COALESCE(cov.dup_windows, 0) AS dup_windows,
           COALESCE(cov.dup_tokens, 0) AS dup_tokens,
           COALESCE(cov.dup_tokens, 0) * 1.0
                 / greatest(len(t.w), 1) AS dup_fraction
    FROM t LEFT JOIN cov USING (doc_id)
    """,
)
def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring coverage, stride-1 rolling windows: every
    {_SS_W}-token window of every document is hashed; a window whose
    exact content occurs >= {_SS_MIN_OCC} times ANYWHERE in the corpus
    marks its token span as duplicated, and each document reports how
    many of its token positions fall inside at least one duplicated
    span. This is the exact-substring-dedup signal (memorized spans
    shared across documents — the class that whole-doc and chunk-grid
    dedup both miss, because the repeat can start at any offset).
    `line_dedup` is the stride-{_SS_W} grid approximation of this;
    stride-1 here costs W rows per token instead of 1 but catches
    arbitrarily-aligned repeats.

    Span coverage uses the standard interval-union identity: windows
    within a doc sorted by start position; each duplicated window
    contributes min(W, next_dup_start - start) tokens (the last one
    contributes W) — overlapping spans never double-count.

    Scale shape: the exploded window frame carries (doc_id, pos,
    60-bit hash) — never window text — so the occurrence count is a
    (long, count) aggregation with map-side partials and uniform keys,
    and the dup filter is one hash join back on the same long key
    (boilerplate-heavy hot hashes are AQE-skew-split; the join output
    is only the duplicated windows). The interval-union window is
    partitioned BY doc_id — per-doc state, no global ordering. At
    100 TB the dominant cost is the W-fold window explosion, which is
    scan-parallel and shrinks to (8+8+8) bytes per window before the
    first shuffle.
    """
    from pyspark.sql import Window

    d = spread(spark, load_table(spark, sf_dir, "documents"))
    w = tokens(F.col("text"))
    base = d.select("doc_id", w.alias("w"), F.size(w).alias("n_tokens"))
    seg = (
        base.filter(F.col("n_tokens") >= _SS_W)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.col("n_tokens") - (_SS_W - 1))
            ).alias("pos"),
            "w",
        )
        .select(
            "doc_id",
            "pos",
            hash60(F.array_join(F.slice(F.col("w"), F.col("pos"), _SS_W), " ")).alias(
                "h"
            ),
        )
    )
    occ = seg.groupBy("h").agg(F.count(F.lit(1)).alias("n_occ"))
    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    dup = (
        seg.join(occ.filter(F.col("n_occ") >= _SS_MIN_OCC), "h")
        .select("doc_id", "pos", F.lead("pos").over(by_doc).alias("nxt"))
    )
    cov = dup.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dup_windows"),
        F.sum(
            F.when(F.col("nxt").isNull(), F.lit(_SS_W)).otherwise(
                F.least(F.lit(_SS_W), F.col("nxt") - F.col("pos"))
            )
        ).alias("dup_tokens"),
    )
    return (
        base.drop("w")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.greatest(F.col("n_tokens") - (_SS_W - 1), F.lit(0))
            .cast("long")
            .alias("n_windows"),
            F.coalesce(F.col("dup_windows"), F.lit(0)).cast("long").alias(
                "dup_windows"
            ),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
            (
                F.coalesce(F.col("dup_tokens"), F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1))
            ).alias("dup_fraction"),
        )
    )


@query(
    "substring_dedup_spans",
    layer="C",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+')
               END AS w
        FROM documents
    ),
    seg AS (
        SELECT doc_id, i AS pos,
               CAST('0x' || substr(
                   md5(array_to_string(w[i : i + {_SS_W} - 1], ' ')),
                   1, 15) AS BIGINT) AS h
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, len(w) - {_SS_W} + 1)) AS i
              FROM t WHERE len(w) >= {_SS_W})
    ),
    occ AS (SELECT h, count(*) AS n_occ FROM seg GROUP BY h),
    dup AS (
        SELECT seg.doc_id, seg.pos
        FROM seg JOIN occ USING (h)
        WHERE occ.n_occ >= {_SS_MIN_OCC}
    ),
    isl AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                              ORDER BY pos) <= {_SS_W}
                    THEN 0 ELSE 1 END AS brk
        FROM dup
    ),
    grp AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS g
        FROM isl
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + {_SS_W} - 1 AS BIGINT) AS span_end,
           CAST(max(pos) + {_SS_W} - min(pos) AS BIGINT) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_dup_windows
    FROM grp GROUP BY doc_id, g
    """,
)
def substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup with REMOVAL SPANS (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", the
    ExactSubstr recipe): where substring_dedup reports per-doc dup
    COVERAGE, this emits the actionable artifact — one row per MAXIMAL
    duplicated token span, (doc_id, span_start, span_end) 1-based
    inclusive — the cut-list a preprocessing pipeline applies to each
    document before training.

    The published method finds substrings >= 50 tokens shared between
    documents via a corpus suffix array; the distributed re-expression
    here is substring_dedup's stride-1 rolling {_SS_W}-token window
    hashes (a window occurring >= {_SS_MIN_OCC} times corpus-wide is
    duplicated) with the duplicated windows merged into maximal spans
    by the standard gaps-and-islands interval union: a new island
    starts where the gap between consecutive duplicated window starts
    exceeds W (intervals [pos, pos+W-1] no longer touch), islands are
    numbered by a running sum of those breaks, and each island's span
    is [min(pos), max(pos)+W-1]. Boundary fidelity is window-granular
    (a repeat is detected once a full W-window of it repeats — the
    suffix array resolves to exact token offsets); every span >= W
    the suffix array finds is covered by these islands.

    Scale shape: identical to substring_dedup up through the
    duplicated-window join (narrow 60-bit hash keys, map-side-partial
    occurrence counts, AQE-skew-split on boilerplate-hot hashes); the
    island merge is two window functions partitioned BY doc_id (lag +
    running sum — per-doc state, no global ordering, the repo's
    two-phase-safe pattern), then one (doc_id, island) aggregate.
    Output is O(duplicated spans), a tiny fraction of the corpus; at
    100 TB the cut-list joins back to the text on uniform doc_id.
    """
    from pyspark.sql import Window

    d = spread(spark, load_table(spark, sf_dir, "documents"))
    w = tokens(F.col("text"))
    base = d.select("doc_id", w.alias("w"), F.size(w).alias("n_tokens"))
    seg = (
        base.filter(F.col("n_tokens") >= _SS_W)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.col("n_tokens") - (_SS_W - 1))
            ).alias("pos"),
            "w",
        )
        .select(
            "doc_id",
            "pos",
            hash60(F.array_join(F.slice(F.col("w"), F.col("pos"), _SS_W), " ")).alias(
                "h"
            ),
        )
    )
    occ = seg.groupBy("h").agg(F.count(F.lit(1)).alias("n_occ"))
    dup = seg.join(occ.filter(F.col("n_occ") >= _SS_MIN_OCC), "h").select(
        "doc_id", "pos"
    )
    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    brk = (
        F.when(F.col("pos") - F.lag("pos").over(by_doc) <= _SS_W, F.lit(0))
        .otherwise(F.lit(1))
        .alias("brk")
    )
    grp = dup.select("doc_id", "pos", brk).select(
        "doc_id",
        "pos",
        F.sum("brk").over(by_doc.rowsBetween(Window.unboundedPreceding, 0)).alias("g"),
    )
    return grp.groupBy("doc_id", "g").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + (_SS_W - 1)).cast("long").alias("span_end"),
        (F.max("pos") + _SS_W - F.min("pos")).cast("long").alias("span_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_dup_windows"),
    ).drop("g")


_INCR_DEDUP_SQL = f"""
    WITH n AS (
        SELECT doc_id, source, md5({_NORM_SQL}) AS h,
               CAST(substr(source, 4) AS INTEGER) AS src_num
        FROM documents
    ),
    corpus AS (SELECT DISTINCT h FROM n WHERE src_num < 10),
    batch AS (SELECT doc_id, source, h FROM n WHERE src_num >= 10),
    first_in_batch AS (
        SELECT h, min(doc_id) AS first_id FROM batch GROUP BY h
    )
    SELECT b.doc_id, b.source,
           CASE WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
                WHEN b.doc_id <> f.first_id THEN 'dup_in_batch'
                ELSE 'kept' END AS verdict
    FROM batch b
    LEFT JOIN corpus c USING (h)
    JOIN first_in_batch f USING (h)
    """


def _incremental_parts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(corpus DISTINCT-hash index, batch hashes) for the incremental
    dedup family: corpus = sources src0..src9, batch = src10..src19,
    both keyed on the md5 of whitespace-normalized lowercased text."""
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    n = d.select(
        "doc_id",
        "source",
        F.md5(norm).alias("h"),
        F.substring("source", 4, 10).cast("int").alias("src_num"),
    )
    corpus = n.filter(F.col("src_num") < 10).select("h").distinct()
    batch = n.filter(F.col("src_num") >= 10).select("doc_id", "source", "h")
    return corpus, batch


def _incremental_verdicts(corpus_index: DataFrame, batch: DataFrame) -> DataFrame:
    """Verdict per batch doc against a corpus hash index: left join for
    dup_of_corpus, min-doc_id-per-hash within the batch for
    dup_in_batch, else kept."""
    first = batch.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    in_corpus = corpus_index.withColumn("in_corpus", F.lit(True))
    return (
        batch.join(in_corpus, "h", "left")
        .join(first, "h")
        .select(
            "doc_id",
            "source",
            F.when(F.col("in_corpus"), F.lit("dup_of_corpus"))
            .when(F.col("doc_id") != F.col("first_id"), F.lit("dup_in_batch"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
        )
    )


@query("incremental_dedup", layer="C", oracle=_INCR_DEDUP_SQL)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-corpus) exact dedup: the daily-crawl shape —
    a NEW batch (sources src10..src19) deduped against the EXISTING
    corpus (src0..src9) and within itself, emitting one verdict per
    new doc: `dup_of_corpus` (normalized text already ingested),
    `dup_in_batch` (an earlier new doc has it; min-doc_id wins — the
    same order-independent anchor rule as exact_dedup_docs), or
    `kept`. This is the operator the within-corpus dedups
    (exact_dedup_docs & co.) don't cover: production never re-dedups
    100 TB from scratch, it folds each increment in.

    Scale shape: corpus side reduces to DISTINCT content hashes (one
    narrow column — at 100 TB this is the persisted dedup index, not a
    re-scan), batch side is one hash pass; verdicts come from a left
    join against the corpus index and a min-per-hash aggregate within
    the batch — two equi-shuffles on a uniform md5 key, no windows,
    payload text never travels. The md5 content hash is the portable
    scheme every engine reproduces (same as exact_dedup_docs).
    incremental_dedup_persisted below proves the index round-trips
    through storage."""
    corpus, batch = _incremental_parts(spark, sf_dir)
    return _incremental_verdicts(corpus, batch)


@query("incremental_dedup_persisted", layer="C", oracle=_INCR_DEDUP_SQL)
def incremental_dedup_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental_dedup with the corpus index ROUND-TRIPPED THROUGH
    STORAGE — the production shape the plain query only asserts (r5
    VERDICT item 4): the DISTINCT-hash corpus index is WRITTEN to
    parquet, READ BACK as an independent scan, and the batch is deduped
    against the read-back index. Same oracle, so the driver hash proves
    the persisted index is verdict-equivalent to the inline one.

    Scale shape: this is the daily-crawl loop at 100 TB — the corpus
    side is never re-scanned; each increment reads the stored index
    (one narrow md5 column, partition-pruned parquet), left-joins the
    new batch against it, and would append the batch's kept hashes back
    to the index as the next day's input (the append is omitted here
    because the query contract returns one DataFrame; the write path it
    would use is exactly the one exercised). Writing through a temp dir
    keeps the driver contract hermetic; production points this at a
    stable index location."""
    import os
    import shutil
    import tempfile

    corpus, batch = _incremental_parts(spark, sf_dir)
    idx_root = tempfile.mkdtemp(prefix="cuttlefish_dedup_idx_")
    idx_path = os.path.join(idx_root, "corpus_hash_index")
    try:
        corpus.write.mode("overwrite").parquet(idx_path)
        stored_index = spark.read.parquet(idx_path)
        out = _incremental_verdicts(stored_index, batch).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(idx_root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# incremental_minhash_dedup — the FUZZY half of the daily-crawl shape
# ---------------------------------------------------------------------------

_IMH_J = 0.7  # near-dup Jaccard bar (dedup_clusters' threshold)

_IMH_JACCARD_SQL = (
    "CAST(len(list_intersect({a}.hw, {b}.hw)) AS DOUBLE)"
    " / (len({a}.hw) + len({b}.hw) - len(list_intersect({a}.hw, {b}.hw)))"
)


def _imh_edge_sql(a: str, b: str, rpb: int) -> str:
    """Band-collision + length-prune + exact-Jaccard predicate between
    signature rows {a} and {b} at the given banding (the oracle twin
    of _xband_candidates/_band_candidates' verified edge)."""
    bandp = (
        f"({a}.band1 = {b}.band1 OR {a}.band2 = {b}.band2)"
        if rpb == 2
        else f"({a}.band1 = {b}.band1 AND {a}.band2 = {b}.band2"
        f" AND {a}.band3 = {b}.band3 AND {a}.band4 = {b}.band4)"
    )
    return f"""{bandp}
          AND len({a}.w) * 10 >= len({b}.w) * 7
          AND len({b}.w) * 10 >= len({a}.w) * 7
          AND {_IMH_JACCARD_SQL.format(a=a, b=b)} >= {_IMH_J}"""


# The oracle: exact-set rep collapse first (MANDATORY here, not an
# optimization — the committed degenerate-vocabulary corpora put
# thousands of docs on the IDENTICAL token set, and identical sets
# share every band key at any banding, so the un-collapsed self/probe
# joins are O(group^2) on both engines: measured unusable at sf1, gate
# killed at 20+ min CPU twice). Collapse is semantics-preserving:
# equal sets have equal bands (identical collision sets) and equal
# Jaccard against everything, so rep-level verdicts transfer to
# members exactly — the same argument as _cluster_over_bands. The
# banding decision is dedup_clusters' _ADAPT_DEC_SQL verbatim (global
# reps), so the two queries always agree on a corpus.
_IMH_CTES = f"""sig AS ({_TOKSIG_WIDE_SQL}),
    {_ADAPT_DEC_SQL},
    srcn AS (
        SELECT doc_id, source, CAST(substr(source, 4) AS INTEGER) AS src_num
        FROM documents
    ),
    g AS (
        SELECT s.doc_id, s.w, s.hw, s.band1, s.band2, s.band3, s.band4,
               srcn.source, srcn.src_num,
               CASE WHEN len(s.w) = 0 THEN s.doc_id
                    ELSE min(s.doc_id) OVER (PARTITION BY list_sort(s.hw))
               END AS grp
        FROM sig s JOIN srcn USING (doc_id)
    ),
    corpus AS (SELECT * FROM g WHERE src_num < 10),
    batch AS (SELECT * FROM g WHERE src_num >= 10),
    crep AS (
        SELECT * FROM (
            SELECT c.*, row_number() OVER (PARTITION BY grp
                                           ORDER BY doc_id) AS rn
            FROM corpus c
        ) WHERE rn = 1
    ),
    brep AS (
        SELECT * FROM (
            SELECT b.*, row_number() OVER (PARTITION BY grp
                                           ORDER BY doc_id) AS rn
            FROM batch b
        ) WHERE rn = 1
    ),
    bmin AS (SELECT grp, min(doc_id) AS brep_id FROM batch GROUP BY grp),
    xc AS (
        SELECT DISTINCT b.doc_id
        FROM brep b JOIN crep c
          ON {_imh_edge_sql("b", "c", 2)}
        WHERE (SELECT rpb FROM dec) = 2
        UNION
        SELECT DISTINCT b.doc_id
        FROM brep b JOIN crep c
          ON {_imh_edge_sql("b", "c", 8)}
        WHERE (SELECT rpb FROM dec) = 8
    ),
    bb AS (
        SELECT DISTINCT b2.doc_id
        FROM brep b1 JOIN brep b2
          ON b1.doc_id < b2.doc_id
         AND {_imh_edge_sql("b1", "b2", 2)}
        WHERE (SELECT rpb FROM dec) = 2
        UNION
        SELECT DISTINCT b2.doc_id
        FROM brep b1 JOIN brep b2
          ON b1.doc_id < b2.doc_id
         AND {_imh_edge_sql("b1", "b2", 8)}
        WHERE (SELECT rpb FROM dec) = 8
    )"""

_INCR_MH_SQL = f"""
    WITH {_IMH_CTES}
    SELECT b.doc_id, b.source,
           CASE WHEN xc.doc_id IS NOT NULL THEN 'near_dup_of_corpus'
                WHEN b.doc_id <> bm.brep_id OR bb.doc_id IS NOT NULL
                    THEN 'near_dup_in_batch'
                ELSE 'kept' END AS verdict
    FROM batch b
    JOIN bmin bm USING (grp)
    LEFT JOIN xc ON xc.doc_id = bm.brep_id
    LEFT JOIN bb ON bb.doc_id = bm.brep_id
    """

# The day-2 half of the rolling-crawl loop: the UPDATED index manifest
# after folding a batch in — every existing corpus rep plus the kept
# batch reps (only reps can be kept: non-rep members are always
# near_dup_in_batch of their own rep). hw stays out of the manifest
# (the driver compare is over scalar columns); the stored index
# carries it, as incremental_minhash_dedup_persisted proves.
_INCR_MH_IDX_SQL = f"""
    WITH {_IMH_CTES}
    SELECT doc_id, CAST(len(w) AS INTEGER) AS nw,
           band1, band2, band3, band4, FALSE AS is_new
    FROM crep
    UNION ALL
    SELECT b.doc_id, CAST(len(b.w) AS INTEGER) AS nw,
           b.band1, b.band2, b.band3, b.band4, TRUE AS is_new
    FROM brep b
    LEFT JOIN xc ON xc.doc_id = b.doc_id
    LEFT JOIN bb ON bb.doc_id = b.doc_id
    WHERE xc.doc_id IS NULL AND bb.doc_id IS NULL
    """


_IMH_COLS = ["doc_id", "nw", "band1", "band2", "band3", "band4", "hw"]


def _rep_rows(side: DataFrame) -> DataFrame:
    """One row (the min-doc_id member) per exact-token-set group
    WITHIN a side — the collapse that makes the probe joins linear on
    dup-heavy corpora (see _INCR_MH_SQL's comment: identical sets
    share every band key, so un-collapsed joins are O(group^2))."""
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy("doc_id")
    return (
        side.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _minhash_incr_parts(
    spark: SparkSession, sf_dir: str
) -> tuple[int, DataFrame, DataFrame, DataFrame]:
    """(rows_per_band, corpus REP index, batch REP signatures, full
    batch rows) for the incremental MinHash family: the same
    src0..src9 / src10..src19 split as _incremental_parts, but keyed
    on the WIDE token-set MinHash signature
    (_token_signatures(wide=True, with_rep=True) — doc_id, nw,
    band1..band4, hw, rep_id) instead of the content md5.

    Exact-set collapse FIRST (the production fuzzy-dedup order, and
    mandatory on dup-heavy corpora — identical token sets share every
    band key at any banding, so the probe joins are O(group^2)
    without it; measured unusable at sf1): each side keeps one
    representative per distinct token set (`grp` = the global set
    group id, blanks their own group), rep-level verdicts transfer to
    members exactly because equal sets have equal bands and equal
    Jaccard against everything. The corpus REP index is what a
    rolling crawl persists: one narrow row per DISTINCT ingested set.

    Banding is ADAPTIVE with dedup_clusters' own statistic
    (_pick_banding over the global reps — the oracle reuses
    _ADAPT_DEC_SQL verbatim), so the two queries always agree on a
    corpus; the committed degenerate-vocabulary corpora land on
    b=1,r=8."""
    sig = _token_signatures(spark, sf_dir, wide=True, with_rep=True)
    rpb = _pick_banding(sig.filter(F.col("doc_id") == F.col("rep_id")))
    d = spread(spark, load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        F.substring("source", 4, 10).cast("int").alias("src_num"),
    )
    s = sig.withColumnRenamed("rep_id", "grp").join(d, "doc_id")
    corpus = s.filter(F.col("src_num") < 10)
    batch = s.filter(F.col("src_num") >= 10)
    corpus_rep = _rep_rows(corpus).select(*_IMH_COLS)
    batch_rep = _rep_rows(batch).select(*_IMH_COLS)
    batch_rows = batch.select("doc_id", "source", "grp")
    return rpb, corpus_rep, batch_rep, batch_rows


def _xband_candidates(
    batch_sig: DataFrame,
    corpus_sig: DataFrame,
    min_jaccard: float,
    rows_per_band: int = 2,
) -> DataFrame:
    """Cross-corpus band-collision candidates (batch probe x corpus
    index): _band_candidates' narrow-join discipline — band joins
    carry ids + token counts only, the OR of bands is made disjoint
    (band2 matches only where band1 keys differ), the implied
    length-ratio prune runs before payload fetch, and the token-hash
    arrays join in once per surviving candidate — minus the doc_a <
    doc_b ordering filter, which does not apply across two corpora.
    rows_per_band=8 is the tightened b=1 banding: ONE equi-join on the
    concatenated four-band key (candidate probability j^8)."""
    if rows_per_band == 8:
        kk = F.concat("band1", "band2", "band3", "band4")
        a8 = batch_sig.select(
            F.col("doc_id").alias("doc_a"), F.col("nw").alias("nw_a"),
            kk.alias("k"),
        )
        b8 = corpus_sig.select(
            F.col("doc_id").alias("doc_b"), F.col("nw").alias("nw_b"),
            kk.alias("k"),
        )
        cand = _salt_band_join(a8, b8).drop("k")
    else:
        a1 = batch_sig.select(
            F.col("doc_id").alias("doc_a"), F.col("nw").alias("nw_a"),
            F.col("band1").alias("k"),
        )
        b1 = corpus_sig.select(
            F.col("doc_id").alias("doc_b"), F.col("nw").alias("nw_b"),
            F.col("band1").alias("k"),
        )
        cand1 = _salt_band_join(a1, b1).drop("k")
        a2 = batch_sig.select(
            F.col("doc_id").alias("doc_a"), F.col("nw").alias("nw_a"),
            F.col("band2").alias("k"), F.col("band1").alias("p_a"),
        )
        b2 = corpus_sig.select(
            F.col("doc_id").alias("doc_b"), F.col("nw").alias("nw_b"),
            F.col("band2").alias("k"), F.col("band1").alias("p_b"),
        )
        cand2 = (
            _salt_band_join(a2, b2)
            .filter(F.col("p_a") != F.col("p_b"))
            .select("doc_a", "doc_b", "nw_a", "nw_b")
        )
        cand = cand1.unionByName(cand2.select(*cand1.columns))
    scale = int(round(min_jaccard * 1000))
    cand = cand.filter(
        (F.col("nw_a") * 1000 >= F.col("nw_b") * scale)
        & (F.col("nw_b") * 1000 >= F.col("nw_a") * scale)
    )
    wa = batch_sig.select(F.col("doc_id").alias("doc_a"), F.col("hw").alias("hw_a"))
    wb = corpus_sig.select(F.col("doc_id").alias("doc_b"), F.col("hw").alias("hw_b"))
    return cand.join(wa, "doc_a").join(wb, "doc_b")


def _minhash_incr_verdicts(
    corpus_rep: DataFrame,
    batch_rep: DataFrame,
    batch_rows: DataFrame,
    rows_per_band: int,
) -> DataFrame:
    """Verdict per batch doc against a corpus MinHash REP index:
    band-probe + exact hashed-token Jaccard >= {_IMH_J} on the
    representatives for near_dup_of_corpus (inherited by the rep's
    whole set group — equal sets have equal Jaccard against every
    corpus doc), the banded rep self-join within the batch for the
    later rep's group plus the automatic member rule (a non-rep
    member always has an earlier J=1.0 batch doc: its rep) for
    near_dup_in_batch — the pairwise-anchor rule, not full
    clustering; dedup_clusters covers within-corpus components —
    else kept."""
    xc = (
        _xband_candidates(
            batch_rep, corpus_rep, min_jaccard=_IMH_J,
            rows_per_band=rows_per_band,
        )
        .filter(_hashed_jaccard() >= _IMH_J)
        .select(F.col("doc_a").alias("brep_id"))
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    within = (
        _band_candidates(
            batch_rep.select(*_IMH_COLS),
            min_jaccard=_IMH_J,
            rows_per_band=rows_per_band,
        )
        .filter(_hashed_jaccard() >= _IMH_J)
        .select(F.col("doc_b").alias("brep_id"))
        .distinct()
        .withColumn("rep_hit", F.lit(True))
    )
    bmin = batch_rows.groupBy("grp").agg(F.min("doc_id").alias("brep_id"))
    return (
        batch_rows.join(bmin, "grp")
        .join(xc, "brep_id", "left")
        .join(within, "brep_id", "left")
        .select(
            "doc_id",
            "source",
            F.when(F.col("in_corpus"), F.lit("near_dup_of_corpus"))
            .when(
                (F.col("doc_id") != F.col("brep_id")) | F.col("rep_hit"),
                F.lit("near_dup_in_batch"),
            )
            .otherwise(F.lit("kept"))
            .alias("verdict"),
        )
    )


@query("incremental_minhash_dedup", layer="C", oracle=_INCR_MH_SQL)
def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-corpus) NEAR-dup dedup — the fuzzy half of
    the daily-crawl shape (r12 VERDICT item 4; incremental_dedup is
    the exact half): a NEW batch (sources src10..src19) is probed
    against the EXISTING corpus's MinHash band index (src0..src9) and
    against itself, emitting one verdict per new doc:
    `near_dup_of_corpus` (band collision verified at token-set
    Jaccard >= {_IMH_J} against any ingested doc), `near_dup_in_batch`
    (a lower-doc_id batch doc verifies — the pairwise-anchor rule),
    or `kept`. Exact duplicates are J = 1.0 and fall out of the same
    probe; blank docs carry NULL bands, never pair, and stay kept
    (the family's shared discipline).

    Scale shape: exact-set collapse FIRST (mandatory — see
    _minhash_incr_parts), then the corpus side reduces to the
    persisted REP index — (doc_id, nw, band1..band4, hw), one narrow
    row per DISTINCT ingested token set, NEVER the text — and each
    increment is two high-cardinality band equi-joins (batch reps x
    index, batch reps x batch reps) with the implied length-ratio
    prune ahead of payload fetch, then exact Jaccard on 60-bit token
    hashes; rep verdicts map back to members through the set-group
    manifest. No window over low-card keys, no all-pairs, no re-scan
    of the 100 TB corpus; the kept reps' signatures are what
    production appends back to the index as the next day's input.
    incremental_minhash_dedup_persisted proves the index round-trips
    through storage. Banding is ADAPTIVE with dedup_clusters' own
    statistic (_pick_banding over the global reps, the oracle reusing
    _ADAPT_DEC_SQL verbatim): the recall-oriented b=2,r=2 on clean
    corpora, b=1,r=8 where the band-value frequency tables say the
    probe join outgrows the true-pair floor — which the committed
    degenerate-vocabulary corpora trigger."""
    rpb, corpus_rep, batch_rep, batch_rows = _minhash_incr_parts(spark, sf_dir)
    return _minhash_incr_verdicts(corpus_rep, batch_rep, batch_rows, rpb)


@query("incremental_minhash_dedup_persisted", layer="C", oracle=_INCR_MH_SQL)
def incremental_minhash_dedup_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """incremental_minhash_dedup with the corpus signature index
    ROUND-TRIPPED THROUGH STORAGE (incremental_dedup_persisted's
    discipline): the (doc_id, nw, band1..band4, hw) index is WRITTEN
    to parquet, READ BACK as an independent scan, and the batch is
    probed against the read-back index. Same oracle, so the driver
    hash proves the persisted fuzzy index is verdict-equivalent to the
    inline one — the production property a rolling crawl relies on
    (the index lives in storage between increments; at 100 TB it would
    be written partitioned by a band-key prefix so the probe join
    partition-prunes)."""
    import os
    import shutil
    import tempfile

    rpb, corpus_rep, batch_rep, batch_rows = _minhash_incr_parts(spark, sf_dir)
    idx_root = tempfile.mkdtemp(prefix="cuttlefish_mh_idx_")
    idx_path = os.path.join(idx_root, "corpus_minhash_index")
    try:
        corpus_rep.write.mode("overwrite").parquet(idx_path)
        stored_index = spark.read.parquet(idx_path)
        out = _minhash_incr_verdicts(
            stored_index, batch_rep, batch_rows, rpb
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(idx_root, ignore_errors=True)
    return out


@query("incremental_minhash_index_update", layer="C", oracle=_INCR_MH_IDX_SQL)
def incremental_minhash_index_update(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The DAY-2 half of the rolling-crawl fuzzy-dedup loop — the
    index APPEND incremental_minhash_dedup's docstring leaves to
    production, made a verified operator: run the batch verdicts, then
    emit the UPDATED signature-index manifest — every existing corpus
    rep (is_new = false) plus the batch reps that survived both probes
    (verdict 'kept'; only reps can survive — a non-rep member is
    always near_dup_in_batch of its own rep), is_new = true. Writing
    this manifest back to the index location is tomorrow's
    incremental_minhash_dedup_persisted input; together the three
    queries close the ingest -> probe -> append cycle a 100 TB rolling
    corpus runs daily.

    Output stays scalar (doc_id, nw, band1..band4, is_new) — the
    stored index also carries the hw arrays (the persisted variant
    proves they round-trip); the manifest is what an operator audits.

    Scale shape: identical to incremental_minhash_dedup plus one
    anti-join of batch reps against the two hit-sets and a unionByName
    — no new shuffle class; the appended rows are one per distinct NEW
    token set, so the index grows by content novelty, not crawl
    volume."""
    rpb, corpus_rep, batch_rep, batch_rows = _minhash_incr_parts(spark, sf_dir)
    verd = _minhash_incr_verdicts(corpus_rep, batch_rep, batch_rows, rpb)
    kept = verd.filter(F.col("verdict") == "kept").select("doc_id")
    cols = ["doc_id", "nw", "band1", "band2", "band3", "band4"]
    old_rows = corpus_rep.select(*cols).withColumn("is_new", F.lit(False))
    new_rows = (
        batch_rep.join(kept, "doc_id").select(*cols)
        .withColumn("is_new", F.lit(True))
    )
    return old_rows.unionByName(new_rows)


SRC_OVERLAP_CAP = 10

_SRC_OVERLAP_SQL = rf"""
    WITH ss AS (
        SELECT DISTINCT source, s FROM (
            SELECT source, unnest(list_distinct(list_transform(
                range(1, greatest(len(w) - 3, 1)),
                i -> array_to_string(w[i:i+4], '_')))) AS s
            FROM (SELECT source,
                         regexp_split_to_array(trim(lower(text)), '\s+') AS w
                  FROM documents))
    ),
    rare AS (
        SELECT s FROM (SELECT s, COUNT(*) AS c FROM ss GROUP BY s)
        WHERE c <= {SRC_OVERLAP_CAP}
    ),
    rs AS (SELECT ss.source, ss.s FROM ss JOIN rare USING (s)),
    sz AS (SELECT source, COUNT(*) AS n FROM rs GROUP BY source),
    ov AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_shared
        FROM rs a JOIN rs b ON a.s = b.s AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT ov.source_a, ov.source_b, ov.n_shared,
           CAST(ov.n_shared AS DOUBLE) / (za.n + zb.n - ov.n_shared)
               AS jaccard
    FROM ov
    JOIN sz za ON za.source = ov.source_a
    JOIN sz zb ON zb.source = ov.source_b
    ORDER BY source_a, source_b
"""


@query("source_overlap_matrix", layer="C", oracle=_SRC_OVERLAP_SQL)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every pair of document
    sources, how many RARE 5-gram shingles they share and the Jaccard
    of their rare-shingle sets — the corpus-curation view of
    decontaminate (which audits doc-to-doc; this audits the source
    mixture itself, the table you read before deciding which crawls
    double-count each other).

    Scale shape: the pairwise comparison is NOT all-pairs over
    sources — it is an inverted-index self-join on shingle, and the
    DF cap (shingles in <= {SRC_OVERLAP_CAP} sources) bounds the
    fan-out of every join key at C({SRC_OVERLAP_CAP},2) pairs, the
    same boilerplate-kill that protects decontaminate. First a
    distinct (source, shingle) projection (one shuffle — dedups the
    per-doc explosion inside each source), then the capped self-join,
    then a (source_a, source_b) aggregate whose key space is at most
    sources^2 but in practice the sparse overlap pairs. Source-set
    sizes broadcast back onto the result (|sources| rows). Jaccard is
    an unrounded quotient of identical BIGINTs — deterministic
    cross-engine. At 100 TB sources number in the thousands, shingles
    in the trillions: every stage is a keyed shuffle on
    high-cardinality keys; nothing driver-side."""
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    sh = F.array_distinct(word_shingles(tokens(F.col("text")), k=5))
    ss = (
        d.select("source", F.explode(sh).alias("s"))
        .distinct()
    )
    rare = (
        ss.groupBy("s")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") <= SRC_OVERLAP_CAP)
        .select("s")
    )
    # localCheckpoint, not persist(): the plan reuses rs on both sides
    # of the self-join plus the size aggregate, but a bare persist()
    # with no unpersist() leaks a cached (source, shingle) frame into
    # storage memory for the session lifetime in a long-lived engine
    # (ADVICE r5). Eager localCheckpoint materializes once and is
    # reclaimed with the DataFrame itself.
    rs = ss.join(rare, "s").localCheckpoint(eager=True)
    sz = rs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = rs.alias("a"), rs.alias("b")
    ov = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    za = sz.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    zb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        ov.join(F.broadcast(za), "source_a")
        .join(F.broadcast(zb), "source_b")
        .select(
            "source_a", "source_b", "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


@query(
    "substring_dedup_apply",
    layer="C",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+')
               END AS w
        FROM documents
    ),
    seg AS (
        SELECT doc_id, i AS pos,
               CAST('0x' || substr(
                   md5(array_to_string(w[i : i + {_SS_W} - 1], ' ')),
                   1, 15) AS BIGINT) AS h
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, len(w) - {_SS_W} + 1)) AS i
              FROM t WHERE len(w) >= {_SS_W})
    ),
    occ AS (SELECT h, count(*) AS n_occ FROM seg GROUP BY h),
    dup AS (
        SELECT seg.doc_id, seg.pos
        FROM seg JOIN occ USING (h)
        WHERE occ.n_occ >= {_SS_MIN_OCC}
    ),
    isl AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                              ORDER BY pos) <= {_SS_W}
                    THEN 0 ELSE 1 END AS brk
        FROM dup
    ),
    grp AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS g
        FROM isl
    ),
    spans AS (
        SELECT doc_id, min(pos) AS s, max(pos) + {_SS_W} - 1 AS e
        FROM grp GROUP BY doc_id, g
    ),
    sp_arr AS (
        SELECT t.doc_id,
               list({{'s': sp.s, 'e': sp.e}}) FILTER (sp.s IS NOT NULL)
                   AS spans
        FROM t LEFT JOIN spans sp USING (doc_id)
        GROUP BY t.doc_id
    ),
    kept AS (
        SELECT t.doc_id,
               list_filter(
                   list_transform(generate_series(1, len(t.w)),
                                  i -> {{'i': i, 'tok': t.w[i]}}),
                   x -> COALESCE(len(list_filter(sa.spans,
                                 s2 -> x.i BETWEEN s2.s AND s2.e)), 0) = 0
               ) AS ks,
               len(t.w) AS n_before
        FROM t JOIN sp_arr sa USING (doc_id)
        WHERE len(t.w) >= 1
    )
    SELECT doc_id,
           CAST(n_before AS BIGINT) AS n_tokens_before,
           CAST(len(ks) AS BIGINT) AS n_tokens_after,
           md5(COALESCE(array_to_string(list_transform(ks, x -> x.tok), ' '),
                        '')) AS cleaned_md5
    FROM kept
    """,
)
def substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of exact-substring dedup (Lee et al. 2021 cut
    the spans from the training text, not just flag them):
    substring_dedup_spans' maximal duplicated spans are removed from
    each document's token stream, and the row reports before/after
    token counts plus the md5 of the CLEANED text — the oracle proves
    the reconstructed document byte-for-byte, not just the counts.
    Docs with no duplicated spans pass through intact (cleaned_md5 =
    md5 of the normalized original).

    Span application is positional set-subtraction, all inside array
    expressions: each doc carries its (start, end) span list as a
    broadcast-sized array column (collect_list over the per-doc spans
    — O(spans per doc), not corpus-wide), and a single
    filter(transform(sequence...)) drops tokens whose 1-based position
    falls inside any span. No per-token join, no window beyond the
    span derivation shared with substring_dedup_spans.

    Scale shape: the detection half is substring_dedup_spans'
    (window-hash counts + per-doc islands); the apply half is one
    LEFT join of docs to their grouped span arrays (uniform doc_id
    key) and a narrow map. Output is one row per doc. At 100 TB this
    is the operator whose output feeds the tokenizer — which is why
    the md5-of-text contract matters more here than anywhere else."""
    from pyspark.sql import Window

    d = spread(spark, load_table(spark, sf_dir, "documents"))
    w = tokens(F.col("text"))
    base = d.select("doc_id", w.alias("w"), F.size(w).alias("n_tokens"))
    seg = (
        base.filter(F.col("n_tokens") >= _SS_W)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.col("n_tokens") - (_SS_W - 1))
            ).alias("pos"),
            "w",
        )
        .select(
            "doc_id",
            "pos",
            hash60(F.array_join(F.slice(F.col("w"), F.col("pos"), _SS_W), " ")).alias(
                "h"
            ),
        )
    )
    occ = seg.groupBy("h").agg(F.count(F.lit(1)).alias("n_occ"))
    dup = seg.join(occ.filter(F.col("n_occ") >= _SS_MIN_OCC), "h").select(
        "doc_id", "pos"
    )
    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    brk = (
        F.when(F.col("pos") - F.lag("pos").over(by_doc) <= _SS_W, F.lit(0))
        .otherwise(F.lit(1))
        .alias("brk")
    )
    grp = dup.select("doc_id", "pos", brk).select(
        "doc_id",
        "pos",
        F.sum("brk").over(by_doc.rowsBetween(Window.unboundedPreceding, 0)).alias("g"),
    )
    spans = (
        grp.groupBy("doc_id", "g")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + (_SS_W - 1)).alias("e"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("spans"))
    )
    # typed empty array: a bare F.array() is array<string> and the
    # coalesce silently null-poisons the struct lambda for span-less docs
    empty = F.expr("CAST(array() AS array<struct<s:int,e:int>>)")
    joined = base.join(spans, "doc_id", "left").withColumn(
        "spans", F.coalesce("spans", empty)
    )
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.col("n_tokens")),
            lambda i: F.struct(i.alias("i"), F.element_at("w", i).alias("tok")),
        ),
        lambda x: ~F.exists(
            F.col("spans"),
            lambda sp: (x["i"] >= sp["s"]) & (x["i"] <= sp["e"]),
        ),
    )
    return joined.filter(F.col("n_tokens") >= 1).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens_before"),
        F.size(kept).cast("long").alias("n_tokens_after"),
        F.md5(
            F.array_join(F.transform(kept, lambda x: x["tok"]), " ")
        ).alias("cleaned_md5"),
    )
