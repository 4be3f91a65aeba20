"""Reusable Column builders.

Design constraints (these matter at 100 TB):

- Everything here is a *built-in-function composition* — it stays
  JVM-side inside whole-stage codegen. No Python row UDFs.
- Hash functions are *portable*: `md5`-derived, so the DuckDB oracle
  computes byte-identical values. Spark's `hash()`/`xxhash64()` are
  faster but engine-specific; md5 keeps every dedup/similarity operator
  oracle-checkable. (Swap `hash60` for `xxhash64` in production if
  cross-engine reproducibility is not needed.)
- Money/metric aggregation goes through DECIMAL so sums are
  order-independent (double summation depends on partition order;
  decimal does not) — then back to DOUBLE at the output boundary so
  result schemas stay engine-neutral.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def get_in(col: Column | str, path: str, default=None) -> Column:
    """Nested-path extraction with default-on-miss over a JSON string
    column.

    Parity with the reference's `get-in` / `hash-refs`
    (/root/reference/private/hash.rkt:30-35, 51-54): missing paths
    yield the supplied default instead of erroring.
    """
    c = F.col(col) if isinstance(col, str) else col
    extracted = F.get_json_object(c, path)
    if default is None:
        return extracted
    return F.coalesce(extracted, F.lit(default))


# Decimal places dec_sum quantizes to (the oracles' DECIMAL(18,6)).
DEC_SCALE = 6


def dec_sum(col: Column, alias: str | None = None) -> Column:
    """Order-independent SUM: quantize each input to 10^-scale units
    (scale = DEC_SCALE) as a LONG (round half-up, same quantization
    DECIMAL(18,scale) applies), sum exactly in JVM long arithmetic,
    divide back to DOUBLE. Matches
    DuckDB `CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)` — DuckDB
    stores that decimal as a scaled int64 and its cast-to-double is the
    same integer/10^s division performed here.

    Long-micros instead of Spark's Decimal sum because the Decimal path
    is ~5x slower (BigDecimal boxing per row: measured 1.85s vs 0.4s
    for six sums over 600k rows); the quantized-integer sum is exactly
    as order-independent. Capacity: |total| < 2^63/10^scale (9.2e12 at
    scale 6) — beyond that, widen to sum(cast(.. as decimal(38,0))).

    CROSS-ENGINE boundary at |total| > 2^53/10^scale (~9.0e9 at scale
    6): past it the scaled integer no longer fits a double exactly, so
    this helper's int->double->divide and DuckDB's decimal->double cast
    may differ by one ulp (double rounding vs correct rounding — wild-
    caught by the r7 sf1 gate on TPC-H q1's sum_charge at 2.1e10).
    Oracles for aggregates that can exceed it must use the same
    two-step: CAST(CAST(sum_decimal * 10^scale AS BIGINT) AS DOUBLE)
    / 10^scale — bit-identical to this helper at ANY magnitude, and
    value-identical to the plain decimal cast below the boundary (see
    _Q1_SQL, relational_ext.py)."""
    q = 10 ** DEC_SCALE
    out = F.sum(F.round(col * q).cast("long")) / F.lit(float(q))
    return out.alias(alias) if alias else out


def tokens(text: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization; empty/blank text -> empty array.

    Guarded because `split('') -> ['']` in both Spark and DuckDB.
    """
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def word_shingles(words: Column, k: int = 3, sep: str = "_") -> Column:
    """k-word shingles from a token array: positions i..i+k-1 joined by
    `sep`; fewer than k tokens -> empty array.

    Built with sequence+slice so it stays inside codegen (no explode
    needed to *build* shingles; explode only if a caller wants rows).
    """
    n = F.size(words)
    idx = F.sequence(F.lit(1), n - (k - 1))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(words, i, k), sep))
    return F.when(n >= k, sh).otherwise(F.array().cast("array<string>"))


def hash60(col: Column) -> Column:
    """Portable 60-bit non-negative hash: first 15 hex chars of md5,
    parsed base-16. DuckDB equivalent:
    `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over two array<double> columns.

    `F.aggregate` folds left in element order, matching DuckDB's
    `list_dot_product` evaluation order, so doubles agree bitwise."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity = dot/(|a|*|b|), arrays cast to double by the
    caller. Formula mirrored exactly in the oracle SQL."""
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))
    # r14 negative result, kept as a comment so it isn't retried: an
    # unrolled fixed-dim expression tree (0.0 + a1*b1 + ... + a64*b64,
    # element_at per term) IS whole-stage-codegen compiled where the
    # F.aggregate fold is CodegenFallback — and still measured ~2x
    # SLOWER than the interpreted fold on the k-NN pair stream (64
    # bounds-checked element_at calls + a giant generated method beat
    # the fold's specialized primitive-array loop). The win that
    # survives measurement is precomputing norms per VECTOR so pair
    # stages run ONE dot instead of three (see similarity._knn_score).
