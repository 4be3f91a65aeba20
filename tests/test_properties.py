"""Property-based tests (hypothesis) for the closed-form math the
engine relies on — the pieces where an off-by-one would corrupt
results silently rather than crash.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st


def _ntile_closed_form(rn: int, n: int, k: int) -> int:
    """The bucket formula feature_binning applies to the global row
    number (first n%k buckets take ceil(n/k) rows, the rest floor)."""
    import math

    q, r = divmod(n, k)
    if rn <= r * (q + 1):
        return math.ceil(rn / (q + 1))
    return r + math.ceil((rn - r * (q + 1)) / max(q, 1))


def _ntile_reference(n: int, k: int) -> list[int]:
    """Definitional NTILE: deal n ordered rows into k buckets, bucket
    sizes differing by at most one, larger buckets first."""
    q, r = divmod(n, k)
    out = []
    for bucket in range(1, k + 1):
        out.extend([bucket] * (q + (1 if bucket <= r else 0)))
    return out


@given(n=st.integers(1, 500), k=st.integers(1, 20))
@settings(max_examples=200, deadline=None)
def test_ntile_closed_form_matches_definition(n, k):
    want = _ntile_reference(n, k)
    got = [_ntile_closed_form(rn, n, k) for rn in range(1, n + 1)]
    assert got == want


@given(
    subtotals=st.lists(st.integers(0, 1000), min_size=1, max_size=50),
)
@settings(max_examples=100, deadline=None)
def test_exclusive_prefix_offsets(subtotals):
    """The offset construction used by token_budget_trim /
    feature_binning: offset[i] + within-partition cumsum must equal
    the global cumsum for every element, for ANY partition split."""
    offsets, acc = [], 0
    for sub in subtotals:
        offsets.append(acc)
        acc += sub
    running = 0
    for i, sub in enumerate(subtotals):
        assert offsets[i] == running
        running += sub
    assert acc == sum(subtotals)


def _chunk_spans(n_tok: int, w: int, s: int) -> list[tuple[int, int]]:
    """The chunk layout doc_chunking computes: [kS, min(kS+W, n)) for
    k in 0..n_chunks-1 with the closed-form count."""
    import math

    if n_tok == 0:
        return []
    n_chunks = 1 if n_tok <= w else math.ceil((n_tok - w) / s) + 1
    return [(k * s, min(k * s + w, n_tok)) for k in range(n_chunks)]


@given(n_tok=st.integers(0, 2000))
@settings(max_examples=300, deadline=None)
def test_chunk_layout_covers_exactly(n_tok):
    """Every token is covered, the last chunk reaches the end, no
    chunk is empty, and no chunk is fully contained in its
    predecessor (W=64, S=48 — the doc_chunking constants)."""
    w, s = 64, 48
    spans = _chunk_spans(n_tok, w, s)
    if n_tok == 0:
        assert spans == []
        return
    covered = set()
    for a, b in spans:
        assert a < b, "empty chunk emitted"
        covered.update(range(a, b))
    assert covered == set(range(n_tok))
    assert spans[-1][1] == n_tok
    for (a1, b1), (a2, b2) in zip(spans, spans[1:]):
        assert not (a2 >= a1 and b2 <= b1), "chunk fully contained in predecessor"


@given(x=st.integers(0, 255), y=st.integers(0, 255))
@settings(max_examples=200, deadline=None)
def test_morton_interleave_expr_matches_reference(x, y):
    """The generated arithmetic interleave (zorder_layout's _Z_SPARK /
    _Z_DUCK SQL) must equal the definitional Morton code: x in even
    bit positions, y in odd."""
    from cuttlefish_spark.operators.scale import _interleave_expr

    expr = _interleave_expr("qx", "qy", lambda c, i: f"({c} >> {i})")
    got = eval(expr, {}, {"qx": x, "qy": y})
    want = 0
    for i in range(8):
        want |= ((x >> i) & 1) << (2 * i)
        want |= ((y >> i) & 1) << (2 * i + 1)
    assert got == want


@settings(max_examples=300, deadline=None)
@given(
    pairs=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "ab", "bc", "ca"]),
            st.sampled_from(["a", "b", "c", "ab", "bc", "ca"]),
        ),
        min_size=1,
        max_size=8,
        unique=True,
    ),
    seq=st.lists(
        st.sampled_from(["a", "b", "c", "ab", "bc", "ca"]),
        min_size=0,
        max_size=12,
    ),
)
def test_bpe_dominance_batch_is_chain_free(pairs, seq):
    """The batched-BPE correctness core (bpe_train_merges_batched): for
    ANY ranked candidate list, applying the dominance-selected batch
    via a single greedy left-to-right fold (the Spark side) must equal
    applying it via run-parity on the ORIGINAL sequence (the DuckDB
    window side). The 1-hop dominance rule — no symbol OR merged-string
    overlap with a higher-ranked candidate — is exactly what makes the
    two algorithms agree; raw unfiltered batches can chain-merge in the
    fold and diverge (symbol universe here includes 'ab' so ('a','b')
    -> 'ab' collisions with ('ab', x) candidates are generated)."""
    from cuttlefish_spark.operators.curation import _bpe_dominance_batch

    cand = [(l, r, 1000 - i) for i, (l, r) in enumerate(pairs)]
    batch = {(l, r): l + r for l, r, _c in _bpe_dominance_batch(cand)}

    # Spark-side fold: merge when (last, current) is a batch pair.
    acc: list[str] = []
    for x in seq:
        if acc and (acc[-1], x) in batch:
            acc[-1] = batch[(acc[-1], x)]
        else:
            acc.append(x)

    # Oracle-side run-parity on the ORIGINAL sequence: among each run
    # of consecutive match positions, offsets 0, 2, 4... are active.
    matches = [
        j for j in range(len(seq) - 1) if (seq[j], seq[j + 1]) in batch
    ]
    active: set[int] = set()
    run: list[int] = []
    for j in matches + [None]:  # sentinel flushes the last run
        if j is not None and run and j == run[-1] + 1:
            run.append(j)
            continue
        active.update(jj for i, jj in enumerate(run) if i % 2 == 0)
        run = [j] if j is not None else []
    out: list[str] = []
    skip = False
    for j, x in enumerate(seq):
        if skip:
            skip = False
            continue
        if j in active:
            out.append(x + seq[j + 1])
            skip = True
        else:
            out.append(x)

    assert acc == out, (seq, sorted(batch), acc, out)
