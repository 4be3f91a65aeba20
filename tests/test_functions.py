"""Property + unit tests for the scalar/column helpers, mirroring the
reference's test suite: quickcheck properties over nested-path
extraction (hash.rkt:110-140), example tests for defaults
(hash.rkt:73-108), plus the engine's own portable-hash/tokenizer/
markdown/throttle units.
"""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from cuttlefish_spark.functions import get_in, hash60, tokens, word_shingles
from cuttlefish_spark.functions.markdown import render_markdown
from cuttlefish_spark.sources.throttle import Throttle

# --- get_in: the hash.rkt:110-140 properties, over JSON columns -----

_scalars = st.one_of(
    st.integers(min_value=-(2**31), max_value=2**31),
    st.text(st.characters(codec="ascii", exclude_characters='"\\\x00'), max_size=8),
)


@st.composite
def nested_json(draw, max_depth=3):
    """Random nested dict + a path that resolves inside it."""
    keys = st.text(st.characters(codec="ascii", min_codepoint=97, max_codepoint=122), min_size=1, max_size=5)
    path, node = [], {}
    root = node
    depth = draw(st.integers(min_value=1, max_value=max_depth))
    for _ in range(depth):
        k = draw(keys)
        path.append(k)
        child = draw(st.one_of(_scalars, st.just({})))
        node[k] = child
        if isinstance(child, dict):
            node = child
        else:
            break
    return root, path


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(nested_json())
def test_get_in_found_path_returns_value(spark, case):
    """path found => value at path (hash.rkt property 1)."""
    doc, path = case
    df = spark.createDataFrame([Row(js=json.dumps(doc))])
    jp = "$." + ".".join(path)
    got = df.select(get_in("js", jp).alias("v")).first()["v"]
    want = doc
    for k in path:
        want = want[k]
    if isinstance(want, dict):
        assert got is None or json.loads(got) == want
    else:
        assert got == str(want) or got == json.dumps(want)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(nested_json())
def test_get_in_missing_path_returns_default(spark, case):
    """wrong path => default (hash.rkt property 2)."""
    doc, _ = case
    df = spark.createDataFrame([Row(js=json.dumps(doc))])
    got = df.select(get_in("js", "$.zz_nope.deeper", default="DEFAULT").alias("v")).first()["v"]
    assert got == "DEFAULT"


def test_get_in_example_defaults(spark):
    """Example-based checks mirroring hash.rkt:73-108."""
    df = spark.createDataFrame([Row(js='{"a": {"b": {"c": 7}}}')])
    assert df.select(get_in("js", "$.a.b.c").alias("v")).first()["v"] == "7"
    assert df.select(get_in("js", "$.a.x", default="miss").alias("v")).first()["v"] == "miss"


# --- tokenizer / shingles ------------------------------------------


@pytest.mark.parametrize(
    "text,n_tokens",
    [("", 0), ("   ", 0), ("one", 1), ("a  b\tc", 3), ("Hello World", 2)],
)
def test_tokens_edge_cases(spark, text, n_tokens):
    df = spark.createDataFrame([Row(t=text)])
    assert df.select(F.size(tokens(F.col("t"))).alias("n")).first()["n"] == n_tokens


@pytest.mark.parametrize(
    "words,k,expect",
    [
        (["a", "b", "c", "d"], 3, ["a_b_c", "b_c_d"]),
        (["a", "b"], 3, []),
        ([], 3, []),
        (["a", "b", "c"], 3, ["a_b_c"]),
    ],
)
def test_word_shingles(spark, words, k, expect):
    df = spark.createDataFrame([Row(w=words)], "w array<string>")
    assert df.select(word_shingles(F.col("w"), k=k).alias("s")).first()["s"] == expect


def _word_shingles_per_position(words, k, sep="_"):
    """The former builder, kept as the reference: a `transform` over
    positions 1..n-k+1 that slices and joins `words` at each."""
    n = F.size(words)
    idx = F.sequence(F.lit(1), n - (k - 1))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(words, i, k), sep))
    return F.when(n >= k, sh).otherwise(F.array().cast("array<string>"))


# Tabs, newlines and other whitespace that `F.trim` (spaces only) keeps
# but the `\s+` split consumes, so texts can start with an empty token.
_WHITESPACE_HEAVY = st.text(st.sampled_from(list(" \t\n\r\x0b\x0c\u00a0\u3000") + list("aBé_")),
                            max_size=24)


@given(texts=st.lists(st.none() | _WHITESPACE_HEAVY, min_size=1, max_size=20),
       k=st.integers(1, 5))
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_word_shingles_matches_the_per_position_builder(spark, texts, k):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    toks = tokens(F.col("text"))
    rows = df.select(word_shingles(toks, k=k).alias("new"),
                     _word_shingles_per_position(toks, k).alias("old")).collect()
    assert [r["new"] for r in rows] == [r["old"] for r in rows]


def test_hash60_matches_duckdb(spark):
    import duckdb

    vals = ["hello", "", "spark", "a b c"]
    got = (
        spark.createDataFrame([Row(s=v) for v in vals])
        .select("s", hash60(F.col("s")).alias("h"))
        .collect()
    )
    con = duckdb.connect()
    for row in got:
        want = con.execute(
            "SELECT CAST('0x' || substr(md5(?), 1, 15) AS BIGINT)", [row["s"]]
        ).fetchone()[0]
        assert row["h"] == want, row["s"]


# --- markdown (facebook.rkt:30-32 parity) --------------------------


def test_markdown_wrapper_and_subset():
    html = render_markdown("# Title\n\nHello **bold** and *em* [x](http://y)")
    assert html.startswith('<div class="event-api-content">')
    assert html.endswith("</div>")
    for frag in ("<h1>Title</h1>", "<strong>bold</strong>", "<em>em</em>", 'href="http://y"'):
        assert frag in html
    assert render_markdown(None) is None


# --- throttle (meetup.rkt:9-26 parity) -----------------------------


def test_token_bucket_header_backoff():
    clock = [0.0]
    sleeps = []
    tb = Throttle(
        clock=lambda: clock[0], sleep=lambda s: (sleeps.append(s), clock.__setitem__(0, clock[0] + s)),
    )
    tb.update_from_headers({"X-Ratelimit-Remaining": "2", "X-Ratelimit-Reset": "7"})
    tb.wait()
    assert sleeps and abs(sleeps[0] - 9.0) < 1e-6  # reset + 2 (meetup.rkt:12-17)
    tb.update_from_headers({"X-Ratelimit-Remaining": "50", "X-Ratelimit-Reset": "7"})
    n = len(sleeps)
    tb.wait()
    assert len(sleeps) == n  # plenty remaining -> no backoff


def test_ppm_decoder_roundtrip_and_guard():
    """_decode_ppm genuinely parses the format: round-trips the
    synthesized payload (dims + every pixel byte), rejects non-PPM
    magics with NotImplementedError (the absent-codec guard), and
    survives pixel bytes that collide with whitespace (the header
    parser must consume exactly one separator after maxval)."""
    import numpy as np
    import pytest as _pytest

    from cuttlefish_spark.operators.multimodal import (
        _decode_ppm,
        _ppm_dims,
        _ppm_payload,
    )

    for doc_id in (0, 1, 5, 7, 12, 254, 255, 256):
        w, h, px = _decode_ppm(_ppm_payload(doc_id))
        assert (w, h) == _ppm_dims(doc_id)
        expect = (doc_id * 7 + np.arange(w * h * 3)) % 256
        assert (px.reshape(-1) == expect).all()
    # doc_id=38: first pixel byte is 0x0A (38*7 % 256 == 10) — the
    # whitespace-collision case a split(None)-style parser corrupts
    w, h, px = _decode_ppm(_ppm_payload(38))
    assert px.reshape(-1)[0] == 10
    with _pytest.raises(NotImplementedError):
        _decode_ppm(b"\xff\xd8\xff\xe0 jpeg bytes")
    with _pytest.raises(NotImplementedError):
        _decode_ppm(b"P6\n2 2\n65535\n" + b"\x00" * 24)


def test_memo_put_evicts_superseded_corpus_entries():
    """memo_put keeps at most one corpus identity per (session, path):
    inserting a key with a changed (mtime, size) evicts the superseded
    entry and unpersists DataFrames inside its value; entries for other
    paths or other sessions — and same-identity keys with different
    extras (BPE depth) — survive."""
    from cuttlefish_spark.io import memo_put

    class FakeDF:
        def __init__(self):
            self.unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    cache: dict = {}
    old_df = FakeDF()
    memo_put(cache, ("app", "/p/docs", 100, 5), ("w", old_df))
    memo_put(cache, ("app", "/p/docs", 100, 5, 8), "depth8")  # extra key
    memo_put(cache, ("app", "/p/other", 100, 5), "other-path")
    # same path, new mtime -> both /p/docs entries evicted, df unpersisted
    memo_put(cache, ("app", "/p/docs", 200, 6), "fresh")
    assert old_df.unpersisted
    assert ("app", "/p/docs", 100, 5) not in cache
    assert ("app", "/p/docs", 100, 5, 8) not in cache
    assert cache[("app", "/p/docs", 200, 6)] == "fresh"
    assert cache[("app", "/p/other", 100, 5)] == "other-path"


# --- unigram Viterbi DP (operators/unigram.py) ----------------------


def _brute_force_viterbi(word: str, cost: dict) -> tuple[int, str]:
    """Reference: enumerate EVERY segmentation into known pieces of
    length 1..4 and take the (cost, seg-string) lexicographic min —
    the semantics the DP fold claims."""
    best: list[tuple[int, str] | None] = [None] * (len(word) + 1)
    # exhaustive DFS, no memo: word <= 8 chars keeps it trivial
    results: list[tuple[int, str]] = []

    def rec(pos: int, acc_cost: int, pieces: list[str]) -> None:
        if pos == len(word):
            results.append((acc_cost, " ".join(pieces)))
            return
        for L in range(1, 5):
            piece = word[pos : pos + L]
            if len(piece) == L and piece in cost:
                rec(pos + L, acc_cost + cost[piece], pieces + [piece])

    rec(0, 0, [])
    assert results, f"unsegmentable word {word!r}"
    return min(results)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.data())
def test_unigram_viterbi_matches_brute_force(spark, data):
    """The F.aggregate Viterbi fold returns the SAME segmentation as
    exhaustive enumeration under (cost, seg) lexicographic order —
    including tie-breaks, the part a hash match at one corpus can't
    fully pin."""
    from pyspark.sql import Row

    from cuttlefish_spark.operators.unigram import _ug_seg_col

    alphabet = "ab"
    words = [
        "".join(data.draw(st.sampled_from(alphabet)) for _ in range(
            data.draw(st.integers(min_value=1, max_value=8))))
        for _ in range(4)
    ]
    # vocab: all single chars (reachability invariant) + random pieces
    pieces = {c: data.draw(st.integers(min_value=1, max_value=9)) for c in alphabet}
    for _ in range(data.draw(st.integers(min_value=0, max_value=6))):
        L = data.draw(st.integers(min_value=2, max_value=4))
        p = "".join(data.draw(st.sampled_from(alphabet)) for _ in range(L))
        pieces[p] = data.draw(st.integers(min_value=1, max_value=9))

    df = spark.createDataFrame([Row(word=w) for w in words])
    got = {
        r["word"]: r["seg"]
        for r in df.select("word", _ug_seg_col(pieces).alias("seg")).collect()
    }
    for w in words:
        assert got[w] == _brute_force_viterbi(w, pieces)[1], (w, pieces)
