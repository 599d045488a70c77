"""Property-based verification for the round-5 ML operators.

The randomized-oracle-diff strategy the reference models (O24,
SURVEY §5), applied to the two operators whose semantics carry the
most edge cases:

- x95/x96 BPE: engine merges and post-merge vocabulary vs a
  pure-Python Sennrich reference over small-alphabet corpora, which
  maximizes overlap runs ("aaaa"), argmax ties, single-char words,
  and MERGE-EXHAUSTED corpora (no adjacent pair anywhere — the case
  that caught the empty-agg NULL row and the vanishing-symbol-
  relation bug fixed in round 5);
- x94 k-means: engine assignments vs a numpy-free integer reference
  replicating the exact BIGINT arithmetic (floor-quantize, squared
  distance, argmin tie on cluster id, floor-division centroid
  update), including duplicate points and fewer points than K.
"""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F  # noqa: F401

from enexory_parquet_export_spark import queries_ext as qx
from enexory_parquet_export_spark.queries_ext import (
    _BPE_ITERS,
    _KMEANS_ITERS,
    _KMEANS_K,
    bpe_merges,
    kmeans_assign,
)

from tests.test_edge_fixtures import _bpe_reference, _bpe_reference_vocab

# small alphabet → dense pair collisions, ties, and overlap runs
_word = st.text(alphabet="abc", min_size=1, max_size=6)
_corpus = st.dictionaries(_word, st.integers(1, 5), min_size=1,
                          max_size=8)


@settings(max_examples=10, deadline=None, derandomize=True)
@given(_corpus)
def test_bpe_merges_match_reference(spark, word_counts):
    wc = spark.createDataFrame(list(word_counts.items()),
                               "word string, cnt bigint")
    got = [(r["left_sym"], r["right_sym"], r["pair_count"])
           for r in bpe_merges(wc).collect()]
    assert got == _bpe_reference(dict(word_counts), _BPE_ITERS)


@settings(max_examples=10, deadline=None, derandomize=True)
@given(_corpus)
def test_bpe_vocab_matches_reference(spark, word_counts):
    wc = spark.createDataFrame(list(word_counts.items()),
                               "word string, cnt bigint")
    sym = bpe_merges(wc, return_symbols=True)
    got = sorted(
        ((r["s"], r["occurrences"]) for r in
         sym.groupBy("s").agg(F.sum("cnt").cast("bigint")
                              .alias("occurrences")).collect()),
        key=lambda kv: (-kv[1], kv[0]))
    assert got == _bpe_reference_vocab(dict(word_counts), _BPE_ITERS)


def test_bpe_artifact_cache_value_identity(spark):
    """The session-scoped artifact cache (cache_key=...) must be
    value-invisible: cached merge table and symbol relation equal the
    uncached build, and repeat calls are served from the cache (same
    persisted object / no new artifact entries)."""
    words = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "a": 9}
    wc = spark.createDataFrame(list(words.items()),
                               "word string, cnt bigint")
    qx._BPE_ARTIFACTS.clear()
    try:
        key = "test-bpe-cache"
        plain = [tuple(r) for r in bpe_merges(wc).sort("step").collect()]
        cached = [tuple(r) for r in
                  bpe_merges(wc, cache_key=key).sort("step").collect()]
        assert cached == plain
        n_art = len(qx._BPE_ARTIFACTS)
        again = [tuple(r) for r in
                 bpe_merges(wc, cache_key=key).sort("step").collect()]
        assert again == plain
        assert len(qx._BPE_ARTIFACTS) == n_art  # pure hit, no rebuild
        sym_plain = {(r["word"], r["cnt"], r["p"], r["s"]) for r in
                     bpe_merges(wc, return_symbols=True).collect()}
        s1 = bpe_merges(wc, return_symbols=True, cache_key=key)
        s2 = bpe_merges(wc, return_symbols=True, cache_key=key)
        assert s2 is s1           # persisted artifact object reused
        assert {(r["word"], r["cnt"], r["p"], r["s"])
                for r in s1.collect()} == sym_plain
    finally:
        for v in qx._BPE_ARTIFACTS.values():
            if hasattr(v, "unpersist"):
                v.unpersist()
        qx._BPE_ARTIFACTS.clear()


def _kmeans_reference(vecs: dict, k: int, iters: int):
    """Integer-exact Lloyd's replica: same quantization, distance,
    tie-break, and floor-division update as the declared query."""
    q = {vid: [math.floor(x * 1000) for x in v]
         for vid, v in vecs.items()}
    cent = {cid: list(q[vid])
            for cid, vid in enumerate(sorted(q)[:k])}
    asg = {}
    for it in range(iters):
        asg = {}
        for vid, v in q.items():
            best = min(
                (sum((x - c) ** 2 for x, c in zip(v, cent[cid])), cid)
                for cid in sorted(cent))
            asg[vid] = best  # (dist, cid)
        if it < iters - 1:
            sums: dict = {}
            for vid, (_, cid) in asg.items():
                s, n = sums.get(cid, ([0] * len(q[vid]), 0))
                sums[cid] = ([a + b for a, b in zip(s, q[vid])], n + 1)
            cent = {cid: [s_i // n for s_i in s]  # python // = floor
                    for cid, (s, n) in sums.items()}
    return {vid: (cid, dist) for vid, (dist, cid) in asg.items()}


_vec = st.lists(st.integers(-5000, 5000).map(lambda v: v / 1000.0),
                min_size=2, max_size=3)
_vecs = st.dictionaries(st.integers(0, 50), _vec, min_size=1,
                        max_size=12).filter(
    lambda d: len({len(v) for v in d.values()}) == 1)


@settings(max_examples=6, deadline=None, derandomize=True)  # r13 V#3: suite wall
@given(_vecs)
def test_kmeans_matches_integer_reference(spark, vecs):
    emb = spark.createDataFrame(
        [(vid, v, 0) for vid, v in sorted(vecs.items())],
        "vec_id bigint, embedding array<float>, label int")
    # the declared query casts float32 → double; quantization must see
    # the same values the reference computes on — feed exact
    # thousandths, which float32 does not round-trip, so build the
    # reference from the ROUND-TRIPPED values
    import struct
    rt = {vid: [struct.unpack("f", struct.pack("f", x))[0] for x in v]
          for vid, v in vecs.items()}
    want = _kmeans_reference(rt, _KMEANS_K, _KMEANS_ITERS)
    got = {r["vec_id"]: (r["cluster"], r["dist_q"])
           for r in kmeans_assign(emb).collect()}
    assert got == want


def test_kmeans_centroid_cache_value_identity(spark):
    """The session-scoped trained-centroid cache (cache_key=...) must
    be value-invisible: assignments from the cached model equal the
    uncached Lloyd run, and a repeat call reuses the stored rows."""
    import random
    rng = random.Random(94)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)], 0)
         for i in range(60)],
        "vec_id bigint, embedding array<double>, label int")
    qx._KMEANS_CENTROIDS.clear()
    try:
        plain = sorted(map(tuple, kmeans_assign(emb).collect()))
        cached = sorted(map(tuple, kmeans_assign(
            emb, cache_key="test-kmeans").collect()))
        assert cached == plain
        assert len(qx._KMEANS_CENTROIDS) == 1
        rows0 = next(iter(qx._KMEANS_CENTROIDS.values()))
        again = sorted(map(tuple, kmeans_assign(
            emb, cache_key="test-kmeans").collect()))
        assert again == plain
        assert next(iter(qx._KMEANS_CENTROIDS.values())) is rows0
    finally:
        qx._KMEANS_CENTROIDS.clear()


# ---------------------------------------------------------------------------
# r7-continuation operators: DSIR importance votes (x105) and
# temperature source mixing (x106) vs pure-Python references — the
# same randomized-oracle-diff strategy as the BPE/k-means suites.
# ---------------------------------------------------------------------------

_x105_doc = st.tuples(st.sampled_from(["en", "de"]),
                      st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
                               min_size=1, max_size=6))
_x105_corpus = st.lists(_x105_doc, min_size=1, max_size=8)


def _dsir_reference(docs):
    """docs: [(lang, [words])] → {doc_id: (n_tokens, score, selected)}."""
    ct, cb = {}, {}
    for lang, words in docs:
        tgt = lang == "en"
        for w in words:
            (ct if tgt else cb)[w] = (ct if tgt else cb).get(w, 0) + 1
    vocab = set(ct) | set(cb)
    nt, nb, v = sum(ct.values()), sum(cb.values()), len(vocab)
    votes = {}
    for w in vocab:
        rt = (ct.get(w, 0) + 1) / float(nt + v)
        rb = (cb.get(w, 0) + 1) / float(nb + v)
        votes[w] = 1 if rt > rb else (-1 if rt < rb else 0)
    out = {}
    for i, (lang, words) in enumerate(docs):
        score = sum(votes[w] for w in words)
        out[i] = (len(words), score, score > 0)
    return out


@settings(max_examples=3, deadline=None, derandomize=True)  # r13 V#3: suite wall
@given(_x105_corpus)
def test_x105_matches_pure_python_reference(spark, tmp_path_factory, docs):
    from enexory_parquet_export_spark.queries_ext import SPARK_QUERIES

    d = tmp_path_factory.mktemp("x105p")
    rows = [(i, " ".join(words), lang, "s0", len(" ".join(words)))
            for i, (lang, words) in enumerate(docs)]
    (spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
              " n_chars bigint")
     .coalesce(1).write.mode("overwrite")
     .parquet(str(d / "documents.parquet")))
    got = {r["doc_id"]: (r["n_tokens"], r["score"], r["selected"])
           for r in SPARK_QUERIES["x105_dsir_importance"](
               spark, str(d)).collect()}
    assert got == _dsir_reference(docs)


def _mixing_reference(source_of_doc):
    """{doc_id: source} → {source: quota}; largest-remainder, T=N//2."""
    ns = {}
    for s in source_of_doc.values():
        ns[s] = ns.get(s, 0) + 1
    wt = {s: math.floor(math.sqrt(n * 1e6)) for s, n in ns.items()}
    tw, nn = sum(wt.values()), sum(ns.values())
    t = nn // 2
    base = {s: (t * w) // tw for s, w in wt.items()}
    rem = {s: (t * w) % tw for s, w in wt.items()}
    bonus = t - sum(base.values())
    order = sorted(ns, key=lambda s: (-rem[s], s))
    return {s: base[s] + (1 if order.index(s) < bonus else 0) for s in ns}


@settings(max_examples=3, deadline=None, derandomize=True)  # r13 V#3: suite wall
@given(st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12))
def test_x106_quotas_match_pure_python_reference(spark, tmp_path_factory,
                                                 sources):
    from enexory_parquet_export_spark.queries_ext import SPARK_QUERIES

    d = tmp_path_factory.mktemp("x106p")
    rows = [(i, f"t{i}", "en", s, 2) for i, s in enumerate(sources)]
    (spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
              " n_chars bigint")
     .coalesce(1).write.mode("overwrite")
     .parquet(str(d / "documents.parquet")))
    out = {r["source"]: r for r in
           SPARK_QUERIES["x106_source_mixing"](spark, str(d)).collect()}
    want = _mixing_reference(dict(enumerate(sources)))
    assert {s: r["quota"] for s, r in out.items()} == want
    for r in out.values():
        assert r["n_selected"] == r["quota"]
