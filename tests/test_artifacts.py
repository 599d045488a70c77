"""Bounded session-artifact registry (r11 VERDICT #3 / ADVICE):
supersede-on-change eviction, the global LRU key cap, and the
corpus-fingerprint key component — each with the value-identity
contract (an evicted entry rebuilds to identical values)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from enexory_parquet_export_spark import artifacts as A


@pytest.fixture()
def clean_registry():
    """Snapshot-and-restore every registered family around a test."""
    snaps = {fid: dict(fam) for fid, (_, fam) in A._FAMILIES.items()}
    lru = dict(A._LRU)
    for _, fam in A._FAMILIES.values():
        fam.clear()
    A._LRU.clear()
    yield
    for fid, (_, fam) in A._FAMILIES.items():
        fam.clear()
        fam.update(snaps.get(fid, {}))
    A._LRU.clear()
    A._LRU.update(lru)


def _vec_df(spark, n=40, dim=8, seed=0):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(dim)),
                    lambda i: (F.pmod(F.col("id") * 131 + i * 17
                                      + F.lit(seed), F.lit(97))
                               .cast("double") / 10.0)
        ).alias("embedding"))


def _quant(df):
    return (df.select("vec_id",
                      F.transform(F.col("embedding").cast("array<double>"),
                                  lambda x: F.floor(x * 1000)
                                  .cast("bigint")).alias("qv"))
              .withColumn("nv", F.aggregate(
                  "qv", F.lit(0).cast("bigint"), lambda a, x: a + x * x)))


def test_corpus_fingerprint_shares_identical_derivations(spark,
                                                         clean_registry):
    """Two structurally-identical corpus derivations under one
    cache_key share ONE trained entry (the x97/x103 shared-index win
    must survive the fingerprint), while a DIFFERENT corpus under the
    SAME cache_key keys fresh state and SUPERSEDES the stale entry
    instead of silently serving it (r11 ADVICE)."""
    from enexory_parquet_export_spark.operators import similarity as S

    qa1 = _quant(_vec_df(spark, seed=0))
    qa2 = _quant(_vec_df(spark, seed=0))      # same derivation, new plan
    qb = _quant(_vec_df(spark, seed=5))       # different corpus
    ra1 = sorted(tuple(r) for r in S.semantic_dedup(
        qa1, k_clusters=3, thresh_micro=0, cache_key="shared").collect())
    n_after_first = len(S._SEM_ARTIFACTS)
    ra2 = sorted(tuple(r) for r in S.semantic_dedup(
        qa2, k_clusters=3, thresh_micro=0, cache_key="shared").collect())
    assert ra2 == ra1
    assert len(S._SEM_ARTIFACTS) == n_after_first, \
        "identical derivation must HIT, not key a second entry"

    # corpus B reuses the cache_key (caller contract violation the
    # fingerprint now defends): fresh values, stale entry superseded
    rb = sorted(tuple(r) for r in S.semantic_dedup(
        qb, k_clusters=3, thresh_micro=0, cache_key="shared").collect())
    rb_plain = sorted(tuple(r) for r in S.semantic_dedup(
        qb, k_clusters=3, thresh_micro=0).collect())
    assert rb == rb_plain, "stale index must never serve a new corpus"
    assert len(S._SEM_ARTIFACTS) == n_after_first, \
        "the superseded entry must be evicted, not accumulated"


def test_supersede_releases_pinned_encoded_relation(spark,
                                                    clean_registry):
    """A retrained PQ codebook under the same cache_key must evict the
    superseded encoded relation (the r11 ADVICE leak: the stale-guard
    path used to leave BOTH pinned relations held for the session)."""
    from enexory_parquet_export_spark.operators import similarity as S

    q = _quant(_vec_df(spark, n=24, dim=8))
    probes = [(0, [float(i) for i in range(8)])]
    cb1 = S.pq_codebooks(q, n_codes=4, n_sub=4, cache_key="t-sup")
    S.pq_adc_topk(q, probes, codebooks=cb1, k=2,
                  cache_key="t-sup").collect()
    enc_keys = [k for k in S._PQ_ARTIFACTS if k[1] == "pq_enc"]
    assert len(enc_keys) == 1
    # retrain with different n_codes trains a DIFFERENT codebook VALUE
    # but the encoded-relation identity prefix only matches when
    # (n_sub, n_codes) match — so force a value change at the same
    # params by retraining on a shifted corpus under the same key
    q2 = _quant(_vec_df(spark, n=24, dim=8, seed=9))
    cb2 = S.pq_codebooks(q2, n_codes=4, n_sub=4, cache_key="t-sup")
    assert (cb1 != cb2).any()
    out2 = S.pq_adc_topk(q2, probes, codebooks=cb2, k=2,
                         cache_key="t-sup")
    got = sorted(tuple(r) for r in out2.collect())
    want = sorted(tuple(r) for r in S.pq_adc_topk(
        q2, probes, codebooks=cb2, k=2).collect())
    assert got == want
    enc_keys = [k for k in S._PQ_ARTIFACTS if k[1] == "pq_enc"]
    assert len(enc_keys) == 1, \
        "superseded encoded relation must be evicted, not accumulated"


def test_lru_cap_evicts_and_rebuilds_value_identical(spark,
                                                     clean_registry,
                                                     monkeypatch):
    """Past ARTIFACT_KEY_CAP the least-recently-used entry is evicted;
    a later call rebuilds it (first-build billing) to IDENTICAL values
    — the cap trades rebuild cost for bounded memory, never
    correctness."""
    from enexory_parquet_export_spark.operators import similarity as S

    monkeypatch.setattr(A, "ARTIFACT_KEY_CAP", 3)
    ref = {}
    for seed in range(3):
        q = _quant(_vec_df(spark, seed=seed))
        ref[seed] = sorted(tuple(r) for r in S.semantic_dedup(
            q, k_clusters=3, thresh_micro=0,
            cache_key=f"t-lru-{seed}").collect())
    total = sum(len(f) for _, f in A._FAMILIES.values())
    assert total <= 3, f"cap must bound total keys, held {total}"
    # seed 0 was evicted (LRU); rebuilding must bill a fresh build and
    # produce the same values
    q0 = _quant(_vec_df(spark, seed=0))
    again = sorted(tuple(r) for r in S.semantic_dedup(
        q0, k_clusters=3, thresh_micro=0, cache_key="t-lru-0").collect())
    assert again == ref[0]
    assert sum(len(f) for _, f in A._FAMILIES.values()) <= 3


def test_registry_tolerates_out_of_band_clear(spark, clean_registry):
    """Tests .clear() the family dicts directly; the LRU sidecar must
    prune those entries lazily instead of KeyErroring or evicting live
    state on the next put."""
    from enexory_parquet_export_spark.operators import similarity as S

    q = _quant(_vec_df(spark))
    S.semantic_dedup(q, k_clusters=3, thresh_micro=0,
                     cache_key="t-oob").collect()
    S._SEM_ARTIFACTS.clear()          # out-of-band, the test idiom
    out = sorted(tuple(r) for r in S.semantic_dedup(
        q, k_clusters=3, thresh_micro=0, cache_key="t-oob").collect())
    plain = sorted(tuple(r) for r in S.semantic_dedup(
        q, k_clusters=3, thresh_micro=0).collect())
    assert out == plain
    assert len(S._SEM_ARTIFACTS) == 1


def test_bpe_family_shares_one_artifact(spark, sf_dir, clean_registry,
                                        capfd):
    """x95→x96→x99 must share ONE trained relation per
    return_symbols value: zero supersede evictions across the sweep
    and x99 consumes the very object x96 pinned (r12 VERDICT #1 — x99
    derived its word counts through a doc_id-carrying projection,
    keyed a different plan fingerprint, and evicted x96's pinned
    relation mid-sweep)."""
    from enexory_parquet_export_spark import queries_ext as QX

    capfd.readouterr()  # drain earlier output
    QX.x95(spark, sf_dir).collect()
    QX.x96(spark, sf_dir).collect()
    sym = {k: v for k, v in QX._BPE_ARTIFACTS.items() if k[3] is True}
    assert len(sym) == 1, f"expected one symbol artifact, got {list(sym)}"
    pinned = next(iter(sym.values()))
    QX.x99(spark, sf_dir).collect()
    sym2 = {k: v for k, v in QX._BPE_ARTIFACTS.items() if k[3] is True}
    assert len(sym2) == 1 and next(iter(sym2.values())) is pinned, \
        "x99 must HIT x96's pinned symbol relation, not rebuild it"
    err = capfd.readouterr().err
    assert "evicting bpe_artifacts" not in err, \
        f"supersede eviction fired inside the x95→x96→x99 sweep:\n{err}"


def test_supersede_cascades_to_derived_keys(clean_registry):
    """A fingerprint change must evict LONGER derived keys sharing the
    identity prefix (the IVF 'pre' index / SemDeDup 'asg' class — r12
    ADVICE), while same-fingerprint derived siblings survive a parent
    re-put (a codebook LRU-evicted and rebuilt over the unchanged
    corpus must not discard its own still-valid derived index)."""
    fam = A.register("t-cascade", {})
    try:
        A.put(fam, ("app", "ck", 1, 100), "codebook-v1",
              supersede_prefix=3)
        A.put(fam, ("app", "ck", 1, 5, "pre", 100), "index-v1",
              supersede_prefix=5)
        # parent re-put, SAME fingerprint: derived sibling survives
        A.put(fam, ("app", "ck", 1, 100), "codebook-v1b",
              supersede_prefix=3)
        assert ("app", "ck", 1, 5, "pre", 100) in fam
        # fingerprint change: parent AND derived index evicted
        A.put(fam, ("app", "ck", 1, 200), "codebook-v2",
              supersede_prefix=3)
        assert ("app", "ck", 1, 100) not in fam
        assert ("app", "ck", 1, 5, "pre", 100) not in fam
        assert ("app", "ck", 1, 200) in fam
    finally:
        A._FAMILIES.pop(id(fam), None)


def test_byte_cap_evicts_lru_and_keeps_fresh_oversize(clean_registry,
                                                      monkeypatch,
                                                      capfd):
    """ARTIFACT_BYTE_CAP bounds approximate held BYTES, not just keys
    (r12 VERDICT #5): over the cap the LRU entry goes; a single fresh
    entry larger than the whole cap is kept with a loud line."""
    import numpy as np

    fam = A.register("t-bytes", {})
    try:
        monkeypatch.setattr(A, "ARTIFACT_BYTE_CAP", 1 << 20)  # 1 MiB
        A.put(fam, ("a", "k1"), np.zeros(50_000))   # ~400 KiB each
        A.put(fam, ("a", "k2"), np.zeros(50_000))
        A.put(fam, ("a", "k3"), np.zeros(50_000))
        assert ("a", "k1") not in fam, "LRU entry must go over byte cap"
        assert ("a", "k2") in fam and ("a", "k3") in fam
        assert A.held_bytes() <= 1 << 20
        capfd.readouterr()
        A.put(fam, ("a", "k4"), np.zeros(200_000))  # ~1.6 MiB alone
        assert ("a", "k4") in fam, "fresh oversize entry must be kept"
        assert "over" in capfd.readouterr().err
    finally:
        A._FAMILIES.pop(id(fam), None)


def test_registry_thread_safety(clean_registry):
    """Concurrent driver threads (a supported Spark pattern) must not
    race the registry's put/supersede/LRU bookkeeping (r12 ADVICE)."""
    import threading

    fam = A.register("t-threads", {})
    errs: list[Exception] = []

    def worker(i: int) -> None:
        try:
            for j in range(300):
                A.put(fam, ("a", i, j % 5, j), j, supersede_prefix=3)
                A.get(fam, ("a", i, j % 5, j))
        except Exception as exc:  # pragma: no cover - failure path
            errs.append(exc)

    try:
        ts = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs
        total = sum(len(f) for _, f in A._FAMILIES.values())
        assert total <= A.ARTIFACT_KEY_CAP
    finally:
        A._FAMILIES.pop(id(fam), None)
