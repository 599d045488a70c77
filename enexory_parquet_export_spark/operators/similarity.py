"""Similarity search over embedding columns (north-star extension).

Exact brute-force cosine top-k as the declared baseline, blocked by a
candidate key (``label``) so the pair space is bounded; an LSH-bucketed
approximate variant as the 100 TB scale path (random-hyperplane
signatures, deterministic planes derived from portable md5 hashing so
the result is engine-reproducible).

All vector math is a FLAT left-associative expression tree
(``v[1]*w[1] + v[2]*w[2] + …``): bit-identical to DuckDB's
``list_dot_product`` left fold (same IEEE operation order), but it
stays inside whole-stage codegen — the equivalent
``aggregate(zip_with(...))`` higher-order formulation is interpreted
per element and measured ~10× slower on the pair joins.  Requires a
known dimension, which embedding columns have by contract.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from .. import artifacts as _artifacts
from ..artifacts import plan_fingerprint
from ..session import materialize

#: fixture embedding dimension (embeddings.embedding: array<float>[64])
DIM = 64

#: cache tile edge for the ordered-fold pair-dot kernels: a
#: tile×tile float64 accumulator (2 MB at 512) stays L2/L3-resident,
#: so the per-dimension accumulation loop rewrites cache instead of
#: RAM.  The untiled loop rewrote the FULL |Q|×|M| matrix once per
#: dimension — 64× the matrix size in memory traffic, measured as the
#: 1M-vector crossover taking hours instead of minutes.  Tiling
#: partitions the PAIR space only; each pair's 64-term fold keeps the
#: exact same IEEE op order, so results stay bit-identical.
_DOT_TILE = 512


def _ordered_pair_dots(Q, M, np, *, tile: int = _DOT_TILE):
    """dots[i, j] = Σ_d Q[i, d]·M[j, d] with a strict per-pair
    left-to-right fold over d (oracle-exact), cache-tiled over pairs."""
    nq, dim = Q.shape
    nm = M.shape[0]
    dots = np.empty((nq, nm))
    for q0 in range(0, nq, tile):
        Qa = Q[q0:q0 + tile]
        for m0 in range(0, nm, tile):
            Mb = M[m0:m0 + tile]
            sub = np.zeros((Qa.shape[0], Mb.shape[0]))
            for i in range(dim):        # ordered fold per element
                sub += np.multiply.outer(Qa[:, i], Mb[:, i])
            dots[q0:q0 + tile, m0:m0 + tile] = sub
    return dots


def _dot_lit(plane: list, v, dim: int = DIM):
    """Dot of a Python literal coefficient vector with an array column
    — constant multipliers fold straight into codegen."""
    return reduce(operator.add,
                  (F.lit(plane[i]) * F.element_at(v, i + 1)
                   for i in range(dim)))


def _topk_kernel(k: int):
    """applyInPandas kernel: a block's full cosine pair matrix →
    that block's top-k rows.

    The accumulation is column-ordered (``acc += A[:,i]·A[:,i]`` for
    i = 1..dim), i.e. the same IEEE operation order as a scalar left
    fold, so cos values are bit-identical to DuckDB's
    ``list_dot_product`` (a BLAS matmul's pairwise/SIMD summation
    would not be).  The flat-expression JVM formulation (a sum of
    ``element_at`` products per joined pair) measured ~6× slower: 128
    ``element_at`` calls per pair defeat JIT vectorization.

    CLASS COLLAPSE (r10, the x32 trick applied to vectors): rows with
    bit-identical vectors share every pair score — cos(q, x) is the
    same fold for every class member, and an intra-class pair's score
    is the class's self-dot over its squared norm, exactly what either
    engine computes for that pair.  The O(n²·dim) pair matrix
    therefore runs over class REPRESENTATIVES only (exact-duplicate
    corpora: 10 copies ⇒ 100× less pair work), and members expand
    back at the (tiny) top-k candidate set: per query class, classes
    are taken in score order until k member slots fill (plus every
    class tied with the boundary score — exact float ties across
    classes interleave members by id, so the boundary tie set must
    expand too), then each member's final (cos DESC, nbr_id) order is
    resolved over that candidate set with itself dropped.  A
    duplicate-free block degrades to singleton classes and the same
    per-row cost as before.  NaN components defeat the np.unique
    grouping (NaN ≠ NaN) and simply collapse nothing — still correct.
    """
    import numpy as np
    import pandas as pd

    def topk_block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        A = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        n, dim = A.shape
        U, inv = np.unique(A, axis=0, return_inverse=True)
        inv = np.asarray(inv).reshape(-1)
        u = U.shape[0]
        # members per class, ids ascending (the tie-break order)
        order = np.lexsort((ids, inv))
        cls_sorted, ids_sorted = inv[order], ids[order]
        starts = np.searchsorted(cls_sorted, np.arange(u + 1))
        members = [ids_sorted[starts[c]:starts[c + 1]] for c in range(u)]
        counts = starts[1:] - starts[:-1]
        dots = _ordered_pair_dots(U, U, np)  # cache-tiled, fold-exact
        nrm = np.zeros(u)
        for i in range(dim):
            nrm += U[:, i] * U[:, i]
        nrm = np.sqrt(nrm)
        cos = dots / np.multiply.outer(nrm, nrm)
        # intra-class pair score BEFORE masking the diagonal
        self_cos = np.diag(cos).copy()
        np.fill_diagonal(cos, -np.inf)
        out = []
        for c in range(u):
            mem = members[c]
            m = len(mem)
            # candidate classes by score desc; own class competes with
            # its intra-class score and m−1 effective slots (self is
            # dropped per member below)
            vals = cos[c].copy()
            vals[c] = self_cos[c] if m >= 2 else -np.inf
            eff = counts.copy()
            eff[c] = m - 1
            cand = np.argsort(-vals, kind="stable")
            cum, taken, boundary = 0, [], None
            for d in cand:
                if cum >= k:
                    if not (vals[d] == boundary):   # NaN ⇒ stop too
                        break
                    taken.append(d)
                    continue
                if eff[d] > 0:
                    taken.append(d)
                    cum += eff[d]
                    boundary = vals[d]
            if not taken:
                continue
            exp_ids = np.concatenate([members[d] for d in taken])
            exp_vals = np.concatenate(
                [np.full(counts[d], vals[d]) for d in taken])
            for q in mem:
                mask = exp_ids != q
                eids, evals = exp_ids[mask], exp_vals[mask]
                sel = np.lexsort((eids, -evals))[:k]
                out.extend((q, eids[s], evals[s], rnk)
                           for rnk, s in enumerate(sel, 1))
        return pd.DataFrame(out, columns=["vec_id", "nbr_id", "cos", "rnk"])

    return topk_block


def _grouped_topk(src: DataFrame, k: int) -> DataFrame:
    """``src(vec_id, _blk, v)`` → top-k neighbour rows per vec."""
    return (src.groupBy("_blk")
            .applyInPandas(_topk_kernel(k),
                           "vec_id bigint, nbr_id bigint, "
                           "cos double, rnk bigint")
            .select("vec_id", "nbr_id",
                    # floor-micro-units: both engines floor the identical
                    # IEEE double — bit-stable, unlike DECIMAL rendering
                    F.floor(F.col("cos") * F.lit(1000000.0))
                     .cast("bigint").alias("cos_micro"),
                    "rnk"))


def cosine_topk_blocked(emb: DataFrame, *, k: int = 3,
                        block_col: str = "label") -> DataFrame:
    """Exact top-k cosine neighbours within each block.

    Vectorized escape hatch: one ``applyInPandas`` per block computes
    the block's pair matrix with numpy and emits only the top-k rows —
    no pair-level shuffle, no window (see :func:`_topk_kernel` for the
    bit-exactness argument).

    Scale posture: pair work is Σ_block n_b² but memory is only the
    block's (n_b × dim) matrix + its top-k; blocks shuffle
    independently.  For unblocked corpora use :func:`ann_lsh_topk`
    (bucketed candidates) instead.
    """
    src = emb.select("vec_id", F.col(block_col).alias("_blk"),
                     F.col("embedding").cast("array<double>").alias("v"))
    return _grouped_topk(src, k)


def cos_pairs_udf():
    """Scalar pandas UDF: cosine of two paired ``array<double>``
    columns, ordered-fold accumulation (bit-identical to
    ``list_dot_product(a,b)/(sqrt(dp(a,a))*sqrt(dp(b,b)))``).

    For pair sets produced by a candidate join — vectorized across the
    Arrow batch instead of 128 interpreted ``element_at`` per row.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no parameter annotations: `from __future__ import annotations`
    # stringifies them, which pandas_udf's signature inspection rejects
    @pandas_udf("double")
    def _cos(va, vb):
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(va.to_numpy()).astype(np.float64)
        B = np.stack(vb.to_numpy()).astype(np.float64)
        dots = np.zeros(len(A))
        na = np.zeros(len(A))
        nb = np.zeros(len(A))
        for i in range(A.shape[1]):      # ordered fold per element
            dots += A[:, i] * B[:, i]
            na += A[:, i] * A[:, i]
            nb += B[:, i] * B[:, i]
        return pd.Series(dots / (np.sqrt(na) * np.sqrt(nb)))

    # the UDF IS deterministic, but advertising that lets Catalyst
    # clone it into both the filter and the downstream projection →
    # two ArrowEvalPython stages and double the Arrow traffic.
    # Marking nondeterministic pins a single evaluation.
    return _cos.asNondeterministic()


def sign_bucket(v) -> "F.Column":
    """Component-sign fingerprint of a vector ('1'/'0' per dim).

    Invariant under positive scaling — parallel vectors always share
    it; random high-dim vectors collide with probability 2^-dim.  The
    exact-candidate generator for scale-perturbed near-dup detection.
    """
    return F.array_join(
        F.transform(v, lambda x: F.when(x >= 0, F.lit("1"))
                                  .otherwise(F.lit("0"))), "")


def lsh_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic random-hyperplane coefficients in [−1, 1],
    derived from md5(plane_dim) — reproducible in any engine with no
    RNG state (the oracle embeds the same literals)."""
    import hashlib

    def coeff(p: int, d: int) -> float:
        h = int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:15], 16)
        return (h % 2001 - 1000) / 1000.0

    return [[coeff(p, d) for d in range(dim)] for p in range(n_planes)]


def ann_lsh_topk(emb: DataFrame, *, k: int = 3, n_planes: int = 4,
                 dim: int = 64, vec_col: str = "embedding",
                 bucket_cap: int | None = None) -> DataFrame:
    """Approximate NN: random-hyperplane LSH bucketing + exact rerank.

    Buckets = sign pattern of ``n_planes`` deterministic hyperplanes.
    Candidates share a bucket; exact cosine reranks within the bucket
    via the same vectorized per-block kernel as
    :func:`cosine_topk_blocked`.  Scale path: bucket count ~2^n_planes
    keeps each bucket's pair matrix tiny; tune n_planes to corpus size.

    ``bucket_cap`` is the skew guard for real corpora, where hyperplane
    buckets are never uniform (VERDICT r1): each bucket's membership is
    deterministically truncated to its ``bucket_cap`` lowest vec_ids
    before the O(n_b²) rerank, bounding any straggler bucket's pair
    matrix at cap².  This trades recall for a hard per-task bound —
    the production alternative is re-splitting hot buckets with extra
    planes; the declared query (x38) runs uncapped so the oracle
    stays exact.
    """
    src = (emb.select("vec_id",
                      F.col(vec_col).cast("array<double>").alias("v"))
              .withColumn("_blk", lsh_bucket_udf(lsh_planes(n_planes,
                                                            dim))("v")))
    if bucket_cap is not None:
        w = Window.partitionBy("_blk").orderBy("vec_id")
        src = (src.withColumn("_r", F.row_number().over(w))
                  .filter(F.col("_r") <= bucket_cap).drop("_r"))
    return _grouped_topk(src, k)


def effective_stride(n_rows: int, stride: int, cap: int) -> int:
    """Stride that keeps the IVF codebook at ≤ ~``cap`` centroids for a
    corpus of ``n_rows``: the user's stride, widened when N/stride would
    exceed the cap.  Driver memory for the codebook is O(cap) at ANY
    corpus size — the VERDICT r2 fix (the raw quotient was O(N/17))."""
    if cap <= 0:
        raise ValueError("codebook_cap must be positive")
    return max(stride, n_rows // cap + 1)


# Session-scoped coarse-quantizer cache (r9 VERDICT #5): x44's
# construction ran two driver jobs per fresh plan — the corpus count
# (stride derivation) and the centroid collect — ~2.2 s of every
# steady rebuild at sf1×10 spent re-deriving the same codebook.  A
# coarse quantizer IS session-resident state in real IVF practice
# (faiss keeps it in memory for the index's lifetime), so
# ``ivf_flat_topk(cache_key=...)`` memoizes (n_rows, cids, C, cn) per
# (applicationId, key, stride, cap, ..., corpus plan hash) —
# O(codebook_cap) driver memory by the same hard bound the uncached
# path enforces.  cache_key=None (the crossover harness) bypasses.
# Value identity is pinned in tests/test_dedup_similarity.py.  Since
# r12 the dict is enrolled in the bounded artifact registry
# (artifacts.py): keys carry the corpus plan fingerprint LAST, a
# changed corpus under the same cache_key supersedes (evicts) the
# stale entry, and the global ARTIFACT_KEY_CAP LRU-bounds the session.
_IVF_CODEBOOKS: dict[tuple, tuple] = _artifacts.register(
    "ivf_codebooks", {})


def _ivf_train(base: DataFrame, *, centroid_stride: int,
               codebook_cap: int, vec_col: str,
               cache_key: str | None):
    """Strided coarse quantizer over ``base(vec_id, v)`` with the
    session-artifact caching :func:`ivf_flat_topk` documents — shared
    by the all-N and probe-suite entry points so both serve ONE index.
    The codebook lives driver/worker-side, exactly as IVF codebooks do
    in practice (faiss keeps the coarse quantizer in memory) —
    HARD-bounded at codebook_cap rows: the stride widens with the
    corpus (one count job) so the collect is O(cap), never O(N/stride).
    Corpus plan fingerprint LAST (r11 ADVICE): a different corpus
    reusing a cache_key keys fresh state and SUPERSEDES (evicts) the
    stale entry instead of silently serving it."""
    import numpy as np

    ck = (None if cache_key is None else
          (base.sparkSession.sparkContext.applicationId, cache_key,
           centroid_stride, codebook_cap, vec_col,
           plan_fingerprint(base)))
    hit = _artifacts.get(_IVF_CODEBOOKS, ck)
    if hit is None:
        n_rows = base.count()
        stride = effective_stride(n_rows, centroid_stride, codebook_cap)
        cent_rows = sorted(
            base.filter(F.col("vec_id") % stride == 0).collect(),
            key=lambda r: r["vec_id"])
        cids = np.array([r["vec_id"] for r in cent_rows], dtype=np.int64)
        C = np.array([r["v"] for r in cent_rows], dtype=np.float64)
        cn = np.zeros(len(C))
        for i in range(C.shape[1]):          # ordered fold, = list_dot_product
            cn += C[:, i] * C[:, i]
        cn = np.sqrt(cn)
        hit = (n_rows, stride, cids, C, cn)
        if ck is not None:
            _artifacts.put(_IVF_CODEBOOKS, ck, hit,
                           supersede_prefix=len(ck) - 1)
    return ck, hit


def _ivf_assign(base: DataFrame, ck, hit, *, nprobe: int, max_block: int,
                chunking: bool) -> DataFrame:
    """ONE fused Python pass (r8): probe assignment inside a single
    mapInPandas over the corpus scan, PASSING THE VECTOR THROUGH
    UNTOUCHED (the column object is reused as-is — no per-row
    tolist/rebuild; a first r8 attempt that duplicated v (1+nprobe)×
    through Python object lists regressed the 1M-vector crossover
    238 s → 354 s on output serialization alone).  On the chunking
    path the materialized assignment relation IS the inverted-list
    index — faiss's add() phase, built once and queried for the
    index's lifetime — cached under the session-artifact registry
    (r9 VERDICT #5).  Shared by the all-N and probe-suite entry
    points: both serve the SAME cached index entry."""
    import numpy as np
    import pandas as pd

    n_rows, stride, cids, C, cn = hit
    assign_schema = "vec_id bigint, v array<double>, _probes array<bigint>"

    def _assign_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            dots = _ordered_pair_dots(A, C, np)  # cache-tiled, fold-exact
            na = np.zeros(len(A))
            for i in range(A.shape[1]):          # ordered fold per element
                na += A[:, i] * A[:, i]
            cs = dots / (np.sqrt(na)[:, None] * cn[None, :])
            probes = [[int(cids[j]) for j in
                       np.lexsort((cids, -cs[r]))[:nprobe]]
                      for r in range(len(A))]
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"],
                "v": pdf["v"],                   # pass-through, no copy
                "_probes": pd.Series(probes, dtype="object")})

    pre_key = (None if ck is None or not chunking else
               ck[:-1] + (nprobe, max_block, "pre", ck[-1]))
    pre0 = _artifacts.get(_IVF_CODEBOOKS, pre_key)
    if pre0 is None:
        pre0 = base.mapInPandas(_assign_batches, assign_schema)
        if chunking:
            pre0 = pre0.transform(materialize, eager=True, pinned=True)
            if pre_key is not None:
                _artifacts.put(_IVF_CODEBOOKS, pre_key, pre0,
                               supersede_prefix=len(pre_key) - 1)
    return pre0


def ivf_flat_topk(emb: DataFrame, *, k: int = 3, centroid_stride: int = 17,
                  nprobe: int = 2, vec_col: str = "embedding",
                  codebook_cap: int = 4096,
                  require_stride: int | None = None,
                  max_block: int = 4096,
                  cache_key: str | None = None) -> DataFrame:
    """IVF-flat approximate NN: coarse quantizer → inverted lists →
    probe ``nprobe`` nearest lists → exact cosine rerank.

    The coarse quantizer is a DETERMINISTIC strided subsample of the
    corpus itself (every ``centroid_stride``-th vec_id) instead of
    k-means — reproducible on any engine with zero training state, and
    the centroid count grows with the corpus as real IVF practice
    wants (≈N/stride lists).  Assignment/probing is one vectorized
    Arrow pass per vector; rerank is a grouped BLOCK KERNEL per
    inverted list (probe vectors × list members scored inside numpy),
    so pair scores never materialize as rows — the same way faiss
    scans list blocks.

    Scale posture: the centroid set is the only driver-side state and
    is HARD-capped at ``codebook_cap`` entries — the stride widens
    automatically when N/stride would exceed it, so driver memory
    stays O(cap) at any corpus size.  Shuffled volume is
    O((1+nprobe)·N) vector rows (the list grouping) plus the
    nprobe·k-per-query winners (the final window) — crossover-measured
    at 250k vectors: the r3 candidate-pair join shipped ~250 GB and
    never finished; this shape runs in seconds.  Per-task memory is
    one list's |Q_c|×|M_c| score block — bounded by list size, which
    the stride controls (√N-ish by default; trained balanced centroids
    at 100 TB, same plan shape).

    Returns ``vec_id, nbr_id, cos_micro, rnk`` (same contract as
    :func:`ann_lsh_topk`).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    base = emb.select("vec_id",
                      F.col(vec_col).cast("array<double>").alias("v"))
    ck, hit = _ivf_train(base, centroid_stride=centroid_stride,
                         codebook_cap=codebook_cap, vec_col=vec_col,
                         cache_key=cache_key)
    n_rows, stride, cids, C, cn = hit
    if require_stride is not None and stride != require_stride:
        # A fixed-stride oracle (x44 hardcodes vec_id % 17) silently
        # diverges once the codebook cap widens the stride — fail
        # loudly instead of producing a silent engine/oracle mismatch.
        raise ValueError(
            f"ivf_flat_topk: codebook_cap={codebook_cap} widened the "
            f"stride to {stride} (declared {require_stride}) at this "
            f"corpus size — the declared oracle no longer matches; "
            f"re-derive the oracle stride or raise the cap")
    if len(cids) < nprobe:
        raise ValueError("centroid_stride leaves fewer centroids than nprobe")

    # ONE fused Python pass (r8): probe assignment happens inside a
    # single mapInPandas over the corpus scan, PASSING THE VECTOR
    # THROUGH UNTOUCHED (the column object is reused as-is — no
    # per-row tolist/rebuild; a first r8 attempt that duplicated v
    # (1+nprobe)× through Python object lists regressed the 1M-vector
    # crossover 238 s → 354 s on output serialization alone).  The
    # role fan-out to the index row (role 0, top-1 list) and nprobe
    # probe rows happens JVM-side as ONE columnar explode, so the
    # Python stage has a SINGLE consumer when unchunked — no
    # checkpoint, no two-branch union, none of the ~0.9 s dispatch
    # pair that kept x44 at the 1.6 s sf0.1 floor (VERDICT r7 #3).
    # Chunking only matters when SOME list could exceed max_block; for
    # a corpus at or under it (every sf fixture) the whole machinery
    # compiles away and the assignment pipelines straight into the
    # grouping exchange — zero extra jobs.  When chunking, the sizes
    # agg makes a SECOND consumer of the assignment output, so an
    # EAGER materialize pins a single Python evaluation (the by_doc
    # lesson: a lazy checkpoint with concurrent consumers is raced);
    # the checkpointed relation is one row per vector (v + nprobe
    # bigints), the same volume the r7 shape checkpointed.
    chunking = n_rows > max_block
    # the materialized assignment relation IS the inverted-list index —
    # in faiss terms the add() phase, built once and queried for the
    # index's lifetime — so under a cache_key it is session state like
    # the codebook (r9 VERDICT #5: rebuilding it per fresh plan billed
    # ~2 s of every steady x44 run at sf1×10).  Only the chunking path
    # materializes (and therefore caches); the unchunked path is one
    # lazy pipelined pass with nothing to reuse.
    # Caching the materialized index for the UNCHUNKED path was
    # measured and rejected (r10): sf0.1 steady read 1.64 s either
    # way — the rerank stage dominates there, not the assignment —
    # so the one-shot plan keeps its zero-extra-jobs pipelined shape.
    pre0 = _ivf_assign(base, ck, hit, nprobe=nprobe, max_block=max_block,
                       chunking=chunking)
    # single-arg lambda only (the F.transform second-slot trap)
    fan = F.concat(
        F.array(F.struct(F.lit(0).alias("_role"),
                         F.element_at("_probes", 1).alias("cid"))),
        F.transform("_probes",
                    lambda p: F.struct(F.lit(1).alias("_role"),
                                       p.alias("cid"))))
    pre = (pre0.select("vec_id", "v", F.explode(fan).alias("_rc"))
               .select(F.col("_rc._role").alias("_role"), "vec_id", "v",
                       F.col("_rc.cid").alias("cid")))
    # Rerank is a GROUPED BLOCK KERNEL per inverted list, not a
    # candidate pair join: the r3 pair formulation materialized
    # N·nprobe·|list| rows each carrying TWO full vectors — ~250 GB of
    # Arrow traffic at 250k vectors / stride 500 (measured: it simply
    # never finished in the crossover).  Here each member row ships
    # ONCE and each query vector ``nprobe`` times (O((1+nprobe)·N)
    # rows total), and the |Q_c|×|M_c| pair scores exist only inside
    # the per-list numpy block.  Per-dim accumulation keeps the IEEE
    # op order identical to the scalar fold (oracle-exact).  The
    # per-list top-k then reduces to a global window over bounded rows
    # per query — valid because each nbr lives in exactly ONE
    # list+chunk (its pr=1 assignment): the global top-k equals the
    # top-k of the per-chunk winners and no (qid, nbr) pair repeats.
    #
    # HOT-LIST CHUNKING (the 1M-vector crossover finding): with a
    # strided quantizer over CLUSTERED data a few lists grab huge
    # memberships, and one list = one task made the rerank straggle
    # (9 tasks still running after 20+ min at 1M vectors).  Lists and
    # probe sets larger than ``max_block`` split into hash chunks and
    # the group key becomes (cid, qchunk, mchunk): probes replicate
    # across member chunks and members across probe chunks — every
    # (qid, nbr) pair still meets exactly once, per-task memory is
    # bounded by max_block², and the inherent hot-list work spreads
    # over chunks² tasks instead of one straggler.  (The real 100 TB
    # fix is balanced trained centroids; this bounds the damage for
    # any quantizer.)
    return _grouped_rerank(pre, k=k, max_block=max_block,
                           chunking=chunking, spark=emb.sparkSession)


def _grouped_rerank(pre: DataFrame, *, k: int, max_block: int,
                    chunking: bool, spark) -> DataFrame:
    """Exact-cosine grouped rerank over ``pre(_role, vec_id, v, cid)``
    (role 0 = list member, role 1 = probe) — shared by the all-N and
    probe-suite IVF entry points."""
    import numpy as np
    import pandas as pd

    is_m = F.col("_role") == 0
    if chunking:
        sizes = (pre.groupBy("cid").agg(
            F.greatest(F.lit(1), F.ceil(
                F.sum(is_m.cast("int")) / max_block)).cast("int")
             .alias("_nm"),
            F.greatest(F.lit(1), F.ceil(
                F.sum((~is_m).cast("int")) / max_block)).cast("int")
             .alias("_nq")))
        own_n = F.when(is_m, F.col("_nm")).otherwise(F.col("_nq"))
        other_n = F.when(is_m, F.col("_nq")).otherwise(F.col("_nm"))
        own_ch = F.pmod(F.xxhash64("vec_id"), own_n)
        chunked = (pre.join(F.broadcast(sizes), "cid")
                   .select("_role", "vec_id", "v", "cid",
                           own_ch.alias("_och"),
                           F.explode(F.sequence(F.lit(0), other_n - 1))
                            .alias("_xch")))
        qch = F.when(is_m, F.col("_xch")).otherwise(F.col("_och"))
        mch = F.when(is_m, F.col("_och")).otherwise(F.col("_xch"))
        chunked = chunked.select("_role", "vec_id", "v", "cid",
                                 qch.alias("_qch"), mch.alias("_mch"))
        # EXPLICIT spread on the group key: the grouped kernel's own
        # exchange is AQE-coalesced by BYTES, which is blind to the
        # |Q|×|M| numpy compute per group — measured as one straggler
        # task holding ~60 hot blocks at 1M vectors (the same
        # AQE-blind-inflation class as the PPJoin candidate spread).
        # A user repartition with an explicit count is preserved by
        # AQE and the groupBy reuses the partitioning (no second
        # exchange).
        n_parts = max(4 * int(spark.conf.get(
            "spark.sql.shuffle.partitions", "200")), 128)
        chunked = chunked.repartition(n_parts, "cid", "_qch", "_mch")
    else:
        chunked = pre.select("_role", "vec_id", "v", "cid",
                             F.lit(0).alias("_qch"),
                             F.lit(0).alias("_mch"))

    def _rerank_block(pdf):
        m = pdf[pdf["_role"] == 0]
        q = pdf[pdf["_role"] == 1]
        if len(m) == 0 or len(q) == 0:
            return pd.DataFrame(columns=["qid", "nbr_id", "cos"])
        mid = m["vec_id"].to_numpy()
        qid = q["vec_id"].to_numpy()
        M = np.stack(m["v"].to_numpy()).astype(np.float64)
        Q = np.stack(q["v"].to_numpy()).astype(np.float64)
        dots = _ordered_pair_dots(Q, M, np)  # cache-tiled, fold-exact
        nq = np.zeros(len(Q))
        nm = np.zeros(len(M))
        for i in range(Q.shape[1]):          # ordered fold per element
            nq += Q[:, i] * Q[:, i]
            nm += M[:, i] * M[:, i]
        cs = dots / (np.sqrt(nq)[:, None] * np.sqrt(nm)[None, :])
        cs[qid[:, None] == mid[None, :]] = -np.inf   # exclude self
        out = []
        for r in range(len(Q)):
            order = np.lexsort((mid, -cs[r]))[:k]
            out.extend((qid[r], mid[c], cs[r, c]) for c in order
                       if cs[r, c] != -np.inf)
        return pd.DataFrame(out, columns=["qid", "nbr_id", "cos"])

    per_list = (chunked
                .groupBy("cid", "_qch", "_mch")
                .applyInPandas(_rerank_block,
                               "qid bigint, nbr_id bigint, cos double"))
    rw = (Window.partitionBy("qid")
                .orderBy(F.col("cos").desc(), F.col("nbr_id").asc()))
    return (per_list.withColumn("rnk", F.row_number().over(rw))
                    .filter(F.col("rnk") <= k)
                    .select(F.col("qid").alias("vec_id"), "nbr_id",
                            F.floor(F.col("cos") * F.lit(1000000.0))
                             .cast("bigint").alias("cos_micro"),
                            F.col("rnk").cast("bigint").alias("rnk")))


def ivf_flat_probe_topk(emb: DataFrame, probes, *, k: int = 3,
                        centroid_stride: int = 17, nprobe: int = 2,
                        vec_col: str = "embedding",
                        codebook_cap: int = 4096,
                        max_block: int = 4096,
                        probe_cap: int | None = None,
                        cache_key: str | None = None) -> DataFrame:
    """Probe-suite IVF-flat ANN — the PRODUCTION query shape (r12
    crossover watch item): a BOUNDED suite of probe vectors served
    against the session-cached inverted-list index, instead of the
    all-N self-join :func:`ivf_flat_topk` runs.

    ``probes`` is a bounded ``[(probe_id, vector)]`` list or a
    ``(vec_id/probe_id, vector)`` DataFrame, capped at
    :data:`PROBE_CAP` via :func:`_bounded_probe_rows` (a probe suite
    is a bounded QUERY workload by contract; an unbounded probe set is
    the all-N operator and must use ``ivf_flat_topk``).  Probe→list
    routing runs driver-side against the O(cap) codebook — numpy over
    ≤ PROBE_CAP × codebook_cap scores — and ONLY the probed lists'
    members shuffle into the grouped rerank (a broadcast semi-join on
    the ≤ nprobe·|probes| probed list ids), so candidate volume is
    O(Σ probed-list sizes), not O((1+nprobe)·N): at 5M vectors the
    all-N path is rerank-bound at ~118 µs/vector while this shape
    touches only the lists the suite probes.

    Trained state (codebook + chunking-path inverted-list index) is
    SHARED with ``ivf_flat_topk`` under the same ``cache_key`` — one
    index serves both workloads, faiss's add-once/query-many posture.

    Parity contract (pytest-pinned): for probes drawn from the corpus,
    results equal ``ivf_flat_topk`` restricted to the probe ids — same
    index, same scoring folds, same tie-breaks, same self-exclusion.

    Returns ``vec_id`` (the probe id), ``nbr_id, cos_micro, rnk``.
    """
    import numpy as np

    spark = emb.sparkSession
    base = emb.select("vec_id",
                      F.col(vec_col).cast("array<double>").alias("v"))
    ck, hit = _ivf_train(base, centroid_stride=centroid_stride,
                         codebook_cap=codebook_cap, vec_col=vec_col,
                         cache_key=cache_key)
    n_rows, stride, cids, C, cn = hit
    if len(cids) < nprobe:
        raise ValueError("centroid_stride leaves fewer centroids than nprobe")
    rows = _bounded_probe_rows(probes,
                               cap=probe_cap if probe_cap is not None
                               else PROBE_CAP)
    pids = np.array([r[0] for r in rows], dtype=np.int64)
    P = np.array([[float(x) for x in r[1]] for r in rows],
                 dtype=np.float64)
    # driver-side routing: same cache-tiled fold-exact scoring as the
    # distributed assignment pass, so a probe drawn from the corpus
    # routes to exactly the lists its corpus row probes
    dots = _ordered_pair_dots(P, C, np)
    na = np.zeros(len(P))
    for i in range(P.shape[1]):              # ordered fold per element
        na += P[:, i] * P[:, i]
    cs = dots / (np.sqrt(na)[:, None] * cn[None, :])
    probe_rows = []
    for r in range(len(P)):
        for j in np.lexsort((cids, -cs[r]))[:nprobe]:
            probe_rows.append((1, int(pids[r]),
                               [float(x) for x in rows[r][1]],
                               int(cids[j])))
    probed = sorted({pr[3] for pr in probe_rows})

    chunking = n_rows > max_block
    pre0 = _ivf_assign(base, ck, hit, nprobe=nprobe, max_block=max_block,
                       chunking=chunking)
    # members: role-0 rows of the shared index, semi-joined (broadcast,
    # ≤ nprobe·|probes| ids) to the probed lists — the only corpus rows
    # that shuffle
    # ONE-slice parallelize, deliberately (r13): createDataFrame(list)
    # routes through parallelize(data, defaultParallelism), so these
    # bounded lists became 32 near-empty partitions whose tasks each
    # pay dispatch in the broadcast build and the union scan —
    # interleaved A/B ×4 at sf0.1: list form 3.2–4.2 s, 1-slice form
    # 2.7–3.9 s (median 3.46 vs 3.02).  Job COUNT is identical either
    # way (the relations stay Scan ExistingRDD leaves); only the
    # per-job task fan changes.
    probed_df = spark.createDataFrame(
        spark.sparkContext.parallelize([(int(c),) for c in probed], 1),
        "cid bigint")
    members = (pre0.select(F.lit(0).alias("_role"), "vec_id", "v",
                           F.element_at("_probes", 1).alias("cid"))
               .join(F.broadcast(probed_df), "cid")
               .select("_role", "vec_id", "v", "cid"))
    qdf = spark.createDataFrame(
        spark.sparkContext.parallelize(probe_rows, 1),
        "_role int, vec_id bigint, v array<double>, cid bigint")
    pre = members.unionByName(qdf)
    return _grouped_rerank(pre, k=k, max_block=max_block,
                           chunking=chunking, spark=spark)


def lsh_bucket_udf(planes: list[list[float]]):
    """Vectorized bucket assignment: per row, the sign-bit string of
    the plane projections.  Ordered-fold accumulation over the
    dimension index keeps every projection bit-identical to
    ``list_dot_product(plane, v)`` — sign flips near zero are the one
    place summation order could change the bucket.  ~1000× the per-row
    throughput of the equivalent flat 512-term JVM expression
    (:func:`_dot_lit` per plane), which measured ~0.5 ms/row.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64)          # (n_planes, dim)

    @pandas_udf("string")
    def _bucket(vs):
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        A = np.stack(vs.to_numpy()).astype(np.float64)  # (n, dim)
        acc = np.zeros((len(A), len(P)))
        for i in range(A.shape[1]):                   # ordered fold
            acc += A[:, i:i + 1] * P[:, i]
        bits = np.where(acc >= 0, "1", "0")
        return pd.Series(["".join(r) for r in bits])

    return _bucket.asNondeterministic()   # pin a single evaluation


# Session-scoped SemDeDup trained-state cache (r10 VERDICT #5): the
# K×dim codebook collect + the corpus count ran as driver jobs on
# EVERY fresh x97/x103 plan, and at chunking scale the eager
# assignment materialization + the K-row size probe re-built the same
# cluster index per query — but SemDeDup's clustering IS offline
# trained state (the paper clusters once, then dedups within
# clusters).  Keyed per (applicationId, cache_key, k_clusters,
# max_block); cached values are (n_rows, C, cn2) — O(K·dim) driver
# memory — plus, under ``+ ("asg",)`` on the chunking path only, the
# eagerly-materialized assignment relation and its max cluster size
# (the x44 inverted-list-index precedent; the unchunked assignment is
# one lazy pipelined pass with nothing to reuse — the measured x44
# rejection).  ``thresh_micro`` is deliberately OUTSIDE the key: it
# parameterizes the pair kernel, not the trained index.
# cache_key=None (the crossover harness) bypasses.  Value identity is
# pinned in tests/test_dedup_similarity.py.  Enrolled in the bounded
# artifact registry since r12 (artifacts.py): corpus plan fingerprint
# last in the key, supersede-on-change, global LRU cap.
_SEM_ARTIFACTS: dict[tuple, tuple] = _artifacts.register(
    "sem_artifacts", {})


def semantic_dedup(q: DataFrame, *, k_clusters: int, thresh_micro: int,
                   max_block: int = 8192,
                   chunk_rows: int | None = None,
                   cache_key: str | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) pair search: cluster-then-compare,
    with the within-cluster comparison run as a GROUPED NUMPY BLOCK
    KERNEL per cluster — never as a pair-row self-join.

    Input ``q``: one row per corpus vector with BIGINT-quantized
    components — columns ``vec_id`` (bigint), ``qv`` (array<bigint>,
    ``floor(x·1000)`` per component) and ``nv`` (bigint, Σqvᵢ²).
    Output: ``cluster, id_a, id_b, cos_micro`` (all bigint) for every
    within-cluster pair with ``id_a < id_b`` whose micro-cosine
    ``floor(dot·10⁶ / (√na·√nb))`` meets ``thresh_micro``.

    Why a block kernel (the r4 IVF lesson, re-learned as the r6 x97
    defect): the equi-join formulation ships BOTH full quantized
    vectors into every within-cluster pair row and evaluates an
    interpreted 64-term lambda per pair — Σ|cluster|² pair rows, each
    ~1 KB, measured 423 s at 40k vectors (DuckDB 12.3 s).  Here each
    member row ships ONCE into its cluster's group and the |c|×|c|
    pair scores exist only inside one numpy gram matrix (BLAS) —
    pair-space work without pair-row traffic, the way faiss scans
    list blocks.

    Exactness: every qv component is a small integer, so every
    product (≤ ~10⁶), every dot partial sum (≤ dim·10⁶) and every
    squared norm is an integer far below 2⁵³ — float64 matmul is
    EXACT regardless of summation order (stronger than the
    ordered-fold argument the real-valued kernels need), and the
    final ``floor((G·10⁶)/(√na·√nb))`` applies the same three IEEE
    ops in the same order as the oracle's scalar expression.

    Scale contract (SemDeDup's own recipe — the paper clusters web
    embeddings into ~10⁵ clusters): ``k_clusters`` must GROW with the
    corpus, ~√N (the `effective_stride` pattern), so expected cluster
    size is ~√N and per-cluster pair work Σ|c|² ≈ N^1.5/K stays
    linear-ish; a FIXED K makes pair work Θ(N²/K) — quadratic, the
    r6 measured defect.  Declared-fixture callers (x97, K=8) keep the
    tiny-K semantics for the oracle pair; the kernel still removes
    the pair-row traffic and interpreted dot, and HOT-CLUSTER
    CHUNKING bounds per-task memory for any quantizer skew: clusters
    larger than ``max_block`` split into hash chunks of ``chunk_rows``
    rows (default ``max_block // 2`` — r11 VERDICT #5: full
    max_block-sized gram tasks are ~0.5 GB matmuls whose scheduling
    drove a 2.8× warm-run band on x103 at sf1×10; halving the chunk
    edge quarters the per-task block and tightens the band at
    unchanged values), the group key becomes (cluster, block_a,
    block_b), and each row replicates to the ``nch`` blocks it
    participates in — every pair still meets exactly once, per-task
    score blocks are ≤ chunk_rows².

    Driver-side state: the K×dim codebook (first ``k_clusters``
    vectors by vec_id — the deterministic x94/x44 coarse-quantizer
    idiom) — O(k_clusters), collected once; assignment is one
    vectorized Arrow pass per vector (argmin of integer-exact squared
    distance, ties to the lowest cid, matching the oracle's
    ``row_number() OVER (ORDER BY dd, cid)``).

    Reference parity: the reference has no semantic dedup; this is a
    north-star LLM-pipeline operator (SemDeDup §3: k-means cluster →
    within-cluster cosine → drop above threshold).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if k_clusters <= 0:
        raise ValueError("k_clusters must be positive")

    ck = (None if cache_key is None else
          (q.sparkSession.sparkContext.applicationId, cache_key,
           k_clusters, max_block, plan_fingerprint(q)))
    hit = _artifacts.get(_SEM_ARTIFACTS, ck)
    if hit is None:
        # One count job up front: materializes the (lazy) checkpoint
        # below in full before the partial-partition codebook collect,
        # and decides whether the hot-cluster chunk machinery is
        # needed at all (for a corpus that fits one block per cluster
        # the plan compiles to a bare groupBy — the x44
        # small-scale-floor precedent).
        q = q.select("vec_id", "qv", "nv").transform(materialize,
                                                     eager=False)
        n_rows = q.count()
        cent_rows = q.orderBy("vec_id").limit(k_clusters).collect()
        C = np.array([r["qv"] for r in cent_rows], dtype=np.float64)
        cn2 = np.array([r["nv"] for r in cent_rows], dtype=np.float64)
        hit = (n_rows, C, cn2)
        if ck is not None:
            _artifacts.put(_SEM_ARTIFACTS, ck, hit,
                           supersede_prefix=len(ck) - 1)
    else:
        # codebook + count served from session state: the assignment
        # below is then the plan's ONLY consumer of q — a mid-plan
        # checkpoint would be pure overhead, so skip it
        q = q.select("vec_id", "qv", "nv")
    n_rows, C, cn2 = hit
    chunking = n_rows > max_block

    @pandas_udf("bigint")
    def _assign(qvs, nvs):
        if len(qvs) == 0:
            return pd.Series([], dtype="int64")
        A = np.stack(qvs.to_numpy()).astype(np.float64)
        nv = nvs.to_numpy().astype(np.float64)
        # ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖² — every term an exact integer
        # (< 2⁵³), so argmin is exact; np.argmin's first-occurrence
        # rule IS the lowest-cid tie-break (cids are 0..K−1 in array
        # order by construction).
        dd = nv[:, None] - 2.0 * (A @ C.T) + cn2[None, :]
        return pd.Series(np.argmin(dd, axis=1).astype(np.int64))

    # assignment-index key: "asg" tag INSIDE, fingerprint stays LAST
    # so the supersede prefix covers identity, not the corpus hash
    akey = None if ck is None else ck[:-1] + ("asg", ck[-1])
    ahit = _artifacts.get(_SEM_ARTIFACTS, akey)
    assigned = (ahit[0] if ahit is not None else
                q.withColumn("cluster",
                             _assign.asNondeterministic()("qv", "nv")))

    def _pair_block(pdf):
        cols = {"cluster": "int64", "id_a": "int64",
                "id_b": "int64", "cos_micro": "int64"}
        if len(pdf) < 2:
            return pd.DataFrame({c: pd.Series([], dtype=t)
                                 for c, t in cols.items()})
        cl = np.int64(pdf["cluster"].iloc[0])
        if "_ba" in pdf.columns:
            ba = int(pdf["_ba"].iloc[0]); bb = int(pdf["_bb"].iloc[0])
            left = pdf[pdf["_och"] == ba]
            right = pdf[pdf["_och"] == bb] if bb != ba else left
        else:
            left = right = pdf
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({c: pd.Series([], dtype=t)
                                 for c, t in cols.items()})
        ida = left["vec_id"].to_numpy(dtype=np.int64)
        idb = right["vec_id"].to_numpy(dtype=np.int64)
        A = np.stack(left["qv"].to_numpy()).astype(np.float64)
        B = (A if right is left
             else np.stack(right["qv"].to_numpy()).astype(np.float64))
        sa = np.sqrt(left["nv"].to_numpy(dtype=np.float64))
        sb = (sa if right is left
              else np.sqrt(right["nv"].to_numpy(dtype=np.float64)))
        G = A @ B.T                     # exact: integer entries < 2⁵³
        # same IEEE op order as the oracle scalar expression:
        # (dot · 1e6) / (√na · √nb), then floor
        cm = np.floor((G * 1e6) / (sa[:, None] * sb[None, :]))
        # every unordered pair meets exactly ONCE: in the same-block
        # case the strict id triangle dedups the symmetric entries; in
        # the cross-block case each left×right pair is unique (the
        # symmetric (bb, ba) group key never forms), so the pair is
        # kept whichever side holds the smaller id and NORMALIZED to
        # (min_id, max_id) — cos is order-symmetric (same G entry,
        # √na·√nb commutes)
        mask = cm >= thresh_micro
        if right is left:
            mask &= ida[:, None] < idb[None, :]
        ii, jj = np.nonzero(mask)
        return pd.DataFrame({
            "cluster": pd.Series(np.full(len(ii), cl), dtype="int64"),
            "id_a": pd.Series(np.minimum(ida[ii], idb[jj]), dtype="int64"),
            "id_b": pd.Series(np.maximum(ida[ii], idb[jj]), dtype="int64"),
            "cos_micro": pd.Series(cm[ii, jj].astype(np.int64),
                                   dtype="int64")})

    out_schema = "cluster bigint, id_a bigint, id_b bigint, cos_micro bigint"
    if not chunking:
        return assigned.groupBy("cluster").applyInPandas(_pair_block,
                                                         out_schema)
    # Two-stage hot-cluster guard: the corpus is big enough that ONE
    # cluster COULD exceed max_block, so materialize the assignment
    # once (EAGER pinned — it feeds the size probe and the kernel
    # input; a lazy checkpoint across concurrent branches races) and
    # read the K-row cluster histogram (driver-bounded by k_clusters,
    # the codebook-collect boundedness argument).  When every cluster
    # fits a block — the normal case under the K ~ √N contract — the
    # plan stays the bare groupBy kernel: the explode/broadcast-join/
    # repartition machinery measured +2-3 s of pure overhead at 40k
    # vectors when no cluster needed splitting.  The materialized
    # relation IS the cluster index (SemDeDup trains offline), so
    # under a cache_key it is session state shared by every caller of
    # the same corpus — x97's pair search and x103's resolution reuse
    # one build.
    if ahit is not None:
        max_sz = ahit[1]
    else:
        assigned = assigned.transform(materialize, eager=True, pinned=True)
        max_sz = (assigned.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("_n")).agg(
            F.max("_n").alias("m")).collect()[0]["m"]) or 0
        if akey is not None:
            _artifacts.put(_SEM_ARTIFACTS, akey, (assigned, max_sz),
                           supersede_prefix=len(akey) - 1)
    if max_sz <= max_block:
        return assigned.groupBy("cluster").applyInPandas(_pair_block,
                                                         out_schema)
    # Hot-cluster chunking (x44 idiom): clusters above max_block split
    # into nch = ⌈|c|/chunk_rows⌉ hash chunks; a row in chunk c joins
    # block (min(c, x), max(c, x)) for every x — each unordered chunk
    # pair forms ONCE (the symmetric (bb, ba) key never exists), each
    # row replicates nch times, per-task score blocks ≤ chunk_rows².
    # chunk_rows defaults to max_block // 2 (r11 VERDICT #5): the
    # chunk edge is a pure granularity knob — values are identical at
    # any setting — and half-edge blocks quarter the per-task matmul,
    # which tightened x103's sf1×10 warm band (see BASELINE.md r12).
    if chunk_rows is None:
        chunk_rows = max(1, max_block // 2)
    sizes = (assigned.groupBy("cluster")
             .agg(F.greatest(F.lit(1),
                             F.ceil(F.count(F.lit(1)) / chunk_rows))
                  .cast("int").alias("_nch")))
    own = F.pmod(F.xxhash64("vec_id"), F.col("_nch"))
    chunked = (assigned.join(F.broadcast(sizes), "cluster")
               .select("vec_id", "qv", "nv", "cluster", own.alias("_och"),
                       F.explode(F.sequence(F.lit(0), F.col("_nch") - 1))
                        .alias("_xch")))
    # distinct x ⇒ distinct (least, greatest) blocks for a fixed own
    # chunk, so no dedup pass is needed — each row lands in exactly
    # nch distinct blocks
    chunked = chunked.select(
        "vec_id", "qv", "nv", "cluster", "_och",
        F.least("_och", "_xch").alias("_ba"),
        F.greatest("_och", "_xch").alias("_bb"))
    n_parts = max(4 * int(q.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "200")), 128)
    chunked = chunked.repartition(n_parts, "cluster", "_ba", "_bb")
    return chunked.groupBy("cluster", "_ba", "_bb").applyInPandas(
        _pair_block, out_schema)


# Session-scoped PQ trained-state cache (r10 VERDICT #3): the ONE
# trained-state family the r10 artifact cache didn't reach — x101/x102
# re-collected the PQ codebooks + coarse centroids and RE-ENCODED the
# whole corpus per fresh plan, though PQ training AND encoding are the
# offline index build in any real deployment (faiss trains once,
# add()s once, then serves queries against the byte codes).  Keyed per
# (applicationId, tag, cache_key, params); the encoded-relation keys
# additionally carry a sha1 of the codebook bytes, so a DIFFERENT
# codebook under the same cache_key can never serve stale codes.
# Driver memory: codebooks O(n_codes·dim); the encoded relations are
# executor-side materialized DataFrames (4 small codes per vector).
# First build is billed (collect + eager materialize run as jobs);
# cache_key=None (the crossover harness) bypasses.  Value identity is
# pinned in tests/test_dedup_similarity.py.  Enrolled in the bounded
# artifact registry since r12 (artifacts.py): corpus plan fingerprint
# last in every key, a retrained codebook or changed corpus under the
# same cache_key SUPERSEDES (evicts + releases) the stale pinned
# relation instead of leaving it held for the session (r11 ADVICE),
# and the global LRU cap bounds a corpus-cycling session.
_PQ_ARTIFACTS: dict[tuple, object] = _artifacts.register(
    "pq_artifacts", {})


def _np_sig(arr) -> str:
    """Value fingerprint of a numpy array for artifact-cache keys."""
    import hashlib
    import numpy as np

    a = np.ascontiguousarray(arr)
    return hashlib.sha1(a.tobytes() + str(a.shape).encode()).hexdigest()


def pq_codebooks(q: DataFrame, *, n_codes: int, n_sub: int,
                 cache_key: str | None = None) -> list:
    """Per-subspace product-quantization codebooks from the first
    ``n_codes`` vectors by ``vec_id`` (the deterministic x44/x94
    coarse-quantizer idiom — PQ training is offline in any real
    deployment; the fixture pins the codebook the same way the IVF
    and SemDeDup codebooks are pinned).  Driver state is
    O(n_codes × dim) — the codebook-collect boundedness argument.
    ``cache_key`` memoizes the trained codebook for the session
    (see :data:`_PQ_ARTIFACTS`).

    Returns a numpy array of shape (n_sub, n_codes, dim // n_sub).
    """
    import numpy as np

    ck = (None if cache_key is None else
          (q.sparkSession.sparkContext.applicationId, "pq_cb",
           cache_key, n_codes, n_sub, plan_fingerprint(q)))
    hit = _artifacts.get(_PQ_ARTIFACTS, ck)
    if hit is not None:
        return hit
    rows = q.orderBy("vec_id").limit(n_codes).collect()
    C = np.array([r["qv"] for r in rows], dtype=np.float64)
    dim = C.shape[1]
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d_sub = dim // n_sub
    out = C.reshape(n_codes, n_sub, d_sub).transpose(1, 0, 2).copy()
    if ck is not None:
        _artifacts.put(_PQ_ARTIFACTS, ck, out,
                       supersede_prefix=len(ck) - 1)
    return out


def coarse_codebook(q: DataFrame, *, n: int,
                    cache_key: str | None = None):
    """First-``n``-by-``vec_id`` coarse quantizer as a (n × dim) numpy
    array (the x44/x94 deterministic idiom), session-cached under
    ``cache_key`` like :func:`pq_codebooks` — the IVF-PQ coarse
    centroids are trained offline exactly like the PQ codebooks."""
    import numpy as np

    ck = (None if cache_key is None else
          (q.sparkSession.sparkContext.applicationId, "pq_coarse",
           cache_key, n, plan_fingerprint(q)))
    hit = _artifacts.get(_PQ_ARTIFACTS, ck)
    if hit is not None:
        return hit
    rows = q.orderBy("vec_id").limit(n).collect()
    out = np.array([r["qv"] for r in rows], dtype=np.float64)
    if ck is not None:
        _artifacts.put(_PQ_ARTIFACTS, ck, out,
                       supersede_prefix=len(ck) - 1)
    return out


#: hard cap on a driver-materialized probe workload (r9, VERDICT #3):
#: a probe suite is a bounded QUERY workload by contract — the cap
#: makes the contract loud instead of silently linear-in-corpus when
#: a fixture derives probes by corpus decimation (the x44
#: codebook_cap / components limit(bound+1) discipline).  LUT memory
#: at the cap: 8192 × n_sub × n_codes × 8 B ≈ 2 MB.
PROBE_CAP = 8192


def _bounded_probe_rows(probes, *, cap: int = PROBE_CAP) -> list:
    """Normalize a probe workload to a bounded driver-side list.

    Accepts either a pre-collected ``[(probe_id, vector), ...]`` list
    or a ``(probe_id, qv)`` DataFrame; both are loudly bounded by
    ``cap`` — the DataFrame path fetches ``cap + 1`` rows so an
    over-contract workload raises instead of materializing the corpus
    on the driver (the r8 verdict's unbounded-collect finding).
    """
    if isinstance(probes, DataFrame):
        rows = probes.limit(cap + 1).collect()
        if len(rows) > cap:
            raise ValueError(
                f"probe workload exceeds the bounded-suite contract "
                f"(> {cap} rows); pass a bounded probe suite or raise "
                f"the cap explicitly")
        return [(r[0], list(r[1])) for r in rows]
    if len(probes) > cap:
        raise ValueError(
            f"probe workload exceeds the bounded-suite contract "
            f"(> {cap} rows)")
    return probes


def pq_adc_topk(q: DataFrame, probes, *, codebooks,
                k: int = 5, probe_cap: int = PROBE_CAP,
                cache_key: str | None = None) -> DataFrame:
    """Product-quantization ADC top-k scan (Jégou et al. 2011,
    "Product quantization for nearest neighbor search") — the
    memory-bound ANN representation: each corpus vector is ENCODED as
    ``n_sub`` small codes (64 quantized bigints → 4 bytes here), and a
    probe scores a vector by summing ``n_sub`` precomputed lookup-table
    entries instead of touching the vector at all.

    Inputs: ``q(vec_id, qv)`` quantized corpus; ``probes`` a BOUNDED
    query workload — either a ``(probe_id, qv)`` DataFrame or a
    pre-collected list — loudly capped at ``probe_cap`` rows (r9: the
    full-scan ADC shape requires every probe's LUT on every corpus
    partition, so the probe side IS broadcast state; the cap enforces
    the contract instead of letting a corpus-decimation fixture grow
    the driver materialization linearly — see :data:`PROBE_CAP`);
    ``codebooks`` from :func:`pq_codebooks`.  For probe workloads that
    scale with a corpus, use :func:`ivf_pq_topk`'s DataFrame path,
    which never materializes probes on the driver.

    Plan shape (the 100 TB story): ONE mapInPandas pass encodes the
    corpus (vectorized per-subspace argmin against the broadcast
    codebook — the only pass that reads full vectors), ONE mapInPandas
    pass streams the 4-byte codes against the broadcast probe LUTs and
    emits only each partition's LOCAL top-k per probe (classic TopK
    pushdown: shuffle traffic is partitions × P × k rows, never
    corpus × P), and one bounded window takes the global top-k.  All
    arithmetic integer-exact in float64 (squared L2 over quantized
    components, every partial sum < 2⁵³); global ties break on vec_id,
    matching the oracle's ``ORDER BY adc_dist, vec_id``.
    """
    import numpy as np
    import pandas as pd

    probes = _bounded_probe_rows(probes, cap=probe_cap)
    C = codebooks                       # (n_sub, n_codes, d_sub)
    n_sub, n_codes, d_sub = C.shape
    cn2 = (C * C).sum(axis=2)           # (n_sub, n_codes)

    pid = np.array([p[0] for p in probes], dtype=np.int64)
    P = np.array([p[1] for p in probes],
                 dtype=np.float64).reshape(len(probes), n_sub, d_sub)
    # LUT[p, s, c] = ‖probe_s − C_s[c]‖² — exact integers in float64
    LUT = ((P * P).sum(axis=2)[:, :, None]
           - 2.0 * np.einsum("psd,scd->psc", P, C)
           + cn2[None, :, :])

    def encode(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                yield pd.DataFrame({"vec_id": pd.Series([], dtype="int64"),
                                    "codes": pd.Series([], dtype="object")})
                continue
            Q = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["qv"].to_numpy()])
            X = Q.reshape(len(Q), n_sub, d_sub)
            # ‖x_s − c‖² = ‖x_s‖² − 2 x_s·c + ‖c‖²; argmin first
            # occurrence = lowest code, the oracle's tie rule
            dd = ((X * X).sum(axis=2)[:, :, None]
                  - 2.0 * np.einsum("psd,scd->psc", X, C)
                  + cn2[None, :, :])
            codes = np.argmin(dd, axis=2).astype(np.int64)
            yield pd.DataFrame({
                "vec_id": pd.Series(pdf["vec_id"].to_numpy(),
                                    dtype="int64"),
                "codes": pd.Series([[int(c) for c in row]
                                    for row in codes], dtype="object")})

    # the encoded relation IS the PQ index — faiss's add() phase,
    # built once and scanned for the index's lifetime — so under a
    # cache_key it is session state (r10 VERDICT #3): one eager
    # materialization of (vec_id, n_sub codes) replaces the per-plan
    # full-vector encode pass; the key carries the codebook's value
    # fingerprint so a different codebook can never serve stale codes
    # identity = (appId, tag, cache_key, n_sub, n_codes); the codebook
    # value fingerprint AND the corpus plan fingerprint are the
    # trailing value components — a retrain or corpus change under the
    # same cache_key supersedes (evicts + releases) the old pinned
    # relation (r11 ADVICE)
    ek = (None if cache_key is None else
          (q.sparkSession.sparkContext.applicationId, "pq_enc",
           cache_key, n_sub, n_codes, _np_sig(C), plan_fingerprint(q)))
    encoded = _artifacts.get(_PQ_ARTIFACTS, ek)
    if encoded is None:
        encoded = q.select("vec_id", "qv").mapInPandas(
            encode, "vec_id bigint, codes array<bigint>")
        if ek is not None:
            encoded = encoded.transform(materialize, eager=True,
                                        pinned=True)
            _artifacts.put(_PQ_ARTIFACTS, ek, encoded,
                           supersede_prefix=5)

    def scan(pdfs):
        # per chunk: vectorized per-probe candidate selection — keep
        # every entry at or below the chunk's k-th smallest distance
        # (tie-SAFE: an equal-distance, smaller-id candidate at the
        # boundary must survive to the exact (d, id) sort below; plain
        # argpartition[:k] could drop it), then one lexsort per probe
        # at partition end.  No per-row Python — the first cut of this
        # kernel heap-looped every (probe, row) pair and measured 30 s
        # at 250k vectors × 500 probes; this form is pure numpy.
        cand_d = [[] for _ in range(len(pid))]
        cand_v = [[] for _ in range(len(pid))]
        for pdf in pdfs:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            codes = np.stack([np.asarray(c, dtype=np.int64)
                              for c in pdf["codes"].to_numpy()])
            # ADC[p, x] = Σ_s LUT[p, s, codes[x, s]]
            adc = LUT[:, np.arange(n_sub)[None, :], codes].sum(axis=2)
            adc[ids[None, :] == pid[:, None]] = np.inf   # self-exclusion
            kk = min(k, adc.shape[1])
            th = np.partition(adc, kk - 1, axis=1)[:, kk - 1:kk]
            keep = adc <= th
            for pi, jj in enumerate(map(np.flatnonzero, keep)):
                if len(jj):
                    cand_d[pi].append(adc[pi, jj])
                    cand_v[pi].append(ids[jj])
        out_p, out_v, out_d = [], [], []
        for pi in range(len(pid)):
            if not cand_d[pi]:
                continue
            d = np.concatenate(cand_d[pi])
            v = np.concatenate(cand_v[pi])
            fin = np.isfinite(d)
            d, v = d[fin], v[fin]
            order = np.lexsort((v, d))[:k]
            out_p.extend([int(pid[pi])] * len(order))
            out_v.extend(int(x) for x in v[order])
            out_d.extend(int(x) for x in d[order])
        yield pd.DataFrame({
            "probe_id": pd.Series(out_p, dtype="int64"),
            "vec_id": pd.Series(out_v, dtype="int64"),
            "adc_dist": pd.Series(out_d, dtype="int64")})

    local = encoded.mapInPandas(
        scan, "probe_id bigint, vec_id bigint, adc_dist bigint")
    w = Window.partitionBy("probe_id").orderBy("adc_dist", "vec_id")
    return (local.withColumn("rnk", F.row_number().over(w).cast("bigint"))
                 .filter(F.col("rnk") <= k)
                 .select("probe_id", "vec_id", "adc_dist", "rnk"))


def ivf_pq_topk(q: DataFrame, probes, *, coarse, codebooks,
                nprobe: int = 2, k: int = 5,
                cache_key: str | None = None) -> DataFrame:
    """IVF-PQ top-k (Jégou et al. 2011 §V; the faiss ``IVFPQ``
    layout): the inverted-file coarse quantizer bounds WHICH vectors a
    probe touches (``nprobe`` lists, the x44 contract) and product
    quantization bounds WHAT is read per vector (4 one-byte codes, the
    x101 contract) — together the index layout production ANN actually
    deploys at corpus scale.

    Inputs: ``q(vec_id, qv)`` quantized corpus; ``probes`` either a
    ``(probe_id, qv)`` DataFrame — the r9 DISTRIBUTED path: probes
    are routed, LUT'd and shuffled as ROWS, nothing probe-sized ever
    reaches the driver, so the probe workload may scale with the
    corpus — or a bounded pre-collected ``[(probe_id, qv), ...]``
    list (closure routing, right for interactive suites); ``coarse``
    a (Kc × dim) numpy coarse codebook (first-Kc-by-vec_id idiom);
    ``codebooks`` from :func:`pq_codebooks`.  Both paths are
    value-identical (pinned by pytest).

    Plan shape: ONE mapInPandas pass assigns the coarse list and the
    PQ codes (the only pass reading full vectors), then the encoded
    rows GROUP BY list id and each list's kernel scores ONLY the
    probes routed to it (probe→list routing precomputed driver-side
    from the bounded probe set) — per-list work is
    O(|list| × |probes(list)| ) lookup sums, pair rows never exist,
    and the shuffle carries 4-byte codes, not vectors.  A final
    bounded window merges each probe's ≤ nprobe × k local rows.
    Distances are integer-exact; ties break on vec_id — identical to
    the oracle's ``ORDER BY adc_dist, vec_id``.
    """
    import numpy as np
    import pandas as pd

    C = codebooks
    n_sub, n_codes, d_sub = C.shape
    cn2 = (C * C).sum(axis=2)
    Cc = np.asarray(coarse, dtype=np.float64)
    ccn2 = (Cc * Cc).sum(axis=1)

    def _route_and_lut(P):
        # probe → nprobe nearest coarse lists (ties to lowest cid:
        # stable argsort over the (dist, cid) lex order) + the
        # per-probe ADC lookup table — exact integers in float64
        pdd = (P * P).sum(axis=1)[:, None] - 2.0 * (P @ Cc.T) + ccn2[None, :]
        pl = np.argsort(pdd, kind="stable", axis=1)[:, :nprobe]
        Ps = P.reshape(len(P), n_sub, d_sub)
        lut = ((Ps * Ps).sum(axis=2)[:, :, None]
               - 2.0 * np.einsum("psd,scd->psc", Ps, C)
               + cn2[None, :, :])
        return pl, lut

    def encode(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                yield pd.DataFrame({
                    "cid": pd.Series([], dtype="int64"),
                    "vec_id": pd.Series([], dtype="int64"),
                    "codes": pd.Series([], dtype="object")})
                continue
            Q = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["qv"].to_numpy()])
            qdd = ((Q * Q).sum(axis=1)[:, None] - 2.0 * (Q @ Cc.T)
                   + ccn2[None, :])
            cid = np.argmin(qdd, axis=1).astype(np.int64)
            X = Q.reshape(len(Q), n_sub, d_sub)
            dd = ((X * X).sum(axis=2)[:, :, None]
                  - 2.0 * np.einsum("psd,scd->psc", X, C)
                  + cn2[None, :, :])
            codes = np.argmin(dd, axis=2).astype(np.int64)
            yield pd.DataFrame({
                "cid": pd.Series(cid, dtype="int64"),
                "vec_id": pd.Series(pdf["vec_id"].to_numpy(),
                                    dtype="int64"),
                "codes": pd.Series([[int(c) for c in row]
                                    for row in codes], dtype="object")})

    # same index-build caching as pq_adc_topk: coarse assignment + PQ
    # codes are faiss's add() phase; the key fingerprints BOTH trained
    # inputs (coarse centroids and codebooks)
    ek = (None if cache_key is None else
          (q.sparkSession.sparkContext.applicationId, "ivfpq_enc",
           cache_key, n_sub, n_codes, _np_sig(Cc), _np_sig(C),
           plan_fingerprint(q)))
    encoded = _artifacts.get(_PQ_ARTIFACTS, ek)
    if encoded is None:
        encoded = q.select("vec_id", "qv").mapInPandas(
            encode, "cid bigint, vec_id bigint, codes array<bigint>")
        if ek is not None:
            encoded = encoded.transform(materialize, eager=True,
                                        pinned=True)
            _artifacts.put(_PQ_ARTIFACTS, ek, encoded,
                           supersede_prefix=5)

    _EMPTY = {"probe_id": "int64", "vec_id": "int64", "adc_dist": "int64"}

    def _local_topk(ids, codes, pids_, luts):
        # adc[p, x] = Σ_s lut[p, s, codes[x, s]]; tie-SAFE local top-k
        # (keep everything ≤ the k-th distance, exact (d, id) sort)
        adc = luts[:, np.arange(n_sub)[None, :], codes].sum(axis=2)
        adc[ids[None, :] == pids_[:, None]] = np.inf   # self-exclusion
        kk = min(k, adc.shape[1])
        th = np.partition(adc, kk - 1, axis=1)[:, kk - 1:kk]
        keep = adc <= th
        out_p, out_v, out_d = [], [], []
        for row in range(len(pids_)):
            jj = np.flatnonzero(keep[row])
            d = adc[row, jj]
            fin = np.isfinite(d)
            jj, d = jj[fin], d[fin]
            order = np.lexsort((ids[jj], d))[:k]
            out_p.extend([int(pids_[row])] * len(order))
            out_v.extend(int(x) for x in ids[jj][order])
            out_d.extend(int(x) for x in d[order])
        return pd.DataFrame({
            "probe_id": pd.Series(out_p, dtype="int64"),
            "vec_id": pd.Series(out_v, dtype="int64"),
            "adc_dist": pd.Series(out_d, dtype="int64")})

    if isinstance(probes, DataFrame):
        # r9 DISTRIBUTED probe path (VERDICT #3): probes never touch
        # the driver — a mapInPandas pass routes each probe to its
        # nprobe lists and emits (cid, probe_id, lut) ROWS (the LUT is
        # n_sub × n_codes doubles, model-state sized), then a COGROUP
        # on cid hands each list's kernel exactly the probes routed to
        # it.  Shuffle volume: corpus side carries 4-byte codes,
        # probe side nprobe × |probes| LUT rows — no pair rows, no
        # driver materialization, probe workloads may scale with the
        # corpus.
        def probe_encode(pdfs):
            for pdf in pdfs:
                if not len(pdf):
                    yield pd.DataFrame({
                        "cid": pd.Series([], dtype="int64"),
                        "probe_id": pd.Series([], dtype="int64"),
                        "lut": pd.Series([], dtype="object")})
                    continue
                pids_ = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
                P = np.stack([np.asarray(v, dtype=np.float64)
                              for v in pdf.iloc[:, 1].to_numpy()])
                pl, lut = _route_and_lut(P)
                cids, opids, oluts = [], [], []
                for i in range(len(pids_)):
                    flat = [float(x) for x in lut[i].ravel()]
                    for c in pl[i]:
                        cids.append(int(c))
                        opids.append(int(pids_[i]))
                        oluts.append(flat)
                yield pd.DataFrame({
                    "cid": pd.Series(cids, dtype="int64"),
                    "probe_id": pd.Series(opids, dtype="int64"),
                    "lut": pd.Series(oluts, dtype="object")})

        plut = probes.mapInPandas(
            probe_encode, "cid bigint, probe_id bigint, lut array<double>")

        def scan_cogroup(left: pd.DataFrame,
                         right: pd.DataFrame) -> pd.DataFrame:
            if not len(left) or not len(right):
                return pd.DataFrame({c: pd.Series([], dtype=t)
                                     for c, t in _EMPTY.items()})
            ids = left["vec_id"].to_numpy(dtype=np.int64)
            codes = np.stack([np.asarray(c, dtype=np.int64)
                              for c in left["codes"].to_numpy()])
            pids_ = right["probe_id"].to_numpy(dtype=np.int64)
            luts = np.stack([np.asarray(l, dtype=np.float64)
                             .reshape(n_sub, n_codes)
                             for l in right["lut"].to_numpy()])
            return _local_topk(ids, codes, pids_, luts)

        local = (encoded.groupby("cid")
                 .cogroup(plut.groupby("cid"))
                 .applyInPandas(
                     scan_cogroup,
                     "probe_id bigint, vec_id bigint, adc_dist bigint"))
    else:
        # bounded pre-collected workload: routing in the closure
        pid = np.array([p[0] for p in probes], dtype=np.int64)
        P = np.array([p[1] for p in probes], dtype=np.float64)
        plists, LUT = _route_and_lut(P)
        # list id → indices of the probes that scan it
        routing: dict[int, list[int]] = {}
        for i, ls in enumerate(plists):
            for c in ls:
                routing.setdefault(int(c), []).append(i)

        def scan_list(pdf: pd.DataFrame) -> pd.DataFrame:
            cid = int(pdf["cid"].iloc[0])
            pis = routing.get(cid, [])
            if not pis or not len(pdf):
                return pd.DataFrame({c: pd.Series([], dtype=t)
                                     for c, t in _EMPTY.items()})
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            codes = np.stack([np.asarray(c, dtype=np.int64)
                              for c in pdf["codes"].to_numpy()])
            return _local_topk(ids, codes, pid[pis], LUT[pis])

        local = encoded.groupBy("cid").applyInPandas(
            scan_list, "probe_id bigint, vec_id bigint, adc_dist bigint")

    w = Window.partitionBy("probe_id").orderBy("adc_dist", "vec_id")
    return (local.withColumn("rnk", F.row_number().over(w).cast("bigint"))
                 .filter(F.col("rnk") <= k)
                 .select("probe_id", "vec_id", "adc_dist", "rnk"))
