"""Similarity search over embedding columns (array<float>).

Extension beyond the reference surface. Two paths:
- ``cosine_topk``         — brute-force exact top-k for one query
  vector: one scan, dot products in whole-stage codegen
  (zip_with + aggregate, no Python), TakeOrderedAndProject for the
  top-k. This is the correctness baseline AND a respectable scale
  plan: at 100 TB it is embarrassingly parallel with a k-row result
  per partition.
- ``lsh_topk`` / ``lsh_bucketed_pairs`` — random-hyperplane (SimHash
  for vectors) bucketing: vectors are signed against H fixed
  hyperplanes into a bucket id; probing same-bucket (+ optional
  hamming-1 neighbors) bounds candidates. Approximate — recall
  depends on nbits; results carry exact cosines so a final exact
  re-rank is free.

Dot products fold left-to-right in array order (F.aggregate), which is
bit-identical to DuckDB's list_dot_product — the oracle matches
exactly, no tolerance needed (verified empirically).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from zestdb_spark.functions.dedup import q6


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a left fold in array order (JVM codegen, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def with_norm(embs: DataFrame) -> DataFrame:
    """Add double-cast vector ``v`` and its L2 ``norm``."""
    v = F.col("embedding").cast("array<double>")
    return embs.select("vec_id", v.alias("v")).withColumn(
        "norm", F.sqrt(dot(F.col("v"), F.col("v")))
    )


def cosine_topk(embs: DataFrame, query_vec_id: int, k: int = 10) -> DataFrame:
    """Exact top-k by cosine against the vector with id ``query_vec_id``
    (itself excluded): (vec_id, cosine) — cosine rounded to 6 dp,
    deterministic tie-break on vec_id."""
    e = with_norm(embs)
    q = e.filter(F.col("vec_id") == query_vec_id).select(
        F.col("v").alias("qv"), F.col("norm").alias("qnorm")
    )
    scored = (
        e.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            q6(dot(F.col("v"), F.col("qv")) / (F.col("norm") * F.col("qnorm"))).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


# ----------------------------------------------------- LSH (scale path)

def _hyperplanes(nbits: int, dim: int) -> np.ndarray:
    """Deterministic Gaussian hyperplanes (fixed seed — engine constant,
    reproducible across runs and clusters)."""
    rng = np.random.default_rng(42)
    return rng.standard_normal((nbits, dim))


def bucket_ids(embs: DataFrame, nbits: int = 16, dim: int = 64) -> DataFrame:
    """(vec_id, v, norm, bucket): sign-bit bucketing against fixed
    hyperplanes, computed as nbits dot products in codegen.

    A vector whose length differs from ``dim`` raises at execution
    (raise_error) — zip_with would otherwise null-pad, every plane dot
    would go NULL, and EVERY such vector would silently land in bucket
    0, degrading the bucketed join back to the O(n²) blob it exists to
    avoid."""
    planes = _hyperplanes(nbits, dim)
    e = with_norm(embs).withColumn(
        "v",
        F.when(F.size("v") == dim, F.col("v")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"bucket_ids: expected {dim}-dim vectors, got "),
                    F.size("v").cast("string"),
                )
            )
        ),
    )
    bucket = F.lit(0).cast("long")
    for i in range(nbits):
        plane = F.array(*[F.lit(float(x)) for x in planes[i]])
        bucket = bucket + F.when(dot(F.col("v"), plane) > 0, F.lit(1 << i).cast("long")).otherwise(0)
    return e.withColumn("bucket", bucket)


def _probe_sequence(qv, nbits: int, n_probes: int) -> list[int]:
    """Margin-ordered multiprobe bucket sequence (Lv et al., "Multi-
    Probe LSH", VLDB 2007 — adapted from p-stable to hyperplane LSH):
    the cost of flipping bit i is the query's |margin| against plane i
    (a near neighbor most plausibly sits across the hyperplanes the
    query barely clears); buckets rank by total flip cost ascending.

    Deliberately declarative so a SQL oracle can replay it exactly:
    enumerate every bucket, cost = Σ |margin_i| over the bits that
    differ from the query's bucket, FLOOR-quantized to 6 dp (the
    repo's q6 convention), ties broken by bucket id. Driver-side,
    deterministic, vectorized — 2^nbits × nbits bit matrix, a
    model-sized computation exactly like the IVF codebook (nbits ≤ 16
    enforced — 2^16×16 doubles ≈ 8 MB; past that an ANN user wants
    IVF anyway)."""
    if nbits > 16:
        raise ValueError(f"_probe_sequence: nbits {nbits} > 16 — use ivf_topk")
    q = [float(x) for x in qv]
    planes = _hyperplanes(nbits, len(q))
    # margins as explicit left folds, NOT planes @ q: BLAS may reorder
    # the summation, and the margin signs must match the engine's
    # F.aggregate bucket assignment and the oracle's list_dot_product
    # bit for bit (the same convention _rank_probes documents)
    margins = [_seq_dot_py(row, q) for row in planes.tolist()]
    base = 0
    for i in range(nbits):
        if margins[i] > 0:
            base |= 1 << i
    cost = [abs(m) for m in margins]
    scored = []
    for mask in range(1 << nbits):
        # ascending-i accumulation — a fixed, engine-independent order
        acc = 0.0
        for i in range(nbits):
            if (mask >> i) & 1:
                acc += cost[i]
        scored.append((float(np.floor(acc * 1e6) / 1e6), mask ^ base))
    scored.sort(key=lambda t: (t[0], t[1]))  # cost asc, then bucket asc
    return [b for _, b in scored[: int(n_probes)]]


def lsh_topk(
    embs: DataFrame,
    query_vec_id: int,
    k: int = 10,
    nbits: int = 12,
    dim: int = 64,
    n_probes: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates = the ``n_probes`` margin-ordered
    multiprobe buckets of the query (default 3·nbits — the Lv-style
    probe-ordered walk, NOT a fixed hamming radius: flipping the two
    lowest-margin bits is usually cheaper AND more productive than
    flipping one high-margin bit), exact cosine re-rank within
    candidates. Same output schema as cosine_topk.

    Scale shape: the query row is fetched once (API-edge 1-row collect,
    same class as the IVF codebook) and both the query vector and the
    probe-bucket list ride into the scan as LITERALS — candidate
    selection is a scan-local ``bucket IN (...)`` with no broadcast
    join and no per-row hamming arithmetic, and prunes at the source
    when buckets are precomputed into a partitioned column.

    Posture (SCALE.md "ANN quality"): for ANN TOP-K prefer
    :func:`ivf_topk` — it recovers recall@10 ≈ 0.81 on the hard
    fixture vs 0.51 here at comparable candidate budgets. LSH's
    comparative advantage is bucketed PAIR generation
    (:func:`lsh_bucketed_pairs`), where banding multiplies
    selectivity."""
    if n_probes is None:
        n_probes = 3 * nbits
    b = bucket_ids(embs, nbits, dim)
    qrow = (
        b.filter(F.col("vec_id") == query_vec_id)
        .select("v", "norm")
        .collect()
    )
    if not qrow or float(qrow[0]["norm"]) == 0.0:
        # unknown query id or zero-norm query: cosine is undefined —
        # empty frame, the SAME contract as cosine_topk / ivf_topk
        # (callers treat the three top-k paths as interchangeable)
        spark = embs.sparkSession
        return spark.createDataFrame(
            spark.sparkContext.emptyRDD(), "vec_id long, cosine double"
        )
    qv, qnorm = qrow[0]["v"], float(qrow[0]["norm"])
    probes = _probe_sequence(qv, nbits, n_probes)
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    cand = b.filter(F.col("vec_id") != query_vec_id).filter(
        F.col("bucket").isin([int(p) for p in probes])
    )
    scored = cand.select(
        "vec_id",
        q6(dot(F.col("v"), qlit) / (F.col("norm") * F.lit(qnorm))).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


def _ivf_centroids(embs: DataFrame, n_centroids: int) -> list:
    """The coarse-quantizer codebook: a deterministic sample (the
    ``n_centroids`` smallest vec_ids — reproducible everywhere; the
    QUALITY path is ``ivf_train`` with its farthest-point hash-sample
    seeding, same downstream shape), COLLECTED to the driver. The
    codebook is a model, not data — m·dim floats, exactly like the
    fixed LSH hyperplanes — so shipping it inside the assignment
    kernel's closure keeps assignment scan-local instead of paying a
    crossJoin + groupBy (measured ~4× on the assignment stage)."""
    return (
        with_norm(embs)
        .orderBy("vec_id")
        .limit(n_centroids)
        .select("vec_id", "v", "norm")
        .collect()
    )


# IVF assignment and probe ranking run in Arrow kernels at EVERY
# codebook size. Spark's higher-order functions are CodegenFallback
# (interpreted): a literal-codebook Catalyst projection (one HOF fold
# per centroid) measured 3-4x slower at sf0.1 even at m=16 (knn_join
# 4.3 s → 1.1 s, semantic_dedup 2.3 s → 0.7 s, ivf_topk 2.1 s → 0.6 s,
# steady-state min-of-3), and above a few hundred centroids it cannot
# be planned at all — the ~100k-centroid codebooks SCALE.md recommends
# for crawl scale need the kernel. Assignment is pinned against the
# driver fold ``_rank_probes`` by tests/test_ivf_kernel.py.


def _cent_arrays(cents: list):
    """Codebook rows → numpy arrays SORTED by centroid id ascending, so
    ``np.argmax`` first-occurrence ties pick the lowest centroid id
    (the ``_rank_probes`` tie-break). Zero-norm centroids carry no
    direction and would make every cosine against them NaN — raise
    loudly (same contract as ``_pq_kernel``'s ivf path)."""
    rows = sorted(cents, key=lambda r: int(r["vec_id"]))
    C = np.asarray([list(r["v"]) for r in rows], dtype=np.float64)
    cids = np.asarray([int(r["vec_id"]) for r in rows], dtype=np.int64)
    cnorm = np.asarray([float(r["norm"]) for r in rows], dtype=np.float64)
    if (cnorm <= 0.0).any():
        raise ValueError("ivf codebook contains a zero-norm centroid")
    return C, cids, cnorm


def _cosines_to_cents(pdf, C, cnorm):
    """Shared per-batch math for the assignment/probe kernels: unpack
    an Arrow batch of (vec_id, embedding), drop zero-norm rows, and
    return (ids, V, norm, cs) where ``cs[r][c]`` is the exact cosine
    of row r to centroid c. Every accumulation is a LEFT FOLD over the
    dim axis (an explicit j-loop of vectorized ``+=``, never
    np.dot/np.einsum — BLAS reorders the summation), so each cosine is
    bit-identical to the JVM's ``F.aggregate`` fold and to DuckDB's
    ``list_dot_product``."""
    V = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["embedding"]])
    dim = C.shape[1]
    acc = np.zeros(len(V), dtype=np.float64)
    for j in range(dim):
        acc += V[:, j] * V[:, j]
    norm = np.sqrt(acc)
    keep = norm > 0.0
    if not keep.any():
        return None
    V, norm = V[keep], norm[keep]
    ids = pdf["vec_id"].to_numpy()[keep]
    cs = np.zeros((len(V), len(C)), dtype=np.float64)
    for j in range(dim):
        cs += V[:, j : j + 1] * C[None, :, j]
    cs = cs / (norm[:, None] * cnorm[None, :])
    return ids, V, norm, cs


def _ivf_assign_kernel(cents: list):
    """Arrow-batched IVF coarse assignment: (vec_id, embedding) →
    (vec_id, v, norm, cent) over non-zero-norm rows, ``cent`` equal to
    ``_rank_probes(cents, v, norm, 1)[0]`` (pinned by
    tests/test_ivf_kernel.py). The codebook is broadcast inside the
    closure as numpy arrays — model-sized (m·dim doubles), one
    matmul-shaped fold per batch — so planning cost is INDEPENDENT of
    the centroid count: this path reaches the ~100k-centroid codebooks
    a literal expression tree cannot plan."""
    import pandas as pd

    C, cids, cnorm = _cent_arrays(cents)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = _cosines_to_cents(pdf, C, cnorm)
            if out is None:
                continue
            ids, V, norm, cs = out
            cent = cids[np.argmax(cs, axis=1)]
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "v": [r.tolist() for r in V],
                    "norm": norm,
                    "cent": cent.astype("int32"),
                }
            )

    return run


def _ivf_probe_kernel(cents: list, n_probe: int):
    """Arrow-batched query-side probe ranking for ``knn_join``:
    (vec_id, embedding) → (qid, qv, qnorm, cent) with one row per
    (query, probe cell) — the ``_rank_probes`` order (cos DESC, cent_id
    ASC tie-break via a STABLE argsort over the id-sorted codebook)."""
    import pandas as pd

    C, cids, cnorm = _cent_arrays(cents)
    n_probe = int(n_probe)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = _cosines_to_cents(pdf, C, cnorm)
            if out is None:
                continue
            ids, V, norm, cs = out
            # stable sort on -cos: ties keep codebook (ascending id) order
            order = np.argsort(-cs, axis=1, kind="stable")[:, :n_probe]
            width = order.shape[1]
            yield pd.DataFrame(
                {
                    "qid": np.repeat(ids, width),
                    "qv": [r.tolist() for r in np.repeat(V, width, axis=0)],
                    "qnorm": np.repeat(norm, width),
                    "cent": cids[order].reshape(-1).astype("int32"),
                }
            )

    return run


def kmeans_seed(
    embs: DataFrame, n_centroids: int, sample_cap: int = 2048
) -> list[dict]:
    """Deterministic k-means++-style seeding WITHOUT randomness:
    Gonzalez (1985) farthest-point traversal over a bounded md5-hash
    sample. Two properties the smallest-vec_id placeholder lacks:

    - the sample is UNBIASED w.r.t. id assignment order (smallest ids
      at crawl scale = the oldest documents = one corner of the
      distribution), because md5(vec_id) order is effectively uniform;
    - the seeds are SPREAD: each next seed maximizes its minimum
      angular distance to the chosen set, so a skewed corpus cannot
      hand every seed to one dense region (the unbalanced-cell →
      straggler-task failure mode of SemDeDup at scale).

    Everything is reproducible with no RNG anywhere: hash order fixes
    the sample, the traversal is greedy with lowest-vec_id tie-breaks.
    Cost: ONE TakeOrderedAndProject collect of ``sample_cap`` rows
    (model-sized: cap × dim floats), then O(cap · k) driver arithmetic.
    Returns codebook rows shaped like ``_ivf_centroids`` output."""
    sample = (
        with_norm(embs)
        .filter(F.col("norm") > 0.0)
        .withColumn("_hk", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_hk", "vec_id")
        .limit(int(sample_cap))
        .select("vec_id", "v", "norm")
        .collect()
    )
    if not sample:
        return []
    X = np.asarray([r["v"] for r in sample], dtype=np.float64)
    ids = np.asarray([int(r["vec_id"]) for r in sample])
    norms = np.asarray([float(r["norm"]) for r in sample])
    U = X / norms[:, None]  # unit vectors: cosine = dot
    chosen = [0]  # first seed = smallest-hash row (fixed by the sample order)
    d = 1.0 - U @ U[0]  # angular distance to the nearest chosen seed
    d[0] = -np.inf
    while len(chosen) < min(int(n_centroids), len(sample)):
        # farthest-first; ties (exact-duplicate directions) break to the
        # lowest vec_id so the traversal is total-ordered
        best = np.lexsort((ids, -d))[0]
        if d[best] <= 1e-12:
            break  # no distinct direction left — a smaller codebook
        chosen.append(int(best))
        d = np.minimum(d, 1.0 - U @ U[best])
        d[best] = -np.inf
    return [
        {
            "vec_id": int(ids[i]),
            "v": [float(x) for x in X[i]],
            "norm": float(norms[i]),
        }
        for i in chosen
    ]


def ivf_train(
    embs: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    init: str = "fps",
    sample_cap: int = 2048,
    train_cap: int | None = None,
) -> list[dict]:
    """Train the IVF codebook with ``iters`` Lloyd (k-means) rounds —
    spherical k-means (cosine assignment, mean + renormalize update).

    ``train_cap``: when set, the Lloyd rounds run entirely on the
    driver over a ``train_cap``-row md5-hash sample (the FAISS
    posture — PQ training already does this) instead of the
    full-corpus distributed loop, whose per-iteration means collect
    is m·dim rows — the right call at large ``n_centroids``. Same
    deterministic rules either way; the default (None) keeps the
    legacy full-corpus loop.

    Fully deterministic: init = ``kmeans_seed`` farthest-point seeding
    over a bounded hash-sample (``init="fps"``, the default) or the
    ``n_centroids`` smallest vec_ids (``init="ids"`` — the legacy
    oracle-stable placeholder), then each round is one distributed
    pass (scan-local assignment via ``ivf_assign``'s Arrow kernel →
    per-(centroid, dim) mean via posexplode + groupBy) with only the
    m·dim codebook itself coming back to the driver — the canonical
    Spark iterative-ML shape (the data never moves; the model does).
    Returns codebook rows shaped like ``_ivf_centroids`` output
    (vec_id = centroid id, v, norm)."""
    if init == "fps":
        cents = kmeans_seed(embs, n_centroids, sample_cap)
    elif init == "ids":
        cents = [
            {"vec_id": r["vec_id"], "v": list(r["v"]), "norm": r["norm"]}
            for r in _ivf_centroids(embs, n_centroids)
        ]
    else:
        raise ValueError(f"init must be 'fps' or 'ids', got {init!r}")
    if train_cap:
        # bounded-sample Lloyd entirely on the driver — the FAISS
        # training posture (max(10k, 256·k) points regardless of
        # corpus size) and the path that scales to large codebooks:
        # the full-corpus loop below collects m·dim per-dimension
        # means PER ITERATION (6.4M rows at 100k centroids × dim 64)
        # and re-assigns the whole corpus each round, both pointless
        # when a bounded sample trains the same model. Deterministic
        # like everything here: md5-hash sample, argmax ties to the
        # lowest centroid id, mean + renorm update, empty cells keep
        # their centroid. The returned codebook feeds the SAME
        # downstream assignment paths (oracle rows pin assignment
        # GIVEN a codebook, so training locus doesn't affect parity).
        rows = (
            with_norm(embs)
            .filter(F.col("norm") > 0.0)
            .withColumn("_hk", F.md5(F.col("vec_id").cast("string")))
            .orderBy("_hk", "vec_id")
            .limit(int(train_cap))
            .select("vec_id", "v", "norm")
            .collect()
        )
        if not rows:
            return cents
        X = np.asarray([list(r["v"]) for r in rows], dtype=np.float64)
        U = X / np.asarray([float(r["norm"]) for r in rows])[:, None]
        order = sorted(range(len(cents)), key=lambda i: int(cents[i]["vec_id"]))
        cents = [cents[i] for i in order]  # argmax ties → lowest cid
        for _ in range(iters):
            C = np.asarray([c["v"] for c in cents], dtype=np.float64)
            cn = np.asarray([c["norm"] for c in cents], dtype=np.float64)
            # same explicit per-dimension left fold as _cosines_to_cents
            # — never a BLAS matmul, whose summation order (and thus
            # the trained codebook, bitwise) can differ across BLAS
            # builds/thread counts (ADVICE r10); elementwise += is
            # IEEE-deterministic everywhere
            cs = np.zeros((len(U), len(C)), dtype=np.float64)
            for j in range(U.shape[1]):
                cs += U[:, j : j + 1] * C[None, :, j]
            a = np.argmax(cs / cn[None, :], axis=1)
            new_cents = []
            for ci, c in enumerate(cents):
                members = X[a == ci]
                if not len(members):
                    new_cents.append(c)
                    continue
                v = members.mean(axis=0)
                norm = float(np.sqrt(np.sum(v * v)))
                if norm == 0.0:
                    new_cents.append(c)
                    continue
                new_cents.append(
                    {"vec_id": c["vec_id"], "v": [float(x) for x in v], "norm": norm}
                )
            cents = new_cents
        return cents
    for _ in range(iters):
        assigned = ivf_assign(embs, codebook=cents)
        means = (
            assigned.select("cent", F.posexplode("v").alias("pos", "x"))
            .groupBy("cent", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cent: dict[int, dict[int, float]] = {}
        for row in means:
            by_cent.setdefault(int(row["cent"]), {})[int(row["pos"])] = float(row["m"])
        new_cents = []
        for c in cents:
            dims = by_cent.get(int(c["vec_id"]))
            if not dims:  # list went empty — keep the old centroid
                new_cents.append(c)
                continue
            v = [dims[i] for i in range(len(dims))]
            norm = sum(x * x for x in v) ** 0.5
            if norm == 0.0:
                new_cents.append(c)
                continue
            new_cents.append({"vec_id": c["vec_id"], "v": v, "norm": norm})
        cents = new_cents
    return cents


def ivf_assign(
    embs: DataFrame,
    n_centroids: int = 16,
    codebook: list | None = None,
) -> DataFrame:
    """(vec_id, v, norm, cent): IVF coarse quantization — every vector
    assigned to its nearest (by cosine) centroid, zero shuffles. This
    is the build step you'd persist/bucket-by at 100 TB so probes
    become partition-pruned reads. Pass a trained ``codebook``
    (ivf_train) for tighter lists; default is the deterministic sample.

    One Arrow ``mapInPandas`` pass with the codebook broadcast as numpy
    (plans at ANY m — the ~100k-centroid crawl-scale regime); ties
    pick the lowest centroid id. Zero-norm vectors have no direction
    and are dropped (they would otherwise score NaN downstream, and
    Spark ranks NaN above every real cosine)."""
    cents = codebook if codebook is not None else _ivf_centroids(embs, n_centroids)
    return embs.select("vec_id", "embedding").mapInPandas(
        _ivf_assign_kernel(cents),
        "vec_id long, v array<double>, norm double, cent int",
    )


def _rank_probes(cents: list, qv: list, qnorm: float, n_probe: int) -> list[int]:
    """Driver-side probe ranking over the coarse codebook — sequential
    left-to-right folds (``_seq_dot_py``, NOT np.dot: BLAS may reorder
    the summation) so the ranking is bit-identical to the kernels'
    per-dimension fold and to an oracle's list_dot_product. Zero-norm
    centroids (an all-zero vector among the seeds) carry no direction —
    ranked last instead of dividing by zero."""
    ranked = sorted(
        cents,
        key=lambda r: (
            -_seq_dot_py(r["v"], qv) / (r["norm"] * qnorm)
            if r["norm"] > 0.0
            else float("inf"),
            r["vec_id"],
        ),
    )
    return [int(r["vec_id"]) for r in ranked[:n_probe]]


def ivf_topk(
    embs: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    codebook: list | None = None,
) -> DataFrame:
    """IVF ANN top-k: probe the ``n_probe`` centroid lists nearest the
    query and exact-rank only those lists' members — search cost ∝
    probed fraction (n_probe/n_centroids) of the corpus instead of all
    of it. Approximate (recall bounded by probe width); scores are
    exact cosines, so the ranking within candidates is exact. Same
    output schema as cosine_topk.

    Plan shape: probe-list selection happens on the driver (m-entry
    codebook × 1 query vector — control plane), so the whole search is
    one scan through the assignment kernel, an ``isin`` list-membership
    filter, codegen dot products and TakeOrderedAndProject. Zero
    shuffles, zero joins."""
    cents = codebook if codebook is not None else _ivf_centroids(embs, n_centroids)
    qrows = with_norm(embs).filter(F.col("vec_id") == query_vec_id).collect()
    if len(qrows) != 1 or qrows[0]["norm"] == 0.0:
        # unknown query id or zero-norm query: cosine is undefined —
        # return the empty frame, the same contract as cosine_topk
        # (whose JVM-side division degrades to null and filters out)
        spark = embs.sparkSession
        return spark.createDataFrame(
            spark.sparkContext.emptyRDD(), "vec_id long, cosine double"
        )
    (qrow,) = qrows
    probe_ids = _rank_probes(cents, list(qrow["v"]), float(qrow["norm"]), n_probe)

    qcol = F.array(*[F.lit(float(x)) for x in qrow["v"]])
    scored = (
        ivf_assign(embs, codebook=cents)
        .filter(F.col("cent").isin(probe_ids) & (F.col("vec_id") != query_vec_id))
        .select(
            "vec_id",
            q6(dot(F.col("v"), qcol) / (F.col("norm") * F.lit(float(qrow["norm"])))).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


def _semdedup_dropped_kernel(tau: float):
    """Per-cell Arrow kernel for SemDeDup's within-cluster pair scan:
    given one cluster's (vec_id, v, norm) rows, emit the vec_ids that
    have a SMALLER-id neighbor at q6(cosine) >= tau. Cosines accumulate
    with the same per-dimension left fold as every other kernel in this
    file and as ``_seq_dot_py`` (never BLAS), then floor-1e-6
    quantization and a >= comparison.

    Why a kernel (round 11, measured at the sf1 probe): a literal
    pair-join plan materializes every in-cell pair through a join and
    scores it with a higher-order fold — CodegenFallback, interpreted,
    ~3-6 us per PAIR, and pair count is quadratic in cell size. At 20k vectors
    over 16 cells (~12.5M pairs) that was 81 s; this kernel does the
    same arithmetic as blocked numpy outer products in ~2 s.

    TILED (round 14, measured at the sf10 probe): the r13 shape
    accumulated each (row-block × whole cell) cosine slab dim times —
    at 12.5k-row cells that is 64 read+write passes over a ~256 MB
    slab, ~1.4 TB of DRAM traffic per cell, and the fold turned
    memory-bandwidth-bound (engine 265 s vs DuckDB 52 at sf10). The
    pair matrix is now walked in ~8 MB cache-resident tiles with the
    dim loop INSIDE the tile, and V is pre-transposed so each dim's
    slice is contiguous. Per (i, j) element the adds are the same
    products in the same dim order, then the same norm division and
    floor-1e-6 quantization — bit-identical output by construction
    (pinned vs the untiled fold and a plain-Python pair rule in
    tests/test_retrieval_semdedup.py). The O(cell^2) work itself is
    SemDeDup's contract — raise n_centroids with the corpus to bound
    cells (SCALE.md)."""

    def fn(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        empty = pd.DataFrame({"vec_id": pd.Series([], dtype="int64")})
        if n < 2:
            return empty
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        V = np.asarray(
            [np.asarray(x, dtype=np.float64) for x in pdf["v"]], dtype=np.float64
        )[order]
        norms = pdf["norm"].to_numpy(dtype=np.float64)[order]
        dim = V.shape[1]
        VT = np.ascontiguousarray(V.T)  # dim x n: per-dim slices contiguous
        dropped = np.zeros(n, dtype=bool)
        it, jt = 512, 2048  # ~8 MB cs tile: stays cache-resident across dims
        for i0 in range(0, n, it):
            i1 = min(i0 + it, n)
            # pairs need i < j, so no tile left of the diagonal band
            for j0 in range(i0 + 1, n, jt):
                j1 = min(j0 + jt, n)
                cs = np.zeros((i1 - i0, j1 - j0), dtype=np.float64)
                for d in range(dim):  # left fold over dims — never np.dot
                    cs += VT[d, i0:i1, None] * VT[d, None, j0:j1]
                cs /= norms[i0:i1, None] * norms[None, j0:j1]
                hit = np.floor(cs * 1e6) / 1e6 >= tau
                if j0 < i1:  # tile crosses the diagonal: mask i >= j
                    hit &= (
                        np.arange(i0, i1)[:, None] < np.arange(j0, j1)[None, :]
                    )
                dropped[j0:j1] |= hit.any(axis=0)
        if not dropped.any():
            return empty
        return pd.DataFrame({"vec_id": ids[dropped].astype("int64")})

    return fn


def semantic_dedup(
    embs: DataFrame,
    tau: float = 0.95,
    n_centroids: int = 16,
    codebook: list | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with the IVF coarse codebook,
    compute cosine pairs WITHIN each cluster only, and drop every
    vector that has a same-cluster neighbor with cosine ≥ ``tau`` and a
    smaller vec_id — the canonical-min keep rule (deterministic, same
    contract as ``exact_duplicates``; the paper keeps the
    lowest-centroid-similarity member, which needs the same pair set).
    Returns (vec_id, cent, keep).

    This is the SCALE path for embedding dedup: pairs are scored only
    within a centroid cell, so candidate pairs are bounded per
    cluster — never all-pairs (``embedding_dup_pairs`` is the guarded
    O(n²) baseline). At 100 TB, raise ``n_centroids`` ∝ corpus size
    (the paper uses ~100k clusters for LAION-scale) so per-cluster
    membership stays ~constant; assignment itself is one scan-local
    pass (the Arrow kernel — plans at any codebook size, zero
    shuffles) and the per-cluster pair scan pays ONE shuffle on
    the small int key. A trained codebook (``ivf_train``) tightens
    clusters; the deterministic seeded codebook is the replayable
    default.

    Each cluster's pairs are scored in one blocked-numpy Arrow pass
    per cell (measured 40x over a literal pair join at the round-11
    sf1 probe: interpreted HOF folds price every PAIR, and pairs are
    quadratic in cell size). Pinned against a plain-Python pair rule
    by tests/test_retrieval_semdedup.py.
    """
    from zestdb_spark.functions.dedup import _persist_bounded

    # materialize the assignment ONCE: it feeds two subtrees (the
    # per-cell pair scan + the final keep join), and each would
    # otherwise re-run the assignment over the whole corpus. This is
    # also the 100 TB shape — SemDeDup persists cluster assignments as
    # a build artifact, not a throwaway subtree; ``assigned=``
    # short-circuits the build with such a PERSISTED ivf_assign output
    if assigned is None:
        assigned = _persist_bounded(ivf_assign(embs, n_centroids, codebook))
    # ONE Arrow pass per cluster (one shuffle on cent) — quadratic pair
    # work stays inside vectorized numpy (see _semdedup_dropped_kernel)
    dropped = (
        assigned.select("vec_id", "v", "norm", "cent")
        .groupBy("cent")
        .applyInPandas(_semdedup_dropped_kernel(tau), "vec_id long")
        .withColumn("_dup", F.lit(True))
    )
    # one outer join against the (small) dropped set — not an anti- plus
    # semi-join pair, which would run the per-cell pair scan twice
    return assigned.join(dropped, "vec_id", "left").select(
        "vec_id", "cent", F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep")
    )


def lsh_bucketed_pairs(embs: DataFrame, tau: float, nbits: int = 8, dim: int = 64) -> DataFrame:
    """Approximate near-dup pairs: equi-join on bucket (single shuffle
    on a small int key) then exact cosine filter — the 100 TB
    alternative to embedding_dup_pairs' cross join."""
    b = bucket_ids(embs, nbits, dim)
    a = b.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("norm_a"), "bucket")
    c = b.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("norm_b"), "bucket")
    return (
        a.join(c, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            q6(dot(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= tau)
        # no distinct: each vector has exactly ONE bucket, so the
        # equi-join can produce a given (id_a, id_b) at most once — a
        # dedup here would add a full extra shuffle over the candidate
        # set on the designated 100 TB path for nothing
    )


# --------------------------------------------------------------- PCA

def embedding_moments(embs: DataFrame, dim: int, vec: str = "embedding"):
    """Exact first and second moments of the embedding distribution in
    ONE aggregation pass: returns ``(n, s, m2)`` where ``s[i] = Σ v[i]``
    and ``m2[i][j] = Σ v[i]·v[j]`` (upper triangle mirrored), all
    accumulated as DECIMAL(38,12) — so the moments (and everything
    derived from them) are bit-identical under any partitioning or
    retry, the same order-free-accumulation contract as the trained
    quality probe. dim(dim+3)/2 running sums, map-side combined, one
    1-row result; no row ever reaches the driver."""
    x = [F.element_at(F.col(vec), i + 1).cast("double") for i in range(dim)]
    dec = "decimal(38,12)"
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i in range(dim):
        aggs.append(F.sum(x[i].cast(dec)).alias(f"_s_{i}"))
        for j in range(i, dim):
            aggs.append(F.sum((x[i] * x[j]).cast(dec)).alias(f"_m_{i}_{j}"))
    row = embs.agg(*aggs).first()
    n = row["_n"]
    if not n:
        return 0, np.zeros(dim), np.zeros((dim, dim))
    s = np.array([float(row[f"_s_{i}"]) for i in range(dim)])
    m2 = np.zeros((dim, dim))
    for i in range(dim):
        for j in range(i, dim):
            m2[i, j] = m2[j, i] = float(row[f"_m_{i}_{j}"])
    return n, s, m2


def fit_pca(embs: DataFrame, k: int, dim: int, vec: str = "embedding") -> dict:
    """Principal components from the exact one-pass moments: the
    driver work is a dim×dim symmetric eigendecomposition (numpy eigh
    on the covariance ``m2/n − μμᵀ``), model-sized like the IVF
    codebook collect. Returns ``{"mean", "basis", "explained"}`` with
    ``basis`` the top-``k`` eigenvectors (rows, descending eigenvalue;
    sign fixed so each vector's largest-|coord| entry is positive —
    eigenvectors are sign-ambiguous and the fix makes the model
    deterministic). The scale shape for embedding whitening /
    dimensionality reduction before ANN: one corpus pass to fit, one
    scan-local projection to apply."""
    if not 1 <= k <= dim:
        raise ValueError(f"fit_pca: need 1 <= k <= dim, got k={k} dim={dim}")
    n, s, m2 = embedding_moments(embs, dim, vec)
    if not n:
        raise ValueError("fit_pca: empty embedding frame")
    mu = s / n
    cov = m2 / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    basis = []
    for idx in order:
        b = vecs[:, idx]
        pivot = int(np.argmax(np.abs(b)))
        if b[pivot] < 0:
            b = -b
        basis.append([float(x) for x in b])
    total = float(vals.sum()) or 1.0
    return {
        "mean": [float(x) for x in mu],
        "basis": basis,
        "explained": [float(vals[i] / total) for i in order],
        "eigenvalues": [float(vals[i]) for i in order],
    }


# ------------------------------------------- product quantization (PQ)
#
# The memory-compressed ANN path (Jégou, Douze, Schmid, "Product
# Quantization for Nearest Neighbor Search", IEEE TPAMI 2011 — the
# public recipe behind FAISS's PQ/IVFPQ indexes): split each unit
# vector into m subvectors, quantize each against a per-subspace
# codebook of n_codes centroids, and search with an asymmetric
# distance computation (ADC) — the query stays exact, each database
# vector is scored as the sum of m lookup-table entries. At 100 TB
# this is the difference between storing 256 bytes/vector (float32
# dim-64) and m bytes/vector (m=8 → 32× compression): the codes table
# for a trillion vectors fits a modest cluster's memory, and scoring
# is m array lookups + adds per row in whole-stage codegen — no
# Python, no shuffle, no join.


def _seq_dot_py(a, b) -> float:
    """Driver-side left fold matching F.aggregate / list_dot_product
    (NOT np.dot — BLAS may reorder the summation)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def pq_train(
    embs: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    init: str = "ids",
    iters: int = 8,
    sample_cap: int = 2048,
) -> dict:
    """Train the PQ codebook over UNIT-normalized vectors (so the ADC
    inner product approximates cosine directly).

    - ``init="ids"`` (default): centroids = the subvectors of the
      ``n_codes`` smallest vec_ids, no Lloyd rounds — fully
      deterministic and replayable in ANSI SQL, the oracle-stable
      placeholder (same posture as ``_ivf_centroids``).
    - ``init="fps"``: per-subspace Gonzalez farthest-point seeding over
      a bounded md5-hash sample followed by ``iters`` Lloyd (k-means)
      rounds in driver numpy — the QUALITY path. The sample is
      model-sized (``sample_cap`` × dim doubles); training PQ codebooks
      on a bounded sample is the standard practice (FAISS trains on
      ~max(10k, 256·k) points regardless of corpus size), so this is
      the honest 100 TB shape, not a shortcut.

    Returns ``{"m", "sub", "dim", "cents", "half"}`` where
    ``cents[s][c]`` is the sub-dim centroid and ``half[s][c]`` its
    half squared norm (folded on the driver so assignment is
    ``argmax dot(x_s, c) − ‖c‖²/2`` — one literal subtraction instead
    of a per-row norm term)."""
    if init == "ids":
        rows = (
            with_norm(embs)
            .filter(F.col("norm") > 0.0)
            .orderBy("vec_id")
            .limit(int(n_codes))
            .collect()
        )
        U = [[float(x) / float(r["norm"]) for x in r["v"]] for r in rows]
    elif init == "fps":
        sample = (
            with_norm(embs)
            .filter(F.col("norm") > 0.0)
            .withColumn("_hk", F.md5(F.col("vec_id").cast("string")))
            .orderBy("_hk", "vec_id")
            .limit(int(sample_cap))
            .collect()
        )
        U = [[float(x) / float(r["norm"]) for x in r["v"]] for r in sample]
    else:
        raise ValueError(f"init must be 'ids' or 'fps', got {init!r}")
    if not U:
        raise ValueError("pq_train: no non-zero vectors to train on")
    dim = len(U[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    cents: list[list[list[float]]] = []
    if init == "ids":
        for s in range(m):
            cents.append([u[s * sub : (s + 1) * sub] for u in U])
    else:
        X = np.asarray(U, dtype=np.float64)
        for s in range(m):
            Xs = X[:, s * sub : (s + 1) * sub]
            # Gonzalez farthest-point seeding (deterministic: first seed
            # = first sample row, ties break to the lowest sample index)
            k = min(int(n_codes), len(Xs))
            chosen = [0]
            d = np.sum((Xs - Xs[0]) ** 2, axis=1)
            d[0] = -np.inf
            while len(chosen) < k:
                best = int(np.lexsort((np.arange(len(Xs)), -d))[0])
                if d[best] <= 1e-24:
                    break
                chosen.append(best)
                d = np.minimum(d, np.sum((Xs - Xs[best]) ** 2, axis=1))
                d[best] = -np.inf
            C = Xs[chosen].copy()
            for _ in range(int(iters)):
                # Lloyd round over the sample: nearest centroid by L2,
                # mean update; empty cells keep their centroid
                d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                a = np.argmin(d2, axis=1)
                for c in range(len(C)):
                    mask = a == c
                    if mask.any():
                        C[c] = Xs[mask].mean(axis=0)
            cents.append([[float(x) for x in row] for row in C])
    half = [
        [0.5 * _seq_dot_py(c, c) for c in cents[s]] for s in range(m)
    ]
    return {"m": m, "sub": sub, "dim": dim, "cents": cents, "half": half}


def _pq_kernel(
    codebook: dict,
    lut: "list[list[float]] | None",
    ivf: "list | None" = None,
    probes: "set[int] | None" = None,
):
    """The Arrow-batched PQ kernel shared by ``pq_encode`` (codes) and
    ``pq_topk`` (fused encode + ADC score): vectorized numpy over
    Arrow record batches via ``mapInPandas`` — the same shape as the
    media codecs and the Misra-Gries candidate pass.

    Why not a JVM expression tree: assignment is m × n_codes unrolled
    dot products (1024 multiply-adds at m=8 × 16 codes × sub 8).
    Measured on Spark 4.1: as higher-order functions
    (transform/aggregate/zip_with are CodegenFallback) it interprets
    at ~3 ms/row and re-evaluates per OUTPUT row under a Generate
    (25 s for one sf0.01 encode+explode); unrolled to scalar
    arithmetic it blows janino's 64 KB method limit ("Code grows
    beyond 64 KB") and the whole stage falls back to interpreted
    anyway. The vectorized kernel runs the identical IEEE ops at
    ~µs/row — the FAISS posture (SIMD kernels over codebook-sized
    models), expressed in Spark as one Arrow pass.

    Bit-exactness contract (so DuckDB replays it exactly):
    - norms and per-centroid scores accumulate as LEFT FOLDS over the
      dim/sub axis (an explicit j-loop of vectorized ``+=``), never
      np.dot/np.sum (BLAS/pairwise reorder the summation);
    - unit-normalization is one elementwise IEEE division;
    - argmax ties take the FIRST (lowest) code, matching the oracle's
      ``row_number ... ORDER BY sc DESC, code ASC``;
    - the ADC sum chains ``L0[c0] + L1[c1] + ...`` left-to-right and
      q6-floors at the end (floor(x·10⁶)/10⁶ — same double math as
      the JVM's).

    ``ivf`` (coarse codebook rows shaped like ``_ivf_centroids``
    output, ordered by centroid id) adds IVF coarse assignment: cosine
    to every centroid via the same exact folds, argmax with
    lowest-cid ties — emitted as a ``cent`` column when encoding.
    ``probes`` (a set of centroid ids) keeps only those cells' rows —
    the IVFPQ search shape: coarse-prune, then ADC only the survivors."""
    import pandas as pd

    m, sub, dim = codebook["m"], codebook["sub"], codebook["dim"]
    C = [np.asarray(codebook["cents"][s], dtype=np.float64) for s in range(m)]
    H = [np.asarray(codebook["half"][s], dtype=np.float64) for s in range(m)]
    L = None if lut is None else [np.asarray(x, dtype=np.float64) for x in lut]
    if ivf is not None:
        icents = np.asarray([list(r["v"]) for r in ivf], dtype=np.float64)
        icids = np.asarray([int(r["vec_id"]) for r in ivf])
        icnorm = np.asarray([float(r["norm"]) for r in ivf])
        if (icnorm <= 0.0).any():
            raise ValueError("ivf codebook contains a zero-norm centroid")

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf["embedding"]]
            )
            acc = np.zeros(len(V), dtype=np.float64)
            for j in range(dim):
                acc += V[:, j] * V[:, j]
            norm = np.sqrt(acc)
            keep = norm > 0.0
            if not keep.any():
                continue
            V = V[keep]
            norm = norm[keep]
            ids = pdf["vec_id"].to_numpy()[keep]
            cent = None
            if ivf is not None:
                cs = np.zeros((len(V), len(icents)), dtype=np.float64)
                for j in range(dim):
                    cs += V[:, j : j + 1] * icents[None, :, j]
                cs = cs / (norm[:, None] * icnorm[None, :])
                cent = icids[np.argmax(cs, axis=1)]
                if probes is not None:
                    inprobe = np.isin(cent, list(probes))
                    if not inprobe.any():
                        continue
                    V, norm, ids, cent = (
                        V[inprobe], norm[inprobe], ids[inprobe], cent[inprobe]
                    )
            U = V / norm[:, None]
            codes = np.empty((len(U), m), dtype=np.int32)
            for s in range(m):
                Us = U[:, s * sub : (s + 1) * sub]
                sc = np.zeros((len(U), len(C[s])), dtype=np.float64)
                for j in range(sub):
                    sc += Us[:, j : j + 1] * C[s][None, :, j]
                sc -= H[s][None, :]
                codes[:, s] = np.argmax(sc, axis=1)
            if L is None:
                out = {"vec_id": ids}
                if cent is not None:
                    out["cent"] = cent.astype("int32")
                out["codes"] = [r.tolist() for r in codes]
                yield pd.DataFrame(out)
            else:
                score = L[0][codes[:, 0]].copy()
                for s in range(1, m):
                    score += L[s][codes[:, s]]
                score = np.floor(score * 1000000.0) / 1000000.0
                yield pd.DataFrame({"vec_id": ids, "score": score})

    return run


def pq_encode(
    embs: DataFrame, codebook: dict, ivf_codebook: list | None = None
) -> DataFrame:
    """(vec_id, codes array<int>): product-quantize every vector — the
    build step you'd persist at 100 TB (m bytes of codes replacing
    dim×4 bytes of floats; 32× smaller at m=8, dim=64 float32). One
    Arrow-batched scan, zero shuffles (see ``_pq_kernel`` for why
    this is a vectorized kernel rather than a JVM expression tree);
    zero-norm vectors are dropped (no direction to quantize).

    Pass ``ivf_codebook`` (``_ivf_centroids``/``ivf_train`` rows) to
    also emit the coarse cell as a ``cent`` column — the full IVFPQ
    index build: persist partitioned/bucketed BY ``cent`` and a probe
    becomes a partition-pruned read of m-byte codes."""
    if ivf_codebook is not None:
        return embs.select("vec_id", "embedding").mapInPandas(
            _pq_kernel(codebook, None, ivf=ivf_codebook),
            "vec_id long, cent int, codes array<int>",
        )
    return embs.select("vec_id", "embedding").mapInPandas(
        _pq_kernel(codebook, None), "vec_id long, codes array<int>"
    )


def pq_topk(
    embs: DataFrame,
    query_vec_id: int,
    k: int = 10,
    codebook: dict | None = None,
    rerank: int = 0,
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ ANN top-k by asymmetric distance computation (ADC): the query
    stays an exact unit vector; every database vector scores as
    ``Σ_s LUT[s][code_s]`` where ``LUT[s][c] = dot(q̂_s, cent[s][c])``
    is folded on the driver (m × n_codes floats — a model, like the
    IVF codebook). Scores approximate cosine (both sides unit-
    normalized), q6-floored; output (vec_id, score).

    Plan shape: ONE scan, zero shuffles, zero joins, then
    TakeOrderedAndProject. Two scan variants:
    - ``codes=None``: fused encode + score over the embeddings in one
      Arrow pass (``_pq_kernel``).
    - ``codes=`` a persisted ``pq_encode`` output: the 100 TB search
      path — m element_at lookups + a left-associated sum, a ~60-node
      expression in pure whole-stage codegen over the m-bytes-per-row
      codes table; the embeddings are never read.

    ``rerank=N`` adds the FAISS-style refine step: take the top N by
    ADC, then re-score exactly against the stored vectors and return
    the exact-cosine top-k (columns (vec_id, cosine)) — recall
    approaches exact search while the exact work is N rows, not the
    corpus. The N-row candidate set joins back by vec_id with no
    forced broadcast hint (AQE decides)."""
    cb = codebook if codebook is not None else pq_train(embs, init="ids")
    qrows = with_norm(embs).filter(F.col("vec_id") == query_vec_id).collect()
    if len(qrows) != 1 or qrows[0]["norm"] == 0.0:
        spark = embs.sparkSession
        col = "cosine" if rerank else "score"
        return spark.createDataFrame(
            spark.sparkContext.emptyRDD(), f"vec_id long, {col} double"
        )
    (qrow,) = qrows
    qu = [float(x) / float(qrow["norm"]) for x in qrow["v"]]
    m, sub = cb["m"], cb["sub"]
    lut = [
        [
            _seq_dot_py(qu[s * sub : (s + 1) * sub], c)
            for c in cb["cents"][s]
        ]
        for s in range(m)
    ]
    if codes is not None:
        # Σ_s LUT[s][codes[s]] as a left-associated chain of element_at
        # lookups — pure codegen, bit-identical to the fused kernel's
        # chain and to the oracle's list_dot_product against ones
        terms = [
            F.element_at(
                F.array(*[F.lit(float(x)) for x in lut[s]]),
                F.col("codes").getItem(s) + F.lit(1),
            )
            for s in range(m)
        ]
        adc_sum = terms[0]
        for t in terms[1:]:
            adc_sum = adc_sum + t
        scored = codes.filter(F.col("vec_id") != query_vec_id).select(
            "vec_id", q6(adc_sum).alias("score")
        )
    else:
        scored = (
            embs.select("vec_id", "embedding")
            .filter(F.col("vec_id") != query_vec_id)
            .mapInPandas(_pq_kernel(cb, lut), "vec_id long, score double")
        )
    return _adc_finish(embs, scored, qrow, k, rerank)


def _adc_finish(
    embs: DataFrame, scored: DataFrame, qrow, k: int, rerank: int
) -> DataFrame:
    """Rank ADC scores; optionally refine: re-score the ADC top-N with
    exact cosines against the stored vectors (query-sized join, AQE
    decides the strategy — no forced broadcast) and return the exact
    top-k."""
    adc = scored.orderBy(F.col("score").desc(), F.col("vec_id").asc())
    if not rerank:
        return adc.limit(k)
    cands = adc.limit(int(rerank)).select("vec_id")
    qcol = F.array(*[F.lit(float(x)) for x in qrow["v"]])
    exact = (
        with_norm(embs)
        .join(cands, "vec_id")
        .select(
            "vec_id",
            q6(
                dot(F.col("v"), qcol)
                / (F.col("norm") * F.lit(float(qrow["norm"])))
            ).alias("cosine"),
        )
    )
    return exact.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


def ivfpq_topk(
    embs: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    ivf_codebook: list | None = None,
    pq_codebook: dict | None = None,
    codes: DataFrame | None = None,
    rerank: int = 0,
) -> DataFrame:
    """The full FAISS IVFPQ composition: coarse-quantize (IVF) to prune
    the corpus to ``n_probe`` of ``n_centroids`` cells, then ADC-score
    only the survivors' 8-byte codes — search cost ∝ probed fraction ×
    m lookups, memory ∝ codes. Probe selection is driver-side (the
    codebook is a model); output (vec_id, score), q6-floored, or
    (vec_id, cosine) with ``rerank``.

    ``codes=`` a persisted ``pq_encode(..., ivf_codebook=...)`` output
    (vec_id, cent, codes) is the 100 TB path: cell pruning becomes a
    partition/stats-prunable ``cent IN (...)`` filter and scoring is a
    pure-codegen element_at chain — embeddings touched only by the
    optional refine step. Without ``codes``, one fused Arrow pass
    assigns + prunes + scores."""
    icb = (
        ivf_codebook
        if ivf_codebook is not None
        else _ivf_centroids(embs, n_centroids)
    )
    pcb = pq_codebook if pq_codebook is not None else pq_train(embs, init="ids")
    qrows = with_norm(embs).filter(F.col("vec_id") == query_vec_id).collect()
    if len(qrows) != 1 or qrows[0]["norm"] == 0.0:
        spark = embs.sparkSession
        col = "cosine" if rerank else "score"
        return spark.createDataFrame(
            spark.sparkContext.emptyRDD(), f"vec_id long, {col} double"
        )
    (qrow,) = qrows
    probe_ids = _rank_probes(icb, list(qrow["v"]), float(qrow["norm"]), n_probe)
    qu = [float(x) / float(qrow["norm"]) for x in qrow["v"]]
    m, sub = pcb["m"], pcb["sub"]
    lut = [
        [_seq_dot_py(qu[s * sub : (s + 1) * sub], c) for c in pcb["cents"][s]]
        for s in range(m)
    ]
    if codes is not None:
        terms = [
            F.element_at(
                F.array(*[F.lit(float(x)) for x in lut[s]]),
                F.col("codes").getItem(s) + F.lit(1),
            )
            for s in range(m)
        ]
        adc_sum = terms[0]
        for t in terms[1:]:
            adc_sum = adc_sum + t
        scored = codes.filter(
            F.col("cent").isin(probe_ids) & (F.col("vec_id") != query_vec_id)
        ).select("vec_id", q6(adc_sum).alias("score"))
    else:
        scored = (
            embs.select("vec_id", "embedding")
            .filter(F.col("vec_id") != query_vec_id)
            .mapInPandas(
                _pq_kernel(pcb, lut, ivf=icb, probes=set(probe_ids)),
                "vec_id long, score double",
            )
        )
    return _adc_finish(embs, scored, qrow, k, rerank)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    codebook: list | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Batch ANN: the top-``k`` corpus neighbors for EVERY query row —
    the k-NN JOIN (RAG batch retrieval, embedding-dedup candidate
    generation), not a per-query driver loop. Inputs are two
    (vec_id, embedding) frames; output (qid, vec_id, cosine) with
    exact q6-floored cosines, ranked per query (``cosine`` DESC,
    ``vec_id`` ASC tie-break), self-matches excluded when a vector id
    appears on both sides.

    Plan shape — the scalable one, no cross join anywhere:
    - corpus side: scan-local IVF assignment (``ivf_assign``'s Arrow
      kernel), ONE exchange on the small-int cell key;
    - query side: one Arrow pass ranks the m-entry codebook per query
      row (``_ivf_probe_kernel``: cos DESC, cid ASC — the
      ``_rank_probes`` order) and emits one row per probe cell;
    - equi-join on cell (AQE broadcasts the query side when it is
      small — no forced hint), exact cosines in codegen, then ONE
      window per qid for the top-k.
    Cost ∝ corpus × (n_probe/n_centroids) pairs instead of
    corpus × queries; recall is ivf_topk's (same probe geometry —
    their outputs are pinned equal per query by test)."""
    cents = codebook if codebook is not None else _ivf_centroids(corpus, n_centroids)
    # corpus side drops zero-norm vectors inside ivf_assign: a zero-norm
    # row would score 0.0/0.0 = NaN against every query, and Spark
    # orders NaN ABOVE every real double — NaN-desc would rank it first
    # in the top-k of every query probing its cell (ADVICE r9).
    # ``assigned=`` passes a PERSISTED ivf_assign output (vec_id, v,
    # norm, cent) instead — the 100 TB path: the assignment is a build
    # artifact written once (partitioned/bucketed by cent), and every
    # batch search after that reads it partition-pruned instead of
    # re-assigning the corpus per query batch. Must have been built
    # with the SAME codebook passed here (probes are ranked against it).
    if assigned is None:
        assigned = ivf_assign(corpus, n_centroids, codebook=cents)
    ca = assigned.select("vec_id", "v", "norm", "cent")
    qp = queries.select("vec_id", "embedding").mapInPandas(
        _ivf_probe_kernel(cents, n_probe),
        "qid long, qv array<double>, qnorm double, cent int",
    )
    from pyspark.sql import Window

    scored = (
        ca.join(qp, "cent")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            q6(
                dot(F.col("v"), F.col("qv")) / (F.col("norm") * F.col("qnorm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _ivfpq_query_kernel(ivf_codebook: list, pq_codebook: dict, n_probe: int):
    """Arrow-batched query preparation for ``knn_join_pq``: per query
    row, rank the ``n_probe`` coarse cells (cos DESC, cid ASC — same
    stable rule as ``_ivf_probe_kernel``) and fold the per-query ADC
    lookup table LUT[s][c] = dot(q̂_s, cent[s][c]) with LEFT-FOLD
    accumulation, bit-identical to the driver-side ``_seq_dot_py``
    LUTs of pq_topk/ivfpq_topk. Emits one row per (query, probe cell)
    carrying the LUT and the exact query vector (for the optional
    refine)."""
    import pandas as pd

    Ci, cids, cnorm = _cent_arrays(ivf_codebook)
    m, sub = pq_codebook["m"], pq_codebook["sub"]
    P = [np.asarray(pq_codebook["cents"][s], dtype=np.float64) for s in range(m)]
    n_probe = int(n_probe)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = _cosines_to_cents(pdf, Ci, cnorm)
            if out is None:
                continue
            ids, V, norm, cs = out
            order = np.argsort(-cs, axis=1, kind="stable")[:, :n_probe]
            width = order.shape[1]
            U = V / norm[:, None]
            luts = []
            for r in range(len(U)):
                lut = []
                for s in range(m):
                    acc = np.zeros(len(P[s]), dtype=np.float64)
                    for j in range(sub):
                        acc += U[r, s * sub + j] * P[s][:, j]
                    lut.append([float(x) for x in acc])
                luts.append(lut)
            yield pd.DataFrame(
                {
                    "qid": np.repeat(ids, width),
                    "qv": [x.tolist() for x in np.repeat(V, width, axis=0)],
                    "qnorm": np.repeat(norm, width),
                    "cent": cids[order].reshape(-1).astype("int32"),
                    "lut": [luts[r] for r in range(len(U)) for _ in range(width)],
                }
            )

    return run


def knn_join_pq(
    codes: DataFrame,
    queries: DataFrame,
    pq_codebook: dict,
    ivf_codebook: list,
    k: int = 10,
    n_probe: int = 4,
    rerank: int = 0,
    embs: DataFrame | None = None,
) -> DataFrame:
    """Batch ANN over the COMPRESSED index: the top-``k`` corpus
    neighbors for EVERY query row, scored by ADC against a persisted
    ``pq_encode(..., ivf_codebook=...)`` codes table — the corpus's
    embeddings are never read (except by the optional refine). This is
    ``knn_join``'s production sibling at full compression: per-pair
    work is m integer lookups + adds in whole-stage codegen over
    8-byte codes, and the corpus side prunes to the probed cells
    BEFORE the join (a partition/stats-prunable ``cent`` equi-join
    when the codes table is laid out by cell).

    Plan shape: ONE Arrow pass over the (small) query side computes
    each query's probe cells + ADC LUT (model-sized per row: m ×
    n_codes doubles); the LUT rides the join as a column, so scoring
    is ``element_at(element_at(lut, s), code_s)`` chains — pure
    codegen, no Python on the corpus side, no cartesian anywhere.
    Per-query answers equal ``ivfpq_topk(codes=...)`` exactly (pinned
    by test); output (qid, vec_id, score) q6-floored, or
    (qid, vec_id, cosine) with ``rerank`` (requires ``embs``)."""
    from pyspark.sql import Window

    if rerank and rerank < k:
        raise ValueError(
            f"knn_join_pq: rerank={rerank} < k={k} — the ADC candidate "
            "pool is capped at rerank, so fewer than k neighbors per "
            "query would survive; use rerank >= k (Jégou 2011's "
            "short-list refinement always re-ranks a SUPERSET of k)"
        )
    m = pq_codebook["m"]
    qp = queries.select("vec_id", "embedding").mapInPandas(
        _ivfpq_query_kernel(ivf_codebook, pq_codebook, n_probe),
        "qid long, qv array<double>, qnorm double, cent int, "
        "lut array<array<double>>",
    )
    terms = [
        F.element_at(
            F.element_at(F.col("lut"), s + 1), F.col("codes").getItem(s) + F.lit(1)
        )
        for s in range(m)
    ]
    adc = terms[0]
    for t in terms[1:]:
        adc = adc + t
    scored = (
        codes.join(qp, "cent")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", q6(adc).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    top = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= (rerank or k)).drop("rn")
    if not rerank:
        return top
    if embs is None:
        raise ValueError("knn_join_pq: rerank requires embs")
    qvecs = qp.select("qid", "qv", "qnorm").dropDuplicates(["qid"])
    exact = (
        top.select("qid", "vec_id")
        .join(with_norm(embs), "vec_id")
        .join(qvecs, "qid")
        .select(
            "qid",
            "vec_id",
            q6(dot(F.col("v"), F.col("qv")) / (F.col("norm") * F.col("qnorm"))).alias(
                "cosine"
            ),
        )
    )
    w2 = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        exact.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


# ------------------------------------------- binary quantization (BQ)


def _bq_masks(dim: int) -> list[int]:
    """Per-bit BIGINT masks: 1<<i, with bit 63 as the min-long constant
    (both Spark and DuckDB store BIGINTs as two's complement, but
    DuckDB raises on ``1 << 63`` — a literal sidesteps the shift)."""
    if dim > 64:
        raise ValueError(f"bq packs into one BIGINT: dim {dim} > 64")
    return [(1 << i) if i < 63 else -(1 << 63) for i in range(dim)]


def bq_bits_col(dim: int = 64, vec: str = "embedding") -> Column:
    """The sign signature as ONE BIGINT column: bit i set iff v[i] > 0.
    Pure whole-stage codegen (64 CASE/OR terms, no HOFs); cosine sign
    patterns are scale-invariant so no normalization is needed."""
    v = F.col(vec)
    bits = F.lit(0).cast("long")
    for i, mask in enumerate(_bq_masks(dim)):
        bits = bits.bitwiseOR(
            F.when(v.getItem(i) > 0.0, F.lit(mask).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return bits


def bq_encode(embs: DataFrame, dim: int = 64) -> DataFrame:
    """(vec_id, bits): binary-quantize every vector to its sign
    signature — 8 bytes/vector at dim 64 (32× smaller than float32),
    the most compressed index tier. Hamming distance between
    signatures estimates angular distance (the SimHash identity:
    E[hamming]/dim = angle/π), so a signature scan ranks candidates
    with ZERO floats: xor + bit_count per row, one codegen scan."""
    return embs.select("vec_id", bq_bits_col(dim).alias("bits"))


def bq_topk(
    embs: DataFrame,
    query_vec_id: int,
    k: int = 10,
    dim: int = 64,
    rerank: int = 0,
    bits: DataFrame | None = None,
) -> DataFrame:
    """Binary-quantized ANN top-k: rank by hamming distance between
    sign signatures (ascending, vec_id tie-break) — ``xor`` +
    ``bit_count`` against the query's literal signature, one codegen
    scan over 8-byte signatures, zero shuffles/joins. Output
    (vec_id, hamming int); with ``rerank=N``, re-score the hamming
    top-N exactly and return (vec_id, cosine) — the
    compress-then-refine posture shared with pq_topk.

    Pass ``bits=`` a persisted ``bq_encode`` output to search the
    signature table without touching the embeddings."""
    # ONE collect serves both paths; a zero-norm query has no direction
    # — return empty like every other topk (the interchangeability
    # contract), never a ranking against the all-zero signature
    qrows = with_norm(embs).filter(F.col("vec_id") == query_vec_id).collect()
    if len(qrows) != 1 or qrows[0]["norm"] == 0.0:
        spark = embs.sparkSession
        col = "cosine double" if rerank else "hamming int"
        return spark.createDataFrame(
            spark.sparkContext.emptyRDD(), f"vec_id long, {col}"
        )
    (qrow,) = qrows
    qbits = 0
    for x, mask in zip(qrow["v"], _bq_masks(dim)):
        if float(x) > 0.0:
            qbits |= mask  # bit-63 mask is negative → two's complement
    src = bits if bits is not None else bq_encode(embs, dim)
    scored = src.filter(F.col("vec_id") != query_vec_id).select(
        "vec_id",
        F.bit_count(
            F.col("bits").bitwiseXOR(F.lit(qbits).cast("long"))
        ).alias("hamming"),
    )
    ranked = scored.orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
    if not rerank:
        return ranked.limit(k)
    cands = ranked.limit(int(rerank)).select("vec_id")
    qcol = F.array(*[F.lit(float(x)) for x in qrow["v"]])
    exact = (
        with_norm(embs)
        .join(cands, "vec_id")
        .select(
            "vec_id",
            q6(
                dot(F.col("v"), qcol)
                / (F.col("norm") * F.lit(float(qrow["norm"])))
            ).alias("cosine"),
        )
    )
    return exact.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


def pca_project(
    embs: DataFrame, model: dict, vec: str = "embedding", whiten: bool = False
) -> DataFrame:
    """(vec_id, p0..p{k-1}): project onto the fitted components —
    scan-local, zero shuffles, the literal basis compiled into the
    plan. Each coordinate is computed as ``dot(v, bⱼ) − dot(μ, bⱼ)``
    (the centering constant folded on the driver): algebraically the
    centered projection, and expressed this way so the fold order is
    the same left-to-right array fold the oracle's list_dot_product
    uses — bit-exact replay, q6-floored like every similarity score.

    ``whiten=True`` folds ``1/√λⱼ`` into each basis vector on the
    driver (requires a fit_pca model with eigenvalues) — unit-variance
    coordinates, the standard pre-conditioning before cosine ANN or
    k-means on projected embeddings."""
    v = F.col(vec).cast("array<double>")
    basis = model["basis"]
    if whiten:
        import math

        ev = model["eigenvalues"]
        basis = [
            [x / math.sqrt(l) if l > 0 else 0.0 for x in b]
            for b, l in zip(basis, ev)
        ]
    cols = [F.col("vec_id")]
    for j, b in enumerate(basis):
        blit = F.array(*[F.lit(float(x)) for x in b])
        c = sum(float(m) * float(x) for m, x in zip(model["mean"], b))
        cols.append(q6(dot(v, blit) - F.lit(float(c))).alias(f"p{j}"))
    return embs.select(*cols)
