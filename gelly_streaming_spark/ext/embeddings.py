"""Embedding similarity search (north-star extension — BASELINE.json).

Brute-force cosine top-k is the exactness baseline; LSH (random
hyperplane) bucketing is the scale path. Cosine is computed with
JVM-side sequential array folds (F.aggregate / F.zip_with) in DOUBLE —
deterministic accumulation order, bit-identical to the DuckDB oracle's
list_cosine_similarity over DOUBLE[] (verified empirically), and no
Python boundary.

Scale notes: queries are broadcast against the corpus (k·|Q| results,
never a shuffled cross join); the per-group top-k uses the rank-window
so Spark inserts a partial window-group-limit below the exchange. The
IVF/LSH variant bounds each query's candidate set to its bucket.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gelly_streaming_spark.operators.joins import top_k_per_group

# Vectors per block of the blocked-GEMM pair scans: per-task work is
# bounded at _ROWS_PER_BLOCK² similarity scores.
_ROWS_PER_BLOCK = 8192


def _dot(a, b) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a, b) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query: rows (qid, vec_id, sim) with a total
    order (sim DESC, vec_id ASC) inside each query group.

    The broadcast hint on the QUERY side is intentional and size-safe by
    contract: brute-force kNN is the exactness baseline for a bounded
    probe batch streamed against an arbitrarily large corpus. A query set
    too big to broadcast is the signal to switch to knn_lsh/knn_ivf (the
    scale paths), not to shuffle a |C|x|Q| cross join."""
    # Norms are per-vector, not per-pair: computing them once per side
    # (|C| + |Q| array folds) instead of inside the cross join
    # (2·|C|·|Q| folds) cuts the scored row's higher-order-function work
    # to the single dot-product fold.
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("vn", _norm(F.col("v")))
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    scored = (
        q.hint("broadcast")
        .crossJoin(c)
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("vn"))).alias("sim"),
        )
    )
    out = top_k_per_group(scored, ["qid"], [F.desc("sim"), F.asc("vec_id")], k)
    return out.select("qid", "vec_id", F.round("sim", 6).alias("sim"))


def _bucket_array_udf(tables: list[np.ndarray]):
    """Arrow-batched multi-table LSH bucketing: one BLAS matmul against
    the stacked (ΣP, dim) plane bank signs every plane of every table at
    once, then packs per-table bit buckets — semantically identical to
    ``array(lsh_signature(v, p) for p in tables)`` (bit j set iff
    dot(v, p_j) >= 0; same null row → null, same dim-mismatch error)
    but vectorized instead of num_tables×num_planes interpreted
    per-element folds. Sign agreement with the expression/SQL forms only
    needs |dot| above float drift — measured min |dot| 1.1e-5 at sf0.1.

    Documented divergence for POISONED vectors (ADVICE r8): a null
    ELEMENT or NaN value yields a NULL signature here (the row joins no
    bucket), where the expression form resolves null dots to bit 0 and
    NaN dots to bit 1 — funneling every poisoned vector into one shared
    bucket and manufacturing a false near-dup clique. Tested in
    tests/test_ext.py::test_bucket_array_udf_null_element_...; clean
    vectors are bit-identical across forms."""
    import pandas as pd

    bank = np.vstack(tables)  # (sum planes, dim)
    dim = tables[0].shape[1]
    counts = [p.shape[0] for p in tables]
    offsets = np.cumsum([0] + counts)

    # bare signature: string type hints from `__future__ annotations`
    # plus the function-local pandas import are unresolvable for the
    # pandas_udf type-hint inference — the returnType string is enough
    @F.pandas_udf("array<long>")
    def _buckets(vs):
        from gelly_streaming_spark.blas import pin_blas_threads

        pin_blas_threads()
        mask = vs.notna().to_numpy()
        res: list = [None] * len(vs)
        if mask.any():
            rows = vs[mask].to_list()
            for r in rows:
                if len(r) != dim:
                    raise ValueError(
                        f"lsh_signature: vector length {len(r)} != planes dim {dim}"
                    )
            try:
                # fast path: one bulk conversion (a per-row python null
                # scan here measured 2x on the whole kernel: 277k ->
                # 137k vec/s). Arrow folds null ELEMENTS to NaN in the
                # pandas view, so the null check is a vectorized isnan
                # over the converted matrix.
                x = np.asarray(rows, dtype=np.float64)
            except (TypeError, ValueError):
                # object-array delivery (list rows with None): drop the
                # null-element rows, convert the rest
                keep = [
                    i for i, r in enumerate(rows)
                    if not any(e is None for e in r)
                ]
                x = np.asarray(
                    [rows[i] for i in keep], dtype=np.float64
                ).reshape(-1, dim)
                sub = np.zeros(len(rows), dtype=bool)
                sub[keep] = True
                m2 = np.zeros(len(vs), dtype=bool)
                m2[np.flatnonzero(mask)[sub]] = True
                mask = m2
            # A null ELEMENT null-propagates through lsh_signature's
            # aggregate() to a null signature; match that row-level
            # semantic (ADVICE r8). NaN-poisoned vectors get the same
            # null signature — an INTENTIONAL divergence from the
            # expression form, where Spark's NaN >= 0 (true) would set
            # every bit and funnel all poisoned vectors into one shared
            # bucket, manufacturing a false near-dup clique.
            bad = np.isnan(x).any(axis=1)
            if bad.any():
                keep_idx = np.flatnonzero(mask)[~bad]
                x = x[~bad]
                mask = np.zeros(len(vs), dtype=bool)
                mask[keep_idx] = True
        if mask.any():
            signs = (x @ bank.T) >= 0.0  # (n, sum planes)
            packed = np.stack(
                [
                    (
                        signs[:, offsets[t] : offsets[t + 1]].astype(np.int64)
                        << np.arange(counts[t], dtype=np.int64)
                    ).sum(axis=1)
                    for t in range(len(counts))
                ],
                axis=1,
            )
            # positional fill — Series putmask rejects array-valued rows
            for i, pos in enumerate(np.flatnonzero(mask)):
                res[pos] = [int(x_) for x_ in packed[i]]
        return pd.Series(res, dtype=object)

    return _buckets


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    num_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    exact: bool = False,
    tables: list[np.ndarray] | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: rows (a, b, sim) with a < b
    and cosine >= threshold.

    Default (scale) path: multi-table random-hyperplane LSH — a pair is a
    candidate if it shares a bucket in ANY of ``num_tables`` independent
    tables (recall 1-(1-p^planes)^tables for bit-agreement probability
    p = 1 - angle/pi), candidates are deduplicated, then exactly reranked.
    Per-table bucket self-joins replace the |C|^2 cross join; the dedup
    happens on bare (a, b) ids BEFORE vectors are re-attached, so wide
    embedding arrays cross the shuffle once per surviving pair.
    ``exact=True`` scores every pair (small-corpus oracle / recall
    reference for the LSH path). ``tables`` overrides the seeded-Gaussian
    hyperplane tables — portable md5-derived Rademacher tables make the
    whole multi-table run oracle-checkable (q47)."""
    c = corpus.select(
        F.col(id_col).alias("a"), F.col(vec_col).cast("array<double>").alias("va")
    ).withColumn("_na", _norm(F.col("va")))
    d = corpus.select(
        F.col(id_col).alias("b"), F.col(vec_col).cast("array<double>").alias("vb")
    ).withColumn("_nb", _norm(F.col("vb")))
    if exact:
        return _exact_pairs_gemm(corpus, threshold, id_col, vec_col)
    else:
        if tables is None:
            rng = np.random.default_rng(seed)
            tables = [rng.standard_normal((num_planes, dim)) for _ in range(num_tables)]
        from gelly_streaming_spark.plans.memory import track_persist

        # persist the (id, t, bucket) table: it sits on BOTH sides of
        # the bucket self-join — unpersisted, the signature subtree runs
        # twice (same fix as simhash_near_pairs). Signatures themselves
        # go through the Arrow/BLAS kernel: num_tables × num_planes
        # column folds are interpreted expression evaluation per
        # element, and at 32 planes one batched matmul replaces ~10⁷
        # lambda evaluations per million rows (the sanctioned
        # pandas-UDF-for-wide-numeric-kernels path).
        ids = track_persist(
            corpus.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).cast("array<double>").alias("v"),
            ).select(
                "id",
                F.posexplode(_bucket_array_udf(tables)(F.col("v"))).alias(
                    "t", "bucket"
                ),
            )
        )
        cand = (
            ids.alias("x")
            .join(ids.alias("y"), ["t", "bucket"])
            .where(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
            .distinct()
        )
        pairs = cand.join(c, "a").join(d, "b")
    # norms hoisted per SIDE (computed on c/d above, |C| folds each),
    # not per pair — the rerank of tens of thousands of candidates
    # otherwise re-folds both norms per candidate (interpreted HOF work,
    # 2x the rerank's cost); same dot/(na*nb) formulation q23's oracle
    # parity already certifies
    return pairs.select(
        "a",
        "b",
        F.round(
            _dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")), 6
        ).alias("sim"),
    ).where(F.col("sim") >= threshold)


def _exact_pairs_gemm(
    corpus: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """All-pairs cosine >= threshold via DISTRIBUTED blocked matrix multiply.

    The corpus is hash-partitioned into B = ceil(n / _ROWS_PER_BLOCK)
    blocks; every unordered block pair {i, j} (i <= j) becomes one task
    that multiplies two bounded chunks with BLAS (numpy) — ~100x faster
    than a pair-at-a-time JVM array fold (the crossJoin + F.aggregate
    plan took 18 s on 500x500 at sf0.1). No driver materialization and no
    full-corpus broadcast anywhere: per-task memory is two chunks of
    ``_ROWS_PER_BLOCK`` vectors, shuffle volume O(n·B) rows. Each distinct
    pair is scored exactly once — pair (a, b) appears only in the block
    pair {blk(a), blk(b)}, and the kernel canonicalizes to id_a < id_b
    (the diagonal block dedups the symmetric hit).

    Exact all-pairs is inherently O(n²) similarity work, so this path is
    for corpora up to ~10^6 vectors (B ≈ 125 → ~8k tasks); past that the
    LSH multi-table path + exact rerank is the scale route.
    """
    import pandas as pd

    spark = corpus.sparkSession
    rows = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    n = rows.count()
    n_blocks = max(1, -(-n // _ROWS_PER_BLOCK))
    # One collect_list of (id, vec) structs: id/vector alignment is
    # structural, not an implicit coupling of two buffers' row order.
    chunks = (
        rows.withColumn("blk", F.pmod(F.xxhash64("id"), F.lit(n_blocks)))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("id", "v")).alias("rows"))
    )
    if n_blocks == 1:
        # Degenerate block-pair enumeration: one block ⇒ exactly the
        # diagonal pair {0, 0}. The general path below would join the
        # single chunk row against a 1-row index relation and then
        # REPARTITION it — two extra exchanges moving the whole payload
        # plus three extra AQE stages, all to place one row (measured
        # r17: 10 plan exchanges → 2, q23b ~1.6 s → ~1.0 s calm, and
        # every removed stage is one fewer window for a host-steal
        # burst to multiply — the q23b blowout class, BASELINE r8 row).
        # The kernel row is IDENTICAL in shape (i, j, rows_l, rows_r),
        # runs the same _gemm_pairs_fn, and the multi-block enumeration
        # stays the only path for n > _ROWS_PER_BLOCK (forced in tests
        # with a small _ROWS_PER_BLOCK).
        paired = chunks.select(
            F.col("blk").alias("i"),
            F.col("blk").alias("j"),
            F.col("rows").alias("rows_l"),
            F.col("rows").alias("rows_r"),
        )
    else:
        idx = (
            spark.range(n_blocks)
            .select(F.col("id").alias("i"))
            .join(spark.range(n_blocks).select(F.col("id").alias("j")))
            .where(F.col("i") <= F.col("j"))
        )
        paired = (
            idx.join(
                chunks.select(F.col("blk").alias("i"), F.col("rows").alias("rows_l")),
                "i",
            )
            .join(
                chunks.select(F.col("blk").alias("j"), F.col("rows").alias("rows_r")),
                "j",
            )
            .repartition(F.col("i"), F.col("j"))  # one block pair per task slot
        )

    return paired.mapInPandas(
        _gemm_pairs_fn(threshold), "a long, b long, sim double"
    )


def _unzip_idvec(rows_):
    ids = np.asarray([r["id"] for r in rows_], dtype=np.int64)
    mat = np.stack([np.asarray(r["v"]) for r in rows_])
    return ids, mat


def _gemm_pairs_fn(threshold: float):
    """Block-pair cosine kernel shared by the global exact scan
    (q23b-certified) and the cluster-blocked scan (semantic_dedup):
    each input row holds one block pair (columns ``i``, ``j``,
    ``rows_l``, ``rows_r``; extra grouping columns are ignored) and
    yields the qualifying (a < b, sim) pairs of that pair of chunks."""
    import pandas as pd

    def gemm(batches):
        from gelly_streaming_spark.blas import pin_blas_threads

        pin_blas_threads()
        for pdf in batches:
            for t in pdf.itertuples(index=False):
                ids_l, mat_l = _unzip_idvec(t.rows_l)
                ids_r, mat_r = _unzip_idvec(t.rows_r)
                norm_l = np.linalg.norm(mat_l, axis=1)
                norm_r = np.linalg.norm(mat_r, axis=1)
                # dot/(|a||b|), the oracle's formula shape; round-6 before
                # the threshold on both engines so boundaries are shared.
                # Ties round away from zero (np.floor(|x|*1e6+0.5)) to
                # match F.round (HALF_UP) on the LSH rerank path and
                # DuckDB ROUND in the oracle — np.round is half-to-even
                # and made an exact dyadic tie strategy-dependent.
                raw = (mat_l @ mat_r.T) / (norm_l[:, None] * norm_r[None, :])
                sims = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
                li, ri = np.nonzero(
                    (sims >= threshold) & (ids_l[:, None] != ids_r[None, :])
                )
                a, b = ids_l[li], ids_r[ri]
                lo, hi = np.minimum(a, b), np.maximum(a, b)
                keep = a < b if t.i == t.j else np.ones(len(a), dtype=bool)
                yield pd.DataFrame(
                    {"a": lo[keep], "b": hi[keep], "sim": sims[li, ri][keep]}
                )

    return gemm


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroids: DataFrame | None = None,
    corpus_lists: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (cluster-bounded embedding
    near-dup pruning, after Abbas et al. 2023, arXiv:2303.09540 —
    public method): rows ``(vec_id, cluster, kept)`` where ``kept`` is
    false iff the vector has ANY smaller-id neighbor with round-6
    cosine >= ``threshold`` INSIDE its own cluster — the deterministic
    keep-smallest-id variant of the paper's keep-one-per-ball rule
    (greedy over chains: in a chain a<b<c every member with a
    qualifying smaller-id neighbor drops, whether or not that neighbor
    itself dropped).

    Plan (the 100 TB shape):

    1. nearest-centroid assignment (:func:`centroid_assign`): the
       centroid table broadcasts, ONE map pass scores the corpus —
       clustering exists precisely to bound the quadratic;
    2. vectors are re-keyed by (cluster, block) with a PER-CLUSTER
       block count ceil(cluster_size / _ROWS_PER_BLOCK) from one tiny
       (cluster, count) aggregate broadcast back — per-task work is
       bounded at _ROWS_PER_BLOCK² regardless of cluster skew (a giant
       cluster becomes MORE block-pair tasks, never a bigger task);
    3. every within-cluster block pair {i <= j} runs the SAME
       blocked-GEMM kernel the global exact scan certifies via q23b
       (round-6 HALF_UP before thresholding, shared with the oracle);
    4. the dropped-id set probes back UN-HINTED: AQE broadcasts it
       when it is the minority (the typical curation case) and falls
       back to a keyed join for dup-heavy corpora where dropped is
       O(corpus) — a forced broadcast there would blow the 8 GB
       broadcast limit.

    Within-cluster pair work is O(Σ c_i²) — the paper's trade: raise
    the cluster count to shrink it; cross-cluster near-dups are
    unscored by design (that recall loss is the method's documented
    approximation, measured ~1-2% at paper scale).

    ``corpus_lists`` injects a prebuilt (vec_id, v, cluster) frame —
    :func:`ivf_index` output — so ONE session-lifetime IVF index serves
    both kNN search and semantic dedup without re-deriving the
    assignment per call; cluster ids are then the caller's (centroid
    array indices for ivf_index)."""
    from gelly_streaming_spark.plans.memory import track_persist

    if corpus_lists is not None:
        ev = corpus_lists.select("vec_id", "v", "cluster")
    else:
        asg = centroid_assign(emb, centroids, id_col, vec_col, label_col)
        v = emb.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        ev = track_persist(
            v.join(
                asg.select("vec_id", F.col("assigned").alias("cluster")),
                "vec_id",
            )
        )
    sizes = ev.groupBy("cluster").agg(F.count(F.lit(1)).alias("_n"))
    rows = ev.join(F.broadcast(sizes), "cluster").select(
        "cluster",
        F.pmod(
            F.xxhash64("vec_id"),
            F.ceil(F.col("_n") / F.lit(_ROWS_PER_BLOCK)).cast("long"),
        ).alias("blk"),
        F.struct(F.col("vec_id").alias("id"), "v").alias("row"),
    )
    chunks = rows.groupBy("cluster", "blk").agg(
        F.collect_list("row").alias("rows")
    )
    paired = (
        chunks.select(
            "cluster", F.col("blk").alias("i"), F.col("rows").alias("rows_l")
        )
        .join(
            chunks.select(
                "cluster", F.col("blk").alias("j"), F.col("rows").alias("rows_r")
            ),
            "cluster",
        )
        .where(F.col("i") <= F.col("j"))
        .repartition(F.col("cluster"), F.col("i"), F.col("j"))
    )
    pairs = paired.mapInPandas(
        _gemm_pairs_fn(threshold), "a long, b long, sim double"
    )
    dropped = pairs.select(F.col("b").alias("vec_id")).distinct()
    return ev.join(
        dropped.withColumn("_dup", F.lit(True)), "vec_id", "left"
    ).select("vec_id", "cluster", F.col("_dup").isNull().alias("kept"))


def label_centroids(
    emb: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(label, centroid array<double>) — distributed elementwise mean:
    posexplode to (label, dim, x) rows, ONE map-side-combining (label,
    dim) average shuffle, re-assemble per label ordered by dim. Work is
    O(n·d) rows into a partial agg; the centroid table is O(labels·d) —
    never driver-bound, unlike the numpy Lloyd's trainer above which
    exists for the sample-train path."""
    ex = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("d", "x"),
    )
    per = ex.groupBy("label", "d").agg(F.avg("x").alias("m"))
    return (
        per.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("s"))
        .select("label", F.transform("s", lambda t: t["m"]).alias("centroid"))
    )


def centroid_assign(
    emb: DataFrame,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Nearest-centroid assignment — the IVF coarse-assignment /
    classifier-inference step as a first-class batch operator: rows
    (vec_id, label, assigned, sim) with ``assigned`` the argmax-cosine
    centroid (ties broken by smaller label) and ``sim`` rounded to 6dp.

    100 TB shape: the centroid table (labels × d doubles) broadcasts;
    scoring is ONE map pass over the corpus — no shuffle touches the
    vectors themselves. ``centroids`` defaults to ``label_centroids``
    over the input (one elementwise-mean shuffle)."""
    cents = centroids if centroids is not None else label_centroids(emb, vec_col, label_col)
    c = cents.select(
        F.col("label").alias("clabel"), F.col("centroid").alias("c")
    ).withColumn("cn", _norm(F.col("c")))
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("vn", _norm(F.col("v")))
    scored = v.crossJoin(F.broadcast(c)).select(
        "vec_id",
        "label",
        "clabel",
        (_dot(F.col("v"), F.col("c")) / (F.col("vn") * F.col("cn"))).alias("sim"),
    )
    best = top_k_per_group(scored, ["vec_id"], [F.desc("sim"), F.asc("clabel")], 1)
    return best.select(
        "vec_id", "label", F.col("clabel").alias("assigned"), F.round("sim", 6).alias("sim")
    )


def _kmeans_centroids(
    corpus: DataFrame,
    n_clusters: int,
    vec_col: str,
    id_col: str,
    sample_rows: int,
    iters: int,
    seed: int,
) -> np.ndarray:
    """Coarse-quantizer training: numpy Lloyd's over a BOUNDED
    deterministic sample (hash-ordered limit — at most ``sample_rows``
    vectors ever reach the driver, whatever the corpus size; the same
    adaptive-bounded-collect pattern as the CC fast path). Empty clusters
    reseed to random sample points, so exactly ``n_clusters`` centroids
    come back. Training quality needs only a representative sample — the
    standard IVF recipe (train on a subset, assign everything)."""
    from gelly_streaming_spark.blas import pin_blas_threads

    pin_blas_threads()  # driver-side Lloyd's shares the host with 32 tasks
    pdf = (
        corpus.select(
            F.col(vec_col).cast("array<double>").alias("v"),
            F.xxhash64(F.col(id_col)).alias("h"),
        )
        .orderBy("h")
        .limit(sample_rows)
        .select("v")
        .toPandas()
    )
    x = np.stack(pdf["v"].to_numpy())
    rng = np.random.default_rng(seed)
    n_clusters = min(n_clusters, len(x))
    cents = x[rng.choice(len(x), size=n_clusters, replace=False)]
    for _ in range(iters):
        # cosine k-means: assign on normalized dot products
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
        assign = np.argmax(xn @ cn.T, axis=1)
        for c in range(n_clusters):
            members = x[assign == c]
            cents[c] = (
                members.mean(axis=0)
                if len(members)
                else x[rng.integers(len(x))]
            )
    return cents


def residue_centroids(
    corpus: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """FIXED deterministic quantizer init: per-(``id % n_clusters``)
    elementwise means — the residue-class convention that makes trainer
    certification portable (same family as ``label_centroids`` /
    ``pq_codebooks``, but keyed on the id so it needs no label column).
    ONE (k, dim) partial-agg mean shuffle + a bounded
    ``n_clusters x dim`` collect. Raises if any residue class is empty
    (a zero centroid would make cosine against it undefined — dense
    integer id spaces, the intended input, cannot trigger this)."""
    ex = corpus.select(
        F.pmod(F.col(id_col), F.lit(n_clusters)).alias("k"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("d", "x"),
    )
    rows = ex.groupBy("k", "d").agg(F.avg("x").alias("m")).collect()
    if not rows:
        raise ValueError("residue_centroids: empty corpus")
    dim = 1 + max(r["d"] for r in rows)
    seen = {r["k"] for r in rows}
    missing = set(range(n_clusters)) - seen
    if missing:
        raise ValueError(
            f"residue_centroids: empty residue classes {sorted(missing)} "
            f"(corpus has no ids ≡ those values mod {n_clusters})"
        )
    cents = np.zeros((n_clusters, dim))
    for r in rows:
        cents[r["k"]][r["d"]] = r["m"]
    return cents


def kmeans_refine_distributed(
    corpus: DataFrame,
    centroids: np.ndarray,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """DISTRIBUTED Lloyd's refinement (VERDICT r13 item 3): full-batch
    k-means iterations expressed as DataFrame operations, so quantizer
    training no longer requires the corpus sample to fit on the driver.

    Per iteration:
      1. assignment — the existing GEMM Arrow map pass
         (``_assign_clusters``, nprobe=1): no shuffle, vectors scored
         where they were scanned;
      2. re-estimation — posexplode to (cluster, dim, x) rows into ONE
         map-side-combining (cluster, dim) average shuffle (the q45
         ``label_centroids`` kernel shape);
      3. a bounded ``n_clusters x dim`` collect carries the new
         centroids to the driver for the next round's broadcast —
         O(k·d) doubles, never corpus-sized.

    Empty clusters keep their previous centroid (deterministic — no
    RNG reseed, unlike the sample trainer, so the whole refinement is
    replayable in SQL and hash-certifiable: q65). 100 TB shape: M
    iterations = M corpus map passes + M tiny shuffles; at that scale
    prefer few iterations over a good init (e.g. ``residue_centroids``
    or a ``_kmeans_centroids`` sample run) — the standard
    MLlib/FAISS-style train recipe with the assign pass reused as is."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    cents = np.array(centroids, dtype=float, copy=True)
    for _ in range(int(iters)):
        a = _assign_clusters(c, cents, "vec_id", "v", nprobe=1)
        rows = (
            a.select("cluster", F.posexplode("v").alias("d", "x"))
            .groupBy("cluster", "d")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        nxt = cents.copy()
        for r in rows:
            nxt[r["cluster"]][r["d"]] = r["m"]
        cents = nxt
    return cents


def _assign_clusters(
    df: DataFrame, cents: np.ndarray, id_alias: str, vec_alias: str, nprobe: int
) -> DataFrame:
    """Attach each vector's ``nprobe`` nearest centroid ids (cosine) via
    one Arrow-batched GEMM per batch — no shuffle, vectors stay where
    they were scanned. ``nprobe=1`` for corpus rows (a vector lives in
    exactly one inverted list), >1 for query fan-out."""
    import pandas as pd

    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    def run(batches):
        from gelly_streaming_spark.blas import pin_blas_threads

        pin_blas_threads()
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_alias].to_numpy())
            mn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            sims = mn @ cn.T
            top = np.argsort(-sims, axis=1)[:, :nprobe]
            out = pdf.loc[pdf.index.repeat(nprobe)].reset_index(drop=True)
            out["cluster"] = top.ravel().astype("int64")
            yield out

    schema = f"{id_alias} long, {vec_alias} array<double>, cluster long"
    return df.mapInPandas(run, schema)


def ivf_index(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build and MATERIALIZE the IVF inverted lists: every corpus vector
    GEMM-assigned to its nearest centroid (one Arrow-batched pass, no
    shuffle), persisted and forced now. This is the INDEX — a production
    IVF deployment builds it once per immutable corpus and serves every
    probe batch from it; pass the result to :func:`knn_ivf` via
    ``corpus_lists`` so repeated searches skip the assignment pass
    (measured r12 at sf0.1: the per-search assignment + quantizer
    rebuild was 0.85 s of q48's 1.3 s steady state, all of it
    reconstruction of session-constant state). At warehouse scale the
    equivalent artifact is a written table bucketed by ``cluster`` —
    the persist here is the local[1-session] stand-in. Callers that
    session-memoize the returned frame register it for cleanup via the
    ``track_persist`` ledger (release_persisted drops it)."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    from gelly_streaming_spark.plans.memory import track_persist

    cl = track_persist(_assign_clusters(c, centroids, "vec_id", "v", nprobe=1))
    cl.write.mode("overwrite").format("noop").save()  # force the build NOW
    return cl


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    nprobe: int = 4,
    sample_rows: int = 20_000,
    train_iters: int = 5,
    seed: int = 42,
    centroids: np.ndarray | None = None,
    corpus_lists: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index — the other
    classical ANN scale path next to :func:`knn_lsh`.

    Build: k-means coarse quantizer trained on a bounded driver sample;
    every corpus vector is GEMM-assigned to its nearest centroid (its
    inverted list) with no shuffle. Search: each query probes its
    ``nprobe`` nearest lists, candidates are exactly reranked, top-k per
    query. A (query, candidate) pair can meet in at most one list (the
    corpus side lives in exactly one), so no dedup shuffle is needed.

    Scale: the cluster join replaces the |Q|x|C| score matrix with
    per-list blocks — probed work is ~nprobe/n_clusters of brute force;
    skewed lists are AQE-split like any skewed join key. With the default
    trained quantizer, recall is property-tested against knn_bruteforce
    (P-test) — k-means training is genuinely non-portable. ``centroids``
    injects a fixed quantizer instead (e.g. ``label_centroids``), under
    which the ENTIRE search path — assignment, inverted lists, nprobe
    probing, exact rerank — is hash-certified against a DuckDB replica
    (q48); cluster ids are array indices, compared only within-engine,
    so any consistent ordering works.

    ``corpus_lists`` injects a prebuilt :func:`ivf_index` frame so the
    per-search cost is probing only — the production IVF serving shape.
    It REQUIRES explicit ``centroids``: the lists' cluster ids are
    indices into the quantizer that built them, and silently training
    a fresh quantizer here would probe them with mismatched indices —
    wrong buckets, no error, garbage neighbors.
    """
    if corpus_lists is not None and centroids is None:
        raise ValueError(
            "knn_ivf: corpus_lists requires the centroids that built it "
            "(cluster ids are quantizer-specific array indices)"
        )
    cents = (
        centroids
        if centroids is not None
        else _kmeans_centroids(
            corpus, n_clusters, vec_col, id_col, sample_rows, train_iters, seed
        )
    )
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    if corpus_lists is not None:
        cl = corpus_lists
    else:
        c = corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        cl = _assign_clusters(c, cents, "vec_id", "v", nprobe=1)
    ql = _assign_clusters(q, cents, "qid", "qv", nprobe=min(nprobe, len(cents)))
    # Broadcast the PROBE side: the query batch is bounded by contract
    # (same doctrine as knn_bruteforce — a probe set too big to
    # broadcast is the signal to batch it, not to shuffle the corpus),
    # while the corpus side is arbitrarily large. Without the hint,
    # toy-scale AQE built the hash table from the CORPUS side
    # (BuildRight at sf0.1) — exactly backwards at 100 TB, where the
    # corpus must stream map-side through the join untouched.
    scored = (
        ql.hint("broadcast").join(cl, "cluster")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cosine(F.col("qv"), F.col("v")).alias("sim"))
    )
    out = top_k_per_group(scored, ["qid"], [F.desc("sim"), F.asc("vec_id")], k)
    return out.select("qid", "vec_id", F.round("sim", 6).alias("sim"))


def lsh_signature(vec, planes: np.ndarray) -> Column:
    """Random-hyperplane signature: one bit per plane, packed to a long.

    Guards the vector length against the planes' dimensionality:
    F.zip_with pads the shorter array with nulls, so a dim mismatch
    silently nulled every dot product and resolved every bit to 0 —
    ALL vectors landed in bucket 0 and the per-bucket join degenerated
    to the full O(n²) cross join the LSH path exists to avoid (results
    stayed correct after rerank, masking the blow-up). Now it raises."""
    dim = planes.shape[1]
    packed = None
    for i, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                vec,
                # ONE array literal per plane — F.array of per-element
                # F.lit cost num_planes*dim Py4J round trips and
                # dominated the query's plan-build time
                F.lit([float(w) for w in plane]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(dot >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        packed = term if packed is None else packed.bitwiseOR(term)
    # nulls first: size(NULL) is NULL, so without the explicit branch the
    # otherwise() raise fired for null vectors too (ADVICE r7) — a null
    # embedding yields a null signature (row drops out of every bucket)
    return F.when(
        vec.isNull(), F.lit(None).cast("long")
    ).when(
        F.size(vec) == dim, packed
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"lsh_signature: vector length "),
                F.size(vec).cast("string"),
                F.lit(f" != planes dim {dim}"),
            )
        )
    )


def rademacher_planes(num_planes: int, dim: int, salt: str = "p") -> np.ndarray:
    """±1 hyperplanes derived from md5 — a valid random-hyperplane LSH
    family (sign LSH needs any symmetric zero-mean component law;
    Rademacher works like Gaussian) whose every entry an external SQL
    engine re-derives exactly: entry (j, d) is +1 iff bit 0 of the
    60-bit md5 prefix of ``{salt}:j:d`` is set (DuckDB:
    ``CAST('0x'||substr(md5(salt||':'||j||':'||d),1,15) AS BIGINT) & 1``).
    Makes the whole LSH-kNN run oracle-checkable (q46/q47); distinct
    salts yield independent tables for multi-table LSH. The default
    Gaussian family stays for production (same plan, denser rotations)."""
    import hashlib

    return np.array(
        [
            [
                1.0
                if int(hashlib.md5(f"{salt}:{j}:{d}".encode()).hexdigest()[:15], 16) & 1
                else -1.0
                for d in range(dim)
            ]
            for j in range(num_planes)
        ]
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    planes: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k: random-hyperplane buckets, exact rerank within
    the query's bucket. With the default seeded-Gaussian planes recall is
    property-tested against knn_bruteforce (P-test); with
    ``planes=rademacher_planes(...)`` the full bucket->rerank run is
    hash-certified against a DuckDB replica (q46). At scale the bucket
    join replaces the |Q|×|C| score matrix with per-bucket blocks
    (2^num_planes buckets)."""
    if planes is None:
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((num_planes, dim))

    # signatures via the Arrow/BLAS kernel (bit-identical to
    # lsh_signature — tests/test_ext.py pins the equivalence). A flat
    # unrolled-SQL signature (64-term add chains per plane, no HOF
    # lambdas) was also tried and is WORSE: ANSI per-element bounds
    # checks push the generated method past the JVM's 64 KB limit, so
    # every run pays a failed codegen compile plus interpreted fallback.
    sig = _bucket_array_udf([planes])
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("bucket", F.element_at(sig(F.col("v")), 1))
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("bucket", F.element_at(sig(F.col("qv")), 1))

    scored = (
        q.join(c, "bucket")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cosine(F.col("qv"), F.col("v")).alias("sim"))
    )
    out = top_k_per_group(scored, ["qid"], [F.desc("sim"), F.asc("vec_id")], k)
    return out.select("qid", "vec_id", F.round("sim", 6).alias("sim"))


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN (FAISS IVFPQ-style ADC)
# ---------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """FIXED per-subspace codebooks from residue-class means — the PQ
    analog of the q45/q48 label-centroid quantizer: codeword ``k`` of
    every subspace is the elementwise mean of the sub-vectors whose
    ``pmod(id, n_codes) == k``. Deterministic and exactly replicable in
    SQL, so the ENTIRE encode + ADC search path is hash-certifiable
    (q54); use :func:`pq_codebooks_trained` for production-quality
    codebooks (per-subspace Lloyd's — property-tested, like the IVF
    k-means trainer).

    100 TB shape: one (k, dim) elementwise-mean partial-agg shuffle over
    posexploded rows (the label_centroids plan), then a BOUNDED collect
    of n_codes x dim doubles (k=16, d=64 -> 1024 values) reshaped to
    ``[n_subspaces, n_codes, ds]`` on the driver."""
    ex = corpus.select(
        F.pmod(F.col(id_col), F.lit(n_codes)).cast("int").alias("k"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("d", "x"),
    )
    rows = ex.groupBy("k", "d").agg(F.avg("x").alias("c")).collect()
    if not rows:
        raise ValueError("pq_codebooks: empty corpus")
    dim = max(r["d"] for r in rows) + 1
    if dim % n_subspaces:
        raise ValueError(f"pq_codebooks: dim {dim} not divisible by {n_subspaces} subspaces")
    got = {r["k"] for r in rows}
    if got != set(range(n_codes)):
        raise ValueError(
            f"pq_codebooks: residue classes {sorted(set(range(n_codes)) - got)} "
            "have no members — corpus smaller than n_codes; lower n_codes"
        )
    grid = np.zeros((n_codes, dim))
    for r in rows:
        grid[r["k"], r["d"]] = r["c"]
    ds = dim // n_subspaces
    return grid.reshape(n_codes, n_subspaces, ds).transpose(1, 0, 2).copy()


def pq_codebooks_trained(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 20_000,
    iters: int = 5,
    seed: int = 42,
) -> np.ndarray:
    """Production codebooks: independent L2 Lloyd's per subspace over a
    BOUNDED deterministic sample (hash-ordered limit — the same
    adaptive-bounded-collect pattern as the IVF quantizer trainer; at
    most ``sample_rows`` vectors ever reach the driver). Training
    quality needs only a representative sample — the standard PQ
    recipe. Non-portable across engines (argmin over float iterates),
    so this path is property-tested (recall vs knn_bruteforce), never
    hash-certified."""
    from gelly_streaming_spark.blas import pin_blas_threads

    pin_blas_threads()
    pdf = (
        corpus.select(
            F.col(vec_col).cast("array<double>").alias("v"),
            F.xxhash64(F.col(id_col)).alias("h"),
        )
        .orderBy("h")
        .limit(sample_rows)
        .select("v")
        .toPandas()
    )
    x = np.stack(pdf["v"].to_numpy())
    dim = x.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"pq_codebooks_trained: dim {dim} not divisible by {n_subspaces}")
    ds = dim // n_subspaces
    rng = np.random.default_rng(seed)
    out = np.zeros((n_subspaces, n_codes, ds))
    for m in range(n_subspaces):
        xm = x[:, m * ds : (m + 1) * ds]
        kk = min(n_codes, len(xm))
        cents = xm[rng.choice(len(xm), size=kk, replace=False)].copy()
        for _ in range(iters):
            d2 = ((xm[:, None, :] - cents[None]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(kk):
                members = xm[assign == c]
                cents[c] = members.mean(axis=0) if len(members) else xm[rng.integers(len(xm))]
        out[m, :kk] = cents
        if kk < n_codes:
            # tiny corpus: pad with copies so the shape contract holds;
            # argmin's first-win tie rule keeps codes in [0, kk)
            out[m, kk:] = cents[0]
    return out


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk_rows: int = 4096,
) -> DataFrame:
    """Encode every vector as ``n_subspaces`` codeword ids — the
    compressed index rows (vec_id, codes array<int>), 1 byte/subspace of
    information vs 8 bytes/dim: the representation that lets a 100 TB
    embedding corpus fit hot storage. One Arrow-batched map pass, no
    shuffle — vectors stay where they were scanned.

    Distances are DIRECT squared differences (sum over (x-c)^2), not the
    ||x||^2 - 2xc + ||c||^2 GEMM expansion: the expansion's cancellation
    error would eat the cross-engine certification margins the q54
    oracle relies on. Ties argmin-resolve to the smaller codeword id in
    both engines (numpy first-win == ORDER BY d2, k)."""
    import pandas as pd

    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    n_sub, _n_codes, ds = cb.shape
    dim = n_sub * ds
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )

    def run(batches):
        from gelly_streaming_spark.blas import pin_blas_threads

        pin_blas_threads()
        for pdf in batches:
            for lo in range(0, len(pdf), chunk_rows):
                chunk = pdf.iloc[lo : lo + chunk_rows]
                if not len(chunk):
                    continue
                mat = np.stack(chunk["v"].to_numpy())
                if mat.shape[1] != dim:
                    raise ValueError(
                        f"pq_encode: vector length {mat.shape[1]} != codebook dim {dim}"
                    )
                sub = mat.reshape(len(mat), n_sub, ds)
                d2 = ((sub[:, :, None, :] - cb[None]) ** 2).sum(axis=3)
                codes = d2.argmin(axis=2).astype("int32")
                yield pd.DataFrame(
                    {"vec_id": chunk["vec_id"].to_numpy(), "codes": list(codes)}
                )

    return c.mapInPandas(run, "vec_id long, codes array<int>")


def pq_index(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build and MATERIALIZE the PQ code table (the ivf_index doctrine:
    one index build per immutable corpus, every search serves from it;
    at warehouse scale the artifact is a written table of 8-byte code
    rows). Registered in the track_persist ledger for cleanup."""
    from gelly_streaming_spark.plans.memory import track_persist

    codes = track_persist(pq_encode(corpus, codebooks, id_col, vec_col))
    codes.write.mode("overwrite").format("noop").save()  # force the build NOW
    return codes


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: np.ndarray | None = None,
    codes: DataFrame | None = None,
    rerank: int = 0,
    max_query_rows: int = 65_536,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC) over
    PQ codes — the compressed-domain ANN path next to knn_lsh (buckets)
    and knn_ivf (inverted lists). Rows (qid, vec_id, adist) with adist
    the rounded approximate squared L2 distance, total order
    (adist ASC, vec_id ASC); ``rerank=R`` instead takes the top-R ADC
    candidates and exactly cosine-reranks them to (qid, vec_id, sim).

    Search shape: the bounded probe batch collects to the driver (the
    knn_bruteforce broadcast doctrine — a probe set too big for a
    |Q| x M x K double LUT table is the signal to batch it, never to
    shuffle the corpus), per-query lookup tables LUT[q][m][k] =
    ||q_m - c_mk||^2 close over one Arrow map pass across the CODE
    table — the corpus vectors themselves are never read at search
    time. Each partition emits only its own top-k per query under the
    global total order (exact: a global top-k element is a top-k
    element of its partition), so the exchange moves O(partitions*Q*k)
    rows into the final window trim.

    With ``codebooks=pq_codebooks(...)`` (residue-class means) the whole
    path — codebook means, encoding argmin, LUT, ADC sum, top-k — is
    hash-certified against a DuckDB replica (q54). ``codes`` injects a
    prebuilt :func:`pq_index`; it REQUIRES explicit ``codebooks`` (code
    ids are indices into the codebook that built them — the knn_ivf
    quantizer-mismatch contract)."""
    import pandas as pd

    if codes is not None and codebooks is None:
        raise ValueError(
            "knn_pq: codes requires the codebooks that built them "
            "(codeword ids are codebook-specific array indices)"
        )
    cb = (
        np.ascontiguousarray(codebooks, dtype=np.float64)
        if codebooks is not None
        else pq_codebooks(corpus, n_subspaces, n_codes, id_col, vec_col)
    )
    n_sub, _k_codes, ds = cb.shape
    co = codes if codes is not None else pq_encode(corpus, cb, id_col, vec_col)
    # Bounded probe-batch collect (VERDICT r12 item 6): the |Q|xMxK
    # double LUT and the per-partition top-k heaps are sized for a
    # probe BATCH, not a corpus — a caller handing a corpus-sized
    # query frame gets a loud contract error here instead of a silent
    # driver OOM inside .collect() (the bounded_take doctrine every
    # sibling trainer/probe follows). The default bound, 65536 queries
    # x 16 codewords x 8 subspaces, is a ~64 MB double LUT —
    # comfortably driver-side; batch the probe set above that.
    from gelly_streaming_spark.plans.probe import bounded_take

    qtbl = bounded_take(
        queries.select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        ),
        max_query_rows,
    )
    if qtbl.num_rows > max_query_rows:
        raise ValueError(
            f"knn_pq: query side exceeds the {max_query_rows}-row "
            "probe-batch bound; split the probe set into batches (the "
            "broadcast-probe convention) instead of collecting a "
            "corpus-sized frame to the driver"
        )
    spark = corpus.sparkSession
    if not qtbl.num_rows:
        return spark.createDataFrame(
            [],
            "qid long, vec_id long, sim double" if rerank else "qid long, vec_id long, adist double",
        )
    qids = qtbl["qid"].to_numpy().astype(np.int64)
    qmat = np.stack(
        [np.asarray(v, dtype=np.float64) for v in qtbl["qv"].to_pylist()]
    )
    if qmat.shape[1] != n_sub * ds:
        raise ValueError(f"knn_pq: query length {qmat.shape[1]} != codebook dim {n_sub * ds}")
    lut = ((qmat.reshape(len(qids), n_sub, 1, ds) - cb[None]) ** 2).sum(axis=3)
    nq = len(qids)
    kk = max(k, rerank)

    def run(batches):
        from gelly_streaming_spark.blas import pin_blas_threads

        pin_blas_threads()
        for pdf in batches:
            if not len(pdf):
                continue
            vids = pdf["vec_id"].to_numpy()
            cm = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            ad = np.zeros((nq, len(vids)))
            for m in range(n_sub):
                ad += lut[:, m, cm[:, m]]
            outq, outv, outd = [], [], []
            for qi in range(nq):
                mask = vids != qids[qi]
                v_, a_ = vids[mask], ad[qi][mask]
                take = min(kk, len(v_))
                if not take:
                    continue
                idx = np.lexsort((v_, a_))[:take]
                outq.append(np.full(take, qids[qi], dtype=np.int64))
                outv.append(v_[idx])
                outd.append(a_[idx])
            if outq:
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(outq),
                        "vec_id": np.concatenate(outv),
                        "ad": np.concatenate(outd),
                    }
                )

    scored = co.mapInPandas(run, "qid long, vec_id long, ad double")
    sel = top_k_per_group(scored, ["qid"], [F.asc("ad"), F.asc("vec_id")], kk)
    if rerank:
        c = corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
        ).withColumn("vn", _norm(F.col("v")))
        qdf = queries.select(
            F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv")
        ).withColumn("qn", _norm(F.col("qv")))
        # the candidate set is bounded (Q*rerank rows): broadcast it and
        # stream the corpus through the join map-side
        re = (
            c.join(F.broadcast(sel.select("qid", "vec_id")), "vec_id")
            .join(F.broadcast(qdf), "qid")
            .select(
                "qid",
                "vec_id",
                (_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("vn"))).alias("sim"),
            )
        )
        out = top_k_per_group(re, ["qid"], [F.desc("sim"), F.asc("vec_id")], k)
        return out.select("qid", "vec_id", F.round("sim", 6).alias("sim"))
    return sel.select("qid", "vec_id", F.round("ad", 6).alias("adist"))


def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.38,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_col: str | None = None,
) -> DataFrame:
    """Embedding-level benchmark decontamination — the semantic sibling
    of the n-gram overlap scan (ext/text.decontaminate / q36): flag
    every corpus vector whose cosine similarity to ANY held-out eval
    vector reaches ``threshold``. Rows (vec_id, max_sim, n_hits,
    contaminated) with sims rounded HALF_UP to 6dp BEFORE the max/count
    (the q23b/q52 thresholding contract).

    100 TB shape: the eval set is bounded by contract (a benchmark, not
    a corpus) and broadcasts; scoring is the JVM-side sequential-fold
    cosine — bit-identical to the oracle's list_cosine_similarity, no
    Python boundary, full codegen — and the per-vector max/count
    aggregates map-side into ONE |corpus|-group shuffle. The corpus is
    never reshuffled and never leaves the JVM.

    Self-pairs are excluded by id (the eval set is held out FROM the
    corpus id space, the q36 convention; external eval sets must carry
    disjoint ids). Corner contract: with a 0/1-row eval set a corpus
    vector can lack any non-self partner and emits no row; any eval set
    with >= 2 rows covers every corpus vector."""
    eid = eval_id_col or id_col
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("vn", _norm(F.col("v")))
    q = eval_set.select(
        F.col(eid).alias("eval_id"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("eval_id"))
        .select(
            "vec_id",
            F.round(
                _dot(F.col("v"), F.col("qv")) / (F.col("vn") * F.col("qn")), 6
            ).alias("sim"),
        )
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max("sim").alias("max_sim"),
            F.sum(F.when(F.col("sim") >= threshold, 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
        )
        .withColumn("contaminated", F.col("n_hits") > 0)
    )
