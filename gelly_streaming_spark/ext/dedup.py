"""Deduplication operators for training-data pipelines (north-star
extension — BASELINE.json): exact, MinHash-LSH, SimHash, n-gram Jaccard.

All variants return *decisions* (keep/dup groups or near-dup pairs) as
DataFrames; nothing is materialized on the driver. Exact dedup is a plain
hash aggregate (partial+final, one shuffle). Near-dup variants delegate
to the inverted-index / LSH machinery in ext.similarity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gelly_streaming_spark.ext.similarity import jaccard_pairs, minhash_lsh_pairs
from gelly_streaming_spark.ext.text import tokenize
from gelly_streaming_spark.plans.memory import track_persist


def exact_dedup_groups(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts by md5: rows (keep_id, dup_count) — keep_id is
    the minimum id of each identical-content group."""
    return (
        docs.groupBy(F.md5(F.col(text_col).cast("binary")).alias("h"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("keep_id", "dup_count")
    )


def exact_dedup(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row (min id) per identical text — the basic hash-groupBy
    dedup; row-identity via semi-join keeps the full original schema."""
    keep = (
        docs.groupBy(F.md5(F.col(text_col).cast("binary")).alias("h"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


def minhash_dedup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Near-dup pairs via shingle→minhash→band→bucket-join (the 100 TB
    dedup path); pairs are exact-verified, LSH only bounds the candidates."""
    return minhash_lsh_pairs(
        docs, id_col, tokenize(F.col(text_col)), threshold, num_hashes, bands
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram (word shingle) Jaccard near-dup pairs."""
    toks = tokenize(F.col(text_col))
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - n + 1, F.lit(1)))
    shingles = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return jaccard_pairs(docs, id_col, shingles, threshold)


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=None,
) -> DataFrame:
    """64-bit SimHash per document: rows (id, simhash).

    Per token: 64-bit xxhash; each bit contributes +1/-1 weighted by token
    frequency; the sign vector packs back into one long. Pure column
    expressions: explode → 64 conditional sums → bit re-assembly (no UDF,
    no driver loop). Near-dup test = popcount(xor) ≤ r via ``simhash_near_pairs``.

    ``hash_fn`` swaps the token hash (signature: token Column → long
    Column). ``similarity.md5_hash64`` with seed 0 makes signatures
    engine-portable — its 60-bit range leaves bits 60–63 permanently
    negative-sum (bit 0) on both sides, so the packed values still agree
    exactly (the q44 oracle)."""
    h = hash_fn(F.col("token")) if hash_fn is not None else F.xxhash64("token")
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokenize(F.col(text_col))).alias("token"),
    ).withColumn("h", h)
    # per-bit ±1 sums via ones-counts: s_i = 2·ones_i − n, so the sign
    # test s_i > 0 is 2·ones_i > n — sums of bare shift-ands instead of
    # 64 CASE WHENs (half the expression nodes; this tree is built and
    # analyzed per call, which dominated the query's constant cost)
    bit_sums = [
        F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1))).alias(f"b{i}")
        for i in range(64)
    ]
    agg = tok.groupBy("id").agg(*bit_sums, F.count(F.lit(1)).alias("_n"))
    packed = None
    for i in range(64):
        bit = F.when(
            F.col(f"b{i}") * 2 > F.col("_n"), F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        packed = term if packed is None else packed.bitwiseOR(term)
    return agg.select("id", packed.alias("simhash"))


def simhash_near_pairs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs among simhash signatures with Hamming distance ≤ r.

    Scale path: block on ``max_hamming + 1`` contiguous bit chunks
    (pigeonhole — a pair differing in ≤ r bits cannot differ in ALL
    r + 1 chunks, so it agrees exactly on ≥1 chunk), join per chunk,
    then filter by true popcount. Avoids the all-pairs cross join
    entirely. The chunk count DERIVES from max_hamming: a fixed 4-chunk
    split silently dropped true pairs for any r ≥ 4 (e.g. one differing
    bit in each 16-bit chunk at r = 4 matched no block). Recall-complete
    for every r in [0, 63]; selectivity degrades as chunks narrow — past
    r ≈ 16 (≤3-bit chunks) prefer MinHash-LSH."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    n_chunks = max_hamming + 1
    base, extra = divmod(64, n_chunks)
    bounds = []
    start = 0
    for c in range(n_chunks):
        w = base + (1 if c < extra else 0)
        bounds.append((start, w))
        start += w
    chunk_cols = [
        (
            F.col("simhash")  # full-width chunk: the signature IS the key
            if w == 64
            else F.shiftright("simhash", s).bitwiseAND(F.lit((1 << w) - 1))
        ).alias(f"c{c}")
        for c, (s, w) in enumerate(bounds)
    ]
    # One signature row per (doc, chunk) via posexplode, ONE self-join on
    # (chunk, key). The previous per-chunk join loop evaluated the
    # signature subtree on BOTH sides of all n_chunks joins — 2·n_chunks
    # full recomputes of the 64-sum aggregation; persisting the (small:
    # two longs/doc) signature table and joining once removes all of it.
    s = track_persist(sigs.select("id", "simhash", *chunk_cols))
    keyed = s.select(
        "id",
        "simhash",
        F.posexplode(F.array(*[F.col(f"c{c}") for c in range(n_chunks)])).alias(
            "chunk", "k"
        ),
    )
    a = keyed.select(F.col("id").alias("a"), F.col("simhash").alias("ha"), "chunk", "k")
    b = keyed.select(F.col("id").alias("b"), F.col("simhash").alias("hb"), "chunk", "k")
    return (
        a.join(b, ["chunk", "k"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "hb")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def near_dup_collapse(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.95,
    tokens: Column | None = None,
    small_input_rows: int = 1_000_000,
) -> DataFrame:
    """Collapse near-duplicate clusters to one kept representative each:
    rows (keep_id, cluster_size) — the dedup ARTIFACT a training-data
    pipeline actually consumes, where the pair operators only report
    evidence.

    Clusters are the connected components of the near-dup pair graph:
    pairwise similarity is not transitive (A~B and B~C at θ do not imply
    A~C), so grouping by any single pair endpoint over- or under-merges
    — CC over the pair graph is the standard LSH-dedup collapse. The
    kept id is the component minimum (exactly the min-label CC label);
    docs in no pair are their own singleton clusters.

    Scale structure — EXACT duplicates collapse BEFORE pair scoring:
    identical text means Jaccard 1, so an exact-dup group of size k is a
    clique whose k(k−1)/2 pairs carry no information beyond the group
    itself. Scoring raw docs materialized those cliques (measured 191 k
    pair rows from 5 k docs at sf0.1; a 1 M-doc duplicate cluster at
    corpus scale would emit 5·10¹¹ pair rows); one hash-agg group-by
    first, pair scoring over the per-group min-id representatives only,
    CC over the rep graph (orders of magnitude smaller — the adaptive
    driver union-find almost always takes it), then cluster sizes as the
    sum of member group sizes. The rep id is its group's minimum doc id,
    so the component minimum over reps IS the cluster's minimum doc id.

    Rep pairs are scored exactly (oracle-checkable — q31) by
    ``jaccard_rep_pairs``, which picks the bitset kernel or the ppjoin
    join from the measured vocabulary size (the rule ``jaccard_pairs``
    states).

    ``small_input_rows`` caps the driver union-find fast path over the
    rep pair graph (default 1 M edges — see the inline measurement);
    pass 0 to force the distributed CC fixpoint, the path a pair graph
    past the bound takes at 100 TB (exercised by
    tests/test_ext.py::test_near_dup_collapse_distributed_fallback)."""
    from gelly_streaming_spark.algos.connected_components import connected_components
    from gelly_streaming_spark.operators.graphstream import GraphStream
    from gelly_streaming_spark.ext.similarity import jaccard_rep_pairs
    from gelly_streaming_spark.plans.memory import free_checkpoint

    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"collapse threshold must be in (0, 1], got {threshold}"
        )
    # default tokenizer = tokenize() (split on \s+, empties dropped) —
    # the SAME default as minhash_dedup_pairs/ngram_jaccard_pairs, so
    # the pair-evidence operators and the collapse can never disagree
    # on a corpus with irregular whitespace (a single-space split kept
    # empty tokens and scored 'a b' vs 'a  b' at 2/3 instead of 1).
    toks = tokens if tokens is not None else tokenize(F.col(text_col))
    # Rep-level collapse: jaccard_rep_pairs already groups docs
    # with IDENTICAL token sets (a superset of identical-text
    # groups — identical text always tokenizes identically) and
    # scores one min-id representative per cluster. CC needs only
    # the rep graph: a non-rep member's edges mirror its rep's
    # edges exactly (Jaccard is a function of the token set), so
    # components over the expanded member graph restricted to reps
    # EQUAL components over the rep graph — and since each rep is
    # its cluster's minimum id, the component-min over reps IS the
    # cluster's minimum doc id. Skipping the member expansion cuts
    # the CC input 93× at sf0.1 (2,049 rep pairs vs 190,910
    # expanded pairs).
    grp, rep_pairs = jaccard_rep_pairs(docs, id_col, toks, threshold)
    mem = grp.select(
        F.element_at("ids", 1).alias("_rep"),
        F.size("ids").cast("long").alias("_grp_n"),
    )
    # Token-LESS docs (null / empty / whitespace-only text) never
    # enter the inverted index — explode of an empty token array
    # emits no rows — but they are still corpus rows the collapse
    # must account for. They can never merge with anything (a merge
    # needs a shared token), so they cluster by IDENTICAL TEXT (md5,
    # the same grouping the oracle's first CTE applies; note "" and
    # " " both tokenize to [] but are DIFFERENT texts → different
    # singleton clusters, exactly as a pairwise-Jaccard oracle that
    # computes intersections from shared-token rows decides).
    no_tok = docs.where(
        F.coalesce(F.size(toks), F.lit(0)) <= 0
    )
    extra = no_tok.groupBy(
        F.md5(F.col(text_col).cast("binary")).alias("_h")
    ).agg(
        F.min(id_col).alias("_rep"),
        F.count(F.lit(1)).cast("long").alias("_grp_n"),
    )
    mem = mem.unionByName(extra.select("_rep", "_grp_n"))
    # Materialize the rep pair graph ONCE: CC's adaptive probe and (on
    # the distributed path) its symmetrization both read the input, and
    # the pair pipeline behind it is the query's expensive half —
    # without the checkpoint the probe's incremental limit re-executed
    # the scoring stages several times. CC's return value never
    # references its input (the small path returns driver rows, the
    # distributed path its own label checkpoint), so the blocks are
    # freed immediately after.
    pair_edges = (
        rep_pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .localCheckpoint()
    )
    try:
        # pair graphs are broadcast-scale artifacts (bounded by dup
        # density, not corpus size): up to 1M collected edges the
        # driver union-find (O(E α), one bounded transfer) beats a
        # multi-round distributed fixpoint whose per-round cost is all
        # job overhead — measured 5.7 s distributed vs ~0.5 s driver at
        # sf0.1's 191 k expanded pairs; past the bound CC runs distributed
        comp = connected_components(
            GraphStream(pair_edges), small_input_rows=small_input_rows
        )
    finally:
        free_checkpoint(pair_edges)
    lab = mem.join(comp, mem._rep == comp.id, "left").select(
        F.coalesce("component", F.col("_rep")).alias("comp"), "_grp_n"
    )
    return lab.groupBy(F.col("comp").alias("keep_id")).agg(
        F.sum("_grp_n").alias("cluster_size")
    )


def dedup_passages(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document exact passage dedup with document REWRITE — the
    RefinedWeb/C4-style boilerplate-removal stage: headers, nav bars,
    cookie banners, and license blurbs repeat verbatim across many
    pages, and training corpora drop them while KEEPING the organic
    remainder of each page (unlike whole-document dedup, which keeps
    or drops pages atomically).

    Semantics: each document's token stream (whitespace tokenize) is
    segmented into consecutive aligned ``n``-token passages (the last
    may be shorter); a passage whose exact token sequence occurs in at
    least ``min_docs`` DISTINCT documents is dropped from every
    document (no tie-break needed — removal is symmetric); the
    survivors re-join in order. Returns one row per document that has
    at least one token: ``(doc_id, <text_col>_dedup, n_kept,
    n_dropped)``, with ``<text_col>_dedup = ''`` when every passage
    was boilerplate. Token-free documents are absent by contract
    (including them would cost a corpus-sized join against the input
    purely to emit empty rows).

    Scale shape — three key-partitioned shuffles, nothing all-pairs:
    (1) passage assembly, one partial-agg shuffle on (doc, passage_id);
    (2) duplicate detection, one shuffle on the passage text (count of
    DISTINCT docs per passage — map-side combine compresses repeats);
    (3) document rebuild, one shuffle on doc_id. The duplicate set is
    the minority by construction, so its probe back onto the passage
    stream is an AQE broadcast join, and the kept/dropped counts ride
    the rebuild aggregation as conditional counts — the corpus never
    joins itself. Passages hash-compare by their full text here for
    oracle portability; at 100 TB key the dup-detection shuffle on
    xxhash64(passage) instead (the doc_shingles ``hashed=True``
    pattern) to move 8-byte keys.

    REF: no reference counterpart (gelly-streaming has no corpus
    surface); extension-layer operator alongside exact/minhash dedup.
    """
    toks = tokenize(F.col(text_col))
    t = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        F.posexplode(toks).alias("pos", "token"),
    ).withColumn("pid", F.floor(F.col("pos") / n).cast("long"))
    p = t.groupBy("doc_id", "pid").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda s: s["token"],
            ),
        ).alias("passage")
    )
    # the passage table feeds TWO consumers (duplicate detection and the
    # flagged rebuild); unpersisted, Catalyst duplicates the whole
    # scan+explode+assembly subtree (measured: 2 FileScans, 5 exchanges
    # at sf0.1). The persist is MEMORY_AND_DISK and ~1/n the token
    # stream's row count. The alternative single-pass inverted-index
    # shape (collect_list of (doc,pid) per passage) was REJECTED for
    # skew: a boilerplate passage shared by millions of documents would
    # pile its whole location list onto one reducer, while this shape's
    # count-distinct partial-aggs and broadcast dup-probe stay bounded.
    p = track_persist(p)
    dup = (
        p.groupBy("passage")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("passage", F.lit(True).alias("_dup"))
    )
    flagged = p.join(dup, "passage", "left")
    keep = F.col("_dup").isNull()
    return flagged.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                # when() without otherwise is NULL for dropped passages,
                # and collect_list skips NULLs — the kept set sorts by
                # passage id and re-joins in document order
                F.array_sort(
                    F.collect_list(
                        F.when(keep, F.struct("pid", "passage"))
                    )
                ),
                lambda s: s["passage"],
            ),
        ).alias(f"{text_col}_dedup"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(keep, 0).otherwise(1)).cast("long").alias("n_dropped"),
    )
