"""Text analysis for large-scale training-data pipelines (north-star
extension — BASELINE.json; no reference counterpart: the reference has no
scalar function library at all, SURVEY.md §2.8 [H]).

Everything here is built from JVM-side column expressions (split/regexp/
aggregate) — no Python UDFs in any hot path — so the operators inherit
whole-stage codegen and scale linearly with partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Minimal per-language stopword marker lists for the n-gram/stopword
# language-ID heuristic (deterministic, dependency-free).
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "del", "las"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"),
}


def tokenize(text: Column) -> Column:
    """Whitespace tokenization (split keeps order; empty tokens filtered)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokenize(text))


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: penalizes extreme length,
    high punctuation ratio, low alphabetic ratio, and token repetition."""
    n_chars = F.length(text)
    toks = tokenize(text)
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    punct = F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", ""))
    alpha = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    len_ok = F.when((n_chars >= 20) & (n_chars <= 100_000), F.lit(1.0)).otherwise(0.3)
    punct_ok = 1.0 - F.least(punct / F.greatest(n_chars, F.lit(1)) * 4, F.lit(1.0))
    alpha_ok = alpha / F.greatest(n_chars, F.lit(1))
    rep_ok = n_uniq / F.greatest(n_tok, F.lit(1))
    return F.round((len_ok + punct_ok + alpha_ok + rep_ok) / 4, 6)


def lang_id(text: Column) -> Column:
    """Stopword-marker language ID. Scores each candidate language by
    marker-token hits over the first tokens; deterministic tie-break by
    language code. Pure array expressions — no UDF."""
    toks = F.slice(tokenize(F.lower(text)), 1, 64)
    scores = [
        F.struct(
            F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(m) for m in markers]))).alias("hits"),
            F.lit(-ord(lang[0]) * 256 - ord(lang[1])).alias("tb"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(_LANG_MARKERS.items())
    ]
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(text: Column, shingle: int = 5) -> Column:
    """Document fingerprint: minimum 64-bit hash over ``shingle``-token
    rolling windows (winnowing-style min-sampling; equal documents ⇒ equal
    fingerprints, near-equal documents collide with high probability)."""
    toks = tokenize(text)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - shingle + 1, F.lit(1)))
    shingles = F.transform(
        idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, shingle)))
    )
    return F.array_min(shingles)


def token_counts(text: Column) -> Column:
    """Per-document (token, occurrences) pairs as ONE in-row
    ``array<struct<token,occ>>`` expression: run-length over the SORTED
    token array. Uses F.get (0-based, null OOB) instead of element_at,
    which raises under ANSI mode at array end.

    SCALE WARNING: as a single nested expression, outer arrays (`st`,
    `run_ends`) referenced inside HOF lambdas are re-evaluated PER
    ELEMENT (Catalyst inlines them; higher-order functions are
    interpreted, not codegen'd), so this form is O(T²·sort) per doc —
    measured: it turned q33 at sf0.1 (100-token docs) into a
    multi-minute straggler stage. Staging the kernel across projections
    does NOT survive downstream consumption either: CollapseProject and
    the generator-pushdown rules re-inline the staged arrays as soon as
    the pairs feed an explode (measured: 19 array_sort copies in q33's
    optimized plan, 38 in q35's). Property-tested against a Counter
    recount (tests/test_property.py); for corpus-scale work use
    token_doc_counts(), whose word-count plan is whole-stage-codegen
    end to end with no HOF at all."""
    st = F.array_sort(tokenize(text))
    n = F.size(st)
    idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
        F.lit(None).cast("array<int>")
    )
    run_ends = F.filter(
        idx,
        lambda i: F.coalesce(F.get(st, i + 1) != F.get(st, i), F.lit(True)),
    )
    return F.transform(
        run_ends,
        lambda e, j: F.struct(
            F.get(st, e).alias("token"),
            (e - F.coalesce(F.get(run_ends, j - 1), F.lit(-1))).alias("occ"),
        ),
    )


def token_doc_counts(
    docs: DataFrame, text_col: str = "text", doc_id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, token, occ) — term frequencies per document via the
    canonical distributed word-count plan: a row-local explode fused
    into the scan, then ONE hash aggregation keyed on (doc_id, token)
    whose map-side partial agg compresses duplicates before the
    exchange — the shuffle moves per-doc DISTINCT tokens, the same rows
    an in-row run-length would have emitted post-explode.

    Why not an in-row HOF kernel: Catalyst re-inlines staged array
    projections through Generate (CollapseProject + generator pushdown),
    re-deriving the sorted array per ELEMENT — measured O(T²) blow-up
    that turned q33 at sf0.1 into a 480 s+ straggler (plan-shape
    regression guarded in tests/test_ext.py::
    test_vocab_and_tfidf_plans_have_no_hof_resort). This form is
    whole-stage codegen end to end and AQE-sizable at any scale."""
    return (
        docs.select(
            F.col(doc_id_col).alias("doc_id"),
            F.explode(tokenize(F.col(text_col))).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("occ"))
    )


def vocabulary(
    docs: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    k: int = 50,
) -> DataFrame:
    """Tokenizer-vocabulary build: top-``k`` tokens by collection
    frequency (``cf`` = total occurrences) with document frequency
    (``df`` = docs containing the token), totally ordered by
    (cf DESC, token ASC) with a dense ``rank``.

    Plan shape (the one that survives 100 TB): two row-local generators
    fused into the scan — every token for cf, the in-row
    ``array_distinct`` of the tokens for df (each doc contributes one
    row per distinct token, so df is a plain count: no count-distinct
    expand, no (doc, token) pre-aggregation shuffle) — unioned and
    funneled through ONE partial-agg shuffle keyed on token. No
    higher-order-function lambdas anywhere (see token_doc_counts for
    why that matters). The final top-k sorts only the aggregated token
    table (vocabulary-sized, not corpus-sized) with a TakeOrdered,
    never a global sort of rows.
    """
    t = tokenize(F.col(text_col))
    occ = docs.select(
        F.explode(t).alias("token"), F.lit(1).alias("is_occ")
    )
    dst = docs.select(
        F.explode(F.array_distinct(t)).alias("token"), F.lit(0).alias("is_occ")
    )
    agg = occ.unionByName(dst).groupBy("token").agg(
        F.sum("is_occ").alias("cf"),
        F.sum(1 - F.col("is_occ")).alias("df"),
    )
    # Distributed top-k: orderBy+limit plans as TakeOrderedAndProject
    # (per-partition heaps, k rows to the driver side of the exchange) —
    # a global row_number window would instead sort the whole token
    # table in ONE partition. rank is then assigned on the k-row result.
    topk = agg.orderBy(F.col("cf").desc(), F.col("token").asc()).limit(k)
    w = Window.orderBy(F.col("cf").desc(), F.col("token").asc())
    return topk.select("token", "cf", "df", F.row_number().over(w).alias("rank"))


def tfidf_keywords(
    docs: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` keywords per document by TF-IDF
    (``occ * ln(N / df)``, rounded to 6 decimals BEFORE ranking so the
    ordering depends only on values both engines agree on bit-for-bit —
    ranking raw doubles would let a 1-ulp libm difference flip a
    near-tie across engines).

    Plan: term frequencies come from token_doc_counts()'s word-count
    plan (one (doc_id, token) partial-agg shuffle, full codegen);
    document frequency is ONE further token-keyed partial-agg shuffle
    over that already-distinct table; the df table is vocabulary-sized,
    so AQE's runtime join-strategy switching broadcasts it back to the
    pairs when the materialized table is small and falls back to a
    shuffle join when a 100 TB corpus's full vocabulary exceeds the
    broadcast limit; the per-doc top-k
    is a WindowGroupLimit (map-side trim to k before the doc_id
    exchange). N (the corpus size) is computed INSIDE the plan as a
    1-row aggregate cross-joined in (broadcast nested loop over one
    row) — not a separate ``docs.count()`` action, which cost an extra
    driver-synchronized job per call and made the function eager."""
    n_docs = docs.select(
        F.count(F.lit(1)).cast("double").alias("_n_docs")
    )
    pairs = token_doc_counts(docs, text_col, doc_id_col)
    # df from its own in-row array_distinct explode over the (pruned,
    # single-column) docs scan — NOT from `pairs`: Spark does no
    # common-subexpression sharing across the self-referencing join, so
    # deriving df from pairs executed the whole (doc, token) aggregation
    # subtree twice (measured ~0.2 s of q35's warm time at sf0.1).
    df_t = (
        docs.select(
            F.explode(F.array_distinct(tokenize(F.col(text_col)))).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = pairs.join(df_t, "token").crossJoin(n_docs).select(
        "doc_id",
        "token",
        F.round(
            F.col("occ") * F.log(F.col("_n_docs") / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.select(
            "doc_id", "token", "tfidf", F.row_number().over(w).alias("rn")
        )
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def ngram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    add_k: float = 0.5,
    max_ppl: float | None = None,
) -> DataFrame:
    """Bigram-LM perplexity scoring — the CCNet/KenLM-style corpus
    quality signal (Wenzek et al. 2020, public method): rows
    ``(doc_id, n_bigrams, avg_logp, ppl)``, one per document with >= 2
    tokens, where ``avg_logp`` is the mean natural-log add-k-smoothed
    bigram probability and ``ppl = exp(-avg_logp)``. High perplexity
    under a corpus-trained LM flags documents whose token transitions
    are atypical for the corpus — boilerplate, gibberish, wrong
    language. ``max_ppl`` optionally applies the filter
    (``ppl <= max_ppl``); the certified query ships the scores and
    leaves thresholding to the caller.

    Self-scoring convention: the LM is trained on the SAME corpus it
    scores (the in-pipeline bootstrap form; production CCNet trains on
    a reference corpus — pass that corpus's counts through the same
    plan). P(w2|w1) = (C2(w1,w2) + k) / (C1(w1) + k*V) with C1 derived
    as the context total SUM(C2(w1, *)) and V the corpus-wide distinct
    token count.

    Plan shape (the 100 TB one):
    - bigrams are ROW-LOCAL — arrays_zip of two slices of the token
      array (built-in codegen expressions, no HOF lambda, no
      positional self-join, no shuffle to form pairs);
    - C2 via ONE (w1, w2)-keyed partial-agg shuffle; C1 derives from
      C2 (bigram-vocabulary-sized input, no second corpus pass);
    - V is a 1-row in-plan aggregate crossJoined in (the q35
      convention — a bounded BroadcastNestedLoopJoin);
    - scoring re-keys the bigram stream once against C2; the C1 side
      is vocabulary-sized and AQE-broadcast when small — no hint, so a
      10^8-token vocabulary falls back to a keyed join instead of an
      executor-OOM broadcast;
    - the bigram stream feeds BOTH the count and the scoring subtrees
      UNPERSISTED: it is a row-local expansion of the scan, and an A/B
      at sf0.1 measured persist-vs-recompute as a wash warm (1.04 vs
      1.02 s) while caching a corpus-scale intermediate is exactly
      what a 100 TB run must not do.
    Probability arithmetic is shared with the oracle operand-for-
    operand (integer counts exact in doubles, one division, one ln),
    so cross-engine drift is bounded by ulp-level libm differences —
    measured r12 over sf0.001/0.01/0.1: min distance of avg_logp*1e6
    to a rounding boundary 2.0e-4 (i.e. 2e-10 on the raw value) and of
    ppl*1e2 2.8e-5 — both at least 4 orders above the ~1e-14 drift."""
    t = tokenize(F.col(text_col))
    toks = docs.select(F.col(doc_id_col).alias("doc_id"), t.alias("t"))
    bi = (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 1),
                    F.slice("t", 2, F.size("t") - 1),
                )
            ).alias("bg"),
        )
        .select(
            "doc_id",
            F.col("bg")["0"].alias("w1"),
            F.col("bg")["1"].alias("w2"),
        )
    )
    c2 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vrow = toks.select(F.explode("t").alias("token")).agg(
        F.count_distinct("token").alias("v")
    )
    lp = F.log(
        (F.col("c2") + F.lit(add_k)) / (F.col("c1") + F.lit(add_k) * F.col("v"))
    )
    out = (
        bi.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(vrow)
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("avg_logp"),
            F.round(F.exp(-F.avg("lp")), 2).alias("ppl"),
        )
    )
    return out.where(F.col("ppl") <= max_ppl) if max_ppl is not None else out


def doc_shingles(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    chunk_tokens: int | None = 65536,
    hashed: bool = False,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, shingle) — every ``n``-token shingle of every document
    (duplicates kept; docs shorter than ``n`` tokens contribute none).

    ``hashed=True`` emits ``xxhash64`` of the token window (a LONG)
    instead of the space-joined string — for consumers that never
    expose the shingle itself (pair counting, distinct-overlap joins)
    it shrinks every downstream shuffle/join key from ~tens of bytes
    to 8, identical results modulo 64-bit collisions (birthday bound
    ~3e-8 at 10^6 distinct shingles; at 10^12 a handful of collisions
    shift dedup counts by O(1e-9) — the standard production trade).

    Plan: posexplode (row-local, fused into the scan) then a sliding
    collect_list window partitioned by (doc_id, chunk) — ONE shuffle
    moving the token stream. No higher-order-function lambdas: building
    shingles as an in-row ``transform(sequence, i -> slice(tokens, i,
    n))`` re-evaluates the tokenization per element once Catalyst
    inlines it through the downstream explode — the measured O(T²)
    blow-up documented in token_doc_counts().

    Giant-document guard (VERDICT r7): partitioning the window by
    doc_id alone put ALL of a document's tokens in one task — one
    pathological multi-GB document (real crawl data has them) skewed or
    OOMed the stage. Tokens are therefore chunked ``chunk_tokens`` per
    window partition, with the first ``n - 1`` tokens of each chunk
    ALSO copied to the previous chunk (seam overlap, so no shingle is
    lost across the boundary) and each shingle emitted only by the
    chunk that owns its start position (so none is double-counted).
    Built as one tiny per-token 1-or-2-element array explode — no
    second scan, no O(T) in-row recompute. ``chunk_tokens=None``
    disables the guard (single-partition-per-doc, the pre-r8 plan)."""
    # carry_cols ride the token stream as per-doc constants (a few bytes
    # per token) so consumers that need them per shingle (source_overlap's
    # group) never pay a doc-keyed join against the shingle stream.
    carry = [F.col(c) for c in carry_cols]
    tok = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        *carry,
        F.posexplode(tokenize(F.col(text_col))).alias("pos", "token"),
    )
    part_keys = ["doc_id"]
    own_chunk = None
    if chunk_tokens is not None:
        if chunk_tokens < n:
            raise ValueError(
                f"chunk_tokens ({chunk_tokens}) must be >= n ({n})"
            )
        c = F.lit(chunk_tokens)
        home = F.floor(F.col("pos") / c).cast("int")
        targets = F.when(
            (F.col("pos") % c < n - 1) & (F.col("pos") >= c),
            F.array(home, home - 1),
        ).otherwise(F.array(home))
        tok = tok.select(
            "doc_id", *carry_cols, "pos", "token",
            F.explode(targets).alias("_chunk"),
        )
        part_keys = ["doc_id", "_chunk"]
        own_chunk = F.floor(F.col("pos") / c).cast("int") == F.col("_chunk")
    w = (
        Window.partitionBy(*part_keys)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, n - 1)
    )
    win_tokens = F.collect_list("token").over(w)
    sel = [
        "doc_id",
        *carry_cols,
        (F.xxhash64(win_tokens) if hashed else F.concat_ws(" ", win_tokens)).alias(
            "shingle"
        ),
        F.count(F.lit(1)).over(w).alias("_w"),
    ]
    if own_chunk is not None:
        sel.append(own_chunk.alias("_own"))
    sh = tok.select(*sel)
    cond = F.col("_w") == n
    if own_chunk is not None:
        cond = cond & F.col("_own")
    return sh.where(cond).select("doc_id", *carry_cols, "shingle")


def decontaminate(
    docs: DataFrame,
    blocklist: DataFrame,
    n: int = 8,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-decontamination scan: (doc_id, n_hits) for every corpus
    document sharing at least one ``n``-token shingle with the blocklist
    (the eval/benchmark set), where ``n_hits`` counts the DISTINCT
    shared shingles — the standard n-gram-overlap test a training corpus
    runs against held-out benchmarks before training.

    Scale: the blocklist is an eval set — bounded by definition — so its
    distinct-shingle table is broadcast-joinable (left to AQE's runtime
    size check); the corpus side streams through one window shuffle
    (doc_shingles) and one partial-agg count. Shingles are hashed
    (xxhash64 via doc_shingles ``hashed`` — 8-byte join key instead of
    a ~50-byte string); the output exposes only (doc_id, n_hits), so
    the string-keyed DuckDB oracle still certifies the result exactly
    (collision odds ~3e-8 at this scale, see doc_shingles)."""
    corpus_sh = doc_shingles(docs, n, text_col, doc_id_col, hashed=True)
    block_sh = (
        doc_shingles(blocklist, n, text_col, doc_id_col, hashed=True)
        .select("shingle")
        .distinct()
    )
    return (
        corpus_sh.join(block_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_hits"))
    )


def ngram_repetition(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Within-document duplicate n-gram statistics — the Gopher/
    MassiveText boilerplate-repetition quality signal — as exact
    integers: (doc_id, n_ngrams, n_distinct). The repetition fraction is
    ``1 - n_distinct/n_ngrams``; integers are returned so the oracle
    hash is exact (no float division to disagree on).

    Plan: doc_shingles' single window shuffle, then one (doc, shingle)
    partial-agg and one per-doc rollup — both map-side combining. The
    shingle key is hashed (doc_shingles ``hashed``): only counts leave
    this function, so the 8-byte key halves-or-better the partial-agg
    shuffle with results identical up to 64-bit collisions."""
    sh = doc_shingles(docs, n, text_col, doc_id_col, hashed=True)
    per = sh.groupBy("doc_id", "shingle").agg(F.count(F.lit(1)).alias("c"))
    return per.groupBy("doc_id").agg(
        F.sum("c").alias("n_ngrams"),
        F.count(F.lit(1)).alias("n_distinct"),
    )


def source_overlap(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Cross-source content-overlap matrix: rows ``(src_a, src_b,
    shared)`` = distinct ``n``-token shingles present in BOTH sources,
    for every unordered source pair — the diagnostic a data-mixture
    design reads before weighting sources (two "independent" crawls
    sharing half their shingles are one source for dedup purposes).

    Scale shape (3 shuffles total, r9 — was 5): one shingle window
    (hashed keys — the output never exposes shingles, so 8-byte longs
    replace the strings in every shuffle) with the group column CARRIED
    through the window as a per-token passenger, so no doc-keyed join
    ever touches the shingle stream; then ONE partial-agg shuffle keyed
    on shingle building ``collect_set(group)`` (the set is bounded by
    n_sources, so map-side partial aggregation dedups before the
    exchange — a hot boilerplate shingle moves one row per partition,
    never its occurrence count); unordered group pairs expand IN-ROW
    from the sorted set (≤ n_sources² elements — tiny, and behind the
    aggregation barrier so Catalyst cannot re-inline the subtree
    per-element), and one final trivially-small (src_a, src_b) rollup.
    Contrast ``duplicate_passages``' max_df cap, which bounds DOC
    fan-out — here per-key fan-out is bounded by construction."""
    sh = doc_shingles(
        docs.withColumn("_grp", F.col(group_col)),
        n, text_col, doc_id_col, hashed=True, carry_cols=("_grp",),
    )
    per_shingle = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_set("_grp")).alias("grps")
    )
    pairs = per_shingle.where(F.size("grps") >= 2).select(
        F.explode(
            F.expr(
                "flatten(transform(grps, x -> "
                "transform(filter(grps, y -> y > x), "
                "y -> struct(x as src_a, y as src_b))))"
            )
        ).alias("p")
    )
    return (
        pairs.select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )


def duplicate_passages(
    docs: DataFrame,
    n: int = 8,
    min_shared: int = 2,
    max_df: int | None = 1000,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicated-passage detection: pairs
    ``(a, b, shared)`` of documents sharing ≥ ``min_shared`` DISTINCT
    ``n``-token shingles — the cross-doc leak scan a training corpus
    runs on itself (the within-corpus sibling of ``decontaminate``,
    which scans against a held-out eval set; C4/MassiveText drop or
    collapse documents repeating long passages across the corpus).

    Scale shape: distinct (doc, shingle) inverted index, hot-shingle
    guard, then a shingle-keyed self-join with per-pair partial-agg
    counting. ``max_df`` drops shingles present in more than that many
    documents BEFORE the join: a boilerplate shingle in d documents
    emits d(d−1)/2 pairs — quadratic in the hot key and pure noise for
    passage-level dedup (the standard df-cap move, same role as the
    prefix filter in ppjoin). The cap is exact for its own semantics
    (the output is DEFINED over df ≤ max_df shingles, and the oracle
    applies the identical cap); ``max_df=None`` disables the guard for
    bounded corpora."""
    # Plan: ONE shingle-keyed aggregation builds the per-shingle sorted
    # doc set (collect_set dedupes, so no separate distinct pass), the
    # df cap filters ROWS of that aggregate (not a join), and pairs are
    # emitted by an in-row nested-transform expression — the same
    # generator _expand_rep_pairs uses, safe from the Catalyst
    # Generate-inlining O(T²) class because `ds` is a materialized
    # aggregation output, not a re-derivable projection. Two shuffles
    # end to end (shingle key, then pair key) — the groupBy/join/
    # self-join formulation this replaces ran five and re-executed the
    # window subtree per consumer (measured 1.9-2.4 s vs ~1 s at sf0.1).
    # Per-shingle fan-out is bounded by max_df (d docs -> d(d-1)/2 ≤
    # 190 pairs at the default cap), so the explode cannot blow up on a
    # hot shingle — that is the cap's scale role. The shingle key is
    # hashed (doc_shingles ``hashed``): the output is (a, b, shared)
    # only, so grouping on the 8-byte hash instead of the ~50-byte
    # string cuts the widest shuffle's key volume ~6x with results
    # identical up to 64-bit collisions.
    per = (
        doc_shingles(docs, n, text_col, doc_id_col, hashed=True)
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .where(F.size("ds") >= 2)
    )
    if max_df is not None:
        per = per.where(F.size("ds") <= max_df)
    pairs = per.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) -> "
                "transform(slice(ds, i + 2, size(ds)), "
                "y -> struct(x as a, y as b))))"
            )
        ).alias("p")
    )
    return (
        pairs.select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


# PII patterns restricted to the regex dialect intersection of Java
# (Spark) and RE2 (DuckDB/Go/Rust scrubbers): no backrefs, no lookaround
# — so one pattern table drives every engine in the pipeline. Table
# order affects only the SCRUBBED text (earlier patterns consume their
# span first, so a dotted-quad inside an email is replaced as part of
# the <EMAIL> token); the n_<kind> counts are computed independently per
# pattern over the ORIGINAL text, so user@1.2.3.4 increments both
# n_email and n_ipv4 by design (the oracle counts the same way).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
)


def scrub_pii(
    docs: DataFrame,
    text_col: str = "text",
    patterns: tuple[tuple[str, str], ...] = PII_PATTERNS,
) -> DataFrame:
    """Detect and redact PII spans (emails, NANP phone numbers, IPv4
    addresses by default) — the pre-release scrub every training corpus
    runs. Adds one ``n_<kind>`` count per pattern (counted on the
    ORIGINAL text) plus ``<text_col>_scrubbed`` with each span replaced
    by a ``<KIND>`` placeholder, applied in table order so earlier
    patterns consume overlapping spans.

    Pure JVM column expressions (``regexp_count``/``regexp_replace``):
    zero UDFs, zero shuffles — fuses into the scan and scales as a flat
    map at any corpus size.

    REF: no reference counterpart (SURVEY.md §2.11 extension layer).
    """
    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(pat)).alias(f"n_{name}") for name, pat in patterns
    ]
    scrubbed = t
    for name, pat in patterns:
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    return docs.select(
        "*", *counts, scrubbed.alias(f"{text_col}_scrubbed")
    )


def text_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass per-document profile: token count, quality, language,
    fingerprint — a single projection, zero shuffles."""
    t = F.col(text_col)
    return docs.select(
        "*",
        token_count(t).alias("n_tokens"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
    )


def classifier_score(
    docs: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    token_col: str = "token",
    weight_col: str = "weight",
    bias: float = 0.0,
) -> DataFrame:
    """Linear text-classifier INFERENCE, fastText-style (Joulin et al.
    2016, public method): rows ``(doc_id, score)`` with
    ``score = sigmoid(bias + SUM(w(token)) / n_tokens)`` — mean-pooled
    token weights through a logistic link. Out-of-vocabulary tokens
    contribute weight 0 but still count in the denominator (the
    fastText mean-over-all-tokens convention); a zero-token document
    scores ``sigmoid(bias)``. This pairs with ngram_lm_scores as the
    second CCNet-pipeline quality signal: the perplexity scorer flags
    atypical token TRANSITIONS, the linear classifier scores token
    PRESENCE against trained per-token weights (in production, exported
    from a trained fastText/logistic model into any (token, weight)
    table; the certified q58 fixture derives deterministic weights from
    the corpus vocabulary so the DuckDB oracle replicates them exactly).

    Plan shape (the 100 TB one): ONE doc-keyed partial-agg shuffle and
    one broadcast join, corpus never shuffled raw —
    - the token count rides IN-ROW (``size``) before the explode, so
      no second corpus pass and no count-distinct; the token array is
      STAGED through its own projection before size/explode consume it
      — referencing ``tokenize(text)`` directly from both expressions
      let Catalyst re-inline the split through the Generate and
      re-derive it per generated ROW (the token_doc_counts O(T²)
      pathology, re-measured here r13 at sf0.1: 5.5-7.5 s inlined vs
      0.93-1.0 s staged — a 6x plan-shape cliff, guarded in
      tests/test_ext.py::test_classifier_score_plan_has_single_split);
    - ``explode_outer`` guarantees every document emits at least one
      row (NULL token for empty docs), so the per-doc aggregate needs
      no join back against the document base — the r13 A/B measured
      the base-join variant at 2 doc-keyed exchanges vs 1 here;
    - the weight table joins LEFT against the exploded stream with no
      hint — AQE converts to broadcast when the materialized table is
      small and falls back to a keyed join for a vocabulary that
      outgrows the broadcast limit (the tfidf_keywords convention).

    Float contract: the sum is exact when the weight values are binary
    rationals (the q58 fixture uses k/4096, so summation order cannot
    drift across engines); the remaining cross-engine surface is one
    division and one exp() — margins measured and pinned in the q58
    oracle comment."""
    toks = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        tokenize(F.col(text_col)).alias("_t"),
    ).select(
        "doc_id",
        F.size("_t").alias("n"),
        F.explode_outer("_t").alias(token_col),
    )
    w = weights.select(
        F.col(token_col), F.col(weight_col).cast("double").alias("_w")
    )
    per = toks.join(w, token_col, "left").groupBy("doc_id").agg(
        F.max("n").alias("n"),
        F.sum(F.coalesce(F.col("_w"), F.lit(0.0))).alias("s"),
    )
    return per.select(
        "doc_id",
        F.round(
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(
                    -(
                        F.lit(float(bias))
                        + F.col("s") / F.greatest(F.col("n"), F.lit(1))
                    )
                )
            ),
            6,
        ).alias("score"),
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Collocation mining by pointwise mutual information — the corpus
    phrase-discovery primitive (Church & Hanks 1990; the word2vec-style
    phrase pass): rows ``(w1, w2, c2, pmi)`` for the top-``k`` adjacent
    token pairs by ``pmi = ln(c2 * T / (cl(w1) * cr(w2)))``, where
    ``c2`` is the pair count, ``T`` the total bigram count, ``cl``/
    ``cr`` the pair's left-/right-position marginals, and pairs below
    ``min_count`` are dropped (PMI's low-frequency blow-up — a pair
    seen once between two rare words maxes the score; the min-count
    floor is the standard fix). Total order (pmi DESC, w1, w2) with
    pmi rounded to 6dp BEFORE ranking (the q35 convention — raw-double
    ranking lets a 1-ulp libm difference flip a near-tie across
    engines).

    Plan shape (the 100 TB one, all q53-certified patterns): bigrams
    form ROW-LOCALLY (arrays_zip of two token-array slices — no HOF
    lambda, no positional self-join); ``c2`` via ONE (w1, w2)-keyed
    partial-agg shuffle; both marginals and ``T`` derive from the
    bigram-vocabulary-sized ``c2`` table (no second corpus pass — the
    q53 C1-from-C2 trick, applied twice); the marginal joins are
    vocabulary-sized and AQE-broadcast with keyed fallback; the top-k
    is a TakeOrdered over the aggregated pair table (per-partition
    heaps), never a global sort. All counts are integers (exact in
    doubles); the float surface is one multiply/divide chain and one
    ln — margins pinned in the q59 oracle comment."""
    t = tokenize(F.col(text_col))
    bi = (
        docs.select(t.alias("t"))
        .where(F.size("t") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 1),
                    F.slice("t", 2, F.size("t") - 1),
                )
            ).alias("bg")
        )
        .select(F.col("bg")["0"].alias("w1"), F.col("bg")["1"].alias("w2"))
    )
    c2 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    cl = c2.groupBy("w1").agg(F.sum("c2").alias("cl"))
    cr = c2.groupBy("w2").agg(F.sum("c2").alias("cr"))
    trow = c2.agg(F.sum("c2").cast("double").alias("_t"))
    scored = (
        c2.where(F.col("c2") >= min_count)
        .join(cl, "w1")
        .join(cr, "w2")
        .crossJoin(trow)
        .select(
            "w1", "w2", "c2",
            F.round(
                F.log(F.col("c2") * F.col("_t") / (F.col("cl") * F.col("cr"))),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)


def chunk_documents(
    docs: DataFrame,
    window: int = 256,
    stride: int = 128,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking — the RAG-indexing /
    fixed-context pretraining splitter: each document's token stream
    becomes chunks of ``window`` tokens starting every ``stride``
    tokens (``stride < window`` = overlap; the final chunk is the
    shorter tail). Rows ``(doc_id, chunk_id, chunk, n_tokens)``;
    token-free documents are absent by contract (the dedup_passages
    convention). Chunk count is ``1`` for docs at or under ``window``
    tokens, else ``ceil((len - window)/stride) + 1`` — so every token
    lands in at least one chunk and the last window always reaches the
    document's end.

    Scale shape: ZERO shuffles — tokenize, chunk-index sequence, and
    window slicing are all row-local column expressions (sequence +
    transform over array slices); the expansion factor is bounded by
    ~len/stride per document. All-integer + string semantics."""
    if window < 1 or stride < 1:
        raise ValueError(
            f"chunk_documents: window/stride must be >= 1, got {window}/{stride}"
        )
    if stride > window:
        # gaps-sampling (stride > window) is a different operator: the
        # closed-form chunk count assumes the last window reaches the
        # document's end, and a gapped layout would emit empty trailing
        # chunks with negative token counts (caught by the r14 property
        # test at window=1, stride=3)
        raise ValueError(
            f"chunk_documents: stride ({stride}) must be <= window "
            f"({window}) — every token must land in at least one chunk"
        )
    l = tokenize(F.col(text_col))
    n = F.size("l")
    nchunks = F.when(n <= window, F.lit(1)).otherwise(
        F.ceil((n - window) / F.lit(float(stride))).cast("long") + 1
    )
    return (
        docs.select(F.col(doc_id_col).alias("doc_id"), l.alias("l"))
        .where(F.size("l") > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0).cast("long"), nchunks - 1)).alias(
                "chunk_id"
            ),
            F.col("l"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.concat_ws(
                " ",
                F.slice(
                    "l", (F.col("chunk_id") * stride + 1).cast("int"), window
                ),
            ).alias("chunk"),
            F.least(
                F.lit(window).cast("long"),
                F.size("l") - F.col("chunk_id") * stride,
            ).alias("n_tokens"),
        )
    )


def quality_fraction_filter(
    docs: DataFrame,
    keep_frac: float = 0.7,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Keep the top ``keep_frac`` of the corpus by ``quality_score`` —
    the corpus-level curation step that turns the per-doc heuristic into
    a budgeted filter ('keep the best 70%', the Gopher/FineWeb recipe)
    without hand-tuning an absolute threshold per corpus. Rows
    ``(doc_id, quality)``; ties AT the cutoff are all kept, so the
    output has ≥ ceil(keep_frac·n) rows (order-statistic semantics — no
    interpolation, the cutoff is an actual data value, which is what
    makes the cross-engine hash exact).

    100 TB shape — exact without a global corpus sort: quality is
    rounded to 6dp in [0, 1], so its value DOMAIN is bounded at 10^6+1
    regardless of corpus size. The regex-heavy ``(doc_id, quality)``
    projection is computed in ONE corpus pass and localCheckpoint'd
    (ADVICE r15: the uncheckpointed plan re-ran the scoring scan for
    the cutoff aggregation AND evaluated it twice more in the final
    Filter+Project — three regex evaluations per surviving row where
    the narrative counted one; the checkpoint is a narrow ~16 B/row
    intermediate). ONE (quality)-keyed partial-agg count shuffle then
    collapses the checkpoint to the bounded value table; the cutoff
    (the largest quality whose descending cumulative count reaches
    k = ceil(keep_frac·n)) comes from a window over that table plus a
    1-value driver take, with n itself folded into the same bounded
    table as a whole-frame window sum (r16: the separate count() probe
    job is gone). The corpus is then filtered by the broadcast scalar
    — never globally sorted, never ranked row-by-row. Cutoff
    comparisons are bit-exact: both engines' quality doubles are
    bit-identical (the q42 certified contract) and the cutoff is one of
    them; k parity holds because CEIL(lit(keep_frac) * n) is the same
    IEEE double product the oracle's CEIL(0.7::DOUBLE * COUNT(*))
    evaluates.

    Storage lifetime (ADVICE r16): the returned plan references the
    localCheckpoint, so the caller holds its O(corpus-rows) ~16 B/row
    executor blocks until the returned DataFrame is garbage-collected —
    intentional per the checkpoint doctrine (the blocks ARE the single
    scoring pass's result); release by dropping the reference."""
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(
            f"quality_fraction_filter: keep_frac must be in (0, 1], got {keep_frac}"
        )
    q = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        quality_score(F.col(text_col)).alias("quality"),
    ).localCheckpoint()
    qv = q.groupBy("quality").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.orderBy(F.desc("quality"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = qv.select(
        "quality",
        F.sum("c").over(w).alias("cc"),
        F.sum("c").over(wall).alias("n"),
    )
    cutoff = (
        cum.where(F.col("cc") >= F.ceil(F.lit(keep_frac) * F.col("n")))
        .agg(F.max("quality").alias("cut"))
        .collect()[0]["cut"]
    )  # bounded 1-value take over the ≤1e6-row value table
    if cutoff is None:
        return q.where(F.lit(False))  # empty corpus — same empty frame
    return q.where(F.col("quality") >= F.lit(cutoff))


def _merge_adjacent(arr: Column, a: str, b: str) -> Column:
    """Greedy left-to-right non-overlapping merge of every adjacent
    symbol pair (``a``, ``b``) into the single symbol ``"a b"`` — the
    BPE merge-application step as a row-local array fold (no shuffle,
    no UDF). ``[a,a,a]`` with pair (a,a) becomes ``["a a", a]`` — a
    symbol consumed by a merge cannot start another, because the
    accumulator's last element is then ``"a b"``, which no longer
    equals ``a`` (standard BPE semantics; the oracle replays the
    identical fold via DuckDB list_reduce).

    The fold starts from an EMPTY accumulator so ``arr`` appears exactly
    ONCE in the expression (r15): the previous first-element-init form
    referenced ``arr`` five times (guard + both slices + fallthrough),
    so K composed folds — bpe_merges' per-round apply — inlined the base
    5^K times and a 6-rule table OOM'd Catalyst before execution.
    Same output by construction: the pair sequence both forms examine
    is (l[i], l[i+1]) for i = 1.. — only the bookkeeping of where l[1]
    enters the accumulator differs. DuckDB's list_reduce has no empty
    init, so the oracle keeps the first-element-init replay; the
    equivalence rides the same argument."""
    merged = a + " " + b
    return F.aggregate(
        arr,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_tokenize(text: Column) -> Column:
    """BPE-path tokenization: whitespace tokens, empties dropped, and
    tokens containing U+001F dropped on BOTH engines (ADVICE r14): the
    DuckDB oracle replays the merge fold through a chr(31)-joined string
    accumulator, so a literal 0x1F byte inside a token would corrupt the
    oracle's fold while the engine's array fold handled it — a latent
    cross-engine divergence. Filtering it out of the symbol alphabet up
    front (mirrored in the oracle's t0) makes the contract hold for any
    input, not just the 0x1F-free fixture."""
    return F.filter(
        F.split(text, r"\s+"),
        lambda t: (t != "") & ~t.contains("\x1f"),
    )


def _pick_disjoint(
    pool: list[tuple[str, str, int]], batch_k: int
) -> list[tuple[str, str, int]]:
    """Greedy symbol-disjoint rule selection from a (cnt DESC, a, b)
    ordered candidate pool: walk the pool in order, select a candidate
    iff neither of its symbols appears in any already-selected rule,
    stop at ``batch_k``. Symbol-disjoint rules commute under the merge
    fold — applying one cannot create, destroy, or overlap an adjacency
    of another (a merge replaces two adjacent symbols with one, touching
    only pairs that share an endpoint with it) — so every selected
    rule's selection-time count stays exact and the batch applies in a
    single corpus pass."""
    selected: list[tuple[str, str, int]] = []
    used: set[str] = set()
    for a, b, c in pool:
        if a in used or b in used:
            continue
        selected.append((a, b, c))
        used.update((a, b))
        if len(selected) >= batch_k:
            break
    return selected


def _try_small_bpe(
    tok_plan: DataFrame, rounds: int, batch_k: int, small_input_rows: int
) -> list | None:
    """Adaptive small-corpus fast path (the CC/BFS/LPA/k-core/HITS
    doctrine): one bounded Arrow collect of the JVM-TOKENIZED corpus
    (tokenization stays on the certified ``_bpe_tokenize`` path, so
    symbol parity is by construction), then driver-local Counter-based
    BPE rounds — R distributed rounds on a bounded fixture are all
    count-shuffle/collect/checkpoint job floors (~1 s/round measured,
    q70 4.4 s → ~0.5 s). The collect is doubly bounded: row limit
    ``small_input_rows`` docs AND a 2M total-token cap (a few tens of
    MB of Python strings) — spilling either bound returns None and the
    caller runs the distributed loop; tests force it with
    ``small_input_rows=0``. Selection and fold logic are shared with
    the distributed path (``_pick_disjoint`` + the ``_py_fold``-shaped
    greedy merge), so the two paths cannot drift independently."""
    if small_input_rows <= 0:
        return None
    import collections

    from gelly_streaming_spark.plans.probe import bounded_take

    # Probe the ROW bound first with an early-bailing limit (ADVICE r16
    # medium): ``tok_plan`` is a pure projection, so limit+count PRUNES
    # the tokenize expression entirely (verified: the optimized count
    # plan is Aggregate→GlobalLimit→empty Project→scan) and a large
    # corpus rejects the fast path for the price of a truncated scan —
    # the r16 version ran the count+token-sum aggregate over the
    # UNlimited plan, which tokenized EVERY row of a huge corpus just to
    # learn it must take the distributed path (which then tokenizes
    # again): a full wasted regex-tokenize scan on the DEFAULT path at
    # scale. Only when the row count fits does the token-sum aggregate
    # run — then bounded to <= small_input_rows rows — preserving the
    # r15 driver-OOM guard (book-length docs can blow the 2M-token cap
    # at any row count) BEFORE any collect. Path-selection predicate
    # unchanged: None iff n > small_input_rows OR t > 2_000_000. Cost
    # accounting: the fast path pays one extra sub-0.15 s job (visible
    # as q70/q74 +0.1-0.3 s at sf0.1 — declared); the reject path drops
    # from a full-corpus tokenize to a tokenize-free truncated count.
    # A one-job fold (count+sum over the LIMITED plan) was considered
    # and rejected: it tokenizes up to small_input_rows+1 rows PER
    # PARTITION on the reject path, which at 10k partitions is ~10^9
    # tokenized rows — the two-job form's reject probe reads no token
    # column at all.
    if tok_plan.limit(small_input_rows + 1).count() > small_input_rows:
        return None
    probe = tok_plan.select(
        F.coalesce(F.sum(F.size("l")), F.lit(0)).alias("t")
    ).collect()[0]
    if probe["t"] > 2_000_000:
        return None
    tbl = bounded_take(tok_plan.select("l"), small_input_rows)
    if tbl.num_rows > small_input_rows:
        return None
    docs = tbl.column("l").to_pylist()
    out: list[tuple[int, int, str, int]] = []
    for r in range(1, rounds + 1):
        cnt: collections.Counter = collections.Counter()
        for d in docs:
            # C-speed bigram counting (zip beats the index loop ~5x on
            # the 270k-token sf0.1 corpus — the driver rounds' hot part)
            cnt.update(zip(d, d[1:]))
        pool = [
            (a, b, c)
            for (a, b), c in sorted(
                cnt.items(), key=lambda kv: (-kv[1], kv[0])
            )[: 4 * batch_k]
        ]
        rules = _pick_disjoint(pool, batch_k)
        if not rules:
            break
        out.extend(
            (r, j, a + " " + b, c) for j, (a, b, c) in enumerate(rules, 1)
        )
        if r < rounds:
            for a, b, _c in rules:
                ab = a + " " + b
                nd = []
                for d in docs:
                    acc: list[str] = []
                    for x in d:
                        if acc and acc[-1] == a and x == b:
                            acc[-1] = ab
                        else:
                            acc.append(x)
                    nd.append(acc)
                docs = nd
    return out


def bpe_merges(
    docs: DataFrame,
    rounds: int = 4,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    batch_k: int = 1,
    small_input_rows: int = 100_000,
) -> DataFrame:
    """BPE-style merge-rule induction over the token stream (VERDICT
    r13 item 7 — pairs the q33/q53/q59 token stack): ``rounds`` greedy
    merge rounds, each picking the globally most frequent adjacent
    symbol pair (ties: smallest ``a`` then ``b``) and merging it
    non-overlapping left-to-right in every document. Symbols start as
    whitespace tokens; a learned merge is the space-joined pair, so
    later rounds can merge merged symbols (true BPE recursion).
    Returns ``(round, rank, sym, cnt)`` — one row per learned rule with
    its selection-time count and selection order within the round.
    Stops early if no pair remains.

    ``batch_k`` (VERDICT r14 item 3 — BPE at production merge counts):
    with ``batch_k > 1`` each round selects up to ``batch_k`` mutually
    SYMBOL-DISJOINT rules from the round's top-``4*batch_k`` candidate
    pool (greedy in (cnt DESC, a, b) order — ``_pick_disjoint``) and
    applies them all in ONE composed map pass, so R corpus passes learn
    up to ``R*batch_k`` rules instead of R. Symbol disjointness keeps
    every selected count exact (proof sketch in ``_pick_disjoint``);
    what batching approximates is only the rule SEQUENCE — a round
    cannot see pairs involving its own freshly merged symbols, which
    single-rule BPE would consider one rule later. The bounded pool is
    part of the certified contract (the oracle replays the identical
    pool cut). Measured at sf0.1 (local[32], steady): 8 rules via
    batch_k=4 × 2 rounds vs 8 single-rule rounds — see BASELINE.md q74
    row for the pinned seconds/rule gain.

    All-integer + string semantics — no float margins; round N's count
    certifies round N-1's merge application transitively (a single
    mis-merged document shifts the global pair counts).

    100 TB shape: per round, ONE (a, b)-keyed partial-agg count shuffle
    over row-locally formed pairs (the q59 arrays_zip kernel — no HOF
    re-inlining, no positional self-join), a bounded ≤4*batch_k-row
    driver take for the winner pool (the loop-observation doctrine),
    and one shuffle-free map pass applying the round's merges as
    composed array folds; the symbol table checkpoints per round so
    plan depth stays O(1). The no-checkpoint alternative (nested
    aggregate lambdas) was measured and REJECTED: round N's count
    re-executes every prior merge fold from the scan, 29 s vs 4.4 s
    steady for 4 rounds at sf0.1 — a 6.6x cliff that worsens
    combinatorially with rounds. Corpora fitting ``small_input_rows``
    docs AND a 2M-token cap run driver-locally instead
    (``_try_small_bpe`` — bounded-collect doctrine; R bounded rounds
    are otherwise all job floors); the distributed loop below is the
    scale path, forced in tests with ``small_input_rows=0``."""
    if rounds < 1:
        raise ValueError(f"bpe_merges: rounds must be >= 1, got {rounds}")
    if batch_k < 1:
        raise ValueError(f"bpe_merges: batch_k must be >= 1, got {batch_k}")
    from gelly_streaming_spark.plans.memory import free_checkpoint

    spark = docs.sparkSession
    tok_plan = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        _bpe_tokenize(F.col(text_col)).alias("l"),
    )
    small = _try_small_bpe(tok_plan, rounds, batch_k, small_input_rows)
    if small is not None:
        return spark.createDataFrame(
            small, "round int, rank int, sym string, cnt long"
        )
    cur = tok_plan.localCheckpoint()
    prev_ckpt = cur
    out: list[tuple[int, int, str, int]] = []
    try:
        for r in range(1, rounds + 1):
            pool = [
                (row["a"], row["b"], int(row["c"]))
                for row in (
                    cur.where(F.size("l") >= 2)
                    .select(
                        F.explode(
                            F.arrays_zip(
                                F.slice("l", 1, F.size("l") - 1),
                                F.slice("l", 2, F.size("l") - 1),
                            )
                        ).alias("bg")
                    )
                    .select(
                        F.col("bg")["0"].alias("a"), F.col("bg")["1"].alias("b")
                    )
                    .groupBy("a", "b")
                    .agg(F.count(F.lit(1)).alias("c"))
                    .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
                    .limit(4 * batch_k)
                    .collect()
                )
            ]
            rules = _pick_disjoint(pool, batch_k)
            if not rules:
                break  # no adjacent pair left anywhere
            out.extend(
                (r, j, a + " " + b, c) for j, (a, b, c) in enumerate(rules, 1)
            )
            if r < rounds:
                merged = F.col("l")
                for a, b, _c in rules:
                    merged = _merge_adjacent(merged, a, b)
                nxt = cur.select("doc_id", merged.alias("l")).localCheckpoint()
                free_checkpoint(prev_ckpt)
                prev_ckpt = nxt
                cur = nxt
    finally:
        free_checkpoint(prev_ckpt)
    return spark.createDataFrame(
        out, "round int, rank int, sym string, cnt long"
    )


def bpe_encode(
    docs: DataFrame,
    merges: list,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    with_raw_count: bool = False,
) -> DataFrame:
    """Apply-side BPE tokenization (VERDICT r14 item 4): encode the
    corpus with an already-learned merge table — the operation a
    pretraining pipeline runs far more often than training. ``merges``
    is the ORDERED rule table (``["a b", ...]`` or ``[("a", "b"), ...]``
    — the ``sym`` column ``bpe_merges`` returns; the string form is
    unambiguous only for space-free symbols, so rules whose LEFT symbol
    is itself a merged symbol must be passed as tuples); each rule
    applies as the greedy left-to-right non-overlapping merge fold, in
    table order, so later rules see earlier rules' merged symbols
    (standard BPE apply semantics). Returns ``(doc_id, toks)`` with the
    encoded symbol array.

    100 TB shape: ZERO shuffles — the encode is ONE narrow
    ``mapInPandas`` pass over the document scan, with the rule table a
    broadcast-size plan constant, certified against the DuckDB
    list_reduce oracle (q75). Each row applies the whole table in
    Python via a PAIR-INDEXED heap walk (r16): the rule table is
    indexed by pair once per task and each doc visits only rules whose
    pair is actually adjacent, in table order — equivalent to the
    sequential per-rule fold by construction (randomized-equivalence
    pinned), but the cost is O(tokens + applicable rules x tokens)
    instead of O(table size x tokens). Measured on the sf0.1 corpus:
    the per-rule kernel ran 15k tok/s at a 1k-rule table; the indexed
    kernel runs 3.7M/1.3M/770k tok/s at 1k/8k/32k rules (single-thread
    — the Arrow pass parallelizes it per task), so production
    30k-100k-rule tables are practical. Spark's higher-order functions
    are interpreted (never codegen'd): composed ``_merge_adjacent``
    folds paid ~0.6 s/rule at the 6-rule bench shape.

    ``with_raw_count`` adds an ``n_raw`` column (the PRE-merge token
    count) at zero extra passes — the tokenizer-evaluation stat every
    vocabulary run needs (tokens-per-doc before/after, q76)."""
    rules: list[tuple[str, str]] = []
    for m in merges:
        if isinstance(m, str):
            a, sep, b = m.partition(" ")
            if not sep or not a or not b:
                raise ValueError(
                    f"bpe_encode: malformed merge rule {m!r} (need 'a b')"
                )
            if " " in b:
                # ADVICE r15: 'x y z' is inherently ambiguous in string
                # form (('x','y z') vs ('x y','z') encode differently);
                # silently picking the left split produced silently
                # wrong encodings — require the tuple form instead
                raise ValueError(
                    f"bpe_encode: ambiguous string rule {m!r} (more than "
                    "one space) — pass merged-symbol rules as (a, b) tuples"
                )
            rules.append((a, b))
        else:
            rules.append((m[0], m[1]))

    import re as _re

    import pandas as _pd

    src = docs.select(
        F.col(doc_id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    id_type = src.schema["doc_id"].dataType.simpleString()
    frozen = list(rules)
    raw = with_raw_count

    def _encode_batches(batches):
        # re.ASCII pins \s to the same ASCII class Java regex and
        # RE2 use — str.split() would split Unicode whitespace the
        # JVM/DuckDB tokenizers keep inside tokens
        import collections as _collections
        import heapq as _heapq

        ws = _re.compile(r"\s+", _re.ASCII)
        # Pair-indexed apply (r16, VERDICT r15 item 4): the naive
        # kernel scanned every doc once PER RULE (rules x tokens —
        # 15k tok/s at a 1k-rule table, extrapolating to ~10 min/task
        # at a production 32k-rule table). Instead, index the rule
        # table by pair once per task and, per doc, visit only the
        # rules whose pair is actually adjacent, in ascending table
        # order via a heap; applying rule i can only newly enable
        # rules AFTER it (a rule before i already had its pass —
        # exactly the sequential fold-per-rule semantics), so new
        # adjacencies push only indices > i. Each visited rule runs
        # the identical greedy left-to-right fold, so the output is
        # equivalent BY CONSTRUCTION to the per-rule loop (pinned by
        # a 4000-trial randomized equivalence test incl. recursive
        # and duplicate rules); measured 768k-3.7M tok/s at 32k-1k
        # rules, rule-count cost now O(applicable), not O(table).
        rank: dict = _collections.defaultdict(list)
        for _idx, _p in enumerate(frozen):
            rank[_p].append(_idx)
        rank = dict(rank)

        def _enc(d):
            if len(d) < 2:
                return d
            heap: list[int] = []
            pushed = set()
            for p in set(zip(d, d[1:])):
                for idx in rank.get(p, ()):
                    pushed.add(idx)
                    heap.append(idx)
            _heapq.heapify(heap)
            while heap:
                i = _heapq.heappop(heap)
                a, b = frozen[i]
                ab = a + " " + b
                acc: list[str] = []
                changed = False
                for x in d:
                    if acc and acc[-1] == a and x == b:
                        acc[-1] = ab
                        changed = True
                    else:
                        acc.append(x)
                if not changed:
                    continue
                d = acc
                last = len(d) - 1
                for p_i, x in enumerate(d):
                    if x != ab:
                        continue
                    if p_i:
                        for idx in rank.get((d[p_i - 1], ab), ()):
                            if idx > i and idx not in pushed:
                                pushed.add(idx)
                                _heapq.heappush(heap, idx)
                    if p_i < last:
                        for idx in rank.get((ab, d[p_i + 1]), ()):
                            if idx > i and idx not in pushed:
                                pushed.add(idx)
                                _heapq.heappush(heap, idx)
            return d

        for pdf in batches:
            out = []
            nraw = []
            for s in pdf["text"]:
                d = [
                    t
                    for t in ws.split(s if s is not None else "")
                    if t and "\x1f" not in t
                ]
                nraw.append(len(d))
                out.append(_enc(d))
            cols = {"doc_id": pdf["doc_id"], "toks": out}
            if raw:
                cols["n_raw"] = nraw
            yield _pd.DataFrame(cols)

    schema = f"doc_id {id_type}, toks array<string>"
    if raw:
        schema += ", n_raw long"
    return src.mapInPandas(_encode_batches, schema)
