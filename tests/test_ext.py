"""Extension operator tests: MinHash-LSH recall vs exact, SimHash
determinism/blocking, embedding LSH precision, text profiling, and the
multimodal column plumbing with caller-injected codec doubles (the
engine ships no codec)."""

import pyspark.sql.functions as F
import pytest

from gelly_streaming_spark.ext.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    simhash,
    simhash_near_pairs,
)
from gelly_streaming_spark.ext.embeddings import knn_bruteforce, knn_lsh
from gelly_streaming_spark.ext.multimodal import (
    MEDIA_SCHEMA,
    extract_features,
    frame_sample,
    resize_media,
)
from gelly_streaming_spark.ext.similarity import jaccard_pairs
from gelly_streaming_spark.ext.text import text_profile
from gelly_streaming_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_minhash_lsh_recall_and_precision(docs):
    toks = F.split(F.col("text"), " ")
    exact = {(r.a, r.b) for r in jaccard_pairs(docs, "doc_id", toks, 0.95).collect()}
    lsh = {(r.a, r.b): r.jaccard for r in minhash_dedup_pairs(docs, threshold=0.95).collect()}
    assert set(lsh) <= exact  # precision 1.0: candidates are exact-verified
    recall = len(lsh) / max(len(exact), 1)
    assert recall >= 0.9, f"recall {recall:.2f} ({len(lsh)}/{len(exact)})"


def test_md5_hash64_portable(spark):
    """The portable MinHash family is bit-identical across Python
    hashlib, DuckDB, and Spark — the contract the q43 oracle rests on."""
    import hashlib

    import duckdb

    from gelly_streaming_spark.ext.similarity import md5_hash64

    words = ["hello", "Zebra", "a", "ümlaut", "x y"]
    seeds = [0, 3, 15]
    expect = {
        (w, s): int(hashlib.md5(f"{s}:{w}".encode()).hexdigest()[:15], 16)
        for w in words
        for s in seeds
    }
    df = spark.createDataFrame([(w,) for w in words], ["token"])
    got = df.select(
        "token", *[md5_hash64(F.col("token"), s).alias(f"h{s}") for s in seeds]
    ).collect()
    for r in got:
        for s in seeds:
            assert r[f"h{s}"] == expect[(r.token, s)]
    duck = duckdb.connect()
    for w in words:
        for s in seeds:
            (v,) = duck.sql(
                "SELECT CAST(('0x' || substr(md5(?), 1, 15)) AS BIGINT)",
                params=[f"{s}:{w}"],
            ).fetchone()
            assert v == expect[(w, s)]


def test_bucket_udf_matches_lsh_signature(spark, emb):
    """The Arrow/BLAS multi-table bucket kernel is bit-identical to the
    per-table lsh_signature expression form (same >= 0 sign rule, same
    packing), for Gaussian and Rademacher tables alike."""
    import numpy as np

    from gelly_streaming_spark.ext.embeddings import (
        _bucket_array_udf,
        lsh_signature,
        rademacher_planes,
    )

    rng = np.random.default_rng(7)
    for tables in (
        [rng.standard_normal((8, 64)) for _ in range(3)],
        [rademacher_planes(8, 64, salt=f"t{t}") for t in range(3)],
    ):
        base = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        a = base.select(
            "vec_id",
            F.posexplode(_bucket_array_udf(tables)(F.col("v"))).alias("t", "b"),
        )
        b = base.select(
            "vec_id",
            F.posexplode(
                F.array(*[lsh_signature(F.col("v"), p) for p in tables])
            ).alias("t", "b"),
        )
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_bucket_array_udf_null_element_matches_expression_form(spark):
    """A vector containing a null ELEMENT must produce a null signature
    (lsh_signature's aggregate() null-propagates), not fail the stage
    with an object-array matmul (ADVICE r8) — and rows around it keep
    their signatures (the fast bulk-conversion path only yields to the
    per-row scan when a null element actually exists)."""
    from gelly_streaming_spark.ext.embeddings import (
        _bucket_array_udf,
        lsh_signature,
        rademacher_planes,
    )

    tables = [rademacher_planes(4, 3, salt=f"t{t}") for t in range(2)]
    df = spark.createDataFrame(
        [
            (1, [0.5, -0.25, 1.0]),
            (2, None),
            (3, [0.5, None, 1.0]),
            (4, [-1.0, 2.0, -3.0]),
        ],
        "vec_id long, v array<double>",
    )
    got = {
        r.vec_id: r.b
        for r in df.select(
            "vec_id", _bucket_array_udf(tables)(F.col("v")).alias("b")
        ).collect()
    }
    assert got[2] is None  # null row
    assert got[3] is None  # null ELEMENT -> null signature
    expr = {
        r.vec_id: r.b
        for r in df.select(
            "vec_id",
            F.array(*[lsh_signature(F.col("v"), p) for p in tables]).alias("b"),
        ).collect()
    }
    assert got[1] == expr[1] and got[4] == expr[4]
    # documented divergence (ADVICE r8 recommendation): the expression
    # form funnels null-element vectors into shared bucket 0 (null dot
    # -> when() otherwise -> all bits 0) — a false near-dup clique; the
    # batch kernel gives them a null signature (no bucket) instead.
    assert expr[3] == [0, 0]


def test_minhash_portable_path_exact_subset(docs):
    """hash_fn=md5_hash64 + portable_buckets: still precision-1 (exact
    verified) with the same recall contract as the default family."""
    from gelly_streaming_spark.ext.similarity import md5_hash64, minhash_lsh_pairs

    toks = F.split(F.col("text"), " ")
    exact = {(r.a, r.b): r.jaccard for r in jaccard_pairs(docs, "doc_id", toks, 0.8).collect()}
    lsh = {
        (r.a, r.b): r.jaccard
        for r in minhash_lsh_pairs(
            docs, "doc_id", toks, 0.8, num_hashes=16, bands=4,
            hash_fn=md5_hash64, portable_buckets=True,
        ).collect()
    }
    assert set(lsh) <= set(exact)
    for pair, j in lsh.items():
        assert j == exact[pair]  # identical rounded Jaccard on shared pairs


def test_url_canonicalize_and_domain(spark):
    """Hand-computed canonicalization cases — one per documented rule —
    plus registered-domain extraction over multi-part suffixes."""
    from gelly_streaming_spark.ext.web import (
        canonicalize_url,
        registered_domain,
        url_host,
    )

    cases = [
        ("HTTP://WWW.Ex.COM/Path?id=1", "http://www.ex.com/Path?id=1"),
        ("https://a.ex.com/x#frag", "https://a.ex.com/x"),
        ("https://ex.com/x?utm_source=f&id=2", "https://ex.com/x?id=2"),
        ("https://ex.com/x?id=2&utm_a=1&fbclid=z", "https://ex.com/x?id=2"),
        ("https://ex.com/x?utm_a=1", "https://ex.com/x"),
        ("http://ex.com:80/x", "http://ex.com/x"),
        ("https://ex.com:443/x", "https://ex.com/x"),
        ("http://ex.com:8080/x", "http://ex.com:8080/x"),  # non-default kept
        ("https://ex.com:80/x", "https://ex.com:80/x"),    # mismatched kept
        ("https://ex.com/", "https://ex.com"),
        ("no-scheme-here", "no-scheme-here"),
    ]
    df = spark.createDataFrame(cases, ["url", "want"])
    got = df.select("url", "want", canonicalize_url(F.col("url")).alias("got")).collect()
    for r in got:
        assert r.got == r.want, (r.url, r.got, r.want)

    doms = [
        ("https://www.news.co.uk/x", "news.co.uk"),
        ("https://a.b.site.com/x", "site.com"),
        ("http://single", ""),  # no dot: no registered domain
        # vendored PSL breadth (none of these were in the pre-r9 16-entry
        # excerpt — registered_domain() was WRONG for all of them)
        ("https://www.haber.com.tr/x", "haber.com.tr"),
        ("https://shop.example.co.nz/x", "example.co.nz"),
        ("http://diario.clarin.com.ar/n", "clarin.com.ar"),
        ("https://portal.algo.gob.mx/x", "algo.gob.mx"),
        ("https://www.iit.ac.in/x", "iit.ac.in"),
        ("http://www.meti.go.jp/x", "meti.go.jp"),
        ("https://news.straits.com.sg/x", "straits.com.sg"),
        ("https://toko.media.co.id/x", "media.co.id"),
        ("http://www.camara.gov.br/x", "camara.gov.br"),
        ("https://shop.foo.co.il/x", "foo.co.il"),
        ("https://m.site.com.hk/x", "site.com.hk"),
        ("https://uni.example.edu.au/x", "example.edu.au"),
        ("https://www.anadolu.k12.tr/x", "anadolu.k12.tr"),
        ("http://www.mycity.gov.ua/x", "mycity.gov.ua"),
        # 3-label PSL entry must beat its 2-label parent (deepest-first
        # alternation): school.nsw.edu.au, not nsw.edu.au
        ("https://www.school.nsw.edu.au/x", "school.nsw.edu.au"),
    ]
    df2 = spark.createDataFrame(doms, ["url", "want"])
    got2 = df2.select(
        "want", registered_domain(url_host(F.col("url"))).alias("got")
    ).collect()
    for r in got2:
        assert r.got == r.want, (r.want, r.got)


def test_domain_filter_dedups_blocklist(spark, docs):
    """A blocklist with duplicate domain rows must not multiply matching
    corpus rows through the left join (ADVICE r8)."""
    from gelly_streaming_spark.ext.web import domain_filter

    d = docs.withColumn(
        "url", F.concat(F.lit("https://www."), F.col("source"), F.lit(".com/x"))
    )
    srcs = [r.source for r in d.select("source").distinct().limit(1).collect()]
    dom = f"{srcs[0]}.com"
    bl = spark.createDataFrame([(dom,), (dom,), (dom,)], ["domain"])
    out = domain_filter(d, bl)
    assert out.count() == d.count()  # no row multiplication
    assert out.where(F.col("domain") == dom).count() == out.where(
        (F.col("domain") == dom) & F.col("blocked")
    ).count()


def test_exact_dedup_keeps_distinct(docs):
    assert exact_dedup(docs, "doc_id", "text").count() == docs.select("text").distinct().count()


def test_simhash_deterministic_and_blocking(docs):
    s1 = {r.id: r.simhash for r in simhash(docs).collect()}
    s2 = {r.id: r.simhash for r in simhash(docs).collect()}
    assert s1 == s2
    near = simhash_near_pairs(simhash(docs), max_hamming=6).collect()
    for r in near:
        assert r.a < r.b and r.hamming <= 6


def test_knn_bruteforce_shape(emb):
    out = knn_bruteforce(emb, emb.where(F.col("vec_id").between(1, 3)), k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.qid, []).append(r)
    assert set(by_q) == {1, 2, 3}
    for rows in by_q.values():
        assert len(rows) == 5
        sims = [r.sim for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(-1.000001 <= s <= 1.000001 for s in sims)


def test_knn_lsh_precision_and_determinism(emb):
    q = emb.where(F.col("vec_id").between(1, 10))
    exact = {(r.qid, r.vec_id): r.sim for r in knn_bruteforce(emb, q, k=50).collect()}
    a = {(r.qid, r.vec_id): r.sim for r in knn_lsh(emb, q, k=5, num_planes=4).collect()}
    b = {(r.qid, r.vec_id): r.sim for r in knn_lsh(emb, q, k=5, num_planes=4).collect()}
    assert a == b  # deterministic (seeded planes)
    # rerank is exact: any returned sim must equal the brute-force cosine
    for key, sim in a.items():
        if key in exact:
            assert abs(exact[key] - sim) < 1e-9


def test_knn_ivf_recall_and_determinism(emb):
    """IVF scale path: deterministic (seeded quantizer + hash-ordered
    training sample), exactly-reranked sims, and recall@5 vs brute force
    high enough that the probed lists clearly beat a random
    nprobe/n_clusters slice of the corpus."""
    from gelly_streaming_spark.ext.embeddings import knn_ivf

    q = emb.where(F.col("vec_id").between(1, 10))
    exact = {(r.qid, r.vec_id): r.sim for r in knn_bruteforce(emb, q, k=50).collect()}
    truth5 = {}
    for (qid, vid), _ in sorted(exact.items(), key=lambda kv: -kv[1]):
        truth5.setdefault(qid, [])
        if len(truth5[qid]) < 5:
            truth5[qid].append(vid)
    a = {(r.qid, r.vec_id): r.sim for r in knn_ivf(emb, q, k=5, n_clusters=8, nprobe=4).collect()}
    b = {(r.qid, r.vec_id): r.sim for r in knn_ivf(emb, q, k=5, n_clusters=8, nprobe=4).collect()}
    assert a == b  # deterministic end-to-end
    for key, sim in a.items():  # rerank is exact
        if key in exact:
            assert abs(exact[key] - sim) < 1e-9
    hits = sum(1 for (qid, vid) in a if vid in truth5.get(qid, []))
    recall = hits / sum(len(v) for v in truth5.values())
    assert recall >= 0.5, f"IVF recall@5 too low: {recall:.2f}"


def test_chunk_documents_windows_and_edges(spark):
    """Chunking hand fixture: 9 tokens at window 5 / stride 3 gives
    chunks at offsets 0/3/6 with the short tail; docs at or under the
    window give ONE chunk; token-free docs are absent; every token is
    covered by at least one chunk."""
    import pytest as _pytest

    from gelly_streaming_spark.ext.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i"),
            (2, "x y"),
            (3, "   "),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_id, r.chunk_id): (r.chunk, r.n_tokens)
        for r in chunk_documents(docs, window=5, stride=3).collect()
    }
    assert rows == {
        (1, 0): ("a b c d e", 5),
        (1, 1): ("d e f g h", 5),
        (1, 2): ("g h i", 3),
        (2, 0): ("x y", 2),
    }, rows
    with _pytest.raises(ValueError, match="window/stride"):
        chunk_documents(docs, window=0, stride=3)
    with _pytest.raises(ValueError, match="stride .* must be <= window"):
        chunk_documents(docs, window=2, stride=3)


def test_bpe_merges_greedy_and_recursive(spark):
    """BPE induction hand fixture: greedy non-overlapping application
    ('a a a a' merges to two 'a a' symbols, never chains through a
    consumed symbol) and true recursion (round 2 can merge a round-1
    merged symbol with its neighbor). Winner ties break to the
    smallest (a, b)."""
    from gelly_streaming_spark.ext.text import bpe_merges

    docs = spark.createDataFrame(
        [
            (1, "a a a a b"),
            (2, "a a b c"),
            (3, "a a b c"),
        ],
        "doc_id long, text string",
    )
    for sir in (100_000, 0):  # driver fast path AND distributed loop
        out = {
            r.round: (r.sym, r.cnt)
            for r in bpe_merges(docs, rounds=3, small_input_rows=sir).collect()
        }
        # round 1: (a,a) count 5 (3 in doc1 overlapping, 1 each in 2/3)
        assert out[1] == ("a a", 5), (sir, out)
        # after greedy merge: doc1 = [aa, aa, b], doc2/3 = [aa, b, c]
        # round 2 pairs: (aa,aa):1, (aa,b):3, (b,c):2 -> winner ('a a', b)
        assert out[2] == ("a a b", 3), (sir, out)
        # doc1 = [aa, 'aa b'], doc2/3 = ['aa b', c]
        # round 3: ('aa','aa b'):1, ('aa b',c):2 -> winner ('a a b', 'c')
        assert out[3] == ("a a b c", 2), (sir, out)
        # early stop: a corpus with no adjacent pairs emits no rows
        single = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
        assert bpe_merges(single, rounds=2, small_input_rows=sir).count() == 0


def test_bpe_batched_disjoint_selection(spark):
    """Batched BPE (VERDICT r14 item 3): a round selects up to batch_k
    mutually symbol-disjoint rules from the top-4k pool in (cnt DESC,
    a, b) order — a candidate sharing a symbol with an earlier pick is
    skipped, not merged twice; counts stay the selection-time exact
    counts; the next round sees all of the round's merges applied."""
    from gelly_streaming_spark.ext.text import bpe_merges

    docs = spark.createDataFrame(
        [
            # (a,b) x3, (b,c) x2 share b -> (b,c) skipped; (c,d) x2 and
            # (e,f) x1 are disjoint -> selected at ranks 2,3
            (1, "a b a b a b"),
            (2, "b c b c"),
            (3, "c d c d"),
            (4, "e f"),
        ],
        "doc_id long, text string",
    )
    for sir in (100_000, 0):  # driver fast path AND distributed loop
        rows = bpe_merges(docs, rounds=2, batch_k=3, small_input_rows=sir).collect()
        got = {(r.round, r.rank): (r.sym, r.cnt) for r in rows}
        assert got[(1, 1)] == ("a b", 3), (sir, got)
        assert got[(1, 2)] == ("c d", 2), (sir, got)  # (b,c) skipped: shares b
        assert got[(1, 3)] == ("e f", 1), (sir, got)
        # round 2 on the merged corpus: doc1 = 3x'a b' -> ('a b','a b') x2;
        # doc2 untouched pairs (b,c)x2 + (c,b)x1 -> ('a b','a b') and (b,c)
        # tie at 2, 'a b' < 'b' lexicographically -> rank 1
        assert got[(2, 1)] == ("a b a b", 2), (sir, got)
        # batch_k=1 degrades to the single-rule q70 path with rank 1
        one = bpe_merges(docs, rounds=1, batch_k=1, small_input_rows=sir).collect()
        assert [(r.round, r.rank, r.sym, r.cnt) for r in one] == [
            (1, 1, "a b", 3)
        ], sir


def test_bpe_encode_apply_semantics(spark):
    """Apply-side BPE: ordered rule table, later rules see earlier
    merges (recursion), greedy non-overlapping self-pairs, tuple rules
    for symbols containing spaces, malformed string rules rejected."""
    import pytest as _pytest

    from gelly_streaming_spark.ext.text import bpe_encode

    docs = spark.createDataFrame(
        [(1, "t h e t h e"), (2, "a a a"), (3, "x")],
        "doc_id long, text string",
    )
    rules = [("t", "h"), ("t h", "e"), ("a", "a")]
    out = {r.doc_id: r.toks for r in bpe_encode(docs, rules).collect()}
    assert out[1] == ["t h e", "t h e"]  # recursion through rule 2
    assert out[2] == ["a a", "a"]  # greedy non-overlapping
    assert out[3] == ["x"]
    # string rules parse 'a b' (space-free symbols only)
    s_out = {
        r.doc_id: r.toks
        for r in bpe_encode(docs, ["t h", "a a"]).collect()
    }
    assert s_out[1] == ["t h", "e", "t h", "e"]
    assert s_out[2] == ["a a", "a"]
    with _pytest.raises(ValueError, match="malformed merge rule"):
        bpe_encode(docs, ["nospace"])
    # ADVICE r15: multi-space string rules are ambiguous — hard error,
    # never a silent left-split parse
    with _pytest.raises(ValueError, match="ambiguous string rule"):
        bpe_encode(docs, ["t h e"])


def test_bpe_encode_indexed_kernel_large_table(spark):
    """r16 pair-indexed apply: a 300-rule table (with recursive rules
    and a duplicate) over pseudo-random docs must equal the sequential
    per-rule Python fold — the rule-count-independent kernel cannot
    skip, reorder, or double-apply a rule."""
    import random

    from gelly_streaming_spark.ext.text import bpe_encode

    rng = random.Random(42)
    alpha = [f"t{i}" for i in range(12)]
    texts = [
        " ".join(rng.choice(alpha) for _ in range(rng.randint(0, 60)))
        for _ in range(40)
    ]
    rules: list[tuple[str, str]] = []
    for _ in range(299):
        if rules and rng.random() < 0.3:
            prev = rng.choice(rules)
            a = prev[0] + " " + prev[1]
        else:
            a = rng.choice(alpha)
        b = rng.choice(alpha)
        rules.append((a, b))
    rules.append(rules[17])  # duplicate rule: applies again at its index
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r.doc_id: r.toks for r in bpe_encode(df, rules).collect()}
    for i, s in enumerate(texts):
        d = [t for t in s.split() if t]
        for a, b in rules:
            ab = a + " " + b
            acc: list = []
            for x in d:
                if acc and acc[-1] == a and x == b:
                    acc[-1] = ab
                else:
                    acc.append(x)
            d = acc
        assert got[i] == d, (i, got[i][:6], d[:6])


def test_bpe_encode_with_raw_count(spark):
    """with_raw_count rides the encode pass: n_raw = pre-merge token
    count, zero extra passes."""
    from gelly_streaming_spark.ext.text import bpe_encode

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, ""), (3, "x")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: (r.n_raw, len(r.toks))
        for r in bpe_encode(docs, [("a", "b")], with_raw_count=True).collect()
    }
    assert rows == {1: (5, 3), 2: (0, 0), 3: (1, 1)}, rows


def test_quality_fraction_filter(spark):
    """Budgeted quality filter: keeps ceil(frac*n) docs by quality with
    ties AT the cutoff all kept (order-statistic semantics), cutoff an
    actual data value; frac=1 keeps everything; bad frac raises; empty
    corpus returns empty."""
    import pytest as _pytest

    from gelly_streaming_spark.ext.text import (
        quality_fraction_filter,
        quality_score,
    )

    # 10 docs with distinct quality (varying repetition/length); verify
    # against the independently computed quality ordering
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(2, 2 + 4 * i)) + " zz" * i)
         for i in range(1, 11)],
        "doc_id long, text string",
    )
    q = {
        r.doc_id: r.q
        for r in docs.select(
            "doc_id", quality_score(F.col("text")).alias("q")
        ).collect()
    }
    got = {
        r.doc_id: r.quality
        for r in quality_fraction_filter(docs, keep_frac=0.5).collect()
    }
    want_ids = sorted(q, key=lambda d: (-q[d], d))[:5]
    # no ties in this fixture -> exactly ceil(0.5*10) survive, the top 5
    assert sorted(got) == sorted(want_ids), (got, q)
    assert all(abs(got[d] - q[d]) < 1e-12 for d in got)
    # ties at the cutoff are ALL kept: 4 identical docs, frac .5 -> 4 rows
    tied = spark.createDataFrame(
        [(i, "same text for every doc here ok") for i in range(4)],
        "doc_id long, text string",
    )
    assert quality_fraction_filter(tied, keep_frac=0.5).count() == 4
    # frac=1 keeps all; empty input returns empty; bad frac raises
    assert quality_fraction_filter(docs, keep_frac=1.0).count() == 10
    empty = docs.where(F.lit(False))
    assert quality_fraction_filter(empty, keep_frac=0.5).count() == 0
    with _pytest.raises(ValueError, match="keep_frac"):
        quality_fraction_filter(docs, keep_frac=0.0)


def test_kmeans_refine_distributed_converges_and_handles_empty(spark):
    """Distributed Lloyd's refinement (VERDICT r13 item 3): on a fixture
    with two tight, well-separated direction clusters, one iteration
    from a deliberately-bad init moves each centroid to the exact mean
    of its (cosine-)assigned members; a cluster that captures no members
    keeps its previous centroid verbatim (deterministic, no RNG)."""
    import numpy as np

    from gelly_streaming_spark.ext.embeddings import kmeans_refine_distributed

    # cluster A hugs +x, cluster B hugs +y
    vecs = [
        (0, [10.0, 1.0]), (1, [12.0, 0.5]), (2, [9.0, -0.5]),
        (3, [1.0, 10.0]), (4, [0.5, 12.0]), (5, [-0.5, 9.0]),
    ]
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs], "vec_id long, embedding array<double>"
    )
    # bad-but-separating init: one centroid toward +x, one toward +y,
    # and a third pointing at -x that captures nothing
    init = np.array([[1.0, 0.0], [0.0, 1.0], [-1.0, -1.0]])
    out = kmeans_refine_distributed(emb, init, iters=1)
    a = np.mean([v for _, v in vecs[:3]], axis=0)
    b = np.mean([v for _, v in vecs[3:]], axis=0)
    assert np.allclose(out[0], a), out[0]
    assert np.allclose(out[1], b), out[1]
    assert np.allclose(out[2], init[2]), "empty cluster must keep its centroid"
    # idempotence at the fixpoint: assignments cannot change, so a
    # second iteration reproduces the same centroids exactly
    again = kmeans_refine_distributed(emb, out, iters=1)
    assert np.allclose(again, out)


def test_residue_centroids_means_and_empty_class_guard(spark):
    import numpy as np
    import pytest as _pytest

    from gelly_streaming_spark.ext.embeddings import residue_centroids

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    c = residue_centroids(emb, n_clusters=2)
    assert np.allclose(c[0], [3.0, 1.0])  # mean of ids 0,2,4,6
    assert np.allclose(c[1], [4.0, 1.0])  # mean of ids 1,3,5,7
    only_even = emb.where(F.col("vec_id") % 2 == 0)
    with _pytest.raises(ValueError, match="empty residue"):
        residue_centroids(only_even, n_clusters=2)


def _synthetic_media(docs):
    """A deterministic mixed media table over the documents table: kind
    cycles image/audio/video by doc_id, payload = utf-8 text bytes (the
    plumbing never looks inside a payload)."""
    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(kinds, (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.col("source").alias("source"),
            F.lit("application/x-fake").alias("mime"),
            F.length(F.col("text").cast("binary")).cast("long").alias("bytes"),
        ).alias("meta"),
    )


def _mixed_media(spark):
    """One image, one audio and one video row (legal per MEDIA_SCHEMA)."""
    rows = [
        (1, "image", b"IMG-payload"),
        (2, "audio", b"RIFFxxxxWAVEfake-payload"),
        (3, "video", b"\x00\x00\x00 ftypisom-fake-mp4"),
    ]
    return spark.createDataFrame(
        [(mid, kind, bytearray(p), ("t", kind, len(p))) for mid, kind, p in rows],
        MEDIA_SCHEMA,
    )


def test_multimodal_plumbing(docs):
    """extract_features over the whole mixed media table: one feature row
    per media row, identical across runs for a deterministic decoder."""
    media = _synthetic_media(docs)

    def fake_decoder(payload, kind):
        # deterministic stand-in: (width, height, n_frames) and an 8-dim
        # feature from payload byte statistics (nested so the workers
        # receive it by value, not as an import of this test module)
        n = len(payload)
        w = 16 + (sum(payload[:16]) % 1024) if n else 0
        h = 16 + (sum(payload[16:32]) % 1024) if n > 16 else 0
        body = payload[:256]
        return w, h, 1 + n % 64, [float(sum(body[i::8]) % 997) for i in range(8)]

    def run():
        return {
            r.media_id: (r.kind, r.width, r.height, r.n_frames, tuple(r.feature))
            for r in extract_features(media, decoder=fake_decoder).collect()
        }

    r0 = run()
    assert len(r0) == docs.count()
    assert r0 == run()
    assert all(len(v[4]) == 8 for v in r0.values())


def test_codec_injection_through_extract_features(docs):
    """A caller's decoder injected through ``decoder=`` receives exactly
    (payload, kind), and its return value re-enters the feature schema
    verbatim, one output row per input row. The double encodes its
    received arguments into its outputs, so the assertion needs no
    worker->driver side channel."""
    media = _synthetic_media(docs).limit(20)
    raw = {r.media_id: (bytes(r.payload), r.kind) for r in media.collect()}
    assert {k for _, k in raw.values()} == {"image", "audio", "video"}

    def probe_decoder(payload, kind):
        # width <- payload length, height <- kind length, feature carries
        # the first payload byte: output columns prove the exact inputs
        return (
            len(payload),
            len(kind),
            3,
            [float(payload[0]), float(len(payload))],
        )

    rows = extract_features(media, decoder=probe_decoder).collect()
    assert len(rows) == len(raw), "one feature row per media row"
    feats = {r.media_id: r for r in rows}
    assert set(feats) == set(raw)
    for mid, (payload, kind) in raw.items():
        r = feats[mid]
        assert r.kind == kind
        assert r.width == len(payload), "decoder did not receive the payload"
        assert r.height == len(kind), "decoder did not receive the kind"
        assert r.n_frames == 3
        assert r.feature == [float(payload[0]), float(len(payload))]


def test_codec_injection_contract(docs):
    """A caller's resizer injected through ``resizer=`` receives exactly
    (payload, width, height) for image rows, and its return value
    re-enters the media table verbatim with ``meta.bytes`` rewritten;
    other kinds pass through. The decoder half of the contract is
    test_codec_injection_through_extract_features."""
    media = _synthetic_media(docs).limit(20)
    raw = {r.media_id: (bytes(r.payload), r.kind) for r in media.collect()}
    assert {k for _, k in raw.values()} == {"image", "audio", "video"}

    def probe_resizer(payload, width, height):
        return b"RSZ:%dx%d:" % (width, height) + payload[:4]

    rows = resize_media(media, 7, 3, resizer=probe_resizer).collect()
    assert len(rows) == len(raw), "one media row out per media row in"
    for r in rows:
        payload, kind = raw[r.media_id]
        if kind == "image":
            want = b"RSZ:7x3:" + payload[:4]
            assert bytes(r.payload) == want  # resizer output re-entered
            assert r.meta["bytes"] == len(want)  # meta updated from it
        else:
            assert bytes(r.payload) == payload  # non-image passthrough


def test_resize_media_passes_through_non_images(spark):
    """A mixed image|audio|video media table must resize only the image
    rows; audio/video payloads pass through byte-identical instead of
    reaching the image resizer and crashing the mapInPandas stage."""

    def image_resizer(payload, width, height):
        assert payload.startswith(b"IMG"), "resizer got a non-image payload"
        return b"IMG:%dx%d" % (width, height)

    media = _mixed_media(spark)
    before = {r.media_id: bytes(r.payload) for r in media.collect()}
    rows = {r.media_id: r for r in resize_media(media, 4, 3, image_resizer).collect()}
    assert bytes(rows[1].payload) == b"IMG:4x3"
    assert bytes(rows[2].payload) == before[2]
    assert bytes(rows[3].payload) == before[3]
    for r in rows.values():
        assert r.meta.bytes == len(bytes(r.payload))


def test_frame_sample_uses_caller_decoder(spark):
    """frame_sample takes each video's frame count from the caller's
    decoder, and only video rows reach that decoder."""

    def video_decoder(payload, kind):
        assert kind == "video", "frame_sample decoded a non-video row"
        return 0, 0, 25, []

    got = sorted(
        (r.media_id, r.frame_idx)
        for r in frame_sample(_mixed_media(spark), video_decoder, every_n=10).collect()
    )
    assert got == [(3, 0), (3, 10), (3, 20)]


def test_text_profile(docs):
    prof = text_profile(docs).select("doc_id", "n_tokens", "quality", "lang_pred", "fingerprint")
    rows = prof.collect()
    assert len(rows) == docs.count()
    for r in rows[:50]:
        assert r.n_tokens > 0
        assert 0.0 <= r.quality <= 1.0
        assert isinstance(r.lang_pred, str)


def test_embedding_near_dup_lsh_recall(spark, emb):
    """Multi-table LSH near-dup: plant perturbed copies of real vectors
    and require the LSH path to recover most planted pairs exactly found
    by the exact path (precision is exact by construction: candidates
    are reranked with true cosine)."""
    import numpy as np

    from gelly_streaming_spark.ext.embeddings import embedding_near_dup_pairs

    rng = np.random.default_rng(7)
    base = emb.limit(50).collect()
    rows = []
    for r in base:
        v = np.asarray(r.embedding, dtype=np.float64)
        rows.append((int(r.vec_id), [float(x) for x in v]))
        noisy = v + rng.standard_normal(v.shape) * 0.05 * np.linalg.norm(v) / 8.0
        rows.append((int(r.vec_id) + 100_000, [float(x) for x in noisy]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r.a, r.b)
        for r in embedding_near_dup_pairs(df, threshold=0.95, exact=True).collect()
    }
    approx = {
        (r.a, r.b)
        for r in embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    assert exact, "perturbation should create near-dup pairs"
    assert approx <= exact, "LSH output must be a subset (exact rerank)"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.6, f"multi-table LSH recall too low: {recall}"


def test_exact_gemm_blocked_no_driver_collect(spark, emb, monkeypatch):
    """The exact GEMM path must (a) stay correct when the corpus spans
    many blocks (every block-pair kernel covers each pair exactly once,
    diagonal dedup included) and (b) never materialize the corpus on the
    driver — the round-1 toPandas + full-matrix broadcast was a driver
    OOM at 100x (VERDICT r1 'What's wrong' #1)."""
    import inspect

    from gelly_streaming_spark.ext import embeddings as X

    src = inspect.getsource(X._exact_pairs_gemm)
    assert "toPandas" not in src and "sc.broadcast" not in src

    df = emb.limit(120).select("vec_id", "embedding")
    one_block = X._exact_pairs_gemm(df, 0.3, "vec_id", "embedding")
    a = sorted((r.a, r.b, r.sim) for r in one_block.collect())
    monkeypatch.setattr(X, "_ROWS_PER_BLOCK", 16)
    many_blocks = X._exact_pairs_gemm(df, 0.3, "vec_id", "embedding")
    b = sorted((r.a, r.b, r.sim) for r in many_blocks.collect())
    assert a == b and len(a) > 0


def test_near_dup_collapse_transitive_chain(spark):
    """A~B and B~C at θ with A!~C must still collapse to ONE cluster
    (the non-transitivity case a pair-endpoint group-by gets wrong),
    and untouched docs stay singleton clusters."""
    from gelly_streaming_spark.ext.dedup import near_dup_collapse

    rows = [
        # A~B share 9/10 tokens; B~C share 9/10; A~C share 8/10 < 0.8/θ
        (1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 a"),
        (2, "t0 t1 t2 t3 t4 t5 t6 t7 t8 b"),
        (3, "t0 t1 t2 t3 t4 t5 t6 t7 b c"),
        (10, "completely different words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["keep_id"], r["cluster_size"])
        for r in near_dup_collapse(docs, threshold=0.8).collect()
    }
    # jaccard(1,2)=9/11≈0.818, jaccard(2,3)=9/11, jaccard(1,3)=8/12<0.8
    assert got == {(1, 3), (10, 1)}


# ---------------------------------------------------------------------------
# ext/split.py: deterministic splitting / sampling
# ---------------------------------------------------------------------------
def test_split_partitioning_invariant_and_total(spark, docs):
    """The split assignment is a pure function of the key: repartitioning
    must not move a single document (the property F.rand(seed) lacks),
    every doc gets exactly one label, and shares track the weights."""
    from gelly_streaming_spark.ext.split import assign_split

    base = {
        r["doc_id"]: r["split"]
        for r in docs.select(
            "doc_id", assign_split(F.col("doc_id")).alias("split")
        ).collect()
    }
    shuffled = {
        r["doc_id"]: r["split"]
        for r in docs.repartition(7, "lang").select(
            "doc_id", assign_split(F.col("doc_id")).alias("split")
        ).collect()
    }
    assert base == shuffled
    n = len(base)
    from collections import Counter

    shares = Counter(base.values())
    assert set(shares) <= {"train", "val", "test"}
    assert shares["train"] / n == pytest.approx(0.8, abs=0.12)


def test_split_stable_under_corpus_growth(spark, docs):
    """An existing document never changes split when new rows arrive:
    the assignment over a half-corpus equals its restriction from the
    full corpus (row-local hash, no global state)."""
    from gelly_streaming_spark.ext.split import assign_split

    full = {
        r["doc_id"]: r["split"]
        for r in docs.select(
            "doc_id", assign_split(F.col("doc_id")).alias("split")
        ).collect()
    }
    half = docs.where(F.col("doc_id") % 2 == 0)
    for r in half.select(
        "doc_id", assign_split(F.col("doc_id")).alias("split")
    ).collect():
        assert full[r["doc_id"]] == r["split"]


def test_deterministic_sample_per_group(spark, docs):
    from gelly_streaming_spark.ext.split import deterministic_sample_per_group
    from gelly_streaming_spark.plans.checks import explain_str

    s = deterministic_sample_per_group(
        docs.select("doc_id", "lang"), ["lang"], "doc_id", 5
    )
    rows = {(r["lang"], r["doc_id"]) for r in s.collect()}
    again = {
        (r["lang"], r["doc_id"])
        for r in deterministic_sample_per_group(
            docs.select("doc_id", "lang").repartition(11), ["lang"], "doc_id", 5
        ).collect()
    }
    assert rows == again  # partitioning-independent selection
    from collections import Counter

    per = Counter(lang for lang, _ in rows)
    full = Counter(
        r["lang"] for r in docs.select("lang").collect()
    )
    for lang, c in per.items():
        assert c == min(5, full[lang])
    # scale guard: the rank-limit must trim map-side (WindowGroupLimit),
    # so the exchange moves O(groups*k) rows, not the corpus
    assert "WindowGroupLimit" in explain_str(s)


def test_vocabulary_matches_pandas(spark, docs):
    """The in-row run-length df/cf (one shuffle, no count-distinct
    expand) must agree with a naive pandas recount."""
    from collections import Counter

    from gelly_streaming_spark.ext.text import vocabulary

    pdf = docs.select("doc_id", "text").toPandas()
    cf: Counter = Counter()
    df: Counter = Counter()
    for t in pdf["text"]:
        toks = [x for x in t.split() if x]
        cf.update(toks)
        df.update(set(toks))
    expect = sorted(cf.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = vocabulary(docs, k=10).orderBy("rank").collect()
    assert [(r["token"], r["cf"]) for r in got] == expect
    for r in got:
        assert r["df"] == df[r["token"]]
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))


def test_split_bucket_sign_safe_and_oracle_parity(spark):
    """Negative 64-bit keys must land in [0, M) like any other key (both
    Spark and DuckDB % follow the dividend's sign — without the +M fold
    every negative key collapsed into the first split arm), and the
    Spark expression must agree bit-for-bit with SPLIT_BUCKET_SQL."""
    import duckdb

    from gelly_streaming_spark.ext.split import _M, SPLIT_BUCKET_SQL, split_bucket

    keys = [0, 1, -1, 7, -7, 99990, -99991, 2**62, -(2**62), -123456789]
    df = spark.createDataFrame([(k,) for k in keys], "key long")
    got = {
        r["key"]: r["b"]
        for r in df.select("key", split_bucket(F.col("key")).alias("b")).collect()
    }
    expr = SPLIT_BUCKET_SQL.format(key="key")
    oracle = dict(
        duckdb.sql(
            f"SELECT key, {expr} AS b FROM (VALUES "
            + ", ".join(f"(CAST({k} AS BIGINT))" for k in keys)
            + ") t(key)"
        ).fetchall()
    )
    assert got == oracle
    for b in got.values():
        assert 0 <= b < _M


def test_vocab_and_tfidf_plans_have_no_hof_resort(spark, docs):
    """Regression guard for the q33 480 s+ straggler: Catalyst re-inlines
    staged array projections through Generate, re-deriving array_sort
    per element (measured 19 copies in q33's optimized plan, 38 in
    q35's, before the word-count rewrite). The corpus-scale text plans
    must contain NO array_sort at all — cf/df/tf come from explode +
    hash aggregation, codegen end to end."""
    from gelly_streaming_spark.ext.text import (
        tfidf_keywords,
        token_doc_counts,
        vocabulary,
    )

    for frame in (
        vocabulary(docs, k=10),
        tfidf_keywords(docs),
        token_doc_counts(docs),
    ):
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("array_sort") == 0, plan


def test_token_doc_counts_matches_counter(spark, docs):
    """The word-count kernel must agree with a naive pandas recount."""
    from collections import Counter

    from gelly_streaming_spark.ext.text import token_doc_counts

    pdf = docs.select("doc_id", "text").limit(200).toPandas()
    expect = Counter()
    for did, t in zip(pdf["doc_id"], pdf["text"]):
        for tok in t.split():
            if tok:
                expect[(did, tok)] += 1
    sub = docs.join(
        spark.createDataFrame(pdf[["doc_id"]]), "doc_id", "left_semi"
    )
    got = {
        (r["doc_id"], r["token"]): r["occ"]
        for r in token_doc_counts(sub).collect()
    }
    assert got == dict(expect)


def test_doc_shingles_and_repetition_hand_computed(spark):
    """Shingle windows and duplicate-n-gram stats on a doc small enough
    to enumerate by hand; docs shorter than n contribute nothing."""
    from gelly_streaming_spark.ext.text import doc_shingles, ngram_repetition

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y")],
        "doc_id long, text string",
    )
    sh = sorted(
        (r["doc_id"], r["shingle"]) for r in doc_shingles(docs, n=3).collect()
    )
    # 3 windows: 'a b a', 'b a b', 'a b a' (duplicate kept) — doc 2 too short
    assert sh == [(1, "a b a"), (1, "a b a"), (1, "b a b")]
    rep = {
        r["doc_id"]: (r["n_ngrams"], r["n_distinct"])
        for r in ngram_repetition(docs, n=3).collect()
    }
    assert rep == {1: (3, 2)}


def test_doc_shingles_hashed_equivalent(spark):
    """hashed=True must preserve the multiset STRUCTURE of shingles —
    equal strings hash equal, distinct strings hash distinct (no
    collision at this size) — so every count-shaped consumer (q36/q37/
    q38) is unchanged by the 8-byte key swap."""
    from gelly_streaming_spark.ext.text import doc_shingles

    docs = spark.createDataFrame(
        [(1, "a b a b a c"), (2, "b a b a c d"), (3, "x y")],
        "doc_id long, text string",
    )
    s = [
        (r["doc_id"], r["shingle"])
        for r in doc_shingles(docs, n=3).collect()
    ]
    h = [
        (r["doc_id"], r["shingle"])
        for r in doc_shingles(docs, n=3, hashed=True).collect()
    ]
    assert len(s) == len(h)
    from collections import Counter

    # per-doc count multisets identical (hash is injective here), and
    # cross-doc: shared strings hash to shared hashes, in equal number
    # ('a b a' / 'b a b' appear in both docs 1 and 2)
    for doc in (1, 2, 3):
        sc = Counter(v for d, v in s if d == doc)
        hc = Counter(v for d, v in h if d == doc)
        assert sorted(sc.values()) == sorted(hc.values()), doc
    for da, db in ((1, 2), (1, 3), (2, 3)):
        s_shared = {v for d, v in s if d == da} & {v for d, v in s if d == db}
        h_shared = {v for d, v in h if d == da} & {v for d, v in h if d == db}
        assert len(h_shared) == len(s_shared), (da, db)


def test_doc_shingles_giant_doc_chunking(spark):
    """The giant-document guard: a doc whose tokens span many chunks
    must yield EXACTLY the same shingle multiset as the unchunked plan
    (seam overlap keeps boundary shingles; start-ownership prevents
    double-counting), while the window state actually splits across
    multiple (doc_id, chunk) partitions."""
    import random

    from pyspark.sql import functions as F

    from gelly_streaming_spark.ext.text import doc_shingles

    rng = random.Random(7)
    # 1000 tokens from a tiny vocab -> plenty of duplicate shingles,
    # chunk_tokens=64 -> ~16 chunks with seams in dense territory
    toks = [f"t{rng.randrange(13)}" for _ in range(1000)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "a b c d"), (3, "short")],
        "doc_id long, text string",
    )
    chunked = doc_shingles(docs, n=4, chunk_tokens=64)
    plain = doc_shingles(docs, n=4, chunk_tokens=None)
    got = sorted((r["doc_id"], r["shingle"]) for r in chunked.collect())
    want = sorted((r["doc_id"], r["shingle"]) for r in plain.collect())
    assert got == want
    assert len(got) == (1000 - 3) + 1
    # the guard must actually distribute: >1 window partition for doc 1
    tok = docs.select(
        F.col("doc_id"), F.posexplode(F.split("text", r"\s+")).alias("pos", "t")
    )
    n_chunks = (
        tok.where(F.col("doc_id") == 1)
        .select(F.floor(F.col("pos") / 64).alias("c"))
        .distinct()
        .count()
    )
    assert n_chunks > 10
    with __import__("pytest").raises(ValueError):
        doc_shingles(docs, n=8, chunk_tokens=4)


def test_decontaminate_hand_computed(spark):
    """A corpus doc sharing exactly one distinct trigram with the
    blocklist is flagged with n_hits=1; unrelated docs are absent."""
    from gelly_streaming_spark.ext.text import decontaminate

    block = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "lazy dog saw the quick brown fox leave"),  # shares 2 trigrams
            (2, "completely unrelated tokens only here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n_hits"]
        for r in decontaminate(corpus, block, n=3).collect()
    }
    # shared trigrams: 'the quick brown', 'quick brown fox'
    assert got == {1: 2}


def test_duplicate_passages_hand_computed(spark):
    """Cross-doc duplicated trigram passages: docs 1 and 2 share two
    distinct trigrams of 'x y z w'; the df cap drops a boilerplate
    shingle present in all four docs (which would otherwise create
    pairs among unrelated docs 3/4)."""
    from gelly_streaming_spark.ext.text import duplicate_passages

    boiler = "terms of service apply"
    docs = spark.createDataFrame(
        [
            (1, f"x y z w {boiler}"),
            (2, f"p x y z w {boiler}"),
            (3, f"completely different body {boiler}"),
            (4, f"another unrelated body {boiler}"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r.a, r.b, r.shared)
        for r in duplicate_passages(docs, n=3, min_shared=2, max_df=3).collect()
    )
    # shared by 1/2 with df <= 3: 'x y z', 'y z w', 'z w terms',
    # 'w terms of' (4 shingles); 'terms of service' / 'of service
    # apply' appear in ALL four docs (df 4 > 3) and are dropped
    assert got == [(1, 2, 4)], got
    # without the cap, boilerplate shingles pair everything with everything
    uncapped = duplicate_passages(docs, n=3, min_shared=2, max_df=None)
    assert uncapped.count() == 6


def test_near_dup_collapse_pair_graph_stays_rep_level(spark):
    """The collapse's CC input must be the REPRESENTATIVE pair graph:
    a k-doc identical-text cluster contributes ONE rep, not k(k-1)/2
    clique pairs (the r8 redesign — 93x smaller CC input at sf0.1).
    Guards against reintroducing the member expansion upstream of CC."""
    from pyspark.sql import functions as F

    from gelly_streaming_spark.ext.dedup import near_dup_collapse
    from gelly_streaming_spark.ext.similarity import jaccard_rep_pairs
    from gelly_streaming_spark.ext.text import tokenize

    rows = [(i, "alpha beta gamma delta") for i in range(1, 101)]
    rows += [(200, "alpha beta gamma epsilon"), (300, "zz yy xx")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    grp, rp = jaccard_rep_pairs(docs, "doc_id", tokenize(F.col("text")), 0.6)
    # 3 distinct token sets -> at most 3 rep pairs ever; the identical
    # 100-doc cluster must contribute zero within-cluster pairs
    pairs = [(r.a, r.b) for r in rp.collect()]
    assert pairs == [(1, 200)], pairs
    got = {
        (r.keep_id, r.cluster_size)
        for r in near_dup_collapse(docs, threshold=0.6).collect()
    }
    assert got == {(1, 101), (300, 1)}
    import pytest

    with pytest.raises(ValueError):
        near_dup_collapse(docs, threshold=1.5)


def test_near_dup_collapse_token_less_docs(spark):
    """Docs with null / empty / whitespace-only text never enter the
    inverted index, but the collapse must still count them: identical
    texts cluster together (md5 complement — the oracle's grouping),
    and "" vs " " are DIFFERENT texts -> different singleton clusters
    even though both tokenize to []."""
    from gelly_streaming_spark.ext.dedup import near_dup_collapse

    rows = [
        (1, None), (2, None),          # null-text pair -> one cluster
        (3, ""),                        # empty text
        (4, " "),                       # whitespace-only, distinct text
        (5, "a b c"), (6, "a b c"),     # identical normal docs
        (7, "a b d"),                   # near-dup of 5/6 at 0.5
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.keep_id, r.cluster_size)
        for r in near_dup_collapse(docs, threshold=0.5).collect()
    }
    assert got == {(1, 2), (3, 1), (4, 1), (5, 3)}, got


def test_near_dup_collapse_distributed_fallback(spark):
    """Force the pair-graph CC past the driver union-find bound
    (small_input_rows=0 — the path a 100 TB dup graph takes) and check
    the collapse is identical to the driver-path answer on a chain of
    overlapping docs."""
    from gelly_streaming_spark.ext.dedup import near_dup_collapse

    base = [f"tok{i}" for i in range(22)]
    rows = []
    for i in range(40):
        # docs i, j share >=20/24 tokens (jaccard >=0.833) -> one cluster
        toks = base[:]
        toks[i % 22] = f"uniq{i}"
        rows.append((i, " ".join(toks)))
    rows.append((100, "completely unrelated content right here"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fast = {
        (r["keep_id"], r["cluster_size"])
        for r in near_dup_collapse(docs, threshold=0.8).collect()
    }
    dist = {
        (r["keep_id"], r["cluster_size"])
        for r in near_dup_collapse(
            docs, threshold=0.8, small_input_rows=0
        ).collect()
    }
    assert dist == fast
    assert (100, 1) in dist


def test_simhash_blocking_recall_complete_at_high_hamming(spark):
    """Pigeonhole blocking must derive its chunk count from max_hamming:
    the old fixed 4x16-bit split missed pairs whose differing bits hit
    every chunk (e.g. Hamming 4, one bit per 16-bit quarter)."""
    from gelly_streaming_spark.ext.dedup import simhash_near_pairs

    sigs = spark.createDataFrame(
        [
            (1, 0x0001000100010001),  # one bit set in each 16-bit chunk
            (2, 0x0000000000000000),  # Hamming distance 4 from id 1
            (3, 0x0001000100010001),  # identical to id 1 (distance 0)
        ],
        "id long, simhash long",
    )
    got = {
        (r["a"], r["b"]): r["hamming"]
        for r in simhash_near_pairs(sigs, max_hamming=4).collect()
    }
    assert got == {(1, 2): 4, (2, 3): 4, (1, 3): 0}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        simhash_near_pairs(sigs, max_hamming=64)


def test_jaccard_strategies_agree_on_rounding_ties(spark, monkeypatch):
    """The bitset kernel and the ppjoin path must emit bit-identical
    jaccard values — including exact dyadic ties like 125/128 =
    0.9765625, which np.round (half-to-even) rounded DOWN while F.round
    and DuckDB ROUND round up. The small vocabulary selects the bitset
    kernel; a zero vocabulary limit forces ppjoin."""
    from gelly_streaming_spark.ext import similarity

    shared = [f"t{i}" for i in range(125)]
    rows = [
        (1, " ".join(shared + ["xa", "xb"])),   # |A| = 127
        (2, " ".join(shared + ["yb"])),          # |B| = 126, inter = 125
        (3, "unrelated words entirely here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = F.split(F.col("text"), " ")
    kernel_calls = []
    bitset = similarity._bitset_rep_pairs

    def spy(*args):
        kernel_calls.append(1)
        return bitset(*args)

    monkeypatch.setattr(similarity, "_bitset_rep_pairs", spy)

    def pairs():
        return {
            (r["a"], r["b"]): r["jaccard"]
            for r in similarity.jaccard_pairs(docs, "doc_id", toks, 0.9).collect()
        }

    by_bitset = pairs()
    assert kernel_calls == [1]
    monkeypatch.setattr(similarity, "_BITSET_VOCAB_LIMIT", 0)
    by_ppjoin = pairs()
    assert kernel_calls == [1]
    assert by_ppjoin == by_bitset
    assert by_ppjoin[(1, 2)] == 0.976563  # HALF_UP of 0.9765625


def test_jaccard_bitset_choice_collects_the_sets_once(spark):
    """The bitset kernel's set-count check and its input are one bounded
    collect: a warm call runs the vocabulary probe and that collect
    before the caller's action (3 jobs under AQE; a separate set count
    plus an unbounded collect made it 5), and its pairs are the exact
    ones."""
    import itertools
    import uuid

    from gelly_streaming_spark.ext import similarity

    sets = {i: {f"t{j}" for j in range(i % 7, i % 7 + 20)} for i in range(60)}
    docs = spark.createDataFrame(
        [(i, " ".join(sorted(ts))) for i, ts in sets.items()],
        "doc_id long, text string",
    )
    toks = F.split(F.col("text"), " ")
    similarity.jaccard_rep_pairs(docs, "doc_id", toks, 0.8)  # caches the clusters
    sc = spark.sparkContext
    group = f"jaccard-choice-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jaccard_rep_pairs job count")
    try:
        _, rep_pairs = similarity.jaccard_rep_pairs(docs, "doc_id", toks, 0.8)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs <= 3, jobs
    reps = {min(i for i in sets if sets[i] == ts) for ts in sets.values()}
    want = set()
    for a, b in itertools.combinations(sorted(reps), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= 0.8:
            want.add((a, b, round(j, 6)))
    got = {(r["a"], r["b"], r["jaccard"]) for r in rep_pairs.collect()}
    assert got == want and want


def test_lsh_signature_rejects_dim_mismatch(spark):
    """A vector length different from the planes' dim must raise, not
    silently collapse every vector into bucket 0 (zip_with null-pads,
    which turned the LSH bucket join into a full cross join)."""
    import numpy as np

    from gelly_streaming_spark.ext.embeddings import lsh_signature

    planes = np.random.default_rng(0).standard_normal((4, 8))
    ok = spark.createDataFrame(
        [(1, [float(i) for i in range(8)])], "id long, v array<double>"
    )
    assert ok.select(lsh_signature(F.col("v"), planes).alias("b")).collect()
    bad = spark.createDataFrame(
        [(1, [float(i) for i in range(16)])], "id long, v array<double>"
    )
    with pytest.raises(Exception, match="lsh_signature"):
        bad.select(lsh_signature(F.col("v"), planes).alias("b")).collect()


def test_scrub_pii_counts_and_redaction(spark):
    from gelly_streaming_spark.ext.text import scrub_pii

    rows = [
        (1, "mail me at a.b-c%d@sub.example.org today"),
        (2, "call 415-555-0134 or 212-555-9876 now"),
        (3, "host 10.0.3.44 and 192.168.1.1 up"),
        (4, "clean document no pii at all"),
        # dotted-quad inside an email: consumed by the email pattern in
        # the scrub (table order), but n_ipv4 counts the ORIGINAL text
        (5, "edge user@10.0.0.1.example.com case"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert (out[1].n_email, out[1].n_phone, out[1].n_ipv4) == (1, 0, 0)
    assert out[1].text_scrubbed == "mail me at <EMAIL> today"
    assert (out[2].n_email, out[2].n_phone, out[2].n_ipv4) == (0, 2, 0)
    assert out[2].text_scrubbed == "call <PHONE> or <PHONE> now"
    assert (out[3].n_email, out[3].n_phone, out[3].n_ipv4) == (0, 0, 2)
    assert out[3].text_scrubbed == "host <IPV4> and <IPV4> up"
    assert (out[4].n_email, out[4].n_phone, out[4].n_ipv4) == (0, 0, 0)
    assert out[4].text_scrubbed == out[4].text
    assert out[5].n_email == 1 and out[5].n_ipv4 == 1
    assert out[5].text_scrubbed == "edge <EMAIL> case"


def test_pack_sequences_matches_global_window(spark):
    from gelly_streaming_spark.ext.split import pack_sequences

    # sparse, shuffled keys across several ranges; token counts vary,
    # including zero-token docs
    keys = [(k * 37) % 1009 for k in range(200)]
    rows = [(k, (k * 7) % 13) for k in keys]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long").repartition(8)
    got = {
        r.doc_id: (r.start_token, r.seq_id)
        for r in pack_sequences(df, budget=16, num_ranges=6).collect()
    }
    run = 0
    for k, t in sorted(rows):
        assert got[k] == (run, run // 16), f"doc {k}: {got[k]} vs ({run}, {run // 16})"
        run += t
    assert len(got) == len(rows)


def test_pack_sequences_single_materialization(spark):
    """The range exchange must execute exactly once: the plan's two
    consumers (offset aggregate, probe) both scan the checkpointed RDD —
    a recomputed range exchange could re-sample boundaries and silently
    corrupt the _pid join (see pack_sequences docstring)."""
    from gelly_streaming_spark.ext.split import pack_sequences

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("n_tokens")
    )
    out = pack_sequences(df, budget=8, num_ranges=4)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "rangepartitioning" not in plan, "range exchange leaked past the checkpoint pin"
    assert plan.count("Scan ExistingRDD") >= 2  # both consumers read the pinned RDD


def test_mixture_sample_single_materialization(spark):
    """Same diamond hazard as pack_sequences: _pid derives from sampled
    range boundaries, so the totals aggregate and the probe side must
    read ONE pinned materialization."""
    from gelly_streaming_spark.ext.split import mixture_sample

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
        (F.col("id") % 5).alias("n_tokens"),
    )
    out = mixture_sample(df, {"s0": 10}, default_budget=8, num_ranges=4)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "rangepartitioning" not in plan, "range exchange leaked past the checkpoint pin"
    assert plan.count("Scan ExistingRDD") >= 2


def test_mixture_sample_hand_computed(spark):
    """Per-source budget fill against a brute-force python replica of
    the (split_bucket, key)-ordered exclusive prefix sum, across enough
    ranges that sources straddle partition boundaries."""
    from gelly_streaming_spark.ext.split import mixture_sample

    def bucket(k):
        m, a, b = 99991, 40503, 30029
        return ((k % m + m) % m * a + b) % m

    rows = [
        (k, f"s{k % 3}", (k * 7) % 29) for k in ((j * 37) % 1009 for j in range(150))
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens long"
    ).repartition(8)
    budgets = {"s0": 100, "s1": 40}
    got = {
        r.doc_id: (r.source, r.start_token)
        for r in mixture_sample(df, budgets, default_budget=60, num_ranges=5)
        .collect()
    }
    want = {}
    for src in ("s0", "s1", "s2"):
        run = 0
        bud = budgets.get(src, 60)
        for k, s, t in sorted(
            (r for r in rows if r[1] == src), key=lambda r: (bucket(r[0]), r[0])
        ):
            if run < bud:
                want[k] = (src, run)
            run += t
    assert got == want
    # the crossing doc is kept: at least one source's kept tokens exceed
    # its budget (non-degenerate fixture check)
    by_src = {}
    for k, s, t in rows:
        if k in want:
            by_src[s] = by_src.get(s, 0) + t
    assert any(v >= budgets.get(s, 60) for s, v in by_src.items())


def test_mixture_sample_missing_source_dropped(spark):
    """No entry and no default => the source contributes nothing."""
    from gelly_streaming_spark.ext.split import mixture_sample

    df = spark.createDataFrame(
        [(1, "a", 5), (2, "a", 5), (3, "b", 5)],
        "doc_id long, source string, n_tokens long",
    )
    out = mixture_sample(df, {"a": 7}, num_ranges=2).collect()
    assert sorted((r.doc_id, r.source) for r in out) == [(1, "a"), (2, "a")]


def test_mixture_sample_partitioning_invariant(spark):
    """The kept set must not depend on input partitioning (the property
    F.rand-based sampling lacks)."""
    from gelly_streaming_spark.ext.split import mixture_sample

    rows = [(k, f"s{k % 2}", (k * 11) % 17) for k in range(80)]
    df1 = spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens long"
    ).repartition(13)
    df2 = spark.createDataFrame(
        list(reversed(rows)), "doc_id long, source string, n_tokens long"
    ).coalesce(1)
    r1 = sorted(
        (r.doc_id, r.start_token)
        for r in mixture_sample(df1, {"s0": 50, "s1": 30}, num_ranges=7).collect()
    )
    r2 = sorted(
        (r.doc_id, r.start_token)
        for r in mixture_sample(df2, {"s0": 50, "s1": 30}, num_ranges=3).collect()
    )
    assert r1 == r2 and r1


def test_curate_corpus_stage_by_stage(spark):
    """Each pipeline stage drops exactly the docs built to trip it:
    low quality, duplicate text (higher key), boilerplate repetition,
    blocklist shingle overlap — and the survivor keeps a scrubbed text."""
    from gelly_streaming_spark.ext.pipeline import curate_corpus

    good = "the quick brown fox jumps over the lazy dog near the old river bank"
    rows = [
        (1, good),                                   # survives
        (2, good),                                   # exact dup of 1 -> dropped
        (3, "$$$ %% ## !! ?? ;; :: ^^ && ** (( ))"),  # low quality
        (4, "spam ham eggs " * 12),                   # repetition filter
        (5, "contact me at bob@example.com about the quick brown fox plan today ok"),
        (6, "totally unrelated words describing mountains valleys and oceans calmly"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    block = spark.createDataFrame(
        [(100, "describing mountains valleys and oceans")],
        "doc_id long, text string",
    )
    out = curate_corpus(
        docs, block, min_quality=0.55, max_rep_permille=200, n=3
    )
    got = {r.doc_id: r for r in out.collect()}
    # 2 deduped, 3 quality, 4 repetition, 6 decontaminated
    assert sorted(got) == [1, 5]
    assert "<EMAIL>" in got[5].text_scrubbed and "bob@" not in got[5].text_scrubbed
    assert got[1].text_scrubbed == good
    assert 0.0 <= got[1].quality <= 1.0


def test_curate_corpus_no_blocklist_and_short_docs(spark):
    """blocklist=None skips decontamination; docs too short for any
    n-gram pass the repetition filter vacuously."""
    from gelly_streaming_spark.ext.pipeline import curate_corpus

    docs = spark.createDataFrame(
        [(1, "only two decent words appear here now"), (2, "ok")],
        "doc_id long, text string",
    )
    out = curate_corpus(docs, None, min_quality=0.0, max_rep_permille=0, n=3)
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 2]


def test_dedup_passages_semantics(spark):
    """Cross-doc aligned-passage dedup with rewrite: a passage in >=2
    distinct docs drops from every doc; a passage repeated WITHIN one
    doc is kept (cross-doc criterion); survivors re-join in document
    order; token-free docs are absent by contract."""
    from gelly_streaming_spark.ext.dedup import dedup_passages

    docs = spark.createDataFrame(
        [
            (1, "h1 h2 h3 h4 a b c d e"),      # header + organic + tail
            (2, "h1 h2 h3 h4 f g h i"),        # shares the header with 1
            (3, "x y z w a b c d"),            # shares "a b c d" with 1
            (4, "p q r s p q r s"),            # within-doc repeat only
            (5, "   "),                        # token-free: absent
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup_passages(docs, n=4).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert (out[1].text_dedup, out[1].n_kept, out[1].n_dropped) == ("e", 1, 2)
    assert (out[2].text_dedup, out[2].n_kept, out[2].n_dropped) == ("f g h i", 1, 1)
    assert (out[3].text_dedup, out[3].n_kept, out[3].n_dropped) == ("x y z w", 1, 1)
    # within-doc repeat: count(distinct doc)=1 -> kept, text unchanged
    assert (out[4].text_dedup, out[4].n_kept, out[4].n_dropped) == (
        "p q r s p q r s", 2, 0,
    )


def test_semantic_dedup_cluster_bounded_semantics(spark):
    """SemDeDup rule on a constructed corpus: within a cluster, every
    vector with a smaller-id neighbor at cosine >= threshold drops
    (greedy keep-smallest-id, chain members drop independently); a
    near-identical pair SPLIT ACROSS clusters is untouched — the
    method's documented approximation (clusters bound the quadratic, so
    cross-cluster near-dups are unscored by design)."""
    from gelly_streaming_spark.ext.embeddings import semantic_dedup

    # two well-separated label clusters along axes 0 / 1; vectors carry
    # a tiny orthogonal jitter (axis 2/3) so in-cluster cosines are
    # high but distinct
    rows = [
        # cluster 0: 10/11 near-identical (11 drops), 12 dissimilar
        (10, 0, [1.0, 0.0, 0.00, 0.0]),
        (11, 0, [1.0, 0.0, 0.01, 0.0]),
        (12, 0, [1.0, 0.0, 2.00, 0.0]),   # cos to 10 = 0.447 < 0.95
        # cluster 1: chain 20~21, 21~22 with 20-22 also >= threshold
        (20, 1, [0.0, 1.0, 0.00, 0.00]),
        (21, 1, [0.0, 1.0, 0.02, 0.00]),
        (22, 1, [0.0, 1.0, 0.00, 0.02]),
        # cluster 1 member nearly identical to vec 10 of cluster 0 —
        # cross-cluster, must stay kept
        (23, 1, [0.0, 1.0, 4.00, 0.00]),  # far from 20-22 in angle
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )
    out = {
        r.vec_id: (r.cluster, r.kept)
        for r in semantic_dedup(emb, threshold=0.95).collect()
    }
    assert len(out) == 7
    assert out[10][1] is True            # smallest id of its ball
    assert out[11][1] is False           # dropped by 10
    assert out[12][1] is True            # below threshold
    assert out[20][1] is True
    assert out[21][1] is False           # dropped by 20
    assert out[22][1] is False           # dropped by 20 (and 21)
    assert out[23][1] is True            # its cluster-mates are far
    # clusters came from the label-centroid quantizer
    assert out[10][0] == out[11][0] == out[12][0]
    assert out[20][0] == out[21][0] == out[22][0]


def test_semantic_dedup_block_invariance(emb, monkeypatch):
    """The per-cluster block decomposition is an implementation detail:
    forcing many blocks per cluster (_ROWS_PER_BLOCK=16 over ~50-vector
    clusters) must yield exactly the verdict of the single-block run —
    each unordered pair is scored exactly once either way."""
    from gelly_streaming_spark.ext import embeddings
    from gelly_streaming_spark.ext.embeddings import semantic_dedup

    one = sorted(
        (r.vec_id, r.cluster, r.kept)
        for r in semantic_dedup(emb, threshold=0.38).collect()
    )
    monkeypatch.setattr(embeddings, "_ROWS_PER_BLOCK", 16)
    many = sorted(
        (r.vec_id, r.cluster, r.kept)
        for r in semantic_dedup(emb, threshold=0.38).collect()
    )
    assert one == many
    assert any(not k for (_, _, k) in one)  # the threshold actually bites


def test_ngram_lm_scores_hand_computed(spark):
    """Bigram-LM scoring on a corpus small enough to verify by hand:
    C2{(a,b):3,(b,a):1,(b,c):1}, contexts C1{a:3,b:2}, V=4 (the
    single-token doc contributes to the vocabulary but produces no
    scored row), add-0.5 smoothing."""
    import math

    from gelly_streaming_spark.ext.text import ngram_lm_scores

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "z")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ngram_lm_scores(docs).collect()}
    assert set(out) == {1, 2}  # doc 3 has no bigrams
    p_ab = (3 + 0.5) / (3 + 0.5 * 4)   # 0.7
    p_bx = (1 + 0.5) / (2 + 0.5 * 4)   # 0.375 for (b,a) and (b,c)
    a1 = (2 * math.log(p_ab) + math.log(p_bx)) / 3
    a2 = (math.log(p_ab) + math.log(p_bx)) / 2
    assert out[1].n_bigrams == 3 and out[2].n_bigrams == 2
    assert out[1].avg_logp == round(a1, 6)
    assert out[2].avg_logp == round(a2, 6)
    assert out[1].ppl == round(math.exp(-a1), 2)
    assert out[2].ppl == round(math.exp(-a2), 2)
    # the optional filter keeps only low-perplexity docs: 1.8 sits
    # between ppl(doc1)=1.76 and ppl(doc2)=1.95 by construction
    assert math.exp(-a1) <= 1.8 < math.exp(-a2)
    kept = {r.doc_id for r in ngram_lm_scores(docs, max_ppl=1.8).collect()}
    assert kept == {1}


# ---------------------------------------------------------------------------
# Product quantization (q54)
# ---------------------------------------------------------------------------


def _pq_numpy_reference(vids, mat, cb, qids, k=5):
    """Straight-line numpy replication of the ADC contract: direct
    squared-difference distances, first-win argmin encoding, LUT sums,
    (ad ASC, vec_id ASC) top-k — the same total order the oracle SQL
    declares."""
    import numpy as np

    n = len(mat)
    n_sub, _n_codes, ds = cb.shape
    sub = mat.reshape(n, n_sub, ds)
    d2 = ((sub[:, :, None, :] - cb[None]) ** 2).sum(axis=3)
    codes = d2.argmin(axis=2)
    out = {}
    for qid in qids:
        qi = int(np.nonzero(vids == qid)[0][0])
        ad = np.zeros(n)
        for m in range(n_sub):
            ad += d2[qi, m, codes[:, m]]
        mask = vids != qid
        v_, a_ = vids[mask], ad[mask]
        idx = np.lexsort((v_, a_))[:k]
        out[qid] = [(int(v_[i]), round(float(a_[i]), 6)) for i in idx]
    return out, codes


def test_pq_hand_fixture(spark):
    """4 vectors, dim 4, M=2 subspaces, K=2 residue-class codebooks —
    every mean, code, and ADC distance verifiable by hand."""
    import numpy as np

    from gelly_streaming_spark.ext.embeddings import knn_pq, pq_codebooks, pq_encode

    rows = [
        (0, [0.0, 0.0, 4.0, 4.0]),
        (1, [2.0, 2.0, 0.0, 0.0]),
        (2, [0.0, 2.0, 4.0, 6.0]),
        (3, [4.0, 0.0, 2.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_codebooks(emb, n_subspaces=2, n_codes=2)
    # residue class 0 = {0, 2}, class 1 = {1, 3}
    assert cb.shape == (2, 2, 2)
    assert np.allclose(cb[0], [[0.0, 1.0], [3.0, 1.0]])  # subspace dims 0-1
    assert np.allclose(cb[1], [[4.0, 5.0], [1.0, 0.0]])  # subspace dims 2-3
    codes = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(emb, cb).collect()
    }
    # vec 0: sub0 (0,0): d2 to c00=(0,1) is 1, to c01=(3,1) is 10 -> 0;
    #        sub1 (4,4): to c10=(4,5) is 1, to c11=(1,0) is 25 -> 0
    assert codes == {0: [0, 0], 1: [1, 1], 2: [0, 0], 3: [1, 1]}
    out = knn_pq(emb, emb.where(F.col("vec_id") == 0), k=3, codebooks=cb)
    got = [(r.vec_id, r.adist) for r in out.collect()]
    # ADC(0, x) for all x uses LUT[0] = d2(vec0, cb): sub0 [1, 10], sub1 [1, 25]
    # codes: vec1 [1,1] -> 10+25=35; vec2 [0,0] -> 1+1=2; vec3 [1,1] -> 35
    assert got == [(2, 2.0), (1, 35.0), (3, 35.0)]  # tie 1-vs-3 breaks by id


def test_knn_pq_matches_numpy_reference(emb):
    """Engine ADC path (distributed codebooks + encode + in-kernel
    partial top-k + window trim) ≡ the straight-line numpy reference on
    real sf0.001 embeddings — certifies the distributed decomposition,
    not just plausibility."""
    import numpy as np

    from gelly_streaming_spark.ext.embeddings import knn_pq, pq_codebooks, pq_encode

    pdf = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v")).toPandas()
    vids = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["v"].to_numpy())
    cb = pq_codebooks(emb)
    qids = list(range(1, 11))
    want, want_codes = _pq_numpy_reference(vids, mat, cb, qids)
    got = {}
    out = knn_pq(emb, emb.where(F.col("vec_id").between(1, 10)), k=5, codebooks=cb)
    for r in out.collect():
        got.setdefault(r.qid, []).append((r.vec_id, r.adist))
    assert got == want
    eng_codes = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, cb).collect()}
    ref_codes = {int(v): list(map(int, want_codes[i])) for i, v in enumerate(vids)}
    assert eng_codes == ref_codes


def test_knn_pq_trained_rerank_recall(emb):
    """Production path: per-subspace Lloyd's codebooks + exact cosine
    rerank of the top-R ADC candidates. Deterministic end-to-end, rerank
    sims exact vs brute force, recall@5 clearly above a random slice."""
    from gelly_streaming_spark.ext.embeddings import knn_pq, pq_codebooks_trained

    q = emb.where(F.col("vec_id").between(1, 10))
    exact = {(r.qid, r.vec_id): r.sim for r in knn_bruteforce(emb, q, k=50).collect()}
    truth5 = {}
    for (qid, vid), _ in sorted(exact.items(), key=lambda kv: -kv[1]):
        truth5.setdefault(qid, [])
        if len(truth5[qid]) < 5:
            truth5[qid].append(vid)
    cb = pq_codebooks_trained(emb)
    a = {(r.qid, r.vec_id): r.sim for r in knn_pq(emb, q, k=5, codebooks=cb, rerank=50).collect()}
    b = {(r.qid, r.vec_id): r.sim for r in knn_pq(emb, q, k=5, codebooks=cb, rerank=50).collect()}
    assert a == b  # deterministic (seeded trainer, hash-ordered sample)
    for key, sim in a.items():
        if key in exact:
            assert abs(exact[key] - sim) < 1e-9  # rerank is exact
    hits = sum(1 for (qid, vid) in a if vid in truth5.get(qid, []))
    recall = hits / sum(len(v) for v in truth5.values())
    assert recall >= 0.5, f"PQ+rerank recall@5 too low: {recall:.2f}"


def test_knn_pq_codes_require_codebooks(emb):
    """Injected code tables demand the codebooks that built them — the
    knn_ivf quantizer-mismatch contract applied to PQ."""
    from gelly_streaming_spark.ext.embeddings import knn_pq, pq_codebooks, pq_encode

    codes = pq_encode(emb, pq_codebooks(emb))
    with pytest.raises(ValueError, match="codebooks"):
        knn_pq(emb, emb.limit(1), codes=codes)


def test_knn_pq_query_side_is_bounded(emb):
    """VERDICT r12 item 6: a corpus-sized query frame must raise the
    probe-batch contract error, never silently .collect() toward a
    driver OOM — knn_pq was the one sibling without a bounded_take
    guard. The bound is a parameter so the contract is testable
    without a 65k-row frame."""
    from gelly_streaming_spark.ext.embeddings import knn_pq, pq_codebooks

    cb = pq_codebooks(emb)
    with pytest.raises(ValueError, match="probe-batch"):
        knn_pq(emb, emb, k=3, codebooks=cb, max_query_rows=5)
    # at the bound (not over) the search still runs
    out = knn_pq(
        emb, emb.where(F.col("vec_id").between(1, 5)), k=3,
        codebooks=cb, max_query_rows=5,
    )
    assert out.count() == 15


def test_semantic_decontaminate_hand_fixture(spark):
    """3 corpus vectors, 2 eval vectors, cosines verifiable by hand —
    covers the self-pair exclusion, the >= threshold count, and the
    max over rounded sims."""
    from gelly_streaming_spark.ext.embeddings import semantic_decontaminate

    rows = [
        (0, [1.0, 0.0]),   # eval member
        (4, [0.0, 1.0]),   # eval member (ids chosen so 0 and 4 are eval)
        (2, [1.0, 1.0]),   # cos 0.707107 to both eval vectors
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ev = emb.where(F.col("vec_id").isin(0, 4))
    out = {r.vec_id: (r.max_sim, r.n_hits, r.contaminated)
           for r in semantic_decontaminate(emb, ev, threshold=0.5).collect()}
    # vec 0: only non-self eval partner is 4 -> cos 0.0
    # vec 4: only non-self eval partner is 0 -> cos 0.0
    # vec 2: cos 0.707107 to both -> 2 hits at theta 0.5
    assert out == {
        0: (0.0, 0, False),
        4: (0.0, 0, False),
        2: (0.707107, 2, True),
    }


def test_classifier_score_hand_fixture(spark):
    """fastText-style mean-pooled logistic inference on 3 hand-checked
    docs: in-vocab weights sum exactly (binary rationals), OOV tokens
    weight 0 but count in the denominator, an empty doc still emits
    (explode_outer) at sigmoid(bias)."""
    import math

    from gelly_streaming_spark.ext.text import classifier_score

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a a x"), (3, "")],
        "doc_id long, text string",
    )
    weights = spark.createDataFrame(
        [("a", 0.5), ("b", -0.25), ("c", 0.25)], "token string, weight double"
    )
    got = {r.doc_id: r.score for r in classifier_score(docs, weights).collect()}

    def sig(x):
        return round(1.0 / (1.0 + math.exp(-x)), 6)

    assert got == {
        1: sig((0.5 - 0.25 + 0.25) / 3),  # all in-vocab
        2: sig((0.5 + 0.5 + 0.0) / 3),    # x is OOV: weight 0, counted
        3: sig(0.0),                      # zero tokens -> sigmoid(bias)
    }
    # bias shifts every score through the link
    got_b = {
        r.doc_id: r.score
        for r in classifier_score(docs, weights, bias=1.0).collect()
    }
    assert got_b[3] == sig(1.0)


def test_classifier_score_plan_has_single_split(spark):
    """Plan-shape guard (the q33 pathology, third sighting): size() and
    explode() must consume a STAGED token array — referencing
    tokenize(text) from both expressions lets Catalyst re-inline the
    split through the Generate and re-derive it per generated row
    (measured r13 at sf0.1: 5.5-7.5 s inlined vs 0.93-1.0 s staged).
    The optimized plan must contain exactly ONE split of the text
    column."""
    from gelly_streaming_spark.ext.text import classifier_score

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    w = spark.createDataFrame([("a", 0.5)], "token string, weight double")
    plan = (
        classifier_score(docs, w)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("split(") == 1, plan


def test_pmi_collocations_hand_fixture(spark):
    """PMI on 2 hand-checked docs: bigram counts (a,b)=3 (b,a)=1 (b,c)=1,
    T=5; min_count=2 keeps only (a,b) with pmi = ln(3*5/(cl(a)=3 *
    cr(b)=3)) = ln(5/3); min_count=1 admits the singletons with their
    own marginals; ordering is (pmi DESC, w1, w2)."""
    import math

    from gelly_streaming_spark.ext.text import pmi_collocations

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    got = [tuple(r) for r in pmi_collocations(docs, min_count=2, k=10).collect()]
    assert got == [("a", "b", 3, round(math.log(5 / 3), 6))]
    all_pairs = {
        (r.w1, r.w2): (r.c2, r.pmi)
        for r in pmi_collocations(docs, min_count=1, k=10).collect()
    }
    # (b,a): c2=1, cl(b)=2, cr(a)=1 -> ln(1*5/2); (b,c): ln(1*5/(2*1))
    assert all_pairs[("b", "a")] == (1, round(math.log(5 / 2), 6))
    assert all_pairs[("b", "c")] == (1, round(math.log(5 / 2), 6))
    assert all_pairs[("a", "b")] == (3, round(math.log(5 / 3), 6))
