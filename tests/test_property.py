"""Randomized property tests (hypothesis): the engine's graph algorithms
vs. pure-Python oracles on arbitrary small graphs.

The reference tests only fixed golden graphs (SURVEY.md §5.1); random
structure catches the classes golden fixtures miss — self-loops,
parallel edges, isolated stars, disconnected odd/even cycles. Examples
are kept small (Spark job latency dominates), with bounded example
counts and no deadline.
"""

import collections

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gelly_streaming_spark import GraphStream

edge_lists = st.lists(
    st.tuples(st.integers(0, 24), st.integers(0, 24)),
    min_size=1,
    max_size=50,
)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _df(spark, edges):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src long, dst long"
    )


def _py_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.property
@given(edges=edge_lists)
@settings(**_SETTINGS)
def test_cc_matches_union_find(spark, edges):
    from gelly_streaming_spark.algos.connected_components import connected_components

    # exercise the distributed fixpoint, not the small-input driver path
    got = {
        r.id: r.component
        for r in connected_components(
            GraphStream(_df(spark, edges)), small_input_rows=0
        ).collect()
    }
    want = _py_components([e for e in edges if e[0] != e[1]])
    # the engine drops self-loop-only vertices (no non-loop incident edge)
    assert got == want


@pytest.mark.property
@given(edges=edge_lists)
@settings(**_SETTINGS)
def test_degrees_match_counter(spark, edges):
    got = {r.id: r.degree for r in GraphStream(_df(spark, edges)).degrees().collect()}
    want = collections.Counter()
    for a, b in edges:
        want[a] += 1
        want[b] += 1
    assert got == dict(want)


@pytest.mark.property
@given(edges=edge_lists)
@settings(**_SETTINGS)
def test_triangles_match_bruteforce(spark, edges):
    from itertools import combinations

    from gelly_streaming_spark.algos.triangles import triangle_count

    got = triangle_count(GraphStream(_df(spark, edges))).collect()[0]["n_triangles"]
    adj = collections.defaultdict(set)
    verts = set()
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
            verts.update((a, b))
    want = sum(
        1
        for x, y, z in combinations(sorted(verts), 3)
        if y in adj[x] and z in adj[x] and z in adj[y]
    )
    assert got == want


def _py_bipartite_components(edges):
    """component root -> is_bipartite via BFS 2-coloring."""
    comp = _py_components(edges)
    adj = collections.defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    verdict = {}
    color: dict = {}
    for v in sorted(adj):
        if v in color:
            continue
        root = comp[v]
        ok = True
        color[v] = 0
        q = collections.deque([v])
        while q:
            u = q.popleft()
            for w in adj[u]:
                if w not in color:
                    color[w] = 1 - color[u]
                    q.append(w)
                elif color[w] == color[u]:
                    ok = False
        verdict[root] = verdict.get(root, True) and ok
    return verdict


@pytest.mark.property
@given(edges=edge_lists)
@settings(**_SETTINGS)
def test_bipartiteness_matches_bfs(spark, edges):
    from gelly_streaming_spark.algos.bipartiteness import bipartiteness_check

    clean = [e for e in edges if e[0] != e[1]]
    if not clean:
        return
    got = {
        r.component: r.is_bipartite
        for r in bipartiteness_check(GraphStream(_df(spark, clean))).collect()
    }
    assert got == _py_bipartite_components(clean)


asof_rows = st.tuples(
    st.lists(  # left: (key, ts, row_id)
        st.tuples(st.integers(0, 3), st.integers(0, 20)),
        min_size=1,
        max_size=25,
    ),
    st.lists(  # right: (key, ts, payload)
        st.tuples(st.integers(0, 3), st.integers(0, 20), st.integers(0, 9)),
        min_size=0,
        max_size=25,
    ),
)


@pytest.mark.property
@given(data=asof_rows)
@settings(**_SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, data):
    """asof_join (union-merge window formulation) vs pandas.merge_asof
    on random keyed event tables: same latest-right-row-per-left match,
    same inclusive <= semantics, same max-tie-breaker winner among
    equal-timestamp right rows, None for unmatched lefts."""
    import pandas as pd

    from gelly_streaming_spark.operators.joins import asof_join

    lrows, rrows = data
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)], "k long, lts long, lid long"
    )
    right = spark.createDataFrame(rrows, "k long, rts long, rv long") if rrows else (
        spark.createDataFrame([], "k long, rts long, rv long")
    )
    got = {
        (r["lid"], r["rts"], r["rv"])
        for r in asof_join(
            left, right, "k", "k", "lts", "rts", tie_breaker="rv"
        ).collect()
    }

    lpdf = pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)], columns=["k", "lts", "lid"]
    ).sort_values("lts", kind="stable")
    rpdf = pd.DataFrame(
        rrows, columns=["k", "rts", "rv"], dtype="int64"
    ).sort_values(["rts", "rv"], kind="stable")
    merged = pd.merge_asof(
        lpdf,
        rpdf,
        left_on="lts",
        right_on="rts",
        by="k",
        direction="backward",
        allow_exact_matches=True,
    )
    want = {
        (
            int(r.lid),
            None if pd.isna(r.rts) else int(r.rts),
            None if pd.isna(r.rv) else int(r.rv),
        )
        for r in merged.itertuples()
    }
    assert got == want


doc_texts = st.lists(
    st.text(
        alphabet=st.sampled_from(list("ab c\tx\n")),
        max_size=40,
    ),
    min_size=1,
    max_size=8,
)


@pytest.mark.property
@given(texts=doc_texts)
@settings(**_SETTINGS)
def test_token_counts_matches_counter(spark, texts):
    """The in-row run-length term-frequency kernel (ext/text.token_counts)
    vs a pure-Python Counter on arbitrary whitespace-y strings — covers
    empty docs, all-whitespace docs, repeated tokens, and mixed
    separators (the classes the fixture corpus misses)."""
    from pyspark.sql import functions as F

    from gelly_streaming_spark.ext.text import token_counts

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: {p["token"]: p["occ"] for p in (r["pairs"] or [])}
        for r in df.select(
            "doc_id", token_counts(F.col("text")).alias("pairs")
        ).collect()
    }
    for i, t in enumerate(texts):
        expect = dict(collections.Counter(t.split()))
        assert got.get(i, {}) == expect, (i, repr(t))


@pytest.mark.property
@given(texts=doc_texts)
@settings(**_SETTINGS)
def test_shingle_ops_match_python_reference(spark, texts):
    """doc_shingles / ngram_repetition / decontaminate vs a pure-Python
    sliding-window reference on arbitrary whitespace-y strings — covers
    empty docs, docs shorter than n, duplicate shingles, and mixed
    separators. Blocklist = every third doc (so overlap both exists and
    is absent across generated cases)."""
    from pyspark.sql import functions as F

    from gelly_streaming_spark.ext.text import (
        decontaminate,
        doc_shingles,
        ngram_repetition,
    )

    n = 2
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def ref_shingles(t):
        toks = t.split()
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    got_sh = collections.defaultdict(list)
    for r in doc_shingles(df, n=n).collect():
        got_sh[r["doc_id"]].append(r["shingle"])
    for i, t in enumerate(texts):
        assert sorted(got_sh.get(i, [])) == sorted(ref_shingles(t)), (i, repr(t))

    got_rep = {
        r["doc_id"]: (r["n_ngrams"], r["n_distinct"])
        for r in ngram_repetition(df, n=n).collect()
    }
    for i, t in enumerate(texts):
        sh = ref_shingles(t)
        expect = (len(sh), len(set(sh))) if sh else None
        assert got_rep.get(i) == expect, (i, repr(t))

    block_ids = {i for i in range(len(texts)) if i % 3 == 0}
    block_sh = set().union(*(set(ref_shingles(texts[i])) for i in block_ids)) if block_ids else set()
    corpus = df.where(F.col("doc_id") % 3 != 0)
    block = df.where(F.col("doc_id") % 3 == 0)
    got_hits = {
        r["doc_id"]: r["n_hits"]
        for r in decontaminate(corpus, block, n=n).collect()
    }
    expect_hits = {}
    for i, t in enumerate(texts):
        if i in block_ids:
            continue
        hits = len(set(ref_shingles(t)) & block_sh)
        if hits:
            expect_hits[i] = hits
    assert got_hits == expect_hits


# ---------------------------------------------------------------------------
# URL canonicalization (ext/web): randomized structural properties
# ---------------------------------------------------------------------------
_url_labels = st.text(
    alphabet="abXY19-", min_size=1, max_size=6
).filter(lambda s: not s.startswith("-") and not s.endswith("-"))


@st.composite
def _urls(draw):
    scheme = draw(st.sampled_from(["http", "HTTP", "https", "HTTPS", "ftp"]))
    host = ".".join(draw(st.lists(_url_labels, min_size=1, max_size=4)))
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    path = draw(st.sampled_from(["", "/", "/A/b", "/Doc/9"]))
    query = draw(
        st.sampled_from(
            ["", "?id=1", "?utm_source=x", "?utm_a=1&id=2", "?id=2&fbclid=z&x=1"]
        )
    )
    frag = draw(st.sampled_from(["", "#F", "#a/b?c"]))
    return f"{scheme}://{host}{port}{path}{query}{frag}"


@pytest.mark.parametrize("n_urls", [24])
@given(data=st.data())
@settings(**_SETTINGS)
def test_url_canonicalize_properties(spark, data, n_urls):
    """Structural properties over random URLs: canonicalization is
    IDEMPOTENT (a canonical URL re-canonicalizes to itself), never emits
    fragments or tracking params, and the registered domain is a
    lowercase suffix of the host."""
    from pyspark.sql import functions as F

    from gelly_streaming_spark.ext.web import (
        canonicalize_url,
        registered_domain,
        url_host,
    )

    urls = [data.draw(_urls()) for _ in range(n_urls)]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    once = df.select(
        "url",
        canonicalize_url(F.col("url")).alias("c1"),
        url_host(F.col("url")).alias("host"),
        registered_domain(url_host(F.col("url"))).alias("dom"),
    )
    rows = once.select(
        "url", "c1", "host", "dom", canonicalize_url(F.col("c1")).alias("c2")
    ).collect()
    for r in rows:
        assert r.c2 == r.c1, (r.url, r.c1, r.c2)  # idempotent
        assert "#" not in r.c1, r.c1
        assert "utm_" not in r.c1 and "fbclid" not in r.c1, r.c1
        assert r.dom == r.dom.lower()
        assert r.dom == "" or r.host.endswith(r.dom), (r.host, r.dom)


@pytest.mark.parametrize("n_hosts", [48])
@given(data=st.data())
@settings(**_SETTINGS)
def test_psl_lookup_fuzz_matches_reference(spark, data, n_hosts):
    """Fuzz the broadcast-lookup registered-domain path against the
    pure-Python PSL reference over random hosts built from real-suffix
    tails, junk labels, EMPTY labels (leading/trailing/consecutive
    dots — the malformed contract), and unicode labels."""
    from pyspark.sql import functions as F

    from gelly_streaming_spark.ext.web import registered_domain_lookup
    from tests.test_psl import ref_regdomain

    label = st.sampled_from(
        ["a", "b9", "x-1", "www", "city", "edu", "公司", "straße", ""]
    )
    tail = st.sampled_from(
        ["", "com", "co.uk", "nsw.edu.au", "ck", "www.ck", "kawasaki.jp",
         "city.kawasaki.jp", "bd", "sch.uk", "unknowntld"]
    )

    def mk(d):
        parts = d.draw(st.lists(label, min_size=0, max_size=3))
        t = d.draw(tail)
        host = ".".join([p for p in parts] + ([t] if t else []))
        if d.draw(st.booleans()) and host:
            host += "."  # trailing-dot FQDN form
        return host

    hosts = [mk(data) for _ in range(n_hosts)]
    hosts = [h for h in hosts if h] or ["a.com"]
    df = spark.createDataFrame([(h,) for h in hosts], ["host"])
    got = {
        r.host: r.dom
        for r in registered_domain_lookup(df, F.col("host"), "dom").collect()
    }
    for h in set(hosts):
        assert got[h] == ref_regdomain(h), (h, got[h], ref_regdomain(h))


# ---------------------------------------------------------------------------
# r14 operators vs pure-Python oracles
# ---------------------------------------------------------------------------
def _py_kcore(edges, k, rounds):
    """Synchronous peel reference: adjacency over undirected distinct
    self-loop-free edges; each step removes every vertex with current
    degree < k simultaneously."""
    es = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    for _ in range(rounds):
        deg = collections.Counter()
        for a, b in es:
            deg[a] += 1
            deg[b] += 1
        keep = {v for v, d in deg.items() if d >= k}
        nes = {(a, b) for a, b in es if a in keep and b in keep}
        if nes == es:
            break
        es = nes
    deg = collections.Counter()
    for a, b in es:
        deg[a] += 1
        deg[b] += 1
    return dict(deg)


@pytest.mark.property
@given(
    edges=edge_lists,
    k=st.integers(1, 4),
    rounds=st.integers(1, 3),
    small=st.sampled_from([100_000, 0]),
)
@settings(**_SETTINGS)
def test_k_core_matches_python_peel(spark, edges, k, rounds, small):
    """Both paths: the driver fast peel (default) and the distributed
    loop (small_input_rows=0)."""
    from gelly_streaming_spark.algos.kcore import k_core

    got = {
        r.id: r.degree
        for r in k_core(
            GraphStream(_df(spark, edges)), k=k, rounds=rounds,
            small_input_rows=small,
        ).collect()
    }
    assert got == _py_kcore(edges, k, rounds)


def _py_weighted_lpa(edges, iters):
    """Synchronous weighted LPA reference (exact integer weights)."""
    agg = collections.Counter()
    for a, b, w in edges:
        if a != b:
            agg[(a, b)] += w
            agg[(b, a)] += w
    adj = collections.defaultdict(list)
    for (a, b), w in agg.items():
        adj[a].append((b, w))
    lbl = {v: v for v in adj}
    for _ in range(iters):
        nxt = {}
        for v, neigh in adj.items():
            sc = collections.Counter()
            for u, w in neigh:
                sc[lbl[u]] += w
            nxt[v] = min(sc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if nxt == lbl:
            break
        lbl = nxt
    return lbl


@pytest.mark.property
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14), st.integers(1, 9)),
        min_size=1,
        max_size=40,
    ),
    iters=st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_weighted_lpa_matches_python(spark, edges, iters):
    """Integer weights (exact as DECIMAL(18,2)) so the pure-Python
    Counter sums compare exactly; covers parallel-edge summing, both
    paths' tie-breaks, and early exit."""
    from gelly_streaming_spark.algos.lpa import weighted_label_propagation

    df = spark.createDataFrame(
        [(int(a), int(b), float(w)) for a, b, w in edges],
        "src long, dst long, val double",
    )
    ref = _py_weighted_lpa(edges, iters)
    if not ref:
        return  # all edges were self-loops: engine emits no rows either
    for small in (100_000, 0):
        got = {
            r.id: r.lbl
            for r in weighted_label_propagation(
                GraphStream(df), iters=iters, small_input_rows=small
            ).collect()
        }
        assert got == ref, (small, got, ref)


@pytest.mark.property
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    ),
    window=st.integers(1, 6),
    stride=st.integers(1, 6),
)
@settings(**_SETTINGS)
def test_chunk_documents_coverage_and_reconstruction(spark, texts, window, stride):
    stride = min(stride, window)  # stride > window raises by contract
    """Invariants over arbitrary docs/window/stride: every token is
    covered; non-overlapping reconstruction — concatenating each
    chunk's FIRST min(stride, n_tokens) tokens in chunk order restores
    the document when stride <= window; chunk token counts match the
    closed-form count; token-free docs absent."""
    from gelly_streaming_spark.ext.text import chunk_documents

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = chunk_documents(df, window=window, stride=stride).collect()
    by_doc = collections.defaultdict(dict)
    for r in rows:
        by_doc[r.doc_id][r.chunk_id] = (r.chunk.split(" ") if r.chunk else [], r.n_tokens)
    for i, text in enumerate(texts):
        toks = [t for t in text.split() if t]
        if not toks:
            assert i not in by_doc
            continue
        chunks = by_doc[i]
        n = len(toks)
        want = 1 if n <= window else -(-(n - window) // stride) + 1
        assert set(chunks) == set(range(want)), (toks, chunks)
        for cid, (ctoks, ntok) in chunks.items():
            start = cid * stride
            assert ctoks == toks[start : start + window]
            assert ntok == len(ctoks)
        if stride <= window:
            rebuilt = []
            for cid in range(want):
                ctoks = chunks[cid][0]
                rebuilt.extend(ctoks if cid == want - 1 else ctoks[:stride])
            # the last chunk contributes its whole window; earlier
            # chunks contribute their first `stride` tokens
            assert rebuilt[: len(toks)] == toks


def _py_bpe(texts, rounds):
    docs = [[t for t in s.split() if t] for s in texts]
    out = []
    for r in range(1, rounds + 1):
        cnt = collections.Counter()
        for d in docs:
            for i in range(len(d) - 1):
                cnt[(d[i], d[i + 1])] += 1
        if not cnt:
            break
        (a, b), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((r, a + " " + b, c))
        nd = []
        for d in docs:
            acc = d[:1]
            for x in d[1:]:
                if acc and acc[-1] == a and x == b:
                    acc[-1] = a + " " + b
                else:
                    acc.append(x)
            nd.append(acc)
        docs = nd
    return out


@pytest.mark.property
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=30),
        min_size=1,
        max_size=6,
    ),
    rounds=st.integers(1, 3),
    small=st.sampled_from([100_000, 0]),
)
@settings(**_SETTINGS)
def test_bpe_merges_matches_python(spark, texts, rounds, small):
    """Greedy merge induction vs a pure-Python reference on arbitrary
    token streams — covers overlapping runs (aaaa), recursion into
    merged symbols, tie-breaks, and pair-free early stop; both the
    driver fast path (default) and the distributed loop (small=0)."""
    from gelly_streaming_spark.ext.text import bpe_merges

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = sorted(
        (r.round, r.sym, r.cnt)
        for r in bpe_merges(df, rounds=rounds, small_input_rows=small).collect()
    )
    assert got == sorted(_py_bpe(texts, rounds))


@pytest.mark.property
@given(
    texts=st.lists(
        st.text(alphabet="abc !.", min_size=0, max_size=40),
        min_size=1,
        max_size=12,
    ),
    frac_pct=st.integers(1, 100),
)
@settings(**_SETTINGS)
def test_quality_fraction_filter_order_statistic(spark, texts, frac_pct):
    """Selection semantics vs the definition: keep exactly the docs
    whose quality ties-or-beats the k-th largest value (k =
    ceil(frac*n), ties included), for arbitrary corpora including
    all-tied and single-doc ones."""
    import math

    from pyspark.sql import functions as F

    from gelly_streaming_spark.ext.text import (
        quality_fraction_filter,
        quality_score,
    )

    frac = frac_pct / 100.0
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    q = {
        r.doc_id: r.q
        for r in df.select(
            "doc_id", quality_score(F.col("text")).alias("q")
        ).collect()
    }
    got = sorted(
        r.doc_id for r in quality_fraction_filter(df, keep_frac=frac).collect()
    )
    k = math.ceil(frac * len(texts))
    cutoff = sorted(q.values(), reverse=True)[k - 1]
    want = sorted(d for d, v in q.items() if v >= cutoff)
    assert got == want, (frac, q, got, want)


def _py_fold(d, a, b):
    acc = []
    for x in d:
        if acc and acc[-1] == a and x == b:
            acc[-1] = a + " " + b
        else:
            acc.append(x)
    return acc


def _py_bpe_batched(texts, rounds, batch_k):
    """Pure-Python reference of the batched path: per round, exact pair
    counts, top-4k pool by (cnt DESC, a, b), greedy symbol-disjoint
    selection, all selected rules folded in selection order."""
    docs = [[t for t in s.split() if t] for s in texts]
    out = []
    for r in range(1, rounds + 1):
        cnt = collections.Counter()
        for d in docs:
            for i in range(len(d) - 1):
                cnt[(d[i], d[i + 1])] += 1
        pool = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[: 4 * batch_k]
        used, rules = set(), []
        for (a, b), c in pool:
            if a in used or b in used:
                continue
            rules.append((a, b, c))
            used.update((a, b))
            if len(rules) >= batch_k:
                break
        if not rules:
            break
        out.extend((r, j, a + " " + b, c) for j, (a, b, c) in enumerate(rules, 1))
        docs = [
            [t for t in d] for d in docs
        ]
        for a, b, _c in rules:
            docs = [_py_fold(d, a, b) for d in docs]
    return out


@pytest.mark.property
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=30),
        min_size=1,
        max_size=6,
    ),
    rounds=st.integers(1, 2),
    batch_k=st.integers(2, 3),
    small=st.sampled_from([100_000, 0]),
)
@settings(**_SETTINGS)
def test_bpe_batched_matches_python(spark, texts, rounds, batch_k, small):
    """Batched disjoint-winner selection + one-pass application vs a
    pure-Python reference — covers pool cuts, symbol-conflict skips,
    and cross-round interaction of batch-applied merges, on both the
    driver fast path and the distributed loop. Also pins the
    disjointness equivalence: applying the round's rules sequentially
    (the reference) equals the engine's composed one-pass fold."""
    from gelly_streaming_spark.ext.text import bpe_merges

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = sorted(
        (r.round, r.rank, r.sym, r.cnt)
        for r in bpe_merges(
            df, rounds=rounds, batch_k=batch_k, small_input_rows=small
        ).collect()
    )
    assert got == sorted(_py_bpe_batched(texts, rounds, batch_k))


@pytest.mark.property
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=30),
        min_size=1,
        max_size=5,
    ),
    rule_ids=st.lists(st.integers(0, 5), min_size=1, max_size=4),
)
@settings(**_SETTINGS)
def test_bpe_encode_matches_python(spark, texts, rule_ids):
    """Apply-side encode vs the pure-Python sequential fold for
    arbitrary (possibly repeating, possibly recursive) rule tables."""
    from gelly_streaming_spark.ext.text import bpe_encode

    table = [
        ("a", "b"), ("b", "a"), ("a", "a"), ("b", "b"),
        ("a b", "a"), ("b", "a b"),
    ]
    rules = [table[i] for i in rule_ids]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r.doc_id: r.toks for r in bpe_encode(df, rules).collect()}
    for i, s in enumerate(texts):
        d = [t for t in s.split() if t]
        for a, b in rules:
            d = _py_fold(d, a, b)
        assert got[i] == d, (s, rules, got[i], d)
