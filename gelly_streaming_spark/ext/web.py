"""URL / domain curation — the web-provenance half of a pre-training
corpus pipeline (C4/RefinedWeb-style): canonicalize crawl URLs, extract
the registered domain, and filter against a domain blocklist.

North-star extension (BASELINE.json): no reference counterpart
(gelly-streaming has no document surface).

Everything here is pure column expressions in the Java∩RE2 regex
dialect (the same discipline as ``ext/text.PII_PATTERNS``), so the
operators fuse into the scan with zero shuffles/UDFs AND the DuckDB
oracle can apply the identical transformations (q49).

Canonical form (documented contract, applied in order):
  1. scheme and host lowercased (path/query case preserved)
  2. fragment dropped (``#...``)
  3. tracking parameters dropped (``utm_*``, ``fbclid``, ``gclid``),
     with a dangling ``?``/``&`` cleaned up
  4. default ports stripped (``:80`` for http, ``:443`` for https)
  5. trailing slash dropped from a bare host path

Registered domain: one label more than the longest matching public
suffix (PSL algorithm, publicsuffix.org): normal rules match their own
labels, ``*.base`` wildcard rules match one extra label, ``!rule``
exception rules carve a name back OUT of a wildcard (the exception's
own labels are NOT a suffix — ``!www.ck`` under ``*.ck`` means
www.ck is a registrable domain). When no multi-label rule matches, the
suffix is the bare TLD (the PSL's implicit ``*`` default) and the
registered domain is the last two labels.

Two interchangeable implementations of the same contract:

- :func:`registered_domain` — pure Column regex (RE2∩Java dialect).
  O(|PSL|) alternation per row: fine for the DuckDB oracle (RE2
  compiles the ~5,900-branch alternation to a DFA — measured 0.2 s for
  5 k rows) and for small rule sets, WRONG for the engine hot path at
  corpus scale (Java regex alternations don't trie-compile — measured
  ~40× per-row overhead already at 539 rules).
- :func:`domain_filter` (lookup path) — split the host once, then ONE
  broadcast hash join of the 2-label tail against the unified rule
  table (deeper rules ride the matched row as tiny arrays probed
  in-row): O(1)-ish work per row, zero corpus shuffles. The per-query
  broadcast-exchange latency (~0.3 s for the 4k-row relation on
  local[32]) is a fixed cost of the same class as the documented
  control-plane floor — it amortizes over the scan at corpus scale.

The DEFAULT rule set is the FULL vendored ICANN section of the Public
Suffix List (``public_suffix_list.dat`` alongside this module —
publicsuffix.org data via the distro's ``publicsuffix`` package,
MPL-2.0, license header preserved; 7,380 rules, 18 wildcards, 8
exceptions, max depth 4). It ships as package data and is read at
import, so an install without it fails there instead of answering from
a different rule set. A newer file drops in via :func:`load_psl_file`;
the parser accepts the raw publicsuffix.org format, including
wildcard/exception syntax.
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# PSL_RULES — the package default — is assigned right after
# load_psl_file's definition below: the FULL vendored ICANN section of
# the Public Suffix List (publicsuffix.org — public data, MPL-2.0,
# license header preserved in the vendored file; 7,380 rules incl. 18
# wildcards and 8 exceptions, max depth 4). The file ships as package
# data; an install without it fails at import. IDN boundary: the PSL
# carries IDN rules in Unicode form (公司.cn, …) — they match hosts
# presented in the same Unicode form; punycode (xn--) hosts need IDNA
# normalization upstream of the lookup, as the PSL algorithm specifies.
_PSL_DATA = Path(__file__).parent / "public_suffix_list.dat"


def load_psl_file(path: str) -> tuple[str, ...]:
    """Read a raw publicsuffix.org file, returning the ICANN-section
    rule lines (comments/blank lines dropped, private section cut at
    the ``===BEGIN PRIVATE DOMAINS===`` marker) for :func:`parse_psl`."""
    rules: list[str] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if "===BEGIN PRIVATE DOMAINS===" in line:
                break
            if not line or line.startswith("//"):
                continue
            rules.append(line)
    return tuple(rules)


PSL_RULES: tuple[str, ...] = load_psl_file(str(_PSL_DATA))


@dataclass(frozen=True)
class PslTable:
    """Parsed PSL rules, keyed for O(1) tail lookups.

    ``entries`` maps a label-tail key to ``(eff, is_exc)`` where ``eff``
    is the public-suffix label count implied when that key is the
    prevailing match: a normal rule of depth d → (d, False); a wildcard
    ``*.base`` keys on its base with (d_base + 1, False); an exception
    ``!rule`` keys on its own labels with (d_rule − 1, True). ``depths``
    is the sorted set of key depths present (drives how many candidate
    tails the lookup computes per host).
    """

    entries: dict[str, tuple[int, bool]]
    depths: tuple[int, ...]


def parse_psl(rules: tuple[str, ...] = PSL_RULES) -> PslTable:
    """Parse PSL-syntax rules into a lookup table. Accepts the raw file
    dialect: ``//`` comments and blank lines are skipped; ``*.base``
    wildcards and ``!rule`` exceptions are keyed as documented on
    :class:`PslTable`. When a key collides (e.g. a normal rule AND a
    wildcard base share labels), the larger ``eff`` wins — PSL semantics
    say the longest matching rule prevails — except that an exception
    entry always keeps its exception ``eff`` (exceptions beat wildcards
    by definition)."""
    entries: dict[str, tuple[int, bool]] = {}
    for raw in rules:
        line = raw.strip()
        if not line or line.startswith("//"):
            continue
        if line.startswith("!"):
            key = line[1:]
            eff = key.count(".")  # depth − 1
            entries[key] = (eff, True)
        elif "." not in line and not line.startswith("*"):
            # depth-1 normal rule (a bare TLD): its eff of 1 equals the
            # implicit `*` default the lookup already applies, so
            # storing ~1,500 of them only bloats the depth-1 table and
            # the oracle alternation without changing any output
            continue
        elif line.startswith("*."):
            key = line[2:]
            eff = key.count(".") + 2  # base depth + 1
            prev = entries.get(key)
            if prev is None or (not prev[1] and prev[0] < eff):
                entries[key] = (eff, False)
        else:
            eff = line.count(".") + 1
            prev = entries.get(line)
            if prev is None or (not prev[1] and prev[0] < eff):
                entries[line] = (eff, False)
    depths = tuple(sorted({k.count(".") + 1 for k in entries}))
    return PslTable(entries=entries, depths=depths)


def suffix_alternation(rules: tuple[str, ...] = PSL_RULES) -> str:
    """Escaped regex alternation over the non-exception suffix rules,
    DEEPEST effective depth first: both Java regex and RE2 (DuckDB) try
    alternatives leftmost-first, so ``nsw.edu.au`` must precede
    ``edu.au`` or a host under the 3-label registry would resolve to
    the 2-label suffix. Wildcard rules emit ``[^.]+\\.base`` branches
    (group-free, so the caller's capture numbering is stable).
    Exceptions are NOT representable in a flat alternation — callers
    must pre-check :func:`exception_alternation` first. Shared by the
    Column path and the q49 oracle — one source of truth."""
    branches: list[tuple[int, str, str]] = []
    for key, (eff, is_exc) in parse_psl(rules).entries.items():
        if is_exc:
            continue
        esc = key.replace(".", r"\.")
        depth = key.count(".") + 1
        pat = rf"[^.]+\.{esc}" if eff == depth + 1 else esc
        branches.append((eff, key, pat))
    ordered = sorted(branches, key=lambda t: (-t[0], t[1]))
    return "|".join(p for _, _, p in ordered)


def exception_alternation(rules: tuple[str, ...] = PSL_RULES) -> str:
    """Escaped alternation over exception rules (each rule IS the
    registered domain when it matches a host tail). Empty string when
    the rule set has no exceptions."""
    keys = sorted(
        k for k, (_, is_exc) in parse_psl(rules).entries.items() if is_exc
    )
    return "|".join(k.replace(".", r"\.") for k in keys)

_SCHEME_HOST = r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"
_TRACKING = r"(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*"


def canonicalize_url(url: Column) -> Column:
    """Apply the module's canonical form (see module docstring). Every
    pattern is lookaround-free (RE2-compatible) so the oracle replays
    the identical pipeline — default-port stripping captures the
    following delimiter instead of looking ahead at it."""
    # 1. lowercase scheme+host only: rebuild as lower(prefix) + rest
    prefix = F.regexp_extract(url, _SCHEME_HOST, 1)
    u = F.concat(F.lower(prefix), url.substr(F.length(prefix) + 1, F.length(url)))
    # 2. drop fragment
    u = F.regexp_replace(u, r"#.*$", "")
    # 3. drop tracking params, then clean a dangling '?'/'&' and '?&'
    u = F.regexp_replace(u, _TRACKING, "")
    u = F.regexp_replace(u, r"\?&", "?")
    u = F.regexp_replace(u, r"&&+", "&")
    u = F.regexp_replace(u, r"[?&]$", "")
    # 4. strip default ports (delimiter captured, not looked-ahead)
    u = F.regexp_replace(u, r"^(http://[^/:?#]+):80($|[/?#])", "$1$2")
    u = F.regexp_replace(u, r"^(https://[^/:?#]+):443($|[/?#])", "$1$2")
    # 5. trailing slash on a bare host
    u = F.regexp_replace(u, r"^([A-Za-z0-9+.-]+://[^/?#]+)/$", "$1")
    return u


def url_host(url: Column) -> Column:
    """Lowercased host (no port) of a URL."""
    return F.lower(F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1))


def registered_domain(
    host: Column, rules: tuple[str, ...] = PSL_RULES
) -> Column:
    """Registered (pay-level) domain of a lowercased host, pure-Column
    regex path: one label more than the longest matching public suffix
    (alternation tried deepest-first, wildcards as ``[^.]+`` branches),
    with exception rules pre-checked (an exception tail IS the
    registered domain). Falls back to the last two labels when no
    multi-label rule matches, or when the host is too shallow for the
    matched rule (the host IS a public suffix — kept for contract
    stability with the pre-wildcard rounds).

    Malformed hosts — empty string, or any EMPTY LABEL (leading dot,
    trailing-dot FQDN form, consecutive dots) — have no registered
    domain ('') by documented contract: before this rule the regex and
    lookup paths silently diverged on them (regex re-anchored to the
    longest clean tail while the split-based lookup carried empty
    labels into the output — 'example.com.' gave '' vs 'com.').

    A NULL host yields NULL (SQL-natural propagation), explicitly
    gated in BOTH paths: before the explicit clause the regex path
    propagated NULL while the lookup path fell through size(NULL)=-1
    to the '' branch (ADVICE r10).

    O(|rules|) regex work per row — use the :func:`domain_filter`
    lookup path in the engine hot path; this form exists for small rule
    sets and as the shared semantics spec for the DuckDB oracle."""
    alt = suffix_alternation(rules)
    exc = exception_alternation(rules)
    deep = F.regexp_extract(host, rf"([^.]+\.({alt}))$", 1)
    two = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    out = F.when(deep != "", deep).otherwise(two)
    if exc:
        exc_hit = F.regexp_extract(host, rf"(^|\.)({exc})$", 2)
        out = F.when(exc_hit != "", exc_hit).otherwise(out)
    return (
        F.when(host.isNull(), F.lit(None).cast("string"))
        .when(_malformed_host(host), F.lit(""))
        .otherwise(out)
    )


def _malformed_host(host: Column) -> Column:
    """Empty host or any empty label (``.x``, ``x.``, ``x..y``)."""
    return (host == "") | host.rlike(r"^\.|\.\.|\.$")


# Two-level rule-table cache. Level 1 (process-wide, session-free):
# the rendered VALUES SQL text per ruleset — the Python-side bucket
# grouping + row rendering runs once per process. Level 2 (per
# session): the analyzed DataFrame, so repeat runs skip the ~0.2–0.9 s
# parse+analyze of the multi-k-row VALUES statement. LIFETIME (ADVICE
# r10): the keys are weak, but each cached DataFrame strongly
# references its session, so a session is only collected — and its
# entry only dropped — after user code releases the DataFrames too; in
# practice entries persist for the process lifetime. That is a BOUNDED
# cost by design: one ~4k-row logical plan per (session, ruleset) pair,
# a few MB against the JVM heap, not a growth path.
_RULE_SQL_CACHE: dict[tuple, str | None] = {}
_RULE_TABLE_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _rule_table(
    spark: SparkSession, rules: tuple[str, ...], table: PslTable
) -> DataFrame | None:
    """ONE LocalRelation for the whole rule set, keyed on the last-2-label
    tail: the exact depth-2 rule (eff/exc, nullable) plus every deeper
    rule sharing that tail carried as parallel arrays (ICANN buckets are
    tiny — max 142 deep rules under one tail, hokkaido.jp). One broadcast
    hash join + in-row array probes replaces one join per depth: at
    sf0.1 the extra depth-3 broadcast build alone cost ~0.2-0.4 s per
    run after the full 7,380-rule PSL landed. Depth-1 entries (wildcard
    bases) are excluded — they stay literal isin predicates. None when
    the rule set has no depth>=2 entries."""
    per_session = _RULE_TABLE_CACHE.setdefault(spark, {})
    if rules in per_session:
        return per_session[rules]
    if rules in _RULE_SQL_CACHE:
        sql = _RULE_SQL_CACHE[rules]
        tbl = spark.sql(sql) if sql is not None else None
        per_session[rules] = tbl
        return tbl
    from collections import defaultdict

    exact2: dict[str, tuple[int, bool]] = {}
    deep: dict[str, list[tuple[str, int, bool]]] = defaultdict(list)
    for k, (eff, exc) in table.entries.items():
        d = k.count(".") + 1
        if d == 1:
            continue
        if d == 2:
            exact2[k] = (eff, exc)
        else:
            deep[".".join(k.split(".")[-2:])].append((k, eff, exc))
    keys = sorted(set(exact2) | set(deep))
    if not keys:
        _RULE_SQL_CACHE[rules] = None
        per_session[rules] = None
        return None

    def q(x: str) -> str:
        return "'" + x.replace("'", "''") + "'"

    # VALUES LocalRelation, not createDataFrame — the first
    # createDataFrame in a session pays ~3.5 s of Python-conversion
    # machinery (r6 fixture lesson); VALUES parses in milliseconds.
    rows = []
    for k in keys:
        e2 = exact2.get(k)
        dk = deep.get(k)
        eff2 = str(e2[0]) if e2 else "CAST(NULL AS INT)"
        exc2 = str(e2[1]).lower() if e2 else "CAST(NULL AS BOOLEAN)"
        if dk:
            a_k = "array(" + ",".join(q(x[0]) for x in dk) + ")"
            a_e = "array(" + ",".join(str(x[1]) for x in dk) + ")"
            a_x = "array(" + ",".join(str(x[2]).lower() for x in dk) + ")"
        else:
            a_k = "CAST(NULL AS ARRAY<STRING>)"
            a_e = "CAST(NULL AS ARRAY<INT>)"
            a_x = "CAST(NULL AS ARRAY<BOOLEAN>)"
        rows.append(f"({q(k)}, {eff2}, {exc2}, {a_k}, {a_e}, {a_x})")
    sql = (
        "SELECT * FROM VALUES "
        + ", ".join(rows)
        + " t(__psl_key, __psl_eff2, __psl_exc2,"
        " __psl_dkeys, __psl_deffs, __psl_dexcs)"
    )
    _RULE_SQL_CACHE[rules] = sql
    tbl = spark.sql(sql)
    per_session[rules] = tbl
    return tbl


def registered_domain_lookup(
    df: DataFrame,
    host: Column,
    out_col: str = "domain",
    rules: tuple[str, ...] = PSL_RULES,
) -> DataFrame:
    """Append ``out_col`` = registered domain of ``host`` via the scale
    path: split the host ONCE, broadcast-hash-join its 2-label tail
    against the unified rule table (one probe per row; deeper rules ride
    that row as tiny arrays probed in-row; depth-1 wildcard bases are a
    literal isin), O(1)-ish work per row instead of O(|PSL|) regex
    alternation backtracking (VERDICT r9 item 2: the 539-branch
    alternation measured ~40× the per-row cost of DuckDB's DFA replay).
    The corpus never shuffles — the single join is a BroadcastHashJoin
    on a ≤4k-row LocalRelation.

    Semantics are identical to :func:`registered_domain` (differential
    test in tests/test_psl.py pins lookup ≡ regex ≡ a pure-Python PSL
    reference on adversarial hosts and on hosts synthesized from the
    full vendored rule set): exception beats wildcard beats longest
    normal rule beats the 2-label default, a host too shallow for
    its matched rule falls back to its last two labels, malformed
    hosts (any empty label) give '', and a NULL host gives NULL."""
    clash = [c for c in df.columns if c.startswith("__psl_")]
    if clash:
        raise ValueError(
            f"input columns collide with lookup helpers: {clash}"
        )
    spark = df.sparkSession
    table = parse_psl(rules)
    rtab = _rule_table(spark, rules, table)

    labels = F.split(host, r"\.")
    n = F.size(labels)
    df = df.withColumn("__psl_labels", labels).withColumn("__psl_n", n)
    labels, n = F.col("__psl_labels"), F.col("__psl_n")
    drop: list[str] = ["__psl_labels", "__psl_n"]

    def tail(d: int) -> Column:
        return F.when(
            n >= d, F.concat_ws(".", F.slice(labels, n - F.lit(d) + 1, d))
        )

    # precedence inputs: exceptions deepest-first, then gated rules.
    # a normal/wildcard rule only prevails when the host has an extra
    # label beyond the suffix (n >= eff+1) — the regex path's
    # `[^.]+\.(alt)` shape encodes exactly this, and hosts that ARE a
    # public suffix fall through to the deepest shallower rule
    # (e.g. host nsw.edu.au -> edu.au prevails -> nsw.edu.au)
    exc_cols: list[Column] = []
    eff_cols: list[Column] = []

    if rtab is not None:
        max_depth = max(table.depths)
        df = df.withColumn("__psl_tail2", tail(2)).join(
            F.broadcast(rtab),
            F.col("__psl_tail2") == F.col("__psl_key"),
            "left",
        )
        drop += ["__psl_tail2", "__psl_key", "__psl_eff2", "__psl_exc2",
                 "__psl_dkeys", "__psl_deffs", "__psl_dexcs"]
        dkeys = F.col("__psl_dkeys")
        for d in range(max_depth, 2, -1):  # deepest first
            tcol = f"__psl_tail{d}"
            df = df.withColumn(tcol, tail(d))
            drop.append(tcol)
            idx = F.array_position(dkeys, F.col(tcol)).cast("int")
            hit = idx > 0
            e_d = F.when(hit, F.element_at(F.col("__psl_deffs"), idx))
            x_d = F.when(hit, F.element_at(F.col("__psl_dexcs"), idx))
            exc_cols.append(F.when(F.coalesce(x_d, F.lit(False)), e_d))
            eff_cols.append(
                F.when(~F.coalesce(x_d, F.lit(False)) & (n >= e_d + 1), e_d)
            )
        eff2, exc2 = F.col("__psl_eff2"), F.col("__psl_exc2")
        exc_cols.append(F.when(F.coalesce(exc2, F.lit(False)), eff2))
        eff_cols.append(
            F.when(~F.coalesce(exc2, F.lit(False)) & (n >= eff2 + 1), eff2)
        )

    # depth-1 rules (a handful: *.ck-style wildcard bases, and — only
    # via custom rule sets, never the ICANN file — !tld exceptions) stay
    # literal isin predicates
    d1 = sorted(
        (k, eff, x) for k, (eff, x) in table.entries.items()
        if k.count(".") + 1 == 1
    )
    if d1:
        tail1 = F.element_at(labels, -1)
        w1: Column = F.lit(None).cast("int")
        for e in sorted({eff for _, eff, x in d1 if not x}):
            keys1 = [k for k, eff, x in d1 if eff == e and not x]
            w1 = F.when(tail1.isin(*keys1), F.lit(e)).otherwise(w1)
        eff_cols.append(F.when(n >= w1 + 1, w1))
        exc1 = [(k, eff) for k, eff, x in d1 if x]
        for e in sorted({eff for _, eff in exc1}):
            keys1 = [k for k, eff in exc1 if eff == e]
            # shallowest exceptions append LAST: exc_cols precedence is
            # deepest-first and d2+ entries were appended above
            exc_cols.append(F.when(tail1.isin(*keys1), F.lit(e)))

    exc_eff = F.coalesce(*exc_cols, F.lit(None)) if exc_cols else F.lit(None)
    norm_eff = (
        F.greatest(*[F.coalesce(c, F.lit(1)) for c in eff_cols], F.lit(1))
        if eff_cols
        else F.lit(1)
    )
    eff = F.coalesce(exc_eff, norm_eff)
    two = F.when(n >= 2, F.concat_ws(".", F.slice(labels, n - 1, 2))).otherwise(
        F.lit("")
    )
    dom = F.when(
        n >= eff + 1, F.concat_ws(".", F.slice(labels, n - eff, eff + 1))
    ).otherwise(two)
    # malformed hosts (empty labels) have no registered domain — the
    # documented contract shared with the regex path (see
    # registered_domain): without it the two paths diverged on
    # trailing-dot FQDNs ('example.com.' → '' vs 'com.'). Derived from
    # the split already materialized above (an empty host splits to
    # ['']), NOT _malformed_host — that rlike would re-evaluate the
    # whole host expression with an extra per-row regex on the hot path.
    dom = F.when(F.array_contains(labels, F.lit("")), F.lit("")).otherwise(dom)
    # NULL host → NULL domain, matching the regex path's NULL
    # propagation (ADVICE r10: size(NULL)=-1 used to fall through every
    # gate to the '' branch here). Probes the already-materialized
    # labels column — split(NULL) is NULL — so the (possibly expensive)
    # host expression is not re-evaluated.
    dom = F.when(labels.isNull(), F.lit(None).cast("string")).otherwise(dom)
    return df.withColumn(out_col, dom).drop(*drop)


def domain_filter(
    docs: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    rules: tuple[str, ...] = PSL_RULES,
) -> DataFrame:
    """Append ``url_canon``, ``domain``, and ``blocked`` to ``docs``.

    ``blocklist`` is a one-column (``domain``) table of registered
    domains to flag. Scale shape: the canonicalization projection fuses
    into the scan; the registered domain comes from the
    :func:`registered_domain_lookup` broadcast-probe path (O(1) hash
    probes per row — not the O(|PSL|) regex alternation); the blocklist
    (small by nature — even industry lists are ~10⁵ rows) joins as an
    AQE broadcast LEFT SEMI probe marked via a left join on the derived
    domain. The corpus never shuffles."""
    u = canonicalize_url(F.col(url_col))
    out = docs.withColumn("url_canon", u)
    out = registered_domain_lookup(out, url_host(F.col(url_col)), "domain", rules)
    # distinct() before the probe: real-world blocklists carry repeats,
    # and a duplicated domain row would silently MULTIPLY matching corpus
    # rows through the left join (ADVICE r8). The distinct runs on the
    # small side only — the corpus still never shuffles.
    bl = (
        blocklist.select(F.col("domain").alias("domain"))
        .distinct()
        .withColumn("blocked", F.lit(True))
    )
    return (
        out.join(F.broadcast(bl), "domain", "left")
        .withColumn("blocked", F.coalesce(F.col("blocked"), F.lit(False)))
    )
