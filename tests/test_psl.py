"""PSL registered-domain: wildcard/exception semantics + path parity.

VERDICT r9 items 2–3. Three implementations of one contract:
  (a) a pure-Python reference (here, in the test — independent truth),
  (b) the Column regex path (oracle dialect, `registered_domain`),
  (c) the broadcast-lookup scale path (`registered_domain_lookup`).
The differential pins (b) ≡ (c) ≡ (a) on hand-built adversarial hosts
covering every rule class; q49's driver row then hash-certifies (c)
against (b) on driver data.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gelly_streaming_spark.ext.web import (
    PSL_RULES,
    parse_psl,
    registered_domain,
    registered_domain_lookup,
)


def ref_regdomain(host: str, rules=PSL_RULES) -> str:
    """Pure-Python reference for the documented contract: exception
    beats wildcard beats longest normal rule beats the 2-label default;
    a host too shallow for its matched rule falls back to its last two
    labels (or '' below two labels)."""
    if host is None:
        return None  # NULL propagates (ADVICE r10 contract)
    if host == "" or "" in host.split("."):
        return ""  # malformed: empty label (documented contract)
    entries = parse_psl(rules).entries
    labels = host.split(".")
    n = len(labels)
    exc_eff = None
    for d in range(n, 0, -1):  # deepest exception first
        tail = ".".join(labels[n - d:])
        e = entries.get(tail)
        if e and e[1]:
            exc_eff = e[0]
            break
    if exc_eff is not None:
        eff = exc_eff
    else:
        # deepest rule that still leaves an extra label prevails (the
        # regex path's `[^.]+\.(alt)` shape — a host that IS a public
        # suffix falls through to the deepest shallower rule)
        eff = 1
        for d in range(1, n + 1):
            e = entries.get(".".join(labels[n - d:]))
            if e and not e[1] and n >= e[0] + 1:
                eff = max(eff, e[0])
    if n >= eff + 1:
        return ".".join(labels[n - eff - 1:])
    return ".".join(labels[-2:]) if n >= 2 else ""


# (host, expected) — expected values hand-derived from the PSL spec
CASES = [
    # exceptions: the rule itself is the registered domain
    ("www.ck", "www.ck"),
    ("a.www.ck", "www.ck"),
    ("b.a.www.ck", "www.ck"),
    ("city.kawasaki.jp", "city.kawasaki.jp"),
    ("a.city.kawasaki.jp", "city.kawasaki.jp"),
    ("city.kobe.jp", "city.kobe.jp"),
    # wildcards: one label under the wildcard is the suffix
    ("b.foo.ck", "b.foo.ck"),
    ("x.b.foo.ck", "b.foo.ck"),
    ("x.y.kawasaki.jp", "x.y.kawasaki.jp"),
    ("z.x.y.kawasaki.jp", "x.y.kawasaki.jp"),
    ("a.foo.bd", "a.foo.bd"),
    ("x.a.foo.bd", "a.foo.bd"),
    ("a.b.mm", "a.b.mm"),
    # hosts too shallow for their matched rule → last-2 fallback
    ("foo.ck", "foo.ck"),
    ("kawasaki.jp", "kawasaki.jp"),
    ("y.kawasaki.jp", "kawasaki.jp"),
    ("foo.bd", "foo.bd"),
    ("co.uk", "co.uk"),
    ("edu.au", "edu.au"),
    # normal rules at depths 2 and 3 (longest match wins)
    ("news.co.uk", "news.co.uk"),
    ("www.news.co.uk", "news.co.uk"),
    ("www.school.nsw.edu.au", "school.nsw.edu.au"),
    ("a.b.school.nsw.edu.au", "school.nsw.edu.au"),
    ("uni.example.edu.au", "example.edu.au"),
    # a host that IS a 3-label suffix: the deepest rule leaving an
    # extra label prevails (contract stability with the regex path)
    ("nsw.edu.au", "nsw.edu.au"),
    # wildcard base colliding with a sibling normal rule set (*.bd plus
    # explicit com.bd-style entries): both give eff 2
    ("foo.com.bd", "foo.com.bd"),
    ("x.foo.com.bd", "foo.com.bd"),
    # default (unknown TLD / plain .com)
    ("ex.com", "ex.com"),
    ("a.ex.com", "ex.com"),
    ("deep.a.ex.com", "ex.com"),
    ("single", ""),
    # boundary: suffix-like tail without a dot boundary is NOT a match
    ("xco.uk", "xco.uk"),
    ("awww.ck", "awww.ck"),  # not the www.ck exception
    # malformed hosts (empty labels) have no registered domain — the
    # contract that keeps the regex and lookup paths identical (before
    # it, 'example.com.' gave '' on regex vs 'com.' on lookup)
    ("example.com.", ""),
    ("www.news.co.uk.", ""),
    (".example.com", ""),
    ("a..b", ""),
    ("a..co.uk", ""),
    ("", ""),
    # NULL host propagates as NULL on BOTH paths (ADVICE r10: the
    # lookup path used to fall through size(NULL)=-1 to '')
    (None, None),
]


def test_reference_cases():
    for host, want in CASES:
        assert ref_regdomain(host) == want, host


def test_regex_path_matches_reference(spark):
    df = spark.createDataFrame([(h,) for h, _ in CASES], ["host"])
    got = {
        r.host: r.dom
        for r in df.select(
            "host", registered_domain(F.col("host")).alias("dom")
        ).collect()
    }
    for host, want in CASES:
        assert got[host] == want, (host, got[host], want)


def test_lookup_path_matches_reference(spark):
    df = spark.createDataFrame([(h,) for h, _ in CASES], ["host"])
    out = registered_domain_lookup(df, F.col("host"), "dom")
    got = {r.host: r.dom for r in out.collect()}
    for host, want in CASES:
        assert got[host] == want, (host, got[host], want)
    # no helper columns leak
    assert set(out.columns) == {"host", "dom"}


def test_lookup_plan_is_broadcast_no_corpus_shuffle(spark):
    from gelly_streaming_spark.plans.checks import explain_str

    df = spark.range(100).withColumn(
        "host", F.concat(F.lit("a"), F.col("id").cast("string"), F.lit(".ex.co.uk"))
    )
    plan = explain_str(registered_domain_lookup(df, F.col("host"), "dom"))
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_parse_psl_file_dialect(tmp_path):
    p = tmp_path / "psl.dat"
    p.write_text(
        "// ===BEGIN ICANN DOMAINS===\n"
        "\n"
        "uk\n"
        "co.uk\n"
        "*.ck\n"
        "!www.ck\n"
        "// comment line\n"
        "// ===BEGIN PRIVATE DOMAINS===\n"
        "blogspot.com\n"
    )
    from gelly_streaming_spark.ext.web import load_psl_file

    rules = load_psl_file(str(p))
    assert "blogspot.com" not in rules  # private section cut
    t = parse_psl(rules)
    assert t.entries["co.uk"] == (2, False)
    assert t.entries["ck"] == (2, False)  # wildcard base → eff 2
    assert t.entries["www.ck"] == (1, True)
    # a bare-TLD normal rule is dropped: eff 1 == the implicit default
    assert "uk" not in t.entries


def test_parse_psl_merge_prefers_longer_eff():
    # a key that is BOTH a normal rule and a wildcard base keeps the
    # wildcard's larger eff (longest matching rule prevails)
    t = parse_psl(("kobe.jp", "*.kobe.jp"))
    assert t.entries["kobe.jp"] == (3, False)
    t2 = parse_psl(("*.kobe.jp", "kobe.jp"))  # order-independent
    assert t2.entries["kobe.jp"] == (3, False)


def test_paths_agree_on_random_hosts(spark):
    """Wider differential: synthesized hosts mixing known suffixes,
    wildcard bases, exceptions, and junk labels."""
    import itertools

    prefixes = ["", "a.", "b.a.", "x-1.", "sub.domain."]
    tails = [
        "co.uk", "edu.au", "nsw.edu.au", "kawasaki.jp", "ck", "www.ck",
        "city.kawasaki.jp", "bd", "com.bd", "com", "org.unknowntld",
        "gob.mx", "k12.tr", "school.nz",
    ]
    hosts = [p + t for p, t in itertools.product(prefixes, tails)]
    df = spark.createDataFrame([(h,) for h in hosts], ["host"])
    regex = {
        r.host: r.dom
        for r in df.select(
            "host", registered_domain(F.col("host")).alias("dom")
        ).collect()
    }
    lookup = {
        r.host: r.dom
        for r in registered_domain_lookup(df, F.col("host"), "dom").collect()
    }
    for h in hosts:
        want = ref_regdomain(h)
        assert regex[h] == want, ("regex", h, regex[h], want)
        assert lookup[h] == want, ("lookup", h, lookup[h], want)


def test_vendored_full_psl_loaded():
    """The package default is the FULL vendored ICANN section (7,380
    rules) read from the packaged data file: every rule class present."""
    assert len(PSL_RULES) > 7000
    t = parse_psl()
    assert t.entries["www.ck"] == (1, True)              # exception
    assert t.entries["city.kawasaki.jp"] == (2, True)    # exception
    assert t.entries["jm"] == (2, False)                 # *.jm
    assert t.entries["nom.br"] == (3, False)             # *.nom.br
    assert t.entries["sch.uk"] == (3, False)             # *.sch.uk
    assert t.entries["kobe.jp"] == (3, False)            # *.kobe.jp
    assert t.entries["co.uk"] == (2, False)              # normal d2
    assert "uk" not in t.entries                         # bare TLD dropped
    # IDN rules are carried in Unicode form (matching boundary is
    # documented: Unicode hosts match; punycode needs IDNA upstream)
    assert any(any(ord(c) > 127 for c in k) for k in t.entries)
    assert t.depths == (1, 2, 3, 4)


def test_full_psl_lookup_differential_sampled(spark):
    """Lookup ≡ reference over hosts synthesized from REAL full-file
    rules of every depth and class (normal/wildcard/exception), with
    0–2 extra labels each — exercises the depth-4 table and the
    broadcast join tiers a small rule excerpt never reaches."""
    t = parse_psl()
    keys = sorted(t.entries)
    sample = []
    for d in t.depths:
        at_depth = [k for k in keys if k.count(".") + 1 == d]
        sample += at_depth[:: max(1, len(at_depth) // 40)][:40]
    hosts = []
    for k in sample:
        hosts += [k, f"one.{k}", f"two.one.{k}"]
    df = spark.createDataFrame([(h,) for h in hosts], ["host"])
    got = {
        r.host: r.dom
        for r in registered_domain_lookup(df, F.col("host"), "dom").collect()
    }
    for h in hosts:
        assert got[h] == ref_regdomain(h), (h, got[h], ref_regdomain(h))


def test_depth1_exception_rules_custom_set(spark):
    """A !tld exception (never in the ICANN file, but expressible via
    the public rules parameter) must behave identically on both paths:
    the exception tail IS the registered domain (review finding — the
    lookup path used to drop depth-1 exceptions entirely)."""
    rules = ("*.ck", "!ck", "co.uk")
    hosts = ["ck", "foo.ck", "a.foo.ck", "b.a.foo.ck", "news.co.uk"]
    want = {h: ref_regdomain(h, rules) for h in hosts}
    # independent spot checks of the reference itself
    assert want["foo.ck"] == "ck"      # exception beats the wildcard
    assert want["a.foo.ck"] == "ck"
    assert want["news.co.uk"] == "news.co.uk"
    df = spark.createDataFrame([(h,) for h in hosts], ["host"])
    regex = {
        r.host: r.dom
        for r in df.select(
            "host", registered_domain(F.col("host"), rules).alias("dom")
        ).collect()
    }
    lookup = {
        r.host: r.dom
        for r in registered_domain_lookup(
            df, F.col("host"), "dom", rules
        ).collect()
    }
    for h in hosts:
        assert regex[h] == want[h], ("regex", h, regex[h], want[h])
        assert lookup[h] == want[h], ("lookup", h, lookup[h], want[h])
