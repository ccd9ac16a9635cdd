"""SURVEY.md §5 layer 1: robots matcher vs urllib.robotparser on generated
rule sets, longest-prefix golden cases, and the engine's JVM matcher vs the
scalar one."""

from __future__ import annotations

import urllib.robotparser

from hypothesis import given, settings
from hypothesis import strategies as st

from crawlspark.functions.robots import allowed, path_of


def test_golden_longest_prefix():
    rules = [
        {"allow": True, "prefix": "/"},
        {"allow": False, "prefix": "/private"},
        {"allow": True, "prefix": "/private/ok"},
    ]
    assert allowed("/index", rules)
    assert not allowed("/private/x", rules)
    assert allowed("/private/ok/y", rules)  # longer Allow overrides Disallow
    assert allowed("/anything", None)
    assert allowed("/anything", [])


def test_tie_prefers_allow():
    rules = [
        {"allow": False, "prefix": "/a"},
        {"allow": True, "prefix": "/a"},
    ]
    assert allowed("/a/x", rules)


def test_path_of():
    assert path_of("http://h.example/a/b?q=1") == "/a/b?q=1"
    assert path_of("http://h.example") == "/"


_SEGMENTS = st.lists(
    st.sampled_from(["a", "b", "private", "data", "x1"]), min_size=1, max_size=3
)


@settings(max_examples=100, deadline=None)
@given(
    rule_specs=st.lists(
        st.tuples(st.booleans(), _SEGMENTS), min_size=0, max_size=5
    ),
    path_segs=_SEGMENTS,
)
def test_matches_urllib_robotparser(rule_specs, path_segs):
    """Property: our longest-prefix matcher agrees with the stdlib parser on
    prefix-only rule sets (no wildcards).  robotparser implements RFC 9309
    longest-match, the same [typical] semantics SURVEY.md §2.5 adopts."""
    # stdlib robotparser is FIRST-match in file order (pre-RFC-9309); feeding
    # it rules longest-first with Allow before Disallow on ties makes its
    # first-match equal RFC 9309 longest-match — which is what we implement.
    rules = []
    for allow_flag, segs in rule_specs:
        prefix = "/" + "/".join(segs)
        rules.append({"allow": allow_flag, "prefix": prefix})
    lines = ["User-agent: *"] + [
        ("Allow: " if r["allow"] else "Disallow: ") + r["prefix"]
        for r in sorted(rules, key=lambda r: (-len(r["prefix"]), not r["allow"]))
    ]
    rp = urllib.robotparser.RobotFileParser()
    rp.parse(lines)
    path = "/" + "/".join(path_segs)
    assert allowed(path, rules) == rp.can_fetch("*", "http://h.example" + path)


def test_wildcard_patterns():
    """RFC 9309 §2.2.2: '*' spans any characters, '$' anchors the end."""
    rules = [
        {"allow": True, "prefix": "/"},
        {"allow": False, "prefix": "/*.pdf$"},
        {"allow": False, "prefix": "/private/*/drafts"},
    ]
    assert not allowed("/docs/report.pdf", rules)
    assert allowed("/docs/report.pdf.html", rules)  # $ anchor holds
    assert not allowed("/private/alice/drafts", rules)
    assert not allowed("/private/alice/drafts/x", rules)  # prefix after match
    assert allowed("/private/alice/published", rules)


def test_wildcard_longest_pattern_wins():
    rules = [
        {"allow": False, "prefix": "/a/*"},
        {"allow": True, "prefix": "/a/*/public"},
    ]
    assert allowed("/a/x/public", rules)
    assert not allowed("/a/x/secret", rules)


def test_dollar_only_and_star_only():
    assert not allowed("/", [{"allow": False, "prefix": "/$"}])
    assert allowed("/x", [{"allow": False, "prefix": "/$"}])
    assert not allowed("/anything", [{"allow": False, "prefix": "/*"}])


def test_anchored_repeated_suffix():
    """$-anchored patterns whose final literal occurs more than once must
    match via the *last* occurrence, not the first (greedy-first-occurrence
    scanning wrongly rejected these in round 1)."""
    from crawlspark.functions.robots import _pattern_matches

    assert _pattern_matches("/a.pdf.pdf", "/*.pdf$")
    assert _pattern_matches("/axbxb", "/a*b$")
    assert not _pattern_matches("/a.pdfx", "/*.pdf$")
    assert _pattern_matches("/abb", "/a*b*b$")
    assert not _pattern_matches("/ab", "/a*b*b$")
    assert not _pattern_matches("/ab", "/a*ab$")  # suffix may not overlap prefix
    assert _pattern_matches("/fish.php?id=anything", "/fish*.php")
    assert not allowed("/a.pdf.pdf", [{"allow": False, "prefix": "/*.pdf$"}])


def test_pattern_matches_regex_model():
    """Property check: _pattern_matches must agree with the obvious regex
    translation of RFC 9309 patterns (* -> .*, trailing $ -> \\Z) on
    generated pattern/path pairs."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from crawlspark.functions.robots import _pattern_matches

    seg = st.text(alphabet="ab./p", min_size=0, max_size=4)

    @st.composite
    def pattern(draw):
        parts = draw(st.lists(seg, min_size=1, max_size=4))
        p = "/" + "*".join(parts)
        if draw(st.booleans()):
            p += "$"
        return p

    @settings(max_examples=300, deadline=None)
    @given(pat=pattern(), path=st.text(alphabet="ab./p", min_size=0, max_size=12))
    def check(pat, path):
        path = "/" + path
        anchored = pat.endswith("$")
        core = pat[:-1] if anchored else pat
        rx = ".*".join(re.escape(s) for s in core.split("*"))
        rx = "\\A" + rx + ("\\Z" if anchored else "")
        expect = re.search(rx, path) is not None
        assert _pattern_matches(path, pat) == expect, (pat, path)

    check()


# Path and rule text with regex metacharacters, wildcards, anchors and the
# \\E that ends a quoted regex segment.
_CHARS = "ab/.?+([\\E"
_MISSING = "missing"  # the host has no row in the robots dimension


@st.composite
def _robots_case(draw):
    """(rules, path): rules are NULL, missing from the dimension, or up to 5
    rules whose prefixes are NULL, random, or cut from the path (so they
    match) with a `*` put in or a `$`/`*` put on; a rule repeated with the
    other verdict makes an equal-length tie."""
    path = "/" + draw(st.text(alphabet=_CHARS + "*$", max_size=8))

    def prefix():
        kind = draw(st.sampled_from(["null", "random", "cut", "wild"]))
        if kind == "null":
            return None
        if kind == "random":
            return draw(st.text(alphabet=_CHARS + "*$", max_size=6))
        p = path[: draw(st.integers(0, len(path)))]
        if kind == "wild":
            i = draw(st.integers(0, len(p)))
            p = p[:i] + "*" + p[i + draw(st.integers(0, 2)):]
        return p + draw(st.sampled_from(["", "$", "*"]))

    rules = [
        {"allow": draw(st.one_of(st.none(), st.booleans())), "prefix": prefix()}
        for _ in range(draw(st.integers(0, 5)))
    ]
    if rules and draw(st.booleans()):
        r = draw(st.sampled_from(rules))
        rules.append({"allow": not r["allow"], "prefix": r["prefix"]})
    return draw(st.sampled_from([rules, rules, rules, None, _MISSING])), path


@settings(max_examples=40, deadline=None)
@given(cases=st.lists(_robots_case(), min_size=1, max_size=30))
def test_jvm_robots_expr_matches_scalar(spark, cases):
    """Property: the engine's admission matcher — rules compiled into the
    robots dimension, joined by host, matched by `allowed_expr` — equals
    `allowed` on every path, covering *//$ patterns, equal-length ties,
    NULL prefixes and allows, NULL or empty rules, hosts missing from the
    dimension and paths full of regex metacharacters."""
    from pyspark.sql import functions as F

    from crawlspark.functions.robots import allowed_expr, compile_rules

    dim = spark.createDataFrame(
        [
            (f"h{i}", compile_rules(rules))
            for i, (rules, _) in enumerate(cases)
            if rules != _MISSING
        ],
        "host string, rules array<struct<allow:boolean,prefix:string,regex:string>>",
    )
    paths = spark.createDataFrame(
        [(i, f"h{i}", path) for i, (_, path) in enumerate(cases)],
        "i int, host string, path string",
    )
    got = {
        r["i"]: r["ok"]
        for r in paths.join(dim, "host", "left")
        .select("i", allowed_expr(F.col("path"), F.col("rules")).alias("ok"))
        .collect()
    }
    want = {
        i: allowed(path, None if rules == _MISSING else rules)
        for i, (rules, path) in enumerate(cases)
    }
    assert got == want


@settings(max_examples=20, deadline=None)
@given(
    urls=st.lists(
        st.tuples(
            st.sampled_from(["http", "https"]),
            st.text(alphabet="ab.-:0", min_size=1, max_size=6),
            st.one_of(
                st.just(""),
                st.text(alphabet="ab/.?+([=&:", max_size=10).map(lambda t: "/" + t),
            ),
        ).map("{0[0]}://{0[1]}{0[2]}".format),
        min_size=1,
        max_size=30,
    )
)
def test_jvm_path_expr_matches_path_of(spark, urls):
    """Property: the JVM path extraction equals `path_of`, URLs with no
    path included."""
    from pyspark.sql import functions as F

    from crawlspark.functions.robots import path_expr

    rows = (
        spark.createDataFrame([(u,) for u in urls], "url string")
        .select("url", path_expr(F.col("url")).alias("path"))
        .collect()
    )
    assert {r["url"]: r["path"] for r in rows} == {u: path_of(u) for u in urls}
