"""Robots/politeness matching (SURVEY.md §2.5, R1–R3).

Semantics: RFC 9309 longest-prefix match — among all rules whose prefix
matches the URL path, the longest prefix wins; ties prefer Allow; no match →
allowed. [typical — SURVEY.md §0.1 item 4; the reference checkout was empty.]

The sequential oracle matches with the pure function `allowed`; the Spark
engine matches in the JVM, tested equal to it. `compile_rules` gives each
``*``/``$`` pattern a Java regex once, as the broadcast robots dimension
is built (R1); `allowed_expr` is the longest match over the joined
``rules`` as one ``aggregate`` and `path_expr` is `path_of`, both column
expressions. Host budgets (P3) are JVM-side too and live in scheduler.py.
"""

from __future__ import annotations

__all__ = ["allowed", "allowed_expr", "compile_rules", "path_expr", "path_of"]


def path_of(url_canon: str) -> str:
    """Path+query of a canonical URL (rules match on the path part)."""
    rest = url_canon.split("://", 1)[1]
    i = rest.find("/")
    return rest[i:] if i >= 0 else "/"


def _pattern_matches(path: str, pattern: str) -> bool:
    """RFC 9309 §2.2.2 pattern match: literal prefix with `*` (any run of
    characters) and a trailing `$` anchoring the end of the path.

    Leftmost (greedy-first) matching of the middle segments is complete for
    this wildcard language; the LAST segment of a $-anchored pattern must be
    matched as a path *suffix* (starting at or after the position the middle
    segments reached), not at its first occurrence — `/a.pdf.pdf` matches
    `/*.pdf$` even though the first `.pdf` occurrence is not at the end."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    segs = pattern.split("*")
    if not path.startswith(segs[0]):
        return False
    if len(segs) == 1:
        return path == segs[0] if anchored else True
    pos = len(segs[0])
    last = segs[-1]
    for seg in segs[1:-1]:
        if seg:
            i = path.find(seg, pos)
            if i == -1:
                return False
            pos = i + len(seg)
    if not anchored:
        return (not last) or path.find(last, pos) != -1
    if not last:  # trailing '*' absorbs the rest
        return True
    return path.endswith(last) and len(path) - len(last) >= pos


def allowed(path: str, rules) -> bool:
    """RFC 9309 match: among matching rules the LONGEST pattern wins (length
    counted on the pattern text, per §2.2.2's "most specific"), ties prefer
    Allow; no match → allow. Patterns are prefixes, optionally with `*`
    wildcards and a `$` end anchor.

    ``rules`` may be a list of dicts (oracle) or a numpy array of dicts (how
    Arrow hands an array<struct> column to a pandas UDF) — hence len(), not
    truthiness."""
    if rules is None or len(rules) == 0:
        return True
    best_len = -1
    best_allow = True
    for r in rules:
        # r is a dict {"allow","prefix"} (oracle) or a Row (Spark join output)
        prefix = r["prefix"]
        if prefix is None:
            continue
        if ("*" in prefix or prefix.endswith("$")):
            hit = _pattern_matches(path, prefix)
        else:
            hit = path.startswith(prefix)
        if hit:
            plen = len(prefix)
            al = bool(r["allow"])
            if plen > best_len or (plen == best_len and al):
                best_len, best_allow = plen, al
    return best_allow


def _java_regex(pattern: str | None) -> str | None:
    """Java regex of a ``*``/``$`` pattern (None for a plain prefix): quoted
    literal segments joined by ``.*`` after ``(?s)\\A`` (DOTALL: ``*``
    spans any character), ending in ``\\z`` for a trailing ``$``."""
    if pattern is None or ("*" not in pattern and not pattern.endswith("$")):
        return None
    anchored = pattern.endswith("$")
    segs = (pattern[:-1] if anchored else pattern).split("*")
    quoted = ".*".join("\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E" for s in segs)
    return "(?s)\\A" + quoted + ("\\z" if anchored else "")


def compile_rules(rules) -> list[dict] | None:
    """A host's rules as the robots dimension stores them, each with its `_java_regex`."""
    return None if rules is None else [{**r, "regex": _java_regex(r["prefix"])} for r in rules]


# ---------------------------------------------------------------------------
# Spark surface — imported lazily so the oracle can import this module JVM-free
# ---------------------------------------------------------------------------

def path_expr(url):
    """`path_of` as a JVM column expression over a canonical URL column; a
    NULL or empty URL gives "/"."""
    from pyspark.sql import functions as F

    path = F.regexp_extract(url, r"(?s)^.*?://[^/]*(/.*)?", 1)
    return F.coalesce(F.nullif(path, F.lit("")), F.lit("/"))


def allowed_expr(path, rules):
    """`allowed` as one JVM ``aggregate`` over a compiled ``rules`` column
    (`compile_rules`), keeping the (length, allow) of the longest match."""
    from pyspark.sql import functions as F

    def step(best, r):
        n = F.length(r["prefix"])
        allow = F.coalesce(r["allow"], F.lit(False))
        hit = F.when(r["regex"].isNull(), F.startswith(path, r["prefix"])).otherwise(
            F.regexp_like(path, r["regex"])
        )
        wins = (n > best["n"]) | ((n == best["n"]) & allow)
        return F.when(
            r["prefix"].isNotNull() & hit & wins,
            F.struct(n.alias("n"), allow.alias("allow")),
        ).otherwise(best)

    none = F.struct(F.lit(-1).alias("n"), F.lit(True).alias("allow"))
    return F.coalesce(
        F.aggregate(rules, none, step, lambda best: best["allow"]), F.lit(True)
    )
