"""URL canonicalization + registrable-domain operators for web-corpus
builds (task directive, beyond-reference scope — the reference ingests
local files only, ref ocr_workflow_orchestrator.py:153-178; a 100 TB crawl
corpus is keyed by URL and needs these before any dedup/stats).

All pure Column expressions (whole-stage codegen, no UDFs), built on one
RFC 3986 appendix-B regex so Spark and the DuckDB oracle parse identically
— deliberately NOT java.net.URI / parse_url, whose engine-specific edge
cases have no DuckDB twin.

Normalization contract (the common crawl-dedup canonical form):
  * scheme and host lowercased; userinfo stripped
  * default ports stripped (http:80, https:443); other ports kept
  * empty path -> '/'
  * tracking params dropped (utm_*, fbclid, gclid, msclkid, ref); other
    params kept in original order; '?' omitted when none survive
  * fragment dropped

registrable_domain implements the full PUBLIC SUFFIX LIST algorithm
(publicsuffix.org: longest matching rule wins; `*.base` wildcards match
exactly one label; `!exception` rules override wildcards) over the pinned
snapshot at resources/public_suffix_snapshot.dat — a curated subset in the
standard PSL file format, so a full upstream snapshot drops in without code
changes. Hosts matching no rule use the implicit default rule `*` (last
label is the public suffix). When the host IS a public suffix (no
registrable domain exists per the PSL), the host itself is returned —
the garbage-tolerant contract every URL operator here follows.
Punycode (`xn--`) hosts pass through lowercased as-is HERE (column
expressions can't spell RFC 3492); `functions/idn.py` closes the gap with
a from-scratch punycode codec behind a sparse vectorized UDF —
`url_normalize_idn` collapses 'http://BÜCHER.example/' and
'http://xn--bcher-kva.example/' to one canonical ASCII form, which is
also the PSL's spelling so registrable_domain groups IDN hosts correctly.

url_normalize additionally canonicalizes percent-encoding (RFC 3986 §6.2.2):
unreserved characters ([A-Za-z0-9._~-]) are DECODED, every other escape is
normalized to uppercase hex — '%7e' / '%7E' / '~' spell one canonical URL.
Safe to apply before parsing: unreserved chars are never delimiters, and
reserved escapes stay encoded.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# RFC 3986 appendix B. Group indexes: 2=scheme, 4=authority, 5=path,
# 7=query, 9=fragment. Works in both Java regex (Spark) and RE2 (DuckDB).
_URI_RE = r"^(([^:/?#]+):)?(//([^/?#]*))?([^?#]*)(\?([^#]*))?(#(.*))?"

# (=|$) so VALUELESS tracking params ('?fbclid', '&utm_source') are also
# dropped — otherwise '?fbclid' and '?fbclid=1' canonicalize differently
# and identical pages escape URL dedup
_TRACKING_RE = r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref)(=|$)"

_PSL_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "resources",
    "public_suffix_snapshot.dat",
)

_PSL_CACHE: dict | None = None


def load_psl(path: str = _PSL_PATH) -> dict:
    """Parse a standard-format PSL file into rule sets keyed by label count:
    {'exact': {k: frozenset(suffixes)}, 'wild': {k: frozenset(bases)},
     'exc': {k: frozenset(exception domains)}} — the shape both engines'
    expression builders consume. Cached for the pinned snapshot."""
    global _PSL_CACHE
    if path == _PSL_PATH and _PSL_CACHE is not None:
        return _PSL_CACHE
    exact: dict[int, set] = {}
    wild: dict[int, set] = {}
    exc: dict[int, set] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            rule = line.strip()
            if not rule or rule.startswith("//"):
                continue
            if rule.startswith("!"):
                d = rule[1:]
                exc.setdefault(d.count(".") + 1, set()).add(d)
            elif rule.startswith("*."):
                base = rule[2:]
                wild.setdefault(base.count(".") + 1, set()).add(base)
            else:
                exact.setdefault(rule.count(".") + 1, set()).add(rule)
    psl = {
        "exact": {k: frozenset(v) for k, v in exact.items()},
        "wild": {k: frozenset(v) for k, v in wild.items()},
        "exc": {k: frozenset(v) for k, v in exc.items()},
    }
    if path == _PSL_PATH:
        _PSL_CACHE = psl
    return psl


# RFC 3986 unreserved characters: decode these escapes outright (any hex
# case); everything else stays encoded with uppercase hex
_UNRESERVED = (
    "abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "0123456789-._~"
)


def _pct_rules() -> list[tuple[str, str, str]]:
    """(pattern, spark_replacement, duck_replacement) triples, applied in
    order — shared by both engines so the chains are identical. RE2-safe
    (no lookaround): decode unreserved first (case-insensitive), then
    uppercase the hex digits of the escapes that remain."""
    rules: list[tuple[str, str, str]] = []
    # '$' and '\' never occur in _UNRESERVED, so replacements are literal
    # in both engines' replacement syntaxes
    for ch in _UNRESERVED:
        rules.append((f"(?i)%{ord(ch):02X}", ch, ch))
    # ALL first-digit rules must run before ANY second-digit rule: the
    # second-digit pattern anchors on an already-uppercase first digit, so
    # interleaving the two per letter left '%db'-class escapes (both digits
    # lowercase, second alphabetically before the first) half-normalized
    for d in "abcdef":
        # first hex digit: require a trailing hex digit so a bare '%a' that
        # is not an escape is left alone (captured and re-emitted)
        rules.append(
            (f"%{d}([0-9A-Fa-f])", f"%{d.upper()}$1", f"%{d.upper()}\\1")
        )
    for d in "abcdef":
        # second hex digit (first one is uppercase after the pass above)
        rules.append((f"%([0-9A-F]){d}", f"%$1{d.upper()}", f"%\\1{d.upper()}"))
    return rules


def pct_normalize(col: Column) -> Column:
    """Canonicalize percent-encoding (see module docstring): one chained
    regexp_replace projection, whole-stage codegen, no UDF."""
    out = col
    for pat, spark_rep, _ in _pct_rules():
        out = F.regexp_replace(out, pat, spark_rep)
    return out


def pct_normalize_sql(expr: str) -> str:
    out = expr
    for pat, _, duck_rep in _pct_rules():
        out = f"regexp_replace({out}, '{pat}', '{duck_rep}', 'g')"
    return out


def _part(col: Column, group: int) -> Column:
    return F.regexp_extract(col, _URI_RE, group)


def url_scheme(col: Column) -> Column:
    return F.lower(_part(col, 2))


def url_host(col: Column) -> Column:
    """Lowercased host: authority minus userinfo and port."""
    host_port = F.element_at(F.split(_part(col, 4), "@"), -1)
    return F.lower(F.regexp_replace(host_port, r":[0-9]*$", ""))


def url_port(col: Column) -> Column:
    """Explicit port as a string ('' when absent)."""
    host_port = F.element_at(F.split(_part(col, 4), "@"), -1)
    return F.regexp_extract(host_port, r":([0-9]+)$", 1)


def url_path(col: Column) -> Column:
    return _part(col, 5)


def url_query(col: Column) -> Column:
    return _part(col, 7)


def _kept_params(col: Column) -> Column:
    q = url_query(col)
    return F.filter(
        F.split(q, "&"),
        lambda p: (p != "") & ~(p.rlike(_TRACKING_RE)),
    )


def url_normalize(col: Column) -> Column:
    """Canonical URL string per the module contract. Null in -> null out;
    a scheme-less or host-less string normalizes from whatever parts the
    RFC grammar finds (garbage-tolerant, never raises). Percent-encoding is
    canonicalized BEFORE parsing (safe: unreserved chars are never
    delimiters; reserved escapes stay encoded)."""
    col = pct_normalize(col)
    scheme = url_scheme(col)
    host = url_host(col)
    port = url_port(col)
    keep_port = (
        (port != "")
        & ~((scheme == F.lit("http")) & (port == "80"))
        & ~((scheme == F.lit("https")) & (port == "443"))
    )
    path = url_path(col)
    params = _kept_params(col)
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(
            F.size(params) > 0,
            F.concat(F.lit("?"), F.array_join(params, "&")),
        ).otherwise(F.lit("")),
    )


def _suffix_plan(psl: dict) -> list[tuple[str, int, frozenset]]:
    """The PSL match plan both engines share: (kind, k, rule set) checks in
    precedence order — exceptions first (longest first), then exact/wildcard
    matches longest-suffix first. kind='exc' entries set suffix_len = k-1;
    'exact' k-label rules and 'wild' (k-1)-label bases set suffix_len = k."""
    plan: list[tuple[str, int, frozenset]] = []
    for k in sorted(psl["exc"], reverse=True):
        plan.append(("exc", k, psl["exc"][k]))
    lengths = {k for k in psl["exact"]} | {k + 1 for k in psl["wild"]}
    for k in sorted(lengths, reverse=True):
        if k in psl["exact"]:
            plan.append(("exact", k, psl["exact"][k]))
        if k - 1 in psl["wild"]:
            plan.append(("wild", k, psl["wild"][k - 1]))
    return plan


def registrable_domain(col: Column, is_host: bool = False) -> Column:
    """eTLD+1 of a URL column via the Public Suffix List algorithm over the
    pinned snapshot (see module docstring). Pure Column expressions —
    guarded slice/array accesses (ANSI mode), literal rule sets (a few
    hundred entries; a full PSL snapshot would ride a broadcast join
    instead — documented swap point).

    is_host=True skips the URL parse and treats `col` as the host itself —
    pass an already-STAGED url_host column when the caller also needs the
    host (domain_link_graph does), so the URI regex runs once per row
    instead of once per reference."""
    host = col if is_host else url_host(col)
    labels = F.split(host, r"\.")
    n = F.size(labels)

    def last_k(k: int) -> Column:
        # right-most k labels as a dotted string; NULL when n < k
        return F.when(
            n >= k, F.array_join(F.slice(labels, n - (k - 1), k), ".")
        )

    def in_set(c: Column, s: frozenset) -> Column:
        arr = F.array(*[F.lit(x) for x in sorted(s)])
        return F.coalesce(F.array_contains(arr, c), F.lit(False))

    suffix_len: Column | None = None
    for kind, k, rules in _suffix_plan(load_psl()):
        if kind == "exc":
            cond, sl = in_set(last_k(k), rules), F.lit(k - 1)
        elif kind == "exact":
            cond, sl = in_set(last_k(k), rules), F.lit(k)
        else:  # wild: (k-1)-label base + one real label in the * position
            cond, sl = (n >= k) & in_set(last_k(k - 1), rules), F.lit(k)
        suffix_len = (
            F.when(cond, sl) if suffix_len is None else suffix_len.when(cond, sl)
        )
    suffix_len = suffix_len.otherwise(F.lit(1))  # the implicit '*' rule
    return F.when(
        n >= suffix_len + 1,
        F.array_join(F.slice(labels, n - suffix_len, suffix_len + 1), "."),
    ).otherwise(host)


# ---------------------------------------------------------------------------
# DuckDB twins (same regexes; RE2)
# ---------------------------------------------------------------------------


def _part_sql(expr: str, group: int) -> str:
    return f"regexp_extract({expr}, '{_URI_RE}', {group})"


def url_scheme_sql(expr: str) -> str:
    return f"lower({_part_sql(expr, 2)})"


def _host_port_sql(expr: str) -> str:
    return f"string_split({_part_sql(expr, 4)}, '@')[-1]"


def url_host_sql(expr: str) -> str:
    return f"lower(regexp_replace({_host_port_sql(expr)}, ':[0-9]*$', ''))"


def url_port_sql(expr: str) -> str:
    return f"regexp_extract({_host_port_sql(expr)}, ':([0-9]+)$', 1)"


def url_path_sql(expr: str) -> str:
    return _part_sql(expr, 5)


def url_query_sql(expr: str) -> str:
    return _part_sql(expr, 7)


def _kept_params_sql(expr: str) -> str:
    return (
        f"list_filter(string_split({url_query_sql(expr)}, '&'), "
        f"p -> p <> '' AND NOT regexp_matches(p, '{_TRACKING_RE}'))"
    )


def url_normalize_sql(expr: str) -> str:
    # percent-normalize ONCE into a scalar-subquery alias: the chain is ~78
    # nested regexp_replace calls, and scheme/host/port/path/params each
    # re-expand their argument — without the alias the SQL text is O(chain x
    # uses)
    scheme = url_scheme_sql("s")
    host = url_host_sql("s")
    port = url_port_sql("s")
    path = url_path_sql("s")
    params = _kept_params_sql("s")
    return f"""
CASE WHEN {expr} IS NULL THEN NULL ELSE (
  WITH _u AS (SELECT {pct_normalize_sql(expr)} AS s)
  SELECT {scheme} || '://' || {host}
  || CASE WHEN {port} <> ''
           AND NOT ({scheme} = 'http' AND {port} = '80')
           AND NOT ({scheme} = 'https' AND {port} = '443')
      THEN ':' || {port} ELSE '' END
  || CASE WHEN {path} = '' THEN '/' ELSE {path} END
  || CASE WHEN len({params}) > 0
      THEN '?' || array_to_string({params}, '&') ELSE '' END
  FROM _u)
END""".strip()


def registrable_domain_sql(expr: str) -> str:
    """DuckDB twin of registrable_domain — the SAME _suffix_plan drives
    both engines' branch order, so rule precedence cannot drift."""
    host = url_host_sql(expr)

    def last_k(k: int) -> str:
        return f"array_to_string(ls[n - {k - 1}:n], '.')"

    branches = []
    for kind, k, rules in _suffix_plan(load_psl()):
        inlist = ", ".join(f"'{r}'" for r in sorted(rules))
        if kind == "exc":
            branches.append(f"WHEN n >= {k} AND {last_k(k)} IN ({inlist}) THEN {k - 1}")
        elif kind == "exact":
            branches.append(f"WHEN n >= {k} AND {last_k(k)} IN ({inlist}) THEN {k}")
        else:  # wild
            branches.append(
                f"WHEN n >= {k} AND {last_k(k - 1)} IN ({inlist}) THEN {k}"
            )
    case_sl = "CASE " + " ".join(branches) + " ELSE 1 END"
    return f"""
CASE WHEN {expr} IS NULL THEN NULL ELSE (
  WITH x AS (SELECT string_split({host}, '.') AS ls),
  y AS (SELECT ls, len(ls) AS n FROM x),
  z AS (SELECT ls, n, ({case_sl}) AS sl FROM y)
  SELECT CASE WHEN n >= sl + 1
              THEN array_to_string(ls[n - sl:n], '.')
              ELSE array_to_string(ls, '.') END
  FROM z)
END""".strip()


def blocklist_filter(docs, blocked, url_col: str = "url"):
    """Drop docs whose registrable domain is blocklisted — the standard
    crawl-hygiene pass (spam/adult/SEO domain lists).

    `blocked` is either a one-column DataFrame of domains (broadcast
    left_anti — the list never exceeds broadcast size in practice; millions
    of rows is still MBs) or a Python list (in-row literal array test, zero
    joins). The corpus never shuffles either way.

    Null-URL contract: a doc whose url (hence domain) is NULL is KEPT by
    every path — it cannot match a blocklist entry. (The naive
    ~array_contains(...) evaluates NULL and silently dropped such rows,
    diverging from the left_anti path and the DuckDB twin.)"""
    dom = registrable_domain(F.col(url_col))
    if isinstance(blocked, (list, tuple)):
        if not blocked:
            return docs
        arr = F.array(*[F.lit(str(d)) for d in blocked])
        return docs.where(
            ~F.coalesce(F.array_contains(arr, dom), F.lit(False))
        )
    bcol = blocked.columns[0]
    b = blocked.select(F.col(bcol).alias("_blocked_domain")).distinct()
    return (
        docs.withColumn("_dom", dom)
        .join(
            F.broadcast(b),
            F.col("_dom") == F.col("_blocked_domain"),
            "left_anti",
        )
        .drop("_dom")
    )


def blocklist_filter_sql(src: str, blocked_sql: str, url_expr: str = "url") -> str:
    """DuckDB twin: `blocked_sql` yields one domain column. NULL domains
    are kept (same contract as blocklist_filter). NULLs are stripped from
    the blocklist side too — a single NULL in a NOT IN list makes the
    predicate NULL for every non-matching row (whole corpus dropped),
    whereas the Spark left_anti join simply never matches on NULL."""
    dom = registrable_domain_sql(url_expr)
    return (
        f"SELECT * FROM ({src}) "
        f"WHERE ({dom}) IS NULL OR ({dom}) NOT IN "
        f"(SELECT d FROM ({blocked_sql}) AS _b(d) WHERE d IS NOT NULL)"
    )


# ---------------------------------------------------------------------------
# RFC 3986 §5 reference resolution (pure Python, used by the HTML metadata
# path: rel=canonical and <base href> are routinely RELATIVE). Implements
# the §5.3 component-recomposition algorithm with §5.2.4 remove_dot_segments
# verbatim, so the full RFC test-vector table passes — urllib.parse.urljoin
# exists, but an explicit implementation keeps the semantics pinned and
# greppable (and matches it on every vector; see tests).
# ---------------------------------------------------------------------------

_SPLIT_RE = re.compile(
    r"^(?:([A-Za-z][A-Za-z0-9+.-]*):)?(?://([^/?#]*))?([^?#]*)"
    r"(?:\?([^#]*))?(?:#(.*))?$"
)


def _split_ref(ref: str):
    """(scheme, authority, path, query, fragment) — RFC 3986 appendix B;
    None marks an ABSENT component (different from empty)."""
    m = _SPLIT_RE.match(ref or "")
    return m.group(1), m.group(2), m.group(3) or "", m.group(4), m.group(5)


def _remove_dot_segments(path: str) -> str:
    out: list[str] = []
    while path:
        if path.startswith("../"):
            path = path[3:]
        elif path.startswith("./"):
            path = path[2:]
        elif path.startswith("/./"):
            path = "/" + path[3:]
        elif path == "/.":
            path = "/"
        elif path.startswith("/../"):
            path = "/" + path[4:]
            if out:
                out.pop()
        elif path == "/..":
            path = "/"
            if out:
                out.pop()
        elif path in (".", ".."):
            path = ""
        else:
            cut = path.find("/", 1)
            if cut < 0:
                out.append(path)
                path = ""
            else:
                out.append(path[:cut])
                path = path[cut:]
    return "".join(out)


def resolve_url(base: str, ref: str) -> str:
    """Resolve `ref` against absolute `base` (RFC 3986 §5.3, strict mode:
    a ref carrying the base's scheme is still treated as absolute-from-
    scheme, per the spec's recommendation for new schemes)."""
    b_scheme, b_auth, b_path, b_query, _ = _split_ref(base)
    r_scheme, r_auth, r_path, r_query, r_frag = _split_ref(ref)
    if r_scheme is not None:
        scheme, auth, path, query = r_scheme, r_auth, _remove_dot_segments(r_path), r_query
    elif r_auth is not None:
        scheme, auth, path, query = b_scheme, r_auth, _remove_dot_segments(r_path), r_query
    elif not r_path:
        scheme, auth, path = b_scheme, b_auth, b_path
        query = r_query if r_query is not None else b_query
    else:
        scheme, auth = b_scheme, b_auth
        if r_path.startswith("/"):
            path = _remove_dot_segments(r_path)
        else:
            if b_auth is not None and not b_path:
                merged = "/" + r_path
            else:
                merged = b_path[: b_path.rfind("/") + 1] + r_path
            path = _remove_dot_segments(merged)
        query = r_query
    out = ""
    if scheme is not None:
        out += scheme + ":"
    if auth is not None:
        out += "//" + auth
    out += path
    if query is not None:
        out += "?" + query
    if r_frag is not None:
        out += "#" + r_frag
    return out
