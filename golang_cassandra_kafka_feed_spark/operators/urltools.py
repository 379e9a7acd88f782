"""URL canonicalization — the crawl-pipeline dedup key.

A crawl frontier sees the same resource under many spellings: scheme
and host case, explicit default ports, trailing slashes, tracking
parameters (utm_*), shuffled query order, fragments.  Canonicalizing
BEFORE url-level dedup is the standard first pass of a corpus
ingestion pipeline (it collapses refetches without touching content),
and it composes with the content-level passes (exact md5, MinHash)
that catch what URL identity cannot.

The rules implemented (the common-subset of crawler conventions —
conservative, no rule that can merge two genuinely different
resources):

- scheme and host lowercased; userinfo (anything before the LAST
  ``@`` of the authority) kept VERBATIM — it is case-sensitive by
  RFC and folding or dropping it could merge distinct resources;
- IPv6 bracket authorities quarantined to NULL (colon-split port
  rules would collide every v6 literal onto one key; brackets are
  vanishingly rare on a crawl frontier, and NULL routes them to the
  caller's garbage policy instead of poisoning the key space);
- a malformed port suffix quarantined to NULL too (round-7 advice:
  ``a.com:8x`` used to silently DROP the ``:8x`` and merge with the
  portless spelling — violating the no-merges contract; the hostport
  must be exactly ``host`` or ``host:digits``, anything else —
  trailing bare colon, non-numeric port, multiple colons — is NULL);
- the port compared NUMERICALLY via leading-zero stripping (``:0443``
  IS ``:443``; string-level ``regexp_replace('^0+')`` rather than a
  cast, so an absurd-width port cannot trip ANSI overflow), an
  explicit DEFAULT port dropped (``:80`` for http, ``:443`` for
  https), any other port kept zero-stripped — it changes the
  resource identity;
- ALL trailing slashes stripped from the path (``/a//`` == ``/a/`` ==
  ``/a``); an all-slash path collapses to the root ``/``;
- query parameters: empties and ``utm_*`` tracking keys dropped, the
  survivors byte-sorted and rejoined (order never changes identity;
  the sort makes the spelling unique);
- the fragment dropped (never sent to the server).

Everything is built-in expressions (regexp_extract / split / filter /
array_sort / concat_ws) — whole-stage-codegen'd, zero Python in the
hot path, embarrassingly parallel at 100 TB.  The regex constants are
exported so the DuckDB oracle interpolates the SAME pattern text
(the q109 one-source-of-truth idiom; both engines' dialects cover
this pattern subset identically).

Reference tie: the reference gates inserts on an exact-key
duplicate probe + CAS (internal/store/feed.go:32-59); it never
normalizes its keys — URL canonicalization is the extension that
makes dirty keys exact before the same probe-then-insert contract.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Parse-piece patterns over a full URL / authority string.  Kept to
# the Java-regex / RE2 common subset (classes, anchors, one group) —
# and to ZERO backslashes, so one constant serves both F.regexp_* and
# interpolated DuckDB SQL verbatim.
URL_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
URL_AUTHORITY_RE = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
URL_PATH_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)"
# query starts at the FIRST '?' before any '#': the prefix class
# excludes both, so a '?' living inside the fragment can never be
# promoted to a query (review-found on 'http://a.com/p#?fake=q'), and
# a second '?' inside the real query stays part of it.
URL_QUERY_RE = "^[^#?]*[?]([^#]*)"
# authority splits at the LAST '@' (greedy prefix): userinfo kept
# VERBATIM (case-sensitive by RFC — folding it could merge distinct
# resources), host is what follows.
AUTH_USERINFO_RE = "^(.*@)"
AUTH_HOSTPORT_RE = "([^@]*)$"
AUTH_HOST_RE = "^([^:]*)"
AUTH_PORT_RE = ":([0-9]+)$"
# well-formedness gate: host alone, or host:digits — anything else
# (bare trailing colon, non-numeric port, multiple colons) means the
# host/port split above would silently DISCARD bytes, merging the
# spelling with a different resource; such authorities quarantine to
# NULL instead (round-7 advice).
AUTH_HOSTPORT_OK_RE = "^[^:]*(:[0-9]+)?$"

_DEFAULT_PORTS = {"http": "80", "https": "443"}

# The q120 blocklist plant — ONE source of truth interpolated into
# both the Spark plan and the DuckDB oracle (the q109/q112 idiom).
# Chosen to exercise every suffix-semantics branch: a leaf rule, a
# mid-label rule that must NOT match shallower hosts
# (media.site13.example.com misses www.site13.…), an overlapping
# pair where the MOST SPECIFIC must win (site21 vs cdn.media.site21),
# a parent-domain rule blocking a whole TLD subtree (example.org),
# and a partial-label trap that must match NOTHING (ample.com would
# block every *.example.com under a naive endswith).
BLOCKLIST_RULES = (
    "site7.example.com",
    "media.site13.example.com",
    "site21.example.com",
    "cdn.media.site21.example.com",
    "example.org",
    "ample.com",
)


def canonicalize_url(url: str | Column) -> Column:
    """Canonical spelling of ``url`` per the module rules.  A string
    that does not parse as ``scheme://authority...`` canonicalizes to
    NULL (the caller decides drop-vs-quarantine; silent passthrough
    would let garbage pollute the dedup key space)."""
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(u, URL_SCHEME_RE, 1))
    auth = F.regexp_extract(u, URL_AUTHORITY_RE, 1)
    userinfo = F.regexp_extract(auth, AUTH_USERINFO_RE, 1)
    hostport = F.regexp_extract(auth, AUTH_HOSTPORT_RE, 1)
    host = F.lower(F.regexp_extract(hostport, AUTH_HOST_RE, 1))
    port = F.regexp_extract(hostport, AUTH_PORT_RE, 1)
    path = F.regexp_extract(u, URL_PATH_RE, 1)
    query = F.regexp_extract(u, URL_QUERY_RE, 1)

    # numeric port identity without a cast: strip leading zeros, map
    # the all-zero spelling back to "0" (fuzzer-found: ":0443" must
    # equal ":443"; idempotent because the output carries no zeros)
    lz = F.regexp_replace(port, "^0+", "")
    port_n = F.when((lz == "") & (port != ""), F.lit("0")).otherwise(lz)
    is_default = (
        ((scheme == "http") & (port_n == _DEFAULT_PORTS["http"]))
        | ((scheme == "https") & (port_n == _DEFAULT_PORTS["https"]))
    )
    port_part = F.when(
        (port == "") | is_default, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port_n))

    # strip ALL trailing slashes (one pass of '/+$' — a single-slash
    # strip is not a fixpoint, fuzzer-found on "/p//"); an all-slash
    # path collapses to the root "/"
    stripped = F.regexp_replace(path, "/+$", "")
    path_part = F.when(
        (stripped == "") & (path != ""), F.lit("/")
    ).otherwise(stripped)

    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.startswith("utm_"),
        )
    )
    query_part = F.when(
        F.size(params) > 0,
        F.concat(F.lit("?"), F.concat_ws("&", params)),
    ).otherwise(F.lit(""))

    # IPv6 bracket literals are quarantined to NULL rather than
    # half-parsed: '[::1]:8080' under the colon-split rules would
    # collide every v6 authority onto one key, merging distinct
    # resources (review-found).  Bracket hosts are vanishingly rare on
    # a crawl frontier; NULL routes them to the caller's garbage
    # policy instead of poisoning the dedup key space.
    return F.when(
        (scheme == "")
        | (host == "")
        | hostport.contains("[")
        | ~hostport.rlike(AUTH_HOSTPORT_OK_RE),
        F.lit(None).cast("string"),
    ).otherwise(
        F.concat(
            scheme,
            F.lit("://"),
            userinfo,
            host,
            port_part,
            path_part,
            query_part,
        )
    )


def host_suffixes(host: str | Column) -> Column:
    """Every dot-boundary suffix of ``host``, most-specific first:
    ``cdn.media.site7.example.com`` →
    ``[cdn.media.site7.example.com, media.site7.example.com,
    site7.example.com, example.com, com]``.

    This is the key trick that makes domain-blocklist matching an
    EQUI-join: a rule "blocks host H" iff the rule string is one of
    H's dot-boundary suffixes (host == rule, or host ends with
    ``"." + rule``) — never a partial-label match, so the entry
    ``ample.com`` can never block ``example.com``.  A naive
    ``endswith`` predicate join would be a non-equi cross product AND
    get that boundary wrong.

    Cost: a host of L labels yields L array elements (public-suffix
    hosts run L <= ~10) — a narrow per-row projection, no shuffle."""
    h = F.col(host) if isinstance(host, str) else host
    labels = F.split(h, "[.]")
    n = F.size(labels)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(labels, i, n), "."),
    )


def domain_block_matches(
    df,
    rules_df,
    host_col: str = "host",
    id_col: str = "doc_id",
    rule_col: str = "rule",
):
    """Rows of ``df`` whose host matches a blocklist entry on a
    dot-label boundary, annotated with the MOST SPECIFIC (longest,
    then lexicographically greatest) matching rule — the crawl-filter
    pass that drops documents from banned domains (and all their
    subdomains) BEFORE any content processing spends cycles on them.

    Mechanism (the 100 TB shape): explode each host into its
    dot-boundary suffixes (``host_suffixes``, <= ~10 per row, narrow),
    broadcast-hash-join the suffixes against the rules equi-style —
    the corpus itself never shuffles; the only exchange is the final
    per-id regroup, over the BLOCKED subset only (tiny by
    construction: a blocklist that matched most of the corpus would
    mean the crawl itself is misconfigured).

    Suffix semantics: rule ``example.org`` blocks ``example.org`` and
    every ``*.example.org``; it never blocks ``notexample.org``
    (label boundary).  Most-specific-rule annotation makes the output
    deterministic when a host matches several entries and tells the
    operator WHICH listing fired — the audit question a takedown /
    compliance review asks.

    Reference tie: the validate-then-reject insert gate
    (cmd/server/httphandlers.go:33-37) applied at the crawl frontier.
    """
    hit = df.select(
        id_col,
        host_col,
        F.explode(host_suffixes(host_col)).alias("__suffix"),
    ).join(
        F.broadcast(rules_df),
        F.col("__suffix") == F.col(rule_col),
    )
    best = F.max(
        F.struct(
            F.length(rule_col).alias("l"),
            F.col(rule_col).alias("r"),
        )
    )["r"].alias(rule_col)
    return hit.groupBy(id_col, host_col).agg(best)


def duckdb_canonicalize_sql(url_expr: str) -> str:
    """The DuckDB expression computing the SAME canonicalization as
    ``canonicalize_url`` over ``url_expr`` — consumed by the q112
    oracle twin and the differential URL fuzzer
    (tests/test_url_fuzz.py), so there is exactly one spelling of the
    rules per engine and the fuzzer exercises the very expression the
    oracle trusts.  Pieces repeat sub-extractions instead of binding
    CTEs so the result stays a drop-in scalar expression."""
    scheme = f"lower(regexp_extract({url_expr}, '{URL_SCHEME_RE}', 1))"
    auth = f"regexp_extract({url_expr}, '{URL_AUTHORITY_RE}', 1)"
    userinfo = f"regexp_extract({auth}, '{AUTH_USERINFO_RE}', 1)"
    hostport = f"regexp_extract({auth}, '{AUTH_HOSTPORT_RE}', 1)"
    host = f"lower(regexp_extract({hostport}, '{AUTH_HOST_RE}', 1))"
    port = f"regexp_extract({hostport}, '{AUTH_PORT_RE}', 1)"
    path = f"regexp_extract({url_expr}, '{URL_PATH_RE}', 1)"
    query = f"regexp_extract({url_expr}, '{URL_QUERY_RE}', 1)"
    params = (
        f"list_sort(list_filter(string_split({query}, '&'), "
        "p -> p <> '' AND NOT starts_with(p, 'utm_')))"
    )
    lz = f"regexp_replace({port}, '^0+', '')"
    port_n = (
        f"CASE WHEN {lz} = '' AND {port} <> '' THEN '0' ELSE {lz} END"
    )
    stripped = f"regexp_replace({path}, '/+$', '')"
    http, https = _DEFAULT_PORTS["http"], _DEFAULT_PORTS["https"]
    return f"""
        CASE WHEN {scheme} = '' OR {host} = ''
                  OR contains({hostport}, '[')
                  OR NOT regexp_matches({hostport},
                                        '{AUTH_HOSTPORT_OK_RE}') THEN NULL
             ELSE {scheme} || '://' || {userinfo} || {host}
                  || CASE WHEN {port} = ''
                            OR ({scheme} = 'http' AND {port_n} = '{http}')
                            OR ({scheme} = 'https'
                                AND {port_n} = '{https}')
                          THEN '' ELSE ':' || {port_n} END
                  || CASE WHEN {stripped} = '' AND {path} <> ''
                          THEN '/' ELSE {stripped} END
                  || CASE WHEN len({params}) > 0
                          THEN '?' || array_to_string({params}, '&')
                          ELSE '' END
        END"""
