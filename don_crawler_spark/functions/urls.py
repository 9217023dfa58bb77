"""URL canonicalization and identity — the engine's per-key semantics.

The reference serializes work per repository key ``host/owner/repo``
(``repoLockKey``, crawler/crawler.go:620-632) and uses the provider clone
URL as canonical identity (scanner/github.go:236-239,
scanner/bitbucket.go:78,139). At frontier scale the engine instead keys
everything on ``xxhash64(canonicalize(url))``; this module defines the
canonical form twice: ``canonicalize_url``, pure Python on
``urllib.parse`` (the oracle), and ``add_canonical_url{,_abs}``, Spark
SQL expressions (the engine, which runs no Python worker). They agree
byte-for-byte, and the engine's NULL is the oracle's ``ValueError``
(``canonical_link`` returns None there) — tested differentially.

Canonical form:
  * scheme and host lowercased
  * userinfo dropped
  * default ports stripped (``:80`` for http, ``:443`` for https)
  * fragment dropped
  * query keys sorted (stable sort; duplicate keys keep input order)
  * trailing ``/`` stripped from non-root paths; root path ``/`` dropped
  * relative references resolved against the source page's URL
"""

from __future__ import annotations

import array
import functools
import unicodedata
from urllib.parse import (
    parse_qsl,
    urlencode,
    urljoin,
    urlsplit,
    urlunsplit,
    uses_netloc,
    uses_params,
    uses_relative,
)

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonicalize_url(url: str, base: str | None = None) -> str:
    """Pure-Python canonicalizer (the oracle). Raises ``ValueError``
    where ``urlsplit`` does: a netloc with an unbalanced or invalid
    bracketed host, or a character that NFKC-normalizes to a delimiter."""
    if base:
        url = urljoin(base, url)
    parts = urlsplit(url.strip())
    scheme = parts.scheme.lower()
    netloc = parts.netloc.lower()
    if "@" in netloc:
        userinfo, _, hostport = netloc.rpartition("@")
        netloc = hostport  # drop credentials: never part of identity
    if ":" in netloc:
        host, _, port = netloc.rpartition(":")
        if _DEFAULT_PORTS.get(scheme) == port:
            netloc = host
    path = parts.path
    if path.endswith("/") and path != "/":
        path = path.rstrip("/")
    if path == "/":
        path = ""
    query = parts.query
    if query:
        pairs = parse_qsl(query, keep_blank_values=True)
        pairs.sort(key=lambda kv: kv[0])  # stable: dup keys keep input order
        query = urlencode(pairs)
    return urlunsplit((scheme, netloc, path, query, ""))


def canonical_link(url: str, base: str | None = None) -> str | None:
    """``canonicalize_url``, or None where it raises ``ValueError``: a
    malformed link is dropped, never a reason to fail a crawl."""
    try:
        return canonicalize_url(url, base)
    except ValueError:
        return None


def url_host(url: str) -> str:
    """Host (no port) of an already-canonical URL: a bracketed host up
    to its ']', else the netloc without its last ':port'."""
    netloc = urlsplit(url).netloc
    if netloc.startswith("["):
        return "".join(netloc.partition("]")[:2])
    return netloc.rpartition(":")[0] if ":" in netloc else netloc


def url_path(url: str) -> str:
    p = urlsplit(url).path
    return p if p else "/"


# --- the canonicalization kernel: Spark SQL expressions only ---------------
#
# add_canonical_url{,_abs} add ONE output column, a CASE expression. Its
# first arm is a codegen'd fast path for the two shapes that dominate
# crawl link traffic (absolute URLs with a plain ASCII host and path,
# and root-relative paths). Its ELSE arm ports canonicalize_url: urljoin
# (with urlparse's ';params' for uses_params schemes and dot-segment
# resolution), str.strip, urlsplit and its ValueError checks, the
# userinfo / default-port / trailing-slash rules, parse_qsl with a
# stable key sort and urlencode, and urlunsplit. The arm is NULL exactly
# where canonicalize_url raises ValueError.
#
# The port is a list of named SQL expressions applied by ONE selectExpr
# (two py4j calls per use plus one per name, no Column objects): a
# later expression reads an earlier one by name (a lateral column
# alias), which Spark resolves into a chain of projections. The ELSE
# arm's inputs are NULL on fast-path rows, so there its expressions cost
# a null check each. Higher-order functions (the query sort, dot
# segments) are interpreted, but only the ELSE arm uses them.
#
# Regex literals are raw SQL strings (r'...'). Java's '.' and '$' treat
# \r, U+0085 and U+2028/9 as line terminators, and '$' also matches
# before a final one, so patterns that may meet them use (?s) and \z.

_SCHEME = r"[A-Za-z][A-Za-z0-9+.\-]*"
# urlsplit's grammar, groups scheme, netloc, path, query, fragment.
# Scheme chars exclude ':', so group 1 matches exactly when the text
# before the first ':' is a scheme, which is when urlsplit takes one.
_SPLIT = (
    r"(?s)^(?:(" + _SCHEME + r"):)?(?://([^/?#]*))?([^?#]*)"
    r"(?:\?([^#]*))?(?:#(.*))?\z"
)
# urlparse's _splitparams: the first ';' of the last path segment
_PARAMS = r"(?s)^((?:.*/)?[^/;]*);([^/]*)\z"

# Fast-path shapes: no query, fragment, userinfo, port or whitespace, an
# ASCII host, and printable ASCII (minus '?' '#') in the path. Two traps
# the classes close: urljoin resolves '.' / '..' segments, so a shape
# holds none; str.strip() removes Unicode whitespace (U+00A0 ...) that
# Java's \s does not match, so the path class is printable ASCII.
_NO_DOTSEG = r"(?!.*(?:^|/)\.\.?(?:/|\z))"
_PATH_CHAR = r"[\x21\x22\x24-\x3e\x40-\x7e]"  # printable ASCII minus ? #
_ABS_SHAPE = _SCHEME + r"://[0-9A-Za-z.\-]+(?:/" + _PATH_CHAR + r"*)?"
# (?!/): '//host/path' is a network-path reference (urljoin takes its
# authority), not a root-relative path
_REL_SHAPE = r"/(?!/)" + _PATH_CHAR + r"*"
# urljoin drops an EMPTY ';' params (urlunparse writes ';' only before a
# non-empty one), so with a base the fast path takes no path ending in ';'
_JOIN_END = r"(?<!;)\z"
# a base that resolves root-relative paths (uses_relative) and whose
# netloc is a plain ASCII host
_HTTP_BASE = r"^(?i:https?)://[0-9A-Za-z.\-]+(?:[/?#]|\z)"


def _fast_value(url: str, authority_from: str) -> str:
    """The fast path's canonical form: the lowercased ``scheme://host``
    of ``authority_from``, then ``url``'s path without trailing '/'."""
    return (
        f"lower(regexp_extract({authority_from}, r'^[^/]*//[^/?#]*', 0))"
        f" || regexp_replace(regexp_replace({url}, r'^[^/]+//[^/]*', ''),"
        r" r'/+\z', '')"
    )


def _ipv6() -> str:
    """ipaddress.IPv6Address's grammar: 8 hextets, or at most 7 around
    one '::', an IPv4 tail counting as two; an optional non-empty
    %scope."""
    h = "[0-9A-Fa-f]{1,4}"
    octet = "(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])"
    v4 = octet + r"(?:\." + octet + "){3}"
    forms = [f"(?:{h}:){{7}}{h}", f"(?:{h}:){{6}}{v4}"]
    for hi in range(8):
        head = f"(?:{h}:){{{hi - 1}}}{h}" if hi else ""
        tails = [f"(?:{h}(?::{h}){{0,{6 - hi}}})?" if hi < 7 else ""]
        if hi <= 5:
            tails.append(f"(?:{h}:){{0,{5 - hi}}}{v4}")
        forms.append(f"{head}::(?:{'|'.join(tails)})")
    return f"(?:{'|'.join(forms)})(?:%[^%]+)?"


def _char_class(ranges: list[tuple[int, int]], has_member) -> str:
    """A Java regex class of the code points in ``ranges`` for which
    ``has_member(text)`` says ``text`` holds one, found by bisecting
    4096-code-point chunks; so Python's own Unicode tables decide."""

    def scan(text: str) -> str:
        if not has_member(text):
            return ""
        if len(text) == 1:
            return text
        return scan(text[: len(text) // 2]) + scan(text[len(text) // 2 :])

    chars = ""
    for lo, hi in ranges:
        text = array.array("I", range(lo, hi)).tobytes().decode("utf-32-le")
        chars += "".join(scan(text[i : i + 4096]) for i in range(0, len(text), 4096))
    return "[" + "".join(f"\\x{{{ord(c):x}}}" for c in chars) + "]"


@functools.cache
def _unicode_classes() -> tuple[str, str]:
    """(``str.isspace`` class, class of the non-ASCII characters whose
    NFKC form holds one of ``/?#@:``), each built once per process."""
    no_surrogates = [(0, 0xD800), (0xE000, 0x110000)]
    space = _char_class(
        no_surrogates, lambda t: len("".join(t.split())) < len(t)
    )
    nfkc_delim = _char_class(
        [(0x80, 0xD800), (0xE000, 0x110000)],
        lambda t: any(d in unicodedata.normalize("NFKC", t) for d in "/?#@:"),
    )
    return space, nfkc_delim


def _sql_in(expr: str, values: list[str]) -> str:
    return f"{expr} IN ({', '.join(repr(v) for v in values)})"


def _prep(u: str) -> str:
    """urlsplit's clean-up: lstrip C0 controls and space, drop every
    tab, CR and LF."""
    return (
        rf"regexp_replace(regexp_replace({u}, r'^[\x00-\x20]+', ''),"
        r" r'[\t\n\r]', '')"
    )


def _part(u: str, group: int) -> str:
    return f"regexp_extract({u}, r'{_SPLIT}', {group})"


def _netloc_raises(n: str) -> str:
    """urlsplit's ValueError on netloc ``n``: an unbalanced bracket; a
    bracketed host that is neither IPvFuture nor an IPv6 address (a
    bracketed IPv4 address included); a character whose NFKC form holds
    a delimiter (never ASCII, so only in a non-ASCII netloc)."""
    host_ok = r"(?s)^(?:v[a-fA-F0-9]+\..+|" + _ipv6() + r")\z"
    return (
        f"((instr({n}, '[') > 0) != (instr({n}, ']') > 0)"
        f" OR (instr({n}, '[') > 0"
        rf" AND NOT regexp_extract({n}, r'\[([^\]]*)', 1) rlike r'{host_ok}')"
        f" OR {n} rlike r'{_unicode_classes()[1]}')"
    )


def _unsplit(s: str, n: str, p: str, q: str, f: str | None = None) -> str:
    """urlunsplit: '//' + netloc when there is a netloc, or when the
    scheme takes one and the path does not itself start with '//'."""
    has_netloc = (
        f"{n} != '' OR ({s} != '' AND {_sql_in(s, uses_netloc)}"
        f" AND left({p}, 2) != '//')"
    )
    fragment = f", IF({f} != '', '#' || {f}, '')" if f else ""
    return (
        f"concat(IF({s} != '', {s} || ':', ''),"
        f" IF({has_netloc}, '//' || {n}"
        f" || IF({p} != '' AND left({p}, 1) != '/', '/' || {p}, {p}), {p}),"
        f" IF({q} != '', '?' || {q}, ''){fragment})"
    )


def _unquote_plus(x: str) -> str:
    """parse_qsl's unquote(x.replace('+', ' ')). url_decode (Java's
    URLDecoder) does both once a '%' without two hex digits is escaped
    (Python keeps it, Java throws), and once an encoded surrogate lead
    (ED A0-BF) is spelled as the two U+FFFD Python decodes it to (Java
    decodes one)."""
    return (
        f"url_decode(regexp_replace(regexp_replace({x},"
        r" r'%(?![0-9A-Fa-f]{2})', '%25'),"
        r" r'(?i)%ED%[AB][0-9A-F]', '%EF%BF%BD%EF%BF%BD'))"
    )


def _quote_plus(x: str) -> str:
    """urlencode's quote_plus. Java's URLEncoder keeps '*' and escapes
    '~'; Python does the opposite."""
    return f"replace(replace(url_encode({x}), '*', '%2A'), '%7E', '~')"


def _canonical_tail(fast: str, fast_value: str, j: str, raises: str, out: str) -> list[str]:
    """Named expressions canonicalizing the base-less URL ``j``: ``out``
    is ``fast_value`` where ``fast``; else NULL where ``j`` is NULL or
    ``raises`` or urlsplit raises on it; else canonicalize_url(j)."""
    space = _unicode_classes()[0]
    key = _unquote_plus("substring_index(x, '=', 1)")
    value = _unquote_plus("substr(x, instr(x, '=') + 1)")
    pair = f"named_struct('k', {key}, 'v', IF(instr(x, '=') > 0, {value}, ''))"
    return [
        # str.strip(), then urlsplit
        _prep(rf"regexp_replace({j}, r'^{space}+|{space}+\z', '')") + " AS __cu_k",
        f"lower({_part('__cu_k', 1)}) AS __cu_ks",
        f"{_part('__cu_k', 2)} AS __cu_kn",
        # netloc: lowercased, userinfo dropped, default port dropped
        "substring_index(lower(__cu_kn), '@', -1) AS __cu_nl",
        "IF(instr(__cu_nl, ':') > 0, substring_index(__cu_nl, ':', -1), NULL)"
        " AS __cu_port",
        "IF((__cu_ks = 'http' AND __cu_port = '80')"
        " OR (__cu_ks = 'https' AND __cu_port = '443'),"
        " left(__cu_nl, length(__cu_nl) - length(__cu_port) - 1), __cu_nl)"
        " AS __cu_host",
        rf"regexp_replace({_part('__cu_k', 3)}, r'/+\z', '') AS __cu_path",
        # parse_qsl(keep_blank_values=True), stable sort on the key,
        # urlencode
        "array_join(transform(array_sort(transform("
        f"filter(split({_part('__cu_k', 4)}, '&'), x -> x != ''), x -> {pair}),"
        " (l, r) -> CASE WHEN l.k < r.k THEN -1 WHEN l.k > r.k THEN 1 ELSE 0 END),"
        f" p -> {_quote_plus('p.k')} || '=' || {_quote_plus('p.v')}), '&')"
        " AS __cu_query",
        f"CASE WHEN {fast} THEN {fast_value}"
        f" WHEN {j} IS NULL OR {raises} OR {_netloc_raises('__cu_kn')} THEN NULL"
        f" ELSE {_unsplit('__cu_ks', '__cu_host', '__cu_path', '__cu_query')}"
        f" END AS `{out}`",
    ]


def _urljoin(h: str, b: str) -> list[str]:
    """Named expressions for ``__cu_j`` = urljoin(b, h) (``h`` when
    ``b`` is '', ``b`` when ``h`` is '') and ``__cu_jraises``, urljoin's
    ValueError (urlsplit's, on either argument)."""

    def split(x: str, u: str) -> list[str]:
        return [
            f"{_prep(x)} AS {u}",
            f"{_part(u, 2)} AS {u}n",
            f"{_part(u, 3)} AS {u}p0",
            f"{_part(u, 4)} AS {u}q",
        ]

    def params(u: str) -> list[str]:
        # urlparse: path ';' params, for uses_params schemes
        return [
            f"({_sql_in(u + 's', uses_params)} AND {u}p0 rlike r'{_PARAMS}')"
            f" AS {u}prm",
            f"IF({u}prm, regexp_extract({u}p0, r'{_PARAMS}', 1), {u}p0) AS {u}p",
            f"IF({u}prm, regexp_extract({u}p0, r'{_PARAMS}', 2), '') AS {u}par",
        ]

    # base path minus its last segment, then the reference's segments;
    # the empty ones between the ends dropped (relative references only)
    segs = (
        "IF(left(__cu_hp, 1) = '/', split(__cu_hp, '/'),"
        " concat(IF(element_at(__cu_bparts, -1) = '', __cu_bparts,"
        " slice(__cu_bparts, 1, size(__cu_bparts) - 1)), split(__cu_hp, '/')))"
    )
    resolved = (
        "coalesce(nullif(array_join(concat(aggregate(__cu_segs,"
        " cast(array() AS array<string>), (acc, x) -> CASE x"
        " WHEN '..' THEN slice(acc, 1, greatest(size(acc) - 1, 0))"
        " WHEN '.' THEN acc ELSE concat(acc, array(x)) END),"
        " IF(element_at(__cu_segs, -1) IN ('.', '..'), array(''),"
        " cast(array() AS array<string>))), '/'), ''), '/')"
    )
    return [
        *split(b, "__cu_b"),
        f"lower({_part('__cu_b', 1)}) AS __cu_bs",
        *params("__cu_b"),
        *split(h, "__cu_h"),
        # the base's scheme is the reference's default
        f"coalesce(nullif(lower({_part('__cu_h', 1)}), ''), __cu_bs) AS __cu_hs",
        f"{_part('__cu_h', 5)} AS __cu_hf",
        *params("__cu_h"),
        # no netloc, path or params: the base's path, params (and query,
        # if the reference has none)
        "(__cu_hn = '' AND __cu_hp = '' AND __cu_hpar = '') AS __cu_inherit",
        "split(__cu_bp, '/') AS __cu_bparts",
        f"{segs} AS __cu_segs0",
        "IF(left(__cu_hp, 1) = '/' OR size(__cu_segs0) < 3, __cu_segs0,"
        " concat(slice(__cu_segs0, 1, 1),"
        " filter(slice(__cu_segs0, 2, size(__cu_segs0) - 2), x -> x != ''),"
        " slice(__cu_segs0, -1, 1))) AS __cu_segs",
        "CASE WHEN __cu_hn != '' THEN __cu_hp WHEN __cu_inherit THEN __cu_bp"
        f" ELSE {resolved} END AS __cu_jp0",
        "IF(__cu_inherit, __cu_bpar, __cu_hpar) AS __cu_jpar",
        "IF(__cu_jpar != '', __cu_jp0 || ';' || __cu_jpar, __cu_jp0) AS __cu_jp",
        "IF(__cu_hn != '', __cu_hn, __cu_bn) AS __cu_jn",
        "IF(__cu_inherit AND __cu_hq = '', __cu_bq, __cu_hq) AS __cu_jq",
        # every uses_relative scheme is in uses_netloc, so past the
        # scheme test the reference keeps its netloc or takes the base's
        f"CASE WHEN {h} IS NULL THEN NULL WHEN {b} = '' THEN {h}"
        f" WHEN {h} = '' THEN {b}"
        f" WHEN __cu_hs != __cu_bs OR NOT {_sql_in('__cu_hs', uses_relative)}"
        f" THEN {h}"
        f" ELSE {_unsplit('__cu_hs', '__cu_jn', '__cu_jp', '__cu_jq', '__cu_hf')}"
        " END AS __cu_j",
        f"({b} != '' AND {h} != '' AND ({_netloc_raises('__cu_bn')}"
        f" OR {_netloc_raises('__cu_hn')})) AS __cu_jraises",
    ]


def _apply(df: DataFrame, exprs: list[str], drop_malformed: bool) -> DataFrame:
    """``df`` plus the last of ``exprs``, the named intermediates
    (``__cu_*``) dropped; with ``drop_malformed``, so are its NULL rows:
    by exploding a 0- or 1-element array, as no predicate crosses a
    generator (a Filter would be pushed below the kernel by inlining its
    expressions, a tree that grows with every reference)."""
    out = exprs[-1].rsplit(" AS ", 1)[1]
    if drop_malformed:
        out = f"explode(IF({out} IS NULL, array(), array({out}))) AS {out}"
    keep = ["`" + c.replace("`", "``") + "`" for c in df.columns]
    return df.selectExpr("*", *exprs).selectExpr(*keep, out)


def add_canonical_url_abs(
    df: DataFrame, url: str, out: str, *, drop_malformed: bool = False
) -> DataFrame:
    """df + column ``out`` = canonical_link(url): canonicalize_url for
    base-less URLs (seed lists, sitemaps), NULL (or no row, with
    ``drop_malformed``) where it raises."""
    u = f"`{url}`"
    fast = f"coalesce({u} rlike r'^{_NO_DOTSEG}{_ABS_SHAPE}\\z', false)"
    return _apply(
        df,
        [
            f"{fast} AS __cu_fast",
            f"IF(__cu_fast, NULL, {u}) AS __cu_u",
            *_canonical_tail(
                "__cu_fast", _fast_value(u, u), "__cu_u", "false", out
            ),
        ],
        drop_malformed,
    )


def add_canonical_url(
    df: DataFrame, href: str, base: str, out: str, *, drop_malformed: bool = False
) -> DataFrame:
    """df + column ``out`` = canonical_link(href, base) (a NULL base is
    no base), NULL (or no row, with ``drop_malformed``) where
    canonicalize_url raises or ``href`` is NULL."""
    h, b = f"`{href}`", f"`{base}`"
    abs_fast = f"{h} rlike r'^{_NO_DOTSEG}{_ABS_SHAPE}{_JOIN_END}'"
    # urljoin parses the base too, so it must be one urlsplit accepts:
    # no bracket and all ASCII is enough
    base_ok = (
        f"({b} IS NULL OR (instr({b}, '[') = 0 AND instr({b}, ']') = 0"
        f" AND length({b}) = octet_length({b})))"
    )
    rel_fast = (
        f"{h} rlike r'^{_NO_DOTSEG}{_REL_SHAPE}{_JOIN_END}'"
        f" AND {b} rlike r'{_HTTP_BASE}'"
    )
    fast = f"coalesce(({abs_fast} AND {base_ok}) OR ({rel_fast}), false)"
    fast_value = _fast_value(h, f"IF(left({h}, 1) = '/', {b}, {h})")
    return _apply(
        df,
        [
            f"{fast} AS __cu_fast",
            f"IF(__cu_fast, NULL, {h}) AS __cu_href",
            f"IF(__cu_fast, NULL, coalesce({b}, '')) AS __cu_base",
            *_urljoin("__cu_href", "__cu_base"),
            *_canonical_tail(
                "__cu_fast", fast_value, "__cu_j", "__cu_jraises", out
            ),
        ],
        drop_malformed,
    )


# urlsplit's netloc and path of a canonical URL (lowercase scheme, no
# fragment), each the regex's one group: of the netloc, only the host --
# a bracketed host up to its ']', else all but a last ':port'
_HOST = (
    r"^(?:[a-z][a-z0-9+.\-]*:)?//(\[[^\]/?#]*\]?"
    r"|[^/?#]*?(?=(?::[^:/?#]*)?(?:[/?#]|\z)))"
)
_PATH = r"^(?:(?:[a-z][a-z0-9+.\-]*:)?//[^/?#]*|[a-z][a-z0-9+.\-]*:)?([^?#]*)"


def host_col(url: Column) -> Column:
    """``url_host`` of a canonical URL, JVM-side (codegen'd regexp)."""
    return F.regexp_extract(url, _HOST, 1)


def path_col(url: Column) -> Column:
    """``url_path`` of a canonical URL ('/' when empty), JVM-side."""
    p = F.regexp_extract(url, _PATH, 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def title_from_repository_name(name: Column) -> Column:
    """X2 — Go ``path.Base(name)`` (crawler/crawler.go:484-490)."""
    return F.element_at(F.split(name, "/"), -1)


def split_full_name(name: Column) -> tuple[Column, Column]:
    """X4 — ``common.SplitFullName`` (common/split_fullname.go:12-24):
    vendor = everything before the last '/', repo = last segment."""
    repo = F.element_at(F.split(name, "/"), -1)
    vendor = F.when(
        F.instr(name, "/") == 0, F.lit("")
    ).otherwise(F.regexp_replace(name, r"/[^/]*$", ""))
    return vendor, repo


def repo_lock_key(host: Column, name: Column) -> Column:
    """X5 — ``repoLockKey`` (crawler/crawler.go:620-632): host for empty
    names, host/name for single-segment names, host/first/second else."""
    parts = F.split(name, "/")
    return (
        F.when(name == "", host)
        .when(F.size(parts) < 2, F.concat_ws("/", host, name))
        .otherwise(F.concat_ws("/", host, parts[0], parts[1]))
    )


def ensure_description(
    description: Column, title: Column, name: Column
) -> Column:
    """X3 — ``ensureDescription`` (crawler/crawler.go:716-730): first
    non-empty of description, title, name, else the fixed fallback."""
    return F.coalesce(
        F.nullif(description, F.lit("")),
        F.nullif(title, F.lit("")),
        F.nullif(name, F.lit("")),
        F.lit("No description provided"),
    )


def surt_key(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key — the sort key
    of Common Crawl's CDX capture index: reversed host components
    joined by commas, a ``)``, then the path, all lowercased; scheme,
    a leading ``www.`` label, and any port are dropped so the
    http/https/www variants of one resource sort adjacently.

        https://www.Sub.Example.com:443/Path -> com,example,sub)/path

    Pure codegen expressions (split/reverse/concat) — map-side, zero
    Python. Userinfo (``user@host``) is out of contract: the crawl's
    canonicalizer never emits it, and Common Crawl's own SURT drops
    captures carrying it.

    The input is lowercased BEFORE the scheme strip (an uppercase
    ``HTTPS://`` must not survive into the key), and the host stops at
    the first of ``/``, ``?`` or ``#`` — canonicalize_url emits
    query-bearing root URLs (``https://example.com?q=1``), whose SURT is
    ``com,example)/?q=1``: the query belongs to the path remainder, never
    the host.
    """
    rest = F.regexp_replace(F.lower(url), r"^[a-z][a-z0-9+.-]*://", "")
    hostport = F.regexp_extract(rest, r"^([^/?#]+)", 1)
    host = F.regexp_replace(
        F.substring_index(hostport, ":", 1), r"^www\.", ""
    )
    remainder = F.substr(rest, F.length(hostport) + F.lit(1))
    path = (
        F.when(remainder == "", F.lit("/"))
        .when(remainder.startswith("/"), remainder)
        .otherwise(F.concat(F.lit("/"), remainder))
    )
    return F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","),
        F.lit(")"),
        path,
    )
