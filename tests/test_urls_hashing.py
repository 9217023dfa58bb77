"""URL canonicalization (X7), name splitting (X2/X4/X5), and xxhash64
parity between the pure-Python oracle and Spark's F.xxhash64."""

from __future__ import annotations

import pytest

from don_crawler_spark.functions.hashing import xxhash64_bytes, xxhash64_str
from don_crawler_spark.functions.urls import (
    canonicalize_url,
    url_host,
    url_path,
)


def test_xxhash64_spec_vectors() -> None:
    # Published xxHash reference vectors (seed 0)
    assert xxhash64_bytes(b"", 0) & ((1 << 64) - 1) == 0xEF46DB3751D8E999
    assert xxhash64_bytes(b"a", 0) & ((1 << 64) - 1) == 0xD24EC4F1A98C6E5B


def test_xxhash64_matches_spark(spark) -> None:
    from pyspark.sql import functions as F

    tests = [
        "",
        "a",
        "https://example.org/repo/x?a=1",
        "x" * 7,
        "y" * 8,
        "z" * 31,
        "w" * 32,
        "m" * 33,
        "q" * 100,
        "ünïcødé/路径",
    ]
    df = spark.createDataFrame([(t,) for t in tests], ["s"]).select(
        "s", F.xxhash64("s").alias("h")
    )
    got = {r["s"]: r["h"] for r in df.collect()}
    for t in tests:
        assert xxhash64_str(t) == got[t], t


CANON_CASES = [
    ("HTTP://Example.ORG/Path/", "http://example.org/Path"),
    ("https://example.org:443/x", "https://example.org/x"),
    ("http://example.org:80/x", "http://example.org/x"),
    ("http://example.org:8080/x", "http://example.org:8080/x"),
    ("https://example.org/x#frag", "https://example.org/x"),
    ("https://example.org/x?b=2&a=1", "https://example.org/x?a=1&b=2"),
    ("https://example.org/", "https://example.org"),
    ("https://example.org", "https://example.org"),
    ("https://user:pw@example.org/x", "https://example.org/x"),
    ("https://example.org/a/b///", "https://example.org/a/b"),
]


@pytest.mark.parametrize("raw,want", CANON_CASES)
def test_canonicalize(raw: str, want: str) -> None:
    assert canonicalize_url(raw) == want
    # idempotent
    assert canonicalize_url(want) == want


def test_canonicalize_relative() -> None:
    base = "https://example.org/dir/page"
    assert canonicalize_url("sub/x", base) == "https://example.org/dir/sub/x"
    assert canonicalize_url("/abs", base) == "https://example.org/abs"
    assert canonicalize_url("//other.org/y", base) == "https://other.org/y"


def test_host_path() -> None:
    assert url_host("https://example.org/a/b") == "example.org"
    assert url_host("https://example.org:8080/a") == "example.org"
    assert url_path("https://example.org/a/b") == "/a/b"
    assert url_path("https://example.org") == "/"


def test_udf_matches_python(spark) -> None:
    from pyspark.sql import functions as F

    from don_crawler_spark.functions.urls import canonicalize_url_udf

    raws = [c for c, _ in CANON_CASES]
    df = spark.createDataFrame([(r,) for r in raws], ["u"]).select(
        "u", canonicalize_url_udf(F.col("u")).alias("c")
    )
    got = {r["u"]: r["c"] for r in df.collect()}
    for raw, want in CANON_CASES:
        assert got[raw] == want


def test_jvm_host_path_cols_match_python(spark) -> None:
    from pyspark.sql import functions as F

    from don_crawler_spark.functions.urls import host_col, path_col

    urls = [canonicalize_url(c) for c, _ in CANON_CASES]
    df = spark.createDataFrame([(u,) for u in urls], ["url"]).select(
        "url", host_col(F.col("url")).alias("h"), path_col(F.col("url")).alias("p")
    )
    for r in df.collect():
        assert r["h"] == url_host(r["url"]), r
        assert r["p"] == url_path(r["url"]), r


def test_split_full_name(spark) -> None:
    """Mirrors common/split_fullname_test.go:5-46."""
    from pyspark.sql import functions as F

    from don_crawler_spark.functions.urls import (
        repo_lock_key,
        split_full_name,
        title_from_repository_name,
    )

    cases = [
        ("owner/repo", "owner", "repo"),
        ("group/subgroup/repo", "group/subgroup", "repo"),
        ("repo", "", "repo"),
        ("", "", ""),
    ]
    df = spark.createDataFrame([(n,) for n, _, _ in cases], ["name"])
    vendor, repo = split_full_name(F.col("name"))
    out = {
        r["name"]: (r["v"], r["r"], r["t"], r["k"])
        for r in df.select(
            "name",
            vendor.alias("v"),
            repo.alias("r"),
            title_from_repository_name(F.col("name")).alias("t"),
            repo_lock_key(F.lit("example.org"), F.col("name")).alias("k"),
        ).collect()
    }
    for name, want_v, want_r in cases:
        v, r, t, _ = out[name]
        assert (v, r) == (want_v, want_r), name
        assert t == want_r  # path.Base == last segment for these inputs
    # repoLockKey semantics (crawler/crawler.go:620-632)
    assert out[""][3] == "example.org"
    assert out["repo"][3] == "example.org/repo"
    assert out["owner/repo"][3] == "example.org/owner/repo"
    assert out["group/subgroup/repo"][3] == "example.org/group/subgroup"


def test_hybrid_canonical_matches_python(spark) -> None:
    """add_canonical_url must equal the pure-Python canonicalizer
    byte-for-byte for every shape — simple ones via the CASE column's
    fast-path arm, everything else via its ELSE arm."""
    from pyspark.sql import functions as F

    from don_crawler_spark.functions.urls import add_canonical_url

    base = "https://Example.ORG/dir/page"
    hrefs = [
        # fast-path absolute shapes
        "https://a.example/x", "HTTPS://A.Example/X/", "http://h",
        "https://h/", "https://h/a//", "https://h///", "http://h/a%20b",
        "https://h/.well-known/x", "https://h/a.b-c_d~e",
        # fast-path root-relative shapes
        "/abs", "/", "/a/b/", "/trailing///", "/%2Fesc",
        # ELSE-arm shapes: query, fragment, port, userinfo, protocol-rel,
        # relative-no-slash, whitespace, unicode host, dot segments
        "https://h/p?b=2&a=1", "https://h/p#frag", "https://h:8080/p",
        "https://u:pw@h/p", "//other.org/y", "sub/x", "../up",
        "  https://h/sp  ", "https://ünïcode.example/p", "?q=1", "",
        "https://h/p?", "x",
        # dot segments: urljoin resolves these; the fast path must NOT
        # claim them (regression: ADVICE r01 — '/a/../b' fast-pathed)
        "/a/../b", "/..", "/./x", "/a/.", "/a/b/..", "/.hidden",
        "https://h/a/../b", "https://h/.", "https://h/x.y",
        # Unicode whitespace: Python str.strip() removes U+00A0 / U+2028,
        # Java \s (and now the printable-ASCII class) does not match them
        "/a/b ", "https://h/p ", " /lead", "/p ",
    ]
    from don_crawler_spark.functions.urls import canonicalize_url

    df = spark.createDataFrame(
        [(i, h, base) for i, h in enumerate(hrefs)], ["i", "href", "base"]
    )
    out = add_canonical_url(df, "href", "base", "c")
    got = {r["i"]: r["c"] for r in out.collect()}
    assert len(got) == len(hrefs), "rows lost or duplicated"
    for i, h in enumerate(hrefs):
        want = canonicalize_url(h, base)
        assert got[i] == want, (h, got[i], want)


def test_hybrid_canonical_null_rows_survive(spark) -> None:
    from pyspark.sql import types as T

    from don_crawler_spark.functions.urls import add_canonical_url

    schema = T.StructType([
        T.StructField("i", T.IntegerType()),
        T.StructField("href", T.StringType()),
        T.StructField("base", T.StringType()),
    ])
    df = spark.createDataFrame(
        [(0, None, "https://h/p"), (1, "/x", None), (2, None, None)], schema
    )
    out = add_canonical_url(df, "href", "base", "c").collect()
    assert len(out) == 3


def test_abs_hybrid_matches_python(spark) -> None:
    """add_canonical_url_abs (base-less fast path for seed/frontier URLs)
    must equal canonicalize_url byte-for-byte on every shape."""
    from pyspark.sql import functions as F

    from don_crawler_spark.functions.urls import (
        add_canonical_url_abs,
        canonicalize_url,
    )

    urls = [
        "https://a.example/x", "HTTPS://A.Example/X/", "http://h",
        "https://h/", "https://h///", "http://h/a%20b", "https://h/a.b-c_d~e",
        "https://h/p?b=2&a=1", "https://h/p#frag", "https://h:8080/p",
        "https://h:443/p", "https://u:pw@h/p", "https://h/a/../b",
        "  https://h/sp  ", "https://ünïcode.example/p", "",
        "https://h/p ", "ftp://files.example/x",
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], ["i", "u"]
    )
    got = {r["i"]: r["c"] for r in add_canonical_url_abs(df, "u", "c").collect()}
    assert len(got) == len(urls)
    for i, u in enumerate(urls):
        want = canonicalize_url(u)
        assert got[i] == want, (u, got[i], want)


def test_canonical_link_is_none_where_canonicalize_raises() -> None:
    """urlsplit rejects these netlocs (ValueError); canonical_link turns
    that into None, as the Spark kernel returns NULL."""
    from don_crawler_spark.functions.urls import canonical_link

    for bad in ("http://[x", "http://[1.2.3.4]/", "https://a／b/x"):
        with pytest.raises(ValueError):
            canonicalize_url(bad)
        assert canonical_link(bad) is None
        assert canonical_link(bad, "https://example.org/p") is None
        assert canonical_link("/x", bad) is None
    assert canonical_link("/x", "https://example.org/p") == "https://example.org/x"


# --- differential parity: the Spark kernel vs canonical_link --------------
#
# A seeded generator of URL-shaped strings over the inputs where
# urllib.parse has rules of its own. Every kernel row must equal
# canonical_link (None where canonicalize_url raises ValueError).

_SCHEMES = ["http", "https", "HTTP", "ftp", "file", "mailto", "sip", "tel",
            "git", "svn+ssh", "ws", "foo", "a.b-c", "1http", "ht!p", ""]
_USERINFO = ["", "", "", "user@", "u:pw@", "a@b@", "@"]
_HOSTS = (
    ["example.org"] * 6 + ["Sub.Example.COM"] * 4
    + ["EXAMPLE.Org", "h", "", "a-b.c", "a b",
       # non-ASCII; NFKC forms holding '/', ':', 'a/c' (these raise)
       "ünï.example", "İstanbul.tr", "ΣΑΣ.gr", "ＡＢ", "a／b", "a﹕b", "x℀y",
       # bracketed hosts: IPv6, scoped IPv6, IPv4 tail, IPvFuture (valid),
       # then IPv4, unbalanced, empty, bad IPvFuture / IPv6 (these raise)
       "[::1]", "[2001:db8::1%eth0]", "[::ffff:1.2.3.4]", "[v1.abc]",
       "[1.2.3.4]", "[x", "x]", "[::1", "]a[", "[]", "[vZ.x]", "[V1.x]",
       "[fe80::1%]", "[1::2::3]"]
)
_PORTS = ["", "", "", ":80", ":443", ":8080", ":", ":abc"]
_SEGMENTS = ["a", "B", ".", "..", "", ";p", "x;y", "a;", ";", "..;", "é",
             " ", "a b", "+", "~", "*", "\\", "%41", "%2F", "%zz", "%",
             "%ED%A0%80"]
_QUERY_PAIRS = ["a=1", "b=2", "a=2", "A=3", "a=", "a", "=x", "=", "",
                "k+1=v+2", "x=%2B", "q=a%20b", "é=ü", "z=~*", "%zz=%",
                "b=%C3%A9", "c=%E2%82", "f=%F0%9F%98", "d=%ED%A0%80",
                "e=%ed%bf%bf"]
_FRAGMENTS = ["", "", "#f", "#", "#a b", "#x?y", "# "]
# str.isspace and C0 controls at either end (urlsplit strips only C0)
_PAD = [""] * 12 + [" ", "\t", "\n", "\r\n", "\x0b", "\x1c", "\x00", "\x01",
                    "\x85", "\xa0", " ", "　"]


def _gen_path(rng) -> str:
    segs = "/".join(rng.choice(_SEGMENTS) for _ in range(rng.randint(0, 4)))
    return rng.choice(["/", "/", "", "//"]) + segs + rng.choice(["", "", "/", "//"])


def _gen_simple(rng) -> str:
    """The fast path's shapes and their near misses."""
    path = "/".join(
        rng.choice(["a", "B", "x.y", "a;b", "%41", "~", "*", "-_"])
        for _ in range(rng.randint(0, 3))
    )
    tail = rng.choice(["", "/", "//", ";", "/.", "/..", "?q=1", "#f", " "])
    if rng.random() < 0.5:
        scheme = rng.choice(["http", "https", "HTTPS", "ftp"])
        return f"{scheme}://{rng.choice(['example.org', 'H', 'a-b.c'])}/{path}{tail}"
    return f"/{path}{tail}"


def _gen_url(rng) -> str:
    if rng.random() < 0.35:
        return _gen_simple(rng)
    scheme, shape = rng.choice(_SCHEMES), rng.random()
    authority = rng.choice(_USERINFO) + rng.choice(_HOSTS) + rng.choice(_PORTS)
    if shape < 0.45:
        url = f"{scheme}://{authority}{_gen_path(rng)}"
    elif shape < 0.55:
        url = f"//{authority}{_gen_path(rng)}"
    elif shape < 0.7:
        url = _gen_path(rng)
    elif shape < 0.8:
        url = "/".join(rng.choice(_SEGMENTS) for _ in range(rng.randint(1, 3)))
    elif shape < 0.88:
        url = f"{scheme}:{_gen_path(rng)}"
    else:
        url = rng.choice(["", ".", "..", "./", "../x", ";p", "a;", "//",
                          "///x", "?q=1", "#f", " ", "\t"])
    if rng.random() < 0.5:
        url += "?" + "&".join(
            rng.choice(_QUERY_PAIRS) for _ in range(rng.randint(0, 4))
        )
    url += rng.choice(_FRAGMENTS)
    if rng.random() < 0.1:  # urlsplit deletes \t \r \n anywhere
        i = rng.randint(0, len(url))
        url = url[:i] + rng.choice("\t\r\n") + url[i:]
    return rng.choice(_PAD) + url + rng.choice(_PAD)


def _gen_base(rng) -> str | None:
    r = rng.random()
    if r < 0.05:
        return None
    if r < 0.1:
        return ""
    if r < 0.7:
        scheme = rng.choice(["https", "http", "HTTPS", "ftp", "file", "mailto",
                             "sip", "foo", ""])
        host = rng.choice(["example.org", "h", "B.example", "", "u@h:80"])
        if rng.random() < 0.03:
            host = rng.choice(["[x", "a／b", "[::1]"])
        return (f"{scheme}://{host}{_gen_path(rng)}"
                + rng.choice(["", "", "?b=1", "?", ";q"]) + rng.choice(_FRAGMENTS))
    return _gen_url(rng)


def test_kernel_matches_canonical_link_differentially(spark) -> None:
    """20,000 (href, base) pairs and 5,000 base-less URLs, seeded: every
    row of add_canonical_url / add_canonical_url_abs equals
    canonical_link, including the NULLs where canonicalize_url raises."""
    import random

    from don_crawler_spark.functions.urls import (
        add_canonical_url,
        add_canonical_url_abs,
        canonical_link,
    )

    rng = random.Random(20261019)
    pairs = [(_gen_url(rng), _gen_base(rng)) for _ in range(20_000)]
    urls = [_gen_url(rng) for _ in range(5_000)]

    df = spark.createDataFrame(
        [(i, h, b) for i, (h, b) in enumerate(pairs)],
        "i int, href string, base string",
    )
    got = dict(add_canonical_url(df, "href", "base", "c").select("i", "c").collect())
    bad = [(h, b, got[i]) for i, (h, b) in enumerate(pairs)
           if got[i] != canonical_link(h, b)]
    assert not bad, bad[:10]

    df = spark.createDataFrame(list(enumerate(urls)), "i int, u string")
    got = dict(add_canonical_url_abs(df, "u", "c").select("i", "c").collect())
    bad = [(u, got[i]) for i, u in enumerate(urls) if got[i] != canonical_link(u)]
    assert not bad, bad[:10]

    # the generator reaches both arms of the kernel and both outcomes
    n_none = sum(canonical_link(h, b) is None for h, b in pairs)
    assert 0.02 * len(pairs) < n_none < 0.3 * len(pairs)
    assert sum(h.startswith("/") and (b or "").startswith("http") for h, b in pairs) > 500


def test_host_path_cols_match_python_differentially(spark) -> None:
    """host_col / path_col equal url_host / url_path on every canonical
    URL of the seeded generator above (bracketed IPv6 hosts with and
    without a port included): one rule, a bracketed host up to its ']'
    and a netloc's last ':port' stripped."""
    import random

    from pyspark.sql import functions as F

    from don_crawler_spark.functions.urls import canonical_link, host_col, path_col

    rng = random.Random(20261020)
    canon = {canonical_link(_gen_url(rng), _gen_base(rng)) for _ in range(20_000)}
    canon |= {"http://[::1]/x", "http://[::1]:8080/x", "https://[v1.abc]:1"}
    urls = sorted(canon - {None})
    df = spark.createDataFrame([(u,) for u in urls], "url string").select(
        "url", host_col(F.col("url")).alias("h"), path_col(F.col("url")).alias("p")
    )
    bad = [r for r in df.collect()
           if (r["h"], r["p"]) != (url_host(r["url"]), url_path(r["url"]))]
    assert bad == []
    assert url_host("http://[::1]/x") == url_host("http://[::1]:8080/x") == "[::1]"
    assert sum(url_host(u).startswith("[") for u in urls) > 10
