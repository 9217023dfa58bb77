"""Byte-exactness tests for the README extractor (X1/F8).

Mirrors the semantics of crawler/crawler.go:671-714 including the
dead-code quirks documented in don_crawler_spark/functions/extract.py.
The reference ships no tests for this function, so these cases are
derived directly from the Go control flow.
"""

from __future__ import annotations

import pytest

from don_crawler_spark.functions.extract import (
    description_from_readme,
    is_readme_skippable_line,
    parse_links_py,
)

CASES = [
    # (input, expected) — expected derived by hand-executing the Go code
    ("", ""),
    ("hello", "hello"),
    ("hello\nworld", "hello world"),
    # first blank line breaks immediately, leaving empty slots -> spaces
    ("a\nb\n\nc", "a b  "),
    # leading blank line -> breaks before any content (quirk (a))
    ("\n# x", " "),
    # headings are NOT skipped (quirk (b): skippable predicate is dead)
    ("# Title\nbody", "# Title body"),
    ("<img src=x>\ntext", "<img src=x> text"),
    ("<a href=y>\ntext", "<a href=y> text"),
    ("![badge](u)\ntext", "![badge](u) text"),
    ("[![ci](u)](v)\ntext", "[![ci](u)](v) text"),
    # CRLF normalization (crawler.go:672)
    ("a\r\nb\r\n\r\nc", "a b  "),
    # whitespace-only line counts as blank (TrimSpace)
    ("a\n   \t\nb", "a  "),
    # inner-line whitespace trimmed per line
    ("  padded  \nalso\tpadded\t", "padded also\tpadded"),
    # trailing newline -> one extra empty slot -> trailing space
    ("one line\n", "one line "),
    # unicode whitespace (NBSP) trims like Go unicode.IsSpace
    (" x \nnext", "x next"),
    # U+001C is NOT Go whitespace: neither blank nor trimmed
    ("\x1ckeep\x1c\nnext", "\x1ckeep\x1c next"),
    # lone CR is NOT a line break (only \r\n is normalized)
    ("a\rb", "a\rb"),
]


@pytest.mark.parametrize("contents,expected", CASES)
def test_description_from_readme(contents: str, expected: str) -> None:
    got = description_from_readme(contents)
    assert got == expected, (got.encode(), expected.encode())


def test_skippable_line_predicate() -> None:
    # crawler/crawler.go:698-714 (tested even though dead in the reference)
    assert is_readme_skippable_line("# h")
    assert is_readme_skippable_line("<IMG src>")
    assert is_readme_skippable_line("<A href>")
    assert is_readme_skippable_line("![x](y)")
    assert is_readme_skippable_line("[![x](y)](z)")
    assert not is_readme_skippable_line("plain text")
    assert not is_readme_skippable_line(" # not at start")


def test_parse_links() -> None:
    html = '<p><a href="https://a.example/x">x</a> <a href="/rel">r</a></p>'
    assert parse_links_py(html) == ["https://a.example/x", "/rel"]
    assert parse_links_py(None) == []
    assert parse_links_py(html.encode()) == ["https://a.example/x", "/rel"]


def test_native_col_byte_parity(spark) -> None:
    """The JVM-native extractor column (the hot path — no Python) is
    byte-identical to the Python oracle on every hand case plus
    adversarial shapes around the blank-line/slot-join arithmetic."""
    from pyspark.sql import functions as F

    from don_crawler_spark.functions.extract import extract_description_col

    inputs = [c for c, _ in CASES] + [
        "\n", "\n\n", "a\n\n\n", "a\nb\nc\nd\n\n\n\n", "x\n" * 200,
        "\r\n", "  \n", "a\n \nb\n\nc", "　full-width\nnext",
        "x\n" * 1000, "y " * 5000,
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(inputs)] + [(len(inputs), None)],
        "i int, html string",
    )
    got = {
        r["i"]: r["t"]
        for r in df.select(
            "i", extract_description_col(F.col("html"), binary=False).alias("t")
        ).collect()
    }
    assert got.pop(len(inputs)) is None  # NULL html -> NULL text
    for i, inp in enumerate(inputs):
        want = description_from_readme(inp)
        assert got[i].encode("utf-8") == want.encode("utf-8"), (
            repr(inp), repr(got[i]), repr(want))


def test_native_col_hypothesis_parity(spark) -> None:
    """Property: native column == oracle on random whitespace-heavy text."""
    import random

    from pyspark.sql import functions as F

    from don_crawler_spark.functions.extract import extract_description_col

    rng = random.Random(7)
    alphabet = list("ab #<![\t\r\n   　\x1c") + ["\r\n"]
    inputs = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 60)))
        for _ in range(300)
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(inputs)], ["i", "html"])
    got = {
        r["i"]: r["t"]
        for r in df.select(
            "i", extract_description_col(F.col("html"), binary=False).alias("t")
        ).collect()
    }
    for i, inp in enumerate(inputs):
        want = description_from_readme(inp)
        assert got[i].encode("utf-8") == want.encode("utf-8"), (
            repr(inp), repr(got[i]), repr(want))


def test_native_links_parity(spark) -> None:
    from pyspark.sql import functions as F

    from don_crawler_spark.functions.extract import links_native_col

    inputs = [
        '<a href="https://a.example/x">x</a> <a href="/rel">r</a>',
        "no links here",
        '<a href="">empty</a><a href="q?a=1&b=2">q</a>',
        "",
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(inputs)], ["i", "html"])
    got = {
        r["i"]: list(r["l"])
        for r in df.select(
            "i", links_native_col(F.col("html"), binary=False).alias("l")
        ).collect()
    }
    for i, inp in enumerate(inputs):
        assert got[i] == parse_links_py(inp), (inp, got[i])


def test_native_col_binary_input(spark) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from don_crawler_spark.functions.extract import (
        extract_description_col,
        links_native_col,
    )

    rows = [(0, 'pre\n<a href="u">u</a>\n\ntail'.encode()), (1, None),
            (2, b"a\r\nb")]
    schema = T.StructType([
        T.StructField("i", T.IntegerType()),
        T.StructField("html", T.BinaryType()),
    ])
    df = spark.createDataFrame(rows, schema)
    out = {
        r["i"]: (r["t"], list(r["l"]))
        for r in df.select(
            "i",
            extract_description_col(F.col("html")).alias("t"),
            links_native_col(F.col("html")).alias("l"),
        ).collect()
    }
    assert out[0][0] == description_from_readme(rows[0][1].decode())
    assert out[0][1] == ['u']
    assert out[1] == (None, [])
    assert out[2] == ("a b", [])


def test_staged_extractor_byte_parity(spark) -> None:
    """with_extracted_description (the staged two-projection hot path:
    regexp_instr first-blank + prefix-only trim + arithmetic tail) is
    byte-identical to the Python oracle on hand cases, adversarial
    shapes, and random whitespace-heavy text."""
    import random

    from pyspark.sql import functions as F

    from don_crawler_spark.functions.extract import with_extracted_description

    rng = random.Random(13)
    alphabet = list("ab #<![\t\r\n   　\x1c \x85\xa0") + ["\r\n"]
    inputs = (
        [c for c, _ in CASES]
        + [
            "\n", "\n\n", "a\n\n\n", "a\nb\nc\nd\n\n\n\n", "x\n" * 200,
            "\r\n", "  \n", "a\n \nb\n\nc", "　full-width\nnext",
            "", "a", "a\n", "\xa0\n x\n\ny", " \nx",
        ]
        + [
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 60)))
            for _ in range(300)
        ]
    )
    df = spark.createDataFrame([(i, c) for i, c in enumerate(inputs)], ["i", "html"])
    out = with_extracted_description(df, "html", "t", binary=False)
    got = {r["i"]: r["t"] for r in out.select("i", "t").collect()}
    for i, inp in enumerate(inputs):
        want = description_from_readme(inp)
        assert got[i].encode("utf-8") == want.encode("utf-8"), (
            repr(inp), repr(got[i]), repr(want))
