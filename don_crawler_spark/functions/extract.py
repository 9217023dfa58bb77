"""Text extraction — byte-identical to the reference's README extractor.

Reference: ``descriptionFromReadme`` + ``isReadmeSkippableLine`` at
``crawler/crawler.go:671-714``. The Go function has a load-bearing quirk:
``paragraph := make([]string, len(lines))`` allocates a slice of LENGTH
len(lines) (not capacity), with three byte-visible consequences that the
per-row invariant ("byte-identical extracted text per url") forces us to
replicate exactly:

  (a) ``len(paragraph) > 0`` is always true, so the loop breaks at the
      FIRST whitespace-only line — even before any content was collected;
  (b) ``len(paragraph) == 0`` is always false, so the skippable-line
      predicate (leading ``#`` headings, ``<img``/``<a``/``![``/``[!``)
      NEVER fires — those lines are kept;
  (c) slots past the break remain empty strings, so the final
      ``strings.Join(paragraph, " ")`` emits one space per untouched slot
      (i.e. trailing/extra spaces proportional to the lines never visited).

We therefore implement: normalize CRLF -> LF, split on LF, trim each line
with Go's ``strings.TrimSpace`` semantics (Unicode whitespace), stop at the
first line that trims to "", and join the length-preserved slot array with
single spaces.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import functions as F

# Go strings.TrimSpace trims runes with the Unicode White_Space property
# (unicode.IsSpace): U+0009-U+000D, U+0020, U+0085, U+00A0, U+1680,
# U+2000-U+200A, U+2028, U+2029, U+202F, U+205F, U+3000. Python's bare
# .strip() additionally strips U+001C-U+001F, which Go does NOT — so we
# strip the exact Go set.
_GO_WHITESPACE = (
    "\t\n\x0b\x0c\r \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)


def _go_trim_space(line: str) -> str:
    """Go strings.TrimSpace equivalent (White_Space property, both ends)."""
    return line.strip(_GO_WHITESPACE)


def description_from_readme(contents: str) -> str:
    """Pure-Python port-of-semantics of crawler/crawler.go:671-696.

    Single-row oracle; the Catalyst columns below must agree byte-for-byte.
    """
    contents = contents.replace("\r\n", "\n")
    lines = contents.split("\n")
    paragraph = [""] * len(lines)  # Go: make([]string, len(lines)) — LENGTH, not cap
    for i, line in enumerate(lines):
        trimmed = _go_trim_space(line)
        if trimmed == "":
            # Go: `if len(paragraph) > 0 { break }` — always true.
            break
        # Go: `if len(paragraph) == 0 && isReadmeSkippableLine(...)` — never true.
        paragraph[i] = trimmed
    return " ".join(paragraph)


def is_readme_skippable_line(line: str) -> bool:
    """crawler/crawler.go:698-714 — dead code in the reference (see module
    docstring), kept as a tested public kernel because the *intended*
    behavior is useful for the quality-scoring operators."""
    lower = line.lower()
    if line.startswith("#"):
        return True
    if lower.startswith("<img") or lower.startswith("<a"):
        return True
    if line.startswith("![") or line.startswith("[!"):
        return True
    return False


# ---------------------------------------------------------------------------
# Link extraction — the "emit newly discovered URLs" half of the fetch stage.
# The reference discovers work via provider listing APIs
# (scanner/github.go:59-153 etc.); our corpus embeds out-links as
# href attributes, so discovery is a regex scan per page.
# ---------------------------------------------------------------------------

_HREF_RE = re.compile(r'href="([^"]+)"')


def parse_links_py(html: str | bytes | None) -> list[str]:
    if html is None:
        return []
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    return _HREF_RE.findall(html)


# ---------------------------------------------------------------------------
# JVM-native extraction — the hot path.
#
# The extractor semantics above (CRLF normalize, Go-trim each line, stop at
# the first blank line, join the length-preserved slot array) are fully
# expressible as Catalyst expressions, so the payload column never has to
# cross into Python at all: no Arrow serialization of html bytes, no Python
# worker allocation churn, whole-stage codegen end to end. The Python
# functions above are the parity oracles; byte-for-byte agreement with
# them is pinned in tests/test_extract.py.
#
# Measured on the 500k-page bench corpus at local[16], the former pandas-UDF
# extract spent ~80% of worker time in kernel page-fault handling on this
# microVM host (3.3 sys-cores vs 0.8 user-cores mid-run) because every
# Arrow batch faulted fresh pages for 6 KB html strings; the native column
# does none of that.
# ---------------------------------------------------------------------------

# Go's unicode.IsSpace set as a Java regex character class (must match
# _GO_WHITESPACE above exactly).
_GO_WS_CLASS = (
    "[\\t\\n\\x0B\\f\\r \\x85\\xA0\\u1680"
    "\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000]"
)
_GO_TRIM_RE = f"^{_GO_WS_CLASS}+|{_GO_WS_CLASS}+$"


def html_string_col(html):
    """binary html -> UTF-8 string (U+FFFD replacement, like the Python
    oracle's errors="replace"; the corpus is valid UTF-8 — on malformed
    input Java substitutes per maximal subsequence where Python replaces
    per byte, an accepted divergence documented here)."""
    return F.decode(html, "UTF-8")


def _n_spaces(count):
    """A string of ``count`` spaces (count is a Column; <=0 -> '')."""
    return F.repeat(F.lit(" "), F.greatest(count, F.lit(0)).cast("int"))


# One-pass whole-document line trim. (?d) = UNIX_LINES: ONLY \n acts as a
# line terminator for ^/$ -- without it Java also treats \r, U+0085,
# U+2028, U+2029 as line breaks, but those are ordinary Go-whitespace chars for the
# reference's extractor (they trim mid-line, they don't split lines). The
# class is the Go set MINUS \n so a run can never cross a line boundary.
_GO_WS_CLASS_NO_NL = (
    "[\\t\\x0B\\f\\r \\x85\\xA0\\u1680"
    "\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000]"
)
_GO_TRIM_ALL_LINES_RE = (
    f"(?md)^{_GO_WS_CLASS_NO_NL}+|{_GO_WS_CLASS_NO_NL}+$"
)


def extract_description_col(html, *, binary: bool = True):
    """X1 as pure Catalyst expressions — byte-identical to
    ``description_from_readme`` (crawler/crawler.go:671-696 semantics,
    including the preallocated-slot join artifacts).

    Decomposition: with lines L1..Ln (CRLF normalized, split keeping
    trailing empties) and T = go-trim of each, let k be the 1-based index
    of the first blank T (0 if none). The reference's join of the
    n-slot array is then
      k = 0 -> join(T, ' ')            (no blank line: all slots filled)
      k = 1 -> (n-1) spaces            (n empty slots, n-1 separators)
      k >= 2 -> join(T[1..k-1], ' ') + (n-k+1) spaces

    PERF: trimming runs as ONE multiline regexp_replace over the whole
    document instead of a per-line HOF (a ~100-line page used to pay ~100
    regexp calls + UTF8String<->String conversions; one pass cut the
    measured per-page extraction cost ~10x and the allocation churn with
    it — load-bearing for the N->4N scaling criterion).
    """
    s = html_string_col(html) if binary else html
    # normalize CRLF, then trim every line in one pass; split AFTER the
    # trim so the array holds already-trimmed lines
    t = F.regexp_replace(
        F.regexp_replace(s, "\r\n", "\n"), _GO_TRIM_ALL_LINES_RE, ""
    )
    lines = F.split(t, "\n", -1)
    n = F.size(lines)
    k = F.array_position(lines, "")
    return (
        F.when(s.isNull(), F.lit(None).cast("string"))
        .when(k == 0, F.array_join(lines, " "))
        .when(k == 1, _n_spaces(n - 1))
        .otherwise(
            F.concat(
                F.array_join(F.slice(lines, 1, (k - 1).cast("int")), " "),
                _n_spaces(n - k + 1),
            )
        )
    )


def with_extracted_description(df, html: str = "html", out: str = "text",
                               *, binary: bool = True):
    """X1 extraction as a staged two-projection plan — the hot-path form.

    Same byte-exact semantics as ``extract_description_col`` (pinned
    against it and the Python oracle in tests/test_extract.py), but
    restructured for throughput:

      * intermediates (normalized doc, first-blank-line position) are
        materialized in a lower Project, so Catalyst cannot re-evaluate
        the regex subtree once per CASE branch (CollapseProject refuses
        to merge through non-cheap expressions — measured 5x);
      * the go-trim regex runs over the FIRST PARAGRAPH only, not the
        whole document: the reference's extractor stops at the first
        blank line, and every line past it contributes exactly one join
        space, which is arithmetic (line counting via translate/length),
        not regex work. ``regexp_instr`` early-exits at the first blank
        line, so per-page cost is O(first paragraph) + one cheap
        newline-count pass (measured ~20x over the naive column form on
        the bench corpus).

    Internal columns are dropped before return.
    """
    d_, p_, desc = _x1_columns(html, binary)
    staged = df.select("*", d_.alias("__x1_d"), p_.alias("__x1_p"))
    return staged.withColumn(out, desc).drop("__x1_d", "__x1_p")


@functools.cache
def _x1_columns(html: str, binary: bool):
    """``with_extracted_description``'s Column trees: they read columns
    by name only, so each (html, binary) builds them once per process."""
    s = html_string_col(F.col(html)) if binary else F.col(html)
    d_ = F.regexp_replace(s, "\r\n", "\n")
    d = F.col("__x1_d")
    # 1-based char position of the first line whose go-trim is ""
    # (0 = no blank line). (?d): only \n terminates a line, see
    # _GO_TRIM_ALL_LINES_RE. A lateral alias: it reads __x1_d.
    p_ = F.regexp_instr(d, F.lit(f"(?dm)^{_GO_WS_CLASS_NO_NL}*$"))
    p = F.col("__x1_p")
    count_nl = lambda c: (F.length(c) - F.length(F.translate(c, "\n", "")))
    n = count_nl(d) + 1  # total lines
    k = count_nl(F.substring(d, 1, p - 1)) + 1  # first blank line index
    trim_join = lambda c: F.translate(
        F.regexp_replace(c, _GO_TRIM_ALL_LINES_RE, ""), "\n", " "
    )
    desc = (
        F.when(d.isNull(), F.lit(None).cast("string"))
        .when(p == 0, trim_join(d))  # no blank line: trim+join everything
        .when(p == 1, _n_spaces(n - 1))  # first line already blank
        .otherwise(
            # lines 1..k-1 end just before the (k-1)th \n at position p-1
            F.concat(
                trim_join(F.substring(d, 1, p - 2)),
                _n_spaces(n - k + 1),
            )
        )
    )
    return d_, p_, desc


def links_native_col(html, *, binary: bool = True):
    """href discovery as a JVM regexp scan (same matches as
    ``parse_links_py``); null html -> empty array, as there."""
    s = html_string_col(html) if binary else html
    return F.coalesce(
        F.regexp_extract_all(s, F.lit('href="([^"]+)"'), F.lit(1)),
        F.array().cast("array<string>"),
    )
