"""Text-normalization column expressions (SURVEY.md §2.8 F4-F8, F7).

All pure ``pyspark.sql.functions`` — regex work runs JVM-side inside
codegen; no Python UDFs in the hot path. Char n-grams, the one place
the reference loops in Scala (`utils/Utils.scala:40-52`), is expressed
as sequence+transform array SQL so it stays vectorized too.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# Java's \s set, spelled explicitly. Java regex \s = [ \t\n\x0B\f\r]
# but RE2 (DuckDB) \s = [\t\n\f\r ] — VERTICAL TAB is the one char the
# two engines' shorthands disagree on (textuni-fuzz finding, r11). Any
# whitespace class evaluated on BOTH engines must spell this class
# instead of \s; both regex dialects parse these escapes identically.
WS_CHARS = r" \t\n\x0B\f\r"
WS_CLASS = f"[{WS_CHARS}]"


def java_lower_sql(expr: str) -> str:
    """DuckDB oracle twin of Spark/Java ``lower()``.

    utf8proc (DuckDB) lowers İ (U+0130) with the SIMPLE mapping to
    plain ``i``; Java/Spark applies the FULL mapping to ``i`` +
    combining dot (U+0307) — the only non-conditional multi-character
    lowercase in Unicode SpecialCasing.txt, and it SPLITS words under
    a subsequent ``[^A-Za-z]`` strip ('İstanbul' → 'i stanbul' vs
    'istanbul'; textuni-fuzz finding, r11). Pre-expanding İ before
    lower() reproduces Java semantics exactly. Conditional mappings
    (Final_Sigma) cannot be expressed in RE2 and remain a documented
    engine divergence (tests/test_text_robustness.py)."""
    return f"lower(replace({expr}, 'İ', 'i' || chr(775)))"


def shrink_string(s: Column) -> Column:
    """Collapse 3+ blanks, then drop tabs/newlines and every comma
    (thousands-commas between digits among them).

    Reference: `utils/Utils.scala:208-210` (``shrinkString``).

    Two passes, not the reference's three: its middle pass deletes the
    commas between digits (``(?<=\\d),(?=\\d)``), and the last pass
    deletes every comma, so the middle one can change nothing and costs
    one more regex scan of every page. `tests/test_text_functions.py`
    pins the result to the three-pass form.
    """
    s = F.regexp_replace(s, r"[ \t]{3,}", " ")
    return F.regexp_replace(s, r"[\t\n\r,]", "")


def text_only(s: Column) -> Column:
    """Letters only, single-spaced. Reference: `utils/Utils.scala:64-66`."""
    return F.regexp_replace(F.regexp_replace(s, "[^A-Za-z]+", " "), " +", " ")


def text_num(s: Column) -> Column:
    """Alnum only, single-spaced. Reference: `utils/Utils.scala:72-74`."""
    return F.regexp_replace(F.regexp_replace(s, "[^0-9A-Za-z]+", " "), " +", " ")


def three_plus_trim(s: Column) -> Column:
    """Squeeze runs of 3+ blanks. Reference: `utils/Utils.scala:266-268`."""
    return F.regexp_replace(s, r"[ \t]{3,}", " ")


def tokenize(s: Column) -> Column:
    """textOnly → split on space. Reference: `utils/Utils.scala:57-59`."""
    return F.split(F.trim(text_only(s)), " ")


def get_domain(url: Column) -> Column:
    """URL → host, strip leading ``www.``, fall back to
    ``www.failed.com`` when no host parses (observable quirk kept for
    parity). Reference: `utils/Utils.scala:359-375` (``getDomain``).
    """
    fixed = F.when(url.rlike("^https?://"), url).otherwise(F.concat(F.lit("http://"), url))
    # try_parse_url, not parse_url: Spark 4 parse_url THROWS on invalid
    # urls, which would crash the whole job on one bad record instead
    # of taking the reference's www.failed.com fallback path
    host = F.try_parse_url(fixed, F.lit("HOST"))
    host = F.regexp_replace(host, r"^www\.", "")
    return F.when(host.isNull() | (host == ""), "www.failed.com").otherwise(host)


def char_ngrams(s: Column, n: int) -> Column:
    """All char n-grams of ``s`` — preserving the reference's
    observable off-by-one: the scala loop ``for (i <- 1 until length)
    if (i + n < length) substring(i, i+n)`` skips the gram at offset 0
    and drops tail grams. 0-based ``substring(i, i+n)`` == SQL
    ``substring(s, i+1, n)``, so 1-based starts run over
    ``[2, length-n]``.

    Reference: `utils/Utils.scala:40-52` (``gramsByN``). Built as
    sequence→transform→substr so it runs JVM-side (no UDF). The
    reference prepends to a list (reverse order); consumers treat the
    result as a bag, so natural order is kept here.
    """
    length = F.length(s)
    idx = F.sequence(F.lit(2), length - F.lit(n))
    return F.when(length - n >= 2, F.transform(idx, lambda i: s.substr(i, F.lit(n)))).otherwise(
        F.array().cast("array<string>")
    )


# --- Constructed-feed free-text escaping (one boundary for the class) ---
#
# C0 control characters other than \t \n \r are illegal in both
# constructed-feed dialects this engine templates: raw inside a JSON
# string they make Jackson treat the payload as corrupt (from_json →
# NULL row / FAILFAST crash) while DuckDB's yyjson hard-errors the
# whole query ("unexpected control character"); in XML 1.0 they are
# illegal even as character entities, and Xerces hard-crashes inside
# xpath_string on a raw 0x0B. Any real feed builder must strip them
# before escaping — so every feed template in this repo routes its
# free-text columns through the helpers below (Spark + DuckDB-SQL
# twins, textuni-fuzz findings r11; the whois gap closed r12). A grep
# test (tests/test_text_robustness.py) asserts no duplicated escape
# chain survives outside this module.
C0_CONTROLS_RE = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"  # Java + RE2 alike


def strip_c0_controls(col: Column) -> Column:
    """Drop C0 controls (minus tab/LF/CR) from free text, Spark-side."""
    return F.regexp_replace(col, C0_CONTROLS_RE, "")


def strip_c0_controls_sql(expr: str) -> str:
    """DuckDB twin of :func:`strip_c0_controls` (RE2, 'g' flag)."""
    return f"regexp_replace({expr}, '{C0_CONTROLS_RE}', '', 'g')"


def json_escape_free_text(col: Column) -> Column:
    """Escape a free-text column for templating inside a JSON string
    literal: strip C0 controls, then backslash-escape ``\\ " \\n \\r
    \\t`` (backslash first — order matters)."""
    col = strip_c0_controls(col)
    for needle, repl in (
        ("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")
    ):
        col = F.replace(col, F.lit(needle), F.lit(repl))
    return col


def json_escape_free_text_sql(expr: str) -> str:
    """DuckDB twin of :func:`json_escape_free_text` — the identical
    strip-then-escape chain spelled in SQL, so a constructed payload
    hashes equal across engines."""
    return (
        "replace(replace(replace(replace(replace("
        f"{strip_c0_controls_sql(expr)}, "
        "chr(92), chr(92) || chr(92)), "
        "'\"', chr(92) || '\"'), "
        "chr(10), chr(92) || 'n'), "
        "chr(13), chr(92) || 'r'), "
        "chr(9), chr(92) || 't')"
    )


def xml_escape_free_text(col: Column) -> Column:
    """Escape a free-text column for templating inside an XML text
    node: strip C0 controls, then entity-escape ``& < >`` and ``\\r``
    (an unescaped CR is eaten by XML line-end normalization)."""
    col = strip_c0_controls(col)
    for needle, repl in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ("\r", "&#13;")):
        col = F.replace(col, F.lit(needle), F.lit(repl))
    return col


def xml_escape_free_text_sql(expr: str) -> str:
    """DuckDB twin of :func:`xml_escape_free_text`."""
    return (
        "replace(replace(replace(replace("
        f"{strip_c0_controls_sql(expr)}, "
        "'&', '&amp;'), '<', '&lt;'), '>', '&gt;'), "
        "chr(13), '&#13;')"
    )
