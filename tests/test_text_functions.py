"""Direct semantics tests for the scalar text functions (SURVEY.md
§2.8 F4-F8) — the reference-parity quirks pinned explicitly."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions import text as T


def _one(spark, col, s):
    return spark.createDataFrame([(s,)], "s string").select(col.alias("v")).first().v


def test_shrink_string(spark):
    # collapse 3+ blanks, strip thousands commas between digits, drop
    # tabs/newlines/commas (utils/Utils.scala:208-210)
    col = T.shrink_string(F.col("s"))
    assert _one(spark, col, "a    b") == "a b"
    assert _one(spark, col, "1,234,567 x") == "1234567 x"
    assert _one(spark, col, "a\tb\nc,d") == "abcd"
    # two blanks are NOT collapsed (threshold is 3+)
    assert _one(spark, col, "a  b") == "a  b"


def _three_pass_shrink(s):
    """``shrink_string`` as the reference spells it
    (`utils/Utils.scala:208-210`), frozen here: the middle pass the
    engine drops must never have changed a result."""
    s = F.regexp_replace(s, r"[ \t]{3,}", " ")
    s = F.regexp_replace(s, r"(?<=\d),(?=\d)", "")
    return F.regexp_replace(s, r"[\t\n\r,]", "")


SHRINK_TEXTS = st.text(alphabet="0123456789,. \t\n\rabXY", max_size=40)


def test_shrink_string_equals_the_three_pass_reference(spark):
    """Every drawn string shrinks the same both ways. Hypothesis only
    draws the strings; one Spark job checks them all."""
    drawn = ["1,234,567", " ,\t,  ,1", "1,\n,2"]

    @settings(max_examples=400, deadline=None, database=None)
    @given(SHRINK_TEXTS)
    def draw(s):
        drawn.append(s)

    draw()
    rows = (
        spark.createDataFrame([(s,) for s in drawn], "s string")
        .select("s", T.shrink_string(F.col("s")).alias("two"), _three_pass_shrink(F.col("s")).alias("three"))
        .collect()
    )
    assert len(rows) == len(drawn)
    assert [(r.s, r.two) for r in rows if r.two != r.three] == []


def test_text_only_and_text_num(spark):
    assert _one(spark, T.text_only(F.col("s")), "ab1 2cd-ef") == "ab cd ef"
    assert _one(spark, T.text_num(F.col("s")), "ab1 2cd-ef") == "ab1 2cd ef"


def test_three_plus_trim(spark):
    assert _one(spark, T.three_plus_trim(F.col("s")), "a     b  c") == "a b  c"


def test_get_domain_parity_quirks(spark):
    col = T.get_domain(F.col("s"))
    assert _one(spark, col, "http://www.shop.com/p/1") == "shop.com"
    assert _one(spark, col, "https://sub.shop.co.uk/x") == "sub.shop.co.uk"
    # scheme-less urls get the http:// fixup
    assert _one(spark, col, "shop.com/p/1") == "shop.com"
    # unparseable host falls back to www.failed.com (reference quirk)
    assert _one(spark, col, "not a url at all") == "www.failed.com"


def test_tokenize_drops_non_letters(spark):
    row = spark.createDataFrame([("It's 42 degrees!",)], "s string").select(
        T.tokenize(F.col("s")).alias("t")
    ).first()
    assert row.t == ["It", "s", "degrees"]

