"""Golden + property tests for candidate extraction (SURVEY.md §5:
the reference's effective correctness oracle is `PriceParcer.test` —
"is the known price among the extracted candidates" — plus the
710.00 end-to-end smoke in test/HtmlsToPredictedPipeTest.scala)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.text import shrink_string
from htmlentityextraction_spark.operators import extraction as ex

# page text biased toward the tricky cases: digit runs, separators,
# currency marks, the price words, and boundary junk
PAGE_TEXTS = st.lists(
    st.sampled_from(
        ["0", "1", "23", "9", ".", ",", "..", ",.", "$", "€", "price",
         "Price", "PRICE", " ", "x", "<b>", "\n", "¥"]
    ),
    min_size=0,
    max_size=40,
).map("".join)


# --- plain-python semantics (no Spark needed) ---
def test_golden_710_containment():
    # mirrors test/HtmlsToPredictedPipeTest.scala: html containing
    # 'price 710.00' must yield 710.00 among candidates
    html = '<div id="pdp"><span class="label">price</span> 710.00 <b>USD</b></div>'
    cands = [c["candidate"] for c in ex.extract_candidates_py(html)]
    assert "710.00" in cands


def test_number_at_end_of_input_is_not_matched():
    # NUM_PATTERN requires a trailing non-number char (parity quirk,
    # utils/PriceParcer.scala:12)
    assert ex.extract_candidates_py("price 5.00") == []
    assert ex.extract_candidates_py("price 5.00 ")[0]["candidate"] == "5.00"


def test_filter_truth_table():
    # no . or , -> rejected even near currency
    assert ex.extract_candidates_py("$ 500 each") == []
    # doubled separators -> rejected
    assert ex.extract_candidates_py("price 5..00 ") == []
    assert ex.extract_candidates_py("price 5,,00 ") == []
    assert ex.extract_candidates_py("price 5.,00 ") == []
    assert ex.extract_candidates_py("price 5,.00 ") == []
    # separator-containing number with no currency/price context -> rejected
    assert ex.extract_candidates_py("version 5.00 of the spec ") == []
    # currency symbol alone is enough
    assert ex.extract_candidates_py("only € 9,99 left ")[0]["candidate"] == "9,99"


def test_snippets_and_location_exact():
    html = "ab $ 12.50 xy"
    (c,) = ex.extract_candidates_py(html, snippet_size=4)
    assert c["candidate"] == "12.50"
    assert c["location"] == html.index("12.50")
    assert c["text_before"] == "b $ "        # 4 chars before the match
    assert c["text_after"] == " xy"          # starts at the char after the number
    # snippet window: currency/price text further than snippet_size away
    # is invisible to the filter
    assert ex.extract_candidates_py("price      12.50 x", snippet_size=3) == []


def test_multiple_candidates_nonoverlapping():
    html = "price 1.00 and 2.00 or 3.00 !"
    cands = ex.extract_candidates_py(html, snippet_size=150)
    assert [c["candidate"] for c in cands] == ["1.00", "2.00", "3.00"]
    locs = [c["location"] for c in cands]
    assert locs == sorted(locs)


# --- Spark-side ---
def test_extract_candidates_dataframe(spark):
    df = spark.createDataFrame(
        [("u1", "see price 710.00 now"), ("u2", "nothing numeric here")],
        "url string, html string",
    )
    out = ex.extract_candidates(df, snippet_size=150).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.url, r.candidate) == ("u1", "710.00")
    assert r.page_length == len("see price 710.00 now")


def test_spark_extraction_matches_python_reference(spark):
    # the grouped-map equivalence pattern: the Spark operator and the
    # per-page reference run over the same pages and must agree row for
    # row. None, empty and candidate-free pages yield no rows; batches
    # of 3 records split the corpus mid-page-list.
    fixed = [None, "", "no digits here", "id 1234 only", "price 7.50 x",
             "$1.00 $2.00 $3.00 $4.50 x"]

    @settings(max_examples=8, deadline=None)
    @given(st.lists(PAGE_TEXTS, min_size=0, max_size=12))
    def check(texts):
        pages = spark.createDataFrame(
            [(f"u{i}", h) for i, h in enumerate(fixed + texts)], "url string, html string"
        )
        got = sorted(tuple(r) for r in ex.extract_candidates(pages, snippet_size=7).collect())
        shrunk = pages.select("url", shrink_string(F.col("html")).alias("h")).collect()
        want = sorted(
            (url, c["candidate"], c["location"], c["text_before"], c["text_after"], len(h))
            for url, h in shrunk
            for c in ex.extract_candidates_py(h, 7)
        )
        assert got == want
        # u0..u3: the None, empty and two candidate-free fixed pages
        assert not {r[0] for r in got} & {"u0", "u1", "u2", "u3"}

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        check()
    finally:
        spark.conf.set(key, prev)


def test_shrink_strips_thousands_commas_before_extraction(spark):
    # '1,234.56' shrinks to '1234.56' (comma between digits dropped)
    df = spark.createDataFrame([("u", "price 1,234.56 now")], "url string, html string")
    out = ex.extract_candidates(df, snippet_size=150).collect()
    assert [r.candidate for r in out] == ["1234.56"]


def test_label_candidates(spark):
    pages = spark.createDataFrame(
        [("u1", "price 710.00 now"), ("u2", "price 710.00 now")],
        "url string, html string",
    )
    truth = spark.createDataFrame(
        [("u1", 710.0, 710.0), ("u2", 500.0, 500.0)],
        "url string, price double, updated_price double",
    )
    cand = ex.extract_candidates(pages, snippet_size=150)
    rows = {r.url: r for r in ex.label_candidates(cand, truth).collect()}
    assert rows["u1"].label is True
    assert rows["u2"].label is False
    assert 0.0 < rows["u1"].norm_location < 1.0


def test_parse_price_locale_commas(spark):
    df = spark.createDataFrame([("1,234.56",), ("12.50",), ("abc",)], "c string")
    vals = [r.v for r in df.select(ex.parse_price(F.col("c")).alias("v")).collect()]
    assert vals == [1234.56, 12.5, None]


# --- scan-equivalence property: the anchored scan == NUM_PATTERN + filter ---

def _reference_extract(html: str, snippet_size: int = 150) -> list[dict]:
    """The plain two-step reference scan (NUM_PATTERN, then the
    has-separator rejection in Python) — frozen here so the anchored
    scan of ``extract_candidates_py`` is pinned to it forever."""
    out = []
    for m in ex.NUM_PATTERN.finditer(html):
        price = m.group(1)
        start = m.start()
        before = html[max(start - snippet_size, 0): start]
        after = html[m.end() - 1: m.end() - 1 + snippet_size]
        snip = before + price + after
        if ("." not in price) and ("," not in price):
            continue
        if ",," in price or ".," in price or ",." in price or ".." in price:
            continue
        if not ex.CURRENCY.search(snip) and not ex.PRICE_TEXT.search(snip):
            continue
        out.append({"candidate": price, "location": start,
                    "text_before": before, "text_after": after})
    return out


@settings(max_examples=500, deadline=None)
@given(PAGE_TEXTS)
def test_fast_scan_equivalence_property(html):
    assert ex.extract_candidates_py(html, 7) == _reference_extract(html, 7)


def test_fast_scan_equivalence_fixed_quirks():
    """The anchored scan on the reference's quirks and on its own edge
    cases: growing a run backward from an anchor, forward to its end,
    and resuming the anchor search after it."""
    cases = [
        "1.2,x",          # run ends in separator: no match either way
        "12,abc",         # trailing separator excluded by the class
        "price 710.00!",  # golden containment
        "id 123 then $45.6 done",
        "1,,2 price",     # doubled separator rejected after match
        "3451.2",         # one run, matched whole
        "123",            # bare integer at end of input: nothing
        "$ 99",           # bare integer with currency: still nothing
        ".5 price",       # leading separator run
        "..,,..",         # separators only
        "price 1.5",      # run ends at end of input: nothing
        "..1.5 x",        # separator-only prefix inside one run
        "1.5x2.5 price",  # two runs one char apart
        "1.5. price",     # run ends in a separator
        "1,5 $",          # anchor at offset 1 of the input
    ]
    for html in cases:
        assert ex.extract_candidates_py(html, 7) == _reference_extract(html, 7), html
