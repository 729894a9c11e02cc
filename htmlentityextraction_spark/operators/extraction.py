"""Price-candidate extraction — the reference's core custom operator.

One scraped page → N numeric candidates, each with its byte offset and
±snippet_size chars of context, then heuristic rejection. Semantics
mirror `utils/PriceParcer.scala:15-37` (``findFast``) and the filter
at `:22-27`:

- pattern ``([0-9,.]*[0-9])[^0-9,.]`` — a digits/commas/dots run
  ending in a digit, followed by one non-number char (so a number at
  end-of-input does NOT match — observable quirk kept for parity);
- ``text_before`` = up to snippet_size chars before the match start;
- ``text_after``  = snippet_size chars starting at the trailing
  non-number char (i.e. it begins with the char after the number);
- reject when: the candidate has neither ``.`` nor ``,``; or contains
  a doubled separator (``..``, ``,,``, ``.,``, ``,.``); or the whole
  snippet (before+candidate+after) has neither a currency symbol
  (\\p{Sc}) nor the literal word price/Price/PRICE.

Spark-first shape: positional regex over large strings is the one
place built-ins genuinely can't express the semantics
(``regexp_extract_all`` drops positions), so this is ONE flat
``mapInArrow`` over (url, html, page_length) that emits the six
candidate columns directly (SURVEY.md §7 M3 — sanctioned UDF island
#1): no nested ARRAY<STRUCT> result to ``explode`` back into rows.
At 100 TB: the html is shrunk/normalized columnar-side FIRST
(`functions.text.shrink_string`) exactly as the reference does, so the
Python boundary crosses the smallest possible bytes; the map is narrow
— no shuffle, scales linearly with input splits.
"""

from __future__ import annotations

import re
from typing import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from htmlentityextraction_spark.functions.text import shrink_string
from htmlentityextraction_spark.schemas import PRICE_CANDIDATE_SCHEMA

NUM_PATTERN = re.compile(r"([0-9,.]*[0-9])(?:[^0-9,.])")
# r5's hot-path scan: NUM_PATTERN + the "must contain . or ," rejection
# folded into ONE pattern, so bare integer runs (the vast majority of
# digit runs in real HTML — ids, counts, dimensions) never surface as
# Python Match objects at all. Provably the same match set: a
# NUM_PATTERN match's group always runs to the final digit of its
# maximal [0-9,.] run (a group ending earlier would be followed by a
# class char, which the trailing [^0-9,.] forbids), so
# group-contains-separator <=> run-contains-separator — exactly what
# the lookahead tests; and a skipped bare run consumes nothing a
# later match could start inside (matches start on digits only).
# Equivalence property-tested against the plain two-step reference in
# tests/test_extraction.py.
FAST_NUM_PATTERN = re.compile(r"((?=[0-9.,]*[.,])[0-9,.]*[0-9])(?:[^0-9,.])")
# r7's scan (the one the hot path uses): digits* separator rest*
# final-digit, plus one next-char check in Python, is equivalent to a
# FAST_NUM_PATTERN match — and it keeps sre's first-charset skip loop
# (the leading lookahead above defeats it: measured 25 MB/s/core on
# digit-free 10 KB text vs 33 for this pattern) while still rejecting
# BARE integer runs inside C (a plain [0-9,.]+ run-scan was 2x faster
# still on prose but surfaced every bare id/count as a Python Match —
# a measured regression on digit-heavy pages). Equivalence: a
# FAST/NUM match's group always spans run-start..run-final-digit with
# the trailing char outside the class, which forces the group to be
# its ENTIRE maximal [0-9,.] run (any digit earlier in the run is
# followed by a class char); greedy matching makes this pattern
# produce exactly that run when the run ends in a digit and contains
# a separator, and the next-char check enforces the trailing
# [^0-9,.] (the reference's findFast quirk, `utils/PriceParcer.scala:
# 15-37`: a number at end-of-input never matches — and a match whose
# next char is still in-class means the run went on past its last
# digit, which FAST/NUM reject). Property-tested against the frozen
# two-step reference in tests/test_extraction.py.
SEP_RUN_PATTERN = re.compile(r"[0-9,.]*[.,][0-9,.]*[0-9]")
_RUN_CLASS = frozenset("0123456789,.")
# \p{Sc} in Java; the common currency symbols + the Sc block in BMP
CURRENCY = re.compile("[$¢-¥֏؋৲৳૱௹฿"
                      "៛₠-₿꠸﷼﹩＄￠￡￥￦]")
PRICE_TEXT = re.compile("price|Price|PRICE")
# one scan instead of two: the snippet gate is a plain boolean OR
CURRENCY_OR_PRICE = re.compile(CURRENCY.pattern + "|price|Price|PRICE")

# Arrow twin of PRICE_CANDIDATE_SCHEMA: the mapInArrow output batches
_ARROW_CANDIDATES = to_arrow_schema(PRICE_CANDIDATE_SCHEMA)
# chars of context kept on each side of a candidate
SNIPPET_SIZE = 150


def extract_candidates_py(html: str, snippet_size: int = SNIPPET_SIZE) -> list[dict]:
    """Plain-Python reference implementation (called per page by
    ``extract_candidates`` and unit-testable without Spark)."""
    if html is None:
        return []
    out = []
    n = len(html)
    # SEP_RUN_PATTERN already enforces ends-in-digit + has-separator
    # inside C; the next-char check reconstructs the trailing
    # [^0-9,.] (see the pattern comment), then the remaining
    # rejections run cheapest-first (candidate-only string scans
    # before any snippet slicing). Locals bound once: this loop is
    # the serve path's per-byte cost.
    in_class = _RUN_CLASS.__contains__
    search = CURRENCY_OR_PRICE.search
    append = out.append
    for m in SEP_RUN_PATTERN.finditer(html):
        end = m.end()
        # number at end-of-input never matches (parity quirk), and a
        # next char still in-class means the maximal run continued
        # past its last digit — FAST/NUM reject both
        if end >= n or in_class(html[end]):
            continue
        price = m.group()
        if ",," in price or ".," in price or ",." in price or ".." in price:
            continue
        start = m.start()
        before = html[max(start - snippet_size, 0) : start]
        after = html[end : end + snippet_size]
        if not search(before + price + after):
            continue
        append(
            {
                "candidate": price,
                "location": start,
                "text_before": before,
                "text_after": after,
            }
        )
    return out


def _candidate_batches(
    batches: Iterator[pa.RecordBatch], snippet_size: int
) -> Iterator[pa.RecordBatch]:
    """(url, __html, page_length) page batches → flat candidate
    batches: one output row per surviving candidate, none for a null,
    empty or candidate-free page."""
    for batch in batches:
        url, cand, loc, before, after, length = cols = [[] for _ in _ARROW_CANDIDATES]
        for u, html, n in zip(*(c.to_pylist() for c in batch.columns)):
            for c in extract_candidates_py(html, snippet_size):
                url.append(u)
                cand.append(c["candidate"])
                loc.append(c["location"])
                before.append(c["text_before"])
                after.append(c["text_after"])
                length.append(n)
        yield pa.RecordBatch.from_arrays(cols, schema=_ARROW_CANDIDATES)


def shrunk_pages(df: DataFrame, html_col: str, url_col: str, *keep: str) -> DataFrame:
    """(url, __html, page_length, *keep): the page projection the
    per-page maps read. The html is pre-normalized columnar-side (JVM)
    before the Python boundary, as `utils/Utils.scala:131-145`
    (``htmlsToCandidsPipe``) does; page_length is the shrunk length."""
    pages = df.select(
        F.col(url_col).alias("url"),
        shrink_string(F.col(html_col)).alias("__html"),
        *keep,
    )
    return pages.select("url", "__html", F.length("__html").alias("page_length"), *keep)


def extract_candidates(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    snippet_size: int = SNIPPET_SIZE,
) -> DataFrame:
    """Page rows → candidate rows (PRICE_CANDIDATE_SCHEMA: url,
    candidate, location, text_before, text_after, page_length), from
    the ``shrunk_pages`` projection."""
    return shrunk_pages(df, html_col, url_col).mapInArrow(
        lambda batches: _candidate_batches(batches, snippet_size),
        PRICE_CANDIDATE_SCHEMA,
    )


def norm_location() -> Column:
    """Candidate offset normalized by its page length
    (`data/DataSchema.scala:6-8`); an empty page divides by 1."""
    return F.col("location").cast("double") / F.greatest(
        F.col("page_length"), F.lit(1)
    ).cast("double")


def norm_location_py(location: int, page_length: int) -> float:
    """``norm_location`` for the per-page maps that run in Python."""
    return location / max(page_length, 1)


def parse_price(c: Column) -> Column:
    """Locale-ish numeric parse of a candidate: strip thousands commas
    then try_cast — mirrors `utils/Utils.scala:123-129` returning null
    (None) on failure."""
    return F.regexp_replace(c, ",", "").try_cast("double")


def label_candidates(cand: DataFrame, truth: DataFrame) -> DataFrame:
    """``isTrueCandid`` (`utils/Utils.scala:115-121`): a candidate is
    positive when candidate == page price == updatedPrice numerically.
    `truth` carries (url, price, updated_price). Broadcast-joined by
    url; normalized location added per `data/DataSchema.scala:6-8`."""
    labeled = cand.join(F.broadcast(truth), "url")
    num = parse_price(F.col("candidate"))
    return labeled.withColumn(
        "label",
        (num.isNotNull()
         & (num == F.col("price"))
         & (num == F.col("updated_price"))).cast("boolean"),
    ).withColumn("norm_location", norm_location())
