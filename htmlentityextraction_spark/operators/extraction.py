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

The scan does not iterate that pattern: it searches for the anchor
``[.,][0-9]`` and grows the maximal ``[0-9,.]`` run around each hit,
because a match that survives the has-separator rejection is exactly
such a run (see ``_ANCHOR``). Bare integer runs never reach Python.

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
# The anchored scan: a NUM_PATTERN match that survives the has-separator
# rejection is exactly a maximal [0-9,.] run that contains a separator,
# ends in a digit and has a char after it. Such a run's last separator is
# followed by a digit, so the run holds this anchor; conversely the run
# around any anchor has a separator. Searching for the anchor skips bare
# integer runs (ids, counts) inside C, and the run is then grown to its
# maximal extent around it. Property-tested against the frozen
# NUM_PATTERN reference in tests/test_extraction.py.
_ANCHOR = re.compile(r"[.,][0-9]")
_RUN_TAIL = re.compile(r"[0-9,.]*")
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
    # A run is short, so it is grown backward one char at a time; the
    # rejections run cheapest-first (candidate-only string scans before
    # any snippet slicing). Locals bound once: this loop is the serve
    # path's per-byte cost.
    in_class = _RUN_CLASS.__contains__
    anchor = _ANCHOR.search
    tail = _RUN_TAIL.match
    search = CURRENCY_OR_PRICE.search
    append = out.append
    pos = 0
    while (a := anchor(html, pos)) is not None:
        start = a.start()
        while start > pos and in_class(html[start - 1]):
            start -= 1
        end = pos = tail(html, a.end()).end()
        # a number at end of input never matches (parity quirk), and a
        # run ending in a separator has no final digit
        if end >= n or html[end - 1] in ",.":
            continue
        price = html[start:end]
        if ",," in price or ".," in price or ",." in price or ".." in price:
            continue
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
