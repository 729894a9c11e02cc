"""HTTP fetch + WhoIs ingest (SURVEY.md §2.1 S12/S13).

The reference fetches pages driver-side one URL at a time
(`utils/PriceParcer.scala:108-115` ``Source.fromURL(url).mkString``,
`utils/Url2FIle.scala:35-47``) and pulls WhoIs records from a REST API
into "!@#@!"-delimited contact files (`emr/WhoIsExtractor.scala:
25-68`). Engine-side equivalents:

- ``fetch_url_text``: the single-URL driver-side fetch (S12's literal
  shape);
- ``fetch_pages``: the distributed form — a mapInPandas pass that
  fetches each partition's URLs sequentially (urllib, stdlib only)
  and returns (url, status, body). Failures become status=-1 rows
  instead of task failures: one dead URL must not kill a 100 TB
  crawl; at scale you partition by domain so per-partition
  sequential fetching IS the politeness rate limit, and set
  ``spark.task.maxFailures`` high enough to survive flaky hosts.
- ``whois_contacts``: the S13 extraction as pure JVM ``from_json``
  over the raw API payloads — registrant/administrative/technical
  contacts, nine fields each, the reference's "N/A" fallback and its
  "!@#@!"-delimited line preserved byte-for-byte.

Everything is exercised against a local ``http.server`` in
tests/test_http_source.py — no external network.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

RAW_DELIMITER = "!@#@!"

_CONTACTS = ("registrant_contact", "administrative_contact", "technical_contact")
_FIELDS = (
    "full_name",
    "company_name",
    "mailing_address",
    "city_name",
    "state_name",
    "zip_code",
    "country_name",
    "email_address",
    "phone_number",
)

_CONTACT_SCHEMA = T.StructType([T.StructField(f, T.StringType()) for f in _FIELDS])
WHOIS_SCHEMA = T.StructType(
    [
        T.StructField(
            "whois_record",
            T.StructType([T.StructField(c, _CONTACT_SCHEMA) for c in _CONTACTS]),
        )
    ]
)

# Per-URL fetch timeout in seconds.
_FETCH_TIMEOUT = 10.0

FETCH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("body", T.StringType()),
    ]
)


def fetch_url_text(url: str) -> str:
    """Driver-side single-URL fetch (S12). Raises on failure, like the
    reference's ``Source.fromURL``."""
    import urllib.request

    with urllib.request.urlopen(url, timeout=_FETCH_TIMEOUT) as resp:
        return resp.read().decode("utf-8", errors="replace")


def fetch_pages(urls: DataFrame) -> DataFrame:
    """Distributed page fetch: (url, status, body) per input ``url``;
    fetch failures yield (url, -1, error-message) rows. Each
    partition fetches sequentially — repartition by domain upstream
    to turn that into a per-host politeness limit."""
    import pandas as pd

    def go(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import urllib.request

        for pdf in batches:
            rows = []
            for u in pdf["url"]:
                try:
                    with urllib.request.urlopen(u, timeout=_FETCH_TIMEOUT) as resp:
                        rows.append((u, int(resp.status), resp.read().decode("utf-8", "replace")))
                except Exception as exc:  # noqa: BLE001 — dead URL must not kill the job
                    rows.append((u, -1, f"{type(exc).__name__}: {exc}"))
            yield pd.DataFrame(rows, columns=["url", "status", "body"])

    return urls.select("url").mapInPandas(go, FETCH_SCHEMA)


def _na(col: Column) -> Column:
    return F.coalesce(col, F.lit("N/A"))


def whois_contacts(df: DataFrame) -> DataFrame:
    """Parse (domain, raw) WhoIs API payloads into the reference's contact
    layout (S13): per domain, 3 contacts x 9 fields with "N/A"
    fallback, plus the exact "!@#@!"-delimited line the reference
    wrote to its contact files. Pure ``from_json`` — no Python in the
    row path."""
    parsed = df.withColumn("__w", F.from_json(F.col("raw"), WHOIS_SCHEMA))
    cols = [F.col("domain")]
    flat = []
    for c in _CONTACTS:
        short = c.split("_")[0]
        for f in _FIELDS:
            col = _na(F.col(f"__w.whois_record.{c}.{f}")).alias(f"{short}_{f}")
            cols.append(col)
            flat.append(f"{short}_{f}")
    out = parsed.select(*cols)
    line = F.concat_ws(RAW_DELIMITER, F.col("domain"), *[F.col(c) for c in flat])
    return out.withColumn("contact_line", line)
