"""Adversarial-text contracts pinned by the round-6 text-fuzz axis
(tools/null_fuzz.py --kind text): every lesson that sweep taught is
frozen here so a refactor cannot silently unlearn it.

Covered classes:
- CSV round-trip losslessness (embedded newlines, whitespace edges,
  '' vs NULL) under the exact option set multiformat_source_parity
  ships;
- composite-key joins must not match on half a key (concat_ws skips
  NULL segments);
- source_mix default_rate for never-enumerated sources;
- multimodal zero-byte payload drop (features/resize/frames);
- the documented Spark-vs-DuckDB casefold divergence on
  locale-special characters (İ, ß, ligatures) — the reason those
  chars are EXCLUDED from the fuzz pool rather than "fixed": the two
  engines genuinely disagree, and any query whose correctness
  depended on casefolding them could not be oracled. The assertion
  pins today's behavior of both engines so a future engine upgrade
  that changes the trade-off is noticed, not absorbed.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

ADVERSARIAL = [
    "",
    "   ",
    "\tleading tab\nnewline\rcr",
    "Ünïcodé Café naïve",
    "Café au lait",
    "\U0001f99c parrot \U0001f99c\U0001f99c",
    "x" * 300,
    "&amp;&lt;td&gt;99.99&lt;/td&gt;",
    "'single' \"double\" \\backslash %percent _underscore",
    None,
]

CSV_OPTS = {
    "header": "true",
    "ignoreLeadingWhiteSpace": "false",
    "ignoreTrailingWhiteSpace": "false",
    "nullValue": "\\N",
}


def test_csv_roundtrip_lossless_with_contract_options(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(ADVERSARIAL)], "id long, st string"
    )
    root = str(tmp_path)
    df.write.mode("overwrite").options(**CSV_OPTS).csv(root)
    back = (
        spark.read.schema("id long, st string")
        .options(multiLine="true", **CSV_OPTS)
        .csv(root)
    )
    got = {r.id: r.st for r in back.collect()}
    for i, s in enumerate(ADVERSARIAL):
        assert got[i] == s, f"row {i}: {s!r} -> {got[i]!r}"


def test_csv_default_read_splits_embedded_newlines(spark, tmp_path):
    """The negative control: WITHOUT multiLine, a quoted embedded
    newline splits the record — the silent corruption the contract
    options exist to prevent."""
    df = spark.createDataFrame([(1, "a\nb")], "id long, st string")
    root = str(tmp_path)
    df.write.mode("overwrite").option("header", "true").csv(root)
    n = spark.read.option("header", "true").schema("id long, st string").csv(root).count()
    assert n == 2  # one logical row read back as two physical rows


def test_source_mix_default_rate_keeps_unlisted_sources(spark, monkeypatch):
    from htmlentityextraction_spark.operators import llmprep
    from htmlentityextraction_spark.operators.llmprep import source_mix

    rows = [(i, "listed" if i % 2 == 0 else "junk-src é") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    key = F.col("doc_id").cast("string")
    some = source_mix(df, {"listed": 1.0}, key).filter(
        F.col("source") != "listed"
    )
    n = some.count()
    assert 0 < n < 100  # deterministic md5 quarter-keep of the 100 junk rows
    monkeypatch.setattr(llmprep, "_DEFAULT_RATE", 0.0)
    none_kept = source_mix(df, {"listed": 1.0}, key).filter(
        F.col("source") != "listed"
    )
    assert none_kept.count() == 0


def test_source_mix_never_keeps_null_source(spark, monkeypatch):
    from htmlentityextraction_spark.operators import llmprep
    from htmlentityextraction_spark.operators.llmprep import source_mix

    monkeypatch.setattr(llmprep, "_DEFAULT_RATE", 1.0)  # keep every listed-or-not source
    df = spark.createDataFrame([(1, None), (2, "a")], "doc_id long, source string")
    out = source_mix(df, {"a": 1.0}, F.col("doc_id").cast("string"))
    assert [r.doc_id for r in out.collect()] == [2]


def test_multimodal_zero_byte_payloads_produce_no_rows(spark):
    from htmlentityextraction_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        # doc_id % 3 == 0 -> image, 2 -> video; '' payloads everywhere
        [(0, ""), (2, ""), (3, "ab"), (5, "xyzw")],
        "doc_id long, text string",
    )
    media = mm.attach_media(docs)
    feats = mm.extract_features(media)
    assert sorted(r.doc_id for r in feats.collect()) == [3, 5]
    # image with payload shorter than one pixel row -> dropped
    resized = mm.resize_images(media)
    assert all(r.out_height > 0 or r.out_width > 0 for r in resized.collect())
    frames = mm.sample_frames(media)
    assert all(r.frame_bytes > 0 for r in frames.collect())


@pytest.mark.parametrize("ch", ["İ", "ß", "ﬁ"])  # İ ß ﬁ
def test_casefold_engine_divergence_documented(spark, ch):
    """Spark (ICU full case mappings) and DuckDB (utf8proc simple
    mappings) disagree on locale-special characters. This is a
    DOCUMENTED engine divergence, excluded from the fuzz pool by
    design; the test pins each engine's current answer so an upgrade
    that shifts either side is surfaced."""
    s_lower = spark.range(1).select(F.lower(F.lit(ch)).alias("v")).collect()[0].v
    s_upper = spark.range(1).select(F.upper(F.lit(ch)).alias("v")).collect()[0].v
    d_lower, d_upper = duckdb.sql(
        "SELECT lower(?), upper(?)", params=[ch, ch]
    ).fetchone()
    if ch == "İ":  # İ: Spark lowers to i+combining-dot, duck to plain i
        assert s_lower == "i̇" and d_lower == "i"
    if ch == "ß":  # ß: Spark uppercases to SS (full), duck to ẞ (simple)
        assert s_upper == "SS" and d_upper == "ẞ"
    if ch == "ﬁ":  # ﬁ: Spark uppercases to FI, duck keeps ﬁ
        assert s_upper == "FI" and d_upper == "ﬁ"


def test_textuni_kind_potency_and_engine_facts(spark, tmp_path):
    """Potency contract for --kind textuni (the r11 Unicode/collation
    axis): (1) the two engine divergences the axis exists to probe are
    PINNED as facts — Java/Spark full-mapping lower('İ') vs DuckDB's
    simple mapping, and Java \\s matching vertical tab while RE2's \\s
    does not; (2) the class boundaries reproduce Java semantics in
    DuckDB (java_lower_sql, WS_CLASS); (3) the kind actually lands
    non-ASCII hazards in every target column. If an engine upgrade
    shifts either side, this fails loudly instead of a sweep silently
    probing nothing."""
    import importlib.util
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from htmlentityextraction_spark.functions.text import WS_CLASS, java_lower_sql

    # (1a) the casefold divergence: Spark full mapping splits İstanbul
    s_lower = spark.range(1).select(F.lower(F.lit("İstanbul")).alias("v")).first().v
    assert s_lower == "i̇stanbul"
    d_lower = duckdb.sql("SELECT lower('İstanbul')").fetchone()[0]
    assert d_lower == "istanbul"
    # (1b) ... and java_lower_sql reproduces Spark in DuckDB
    d_java = duckdb.sql(f"SELECT {java_lower_sql(chr(39) + 'İstanbul' + chr(39))}").fetchone()[0]
    assert d_java == s_lower

    # (2a) the \s divergence: Java matches VT, RE2 does not
    s_ws = spark.range(1).select(
        F.regexp_replace(F.lit("a\x0bb"), r"\s+", " ").alias("v")
    ).first().v
    assert s_ws == "a b", "Java \\s must match vertical tab"
    d_ws = duckdb.sql(r"SELECT regexp_replace('a' || chr(11) || 'b', '\s+', ' ', 'g')").fetchone()[0]
    assert d_ws == "a\x0bb", "RE2 \\s must NOT match vertical tab"
    # (2b) ... and WS_CLASS closes it: identical on both engines
    s_cls = spark.range(1).select(
        F.regexp_replace(F.lit("a\x0bb"), WS_CLASS + "+", " ").alias("v")
    ).first().v
    d_cls = duckdb.sql(
        f"SELECT regexp_replace('a' || chr(11) || 'b', '{WS_CLASS}+', ' ', 'g')"
    ).fetchone()[0]
    assert s_cls == d_cls == "a b"

    # (3) the kind lands hazards in every declared target column
    spec = importlib.util.spec_from_file_location(
        "null_fuzz", os.path.join(os.path.dirname(__file__), "..", "tools", "null_fuzz.py")
    )
    nf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(nf)
    pool_join = "".join(nf.TEXTUNI_POOL)
    for hazard in ("İ", "ß", "ﬁ", "\x0b", "​", "́", "１"):
        assert hazard in pool_join, f"pool lost hazard {hazard!r}"
    assert "Σ" not in pool_join, "final-sigma is a documented contract, not a fuzz char"
    for table, cols in nf.TEXTUNI_INJECT.items():
        counts = nf.fuzz_table(
            "/root/testdata/sf0.001", str(tmp_path), table, 0.10, 11, "textuni"
        )
        for col in cols:
            assert counts.get(col, 0) > 0, (table, col, counts)
        t = pq.read_table(str(tmp_path / f"{table}.parquet"))
        joined = "".join(x for x in t.column(cols[0]).to_pylist() if x)
        assert any(ord(c) > 127 for c in joined), (table, cols[0])


def test_levenshtein_engine_unit_divergence_documented(spark):
    """Pinned engine fact (textuni-fuzz r11): DuckDB's levenshtein
    counts BYTES, Spark's counts codepoints — one astral char is 4
    edits vs 1. The fuzzy-join class boundary (printable-ASCII key
    normalization in fuzzy_entity_match) exists because of this; if
    either engine changes its unit, this fails and the boundary can
    be reconsidered."""
    from pyspark.sql import functions as F

    s = spark.range(1).select(
        F.levenshtein(F.lit("a\U0001F41Cb"), F.lit("ab")).alias("d")
    ).first().d
    assert s == 1, "Spark levenshtein must count codepoints"
    d = duckdb.sql("SELECT levenshtein('a' || chr(128028) || 'b', 'ab')").fetchone()[0]
    assert d == 4, "DuckDB levenshtein must count bytes (utf8 length of the char)"


def test_string_collation_agreement_on_unicode_pool(spark):
    """Pin the fact every green textuni sweep rests on: Spark
    (UTF8_BINARY) and DuckDB (memcmp on UTF-8) sort strings in the
    SAME order — including astral vs BMP, combining marks, full-width
    forms, RTL and zero-width characters — so ORDER BY / min / max
    over poisoned string columns never needed gating. If either
    engine's default collation changes, this fails before a sweep
    silently starts probing a different contract."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "null_fuzz", os.path.join(os.path.dirname(__file__), "..", "tools", "null_fuzz.py")
    )
    nf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(nf)
    pool = list(nf.TEXTUNI_POOL) + ["", "ascii plain", "Ω", "Ω", "z", "\x7f"]

    df = spark.createDataFrame([(s,) for s in pool], "s string")
    spark_sorted = [r.s for r in df.orderBy("s").collect()]
    spark_min = df.agg(F.min("s")).first()[0]
    spark_max = df.agg(F.max("s")).first()[0]

    con = duckdb.connect()
    duck_sorted = [
        r[0]
        for r in con.execute(
            "SELECT s FROM (SELECT unnest(?) AS s) ORDER BY s", [pool]
        ).fetchall()
    ]
    duck_min, duck_max = con.execute(
        "SELECT min(s), max(s) FROM (SELECT unnest(?) AS s)", [pool]
    ).fetchone()

    assert spark_sorted == duck_sorted
    assert (spark_min, spark_max) == (duck_min, duck_max)
    # ... and NFC vs NFD remain DISTINCT group keys on both engines
    # (no implicit normalization anywhere)
    assert pool[0] != pool[1]  # NFD entry != NFC entry by codepoints
    n_spark = df.select("s").distinct().count()
    n_duck = con.execute(
        "SELECT count(DISTINCT s) FROM (SELECT unnest(?) AS s)", [pool]
    ).fetchone()[0]
    assert n_spark == n_duck


def test_json_depth_limit_engine_divergence_documented(spark):
    """Pinned engine fact (r11 directed probe): Spark's JSON functions
    sit on Jackson, whose default StreamReadConstraints cap nesting at
    1000 — a deeper payload is treated as CORRUPT (get_json_object /
    from_json return NULL). DuckDB's yyjson parses it fine. Depth is
    not expressible as a DuckDB SQL predicate (an open-bracket count
    over-approximates: wide-but-shallow payloads would be dropped), so
    this is EXCLUDED from the fuzz pool and pinned here instead — the
    Final_Sigma precedent. Production boundary: cap payload nesting at
    ingestion; the serve path's corrupt-message routing already treats
    Spark-unparseable payloads as logs_corrupt rather than dropping
    them silently."""
    from pyspark.sql import functions as F

    deep = '{"a":' * 1500 + "1" + "}" * 1500
    shallow = '{"a":' * 900 + "1" + "}" * 900

    df = spark.createDataFrame([(deep,), (shallow,)], "js string")
    got = df.select(F.get_json_object("js", "$.a.a.a").alias("x")).collect()
    assert got[0].x is None, "Spark must treat >1000-deep JSON as corrupt"
    assert got[1].x is not None, "<=1000-deep JSON must still parse"

    d = duckdb.sql(
        "SELECT json_extract(?::JSON, '$.a.a.a') IS NOT NULL", params=[deep]
    ).fetchone()[0]
    assert d is True, "DuckDB must parse the same payload (the divergence)"

    # ... and the serve boundary classifies such a payload as corrupt
    # (routed to logs_corrupt, payload preserved) instead of silently
    # dropping or crashing — the behavior that makes the engine
    # divergence operationally safe
    from htmlentityextraction_spark import schemas

    deep_page = (
        '{"url": "http://x.com/a", "html": "hi", "price": '
        + '{"a":' * 1200 + "1" + "}" * 1200 + "}"
    )
    ok_page = '{"url": "http://x.com/a", "html": "hi", "price": 9.5}'
    pages = spark.createDataFrame([(deep_page,), (ok_page,)], "value string")
    flags = [r.is_corrupt for r in schemas.parse_page_messages(pages).collect()]
    assert flags == [True, False]


def test_json_dialect_engine_divergence_documented(spark):
    """Pinned engine facts (r11 directed probe): Spark's get_json_object
    (Jackson) and DuckDB's json_valid/json_extract (yyjson) accept
    DIFFERENT non-strict-JSON dialects, in BOTH directions:

      Jackson-only: single-quoted keys/values, raw control chars
      inside strings. yyjson-only: NaN literals, trailing commas.
      Number edges: 1e400 -> Jackson re-renders the non-standard
      string "Infinity" (quoted), yyjson the bare token Infinity;
      an over-int64 integer keeps its digits under Jackson
      (BigInteger) but collapses to a double under yyjson.

    No SQL-expressible cross-engine "strict JSON" predicate exists
    (each engine's validator IS its dialect), so these shapes are
    EXCLUDED from JSON_POOL — the pool holds only payloads whose
    accept/reject verdict AGREES across engines — and the dialect gap
    is pinned here. Production boundary: the ingest contract requires
    strict RFC-8259 producers; mixed-dialect payloads are
    engine-defined behavior."""
    from pyspark.sql import functions as F

    cases = {
        "nan_literal": ('{"k": NaN}', None, True),
        "trailing_comma": ('{"k": 1,}', None, True),
        "single_quotes": ("{'k': 1}", "1", False),
        "tab_in_string": ('{"k": "a\tb"}', "a\tb", False),
    }
    df = spark.createDataFrame(
        [(n, js) for n, (js, _, _) in cases.items()], "name string, js string"
    )
    got = {
        r.name: r.x
        for r in df.select("name", F.get_json_object("js", "$.k").alias("x")).collect()
    }
    for name, (js, spark_want, duck_valid_want) in cases.items():
        assert got[name] == spark_want, (name, got[name])
        dv = duckdb.sql("SELECT json_valid(?)", params=[js]).fetchone()[0]
        assert dv is duck_valid_want, (name, dv)

    # every JSON_POOL entry must stay in the COMMON dialect: the two
    # engines agree on its validity (the invariant green sweeps need)
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "null_fuzz", os.path.join(os.path.dirname(__file__), "..", "tools", "null_fuzz.py")
    )
    nf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(nf)
    pool_df = spark.createDataFrame([(j,) for j in nf.JSON_POOL], "js string")
    s_ok = [
        r.ok
        for r in pool_df.select(
            F.get_json_object("js", "$").isNotNull().alias("ok")
        ).collect()
    ]
    for js, sok in zip(nf.JSON_POOL, s_ok):
        dok = duckdb.sql("SELECT json_valid(?)", params=[js]).fetchone()[0]
        assert bool(sok) == bool(dok), (js, sok, dok)


def test_java_lower_sql_complete_over_fuzz_pools(spark):
    """java_lower_sql must reproduce Spark's lower() for EVERY string
    in both fuzz pools — if a future pool entry introduces another
    full-vs-simple casefold divergence (beyond İ), this fails before
    a sweep turns red mysteriously."""
    import importlib.util
    import os

    from htmlentityextraction_spark.functions.text import java_lower_sql

    spec = importlib.util.spec_from_file_location(
        "null_fuzz", os.path.join(os.path.dirname(__file__), "..", "tools", "null_fuzz.py")
    )
    nf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(nf)
    pool = nf.TEXTUNI_POOL + nf.TEXT_POOL
    df = spark.createDataFrame([(s,) for s in pool], "s string")
    slow = [r.v for r in df.select(F.lower("s").alias("v")).collect()]
    con = duckdb.connect()
    for s, sv in zip(pool, slow):
        dv = con.execute(f"SELECT {java_lower_sql('?')}", [s]).fetchone()[0]
        assert dv == sv, (s, sv, dv)


def test_escape_chains_live_only_in_text_module():
    """The C0-strip + escape chain for constructed JSON/XML feed
    templates must have exactly ONE boundary: functions/text.py. The
    r11 whois divergence (judge seed 4099: a raw VT in s_name crashed
    the DuckDB oracle while Spark nulled the row) existed because the
    chain was hand-copied per file and one copy missed the C0 strip.
    This grep gate fails if a duplicated chain reappears anywhere in
    the package outside the helper module."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "htmlentityextraction_spark"
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        if py.name == "text.py" and py.parent.name == "functions":
            continue
        src = py.read_text(encoding="utf-8")
        # SQL-side copy: the backslash-doubling replace chain
        if "chr(92) || chr(92)" in src:
            offenders.append(f"{py}: SQL escape chain (chr(92))")
        # Spark-side copy: an inline C0-strip regex outside the helper
        for spelling in ("x00-\\\\x08", "x00-\\x08"):
            if spelling in src:
                offenders.append(f"{py}: inline C0-strip regex")
                break
    assert offenders == [], offenders


def test_json_escape_free_text_strips_c0_both_engines(spark):
    """Potency pin for the r12 class fix: a raw VT/FF/NUL in free text
    routed through json_escape_free_text must survive templating on
    BOTH engines — Spark's from_json parses the payload (no corrupt
    null-out) and DuckDB's yyjson doesn't crash — and both decode back
    to the same C0-stripped string."""
    from htmlentityextraction_spark.functions.text import (
        json_escape_free_text,
        json_escape_free_text_sql,
    )

    poison = 'vertical\x0btab "quoted" \\slash\x00\x1f end'
    clean = 'verticaltab "quoted" \\slash end'

    df = spark.createDataFrame([(poison,)], "s string")
    payload = F.concat(F.lit('{"v": "'), json_escape_free_text(F.col("s")), F.lit('"}'))
    got = (
        df.select(F.from_json(payload, "v string").alias("j"))
        .select(F.col("j.v").alias("v"))
        .collect()[0][0]
    )
    assert got == clean

    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT ? AS s", [poison])
    sql_payload = f"'{{\"v\": \"' || {json_escape_free_text_sql('s')} || '\"}}'"
    duck = con.execute(
        f"SELECT json_extract_string({sql_payload}, '$.v') FROM t"
    ).fetchone()[0]
    assert duck == clean
