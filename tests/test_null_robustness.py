"""Null-robustness contracts (round-5 null-fuzz hardening).

The full gate lives in tools/null_fuzz.py + tools/check_correctness.py
(inject NULLs into an sf copy, hash-compare all 222 queries against
DuckDB on the fuzzed dir). These tests pin the OPERATOR-level
contracts that sweep surfaced, on small inline frames, so a
regression fails fast without the sweep:

- corrupt embedding rows (NULL / NULL-element / empty) drop at the
  vector-operator boundary instead of crashing np.vstack / BLAS;
- NULL-text docs never form a MinHash mega-bucket (xxhash64(NULL) is
  a constant, so they'd otherwise all share one signature);
- sorted-neighborhood drops NULL keys (no sort position);
- Spark ML fits skip NULL labels/vectors instead of raising;
- multimodal mapInPandas decoders skip None payloads.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_valid_vectors_drops_corrupt_rows(spark):
    from htmlentityextraction_spark.operators.similarity import valid_vectors

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, None),
            (3, [None, 1.0]),
            (4, []),
            (5, [3.0, 4.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    kept = sorted(r.vec_id for r in valid_vectors(df).collect())
    assert kept == [1, 5]


def test_cosine_topk_skips_null_vectors(spark):
    from htmlentityextraction_spark.operators import similarity as sim

    rows = [(i, [float(i), 1.0, 0.0]) for i in range(6)] + [(97, None), (98, None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 2)).collect()
    assert out, "non-null queries must still produce neighbors"
    ids = {r.neighbor_id for r in out} | {r.query_id for r in out}
    assert 97 not in ids and 98 not in ids


def test_minhash_null_docs_form_no_mega_bucket(spark):
    from htmlentityextraction_spark.operators.dedup import minhash_lsh_pairs

    rows = [(i, None) for i in range(10)] + [
        (100, "the quick brown fox jumps over the lazy dog " * 5),
        (101, "the quick brown fox jumps over the lazy dog " * 5),
        (200, "a completely different document about spark engines " * 5),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_pairs(docs).collect()
    # the true near-dup pair survives; the 10 null docs (which would
    # otherwise contribute C(10,2)=45 jaccard-1.0 pairs) contribute none
    assert {(p.id_a, p.id_b) for p in pairs} == {(100, 101)}


def test_sorted_neighborhood_drops_null_keys(spark):
    from htmlentityextraction_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [(1, "aa x"), (2, "aa y"), (3, None), (4, None), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, key string")
    pairs = sorted_neighborhood_pairs(df, "doc_id", "key").collect()
    ids = {p.id_a for p in pairs} | {p.id_b for p in pairs}
    assert 3 not in ids and 4 not in ids and 5 not in ids
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


def test_ml_fits_skip_null_labels_and_vectors(spark, monkeypatch):
    from htmlentityextraction_spark.operators import mlx

    monkeypatch.setattr(mlx, "_RF_TREES", 3)  # a quicker forest
    monkeypatch.setattr(mlx, "_RF_DEPTH", 3)
    rng = np.random.default_rng(3)
    rows = [
        (i, [float(v) for v in rng.normal(size=4)], int(i % 10)) for i in range(40)
    ] + [(100, None, 1), (101, [1.0, 2.0, 3.0, 4.0], None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = mlx.random_forest_eval(emb).collect()
    assert sum(r.n for r in out) == 40  # both corrupt rows excluded


def test_multimodal_udfs_skip_none_payloads(spark):
    from htmlentityextraction_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [(1, "hello world payload"), (2, None), (3, "another payload here")],
        "doc_id long, text string",
    )
    media = mm.attach_media(docs)
    feats = mm.extract_features(media).collect()
    assert sorted(r.doc_id for r in feats) == [1, 3]


def test_price_status_nan_pattern_price_is_pattern_failed(spark):
    """Reference parity: Scala's Double.NaN.toInt is 0, so a NaN
    pattern price means patternFailed — Spark's ANSI cast would
    instead throw CAST_OVERFLOW without the explicit NaN branch."""
    from htmlentityextraction_spark.functions.pricing import price_status

    df = spark.createDataFrame(
        [(10.0, float("nan")), (10.0, 10.0), (-1.0, float("nan"))],
        "model_price double, pattern_price double",
    )
    got = [r.s for r in df.select(price_status(F.col("model_price"), F.col("pattern_price")).alias("s")).collect()]
    assert got == ["patternFailed", "modeledPatternEquals", "bothFailed"]


def test_salted_stats_nan_sum_stays_nan(spark):
    """Spark's floor(NaN) is silently 0 — the salted total must
    surface NaN, not fabricate 0.00, when the group sum is NaN."""
    import math

    from htmlentityextraction_spark.operators.skew import salted_group_stats

    df = spark.createDataFrame(
        [("A", 1, 1.5), ("A", 2, float("nan")), ("B", 3, 2.0)],
        "k string, salt long, v double",
    )
    rows = {r.k: r for r in salted_group_stats(df, ["k"], "v", salt_on=F.col("salt")).collect()}
    assert math.isnan(rows["A"].total)
    assert rows["B"].total == 2.0


def test_nan_fuzz_kind_targets_double_columns_only(tmp_path):
    import importlib.util
    import os

    import pyarrow.parquet as pq

    spec = importlib.util.spec_from_file_location(
        "null_fuzz", os.path.join(os.path.dirname(__file__), "..", "tools", "null_fuzz.py")
    )
    nf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(nf)
    counts = nf.fuzz_table("/root/testdata/sf0.001", str(tmp_path), "lineitem", 0.03, 5, "nan")
    assert set(counts) <= {"l_quantity", "l_extendedprice", "l_discount", "l_tax"}
    assert sum(counts.values()) > 0
    t = pq.read_table(str(tmp_path / "lineitem.parquet"))
    # NaN injection must not create NULLs (distinct failure surface)
    assert t.column("l_extendedprice").null_count == 0


def test_null_fuzz_tool_is_deterministic(tmp_path):
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "null_fuzz", os.path.join(os.path.dirname(__file__), "..", "tools", "null_fuzz.py")
    )
    nf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(nf)
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir(), b.mkdir()
    ca = nf.fuzz_table("/root/testdata/sf0.001", str(a), "documents", 0.03, 5)
    cb = nf.fuzz_table("/root/testdata/sf0.001", str(b), "documents", 0.03, 5)
    assert ca == cb and sum(ca.values()) > 0
    assert (a / "documents.parquet").read_bytes() == (b / "documents.parquet").read_bytes()


def test_infpair_fuzz_kind_pairs_both_extremes_adjacently(tmp_path):
    """Potency contract for --kind infpair: every +1e308 is IMMEDIATELY
    followed by its -1e308 partner (strict non-overlapping pairs), and
    the pair exhibits the cancellation-swallowing hazard the kind
    exists to surface — a fold that meets the pair mid-stream loses
    its entire prefix (x + 1e308 == 1e308 exactly), so engines with
    different fold orders keep different remainders. If the pairing
    ever degrades to lone extremes, this catches it before a green
    sweep is mistaken for class closure."""
    import importlib.util
    import os

    import numpy as np
    import pyarrow.parquet as pq

    spec = importlib.util.spec_from_file_location(
        "null_fuzz", os.path.join(os.path.dirname(__file__), "..", "tools", "null_fuzz.py")
    )
    nf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(nf)
    counts = nf.fuzz_table(
        "/root/testdata/sf0.001", str(tmp_path), "lineitem", 0.03, 5, "infpair"
    )
    assert sum(counts.values()) > 0
    t = pq.read_table(str(tmp_path / "lineitem.parquet"))
    v = np.array(t.column("l_extendedprice").to_pylist(), dtype=np.float64)
    plus = np.flatnonzero(v == 1e308)
    minus = np.flatnonzero(v == -1e308)
    assert len(plus) > 0 and len(minus) == len(plus)
    # every +1e308 is immediately followed by its -1e308 partner
    assert np.array_equal(minus, plus + 1)
    # the swallowing hazard is real: a prefix folded into the pair is
    # lost, so fold order changes an ungated sum's value
    prefix = 12345.678
    swallowed = prefix + v[plus[0]] + v[minus[0]]  # prefix, then pair
    kept = v[plus[0]] + v[minus[0]] + prefix       # pair first, then prefix
    assert swallowed == 0.0 and kept == prefix


def test_datenull_hazard_and_date_axis_boundary(spark, tmp_path):
    """The r10 datenull class, pinned: (1) the cross-engine hazard is
    real — Spark's ASC window puts a NULL date FIRST where DuckDB's
    ORDER BY puts it LAST, so one NULL-dated row shifts every lag in
    its series; (2) `valid_date_axis` closes it at the ingestion
    boundary with the exact window semantics the 13 gated series
    queries rely on: NULL and sentinel clocks (epoch zero, 1900,
    2262) excluded, real history (1995), 2038 and leap-day instants
    included; (3) the fuzz kind actually injects into BOTH dimension
    axes."""
    import datetime
    import importlib.util
    import os

    import duckdb
    import pyarrow.parquet as pq
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from htmlentityextraction_spark.functions.temporal import valid_date_axis

    rows = [
        (1, None, 10.0),
        (1, datetime.datetime(2024, 1, 1), 20.0),
        (1, datetime.datetime(2024, 1, 2), 30.0),
    ]
    df = spark.createDataFrame(rows, "g int, d timestamp, p double")
    w = Window.partitionBy("g").orderBy("d")
    spark_first = (
        df.withColumn("rn", F.row_number().over(w)).filter("rn = 1").first().p
    )
    duck_last = duckdb.sql(
        "SELECT p FROM (VALUES (NULL::TIMESTAMP, 10.0),"
        " (TIMESTAMP '2024-01-01', 20.0), (TIMESTAMP '2024-01-02', 30.0))"
        " t(d, p) ORDER BY d LIMIT 1"
    ).fetchone()[0]
    assert spark_first == 10.0, "Spark ASC default is NULLS FIRST"
    assert duck_last == 20.0, "DuckDB ASC default is NULLS LAST"

    # DESC orderings AGREE (both engines: NULLS LAST in both
    # directions for DuckDB, F.desc = NULLS LAST for Spark) — this is
    # why the audit gates only ASC-ordered series walks and leaves
    # the keep-latest DESC pickers (bad_domain_analysis,
    # pivot_store_price_matrix, flagship price_deltas) ungated.
    w_desc = Window.partitionBy("g").orderBy(F.desc("d"))
    spark_desc_first = (
        df.withColumn("rn", F.row_number().over(w_desc)).filter("rn = 1").first().p
    )
    duck_desc_first = duckdb.sql(
        "SELECT p FROM (VALUES (NULL::TIMESTAMP, 10.0),"
        " (TIMESTAMP '2024-01-01', 20.0), (TIMESTAMP '2024-01-02', 30.0))"
        " t(d, p) ORDER BY d DESC LIMIT 1"
    ).fetchone()[0]
    assert spark_desc_first == 30.0 and duck_desc_first == 30.0

    # the boundary: sentinels out, history and valid oddities in
    probe = spark.createDataFrame(
        [
            (None, False), (datetime.datetime(1970, 1, 1), False),
            (datetime.datetime(1900, 1, 1), False),
            (datetime.datetime(2262, 1, 1), False),
            (datetime.datetime(1995, 6, 1), True),
            (datetime.datetime(2038, 1, 19, 3, 14, 8), True),
            (datetime.datetime(2024, 2, 29, 23, 59, 59, 999999), True),
        ],
        "d timestamp, want boolean",
    )
    got = probe.select(
        F.coalesce(valid_date_axis("d"), F.lit(False)).alias("ok"), "want"
    ).collect()
    assert all(r.ok == r.want for r in got)

    # the kind injects into both dimension axes
    spec = importlib.util.spec_from_file_location(
        "null_fuzz",
        os.path.join(os.path.dirname(__file__), "..", "tools", "null_fuzz.py"),
    )
    nf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(nf)
    c1 = nf.fuzz_table(
        "/root/testdata/sf0.001", str(tmp_path), "lineitem", 0.05, 7, "datenull"
    )
    c2 = nf.fuzz_table(
        "/root/testdata/sf0.001", str(tmp_path), "orders", 0.05, 7, "datenull"
    )
    assert c1.get("l_shipdate", 0) > 0 and c2.get("o_orderdate", 0) > 0
    shipped = pq.read_table(str(tmp_path / "lineitem.parquet")).column("l_shipdate")
    assert shipped.null_count > 0, "NULL dates must actually land"


def test_inlined_validity_window_oracle_literals_match_constants():
    """Several oracles inline the validity-window bounds as literals
    instead of calling valid_date_axis_sql / valid_event_time_sql (to
    avoid brace-escaping inside .format strings). If the boundary
    constants ever move, those literals would drift silently from the
    Spark-side filters — pin constants and literals to each other
    (ADVICE r10). The named anchors make the failure message say which
    oracles inline which window."""
    import re

    from htmlentityextraction_spark.functions.temporal import (
        VALID_DATE_AXIS_MAX,
        VALID_DATE_AXIS_MIN,
        VALID_EVENT_TIME_MAX,
        VALID_EVENT_TIME_MIN,
    )
    from htmlentityextraction_spark.registry import oracles as _oracles

    # the constants the inlined literals were written against
    assert (VALID_DATE_AXIS_MIN, VALID_DATE_AXIS_MAX) == ("1990-01-01", "2100-01-01")
    assert (VALID_EVENT_TIME_MIN, VALID_EVENT_TIME_MAX) == ("2000-01-01", "2100-01-01")

    oracles = _oracles()
    date_axis_inliners, event_time_inliners = set(), set()
    for name, sql in oracles.items():
        lits = set(re.findall(r"TIMESTAMP '(\d{4}-\d{2}-\d{2})", sql))
        if VALID_DATE_AXIS_MIN in lits:
            date_axis_inliners.add(name)
            assert VALID_DATE_AXIS_MAX in lits, (name, "lower bound without upper")
        if VALID_EVENT_TIME_MIN in lits and VALID_EVENT_TIME_MAX in lits:
            event_time_inliners.add(name)
    # known anchors — if these stop inlining, drop them here; if a
    # constant changes, the equality asserts above fail first
    assert {"ewma_control_chart", "max_drawdown_per_product"} <= date_axis_inliners
    assert "linear_interp_user_value" in event_time_inliners


def test_intedge_kind_lands_sentinel_ints(tmp_path):
    """Potency contract for --kind intedge (r11): the kind must land
    NULL + zero + negative + type-width-extreme integers in BOTH
    target columns (documents.n_chars was in NO inject list before
    this kind — even its NULL path was unprobed; the first sweep
    found the NULL-int ASC-ordering divergence in
    quantile_normalize_chars_by_source)."""
    import importlib.util
    import os

    import pyarrow.parquet as pq

    spec = importlib.util.spec_from_file_location(
        "null_fuzz", os.path.join(os.path.dirname(__file__), "..", "tools", "null_fuzz.py")
    )
    nf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(nf)
    c_docs = nf.fuzz_table(
        "/root/testdata/sf0.001", str(tmp_path), "documents", 0.30, 13, "intedge"
    )
    c_part = nf.fuzz_table(
        "/root/testdata/sf0.001", str(tmp_path), "part", 0.30, 13, "intedge"
    )
    assert c_docs.get("n_chars", 0) > 0 and c_part.get("p_size", 0) > 0
    nc = pq.read_table(str(tmp_path / "documents.parquet")).column("n_chars")
    assert nc.null_count > 0, "NULL ints must actually land"
    vals = set(v for v in nc.to_pylist() if v is not None)
    assert 0 in vals and -1 in vals and 2**62 in vals and -(2**62) in vals
    ps = pq.read_table(str(tmp_path / "part.parquet")).column("p_size")
    pvals = set(v for v in ps.to_pylist() if v is not None)
    assert 2**31 - 1 in pvals and -(2**31) in pvals, "int32 width extremes must land"


def test_weighted_samplers_exclude_nonpositive_weights_even_with_spare_capacity(spark):
    """intedge x mixed interaction finding (r11): a weight <= 0 row is
    NOT IN THE POPULATION — it must not pad the sample when fewer than
    k eligible rows exist. Before the fix, ares_key's -inf fallback
    only guaranteed exclusion while the sample was FULL; a 2-doc
    stratum happily admitted a -2^62-weight doc."""
    from htmlentityextraction_spark.operators.sampling import (
        weighted_sample,
        weighted_sample_per_stratum,
    )

    rows = [
        (1, "a", 100), (2, "a", -(2**62)), (3, "a", 0),
        (4, "b", 50), (5, "b", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, w long")
    got = sorted(
        r.doc_id for r in weighted_sample_per_stratum(df, "doc_id", "w", "lang", 20).collect()
    )
    assert got == [1, 4], got  # strata have spare capacity; ineligible rows stay out
    got_g = sorted(r.doc_id for r in weighted_sample(df, "doc_id", "w", 10).collect())
    assert got_g == [1, 4], got_g
    # degenerate boundary: an ALL-nonpositive population samples to
    # ZERO rows (pins that ares_key's -inf branch is dead defense —
    # the caller-side population filter, not the key, is the boundary)
    all_bad = spark.createDataFrame(
        [(1, 0), (2, -5), (3, None)], "doc_id long, w long"
    )
    assert weighted_sample(all_bad, "doc_id", "w", 10).count() == 0
