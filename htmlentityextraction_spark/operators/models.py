"""Per-domain model lifecycle: featurize → group-train → registry →
score → pick price (SURVEY.md §2.9 M1-M15, §3.2).

Spark-first split of work:

- Training-side text work is columnar JVM-side: tokenization, term
  hashing (xxhash64 mod NUM_FEATURES — the HashingTF trick), so the
  Python boundary carries only int arrays + a label + a location
  double. ``context_tokens`` + ``term_ids_py`` are its Python twin
  (numpy XXH64 over all of a batch's tokens at once), for the serve
  path's one per-page map (equivalence-tested against the JVM
  expression in tests/test_models.py); both live here so one module
  owns the hashing decision.
- Per-domain TF-IDF fit (IDF weights, top-k mean-tfidf feature
  selection — `transform/Transformer.scala:26-43`) and the GBT fit
  happen INSIDE one ``applyInPandas`` group task, exactly the
  per-domain isolation the reference gets from its driver-side `.par`
  loop over spark jobs (`domain/models/GBTPerDomainPar.scala:40-43`) —
  but here domains train concurrently as ordinary shuffle tasks, so
  1000 executors train 1000 domains at once with no driver loop.
- The registry is a small DataFrame (domain, model bytes, idf, top-k
  indices, metrics) — collected and broadcast for serving, mirroring
  `emr/Models2Object.scala:27-36` + `streaming/Htmls2PredsPipe.scala:
  89-90`.
- Serving scores with the domain's idf/top-k indices and GBT margin
  (`streaming/Htmls2PredsPipe.scala:104-159`) through one kernel,
  ``selected_tfidf``, which builds only the k selected columns. The
  one production scorer is ``pick_pages``: a per-page ``mapInArrow``
  (extract → hash → score → top-1 positive) that the serve path
  (`streaming/serve.py`) and the registry queries (`queries/ml.py`)
  both run. ``score_candidates`` + ``pick_model_price`` are the
  candidate-row reference it is tested against; no production code
  calls them.

Scale note: groupBy(domain) skew (one huge domain) is the real risk at
100 TB — cap rows per domain with a deterministic per-group limit
(`_MAX_ROWS_PER_DOMAIN`, a windowed rank filter) before the shuffle,
the same defense as the reference's per-domain coalesce(10).
"""
from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import Broadcast
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from htmlentityextraction_spark.functions.text import get_domain, tokenize
from htmlentityextraction_spark.operators import extraction as ex
from htmlentityextraction_spark.operators.gbt import GBTClassifier

REGISTRY_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType()),
        T.StructField("model", T.BinaryType()),
        T.StructField("idf", T.ArrayType(T.DoubleType())),
        T.StructField("indices", T.ArrayType(T.IntegerType())),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_pos", T.LongType()),
        T.StructField("train_f1", T.DoubleType()),
    ]
)


# HashingTF width of the serving features (`streaming/Htmls2PredsPipe.
# scala:121`)
NUM_FEATURES = 1000


def featurize_candidates(cand: DataFrame) -> DataFrame:
    """Candidate rows → (domain, url, label, norm_location, hashed
    term ids of text_before + text_after). Hashing = xxhash64 mod
    NUM_FEATURES, all JVM-side (HashingTF(1000) at serving parity,
    `streaming/Htmls2PredsPipe.scala:121`)."""
    toks = F.filter(
        F.concat(tokenize(F.col("text_before")), tokenize(F.col("text_after"))),
        lambda t: t != "",
    )
    hashed = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(NUM_FEATURES)).cast("int"))
    return cand.select(
        "domain",
        "url",
        F.col("label").cast("int").alias("label"),
        F.col("norm_location").cast("double").alias("norm_location"),
        hashed.alias("term_ids"),
        "candidate",
    )


# Python twin of featurize_candidates' term hashing: `tokenize` keeps
# the maximal [A-Za-z]+ runs, and Spark's xxhash64 is XXH64 (seed 42)
# over the token's UTF-8 bytes, read as a signed long before the pmod.
_TOKEN = re.compile("[A-Za-z]+")
_U64 = (1 << 64) - 1
_SEED = 42
_P1, _P2, _P3, _P4, _P5 = (
    np.uint64(p)
    for p in (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
              0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)
)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _xxh_round(acc, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _P2, 31) * _P1


def context_tokens(*texts: str) -> list[str]:
    """``featurize_candidates``' tokens of non-null texts, in order."""
    return [t for text in texts for t in _TOKEN.findall(text)]


def term_ids_py(tokens: list[str]) -> np.ndarray:
    """Python twin of ``featurize_candidates``' term hashing (at the
    default NUM_FEATURES): ``pmod(xxhash64(token), NUM_FEATURES)`` of
    each ``context_tokens`` token, equivalence-tested against the JVM
    expression in tests/test_models.py. Each XXH64 step is one numpy
    op over all tokens at once (uint64 arithmetic wraps mod 2**64), so
    the cost is the same whether or not the tokens repeat."""
    raw = "".join(tokens).encode("ascii") + bytes(8)  # [A-Za-z] only
    n = np.fromiter(map(len, tokens), dtype=np.int64, count=len(tokens))
    # little-endian 8/4-byte words and bytes at every offset of raw
    w8 = np.ndarray((len(raw) - 7,), dtype="<u8", buffer=raw, strides=(1,))
    w4 = np.ndarray((len(raw) - 7,), dtype="<u4", buffer=raw, strides=(1,))
    u8 = np.frombuffer(raw, dtype=np.uint8)
    pos = np.cumsum(n) - n
    end = pos + n
    h = np.full(len(n), (_SEED + int(_P5)) & _U64, dtype=np.uint64)
    big = np.flatnonzero(n >= 32)  # 32-byte stripes through 4 lanes
    if len(big):
        seeds = (_SEED + int(_P1) + int(_P2), _SEED + int(_P2), _SEED, _SEED - int(_P1))
        v = [np.full(len(big), s & _U64, dtype=np.uint64) for s in seeds]
        p, e = pos[big], end[big]
        while (on := np.flatnonzero(p <= e - 32)).size:
            for j in range(4):
                v[j][on] = _xxh_round(v[j][on], w8[p[on] + 8 * j])
            p[on] += 32
        hv = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for a in v:
            hv = (hv ^ _xxh_round(np.uint64(0), a)) * _P1 + _P4
        h[big], pos[big] = hv, p
    h += n.astype(np.uint64)
    for _ in range(3):  # < 32 bytes left: up to three 8-byte words,
        on = pos <= end - 8
        k = _xxh_round(np.uint64(0), w8[pos])
        h = np.where(on, _rotl(h ^ k, 27) * _P1 + _P4, h)
        pos += 8 * on
    on = pos <= end - 4  # one 4-byte word,
    h = np.where(on, _rotl(h ^ w4[pos].astype(np.uint64) * _P1, 23) * _P2 + _P3, h)
    pos += 4 * on
    for _ in range(3):  # up to three single bytes
        on = pos < end
        h = np.where(on, _rotl(h ^ u8[pos].astype(np.uint64) * _P5, 11) * _P1, h)
        pos += on
    h = (h ^ (h >> np.uint64(33))) * _P2
    h = (h ^ (h >> np.uint64(29))) * _P3
    h ^= h >> np.uint64(32)
    return np.mod(h.view(np.int64), NUM_FEATURES)


def url_grouped_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Leakage-safe 70/30 train/test split: all candidates of one url
    land on the same side (`transform/Transformer.scala:15-24`).
    Deterministic via hash of the url, not sample(), so re-runs
    agree."""
    bucket = F.pmod(F.xxhash64(F.col("url"), F.lit(42)), F.lit(1000))
    return df.filter(bucket < 700), df.filter(bucket >= 700)


def selected_tfidf(
    flat_ids, lengths, norm_location, idf: np.ndarray, indices: np.ndarray
) -> np.ndarray:
    """The serving feature matrix of n rows whose term ids are given
    concatenated (``flat_ids``, row i owning ``lengths[i]`` of them):
    tf-idf of the registry's top-k ``indices`` (distinct by
    construction) plus the norm_location column. Only those k columns
    are built — each term id maps to its selected column or is
    dropped — and every cell is the same count * idf product the dense
    NUM_FEATURES-wide matrix holds, so the result is bitwise identical
    to slicing that matrix (property-tested in tests/test_models.py)."""
    n, k = len(lengths), len(indices)
    col = np.full(len(idf), -1, dtype=np.int64)
    col[indices] = np.arange(k)
    cols = col[np.asarray(flat_ids, dtype=np.int64)]
    rows = np.repeat(np.arange(n), lengths)[cols >= 0]
    tf = np.bincount(rows * k + cols[cols >= 0], minlength=n * k).reshape(n, k)
    X = np.empty((n, k + 1))
    X[:, :k] = tf * idf[indices]
    X[:, k] = norm_location
    return X


def _scoring_matrix(pdf: pd.DataFrame, idf: np.ndarray, indices: np.ndarray) -> np.ndarray:
    """``selected_tfidf`` of featurized candidate rows (term_ids,
    norm_location) — ``score_candidates``' serving matrix."""
    rows = [np.empty(0, dtype=np.int64) if ids is None else ids for ids in pdf["term_ids"]]
    return selected_tfidf(
        np.concatenate([np.empty(0, dtype=np.int64), *rows]),
        [len(ids) for ids in rows],
        pdf["norm_location"].to_numpy(dtype=np.float64), idf, indices,
    )


def _tfidf_matrix(
    pdf: pd.DataFrame, min_doc_freq: int, top_k: int, vocab_mode: str = "mean"
):
    """Training features: counts → tf-idf → top-k slice (+ norm_location
    column), with idf = log((n+1)/(df+1)), Spark ML's formula, zeroed
    under min_doc_freq. Selection modes:

    - "mean": top-k by overall mean tf-idf
      (`transform/Transformer.scala:26-43`);
    - "class_union": top-k/2 per class, pos ∪ (neg − pos) — the
      ModelR variant (`models/ModelR.scala:51-68`) that keeps
      class-discriminative terms a global mean would drown out.
    """
    n = len(pdf)
    tf = np.zeros((n, NUM_FEATURES), dtype=np.float64)
    for i, ids in enumerate(pdf["term_ids"]):
        if ids is not None and len(ids):
            np.add.at(tf[i], np.asarray(ids, dtype=np.int64), 1.0)
    docfreq = (tf > 0).sum(axis=0)
    idf = np.log((n + 1.0) / (docfreq + 1.0))
    idf[docfreq < min_doc_freq] = 0.0
    tfidf = tf * idf
    if vocab_mode == "class_union":
        y = pdf["label"].to_numpy(dtype=np.float64)
        half = max(top_k // 2, 1)
        pos = np.argsort(-tfidf[y == 1].mean(axis=0), kind="stable")[:half]
        neg = np.argsort(-tfidf[y == 0].mean(axis=0), kind="stable")[:half]
        neg_minus_pos = np.setdiff1d(neg, pos, assume_unique=False)
        indices = np.concatenate([pos, neg_minus_pos])
    else:
        indices = np.argsort(-tfidf.mean(axis=0), kind="stable")[:top_k]
    X = np.column_stack([tfidf[:, indices], pdf["norm_location"].to_numpy(dtype=np.float64)])
    return X, idf, indices


# Per-domain training guards: a domain with fewer than _MIN_ROWS
# candidate rows (or a single class) is skipped — the reference's
# missingModel path — and each domain trains on at most
# _MAX_ROWS_PER_DOMAIN rows in (url, candidate) order. Both are read
# when the fit is built, not at import.
_MIN_ROWS = 20
_MAX_ROWS_PER_DOMAIN = 100_000
# One fit configuration: the served registry and the sub-model curve.
FIT = dict(n_estimators=10, max_depth=3, min_doc_freq=5, top_k=100)


def _per_domain(cand: DataFrame, fit, schema: T.StructType) -> DataFrame:
    """The shape both per-domain fits share: cap each domain at
    _MAX_ROWS_PER_DOMAIN rows, then one applyInPandas group task per
    domain that sorts its rows by (url, candidate) and calls
    ``fit(domain, pdf, y)`` — only for domains with at least _MIN_ROWS
    rows and both classes; the others yield no row."""
    # captured here: Python workers import the module afresh, so a
    # patched _MIN_ROWS reaches them only through the closure
    min_rows = _MIN_ROWS

    def task(key, pdf):
        (domain,) = key
        pdf = pdf.sort_values(["url", "candidate"], kind="stable").reset_index(drop=True)
        y = pdf["label"].to_numpy(dtype=np.float64)
        if len(pdf) < min_rows or y.sum() == 0 or y.sum() == len(y):
            return pd.DataFrame(columns=schema.fieldNames())
        return fit(domain, pdf, y)

    w = Window.partitionBy("domain").orderBy("url", "candidate")
    capped = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= _MAX_ROWS_PER_DOMAIN)
        .drop("__rn")
    )
    return capped.groupBy("domain").applyInPandas(task, schema)


def train_per_domain(
    cand: DataFrame,
    min_doc_freq: int = 5,
    top_k: int = 100,
    n_estimators: int = 30,
    max_depth: int = 5,
    vocab_mode: str = "mean",
) -> DataFrame:
    """groupBy(domain).applyInPandas fit → registry DataFrame (see
    ``_per_domain`` for the skipped domains)."""

    def fit(domain, pdf, y):
        X, idf, indices = _tfidf_matrix(pdf, min_doc_freq, top_k, vocab_mode=vocab_mode)
        model = GBTClassifier(n_estimators=n_estimators, max_depth=max_depth).fit(X, y)
        pred = model.predict(X)
        tp = float(((pred == 1) & (y == 1)).sum())
        prec = tp / max(float((pred == 1).sum()), 1.0)
        rec = tp / max(float((y == 1).sum()), 1.0)
        f1 = 2 * prec * rec / max(prec + rec, 1e-12)
        return pd.DataFrame(
            [
                {
                    "domain": domain,
                    "model": model.to_bytes(),
                    "idf": idf.tolist(),
                    "indices": [int(i) for i in indices],
                    "n_rows": len(pdf),
                    "n_pos": int(y.sum()),
                    "train_f1": round(f1, 6),
                }
            ]
        )

    return _per_domain(cand, fit, REGISTRY_SCHEMA)


CURVE_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType()),
        T.StructField("n_trees", T.LongType()),
        T.StructField("f1", T.DoubleType()),
        T.StructField("selected", T.BooleanType()),
    ]
)


def submodel_curve_per_domain(cand: DataFrame) -> DataFrame:
    """M11/M13 (`transform/Transformer.scala:295-304`,
    `emr/BuildModels.scala:45-55`, `domain/models/GBTPerDomain.scala:
    62-68`): per domain, the tree-prefix sub-model curve — one row per
    (domain, k) with the training F-score of the first-k-trees model —
    plus the reference's model-size selection (argmax F, ties to the
    smaller model) marked on the selected row, for the ``FIT``
    configuration. Same applyInPandas group-task shape as
    train_per_domain: the curve costs one extra margin pass per tree
    over the group, nothing cluster-wide."""
    min_doc_freq, top_k = FIT["min_doc_freq"], FIT["top_k"]
    n_estimators, max_depth = FIT["n_estimators"], FIT["max_depth"]

    def curve(domain, pdf, y):
        X, _idf, _indices = _tfidf_matrix(pdf, min_doc_freq, top_k)
        model = GBTClassifier(n_estimators=n_estimators, max_depth=max_depth).fit(X, y)
        curves = model.margin_curve(X)
        rows = []
        for k in range(1, curves.shape[0]):
            pred = curves[k] > 0
            tp = float((pred & (y == 1)).sum())
            prec = tp / max(float(pred.sum()), 1.0)
            sen = tp / max(float((y == 1).sum()), 1.0)
            f1 = 2 * sen * prec / max(sen + prec, 1e-12)
            rows.append({"domain": domain, "n_trees": k, "f1": round(f1, 6)})
        best_k, _best_f1 = model.best_prefix_by_f1(X, y)
        for r in rows:
            r["selected"] = r["n_trees"] == best_k
        return pd.DataFrame(rows)

    return _per_domain(cand, curve, CURVE_SCHEMA)


def save_registry(registry: DataFrame, path: str) -> None:
    """Persist the per-domain model registry (M15 — the reference's
    single HashMap object file, `emr/Models2Object.scala:27-36`,
    becomes a queryable parquet table: model bytes + idf + indices +
    metrics per domain)."""
    registry.write.mode("overwrite").parquet(path)


def load_registry(spark: SparkSession, path: str) -> DataFrame:
    """Reload a persisted registry for serving (``registry_models``
    builds what the scorers broadcast)."""
    return spark.read.parquet(path)


def registry_models(registry: DataFrame | list) -> dict:
    """Collected registry → {domain: (GBTClassifier, idf, indices)},
    the value the broadcast scorers ship to executors: models are
    deserialized once on the driver, not per task."""
    rows = registry.collect() if isinstance(registry, DataFrame) else registry
    return {
        r["domain"]: (
            GBTClassifier.from_bytes(bytes(r["model"])),
            np.asarray(r["idf"], dtype=np.float64),
            np.asarray(r["indices"], dtype=np.int64),
        )
        for r in rows
    }


# one row per page: its best positive candidate (null when none) and
# its max prediction (-2 missing model, null without candidates)
_PICKED = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("domain", T.StringType()),
        T.StructField("updatedPrice", T.DoubleType()),
        T.StructField("best", T.StringType()),
        T.StructField("max_pred", T.IntegerType()),
    ]
)


def _picked_batches(
    batches: Iterator[pa.RecordBatch], registry: Broadcast, forward: tuple[str, ...]
) -> Iterator[pa.RecordBatch]:
    """(url, __html, page_length, domain, updatedPrice, *forward) page
    batches → one _PICKED row per page, in input order, followed by its
    ``forward`` columns unchanged. Per batch, the candidates
    of all its pages are grouped by domain so each domain's features
    and margins are computed in one call; the best candidate is the
    max (round(margin, 9), candidate) among positive ones, the order
    ``pick_model_price`` uses."""
    for batch in batches:
        models = registry.value
        best_key: list = [None] * batch.num_rows
        max_pred: list = [None] * batch.num_rows
        by_domain: dict = {}
        for i, (html, length, domain) in enumerate(zip(
            batch.column("__html").to_pylist(),
            batch.column("page_length").to_pylist(),
            batch.column("domain").to_pylist(),
        )):
            cands = ex.extract_candidates_py(html)
            if not cands:
                continue
            if domain not in models:
                max_pred[i] = -2
                continue
            pages, values, tokens, lengths, locs = by_domain.setdefault(domain, ([], [], [], [], []))
            for c in cands:
                toks = context_tokens(c["text_before"], c["text_after"])
                pages.append(i)
                values.append(c["candidate"])
                tokens.extend(toks)
                lengths.append(len(toks))
                locs.append(ex.norm_location_py(c["location"], length))
        for domain, (pages, values, tokens, lengths, locs) in by_domain.items():
            model, idf, indices = models[domain]
            X = selected_tfidf(term_ids_py(tokens), lengths, locs, idf, indices)
            margin = model.margin(X)
            for i, value, m, conf in zip(pages, values, margin.tolist(), np.round(margin, 9).tolist()):
                if m > 0:
                    max_pred[i] = 1
                    if best_key[i] is None or (conf, value) > best_key[i]:
                        best_key[i] = (conf, value)
                elif max_pred[i] is None:
                    max_pred[i] = 0
        best = [None if k is None else k[1] for k in best_key]
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("url"),
                batch.column("domain"),
                batch.column("updatedPrice"),
                pa.array(best, pa.string()),
                pa.array(max_pred, pa.int32()),
                *(batch.column(c) for c in forward),
            ],
            names=[*_PICKED.fieldNames(), *forward],
        )


def pick_pages(pages: DataFrame, registry: Broadcast, forward: tuple[str, ...]) -> DataFrame:
    """The production page scorer: pages with the page-message fields
    (url, html, updatedPrice) → one (url, domain, updatedPrice, best,
    max_pred) row per page, then each page's ``forward`` columns
    carried through unchanged, from one ``mapInArrow`` over the
    ``shrunk_pages`` projection with a broadcast ``registry_models``
    value — the reference's one per-record map
    (`streaming/Htmls2PredsPipe.scala:104-159`), with no shuffle.
    ``model_price(max_pred, best)`` is the page's model price."""
    projected = ex.shrunk_pages(
        pages.withColumn("domain", get_domain(F.col("url"))),
        "html", "url", "domain", "updatedPrice", *forward,
    )
    schema = T.StructType(_PICKED.fields + [projected.schema[c] for c in forward])
    return projected.mapInArrow(lambda batches: _picked_batches(batches, registry, forward), schema)


def score_candidates(cand: DataFrame, registry: DataFrame | list) -> DataFrame:
    """Candidate-row reference scorer: mapInPandas scoring with the
    collected registry broadcast to executors. Adds prediction (0/1),
    confidence (margin), and the missing-model sentinel prediction = -2
    (`streaming/Htmls2PredsPipe.scala:146-156`). Tests and the
    benchmark's trace replay call it; no production code does —
    ``pick_pages`` scores pages in one map."""
    bc = cand.sparkSession.sparkContext.broadcast(registry_models(registry))
    out_schema = T.StructType(
        cand.schema.fields
        + [
            T.StructField("prediction", T.IntegerType()),
            T.StructField("confidence", T.DoubleType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            pred = np.full(len(pdf), -2, dtype=np.int64)
            conf = np.zeros(len(pdf), dtype=np.float64)
            for domain, grp in pdf.groupby("domain", sort=False):
                entry = bc.value.get(domain)
                if entry is None:
                    continue
                model, idf, indices = entry
                m = model.margin(_scoring_matrix(grp, idf, indices))
                idx = grp.index.to_numpy()
                pred[pdf.index.get_indexer(idx)] = (m > 0).astype(np.int64)
                conf[pdf.index.get_indexer(idx)] = m
            pdf = pdf.copy()
            pdf["prediction"] = pred
            pdf["confidence"] = np.round(conf, 9)
            yield pdf

    return cand.mapInPandas(score, out_schema)


def model_price(max_pred: Column, best_candidate: Column) -> Column:
    """A page's model price from its max prediction and its best
    positive candidate: -2.0 when the domain had no model, -1.0 when
    no candidate is positive (or it does not parse), else the
    candidate's numeric value (`streaming/Htmls2PredsPipe.scala:
    134-156`). A page without candidates (null max_pred) gets -1.0."""
    return (
        F.when(max_pred == -2, F.lit(-2.0))
        .when(best_candidate.isNull(), F.lit(-1.0))
        .otherwise(F.coalesce(ex.parse_price(best_candidate), F.lit(-1.0)))
    )


def pick_model_price(scored: DataFrame) -> DataFrame:
    """Candidate-row reference pick, paired with ``score_candidates``:
    per url, the highest-confidence positive candidate's numeric value,
    with ``model_price``'s sentinels. max_by over a deterministic
    (confidence, candidate) struct — one shuffle. No production code
    calls it."""
    agg = scored.groupBy("url", "domain").agg(
        F.max(F.when(F.col("prediction") == 1, F.struct("confidence", "candidate"))).alias("best"),
        F.max("prediction").alias("max_pred"),
    )
    return agg.select(
        "url",
        "domain",
        model_price(F.col("max_pred"), F.col("best.candidate")).alias("model_price"),
    )
