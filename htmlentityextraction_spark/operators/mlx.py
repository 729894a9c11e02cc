"""Spark ML model operators beyond the per-domain GBT (SURVEY.md §2.9
M16-M19): RandomForest, linear SVM, LDA topics, PCA — the reference's
secondary model experiments (`models/ModelR.scala`, `models/SVM.scala`,
`models/LDA.scala`, `models/PCA2GBT.scala`) re-expressed on
``pyspark.ml`` pipelines.

All fits are seeded and single-pass deterministic; outputs are
DataFrames so they compose with the rest of the engine. At 100 TB
these run as ordinary distributed ML jobs (tree ensembles and LDA
scale with executors; PCA's covariance accumulates tree-aggregated).
"""

from __future__ import annotations

from pyspark.ml.classification import LinearSVC, RandomForestClassifier
from pyspark.ml.clustering import LDA
from pyspark.ml.feature import PCA, CountVectorizer
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators.similarity import valid_vectors

# The RF/SVC evals' binary target: label < _LABEL_THRESHOLD.
_LABEL_THRESHOLD = 5
# RandomForest capacity (depth calibration in random_forest_eval's
# docstring); read at call time.
_RF_TREES = 20
_RF_DEPTH = 7


def _empty_eval(emb: DataFrame) -> DataFrame:
    """Typed empty per-class metrics frame (the RF/SVC output shape)."""
    return emb.sparkSession.createDataFrame([], "klass int, n bigint, accuracy double")


def _vectorized(emb: DataFrame) -> DataFrame:
    """Vectorize ``embedding`` for pyspark.ml; corrupt vectors (NULL / NULL-element
    / empty) are dropped first — array_to_vector crashes on them, and
    at 100 TB they WILL occur (null-fuzz hardened)."""
    emb = valid_vectors(emb)
    return emb.withColumn("features", array_to_vector(F.col("embedding").cast("array<double>")))


def random_forest_eval(emb: DataFrame) -> DataFrame:
    """M16 (`models/ModelR.scala:75-88`): RF binary classifier on the
    embedding vectors (label = label < threshold), returning per-class
    train accuracy.

    Depth 7 (was 5 through r6): depth 5 was calibrated on the
    500-row gate fixture, where trees memorize to ~0.95 — at sf0.1
    (~2k rows) its train accuracy decays to ~0.75-0.77, and a 4%
    poisoned fixture (mixed fuzz, fresh seed) landed class-1 at 0.73,
    under the query's 0.75 beats-baseline floor. Depth 7 holds ≥0.89
    on every fixture (clean sf0.001/0.01/0.1 and both mixed-poison
    seeds) — the contract passes on capacity margin, not seed luck."""
    data = (
        _vectorized(emb)
        .filter(F.col("label").isNotNull())  # Spark ML: labels must be non-null
        .withColumn("y", (F.col("label") < _LABEL_THRESHOLD).cast("double"))
    )
    if data.isEmpty():  # Spark ML fit crashes on an empty dataset;
        # an empty corpus yields an empty metrics report (matches the
        # oracle's empty GROUP BY) — the empty-fuzz production shape
        return _empty_eval(emb)
    rf = RandomForestClassifier(
        labelCol="y", featuresCol="features", numTrees=_RF_TREES, maxDepth=_RF_DEPTH,
        seed=42, featureSubsetStrategy="auto",
    )
    model = rf.fit(data)
    pred = model.transform(data)
    return pred.groupBy(F.col("y").cast("int").alias("klass")).agg(
        F.count("*").alias("n"),
        F.round(F.avg((F.col("prediction") == F.col("y")).cast("double")) + 1e-9, 6).alias(
            "accuracy"
        ),
    )


def linear_svc_eval(emb: DataFrame) -> DataFrame:
    """M17 (`models/SVM.scala:55-56`): linear SVM (hinge loss) on the
    embeddings; per-class train accuracy PLUS the two quantities a
    linear separator's quality contract should actually gate on —
    ``overall_accuracy`` and ``majority_share`` (the trivial
    always-predict-the-bigger-class baseline). Hinge loss optimizes
    the overall margin, not per-class recall: on weakly separable
    data the per-class recalls float freely around the decision
    threshold (measured 0.554/0.568 on clean sf0.1 — a per-class
    floor of 0.55 there passes on +0.004 of luck, found by the r8
    fresh-seed mixed fuzz). No seed parameter: LinearSVC is
    deterministic by construction (OWLQN on a fixed objective)."""
    from pyspark.sql import Window

    data = (
        _vectorized(emb)
        .filter(F.col("label").isNotNull())  # Spark ML: labels must be non-null
        .withColumn("y", (F.col("label") < _LABEL_THRESHOLD).cast("double"))
    )
    if data.isEmpty():  # see random_forest_eval
        return emb.sparkSession.createDataFrame(
            [],
            "klass int, n bigint, accuracy double, "
            "overall_accuracy double, majority_share double",
        )
    svc = LinearSVC(labelCol="y", featuresCol="features", maxIter=50)
    model = svc.fit(data)
    pred = model.transform(data)
    per_class = pred.groupBy(F.col("y").cast("int").alias("klass")).agg(
        F.count("*").alias("n"),
        F.round(F.avg((F.col("prediction") == F.col("y")).cast("double")) + 1e-9, 6).alias(
            "accuracy"
        ),
    )
    w = Window.partitionBy()  # 2 rows: a trivial global window
    return per_class.select(
        "klass",
        "n",
        "accuracy",
        F.round(
            F.sum(F.col("accuracy") * F.col("n")).over(w) / F.sum("n").over(w) + 1e-9, 6
        ).alias("overall_accuracy"),
        F.round(F.max("n").over(w) / F.sum("n").over(w) + 1e-9, 6).alias(
            "majority_share"
        ),
    )


def lda_topics(docs: DataFrame) -> DataFrame:
    """M18 (`models/LDA.scala:87-95`): 3-topic LDA over document tokens;
    returns one scalar row per (topic, ranked term) — array columns
    are unhashable for the driver's pandas canonicalizer, so the
    top-term lists are exploded to (topic, term_rank, term_index,
    term) rows. EM with fixed seed → deterministic."""
    from htmlentityextraction_spark.functions.text import tokenize

    toks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.filter(tokenize(F.col("text")), lambda t: t != "").alias("tokens")
    )
    if toks.isEmpty():  # CountVectorizer/LDA crash on an empty corpus
        return docs.sparkSession.createDataFrame(
            [], "topic int, term_rank int, term_index int, term string"
        )
    cv = CountVectorizer(inputCol="tokens", outputCol="features", vocabSize=500, minDF=2.0)
    cvm = cv.fit(toks)
    vecs = cvm.transform(toks)
    lda = LDA(k=3, seed=42, maxIter=20, optimizer="em")
    model = lda.fit(vecs)
    topics = model.describeTopics(5)
    return topics.select(
        "topic", F.posexplode(F.col("termIndices")).alias("pos", "term_index")
    ).select(
        "topic",
        (F.col("pos") + 1).alias("term_rank"),
        F.col("term_index").cast("int").alias("term_index"),
        F.element_at(F.lit(cvm.vocabulary), F.col("term_index").cast("int") + 1).alias("term"),
    )


def pca_project(emb: DataFrame) -> DataFrame:
    """M19 (`models/PCA2GBT.scala:126-136`): project embeddings onto
    the top-8 principal components. Returns the rotation-invariant
    projection norm per vector (component signs are implementation-
    defined; the norm is not)."""
    data = _vectorized(emb)
    if data.isEmpty():  # PCA covariance fit crashes on empty input
        return data.select("vec_id", "label").withColumn(
            "proj_norm", F.lit(None).cast("double")
        )
    pca = PCA(k=8, inputCol="features", outputCol="proj")
    model = pca.fit(data)
    out = model.transform(data).withColumn("proj_arr", vector_to_array("proj"))
    norm = F.sqrt(F.aggregate(F.col("proj_arr"), F.lit(0.0), lambda a, v: a + v * v))
    return out.select(
        "vec_id",
        "label",
        F.round(norm + 1e-9, 6).alias("proj_norm"),
    )
