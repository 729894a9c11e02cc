"""The perfbench workloads.

Each drives the engine only through its public operator-level
functions, over inputs that ``gen`` wrote from the seed:

- ``serve_drain``: the per-domain registry is learned from labeled
  pages (parse → extract → label → featurize → ``train_per_domain`` →
  collected on the driver) during set-up; then a backlog of
  page-message files is drained by ``streaming.serve.serve_stream``,
  one file per trigger (``maxFilesPerTrigger=1``), so each trigger
  starts only when the previous one has committed. One op is one
  trigger.
- ``price_analytics``: a seeded ``lineitem`` table through four
  analytics queries into noop sinks. One op is one pass of all four,
  each query observed on its way to the sink (row count and column
  sums) and checked against DuckDB.

``setup`` is the engine work a workload needs before its timed region,
warm-up included; ``op`` runs and checks one timed unit (a serve drain
starts with untimed warm-up triggers); ``trace`` re-runs the workload
layer by layer (each layer prefix materialized into a noop sink inside
a job group named after the layer) and returns per-layer metrics.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import pandas as pd
import pyarrow.parquet as pq
from pyspark import SparkContext
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

import checks
import gen
import probe
from htmlentityextraction_spark import registry, schemas
from htmlentityextraction_spark.functions.text import get_domain
from htmlentityextraction_spark.operators import extraction as ex
from htmlentityextraction_spark.operators import models as md
from htmlentityextraction_spark.plans.prod_metrics import price_delta_market_position
from htmlentityextraction_spark.queries.analytics2 import (
    bad_domain_analysis,
    hotspots_hot_level,
    rt2report_competitor_summary,
)
from htmlentityextraction_spark.sources.tables import load_table
from htmlentityextraction_spark.streaming import serve

# The per-domain fit settings of the repo's model queries.
FIT = dict(n_estimators=10, max_depth=3, min_doc_freq=5, top_k=100)


@dataclass
class OpResult:
    wall_s: float  # wall time of the timed work
    items: int  # pages (serve, learn) or observation rows (analytics)
    latencies: list[float]  # per-op wall times inside this call
    attempted: int
    failed: int
    notes: list[str] = field(default_factory=list)
    warmup_s: float = 0.0  # untimed warm-up work inside this call


def _frame(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ----------------------------------------------------------------- learning
def learn_prefixes(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The learning pipeline as an ordered chain of layer prefixes; the
    last one is the registry."""
    raw = load_table(spark, sf_dir, "pages")
    parsed = schemas.parse_page_messages(raw)
    healthy = parsed.filter(~F.col("is_corrupt"))
    cand = ex.extract_candidates(healthy)
    truth = healthy.select("url", "price", F.col("updatedPrice").alias("updated_price"))
    labeled = ex.label_candidates(cand, truth).withColumn("domain", get_domain(F.col("url")))
    feats = md.featurize_candidates(labeled)
    return {
        "scan": raw,
        "parse": parsed,
        "extraction": cand,
        "label": labeled,
        "featurize": feats,
        "train": md.train_per_domain(feats, **FIT),
    }


def write_corpus(sf_dir: str, pages: list[gen.Page], n_files: int) -> list[str]:
    """Pages as the ``pages`` table of ``sf_dir`` (``n_files`` files)."""
    table_dir = _reset_dir(os.path.join(sf_dir, "pages.parquet"))
    paths = []
    for i in range(n_files):
        paths.append(os.path.join(table_dir, f"part-{i:03d}.parquet"))
        gen.write_messages(paths[-1], pages[i::n_files])
    return paths


def registry_counts(pages: list[gen.Page]) -> dict[str, tuple[int, int]]:
    """Planted (candidate rows, positive rows) per domain."""
    out: dict[str, tuple[int, int]] = {}
    for p in pages:
        n, pos = out.get(p.domain, (0, 0))
        out[p.domain] = (n + p.n_candidates, pos + (p.planted is not None))
    return out


def _span_selfs(spans: list[probe.Span]) -> dict[str, float]:
    """Self time of each prefix span: its wall minus the previous one.
    A layer that costs less than the run-to-run noise of the spans
    before it (featurize, a few projections) can read slightly below 0."""
    out, prev = {}, 0.0
    for sp in spans:
        out[sp.name] = sp.wall_s - prev
        prev = sp.wall_s
    return out


def trace_prefixes(store: probe.StatusStore, prefixes: dict[str, DataFrame], group_prefix: str,
                   counts: dict[str, list] | None = None
                   ) -> tuple[dict[str, probe.Span], float, dict[str, dict]]:
    """Materialize each prefix once inside its own job group, observing
    the aggregate ``counts`` of a layer on the way, so that no count
    runs a prefix again. Returns the spans, the traced wall time of
    the pass over all prefixes and the observed counts."""
    spans, observed = {}, {}
    for name, df in prefixes.items():
        if name in (counts or {}):
            observed[name] = Observation()
            df = df.observe(observed[name], *counts[name])
        with probe.span(store, name, f"{group_prefix}.{name}") as spans[name]:
            probe.noop(df)
    got = {name: {k: v or 0 for k, v in obs.get.items()} for name, obs in observed.items()}
    return spans, sum(sp.wall_s for sp in spans.values()), got


class Workload:
    name = ""
    MIN_OPS = 1  # timed ops per run, however long --seconds is

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.record: dict = {}

    def generate(self) -> list[str]:
        raise NotImplementedError

    def setup(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def op(self, spark: SparkSession, i: int, keep: bool = False) -> OpResult:
        raise NotImplementedError

    def final_check(self, spark: SparkSession, ops: list[OpResult]) -> tuple[int, int, list[str]]:
        """Checks on top of what each op checked itself, such as those
        made in set-up: (attempted, failed, notes)."""
        return 0, 0, []

    def trace(self, spark: SparkSession, store: probe.StatusStore) -> tuple[dict, OpResult]:
        """Per-layer metrics, and the untraced op run alongside them."""
        raise NotImplementedError

    def baseline(self, sessions) -> tuple[dict, list[OpResult]]:
        """Per-layer metrics that need a differently configured
        session, and the ops they ran; run last, after the leftover
        census."""
        return {}, []


def trace_learning(store: probe.StatusStore, spark: SparkSession, sf_dir: str, n_trained: int
                   ) -> tuple[dict, dict[str, probe.Span], float]:
    """Layer metrics of the learning pipeline over ``sf_dir``, whose
    registry has ``n_trained`` rows; also returns the spans and the
    traced wall time of one pass."""
    prefixes = learn_prefixes(spark, sf_dir)
    spans, traced, _ = trace_prefixes(store, prefixes, "learn")
    selfs = _span_selfs(list(spans.values()))
    per_dom = [r["n"] for r in prefixes["featurize"].groupBy("domain")
               .agg(F.count("*").alias("n")).collect()]
    out = {
        "scan.self_s": selfs["scan"],
        "scan.input_bytes": spans["scan"].files_read_bytes,
        "scan.tasks": spans["scan"].stages["last_stage_tasks"],
        "learn.parse_s": selfs["parse"],
        "learn.extraction_s": selfs["extraction"],
        "learn.extraction_tasks": spans["extraction"].stages["last_stage_tasks"],
        "label.self_s": selfs["label"],
        "learn.featurize_s": selfs["featurize"],
        "train.self_s": selfs["train"],
        "train.domains_trained": n_trained,
        "train.domains_seen": len(per_dom),
        "train.max_domain_rows": max(per_dom),
        "train.skew": max(per_dom) / statistics.median(per_dom),
        "train.python_worker_s": spans["train"].python_by_node.get("FlatMapGroupsInPandas", 0.0),
    }
    return out, spans, traced


def _executor_totals(spans) -> dict:
    return {
        "trace.executor_run_s": sum(s.stages["run_s"] for s in spans),
        "trace.executor_cpu_s": sum(s.stages["cpu_s"] for s in spans),
    }


# -------------------------------------------------------------------- serve
class ServeDrain(Workload):
    """Closed-loop drain of a page-message backlog."""

    name = "serve_drain"
    FIT_PAGES, FIT_FILES = 400, 2
    # 3750 pages per trigger is the production catch-up shape (a 60k
    # page backlog drained in 16 triggers); on a shared 4-core VM one
    # such trigger takes 2.5-8 s, the "few seconds of data" per batch that
    # THROUGHPUT.md asks for. The drain is kept short instead, so that
    # a run stays under a minute: two small warm-up triggers (a fresh
    # JVM's first trigger costs 5-12 s whatever its size, the second
    # still 2-7 s), then four timed full-size ones, whose median also
    # drops the first one's remaining warm-up. Four take longer than
    # the 6 s a run measures (a second drain, warmer, would skew the
    # median), so a run drains the backlog only once.
    # BASELINE_FILES (the local[1] drain) must exceed WARMUP_TRIGGERS.
    WARMUP_TRIGGERS, WARMUP_PAGES = 2, 500
    TIMED_TRIGGERS, PAGES_PER_FILE = 4, 3750
    BASELINE_FILES = WARMUP_TRIGGERS + 1

    def generate(self) -> list[str]:
        self.fit_dir = os.path.join(self.work, "fit")
        fit_pages = gen.labeled_pages(self.seed, "fit", self.FIT_PAGES)
        self.fit_counts = registry_counts(fit_pages)
        paths = write_corpus(self.fit_dir, fit_pages, self.FIT_FILES)
        self.src = _reset_dir(os.path.join(self.work, "backlog"))
        self.expected: dict[str, tuple] = {}
        self.corrupt: list[str] = []
        n_files = self.WARMUP_TRIGGERS + self.TIMED_TRIGGERS
        names = {f"serve{f}": f"part-{f:03d}.parquet" for f in range(n_files)}
        sizes = [self.WARMUP_PAGES] * self.WARMUP_TRIGGERS + [self.PAGES_PER_FILE] * self.TIMED_TRIGGERS
        written = gen.write_serve_files(
            self.seed, {tag: (os.path.join(self.src, n), k) for (tag, n), k in zip(names.items(), sizes)})
        self.file_pages = {names[tag]: pages for tag, pages in written.items()}
        paths += [os.path.join(self.src, n) for n in names.values()]
        for p in (p for fp in self.file_pages.values() for p in fp):
            if p.corrupt:
                self.corrupt.append(p.payload)
            else:
                m, s, fin = checks.expected_serve_row(p.planted, p.n_candidates, p.updated,
                                                      p.domain in gen.TRAINED)
                self.expected[p.url] = (m, s, fin, p.updated)
        self.warmup_triggers: list[list[float]] = []
        self.drain_walls: list[float] = []
        self.record.update(warmup_trigger_s=self.warmup_triggers, drain_wall_s=self.drain_walls)
        self.record.update(backlog_pages=sum(sizes), backlog_files=n_files,
                           pages_per_trigger=self.PAGES_PER_FILE, warmup_pages_per_trigger=self.WARMUP_PAGES,
                           corrupt_pages=len(self.corrupt), fit_pages=self.FIT_PAGES)
        return paths

    def setup(self, spark: SparkSession) -> None:
        self.rows = learn_prefixes(spark, self.fit_dir)["train"].collect()
        failed, notes = checks.check_registry([r.asDict() for r in self.rows], gen.TRAINED,
                                              self.fit_counts)
        domains = len(set(gen.TRAINED) | {r.domain for r in self.rows})
        self.registry_check = (domains, failed, notes)

    def final_check(self, spark: SparkSession, ops: list[OpResult]) -> tuple[int, int, list[str]]:
        """The registry the drains served: one op per domain."""
        return self.registry_check

    def _drain(self, spark: SparkSession, src: str, out: str):
        _reset_dir(out)
        raw = (spark.readStream.schema("value string")
               .option("maxFilesPerTrigger", 1).parquet(src))
        t0 = time.perf_counter()
        holder = serve.serve_stream(spark, raw, self.rows, out)
        holder.await_done(170)
        wall = time.perf_counter() - t0
        q = holder.query
        if q.isActive:
            q.stop()
            raise RuntimeError("serve drain did not finish in time")
        if q.exception() is not None:
            raise RuntimeError(f"serve drain failed: {q.exception()}")
        return wall, [p.durationMs for p in q.recentProgress if p.numInputRows > 0]

    def _sinks(self, out: str) -> dict[str, pd.DataFrame]:
        return {s: _frame(os.path.join(out, s))
                for s in ("historical", "realtime", "logs", "logs_corrupt")}

    def op(self, spark: SparkSession, i: int, keep: bool = False, src: str | None = None) -> OpResult:
        """One drain of the backlog (or of the first files of it in
        ``src``). Its first WARMUP_TRIGGERS triggers pay the query's
        lazy set-up and most of the JIT warm-up of the serve path; the
        later ones are the timed ops."""
        out = os.path.join(self.work, f"out{i}")
        files = sorted(os.listdir(src or self.src))
        wall, progress = self._drain(spark, src or self.src, out)
        sinks = self._sinks(out)
        pages = [p for f in files for p in self.file_pages[f]]
        expected = {p.url: self.expected[p.url] for p in pages if not p.corrupt}
        corrupt = [p.payload for p in pages if p.corrupt]
        failed, notes = checks.check_serve(expected, corrupt, sinks)
        if len(progress) != len(files):
            failed += 1
            notes.append(f"{len(progress)} triggers for {len(files)} files")
        self.last_progress, self.last_out = progress, out
        self.last_sink_rows = {k: len(v) for k, v in sinks.items()}
        if not keep:
            shutil.rmtree(out, ignore_errors=True)
        steady = [p["triggerExecution"] / 1e3 for p in progress[self.WARMUP_TRIGGERS:]]
        self.warmup_triggers.append([p["triggerExecution"] / 1e3 for p in progress[:self.WARMUP_TRIGGERS]])
        self.drain_walls.append(wall)
        timed_pages = sum(len(self.file_pages[f]) for f in files[self.WARMUP_TRIGGERS:])
        return OpResult(sum(steady), timed_pages, steady, len(pages), failed, notes,
                        sum(self.warmup_triggers[-1]))

    def replay_prefixes(self, spark: SparkSession, path: str) -> dict[str, DataFrame]:
        """One trigger's input through the calls ``score_pages_batch``
        composes, after the same parallelism guard ``serve_stream``'s
        batch function applies."""
        batch = spark.read.schema("value string").parquet(path)
        if batch.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
            batch = batch.repartition(spark.sparkContext.defaultParallelism)
        parsed = schemas.parse_page_messages(batch)
        healthy = parsed.filter(~F.col("is_corrupt"))
        pages = healthy.withColumn("domain", get_domain(F.col("url")))
        cand = ex.extract_candidates(pages, html_col="html", url_col="url", snippet_size=150)
        cand = cand.withColumn("domain", get_domain(F.col("url"))).withColumn(
            "norm_location",
            F.col("location").cast("double") / F.greatest(F.col("page_length"), F.lit(1)).cast("double"),
        ).withColumn("label", F.lit(0))
        feats = md.featurize_candidates(cand)
        scored = md.score_candidates(feats, self.rows)
        return {
            "source": batch,
            "parse": parsed,
            "extraction": cand,
            "featurize": feats,
            "score": scored,
            "pick": md.pick_model_price(scored),
            "reconcile": serve.score_pages_batch(healthy, self.rows),
        }

    def trace(self, spark: SparkSession, store: probe.StatusStore) -> tuple[dict, OpResult]:
        out: dict = {}
        # untraced drain, with only the broadcast counter attached
        created = []
        original = SparkContext.broadcast

        def counting(sc, value):
            created.append(1)
            return original(sc, value)

        SparkContext.broadcast = counting
        try:
            drain = self.op(spark, 0, keep=True)
        finally:
            SparkContext.broadcast = original
        progress = self.last_progress
        phases = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
                  "query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
                  "get_batch_ms": "getBatch", "latest_offset_ms": "latestOffset",
                  "commit_offsets_ms": "commitOffsets"}
        for k, v in phases.items():
            out[f"serve.{k}"] = statistics.median(p.get(v, 0) for p in progress[self.WARMUP_TRIGGERS:])
        out["serve.broadcasts_created"] = len(created)
        out["sinks.files_written"] = len(glob.glob(os.path.join(self.last_out, "*", "part-*")))
        for k, v in self.last_sink_rows.items():
            out[f"sinks.{k}_rows"] = v
        shutil.rmtree(self.last_out, ignore_errors=True)

        # layer prefixes of one timed trigger's input; the sinks layer (the
        # persist and the four writes) is what the engine's own
        # foreachBatch spends beyond the reconciled result
        path = os.path.join(self.src, sorted(self.file_pages)[self.WARMUP_TRIGGERS])
        prefixes = self.replay_prefixes(spark, path)

        def flag(cond):
            return F.sum(cond.cast("long"))

        spans, traced, got = trace_prefixes(store, prefixes, "serve", {
            "parse": [flag(~F.col("is_corrupt")).alias("pages"), flag(F.col("is_corrupt")).alias("corrupt"),
                      F.sum(F.length("html")).alias("html_chars")],
            "extraction": [F.count(F.lit(1)).alias("candidates")],
            "score": [flag(F.col("prediction") == -2).alias("missing")],
            "pick": [F.count(F.lit(1)).alias("pages"), flag(F.col("model_price") >= 0).alias("positive")],
        })
        selfs = _span_selfs(list(spans.values()))
        add_batch_s = out["serve.add_batch_ms"] / 1e3
        selfs["sinks"] = add_batch_s - spans["reconcile"].wall_s

        n_pages, n_cand = got["parse"]["pages"], got["extraction"]["candidates"]
        html_mb = got["parse"]["html_chars"] / 1e6
        pick_shuffle = (spans["pick"].stages["shuffle_write_bytes"]
                        - spans["score"].stages["shuffle_write_bytes"])
        out.update({
            "serve.source_s": selfs["source"],
            "parse.self_s": selfs["parse"],
            "parse.pages": n_pages,
            "parse.corrupt": got["parse"]["corrupt"],
            "extraction.self_s": selfs["extraction"],
            "extraction.mb_per_s": html_mb / max(selfs["extraction"], 1e-9),
            "extraction.candidates_per_page": n_cand / max(n_pages, 1),
            "extraction.tasks": spans["extraction"].stages["last_stage_tasks"],
            "extraction.python_worker_s": spans["extraction"].python_by_node.get("ArrowEvalPython", 0.0),
            "featurize.self_s": selfs["featurize"],
            "score.self_s": selfs["score"],
            "score.missing_model_share": got["score"]["missing"] / max(n_cand, 1),
            "score.python_worker_s": spans["score"].python_by_node.get("MapInPandas", 0.0),
            "pick.self_s": selfs["pick"],
            "pick.shuffle_bytes": pick_shuffle,
            "pick.positive_share": got["pick"]["positive"] / max(got["pick"]["pages"], 1),
            "serve.reconcile_s": selfs["reconcile"],
            "sinks.write_s": selfs["sinks"],
            # one trigger traced layer by layer, against the same
            # trigger's untraced batch
            "trace.overhead_s": traced + selfs["sinks"] - add_batch_s,
        })
        layer_s = sum(selfs.values())
        trigger_s = out["serve.trigger_ms"] / 1e3
        out["serve.fixed_share"] = (trigger_s - layer_s) / trigger_s
        tail, pct, beyond = probe.percentile_tail(drain.latencies)
        out.update({"serve.batch_tail_s": tail, "serve.batch_tail_pct": pct,
                    "serve.batch_tail_n": beyond})
        # the registry fit, layer by layer, against one untraced fit
        learn, learn_spans, learn_traced = trace_learning(store, spark, self.fit_dir, len(self.rows))
        out.update(learn)
        t0 = time.perf_counter()
        learn_prefixes(spark, self.fit_dir)["train"].collect()
        out["learn.fit_s"] = time.perf_counter() - t0
        out["trace.overhead_s"] += learn_traced - out["learn.fit_s"]
        out.update(_executor_totals(list(spans.values()) + list(learn_spans.values())))
        self.pages_per_s = drain.items / drain.wall_s
        return out, drain

    def baseline(self, sessions) -> tuple[dict, list[OpResult]]:
        """The same drain on ``local[1]``: the single-core baseline."""
        cores = sessions.spark.sparkContext.defaultParallelism
        spark1 = sessions.restart(cpus="1")
        src1 = _reset_dir(os.path.join(self.work, "backlog1"))
        for name in sorted(self.file_pages)[:self.BASELINE_FILES]:
            shutil.copy(os.path.join(self.src, name), src1)
        drain1 = self.op(spark1, 1, src=src1)
        pps_1 = drain1.items / drain1.wall_s
        return {"serve.local1_pages_per_s": pps_1,
                "serve.scaling_efficiency": self.pages_per_s / (cores * pps_1)}, [drain1]


# ---------------------------------------------------------------- analytics
QUERIES = {
    "price_delta_market_position": (price_delta_market_position, ["sys_prod_id", "store_id"]),
    "bad_domain_analysis": (bad_domain_analysis, ["domain"]),
    "hotspots_hot_level": (hotspots_hot_level, ["prodid"]),
    "rt2report_competitor_summary": (rt2report_competitor_summary, ["prodid"]),
}


def _numeric(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)]


def _summary_exprs(df: DataFrame) -> list:
    """What ``checks.summarize`` computes, as observed metrics."""
    return [F.count(F.lit(1)).cast("double").alias("rows")] + [
        F.sum(F.col(c)).cast("double").alias(c) for c in _numeric(df)]


class PriceAnalytics(Workload):
    """Pure JVM scan/window/shuffle over a seeded observation table."""

    name = "price_analytics"
    # A pass takes 2.5-7 s on a shared 4-core VM almost whatever the
    # row count: planning and scheduling dominate, and 400k rows take
    # only ~1.2x the time of 100k. A fresh JVM's first pass takes
    # 10-25 s: set-up runs it, observed like the timed ones and
    # collected for the row-by-row check. The JIT keeps speeding the next few passes up,
    # so a run times four more (they take longer than the 6 s a run
    # measures), and their median drops the first.
    ROWS, MIN_OPS = 100_000, 4

    def generate(self) -> list[str]:
        self.sf_dir = _reset_dir(os.path.join(self.work, "sf"))
        path = os.path.join(self.sf_dir, "lineitem.parquet")
        gen.write_lineitem(path, self.seed, self.ROWS)
        self.record.update(rows=self.ROWS)
        return [path]

    def setup(self, spark: SparkSession) -> None:
        """DuckDB's results; then one pass like the timed ones, each
        query also collected and compared with them row by row."""
        t0 = time.perf_counter()
        oracles = registry.oracles()
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            path = os.path.join(self.sf_dir, "lineitem.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")
            expected = {name: con.execute(oracles[name]).df() for name in QUERIES}
        finally:
            con.close()
        phases = self.record.setdefault("setup_phases_s", {})
        phases["oracle_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wall, got, frames = self._pass(spark, self.sf_dir, collect=True)
        phases["cold_pass_s"] = wall
        self.reference = {name: checks.summarize(expected[name], [c for c in got[name] if c != "rows"])
                          for name in QUERIES}
        notes = [f"{name}: {diff}" for name, (_, keys) in QUERIES.items()
                 if (diff := checks.frames_equal(frames[name], expected[name], keys))]
        warm = self._check(got, -1)
        self.checked = (len(QUERIES) + warm.attempted, len(notes) + warm.failed, notes + warm.notes)

    def _pass(self, spark: SparkSession, sf_dir: str, collect: bool = False
              ) -> tuple[float, dict[str, dict], dict[str, pd.DataFrame]]:
        """The four queries into noop sinks (or collected), each
        observed on the way (row count and numeric column sums);
        returns the wall time, the observed summaries and the collected
        frames."""
        observed, frames = {}, {}
        t0 = time.perf_counter()
        for name, (fn, _) in QUERIES.items():
            df = fn(spark, sf_dir)
            observed[name] = Observation()
            df = df.observe(observed[name], *_summary_exprs(df))
            if collect:
                frames[name] = df.toPandas()
            else:
                probe.noop(df)
        wall = time.perf_counter() - t0
        return wall, {name: obs.get for name, obs in observed.items()}, frames

    def _check(self, got: dict[str, dict], i: int, wall: float = 0.0) -> OpResult:
        """Every query's observed summary against DuckDB's result."""
        notes = [f"{name} pass {i}: {diff}" for name in QUERIES
                 if (diff := checks.summary_diff(got[name], self.reference[name]))]
        return OpResult(wall, self.ROWS, [wall], len(QUERIES), len(notes), notes)

    def op(self, spark: SparkSession, i: int, keep: bool = False) -> OpResult:
        """One pass, checked."""
        wall, got, _ = self._pass(spark, self.sf_dir)
        return self._check(got, i, wall)

    def final_check(self, spark: SparkSession, ops: list[OpResult]) -> tuple[int, int, list[str]]:
        """The checks of the set-up pass: row by row and observed."""
        return self.checked

    def trace(self, spark: SparkSession, store: probe.StatusStore) -> tuple[dict, OpResult]:
        cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_extendedprice",
                "l_discount", "l_shipdate"]
        scan = load_table(spark, self.sf_dir, "lineitem").select(*cols)
        prefixes = {"scan": scan}
        prefixes.update({name: fn(spark, self.sf_dir) for name, (fn, _) in QUERIES.items()})
        spans, traced, _ = trace_prefixes(store, prefixes, "analytics")
        untraced = self.op(spark, 0)
        qs = [spans[n] for n in QUERIES]
        out = {f"analytics.{n}_s": spans[n].wall_s for n in QUERIES}
        out.update({
            "scan.self_s": spans["scan"].wall_s,
            "scan.input_bytes": spans["scan"].files_read_bytes,
            "scan.tasks": spans["scan"].stages["last_stage_tasks"],
            "analytics.shuffle_bytes": sum(s.stages["shuffle_write_bytes"] for s in qs),
            "analytics.spill_bytes": sum(s.stages["spill_bytes"] for s in qs),
            "trace.overhead_s": traced - untraced.wall_s,
        })
        out.update(_executor_totals(spans.values()))
        return out, untraced


WORKLOADS = {w.name: w for w in (ServeDrain, PriceAnalytics)}
