"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re

import pandas as pd
import pytest

import checks
import gen
import probe

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# ------------------------------------------------------------- generator
def test_same_seed_gives_identical_files(tmp_path):
    def write(d, seed):
        d.mkdir()
        paths = [str(d / "serve.parquet"), str(d / "learn.parquet"), str(d / "lineitem.parquet")]
        gen.write_messages(paths[0], gen.serve_pages(seed, "s", 200))
        gen.write_messages(paths[1], gen.labeled_pages(seed, "l", 200))
        gen.write_lineitem(paths[2], seed, 20_000)
        return gen.digest(paths)

    a = write(tmp_path / "a", 7)
    assert write(tmp_path / "b", 7) == a
    assert write(tmp_path / "c", 8) != a


def test_xxhash64_matches_reference_vectors():
    # published XXH64 vectors (seed 0); Spark's xxhash64 is the same
    # function with seed 42
    unsigned = lambda h: h & ((1 << 64) - 1)  # noqa: E731
    assert unsigned(gen.xxhash64(b"", 0)) == 0xEF46DB3751D8E999
    assert unsigned(gen.xxhash64(b"a", 0)) == 0xD24EC4F1A98C6E5B
    assert unsigned(gen.xxhash64(b"abc", 0)) == 0x44BC2CF5AD770999
    assert unsigned(gen.xxhash64(b"Nobody inspects the spammish repetition", 0)) == 0xFBCEA83C8A378BF1
    assert 0 <= gen.term_bucket(gen.SEPARATOR) < gen.NUM_FEATURES


def test_vocabulary_never_leaks_the_separator_bucket():
    sale = gen.term_bucket(gen.SEPARATOR)
    for word in gen.VOCAB + gen.MARKUP_TOKENS:
        for frag in gen._fragments(word):
            assert gen.term_bucket(frag) != sale, (word, frag)


def test_serve_backlog_covers_every_status_and_corruption():
    pages = gen.serve_pages(3, "x", 3000)
    statuses = {
        checks.expected_serve_row(p.planted, p.n_candidates, p.updated, p.domain in gen.TRAINED)[1]
        for p in pages if not p.corrupt
    }
    assert statuses == {
        "modeledPatternEquals", "minorModelPatternConflict", "majorModelPatternConflict",
        "bothFailed", "patternFailed", "missingModel", "allFalseCandids",
    }
    corrupt = [p for p in pages if p.corrupt]
    assert corrupt and all(_not_json(p.payload) for p in corrupt)


def _not_json(s: str) -> bool:
    try:
        json.loads(s)
    except ValueError:
        return True
    return False


def test_labeled_corpus_plants_the_skipped_domains():
    pages = gen.labeled_pages(5, "l", 2000)
    by_dom = {}
    for p in pages:
        by_dom.setdefault(p.domain, []).append(p)
    assert len(by_dom["tiny.example.com"]) == gen.TINY_PAGES
    assert all(p.n_decoys == 0 for p in by_dom["oneprice.example.com"])
    assert all(min(sum(p.planted is not None for p in by_dom[d]), 5) == 5 for d in gen.TRAINED)


# -------------------------------------------------------------- checkers
def _serve_case():
    pages = [p for p in gen.serve_pages(11, "c", 400)]
    expected, corrupt, rows = {}, [], []
    for p in pages:
        if p.corrupt:
            corrupt.append(p.payload)
            continue
        m, s, f = checks.expected_serve_row(p.planted, p.n_candidates, p.updated,
                                            p.domain in gen.TRAINED)
        expected[p.url] = (m, s, f, p.updated)
        rows.append({"url": p.url, "domain": p.domain, "model_price": m,
                     "pattern_price": p.updated, "status": s, "final_price": f})
    hist = pd.DataFrame(rows)
    passing = hist["status"].isin(checks.PASSING)
    sinks = {
        "historical": hist,
        "realtime": hist[passing].reset_index(drop=True),
        "logs": hist[~passing].reset_index(drop=True),
        "logs_corrupt": pd.DataFrame({"raw_payload": corrupt, "status": "corruptMessage"}),
    }
    return expected, corrupt, sinks


def test_check_serve_accepts_correct_sinks():
    expected, corrupt, sinks = _serve_case()
    assert checks.check_serve(expected, corrupt, sinks)[0] == 0


@pytest.mark.parametrize("plant", ["price", "status", "duplicate", "missing", "route", "corrupt"])
def test_check_serve_catches_a_planted_wrong_row(plant):
    expected, corrupt, sinks = _serve_case()
    hist = sinks["historical"]
    if plant == "price":
        hist.loc[0, "model_price"] += 1.0
    elif plant == "status":
        hist.loc[0, "status"] = "bothFailed" if hist.loc[0, "status"] != "bothFailed" else "patternFailed"
    elif plant == "duplicate":
        sinks["historical"] = pd.concat([hist, hist.iloc[:1]], ignore_index=True)
    elif plant == "missing":
        sinks["realtime"] = sinks["realtime"].iloc[1:]
    elif plant == "route":
        row = sinks["realtime"].iloc[:1]
        sinks["realtime"] = sinks["realtime"].iloc[1:]
        sinks["logs"] = pd.concat([sinks["logs"], row], ignore_index=True)
    else:
        sinks["logs_corrupt"].loc[0, "raw_payload"] += "x"
    assert checks.check_serve(expected, corrupt, sinks)[0] >= 1


def _registry_case():
    counts = {d: (100 + i, 30 + i) for i, d in enumerate(gen.TRAINED)}
    rows = [{"domain": d, "n_rows": n, "n_pos": p, "train_f1": 1.0} for d, (n, p) in counts.items()]
    return rows, counts


@pytest.mark.parametrize("plant", [None, "f1", "counts", "skipped_trained", "trained_skipped"])
def test_check_registry(plant):
    rows, counts = _registry_case()
    if plant == "f1":
        rows[0]["train_f1"] = 0.97
    elif plant == "counts":
        rows[1]["n_pos"] += 1
    elif plant == "skipped_trained":
        rows.append({"domain": gen.SKIPPED[0], "n_rows": 30, "n_pos": 30, "train_f1": 1.0})
    elif plant == "trained_skipped":
        rows.pop()
    failed, _ = checks.check_registry(rows, gen.TRAINED, counts)
    assert failed == (0 if plant is None else 1)


def test_frames_equal_catches_a_planted_wrong_row():
    a = pd.DataFrame({"k": [3, 1, 2], "v": [0.5, 1.25, 2.0], "s": ["x", "y", "z"]})
    b = a.sample(frac=1.0, random_state=1).reset_index(drop=True)
    b["v"] = b["v"] + 1e-9
    assert checks.frames_equal(a, b, ["k"]) is None
    c = b.copy()
    c.loc[0, "v"] += 0.01
    assert checks.frames_equal(a, c, ["k"]) is not None
    assert checks.frames_equal(a, b.iloc[1:], ["k"]) is not None
    d = b.copy()
    d.loc[1, "s"] = "w"
    assert checks.frames_equal(a, d, ["k"]) is not None


def test_summary_diff_catches_a_planted_wrong_row():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, None], "s": ["x", "y", "z"]})
    ref = checks.summarize(want, ["k", "v"])
    assert ref == {"rows": 3.0, "k": 6.0, "v": 1.75}
    assert checks.summary_diff({"rows": 3.0, "k": 6.0, "v": 1.75 + 1e-9}, ref) is None
    assert checks.summary_diff({"rows": 2.0, "k": 6.0, "v": 1.75}, ref) is not None
    assert checks.summary_diff({"rows": 3.0, "k": 6.0, "v": 1.76}, ref) is not None
    assert checks.summary_diff({"rows": 3.0, "k": 6.0}, ref) is not None
    assert checks.summary_diff(ref, checks.summarize(want, ["k", "missing"])) is not None


# --------------------------------------------------------------- metrics
def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_are_valid():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_workloads_match_the_spec():
    import workloads

    assert set(workloads.WORKLOADS) == {w["name"] for w in _spec()["workloads"]}


def test_percentile_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(100)]
    value, pct, beyond = probe.percentile_tail(xs)
    assert beyond == 10 and value == 89.0 and pct == 90.0
    assert probe.percentile_tail([1.0, 2.0, 3.0])[1] == 50.0


def test_metric_seconds_parses_spark_metric_strings():
    assert probe._metric_seconds("394 ms") == pytest.approx(0.394)
    assert probe._metric_seconds("total (min, med, max (stageId: taskId))\n1.2 s (1 ms, 2 ms, 3 ms)") \
        == pytest.approx(1.2)
    assert probe._metric_seconds("") == 0.0


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    command fails fast and prints no result."""
    import shutil
    import subprocess
    import sys

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.dirname(os.path.abspath(__file__)), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_drain", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
