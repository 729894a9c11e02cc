"""Output checkers. Each returns the number of failed operations and a
few human-readable mismatch lines; none of them needs Spark, so the
tests can feed them planted wrong rows.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd

PASSING = ("modeledPatternEquals", "minorModelPatternConflict", "majorModelPatternConflict")


def expected_serve_row(planted: float | None, n_candidates: int, updated: float,
                       domain_trained: bool) -> tuple[float, str, float]:
    """(model_price, status, final_price) for one page, from the
    reference truth table (`streaming/Htmls2Cassandra.scala:183-227`,
    `utils/Utils.scala:408-432`) written out independently of the
    engine's column expressions."""
    if not domain_trained:
        model = -2.0 if n_candidates else -1.0
    else:
        model = planted if planted is not None else -1.0
    failed_model = model in (-1.0, -2.0)
    failed_pattern = math.isnan(updated) or -1.0 < updated < 1.0
    if not failed_model and not failed_pattern:
        if abs(model - updated) < 0.009:
            status = "modeledPatternEquals"
        elif abs(updated - model) / max(updated, model) <= 0.1:
            status = "minorModelPatternConflict"
        else:
            status = "majorModelPatternConflict"
    elif failed_model and failed_pattern:
        status = "bothFailed"
    elif failed_pattern:
        status = "patternFailed"
    elif model == -2.0:
        status = "missingModel"
    else:
        status = "allFalseCandids"
    if status in ("modeledPatternEquals", "minorModelPatternConflict", "patternFailed"):
        final = model
    elif status == "bothFailed":
        final = 0.0
    else:
        final = updated
    return model, status, final


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def check_serve(expected: dict[str, tuple[float, str, float, float]],
                corrupt_payloads: list[str], sinks: dict[str, pd.DataFrame]) -> tuple[int, list[str]]:
    """``expected``: url → (model_price, status, final_price,
    pattern_price). ``sinks``: historical / realtime / logs /
    logs_corrupt frames. One failed op per wrong url and per missing or
    extra corrupt payload."""
    bad: set[str] = set()
    notes: list[str] = []
    hist = sinks["historical"]
    counts = Counter(hist["url"])
    for url, want in expected.items():
        if counts.get(url, 0) != 1:
            bad.add(url)
            notes.append(f"historical has {counts.get(url, 0)} rows for {url}")
    bad |= {u for u in counts if u not in expected}
    for row in hist.itertuples(index=False):
        want = expected.get(row.url)
        if want is None:
            continue
        got = (row.model_price, row.status, row.final_price, row.pattern_price)
        if not (_close(got[0], want[0]) and got[1] == want[1]
                and _close(got[2], want[2]) and _close(got[3], want[3])):
            bad.add(row.url)
            if len(notes) < 5:
                notes.append(f"{row.url}: got {got}, want {want}")
    # historical = realtime ⊎ logs, routed by status
    cols = ["url", "domain", "model_price", "pattern_price", "status", "final_price"]
    key = lambda df: Counter(map(tuple, df[cols].astype(str).itertuples(index=False)))  # noqa: E731
    routed = key(sinks["realtime"]) + key(sinks["logs"])
    diff = (routed - key(hist)) + (key(hist) - routed)
    bad |= {k[0] for k in diff}
    if diff:
        notes.append(f"realtime+logs differ from historical on {len(diff)} rows")
    wrong_route = set(sinks["realtime"].loc[~sinks["realtime"]["status"].isin(PASSING), "url"])
    wrong_route |= set(sinks["logs"].loc[sinks["logs"]["status"].isin(PASSING), "url"])
    bad |= wrong_route
    if wrong_route:
        notes.append(f"{len(wrong_route)} rows routed to the wrong sink")
    got_c = Counter(sinks["logs_corrupt"]["raw_payload"])
    want_c = Counter(corrupt_payloads)
    corrupt_bad = sum(((got_c - want_c) + (want_c - got_c)).values())
    if corrupt_bad:
        notes.append(f"{corrupt_bad} corrupt payloads missing or altered in logs_corrupt")
    return len(bad) + corrupt_bad, notes


def check_registry(rows: list[dict], trained: tuple[str, ...],
                   expected_counts: dict[str, tuple[int, int]]) -> tuple[int, list[str]]:
    """One op per domain: every trainable domain has a registry row
    with train_f1 == 1.0 and the planted (candidates, positives)
    counts; no other domain has a row."""
    notes = []
    by_dom = {r["domain"]: r for r in rows}
    failed = 0
    for dom in sorted(set(trained) | set(by_dom)):
        r = by_dom.get(dom)
        if dom not in trained:
            failed += 1
            notes.append(f"{dom} was trained but should be skipped")
        elif r is None:
            failed += 1
            notes.append(f"{dom} was skipped but should be trained")
        elif r["train_f1"] != 1.0 or (r["n_rows"], r["n_pos"]) != expected_counts[dom]:
            failed += 1
            notes.append(f"{dom}: f1={r['train_f1']} rows/pos={(r['n_rows'], r['n_pos'])}"
                         f" want {expected_counts[dom]}")
    return failed, notes


def summarize(frame: pd.DataFrame, cols: list[str]) -> dict[str, float]:
    """Row count and the sum of each of ``cols`` (nulls skipped): the
    cheap fingerprint a timed pass is checked against."""
    out = {"rows": float(len(frame))}
    out.update({c: float(frame[c].sum()) if c in frame.columns else math.nan for c in cols})
    return out


def summary_diff(got: dict[str, float], want: dict[str, float]) -> str | None:
    """The first entry where two summaries differ beyond float
    summation-order noise, or None."""
    for k in sorted(want):
        g = got.get(k)
        if g is None or not math.isclose(float(g), want[k], rel_tol=1e-6, abs_tol=1e-3):
            return f"{k}: {g!r} != {want[k]!r}"
    return None


def frames_equal(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> str | None:
    """Equality up to row order (rows are aligned on the unique
    ``keys``) with a float tolerance; returns a description of the
    first difference, or None."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    g = got.sort_values(keys, kind="stable").reset_index(drop=True)
    w = want.sort_values(keys, kind="stable").reset_index(drop=True)
    for c in sorted(got.columns):
        a, b = g[c], w[c]
        if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
            ok = np.isclose(a.astype(float), b.astype(float), rtol=1e-9, atol=2e-6, equal_nan=True)
        else:
            ok = a.astype(str).to_numpy() == b.astype(str).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {c} row {i}: {a[i]!r} != {b[i]!r}"
    return None
