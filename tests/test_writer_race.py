"""TRUE multi-process writer race on the merge table: two live OS
processes (each its own SparkSession/JVM) concurrently stage + commit
merges against ONE table. The in-process crash matrix
(test_drop_widen.py) walks residue states; this walks the live race
the OCC commit path (`operators/incremental.py::commit`,
`_acquire_lock`) exists to arbitrate:

- exactly one writer wins each version (no double-granted lock —
  the version set the two writers report is a disjoint partition of
  the contiguous history),
- the loser's retry (re-stage on the new base) converges, so no
  merge is ever lost: a shared counter key every merge increments
  via ``combine={"n": "sum"}`` must end at the total merge count —
  one lost update and the sum comes up short,
- concurrent readers never see a torn manifest: the parent polls the
  manifest file throughout and requires valid JSON with a
  monotonically non-decreasing version.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WRITER = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from htmlentityextraction_spark.operators.incremental import (
    ConcurrentWriteError,
    ParquetMergeTable,
)

path, wid, wkey, n = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
spark = (
    SparkSession.builder.master("local[2]")
    .appName(f"race-writer-{{wid}}")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
tbl = ParquetMergeTable(spark, path, "k", num_buckets=4)
won = []
for i in range(n):
    upd = spark.createDataFrame(
        [(0, 1, f"{{wid}}-{{i}}", "upsert"), (wkey, 1, f"{{wid}}-{{i}}", "upsert")],
        "k long, n long, tag string, op string",
    )
    while True:
        staged = tbl.staged_merge(upd, combine={{"n": "sum"}})
        try:
            tbl.commit(staged)
            won.append(staged["version"])
            break
        except ConcurrentWriteError:
            continue  # lost the race: re-stage on the new base
print("WON " + ",".join(map(str, won)))
spark.stop()
"""


def test_two_process_commit_race_no_lost_updates(spark, tmp_path):
    from htmlentityextraction_spark.operators.incremental import ParquetMergeTable

    path = str(tmp_path / "raced")
    tbl = ParquetMergeTable(spark, path, "k", num_buckets=4)
    tbl.create(
        spark.createDataFrame(
            [(k, 0, "seed") for k in range(4)], "k long, n long, tag string"
        )
    )

    n_each = 10
    script = _WRITER.format(repo=REPO)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, path, wid, wkey, str(n_each)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for wid, wkey in (("A", "1"), ("B", "2"))
    ]

    # concurrent reader: the manifest pointer must NEVER be torn —
    # always valid JSON, version never moving backwards. Every ~2 s a
    # VACUUM joins the race from this process (it takes the same
    # commit lock, so it contends with both writers — the path the r9
    # lock hardening changed most); writers must still converge and
    # no kept snapshot may lose files.
    manifest = os.path.join(path, "manifest.json")
    last_v = 1
    last_vacuum = time.monotonic()
    deadline = time.monotonic() + 600
    while any(p.poll() is None for p in procs):
        assert time.monotonic() < deadline, "race writers did not finish"
        with open(manifest) as f:
            m = json.load(f)  # torn write would fail to parse
        assert m["version"] >= last_v, "manifest version moved backwards"
        last_v = m["version"]
        if time.monotonic() - last_vacuum > 2.0:
            tbl.vacuum(keep_last=3)
            last_vacuum = time.monotonic()
        time.sleep(0.05)

    outs = []
    for p in procs:
        out, err = p.communicate()
        assert p.returncode == 0, f"writer failed:\n{err[-2000:]}"
        outs.append(out)
    won = [
        [int(v) for v in line.split(" ", 1)[1].split(",") if v]
        for out in outs
        for line in out.splitlines()
        if line.startswith("WON ")
    ]
    assert len(won) == 2

    # exactly one winner per version: the two writers' version sets
    # are disjoint and together form the contiguous history 2..21
    a, b = set(won[0]), set(won[1])
    assert len(won[0]) == len(won[1]) == n_each
    assert not (a & b), f"both writers claim version(s) {sorted(a & b)}"
    assert a | b == set(range(2, 2 + 2 * n_each))

    # no lost updates: every merge bumped shared key 0 once
    final = {r.k: (r.n, r.tag) for r in tbl.read().collect()}
    assert final[0][0] == 2 * n_each, "a raced commit lost an update"
    assert final[1][0] == n_each and final[1][1] == f"A-{n_each - 1}"
    assert final[2][0] == n_each and final[2][1] == f"B-{n_each - 1}"
    assert tbl._read_manifest()["version"] == 1 + 2 * n_each
    # the concurrent vacuums trimmed history to a suffix; whatever
    # remains must be contiguous, end at the final version, and verify
    hist = [h["version"] for h in tbl.history()]
    assert hist == list(range(hist[0], 2 + 2 * n_each))
    assert tbl.verify_integrity()["ok"]


_VACUUM_WRITER = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from htmlentityextraction_spark.operators import incremental
from htmlentityextraction_spark.operators.incremental import (
    ConcurrentWriteError,
    ParquetMergeTable,
)

path, wid, wkey, n, stale = (
    sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]), float(sys.argv[5])
)
spark = (
    SparkSession.builder.master("local[2]")
    .appName(f"vac-race-writer-{{wid}}")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
# _STALE_LOCK_SEC is the ADVERSARIAL knob: these writers will break any
# lock whose mtime goes stale past `stale` — the slow vacuum in the
# parent holds the lock several times longer than that, so its
# heartbeat is the only thing standing between it and a double grant.
incremental._STALE_LOCK_SEC = stale
incremental._LOCK_TIMEOUT_SEC = 300.0
tbl = ParquetMergeTable(spark, path, "k", num_buckets=4)
done = 0
for i in range(n):
    upd = spark.createDataFrame(
        [(0, 1, f"{{wid}}-{{i}}", "upsert"), (wkey, 1, f"{{wid}}-{{i}}", "upsert")],
        "k long, n long, tag string, op string",
    )
    while True:
        staged = tbl.staged_merge(upd, combine={{"n": "sum"}})
        try:
            tbl.commit(staged)
            done += 1
            break
        except ConcurrentWriteError:
            continue
print(f"DONE {{done}}")
spark.stop()
"""


def test_slow_vacuum_heartbeat_survives_writer_contention(spark, tmp_path, monkeypatch):
    """Adversarial liveness for the commit-lock heartbeat
    (`operators/incremental.py::_acquire_lock`): a deliberately SLOW
    vacuum holds the lock ~3x past ``_STALE_LOCK_SEC`` while two live
    writer processes — each primed to break any lock that goes stale —
    contend for it. The heartbeat refreshes the lock's mtime at
    stale/4, so:

    - NO stale-break occurs: for the whole hold window the lock file
      exists and carries THIS process's owner token (a break would
      replace it with a writer's token, or leave it absent after the
      breaker releases — either is visible to the 100 ms poll),
    - every raced merge still lands (the shared counter key cannot
      come up short),
    - a reader pinned to the pre-vacuum manifest version re-reads
      intact within the retention horizon (``min_age_sec`` exceeds
      the test's lifetime, so vacuum may drop MANIFESTS but never a
      data file this snapshot references),
    - reference counting, not age, protects the CURRENT snapshot: a
      final ``vacuum(keep_last=1, min_age_sec=0)`` — zero horizon —
      must leave the live table readable.
    """
    import threading

    from htmlentityextraction_spark.operators import incremental as inc

    path = str(tmp_path / "vacraced")
    # 4 s staleness → 1 s heartbeat: wide enough that transient
    # scheduler stalls under a loaded pytest run can't cause a
    # LEGITIMATE break and flake the test
    STALE = 4.0
    monkeypatch.setattr(inc, "_STALE_LOCK_SEC", STALE)
    monkeypatch.setattr(inc, "_LOCK_TIMEOUT_SEC", 300.0)
    tbl = inc.ParquetMergeTable(spark, path, "k", num_buckets=4)
    tbl.create(
        spark.createDataFrame(
            [(k, 0, "seed") for k in range(4)], "k long, n long, tag string"
        )
    )

    n_each = 6
    script = _VACUUM_WRITER.format(repo=REPO)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, path, wid, wkey, str(n_each), str(STALE)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for wid, wkey in (("A", "1"), ("B", "2"))
    ]
    manifest = os.path.join(path, "manifest.json")

    try:
        # wait until both writers are actively committing (the JVMs
        # take a while to come up) so the slow vacuum truly contends
        deadline = time.monotonic() + 300
        while True:
            assert time.monotonic() < deadline, "writers never started committing"
            with open(manifest) as f:
                if json.load(f)["version"] >= 3:
                    break
            time.sleep(0.1)

        # pin a reader to the pre-vacuum snapshot (resolves its file
        # list now); the retention horizon must keep it readable
        v_pre = tbl._read_manifest()["version"]
        pinned = tbl.read(version=v_pre)
        pinned_count = pinned.count()

        # instrument the parent's table: vacuum's FIRST manifest read
        # happens right after it acquires the lock — sleeping there
        # holds the lock ~3x past _STALE_LOCK_SEC with only the
        # heartbeat keeping it alive
        hold_sec = 3 * STALE
        hold_started = threading.Event()
        armed = [True]
        orig_read = tbl._read_manifest

        def slow_read():
            m = orig_read()
            if armed[0] and not hold_started.is_set():
                hold_started.set()
                time.sleep(hold_sec)
            return m

        tbl._read_manifest = slow_read
        vac_result: list = []

        def run_vacuum():
            try:
                vac_result.append(tbl.vacuum(keep_last=4, min_age_sec=3600.0))
            except BaseException as e:  # surfaced in the main thread
                vac_result.append(e)

        vt = threading.Thread(target=run_vacuum)
        vt.start()
        assert hold_started.wait(timeout=120), "vacuum never acquired the lock"
        armed[0] = False

        # the hold window: the lock must stay OURS the whole time
        lock = os.path.join(path, "_commit.lock")
        me = f"{os.getpid()}-"
        t_end = time.monotonic() + hold_sec - 1.0
        polls = 0
        while time.monotonic() < t_end:
            assert os.path.exists(lock), "lock vanished mid-hold: stale-break"
            with open(lock) as f:
                token = f.read()
            # transient empty read = we raced the owner's own write;
            # a WRITER's token (different pid) = double grant
            assert token == "" or token.startswith(me), (
                f"lock broken and re-granted to {token[:40]!r} during hold"
            )
            polls += 1
            time.sleep(0.1)
        assert polls >= 20  # the window was actually observed

        vt.join(timeout=300)
        assert not vt.is_alive(), "vacuum wedged"
        assert vac_result and not isinstance(vac_result[0], BaseException), (
            f"vacuum failed: {vac_result and vac_result[0]!r}"
        )
    finally:
        for p in procs:
            if p.poll() is None:
                try:
                    out, err = p.communicate(timeout=300)
                except subprocess.TimeoutExpired:
                    p.kill()
                    raise

    for p in procs:
        out, err = p.communicate()
        assert p.returncode == 0, f"writer failed:\n{err[-2000:]}"
        assert f"DONE {n_each}" in out

    # no lost updates through the contention: the shared counter key
    # saw every one of the 2 * n_each merges exactly once
    final = {r.k: r.n for r in tbl.read().collect()}
    assert final[0] == 2 * n_each, "a merge was lost during the slow vacuum"
    assert final[1] == n_each and final[2] == n_each
    assert tbl._read_manifest()["version"] == 1 + 2 * n_each

    # the pinned pre-vacuum reader is still whole within the horizon
    assert pinned.count() == pinned_count

    # zero-horizon vacuum: ONLY reference counting protects the
    # current snapshot — and it must be enough
    tbl.vacuum(keep_last=1, min_age_sec=0.0)
    assert {r.k: r.n for r in tbl.read().collect()}[0] == 2 * n_each
    assert tbl.verify_integrity()["ok"]
