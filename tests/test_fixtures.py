"""Unit tests for the shared fixture machinery (no Spark session).

The build-once election guards every derived fixture (CSV/JSON/ORC
copies, Derby, rollup/zone-map/sketch tables); these tests pin its
contract: exactly-once builds, marker short-circuit, stale-lock
healing, and generation-fingerprinted scratch keys.
"""

from __future__ import annotations

import os

import pytest

from crime_data_batch_processing_spark import fixtures


def test_build_once_runs_exactly_once(tmp_path):
    base = str(tmp_path / "fx")
    calls = []
    fixtures.build_once(base, lambda: calls.append(1))
    fixtures.build_once(base, lambda: calls.append(1))
    assert calls == [1]
    assert os.path.exists(f"{base}/_BUILD_OK")


def test_build_once_does_not_mark_failed_build(tmp_path):
    base = str(tmp_path / "fx")

    def boom():
        raise RuntimeError("builder died")

    with pytest.raises(RuntimeError):
        fixtures.build_once(base, boom)
    # no completion marker, no leftover lock — the next call rebuilds
    assert not os.path.exists(f"{base}/_BUILD_OK")
    assert not os.path.exists(f"{base}/_BUILD_LOCK")
    calls = []
    fixtures.build_once(base, lambda: calls.append(1))
    assert calls == [1]


def test_build_once_breaks_stale_lock(tmp_path, monkeypatch):
    base = str(tmp_path / "fx")
    os.makedirs(base)
    lock = f"{base}/_BUILD_LOCK"
    open(lock, "w").close()
    # age the lock past the staleness threshold
    old = os.stat(lock).st_mtime - (fixtures.STALE_LOCK_S + 60)
    os.utime(lock, (old, old))
    calls = []
    fixtures.build_once(base, lambda: calls.append(1))
    assert calls == [1], "stale lock must be broken, not waited on forever"
    assert os.path.exists(f"{base}/_BUILD_OK")


def test_break_if_still_stale_spares_refreshed_lock(tmp_path):
    lock = str(tmp_path / "_BUILD_LOCK")
    open(lock, "w").close()
    observed = os.stat(lock)
    # heartbeat arrives between the waiter's stat and its unlink
    os.utime(lock, ns=(observed.st_atime_ns, observed.st_mtime_ns + 1))
    fixtures._break_if_still_stale(lock, observed)
    assert os.path.exists(lock), "refreshed lock must not be broken"
    # unchanged (ino, mtime) → genuinely dead → broken
    fixtures._break_if_still_stale(lock, os.stat(lock))
    assert not os.path.exists(lock)


def test_builder_heartbeats_lock_during_build(tmp_path, monkeypatch):
    monkeypatch.setattr(fixtures, "STALE_LOCK_S", 0.2)
    base = str(tmp_path / "fx")
    lock = f"{base}/_BUILD_LOCK"
    seen = []

    def slow_build():
        first = os.stat(lock).st_mtime_ns
        import time

        time.sleep(0.3)
        seen.append(os.stat(lock).st_mtime_ns > first)

    fixtures.build_once(base, slow_build)
    assert seen == [True], "winner must refresh the lock mtime while building"


def test_waiter_does_not_break_heartbeated_live_lock(tmp_path, monkeypatch):
    """The ADVICE race: a build longer than STALE_LOCK_S must NOT get
    its lock broken (and a second builder elected) while the winner is
    alive and heartbeating."""
    import threading
    import time

    monkeypatch.setattr(fixtures, "STALE_LOCK_S", 0.2)
    base = str(tmp_path / "fx")
    calls = []

    def long_build():
        calls.append("winner")
        time.sleep(1.0)  # >> STALE_LOCK_S

    winner = threading.Thread(target=fixtures.build_once, args=(base, long_build))
    winner.start()
    # wait until the winner actually HOLDS the lock (a fixed sleep is
    # scheduler-dependent and flakes on loaded machines)
    deadline = time.monotonic() + 5
    while not os.path.exists(f"{base}/_BUILD_LOCK"):
        assert time.monotonic() < deadline, "winner never took the lock"
        time.sleep(0.01)
    fixtures.build_once(base, lambda: calls.append("usurper"))
    winner.join()
    assert calls == ["winner"], calls


def test_winner_spares_successor_lock(tmp_path):
    """Resumed-zombie scenario: while the winner builds, its lock is
    broken and a successor re-creates one. The winner's cleanup must
    leave the successor's LIVE lock alone (ino-guarded unlink)."""
    base = str(tmp_path / "fx")
    lock = f"{base}/_BUILD_LOCK"

    def build_and_get_usurped():
        os.unlink(lock)          # waiter judged us stale and broke it
        open(lock, "w").close()  # successor builder elected

    fixtures.build_once(base, build_and_get_usurped)
    assert os.path.exists(lock), "successor's lock must survive winner cleanup"
    os.unlink(lock)


def test_scratch_dir_keys_on_generation(tmp_path):
    sf = tmp_path / "sfX"
    sf.mkdir()
    f = sf / "orders.parquet"
    f.write_bytes(b"generation-one")
    k1 = fixtures.scratch_dir("t", str(sf), "orders")
    # same path, same content → same key
    assert fixtures.scratch_dir("t", str(sf), "orders") == k1
    # regenerated file (different size) → different key
    f.write_bytes(b"generation-two-larger")
    k2 = fixtures.scratch_dir("t", str(sf), "orders")
    assert k2 != k1


def test_probe_ts_unit_handles_missing_dir(tmp_path):
    from crime_data_batch_processing_spark.streaming.stream_events import (
        _probe_ts_unit,
    )

    assert _probe_ts_unit(str(tmp_path / "does-not-exist")) == "ns"
    empty = tmp_path / "empty"
    empty.mkdir()
    assert _probe_ts_unit(str(empty)) == "ns"


def test_soak_generator_matches_measured_distributions():
    """tools/gen_soak.py's documents generator must keep the
    distribution invariants measured from /root/testdata/sf0.1
    (BASELINE.md round-8 section) — the soak exponents are only
    comparable to driver-tier numbers while these hold. Pure-python,
    no Spark."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import gen_soak

    t = gen_soak.gen_documents(5000, seed=1042)
    texts = t["text"].to_pylist()
    langs = t["lang"].to_pylist()
    n = len(texts)
    assert n == 5000
    # ~5% near-dup copies (the ' dup' append marker)
    dups = sum(1 for x in texts if x.endswith(" dup") or " dup " in x)
    assert 0.035 * n <= dups <= 0.065 * n, dups
    # lang mix: en ~42%, others ~14.5% each
    en = sum(1 for g in langs if g == "en")
    assert 0.37 * n <= en <= 0.47 * n, en
    # uniform 10..100-word originals (copies add one)
    lens = [len(x.split()) for x in texts]
    assert min(lens) >= 10 and max(lens) <= 101
    assert 50 <= sum(lens) / n <= 60
    # vocabulary: the 30 generator words + the marker only
    vocab = set(w for x in texts[:500] for w in x.split())
    assert vocab <= set(gen_soak.VOCAB) | {"dup"}, vocab

    e = gen_soak.gen_embeddings(500, seed=1042)
    import numpy as np

    v = np.array(e["embedding"].to_pylist(), dtype=np.float64)
    assert v.shape == (500, gen_soak.DIM)
    norms = np.linalg.norm(v, axis=1)
    assert np.allclose(norms, 1.0, atol=1e-5)

    rel = gen_soak.gen_relational("s1", seed=1042)
    assert rel["lineitem"].num_rows == 600_000
    assert rel["orders"].num_rows == 150_000
    q = rel["lineitem"]["l_quantity"].to_numpy()
    assert q.min() >= 1 and q.max() <= 50 and np.all(q == np.round(q))
