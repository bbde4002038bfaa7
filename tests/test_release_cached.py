"""models.base.cached / release_cached under concurrency."""

import threading

from dbt_jaffleshop_spark.models import base


def test_release_during_build_leaves_no_entry_or_cached_frame(spark):
    """A release_cached() that runs while a cached() build is in flight
    must win: the late build neither lands in the memo nor stays
    cached, so nothing outlives the release."""
    started, go = threading.Event(), threading.Event()

    def builder(spark, sf_dir):
        started.set()
        assert go.wait(30)
        return spark.range(3)

    out = {}
    t = threading.Thread(
        target=lambda: out.setdefault(
            "df", base.cached("release_race_probe", builder, spark, "race")
        )
    )
    t.start()
    assert started.wait(30)
    base.release_cached(spark)
    go.set()
    t.join(30)

    assert not any(k[1] == "release_race_probe" for k in base._CACHE_MEMO)
    assert out["df"].is_cached is False
    assert out["df"].count() == 3  # the caller's frame still works


def test_concurrent_cached_and_release_stress(spark):
    """More threads than cores interleave cached() and release_cached()
    on shared keys: no call may fail (two releases must never pop the
    same entry twice), and after a final release no probe entry or
    cached frame remains."""
    import sys

    n_threads, rounds = 8, 15
    frames, errors = [], []

    def worker(i):
        try:
            for r in range(rounds):
                df = base.cached(
                    f"release_stress_{(i + r) % 3}",
                    lambda s, _d: s.range(1),
                    spark,
                    "stress",
                )
                frames.append(df)
                if r % 2 == i % 2:
                    base.release_cached(spark)
        except BaseException as exc:  # recorded for the main thread
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(i,)) for i in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    base.release_cached(spark)

    assert errors == []
    assert len(frames) == n_threads * rounds
    assert not any(k[1].startswith("release_stress_") for k in base._CACHE_MEMO)
    assert not any(df.is_cached for df in frames)
