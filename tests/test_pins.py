"""pins.cached / pins.clear: one live artifact per slot, rebuilt when the
(session, sf_dir) key changes, and dropped by clear unless kept."""

from __future__ import annotations

from ds_jedai_spark import pins


def test_cached_keeps_one_live_entry_per_slot(spark):
    pins.clear()
    builds = []

    def build(tag):
        def go():
            builds.append(tag)
            return object()
        return go

    a = pins.cached(spark, "t:a", "dir1", build("a1"))
    assert pins.cached(spark, "t:a", "dir1", build("a1'")) is a
    b = pins.cached(spark, "t:b", "dir1", build("b1"))
    # a new sf_dir replaces the slot's entry; the other slot is untouched
    a2 = pins.cached(spark, "t:a", "dir2", build("a2"))
    assert a2 is not a
    assert pins.cached(spark, "t:a", "dir1", build("a1''")) is not a
    assert pins.cached(spark, "t:b", "dir1", build("b1'")) is b
    assert builds == ["a1", "b1", "a2", "a1''"]

    pins.clear(keep=("t:b",))
    assert pins.cached(spark, "t:b", "dir1", build("b1''")) is b
    assert pins.cached(spark, "t:a", "dir1", build("a3")) is not a
    pins.clear()
    assert pins.cached(spark, "t:b", "dir1", build("b2")) is not b
    assert builds[-2:] == ["a3", "b2"]
    pins.clear()
