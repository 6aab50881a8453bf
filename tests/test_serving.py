"""Serving-layer tests: the automated version of the reference's four
sequence-flow scenarios (sequence-flows.mmd:16-53) and its manual
verification script (README.md:119-154).
"""

from __future__ import annotations

import json
import threading

import pytest
from hypothesis import example, given, settings, strategies as st

from cdc_cascade_spark.serving import CdcTableService, NotFound
from cdc_cascade_spark.streaming.sinks import InMemoryKVStore


def _seeded(spark, cache=None) -> CdcTableService:
    s = CdcTableService(spark, cache or InMemoryKVStore())
    # seed rows (init.sql:26-29)
    s.create({"code": 14, "name": "Deren", "class": "S",
              "libram": "Fraud", "tendency": "Fury"})
    s.create({"code": 17, "name": "Shalom", "class": "S",
              "libram": "Sloth", "tendency": "Reticle"})
    return s


@pytest.fixture()
def svc(spark):
    return _seeded(spark)


def test_scenario_1_2_cache_miss_then_hit(svc):
    # Scenario 1: miss → DB → write-back
    assert svc.cache.get("14") is None
    row = svc.read_one(14)
    assert row["name"] == "Deren"
    assert svc.cache.get("14") is not None
    # Scenario 2: hit served from cache (mutate cache to prove it)
    svc.cache.set("14", '{"name": "FROM-CACHE"}')
    assert svc.read_one(14)["name"] == "FROM-CACHE"


def test_scenario_3_cdc_invalidation(svc):
    svc.read_one(14)
    assert svc.cache.get("14") is not None
    svc.update(14, {"name": "Updated"})
    # write path never touches the cache (controllers.go:75-98)
    assert svc.cache.get("14") is not None
    # ...until the CDC consumer runs (queue/cdc.go:188-191)
    svc.run_invalidation_cycle()
    assert svc.cache.get("14") is None


def test_scenario_4_rebuild_after_invalidation(svc):
    svc.read_one(14)
    svc.update(14, {"name": "Aurelius"})
    svc.run_invalidation_cycle()
    # next read repopulates from the compacted state
    assert svc.read_one(14)["name"] == "Aurelius"
    assert svc.cache.get("14") is not None


def test_create_read_update_delete_roundtrip(svc):
    svc.create({"code": 5, "name": "Augustus", "class": "S",
                "libram": "War", "tendency": "Reticle"})
    assert svc.read_one(5)["name"] == "Augustus"
    svc.update(5, {"tendency": "Calm"})
    svc.run_invalidation_cycle()
    assert svc.read_one(5)["tendency"] == "Calm"
    deleted = svc.delete(5)
    assert deleted["name"] == "Augustus"
    svc.run_invalidation_cycle()
    with pytest.raises(NotFound):
        svc.read_one(5)
    # full scan reflects the delete
    assert {r["code"] for r in svc.read_all()} == {14, 17}


def test_validation_errors(svc):
    with pytest.raises(ValueError):
        svc.read_one("not-an-int")  # B6 → 400 analog
    with pytest.raises(NotFound):
        svc.read_one(999)  # 404 analog
    with pytest.raises(ValueError):
        svc.create({"code": 14, "name": "Dup", "class": "S"})


def test_updated_at_bumped_on_update(svc):
    before = svc.read_one(14)
    svc.update(14, {"name": "X"})
    svc.run_invalidation_cycle()
    after = svc.read_one(14)
    assert after["updated_at"] >= before["updated_at"]
    assert after["created_at"] == before["created_at"]


def test_point_reads_do_not_recompact_changelog(svc, monkeypatch):
    """VERDICT r1 #4: read_one/_current_row hit the maintained view —
    poisoning the full scan and the changelog must not break point reads."""
    svc.create({"code": 99, "name": "Vi", "class": "A"})

    def boom():
        raise AssertionError("point read scanned the table or the changelog")

    monkeypatch.setattr(svc, "read_all", boom)
    monkeypatch.setattr(svc, "changelog", boom)
    assert svc.read_one(99)["name"] == "Vi"          # cache miss -> view
    svc.update(99, {"name": "Vi2"})                  # RMW -> view
    svc.delete(99)                                   # delete RMW -> view
    with pytest.raises(NotFound):
        svc.read_one(98)


# A CRUD step: (op, code, name). Few codes, so updates and deletes hit
# live keys and creates collide with them.
_crud = st.lists(
    st.tuples(st.sampled_from("cud"), st.sampled_from([1, 2, 3, 14]),
              st.sampled_from(["a", "b"])),
    max_size=10,
)


@settings(max_examples=6, deadline=None)
@example(ops=[("c", 1, "a"), ("c", 2, "b"), ("u", 1, "a2"), ("d", 2, ""),
              ("c", 3, "c")])
@given(ops=_crud)
def test_view_matches_compacted_changelog(spark, replayed_rows, ops):
    """``read_all`` (the per-append view) must equal batch latest-wins
    compaction of the full changelog (the view's consistency oracle),
    and both must equal a dict model of the acknowledged writes."""
    svc = _seeded(spark)
    model = {14: "Deren", 17: "Shalom"}
    for op, code, name in ops:
        try:
            if op == "c":
                svc.create({"code": code, "name": name, "class": "A"})
            elif op == "u":
                svc.update(code, {"name": name})
            else:
                svc.delete(code)
        except (NotFound, ValueError):
            continue  # rejected write: no envelope, model unchanged
        if op == "d":
            del model[code]
        else:
            model[code] = name

    rows = svc.read_all()
    assert rows == replayed_rows(svc)
    assert {r["code"]: r["name"] for r in rows} == model


def test_cycle_dels_envelopes_appended_during_its_dels(spark):
    """An envelope appended while a cycle runs its DELs belongs to the
    next cycle: marking it consumed would leave its key cached forever
    (TTL 0)."""

    class WriteDuringDel(InMemoryKVStore):
        fired = False

        def delete(self, key: str) -> None:
            super().delete(key)
            if not self.fired:
                self.fired = True
                svc.update(17, {"name": "during-cycle"})

    svc = _seeded(spark, WriteDuringDel())
    svc.run_invalidation_cycle()  # consume the seed creates (no DELs)
    svc.read_one(17)  # cache 17
    svc.update(14, {"name": "X"})
    assert svc.run_invalidation_cycle() == 1  # DEL 14 → update(17) appended
    assert svc.run_invalidation_cycle() == 1
    assert svc.cache.deletes == ["14", "17"]
    assert svc.read_one(17)["name"] == "during-cycle"


def test_cycle_drops_the_envelopes_it_consumed(svc):
    """The log keeps only envelopes no cycle has consumed yet."""
    svc.run_invalidation_cycle()
    assert svc.changelog().count() == 0
    svc.update(14, {"name": "X"})
    (value,) = [r.value for r in svc.changelog().collect()]
    assert json.loads(value)["payload"]["op"] == "u"


def test_cycle_whose_dels_raise_keeps_its_envelopes(spark):
    """At-least-once: a cycle that fails in its DELs consumes nothing,
    and the next cycle DELs the key."""

    class FailOnce(InMemoryKVStore):
        failed = False

        def delete(self, key: str) -> None:
            if not self.failed:
                self.failed = True
                raise ConnectionError("kv down")
            super().delete(key)

    svc = _seeded(spark, FailOnce())
    svc.read_one(14)  # cache 14
    svc.update(14, {"name": "X"})
    with pytest.raises(ConnectionError):
        svc.run_invalidation_cycle()
    assert svc.changelog().count() == 3
    assert svc.run_invalidation_cycle() == 3
    assert svc.cache.deletes == ["14"]
    assert svc.read_one(14)["name"] == "X"


def test_fill_cannot_land_after_a_newer_writes_del(spark):
    """Race 2, with no lock outside the service: while a reader fills the
    cache after a miss, an update and a cycle try to run. The update
    must wait for the fill, so its cycle DELs the filled row; a fill
    landing after the DEL would stay cached forever (TTL 0)."""
    writers: list[threading.Thread] = []

    class UpdateDuringFill(InMemoryKVStore):
        def set(self, key: str, value: str) -> None:
            if not writers:
                t = threading.Thread(target=svc.update, args=(14, {"name": "new"}),
                                     daemon=True)
                writers.append(t)
                t.start()
                t.join(1.0)
                if not t.is_alive():
                    svc.run_invalidation_cycle()
            super().set(key, value)

    svc = _seeded(spark, UpdateDuringFill())
    assert svc.read_one(14)["name"] == "Deren"
    writers[0].join(10.0)
    assert not writers[0].is_alive()
    svc.run_invalidation_cycle()
    assert svc.read_one(14)["name"] == "new"
