"""Registry head invariants.

The external driver checks the FIRST 50 registry entries. The head is
frozen as ``windows._DRIVER_HEAD``: 50 slots plus one spare pad
(td_shard_manifest) that enters the first 50 only when the env-gated
st_user_profile_tws does not register (no protobuf importable).
"""

from __future__ import annotations

from multiagent_document_etl_system_spark.plans.registry import (
    _DRIVER_HEAD,
    QUERIES,
)


def test_window_is_exactly_the_head():
    head = [n for n in _DRIVER_HEAD if n in QUERIES]
    assert list(QUERIES)[: len(head)] == head


def test_window_is_50_slots_plus_one_spare():
    """50 driver slots + the explicit spare pad that covers the
    env-gated slide (51 pinned names, all unique)."""
    assert len(_DRIVER_HEAD) == 51
    assert len(set(_DRIVER_HEAD)) == 51
    assert _DRIVER_HEAD[-1] == "td_shard_manifest"


def test_every_window_slot_is_oracled():
    """Every head slot buys a full hash row. The env-gated tws may be
    absent in a bare env — skip it there (its oracle is proven under
    check_oracle --shim)."""
    for n in _DRIVER_HEAD:
        if n not in QUERIES:
            assert n == "st_user_profile_tws", n
            continue
        assert QUERIES[n][1], n
