"""r11 (verdict #5): the 6,700-line plans/registry.py became a package of
registration-order slices. These tests pin what the split must preserve:
the FULL insertion order (frozen snapshot — the driver window reads the
head, QUERIES.md the tail; regenerated shim-less at each window pin
and at each post-pin query add,
255 names at the r12 pin: the R12 reorder + the r11 Avro adds + the
r12 s12/s13 tail), the per-module size bound the verdict set (~1,500
lines), and the dynamic re-export of the one module global that rebinds
at run time. 260 names since the late-r12 sketch-family + v27 adds (events/streaming/ann
slice, mid-dict — snapshot regenerated at add time, the s12/s13
mechanism)."""

from __future__ import annotations

import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "multiagent_document_etl_system_spark" / "plans" / "registry"


def test_full_registration_order_matches_presplit_snapshot():
    from multiagent_document_etl_system_spark.plans.registry import (
        _QUEUED_FOR_R12,
        QUERIES,
    )
    from multiagent_document_etl_system_spark.plans.registry.windows import (
        _QUEUED_FOR_R13,
    )

    snap = json.loads(
        (Path(__file__).parent / "registry_order_snapshot.json").read_text())
    got = list(QUERIES)
    # queries added AFTER the snapshot (frozen-window discipline: they
    # queue for the next window and append at the dict tail) and the
    # env-gated tws query (registers only when protobuf is importable —
    # it is under the conftest shim; the snapshot was taken shim-less)
    # are excluded; everything the snapshot knows must match it EXACTLY,
    # in order.
    post_snapshot = (set(_QUEUED_FOR_R12) | set(_QUEUED_FOR_R13)
                     | {"st_user_profile_tws"}) - set(snap)
    got = [n for n in got if n not in post_snapshot]
    snap = [n for n in snap if n != "st_user_profile_tws"]
    assert got == snap
    # and the post-snapshot adds sit at the TAIL, never inside the head —
    # except names the CURRENT window pins (the env-gated tws is a pinned
    # r12 head slot wherever it registers at all)
    from multiagent_document_etl_system_spark.plans.registry import (
        _DRIVER_WINDOW_R12,
    )

    floating = post_snapshot - set(_DRIVER_WINDOW_R12)
    tail = list(QUERIES)[-len(floating):] if floating else []
    assert set(tail) == floating


def test_no_registry_module_exceeds_the_size_bound():
    sizes = {p.name: len(p.read_text().splitlines())
             for p in PKG.glob("*.py")}
    over = {name: n for name, n in sizes.items() if n > 1500}
    assert not over, over


def test_last_ingest_workdir_proxies_dynamically():
    """registry._LAST_INGEST_WORKDIR is rebound (global) inside the
    reports slice when td_incremental_ingest runs; the package __getattr__
    must read through to the live value, not an import-time copy."""
    from multiagent_document_etl_system_spark.plans import registry
    from multiagent_document_etl_system_spark.plans.registry import reports

    sentinel = object()
    prior = reports._LAST_INGEST_WORKDIR
    try:
        reports._LAST_INGEST_WORKDIR = sentinel
        assert registry._LAST_INGEST_WORKDIR is sentinel
    finally:
        reports._LAST_INGEST_WORKDIR = prior


def test_package_reexports_the_external_surface():
    from multiagent_document_etl_system_spark.plans import registry

    for name in ("QUERIES", "NO_ORACLE_REASONS", "ENV_GATED_REASONS",
                 "_DRIVER_WINDOW_R11", "_QUEUED_FOR_R12",
                 "_namespace_registry_dir", "curation_flags"):
        assert hasattr(registry, name), name


def test_every_public_helper_is_referenced():
    """No dead public helpers: every undecorated, non-underscore top-level
    ``def``/``class`` in the package must be named somewhere besides its
    own definition — in the package, the tests, the tools, perfbench,
    ``bench.py`` or ``__spark_entry__.py``. Words are counted over the
    raw text, so a name used only inside f-string SQL still counts.
    Decorated definitions (registry queries, UDFs) are reached through
    their decorator and are exempt."""
    import ast
    import re
    from collections import Counter

    pkg = REPO / "multiagent_document_etl_system_spark"
    sources = [*pkg.rglob("*.py"), *(REPO / "tests").rglob("*.py"),
               *(REPO / "tools").rglob("*.py"),
               *(REPO / "perfbench").rglob("*.py"),
               REPO / "bench.py", REPO / "__spark_entry__.py"]
    words = Counter()
    for path in sources:
        words.update(re.findall(r"\w+", path.read_text()))
    unreferenced = sorted(
        f"{path.relative_to(REPO)}:{node.name}"
        for path in pkg.rglob("*.py")
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef))
        and not node.decorator_list and not node.name.startswith("_")
        and words[node.name] == 1)
    assert not unreferenced, unreferenced
