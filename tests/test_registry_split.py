"""The registry is a package of registration-order slices. These tests
pin what the split must preserve: the full insertion order (the frozen
260-name snapshot — the driver reads the head, QUERIES.md the rest), the
per-module size bound (~1,500 lines), and the re-exported surface."""

from __future__ import annotations

import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "multiagent_document_etl_system_spark" / "plans" / "registry"


def test_full_registration_order_matches_presplit_snapshot():
    from multiagent_document_etl_system_spark.plans.registry import QUERIES

    snap = json.loads(
        (Path(__file__).parent / "registry_order_snapshot.json").read_text())
    # the snapshot was taken shim-less; the env-gated tws query registers
    # only when protobuf is importable (it is under the conftest shim)
    assert [n for n in QUERIES if n != "st_user_profile_tws"] == snap


def test_no_registry_module_exceeds_the_size_bound():
    sizes = {p.name: len(p.read_text().splitlines())
             for p in PKG.glob("*.py")}
    over = {name: n for name, n in sizes.items() if n > 1500}
    assert not over, over


def test_package_reexports_the_external_surface():
    from multiagent_document_etl_system_spark.plans import registry

    for name in ("QUERIES", "NO_ORACLE_REASONS", "ENV_GATED_REASONS",
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
