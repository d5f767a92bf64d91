"""The product session (session.py): one module builds the CLIs'
sessions and owns their settings."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "claimskg_generator_spark"


def _is_builder(node) -> bool:
    if not (isinstance(node, ast.Attribute) and node.attr == "builder"):
        return False
    owner = node.value
    return (isinstance(owner, ast.Name) and owner.id == "SparkSession") or (
        isinstance(owner, ast.Attribute) and owner.attr == "SparkSession")


def test_only_the_session_module_builds_sessions():
    """Every SparkSession.builder in the package is in session.py, so the
    CLIs share one settings table and one restore-on-exit.  The one
    exception is the snapshot-table admin command's ``main``
    (sources/snapshot_table.py): it takes its master from
    SPARK_GRAFT_MASTER and caches nothing."""
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "session.py":
            continue
        for top in ast.parse(path.read_text()).body:
            hits += [f"{path.relative_to(PKG)}:{getattr(top, 'name', '')}"
                     for node in ast.walk(top) if _is_builder(node)]
    assert hits == ["sources/snapshot_table.py:main"]
