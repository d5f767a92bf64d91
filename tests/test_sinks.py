"""One module owns every triple sink: plans/sinks.py."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "claimskg_generator_spark"


def _writes_text(node) -> bool:
    """``<...>.write<...>.text(...)``: a DataFrameWriter text sink."""
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "text"):
        return False
    recv = node.func.value
    while isinstance(recv, (ast.Call, ast.Attribute)):
        if isinstance(recv, ast.Attribute) and recv.attr == "write":
            return True
        recv = recv.func if isinstance(recv, ast.Call) else recv.value
    return False


def test_only_the_sinks_module_writes_text():
    """Every DataFrameWriter ``.text(`` in the package is in
    plans/sinks.py, so one module decides how a triple row becomes RDF
    text."""
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "plans" / "sinks.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if _writes_text(node):
                hits.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert hits == []
