"""The keyword memo (operators/keywords.py): the first-writer-wins winner
aggregate and the thesaurus-match UDF over distinct keywords are built in
one module, and every other consumer reads them from there."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "claimskg_generator_spark"


def test_one_module_builds_the_keyword_memo():
    """No ``make_keyword_match_udf(`` call and no ``"has_match"`` column
    outside operators/keywords.py.  streaming/keyword_state.py may name the
    column: its applyInPandasWithState memo is a separate per-micro-batch
    algorithm, compared against the batch winners in test_streaming.py."""
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        if rel == "operators/keywords.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and getattr(node.func, "id", getattr(node.func, "attr", None))
                    == "make_keyword_match_udf"):
                hits.append(f"{rel}:{node.lineno} make_keyword_match_udf")
            if (isinstance(node, ast.Constant) and node.value == "has_match"
                    and rel != "streaming/keyword_state.py"):
                hits.append(f"{rel}:{node.lineno} has_match")
    assert hits == []
