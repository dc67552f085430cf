"""Every top-level definition of the engine has a caller or a stated reason.

The scan parses each top-level ``def`` and ``class`` in ``analyst_toolkit_spark/``
and follows names from a set of roots: everything ``__spark_entry__.py``,
the non-test ``perfbench/*.py`` and ``examples/*.py`` use, and everything
each engine module's own module-level statements use (imports, registries,
``__all__``, ``if __name__ == "__main__"``). A reached definition reaches
every name used inside it; a reached class reaches its whole body, so the
``Toolkit`` and ``RpcServer`` methods count. A use is a name, an attribute,
an imported name or a string constant spelled like an identifier (tool
registries and ``__all__`` name functions in strings). Tests are not roots:
a definition only its own tests call is an orphan.

``PUBLIC_API`` holds the definitions no root reaches that stay on purpose,
each with its reason. A name may be listed only while nothing else reaches
it, so the list cannot go stale.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "analyst_toolkit_spark"

PUBLIC_API = {
    "run_pipeline_from_yaml": "README: the one-call YAML pipeline entry",
    "near_probe": "README: the incremental-dedup example probes near duplicates",
    "dedup_index_append": "README: the incremental-dedup example appends to the index",
    "semantic_index_append": "append half of the semantic index, whose write and probe halves are reached",
    "dedup_representatives": "README, and the oracle of dedup_representatives_auto in test_llm.py",
    "_ngrams_of": "the oracle of lm._ngrams_of_chars",
    "train_logreg": "the only code that trains weights for the curate classifier gate",
    "classifier_accuracy": "the only code that scores weights for the curate classifier gate",
    "diagnostics_report": "the reference's full M01 report dict (data_diag.py:40-115)",
    "apply_row_rule": "SURVEY 2.10: the custom-rule seam, per row",
    "apply_grouped_rule": "SURVEY 2.10: the custom-rule seam, per group",
    "vector_rule": "SURVEY 2.10: the custom-rule seam, vectorised",
    "build_vocab": "COVERAGE, and the vocabulary the BM25 tests build",
    "resize_images": "README multimodal row: PNG resize",
    "image_header_meta": "README multimodal row: image header metadata",
    "audio_header_meta": "README multimodal row: audio header metadata",
    "extract_audio_features": "README multimodal row: WAV duration and true RMS",
}


def _uses(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _scan() -> tuple[dict[str, list[str]], dict[str, set[str]], set[str]]:
    """(name -> defining modules, name -> names its definitions use, roots)."""
    where: dict[str, list[str]] = {}
    uses: dict[str, set[str]] = {}
    roots: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(ROOT).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                where.setdefault(stmt.name, []).append(module)
                uses.setdefault(stmt.name, set()).update(_uses(stmt))
            else:
                roots |= _uses(stmt)
    outside = [ROOT / "__spark_entry__.py"]
    outside += [p for p in sorted((ROOT / "perfbench").glob("*.py")) if not p.name.startswith("test_")]
    outside += sorted((ROOT / "examples").glob("*.py"))
    for path in outside:
        roots |= _uses(ast.parse(path.read_text()))
    return where, uses, roots


def _reach(uses: dict[str, set[str]], roots: set[str]) -> set[str]:
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(uses.get(name, ()))
    return seen


def test_every_definition_is_reached():
    where, uses, roots = _scan()
    reached = _reach(uses, roots | set(PUBLIC_API))
    orphans = {name: where[name] for name in where if name not in reached}
    assert orphans == {}, "unreached definitions: delete them, or add a reason to PUBLIC_API"


def test_public_api_is_reached_only_through_its_list():
    where, uses, roots = _scan()
    assert set(PUBLIC_API) <= set(where), set(PUBLIC_API) - set(where)
    reached = _reach(uses, roots)
    stale = sorted(name for name in PUBLIC_API if name in reached)
    assert stale == [], "these names have a caller now: drop them from PUBLIC_API"
    assert all(reason.strip() for reason in PUBLIC_API.values())
