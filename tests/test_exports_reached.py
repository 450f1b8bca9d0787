"""Every public name under tsc_spark/ has a caller outside the tests.

A name listed in a module's ``__all__`` that only tests use is code no
query, ``entry()``, ``bench.py``, script or benchmark reaches. The check
is by AST identifier (a loaded name, an attribute, or a ``from … import``
name), so a mention in a docstring or comment does not count as a use.
A package ``__init__.py`` re-exporting a name (``from .x import name``)
does not use it either.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# exported names with no non-test caller that stay, and why
ALLOWED = {
    "retention_sweep": "the oracle of apply_retention's one-pass sweep in tests/test_pipeline.py",
    "plan_exchanges": "plan assertions in tests/test_bucketing.py",
    "plan_file_scans": "plan assertions in tests/test_plan_reuse.py",
    "synth_media_table": "test input for the multimodal operators",
    "synth_tokens_table": "test input for the rollup, pipeline and retention tests",
}


def _sources():
    """Python files outside any tests/ directory: the package, the
    driver entry, the bench contract, the scripts and the benchmark."""
    paths = [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
    for top in ("tsc_spark", "scripts", "tsbench"):
        for root, dirs, files in os.walk(os.path.join(REPO, top)):
            dirs[:] = [d for d in dirs if d not in {"tests", "__pycache__"}]
            paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return paths


def _exports(tree):
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    return []


def test_every_export_has_a_non_test_caller():
    used, exported = set(), {}
    for path in _sources():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        package_init = os.path.basename(path) == "__init__.py"
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                used.add(node.id)
            elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                used.add(node.attr)
            elif isinstance(node, ast.ImportFrom) and not (package_init and node.level):
                used.update(alias.name for alias in node.names)
        if path.startswith(os.path.join(REPO, "tsc_spark", "")):
            for name in _exports(tree):
                exported.setdefault(name, os.path.relpath(path, REPO))
    unreached = {
        name: path
        for name, path in exported.items()
        if name not in used and name not in ALLOWED
    }
    assert not unreached, f"exported but only tests use them: {unreached}"
    assert set(ALLOWED) <= set(exported) - used, "stale ALLOWED entry"
