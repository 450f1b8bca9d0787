"""Every public name under tsc_spark/ has a caller outside the tests,
and every defaulted parameter under tsc_spark/ is set by some call.

A name listed in a module's ``__all__`` that only tests use is code no
query, ``entry()``, ``bench.py``, script or benchmark reaches. The check
is by AST identifier (a loaded name, an attribute, or a ``from … import``
name), so a mention in a docstring or comment does not count as a use.
A package ``__init__.py`` re-exporting a name (``from .x import name``)
does not use it either.

A defaulted parameter that no call passes, tests included, is an option
nobody sets: its default is the only value the code runs with, so it
belongs in the code as a constant.
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


# defaulted tsc_spark/ parameters that stay although no call passes
# another value than the default, and why
KEPT_DEFAULTS = {
    "run_pipeline.with_encoded": "tsbench/workloads.py passes with_encoded=True and the "
    "benchmark's files change only with the benchmark; True is the only accepted value",
    "synth_tokens_table.seed": "test-input generator: the seed picks the corpus a test draws",
    "synth_tokens_skewed.seed": "test-input generator: the seed picks the corpus a test draws",
}


def _sources(tests=False):
    """Python files outside any tests/ directory: the package, the
    driver entry, the bench contract, the scripts and the benchmark;
    with ``tests``, the test files too."""
    paths = [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
    for top in ("tsc_spark", "scripts", "tsbench") + (("tests",) if tests else ()):
        for root, dirs, files in os.walk(os.path.join(REPO, top)):
            dirs[:] = [d for d in dirs if d != "__pycache__" and (tests or d != "tests")]
            paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return paths


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


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
        tree = _parse(path)
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


def _functions(tree, cls=None):
    """``(call name, qualified name, positional params, defaulted params)``
    of every function in ``tree``.  A method is called by its own name
    and ``__init__`` by its class's, in both cases without the ``self``
    or ``cls`` its positional params drop (a staticmethod has none)."""
    for node in ast.iter_child_nodes(tree):
        if isinstance(node, ast.ClassDef):
            yield from _functions(node, node.name)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            positional = [p.arg for p in a.posonlyargs + a.args]
            defaulted = positional[len(positional) - len(a.defaults):] + [
                p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            ]
            static = any(getattr(d, "id", None) == "staticmethod" for d in node.decorator_list)
            if cls and not static:
                positional = positional[1:]
            call_name = cls if cls and node.name == "__init__" else node.name
            qual = f"{cls}.{node.name}" if cls else node.name
            yield call_name, qual, positional, defaulted
            yield from _functions(node)
        else:
            yield from _functions(node, cls)


def test_every_defaulted_parameter_is_set_by_a_call():
    functions = {}
    for path in _sources():
        if path.startswith(os.path.join(REPO, "tsc_spark", "")):
            for name, qual, positional, defaulted in _functions(_parse(path)):
                functions.setdefault(name, []).append((qual, positional, defaulted))
    passed = set()  # (qualified name, param)
    for path in _sources(tests=True):
        for call in ast.walk(_parse(path)):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
            starred = any(isinstance(a, ast.Starred) for a in call.args)
            for qual, positional, defaulted in functions.get(name, ()):
                n_args = len(positional) if starred else len(call.args)
                names = set(positional[:n_args]) | {k.arg for k in call.keywords}
                if None in names:  # **kwargs may set any of them
                    names = set(defaulted)
                passed.update((qual, p) for p in names)
    defaulted = {
        f"{qual}.{p}": (qual, p)
        for entries in functions.values()
        for qual, _, params in entries
        for p in params
    }
    never_set = sorted(
        key for key, pair in defaulted.items() if pair not in passed and key not in KEPT_DEFAULTS
    )
    assert not never_set, f"defaulted parameters no call sets: {never_set}"
    assert set(KEPT_DEFAULTS) <= set(defaulted), "stale KEPT_DEFAULTS entry"
