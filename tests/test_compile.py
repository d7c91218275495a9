"""Every package module and the driver entry compile with warnings as
errors — an invalid escape sequence in a non-raw string is a
SyntaxWarning today and a SyntaxError under ``python -W error``.

Every public package class and function, and every public method of a
package class, is also used in non-test code, unless ``TEST_REACHED``
lists it with the reason it is kept; every module-level name of the
package is used in non-test code. Every defaulted parameter of a package
function or method is passed by some call in the repo, unless
``UNSET_OPTIONS`` lists it with the reason it is kept."""

import ast
import pathlib
import warnings

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = sorted((ROOT / "pheknowlator_spark").rglob("*.py"))
SOURCES = [ROOT / "__spark_entry__.py"] + PACKAGE
NON_TEST = SOURCES + sorted(ROOT.glob("bench*.py")) + [
    p
    for d in ("scripts", "kgbench")
    for p in sorted((ROOT / d).glob("*.py"))
    if not p.name.startswith("test_")
]
CALLERS = NON_TEST + [
    p for d in ("tests", "kgbench") for p in sorted((ROOT / d).glob("test_*.py"))
] + [ROOT / "tests" / "conftest.py"]

# Public package classes, functions and methods that only tests use, one
# line each with the reason to keep it. Calls made from inside a listed
# function do not count as non-test use of the functions they call.
TEST_REACHED = {
    "StageStore.lineage": "reads the per-file lineage rows every commit writes",
    "brute_force_topk": "exact top-k the ANN tests check lsh_topk/ivf_topk against",
    "decode_pkt_namespace": "J9 pkt-namespace decode, a reference build step",
    "dedup_near": "keeps one member per near-dup cluster; near_dup_clusters' consumer",
    "with_extracted_text": "html to text column; the extraction the pages carry",
}

# Defaulted parameters that no call in the repo passes, one line each with
# the reason to keep the option.
UNSET_OPTIONS = {
    "dedup_near.state_store": "commits the CC rounds so a near-dedup restarts mid-way",
    "full_build.purify": "gates N11 purification, a reference build step",
    "pagerank.stage_prefix": "names the committed rounds a pagerank restart resumes",
}


@pytest.mark.parametrize(
    "path", SOURCES, ids=lambda p: str(p.relative_to(ROOT))
)
def test_compiles_with_warnings_as_errors(path):
    source = path.read_text(encoding="utf-8")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        compile(source, str(path), "exec")


FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _units(path: pathlib.Path) -> list[tuple[str | None, ast.AST]]:
    """``(name, node)`` for a module's top-level statements. A class
    yields each method as ``Class.method`` and, under the class name, its
    bases, keywords, decorators and other body statements; an assignment
    has no name."""
    units = []
    for top in ast.parse(path.read_text(encoding="utf-8")).body:
        if not isinstance(top, ast.ClassDef):
            units.append((getattr(top, "name", None), top))
            continue
        for node in top.bases + top.keywords + top.decorator_list + top.body:
            name = f"{top.name}.{node.name}" if isinstance(node, FUNCS) else top.name
            units.append((name, node))
    return units


def _public_names() -> set[str]:
    """Public classes and functions, and public methods as ``Class.method``."""
    return {
        name
        for path in PACKAGE
        for name, node in _units(path)
        if isinstance(node, FUNCS) and not node.name.startswith("_")
    } | {
        top.name
        for path in PACKAGE
        for top in ast.parse(path.read_text(encoding="utf-8")).body
        if isinstance(top, ast.ClassDef) and not top.name.startswith("_")
    }


def _module_names() -> set[str]:
    """Names a package module assigns at top level, dunders aside."""
    return {
        node.id
        for path in PACKAGE
        for _, top in _units(path)
        if isinstance(top, (ast.Assign, ast.AnnAssign))
        for node in ast.walk(top)
        if isinstance(node, ast.Name)
        and isinstance(node.ctx, ast.Store)
        and not node.id.startswith("__")
    }


def _names_used_outside_tests(skip=TEST_REACHED) -> set[str]:
    """Names read, attributes and imported names in non-test code, outside
    the package units ``skip`` names; comments and strings do not count,
    nor a function's use of its own name."""
    used: set[str] = set()
    for path in NON_TEST:
        for name, top in _units(path):
            if path in PACKAGE and name in skip:
                continue
            names = set()
            for node in ast.walk(top):
                if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
                elif isinstance(node, ast.alias):
                    names.add(node.name.rsplit(".", 1)[-1])
            own = name.rsplit(".", 1)[-1] if name else None
            used |= names - {own}
    return used


def test_public_functions_have_non_test_callers():
    used = _names_used_outside_tests()
    # a method counts as called wherever its bare name is used
    unused = {
        name for name in _public_names() if name.rsplit(".", 1)[-1] not in used
    }
    assert sorted(unused - set(TEST_REACHED)) == []
    # an entry whose function gained a caller, or is gone, is stale
    assert sorted(set(TEST_REACHED) - unused) == []
    # raising this bound is a reviewed edit: a new test-only function needs
    # a caller or a deletion first
    assert len(TEST_REACHED) <= 5


def test_module_names_are_used():
    # a test-reached function is kept, and so are the names it reads
    assert sorted(_module_names() - _names_used_outside_tests(skip=())) == []


def _options() -> list[tuple[str, str, list[str], list[str]]]:
    """``(name, called_as, positional, defaulted)`` per package function
    and method: the parameters a positional argument can fill (a method's
    without its first) and those with a default. ``__init__`` is called by
    its class's name."""
    out = []
    for path in PACKAGE:
        for name, node in _units(path):
            if not isinstance(node, FUNCS):
                continue
            args = node.args
            positional = [a.arg for a in args.posonlyargs + args.args]
            static = any(
                getattr(d, "id", None) == "staticmethod" for d in node.decorator_list
            )
            if "." in name and not static:
                positional = positional[1:]
            defaulted = positional[len(positional) - len(args.defaults):] + [
                a.arg for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None
            ]
            cls, _, bare = name.rpartition(".")
            out.append((name, cls if bare == "__init__" else bare, positional, defaulted))
    return out


def _calls_by_name() -> dict[str, list[ast.Call]]:
    """Every call in the repo's code and tests, keyed by the called name."""
    calls: dict[str, list[ast.Call]] = {}
    for path in CALLERS:
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Call):
                name = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
                calls.setdefault(name, []).append(node)
    return calls


def test_options_are_set_by_some_caller():
    calls = _calls_by_name()
    options, unset = set(), set()
    for name, called_as, positional, defaulted in _options():
        passed: set[str] = set()
        for call in calls.get(called_as, []):
            # a */** splat may pass any parameter
            if any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in call.keywords
            ):
                passed.update(defaulted)
            passed.update(positional[: len(call.args)])
            passed.update(k.arg for k in call.keywords)
        options |= {f"{name}.{p}" for p in defaulted}
        unset |= {f"{name}.{p}" for p in defaulted if p not in passed}
    assert sorted(unset - set(UNSET_OPTIONS)) == []
    # an entry whose option is gone is stale
    assert sorted(set(UNSET_OPTIONS) - options) == []
