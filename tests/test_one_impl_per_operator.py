"""Each operator has one implementation.

An alternate form of an operator lives on only as a test oracle under
``tests/``, never as a selector parameter on the public function. The
two ``strategy`` parameters that remain are real choices made by callers:
``run_pipeline`` routes by input size, and ``bpe_learn`` has a local and a
distributed trainer that the benchmark runs side by side.

Every knob has a caller: a defaulted parameter that no call sets takes its
default only, so it belongs in the body as a constant."""

from __future__ import annotations

import ast
import importlib
import inspect
import pkgutil
from pathlib import Path

import llm_aided_ocr_spark

STRATEGY_ALLOWED = {
    ("llm_aided_ocr_spark.plans.pipeline", "run_pipeline"),
    ("llm_aided_ocr_spark.operators.bpe", "bpe_learn"),
}


def _public_functions():
    prefix = llm_aided_ocr_spark.__name__ + "."
    for info in pkgutil.walk_packages(llm_aided_ocr_spark.__path__, prefix):
        mod = importlib.import_module(info.name)
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if not name.startswith("_") and fn.__module__ == mod.__name__:
                yield mod.__name__, name, inspect.signature(fn).parameters


def test_no_implementation_selectors():
    found = list(_public_functions())
    assert len(found) > 100  # the walk reached the operator modules
    impl = [(m, f) for m, f, ps in found if {"impl", "strip_impl"} & set(ps)]
    strategy = {(m, f) for m, f, ps in found if "strategy" in ps}
    assert impl == []
    assert strategy == STRATEGY_ALLOWED


# --- every knob has a caller -------------------------------------------------
#
# A defaulted parameter of a public package function, or a defaulted field of
# a package dataclass, must be set by some call in the repo. Calls are matched
# by the callee's name (``f(...)``, ``obj.f(...)``, or ``g(...)`` after
# ``from m import f as g``): a keyword, a positional
# argument at the parameter's place, or an unresolved ``*args`` / ``**kwargs``
# sets it. A ``**d`` whose keys can be read off the code sets those keys only:
# ``d`` bound to a ``dict(...)`` / ``{...}`` literal in the same function, or
# ``d`` the enclosing function's own ``**kwargs`` (then whatever that
# function's callers pass). A field also counts as set when some code assigns
# to an attribute of its name.

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "llm_aided_ocr_spark"
CALLERS = (
    PACKAGE, ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py",
    ROOT / "perfbench", ROOT / "tools", ROOT / "tests",
)

# The knobs no call sets that stay: deployment settings (paths, addresses,
# credentials, catalog and namespace names, timeouts) and the seams a test
# uses to substitute a fake. Each entry says why.
KNOB_ALLOWED: dict[str, str] = {
    "llm_aided_ocr_spark/__main__.py::main(argv=)":
        "seam: the CLI entry point, drivable in-process with an argv list",
    "llm_aided_ocr_spark/operators/providers.py::make_claude_provider(transport=)":
        "seam: a test or deployment injects the API transport",
    "llm_aided_ocr_spark/operators/providers.py::make_openai_provider(transport=)":
        "seam: a test or deployment injects the API transport",
    "llm_aided_ocr_spark/operators/providers.py::make_local_llm_provider(grammar_loader=)":
        "seam: LocalCompletionProvider.grammar_loader, the SDK grammar parser",
    "llm_aided_ocr_spark/operators/providers.py::fetch_model(lock_timeout_s=)":
        "deployment: timeout on the shared model-download lock",
    "llm_aided_ocr_spark/plans/checkpoint.py::CheckpointStore.iceberg_namespace":
        "deployment: the Iceberg catalog namespace",
    "llm_aided_ocr_spark/config.py::PipelineConfig.overlap_words":
        "read as cfg.overlap_words by perfbench/layers.py, which only a "
        "benchmark change may edit",
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
_ALL = object()  # an unresolved * / ** argument: sets every parameter


def _py_files(path: Path):
    return [path] if path.suffix == ".py" else sorted(path.rglob("*.py"))


def _callee(call: ast.Call):
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _dict_keys(node):
    """The keys of a ``dict(k=...)`` or ``{"k": ...}`` literal, else None."""
    if isinstance(node, ast.Call) and _callee(node) == "dict" and not node.args:
        if all(k.arg for k in node.keywords):
            return {k.arg for k in node.keywords}
    if isinstance(node, ast.Dict) and all(
        isinstance(k, ast.Constant) and isinstance(k.value, str) for k in node.keys
    ):
        return {k.value for k in node.keys}
    return None


def _scope_nodes(scope):
    """The nodes of one module or function scope, not of nested functions."""
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        n = stack.pop()
        yield n
        if not isinstance(n, _FUNCS):
            stack.extend(ast.iter_child_nodes(n))


def _collect_calls():
    """(callee name -> [(positional count, keywords, forwarding functions)],
    names of assigned attributes)."""
    calls, attrs = {}, set()
    for top in CALLERS:
        for path in _py_files(top) if top.exists() else ():
            tree = ast.parse(path.read_text())
            aliases = {
                a.asname: a.name for n in ast.walk(tree)
                if isinstance(n, ast.ImportFrom) for a in n.names if a.asname
            }
            scopes = [tree] + [n for n in ast.walk(tree) if isinstance(n, _FUNCS)]
            for scope in scopes:
                nodes = list(_scope_nodes(scope))
                local_dicts = {}
                for n in nodes:
                    if isinstance(n, ast.Assign):
                        keys = _dict_keys(n.value)
                        if keys is not None and len(n.targets) == 1 \
                                and isinstance(n.targets[0], ast.Name):
                            local_dicts[n.targets[0].id] = keys
                    if isinstance(n, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
                        targets = n.targets if isinstance(n, ast.Assign) else [n.target]
                        attrs |= {t.attr for t in targets if isinstance(t, ast.Attribute)}
                kwarg = getattr(getattr(scope, "args", None), "kwarg", None)
                for n in nodes:
                    if not isinstance(n, ast.Call) or _callee(n) is None:
                        continue
                    npos = len(n.args)
                    if any(isinstance(a, ast.Starred) for a in n.args):
                        npos = float("inf")
                    kws, fwd = {k.arg for k in n.keywords if k.arg}, []
                    for k in (k for k in n.keywords if k.arg is None):
                        name = getattr(k.value, "id", None)
                        if name in local_dicts:
                            kws |= local_dicts[name]
                        elif kwarg is not None and name == kwarg.arg \
                                and hasattr(scope, "name"):
                            fwd.append(scope)
                        else:
                            kws = _ALL
                            break
                    callee = aliases.get(_callee(n), _callee(n))
                    calls.setdefault(callee, []).append((npos, kws, fwd))
    return calls, attrs


def _passed(calls, name, index, param, seen=frozenset()):
    for npos, kws, fwd in calls.get(name, ()):
        if kws is _ALL or param in kws or (index is not None and npos > index):
            return True
        for outer in fwd:  # f(**kwargs) inside def outer(..., **kwargs)
            a = outer.args
            if param not in {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs} \
                    and outer.name not in seen \
                    and _passed(calls, outer.name, None, param, seen | {outer.name}):
                return True
    return False


def _unset_knobs():
    calls, attrs = _collect_calls()
    found = []
    for path in _py_files(PACKAGE):
        rel = path.relative_to(ROOT).as_posix()
        tree = ast.parse(path.read_text())
        classes = [c for c in tree.body if isinstance(c, ast.ClassDef)]
        defs = [(n, None) for n in tree.body]
        defs += [(m, c) for c in classes if not c.name.startswith("_") for m in c.body]
        for fn, cls in defs:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                    or fn.name.startswith("_"):
                continue
            owner = f"{rel}::{cls.name + '.' if cls else ''}{fn.name}"
            pos = fn.args.posonlyargs + fn.args.args
            decorators = {getattr(d, "id", None) for d in fn.decorator_list}
            if cls and "staticmethod" not in decorators:
                pos = pos[1:]  # self / cls
            first = len(pos) - len(fn.args.defaults)
            defaulted = [(i, a) for i, a in enumerate(pos) if i >= first]
            defaulted += [
                (None, a) for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
                if d is not None
            ]
            found += [
                f"{owner}({a.arg}=)" for i, a in defaulted
                if not _passed(calls, fn.name, i, a.arg)
            ]
        for cls in classes:
            if not any("dataclass" in ast.dump(d) for d in cls.decorator_list):
                continue
            fields = [s for s in cls.body
                      if isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)]
            found += [
                f"{rel}::{cls.name}.{s.target.id}" for i, s in enumerate(fields)
                if s.value is not None and s.target.id not in attrs
                and not _passed(calls, cls.name, i, s.target.id)
            ]
    return found


def test_every_knob_has_a_caller():
    unset = _unset_knobs()
    assert sorted(set(unset) - set(KNOB_ALLOWED)) == []
    assert sorted(set(KNOB_ALLOWED) - set(unset)) == []  # no stale entry
