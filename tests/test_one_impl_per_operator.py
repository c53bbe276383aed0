"""Each operator has one implementation.

An alternate form of an operator lives on only as a test oracle under
``tests/``, never as a selector parameter on the public function. The
two ``strategy`` parameters that remain are real choices made by callers:
``run_pipeline`` routes by input size, and ``bpe_learn`` has a local and a
distributed trainer that the benchmark runs side by side."""

from __future__ import annotations

import importlib
import inspect
import pkgutil

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
