"""One public CDC surface: outside ``pipeline.py`` no function of the CDC
modules builds a ``CdcPipeline``, so changelog events are applied through
``CdcPipeline.apply_batch``/``run``/``tail`` and no wrapper re-declares
their parameters."""

import ast

from test_no_env_knobs import CDC_MODULES

# start_cdc_stream stays while perfbench calls it; the change for ROADMAP item 10
# moves those call sites to CdcPipeline.tail and removes it.
ALLOWED = {"start_cdc_stream"}


def test_only_pipeline_builds_a_cdc_pipeline():
    found = []
    for path in CDC_MODULES:
        if path.name == "pipeline.py":
            continue
        for fn in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            builds = any(
                isinstance(n, ast.Call)
                and (getattr(n.func, "id", None) or getattr(n.func, "attr", None)) == "CdcPipeline"
                for n in ast.walk(fn)
            )
            if builds and fn.name not in ALLOWED:
                found.append(f"{path.parent.name}/{path.name}:{fn.lineno} {fn.name}")
    assert found == []
