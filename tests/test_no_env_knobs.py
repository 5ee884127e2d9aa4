"""The CDC apply path is configured through arguments only: no module of
it reads environment variables, so no hidden knob can switch its
behaviour or its metrics."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "polardbx_tools_spark"
CDC_MODULES = [
    PKG / "pipeline.py",
    *sorted((PKG / "lake").glob("*.py")),
    PKG / "streaming" / "stream.py",
]
ENV_READERS = {"environ", "environb", "getenv", "getenvb"}


def test_cdc_modules_read_no_environment_variables():
    found = []
    for path in CDC_MODULES:
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            names = []
            if isinstance(node, ast.Attribute):
                names = [node.attr]
            elif isinstance(node, ast.ImportFrom) and node.module == "os":
                names = [a.name for a in node.names]
            found += [f"{path.name}:{node.lineno} {name}"
                      for name in names if name in ENV_READERS]
    assert found == []
