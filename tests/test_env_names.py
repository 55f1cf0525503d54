"""The package's environment surface: every environment variable read
under sptag_spark/. Tuning values are module constants next to the
measurement that chose them, so a new knob read from the environment
fails here until it is added on purpose."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "sptag_spark"

# session sizing (cores, driver heap, AQE) and the planner's autotune file
ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPTAG_SPARK_DRIVER_MEM",
    "SPTAG_SPARK_AQE",
    "SPTAG_AUTOTUNE",
}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_keys(tree: ast.AST):
    """Key expressions of os.environ.get/[]/in and os.getenv reads."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr in ("get", "setdefault", "pop")
                and _is_environ(f.value)
            ) or (
                (isinstance(f, ast.Attribute) and f.attr == "getenv")
                or (isinstance(f, ast.Name) and f.id == "getenv")
            ):
                yield node, (node.args[0] if node.args else None)
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            yield node, node.slice
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            yield node, node.left


def test_env_names_are_exactly_the_session_knobs():
    names = set()
    for path in sorted(PKG.rglob("*.py")):
        for node, key in _env_keys(ast.parse(path.read_text())):
            where = f"{path.relative_to(PKG.parent)}:{node.lineno}"
            assert isinstance(key, ast.Constant) and isinstance(
                key.value, str
            ), f"environment key is not a string literal at {where}"
            names.add(key.value)
    assert names == ALLOWED
