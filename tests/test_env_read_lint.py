"""Lint on environment reads in the package.

Each behaviour has one code path, so no environment variable may pick
between two of them. The package reads the process environment only
for session and pin settings; the pipeline CLI also hands the whole
environment, as a mapping, to `config_from_env`, which reads the
deployment's URL and key from it. Every `os.environ[...]`,
`os.environ.get(...)` and `os.getenv(...)` key read under
`supabase_etl_spark/` must be listed below, and every listed key must
still be read.
"""

from __future__ import annotations

import ast
import collections
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "supabase_etl_spark"

ALLOWED_KEYS = {
    "SPARK_DRIVER_MEMORY",
    "SPARK_GRAFT_CHECKPOINT_DIR",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_PIN_MODE",
}
# "<module path>::<enclosing function>" sites that take the whole
# environment as a mapping
ALLOWED_MAPPINGS = {"plans/pipeline.py::config_from_env"}


def _is_os_environ(node) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _key(node) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return f"<non-literal key at line {node.lineno}>"


class _EnvReads(ast.NodeVisitor):
    def __init__(self, module: str, keys: collections.Counter, mappings: set[str]):
        self.module, self.site = module, f"{module}::<module>"
        self.keys, self.mappings = keys, mappings

    def visit_FunctionDef(self, node):
        outer, self.site = self.site, f"{self.module}::{node.name}"
        self.generic_visit(node)
        self.site = outer

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        f = node.func
        if isinstance(f, ast.Attribute) and (
            (f.attr == "get" and _is_os_environ(f.value))
            or (f.attr == "getenv" and isinstance(f.value, ast.Name) and f.value.id == "os")
        ):
            self.keys[_key(node.args[0])] += 1
            for arg in [*node.args, *node.keywords]:
                self.visit(arg)
        else:
            self.generic_visit(node)

    def visit_Subscript(self, node):
        if _is_os_environ(node.value):
            self.keys[_key(node.slice)] += 1
            self.visit(node.slice)
        else:
            self.generic_visit(node)

    def visit_Attribute(self, node):
        if _is_os_environ(node):
            self.mappings.add(self.site)
        self.generic_visit(node)


def _env_reads() -> tuple[collections.Counter, set[str]]:
    keys: collections.Counter = collections.Counter()
    mappings: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        _EnvReads(rel, keys, mappings).visit(ast.parse(path.read_text(), filename=str(path)))
    return keys, mappings


def test_env_reads_match_allowlist():
    keys, mappings = _env_reads()
    new = sorted(set(keys) - ALLOWED_KEYS)
    assert not new, (
        f"new environment reads {new}: pass the setting as an argument "
        "instead of selecting a code path from the environment"
    )
    stale = sorted(ALLOWED_KEYS - set(keys))
    assert not stale, f"keys {stale} are no longer read: drop them from ALLOWED_KEYS"
    assert mappings == ALLOWED_MAPPINGS, (
        f"whole-environment reads at {sorted(mappings)}, allowed at "
        f"{sorted(ALLOWED_MAPPINGS)}"
    )
