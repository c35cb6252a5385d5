"""Environment-read guard: the package reads only deployment settings.

Every ``os.environ`` / ``os.getenv`` read in ``consumer_loans_analysis_spark``
must use a literal key from ``DEPLOYMENT_KEYS``. A knob that selects a code
path (a join strategy, a model-build mode, a dispatch threshold) is a second
implementation to keep correct; it belongs in reviewed code, not in an
environment variable nobody sets.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "consumer_loans_analysis_spark"

DEPLOYMENT_KEYS = {
    "SPARK_MASTER",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_INITIAL_PARTITIONS",
}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _is_getenv(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "getenv") or (
        isinstance(node, ast.Name) and node.id == "getenv"
    )


def _literal(node: ast.AST | None) -> str | None:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return None


def env_reads(source: str) -> list[tuple[int, str | None]]:
    """(line, key) for every environment access; key None = not a literal
    (``os.environ.items()``, a computed key)."""
    out = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Call) and (
            _is_getenv(node.func)
            or (isinstance(node.func, ast.Attribute) and _is_environ(node.func.value))
        ):
            out.append((node.lineno, _literal(node.args[0] if node.args else None)))
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            out.append((node.lineno, _literal(node.slice)))
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            out.append((node.lineno, _literal(node.left)))
    return out


def test_env_read_detector_sees_every_form():
    src = (
        "import os\n"
        "import os as _os\n"
        "from os import environ, getenv\n"
        "a = os.environ.get('A')\n"
        "b = _os.environ.get('B', 'x')\n"
        "c = os.getenv('C')\n"
        "d = 'D' in os.environ\n"
        "e = os.environ['E']\n"
        "f = environ.get('F')\n"
        "g = getenv('G')\n"
        "h = dict(os.environ.items())\n"
    )
    keys = [k for _, k in env_reads(src)]
    assert sorted(k for k in keys if k) == list("ABCDEFG")
    assert keys.count(None) == 1


def test_package_reads_only_deployment_settings():
    bad = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for line, key in env_reads(path.read_text()):
            if key not in DEPLOYMENT_KEYS:
                bad.append(f"{path.relative_to(PACKAGE.parent)}:{line} {key!r}")
    assert not bad, "non-deployment environment reads:\n" + "\n".join(bad)
