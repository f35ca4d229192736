"""The product reads the environment in one place: ``session.py``, which
holds the deployment settings (core count, UI switch, driver memory).
Any other ``os.environ``/``getenv`` read is a behaviour switch no caller
sets and no test or benchmark covers both sides of."""

from __future__ import annotations

import ast
import pathlib

import process_alphafold3_outputs_spark as pkg

ROOT = pathlib.Path(pkg.__file__).parent
ALLOWED = {ROOT / "session.py"}


def _env_reads(path: pathlib.Path) -> list[int]:
    lines = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv"):
            lines.append(node.lineno)
        elif isinstance(node, ast.Name) and node.id in ("environ", "getenv"):
            lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ("environ", "getenv") for a in node.names):
                lines.append(node.lineno)
    return lines


def test_environment_is_read_only_in_session():
    found = [
        f"{path.relative_to(ROOT)}:{line}"
        for path in sorted(ROOT.rglob("*.py"))
        if path not in ALLOWED
        for line in _env_reads(path)
    ]
    assert found == [], found
    assert _env_reads(ROOT / "session.py"), "session.py no longer reads its settings"
