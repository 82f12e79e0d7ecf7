"""Census of the engine's environment switches (no Spark).

Every ``EASYLINK_*`` variable the engine reads is a setting that tests and
benchmarks must cover in both states, so a new one has to be added here on
purpose.  Names are taken from the string literals of the code under
``easylink_spark/`` (docstrings excluded), which also catches a name kept
in a constant and read elsewhere.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import easylink_spark

ENGINE = Path(easylink_spark.__file__).parent
NAME = re.compile(r"EASYLINK_[A-Z0-9_]+")


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)):
                out.add(id(body[0].value))
    return out


def env_names_read() -> set[str]:
    names: set[str] = set()
    for path in ENGINE.rglob("*.py"):
        tree = ast.parse(path.read_text(), str(path))
        docs = _docstrings(tree)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and id(node) not in docs):
                names |= set(NAME.findall(node.value))
    return names


def test_engine_env_switches():
    assert env_names_read() == {"EASYLINK_VALIDATE", "EASYLINK_ASYNC_CHECKPOINT"}
