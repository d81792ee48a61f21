"""The library reads no tuning knobs from the environment.

Only the deployment settings in ``session.py`` may be read: the master
to start, the local core count and the driver memory. Operators take
their settings as parameters, so how a stage plans and runs is set by
its call and config, not by the shell the process started in.
"""

from __future__ import annotations

import ast
from pathlib import Path

import meds_transforms_spark

PKG = Path(meds_transforms_spark.__file__).parent

ALLOWED = {
    ("session.py", "SPARK_GRAFT_CPUS"),
    ("session.py", "SPARK_MASTER"),
    ("session.py", "SPARK_DRIVER_MEMORY"),
}


# Every read form the scan must see: literal keys A-E, then a computed
# key, the whole environment passed on, and a bare ``from os`` import.
_SELF_CHECK = """
import os
import os as o
from os import environ
a = os.environ.get("A", "1")
b = os.getenv("B")
c = os.environ["C"]
d = "D" in os.environ
e = o.environ.get("E")
f = os.environ.get(name)
g = dict(os.environ)
"""


def _env_reads(tree: ast.AST):
    """``(lineno, key)`` for every use of ``os.environ`` / ``os.getenv``.
    ``key`` is the variable name when it is a string literal, else
    ``None`` (a computed name, or the whole environment passed on)."""
    os_names = {"os"}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            os_names |= {a.asname for a in node.names if a.name == "os" and a.asname}
    parents = {
        child: node for node in ast.walk(tree) for child in ast.iter_child_nodes(node)
    }
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ("environ", "getenv") for a in node.names):
                yield node.lineno, None
            continue
        if not (
            isinstance(node, ast.Attribute)
            and node.attr in ("environ", "getenv")
            and isinstance(node.value, ast.Name)
            and node.value.id in os_names
        ):
            continue
        parent = parents.get(node)
        key = None
        if isinstance(parent, ast.Call) and parent.func is node:  # os.getenv(K)
            key = parent.args[0] if parent.args else None
        elif isinstance(parent, ast.Attribute) and parent.attr == "get":  # .get(K)
            call = parents.get(parent)
            if isinstance(call, ast.Call) and call.args:
                key = call.args[0]
        elif isinstance(parent, ast.Subscript):  # os.environ[K]
            key = parent.slice
        elif isinstance(parent, ast.Compare):  # K in os.environ
            key = parent.left
        literal = isinstance(key, ast.Constant) and isinstance(key.value, str)
        yield node.lineno, key.value if literal else None


def test_library_reads_only_deployment_env():
    keys = [k for _, k in _env_reads(ast.parse(_SELF_CHECK))]
    assert sorted(k for k in keys if k) == ["A", "B", "C", "D", "E"]
    assert keys.count(None) == 3

    seen, stray = set(), []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for lineno, key in _env_reads(ast.parse(path.read_text(), str(path))):
            if (rel, key) in ALLOWED:
                seen.add((rel, key))
            else:
                stray.append(f"{rel}:{lineno} reads {key or 'the environment'}")
    assert not stray, "environment reads outside the deployment settings:\n" + "\n".join(
        stray
    )
    assert seen == ALLOWED  # the scan reached session.py
