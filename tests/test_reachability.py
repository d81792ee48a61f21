"""Every public library name is reached from code that runs.

Library code stays only if something outside the tests reaches it: an
oracle query (``__spark_entry__.py``), a registered pipeline stage, a
CLI subcommand (``__main__``), ``bench.py`` or ``perfbench``. This
scan approximates that by name: a public top-level ``def`` or
``class`` in ``meds_transforms_spark/`` must be decorated with
``register_stage`` or be named (a ``Name``, an ``Attribute`` or an
``ImportFrom`` alias) by non-test code outside its own body.

- Non-test code is every library module, ``__spark_entry__.py``,
  ``bench.py`` and ``perfbench/*.py``. ``scripts/`` does not count.
- A re-export in a subpackage ``__init__.py`` is not a use; the
  top-level ``meds_transforms_spark/__init__.py`` API is.
- ``testing/`` and ``pytest_plugin.py`` are shipped test support: their
  names are not checked and their references do not count.
- ``ALLOWED`` keeps a name the scan cannot see reached, with the reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

import meds_transforms_spark

PKG = Path(meds_transforms_spark.__file__).parent
REPO = PKG.parent

ALLOWED = {
    "sources.csv_to_meds.csv_to_meds": "the CSV -> MEDS extraction of README row S5",
    "operators.grams.poly64": "the scalar reference the gram-kernel tests check against",
    "operators.layout.write_zordered": "the Z-order writer; an oracle query uses its key",
    "operators.linalg.pca_fit": "fits the state the pca_transform stage consumes",
    "operators.classifier.fit_hashed_classifier": "fits what hashed_linear_score reads",
    "operators.dedup_index.save_minhash_index": "writes the params dedup_against_index checks",
    "operators.dedup_index.load_minhash_index": "reads the params dedup_against_index checks",
}


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _stage_decorated(node: ast.AST) -> bool:
    for dec in node.decorator_list:
        f = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(f, "id", getattr(f, "attr", None)) == "register_stage":
            return True
    return False


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out |= {a.name for a in n.names}
    return out


def _unreached(lib: dict[str, str], users: list[str]) -> list[tuple[str, int]]:
    """``(dotted.name, lineno)`` for each public top-level definition in
    ``lib`` (package-relative path -> source) that no code reaches.
    ``users`` holds the non-library sources that count as uses."""
    used = set().union(*(_names(ast.parse(src)) for src in users))
    scanned = {
        rel: ast.parse(src).body
        for rel, src in lib.items()
        if not (
            rel.endswith("/__init__.py")
            or rel.startswith("testing/")
            or rel == "pytest_plugin.py"
        )
    }
    refs = [(stmt, _names(stmt)) for body in scanned.values() for stmt in body]
    flagged = []
    for rel, body in scanned.items():
        for node in body:
            if (
                not isinstance(node, _DEFS)
                or node.name.startswith("_")
                or _stage_decorated(node)
                or node.name in used
                or any(node.name in names for stmt, names in refs if stmt is not node)
            ):
                continue
            flagged.append((f"{rel[:-3].replace('/', '.')}.{node.name}", node.lineno))
    return flagged


def _tree() -> tuple[dict[str, str], list[str]]:
    lib = {p.relative_to(PKG).as_posix(): p.read_text() for p in PKG.rglob("*.py")}
    users = [
        p.read_text()
        for p in [REPO / "__spark_entry__.py", REPO / "bench.py"]
        + sorted((REPO / "perfbench").glob("*.py"))
    ]
    return lib, users


def test_scanner_flags_an_unreferenced_def():
    lib = {
        "mod.py": (
            "from pkg.base import register_stage\n"
            "def used(): pass\n"
            "def unused(): return unused()\n"
            "def _private(): pass\n"
            "class Helper: pass\n"
            "@register_stage('s')\n"
            "def stage(df): return Helper\n"
        ),
        "sub/__init__.py": "from pkg.mod import unused\n",
        "testing/fix.py": "from pkg.mod import unused\n",
        "api.py": "import pkg.mod as m\nx = m.used\n",
    }
    assert _unreached(lib, []) == [("mod.unused", 3)]
    assert _unreached(lib, ["from pkg.mod import unused\n"]) == []


def test_library_names_are_reached():
    flagged = dict(_unreached(*_tree()))
    stray = [f"{name} (line {line})" for name, line in flagged.items() if name not in ALLOWED]
    assert not stray, "public names nothing reaches (delete, or allowlist):\n" + "\n".join(
        stray
    )
    # Every allowlisted name still exists and is still unreached.
    assert sorted(flagged) == sorted(ALLOWED)
