"""Tooling check for the kept scripts: every file in ``scripts/``
compiles, and every module it imports at module level resolves with
the repo root and ``scripts/`` on the path. A script left importing a
module that no longer exists fails here instead of at its next manual
run. No script's ``main()`` runs."""

from __future__ import annotations

import ast
import importlib.util
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = sorted((ROOT / "scripts").glob("*.py"))


def _module_imports(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, ast.Import):
            names += [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            names.append(node.module)
    return names


def test_scripts_directory_is_not_empty():
    assert SCRIPTS


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_compiles_and_imports_resolve(path, monkeypatch):
    tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
    compile(tree, str(path), "exec")
    monkeypatch.syspath_prepend(str(ROOT / "scripts"))
    monkeypatch.syspath_prepend(str(ROOT))
    missing = [
        name for name in _module_imports(tree)
        if importlib.util.find_spec(name) is None
    ]
    assert not missing, f"{path.name} imports unresolvable {missing}"


def test_code_lines_skips_docstrings_comments_and_blanks():
    spec = importlib.util.spec_from_file_location(
        "code_lines", ROOT / "scripts" / "code_lines.py"
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    source = (
        '"""Module docstring,\n'
        'two lines."""\n'
        "\n"
        "import os  # a trailing comment keeps its line\n"
        "\n"
        "\n"
        "def f(x):\n"
        '    """One-line docstring."""\n'
        "    # a comment-only line\n"
        '    s = """a string that is\n'
        '# not a comment"""\n'
        "    return x\n"
        "\n"
        "\n"
        "class C:\n"
        '    """Class docstring."""\n'
        "\n"
        "    y = 1\n"
    )
    # import, def, the two lines of s, return, class, y
    assert module.code_lines(source) == 7
