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


def _repeated_windows_module():
    spec = importlib.util.spec_from_file_location(
        "repeated_windows", ROOT / "scripts" / "repeated_windows.py"
    )
    module = importlib.util.module_from_spec(spec)
    with pytest.MonkeyPatch.context() as mp:
        mp.syspath_prepend(str(ROOT / "scripts"))
        spec.loader.exec_module(module)
    return module


def test_repeated_windows_merges_overlaps_and_skips_strings():
    module = _repeated_windows_module()
    block = "".join(
        f"    value_{i} = compute_something_long(argument_{i}, other_{i})\n"
        for i in range(8)
    )
    sql = "".join(f"    SELECT column_{i}, other_column_{i} FROM t_{i}\n" for i in range(8))
    short = "".join(f"    x{i} = {i}\n" for i in range(8))
    source = "".join(
        f'def f{k}():\n    """Docstring."""\n    # comment\n{block}'
        f'    q = """\n{sql}"""\n    return q{k}\n\n\n'
        for k in range(2)
    )
    other = f"def g():\n{block}\n\ndef h():\n{short}\n\ndef i():\n{short}"
    # the 8-line block is one window at three places; the SQL string and
    # the short lines (under 200 characters a window) are not windows
    assert module.repeated_windows({"a.py": source, "b.py": other}) == [
        (8, [("a.py", 4), ("a.py", 28), ("b.py", 2)])
    ]


def test_repeated_windows_counts_copied_strings_but_not_docstrings():
    module = _repeated_windows_module()
    sql = "".join(f"SELECT column_{i}, other_column_{i} FROM table_{i}\n" for i in range(8))
    doc = "".join(f"    Explains argument_{i} of the function at length.\n" for i in range(8))
    source = "".join(
        f'def f{k}():\n    """Docstring.\n{doc}    """\n    return {k}\n\n\n'
        f'Q{k} = """\n{sql}"""\n\n\n'
        for k in range(2)
    )
    # the copied SQL is one string window; the copied docstring is none,
    # and neither is a code window
    assert module.repeated_windows({"a.py": source}, module.strings) == [
        (9, [("a.py", 16), ("a.py", 42)])
    ]
    assert module.repeated_windows({"a.py": source}) == []


def test_package_oracle_sql_has_no_repeated_string_windows():
    """Oracle SQL is written once: a CTE or query text that two oracles
    need is one fragment they compose (ROADMAP direction 8), so the
    package's multi-line strings hold no repeated window."""
    module = _repeated_windows_module()
    sources = {
        str(p): p.read_text(encoding="utf-8")
        for p in sorted((ROOT / "boatrace_database_spark").rglob("*.py"))
    }
    assert module.repeated_windows(sources, module.strings) == []


def _unread_imports(tree: ast.Module) -> list[str]:
    """Names a module imports and never reads: not as a name, and not
    inside a string annotation (``"np.ndarray"``)."""
    imported = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                imported[alias.asname or alias.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for alias in node.names:
                imported[alias.asname or alias.name] = node.lineno
    exprs = [tree]
    for node in ast.walk(tree):
        for field in ("annotation", "returns"):
            ann = getattr(node, field, None)
            for c in ast.walk(ann) if ann is not None else ():
                if isinstance(c, ast.Constant) and isinstance(c.value, str):
                    exprs.append(ast.parse(c.value, mode="eval"))
    read = {
        n.id
        for e in exprs
        for n in ast.walk(e)
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)
    }
    return [f"{name} (line {line})" for name, line in imported.items()
            if name not in read]


def test_unread_imports_catches_dead_and_keeps_string_annotations():
    tree = ast.parse(
        "import numpy as np\nfrom os import path, sep\n"
        "def f(x: 'np.ndarray') -> None:\n    return sep\n"
    )
    assert _unread_imports(tree) == ["path (line 2)"]


def test_package_modules_import_no_unread_names():
    """A package module (not ``__init__.py``, whose imports re-export)
    imports only names it reads."""
    dead = {}
    for p in sorted((ROOT / "boatrace_database_spark").rglob("*.py")):
        if p.name != "__init__.py":
            tree = ast.parse(p.read_text(encoding="utf-8"))
            if unread := _unread_imports(tree):
                dead[str(p.relative_to(ROOT))] = unread
    assert dead == {}


class _StubContext:
    """Answers `_jsc.sc().isStopped()` like a live SparkContext until
    the session is lost, then raises like py4j with the JVM gone."""

    def __init__(self):
        self.lost = False
        self._jsc = self

    def setLogLevel(self, level):
        pass

    def sc(self):
        return self

    def isStopped(self):
        if self.lost:
            raise ConnectionRefusedError(111, "Connection refused")
        return False


class _StubSession:
    def __init__(self):
        self.sparkContext = _StubContext()


class _Rows:
    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows


def _snapshot_module(monkeypatch, queries, out):
    spec = importlib.util.spec_from_file_location(
        "snapshot_hashes", ROOT / "scripts" / "snapshot_hashes.py"
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    session = _StubSession()
    monkeypatch.setattr(module, "get_spark", lambda name: session)
    monkeypatch.setattr(module, "QUERIES", queries)
    monkeypatch.setattr("sys.argv", ["snapshot_hashes.py", "sf", str(out)])
    return module, session


def test_snapshot_hashes_records_errors_of_a_live_session(monkeypatch, tmp_path):
    import json

    def domain(spark, sf_dir):
        raise RuntimeError("AnalysisException: PATH_NOT_FOUND")

    out = tmp_path / "hashes.json"
    queries = {
        "a": lambda spark, sf_dir: _Rows([(1, "x")]),
        "domain": domain,
        "b": lambda spark, sf_dir: _Rows([]),
    }
    module, _ = _snapshot_module(monkeypatch, queries, out)
    module.main()
    hashes = json.loads(out.read_text())
    assert sorted(hashes) == ["a", "b", "domain"]
    assert hashes["a"]["rows"] == 1 and hashes["a"]["sha"]
    assert hashes["domain"]["sha"] is None
    assert "PATH_NOT_FOUND" in hashes["domain"]["err"]


def test_snapshot_hashes_stops_when_the_session_is_lost(monkeypatch, tmp_path):
    out = tmp_path / "hashes.json"

    def lose_jvm(spark, sf_dir):
        spark.sparkContext.lost = True
        raise ConnectionRefusedError(111, "Connection refused")

    after = []
    queries = {
        "a": lambda spark, sf_dir: _Rows([(1,)]),
        "media_frame_sample": lose_jvm,
        "later": lambda spark, sf_dir: after.append(1) or _Rows([]),
    }
    module, _ = _snapshot_module(monkeypatch, queries, out)
    with pytest.raises(SystemExit) as exc:
        module.main()
    assert exc.value.code not in (0, None)
    assert "media_frame_sample" in str(exc.value.code)
    assert not after  # the sweep stopped at the lost query
    assert not out.exists()
