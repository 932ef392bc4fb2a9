"""Count each module's code lines: total lines minus blank lines,
comment-only lines and docstring lines (module, class and function
docstrings, found with ``ast``). This is the size measure ROADMAP
directions judge "done" by; docstrings carry contracts, so they are
not counted as code.

Usage: python scripts/code_lines.py [path ...]
With no paths, every ``.py`` file under ``boatrace_database_spark/``
is counted. Prints one ``<code lines>  <path>`` line per file, then the
total.
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _docstring_lines(tree: ast.Module) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def _comment_only_lines(source: str) -> set[int]:
    code, comments = set(), set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.COMMENT:
            comments.add(tok.start[0])
        elif tok.type not in (
            tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT,
            tokenize.ENDMARKER,
        ):
            code.update(range(tok.start[0], tok.end[0] + 1))
    return comments - code


def kept_lines(source: str, skip: set[int] = frozenset()) -> list[tuple[int, str]]:
    """(line number, stripped text) of each line of ``source`` that is
    not blank, not comment-only, not part of a docstring and not in
    ``skip``."""
    skip = skip | _docstring_lines(ast.parse(source)) | _comment_only_lines(source)
    return [
        (i, line.strip())
        for i, line in enumerate(source.splitlines(), start=1)
        if line.strip() and i not in skip
    ]


def code_lines(source: str) -> int:
    """Lines of ``source`` that are not blank, not comment-only and not
    part of a docstring."""
    return len(kept_lines(source))


def module_paths(argv: list[str]) -> list[pathlib.Path]:
    """The paths named in ``argv``, or with none every ``.py`` file of
    the package."""
    if argv:
        return [pathlib.Path(p) for p in argv]
    return sorted((ROOT / "boatrace_database_spark").rglob("*.py"))


def main(argv: list[str]) -> None:
    total = 0
    for path in module_paths(argv):
        n = code_lines(path.read_text(encoding="utf-8"))
        total += n
        print(f"{n:6d}  {path}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
