#!/usr/bin/env python
"""Count the code lines of Python files, optionally against a git ref.

A code line is a physical line that carries at least one token other
than a comment, a newline, an indent or a docstring. A docstring is a
string-literal expression statement that opens a module, class or
function body. Blank lines, comment-only lines and docstring lines do
not count; a statement split over several lines counts each line.

Usage:
  python scripts/code_lines.py PATH...                 # per-file counts
  python scripts/code_lines.py PATH... --against REF   # before, after, delta

Each PATH is a ``.py`` file or a directory searched recursively. With
``--against``, the files are those under the PATHs in the working tree
or at ``REF`` (read with ``git show``, relative to the repository
root); a file missing on one side counts 0 there.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import subprocess
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
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


def code_lines(source: str) -> int:
    """Number of code lines in ``source`` (see the module docstring)."""
    doc = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], capture_output=True, text=True, check=True
    ).stdout


def _worktree_files(paths: list[str], root: str) -> set[str]:
    out: set[str] = set()
    for p in paths:
        if os.path.isfile(p):
            out.add(os.path.relpath(os.path.abspath(p), root))
            continue
        for d, _, fs in os.walk(p):
            out.update(
                os.path.relpath(os.path.abspath(os.path.join(d, f)), root)
                for f in fs
                if f.endswith(".py")
            )
    return out


def _ref_files(ref: str, paths: list[str], root: str) -> set[str]:
    rel = [os.path.relpath(os.path.abspath(p), root) for p in paths]
    listed = _git("-C", root, "ls-tree", "-r", "--name-only", ref, "--", *rel)
    return {f for f in listed.splitlines() if f.endswith(".py")}


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="+")
    ap.add_argument("--against", metavar="REF")
    args = ap.parse_args(argv)
    root = _git("rev-parse", "--show-toplevel").strip()

    now = {}
    for f in _worktree_files(args.paths, root):
        with open(os.path.join(root, f), encoding="utf-8") as fh:
            now[f] = code_lines(fh.read())
    if args.against is None:
        for f in sorted(now):
            print(f"{now[f]:7d}  {f}")
        print(f"{sum(now.values()):7d}  total")
        return

    before = {
        f: code_lines(_git("-C", root, "show", f"{args.against}:{f}"))
        for f in _ref_files(args.against, args.paths, root)
    }
    print(f"{args.against:>8}  {'now':>7}  {'delta':>7}  file")
    for f in sorted(set(now) | set(before)):
        a, b = before.get(f, 0), now.get(f, 0)
        if a != b:
            print(f"{a:8d}  {b:7d}  {b - a:+7d}  {f}")
    a, b = sum(before.values()), sum(now.values())
    print(f"{a:8d}  {b:7d}  {b - a:+7d}  total ({len(set(now) | set(before))} files)")


if __name__ == "__main__":
    main(sys.argv[1:])
