"""Count code lines: non-blank lines that are not comments or docstrings.

Usage::

    python scripts/code_lines.py feature_store_spark/sources
    python scripts/code_lines.py --defs feature_store_spark/sources/delta.py

Prints one ``<count>  <module>`` line per Python file under each path,
then the total. ``--defs`` adds one indented line per top-level function
or class. A docstring is a string literal that opens a module, class or
function body. A line that holds any other token counts, including a
continuation line of a multi-line expression. Standard library only.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def code_line_numbers(source: str) -> set[int]:
    """The 1-based numbers of the code lines of ``source``."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(source)):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        first = node.body[0] if node.body else None
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.difference_update(range(first.lineno, first.end_lineno + 1))
    return lines


def count(path: str) -> tuple[int, list[tuple[str, int]]]:
    """(code lines of the module, [(top-level def, its code lines)])."""
    with open(path, encoding="utf-8") as f:
        source = f.read()
    lines = code_line_numbers(source)
    defs = []
    for node in ast.parse(source).body:
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            start = min(
                [node.lineno] + [d.lineno for d in node.decorator_list]
            )
            n = sum(1 for i in range(start, node.end_lineno + 1) if i in lines)
            defs.append((node.name, n))
    return len(lines), defs


def modules(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs.sort()
                out += [
                    os.path.join(root, f)
                    for f in sorted(files)
                    if f.endswith(".py")
                ]
        else:
            out.append(p)
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="+", help="Python files or directories")
    ap.add_argument(
        "--defs", action="store_true", help="also count top-level defs"
    )
    args = ap.parse_args(argv)
    total = 0
    for path in modules(args.paths):
        n, defs = count(path)
        total += n
        print(f"{n:7d}  {path}")
        if args.defs:
            for name, k in defs:
                print(f"{k:7d}    {name}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
