"""Find copied code: pairs of functions that share many token shingles.

Usage: python tools/fork_scan.py [PATH] [--min N]

Every function (nested ones and methods too) in the ``.py`` files under
PATH (default: the ``configdrivendatapipeline_spark`` package) becomes
the set of its 8-token shingles. Tokens come from ``tokenize`` with
comments, strings (docstrings and SQL included) and layout tokens
dropped, so only code is compared. Each pair of functions that shares
at least N shingles (default 25) is printed as
``count  file:function  file:function``, largest first. A nested
function is never compared with the function that contains it.
"""
from __future__ import annotations

import argparse
import ast
import io
import os
import tokenize
from collections import defaultdict
from itertools import combinations
from pathlib import Path

K = 8
MIN_SHARED = 25
_SKIP = {
    tokenize.COMMENT,
    tokenize.STRING,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}
PKG = Path(__file__).resolve().parents[1] / "configdrivendatapipeline_spark"


def _functions(path: Path, rel: str) -> list[tuple[str, int, int, list[str]]]:
    """``(name, first line, last line, code tokens)`` per function."""
    src = path.read_text()
    toks = [
        (t.start[0], t.string)
        for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type not in _SKIP
    ]
    out = []

    def visit(node: ast.AST, prefix: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = prefix + child.name
                lo, hi = child.lineno, child.end_lineno
                body = [s for line, s in toks if lo <= line <= hi]
                out.append((f"{rel}:{name}", lo, hi, body))
                visit(child, name + ".")
            elif isinstance(child, ast.ClassDef):
                visit(child, prefix + child.name + ".")
            else:
                visit(child, prefix)

    visit(ast.parse(src), "")
    return out


def shared_shingles(root: str | os.PathLike = PKG) -> dict[tuple[str, str], int]:
    """``{(function a, function b): shared 8-token shingles}`` for every
    pair under ``root`` sharing at least one, names ``file:qualname``
    with ``file`` relative to ``root``."""
    root = Path(root)
    fns = []
    for path in sorted(root.rglob("*.py")):
        fns += _functions(path, path.relative_to(root).as_posix())
    index: dict[tuple[str, ...], list[int]] = defaultdict(list)
    for i, (_, _, _, body) in enumerate(fns):
        for sh in {tuple(body[j : j + K]) for j in range(len(body) - K + 1)}:
            index[sh].append(i)
    counts: dict[tuple[int, int], int] = defaultdict(int)
    for ids in index.values():
        for pair in combinations(ids, 2):
            counts[pair] += 1
    out = {}
    for (i, j), n in counts.items():
        (a, alo, ahi, _), (b, blo, bhi, _) = fns[i], fns[j]
        same_file = a.split(":")[0] == b.split(":")[0]
        if same_file and (alo <= blo <= bhi <= ahi or blo <= alo <= ahi <= bhi):
            continue  # a nested function against its own parent
        out[(a, b)] = n
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("path", nargs="?", default=PKG)
    ap.add_argument("--min", type=int, default=MIN_SHARED, help="least shared shingles shown")
    args = ap.parse_args()
    pairs = shared_shingles(args.path)
    for (a, b), n in sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0])):
        if n >= args.min:
            print(f"{n:5d}  {a}  {b}")


if __name__ == "__main__":
    main()
