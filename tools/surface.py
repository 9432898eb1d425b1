"""Print the size of the ``fdf_spark`` surface: lines by kind and
defaulted public parameters.

Run from anywhere: ``python tools/surface.py [PACKAGE_DIR]`` (default:
the ``fdf_spark`` next to this script's directory).  Pass another
checkout's package directory to compare two trees.

Lines — every physical line of every ``*.py`` file, classified with
``tokenize``:

- *code*: the line holds (part of) any token other than a comment or a
  docstring;
- *docstring*: otherwise, the line holds part of a string literal that
  is a statement by itself (module/class/function docstrings and
  attribute docstrings);
- *comment*: otherwise, the line holds a ``#`` comment;
- *blank*: everything else.

Defaulted public parameters — parameters with a default value
(positional or keyword-only; ``*args``/``**kwargs`` never count) of
every *public function*: a ``def`` at module level or directly in a
module-level class, whose own name and whose class's name do not start
with ``_`` (so dunder methods and closures are not counted).
"""

from __future__ import annotations

import ast
import sys
import tokenize
from pathlib import Path

_SKIP = {tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER}


def line_kinds(path: Path) -> dict[str, int]:
    """Count ``path``'s lines by kind (see the module docstring)."""
    with open(path, "rb") as fh:
        toks = [t for t in tokenize.tokenize(fh.readline) if t.type != tokenize.ENCODING]
    n_lines = len(path.read_bytes().decode("utf-8").splitlines())
    kind: dict[int, str] = {}
    rank = {"comment": 1, "docstring": 2, "code": 3}
    prev = tokenize.NEWLINE  # the last token that is not a comment or NL
    for i, t in enumerate(toks):
        if t.type in _SKIP:
            if t.type != tokenize.NL:
                prev = t.type
            continue
        if t.type == tokenize.COMMENT:
            k = "comment"
        else:
            nxt = next((u for u in toks[i + 1:] if u.type not in (tokenize.COMMENT, tokenize.NL)), None)
            standalone = (
                t.type == tokenize.STRING
                and prev in (tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT)
                and nxt is not None
                and nxt.type in (tokenize.NEWLINE, tokenize.ENDMARKER)
            )
            k = "docstring" if standalone else "code"
            prev = t.type
        for ln in range(t.start[0], t.end[0] + 1):
            if rank[k] > rank.get(kind.get(ln, ""), 0):
                kind[ln] = k
    out = {k: sum(1 for v in kind.values() if v == k) for k in rank}
    out["blank"] = n_lines - sum(out.values())
    return out


def defaulted_public_params(path: Path) -> tuple[int, int]:
    """``(public functions, defaulted parameters)`` defined in ``path``."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    funcs = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            funcs.append(node)
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            funcs += [n for n in node.body if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    public = [f for f in funcs if not f.name.startswith("_")]
    n_def = sum(
        len(f.args.defaults) + sum(d is not None for d in f.args.kw_defaults) for f in public
    )
    return len(public), n_def


def main(argv: list[str]) -> None:
    pkg = Path(argv[0]) if argv else Path(__file__).resolve().parent.parent / "fdf_spark"
    files = sorted(pkg.rglob("*.py"))
    totals = {"code": 0, "docstring": 0, "comment": 0, "blank": 0}
    n_funcs = n_defaults = 0
    for f in files:
        for k, v in line_kinds(f).items():
            totals[k] += v
        a, b = defaulted_public_params(f)
        n_funcs += a
        n_defaults += b
    print(f"{pkg}: {len(files)} files, {sum(totals.values()):,} lines")
    for k, v in totals.items():
        print(f"  {k:<10} {v:>7,}")
    print(f"public functions          {n_funcs:>6,}")
    print(f"defaulted public params   {n_defaults:>6,}")


if __name__ == "__main__":
    main(sys.argv[1:])
