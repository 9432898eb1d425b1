"""Print the size of the ``fdf_spark`` surface: lines by kind and
defaulted public parameters.

Run from anywhere: ``python tools/surface.py [--unused] [PACKAGE_DIR]`` (default:
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

``--unused`` prints, one per line as ``module function param``, every
defaulted public parameter that no caller passes.  The callers are
every call site in ``fdf_spark``, ``tests``, ``tools``, ``perfbench``,
``bench.py`` and ``__spark_entry__.py``.  The scan is by name: a call
whose callee is a bare name or an attribute equal to the function's
name (``f(...)``, ``mod.f(...)``, ``obj.f(...)``, or
``functools.partial(f, ...)``; a name bound by ``from m import f as g``
counts as ``f``) passes a parameter when it names it as a
keyword, when it has at least as many positional arguments as the
parameter's position (``self``/``cls`` not counted for methods), or
when it has a ``*`` argument (positional parameters) or a ``**``
argument (every parameter).  Names are shared across modules, so a hit
is a candidate, not a proof: check each by hand.
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


def _public_defs(tree: ast.Module):
    """``(function node, is_method)`` for every public function."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if not node.name.startswith("_"):
                yield node, False
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            for n in node.body:
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.name[0] != "_":
                    deco = {d.id for d in n.decorator_list if isinstance(d, ast.Name)}
                    yield n, "staticmethod" not in deco


def _call_shapes(paths: list[Path]) -> dict[str, list[tuple[set[str], int, bool, bool]]]:
    """Callee name -> ``(keywords, n_positional, has_star, has_double_star)`` per call."""
    calls: dict[str, list[tuple[set[str], int, bool, bool]]] = {}
    for path in paths:
        tree = ast.parse(path.read_text(encoding="utf-8"))
        alias = {
            a.asname: a.name
            for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
            for a in n.names if a.asname
        }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func, args = node.func, node.args
            name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
            name = alias.get(name, name)
            if name == "partial" and args and isinstance(args[0], (ast.Name, ast.Attribute)):
                name = args[0].id if isinstance(args[0], ast.Name) else args[0].attr
                args = args[1:]
            if name is None:
                continue
            calls.setdefault(name, []).append((
                {k.arg for k in node.keywords if k.arg},
                sum(not isinstance(a, ast.Starred) for a in args),
                any(isinstance(a, ast.Starred) for a in args),
                any(k.arg is None for k in node.keywords),
            ))
    return calls


def unused_params(pkg: Path) -> list[tuple[str, str, str]]:
    """``(module, function, param)`` for each defaulted public parameter no caller passes."""
    root = pkg.resolve().parent
    traffic = [
        p for d in ("fdf_spark", "tests", "tools", "perfbench") for p in sorted((root / d).rglob("*.py"))
    ]
    traffic += [root / f for f in ("bench.py", "__spark_entry__.py") if (root / f).exists()]
    calls = _call_shapes(traffic)
    out = []
    for path in sorted(pkg.rglob("*.py")):
        module = ".".join(path.relative_to(root).with_suffix("").parts)
        for f, is_method in _public_defs(ast.parse(path.read_text(encoding="utf-8"))):
            positional = f.args.posonlyargs + f.args.args
            first = len(positional) - len(f.args.defaults)
            defaulted = [(a.arg, i) for i, a in enumerate(positional) if i >= first]
            kw = zip(f.args.kwonlyargs, f.args.kw_defaults)
            defaulted += [(a.arg, None) for a, d in kw if d is not None]
            for param, pos in defaulted:
                if pos is not None and is_method:
                    pos -= 1
                passed = any(
                    param in kw or dstar or (pos is not None and (npos > pos or star))
                    for kw, npos, star, dstar in calls.get(f.name, [])
                )
                if not passed:
                    out.append((module, f.name, param))
    return out


def main(argv: list[str]) -> None:
    unused = "--unused" in argv
    argv = [a for a in argv if a != "--unused"]
    pkg = Path(argv[0]) if argv else Path(__file__).resolve().parent.parent / "fdf_spark"
    if unused:
        hits = unused_params(pkg)
        for row in hits:
            print(*row)
        print(f"{len(hits)} never-passed defaulted public params", file=sys.stderr)
        return
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
