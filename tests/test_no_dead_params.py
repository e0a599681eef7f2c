"""Every function parameter in the package is read by its body.

A parameter that nothing reads is a knob that does nothing: a caller
who sets it gets the default behaviour silently (``mode="URGNA2012"``
once reached ``page_to_triples`` and canonicalized with URDNA2015).
The scan is syntactic: a parameter counts as read when its name is
loaded anywhere in the function's body, nested functions included."""

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "racket_linkeddata_spark")

# callbacks whose arity the caller fixes, keyed (module path, function,
# parameter)
ALLOWED = {
    # F.filter passes (element, index) to a two-argument lambda; the
    # span filter keeps or drops a word by its index alone
    ("operators/spans.py", "<lambda>", "x"):
        "F.filter's (x, i) callback form",
    # applyInPandasWithState calls fn(key, pdfs, state); the bloom
    # dedup keys on the rows' own hashes, not the group key
    ("streaming/stateful.py", "_dedup_group", "key"):
        "applyInPandasWithState's (key, pdfs, state) signature",
}


def _params(fn):
    a = fn.args
    names = [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]
    names += [p.arg for p in (a.vararg, a.kwarg) if p is not None]
    return [n for n in names if n not in ("self", "cls")]


def _unread_params():
    found = set()
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef,
                                       ast.Lambda)):
                    continue
                body = fn.body if isinstance(fn.body, list) else [fn.body]
                loaded = {n.id for stmt in body for n in ast.walk(stmt)
                          if isinstance(n, ast.Name)
                          and isinstance(n.ctx, ast.Load)}
                label = getattr(fn, "name", "<lambda>")
                found.update((rel, label, p) for p in _params(fn)
                             if p not in loaded)
    return found


def test_every_parameter_is_read():
    unread = _unread_params()
    assert sorted(unread - set(ALLOWED)) == []
    # an allowance whose parameter is read again (or gone) is stale
    assert sorted(set(ALLOWED) - unread) == []
