"""Option budget: every defaulted parameter of a public function in the
engine's operator packages is set by at least one caller.

An option that no caller sets is a constant spelled as a keyword: it
widens the signature and keeps alive the branches that only its other
values select. The scan is syntactic (no imports, no Spark):

* targets are the defaulted parameters, positional and keyword-only, of
  every public top-level function in ``operators/``, ``sources/``,
  ``streaming/``, ``functions/`` and ``plans/``;
* callers are all calls in the package, ``tests/``, ``tools/``,
  ``perfbench/``, ``bench.py`` and ``__spark_entry__.py``, matched to a
  target by bare or attribute name, after resolving
  ``from … import f as g`` aliases;
* a call sets a parameter when it passes it by keyword or by position;
  ``*args`` sets every positional parameter and ``**kwargs`` every one.

Parsing every file with ``ast`` costs about two seconds (CPython 3.11,
one core of a 4-vCPU guest), so the scan blanks string literals and
comments with one regex pass (keeping the replacement fields of
f-strings, which may hold calls), finds the ``def`` lines and the calls
to target names in the blanked text, and parses only those signatures
and call expressions.

Run this file as a script to print the never-set parameters per module.
"""
from __future__ import annotations

import ast
import os
import re
from collections import Counter, defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "legendary_data_pipeline_spark"
TARGET_PACKAGES = ("operators", "sources", "streaming", "functions", "plans")
CALLER_ROOTS = (PKG, "tests", "tools", "perfbench", "bench.py", "__spark_entry__.py")

_LITERAL = re.compile(r"#[^\n]*|(?P<prefix>[rRbBuUfF]{0,2})(?P<quote>'''|\"\"\"|'|\")")
_FSTRING_FIELD = re.compile(r"\{\{|\}\}|\{[^{}]*(?:\{[^{}]*\}[^{}]*)*\}")
_DEF = re.compile(r"^def ([A-Za-z]\w*)\s*\(", re.M)
_CALL = re.compile(r"(?<![\w])([A-Za-z_]\w*)\s*\(")
_IMPORT = re.compile(r"\bimport\s+(\([^)]*\)|[^\n]*)")
_AS = re.compile(r"(\w+)\s+as\s+(\w+)")


def _py_files(rel: str):
    path = os.path.join(ROOT, rel)
    if path.endswith(".py"):
        if os.path.exists(path):
            yield path
        return
    for base, _dirs, files in os.walk(path):
        for name in sorted(files):
            if name.endswith(".py"):
                yield os.path.join(base, name)


def _literal_end(src: str, i: int, quote: str) -> int:
    """Index just past the unescaped ``quote`` that closes a literal whose
    body starts at ``i``."""
    while True:
        j = src.find(quote, i)
        if j < 0:
            return len(src)
        k = j - 1
        while src[k] == "\\":
            k -= 1
        if (j - 1 - k) % 2 == 0:
            return j + len(quote)
        i = j + 1


def _blank_fstring_text(body: str) -> str:
    out, pos = [], 0
    for field in _FSTRING_FIELD.finditer(body):
        out.append(" " * (field.start() - pos))
        text = field.group()
        out.append("  " if text in ("{{", "}}") else text)
        pos = field.end()
    out.append(" " * (len(body) - pos))
    return "".join(out)


def blank_literals(src: str) -> str:
    """``src`` with comments and string-literal text replaced by spaces
    (same length, quotes kept); f-string replacement fields stay."""
    out, pos = [], 0
    while (m := _LITERAL.search(src, pos)) is not None:
        quote = m.group("quote")
        if quote is None:
            out += [src[pos:m.start()], " " * (m.end() - m.start())]
            pos = m.end()
            continue
        end = _literal_end(src, m.end(), quote)
        body = src[m.end():end - len(quote)]
        is_f = "f" in m.group("prefix").lower()
        out += [src[pos:m.end()], _blank_fstring_text(body) if is_f else " " * len(body), quote]
        pos = end
    out.append(src[pos:])
    return "".join(out)


def _bracket_end(src: str, i: int) -> int:
    """Index just past the bracket that closes the one at ``i``."""
    depth = 0
    for j in range(i, len(src)):
        c = src[j]
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
            if depth == 0:
                return j + 1
    return len(src)


def _blanked_sources() -> dict[str, str]:
    out = {}
    for rel in CALLER_ROOTS:
        for path in _py_files(rel):
            with open(path, encoding="utf-8") as fh:
                out[path] = blank_literals(fh.read())
    return out


def defaulted_parameters(texts: dict[str, str]) -> dict[tuple[str, str], list[tuple[str, int | None]]]:
    """(module, function) -> [(parameter, positional index or None)]."""
    out: dict[tuple[str, str], list[tuple[str, int | None]]] = {}
    for pkg in TARGET_PACKAGES:
        pkg_dir = os.path.join(ROOT, PKG, pkg)
        for path in _py_files(os.path.join(PKG, pkg)):
            module = f"{pkg}.{os.path.relpath(path, pkg_dir)[:-3].replace(os.sep, '.')}"
            src = texts[path]
            for m in _DEF.finditer(src):
                paren = m.end() - 1
                sig = src[paren:_bracket_end(src, paren)]
                a = ast.parse(f"def f{sig}: pass").body[0].args
                positional = a.posonlyargs + a.args
                first_default = len(positional) - len(a.defaults)
                params = [(p.arg, i) for i, p in enumerate(positional) if i >= first_default]
                params += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
                if params:
                    out[(module, m.group(1))] = params
    return out


def never_set_parameters() -> list[tuple[str, str, str]]:
    """[(module, function, parameter)] for every defaulted parameter that
    no call anywhere sets."""
    texts = _blanked_sources()
    targets = defaulted_parameters(texts)
    names = {fn for _module, fn in targets}
    keywords: dict[str, set[str]] = defaultdict(set)
    positionals: Counter = Counter()
    star: set[str] = set()
    starstar: set[str] = set()
    for src in texts.values():
        aliases = {
            alias: name
            for m in _IMPORT.finditer(src)
            for name, alias in _AS.findall(m.group(1))
        }
        for m in _CALL.finditer(src):
            name = aliases.get(m.group(1), m.group(1))
            if name not in names or src[max(0, m.start() - 4):m.start()] == "def ":
                continue
            paren = m.end() - 1
            call = ast.parse("f" + src[paren:_bracket_end(src, paren)], mode="eval").body
            n_pos = 0
            for arg in call.args:
                if isinstance(arg, ast.Starred):
                    star.add(name)
                else:
                    n_pos += 1
            positionals[name] = max(positionals[name], n_pos)
            for kw in call.keywords:
                if kw.arg is None:
                    starstar.add(name)
                else:
                    keywords[name].add(kw.arg)
    unset = []
    for (module, fn), params in sorted(targets.items()):
        if fn in starstar:
            continue
        for name, index in params:
            if name in keywords[fn]:
                continue
            if index is not None and (fn in star or index < positionals[fn]):
                continue
            unset.append((module, fn, name))
    return unset


def test_blank_literals_keeps_code_and_fstring_fields():
    src = 'f(a, "g(b)")  # h(c)\nx = f"{g(d, k=1)} i(e)"\n'
    blanked = blank_literals(src)
    assert len(blanked) == len(src)
    assert "g(b)" not in blanked and "h(c)" not in blanked and "i(e)" not in blanked
    assert "f(a, " in blanked and "{g(d, k=1)}" in blanked


def test_every_defaulted_option_is_set_by_a_caller():
    unset = never_set_parameters()
    assert not unset, (
        f"{len(unset)} defaulted parameter(s) that no caller sets; make each "
        "a literal or a module constant:\n"
        + "\n".join(f"  {m}.{f}({p})" for m, f, p in unset)
    )


if __name__ == "__main__":
    rows = never_set_parameters()
    for module, count in Counter(m for m, _f, _p in rows).most_common():
        print(f"{module:24s} {count}")
    print(f"never set: {len(rows)}")
