"""Pig macro expansion — DEFINE name(params) RETURNS alias { body }
and IMPORT 'file.pig' (reference parser/PigMacro.java,
QueryParserDriver.java:568-572 expandMacro).

Like the reference, expansion is TEXTUAL and happens before parsing:
each invocation `out = name(args);` splices the body with $param →
argument and $return → out, and masks the body's internal aliases
with a per-expansion prefix (macro_<name>_<n>_) so repeated
invocations don't collide — the same hygiene scheme PigMacro uses.
Macros may invoke other macros (expansion loops to fixpoint, depth
capped to catch recursion, which Pig also forbids).
"""

from __future__ import annotations

import os
import re

from ..functions import registry

_DEFINE_RE = re.compile(
    r"define\s+(\w+)\s*\(([^)]*)\)\s+returns\s+((?:\w+\s*,\s*)*\w+)\s*\{",
    re.IGNORECASE,
)
# not line-anchored: IMPORT may share a line with other statements
# (QueryParser.g import_clause is a plain statement)
_IMPORT_RE = re.compile(r"(?:^|(?<=;))\s*import\s+'([^']+)'\s*;", re.IGNORECASE)
_MAX_DEPTH = 16


class Macro:
    def __init__(self, name: str, params: list[str], ret: list[str], body: str):
        self.name = name
        self.params = params
        self.ret = ret  # one or more return aliases; ['void'] = none
        self.body = body


def _find_block_end(src: str, open_idx: int) -> int:
    """Index just past the '}' matching src[open_idx]=='{' (handles
    nested FOREACH { } blocks inside macro bodies)."""
    depth = 0
    for i in range(open_idx, len(src)):
        if src[i] == "{":
            depth += 1
        elif src[i] == "}":
            depth -= 1
            if depth == 0:
                return i + 1
    raise SyntaxError("pig latin: unterminated macro body")


def _extract_macros(src: str) -> tuple[str, dict[str, Macro]]:
    macros: dict[str, Macro] = {}
    out = src
    while True:
        m = _DEFINE_RE.search(out)
        if not m:
            return out, macros
        name = m.group(1)
        params = [p.strip() for p in m.group(2).split(",") if p.strip()]
        ret = [r.strip() for r in m.group(3).split(",") if r.strip()]
        if len(set(p.lower() for p in params)) != len(params):
            # PigMacro rejects duplicated parameter names (reference
            # macro.conf negative 'Duplicated parameter')
            dup = next(p for i, p in enumerate(params) if p.lower() in
                       [q.lower() for q in params[:i]])
            raise SyntaxError(f"pig latin: duplicated macro parameter name: {dup}")
        if registry.find(name) is not None:
            # Pig rejects macro names that shadow builtin functions
            # (QueryParserDriver macro validation; macro.conf negative
            # 'macro name cannot be a built-in function')
            raise SyntaxError(
                f"pig latin: macro name {name!r} conflicts with a built-in function"
            )
        end = _find_block_end(out, m.end() - 1)
        body = out[m.end(): end - 1]
        macros[name.lower()] = Macro(name, params, ret, body)
        # consume an optional trailing ';'
        tail = end
        while tail < len(out) and out[tail] in " \t\r\n":
            tail += 1
        if tail < len(out) and out[tail] == ";":
            tail += 1
        out = out[: m.start()] + out[tail:]


def _mask_inner_aliases(body: str, macro: Macro, counter: int) -> str:
    """Rename aliases assigned inside the body (other than $-refs) to
    macro_<name>_<n>_<alias> — PigMacro's alias masking."""
    inner = set()
    for am in re.finditer(r"(?m)^\s*(\w+)\s*=", body):
        inner.add(am.group(1))
    for alias in inner:
        body = re.sub(rf"\b{re.escape(alias)}\b", f"macro_{macro.name}_{counter}_{alias}", body)
    return body


def _expand_once(src: str, macros: dict[str, Macro], counter: list[int]) -> tuple[str, bool]:
    changed = False

    def expand_call(whole: str, lhs: str, name: str, argstr: str) -> str:
        nonlocal changed
        macro = macros.get(name.lower())
        if macro is None:
            return whole
        args = [a.strip() for a in argstr.split(",") if a.strip()] if argstr.strip() else []
        # quoted string arguments drop their surrounding quotes on
        # expansion (PigMacro — bodies conventionally re-quote: the
        # canonical `$a = load '$in';` idiom)
        args = [a[1:-1] if len(a) >= 2 and a[0] == a[-1] == "'" else a for a in args]
        if len(args) != len(macro.params):
            raise SyntaxError(
                f"macro {macro.name}: expected {len(macro.params)} args, got {len(args)}"
            )
        lhs_names = [x.strip() for x in lhs.split(",")] if lhs else []
        if macro.ret == ["void"]:
            if lhs_names:
                raise SyntaxError(f"macro {macro.name} returns void; no alias to assign")
        elif len(lhs_names) != len(macro.ret):
            raise SyntaxError(
                f"macro {macro.name}: returns {len(macro.ret)} aliases, "
                f"invocation assigns {len(lhs_names)}"
            )
        changed = True
        counter[0] += 1
        body = _mask_inner_aliases(macro.body, macro, counter[0])
        for p, a in zip(macro.params, args):
            body = body.replace(f"${p}", a)
        for r, out_name in zip(macro.ret, lhs_names):
            body = body.replace(f"${r}", out_name)
        return body

    # invocations may share a line with other statements (after an
    # inlined IMPORT, for instance) — anchor on start-of-line OR ';'
    pattern = re.compile(
        r"(?m)(?:^|(?<=;))\s*(\w+(?:\s*,\s*\w+)*)\s*=\s*(\w+)\s*\(([^;]*)\)\s*;"
    )
    out = pattern.sub(lambda m: expand_call(m.group(0), m.group(1), m.group(2), m.group(3)), src)

    def repl_void(m: re.Match) -> str:
        # bare `name(args);` — only valid for RETURNS void macros
        macro = macros.get(m.group(1).lower())
        if macro is None or macro.ret != ["void"]:
            return m.group(0)
        return expand_call(m.group(0), "", m.group(1), m.group(2))

    out = re.sub(r"(?m)(?:^|(?<=;))\s*(\w+)\s*\(([^;]*)\)\s*;", repl_void, out)
    return out, changed


def expand(src: str, base_dir: str = ".") -> str:
    """IMPORT-inline then macro-expand to fixpoint."""

    def _inline(m: re.Match) -> str:
        path = m.group(1)
        full = path if os.path.isabs(path) else os.path.join(base_dir, path)
        with open(full) as fh:
            return fh.read()

    for _ in range(_MAX_DEPTH):
        new = _IMPORT_RE.sub(_inline, src)
        if new == src:
            break
        src = new

    src, macros = _extract_macros(src)
    if not macros:
        return src
    counter = [0]  # persistent across passes — every expansion unique
    for _ in range(_MAX_DEPTH):
        src, changed = _expand_once(src, macros, counter)
        if not changed:
            return src
    raise SyntaxError("pig latin: macro expansion did not converge (recursive macro?)")
