"""Pig Latin lexer + recursive-descent parser.

Statement surface derived from the reference grammar
(parser/QueryParser.g:370-386 op_clause: load/filter/foreach/group/
cogroup/join/order/distinct/limit/sample/union/cross/rank/split/
stream/store, plus dump/describe/explain at the Grunt level).
Hand-written LL parser (no third-party parser generator available in
the target environment); expression precedence follows
QueryParser.g's cond/expr ladder.

AST nodes are plain dataclasses consumed by latin.translate.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .. import pigtypes

# ----------------------------------------------------------------------
# lexer
# ----------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>--[^\n]*|/\*.*?\*/)
  | (?P<num>\d+\.\d+([eE][-+]?\d+)?[fF]?|\d+[lL]?)
  | (?P<str>'(?:[^'\\]|\\.)*')
  | (?P<exec>`[^`]*`)
  | (?P<dollar>\$\w+)
  | (?P<id>[A-Za-z_][A-Za-z0-9_]*(::[A-Za-z_][A-Za-z0-9_]*)*)
  | (?P<op>==|!=|<=|>=|\.\.|[-+*/%()<>,;.#?:{}\[\]=@])
    """,
    re.VERBOSE | re.DOTALL,
)

KEYWORDS = {
    "load", "using", "as", "filter", "by", "foreach", "generate", "group",
    "cogroup", "all", "join", "left", "right", "full", "outer", "inner",
    "order", "asc", "desc", "distinct", "limit", "sample", "union",
    "onschema", "cross", "rank", "dense", "cube", "rollup", "split", "into", "if",
    "otherwise", "stream", "through", "store", "dump", "describe",
    "explain", "illustrate", "and", "or", "not", "is", "null", "matches", "flatten",
    "assert", "define", "register", "set", "in", "case", "when", "then",
    "else", "end", "true", "false",
}


@dataclass
class Tok:
    kind: str  # 'num' 'str' 'dollar' 'id' 'kw' 'op' 'eof'
    text: str
    pos: int


def tokenize(src: str) -> list[Tok]:
    toks: list[Tok] = []
    i = 0
    while i < len(src):
        m = _TOKEN_RE.match(src, i)
        if not m:
            raise SyntaxError(f"pig latin: bad character {src[i]!r} at offset {i}")
        i = m.end()
        kind = m.lastgroup
        if kind in ("ws", "comment"):
            continue
        text = m.group()
        if kind == "id" and text.lower() in KEYWORDS:
            toks.append(Tok("kw", text.lower(), m.start()))
        else:
            toks.append(Tok(kind, text, m.start()))
    toks.append(Tok("eof", "", len(src)))
    return toks


# ----------------------------------------------------------------------
# AST
# ----------------------------------------------------------------------


@dataclass
class ExplainStmt:
    """EXPLAIN with the GruntParser.processExplain surface:
    [-script 'f.pig'] [-param k=v ...] [-out target] [-dot|-xml]
    [-brief] [alias | @]; bare explain = the last-defined alias."""
    rel: str | None  # alias, "@" (last relation), or None (last alias)
    script: str | None = None
    out: str | None = None
    fmt: str = "text"  # text | dot | xml
    brief: bool = False
    params: dict | None = None


@dataclass
class Field:
    name: str
    type: str | None = None  # pig type name


@dataclass
class Load:
    path: str
    loader: str | None
    loader_args: list[str]
    schema: list[Field] | None


@dataclass
class Filter:
    rel: str
    cond: "Expr"


@dataclass
class GenItem:
    expr: "Expr"
    alias: str | None
    flatten: bool = False


@dataclass
class NestedStmt:
    """One statement inside a FOREACH { ... } block
    (QueryParser.g:921-971 nested_blk: filter/order/distinct/limit/
    projection over inner bags)."""

    alias: str
    kind: str  # 'distinct' | 'filter' | 'order' | 'limit' | 'project'
    source: str  # child-relation ref ('B', 'B.col') or earlier inner alias
    cond: object = None  # filter predicate / order cols / limit n


@dataclass
class RangeProj:
    """Positional range projection ``a .. c`` / ``.. c`` / ``a ..``
    (QueryParser.g col_range): expands to every schema column between
    the endpoints inclusive."""

    start: str | None
    end: str | None


@dataclass
class Foreach:
    rel: str
    items: list[GenItem]
    nested: list["NestedStmt"] | None = None


@dataclass
class Group:
    rels: list[str]
    keys: list[list["Expr"]]  # per input; empty = ALL
    cogroup: bool = False
    inner: list[bool] | None = None  # per-input INNER flags


@dataclass
class Join:
    rels: list[str]
    keys: list[list["Expr"]]
    how: str  # inner/left/right/full
    strategy: str | None  # replicated/skewed/merge


@dataclass
class Order:
    rel: str
    keys: list[tuple["Expr", bool]]  # (expr, ascending)


@dataclass
class Simple:
    op: str  # distinct / dump / describe / explain
    rel: str


@dataclass
class Register:
    """REGISTER 'script.py' USING jython AS ns (QueryParser.g:355 +
    scripting engines): path + optional engine/namespace. A bare
    REGISTER jar stays a recorded no-op (code is Python-native)."""

    path: str
    engine: str | None = None
    namespace: str | None = None


@dataclass
class Limit:
    rel: str
    n: "Expr"


@dataclass
class Sample:
    rel: str
    p: "Expr"


@dataclass
class Union:
    rels: list[str]
    onschema: bool


@dataclass
class Cross:
    rels: list[str]


@dataclass
class Rank:
    rel: str
    keys: list[tuple["Expr", bool]]
    dense: bool


@dataclass
class CubeStmt:
    """CUBE rel BY CUBE(d1,d2) / ROLLUP(d3,d4) [, ...] (QueryParser.g:595)."""

    rel: str
    clauses: list[tuple[str, list["Expr"]]]  # ('cube'|'rollup', dims)


@dataclass
class SplitStmt:
    rel: str
    branches: list[tuple[str, "Expr | None"]]  # (alias, cond); None = OTHERWISE


@dataclass
class Stream:
    rel: str
    cmd: str
    schema: list[Field]


@dataclass
class Store:
    rel: str
    path: str
    storer: str | None
    storer_args: list[str]


@dataclass
class AssertStmt:
    rel: str
    cond: "Expr"
    msg: str | None


@dataclass
class Define:
    alias: str
    func: str
    args: list


@dataclass
class SetStmt:
    key: str
    value: str


@dataclass
class Assign:
    alias: str
    op: object


@dataclass
class Realias:
    alias: str
    src: str


@dataclass
class Script:
    statements: list[object] = field(default_factory=list)


# expressions
@dataclass
class Num:
    value: str


@dataclass
class Str:
    value: str


@dataclass
class Bool:
    value: bool


@dataclass
class Null:
    pass


@dataclass
class Col:
    name: str  # identifier, $N, or dotted a.b / group


@dataclass
class Bin:
    op: str
    left: "Expr"
    right: "Expr"


@dataclass
class Un:
    op: str  # 'not' / 'neg'
    operand: "Expr"


@dataclass
class IsNull:
    operand: "Expr"
    negated: bool


@dataclass
class Matches:
    operand: "Expr"
    pattern: str


@dataclass
class InList:
    operand: "Expr"
    options: list["Expr"]


@dataclass
class BinCond:
    cond: "Expr"
    then: "Expr"
    otherwise: "Expr"


@dataclass
class CaseWhen:
    subject: "Expr | None"
    whens: list[tuple["Expr", "Expr"]]
    otherwise: "Expr | None"


@dataclass
class Call:
    func: str
    args: list["Expr"]


@dataclass
class MultiCol:
    """Multi-column bag/tuple projection ``rel.(c1, c2, ...)``
    (QueryParser.g col_ref_list inside a path) — projects a bag of
    structs to a bag of narrower tuples."""

    rel: str
    cols: list


@dataclass
class Cast:
    type: str
    operand: "Expr"


@dataclass
class Star:
    pass


@dataclass
class MapLookup:
    operand: "Expr"
    key: str


Expr = object

# ----------------------------------------------------------------------
# parser
# ----------------------------------------------------------------------

PIG_TYPES = frozenset(pigtypes.TYPES)


class Parser:
    def __init__(self, toks: list[Tok]):
        self.toks = toks
        self.i = 0

    # -- token helpers
    def peek(self, k: int = 0) -> Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept(self, kind: str, text: str | None = None) -> Tok | None:
        t = self.peek()
        if t.kind == kind and (text is None or t.text == text):
            return self.next()
        return None

    def expect(self, kind: str, text: str | None = None) -> Tok:
        t = self.accept(kind, text)
        if t is None:
            got = self.peek()
            raise SyntaxError(f"pig latin: expected {text or kind}, got {got.text!r} at offset {got.pos}")
        return t

    def _ident(self) -> str:
        t = self.peek()
        if t.kind == "id":
            return self.next().text
        # allow non-reserved keywords as identifiers where unambiguous
        if t.kind == "kw" and t.text in ("group",):
            return self.next().text
        raise SyntaxError(f"pig latin: expected identifier, got {t.text!r} at offset {t.pos}")

    # -- entry
    def parse_script(self) -> Script:
        script = Script()
        while self.peek().kind != "eof":
            if self.accept("op", ";"):
                continue
            script.statements.append(self.statement())
        return script

    def statement(self):
        t = self.peek()
        if t.kind == "kw" and t.text in ("store", "dump", "describe", "explain", "illustrate", "split", "assert"):
            return self._top_level_op()
        if t.kind == "kw" and t.text in ("register", "define", "set"):
            return self._preamble_stmt()
        if t.kind == "id" and t.text.lower() == "exec":
            # Grunt `exec;` — force-execute queued statements
            # (GruntParser). STORE is already eager here, so the
            # execution boundary is a recorded no-op.
            self.next()
            self.accept("op", ";")  # Grunt allows a bare `exec` line
            return SetStmt("__exec_boundary__", "")
        alias = self._ident()
        self.expect("op", "=")
        # realias `a = b;` (QueryParser.g:364 statement-level form):
        # bare identifier followed by the terminator
        if self.peek().kind == "id" and self.peek(1).kind == "op" and self.peek(1).text == ";":
            src = self._ident()
            self.expect("op", ";")
            return Realias(alias, src)
        op = self._op_clause()
        # optional PARALLEL n (reducer-count hint, QueryParser.g). Spark
        # parallelism is AQE-governed; recorded as advisory metadata.
        t = self.peek()
        if t.kind == "id" and t.text.lower() == "parallel":
            self.next()
            op.parallel = int(self.next().text)  # type: ignore[attr-defined]
        if isinstance(op, Foreach) and op.nested is not None:
            self.accept("op", ";")  # trailing ';' after '}' is optional
        else:
            self.expect("op", ";")
        return Assign(alias, op)

    def _preamble_stmt(self):
        """REGISTER jar / DEFINE alias Func(args) / SET key value —
        QueryParser.g:355-361. REGISTER is a recorded no-op (code
        registration is Python-native here); SET maps known keys to
        Spark confs; DEFINE installs a UDF alias."""
        kw = self.next().text
        if kw == "register":
            if self.peek().kind == "str":
                path = self._string()
            else:
                # unquoted path = ONE whitespace-delimited token run
                # (adjacent tokens only — `register x.jar` with no
                # terminating ';' is legal in the reference corpus, so
                # a whitespace break ends the path, never the next
                # statement's tokens). An ADJACENT `using` keyword
                # token stays part of the path (`register my-using.jar`
                # — r10 ADVICE); the engine clause's `using` is always
                # whitespace-separated, so the pos check alone ends the
                # run before it
                parts = [self.next()]
                while (
                    not (self.peek().kind == "op" and self.peek().text == ";")
                    and self.peek().kind != "eof"
                    and self.peek().pos == parts[-1].pos + len(parts[-1].text)
                ):
                    parts.append(self.next())
                path = "".join(t.text for t in parts)
            engine = namespace = None
            if self.accept("kw", "using"):
                engine = self._ident()
                if self.accept("kw", "as"):
                    namespace = self._ident()
            self.accept("op", ";")  # optional — corpus registers omit it
            return Register(path, engine, namespace)
        if kw == "set":
            # dotted conf keys (SET mapreduce.input.fileinputformat.
            # split.maxsize '300'), hyphenated segments
            # (pig.error-handling.enabled) and quoted or bare values
            key = self.next().text
            # join '.'/'-'-separated key segments ONLY when the next
            # token is another identifier — `set default_parallel -1`
            # must keep -1 as the VALUE, not fold it into the key
            while (
                self.peek().kind == "op"
                and self.peek().text in (".", "-")
                and self.peek(1).kind in ("id", "kw")
            ):
                key += self.next().text + self.next().text
            t = self.next()
            if t.kind == "op" and t.text == "-" and self.peek().kind == "num":
                value = "-" + self.next().text  # negative value (-1)
            else:
                value = t.text[1:-1] if t.kind == "str" else t.text
            # the terminating ';' is optional in practice (GruntParser
            # accepts a bare `set default_parallel 2` line; the e2e
            # corpus uses it) — SET consumes exactly one value token,
            # so there's no ambiguity
            self.accept("op", ";")
            return SetStmt(key, value)
        # define
        alias = self._ident()
        if self.peek().kind == "exec":
            # DEFINE alias `cmd` [SHIP(..)|CACHE(..)|INPUT(..)|OUTPUT(..)|stderr(..)]
            # (QueryParser.g command clause). The exec string becomes a
            # STREAM THROUGH command; SHIP/CACHE lists are recorded and
            # otherwise no-ops here — local/cluster file distribution
            # is Spark's --files domain, not the translator's.
            cmd = self.next().text[1:-1]
            extras = []
            while self.peek().kind in ("id", "kw") and self.peek().text.lower() in ("ship", "cache", "input", "output", "stderr"):
                kind = self.next().text.lower()
                self.expect("op", "(")
                depth, items = 1, []
                while depth:
                    t = self.next()
                    if t.kind == "op" and t.text == "(":
                        depth += 1
                        items.append(("tok", "("))
                    elif t.kind == "op" and t.text == ")":
                        depth -= 1
                        if depth:
                            items.append(("tok", ")"))
                    elif t.kind == "str":
                        items.append(("str", t.text[1:-1]))
                    else:
                        # keep identifiers/ops so INPUT(stdin USING
                        # PigStreaming(',')) retains its serde spec
                        items.append(("tok", t.text))
                extras.append((kind, items))
            self.expect("op", ";")
            return Define(alias, cmd, ["__exec__", extras])
        func, args = self._func_spec()
        self.expect("op", ";")
        return Define(alias, func, args)

    def _top_level_op(self):
        kw = self.next().text
        if kw == "store":
            rel = self._ident()
            self.expect("kw", "into")
            path = self._string()
            storer, args = None, []
            if self.accept("kw", "using"):
                storer, args = self._func_spec()
            self.expect("op", ";")
            return Store(rel, path, storer, args)
        if kw == "explain":
            script = out = None
            fmt, brief = "text", False
            params: dict = {}
            while self.accept("op", "-"):
                flag = self._ident().lower()
                if flag == "script":
                    script = self._path_like()
                elif flag == "out":
                    out = self._path_like()
                elif flag == "param":
                    k = self._ident()
                    self.expect("op", "=")
                    params[k] = self._path_like()
                elif flag == "dot":
                    fmt = "dot"
                elif flag == "xml":
                    fmt = "xml"
                elif flag == "brief":
                    brief = True
                else:
                    raise SyntaxError(
                        f"pig latin: explain: unknown option -{flag} "
                        "(supported: -script, -out, -param, -dot, -xml, -brief)"
                    )
            rel = None
            if self.accept("op", "@"):
                rel = "@"
            elif self.peek().kind == "id":
                rel = self._ident()
            self.expect("op", ";")
            return ExplainStmt(rel, script, out, fmt, brief, params or None)
        if kw in ("dump", "describe", "illustrate"):
            # bare `describe;` / `describe @;` — last alias / last
            # relation (GruntParser.processDescribe:296)
            if kw == "describe" and self.accept("op", "@"):
                rel = "@"
            elif kw == "describe" and self.peek().kind == "op" and self.peek().text == ";":
                rel = None
            else:
                rel = self._ident()
            self.expect("op", ";")
            return Simple(kw, rel)
        if kw == "assert":
            rel = self._ident()
            self.expect("kw", "by")
            cond = self.expr()
            msg = None
            if self.accept("op", ","):
                msg = self._string()
            self.expect("op", ";")
            return AssertStmt(rel, cond, msg)
        if kw == "split":
            rel = self._ident()
            self.expect("kw", "into")
            branches: list[tuple[str, object]] = []
            while True:
                b_alias = self._ident()
                if self.accept("kw", "if"):
                    branches.append((b_alias, self.expr()))
                else:
                    self.expect("kw", "otherwise")
                    branches.append((b_alias, None))
                if not self.accept("op", ","):
                    break
            self.expect("op", ";")
            return SplitStmt(rel, branches)
        raise SyntaxError(f"unhandled statement {kw}")

    def _op_clause(self):
        t = self.peek()
        if t.kind == "id" and t.text.lower() in ("native", "mapreduce"):
            raise NotImplementedError(
                "pig latin: NATIVE/MAPREDUCE jar execution is unsupported by design "
                "(SURVEY §2.2#26 — a Spark engine cannot host Hadoop job jars); run "
                "the Java job externally and LOAD its output path instead"
            )
        if t.kind != "kw":
            raise SyntaxError(f"pig latin: expected operator keyword, got {t.text!r} at offset {t.pos}")
        kw = self.next().text
        method = getattr(self, f"_op_{kw}", None)
        if method is None:
            raise SyntaxError(f"pig latin: unsupported operator {kw.upper()}")
        return method()

    # -- operator clauses
    def _op_load(self):
        path = self._string()
        loader, args = None, []
        if self.accept("kw", "using"):
            loader, args = self._func_spec()
        schema = None
        if self.accept("kw", "as"):
            schema = self._schema()
        return Load(path, loader, args, schema)

    def _op_filter(self):
        rel = self._ident()
        self.expect("kw", "by")
        return Filter(rel, self.expr())

    def _op_foreach(self):
        if self.peek().kind == "op" and self.peek().text == "(":
            # inline relational clause (QueryParser.g:364 nested_op_clause):
            # FOREACH (GROUP a ALL) GENERATE ... — the parenthesized op
            # rides in Foreach.rel as an AST node; the translator
            # evaluates it as an anonymous relation
            self.next()
            rel = self._op_clause()
            self.expect("op", ")")
        else:
            rel = self._ident()
        if self.accept("op", "{"):
            return self._foreach_block(rel)
        self.expect("kw", "generate")
        items = [self._gen_item()]
        while self.accept("op", ","):
            items.append(self._gen_item())
        return Foreach(rel, items)

    def _foreach_block(self, rel: str):
        """FOREACH rel { inner-stmts; GENERATE ...; }"""
        nested: list[NestedStmt] = []
        while not (self.peek().kind == "kw" and self.peek().text == "generate"):
            alias = self._ident()
            self.expect("op", "=")
            t = self.peek()
            if t.kind == "kw" and t.text == "distinct":
                self.next()
                nested.append(NestedStmt(alias, "distinct", self._dotted()))
            elif t.kind == "kw" and t.text == "filter":
                self.next()
                src = self._nested_ref()
                self.expect("kw", "by")
                nested.append(NestedStmt(alias, "filter", src, self.expr()))
            elif t.kind == "kw" and t.text == "order":
                self.next()
                src = self._nested_ref()
                self.expect("kw", "by")
                # per-column [ASC|DESC], as in QueryParser.g
                # order_by_clause; '*' = every column, $N positional
                cols = []
                while True:
                    if self.peek().kind == "op" and self.peek().text == "*":
                        self.next()
                        cname = "*"
                    else:
                        cname = self._nested_ref()
                    asc = True
                    if self.peek().kind == "kw" and self.peek().text in ("asc", "desc"):
                        asc = self.next().text == "asc"
                    cols.append((cname, asc))
                    if not self.accept("op", ","):
                        break
                if self.accept("kw", "using"):
                    self._comparator_clause("nested ORDER", cols)
                nested.append(NestedStmt(alias, "order", src, cols))
            elif t.kind == "kw" and t.text == "limit":
                self.next()
                src = self._nested_ref()
                n = self.next()
                nested.append(NestedStmt(alias, "limit", src, int(n.text)))
            elif t.kind == "kw" and t.text == "foreach":
                # inner FOREACH (Pig >= 0.10 nested_foreach:
                # QueryParser.g nested_op): per-tuple projection of an
                # inner bag — C1 = foreach A generate UPPER(name), age+1;
                self.next()
                src = self._nested_ref()
                self.expect("kw", "generate")
                items = [self._gen_item()]
                while self.accept("op", ","):
                    items.append(self._gen_item())
                nested.append(NestedStmt(alias, "nforeach", src, items))
            elif t.kind == "kw" and t.text == "cross":
                # nested CROSS (Pig >= 0.10 nested_cross:
                # QueryParser.g nested_op): per-group cross product of
                # two or more inner bags — C1 = cross A, B;
                self.next()
                srcs = [self._nested_ref()]
                while self.accept("op", ","):
                    srcs.append(self._nested_ref())
                nested.append(NestedStmt(alias, "cross", srcs[0], srcs[1:]))
            else:
                # projection (x = B.col) OR a scalar expression alias
                # (x = f(col) * 2 — QueryParser.g nested_command
                # 'alias = expression'); expr() returns a bare Col for
                # the projection form
                e = self.expr()
                if isinstance(e, Col):
                    nested.append(NestedStmt(alias, "project", e.name))
                else:
                    nested.append(NestedStmt(alias, "expr", "", e))
            self.expect("op", ";")
        self.expect("kw", "generate")
        items = [self._gen_item()]
        while self.accept("op", ","):
            items.append(self._gen_item())
        self.accept("op", ";")
        self.expect("op", "}")
        return Foreach(rel, items, nested=nested)

    def _dotted(self) -> str:
        # segments may be positional ($N): `D = distinct A.$1;`
        # (QueryParser.g col_ref — cmdline.conf nested describe suite)
        name = self.next().text if self.peek().kind == "dollar" else self._ident()
        while self.accept("op", "."):
            name += "." + (self.next().text if self.peek().kind == "dollar" else self._ident())
        return name

    def _nested_ref(self) -> str:
        """Inner-block relation/column ref: dotted name OR positional
        ``$N`` ($1 after GROUP = the bag, QueryParser.g col_ref)."""
        if self.peek().kind == "dollar":
            return self.next().text
        return self._dotted()

    # ComparisonFunc classes with a KNOWN total order, expressible as
    # sort-key direction flips (the test-UDF jar's OrdDesc:
    # compare(t1,t2) = t2.compareTo(t1) — full natural-order reverse)
    _KNOWN_COMPARATORS = {"orddesc": "reverse"}

    def _comparator_clause(self, ctx: str, keys: list | None = None) -> None:
        """``USING <java ComparisonFunc class>`` after ORDER keys —
        deprecated in Pig since 0.9. A KNOWN comparator rewrites the
        sort-key directions in place (the SURVEY §2.7 mapping:
        comparators → sort-key expressions); an arbitrary class can't
        run here — warn and fall back to natural key order."""
        parts = [self._ident()]
        while self.peek().kind == "op" and self.peek().text == ".":
            self.next()
            parts.append(self._ident())
        leaf = parts[-1].lower()
        if self._KNOWN_COMPARATORS.get(leaf) == "reverse" and keys is not None:
            keys[:] = [(expr, not asc) for expr, asc in keys]
            return
        import warnings

        warnings.warn(
            f"{ctx} USING {'.'.join(parts)!r}: Java ComparisonFunc classes cannot "
            "run on this engine (deprecated in Pig since 0.9); sorting by the "
            "key's natural order instead. Express the comparator as a computed "
            "sort-key expression (ORDER ... BY <expr>) for custom orders.",
            stacklevel=3,
        )

    def _gen_item(self) -> GenItem:
        flatten = False
        if self.peek().kind == "kw" and self.peek().text == "flatten":
            self.next()
            self.expect("op", "(")
            e = self.expr()
            self.expect("op", ")")
            flatten = True
        elif self.peek().kind == "op" and self.peek().text == "..":
            # open-start range projection: GENERATE .. c
            self.next()
            e = RangeProj(None, self._range_endpoint())
        else:
            e = self.expr()
            if isinstance(e, Col) and self.peek().kind == "op" and self.peek().text == "..":
                self.next()
                end = None
                t = self.peek()
                if t.kind in ("id", "dollar"):
                    end = self._range_endpoint()
                e = RangeProj(e.name, end)
        alias = None
        if self.accept("kw", "as"):
            # optional parenthesized schema after flatten; simple name
            # otherwise; fields take an optional :type which Pig
            # applies as an implicit cast (QueryParser.g as_clause +
            # LogicalPlanBuilder cast insertion). A parenthesized list
            # of several fields names the splatted FLATTEN columns.
            paren = bool(self.accept("op", "("))
            fields = [self._as_field()]
            while paren and self.accept("op", ","):
                fields.append(self._as_field())
            if paren:
                self.expect("op", ")")
            if len(fields) == 1:
                alias, ftype = fields[0]
                if ftype is not None:
                    if flatten:
                        # FLATTEN(x) AS (f:type): the type belongs to
                        # the FLATTENED field, not the bag — keep the
                        # schema form so the cast happens post-flatten
                        # (a pre-flatten Cast turned the bag into a
                        # string; r5 review finding #3)
                        alias = fields
                    else:
                        e = Cast(ftype, e)
            else:
                alias = fields  # list[(name, type|None)] — FLATTEN schema
        return GenItem(e, alias, flatten)

    def _as_field(self):
        name = self._ident()
        ftype = None
        if self.accept("op", ":"):
            ftype = self._ident()
        return (name, ftype)

    def _range_endpoint(self) -> str:
        t = self.peek()
        if t.kind == "dollar":
            self.next()
            return t.text
        return self._ident()

    def _op_group(self, cogroup: bool = False):
        rels, keys, inner = [], [], []
        while True:
            rels.append(self._ident())
            if self.accept("kw", "all"):
                keys.append([])
            else:
                self.expect("kw", "by")
                keys.append(self._key_list())
            if self.accept("kw", "inner"):
                inner.append(True)
            else:
                self.accept("kw", "outer")
                inner.append(False)
            if not self.accept("op", ","):
                break
        # GROUP ... USING 'collected'|'merge' (QueryParser.g:429-437):
        # map-side grouping strategies in MR. Grouping SEMANTICS are
        # identical; record the hint and let Catalyst/AQE pick the
        # physical plan. Unknown strategies are an error, like Pig.
        using = None
        if self.accept("kw", "using"):
            using = self._string()
            if using not in ("collected", "merge"):
                raise SyntaxError(
                    f"pig latin: GROUP USING {using!r} — only 'collected'/'merge' exist"
                )
        self._partition_clause("GROUP" if not cogroup else "COGROUP")
        grp = Group(rels, keys, cogroup=cogroup, inner=inner if any(inner) else None)
        grp.using_hint = using  # type: ignore[attr-defined]
        return grp

    def _partition_clause(self, ctx: str) -> None:
        """Optional ``PARTITION BY <java Partitioner class>``
        (QueryParser.g:429-437). A custom Java Partitioner cannot be
        loaded by this engine; it only steers physical key placement —
        results are identical under Spark's hash/AQE partitioning — so
        the clause WARNS (never silently ignored, per the unknown-
        storer policy) and execution proceeds."""
        t = self.peek()
        if not (t.kind in ("id", "kw") and t.text.lower() == "partition"):
            return
        self.next()
        self.expect("kw", "by")
        # dotted Java class name: ident ('.' ident)* — consume exactly
        # that shape so a trailing PARALLEL n clause isn't swallowed
        parts: list[str] = [self.next().text]
        while self.peek().kind == "op" and self.peek().text == ".":
            parts.append(self.next().text)
            parts.append(self.next().text)
        import warnings

        warnings.warn(
            f"{ctx} PARTITION BY {''.join(parts)!r}: custom Java Partitioners "
            "cannot run on this engine; Spark hash/AQE partitioning applies. "
            "Results are identical — only physical key placement differs. "
            "For skewed keys use JOIN ... USING 'skewed' or AQE skew handling.",
            stacklevel=4,
        )

    def _op_cogroup(self):
        return self._op_group(cogroup=True)

    def _key_list(self) -> list[object]:
        if self.accept("op", "("):
            ks = [self.expr()]
            while self.accept("op", ","):
                ks.append(self.expr())
            self.expect("op", ")")
            return ks
        return [self.expr()]

    def _op_join(self):
        rels, keys = [], []
        how = "inner"
        while True:
            rels.append(self._ident())
            self.expect("kw", "by")
            keys.append(self._key_list())
            for h in ("left", "right", "full"):
                if self.accept("kw", h):
                    how = h
                    self.accept("kw", "outer")
                    break
            else:
                self.accept("kw", "inner")
            if not self.accept("op", ","):
                break
        strategy = None
        if self.accept("kw", "using"):
            strategy = self._string()
        self._partition_clause("JOIN")
        return Join(rels, keys, how, strategy)

    def _op_order(self):
        rel = self._ident()
        self.expect("kw", "by")
        keys = self._sort_keys()
        if self.accept("kw", "using"):
            self._comparator_clause("ORDER", keys)
        return Order(rel, keys)

    def _sort_keys(self) -> list[tuple[object, bool]]:
        keys = []
        while True:
            e = self.expr()
            asc = True
            if self.accept("kw", "desc"):
                asc = False
            else:
                self.accept("kw", "asc")
            keys.append((e, asc))
            if not self.accept("op", ","):
                break
        return keys

    def _op_distinct(self):
        return Simple("distinct", self._ident())

    def _op_limit(self):
        return Limit(self._ident(), self.expr())

    def _op_sample(self):
        return Sample(self._ident(), self.expr())

    def _op_union(self):
        onschema = bool(self.accept("kw", "onschema"))
        rels = [self._ident()]
        while self.accept("op", ","):
            rels.append(self._ident())
        return Union(rels, onschema)

    def _op_cross(self):
        rels = [self._ident()]
        while self.accept("op", ","):
            rels.append(self._ident())
        return Cross(rels)

    def _op_cube(self):
        rel = self._ident()
        self.expect("kw", "by")
        clauses: list[tuple[str, list]] = []
        while True:
            t = self.peek()
            if t.kind == "kw" and t.text in ("cube", "rollup"):
                kind = self.next().text
            else:
                raise SyntaxError(f"pig latin: expected CUBE or ROLLUP, got {t.text!r} at offset {t.pos}")
            self.expect("op", "(")
            dims = [self.expr()]
            while self.accept("op", ","):
                dims.append(self.expr())
            self.expect("op", ")")
            clauses.append((kind, dims))
            if not self.accept("op", ","):
                break
        return CubeStmt(rel, clauses)

    def _op_rank(self):
        rel = self._ident()
        keys, dense = [], False
        if self.accept("kw", "by"):
            keys = self._sort_keys()
            if self.accept("kw", "dense"):
                dense = True
        return Rank(rel, keys, dense)

    def _op_stream(self):
        rel = self._ident()
        self.expect("kw", "through")
        if self.peek().kind == "str":
            cmd = self._string()
        elif self.peek().kind == "exec":
            cmd = self.next().text[1:-1]
        else:
            # DEFINEd command alias (resolved by the translator)
            cmd = "\x00alias:" + self._ident()
        if self.accept("kw", "as"):
            schema = self._schema()
        else:
            # AS is optional (QueryParser.g stream_clause): without it
            # the output tuples are untyped — arity discovered at
            # runtime, fields positional (the translator samples the
            # first output line, Pig's runtime-discovered shape)
            schema = None
        return Stream(rel, cmd, schema)

    # -- helpers
    def _string(self) -> str:
        t = self.expect("str")
        return t.text[1:-1].replace("\\'", "'")

    def _path_like(self) -> str:
        """A path/value operand for explain options: either a quoted
        string, or a run of CONTIGUOUS tokens (no intervening
        whitespace) up to the next gap or ';' — how GruntParser reads
        unquoted filenames like `explain -script foo.pig`."""
        if self.peek().kind == "str":
            return self._string()
        parts: list[str] = []
        prev_end: int | None = None
        while True:
            t = self.peek()
            if t.kind == "eof" or (t.kind == "op" and t.text == ";"):
                break
            if prev_end is not None and t.pos != prev_end:
                break
            parts.append(t.text)
            prev_end = t.pos + len(t.text)
            self.i += 1
        if not parts:
            raise SyntaxError("pig latin: explain option expects a value")
        return "".join(parts)

    def _func_spec(self) -> tuple[str, list[str]]:
        name = self._dotted()  # USING org.apache.pig.piggybank.storage.X
        args: list[str] = []
        if self.accept("op", "("):
            while self.peek().kind == "str":
                args.append(self._string())
                if not self.accept("op", ","):
                    break
            self.expect("op", ")")
        return name, args

    def _schema(self) -> list[Field]:
        self.expect("op", "(")
        fields = [self._field_def()]
        while self.accept("op", ","):
            fields.append(self._field_def())
        self.expect("op", ")")
        return fields

    def _field_def(self) -> Field:
        name = self._ident()
        ftype = None
        if self.accept("op", ":"):
            ftype = self._type_name()
        return Field(name, ftype)

    def _type_name(self) -> str:
        """A type (QueryParser.g type/type_cast), as its source text.
        The grammar only finds where the type ends — a type keyword, a
        bracketed group (``(..)``, ``{..}``, ``[..]``), or map/tuple/bag
        followed by its own bracket; ``pigtypes.parse`` reads the text
        (the one parser of Pig type syntax) and rejects a bad type."""
        start = self.i
        t = self.peek()
        if not (t.kind == "op" and t.text in ("(", "{", "[")):
            t = self.next()
            kw = t.text.lower()
            if kw not in PIG_TYPES:
                raise SyntaxError(f"pig latin: unknown type {t.text!r}")
            opener = pigtypes.OPENERS.get(kw)
            if not (opener and self.peek().kind == "op" and self.peek().text == opener):
                return self._checked_type(start)
        depth = 0
        while True:
            t = self.next()
            if t.kind == "eof":
                raise SyntaxError("pig latin: unclosed type")
            if t.kind == "op" and t.text in ("(", "{", "["):
                depth += 1
            elif t.kind == "op" and t.text in (")", "}", "]"):
                depth -= 1
                if depth == 0:
                    return self._checked_type(start)

    def _checked_type(self, start: int) -> str:
        text = "".join(t.text for t in self.toks[start : self.i])
        try:
            pigtypes.parse(text)
        except ValueError as err:
            raise SyntaxError(f"pig latin: {err}") from None
        return text

    # -- expression ladder: bincond > or > and > not > cmp > add > mul > unary > postfix > primary
    def expr(self):
        cond = self._or()
        if self.accept("op", "?"):
            then = self.expr()
            self.expect("op", ":")
            other = self.expr()
            return BinCond(cond, then, other)
        return cond

    def _or(self):
        left = self._and()
        while self.accept("kw", "or"):
            left = Bin("or", left, self._and())
        return left

    def _and(self):
        left = self._not()
        while self.accept("kw", "and"):
            left = Bin("and", left, self._not())
        return left

    def _not(self):
        if self.accept("kw", "not"):
            return Un("not", self._not())
        return self._cmp()

    _WORD_CMP = {"eq": "==", "neq": "!=", "lt": "<", "lte": "<=", "gt": ">", "gte": ">="}

    def _cmp(self):
        left = self._add()
        t = self.peek()
        if t.kind == "op" and t.text in ("==", "!=", "<", "<=", ">", ">="):
            op = self.next().text
            return Bin(op, left, self._add())
        if t.kind == "id" and t.text.lower() in self._WORD_CMP:
            # legacy word comparison operators (QueryParser.g rel_op:
            # eq/neq/lt/lte/gt/gte — the tutorial scripts use them)
            op = self._WORD_CMP[self.next().text.lower()]
            return Bin(op, left, self._add())
        if t.kind == "kw" and t.text == "is":
            self.next()
            negated = bool(self.accept("kw", "not"))
            self.expect("kw", "null")
            return IsNull(left, negated)
        if t.kind == "kw" and t.text == "matches":
            self.next()
            return Matches(left, self._string())
        if t.kind == "kw" and t.text == "in":
            self.next()
            self.expect("op", "(")
            opts = [self.expr()]
            while self.accept("op", ","):
                opts.append(self.expr())
            self.expect("op", ")")
            return InList(left, opts)
        return left

    def _add(self):
        left = self._mul()
        while True:
            t = self.peek()
            if t.kind == "op" and t.text in ("+", "-"):
                op = self.next().text
                left = Bin(op, left, self._mul())
            else:
                return left

    def _mul(self):
        left = self._unary()
        while True:
            t = self.peek()
            if t.kind == "op" and t.text in ("*", "/", "%"):
                op = self.next().text
                left = Bin(op, left, self._unary())
            else:
                return left

    def _unary(self):
        if self.accept("op", "-"):
            return Un("neg", self._unary())
        # (type) cast — lookahead: '(' typename ')', plus the complex
        # forms '(bag{...})' / '(tuple(...))' / '(map[...])'
        # (QueryParser.g type_cast — the empty-bag-default COGROUP
        # idiom casts a literal: (bag{tuple(chararray)}){(null)})
        t, t1, t2 = self.peek(), self.peek(1), self.peek(2)
        if (
            t.kind == "op" and t.text == "("
            and t1.kind == "id" and t1.text.lower() in PIG_TYPES
            and (
                (t2.kind == "op" and t2.text == ")")
                or (
                    t1.text.lower() in ("bag", "tuple", "map")
                    and t2.kind == "op" and t2.text in ("{", "(", "[")
                )
            )
        ):
            self.next()
            typ = self._type_name()
            self.expect("op", ")")
            return Cast(typ, self._unary())
        return self._postfix()

    def _deref_name(self) -> str:
        if self.peek().kind == "dollar":
            return self.next().text
        return self._ident()

    def _postfix(self):
        e = self._primary()
        while True:
            t = self.peek()
            if t.kind == "op" and t.text == ".":
                # dotted projection a.b (bag/tuple deref); positional
                # deref a.$0 (QueryParser.g col_ref inside a path)
                self.next()
                if self.peek().kind == "op" and self.peek().text == "(":
                    # rel.(c1, c2, ...) — multi-column projection
                    self.next()
                    cols = [self._deref_name()]
                    while self.accept("op", ","):
                        cols.append(self._deref_name())
                    self.expect("op", ")")
                    if not isinstance(e, Col):
                        raise SyntaxError("pig latin: dotted access only on columns")
                    e = Col(e.name + "." + cols[0]) if len(cols) == 1 else MultiCol(e.name, cols)
                    continue
                if self.peek().kind == "dollar":
                    name = self.next().text
                elif self.peek().kind == "kw":
                    # keywords are legal AFTER a dot (ns.cube(x) jruby
                    # UDFs, field names like t.order) — no ambiguity:
                    # the dot position never starts a clause
                    name = self.next().text
                else:
                    name = self._ident()
                if (
                    isinstance(e, Col)
                    and self.peek().kind == "op"
                    and self.peek().text == "("
                ):
                    # namespace call ns.func(args) — scripting UDFs
                    # (REGISTER 'x.py' USING jython AS ns) — or a
                    # fully-qualified class call like
                    # org.apache.pig.piggybank.evaluation.string.UPPER(x)
                    # (resolved by the translator)
                    self.next()
                    args: list[object] = []
                    if not (self.peek().kind == "op" and self.peek().text == ")"):
                        args.append(self.expr())
                        while self.accept("op", ","):
                            args.append(self.expr())
                    self.expect("op", ")")
                    e = Call(e.name + "." + name, args)
                elif isinstance(e, Col):
                    e = Col(e.name + "." + name)
                else:
                    raise SyntaxError("pig latin: dotted access only on columns")
            elif t.kind == "op" and t.text == "#":
                self.next()
                e = MapLookup(e, self._string())
            else:
                return e

    def _primary(self):
        t = self.peek()
        if t.kind == "num":
            return Num(self.next().text)
        if t.kind == "str":
            return Str(self._string())
        if t.kind == "kw" and t.text in ("true", "false"):
            return Bool(self.next().text == "true")
        if t.kind == "kw" and t.text == "null":
            self.next()
            return Null()
        if t.kind == "kw" and t.text == "case":
            return self._case()
        if t.kind == "op" and t.text == "*":
            self.next()
            return Star()
        if t.kind == "dollar":
            return Col(self.next().text)
        if t.kind == "op" and t.text == "(":
            self.next()
            e = self.expr()
            if self.peek().kind == "op" and self.peek().text == ",":
                # tuple literal (e1, e2, ...) (QueryParser.g
                # tuple_initializer) — lowered to TOTUPLE
                items = [e]
                while self.accept("op", ","):
                    items.append(self.expr())
                self.expect("op", ")")
                return Call("TOTUPLE", items)
            self.expect("op", ")")
            return e
        if t.kind == "op" and t.text == "{":
            # bag literal {(1),(2)} / {(1,'a'),(2,'b')} (QueryParser.g
            # bag_initializer) — lowered to TOBAG (scalars become
            # single-field tuples, tuple items stay tuples)
            self.next()
            items: list[object] = []
            if not (self.peek().kind == "op" and self.peek().text == "}"):
                items.append(self.expr())
                while self.accept("op", ","):
                    items.append(self.expr())
            self.expect("op", "}")
            return Call("TOBAG", items)
        if t.kind == "op" and t.text == "[":
            # map literal ['k'#v, ...] (QueryParser.g map_initializer) —
            # lowered to the TOMAP builtin (alternating key/value args)
            self.next()
            args: list[object] = []
            if not (self.peek().kind == "op" and self.peek().text == "]"):
                if self.peek().kind == "str":
                    while True:
                        # ['k'#v, ...]: quoted chararray keys (parsed
                        # directly — the postfix pass would otherwise
                        # read key#value as a map lookup)
                        args.append(Str(self._string()))
                        self.expect("op", "#")
                        args.append(self.expr())
                        if not self.accept("op", ","):
                            break
                else:
                    # [k1, v1, k2, v2, ...]: column-valued TOMAP sugar
                    # (QueryParser.g map initializer — alternating
                    # key/value expressions, = TOMAP(k1, v1, ...))
                    args.append(self.expr())
                    while self.accept("op", ","):
                        args.append(self.expr())
            self.expect("op", "]")
            return Call("TOMAP", args)
        if t.kind == "kw" and t.text in ("group", "cube", "rollup"):
            # 'group' = the group-key tuple; 'cube' = the CUBE
            # statement's output bag; both usable as plain columns in
            # expressions (non-reserved in these positions in Pig)
            self.next()
            return Col(t.text)
        if t.kind == "id":
            name = self.next().text
            if self.accept("op", "("):
                args: list[object] = []
                if not (self.peek().kind == "op" and self.peek().text == ")"):
                    args.append(self.expr())
                    while self.accept("op", ","):
                        args.append(self.expr())
                self.expect("op", ")")
                return Call(name, args)
            return Col(name)
        raise SyntaxError(f"pig latin: unexpected token {t.text!r} at offset {t.pos}")

    def _case(self):
        self.expect("kw", "case")
        subject = None
        if not (self.peek().kind == "kw" and self.peek().text == "when"):
            subject = self.expr()
        whens = []
        while self.accept("kw", "when"):
            w = self.expr()
            self.expect("kw", "then")
            whens.append((w, self.expr()))
        otherwise = None
        if self.accept("kw", "else"):
            otherwise = self.expr()
        self.expect("kw", "end")
        return CaseWhen(subject, whens, otherwise)


def parse(src: str) -> Script:
    return Parser(tokenize(src)).parse_script()
