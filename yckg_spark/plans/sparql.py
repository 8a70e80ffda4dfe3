"""SPARQL-to-Spark-SQL compiler for the basic-graph-pattern subset the
reference's competency questions use — so a user of the reference can run
their existing SPARQL texts (reference: Code/CompetencyQuestions/
Yelp_CQ.md, executed there via a Virtuoso endpoint, Code/run_query.py:6-44)
verbatim against this engine's triples view.

Supported surface (everything the 16 Yelp CQs exercise; the reference's
external-KG CQs use SERVICE blocks / property paths / FILTER NOT EXISTS
against remote Wikidata/DBpedia endpoints and are out of scope):

  * PREFIX declarations (the reference's namespaces are pre-registered);
  * SELECT with plain vars and COUNT/SUM/AVG/MIN/MAX aggregates —
    ``COUNT(DISTINCT ?v)``, ``COUNT(DISTINCT(?v))``, ``COUNT(*)``,
    parenthesized ``(COUNT(?x) AS ?y)``, and trailing ``AS ?alias``;
  * WHERE groups of triple patterns over vars / prefixed names / <iri>s /
    ('typed') literals, plus FILTER(?v op const), BIND(year|month|day(?t)
    AS ?v), nested sub-SELECTs (the CQ11/CQ13 shape, and CQ12's two
    scalar-subquery scaffolds cross-joined), and scalar arithmetic
    select items ``(xsd:double(?a) / xsd:double(?b) AS ?c)``;
  * GROUP BY / HAVING(agg op n) / ORDER BY [DESC|ASC](expr) / LIMIT.

Compilation strategy — the standard triple-store lowering: every triple
pattern becomes an aliased scan of the triples view with its constant
positions as pushed-down predicates; shared variables become equi-join
conditions; Catalyst then picks broadcast/SMJ per join and AQE re-plans
at runtime, exactly as the hand-written plans in plans/queries.py get.
A variable that appears in SUBJECT position anywhere additionally
requires ``NOT is_literal`` at each of its OBJECT-position bindings
(a literal can never bind a SPARQL subject — the same rule the
hand-written CQ3/CQ7 plans encode). Numeric FILTER/aggregate contexts
TRY_CAST the lexical object form, mirroring the hand-written plans.

Not supported (raises ValueError): OPTIONAL, UNION, MINUS, GRAPH,
property paths, and SERVICE — none of which the reference's Yelp query
set uses.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from yckg_spark.namespaces import (
    BUSINESS_URI,
    RDF_TYPE,
    SCHEMA,
    SKOS,
    USER_URI,
    WD,
    WDT,
    XSD,
    YELPCAT,
    YELPENT,
    YELPVOC,
)

DEFAULT_PREFIXES = {
    "schema": SCHEMA,
    "skos": SKOS,
    "yelpcat": YELPCAT,
    "yelpvoc": YELPVOC,
    "yelpent": YELPENT,
    "yelpbus": BUSINESS_URI,
    "yelpusr": USER_URI,
    "wd": WD,
    "wdt": WDT,
    "xsd": XSD,
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
}

_AGGS = {"COUNT", "SUM", "AVG", "MIN", "MAX"}
_BIND_FUNCS = {"year", "month", "day"}

_TOKEN_RE = re.compile(
    r"""
    (?P<STRING>'[^']*'(?:\^\^[\w\-]+:[\w\-]+)?|"[^"]*"(?:\^\^[\w\-]+:[\w\-]+)?)
  | (?P<IRI><[^>]*>)
  | (?P<VAR>\?\w+)
  | (?P<PNAME>[A-Za-z_][\w\-]*:[\w\-]*)
  | (?P<NUM>-?\d+(?:\.\d+)?)
  | (?P<OP><=|>=|!=|=|<|>)
  | (?P<PUNCT>[{}().;,*/])
  | (?P<WORD>[A-Za-z_]\w*)
  | (?P<COMMENT>\#[^\n]*)
  | (?P<WS>\s+)
    """,
    re.VERBOSE,
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise ValueError(f"SPARQL tokenize error at: {text[pos:pos + 30]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind not in ("WS", "COMMENT"):
            out.append((kind, m.group()))
    return out


@dataclass
class _Agg:
    fn: str
    var: str | None  # None for COUNT(*)
    distinct: bool = False
    alias: str | None = None


@dataclass
class _Arith:
    op: str  # one of / * + -
    left: tuple  # (cast_pname | None, var)
    right: tuple
    alias: str


@dataclass
class _Select:
    items: list  # str var names, _Agg, and _Arith
    distinct: bool = False  # SELECT DISTINCT ?x ...
    patterns: list = field(default_factory=list)  # (s, p, o) term tuples
    filters: list = field(default_factory=list)  # (var, op, const_token)
    binds: list = field(default_factory=list)  # (func, var, new_var)
    values: list = field(default_factory=list)  # (var, [const tokens])
    subs: list = field(default_factory=list)  # nested sub-SELECTs
    group_by: list = field(default_factory=list)
    having: tuple | None = None  # (_Agg, op, num)
    order_by: tuple | None = None  # (expr_item, "DESC"|"ASC")
    limit: int | None = None


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self, ahead: int = 0):
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else ("EOF", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, value: str):
        kind, v = self.next()
        if v.upper() != value.upper():
            raise ValueError(f"expected {value!r}, got {v!r}")
        return v

    def word_is(self, value: str, ahead: int = 0) -> bool:
        kind, v = self.peek(ahead)
        return v.upper() == value.upper()

    # -- grammar ------------------------------------------------------------

    def parse_query(self):
        prefixes = dict(DEFAULT_PREFIXES)
        while self.word_is("PREFIX"):
            self.next()
            kind, pname = self.next()
            if kind != "PNAME" or not pname.endswith(":"):
                raise ValueError(f"bad PREFIX name {pname!r}")
            kind, iri = self.next()
            if kind != "IRI":
                raise ValueError(f"bad PREFIX iri {iri!r}")
            prefixes[pname[:-1]] = iri[1:-1]
        sel = self.parse_select()
        if self.peek()[0] != "EOF":
            raise ValueError(f"trailing tokens from {self.peek()[1]!r}")
        return sel, prefixes

    def parse_select(self) -> _Select:
        self.expect("SELECT")
        distinct = False
        if self.word_is("DISTINCT"):
            self.next()
            distinct = True
        items = []
        while not self.word_is("WHERE"):
            kind, v = self.peek()
            if kind == "VAR":
                self.next()
                items.append(v[1:])
            elif v == "(":
                self.next()
                if self.peek()[1].upper() in _AGGS:
                    items.append(self._parse_agg_with_alias(expect_close=True))
                else:
                    items.append(self._parse_arith())
            elif v.upper() in _AGGS:
                items.append(self._parse_agg_with_alias(expect_close=False))
            else:
                raise ValueError(f"unsupported SELECT item at {v!r}")
        self.expect("WHERE")
        sel = _Select(items=items, distinct=distinct)
        self._parse_group(sel)
        self._parse_modifiers(sel)
        return sel

    def _parse_agg(self) -> _Agg:
        fn = self.next()[1].upper()
        if fn not in _AGGS:
            raise ValueError(f"unsupported aggregate {fn!r}")
        self.expect("(")
        distinct = False
        if self.word_is("DISTINCT"):
            self.next()
            distinct = True
        extra_paren = False
        if self.peek()[1] == "(":
            self.next()
            extra_paren = True
        kind, v = self.next()
        if v == "*":
            var = None
        elif kind == "VAR":
            var = v[1:]
        else:
            raise ValueError(f"unsupported aggregate operand {v!r}")
        if extra_paren:
            self.expect(")")
        self.expect(")")
        return _Agg(fn=fn, var=var, distinct=distinct)

    def _parse_agg_with_alias(self, expect_close: bool) -> _Agg:
        agg = self._parse_agg()
        if self.word_is("AS"):
            self.next()
            kind, v = self.next()
            if kind != "VAR":
                raise ValueError(f"alias must be a ?var, got {v!r}")
            agg.alias = v[1:]
        if expect_close:
            self.expect(")")
        return agg

    def _parse_arith(self) -> _Arith:
        """( [xsd:fn(]?var[)] op [xsd:fn(]?var[)] AS ?alias ) — the CQ12
        scalar-arithmetic shape; the opening paren is already consumed."""

        def operand():
            kind, v = self.next()
            if kind == "PNAME":
                self.expect("(")
                k2, var = self.next()
                if k2 != "VAR":
                    raise ValueError(f"expected ?var inside {v}(...), got {var!r}")
                self.expect(")")
                return (v, var[1:])
            if kind == "VAR":
                return (None, v[1:])
            raise ValueError(f"unsupported arithmetic operand {v!r}")

        left = operand()
        op = self.next()[1]
        if op not in {"/", "*", "+", "-"}:
            raise ValueError(f"unsupported arithmetic operator {op!r}")
        right = operand()
        self.expect("AS")
        kind, v = self.next()
        if kind != "VAR":
            raise ValueError(f"alias must be a ?var, got {v!r}")
        self.expect(")")
        return _Arith(op=op, left=left, right=right, alias=v[1:])

    def _parse_term(self):
        kind, v = self.next()
        if kind == "VAR":
            return ("var", v[1:])
        if kind == "PNAME":
            return ("pname", v)
        if kind == "IRI":
            return ("iri", v[1:-1])
        if kind == "STRING":
            body = v
            if "^^" in body:
                body = body.split("^^", 1)[0]
            return ("lit", body[1:-1])
        if kind == "NUM":
            return ("lit", v)
        raise ValueError(f"bad triple term {v!r}")

    def _parse_group(self, sel: _Select) -> None:
        self.expect("{")
        while True:
            kind, v = self.peek()
            if v == "}":
                self.next()
                return
            if v == "{":  # braced sub-select
                self.next()
                sel.subs.append(self.parse_select())
                self.expect("}")
            elif v.upper() == "SELECT":  # bare sub-select (the CQ11 shape)
                sel.subs.append(self.parse_select())
            elif v.upper() == "FILTER":
                self.next()
                self.expect("(")
                kind, fv = self.next()
                if kind != "VAR":
                    raise ValueError(f"FILTER must start with a ?var, got {fv!r}")
                op = self.next()[1]
                if op not in {"<", ">", "<=", ">=", "=", "!="}:
                    raise ValueError(f"unsupported FILTER operator {op!r}")
                ckind, cv = self.next()
                if ckind == "STRING":
                    const = ("str", cv.split("^^", 1)[0][1:-1])
                elif ckind == "NUM":
                    const = ("num", cv)
                elif ckind == "PNAME":
                    const = ("term", ("pname", cv))
                elif ckind == "IRI":
                    const = ("term", ("iri", cv[1:-1]))
                else:
                    raise ValueError(f"unsupported FILTER constant {cv!r}")
                self.expect(")")
                sel.filters.append((fv[1:], op, const))
                if self.peek()[1] == ".":
                    self.next()
            elif v.upper() == "BIND":
                self.next()
                self.expect("(")
                fn = self.next()[1]
                if fn not in _BIND_FUNCS:
                    raise ValueError(f"unsupported BIND function {fn!r}")
                self.expect("(")
                kind, bv = self.next()
                if kind != "VAR":
                    raise ValueError("BIND argument must be a ?var")
                self.expect(")")
                self.expect("AS")
                kind, nv = self.next()
                if kind != "VAR":
                    raise ValueError("BIND alias must be a ?var")
                self.expect(")")
                sel.binds.append((fn, bv[1:], nv[1:]))
                if self.peek()[1] == ".":
                    self.next()
            elif v.upper() == "VALUES":
                self.next()
                kind, vv = self.next()
                if kind != "VAR":
                    raise ValueError("VALUES must name a ?var")
                self.expect("{")
                consts = []
                while self.peek()[1] != "}":
                    ckind, cv = self.next()
                    if ckind == "STRING":
                        consts.append(("str", cv.split("^^", 1)[0][1:-1]))
                    elif ckind == "NUM":
                        consts.append(("num", cv))
                    else:
                        raise ValueError(f"unsupported VALUES constant {cv!r}")
                self.expect("}")
                if not consts:
                    raise ValueError("empty VALUES block")
                sel.values.append((vv[1:], consts))
                if self.peek()[1] == ".":
                    self.next()
            elif v.upper() in {"OPTIONAL", "UNION", "MINUS", "GRAPH"}:
                raise ValueError(f"{v.upper()} is not in the supported BGP subset")
            else:
                s = self._parse_term()
                p = self._parse_term()
                o = self._parse_term()
                sel.patterns.append((s, p, o))
                if self.peek()[1] == ".":
                    self.next()

    def _parse_modifiers(self, sel: _Select) -> None:
        while True:
            if self.word_is("GROUP") and self.word_is("BY", 1):
                self.next(), self.next()
                while self.peek()[0] == "VAR":
                    sel.group_by.append(self.next()[1][1:])
            elif self.word_is("HAVING"):
                self.next()
                self.expect("(")
                agg = self._parse_agg()
                op = self.next()[1]
                num = self.next()[1]
                self.expect(")")
                sel.having = (agg, op, num)
            elif self.word_is("ORDER") and self.word_is("BY", 1):
                self.next(), self.next()
                direction = "ASC"
                if self.word_is("DESC") or self.word_is("ASC"):
                    direction = self.next()[1].upper()
                    paren = self.peek()[1] == "("
                    if paren:
                        self.next()
                    item = self._parse_order_operand()
                    if paren:
                        self.expect(")")
                else:
                    item = self._parse_order_operand()
                sel.order_by = (item, direction)
            elif self.word_is("LIMIT"):
                self.next()
                sel.limit = int(self.next()[1])
            else:
                return

    def _parse_order_operand(self):
        kind, v = self.peek()
        if kind == "VAR":
            self.next()
            return ("var", v[1:])
        if v.upper() in _AGGS:
            return ("agg", self._parse_agg())
        raise ValueError(f"unsupported ORDER BY operand {v!r}")


# ---------------------------------------------------------------------------
# compilation
# ---------------------------------------------------------------------------


def _esc(s: str) -> str:
    # Spark SQL string literals unescape backslashes, so double them first
    return s.replace("\\", "\\\\").replace("'", "''")


def _resolve(term, prefixes) -> str:
    kind, v = term
    if kind == "iri":
        return v
    if kind == "pname":
        pfx, local = v.split(":", 1)
        if pfx not in prefixes:
            raise ValueError(f"unknown prefix {pfx!r}")
        return prefixes[pfx] + local
    raise ValueError(f"cannot resolve {term!r}")


class _Compiler:
    def __init__(self, view: str, prefixes: dict[str, str]):
        self.view = view
        self.prefixes = prefixes
        self.n_sub = 0

    def compile(self, sel: _Select) -> str:
        # variable -> list of (table_alias, column) bindings
        bindings: dict[str, list[str]] = {}
        tables: list[tuple[str, str]] = []  # (alias, from_text)
        const_conds: list[str] = []
        nonlit_vars: set[str] = set()

        for sub in sel.subs:
            alias = f"s{self.n_sub}"
            self.n_sub += 1
            sub_sql = self.compile(sub)
            tables.append((alias, f"({sub_sql}) {alias}"))
            for name in _out_names(sub):
                bindings.setdefault(name, []).append(f"{alias}.`{name}`")

        for idx, (s, p, o) in enumerate(sel.patterns):
            a = f"t{idx}"
            tables.append((a, f"{self.view} {a}"))
            for pos, term in (("subject", s), ("predicate", p), ("object", o)):
                kind, v = term
                if kind == "var":
                    bindings.setdefault(v, []).append(f"{a}.{pos}")
                    if pos == "subject":
                        nonlit_vars.add(v)
                elif kind == "lit":
                    const_conds.append(f"{a}.{pos} = '{_esc(v)}'")
                else:
                    iri = _resolve(term, self.prefixes)
                    if term == ("pname", "rdf:type"):
                        iri = RDF_TYPE
                    const_conds.append(f"{a}.{pos} = '{_esc(iri)}'")

        # a var bound in subject position anywhere can never be a literal
        for v in nonlit_vars:
            for col in bindings.get(v, []):
                if col.endswith(".object"):
                    const_conds.append(f"NOT {col[:-7]}.is_literal")

        join_conds: list[str] = []
        for cols in bindings.values():
            for other in cols[1:]:
                join_conds.append(f"{cols[0]} = {other}")

        if not tables:
            raise ValueError("empty WHERE group")

        # expressions per var: first binding, or a BIND definition
        exprs = {v: cols[0] for v, cols in bindings.items()}
        for fn, src, new in sel.binds:
            if src not in exprs:
                raise ValueError(f"BIND references unbound ?{src}")
            exprs[new] = f"{fn}(TRY_CAST({exprs[src]} AS TIMESTAMP))"

        where = list(const_conds)
        for v, op, (ckind, cv) in sel.filters:
            if v not in exprs:
                raise ValueError(f"FILTER references unbound ?{v}")
            sop = "<>" if op == "!=" else op
            if ckind == "num":
                where.append(f"TRY_CAST({exprs[v]} AS DOUBLE) {sop} {cv}")
            elif ckind == "term":
                iri = RDF_TYPE if cv == ("pname", "rdf:type") else _resolve(cv, self.prefixes)
                where.append(f"{exprs[v]} {sop} '{_esc(iri)}'")
            else:
                where.append(f"{exprs[v]} {sop} '{_esc(cv)}'")
        for v, consts in sel.values:
            if v not in exprs:
                raise ValueError(f"VALUES references unbound ?{v}")
            parts = []
            for ckind, cv in consts:
                if ckind == "num":
                    parts.append(f"TRY_CAST({exprs[v]} AS DOUBLE) = {cv}")
                else:
                    parts.append(f"{exprs[v]} = '{_esc(cv)}'")
            where.append("(" + " OR ".join(parts) + ")")

        # FROM with explicit equi-join chaining (CROSS JOIN only when a
        # table is genuinely unconnected, e.g. scalar subquery scaffolds)
        from_sql = tables[0][1]
        placed = {tables[0][0]}
        remaining = list(join_conds)
        for alias, ftext in tables[1:]:
            placed.add(alias)
            mine, rest = [], []
            for c in remaining:
                refs = set(re.findall(r"\b([ts]\d+)\.", c))
                (mine if alias in refs and refs <= placed else rest).append(c)
            remaining = rest
            if mine:
                from_sql += f" JOIN {ftext} ON " + " AND ".join(mine)
            else:
                from_sql += f" CROSS JOIN {ftext}"
        where.extend(remaining)

        def cast_operand(operand):
            fn, var = operand
            if var not in exprs:
                raise ValueError(f"arithmetic references unbound ?{var}")
            e = exprs[var]
            if fn in ("xsd:integer", "xsd:long"):
                return f"CAST({e} AS BIGINT)"
            return f"CAST({e} AS DOUBLE)"

        select_items, group_exprs = [], []
        for item in sel.items:
            if isinstance(item, _Agg):
                select_items.append(self._agg_sql(item, exprs, alias=True))
            elif isinstance(item, _Arith):
                select_items.append(
                    f"{cast_operand(item.left)} {item.op} "
                    f"{cast_operand(item.right)} AS `{item.alias}`"
                )
            else:
                if item not in exprs:
                    raise ValueError(f"SELECT references unbound ?{item}")
                select_items.append(f"{exprs[item]} AS `{item}`")
        for g in sel.group_by:
            if g not in exprs:
                raise ValueError(f"GROUP BY references unbound ?{g}")
            group_exprs.append(exprs[g])

        head = "SELECT DISTINCT " if sel.distinct else "SELECT "
        sql = head + ", ".join(select_items) + " FROM " + from_sql
        if where:
            sql += " WHERE " + " AND ".join(where)
        if group_exprs:
            sql += " GROUP BY " + ", ".join(group_exprs)
        if sel.having:
            agg, op, num = sel.having
            sop = "<>" if op == "!=" else op
            sql += f" HAVING {self._agg_sql(agg, exprs, alias=False)} {sop} {num}"
        if sel.order_by:
            (okind, oval), direction = sel.order_by
            if okind == "var":
                if oval not in exprs:
                    raise ValueError(f"ORDER BY references unbound ?{oval}")
                osql = exprs[oval]
            else:
                osql = self._agg_sql(oval, exprs, alias=False)
            sql += f" ORDER BY {osql} {direction}"
        if sel.limit is not None:
            sql += f" LIMIT {sel.limit}"
        return sql

    def _agg_sql(self, agg: _Agg, exprs: dict[str, str], alias: bool) -> str:
        if agg.var is None:
            core = "COUNT(*)"
        else:
            if agg.var not in exprs:
                raise ValueError(f"aggregate references unbound ?{agg.var}")
            operand = exprs[agg.var]
            if agg.fn in {"SUM", "AVG"}:
                operand = f"TRY_CAST({operand} AS DOUBLE)"
            core = f"{agg.fn}({'DISTINCT ' if agg.distinct else ''}{operand})"
        if agg.fn == "COUNT":
            core = f"CAST({core} AS BIGINT)"
        if not alias:
            return core
        name = agg.alias or _default_alias(agg)
        return f"{core} AS `{name}`"


def _default_alias(agg: _Agg) -> str:
    if agg.var is None:
        return "count_all"
    mid = "_distinct_" if agg.distinct else "_"
    return f"{agg.fn.lower()}{mid}{agg.var}"


def _out_names(sel: _Select) -> list[str]:
    out = []
    for item in sel.items:
        if isinstance(item, _Agg):
            out.append(item.alias or _default_alias(item))
        elif isinstance(item, _Arith):
            out.append(item.alias)
        else:
            out.append(item)
    return out


def compile_sparql(text: str, view: str = "triples") -> str:
    """Compile a SPARQL BGP-subset query to a Spark SQL string over the
    triples view (columns subject, predicate, object, is_literal)."""
    sel, prefixes = _Parser(_tokenize(text)).parse_query()
    return _Compiler(view, prefixes).compile(sel)


def run_sparql(spark, text: str, view: str = "triples"):
    """Parse, compile, and run a SPARQL query against the registered
    triples view; returns the result DataFrame."""
    return spark.sql(compile_sparql(text, view=view))
