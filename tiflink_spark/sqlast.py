"""SQL tokenizer and statement parsers for the planner's shape matchers.

The tokenizer is string-literal and paren aware and keeps source
offsets, so every clause text a parser returns is VERBATIM (matchers
compare and re-emit clause texts). The parsers turn one statement into
one record:

- :func:`parse_single_select` → :class:`SingleSelect`, one SELECT over
  one named table (WHERE, GROUP BY, HAVING, ORDER BY, LIMIT);
- :func:`parse_join_select` → :class:`JoinSelect`, a SELECT over an
  explicit JOIN chain;
- :func:`parse_where_subquery` → :class:`SubqueryTerm`, the EXISTS / IN
  subquery term that ends a WHERE clause;
- :func:`parse_scalar_subquery` → :class:`ScalarSubquery`, the
  select-list scalar-aggregate subquery;
- :func:`topn_clauses`, :func:`setop_parts` and the structural splits
  the planner's text rewrites use.

A matcher parses once, states its envelope with the record's
``only(...)`` (the optional clauses it accepts; every other one must be
absent), and validates the clause texts itself. :func:`split_commas`
and :func:`equality_pairs` split a select list and an ``a = b [AND …]``
predicate. tests/fixtures/matcher_golden.json pins every matcher's
output over a fixed corpus.

No external parser dependency: sqlglot-class libraries are not in the
runtime image, and the subset of SQL the matchers accept is small
enough that a shared tokenizer removes the regex fragility (nested
parens, literals containing keywords, alias/keyword collisions)
without one.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_TOKEN_RE = re.compile(
    r"""(?P<ws>\s+)
      | (?P<str>'(?:[^']|'')*')
      | (?P<num>\d+(?:\.\d+)?)
      | (?P<ident>[A-Za-z_]\w*)
      | (?P<op><=|>=|<>|!=|\|\||::|[=<>+\-*/%.,()\[\];])
    """,
    re.VERBOSE,
)

# Keywords that START a new top-level clause after FROM <table> [alias].
_CLAUSE_STARTS = frozenset(
    "where group having order limit offset fetch union intersect except "
    "window qualify join inner left right full cross on using".split()
)


@dataclass(frozen=True)
class Token:
    kind: str  # "str" | "num" | "ident" | "op"
    text: str
    start: int
    end: int

    def lower(self) -> str:
        return self.text.lower()


def tokenize(sql: str) -> list[Token] | None:
    """Token stream with source offsets, or None on any character the
    grammar doesn't know (the caller then bails to recompute — never
    guesses)."""
    out: list[Token] = []
    i = 0
    while i < len(sql):
        m = _TOKEN_RE.match(sql, i)
        if m is None:
            return None
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        out.append(Token(kind, m.group(), m.start(), m.end()))
    return out


def _slice(sql: str, toks: list[Token]) -> str:
    """The VERBATIM source text spanning ``toks`` — matchers compare
    and re-emit clause texts, so reconstruction must not re-space."""
    return sql[toks[0].start : toks[-1].end]


def _split_top_commas(toks: list[Token]) -> list[list[Token]]:
    parts: list[list[Token]] = []
    depth, start = 0, 0
    for i, t in enumerate(toks):
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif t.text == "," and depth == 0:
            parts.append(toks[start:i])
            start = i + 1
    parts.append(toks[start:])
    return parts


def split_commas(sql: str) -> list[str] | None:
    """``sql`` split on its top-level commas (commas inside parens or
    string literals stay within their item), each item verbatim; None
    when the tokenizer rejects the text."""
    toks = tokenize(sql)
    if toks is None:
        return None
    return [_slice(sql, part) if part else "" for part in _split_top_commas(toks)]


def _find_clause(toks: list[Token], *words: str) -> int | None:
    """Index of the first depth-0 occurrence of the keyword sequence
    ``words`` (e.g. "group", "by"), or None."""
    depth = 0
    for i, t in enumerate(toks):
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif depth == 0 and t.kind == "ident" and t.lower() == words[0]:
            if all(
                i + j < len(toks)
                and toks[i + j].kind == "ident"
                and toks[i + j].lower() == w
                for j, w in enumerate(words)
            ):
                return i
    return None


class _Statement:
    # the clauses a statement may leave out, in declaration order
    _optional: tuple[str, ...] = ()

    def only(self, *clauses: str) -> bool:
        """True when every optional clause outside ``clauses`` is
        absent — a matcher's envelope, e.g. ``s.only("where")``."""
        return all(
            getattr(self, c) is None for c in self._optional if c not in clauses
        )


@dataclass(frozen=True)
class SingleSelect(_Statement):
    """One SELECT over one named table — the clause texts verbatim."""

    _optional = ("alias", "where", "group_by", "having", "tail", "order_by", "limit")

    select: str
    table: str
    alias: str | None
    where: str | None
    group_by: str | None
    having: str | None
    # depth-0 text after the clauses this parser models (a set
    # operation, OFFSET/FETCH, a second FROM relation…) — non-None
    # means the statement is NOT the single-select form and matchers
    # bail.
    tail: str | None
    # trailing ORDER BY body / LIMIT count, parsed as first-class
    # clauses (the top-k matchers consume them; every other matcher
    # must require both None)
    order_by: str | None = None
    limit: str | None = None


def parse_single_select(sql: str) -> SingleSelect | None:
    """Parse ``SELECT items FROM table [alias] [WHERE e] [GROUP BY ks]
    [HAVING h]`` with nothing after — None for anything else (set ops,
    joins, derived tables, trailing ORDER BY/LIMIT), mirroring the
    envelope of the planner's single-table matchers."""
    sql = sql.strip().rstrip(";")
    toks = tokenize(sql)
    if not toks:
        return None
    if toks[0].kind != "ident" or toks[0].lower() != "select":
        return None
    body = toks[1:]
    fi = _find_clause(body, "from")
    if fi is None or fi == 0:
        return None
    select_toks = body[:fi]
    rest = body[fi + 1 :]
    if not rest or rest[0].kind != "ident":
        return None
    table = rest[0].text
    if table.lower() in _CLAUSE_STARTS:
        return None
    rest = rest[1:]
    alias = None
    if rest and rest[0].kind == "ident" and rest[0].lower() == "as":
        if len(rest) < 2 or rest[1].kind != "ident":
            return None
        alias, rest = rest[1].text, rest[2:]
    elif rest and rest[0].kind == "ident" and rest[0].lower() not in _CLAUSE_STARTS:
        alias, rest = rest[0].text, rest[1:]

    where = group_by = having = order_by = limit = tail = None

    def next_clause_stop(toks: list[Token]) -> int:
        stops = [
            x
            for x in (
                _find_clause(toks, "group", "by"),
                _find_clause(toks, "having"),
                _find_clause(toks, "order", "by"),
                _find_clause(toks, "limit"),
            )
            if x is not None
        ]
        return min(stops) if stops else len(toks)

    if _find_clause(rest, "where") == 0:
        rest = rest[1:]
        stop = next_clause_stop(rest)
        if stop == 0:
            return None
        where = _slice(sql, rest[:stop])
        rest = rest[stop:]
    if _find_clause(rest, "group", "by") == 0:
        rest = rest[2:]
        stop = next_clause_stop(rest)
        if stop == 0:
            return None
        group_by = _slice(sql, rest[:stop])
        rest = rest[stop:]
    if _find_clause(rest, "having") == 0:
        rest = rest[1:]
        stop = next_clause_stop(rest)
        if stop == 0:
            return None
        having = _slice(sql, rest[:stop])
        rest = rest[stop:]
    if _find_clause(rest, "order", "by") == 0:
        rest = rest[2:]
        stops = [
            x
            for x in (
                _find_clause(rest, "limit"),
                # standalone OFFSET / FETCH FIRST end the body and stay
                # tail — row-set restrictions the matchers don't model
                _find_clause(rest, "offset"),
                _find_clause(rest, "fetch"),
            )
            if x is not None
        ]
        stop = min(stops) if stops else len(rest)
        if stop == 0:
            return None
        order_by = _slice(sql, rest[:stop])
        rest = rest[stop:]
    if _find_clause(rest, "limit") == 0:
        if len(rest) < 2 or rest[1].kind != "num":
            return None
        limit = rest[1].text
        rest = rest[2:]
    if rest:
        tail = _slice(sql, rest)
    return SingleSelect(
        _slice(sql, select_toks),
        table,
        alias,
        where,
        group_by,
        having,
        tail,
        order_by,
        limit,
    )


@dataclass(frozen=True)
class JoinClause:
    """One JOIN step: how ∈ {"inner","left","right","full","cross"}
    (the parser normalizes INNER-less JOIN to "inner" and drops OUTER),
    plus either ``on`` (verbatim predicate text) or ``using`` (the
    single identifier) — never both. ``system_time`` carries the
    ``FOR SYSTEM_TIME AS OF <expr>`` operand of a temporal (versioned
    dim) join — Flink SQL's event-time temporal join spelling, in the
    reference's surface by delegation (TiFlinkApp.java:270); None for
    ordinary joins."""

    how: str
    table: str
    alias: str | None
    on: str | None
    using: str | None
    system_time: str | None = None


@dataclass(frozen=True)
class JoinSelect(_Statement):
    """``SELECT items FROM t0 [a0] (JOIN ...)+ [WHERE] [GROUP BY]
    [HAVING]`` — clause texts verbatim. ``tail`` non-None marks trailing
    text the parser doesn't model (set ops, ORDER BY/LIMIT/OFFSET...);
    matchers must require it None."""

    _optional = ("alias", "where", "group_by", "having", "tail")

    select: str
    table: str
    alias: str | None
    joins: tuple[JoinClause, ...]
    where: str | None
    group_by: str | None
    having: str | None
    tail: str | None


_JOIN_STARTS = frozenset("join inner left right full cross".split())
_AFTER_ON_STOPS = frozenset(
    "where group having order limit offset fetch union intersect except "
    "window qualify".split()
)


def parse_join_select(sql: str) -> JoinSelect | None:
    """Parse the explicit-JOIN statement form the join matchers
    consume, or None for anything else (single table, comma joins,
    derived tables, trailing clauses land in ``tail``)."""
    sql = sql.strip().rstrip(";")
    toks = tokenize(sql)
    if not toks:
        return None
    if toks[0].kind != "ident" or toks[0].lower() != "select":
        return None
    body = toks[1:]
    fi = _find_clause(body, "from")
    if fi is None or fi == 0:
        return None
    select = _slice(sql, body[:fi])
    rest = body[fi + 1 :]

    def take_table(rest: list[Token], stops: frozenset[str]):
        """(table, alias, rest') or None — table ident + optional
        alias, stopping before any keyword in ``stops``."""
        if not rest or rest[0].kind != "ident" or rest[0].lower() in stops:
            return None
        table = rest[0].text
        rest = rest[1:]
        alias = None
        if rest and rest[0].kind == "ident" and rest[0].lower() == "as":
            if len(rest) < 2 or rest[1].kind != "ident":
                return None
            alias, rest = rest[1].text, rest[2:]
        elif rest and rest[0].kind == "ident" and rest[0].lower() not in stops:
            alias, rest = rest[0].text, rest[1:]
        return table, alias, rest

    stops = _JOIN_STARTS | _AFTER_ON_STOPS | {"on", "using", "for"}
    t0 = take_table(rest, stops)
    if t0 is None:
        return None
    table, alias, rest = t0

    def take_system_time(rest: list[Token]):
        """(system_time_text, rest') past a ``FOR SYSTEM_TIME AS OF
        <ident[.ident]>`` clause, or (None, rest) when absent."""
        kws = ("for", "system_time", "as", "of")
        if len(rest) < 5 or any(
            rest[i].kind != "ident" or rest[i].lower() != k for i, k in enumerate(kws)
        ):
            return None, rest
        j = 4
        if rest[j].kind != "ident":
            return None, rest
        end = j + 1
        if len(rest) > end + 1 and rest[end].text == "." and rest[end + 1].kind == "ident":
            end += 2
        return _slice(sql, rest[j:end]), rest[end:]

    joins: list[JoinClause] = []
    while rest and rest[0].kind == "ident" and rest[0].lower() in _JOIN_STARTS:
        how = "inner"
        if rest[0].lower() != "join":
            w = rest[0].lower()
            if w == "inner":
                how = "inner"
                rest = rest[1:]
            elif w in ("left", "right", "full"):
                how = w
                rest = rest[1:]
                if rest and rest[0].kind == "ident" and rest[0].lower() == "outer":
                    rest = rest[1:]
            elif w == "cross":
                how = "cross"
                rest = rest[1:]
            else:
                return None
            if not rest or rest[0].kind != "ident" or rest[0].lower() != "join":
                return None
        rest = rest[1:]  # past JOIN
        jt = take_table(rest, stops)
        if jt is None:
            return None
        jtable, jalias, rest = jt
        # Flink spelling puts the clause between table and alias:
        # JOIN dim FOR SYSTEM_TIME AS OF f.ts [AS] d ON ...
        system_time, rest = take_system_time(rest)
        if system_time is not None and jalias is None:
            if rest and rest[0].kind == "ident" and rest[0].lower() == "as":
                if len(rest) < 2 or rest[1].kind != "ident":
                    return None
                jalias, rest = rest[1].text, rest[2:]
            elif rest and rest[0].kind == "ident" and rest[0].lower() not in stops:
                jalias, rest = rest[0].text, rest[1:]
        on = using = None
        if how != "cross":
            if not rest or rest[0].kind != "ident":
                return None
            if rest[0].lower() == "on":
                rest = rest[1:]
                # predicate runs to the next depth-0 join/clause keyword
                depth, stop = 0, len(rest)
                for i, t in enumerate(rest):
                    if t.text == "(":
                        depth += 1
                    elif t.text == ")":
                        depth -= 1
                    elif (
                        depth == 0
                        and t.kind == "ident"
                        and t.lower() in (_JOIN_STARTS | _AFTER_ON_STOPS)
                    ):
                        stop = i
                        break
                if stop == 0:
                    return None
                on = _slice(sql, rest[:stop])
                rest = rest[stop:]
            elif rest[0].lower() == "using":
                if (
                    len(rest) < 4
                    or rest[1].text != "("
                    or rest[2].kind != "ident"
                    or rest[3].text != ")"
                ):
                    return None
                using = rest[2].text
                rest = rest[4:]
            else:
                return None
        joins.append(JoinClause(how, jtable, jalias, on, using, system_time))
    if not joins:
        return None

    where = group_by = having = tail = None

    def next_stop(toks: list[Token]) -> int:
        stops = [
            x
            for x in (
                _find_clause(toks, "group", "by"),
                _find_clause(toks, "having"),
                _find_clause(toks, "order", "by"),
                _find_clause(toks, "limit"),
                _find_clause(toks, "offset"),
                _find_clause(toks, "union"),
                _find_clause(toks, "intersect"),
                _find_clause(toks, "except"),
            )
            if x is not None
        ]
        return min(stops) if stops else len(toks)

    if rest and _find_clause(rest, "where") == 0:
        rest = rest[1:]
        stop = next_stop(rest)
        if stop == 0:
            return None
        where = _slice(sql, rest[:stop])
        rest = rest[stop:]
    if rest and _find_clause(rest, "group", "by") == 0:
        rest = rest[2:]
        stop = next_stop(rest)
        if stop == 0:
            return None
        group_by = _slice(sql, rest[:stop])
        rest = rest[stop:]
    if rest and _find_clause(rest, "having") == 0:
        rest = rest[1:]
        stop = next_stop(rest)
        if stop == 0:
            return None
        having = _slice(sql, rest[:stop])
        rest = rest[stop:]
    if rest:
        tail = _slice(sql, rest)
    return JoinSelect(
        select, table, alias, tuple(joins), where, group_by, having, tail
    )


_REF = r"(?:[A-Za-z_]\w*\s*\.\s*)?[A-Za-z_]\w*"


def equality_pairs(expr: str) -> list[tuple[str, str]] | None:
    """``expr`` as a conjunction of ``[q.]a = [q.]b`` equalities: the
    (left, right) reference texts in conjunct order, or None when any
    conjunct is something else."""
    pairs = []
    for conj in re.split(r"(?is)\bAND\b", expr):
        em = re.fullmatch(rf"(?s)\s*({_REF})\s*=\s*({_REF})\s*", conj)
        if em is None:
            return None
        pairs.append((em.group(1), em.group(2)))
    return pairs


def _take_alias(toks: list[Token], k: int, stop: str) -> tuple[str | None, bool, int] | None:
    """The optional ``[AS] alias`` at ``toks[k]``: (alias, spelled with
    AS, index past it), or None on a dangling AS. An identifier equal
    to ``stop`` is the next keyword, not an alias."""
    if k < len(toks) and toks[k].kind == "ident":
        if toks[k].lower() == "as":
            if k + 1 >= len(toks) or toks[k + 1].kind != "ident":
                return None
            return toks[k + 1].text, True, k + 2
        if toks[k].lower() != stop:
            return toks[k].text, False, k + 1
    return None, False, k


def _balanced(toks: list[Token]) -> bool:
    depth = 0
    for t in toks:
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
            if depth < 0:
                return False
    return depth == 0


@dataclass(frozen=True)
class SubqueryTerm:
    """The subquery term that ends a WHERE clause, one of

        [pre AND] [NOT] EXISTS (SELECT 1|* FROM other [[AS] oa] [WHERE inner])
        [pre AND] fcol [NOT] IN (SELECT ocol FROM other [[AS] oa] [WHERE inner])

    — texts verbatim. ``fact_col``/``other_col`` are None for EXISTS;
    ``inner`` is None when the subquery has no WHERE."""

    pre: str | None
    neg: bool
    other: str
    other_alias: str | None
    inner: str | None
    fact_col: str | None = None
    other_col: str | None = None


def parse_where_subquery(where: str) -> SubqueryTerm | None:
    """The term starting at ``where``'s last depth-0 EXISTS or IN, which
    must run to the end of ``where``; None for anything else. Whatever
    precedes the term must be one non-empty conjunct joined by AND."""
    toks = tokenize(where)
    if not toks:
        return None

    def ident(j: int) -> str | None:
        return toks[j].text if 0 <= j < len(toks) and toks[j].kind == "ident" else None

    def kw(j: int) -> str:
        return (ident(j) or "").lower()

    depth, pos = 0, None
    for i, t in enumerate(toks):
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif depth == 0 and t.kind == "ident" and t.lower() in ("exists", "in"):
            pos = i
    if pos is None:
        return None
    exists = kw(pos) == "exists"
    start = pos - 1 if kw(pos - 1) == "not" else pos
    neg = start != pos
    fact_col = None
    if not exists:
        start -= 1
        fact_col = ident(start)
        if fact_col is None or fact_col.lower() in ("and", "or", "not", "in"):
            return None
    pre = None
    if start > 0:
        if kw(start - 1) != "and" or start - 1 == 0:
            return None
        pre = where[toks[0].start : toks[start - 2].end]
    k = pos + 1
    if k >= len(toks) or toks[k].text != "(" or kw(k + 1) != "select":
        return None
    k += 2
    other_col = None
    if exists:
        if k >= len(toks) or toks[k].text not in ("1", "*"):
            return None
    else:
        other_col = ident(k)
        if other_col is None or other_col.lower() == "distinct":
            return None
    if kw(k + 1) != "from" or ident(k + 2) is None:
        return None
    other = ident(k + 2)
    taken = _take_alias(toks, k + 3, "where")
    if taken is None:
        return None
    oa, _, k = taken
    inner = None
    if kw(k) == "where":
        k += 1
        if toks[-1].text != ")" or k >= len(toks) - 1 or not _balanced(toks[k:-1]):
            return None
        inner = where[toks[k].start : toks[-2].end]
    elif k != len(toks) - 1 or toks[k].text != ")":
        return None
    return SubqueryTerm(pre, neg, other, oa, inner, fact_col, other_col)


@dataclass(frozen=True)
class ScalarSubquery:
    """``SELECT d1[, d2 …], (SELECT agg(x|*) FROM fact [[AS] fa] WHERE
    inner) AS alias FROM dim [[AS] da]`` — the bare-ident outer select
    list ``select``, the aggregate ``agg`` over ``arg`` (``*`` or a
    possibly qualified column), texts verbatim. ``as_alias`` records
    that a table alias is spelled with AS."""

    select: str
    agg: str
    arg: str
    fact: str
    fact_alias: str | None
    inner: str
    alias: str
    dim: str
    dim_alias: str | None
    as_alias: bool


def parse_scalar_subquery(query: str) -> ScalarSubquery | None:
    """Parse the select-list scalar-subquery statement, or None."""
    sql = query.strip().rstrip(";")
    toks = tokenize(sql)
    if not toks:
        return None

    def kw(j: int, word: str) -> bool:
        return j < len(toks) and toks[j].kind == "ident" and toks[j].lower() == word

    def text(j: int, kind: str = "ident") -> str | None:
        return toks[j].text if j < len(toks) and toks[j].kind == kind else None

    if not kw(0, "select"):
        return None
    # outer select: ident "," ... ident "," "(" — the depth-0 "(" starts
    # the subquery
    i = 1
    sel_toks: list[Token] = []
    while text(i) is not None:
        sel_toks.append(toks[i])
        if text(i + 1, "op") != ",":
            return None
        i += 2
        if text(i, "op") == "(":
            break
    if not sel_toks or text(i, "op") != "(" or not kw(i + 1, "select"):
        return None
    agg = text(i + 2)
    if agg is None or agg.lower() not in ("count", "sum", "avg", "min", "max"):
        return None
    if text(i + 3, "op") != "(":
        return None
    i += 4
    if text(i, "op") == "*":
        arg, i = "*", i + 1
    elif text(i) is not None:
        if text(i + 1, "op") == "." and text(i + 2) is not None:
            arg, i = sql[toks[i].start : toks[i + 2].end], i + 3
        else:
            arg, i = toks[i].text, i + 1
    else:
        return None
    if text(i, "op") != ")" or not kw(i + 1, "from") or text(i + 2) is None:
        return None
    fact = toks[i + 2].text
    taken = _take_alias(toks, i + 3, "where")
    if taken is None:
        return None
    fa, fa_as, i = taken
    if not kw(i, "where"):
        return None
    # inner WHERE: everything until the ")" that closes the subquery
    i += 1
    depth, start = 0, i
    while i < len(toks):
        if toks[i].text == "(":
            depth += 1
        elif toks[i].text == ")":
            if depth == 0:
                break
            depth -= 1
        i += 1
    if i >= len(toks) or i == start:
        return None
    inner = sql[toks[start].start : toks[i - 1].end]
    if not kw(i + 1, "as") or text(i + 2) is None or not kw(i + 3, "from"):
        return None
    alias = toks[i + 2].text
    if text(i + 4) is None:
        return None
    dim = toks[i + 4].text
    taken = _take_alias(toks, i + 5, "")
    if taken is None or taken[2] != len(toks):
        return None
    da, da_as, _ = taken
    return ScalarSubquery(
        sql[sel_toks[0].start : sel_toks[-1].end],
        agg, arg, fact, fa, inner, alias, dim, da, fa_as or da_as,
    )


def topn_clauses(query: str):
    """AST front-end for the per-group Top-N matcher:

        SELECT c1[, c2 ...] FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY g ORDER BY o [ASC|DESC][, tie...]) AS rn
            FROM fact [WHERE w]
        ) [t] WHERE rn <= k

    → (select, g, o, dir, tie_cols, rn, table, where, table_alias,
    rn_cond, k_text), or None. Envelope (inherited from the deleted regex front-end) —
    the rigid Flink-style Top-N spelling, bare identifiers only."""
    sql = query.strip().rstrip(";")
    toks = tokenize(sql)
    if not toks:
        return None

    def is_kw(j: int, *words: str) -> bool:
        return all(
            j + n < len(toks)
            and toks[j + n].kind == "ident"
            and toks[j + n].lower() == w
            for n, w in enumerate(words)
        )

    if not is_kw(0, "select"):
        return None
    fi = _find_clause(toks[1:], "from")
    if fi is None or fi == 0:
        return None
    sel_toks = toks[1 : 1 + fi]
    if any(
        len(p) != 1 or p[0].kind != "ident" for p in _split_top_commas(sel_toks)
    ):
        return None
    select = _slice(sql, sel_toks)
    i = 1 + fi + 1  # past FROM
    if i >= len(toks) or toks[i].text != "(":
        return None
    depth, j = 0, i
    while j < len(toks):
        if toks[j].text == "(":
            depth += 1
        elif toks[j].text == ")":
            depth -= 1
            if depth == 0:
                break
        j += 1
    if j >= len(toks):
        return None
    inner = toks[i + 1 : j]
    outer = toks[j + 1 :]

    # inner: SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY o
    # [dir][, tie...]) AS rn FROM table [WHERE w]
    def it_kw(k0: int, *words: str) -> bool:
        return all(
            k0 + n < len(inner)
            and inner[k0 + n].kind == "ident"
            and inner[k0 + n].lower() == w
            for n, w in enumerate(words)
        )

    p = 0
    if not it_kw(p, "select"):
        return None
    p += 1
    if p + 1 >= len(inner) or inner[p].text != "*" or inner[p + 1].text != ",":
        return None
    p += 2
    if not it_kw(p, "row_number"):
        return None
    p += 1
    if p + 1 >= len(inner) or inner[p].text != "(" or inner[p + 1].text != ")":
        return None
    p += 2
    if not it_kw(p, "over"):
        return None
    p += 1
    if p >= len(inner) or inner[p].text != "(":
        return None
    od, q = 0, p
    while q < len(inner):
        if inner[q].text == "(":
            od += 1
        elif inner[q].text == ")":
            od -= 1
            if od == 0:
                break
        q += 1
    if q >= len(inner):
        return None
    spec = inner[p + 1 : q]
    p = q + 1
    # spec: PARTITION BY g ORDER BY o [ASC|DESC] (, ident)*
    s = 0

    def sp_kw(k0: int, *words: str) -> bool:
        return all(
            k0 + n < len(spec)
            and spec[k0 + n].kind == "ident"
            and spec[k0 + n].lower() == w
            for n, w in enumerate(words)
        )

    if not sp_kw(s, "partition", "by"):
        return None
    s += 2
    if s >= len(spec) or spec[s].kind != "ident":
        return None
    g = spec[s].text
    s += 1
    if not sp_kw(s, "order", "by"):
        return None
    s += 2
    if s >= len(spec) or spec[s].kind != "ident":
        return None
    o = spec[s].text
    s += 1
    direction = None
    if s < len(spec) and spec[s].kind == "ident" and spec[s].lower() in ("asc", "desc"):
        direction = spec[s].text
        s += 1
    tie: list[str] = []
    while s < len(spec):
        if spec[s].text != "," or s + 1 >= len(spec) or spec[s + 1].kind != "ident":
            return None
        tie.append(spec[s + 1].text)
        s += 2
    # ... AS rn FROM table [WHERE w]
    if not it_kw(p, "as"):
        return None
    p += 1
    if p >= len(inner) or inner[p].kind != "ident":
        return None
    rn = inner[p].text
    p += 1
    if not it_kw(p, "from"):
        return None
    p += 1
    if p >= len(inner) or inner[p].kind != "ident":
        return None
    table = inner[p].text
    p += 1
    where = None
    if p < len(inner):
        if not it_kw(p, "where") or p + 1 >= len(inner):
            return None
        where = _slice(sql, inner[p + 1 :])

    # outer: [AS? alias] WHERE rncond <= k
    w = 0
    alias = None
    if w < len(outer) and outer[w].kind == "ident" and outer[w].lower() == "as":
        if w + 1 >= len(outer) or outer[w + 1].kind != "ident":
            return None
        alias = outer[w + 1].text
        w += 2
    elif (
        w < len(outer)
        and outer[w].kind == "ident"
        and outer[w].lower() != "where"
    ):
        alias = outer[w].text
        w += 1
    if not (
        w + 3 < len(outer)
        and outer[w].kind == "ident"
        and outer[w].lower() == "where"
        and outer[w + 1].kind == "ident"
        and outer[w + 2].text == "<="
        and outer[w + 3].kind == "num"
        and "." not in outer[w + 3].text
        and w + 4 == len(outer)
    ):
        return None
    rncond = outer[w + 1].text
    k_text = outer[w + 3].text
    return (
        select,
        g,
        o,
        direction,
        tuple(tie),
        rn,
        table,
        where,
        alias,
        rncond,
        k_text,
    )


def setop_parts(query: str):
    """Depth-0, literal-aware split of a set-operation statement:
    ``[(None, branch1), (op, branch2), ...]`` where ``op`` is one of
    ``union all | union | intersect all | intersect | except all |
    except`` (lower-case). None when the query doesn't tokenize or has
    no depth-0 set operator. Unlike the regex path's ``re.split``, a
    set-op keyword inside a string literal or a parenthesized subquery
    does NOT split here."""
    sql = query.strip().rstrip(";")
    toks = tokenize(sql)
    if not toks:
        return None
    cuts: list[tuple[int, int, str]] = []  # (start_tok, end_tok, op)
    depth = 0
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif (
            depth == 0
            and t.kind == "ident"
            and t.lower() in ("union", "intersect", "except")
        ):
            op = t.lower()
            end = i + 1
            if (
                end < len(toks)
                and toks[end].kind == "ident"
                and toks[end].lower() == "all"
            ):
                op += " all"
                end += 1
            cuts.append((i, end, op))
            i = end
            continue
        i += 1
    if not cuts:
        return None
    parts: list[tuple[str | None, str]] = []
    prev = 0
    prev_op: str | None = None
    for start, end, op in cuts:
        if start == prev:
            return None  # empty branch
        parts.append((prev_op, _slice(sql, toks[prev:start])))
        prev, prev_op = end, op
    if prev >= len(toks):
        return None
    parts.append((prev_op, _slice(sql, toks[prev:])))
    return parts


# -- structural front-ends for the planner's TEXT REWRITES -------------------
# (normalize_query / split_nested_query consumers — clause extraction
# only; the semantic attribution stays in planner.py)

_JOIN_WORDS = frozenset("join inner left right full cross natural".split())


def _depth0_clause(toks: list[Token], *words: str) -> int | None:
    """Like _find_clause but over an arbitrary token window."""
    return _find_clause(toks, *words)


def nested_from_subquery(sql: str):
    """Structural split of ``SELECT … FROM ( <inner SELECT> ) [alias]
    <rest>`` into (inner_sql, alias_or_None, head_text, rest_text), or
    None. Token-based: the FROM is found at paren depth 0 (a ``FROM (``
    inside a string literal or a select-list subquery never misfires,
    the weak spot of the old regex head), and the inner block must
    itself start with SELECT. The derived table may be FOLLOWED by
    explicit JOIN clauses (round 7: the theta-over-equi cascade
    spelling — the outer level's own matchers decide whether that
    join tree routes); only the comma-list form bails. ``head_text``
    is the verbatim ``SELECT … FROM`` prefix; ``rest_text`` the
    verbatim text after the alias (leading space included when
    non-empty)."""
    s = sql.strip().rstrip(";")
    toks = tokenize(s)
    if not toks or toks[0].kind != "ident" or toks[0].lower() != "select":
        return None
    fi = _find_clause(toks[1:], "from")
    if fi is None or fi == 0:
        return None
    fi += 1  # index in toks
    if fi + 1 >= len(toks) or toks[fi + 1].text != "(":
        return None
    depth, close = 0, None
    for k in range(fi + 1, len(toks)):
        if toks[k].text == "(":
            depth += 1
        elif toks[k].text == ")":
            depth -= 1
            if depth == 0:
                close = k
                break
    if close is None or close == fi + 2:
        return None
    inner_toks = toks[fi + 2 : close]
    if inner_toks[0].kind != "ident" or inner_toks[0].lower() != "select":
        return None
    inner = _slice(s, inner_toks)
    rest_toks = toks[close + 1 :]
    alias = None
    if rest_toks and rest_toks[0].kind == "ident":
        t0 = rest_toks[0]
        if t0.lower() == "as":
            if len(rest_toks) < 2 or rest_toks[1].kind != "ident":
                return None
            alias, rest_toks = rest_toks[1].text, rest_toks[2:]
        elif (
            t0.lower() not in _CLAUSE_STARTS
            and t0.lower() not in ("qualify", "window", "fetch", "outer")
            and t0.lower() not in _JOIN_WORDS
        ):
            alias, rest_toks = t0.text, rest_toks[1:]
    if rest_toks and rest_toks[0].text == ",":
        return None  # comma-listed relations stay un-split
    head = s[: toks[fi].end]
    rest = (" " + s[rest_toks[0].start :]) if rest_toks else ""
    return inner, alias, head, rest


def comma_from_clauses(sql: str):
    """Clause extraction for the comma-join rewrite: ``SELECT … FROM
    t1 [a1], t2 [a2][, …] WHERE e [GROUP BY …|HAVING …|ORDER BY …|
    LIMIT …]`` → (head_text, items, where_text, rest_text), or None.

    ``head_text`` is the verbatim text up to (not including) FROM;
    ``items`` is [(table, alias_or_None), …] (≥ 2 — a single relation
    is not a comma join); ``where_text`` the verbatim depth-0 WHERE
    body; ``rest_text`` the verbatim trailing clauses ('' if none,
    leading space included otherwise). Token-based: clause boundaries
    are found at paren depth 0, so a GROUP BY inside a WHERE
    subquery's parens never tears the split (the old regex needed a
    balance-check bail for exactly that)."""
    s = sql.strip().rstrip(";")
    toks = tokenize(s)
    if not toks or toks[0].kind != "ident" or toks[0].lower() != "select":
        return None
    fi = _find_clause(toks[1:], "from")
    if fi is None or fi == 0:
        return None
    fi += 1
    after = toks[fi + 1 :]
    wi = _find_clause(after, "where")
    if wi is None or wi == 0:
        return None
    table_toks = after[:wi]
    groups = _split_top_commas(table_toks)
    if len(groups) < 2:
        return None
    items: list[tuple[str, str | None]] = []
    for g in groups:
        if len(g) == 1 and g[0].kind == "ident":
            items.append((g[0].text, None))
        elif len(g) == 2 and g[0].kind == "ident" and g[1].kind == "ident":
            if g[1].lower() == "as":
                return None
            items.append((g[0].text, g[1].text))
        elif (
            len(g) == 3
            and all(t.kind == "ident" for t in g)
            and g[1].lower() == "as"
        ):
            items.append((g[0].text, g[2].text))
        else:
            return None
    body = after[wi + 1 :]
    if not body:
        return None
    stops = [
        x
        for x in (
            _find_clause(body, "group", "by"),
            _find_clause(body, "having"),
            _find_clause(body, "order", "by"),
            _find_clause(body, "limit"),
        )
        if x is not None
    ]
    stop = min(stops) if stops else len(body)
    if stop == 0:
        return None
    where = _slice(s, body[:stop])
    rest = (" " + s[body[stop].start :]) if stop < len(body) else ""
    head = s[: toks[fi].start]
    return head, items, where, rest


def relation_names(sql: str) -> set[str] | None:
    """Lowercased BASE-relation names referenced anywhere in ``sql``
    (any nesting depth), or None when the tokenizer bails.

    A relation position is the identifier immediately after FROM or
    JOIN, plus the comma-separated continuations of a FROM list. A
    ``(`` in relation position is a derived table — its body's own
    FROM/JOIN tokens are collected by the same linear scan, so nothing
    is lost by skipping the paren itself. Aliases, column references,
    and identifiers inside string literals are never collected (the
    token stream types string literals as "str"), which is the point:
    the cascade outer-level source pass-through (app.py) used to decide
    base-table attachment with a word-boundary regex over raw SQL, and
    a source name appearing as a column name or inside a literal
    false-positived into an unused attached store.
    """
    toks = tokenize(sql.strip().rstrip(";"))
    if toks is None:
        return None
    names: set[str] = set()
    n = len(toks)

    def collect_at(j: int) -> None:
        # j points at the candidate relation token.
        if j < n and toks[j].kind == "ident":
            names.add(toks[j].lower())

    i = 0
    while i < n:
        t = toks[i]
        if t.kind != "ident":
            i += 1
            continue
        low = t.lower()
        if low == "join":
            collect_at(i + 1)
            i += 2
            continue
        if low != "from":
            i += 1
            continue
        # FROM: first relation, then depth-0-relative comma
        # continuations until a clause keyword ends the list.
        collect_at(i + 1)
        j = i + 1
        depth = 0
        while j < n:
            tj = toks[j]
            if tj.text == "(":
                depth += 1
            elif tj.text == ")":
                if depth == 0:
                    break  # closing a subquery that contained this FROM
                depth -= 1
            elif depth == 0 and tj.text == ",":
                collect_at(j + 1)
            elif (
                depth == 0
                and tj.kind == "ident"
                and tj.lower()
                in (
                    "where", "group", "having", "order", "limit",
                    "union", "intersect", "except", "join", "inner",
                    "left", "right", "full", "cross", "semi", "anti",
                    "on", "using", "window",
                )
            ):
                break
            j += 1
        i += 1
    return names
