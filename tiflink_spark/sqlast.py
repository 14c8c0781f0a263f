"""Minimal SQL tokenizer + single-SELECT clause parser.

The maintenance planner's matchers (planner.py) historically extract
clauses with hand-rolled regexes — the repo's largest wrong-answer
surface as the shape catalog grows. This module is the replacement
front-end: a proper tokenizer (string-literal and paren aware, with
source offsets so clause texts are returned VERBATIM) and a clause
parser for the single-SELECT statement form the matchers consume.

Migration status: DONE AND SEALED — all 17 matchers (single-table
aggregate, projection, global aggregate, DISTINCT, OVER-window, global
ORDER BY+LIMIT, multi-branch UNION ALL, two-branch INTERSECT/EXCEPT/
UNION, per-group Top-N, grouping sets, theta join, join,
join-projection, join-aggregate, semi/anti join, correlated count,
full outer join) route through this parser; the legacy regex scanners
and their ``TIFLINK_AST_MATCHERS`` rollback lever are DELETED. While
both paths existed, tests/test_sqlast.py proved them equivalent
query-by-query over the planner fuzz corpus; the same corpus now pins
this parser against a committed golden fixture
(tests/fixtures/matcher_golden.json).

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


@dataclass(frozen=True)
class SingleSelect:
    """One SELECT over one named table — the clause texts verbatim."""

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


# -- planner front-ends -----------------------------------------------------


def agg_clauses(query: str):
    """AST front-end for the single-table aggregate matcher: the
    (select, table, where, group_by, having) clause texts, or None.
    Envelope (inherited from the deleted regex front-end): GROUP BY required, no table
    alias (the regex form never admitted one), nothing trailing."""
    s = parse_single_select(query)
    if (
        s is None
        or s.tail is not None
        or s.order_by is not None
        or s.limit is not None
        or s.group_by is None
        or s.alias is not None
    ):
        return None
    return (s.select, s.table, s.where, s.group_by, s.having)


def projection_clauses(query: str):
    """AST front-end for the projection matcher: (select, table, alias,
    where), or None. Envelope (inherited from the deleted regex front-end): optional
    alias, optional WHERE, no GROUP BY/HAVING, nothing trailing."""
    s = parse_single_select(query)
    if (
        s is None
        or s.tail is not None
        or s.order_by is not None
        or s.limit is not None
        or s.group_by is not None
        or s.having is not None
    ):
        return None
    return (s.select, s.table, s.alias, s.where)


def global_agg_clauses(query: str):
    """AST front-end for the no-GROUP-BY global aggregate: (select,
    table, where), or None. Envelope (inherited from the deleted regex front-end):
    no alias, no GROUP BY/HAVING, nothing trailing (clause keywords
    inside string literals are rejected by the shared core, keeping
    regex-path equivalence during migration)."""
    s = parse_single_select(query)
    if (
        s is None
        or s.tail is not None
        or s.order_by is not None
        or s.limit is not None
        or s.group_by is not None
        or s.having is not None
        or s.alias is not None
    ):
        return None
    return (s.select, s.table, s.where)


def window_clauses(query: str):
    """AST front-end for the partitioned OVER-window matcher: (select,
    table, where), or None. Envelope (inherited from the deleted regex front-end):
    no alias, no GROUP BY/HAVING, nothing trailing."""
    s = parse_single_select(query)
    if (
        s is None
        or s.tail is not None
        or s.order_by is not None
        or s.limit is not None
        or s.group_by is not None
        or s.having is not None
        or s.alias is not None
    ):
        return None
    return (s.select, s.table, s.where)


def distinct_clauses(query: str):
    """AST front-end for the single-table DISTINCT projection:
    (select-without-DISTINCT, table, where), or None."""
    s = parse_single_select(query)
    if (
        s is None
        or s.tail is not None
        or s.order_by is not None
        or s.limit is not None
        or s.group_by is not None
        or s.having is not None
        or s.alias is not None
    ):
        return None
    dm = re.match(r"(?is)^DISTINCT\s+(.*)$", s.select)
    if dm is None:
        return None
    return (dm.group(1), s.table, s.where)


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
class JoinSelect:
    """``SELECT items FROM t0 [a0] (JOIN ...)+ [WHERE] [GROUP BY]
    [HAVING]`` — clause texts verbatim. ``tail`` non-None marks trailing
    text the parser doesn't model (set ops, ORDER BY/LIMIT/OFFSET...);
    matchers must require it None."""

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


def theta_join_clauses(query: str):
    """AST front-end for the two-sided non-equi join view: (select,
    left, left_alias, right, right_alias, pred, where), or None.
    Envelope (inherited from the deleted regex front-end): exactly one INNER join
    with an ON predicate, optional WHERE, nothing trailing."""
    s = parse_join_select(query)
    if (
        s is None
        or s.tail is not None
        or s.group_by is not None
        or s.having is not None
        or len(s.joins) != 1
    ):
        return None
    j = s.joins[0]
    if j.how != "inner" or j.on is None or j.system_time is not None:
        return None
    return (s.select, s.table, s.alias, j.table, j.alias, j.on, s.where)


def join_using_clauses(query: str):
    """AST front-end for the bare inner equi-join USING form: (select,
    left, right, key), or None. Envelope (inherited from the deleted regex front-end):
    bare ident select list, no aliases, no WHERE, nothing trailing."""
    s = parse_join_select(query)
    if (
        s is None
        or s.tail is not None
        or s.group_by is not None
        or s.having is not None
        or s.where is not None
        or s.alias is not None
        or len(s.joins) != 1
    ):
        return None
    j = s.joins[0]
    if (
        j.how != "inner"
        or j.using is None
        or j.alias is not None
        or j.system_time is not None
    ):
        return None
    items = [c.strip() for c in s.select.split(",")]
    if any(not re.fullmatch(r"[A-Za-z_]\w*", c) for c in items):
        return None
    return (s.select, s.table, j.table, j.using)


def join_on_clauses(query: str):
    """AST front-end for the inner equi-join ON form: (select, left,
    left_alias, right, right_alias, lref, rref, where), or None.
    Envelope (inherited from the deleted regex front-end): one INNER join whose ON is
    a single [qual.]col = [qual.]col equality, optional WHERE, nothing
    trailing."""
    s = parse_join_select(query)
    if (
        s is None
        or s.tail is not None
        or s.group_by is not None
        or s.having is not None
        or len(s.joins) != 1
    ):
        return None
    j = s.joins[0]
    if j.how != "inner" or j.on is None or j.system_time is not None:
        return None
    ref = r"(?:[A-Za-z_]\w*\s*\.\s*)?[A-Za-z_]\w*"
    em = re.fullmatch(
        rf"(?s)\s*({ref})\s*=\s*({ref})\s*", j.on
    )
    if em is None:
        return None
    return (
        s.select,
        s.table,
        s.alias,
        j.table,
        j.alias,
        em.group(1),
        em.group(2),
        s.where,
    )


def full_outer_join_clauses(query: str):
    """AST front-end for the two-sided preserved equi-join view:
    (select, left, left_alias, right, right_alias, pairs, where) with
    ``pairs`` the list of (lref, rref) equality conjuncts, or None.
    Envelope: exactly one FULL [OUTER] JOIN whose ON is a conjunction
    of [qual.]col = [qual.]col equalities (composite-key dims join on
    several), an optional WHERE (validated row-local over the view's
    OUTPUT by the matcher — SQL evaluates it AFTER the join, so it is
    the stateless target-side filter, not a preserved-row change),
    nothing trailing. AST-only — this matcher postdates the regex
    front-ends' deprecation."""
    s = parse_join_select(query)
    if (
        s is None
        or s.tail is not None
        or s.group_by is not None
        or s.having is not None
        or len(s.joins) != 1
    ):
        return None
    j = s.joins[0]
    if j.how != "full" or j.on is None or j.system_time is not None:
        return None
    ref = r"(?:[A-Za-z_]\w*\s*\.\s*)?[A-Za-z_]\w*"
    pairs = []
    for conj in re.split(r"(?is)\bAND\b", j.on):
        em = re.fullmatch(rf"(?s)\s*({ref})\s*=\s*({ref})\s*", conj)
        if em is None:
            return None  # any non-equality conjunct disqualifies
        pairs.append((em.group(1), em.group(2)))
    return (s.select, s.table, s.alias, j.table, j.alias, pairs, s.where)


def semijoin_clauses(query: str):
    """AST front-end for the EXISTS / NOT EXISTS / IN / NOT IN
    existence-filter view. Returns the 12-tuple

        (in_form, select, fact, fa, pre, neg, other, oa,
         lref, rref, fcol, ocol)

    (EXISTS form: fcol/ocol None; IN form: fa/oa/lref/rref None), or
    None. Envelope (inherited from the deleted regex front-end): bare ident
    select list, the subquery term LAST in WHERE, one optional leading
    conjunct (``pre``)."""
    s = parse_single_select(query)
    if (
        s is None
        or s.tail is not None
        or s.order_by is not None
        or s.limit is not None
        or s.group_by is not None
        or s.having is not None
        or s.where is None
    ):
        return None
    if any(
        not re.fullmatch(r"[A-Za-z_]\w*", c.strip()) for c in s.select.split(",")
    ):
        return None
    wtoks = tokenize(s.where)
    if not wtoks:
        return None

    def ident(j: int, toks=None) -> str | None:
        toks = wtoks if toks is None else toks
        return toks[j].text if 0 <= j < len(toks) and toks[j].kind == "ident" else None

    # locate the LAST depth-0 EXISTS (mirrors the regex's non-greedy
    # pre, which grows until the final EXISTS term)
    depth, epos = 0, None
    for i, t in enumerate(wtoks):
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif depth == 0 and t.kind == "ident" and t.lower() == "exists":
            epos = i
    if epos is not None:
        start = epos
        neg = False
        if start > 0 and (ident(start - 1) or "").lower() == "not":
            neg, start = True, start - 1
        pre = None
        if start > 0:
            # the term before [NOT] EXISTS must be a depth-0 AND with a
            # non-empty conjunct in front of it
            if (ident(start - 1) or "").lower() != "and" or start - 1 == 0:
                return None
            pre = s.where[wtoks[0].start : wtoks[start - 2].end]
        # EXISTS ( SELECT 1|* FROM other [AS? oa] WHERE lref = rref )
        j = epos + 1
        if j >= len(wtoks) or wtoks[j].text != "(":
            return None
        j += 1
        if (ident(j) or "").lower() != "select":
            return None
        j += 1
        if j >= len(wtoks) or wtoks[j].text not in ("1", "*"):
            return None
        j += 1
        if (ident(j) or "").lower() != "from":
            return None
        j += 1
        other = ident(j)
        if other is None:
            return None
        j += 1
        oa = None
        if (ident(j) or "").lower() == "as":
            oa = ident(j + 1)
            if oa is None:
                return None
            j += 2
        elif ident(j) is not None and (ident(j) or "").lower() != "where":
            oa = ident(j)
            j += 1
        if (ident(j) or "").lower() != "where":
            return None
        j += 1

        def take_ref(j: int) -> tuple[str, int] | None:
            if ident(j) is None:
                return None
            if (
                j + 2 < len(wtoks)
                and wtoks[j + 1].text == "."
                and wtoks[j + 2].kind == "ident"
            ):
                return s.where[wtoks[j].start : wtoks[j + 2].end], j + 3
            return wtoks[j].text, j + 1

        # conjunction of correlation equalities: lref = rref [AND …] —
        # composite-key EXISTS is the multi-pair form
        pairs = []
        while True:
            tr = take_ref(j)
            if tr is None:
                return None
            lref, j = tr
            if j >= len(wtoks) or wtoks[j].text != "=":
                return None
            tr = take_ref(j + 1)
            if tr is None:
                return None
            rref, j = tr
            pairs.append((lref, rref))
            if j < len(wtoks) and (ident(j) or "").lower() == "and":
                j += 1
                continue
            break
        if j != len(wtoks) - 1 or wtoks[j].text != ")":
            return None
        return (
            False,
            s.select,
            s.table,
            s.alias,
            pre,
            neg,
            other,
            oa,
            pairs,
            None,
            None,
            None,
        )

    # IN form: WHERE must END with: fcol [NOT] IN ( SELECT ocol FROM other )
    n = len(wtoks)
    if n < 7 or wtoks[n - 1].text != ")":
        return None
    other = ident(n - 2)
    if other is None or (ident(n - 3) or "").lower() != "from":
        return None
    ocol = ident(n - 4)
    if ocol is None or (ident(n - 5) or "").lower() != "select":
        return None
    if wtoks[n - 6].text != "(":
        return None
    j = n - 7
    if (ident(j) or "").lower() != "in":
        return None
    j -= 1
    neg = False
    if (ident(j) or "").lower() == "not":
        neg, j = True, j - 1
    fcol = ident(j)
    if fcol is None or fcol.lower() in ("and", "or", "not", "in"):
        return None
    pre = None
    if j > 0:
        if (ident(j - 1) or "").lower() != "and" or j - 1 == 0:
            return None
        pre = s.where[wtoks[0].start : wtoks[j - 2].end]
    return (
        True,
        s.select,
        s.table,
        s.alias,
        pre,
        neg,
        other,
        None,
        None,
        None,
        fcol,
        ocol,
    )


def in_subquery_clauses(query: str):
    """AST front-end for the IN / NOT IN subquery WITH an inner WHERE:

        SELECT cols FROM fact [AS? fa]
        WHERE [pre AND] fcol [NOT] IN (
            SELECT ocol FROM other [AS? oa] WHERE <inner>)

    Returns ``(select, fact, fa, pre, neg, fcol, other, oa, ocol,
    inner)`` or None. The plain no-inner-WHERE spelling stays on
    :func:`semijoin_clauses`; this front-end REQUIRES the inner WHERE
    (round 10 — the correlated/filtered-subquery form)."""
    s = parse_single_select(query)
    if (
        s is None
        or s.tail is not None
        or s.order_by is not None
        or s.limit is not None
        or s.group_by is not None
        or s.having is not None
        or s.where is None
    ):
        return None
    if any(
        not re.fullmatch(r"[A-Za-z_]\w*", c.strip()) for c in s.select.split(",")
    ):
        return None
    wtoks = tokenize(s.where)
    if not wtoks:
        return None

    def ident(j: int) -> str | None:
        return (
            wtoks[j].text
            if 0 <= j < len(wtoks) and wtoks[j].kind == "ident"
            else None
        )

    # locate the LAST depth-0 IN (the subquery term must be the final
    # conjunct, mirroring semijoin_clauses' envelope)
    depth, ipos = 0, None
    for i, t in enumerate(wtoks):
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif depth == 0 and t.kind == "ident" and t.lower() == "in":
            ipos = i
    if ipos is None:
        return None
    j = ipos - 1
    neg = False
    if (ident(j) or "").lower() == "not":
        neg, j = True, j - 1
    fcol = ident(j)
    if fcol is None or fcol.lower() in ("and", "or", "not", "in"):
        return None
    pre = None
    if j > 0:
        if (ident(j - 1) or "").lower() != "and" or j - 1 == 0:
            return None
        pre = s.where[wtoks[0].start : wtoks[j - 2].end]
    # after IN: ( SELECT ocol FROM other [AS? oa] WHERE inner )
    k = ipos + 1
    if k >= len(wtoks) or wtoks[k].text != "(":
        return None
    k += 1
    if (ident(k) or "").lower() != "select":
        return None
    k += 1
    ocol = ident(k)
    if ocol is None or ocol.lower() in ("distinct",):
        return None
    k += 1
    if (ident(k) or "").lower() != "from":
        return None
    k += 1
    other = ident(k)
    if other is None:
        return None
    k += 1
    oa = None
    if (ident(k) or "").lower() == "as":
        oa = ident(k + 1)
        if oa is None:
            return None
        k += 2
    elif ident(k) is not None and (ident(k) or "").lower() != "where":
        oa = ident(k)
        k += 1
    if (ident(k) or "").lower() != "where":
        return None
    k += 1
    # the inner WHERE body runs to the ")" closing IN's "(", which must
    # be the last token; parens inside the body must balance
    if wtoks[-1].text != ")" or k >= len(wtoks) - 1:
        return None
    depth = 0
    for t in wtoks[k:-1]:
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
            if depth < 0:
                return None
    if depth != 0:
        return None
    inner = s.where[wtoks[k].start : wtoks[-2].end]
    return (s.select, s.table, s.alias, pre, neg, fcol, other, oa, ocol, inner)


def exists_subquery_clauses(query: str):
    """AST front-end for the general [NOT] EXISTS subquery — ANY inner
    WHERE text (round 10; the equality-only form stays on
    :func:`semijoin_clauses`):

        SELECT cols FROM fact [AS? fa]
        WHERE [pre AND] [NOT] EXISTS (
            SELECT 1|* FROM other [AS? oa] WHERE <inner>)

    Returns ``(select, fact, fa, pre, neg, other, oa, inner)`` or
    None."""
    s = parse_single_select(query)
    if (
        s is None
        or s.tail is not None
        or s.order_by is not None
        or s.limit is not None
        or s.group_by is not None
        or s.having is not None
        or s.where is None
    ):
        return None
    if any(
        not re.fullmatch(r"[A-Za-z_]\w*", c.strip()) for c in s.select.split(",")
    ):
        return None
    wtoks = tokenize(s.where)
    if not wtoks:
        return None

    def ident(j: int) -> str | None:
        return (
            wtoks[j].text
            if 0 <= j < len(wtoks) and wtoks[j].kind == "ident"
            else None
        )

    depth, epos = 0, None
    for i, t in enumerate(wtoks):
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif depth == 0 and t.kind == "ident" and t.lower() == "exists":
            epos = i
    if epos is None:
        return None
    start = epos
    neg = False
    if start > 0 and (ident(start - 1) or "").lower() == "not":
        neg, start = True, start - 1
    pre = None
    if start > 0:
        if (ident(start - 1) or "").lower() != "and" or start - 1 == 0:
            return None
        pre = s.where[wtoks[0].start : wtoks[start - 2].end]
    k = epos + 1
    if k >= len(wtoks) or wtoks[k].text != "(":
        return None
    k += 1
    if (ident(k) or "").lower() != "select":
        return None
    k += 1
    if k >= len(wtoks) or wtoks[k].text not in ("1", "*"):
        return None
    k += 1
    if (ident(k) or "").lower() != "from":
        return None
    k += 1
    other = ident(k)
    if other is None:
        return None
    k += 1
    oa = None
    if (ident(k) or "").lower() == "as":
        oa = ident(k + 1)
        if oa is None:
            return None
        k += 2
    elif ident(k) is not None and (ident(k) or "").lower() != "where":
        oa = ident(k)
        k += 1
    if (ident(k) or "").lower() != "where":
        return None
    k += 1
    if wtoks[-1].text != ")" or k >= len(wtoks) - 1:
        return None
    depth = 0
    for t in wtoks[k:-1]:
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
            if depth < 0:
                return None
    if depth != 0:
        return None
    inner = s.where[wtoks[k].start : wtoks[-2].end]
    return (s.select, s.table, s.alias, pre, neg, other, oa, inner)


def corr_count_clauses(query: str):
    """AST front-end for the correlated scalar-aggregate shape:

        SELECT d1[, d2 ...], (SELECT agg(x|*) FROM fact fa
            WHERE q1.c1 = q2.c2) AS alias FROM dim da

    → (select, akind, acol, fact, fa, w1, c1, w2, c2, alias, dim, da)
    or None. Envelope (inherited from the deleted regex front-end) — bare ident outer
    select items, mandatory table aliases, single equality."""
    sql = query.strip().rstrip(";")
    toks = tokenize(sql)
    if not toks:
        return None

    def kw(j: int, *words: str) -> bool:
        return all(
            j + n < len(toks)
            and toks[j + n].kind == "ident"
            and toks[j + n].lower() == w
            for n, w in enumerate(words)
        )

    if not kw(0, "select"):
        return None
    # outer select: idents "," ... "," "(" — find the depth-0 "(" that
    # starts the scalar subquery
    i = 1
    sel_toks: list[Token] = []
    while i < len(toks) and toks[i].kind == "ident":
        sel_toks.append(toks[i])
        if i + 1 < len(toks) and toks[i + 1].text == ",":
            i += 2
        else:
            return None
        if i < len(toks) and toks[i].text == "(":
            break
    if not sel_toks or i >= len(toks) or toks[i].text != "(":
        return None
    # verbatim text over the ident list (excluding the trailing comma)
    select = sql[sel_toks[0].start : sel_toks[-1].end]
    i += 1  # past "("
    if not kw(i, "select"):
        return None
    i += 1
    if i >= len(toks) or toks[i].kind != "ident":
        return None
    akind = toks[i].text
    if akind.lower() not in ("count", "sum", "avg", "min", "max"):
        return None
    i += 1
    if i >= len(toks) or toks[i].text != "(":
        return None
    i += 1
    # acol: * | [qual .] ident
    if i < len(toks) and toks[i].text == "*":
        acol = "*"
        i += 1
    elif i < len(toks) and toks[i].kind == "ident":
        if (
            i + 2 < len(toks)
            and toks[i + 1].text == "."
            and toks[i + 2].kind == "ident"
        ):
            acol = sql[toks[i].start : toks[i + 2].end]
            i += 3
        else:
            acol = toks[i].text
            i += 1
    else:
        return None
    if i >= len(toks) or toks[i].text != ")":
        return None
    i += 1
    if not kw(i, "from"):
        return None
    i += 1
    if i + 1 >= len(toks) or toks[i].kind != "ident" or toks[i + 1].kind != "ident":
        return None
    fact, fa = toks[i].text, toks[i + 1].text
    if fa.lower() == "where":
        return None
    i += 2
    if not kw(i, "where"):
        return None
    i += 1
    # q1.c1 = q2.c2
    if not (
        i + 6 < len(toks)
        and toks[i].kind == "ident"
        and toks[i + 1].text == "."
        and toks[i + 2].kind == "ident"
        and toks[i + 3].text == "="
        and toks[i + 4].kind == "ident"
        and toks[i + 5].text == "."
        and toks[i + 6].kind == "ident"
    ):
        return None
    w1, c1, w2, c2 = (
        toks[i].text,
        toks[i + 2].text,
        toks[i + 4].text,
        toks[i + 6].text,
    )
    i += 7
    if i >= len(toks) or toks[i].text != ")":
        return None
    i += 1
    if not kw(i, "as"):
        return None
    i += 1
    if i >= len(toks) or toks[i].kind != "ident":
        return None
    alias = toks[i].text
    i += 1
    if not kw(i, "from"):
        return None
    i += 1
    if (
        i + 1 != len(toks) - 1
        or toks[i].kind != "ident"
        or toks[i + 1].kind != "ident"
    ):
        return None
    dim, da = toks[i].text, toks[i + 1].text
    return (select, akind, acol, fact, fa, w1, c1, w2, c2, alias, dim, da)


def scalar_subquery_clauses(query: str):
    """AST front-end for the correlated scalar-aggregate shape with a
    GENERAL inner WHERE (round 10; the single-equality flagship form
    stays on :func:`corr_count_clauses`):

        SELECT d1[, d2 ...], (SELECT agg(x|*) FROM fact fa
            WHERE <inner>) AS alias FROM dim [AS? da]

    → (select, akind, acol, fact, fa, inner, alias, dim, da) or None.
    Bare-ident outer select items; both table aliases optional (the
    table name itself qualifies when absent)."""
    sql = query.strip().rstrip(";")
    toks = tokenize(sql)
    if not toks:
        return None

    def kw(j: int, *words: str) -> bool:
        return all(
            j + n < len(toks)
            and toks[j + n].kind == "ident"
            and toks[j + n].lower() == w
            for n, w in enumerate(words)
        )

    if not kw(0, "select"):
        return None
    i = 1
    sel_toks: list[Token] = []
    while i < len(toks) and toks[i].kind == "ident":
        sel_toks.append(toks[i])
        if i + 1 < len(toks) and toks[i + 1].text == ",":
            i += 2
        else:
            return None
        if i < len(toks) and toks[i].text == "(":
            break
    if not sel_toks or i >= len(toks) or toks[i].text != "(":
        return None
    select = sql[sel_toks[0].start : sel_toks[-1].end]
    i += 1  # past "("
    if not kw(i, "select"):
        return None
    i += 1
    if i >= len(toks) or toks[i].kind != "ident":
        return None
    akind = toks[i].text
    if akind.lower() not in ("count", "sum", "avg", "min", "max"):
        return None
    i += 1
    if i >= len(toks) or toks[i].text != "(":
        return None
    i += 1
    if i < len(toks) and toks[i].text == "*":
        acol = "*"
        i += 1
    elif i < len(toks) and toks[i].kind == "ident":
        if (
            i + 2 < len(toks)
            and toks[i + 1].text == "."
            and toks[i + 2].kind == "ident"
        ):
            acol = sql[toks[i].start : toks[i + 2].end]
            i += 3
        else:
            acol = toks[i].text
            i += 1
    else:
        return None
    if i >= len(toks) or toks[i].text != ")":
        return None
    i += 1
    if not kw(i, "from"):
        return None
    i += 1
    if i >= len(toks) or toks[i].kind != "ident":
        return None
    fact = toks[i].text
    i += 1
    fa = None
    if kw(i, "as"):
        if i + 1 >= len(toks) or toks[i + 1].kind != "ident":
            return None
        fa = toks[i + 1].text
        i += 2
    elif (
        i < len(toks)
        and toks[i].kind == "ident"
        and toks[i].lower() != "where"
    ):
        fa = toks[i].text
        i += 1
    if not kw(i, "where"):
        return None
    i += 1
    # inner WHERE: everything until the ")" that closes the subquery
    depth = 0
    start = i
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
    i += 1  # past the closing ")"
    if not kw(i, "as"):
        return None
    i += 1
    if i >= len(toks) or toks[i].kind != "ident":
        return None
    alias = toks[i].text
    i += 1
    if not kw(i, "from"):
        return None
    i += 1
    if i >= len(toks) or toks[i].kind != "ident":
        return None
    dim = toks[i].text
    i += 1
    da = None
    if kw(i, "as"):
        if i + 1 >= len(toks) or toks[i + 1].kind != "ident":
            return None
        da = toks[i + 1].text
        i += 2
    elif i < len(toks) and toks[i].kind == "ident":
        da = toks[i].text
        i += 1
    if i != len(toks):
        return None
    return (select, akind, acol, fact, fa, inner, alias, dim, da)


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


def branch_clauses(branch: str):
    """AST front-end for one union/set-op branch: ``SELECT cols FROM
    table [WHERE e]`` → (select, table, where), or None. Mirrors
    the legacy regex front-end's envelope: no alias, no GROUP BY /
    HAVING / ORDER BY / LIMIT, nothing trailing."""
    s = parse_single_select(branch)
    if (
        s is None
        or s.tail is not None
        or s.order_by is not None
        or s.limit is not None
        or s.group_by is not None
        or s.having is not None
        or s.alias is not None
    ):
        return None
    return (s.select, s.table, s.where)


def union_all_branches(query: str):
    """AST front-end for the multi-branch UNION ALL matcher: the list
    of (select, table, where) branch triples, or None (mixed operators
    or any non-conforming branch bail — same totality as the regex
    path, which also rejects the whole statement)."""
    parts = setop_parts(query)
    if parts is None or len(parts) < 2:
        return None
    if any(op != "union all" for op, _ in parts[1:]):
        return None
    branches = [branch_clauses(text) for _, text in parts]
    if any(b is None for b in branches):
        return None
    return branches


def setop_clauses(query: str):
    """AST front-end for the two-branch INTERSECT/EXCEPT/UNION
    matcher: (op, left_triple, right_triple), or None. ``op`` has the
    regex path's spelling: "intersect" | "except" | "union" |
    "intersect_all" | "except_all" ("union all" is the stateless union
    route and returns None here)."""
    parts = setop_parts(query)
    if parts is None or len(parts) != 2:
        return None
    op = parts[1][0]
    if op == "union all":
        return None
    left = branch_clauses(parts[0][1])
    right = branch_clauses(parts[1][1])
    if left is None or right is None:
        return None
    return (op.replace(" ", "_"), left, right)


def order_limit_clauses(query: str):
    """AST front-end for the global ORDER BY + LIMIT view: (select,
    table, where, order_body, limit_text), or None. Mirrors
    the legacy regex front-end's envelope: no alias, no GROUP BY/HAVING,
    both ORDER BY and LIMIT present, nothing trailing."""
    s = parse_single_select(query)
    if (
        s is None
        or s.tail is not None
        or s.group_by is not None
        or s.having is not None
        or s.alias is not None
        or s.order_by is None
        or s.limit is None
    ):
        return None
    return (s.select, s.table, s.where, s.order_by, s.limit)


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
