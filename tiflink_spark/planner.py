"""Maintenance-strategy planner: choose HOW an MV is maintained.

The reference delegates incremental planning wholesale to Flink's
update-mode StreamSQL planner (TiFlinkApp.java:270); SURVEY §4 assigns
the same job to "our API layer for the supported query shapes". This is
that layer, in two stages:

1. **normalize_query** — semantics-preserving textual rewrites run
   before any matching: single-CTE-pipeline inlining (→ the cascade's
   nested form), comma-join → JOIN ON, RIGHT→LEFT join, INNER-ON filter
   hoisting into WHERE, GROUP BY / ORDER BY ordinal resolution (always
   to the item's EXPRESSION — aliases can shadow source columns), and
   bare trailing ORDER BY removal (a keyed MV target is unordered; a
   tail holding LIMIT/OFFSET/FETCH is left intact). The rewritten text
   is also what the recompute fallback executes, so a rewrite is never
   a correctness fork.

2. **Shape matchers**, tried in MVApp's order, each mapping a canonical
   SQL surface to a maintenance class in :mod:`tiflink_spark.mv`:

   - match_agg_shape / match_global_agg_shape / match_distinct_shape /
     match_correlated_count_shape → IncrementalAggMV (delta arithmetic
     for COUNT/SUM/AVG, dirty-group recompute for MIN/MAX/DISTINCT/
     stddev/median; computed group keys derived onto fact rows;
     FILTER-clause aggregates rewritten to their CASE form; HAVING as
     a target-side filter with hidden measures)
   - match_grouping_sets_shape → IncrementalGroupingSetsMV (ROLLUP/
     CUBE/GROUPING SETS de-sugared to one agg state per set over a
     shared fact store)
   - match_join_agg_shape → IncrementalJoinAggMV (star/snowflake join
     trees where every dim enters through its declared — possibly
     composite — PK; dirty-join-key re-derivation feeds the agg state)
   - match_join_projection_shape → IncrementalJoinProjectionMV (the
     lookup-enrichment view: same join machinery, identity sink)
   - match_join_shape → IncrementalJoinMV (bare two-sided equi-join,
     USING or ON form, keyed by both PKs)
   - match_semijoin_shape → IncrementalSemiJoinMV (EXISTS / NOT EXISTS
     / IN; null-aware NOT IN under its exactness conditions)
   - match_setop_shape → IncrementalSetOpMV (INTERSECT/EXCEPT/UNION by
     dual count-per-tuple state; the ALL variants by multiplicity =
     min / truncated difference of the same counts)
   - match_union_all_shape → IncrementalUnionMV (stateless branch tag)
   - match_topn_shape / match_order_limit_shape → IncrementalTopKMV /
     IncrementalGlobalTopKMV (dirty-group re-rank; rising-bound merge)
   - match_window_shape → IncrementalWindowMV (dirty-PARTITION
     recompute for OVER functions, skew-guarded)
   - match_projection_shape → IncrementalProjectionMV (stateless Calc)
   - split_nested_query / split_group_order_limit / rewrite_mn_join_agg
     → CascadeMV (inner MV feeding an outer MV its batch delta;
     top-group reporting and flat M:N join-aggregates are internally
     rewritten into this nested form)

Anything else falls back to :class:`tiflink_spark.mv.RecomputeMV`, the
explicitly-marked recompute maintenance mode. A planner miss is never
wrong, only slower: every strategy converges to the batch answer after
every micro-batch (property-tested in tests/test_mv_convergence.py and
the randomized dispatch fuzzers in tests/test_planner_fuzz.py, which
drive the WHOLE dispatch surface under churn with crash replays).

The GROUP BY keys double as the MV's primary key: a GROUP BY's key set
IS the query's derived unique constraint, which is exactly the PK
inference rule the reference applies before falling back to
first-output-column (TiFlinkApp.java:276-281).

NULL-key contract: every incremental route keys its target by the
derived constraint, and PRIMARY KEY implies NOT NULL (as in SQL, and
as in the reference's integer handle, FlinkTikvProducer.java:77-79).
Data that produces a NULL key — a NULL group value under DISTINCT /
GROUP BY, a NULL tuple under INTERSECT/EXCEPT, a computed key over
NULL inputs — fails the maintenance job loudly (the keyed store embeds
a raise_error guard) rather than silently leaving unretractable rows;
such views belong on the recompute fallback after filtering or
coalescing the NULLs.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from tiflink_spark import sqlast
from tiflink_spark.incremental import Measure


_IDENT = r"[A-Za-z_]\w*"

# A base-table alias capture must not swallow a join keyword: the
# greedy optional alias otherwise eats LEFT/INNER and the join clause
# still matches as a bare JOIN, so the keyword qual-guard rejects the
# whole query — "fact LEFT JOIN dim" and "a INNER JOIN b" silently
# fell back to recompute until the AST port surfaced it.
_NKW = r"(?!(?:INNER|LEFT|RIGHT|FULL|CROSS|JOIN|NATURAL)\b)"


_KEY_ALIAS_RE = re.compile(
    rf"^(?P<expr>.+?)\s+AS\s+(?P<alias>{_IDENT})\s*$", re.IGNORECASE | re.DOTALL
)


def _norm_sql(s: str) -> str:
    return re.sub(r"\s+", " ", s.strip()).lower()

_SQL_KEYWORDS = frozenset(
    "and or not null is in between like true false".split()
)

# A WHERE clause stays incremental only if it is row-local AND
# deterministic: no subquery, no aggregate (those make the predicate
# depend on other rows), and no non-deterministic / clock functions —
# the filtered bootstrap and the per-batch changelog filter evaluate
# the predicate at different times, so rand()/now()-style predicates
# would diverge from batch semantics.
_NON_LOCAL_WHERE = re.compile(
    r"\(\s*SELECT\b|\b(?:count|sum|avg|min|max|stddev_samp|stddev|var_samp|variance|median)\s*\("
    r"|\b(?:rand|randn|random|uuid|shuffle|now|current_timestamp|"
    r"current_date|current_time|localtimestamp|unix_timestamp|"
    r"monotonically_increasing_id|spark_partition_id|input_file_name)(?:\s*\(|\b)",
    re.IGNORECASE,
)

_AGG_RE = re.compile(
    rf"^(?P<kind>count|sum|avg|min|max|stddev_samp|stddev|var_samp|variance|median)\s*\(\s*"
    rf"(?P<arg>.+?)\s*\)\s+AS\s+(?P<alias>{_IDENT})\s*$",
    re.IGNORECASE | re.DOTALL,
)

# Conditional aggregate: agg(arg) FILTER (WHERE pred) AS alias — the
# SQL:2003 filtered-aggregate form. Maintainable whenever pred is
# row-local and deterministic: the measure rewrites to the equivalent
# CASE form (count(*) -> count(CASE WHEN pred THEN 1 END), agg(x) ->
# agg(CASE WHEN pred THEN x END)), which the existing expression-
# argument machinery maintains unchanged. NULL-when-no-qualifying-row
# semantics of SUM/AVG/MIN/MAX FILTER fall out of the CASE form's NULLs.
_FILTER_AGG_RE = re.compile(
    rf"^(?P<kind>count|sum|avg|min|max|stddev_samp|stddev|var_samp|variance|median)\s*\(\s*"
    rf"(?P<arg>.+?)\s*\)\s*FILTER\s*\(\s*WHERE\s+(?P<pred>.+?)\s*\)\s+"
    rf"AS\s+(?P<alias>{_IDENT})\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _row_local_expr_ok(expr: str, columns: set[str]) -> bool:
    """True iff ``expr`` is a row-local deterministic expression over
    known ``columns`` (lower-cased). String literals are blanked before
    the identifier sweep; function-call names are admitted by their call
    syntax (Catalyst resolves them; _NON_LOCAL_WHERE already rejected
    aggregate/clock/random calls)."""
    if _NON_LOCAL_WHERE.search(expr):
        return False
    bare = re.sub(r"'[^']*'", " ", expr)
    fn_names = {f.lower() for f in re.findall(rf"({_IDENT})\s*\(", bare)}
    idents = {i.lower() for i in re.findall(_IDENT, bare)}
    return all(i in columns | _EXPR_KEYWORDS | fn_names for i in idents)


def _rewrite_filter_measure(item: str, columns: set[str] | None) -> str | None:
    """Rewrite ``agg(arg) FILTER (WHERE pred) AS a`` to its CASE form,
    or None when the item is not a maintainable filtered aggregate
    (no FILTER present, DISTINCT arg, or a non-row-local predicate)."""
    fm = _FILTER_AGG_RE.match(item)
    if fm is None or columns is None:
        return None
    kind, arg = fm.group("kind"), fm.group("arg").strip()
    pred = fm.group("pred").strip()
    if not _row_local_expr_ok(pred, columns):
        return None
    distinct = ""
    dm = re.match(r"(?i)^DISTINCT\s+", arg)
    if dm is not None:
        # COUNT(DISTINCT x) FILTER (WHERE p) ≡ distinct non-NULL values
        # of CASE WHEN p THEN x END — the CASE form is exact here too.
        if kind.lower() != "count":
            return None
        distinct, arg = "DISTINCT ", arg[dm.end() :].strip()
    if arg == "*":
        if kind.lower() != "count" or distinct:
            return None
        inner = "1"
    else:
        inner = f"({arg})"
    return (
        f"{kind}({distinct}CASE WHEN ({pred}) THEN {inner} END)"
        f" AS {fm.group('alias')}"
    )

# SQL surface name → internal Measure kind.
_AGG_KIND = {"stddev": "stddev_samp", "variance": "var_samp"}

# Keywords permitted inside a row-local aggregate-argument expression
# (CASE arithmetic etc.) on top of the generic SQL keyword set.
_EXPR_KEYWORDS = _SQL_KEYWORDS | frozenset(
    # typed-literal prefixes (DATE '...', TIMESTAMP '...', INTERVAL 1
    # DAY) are row-local constants; their idents are admitted — any
    # misuse still fails loudly at Spark analysis before planning
    "case when then else end cast date timestamp interval day month year "
    "hour minute second week quarter".split()
)


def _parse_measures(
    items: list[str], columns: set[str] | None
) -> list[Measure] | None:
    """Parse aggregate select items into Measures, or None on any miss.

    ``columns`` is the set of row-local column names an expression
    argument may reference (lower-cased). When None, only bare-identifier
    arguments are accepted (callers without schema access).
    """
    measures = []
    for item in items:
        if _FILTER_AGG_RE.match(item) is not None:
            # FILTER (WHERE …) rewrites to the CASE form; a FILTER item
            # that doesn't rewrite (DISTINCT arg, non-row-local pred)
            # fails the whole shape -> recompute, never wrong.
            item = _rewrite_filter_measure(item, columns)
            if item is None:
                return None
        am = _AGG_RE.match(item)
        if am is None:
            return None
        kind, arg = am.group("kind").lower(), am.group("arg").strip()
        kind = _AGG_KIND.get(kind, kind)
        if arg == "*":
            if kind != "count":
                return None  # sum(*) etc. is not SQL
            col = None
        elif re.match(r"(?i)^DISTINCT\s", arg):
            if kind not in ("count", "sum", "avg"):
                return None  # MIN/MAX DISTINCT ≡ MIN/MAX; stddev etc. bail
            darg = re.sub(r"(?i)^DISTINCT\s+", "", arg).strip()
            if re.fullmatch(_IDENT, darg):
                if columns is not None and darg.lower() not in columns:
                    return None
            elif columns is None or not _row_local_expr_ok(darg, columns):
                return None  # expression arg: same row-local contract
            col = darg
            kind = f"{kind}_distinct"
        elif re.fullmatch(_IDENT, arg):
            if columns is not None and arg.lower() not in columns:
                return None
            col = arg
        else:
            # Row-local expression argument (e.g. SUM(a * (1 - b)),
            # CASE WHEN p THEN x END): every identifier must be a known
            # column (string literals blanked, function names admitted
            # by call syntax), and nested aggregates / non-deterministic
            # calls are rejected.
            if columns is None or not _row_local_expr_ok(arg, columns):
                return None
            col = arg
        measures.append(Measure(kind, col, am.group("alias")))
    return measures


_AGG_CALL_RE = re.compile(
    r"(?i)\b(?P<kind>count|sum|avg|min|max|stddev_samp|stddev|var_samp|variance|median)"
    r"\s*\((?P<arg>(?:[^()]|\([^()]*\))*)\)"
    # optional SQL:2003 FILTER clause — the whole call (incl. filter)
    # parses through _parse_measures' CASE rewrite
    r"(?P<filter>\s*FILTER\s*\(\s*WHERE\s+(?:[^()]|\([^()]*\))*\))?"
)


def _rewrite_having_aggs(
    having: str, measures: list[Measure], columns: set[str] | None
) -> tuple[str, list[Measure]] | None:
    """Rewrite aggregate calls in a HAVING clause to measure aliases.

    ``HAVING count(*) > 3`` is maintainable: the aggregate is just
    another measure over the same GROUP BY state (Flink's update-mode
    planner treats it exactly so). Each aggregate call is parsed like a
    select-list measure; a call matching a visible measure reuses its
    alias, anything else becomes a HIDDEN measure (``__hav{i}``)
    maintained in state and the target store but projected away by
    read() (the resolved query schema never sees it). Returns the
    rewritten alias-form clause plus the hidden measures, or None when
    a call doesn't parse as a maintainable measure (→ recompute).

    This also makes the alias-shadowing case safe rather than rejected:
    ``count(*) AS count … HAVING count(*) > 3`` rewrites to
    ``count > 3`` against the real measure.
    """
    taken = {mm.alias.lower() for mm in measures}
    by_sig: dict[tuple[str, str | None], str] = {}
    for mm in measures:
        sig = (mm.kind, _norm_sql(mm.col) if mm.col else None)
        by_sig.setdefault(sig, mm.alias)
    # Matches inside string literals are not calls — skip them.
    lit_spans = [sm.span() for sm in re.finditer(r"'[^']*'", having)]
    hidden: list[Measure] = []
    out: list[str] = []
    last = 0
    for cm in _AGG_CALL_RE.finditer(having):
        if any(a <= cm.start() < b for a, b in lit_spans):
            continue
        i = len(hidden)
        while f"__hav{i}" in taken:  # user alias collision guard
            i += 1
        parsed = _parse_measures([f"{cm.group(0)} AS __hav{i}"], columns)
        if parsed is None:
            return None
        (mm,) = parsed
        sig = (mm.kind, _norm_sql(mm.col) if mm.col else None)
        alias = by_sig.get(sig)
        if alias is None:
            alias = mm.alias
            by_sig[sig] = alias
            taken.add(alias.lower())
            hidden.append(mm)
        out.append(having[last : cm.start()])
        out.append(alias)
        last = cm.end()
    out.append(having[last:])
    return "".join(out), hidden


def _extract_having_gcalls(
    having: str,
    key_by_lower: dict[str, str],
    select_key_order: list[str],
) -> tuple[str, list[tuple[str, tuple[str, ...]]]] | None:
    """Rewrite ``GROUPING(col)`` / ``GROUPING_ID(cols…)`` calls inside
    a HAVING clause to placeholder identifiers (``__ghav{i}``).

    Both are CONSTANT per grouping set (standard SQL: the flag/id
    depends only on which keys the current set aggregates away), so
    ``HAVING GROUPING(p) = 1 OR cnt > 5`` is maintainable — the
    maintenance layer substitutes each placeholder with the set's
    literal value before applying the filter per sub-MV
    (IncrementalGroupingSetsMV). Returns (rewritten text,
    [(placeholder, cols)]) where the value is the grouping-id of
    ``cols`` (GROUPING(c) ≡ GROUPING_ID(c), a single bit); bare
    GROUPING_ID() means all grouping columns in select order (Spark's
    no-arg form). A call over a non-grouping column — which SQL itself
    rejects — or a malformed arg list returns None (→ recompute).
    Matches inside string literals are left untouched."""
    calls: list[tuple[str, tuple[str, ...]]] = []
    bad = False
    pat = re.compile(
        rf"(?is)\bGROUPING(?P<id>_ID)?\s*\(\s*"
        rf"(?P<args>(?:{_IDENT}(?:\s*,\s*{_IDENT})*)?)\s*\)"
    )

    def _sub(m: re.Match) -> str:
        nonlocal bad
        args = [a.strip() for a in m.group("args").split(",") if a.strip()]
        if m.group("id") is None and len(args) != 1:
            bad = True  # GROUPING() takes exactly one column
            return m.group(0)
        if args:
            if any(a.lower() not in key_by_lower for a in args):
                bad = True
                return m.group(0)
            cols = tuple(key_by_lower[a.lower()] for a in args)
        else:
            cols = tuple(key_by_lower[c.lower()] for c in select_key_order)
        ph = f"__ghav{len(calls)}"
        calls.append((ph, cols))
        return ph

    parts = re.split(r"('(?:[^']|'')*')", having)
    out = "".join(
        p if i % 2 else pat.sub(_sub, p) for i, p in enumerate(parts)
    )
    if bad:
        return None
    return out, calls


@dataclass(frozen=True)
class AggShape:
    """A query matched to the incremental-aggregate maintenance shape.

    ``where`` (row-local predicate or None) is maintained by the
    stateless-filter changelog rule (changelog.apply_filter): the fact
    bootstrap is filtered, and +I/+U change rows failing the predicate
    demote to -D. ``having`` (alias-form predicate over the OUTPUT
    columns, or None) is the same rule applied on the target side: a
    group leaving the predicate leaves the view.
    """

    fact: str
    group_keys: tuple[str, ...]
    measures: tuple[Measure, ...]
    where: str | None = None
    having: str | None = None
    # computed group keys, as (alias, row-local expression) in select
    # order: the maintenance layer derives them onto the fact rows
    # (bootstrap AND every changelog batch), after which they behave
    # exactly like stored columns — this is the auto-time-rollup shape
    # (GROUP BY date_trunc('day', ts) AS day, ...)
    key_exprs: tuple[tuple[str, str], ...] = ()


@dataclass(frozen=True)
class GroupingSetsShape:
    """``SELECT keys…, aggs… FROM t [WHERE row-local] GROUP BY
    GROUPING SETS (…) | ROLLUP(…) | CUBE(…)`` — the multi-grain
    reporting aggregate.

    Maintained by DECOMPOSITION (SURVEY §2.2 "expand to union of
    aggs"; the reference gets these free from Flink's planner via
    Expand nodes, TiFlinkApp.java:270): one per-grouping-set aggregate
    state over a SHARED fact store, the view being the union of the
    per-set rows with NULL for the keys a set omits. ``sets`` is the
    expanded list of grouping sets in emission order (ROLLUP/CUBE are
    de-sugared here so the maintenance layer sees one canonical form);
    duplicates are preserved — SQL's GROUPING SETS is a bag of sets.
    """

    fact: str
    all_keys: tuple[str, ...]  # select-order grouping columns
    sets: tuple[tuple[str, ...], ...]
    measures: tuple[Measure, ...]
    where: str | None = None
    # ``GROUPING(col) AS alias`` select items — constant per grouping
    # set (1 when the column is aggregated away, else 0), so the
    # maintenance layer emits them as per-set literals at read time.
    grouping_items: tuple[tuple[str, str], ...] = ()  # (alias, col)
    # ``GROUPING_ID(c1, …, ck) AS alias`` select items — also constant
    # per grouping set: bit i (first argument = MSB, the SQL-standard /
    # Spark / DuckDB convention) is 1 when that column is aggregated
    # away. (alias, (cols…)); bare GROUPING_ID() captures all keys.
    gid_items: tuple[tuple[str, tuple[str, ...]], ...] = ()
    # Output order of the non-key select items: ("g", alias) for a
    # grouping flag, ("gid", alias) for a grouping id, ("m", alias)
    # for a measure — read() interleaves them back into the query's
    # select order.
    tail_order: tuple[tuple[str, str], ...] = ()
    # HAVING in alias form over measures and/or grouping keys (keys a
    # set omits are NULL-substituted per sub-MV at apply time), plus
    # the hidden measures the aggregate rewrite needs.
    having: str | None = None
    hidden: tuple[Measure, ...] = ()
    # Computed grouping keys — ``date_trunc('month', d) AS mon`` in the
    # select list, referenced by expression or alias inside ROLLUP/
    # CUBE/GROUPING SETS. Derived onto the fact rows (bootstrap AND
    # every changelog batch) exactly like the flat-aggregate route's
    # key_exprs; ``all_keys``/``sets`` then name the aliases.
    key_exprs: tuple[tuple[str, str], ...] = ()  # (alias, expr)
    # ``GROUPING(col)`` / ``GROUPING_ID(cols…)`` calls INSIDE the
    # HAVING clause (round 10) — per-set constants like the select-item
    # forms, extracted to placeholder identifiers (``__ghav{i}``) the
    # maintenance layer substitutes with each set's literal value
    # before applying the filter. (placeholder, (cols…)): the value is
    # the grouping-id of those columns (GROUPING(c) ≡ GROUPING_ID(c)).
    having_gcalls: tuple[tuple[str, tuple[str, ...]], ...] = ()


@dataclass(frozen=True)
class CorrelatedCountShape:
    """The reference's flagship shape (TiFlinkExample.java:10-16),
    generalized to any supported aggregate:

        SELECT d.c1[, d.c2 ...],
               (SELECT agg(x|*) FROM fact f WHERE f.fk = d.dk) AS alias
        FROM dim d

    Decorrelates to dim ⟕ (agg GROUP BY fk) — exactly the dim-joined
    IncrementalAggMV. COUNT coalesces to 0 on the LEFT JOIN just as
    the correlated subquery does for dims with no fact rows; SUM / MIN
    / MAX / AVG present NULL for them, which is also what the scalar
    subquery yields over an empty set.
    """

    dim: str
    dim_key: str
    dim_cols: tuple[str, ...]  # non-key dim output columns
    fact: str
    fact_key: str  # the correlation column on the fact side
    alias: str
    agg_kind: str = "count"  # Measure kind (count|sum|avg|min|max|...)
    agg_col: str | None = None  # None for count(*)


@dataclass(frozen=True)
class DistinctShape:
    """``SELECT DISTINCT c1[, c2 ...] FROM fact [WHERE row-local]`` —
    the dedup view. Maintained as a hidden COUNT(*)-per-key aggregate
    (IncrementalAggMV keyed by the distinct columns): a key's first
    arrival inserts the row, its last departure deletes it — the
    count-based distinct maintenance every incremental-view engine
    uses (Flink's update-mode planner does the same under DISTINCT).
    """

    fact: str
    cols: tuple[str, ...]
    where: str | None = None


def match_distinct_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]] | None = None,
) -> DistinctShape | None:
    """Match the single-table DISTINCT projection, or None. Bare column
    identifiers only (an expression output has no stable retraction
    key); WHERE must be row-local and deterministic, maintained by the
    stateless-filter changelog rule."""
    s = sqlast.parse_single_select(query)
    if s is None or not s.only("where"):
        return None
    dm = re.match(r"(?is)^DISTINCT\s+(.*)$", s.select)
    table, where = s.table, s.where
    if dm is None or table not in source_names:
        return None
    cols = [c.strip() for c in dm.group(1).split(",")]
    if any(not re.fullmatch(_IDENT, c) for c in cols):
        return None
    if len({c.lower() for c in cols}) != len(cols):
        return None
    if source_columns is not None:
        known = {c.lower() for c in source_columns.get(table, [])}
        if any(c.lower() not in known for c in cols):
            return None
    if where is not None:
        # a clause keyword inside a literal or parentheses rejects,
        # like the global-aggregate matcher
        if re.search(
            r"(?i)\b(group\s+by|having|order\s+by|limit|offset|qualify|window)\b",
            where,
        ):
            return None
        if _NON_LOCAL_WHERE.search(where):
            return None
        where = where.strip()
    return DistinctShape(table, tuple(cols), where)


@dataclass(frozen=True)
class UnionAllShape:
    """``SELECT c... FROM t1 UNION ALL SELECT c... FROM t2 [UNION ALL
    …]`` with bare column projections — the multi-source ingestion
    view. UNION ALL is the one set operation that is stateless under
    changelogs (SURVEY §2.2): each branch's changes project straight
    into the target, keyed by (branch tag, branch PK). Every branch
    must select its table's single-column PK at the same select-list
    position (``key_pos``) so union rows stay addressable.

    ``branches`` is ``(table, per-branch column list)`` in query order;
    ``out_cols`` are the output names (first branch's, per SQL).
    """

    branches: tuple[tuple[str, tuple[str, ...]], ...]
    out_cols: tuple[str, ...]
    key_pos: int
    # per-branch row-local WHERE (aligned with ``branches``; None =
    # unfiltered) — applied to the branch's bootstrap AND its changelog
    # batches via the stateless filter rule
    wheres: tuple[str | None, ...] = ()


def _setop_branches(query: str, source_names, source_columns):
    """``(ops, branches, wheres)`` of a set-operation statement whose
    every branch is ``SELECT cols FROM table [WHERE row-local]`` over a
    registered source with bare known columns: ``ops`` the operator
    before each later branch, ``branches`` the (table, canonical
    columns) pairs, ``wheres`` the validated branch filters (None =
    unfiltered). None for anything else — one non-conforming branch
    rejects the whole statement."""
    parts = sqlast.setop_parts(query)
    if parts is None or len(parts) < 2:
        return None
    branches: list[tuple[str, tuple[str, ...]]] = []
    wheres: list[str | None] = []
    for _, text in parts:
        s = sqlast.parse_single_select(text)
        if s is None or not s.only("where") or s.table not in source_names:
            return None
        cols = tuple(c.strip() for c in s.select.split(","))
        if any(not re.fullmatch(_IDENT, c) for c in cols):
            return None
        known = {c.lower(): c for c in source_columns.get(s.table, [])}
        if any(c.lower() not in known for c in cols):
            return None
        where = s.where
        if where is not None:
            if _NON_LOCAL_WHERE.search(where) or not _row_local_expr_ok(
                where, set(known)
            ):
                return None
            where = where.strip()
        branches.append((s.table, tuple(known[c.lower()] for c in cols)))
        wheres.append(where)
    return [op for op, _ in parts[1:]], branches, wheres


def match_union_all_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]],
    source_pks: dict[str, list[str]],
) -> UnionAllShape | None:
    """Match the bare multi-branch UNION ALL, or None for the fallback."""
    parsed = _setop_branches(query, source_names, source_columns)
    if parsed is None or any(op != "union all" for op in parsed[0]):
        return None
    _, branches, wheres = parsed
    if len({t for t, _ in branches}) != len(branches):
        return None  # duplicate branch tables would collide on the key
    widths = {len(cols) for _, cols in branches}
    if len(widths) != 1:
        return None
    key_pos = None
    for t, cols in branches:
        pk = source_pks.get(t) or []
        if len(pk) != 1 or pk[0].lower() not in [c.lower() for c in cols]:
            return None
        pos = [c.lower() for c in cols].index(pk[0].lower())
        if key_pos is None:
            key_pos = pos
        elif key_pos != pos:
            return None  # PKs at different positions → no shared key column
    out_cols = branches[0][1]
    if len({c.lower() for c in out_cols}) != len(out_cols):
        return None
    return UnionAllShape(tuple(branches), out_cols, key_pos, tuple(wheres))


@dataclass(frozen=True)
class SetOpShape:
    """``SELECT cols FROM a INTERSECT|EXCEPT [ALL] SELECT cols FROM b``.
    Maintained by :class:`tiflink_spark.mv.IncrementalSetOpMV` — hidden
    count-per-tuple state on each side; set semantics re-evaluate
    boolean membership for the tuples each batch touches, the ALL
    variants re-evaluate the tuple's MULTIPLICITY (min of counts /
    truncated difference of counts — SQL's bag INTERSECT/EXCEPT),
    stored as one row per copy under a hidden ``__copy`` index. Flink's
    update-mode planner uses the same dual-count state; the reference
    gets it by delegation (TiFlinkApp.java:270)."""

    op: str  # "intersect" | "except" | "intersect_all" | "except_all"
    left: str
    left_cols: tuple[str, ...]
    right: str
    right_cols: tuple[str, ...]
    out_cols: tuple[str, ...]
    # per-side row-local WHERE (None = unfiltered), same filter rule
    # as the union branches
    left_where: str | None = None
    right_where: str | None = None


def match_setop_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]],
    source_pks: dict[str, list[str]],
) -> SetOpShape | None:
    """Match the two-branch INTERSECT/EXCEPT (set OR bag semantics) or
    UNION (set semantics), or None. Both sides must be bare projections
    of registered sources with declared PKs (the per-side count state
    needs retraction lookups). UNION ALL keeps its own stateless route
    (the union matcher). INTERSECT ALL / EXCEPT ALL match here with op
    "intersect_all"/"except_all" — bag multiplicities live in the dual
    count state already. UNION's membership rule is presence on EITHER
    side, so its output tuples are genuinely unique — a sound cascade
    inner, unlike UNION ALL's per-branch key."""
    parsed = _setop_branches(query, source_names, source_columns)
    if parsed is None or len(parsed[0]) != 1 or parsed[0][0] == "union all":
        return None
    (op,), branches, wheres = parsed
    if any(not source_pks.get(t) for t, _ in branches):
        return None
    (lt, lc), (rt, rc) = branches
    if lt == rt or len(lc) != len(rc):
        return None
    if len({c.lower() for c in lc}) != len(lc):
        return None
    return SetOpShape(
        op.replace(" ", "_"), lt, lc, rt, rc, lc, left_where=wheres[0], right_where=wheres[1]
    )


@dataclass(frozen=True)
class TopNShape:
    """The canonical per-group Top-N pattern (Flink's update-mode
    planner special-cases exactly this SQL shape as its Top-N
    operator):

        SELECT c1[, c2 ...] FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY g ORDER BY o [ASC|DESC][, pk...]) AS rn
            FROM fact
        ) [t] WHERE rn <= k

    Routed to :class:`tiflink_spark.mv.IncrementalTopKMV` (dirty-group
    re-rank). ``tie`` holds the trailing ORDER BY columns; the caller
    must verify they equal the fact's declared PK — without a
    deterministic total order the rank slots are ambiguous, so the
    incremental result could legitimately differ from a batch rerun.
    """

    fact: str
    group_key: str
    order_col: str
    descending: bool
    rank_alias: str
    k: int
    out_cols: tuple[str, ...]
    tie: tuple[str, ...]
    # Row-local deterministic predicate INSIDE the ranked subquery
    # (rows filtered before ranking) — maintained via the stateless
    # changelog filter rule, exactly like the aggregate shapes.
    where: str | None = None


def match_topn_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]] | None = None,
) -> TopNShape | None:
    """Match the per-group Top-N pattern, or None for the fallback."""
    parsed = sqlast.topn_clauses(query)
    if parsed is None:
        return None
    select, g, o, direction, tie, rn, table, where, ta, rncond, k_text = parsed
    if table not in source_names:
        return None
    if rncond.lower() != rn.lower():
        return None
    if ta and ta.lower() in _CLAUSE_KEYWORDS:
        return None
    sel = [c.strip() for c in select.split(",")]
    sel_lower = {c.lower() for c in sel}
    # The MV is keyed (partition key, rank): both must appear in the
    # outer select or the advertised PK/DDL would reference columns
    # the view does not expose.
    if g.lower() not in sel_lower or rn.lower() not in sel_lower:
        return None
    cols_known = None
    if source_columns is not None:
        cols_known = {c.lower() for c in source_columns.get(table, [])}
        if rn.lower() in cols_known:
            return None  # rank alias shadowing a real column is ambiguous
        for c in sel:
            if c.lower() != rn.lower() and c.lower() not in cols_known:
                return None
        if g.lower() not in cols_known or o.lower() not in cols_known:
            return None
    k = int(k_text)
    if k < 1:
        return None
    if where is not None:
        if _NON_LOCAL_WHERE.search(where):
            return None
        if cols_known is None or not _row_local_expr_ok(where, cols_known):
            return None
        where = where.strip()
    return TopNShape(
        fact=table,
        group_key=g,
        order_col=o,
        descending=(direction or "asc").lower() == "desc",
        rank_alias=rn,
        k=k,
        out_cols=tuple(c for c in sel),
        tie=tie,
        where=where,
    )


@dataclass(frozen=True)
class WindowShape:
    """The partitioned OVER-window view:

        SELECT c1[, c2 ...],
               fn(args) OVER (PARTITION BY g ORDER BY o [ASC|DESC][, pk...])
                   AS a [, ...]
        FROM fact [WHERE row-local]

    — running sums, per-group ranks, lag/lead neighbors: the window
    views Flink's update-mode planner maintains with per-partition
    OverWindow state. Routed to
    :class:`tiflink_spark.mv.IncrementalWindowMV` — dirty-PARTITION
    recompute: a batch's touched groups are re-windowed from the fact
    store (semi-join pruned, NULL groups included) and diffed.

    Every window item must share the same single PARTITION BY column
    (one dirty-group domain). Rank-like and value-offset functions
    (row_number/lag/lead) additionally require the ORDER BY to be a
    provably TOTAL order: its column set must cover the fact's
    declared PK (ORDER BY the PK itself, or any columns with the PK as
    trailing tie-break) — without a total order their output on ties
    is ambiguous, so the incremental result could legitimately differ
    from a batch rerun. Peer-uniform functions (rank/dense_rank and
    running aggregates, whose default RANGE frame gives every peer the
    same value) carry no such requirement.
    """

    fact: str
    group_keys: tuple[str, ...]  # PARTITION BY columns (composite OK)
    plain_cols: tuple[str, ...]  # bare pass-through columns, select order
    # (alias, full window expression SQL without the AS) in select order
    win_items: tuple[tuple[str, str], ...]
    out_cols: tuple[str, ...]  # full output name list, select order
    where: str | None = None


# Functions whose value is identical across ORDER BY peers under the
# default frame (RANGE UNBOUNDED PRECEDING..CURRENT ROW in both Spark
# and ANSI SQL) — deterministic without a total order.
_WIN_PEER_FNS = frozenset("rank dense_rank percent_rank cume_dist sum count avg min max".split())
# Functions that assign per-ROW values — need the PK as tie-breaker.
_WIN_ROW_FNS = frozenset("row_number lag lead first_value last_value ntile".split())

_WIN_ITEM_RE = re.compile(
    rf"^(?P<expr>(?P<fn>{_IDENT})\s*\(\s*(?P<args>(?:[^()]*))\s*\)\s+OVER\s*\(\s*"
    rf"PARTITION\s+BY\s+(?P<g>{_IDENT}(?:\s*,\s*{_IDENT})*?)\s+"
    rf"ORDER\s+BY\s+(?P<o>{_IDENT})(?:\s+(?P<dir>ASC|DESC))?"
    rf"(?P<tie>(?:\s*,\s*{_IDENT}(?:\s+(?:ASC|DESC))?)*)\s*\))\s+AS\s+(?P<alias>{_IDENT})$",
    re.IGNORECASE | re.DOTALL,
)

_TIE_DIR_RE = re.compile(rf"(?is)^({_IDENT})(?:\s+(?:ASC|DESC))?$")

def match_window_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]],
    source_pks: dict[str, list[str]],
) -> WindowShape | None:
    """Match the partitioned OVER-window view, or None for the fallback."""
    s = sqlast.parse_single_select(query)
    if s is None or not s.only("where") or s.table not in source_names:
        return None
    table, where = s.table, s.where
    cols = {c.lower(): c for c in source_columns.get(table, [])}
    pk = source_pks.get(table) or []
    if not cols or not pk:
        return None
    if where is not None:
        if re.search(
            r"(?i)\b(group\s+by|having|order\s+by|limit|qualify|window)\b", where
        ):
            return None
        if _NON_LOCAL_WHERE.search(where) or not _row_local_expr_ok(
            where, set(cols)
        ):
            return None
        where = where.strip()

    plain: list[str] = []
    wins: list[tuple[str, str]] = []
    out: list[str] = []
    group_keys: tuple[str, ...] | None = None
    items = sqlast.split_commas(s.select)
    if items is None:
        return None
    for item in items:
        if re.fullmatch(_IDENT, item):
            if item.lower() not in cols:
                return None
            plain.append(cols[item.lower()])
            out.append(cols[item.lower()])
            continue
        wm = _WIN_ITEM_RE.match(item)
        if wm is None:
            return None
        fn = wm.group("fn").lower()
        o = wm.group("o")
        gcols = [c.strip() for c in wm.group("g").split(",")]
        if any(c.lower() not in cols for c in gcols) or o.lower() not in cols:
            return None
        if len({c.lower() for c in gcols}) != len(gcols):
            return None
        gk = tuple(cols[c.lower()] for c in gcols)
        if group_keys is None:
            group_keys = gk
        elif {c.lower() for c in gk} != {c.lower() for c in group_keys}:
            return None  # mixed partition keys → no single dirty domain
        # tie columns may carry per-column ASC/DESC — direction is
        # irrelevant to the totality check below
        tie = []
        for term in wm.group("tie").split(","):
            term = term.strip()
            if not term:
                continue
            tm = _TIE_DIR_RE.match(term)
            if tm is None:
                return None
            tie.append(tm.group(1))
        if fn in _WIN_ROW_FNS:
            # Per-row values are deterministic iff the ORDER BY is a
            # TOTAL order on the partition. It provably is when the
            # order column set covers the fact's declared PK (two
            # distinct rows can't tie on every order column if those
            # columns include a unique key — direction is irrelevant
            # to totality). Covers both the classic trailing-PK
            # tie-break and ORDER BY on the PK column itself.
            if any(c.lower() not in cols for c in tie):
                return None
            ordered = {o.lower(), *(c.lower() for c in tie)}
            if not {p.lower() for p in pk} <= ordered:
                return None
        elif fn in _WIN_PEER_FNS:
            if any(c.lower() not in cols for c in tie):
                return None
        else:
            return None  # unknown window function → recompute
        args = wm.group("args").strip()
        if args not in ("", "*"):
            for i, a in enumerate(arg_list := [x.strip() for x in args.split(",")]):
                if i == 0:
                    if not re.fullmatch(_IDENT, a) or a.lower() not in cols:
                        return None
                elif not re.fullmatch(r"-?\d+(?:\.\d+)?", a):
                    return None  # offsets/defaults: numeric literals only
        elif args == "*" and fn != "count":
            return None
        alias = wm.group("alias")
        if alias.lower() in cols:
            return None  # alias shadowing a stored column is ambiguous
        wins.append((alias, wm.group("expr").strip()))
        out.append(alias)
    if not wins or group_keys is None:
        return None
    if len({c.lower() for c in out}) != len(out):
        return None
    sel_lower = {c.lower() for c in plain}
    if any(p.lower() not in sel_lower for p in pk):
        return None  # the MV is keyed by the fact PK — it must be selected
    if any(k.lower() not in sel_lower for k in group_keys):
        return None  # dirty-partition pruning reads the group from MV rows
    return WindowShape(
        fact=table,
        group_keys=group_keys,
        plain_cols=tuple(plain),
        win_items=tuple(wins),
        out_cols=tuple(out),
        where=where,
    )


@dataclass(frozen=True)
class OrderLimitShape:
    """The global top-k view: ``SELECT c1[, …] FROM fact [WHERE
    row-local] ORDER BY c1 [ASC|DESC][, c2 [ASC|DESC] …] LIMIT k`` —
    keyed by the fact PK, which must be selected, and the ORDER BY
    column set must COVER the PK (provably total order — the same rule
    the per-row window route applies; the dispatcher checks it).
    Routed to :class:`tiflink_spark.mv.IncrementalGlobalTopKMV`
    (bound-aware candidate merge; full TakeOrdered re-rank only when a
    current member is touched)."""

    fact: str
    # the full ORDER BY as (column, descending) pairs, in order
    order_spec: tuple[tuple[str, bool], ...]
    k: int
    out_cols: tuple[str, ...]
    where: str | None = None


def match_order_limit_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]] | None = None,
) -> OrderLimitShape | None:
    """Match the global ORDER BY + LIMIT view, or None."""
    s = sqlast.parse_single_select(query)
    if (
        s is None
        or not s.only("where", "order_by", "limit")
        or s.order_by is None
        or s.limit is None
        or s.table not in source_names
    ):
        return None
    table, where = s.table, s.where
    order_spec: list[tuple[str, bool]] = []
    for term in s.order_by.split(","):
        tm = re.fullmatch(rf"(?is)\s*({_IDENT})(?:\s+(ASC|DESC))?\s*", term)
        if tm is None:
            return None
        order_spec.append((tm.group(1), (tm.group(2) or "asc").lower() == "desc"))
    sel = [c.strip() for c in s.select.split(",")]
    if any(not re.fullmatch(_IDENT, c) for c in sel):
        return None
    if len({c.lower() for c in sel}) != len(sel):
        return None
    cols_known = None
    if source_columns is not None:
        cols_known = {c.lower() for c in source_columns.get(table, [])}
        if any(c.lower() not in cols_known for c in sel):
            return None
        if any(c.lower() not in cols_known for c, _ in order_spec):
            return None
    if len({c.lower() for c, _ in order_spec}) != len(order_spec):
        return None  # repeated order column — ambiguous spelling
    k = int(s.limit)
    if k < 1:
        return None
    if where is not None:
        if _NON_LOCAL_WHERE.search(where):
            return None
        if cols_known is None or not _row_local_expr_ok(where, cols_known):
            return None
        where = where.strip()
    return OrderLimitShape(
        fact=table,
        order_spec=tuple(order_spec),
        k=k,
        out_cols=tuple(sel),
        where=where,
    )


@dataclass(frozen=True)
class JoinShape:
    """A two-sided equi-join matched to IncrementalJoinMV maintenance:

        SELECT c1[, c2 ...] FROM left JOIN right USING (k)
        SELECT c1[, c2 ...] FROM left [l] JOIN right [r] ON <ref> = <ref>

    Changelogs on BOTH sides maintain the view by dirty-join-key
    recompute (per-batch work ∝ row volume of touched join keys).
    ``right_key`` is None for the USING form (same-named key on both
    sides); the ON form carries each side's own column, dequalified.
    """

    left: str
    right: str
    join_key: str
    out_cols: tuple[str, ...]
    right_key: str | None = None
    # Row-local deterministic predicate over the JOINED relation
    # (either side's columns, dequalified). Applied after the join in
    # both bootstrap and dirty-key recompute, so maintenance is exact.
    where: str | None = None


@dataclass(frozen=True)
class ThetaJoinShape:
    """Two-sided NON-EQUI join view: ``SELECT cols FROM a JOIN b ON
    <row-local predicate>`` (BETWEEN/interval bands, inequalities,
    arbitrary theta) [+ optional row-local WHERE, folded into the
    predicate]. Routed to
    :class:`tiflink_spark.mv.IncrementalThetaJoinMV` — dirty-PK
    recompute over both post-merge states. Requires DISJOINT column
    names across the two tables (the joined relation carries bare
    names) and both declared PKs in the select list (the MV key)."""

    left: str
    right: str
    predicate: str
    out_cols: tuple[str, ...]


def _one_join(query: str, how: str):
    """The :class:`sqlast.JoinSelect` of ``SELECT … FROM a [la] <how>
    JOIN b [lb] ON|USING … [WHERE …]`` — exactly one ordinary
    (non-temporal) join of kind ``how`` and nothing after the WHERE —
    or None."""
    s = sqlast.parse_join_select(query)
    if s is None or not s.only("alias", "where") or len(s.joins) != 1:
        return None
    j = s.joins[0]
    if j.how != how or j.system_time is not None:
        return None
    return s


def match_theta_join_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]],
    source_pks: dict[str, list[str]],
) -> ThetaJoinShape | None:
    """Match the two-sided non-equi join view, or None. Tried AFTER the
    equi-join matchers, so anything reaching here with a plain equality
    already failed their stricter envelopes (routing it here would
    still be correct, just less pruned)."""
    s = _one_join(query, "inner")
    if s is None or s.joins[0].on is None:
        return None
    j = s.joins[0]
    lt, la, rt, ra, pred, where = s.table, s.alias, j.table, j.alias, j.on, s.where
    if lt not in source_names or rt not in source_names or lt == rt:
        return None
    if (la or "").lower() in _CLAUSE_KEYWORDS or (ra or "").lower() in _CLAUSE_KEYWORDS:
        return None
    lpk, rpk = source_pks.get(lt) or [], source_pks.get(rt) or []
    if not lpk or not rpk:
        return None
    lcols = {c.lower(): c for c in source_columns.get(lt, [])}
    rcols = {c.lower(): c for c in source_columns.get(rt, [])}
    if not lcols or not rcols or (set(lcols) & set(rcols)):
        return None  # disjoint names only — bare-name relation
    allcols = {**lcols, **rcols}
    quals = {q.lower(): t for q, t in ((lt, lt), (la, lt), (rt, rt), (ra, rt)) if q}
    dequalify = _make_dequalifier(quals, {lt: lcols, rt: rcols}, frozenset())
    pred = dequalify(pred)
    if pred is None or _NON_LOCAL_WHERE.search(pred):
        return None
    if re.search(r"(?is)\bJOIN\b", pred):
        return None  # a third relation hides in the ON tail
    if not _row_local_expr_ok(pred, set(allcols)):
        return None
    if where is not None:
        w = dequalify(where)
        if w is None or not _row_local_expr_ok(w, set(allcols)):
            return None
        pred = f"({pred.strip()}) AND ({w.strip()})"
    out: list[str] = []
    items = sqlast.split_commas(s.select)
    if items is None:
        return None
    for item in items:
        dq = dequalify(item)
        if dq is None or not re.fullmatch(_IDENT, dq.strip()):
            return None
        c = dq.strip().lower()
        if c not in allcols:
            return None
        out.append(allcols[c])
    if len({c.lower() for c in out}) != len(out):
        return None
    sel = {c.lower() for c in out}
    if any(p.lower() not in sel for p in (*lpk, *rpk)):
        return None  # both PKs must survive projection (the MV key)
    return ThetaJoinShape(lt, rt, pred.strip(), tuple(out))


@dataclass(frozen=True)
class FullOuterJoinShape:
    """Two-sided PRESERVED equi-join view: ``SELECT cols FROM fact
    FULL [OUTER] JOIN dim ON fact.fk1 = dim.k1 [AND fact.fk2 = dim.k2
    …]`` with (k1, …) exactly the dim's declared PK — single-column or
    composite. Routed to
    :class:`tiflink_spark.mv.IncrementalFullOuterJoinMV` (dirty-key
    recompute + diff over a synthetic row identity — a side's arrival
    retracts the other's NULL-extended row). Requires DISJOINT column
    names and the select list to carry fact PK + every fk + every dim
    key (the identity/probe columns). ``where`` is an optional
    row-local predicate over the view's OUTPUT columns: SQL evaluates
    WHERE after the join, so recompute is filter(full-outer-join) and
    the MV applies the same filter to every recomputed slice before
    diffing — the stateless target-side filter the agg routes use
    (rows entering the predicate insert, rows leaving it retract).
    This is EXACT for any deterministic row-local predicate, including
    ones referencing NULL-extended columns (the filter sees exactly
    the joined rows recompute sees). ``fact_fks``/``dim_keys`` are
    positionally paired."""

    fact: str
    dim: str
    fact_fks: tuple[str, ...]
    dim_keys: tuple[str, ...]
    out_cols: tuple[str, ...]
    where: str | None = None


def match_full_outer_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]],
    source_pks: dict[str, list[str]],
) -> FullOuterJoinShape | None:
    """Match the single FULL OUTER equi-join view, or None: the ON is a
    conjunction of [qual.]col = [qual.]col equalities (composite-key
    dims join on several); the optional WHERE is validated row-local
    over the view's OUTPUT — SQL evaluates it AFTER the join, so it is
    the stateless target-side filter, not a preserved-row change."""
    s = _one_join(query, "full")
    if s is None or s.joins[0].on is None:
        return None
    pairs = sqlast.equality_pairs(s.joins[0].on)
    if pairs is None:
        return None
    lt, la_text, rt, ra_text = s.table, s.alias, s.joins[0].table, s.joins[0].alias
    where = s.where
    if (
        lt not in source_names
        or rt not in source_names
        or lt == rt
        or lt not in source_columns
        or rt not in source_columns
    ):
        return None
    la = (la_text or lt).lower()
    ra = (ra_text or rt).lower()
    if la == ra or {la, ra} & _CLAUSE_KEYWORDS:
        return None
    cols = {
        lt: {c.lower(): c for c in source_columns[lt]},
        rt: {c.lower(): c for c in source_columns[rt]},
    }
    if set(cols[lt]) & set(cols[rt]):
        return None  # disjoint names only — bare-name relation
    quals = {la: lt, ra: rt}

    resolve = _column_resolver(quals, cols)

    # every conjunct must be a cross-side equality; collect per-side refs
    refs: dict[str, list[str]] = {lt: [], rt: []}
    for lref, rref in pairs:
        l, r = resolve(lref), resolve(rref)
        if l is None or r is None or l[0] == r[0]:
            return None
        refs[l[0]].append(l[1])
        refs[r[0]].append(r[1])
    if len({c.lower() for c in refs[lt]}) != len(refs[lt]) or len(
        {c.lower() for c in refs[rt]}
    ) != len(refs[rt]):
        return None  # repeated column on one side — not a plain key join
    # the DIM side enters through its FULL declared PK — single-column
    # or composite (each fact row matches ≤1 dim row — M:1); the other
    # side is the fact and needs its own declared PK. A both-PK (1:1)
    # join picks the right side as dim.
    dim = None
    for cand in (rt, lt):
        cpk = [c.lower() for c in (source_pks.get(cand) or [])]
        if cpk and {c.lower() for c in refs[cand]} == set(cpk):
            dim = cand
            break
    if dim is None:
        return None
    fact = lt if dim == rt else rt
    if not (source_pks.get(fact) or []):
        return None
    # positional pairing fact fk[i] <-> dim key[i], in conjunct order
    fact_fks, dim_keys = [], []
    for lref, rref in pairs:
        l, r = resolve(lref), resolve(rref)
        if l[0] == fact:
            fact_fks.append(l[1])
            dim_keys.append(r[1])
        else:
            fact_fks.append(r[1])
            dim_keys.append(l[1])
    out: list[str] = []
    items = sqlast.split_commas(s.select)
    if items is None:
        return None
    for item in items:
        if not re.fullmatch(rf"(?:{_IDENT}\s*\.\s*)?{_IDENT}", item.strip()):
            return None  # bare/qualified column refs only
        ri = resolve(item)
        if ri is None:
            return None
        out.append(ri[1])
    if len({c.lower() for c in out}) != len(out):
        return None
    need = {
        *(c.lower() for c in source_pks[fact]),
        *(c.lower() for c in fact_fks),
        *(c.lower() for c in dim_keys),
    }
    if need - {c.lower() for c in out}:
        return None
    if where is not None:
        # WHERE over the view's OUTPUT (bare refs only — after the
        # projection the quals are gone), evaluated post-join like SQL:
        # the stateless target-side filter. Row-local + deterministic
        # only; anything else falls back to recompute.
        where = where.strip()
        if not _row_local_expr_ok(where, {c.lower() for c in out}):
            return None
    return FullOuterJoinShape(
        fact, dim, tuple(fact_fks), tuple(dim_keys), tuple(out), where
    )


def match_join_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]] | None = None,
) -> JoinShape | None:
    """Match the bare inner equi-join, or None.

    USING form: the shared key name IS the dirty-key pruning contract;
    select items are bare identifiers. ON form (requires
    ``source_columns``): table aliases and qualified references resolve
    per side; every output column must be unambiguous across the two
    tables (the MV stores bare names), and a join-key column must be in
    the select list (MV rows are located by it)."""
    s = _one_join(query, "inner")
    if s is None:
        return None
    j = s.joins[0]
    left, right = s.table, j.table
    if j.using is not None:
        items = [c.strip() for c in s.select.split(",")]
        if (
            not s.only()
            or j.alias is not None
            or any(not re.fullmatch(_IDENT, c) for c in items)
            or left not in source_names
            or right not in source_names
            or left == right
        ):
            return None
        return JoinShape(left, right, j.using, tuple(items))
    pairs = sqlast.equality_pairs(j.on)
    if pairs is None or len(pairs) != 1 or source_columns is None:
        return None
    (lref, rref), la_text, ra_text, where = pairs[0], s.alias, j.alias, s.where
    if (
        left not in source_names
        or right not in source_names
        or left == right
        or left not in source_columns
        or right not in source_columns
    ):
        return None
    la = (la_text or left).lower()
    ra = (ra_text or right).lower()
    if la == ra or {la, ra} & _CLAUSE_KEYWORDS:
        return None
    cols = {
        left: {c.lower(): c for c in source_columns[left]},
        right: {c.lower(): c for c in source_columns[right]},
    }
    ambiguous = set(cols[left]) & set(cols[right])
    quals = {la: left, ra: right}

    resolve = _column_resolver(quals, cols, ambiguous)

    l, r = resolve(lref), resolve(rref)
    if l is None or r is None or l[0] == r[0]:
        return None
    if l[0] == right:  # ON written right-side-first
        l, r = r, l
    left_key, right_key = l[1], r[1]
    out: list[str] = []
    items = sqlast.split_commas(s.select)
    if items is None:
        return None
    for item in items:
        ri = resolve(item)
        # every output column must be unambiguous as a bare name —
        # the MV relation stores bare names
        if ri is None or ri[1].lower() in ambiguous:
            return None
        out.append(ri[1])
    if len({c.lower() for c in out}) != len(out):
        return None
    if left_key not in out and right_key not in out:
        return None  # MV rows are pruned by a held join-key column
    if where is not None:
        if _NON_LOCAL_WHERE.search(where):
            return None
        # dequalify and validate over both tables' unambiguous columns
        def dq_where(s: str) -> str | None:
            bad = False

            def sub(qm: re.Match) -> str:
                nonlocal bad
                t = quals.get(qm.group(1).lower())
                if t is None or qm.group(2).lower() not in cols[t]:
                    bad = True
                    return qm.group(0)
                return cols[t][qm.group(2).lower()]

            o = _QUAL_RE.sub(sub, s)
            return None if bad else o

        where = dq_where(where)
        if where is None:
            return None
        allowed = (set(cols[left]) | set(cols[right])) - ambiguous
        if not _row_local_expr_ok(where, allowed):
            return None
        where = where.strip()
    return JoinShape(
        left, right, left_key, tuple(out), right_key=right_key, where=where
    )


def match_correlated_count_shape(
    query: str,
    source_names: set[str],
    dim_pk: dict[str, list[str]],
    source_columns: dict[str, list[str]] | None = None,
) -> CorrelatedCountShape | None:
    """Match the flagship correlated-aggregate shape, or None.

    ``dim_pk`` maps source name → declared PK columns; the dim side must
    have a single-column PK that appears in the select list (the MV is
    keyed by it), and the correlation must equate a fact column with
    that dim's PK across the two table aliases. The aggregate may be
    count(*) or count/sum/avg/min/max over a fact column (validated
    against ``source_columns`` when provided; a non-count aggregate
    without schema access falls back).
    """
    q = sqlast.parse_scalar_subquery(query)
    # the flagship spelling: both tables aliased (without AS) and the
    # inner WHERE one equality of two alias-qualified columns
    pairs = None if q is None else sqlast.equality_pairs(q.inner)
    if pairs is None or len(pairs) != 1 or q.as_alias:
        return None
    refs = [_QUAL_RE.fullmatch(ref) for ref in pairs[0]]
    if None in refs or q.fact_alias is None or q.dim_alias is None:
        return None
    fact, dim = q.fact, q.dim
    if fact not in source_names or dim not in source_names or fact == dim:
        return None
    fa, da = q.fact_alias.lower(), q.dim_alias.lower()
    sides = {qm.group(1).lower(): qm.group(2) for qm in refs}
    # one alias for both tables leaves the correlation unattributable
    if fa == da or set(sides) != {fa, da}:
        return None
    fact_key, dim_corr = sides[fa], sides[da]
    pk = dim_pk.get(dim) or []
    if len(pk) != 1 or pk[0].lower() != dim_corr.lower():
        return None
    fcols = None
    if source_columns is not None:
        fcols = {c.lower(): c for c in source_columns.get(fact, [])}
    agg = _scalar_agg(q, fcols)
    if agg is None:
        return None
    sel = [c.strip() for c in q.select.split(",")]
    sel_l = [c.lower() for c in sel]
    # the aggregate's alias must not repeat a selected dim column
    if pk[0].lower() not in sel_l or q.alias.lower() in sel_l:
        return None
    dim_cols = tuple(c for c in sel if c.lower() != pk[0].lower())
    return CorrelatedCountShape(
        dim, pk[0], dim_cols, fact, fact_key, q.alias, agg[0], agg[1]
    )


def _scalar_agg(q, fcols: dict[str, str] | None) -> tuple[str, str | None] | None:
    """(kind, fact column) of a scalar subquery's aggregate — the
    column None for ``count(*)`` — or None. A qualified argument must
    use the fact's alias (its name when unaliased); the column must be
    one of ``fcols`` (None: schema unknown, so only count(*))."""
    kind = q.agg.lower()
    if q.arg == "*":
        return (kind, None) if kind == "count" else None
    arg = q.arg.strip()
    qm = _QUAL_RE.fullmatch(arg)
    if qm is not None:
        if qm.group(1).lower() != (q.fact_alias or q.fact).lower():
            return None
        arg = qm.group(2)
    if fcols is None or arg.lower() not in fcols:
        return None
    return kind, fcols[arg.lower()]


@dataclass(frozen=True)
class SemiJoinShape:
    """The correlated-existence filter view:

        SELECT f1[, f2 ...] FROM fact [AS f]
        WHERE [row-local AND] [NOT] EXISTS (
            SELECT 1 FROM other [AS o] WHERE <ref> = <ref>)

    and the equivalent ``fk IN (SELECT k FROM other)`` spelling — the
    semi/anti-join the reference maintains through Flink's update-mode
    planner (which compiles EXISTS to a streaming semi/anti join with
    presence state per key). The EXISTS correlation may be a
    CONJUNCTION of equalities (composite-key existence);
    ``fact_keys``/``other_keys`` pair positionally. Routed to
    :class:`tiflink_spark.mv.IncrementalSemiJoinMV`: fact-side changes
    re-evaluate membership for exactly the changed PKs; other-side
    changes dirty their key values and re-evaluate only the fact rows
    holding those values. ``NOT IN`` matches with ``null_aware=True``
    (single-column by syntax): its NULL semantics differ from a plain
    anti-join — a NULL outer key belongs to the view only while the
    inner set is empty, and an inner NULL empties the view (the
    maintenance class tracks the null-presence bit explicitly).
    """

    fact: str
    fact_keys: tuple[str, ...]
    other: str
    other_keys: tuple[str, ...]
    out_cols: tuple[str, ...]
    anti: bool
    where: str | None = None
    # True for the NOT IN spelling (see above).
    null_aware: bool = False


def match_semijoin_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]],
) -> SemiJoinShape | None:
    """Match the EXISTS/NOT EXISTS/IN existence-filter view, or None.

    The select list is bare fact columns; the EXISTS correlation is a
    conjunction of equalities, each equating one fact column with one
    column of the inner table (qualified or unambiguous-bare, mirroring
    SQL resolution); the IN form is the bare ``fcol [NOT] IN (SELECT
    ocol FROM other)``; an optional leading WHERE conjunct must be
    row-local and deterministic over the fact's columns. NULL semantics
    line up exactly with Spark's left_semi/left_anti: a NULL fact key
    never matches (excluded from EXISTS/IN, kept by NOT EXISTS).
    """
    f = _subquery_filter(query, source_names, source_columns)
    if f is None:
        return None
    t = f.term
    if t.fact_col is not None:
        if t.other_alias is not None or t.inner is not None:
            return None
        fk, ok = t.fact_col.lower(), t.other_col.lower()
        if fk not in f.fcols or ok not in f.ocols:
            return None
        # NOT IN is null-AWARE: a NULL inner value empties the view, a
        # NULL outer key appears only while the inner set is empty. The
        # maintenance class tracks the inner's null-presence bit
        # explicitly, so ANY inner column routes (PK or not); it also
        # handles the empty-set flip for NULL outer keys.
        fact_keys, other_keys = (f.fcols[fk],), (f.ocols[ok],)
    else:
        pairs = None if t.inner is None else sqlast.equality_pairs(t.inner)
        if pairs is None:
            return None
        quals = {f.fact_alias: f.fact, f.other_alias: f.other}
        cols = {f.fact: f.fcols, f.other: f.ocols}
        resolve = _column_resolver(quals, cols, set(f.fcols) & set(f.ocols))
        fact_keys_l: list[str] = []
        other_keys_l: list[str] = []
        for lref, rref in pairs:
            l, r = resolve(lref), resolve(rref)
            if l is None or r is None or {l[0], r[0]} != {f.fact, f.other}:
                return None
            fact_keys_l.append(l[1] if l[0] == f.fact else r[1])
            other_keys_l.append(l[1] if l[0] == f.other else r[1])
        if len({c.lower() for c in fact_keys_l}) != len(fact_keys_l) or len(
            {c.lower() for c in other_keys_l}
        ) != len(other_keys_l):
            return None  # repeated column on one side
        fact_keys, other_keys = tuple(fact_keys_l), tuple(other_keys_l)
    return SemiJoinShape(
        f.fact,
        fact_keys,
        f.other,
        other_keys,
        f.out_cols,
        t.neg,
        f.pre,
        null_aware=t.fact_col is not None and t.neg,
    )


@dataclass(frozen=True)
class _SubqueryFilter:
    """``SELECT cols FROM fact [fa] WHERE [pre AND] <subquery term>``
    validated up to the subquery (see :func:`_subquery_filter`).
    ``fcols``/``ocols`` map lowercased column names of the fact and
    the subquery's table; the aliases are lowercased, the table name
    when unaliased."""

    fact: str
    other: str
    fcols: dict[str, str]
    ocols: dict[str, str]
    out_cols: tuple[str, ...]
    pre: str | None
    fact_alias: str
    other_alias: str
    term: sqlast.SubqueryTerm


def _subquery_filter(
    query: str, source_names: set[str], source_columns: dict[str, list[str]]
) -> _SubqueryFilter | None:
    """The existence-filter statement the semi-join and correlated
    IN/EXISTS matchers share, or None. Both tables are registered
    sources with known columns and the select list is distinct bare
    fact columns. ``pre`` sees only the outer (fact) scope: row-local,
    deterministic, and without a top-level OR — 'a OR b AND EXISTS(…)'
    parses as 'a OR (b AND EXISTS)', so treating ``pre`` as an
    independent conjunct would silently change the view (a
    parenthesized OR is fine). A subquery with an inner WHERE scopes
    both tables, so their aliases must differ and not be keywords."""
    s = sqlast.parse_single_select(query)
    if s is None or not s.only("alias", "where") or s.where is None:
        return None
    sel = tuple(c.strip() for c in s.select.split(","))
    if any(not re.fullmatch(_IDENT, c) for c in sel):
        return None
    term = sqlast.parse_where_subquery(s.where)
    if term is None:
        return None
    fact, other = s.table, term.other
    if (
        fact not in source_names
        or other not in source_names
        or fact == other
        or fact not in source_columns
        or other not in source_columns
    ):
        return None
    fcols = {c.lower(): c for c in source_columns[fact]}
    ocols = {c.lower(): c for c in source_columns[other]}
    if len({c.lower() for c in sel}) != len(sel) or any(
        c.lower() not in fcols for c in sel
    ):
        return None
    pre = term.pre
    if pre is not None:
        if (
            _NON_LOCAL_WHERE.search(pre)
            or not _row_local_expr_ok(pre, set(fcols))
            or _has_top_level_or(pre)
        ):
            return None
        pre = pre.strip()
    fa, oa = (s.alias or fact).lower(), (term.other_alias or other).lower()
    if term.inner is not None and (fa == oa or {fa, oa} & _CLAUSE_KEYWORDS):
        return None
    return _SubqueryFilter(
        fact,
        other,
        fcols,
        ocols,
        tuple(fcols[c.lower()] for c in sel),
        pre,
        fa,
        oa,
        term,
    )


def _has_top_level_or(expr: str) -> bool:
    """True when ``expr`` contains an OR outside parentheses/strings."""
    bare = re.sub(r"'[^']*'", " ", expr)
    while True:
        reduced = re.sub(r"\([^()]*\)", " ", bare)
        if reduced == bare:
            break
        bare = reduced
    return re.search(r"(?i)\bor\b", bare) is not None


@dataclass(frozen=True)
class CorrSemiJoinShape:
    """The IN / NOT IN subquery with an INNER WHERE (round 10):

        SELECT fact-cols FROM fact [c]
        WHERE [row-local AND] fcol [NOT] IN (
            SELECT ocol FROM other [o]
            WHERE [inner-local] [AND o.x <op> c.y ...])

    ``corr`` holds the correlated comparison terms as
    ``(inner_col, op, outer_col)`` with the op normalized to point
    inner-side-first; ``inner_where`` is the row-local remainder over
    the inner table's columns (inner-alias qualifiers stripped).
    ``corr`` may be empty — a purely filtered, uncorrelated subquery —
    in which case the router reuses IncrementalSemiJoinMV with the
    filter applied to the inner store; a non-empty ``corr`` routes to
    IncrementalCorrSemiJoinMV (per-outer-row membership, the r9
    recompute-only tail 'NOT IN with correlated non-equality
    predicates')."""

    fact: str
    # IN form: the outer / inner comparison columns. EXISTS form: None
    # (membership is bare per-row non-emptiness, exists_form=True).
    fact_key: str | None
    other: str
    other_key: str | None
    out_cols: tuple[str, ...]
    anti: bool
    where: str | None = None
    inner_where: str | None = None
    # (inner_expr, op, outer_expr) — each side a row-local
    # deterministic expression over ONE table's columns (alias
    # qualifiers stripped), op normalized inner-side-first
    corr: tuple[tuple[str, str, str], ...] = ()
    exists_form: bool = False


_CORR_OP_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "=", "<>": "<>", "!=": "!="}


def _split_single_comparison(expr: str) -> tuple[str, str, str] | None:
    """``expr`` split at its single depth-0 comparison operator
    (string-aware), or None when there are zero or several."""
    ops: list[tuple[int, str]] = []
    depth, in_str, i = 0, False, 0
    while i < len(expr):
        ch = expr[i]
        if in_str:
            if ch == "'":
                in_str = False
            i += 1
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            two = expr[i : i + 2]
            if two in ("<=", ">=", "<>", "!="):
                ops.append((i, two))
                i += 2
                continue
            if ch in "<>=":
                ops.append((i, ch))
        i += 1
    if len(ops) != 1:
        return None
    p, op = ops[0]
    return expr[:p], op, expr[p + len(op) :]


def _classify_inner_conjuncts(
    inner: str,
    fa_l: str,
    oa_l: str,
    fcols: dict[str, str],
    ocols: dict[str, str],
) -> tuple[str | None, tuple[tuple[str, str, str], ...]] | None:
    """Split an IN/EXISTS subquery's inner WHERE into a row-local
    inner filter plus correlated comparison terms.

    Each conjunct is either a single depth-0 comparison whose two sides
    each resolve to ONE table's columns (→ a correlated
    ``(inner_expr, op, outer_expr)`` term, op normalized
    inner-side-first), or a row-local deterministic expression over the
    INNER columns (→ filter). A mixed-scope comparison side, an
    outer-only term, an unknown identifier, or a nondeterministic call
    returns None — the caller bails to recompute, never guesses.
    Returns (inner_where | None, corr)."""
    strip_oa = re.compile(rf"(?i)\b{re.escape(oa_l)}\s*\.\s*")
    strip_fa = re.compile(rf"(?i)\b{re.escape(fa_l)}\s*\.\s*")
    _qual_ref = re.compile(rf"({_IDENT})\s*\.\s*({_IDENT})")

    def side_scope(side: str) -> tuple[str, str] | None:
        lits = re.split(r"('(?:[^']|'')*')", side)
        blanked = "".join(" " * len(p) if i % 2 else p for i, p in enumerate(lits))
        scopes: set[str] = set()
        for qm in _qual_ref.finditer(blanked):
            q, c = qm.group(1).lower(), qm.group(2).lower()
            if q == oa_l and c in ocols:
                scopes.add("i")
            elif q == fa_l and c in fcols:
                scopes.add("f")
            else:
                return None
        # bare idents, with qualified spans masked out first
        bare = _qual_ref.sub(" ", blanked)
        fn_names = {f.lower() for f in re.findall(rf"({_IDENT})\s*\(", bare)}
        for ident in re.findall(_IDENT, bare):
            il = ident.lower()
            if il in fn_names or il in _EXPR_KEYWORDS:
                continue
            if il in ocols:  # SQL scoping: inner shadows outer
                scopes.add("i")
            elif il in fcols:
                scopes.add("f")
            else:
                return None
        if {"i", "f"} <= scopes:
            return None
        scope = "i" if "i" in scopes else ("f" if "f" in scopes else "any")
        pat = strip_oa if scope == "i" else strip_fa
        stripped = "".join(
            p if i % 2 else pat.sub("", p) for i, p in enumerate(lits)
        ).strip()
        cols = set(ocols) if scope == "i" else (set(fcols) if scope == "f" else set())
        if _NON_LOCAL_WHERE.search(stripped) or not _row_local_expr_ok(
            stripped, cols
        ):
            return None
        return scope, stripped

    conjs = _split_conjuncts(inner)
    if conjs is None:
        # a top-level OR: the whole inner is ONE term — acceptable only
        # as a purely row-local inner filter
        conjs = [inner.strip()]
    local_parts: list[str] = []
    corr: list[tuple[str, str, str]] = []
    for c in conjs:
        sp = _split_single_comparison(c)
        if sp is not None:
            ls, rs = side_scope(sp[0]), side_scope(sp[2])
            if (
                ls is not None
                and rs is not None
                and {ls[0], rs[0]} == {"i", "f"}
            ):
                op = sp[1]
                if ls[0] == "i":
                    corr.append((ls[1], op, rs[1]))
                else:
                    corr.append((rs[1], _CORR_OP_FLIP[op], ls[1]))
                continue
            # inner-only / literal comparisons fall through to the
            # local check; anything unresolvable fails there
        # row-local over the INNER columns only (qualifiers stripped,
        # string literals preserved by splitting around them first)
        lits = re.split(r"('(?:[^']|'')*')", c)
        stripped = "".join(
            p if i % 2 else strip_oa.sub("", p) for i, p in enumerate(lits)
        )
        if _NON_LOCAL_WHERE.search(stripped) or not _row_local_expr_ok(
            stripped, set(ocols)
        ):
            return None
        local_parts.append(stripped.strip())
    inner_where = " AND ".join(f"({p})" for p in local_parts) if local_parts else None
    return inner_where, tuple(corr)


def match_corr_semijoin_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]],
) -> CorrSemiJoinShape | None:
    """Match the filtered / correlated IN-subquery view, or None."""
    f = _subquery_filter(query, source_names, source_columns)
    if f is None or f.term.fact_col is None or f.term.inner is None:
        return None
    fk, ok = f.term.fact_col.lower(), f.term.other_col.lower()
    if fk not in f.fcols or ok not in f.ocols:
        return None
    cls = _classify_inner_conjuncts(
        f.term.inner, f.fact_alias, f.other_alias, f.fcols, f.ocols
    )
    if cls is None:
        return None
    inner_where, corr = cls
    return CorrSemiJoinShape(
        f.fact,
        f.fcols[fk],
        f.other,
        f.ocols[ok],
        f.out_cols,
        f.term.neg,
        f.pre,
        inner_where,
        tuple(corr),
    )


def match_corr_exists_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]],
) -> CorrSemiJoinShape | None:
    """Match the theta-EXISTS view (round 10) — [NOT] EXISTS whose
    correlation mixes equalities with NON-equality comparisons (or has
    no equality at all), the form the pure-equality presence-state
    matcher (match_semijoin_shape) refuses:

        SELECT fact-cols FROM fact c
        WHERE [row-local AND] [NOT] EXISTS (
            SELECT 1 FROM other o
            WHERE [inner-local AND] o.x <op> c.y [AND ...])

    Membership is bare per-row non-emptiness of S(c), so the shape
    carries ``exists_form=True`` and no key columns; at least one
    correlated term is required (an UNcorrelated EXISTS is constant
    across rows — degenerate, refused). Equality conjuncts ride along
    as '=' corr terms, letting Catalyst hash-join on them with the
    theta terms as the join residual."""
    f = _subquery_filter(query, source_names, source_columns)
    if f is None or f.term.fact_col is not None or f.term.inner is None:
        return None
    # an empty conjunct (``… dk = g AND``) is text Spark cannot parse
    if "" in (_split_conjuncts(f.term.inner, keep_empty=True) or ()):
        return None
    cls = _classify_inner_conjuncts(
        f.term.inner, f.fact_alias, f.other_alias, f.fcols, f.ocols
    )
    if cls is None:
        return None
    inner_where, corr = cls
    if not corr:
        return None  # uncorrelated EXISTS: constant per row — refuse
    return CorrSemiJoinShape(
        f.fact,
        None,
        f.other,
        None,
        f.out_cols,
        f.term.neg,
        f.pre,
        inner_where,
        tuple(corr),
        exists_form=True,
    )


@dataclass(frozen=True)
class CorrScalarAggShape:
    """The correlated SCALAR-aggregate subquery with a general inner
    WHERE (round 10) — the flagship shape widened past its single
    fk = pk equality:

        SELECT d1[, d2 ...],
               (SELECT agg(x|*) FROM fact f
                WHERE [inner-local AND] f.x <op> d.y [AND ...]) AS a
        FROM dim d

    With theta terms the per-row aggregate set S(d) cannot decorrelate
    to a GROUP BY (the flagship route's trick); maintenance evaluates
    the aggregate EXACTLY per dirty dim row over one theta join
    (IncrementalCorrScalarAggMV). ``corr`` terms are
    (fact_expr, op, dim_expr), fact-side-first."""

    dim: str
    dim_pk: str
    fact: str
    akind: str  # count | sum | avg | min | max
    acol: str | None  # None = count(*)
    alias: str
    out_cols: tuple[str, ...]  # bare dim select columns
    inner_where: str | None = None
    corr: tuple[tuple[str, str, str], ...] = ()


def match_corr_scalar_shape(
    query: str,
    source_names: set[str],
    dim_pk: dict[str, list[str]],
    source_columns: dict[str, list[str]],
) -> CorrScalarAggShape | None:
    """Match the theta-correlated scalar-aggregate view, or None. The
    single-equality spelling stays on match_correlated_count_shape
    (routed first — decorrelation to a keyed GROUP BY is cheaper);
    this matcher requires at least one correlated term, of any
    comparison kind, plus optional row-local inner conjuncts."""
    q = sqlast.parse_scalar_subquery(query)
    if q is None:
        return None
    fact, dim = q.fact, q.dim
    if fact not in source_names or dim not in source_names or fact == dim:
        return None
    if fact not in source_columns or dim not in source_columns:
        return None
    fcols = {c.lower(): c for c in source_columns[fact]}
    dcols = {c.lower(): c for c in source_columns[dim]}
    pk = dim_pk.get(dim) or []
    if len(pk) != 1:
        return None
    sel = tuple(c.strip() for c in q.select.split(","))
    if len({c.lower() for c in sel}) != len(sel):
        return None
    if any(c.lower() not in dcols for c in sel):
        return None
    sel = tuple(dcols[c.lower()] for c in sel)
    if pk[0].lower() not in {c.lower() for c in sel}:
        return None
    if q.alias.lower() in {c.lower() for c in sel}:
        return None
    agg = _scalar_agg(q, fcols)
    if agg is None:
        return None
    fa_l = (q.fact_alias or fact).lower()
    da_l = (q.dim_alias or dim).lower()
    if fa_l == da_l or {fa_l, da_l} & _CLAUSE_KEYWORDS:
        return None
    # classifier convention: "inner" = the subquery's table (fact),
    # "outer" = the per-row scope (dim)
    cls = _classify_inner_conjuncts(q.inner, da_l, fa_l, dcols, fcols)
    if cls is None:
        return None
    inner_where, corr = cls
    if not corr:
        return None  # uncorrelated scalar subquery: constant — refuse
    return CorrScalarAggShape(
        dim,
        dim_pk[dim][0],
        fact,
        agg[0],
        agg[1],
        q.alias,
        sel,
        inner_where,
        tuple(corr),
    )


@dataclass(frozen=True)
class GlobalAggShape:
    """The global (no GROUP BY) aggregate over one table:

        SELECT agg(expr) AS a[, ...] FROM fact [WHERE row-local-pred]

    — the dashboard-total MV. Routes to IncrementalAggMV keyed by a
    derived constant ("__g"); the single row stays alive at the zero
    state when the table empties (SQL's empty-input global aggregate is
    one row, not zero rows)."""

    fact: str
    measures: tuple[Measure, ...]
    where: str | None = None


def match_global_agg_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]] | None = None,
) -> GlobalAggShape | None:
    """Match the no-GROUP-BY single-table aggregate, or None.

    Every select item must parse as a maintainable measure (which also
    rejects plain projections), and the WHERE must be row-local and
    deterministic. A WHERE whose text holds a clause keyword (inside
    a literal or parentheses — the parser ends WHERE at a real one) is
    rejected, the envelope the golden fixture pins."""
    s = sqlast.parse_single_select(query)
    if s is None or not s.only("where") or s.table not in source_names:
        return None
    table, where = s.table, s.where
    if where is not None:
        if re.search(
            r"(?i)\b(group\s+by|having|order\s+by|limit|qualify|window)\b", where
        ):
            return None
        if _NON_LOCAL_WHERE.search(where):
            return None
    cols = None
    if source_columns is not None and table in source_columns:
        cols = {c.lower() for c in source_columns[table]}
    if where is not None and (cols is None or not _row_local_expr_ok(where, cols)):
        return None
    items = sqlast.split_commas(s.select)
    measures = None if items is None else _parse_measures(items, cols)
    if not measures:
        return None
    if len({mm.alias.lower() for mm in measures}) != len(measures):
        return None
    return GlobalAggShape(
        table,
        tuple(measures),
        where.strip() if where is not None else None,
    )


def _single_group_by(query: str, source_names: set[str]):
    """The :class:`sqlast.SingleSelect` of ``SELECT … FROM table [WHERE
    e] GROUP BY … [HAVING h]`` over a registered source — no table
    alias, nothing trailing, WHERE without subqueries, aggregates or
    clock calls — or None."""
    s = sqlast.parse_single_select(query)
    if (
        s is None
        or not s.only("where", "group_by", "having")
        or s.group_by is None
        or s.table not in source_names
    ):
        return None
    if s.where is not None and _NON_LOCAL_WHERE.search(s.where):
        return None
    return s


def match_agg_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]] | None = None,
) -> AggShape | None:
    """Return the matched aggregate shape, or None for the fallback.

    Conservative by construction: the FROM clause must be exactly one
    registered source name directly followed by GROUP BY (so any JOIN
    or derived table breaks the match), the leading select items must
    be the bare group-key identifiers in order, and every remaining
    item must be a single supported aggregate with an alias. With
    ``source_columns`` (name → column list), aggregate arguments may be
    row-local expressions (e.g. ``SUM(a * (1 - b))``) — validated
    against the fact's schema; without it only bare identifiers match.
    """
    s = _single_group_by(query, source_names)
    if s is None:
        return None
    table, where, having = s.table, s.where, s.having
    key_terms = sqlast.split_commas(s.group_by)
    items = sqlast.split_commas(s.select)
    if key_terms is None or items is None or len(items) <= len(key_terms):
        return None
    cols = None
    if source_columns is not None and table in source_columns:
        cols = {c.lower() for c in source_columns[table]}

    # Leading select items pair with GROUP BY terms in order. A term is
    # either the bare column itself, or (expression-key form) the
    # select item's expression text or its alias — the standard SQL
    # spellings of GROUP BY over a computed key.
    keys: list[str] = []
    key_exprs: list[tuple[str, str]] = []
    for term, item in zip(key_terms, items):
        term_n = _norm_sql(term)
        am = _KEY_ALIAS_RE.match(item)
        if am is None:
            # bare column key
            if not re.fullmatch(_IDENT, item) or term_n != item.lower():
                return None
            if cols is not None and item.lower() not in cols:
                return None
            keys.append(item)
            continue
        expr, alias = am.group("expr").strip(), am.group("alias")
        if re.fullmatch(_IDENT, expr):
            # "col AS alias" renamed key: GROUP BY col or GROUP BY alias
            if term_n not in (expr.lower(), alias.lower()):
                return None
            if cols is not None and expr.lower() not in cols:
                return None
            keys.append(alias)
            key_exprs.append((alias, expr))
            continue
        # computed key: row-local, deterministic, known identifiers
        # (function names — already resolved by Catalyst upstream —
        # are excluded from the column check by their call syntax)
        if term_n not in (_norm_sql(expr), alias.lower()):
            return None
        if cols is None or _NON_LOCAL_WHERE.search(expr):
            return None
        # string literals ('day' in date_trunc('day', ts)) are not
        # identifiers — blank them before the column check
        bare = re.sub(r"'[^']*'", " ", expr)
        fn_names = {f.lower() for f in re.findall(rf"({_IDENT})\s*\(", bare)}
        idents = {i.lower() for i in re.findall(_IDENT, bare)}
        if any(i not in cols | _EXPR_KEYWORDS | fn_names for i in idents):
            return None
        keys.append(alias)
        key_exprs.append((alias, expr))

    # A derived-key alias shadowing a real fact column would corrupt
    # the derive step (withColumn overwrite); duplicate key names make
    # the output ambiguous.
    if len({k.lower() for k in keys}) != len(keys):
        return None
    if cols is not None and any(
        a.lower() in cols for a, _ in key_exprs
    ):
        return None

    measures = _parse_measures(items[len(key_terms) :], cols)
    if measures is None:
        return None
    # A measure alias shadowing a group key would make the output
    # column set ambiguous (and any HAVING over it unresolvable as a
    # target-side filter) — not this shape.
    if {mm.alias.lower() for mm in measures} & {k.lower() for k in keys}:
        return None
    hidden: list[Measure] = []
    if having is not None:
        # HAVING over the MV's output: aggregate calls rewrite to
        # (possibly hidden) measures of the same GROUP BY state —
        # count(*) > 3 is just another aggregate to maintain. After
        # the rewrite the clause must be alias-form: any remaining
        # aggregate/clock call or unknown identifier is not
        # maintainable as a target-side row filter -> fall back.
        rw = _rewrite_having_aggs(having.strip(), list(measures), cols)
        if rw is None:
            return None
        having, hidden = rw
        if _NON_LOCAL_WHERE.search(having):
            return None
        out_cols = (
            {k.lower() for k in keys}
            | {mm.alias.lower() for mm in measures}
            | {mm.alias.lower() for mm in hidden}
        )
        idents = set(re.findall(_IDENT, having))
        if any(i.lower() not in out_cols | _SQL_KEYWORDS for i in idents):
            return None
    return AggShape(
        table,
        tuple(keys),
        tuple(measures) + tuple(hidden),
        where.strip() if where is not None else None,
        having,
        tuple(key_exprs),
    )


def _paren_wrapped(text: str) -> str | None:
    """The inner text when ``text`` is one balanced ``( … )`` block
    (and nothing else), else None."""
    text = text.strip()
    if not text.startswith("("):
        return None
    end = _match_paren_end(text, 0)
    if end is None or text[end + 1 :].strip():
        return None
    return text[1:end]


# Per-set maintenance is delta-sized, so the de-sugar cap is a |sets|
# cost bound, not a syntax limit: CUBE(6) = 64 sub-aggregates routes,
# CUBE(7) = 128 falls back (see _expand_grouping_body's docstring).
_MAX_GROUPING_SETS = 64

_GID_CALL_RE = re.compile(
    rf"(?is)\bGROUPING_ID\s*\(\s*(?P<args>{_IDENT}(?:\s*,\s*{_IDENT})*)\s*\)"
)


def spark_executable_query(query: str) -> str:
    """Rewrite explicit-argument ``GROUPING_ID(a, b, …)`` calls into the
    equivalent ``grouping()`` arithmetic (first argument = MSB):
    ``CAST(grouping(a)*2 + grouping(b) AS BIGINT)``.

    Spark's analyzer REJECTS any argument list that is not exactly the
    grouping columns in grouping order (GROUPING_ID_COLUMN_MISMATCH),
    but the engine's SQL surface follows Flink / Calcite / DuckDB,
    where any subset in any order is legal. The grouping-sets route
    emits per-set literals and never executes this text; schema
    resolution and the RecomputeMV fallback do, so THEY get the
    rewritten, Spark-executable form (identical semantics and BIGINT
    type). Bare ``GROUPING_ID()`` is Spark-native and left untouched."""

    def _sub(m: re.Match) -> str:
        args = [a.strip() for a in m.group("args").split(",")]
        k = len(args)
        terms = " + ".join(
            f"grouping({a})" if i == k - 1 else f"grouping({a}) * {1 << (k - 1 - i)}"
            for i, a in enumerate(args)
        )
        return f"CAST({terms} AS BIGINT)"

    return _GID_CALL_RE.sub(_sub, query)


def _expand_grouping_body(body: str) -> list[tuple[str, ...]] | None:
    """De-sugar a GROUP BY tail into explicit grouping sets.

    Accepts ``ROLLUP(a, b)``, ``CUBE(a, b)`` and ``GROUPING SETS
    ((a, b), a, ())``. Terms may be bare columns OR expressions
    (paren-aware splitting; the core pairs expression terms with
    ``expr AS alias`` select items). Returns the expanded list of
    term-text tuples in SQL emission order, or None for anything else
    (plain GROUP BY, nested ROLLUP inside GROUPING SETS).

    Cost bound: de-sugaring is capped at ``_MAX_GROUPING_SETS`` total
    sets (CUBE(n) = 2^n, so n ≤ 6 routes; CUBE(7)+ stays on recompute).
    The maintenance cost is one delta-sized aggregate state per set
    over a SHARED fact store — per-batch work is |sets| × |delta|,
    independent of table size, so 64 sets is a bounded, scale-safe
    work quantum; past that the union view's width itself says the
    user wants an OLAP cube engine pass, not per-commit maintenance."""
    body = body.strip().rstrip(";").strip()
    rm = re.match(r"(?is)^(ROLLUP|CUBE)\s*\(", body)
    if rm is not None:
        inner = _paren_wrapped(body[rm.end() - 1 :])
        if inner is None:
            return None
        terms = [t.strip() for t in sqlast.split_commas(inner) or () if t.strip()]
        if not terms:
            return None
        if rm.group(1).upper() == "ROLLUP":
            return [tuple(terms[:i]) for i in range(len(terms), -1, -1)]
        if 2 ** len(terms) > _MAX_GROUPING_SETS:
            return None
        # CUBE: every subset, in Spark/DuckDB's emission order (bitmask
        # over terms, most-significant = first term present)
        out = []
        n = len(terms)
        for mask in range(2**n):
            out.append(
                tuple(c for i, c in enumerate(terms) if not (mask >> (n - 1 - i)) & 1)
            )
        return out
    gm = re.match(r"(?is)^GROUPING\s+SETS\s*\(", body)
    if gm is None:
        return None
    gbody = _paren_wrapped(body[gm.end() - 1 :])
    if gbody is None:
        return None
    items = sqlast.split_commas(gbody)
    if items is None:
        return None
    sets: list[tuple[str, ...]] = []
    for item in items:
        item = item.strip()
        if re.match(r"(?is)^(ROLLUP|CUBE|GROUPING\s+SETS)\s*\(", item):
            return None  # nested de-sugaring forms stay on recompute
        inner = _paren_wrapped(item)
        # A parenthesized block is a SET LIST unless it reads as a
        # single non-splittable expression — "(a, b)" is the set
        # {a, b}; "(a + b)" is one expression term.
        if inner is not None:
            terms = sqlast.split_commas(inner)
            if terms is None:
                return None
            sets.append(tuple(t.strip() for t in terms if t.strip()))
            continue
        if not item:
            return None
        sets.append((item,))
    return sets or None


def match_grouping_sets_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]] | None = None,
) -> GroupingSetsShape | None:
    """Match the single-table GROUPING SETS / ROLLUP / CUBE aggregate,
    or None for the fallback.

    Conservative envelope: one registered source, leading select items
    are the bare grouping columns (select order must cover exactly the
    union of grouping-set columns), remaining items are supported
    aggregates, ``GROUPING(col) AS alias`` flags, or
    ``GROUPING_ID(cols…) AS alias`` (both constant per grouping set —
    emitted as per-set literals; GROUPING_ID's bit order is first
    argument = MSB, the SQL-standard/Spark/DuckDB convention), WHERE
    row-local, HAVING over measures and/or grouping keys (aggregate
    calls rewrite to possibly-hidden measure aliases; a referenced key
    reads as NULL on the sub-targets that aggregate it away, applied
    per sub-MV via NULL substitution)."""
    s = _single_group_by(query, source_names)
    if s is None:
        return None
    select, table, where, having = s.select, s.table, s.where, s.having
    sets = _expand_grouping_body(s.group_by)
    if sets is None:
        return None
    cols = None
    if source_columns is not None and table in source_columns:
        cols = {c.lower() for c in source_columns[table]}
    if cols is None:
        return None
    # Distinct grouping TERMS in first-seen order (terms may be bare
    # columns, aliases, or expressions — normalized-text identity).
    set_terms: list[str] = []
    for s in sets:
        for t in s:
            if _norm_sql(t) not in {_norm_sql(x) for x in set_terms}:
                set_terms.append(t)
    items = sqlast.split_commas(select)
    if items is None or len(items) <= len(set_terms):
        return None
    # Leading select items are the grouping keys: bare columns, or
    # ``expr AS alias`` computed keys (derived onto fact rows by the
    # maintenance layer, exactly like the flat-aggregate route).
    keys: list[str] = []
    key_exprs: list[tuple[str, str]] = []
    for item in items[: len(set_terms)]:
        am = _KEY_ALIAS_RE.match(item)
        if am is None:
            if not re.fullmatch(_IDENT, item) or item.lower() not in cols:
                return None
            keys.append(item)
            continue
        expr, alias = am.group("expr").strip(), am.group("alias")
        if alias.lower() in cols:
            return None  # derived alias shadowing a fact column
        if re.fullmatch(_IDENT, expr):
            if expr.lower() not in cols:
                return None
        else:
            if _NON_LOCAL_WHERE.search(expr):
                return None
            bare = re.sub(r"'[^']*'", " ", expr)
            fn_names = {f.lower() for f in re.findall(rf"({_IDENT})\s*\(", bare)}
            idents = {i.lower() for i in re.findall(_IDENT, bare)}
            if any(i not in cols | _EXPR_KEYWORDS | fn_names for i in idents):
                return None
        keys.append(alias)
        key_exprs.append((alias, expr))
    if len({k.lower() for k in keys}) != len(keys):
        return None
    expr_by_alias = {a.lower(): _norm_sql(e) for a, e in key_exprs}

    def _resolve_term(t: str) -> str | None:
        tn = _norm_sql(t)
        for k in keys:
            if tn == k.lower():
                return k  # bare column or alias spelling
        for k in keys:
            if expr_by_alias.get(k.lower()) == tn:
                return k  # expression spelling of a computed key
        return None

    resolved_sets: list[tuple[str, ...]] = []
    used: set[str] = set()
    for s in sets:
        rs = []
        for t in s:
            k = _resolve_term(t)
            if k is None:
                return None
            rs.append(k)
            used.add(k.lower())
        resolved_sets.append(tuple(rs))
    if used != {k.lower() for k in keys}:
        return None  # select keys must be exactly the grouping terms
    sets = resolved_sets
    set_cols = keys  # select order == key order now
    if where is not None and not _row_local_expr_ok(where, cols):
        return None
    key_by_lower = {k.lower(): k for k in keys}
    grouping_items: list[tuple[str, str]] = []
    gid_items: list[tuple[str, tuple[str, ...]]] = []
    meas_items: list[str] = []
    tail_order: list[tuple[str, str]] = []
    g_re = re.compile(
        rf"(?is)^GROUPING\s*\(\s*({_IDENT})\s*\)\s+AS\s+({_IDENT})$"
    )
    # GROUPING_ID(c1, …, ck) — like GROUPING(), constant per grouping
    # set: bit i (first argument = most significant, the SQL-standard /
    # Spark / DuckDB convention) is 1 when that column is aggregated
    # away. Bare GROUPING_ID() means all grouping columns in select
    # order (Spark's no-arg form).
    gid_re = re.compile(
        rf"(?is)^GROUPING_ID\s*\(\s*(?P<args>(?:{_IDENT}(?:\s*,\s*{_IDENT})*)?)\s*\)\s+AS\s+(?P<alias>{_IDENT})$"
    )
    for item in items[len(set_cols) :]:
        gm = g_re.match(item.strip())
        if gm is not None:
            col, alias = gm.group(1), gm.group(2)
            if col.lower() not in key_by_lower:
                return None  # GROUPING over a non-grouping column
            grouping_items.append((alias, key_by_lower[col.lower()]))
            tail_order.append(("g", alias))
            continue
        gim = gid_re.match(item.strip())
        if gim is not None:
            args = [a.strip() for a in gim.group("args").split(",") if a.strip()]
            # Any SUBSET of the grouping columns, in any order (round 7;
            # bare GROUPING_ID() = all keys in select order). The route
            # emits per-set constant literals — first argument = most
            # significant bit, the SQL-standard / DuckDB convention —
            # so it accepts the subset form Spark's own grouping_id()
            # rejects (GROUPING_ID_COLUMN_MISMATCH), matching Flink /
            # Calcite / DuckDB semantics. Non-grouping columns refuse.
            if args:
                if any(a.lower() not in key_by_lower for a in args):
                    return None
                gid_cols = tuple(key_by_lower[a.lower()] for a in args)
            else:
                gid_cols = tuple(key_by_lower[c.lower()] for c in set_cols)
            gid_items.append((gim.group("alias"), gid_cols))
            tail_order.append(("gid", gim.group("alias")))
            continue
        meas_items.append(item)
        tail_order.append(("m", ""))
    if not meas_items:
        return None
    measures = _parse_measures(meas_items, cols)
    if measures is None:
        return None
    mi = iter(measures)
    tail_order = [
        (k, next(mi).alias if k == "m" else a) for k, a in tail_order
    ]
    out_aliases = (
        [mm.alias.lower() for mm in measures]
        + [a.lower() for a, _ in grouping_items]
        + [a.lower() for a, _ in gid_items]
    )
    if len(set(out_aliases)) != len(out_aliases) or set(out_aliases) & {
        k.lower() for k in keys
    }:
        return None
    hidden: list[Measure] = []
    hav_gcalls: list[tuple[str, tuple[str, ...]]] = []
    if having is not None:
        # HAVING over measures and/or grouping KEYS: aggregate calls
        # rewrite to (possibly hidden) measure aliases. A key reference
        # is evaluable per grouping set under SQL's rule that a key
        # absent from the current set reads as NULL — the maintenance
        # layer applies the filter per sub-MV with absent keys
        # NULL-substituted (IncrementalGroupingSetsMV). GROUPING()/
        # GROUPING_ID() calls (and references to their select-item
        # aliases) are per-set CONSTANTS — extracted to placeholders
        # the maintenance layer substitutes with each set's literal
        # value (round 10). Anything else bails to recompute.
        gext = _extract_having_gcalls(
            having.strip(), key_by_lower, list(set_cols)
        )
        if gext is None:
            return None
        having, hav_gcalls = gext
        rw = _rewrite_having_aggs(having, list(measures), cols)
        if rw is None:
            return None
        having, hidden = rw
        if _NON_LOCAL_WHERE.search(having):
            return None
        ok_idents = (
            {mm.alias.lower() for mm in measures}
            | {mm.alias.lower() for mm in hidden}
            | set(key_by_lower)
            | {ph.lower() for ph, _ in hav_gcalls}
            | {a.lower() for a, _ in grouping_items}
            | {a.lower() for a, _ in gid_items}
        )
        for ident in re.findall(_IDENT, re.sub(r"'[^']*'", " ", having)):
            if ident.lower() not in ok_idents | _SQL_KEYWORDS:
                return None
    # Canonicalize each set's column spelling to the select list's
    canon_sets = tuple(
        tuple(key_by_lower[c.lower()] for c in s) for s in sets
    )
    return GroupingSetsShape(
        fact=table,
        all_keys=tuple(keys),
        sets=canon_sets,
        measures=tuple(measures),
        where=where.strip() if where is not None else None,
        grouping_items=tuple(grouping_items),
        gid_items=tuple(gid_items),
        tail_order=tuple(tail_order),
        having=having,
        hidden=tuple(hidden),
        key_exprs=tuple(key_exprs),
        having_gcalls=tuple(hav_gcalls),
    )


def _scan_top_level(query: str, keyword: str) -> list[int]:
    """Offsets of ``keyword`` occurrences at paren depth 0, outside
    string literals (case-insensitive, word-bounded)."""
    hits, depth, in_str = [], 0, False
    kw, n = keyword.upper(), len(keyword)
    for i, ch in enumerate(query):
        if in_str:
            if ch == "'":
                in_str = False
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and query[i : i + n].upper() == kw:
            before = query[i - 1] if i > 0 else " "
            after = query[i + n] if i + n < len(query) else " "
            if not (before.isalnum() or before == "_") and not (
                after.isalnum() or after == "_"
            ):
                hits.append(i)
    return hits


def _strip_bare_order_by(query: str) -> str:
    """Drop a top-level trailing ORDER BY that has no LIMIT after it.

    A materialized target is an unordered keyed table — the reference's
    MV is a TiKV table (FlinkTikvProducer.java), ours a keyed parquet
    store — so a final ORDER BY with no LIMIT contributes nothing to
    the maintained result set. Stripping it lets the ordered form of
    every maintainable shape route incrementally. ORDER BY + LIMIT is
    left intact: that pair IS a top-k shape with its own routes."""
    obs = _scan_top_level(query, "ORDER")
    for i in obs:
        if not re.match(r"(?is)^ORDER\s+BY\b", query[i:]):
            continue
        tail = query[i:]
        if _scan_top_level(tail, "LIMIT"):
            return query
        # ORDER BY … OFFSET n (standalone OFFSET, Spark 3.4+) and the
        # FETCH FIRST dialect restrict the ROW SET — stripping the tail
        # would silently drop that restriction. Leave them intact (the
        # recompute fallback evaluates them correctly).
        if _scan_top_level(tail, "OFFSET") or _scan_top_level(tail, "FETCH"):
            return query
        if re.fullmatch(r"(?is)ORDER\s+BY\s+[^;]+;?\s*", tail):
            return query[:i].rstrip()
    return query


def _resolve_groupby_ordinals(query: str) -> str:
    """Rewrite ``GROUP BY 1, 2`` ordinals to the select items they
    denote — always the item's *expression* (alias stripped), never
    the alias: ``SELECT abs(x) AS x ... GROUP BY 1`` must become
    ``GROUP BY abs(x)``, since resolving to the alias ``x`` would
    re-bind to the base column and change the grouping. SQL's
    positional GROUP BY, which every matcher otherwise misses.
    ROLLUP/CUBE/GROUPING SETS groupings are left untouched."""
    gbs = [
        i
        for i in _scan_top_level(query, "GROUP")
        if re.match(r"(?is)^GROUP\s+BY\b", query[i:])
    ]
    sels = _scan_top_level(query, "SELECT")
    froms = _scan_top_level(query, "FROM")
    # exactly one top-level SELECT: in a set-op query the ordinal would
    # otherwise resolve against the WRONG branch's select list
    if len(gbs) != 1 or len(sels) != 1 or len(froms) != 1:
        return query
    select_txt = query[sels[0] + 6 : froms[0]].strip()
    if re.match(r"(?is)^DISTINCT\b", select_txt):
        return query
    items = sqlast.split_commas(select_txt)
    if items is None:
        return query  # an ordinal is only resolved against a parsed select list
    g = gbs[0]
    m = re.match(r"(?is)^GROUP\s+BY\s+", query[g:])
    body_start = g + m.end()
    stop = len(query)
    for kw in ("HAVING", "ORDER", "LIMIT"):
        for j in _scan_top_level(query[body_start:], kw):
            stop = min(stop, body_start + j)
    body = query[body_start:stop]
    if re.search(r"(?is)\b(ROLLUP|CUBE|GROUPING)\b", body):
        return query
    terms = sqlast.split_commas(body)
    if terms is None:
        return query
    out_terms = []
    for t in terms:
        if re.fullmatch(r"\d+", t):
            n = int(t)
            if not (1 <= n <= len(items)):
                return query
            item = items[n - 1]
            am = _KEY_ALIAS_RE.match(item)
            # Emit the item's EXPRESSION, never its alias: SQL (and
            # Spark) resolve GROUP BY names against source columns
            # before select aliases, so when an alias shadows a source
            # column (SELECT abs(x) AS x … GROUP BY 1) the alias
            # spelling would silently group by the raw column.
            # GROUP BY <expr> is always valid and always means the
            # positional grouping.
            out_terms.append(
                am.group("expr").strip() if am is not None else item
            )
        else:
            out_terms.append(t)
    return query[:body_start] + ", ".join(out_terms) + " " + query[stop:].lstrip()


_RIGHT_JOIN_RE = re.compile(
    rf"(?is)^(?P<head>\s*SELECT\s+.+?\s+)"
    rf"FROM\s+(?P<t1>{_IDENT})(?:\s+(?:AS\s+)?(?P<a1>{_IDENT}))?\s+"
    rf"RIGHT\s+(?:OUTER\s+)?JOIN\s+"
    rf"(?P<t2>{_IDENT})(?:\s+(?:AS\s+)?(?P<a2>{_IDENT}))?\s+"
    rf"ON\s+(?P<cond>.+?)"
    rf"(?P<rest>\s+(?:WHERE|GROUP|HAVING|ORDER|LIMIT)\b.*)?\s*;?\s*$"
)


def _resolve_orderby_ordinals(query: str) -> str:
    """Rewrite ``ORDER BY 2 DESC`` ordinals to the select items they
    denote (alias when present, else the item text), so the top-k
    routes — which key on named order columns — see the named form."""
    obs = [
        i
        for i in _scan_top_level(query, "ORDER")
        if re.match(r"(?is)^ORDER\s+BY\b", query[i:])
    ]
    sels = _scan_top_level(query, "SELECT")
    froms = _scan_top_level(query, "FROM")
    # single-branch only: over a set-op the first branch's item text is
    # not a valid output column of the union
    if len(obs) != 1 or len(sels) != 1 or len(froms) != 1:
        return query
    select_txt = query[sels[0] + 6 : froms[0]].strip()
    if re.match(r"(?is)^DISTINCT\b", select_txt):
        return query
    items = sqlast.split_commas(select_txt)
    if items is None:
        return query  # an ordinal is only resolved against a parsed select list
    m = re.match(r"(?is)^ORDER\s+BY\s+", query[obs[0] :])
    body_start = obs[0] + m.end()
    stop = len(query)
    for j in _scan_top_level(query[body_start:], "LIMIT"):
        stop = min(stop, body_start + j)
    terms = sqlast.split_commas(query[body_start:stop])
    if terms is None:
        return query
    out_terms = []
    for t in terms:
        tm = re.fullmatch(r"(?is)(\d+)(\s+(?:ASC|DESC))?", t.strip())
        if tm is not None:
            n = int(tm.group(1))
            if not (1 <= n <= len(items)):
                return query
            item = items[n - 1]
            am = _KEY_ALIAS_RE.match(item)
            named = am.group("alias") if am is not None else item
            out_terms.append(f"{named}{tm.group(2) or ''}")
        else:
            out_terms.append(t.strip())
    return query[:body_start] + ", ".join(out_terms) + " " + query[stop:].lstrip()


def _swap_right_join(query: str) -> str:
    """``A RIGHT JOIN B ON e`` ≡ ``B LEFT JOIN A ON e`` — normalize the
    two-table form so the LEFT-join matchers see it. Aliases ride with
    their tables; the select list is untouched (join order does not
    affect output schema)."""
    m = _RIGHT_JOIN_RE.match(query)
    if m is None:
        return query
    a1 = f" {m.group('a1')}" if m.group("a1") else ""
    a2 = f" {m.group('a2')}" if m.group("a2") else ""
    bad = (m.group("a1") or "").lower() in _CLAUSE_KEYWORDS or (
        m.group("a2") or ""
    ).lower() in _CLAUSE_KEYWORDS
    if bad or re.search(r"(?is)\bJOIN\b", m.group("cond")):
        return query
    # SELECT * / t.* expands in join order — swapping sides would
    # reorder the output schema (DDL, positional consumers), so leave
    # star projections (or a select list the tokenizer rejects) alone
    select_txt = re.sub(r"(?is)^\s*SELECT\s+", "", m.group("head")).strip()
    items = sqlast.split_commas(select_txt)
    if items is None or any(it == "*" or it.endswith(".*") for it in items):
        return query
    return (
        f"{m.group('head')}FROM {m.group('t2')}{a2} LEFT JOIN "
        f"{m.group('t1')}{a1} ON {m.group('cond')}{m.group('rest') or ''}"
    )


_CTE_HEAD_RE = re.compile(rf"(?is)^\s*WITH\s+(?P<name>{_IDENT})\s+AS\s*\(")


_CTE_NEXT_RE = re.compile(rf"(?is)^\s*,\s*(?P<name>{_IDENT})\s+AS\s*\(")


def _match_paren_end(query: str, i: int) -> int | None:
    """Index of the ')' closing the '(' at ``query[i]`` (string-literal
    aware), or None when unbalanced."""
    depth, in_str = 0, False
    for j in range(i, len(query)):
        ch = query[j]
        if in_str:
            if ch == "'":
                in_str = False
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return j
    return None


def _inline_cte_into(text: str, name: str, sql: str) -> str | None:
    """Replace the sole ``FROM name`` reference in ``text`` with the
    derived-table form ``FROM ( sql ) name``. A user alias after the
    reference (``FROM name n``) replaces the CTE name as the derived
    table's alias — column references go through it. None when the
    name is referenced other than exactly once as a sole FROM
    relation."""
    if len(re.findall(rf"(?i)\b{re.escape(name)}\b", text)) != 1:
        return None
    fm = re.search(rf"(?is)\bFROM\s+{re.escape(name)}\b", text)
    if fm is None:
        return None
    after = text[fm.end() :]
    if re.match(
        r"(?is)^\s*(,|JOIN\b|INNER\b|LEFT\b|RIGHT\b|FULL\b|CROSS\b|NATURAL\b)", after
    ):
        return None
    out_name = name
    am = re.match(rf"(?is)^\s+(?:AS\s+)?(?P<a>{_IDENT})\b", after)
    if am is not None and am.group("a").lower() not in (
        _CLAUSE_KEYWORDS | _POST_ALIAS_KEYWORDS
    ):
        out_name = am.group("a")
        after = after[am.end() :]
    return f"{text[: fm.start()]}FROM ( {sql} ) {out_name}{after}"


def _inline_single_cte(query: str) -> str:
    """``WITH x AS (q1)[, y AS (q2) ...] SELECT … FROM <last> rest`` →
    the fully-nested derived-table form the cascade route decomposes
    level by level. Each CTE must be referenced exactly once, as the
    sole FROM relation of the next CTE or of the main query (the linear
    pipeline every staged transformation view is). Anything else — a
    CTE joined with other tables, referenced twice, or unreferenced —
    is left for the recompute fallback."""
    m = _CTE_HEAD_RE.match(query)
    if m is None:
        return query
    ctes: list[tuple[str, str]] = []
    pos = 0
    while True:
        head = _CTE_HEAD_RE.match(query[pos:]) if not ctes else _CTE_NEXT_RE.match(
            query[pos:]
        )
        if head is None:
            break
        i = pos + head.end() - 1
        j = _match_paren_end(query, i)
        if j is None:
            return query
        sql = query[i + 1 : j].strip()
        if not re.match(r"(?is)^SELECT\b", sql):
            return query
        ctes.append((head.group("name"), sql))
        pos = j + 1
    main = query[pos:].strip()
    if not ctes or not re.match(r"(?is)^SELECT\b", main):
        return query
    # Inline back to front: the last CTE's sole reference sits in the
    # main query; once embedded, the previous CTE's sole reference sits
    # inside the accumulated text, and so on down the pipeline.
    text = main
    for name, sql in reversed(ctes):
        nxt = _inline_cte_into(text, name, sql)
        if nxt is None:
            return query
        text = nxt
    return text


@dataclass(frozen=True)
class ProjectionShape:
    """The stateless projection/filter view:

        SELECT item[, item ...] FROM fact [WHERE row-local-pred]

    with each item ``*``, a (possibly qualified) column, or a row-local
    deterministic ``expr AS alias``. The simplest maintainable shape of
    all — the changelog maps 1:1 onto the target (the stateless filter
    rule + per-row projection), so per-batch work is the batch itself
    and the only state is the target. Flink's planner treats this as a
    stateless Calc node; the reference gets it by delegation
    (TiFlinkApp.java:270). The fact PK must survive the projection
    (possibly renamed) — it keys the target.
    ``items`` are (out_name, row-local expr) in select order;
    ``pk_out`` the projected fact-PK output names, in PK order."""

    fact: str
    items: tuple[tuple[str, str], ...]
    pk_out: tuple[str, ...]
    where: str | None = None


def match_projection_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]],
    source_pks: dict[str, list[str]],
) -> ProjectionShape | None:
    """Match the single-table projection/filter view, or None.

    Anything with DISTINCT, GROUP BY, set ops, window functions,
    aggregates, subqueries, or a non-row-local WHERE bails to the
    other matchers / the recompute fallback."""
    s = sqlast.parse_single_select(query)
    if s is None or not s.only("alias", "where") or s.table not in source_names:
        return None
    select, table, alias, where = s.select, s.table, s.alias, s.where
    if alias is not None and alias.lower() in (
        _CLAUSE_KEYWORDS | _POST_ALIAS_KEYWORDS | {"union", "intersect", "except", "order", "limit"}
    ):
        return None
    if re.match(r"(?is)^DISTINCT\b", select):
        return None
    if re.search(r"(?is)\bOVER\s*\(", select):
        return None
    cols = {c.lower(): c for c in source_columns.get(table, [])}
    allowed = set(cols)
    quals = {q.lower() for q in (table, alias) if q}

    def dequalify(s: str) -> str | None:
        bad = False

        def sub(qm: re.Match) -> str:
            nonlocal bad
            if qm.group(1).lower() not in quals or qm.group(2).lower() not in cols:
                bad = True
                return qm.group(0)
            return cols[qm.group(2).lower()]

        out = _QUAL_RE.sub(sub, s)
        return None if bad else out

    select_items = sqlast.split_commas(select)
    if select_items is None:
        return None
    items: list[tuple[str, str]] = []
    for item in select_items:
        if item == "*":
            items.extend((c, c) for c in source_columns[table])
            continue
        am = _KEY_ALIAS_RE.match(item)
        if am is not None:
            expr, out = am.group("expr").strip(), am.group("alias")
            dq = dequalify(expr)
            if dq is None or not _row_local_expr_ok(dq, allowed):
                return None
            items.append((out, dq))
            continue
        dq = dequalify(item)
        if dq is None:
            return None
        bare = dq.strip()
        if bare.lower() not in cols:
            return None  # unaliased non-column expression
        items.append((cols[bare.lower()], cols[bare.lower()]))
    out_names = [o for o, _ in items]
    if len({o.lower() for o in out_names}) != len(out_names):
        return None

    # The fact PK must survive projection as bare columns (aliased ok).
    pk = source_pks.get(table) or []
    if not pk:
        return None
    pk_out = []
    for p in pk:
        hit = next(
            (o for o, e in items if _norm_sql(e) == p.lower()), None
        )
        if hit is None:
            return None
        pk_out.append(hit)

    if where is not None:
        where = dequalify(where)
        if where is None or not _row_local_expr_ok(where, allowed):
            return None
        where = where.strip()
    return ProjectionShape(
        fact=table,
        items=tuple(items),
        pk_out=tuple(pk_out),
        where=where,
    )


def _split_conjuncts(expr: str, keep_empty: bool = False) -> list[str] | None:
    """Split ``expr`` on top-level ANDs (string-literal and paren
    aware). Returns None when a top-level OR is present — the whole
    expression is then one disjunction and must not be torn apart.
    Empty conjuncts (a dangling AND) are dropped unless ``keep_empty``."""
    parts, depth, in_str = [], 0, False
    start = 0
    i = 0
    ors = False
    while i < len(expr):
        ch = expr[i]
        if in_str:
            if ch == "'":
                in_str = False
            i += 1
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = re.match(r"(?i)\bAND\b", expr[i:])
            if m and not (expr[i - 1].isalnum() or expr[i - 1] == "_"):
                parts.append(expr[start:i].strip())
                i += m.end()
                start = i
                continue
            mo = re.match(r"(?i)\bOR\b", expr[i:])
            if mo and not (expr[i - 1].isalnum() or expr[i - 1] == "_"):
                ors = True
        i += 1
    parts.append(expr[start:].strip())
    if ors:
        return None
    return parts if keep_empty else [p for p in parts if p]


def _rewrite_comma_joins(query: str, source_columns: dict[str, list[str]]) -> str:
    """``FROM t1, t2[, t3 …] WHERE equi-conjuncts AND rest`` → explicit
    ``JOIN … ON`` form (the classic TPC-H spelling). Each top-level
    ``a = b`` conjunct whose two sides resolve to different tables
    attaches to the JOIN clause where its later table arrives; the
    remaining conjuncts stay in WHERE. Bails (returns the query
    unchanged) on a top-level OR, a clause pair that cannot be
    attributed, or a table pair left with no join predicate (a true
    cross join). Clause extraction is token-based
    (sqlast.comma_from_clauses): boundaries are found at paren depth
    0, so a GROUP BY inside a WHERE subquery never tears the split."""
    p = sqlast.comma_from_clauses(query)
    if p is None:
        return query
    head, items, where_text, rest_text = p
    for _, a in items:
        if a is not None and a.lower() in (_CLAUSE_KEYWORDS | _POST_ALIAS_KEYWORDS):
            return query
    tables = [t for t, _ in items]
    if len(set(t.lower() for t in tables)) != len(tables):
        return query  # self-join — alias scoping beyond this rewrite
    if any(t not in source_columns for t in tables):
        return query
    quals = {(a or t).lower(): t for t, a in items}
    if len(quals) != len(items):
        return query
    cols = {t: {c.lower() for c in source_columns[t]} for t in tables}
    seen: dict[str, int] = {}
    for t in tables:
        for c in cols[t]:
            seen[c] = seen.get(c, 0) + 1

    def table_of(ref: str) -> str | None:
        qm = _QUAL_RE.fullmatch(ref.strip())
        if qm is not None:
            t = quals.get(qm.group(1).lower())
            if t is None or qm.group(2).lower() not in cols[t]:
                return None
            return t
        name = ref.strip().lower()
        if seen.get(name, 0) != 1:
            return None
        for t in tables:
            if name in cols[t]:
                return t
        return None

    conjs = _split_conjuncts(where_text)
    if conjs is None:
        return query
    order = {t: i for i, (t, _) in enumerate(items)}
    on_for: dict[int, list[str]] = {i: [] for i in range(1, len(items))}
    leftover: list[str] = []
    eq_re = re.compile(rf"(?s)^({_REF})\s*=\s*({_REF})$")
    for c in conjs:
        em = eq_re.match(c.strip())
        attached = False
        if em is not None:
            ta, tb = table_of(em.group(1)), table_of(em.group(2))
            if ta is not None and tb is not None and ta != tb:
                on_for[max(order[ta], order[tb])].append(c.strip())
                attached = True
        if not attached:
            leftover.append(c.strip())
    if any(not v for v in on_for.values()):
        # No equality edge. For the EXACT two-table case, a non-equi
        # conjunct that references BOTH tables is still a join
        # predicate — ``FROM a, b WHERE a.x < b.y`` ≡ ``a JOIN b ON
        # a.x < b.y`` under inner semantics — so attach those to the
        # ON clause (the theta-join route's spelling) and keep
        # single-table conjuncts in WHERE. Any conjunct whose
        # identifiers cannot all be attributed bails the rewrite.
        if len(items) != 2 or on_for[1]:
            return query

        def conj_tables(c: str) -> set[str] | None:
            out: set[str] = set()
            blanked = re.sub(r"'[^']*'", " ", c)
            blanked = _QUAL_RE.sub(
                lambda qm: (
                    f" __q_{quals[qm.group(1).lower()]}__ "
                    if qm.group(1).lower() in quals
                    and qm.group(2).lower() in cols[quals[qm.group(1).lower()]]
                    else " __bad__ "
                ),
                blanked,
            )
            fn_names = {f.lower() for f in re.findall(rf"({_IDENT})\s*\(", blanked)}
            for ident in re.findall(_IDENT, blanked):
                il = ident.lower()
                if il == "__bad__":
                    return None
                qm = re.fullmatch(r"__q_(\w+)__", ident)
                if qm is not None:
                    out.add(qm.group(1))
                    continue
                if il in fn_names or il in _EXPR_KEYWORDS:
                    continue
                t = None
                if seen.get(il, 0) == 1:
                    t = next((x for x in tables if il in cols[x]), None)
                if t is None:
                    return None
                out.add(t)
            return out

        new_on: list[str] = []
        new_leftover: list[str] = []
        for c in leftover:
            ts = conj_tables(c)
            if ts is None:
                return query
            (new_on if len(ts) == 2 else new_leftover).append(c)
        if not new_on:
            return query  # true cross join — leave it alone
        on_for[1], leftover = new_on, new_leftover
    parts = []
    for i, (t, a) in enumerate(items):
        alias = f" {a}" if a else ""
        if i == 0:
            parts.append(f"FROM {t}{alias}")
        else:
            parts.append(f"JOIN {t}{alias} ON {' AND '.join(on_for[i])}")
    where = f" WHERE {' AND '.join(leftover)}" if leftover else ""
    return f"{head}{' '.join(parts)}{where}{rest_text}"


_ON_BOUNDARY = (
    "JOIN INNER LEFT RIGHT FULL CROSS NATURAL WHERE GROUP HAVING "
    "ORDER LIMIT UNION INTERSECT EXCEPT"
).split()


def _hoist_on_predicates(query: str) -> str:
    """Move non-equality conjuncts out of INNER-join ON clauses into
    WHERE: ``JOIN d ON f.k = d.pk AND d.type = 'X'`` ≡ ``JOIN d ON
    f.k = d.pk WHERE d.type = 'X'`` for inner joins (ON and WHERE
    filters commute), which is the form the join matchers read. LEFT
    joins keep their ON untouched (the predicate's placement changes
    which rows survive). Bails on an ON with no remaining equality,
    and on set operations (the hoisted conjunct must stay inside its
    own branch's WHERE — attaching it elsewhere changes semantics)."""
    ons = [
        i
        for i in _scan_top_level(query, "ON")
        if re.match(r"(?is)^ON\b", query[i:])
    ]
    if not ons:
        return query
    for kw in ("UNION", "INTERSECT", "EXCEPT"):
        if _scan_top_level(query, kw):
            return query
    eq_re = re.compile(rf"(?s)^{_REF}\s*=\s*{_REF}$")
    hoisted: list[str] = []
    spans: list[tuple[int, int, str]] = []  # (start, end, new ON text)
    for i in ons:
        # the owning JOIN must be INNER: scan the text just before for
        # a LEFT/RIGHT/FULL qualifier on the same clause
        head = query[:i]
        jm = re.search(
            rf"(?is)((?:INNER|LEFT(?:\s+OUTER)?|RIGHT(?:\s+OUTER)?|"
            rf"FULL(?:\s+OUTER)?|CROSS)\s+)?JOIN\s+{_IDENT}"
            rf"(?:\s+(?:AS\s+)?{_IDENT})?\s*$",
            head,
        )
        if jm is None:
            return query  # ON without a parseable JOIN head — bail all
        how = (jm.group(1) or "inner").strip().lower()
        body_start = i + 2
        stop = len(query)
        for kw in _ON_BOUNDARY:
            for j in _scan_top_level(query[body_start:], kw):
                stop = min(stop, body_start + j)
        # a top-level comma ends the ON body too (mixed explicit-JOIN +
        # comma-join FROM lists: ``JOIN u ON ... , c WHERE ...``)
        depth, in_str = 0, False
        for j, ch in enumerate(query[body_start:stop]):
            if in_str:
                in_str = ch != "'"
            elif ch == "'":
                in_str = True
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                stop = body_start + j
                break
        body = query[body_start:stop]
        conjs = _split_conjuncts(body)
        if conjs is None:
            continue  # top-level OR: leave this ON alone
        keep = [c for c in conjs if eq_re.match(c.strip())]
        move = [c for c in conjs if not eq_re.match(c.strip())]
        if not move:
            continue
        if not keep or not how.startswith("inner"):
            continue  # nothing joinable left, or an outer join
        hoisted.extend(move)
        spans.append((body_start, stop, " " + " AND ".join(keep) + " "))
    if not hoisted:
        return query
    out = query
    for start, stop, txt in sorted(spans, reverse=True):
        out = out[:start] + txt + out[stop:]
    wh = [
        i
        for i in _scan_top_level(out, "WHERE")
        if re.match(r"(?is)^WHERE\b", out[i:])
    ]
    pred = " AND ".join(f"({p.strip()})" for p in hoisted)
    if wh:
        j = wh[0] + 5
        # parenthesize an existing WHERE with a top-level OR so the
        # prepended AND-conjunct doesn't rebind it (AND binds tighter)
        bend = len(out.rstrip().rstrip(";"))
        for kw in ("GROUP", "HAVING", "ORDER", "LIMIT"):
            for k in _scan_top_level(out[j:], kw):
                bend = min(bend, j + k)
        bodytxt = out[j:bend]
        if _has_top_level_or(bodytxt):
            return (
                f"{out[:j]} {pred} AND ({bodytxt.strip()}) {out[bend:]}"
            ).rstrip()
        return f"{out[:j]} {pred} AND {out[j:].lstrip()}"
    # no WHERE yet: insert before the first trailing clause keyword
    stop = len(out.rstrip().rstrip(";"))
    for kw in ("GROUP", "HAVING", "ORDER", "LIMIT"):
        for j in _scan_top_level(out, kw):
            stop = min(stop, j)
    return f"{out[:stop].rstrip()} WHERE {pred} {out[stop:]}".rstrip()


def normalize_query(
    query: str, source_columns: dict[str, list[str]] | None = None
) -> str:
    """Semantics-preserving textual rewrites applied before shape
    matching, widening the incremental planner's reach without touching
    the matchers: CTE-pipeline inlining (→ the cascade's nested form),
    comma-join → JOIN ON rewriting (needs ``source_columns`` to
    attribute bare column names; skipped without them), GROUP BY /
    ORDER BY ordinal resolution, RIGHT→LEFT join normalization, and
    bare trailing ORDER BY removal (a keyed MV target is unordered).
    Every rewrite preserves the resolved schema and result SET, so the
    recompute fallback is equally correct on the rewritten text."""
    q = _inline_single_cte(query)
    if source_columns:
        q = _rewrite_comma_joins(q, source_columns)
    q = _swap_right_join(q)
    q = _hoist_on_predicates(q)
    q = _resolve_groupby_ordinals(q)
    q = _resolve_orderby_ordinals(q)
    q = _strip_bare_order_by(q)
    return q.strip()


def rewrite_theta_tree(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]],
    source_pks: dict[str, list[str]],
) -> str | None:
    """Rewrite the FLAT N-table join tree with theta (non-equi) edges

        SELECT cols FROM t0 JOIN t1 ON <p1> … JOIN tN ON <pN>
        [WHERE row-local]

    into the NESTED spelling the cascade maintains, peeling the LAST
    edge into the outer level:

        SELECT cols FROM (
            SELECT <needed t0..tN-1 cols> FROM t0 JOIN t1 ON <p1> …
        ) __tt JOIN tN ON <pN> [WHERE ...]

    — the inner tree is its own MVApp (which re-applies this rewrite
    when edges remain, so a tree with SEVERAL theta edges decomposes
    into a cascade chain, round 10; round 7 handled exactly one theta
    edge over an equi pair), the outer side's changelog going straight
    to the outer level. Each edge may be equi or theta: a 2-table
    theta inner matches the flat theta route, an equi inner matches
    the join-tree routes. Conservative bare-name envelope: distinct
    registered tables with DISJOINT column names and declared PKs, no
    aliases, every ON row-local over the tables joined so far, select
    list bare idents, WHERE row-local. Returns the nested text or
    None; a None is never wrong — the caller keeps the original text
    and the recompute fallback stands. The caller only uses the
    rewrite when both cascade levels route incrementally, so a rewrite
    that doesn't route costs nothing."""
    s = sqlast.parse_join_select(query)
    if (
        s is None
        or s.tail is not None
        or s.group_by is not None
        or s.having is not None
        or len(s.joins) < 2
        or s.alias is not None
        or any(j.alias is not None for j in s.joins)
    ):
        return None
    joins = list(s.joins)
    if any(
        j.how != "inner" or j.on is None or j.system_time is not None
        for j in joins
    ):
        return None
    names = [s.table] + [j.table for j in joins]
    if len(set(names)) != len(names) or any(
        t not in source_names or t not in source_columns for t in names
    ):
        return None
    cols = {t: {c.lower(): c for c in source_columns[t]} for t in names}
    low = {t: set(cols[t]) for t in names}
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            if low[a] & low[b]:
                return None  # disjoint bare-name relation only
    pks = {t: source_pks.get(t) or [] for t in names}
    if not all(pks[t] for t in names):
        return None
    # every edge: row-local over the tables joined so far (equi edges
    # and theta edges alike — a pure-equality tree would have matched
    # the flat matchers earlier, but the cascade spelling is still
    # correct, just less pruned)
    scope = set(low[names[0]])
    for j in joins:
        scope |= low[j.table]
        if re.search(r"(?is)\bJOIN\b", j.on) or not _row_local_expr_ok(
            j.on, scope
        ):
            return None
    all_low = scope
    inner_tables = names[:-1]
    last = joins[-1]
    inner_low = all_low - low[names[-1]]
    sel_items = [i.strip() for i in sqlast.split_commas(s.select) or ()]
    if not sel_items or any(not re.fullmatch(_IDENT, i) for i in sel_items):
        return None
    if s.where is not None and not _row_local_expr_ok(s.where, all_low):
        return None
    # columns the derived table must carry: selected inner columns,
    # every inner edge's inputs, anything the last edge / WHERE
    # reference on the inner side, and the inner PKs (the cascade keys
    # the alias by them)
    def _idents(text: str) -> set[str]:
        bare = re.sub(r"'[^']*'", " ", text)
        fns = {f.lower() for f in re.findall(rf"({_IDENT})\s*\(", bare)}
        return {i.lower() for i in re.findall(_IDENT, bare)} - _EXPR_KEYWORDS - fns

    outer_used = _idents(last.on + " " + (s.where or ""))
    inner_used = _idents(" ".join(j.on for j in joins[:-1]))
    need = ({i.lower() for i in sel_items} | outer_used | inner_used) & inner_low
    need |= {c.lower() for t in inner_tables for c in pks[t]}
    # A dim an inner edge enters through EXACTLY its PK (a pure-equality
    # conjunction whose dim-side columns are the PK set) is uniquely
    # addressed by the left side already — forcing its PK (and nothing
    # else references it) into the derived output would push the inner
    # onto the two-sided route keyed by BOTH PKs, and that composite key
    # must then survive every projection above it; a user select that
    # drops the dim PK would force the whole tree to recompute. Drop
    # such PKs from `need` unless the select / the peeled edge / WHERE /
    # another edge genuinely references them (round 10 — found by the
    # multi-theta fuzz).
    acc2 = set(low[names[0]])
    for j in joins[:-1]:
        t = j.table
        edge_scope = acc2 | low[t]
        eq_idents: set[str] = set()
        pure = True
        for conj in re.split(r"(?is)\bAND\b", j.on):
            em = re.fullmatch(rf"(?s)\s*({_IDENT})\s*=\s*({_IDENT})\s*", conj)
            if em is None or {em.group(1).lower(), em.group(2).lower()} - edge_scope:
                pure = False
                break
            eq_idents |= {em.group(1).lower(), em.group(2).lower()}
        if pure:
            t_side = eq_idents & low[t]
            t_pk = {c.lower() for c in pks[t]}
            if t_side == t_pk:
                others = inner_used - _idents(j.on)
                keep = {i.lower() for i in sel_items} | outer_used | others
                need -= t_pk - keep
        acc2 = edge_scope
    inner_sel = [
        cols[t][c]
        for t in inner_tables
        for c in (x.lower() for x in source_columns[t])
        if c in need
    ]
    inner_joins = " ".join(
        f"JOIN {j.table} ON {j.on.strip()}" for j in joins[:-1]
    )
    inner_sql = (
        f"SELECT {', '.join(inner_sel)} FROM {names[0]} {inner_joins}"
    )
    outer_where = f" WHERE {s.where.strip()}" if s.where is not None else ""
    return (
        f"SELECT {s.select.strip()} FROM ( {inner_sql} ) __tt "
        f"JOIN {names[-1]} ON {last.on.strip()}{outer_where}"
    )


_MN_FLAT_RE = re.compile(
    rf"^\s*SELECT\s+(?P<select>.+?)\s+"
    rf"FROM\s+(?P<left>{_IDENT})(?:\s+(?:AS\s+)?(?P<la>{_NKW}{_IDENT}))?\s+"
    rf"(?:INNER\s+)?JOIN\s+(?P<right>{_IDENT})(?:\s+(?:AS\s+)?(?P<ra>{_IDENT}))?\s+"
    rf"ON\s+(?P<lref>(?:{_IDENT}\s*\.\s*)?{_IDENT})\s*=\s*"
    rf"(?P<rref>(?:{_IDENT}\s*\.\s*)?{_IDENT})"
    rf"(?:\s+WHERE\s+(?P<where>.+?))?"
    rf"\s+GROUP\s+BY\s+(?P<keys>.+?)"
    rf"(?:\s+HAVING\s+(?P<having>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def rewrite_mn_join_agg(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]],
    source_pks: dict[str, list[str]],
) -> str | None:
    """Rewrite the FLAT two-table join-aggregate

        SELECT keys, aggs FROM a JOIN b ON x = y [WHERE w]
        GROUP BY keys [HAVING h]

    into the NESTED spelling the cascade route already maintains —
    inner two-sided join MV keyed by both PKs feeding an outer
    single-table aggregate its batch delta:

        SELECT keys, aggs FROM (
            SELECT <both PKs + join keys + needed cols>
            FROM a JOIN b ON x = y [WHERE w]
        ) __mn GROUP BY keys [HAVING h]

    This closes the M:N join-aggregate gap: when NEITHER side enters
    the join through its PK, the star/snowflake matcher rightly bails,
    but the cascade maintains the shape exactly (IncrementalJoinMV is
    exact for any equi-join; per-batch outer work = the inner's
    delta). Returns the nested text, or None when the flat form does
    not apply (not two-table, undeclared PKs, a needed column name
    present in BOTH tables — bare names in the derived table would be
    ambiguous). A None is never wrong — the caller keeps the original
    text and the recompute fallback remains available. The caller
    (MVApp) only uses the rewrite when both cascade levels route
    incrementally, so a rewrite that doesn't route costs nothing.
    """
    m = _MN_FLAT_RE.match(query)
    if m is None:
        return None
    lt, rt = m.group("left"), m.group("right")
    if lt not in source_names or rt not in source_names or lt == rt:
        return None
    la, ra = m.group("la"), m.group("ra")
    if (la or "").lower() in _CLAUSE_KEYWORDS or (ra or "").lower() in _CLAUSE_KEYWORDS:
        return None
    lpk, rpk = source_pks.get(lt) or [], source_pks.get(rt) or []
    if not lpk or not rpk:
        return None
    cols = {
        t: {c.lower(): c for c in source_columns.get(t, [])} for t in (lt, rt)
    }
    ambiguous = {c for c in cols[lt] if c in cols[rt]}
    quals = {q.lower(): t for q, t in ((lt, lt), (la, lt), (rt, rt), (ra, rt)) if q}

    def resolve_ref(ref: str) -> tuple[str, str] | None:
        qm = re.fullmatch(rf"({_IDENT})\s*\.\s*({_IDENT})", ref)
        if qm is not None:
            t = quals.get(qm.group(1).lower())
            if t is None or qm.group(2).lower() not in cols[t]:
                return None
            return t, cols[t][qm.group(2).lower()]
        hits = [t for t in (lt, rt) if ref.lower() in cols[t]]
        if len(hits) != 1:
            return None
        return hits[0], cols[hits[0]][ref.lower()]

    lr, rr = resolve_ref(m.group("lref")), resolve_ref(m.group("rref"))
    if lr is None or rr is None or {lr[0], rr[0]} != {lt, rt}:
        return None
    by_table = {lr[0]: lr[1], rr[0]: rr[1]}
    lkey, rkey = by_table[lt], by_table[rt]
    same_key = lkey.lower() == rkey.lower()

    dequalify = _make_dequalifier(
        quals, cols, frozenset(ambiguous - ({lkey.lower()} if same_key else set()))
    )
    select = dequalify(m.group("select"))
    keys = dequalify(m.group("keys"))
    where = dequalify(m.group("where")) if m.group("where") else None
    having = dequalify(m.group("having")) if m.group("having") else None
    if select is None or keys is None:
        return None
    if (m.group("where") is not None and where is None) or (
        m.group("having") is not None and having is None
    ):
        return None

    # Every identifier the outer references must ride the inner select
    # as a bare column; a name present in both tables (other than a
    # same-named join key, which the USING form de-duplicates) would be
    # ambiguous there.
    need: list[str] = list(dict.fromkeys([*lpk, *rpk, lkey, rkey]))
    blob = " ".join(x for x in (select, keys, where) if x)
    for ident in re.findall(_IDENT, re.sub(r"'[^']*'", " ", blob)):
        il = ident.lower()
        if il in ambiguous and not (same_key and il == lkey.lower()):
            if il in {c.lower() for c in need}:
                continue  # PK/join-key collision handled below
            return None
        for t in (lt, rt):
            if il in cols[t] and cols[t][il] not in need:
                need.append(cols[t][il])
    # a PK or join-key name colliding across tables (other than the
    # USING key) cannot ride the inner select bare
    seen_l = set()
    for c in need:
        if c.lower() in seen_l:
            return None
        seen_l.add(c.lower())
    if any(
        c.lower() in ambiguous and not (same_key and c.lower() == lkey.lower())
        for c in need
    ):
        return None

    if same_key:
        # same-named key on both sides: the USING form de-duplicates
        # the key column in the joined output
        join_clause = f"{lt} JOIN {rt} USING ({lkey})"
    else:
        join_clause = f"{lt} JOIN {rt} ON {lkey} = {rkey}"
    inner = f"SELECT {', '.join(need)} FROM {join_clause}"
    if where is not None:
        inner += f" WHERE {where.strip()}"
    outer_tail = f" GROUP BY {keys.strip()}"
    if having is not None:
        outer_tail += f" HAVING {having.strip()}"
    return f"SELECT {select.strip()} FROM ( {inner} ) __mn{outer_tail}"


_POST_ALIAS_KEYWORDS = frozenset(
    "where group having order limit union intersect except qualify window".split()
)


def split_nested_query(query: str) -> tuple[str, str, str] | None:
    """Split ``SELECT … FROM ( <inner> ) [alias] <rest>`` into
    (inner_sql, derived_name, outer_sql) — the two-level nesting the
    cascade route decomposes into an inner MV feeding an outer MV via
    the inner target's batch delta. Returns None when the query is
    not of this form (no derived table, the derived table is joined or
    comma-listed with others, or the parenthesized block is not a
    SELECT). Token-based (sqlast.nested_from_subquery): the FROM is
    located at paren depth 0, so a ``FROM (`` inside a string literal
    or a select-list subquery never misfires."""
    p = sqlast.nested_from_subquery(query)
    if p is None:
        return None
    inner, alias, head, rest = p
    name = alias or "__inner_cascade"
    return inner, name, f"{head} {name}{rest}"


_ORDER_TAIL_RE = re.compile(
    rf"(?is)^ORDER\s+BY\s+{_IDENT}(?:\s+(?:ASC|DESC))?(?:\s*,\s*{_IDENT})*"
    rf"\s+LIMIT\s+\d+\s*;?\s*$"
)


def split_group_order_limit(query: str) -> tuple[str, str] | None:
    """Split ``<agg query with GROUP BY> ORDER BY o [dir][, keys] LIMIT
    n`` into (body, order_limit_tail) — the top-group reporting shape
    ("top 10 segments by revenue"). The caller rewrites it to the
    nested form ``SELECT cols FROM ( body ) __agg <tail>`` so the
    cascade route maintains it: inner aggregate MV + outer global
    top-k over the aggregate's delta. Returns None when there is no
    top-level ORDER BY + LIMIT tail or no GROUP BY body."""
    depth = 0
    in_str = False
    idx = None
    for i, ch in enumerate(query):
        if in_str:
            if ch == "'":
                in_str = False
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and query[i : i + 5].upper() == "ORDER":
            if re.match(r"(?is)^ORDER\s+BY\b", query[i:]):
                idx = i
    if idx is None:
        return None
    body, tail = query[:idx].strip(), query[idx:].strip()
    if _ORDER_TAIL_RE.match(tail) is None:
        return None
    if not re.search(r"(?is)\bGROUP\s+BY\b", body):
        return None
    if not re.match(r"(?is)^\s*SELECT\b", body):
        return None
    return body, tail.rstrip(";").strip()


@dataclass(frozen=True)
class DimJoin:
    """One dimension edge of the join tree: ``dim`` enters the joined
    relation through its declared PK (``dim_pk``), referenced by
    ``parent_col`` on ``parent`` (the fact or an earlier dim — the
    latter is the snowflake case). Single-column PKs keep the plain
    string form; composite PKs (``ON f.a = d.x AND f.b = d.y`` — the
    partsupp pattern) carry aligned tuples in ``dim_pk``/``parent_col``
    (PK-declared order). ``dim_cols`` are the columns the joined
    relation must carry from this dim (group keys, measure / predicate
    inputs, plus referencing columns of child dims). ``how`` is
    ``inner`` or ``left``: a left dim never drops the fact row —
    unmatched rows keep NULL dim columns in J."""

    dim: str
    dim_pk: str | tuple[str, ...]
    parent: str
    parent_col: str | tuple[str, ...]
    dim_cols: tuple[str, ...] = ()
    how: str = "inner"

    @property
    def pk_cols(self) -> tuple[str, ...]:
        return (self.dim_pk,) if isinstance(self.dim_pk, str) else tuple(self.dim_pk)

    @property
    def ref_cols(self) -> tuple[str, ...]:
        return (
            (self.parent_col,)
            if isinstance(self.parent_col, str)
            else tuple(self.parent_col)
        )


@dataclass(frozen=True)
class JoinAggShape:
    """The canonical star/snowflake-join aggregate (every TPC-H-like MV):

        SELECT k1[, k2 ...], agg(expr) AS a[, ...]
        FROM fact [AS f]
          JOIN dim1 [AS d1] ON <ref> = <ref>
          [JOIN dim2 [AS d2] ON <ref> = <ref> ...]
        [WHERE row-local-pred]
        GROUP BY k1[, k2 ...]
        [HAVING alias-form-pred]

    where every non-fact table enters the join through its own
    single-column PK (so the joined relation stays keyed by the fact
    PK). The reference gets this incrementally for free from Flink's
    update-mode planner (TiFlinkApp.java:270); here it routes to
    :class:`tiflink_spark.mv.IncrementalJoinAggMV` — dirty-join-key
    recompute of the joined relation feeding the aggregate state merge.
    All column references are stored DEqualified (bare names); group
    keys / measures / where reference only unambiguous columns.
    ``fact_cols`` is the columns the joined relation must carry from
    the fact side; ``dims`` is in join order (parents before children).
    """

    fact: str
    group_keys: tuple[str, ...]
    measures: tuple[Measure, ...]
    fact_cols: tuple[str, ...]
    dims: tuple[DimJoin, ...]
    where: str | None = None
    having: str | None = None
    # (alias, row-local expression) group keys derived onto the joined
    # relation (GROUP BY date_trunc('month', o_orderdate) AS month — the
    # time-grain rollup over a star join). Inputs are validated
    # unambiguous non-LEFT columns; the expression is evaluated on J at
    # bootstrap and on every per-batch J-changelog row.
    key_exprs: tuple[tuple[str, str], ...] = ()


_REF = rf"(?:{_IDENT}\s*\.\s*)?{_IDENT}"

_CLAUSE_KEYWORDS = frozenset(
    "join inner left outer on where group having as".split()
)

_QUAL_RE = re.compile(rf"\b({_IDENT})\s*\.\s*({_IDENT})")


@dataclass(frozen=True)
class JoinProjectionShape:
    """The lookup-enrichment view — the joined relation IS the output:

        SELECT fact-cols, dim-cols[, row-local exprs AS alias]
        FROM fact [LEFT] JOIN dims … [WHERE row-local]

    keyed by the fact PK (which must appear in the select). Every dim
    enters through its declared PK, so each fact row joins to ≤1 row
    per dim; LEFT-dim columns are allowed (NULL payload, never a NULL
    key). Routed to IncrementalJoinProjectionMV — the parent join-agg
    machinery with an identity sink. ``out_cols`` are output names in
    select order; ``key_exprs`` the derived (alias, expr) items."""

    fact: str
    out_cols: tuple[str, ...]
    fact_cols: tuple[str, ...]
    dims: tuple[DimJoin, ...]
    where: str | None = None
    key_exprs: tuple[tuple[str, str], ...] = ()


def match_join_projection_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]],
    source_pks: dict[str, list[str]],
) -> JoinProjectionShape | None:
    """Match the bare fact-⋈-dims projection, or None.

    The same join-tree orientation as the aggregate shape (every
    non-fact table enters through its declared PK — composite keys
    included), with a plain select list instead of keys+measures:
    unambiguous bare/qualified columns from ANY side (LEFT dims
    included) or row-local ``expr AS alias`` items. No GROUP BY, no
    window, no aggregates."""
    if _scan_top_level(query, "GROUP") or _scan_top_level(query, "HAVING"):
        return None
    s = _join_tree_select(query)
    if s is None or not s.only("alias", "where"):
        return None
    select, where = s.select, s.where
    if re.match(r"(?is)^DISTINCT\b", select) or re.search(
        r"(?is)\bOVER\s*\(", select
    ):
        return None
    tree = _orient_join_tree(s, source_names, source_columns, source_pks)
    if tree is None:
        return None
    tables, quals, cols, ambiguous, resolve, fact, dims = tree
    dequalify = _make_dequalifier(quals, cols, ambiguous)
    allowed = set().union(*(set(cols[t]) for t in tables)) - ambiguous
    out: list[tuple[str, str, str | None]] = []  # (name, expr, src table)
    key_exprs: list[tuple[str, str]] = []
    taken: dict[str, int] = {}
    for t in tables:
        for c in cols[t]:
            taken[c] = taken.get(c, 0) + 1
    items = sqlast.split_commas(select)
    if items is None:
        return None
    for item in items:
        am = _KEY_ALIAS_RE.match(item)
        if am is not None:
            expr, alias = am.group("expr").strip(), am.group("alias")
            dq = dequalify(expr)
            if dq is None or not _row_local_expr_ok(dq, allowed):
                return None
            if alias.lower() in taken:
                return None  # alias shadowing a carried J column
            out.append((alias, dq, None))
            key_exprs.append((alias, dq))
            continue
        r = resolve(item)
        if r is None or r[1].lower() in ambiguous:
            return None
        out.append((r[1], r[1], r[0]))
    names = [n for n, _, _ in out]
    if len({n.lower() for n in names}) != len(names):
        return None
    # the fact PK must be selected — it keys the target
    sel_lower = {n.lower() for n in names}
    pk = source_pks.get(fact) or []
    if not pk or any(p.lower() not in sel_lower for p in pk):
        return None

    if where is not None:
        if _NON_LOCAL_WHERE.search(where):
            return None
        where = dequalify(where)
        if where is None or not _row_local_expr_ok(where, allowed):
            return None
        # a row-local predicate over a LEFT dim's columns is applied to
        # J (post-join, SQL semantics) by the maintenance class — fine
        where = where.strip()

    # columns each table must carry into J
    need: dict[str, set[str]] = {t: set() for t in tables}
    for n, e, src in out:
        if src is not None:
            need[src].add(e)
    for blob in [e for _, e, src in out if src is None] + (
        [where] if where else []
    ):
        for ident in set(re.findall(_IDENT, re.sub(r"'[^']*'", " ", blob))):
            for t in tables:
                if ident.lower() in cols[t] and ident.lower() not in ambiguous:
                    need[t].add(cols[t][ident.lower()])
    for d in dims:
        if d.parent != fact:
            if any(c.lower() in ambiguous for c in d.ref_cols):
                return None
            need[d.parent].update(d.ref_cols)
    dims = tuple(
        DimJoin(
            dim=d.dim,
            dim_pk=d.dim_pk,
            parent=d.parent,
            parent_col=d.parent_col,
            dim_cols=tuple(sorted(need[d.dim])),
            how=d.how,
        )
        for d in dims
    )
    return JoinProjectionShape(
        fact=fact,
        out_cols=tuple(names),
        fact_cols=tuple(sorted(need[fact])),
        dims=dims,
        where=where,
        key_exprs=tuple(key_exprs),
    )


def _join_tree_select(query: str):
    """The :class:`sqlast.JoinSelect` the fact-⋈-dims projection and
    aggregate matchers share — INNER/LEFT joins only, each ON body an
    equality chain, nothing trailing — or None."""
    s = sqlast.parse_join_select(query)
    if s is None or s.tail is not None:
        return None
    for j in s.joins:
        if j.how not in ("inner", "left") or j.on is None:
            return None
        if sqlast.equality_pairs(j.on) is None:
            return None
        if j.system_time is not None:
            return None  # temporal joins route via TemporalJoinShape only
    return s


def _orient_join_tree(s, source_names, source_columns, source_pks):
    """Shared FROM/JOIN orientation for the join matchers: given the
    join statement ``s`` (a :class:`sqlast.JoinSelect` whose every ON
    is an equality chain), resolve every ON equality, and orient the
    join graph at the table from which every other table is reachable
    through its own declared PK. Returns (tables, quals, cols,
    ambiguous, resolve, fact, dims) or None."""
    tables = [s.table]
    quals = {(s.alias or s.table).lower(): s.table}
    # raw ([(lref, rref), ...], how, joined-table) per ON clause — a
    # conjunction of equalities is one edge (the composite-PK form)
    edges: list[tuple[list[tuple[str, str]], str, str]] = []
    for j in s.joins:
        tables.append(j.table)
        quals[(j.alias or j.table).lower()] = j.table
        edges.append((sqlast.equality_pairs(j.on), j.how, j.table))
    if (
        len(set(tables)) != len(tables)
        or any(t not in source_names for t in tables)
        or len(quals) != len(tables)
        or any(q in _CLAUSE_KEYWORDS for q in quals)
    ):
        return None
    cols = {t: {c.lower(): c for c in source_columns.get(t, [])} for t in tables}
    seen: dict[str, int] = {}
    for t in tables:
        for c in cols[t]:
            seen[c] = seen.get(c, 0) + 1
    ambiguous = {c for c, n in seen.items() if n > 1}

    resolve = _column_resolver(quals, cols, ambiguous)

    # Each edge resolves to exactly two tables; its equality pairs map
    # one table's columns onto the other's, positionally consistent.
    on_edges: list[tuple[str, str, dict[str, str], str, str]] = []
    for pairs, how, jt in edges:
        rp = [(resolve(lr), resolve(rr)) for lr, rr in pairs]
        if any(l is None or r is None or l[0] == r[0] for l, r in rp):
            return None
        ta, tb = rp[0][0][0], rp[0][1][0]
        a_to_b: dict[str, str] = {}
        for l, r in rp:
            if (l[0], r[0]) == (ta, tb):
                a_to_b[l[1].lower()] = r[1]
            elif (l[0], r[0]) == (tb, ta):
                a_to_b[r[1].lower()] = l[1]
            else:
                return None  # a third table inside one ON conjunction
        if len(a_to_b) != len(rp):
            return None  # duplicate column on the A side
        on_edges.append((ta, tb, a_to_b, how, jt))

    def pk_entry(table: str, a_to_b: dict[str, str], b_side: bool):
        """If ``table``'s side of the edge is exactly its declared PK,
        return (pk tuple in declared order, aligned other-side tuple);
        else None. ``b_side`` says whether ``table``'s columns are the
        VALUES of a_to_b (True) or its keys (False)."""
        pk = source_pks.get(table) or []
        if not pk:
            return None
        if b_side:
            own = {v.lower(): k for k, v in a_to_b.items()}
        else:
            own = {k.lower(): v for k, v in a_to_b.items()}
        if len(own) != len(a_to_b):
            return None
        if set(own) != {p.lower() for p in pk}:
            return None
        pk_t = tuple(cols[table][p.lower()] for p in pk)
        other_t = tuple(own[p.lower()] for p in pk)
        return pk_t, other_t

    def orient(root: str) -> list[DimJoin] | None:
        """Root the join graph at ``root``: every other table must
        enter through its declared PK — single-column or composite —
        referenced by columns of an already-joined table. A LEFT JOIN's
        nullable side is fixed by the SQL (the joined table), so its
        edge only orients with that table as the dim. Returns dims in
        join order."""
        joined, dims, remaining = {root}, [], list(on_edges)
        while remaining:
            for e in remaining:
                (ta, tb, a_to_b, how, jt) = e
                hit = None
                for it, ot, b_side in ((ta, tb, True), (tb, ta, False)):
                    if it not in joined or ot in joined:
                        continue
                    ent = pk_entry(ot, a_to_b, b_side)
                    if ent is None:
                        continue
                    if how == "left" and ot != jt:
                        continue
                    pk_t, ref_t = ent
                    hit = DimJoin(
                        dim=ot,
                        dim_pk=pk_t[0] if len(pk_t) == 1 else pk_t,
                        parent=it,
                        parent_col=ref_t[0] if len(ref_t) == 1 else ref_t,
                        how=how,
                    )
                    break
                if hit is not None:
                    dims.append(hit)
                    joined.add(hit.dim)
                    remaining.remove(e)
                    break
            else:
                return None
        return dims

    fact = dims = None
    for root in tables:  # FROM-order preference (PK-PK joins tie-break)
        dims = orient(root)
        if dims is not None:
            fact = root
            break
    if dims is None:
        return None  # an M:N edge somewhere — no single-side key
    return tables, quals, cols, ambiguous, resolve, fact, dims


def _column_resolver(quals, cols, ambiguous=frozenset()):
    """'q.c' or bare 'c' → (table, canonical column) or None. ``quals``
    maps lowercased aliases/names to tables, ``cols`` each table's
    lowercased → canonical columns (a bare name resolves to the first
    table holding it); a bare name in ``ambiguous`` never resolves,
    mirroring SQL resolution."""

    def resolve(ref: str) -> tuple[str, str] | None:
        qm = _QUAL_RE.fullmatch(ref.strip())
        if qm is not None:
            t = quals.get(qm.group(1).lower())
            if t is None or qm.group(2).lower() not in cols[t]:
                return None
            return t, cols[t][qm.group(2).lower()]
        name = ref.strip().lower()
        if name in ambiguous:
            return None
        for t in cols:
            if name in cols[t]:
                return t, cols[t][name]
        return None

    return resolve


def _make_dequalifier(quals, cols, ambiguous=frozenset()):
    """'alias.col' → bare-name rewriter over validated qualifiers.

    A qualified reference that resolves to an AMBIGUOUS bare name
    (a column present in several joined tables) is refused (→ None →
    the matcher falls back to recompute): the joined relation J stores
    bare names, so dequalifying `f.date` to bare `date` would lose
    provenance — and worse, a common-word name (date/year/…) then
    slips through `_row_local_expr_ok` via `_EXPR_KEYWORDS` without
    ever being carried into J's needed columns, turning a valid query
    into a bootstrap AnalysisException instead of a safe fallback."""

    def dequalify(s: str) -> str | None:
        bad = False

        def sub(qm: re.Match) -> str:
            nonlocal bad
            table = quals.get(qm.group(1).lower())
            if table is None or qm.group(2).lower() not in cols[table]:
                bad = True
                return qm.group(0)
            if qm.group(2).lower() in ambiguous:
                bad = True
                return qm.group(0)
            return cols[table][qm.group(2).lower()]

        out = _QUAL_RE.sub(sub, s)
        return None if bad else out

    return dequalify


def match_join_agg_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]],
    source_pks: dict[str, list[str]],
) -> JoinAggShape | None:
    """Match the fact-⋈-dims GROUP BY aggregate, or None for the fallback.

    The ON equations form a join graph; the match succeeds iff some
    table (the fact) roots the graph as a tree in which every other
    table enters through its own declared single-column PK (each fact
    row then joins to ≤1 row per dim, so the joined relation stays
    keyed by the fact PK — the invariant IncrementalJoinAggMV
    maintains). Star (all dims reference the fact) and snowflake (a dim
    references another dim) both orient. Qualified (``a.b``) and bare
    column references both match; bare names present in more than one
    table are rejected as ambiguous, mirroring SQL resolution.
    """
    s = _join_tree_select(query)
    if s is None or s.group_by is None:
        return None
    where, having = s.where, s.having
    tree = _orient_join_tree(s, source_names, source_columns, source_pks)
    if tree is None:
        return None
    tables, quals, cols, ambiguous, resolve, fact, dims = tree
    seen: dict[str, int] = {}
    for t in tables:
        for c in cols[t]:
            seen[c] = seen.get(c, 0) + 1
    dequalify = _make_dequalifier(quals, cols, ambiguous)

    # Group keys: leading select items pair with GROUP BY terms in
    # order. A key is a bare (possibly qualified) column — resolved per
    # side — or an ``expr AS alias`` derived key (time-grain rollups),
    # whose GROUP BY term spells either the expression or the alias.
    left_dims = {d.dim for d in dims if d.how == "left"}
    key_terms = sqlast.split_commas(s.group_by)
    items = sqlast.split_commas(s.select)
    if key_terms is None or items is None or len(items) <= len(key_terms):
        return None
    allowed = set().union(*(set(cols[t]) for t in tables)) - ambiguous
    keys: list[tuple[str | None, str]] = []  # (source table | None, out name)
    key_exprs: list[tuple[str, str]] = []
    for term, item in zip(key_terms, items):
        am = _KEY_ALIAS_RE.match(item)
        if am is None:
            r, tr = resolve(item), resolve(term)
            # Ambiguous key names (present in several tables) are
            # rejected even when qualified: the joined relation stores
            # bare names, so provenance would be lost. Keys from a LEFT
            # dim are rejected too: unmatched rows would put NULL in
            # the MV's primary key, which the keyed store cannot
            # address.
            if r is None or tr != r or r[1].lower() in ambiguous or r[0] in left_dims:
                return None
            keys.append(r)
            continue
        expr, alias = am.group("expr").strip(), am.group("alias")
        dq, term_dq = dequalify(expr), dequalify(term)
        if dq is None or term_dq is None:
            return None
        if _norm_sql(term_dq) not in (_norm_sql(dq), alias.lower()):
            return None
        # Derived key: row-local, deterministic, over unambiguous
        # columns. Any input owned by a LEFT dim is rejected (unmatched
        # rows would derive a NULL key); an alias shadowing any table's
        # column would corrupt the J relation's carried names.
        if not _row_local_expr_ok(dq, allowed):
            return None
        if alias.lower() in seen:
            return None
        bare_txt = re.sub(r"'[^']*'", " ", dq)
        fnames = {f.lower() for f in re.findall(rf"({_IDENT})\s*\(", bare_txt)}
        for ident in {i.lower() for i in re.findall(_IDENT, bare_txt)}:
            if ident in allowed and ident not in fnames:
                if any(ident in cols[d] for d in left_dims):
                    return None
        keys.append((None, alias))
        key_exprs.append((alias, dq))

    # Measures: dequalify, then validate identifiers against the union
    # of unambiguous columns across all joined tables (``allowed``).
    meas_items = []
    for item in items[len(keys) :]:
        dq = dequalify(item)
        if dq is None:
            return None
        meas_items.append(dq)
    measures = _parse_measures(meas_items, allowed)
    if measures is None:
        return None
    out_names = [c for _, c in keys] + [mm.alias for mm in measures]
    if len({n.lower() for n in out_names}) != len(out_names):
        return None  # alias collisions make the output ambiguous

    if where is not None:
        if _NON_LOCAL_WHERE.search(where):
            return None
        where = dequalify(where)
        if where is None:
            return None
        if not _row_local_expr_ok(where, allowed):
            return None
        where = where.strip()

    if having is not None:
        # Same contract as the single-table shape: aggregate calls
        # rewrite to (hidden) measures of the joined relation's GROUP
        # BY state; qualified argument columns dequalify first. After
        # the rewrite only output aliases may remain.
        having = dequalify(having)
        if having is None:
            return None
        rw = _rewrite_having_aggs(having.strip(), list(measures), allowed)
        if rw is None:
            return None
        having, hav_hidden = rw
        if _NON_LOCAL_WHERE.search(having):
            return None
        out_lower = {n.lower() for n in out_names} | {
            mm.alias.lower() for mm in hav_hidden
        }
        idents = set(re.findall(_IDENT, having))
        if any(i.lower() not in out_lower | _SQL_KEYWORDS for i in idents):
            return None
        # Hidden measures join the maintained set BEFORE the needed-
        # column sweep below, so their argument columns ride into the
        # joined relation J.
        measures = list(measures) + hav_hidden

    # Columns the joined relation must carry, per table. Derived keys
    # ((None, alias) entries) carry their *input* columns instead — the
    # expression text joins the identifier sweep below.
    need: dict[str, set[str]] = {t: set() for t in tables}
    for t, c in keys:
        if t is not None:
            need[t].add(c)
    for blob in (
        [mm.col for mm in measures if mm.col]
        + ([where] if where else [])
        + [e for _, e in key_exprs]
    ):
        for ident in set(re.findall(_IDENT, blob)):
            for t in tables:
                if ident.lower() in cols[t] and ident.lower() not in ambiguous:
                    need[t].add(cols[t][ident.lower()])
    # Referencing columns ride on their parent's side: the fact's fks
    # are added to fact_cols by the MV's plumbing, but a snowflake
    # parent dim must carry its child-referencing column in J — and
    # that column must be unambiguous or the bare-named J relation
    # would collide.
    for d in dims:
        if d.parent != fact:
            if any(c.lower() in ambiguous for c in d.ref_cols):
                return None
            need[d.parent].update(d.ref_cols)
    dims = [
        DimJoin(
            dim=d.dim,
            dim_pk=d.dim_pk,
            parent=d.parent,
            parent_col=d.parent_col,
            dim_cols=tuple(sorted(need[d.dim])),
            how=d.how,
        )
        for d in dims
    ]
    return JoinAggShape(
        fact=fact,
        group_keys=tuple(c for _, c in keys),
        measures=tuple(measures),
        fact_cols=tuple(sorted(need[fact])),
        dims=tuple(dims),
        where=where,
        having=having,
        key_exprs=tuple(key_exprs),
    )


@dataclass(frozen=True)
class TemporalJoinShape:
    """The ``FOR SYSTEM_TIME AS OF`` enrichment view — Flink SQL's
    event-time temporal (versioned dim) join, in the reference's
    surface by delegation (TiFlinkApp.java:270):

        SELECT fact-cols, dim-cols
        FROM fact f JOIN dim FOR SYSTEM_TIME AS OF f.ts AS d
          ON f.fk = d.pk

    keyed by the fact PK (must appear in the select). Routed to
    IncrementalTemporalJoinMV. ``out_src`` labels each output column
    'fact' or 'dim'. ``fk``/``dim_pk`` are aligned tuples — composite
    dim PKs join on the full conjunction."""

    fact: str
    dim: str
    fk: tuple[str, ...]
    dim_pk: tuple[str, ...]
    time_col: str
    out_cols: tuple[str, ...]
    out_src: tuple[str, ...]
    fact_cols: tuple[str, ...]
    dim_cols: tuple[str, ...]


def match_temporal_join_shape(
    query: str,
    source_names: set[str],
    source_columns: dict[str, list[str]],
    source_pks: dict[str, list[str]],
) -> TemporalJoinShape | None:
    """Match the one-dim temporal enrichment envelope, or None:
    exactly one INNER temporal join, conjunctive-equality ON covering
    the dim's (possibly composite) PK exactly, AS OF operand a fact
    column, select list of plain (optionally qualified) unambiguous
    columns including the whole fact PK; no WHERE/GROUP BY/HAVING/
    tail."""
    s = sqlast.parse_join_select(query)
    if (
        s is None
        or s.tail is not None
        or s.where is not None
        or s.group_by is not None
        or s.having is not None
        or len(s.joins) != 1
    ):
        return None
    j = s.joins[0]
    if j.system_time is None or j.how != "inner" or j.on is None:
        return None
    fact, dim = s.table, j.table
    if fact not in source_names or dim not in source_names or fact == dim:
        return None
    dim_pk = source_pks.get(dim) or []
    fact_pk = source_pks.get(fact) or []
    if not dim_pk or not fact_pk:
        return None
    fcols = {c.lower(): c for c in source_columns[fact]}
    dcols = {c.lower(): c for c in source_columns[dim]}
    quals = {fact.lower(): "fact", dim.lower(): "dim"}
    if s.alias:
        quals[s.alias.lower()] = "fact"
    if j.alias:
        quals[j.alias.lower()] = "dim"

    def resolve(ref: str):
        """'q.c' or 'c' → (side, canonical name) or None (unknown or
        ambiguous)."""
        m = re.fullmatch(rf"\s*(?:({_IDENT})\s*\.\s*)?({_IDENT})\s*", ref)
        if m is None:
            return None
        q, c = m.group(1), m.group(2).lower()
        if q is not None:
            side = quals.get(q.lower())
            if side is None:
                return None
            cols = fcols if side == "fact" else dcols
            return (side, cols[c]) if c in cols else None
        inf, ind = c in fcols, c in dcols
        if inf and ind:
            return None
        if inf:
            return "fact", fcols[c]
        if ind:
            return "dim", dcols[c]
        return None

    st = resolve(j.system_time)
    if st is None or st[0] != "fact":
        return None
    time_col = st[1]

    # ON: a conjunction of simple equalities covering the dim's PK
    # exactly (composite PKs join on every column, any order)
    pairs: dict[str, str] = {}  # dim pk col (canonical) -> fact fk col
    for conj in re.split(r"(?i)\bAND\b", j.on):
        m = re.fullmatch(
            rf"\s*\(?\s*({_IDENT}(?:\s*\.\s*{_IDENT})?)\s*=\s*"
            rf"({_IDENT}(?:\s*\.\s*{_IDENT})?)\s*\)?\s*",
            conj,
        )
        if m is None:
            return None
        l, r = resolve(m.group(1)), resolve(m.group(2))
        if l is None or r is None or {l[0], r[0]} != {"fact", "dim"}:
            return None
        fk_c = l[1] if l[0] == "fact" else r[1]
        dpk_c = l[1] if l[0] == "dim" else r[1]
        if dpk_c.lower() in (p.lower() for p in pairs):
            return None  # duplicate equality on the same dim column
        pairs[dpk_c] = fk_c
    if {p.lower() for p in pairs} != {p.lower() for p in dim_pk}:
        return None
    # Two dim PK columns equated to the SAME fact column would build a
    # dirty-FK frame with duplicate column names and crash the refresh
    # with an ambiguous-column error mid-batch — reject at match time
    # so the build raises the envelope error instead.
    if len({f.lower() for f in pairs.values()}) != len(pairs):
        return None
    by_low = {p.lower(): (p, f) for p, f in pairs.items()}
    dpk_list = [by_low[p.lower()][0] for p in dim_pk]
    fk = [by_low[p.lower()][1] for p in dim_pk]

    out_cols, out_src = [], []
    items = sqlast.split_commas(s.select)
    if items is None:
        return None
    for item in items:
        rr = resolve(item)
        if rr is None:
            return None
        out_cols.append(rr[1])
        out_src.append(rr[0])
    if len({c.lower() for c in out_cols}) != len(out_cols) or not out_cols:
        return None
    sel = {c.lower() for c, sr in zip(out_cols, out_src) if sr == "fact"}
    if any(p.lower() not in sel for p in fact_pk):
        return None
    return TemporalJoinShape(
        fact=fact,
        dim=dim,
        fk=tuple(fk),
        dim_pk=tuple(dpk_list),
        time_col=time_col,
        out_cols=tuple(out_cols),
        out_src=tuple(out_src),
        fact_cols=tuple(c for c, sr in zip(out_cols, out_src) if sr == "fact"),
        dim_cols=tuple(c for c, sr in zip(out_cols, out_src) if sr == "dim"),
    )
