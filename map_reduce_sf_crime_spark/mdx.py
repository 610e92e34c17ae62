"""MDX front-end for the sfcrime cube — closes SURVEY §7.5 non-goal 1
for the query shapes the reference actually ships.

The reference serves MDX through Mondrian (mondrian.jsp:5-11) against
the cube schema sfcrime.xml:4-28; its three committed queries
(bycategory.mdx:1-4, bydistrict.mdx:1-4, mondrian.jsp:6-9) plus the
drill-downs JPivot issues against them share one small grammar:

    SELECT <set> ON COLUMNS, <set> ON ROWS
    FROM [sfcrime] [WHERE <tuple>]

with sets of member tuples, ``.Children`` / ``.Members`` enumeration,
and the ``sum(crimes)`` measure — plus (round 6) the set functions
JPivot's sort/filter actions emit against the cube
(``Order(set, expr[, flag])``, ``TopCount(set, n[, expr])`` and its
ascending mirror ``BottomCount``,
``Filter(set, expr cmp number)``, and — round 8 —
``Union(a, b[, ALL])``, ``Except(a, b[, ALL])`` (definition
subtraction at parse time; explicit members subtract from
enumerations by caption at the data level),
plus ``Hierarchize(set[, POST])``, the exact
composition JPivot emits around a drill:
``Hierarchize(Union(parent, children))``) on EITHER axis (round 7
lifted the
ROWS-only restriction — the column axis is the symmetric case), and
(round 7) ``WITH MEMBER [Measures].[x] AS '<arith>'`` calculated
members — arithmetic (+ - * /, unary minus) over cell value tuples,
the other query shape JPivot's MDX editor emits freely (ratio/share
members) — and (round 8) ``WITH SET [x] AS '<set>'`` named sets,
parsed once and substituted wherever an axis references ``[x]``
(each reference gets its own copy, so Order/TopCount/Filter wrapped
around one reference never leak into another).
Round 11 adds calculated-member TIME NAVIGATION — inside WITH MEMBER
bodies, ``[Hier].CurrentMember`` binds the evaluation cell's member
and ``.PrevMember``/``.NextMember``/``.Lag(n)``/``.Lead(n)`` (also
on static members), ``ParallelPeriod([Time].[level], n[, member])``,
``Sum(PeriodsToDate([Time].[level][, member]), tuple)`` /
``Sum(Ytd(), tuple)``, and the EDGE family —
``.FirstChild``/``.LastChild``/``.FirstSibling``/``.LastSibling``
and ``OpeningPeriod``/``ClosingPeriod([Hier].[level][, member])``
(order statistics: the lexicographic min/max sub-path at the target
level) — compile to data-level joins on the typed level
paths (the period-over-period, running-total, and period-edge
idioms; see _calc_grouped). Set aggregations over EXPLICIT sets
(``Sum/Avg/Min/Max/Aggregate({tuples}, expr)``,
``Count(set[, EXCLUDEEMPTY])``, ``CoalesceEmpty``) expand at parse
time into per-member refs under Mondrian's empty-cell algebra, and
``IIF([Not] IsEmpty(e) | e cmp e, then, else)`` is the three-valued
null guard. Navigation is confined to WITH MEMBER value tuples —
axes, slicers, set-function expressions, named sets, and Generate's
first argument all reject it loudly.
This module parses exactly that grammar and compiles it onto the
engine's star join — no Mondrian, no cell cache, just Catalyst: every
axis-tuple pair becomes one filtered
aggregation over the shared (cached) denormalized star frame, grouped
by whatever the tuple enumerates. All-members compile to "no filter",
so the 100 TB shape is the same broadcast star join + hash aggregate
as `olap_rollups`. Calculated-member cells evaluate each value
reference as its own (memoized) aggregate under Mondrian tuple
semantics — a context member overrides the cell's member for that
hierarchy only — joined back axis-member-sized (broadcast); a query
batch containing any calculated cell returns ``crimes`` as double
(cell arithmetic), base-only batches keep the exact long sums.

Results come back TIDY (long form): one row per populated cell —
``(row_member, col_member, crimes)`` — the DataFrame-native rendering
of the JPivot grid. Member captions follow Mondrian: enumerated
members caption as their column value, ``[Time]`` paths as the
numeric path, tuples join captions with ", ".

Level values are compared against the cube's level COLUMNS exactly as
stored — in particular ``[Time].[2013].[0]`` is January, because the
timeperiod dim keeps LoadStarDB's 0-based Calendar.MONTH
(LoadStarDB.java:134-141; SURVEY §1.5).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.caching import is_single_partition, plan_cache

#: cube binding (sfcrime.xml): hierarchy → (level → star-join column),
#: plus the Mondrian all-member caption where the hierarchy hasAll.
_DIMS = {
    "district": {"levels": [("name", "district")], "all": "All Districts"},
    "category": {"levels": [("name", "category")], "all": "All Categories"},
    "time": {
        "levels": [
            ("year", "year"),
            ("month", "month"),
            ("week", "week"),
            ("day", "day"),
        ],
        "all": None,  # hasAll="false" (sfcrime.xml:18)
    },
}
_MEASURES = {"crimes"}  # sum aggregator (sfcrime.xml:27)

#: star-join column → hierarchy name; calculated-member context
#: overrides are hierarchy-scoped (Mondrian tuple semantics: an
#: explicit member in a value tuple replaces the evaluation context's
#: member for that hierarchy, all levels included)
_COL2HIER = {
    col: dname for dname, spec in _DIMS.items() for (_, col) in spec["levels"]
}

#: Mondrian default member of the hasAll="false" [Time] hierarchy
#: (sfcrime.xml:19: defaultMember="[Time].[2013].[1].[1]"): a query
#: that references [Time] on NO axis and NOT in the slicer is
#: evaluated at this member, not over all time. District/Category
#: have hasAll="true" with the All member as default, so leaving them
#: unmentioned correctly means "no filter". Overridable per query
#: (``time_default=``) because the member is cube DATA, not grammar —
#: a fixture whose corpus is 1995-Q1 sets its own.
TIME_DEFAULT_MEMBER: tuple[int, ...] = (2013, 1, 1)

#: Axis-tuple-pair count at which mdx_cells switches from aggregating
#: the (cached) star directly to pre-aggregating a leaf cell frame
#: first — the leaf's one extra shuffle pays for itself once several
#: pairs would otherwise each rescan the fact. Re-measured round 6
#: after the sorted/top3 legs took the gate batch to 3 enumerating
#: pairs: a WARMED alternating A/B (JIT settled first — a cold
#: alternation is confounded by warm-in and falsely favors whichever
#: runs later) shows 3-vs-4 within noise with a slight edge to 4
#: (mins 3.15/3.34/3.40 vs 3.19/3.82/3.83 s at sf0.1), so the
#: threshold stays at 4: below it the leaf's extra shuffle buys
#: nothing the cached star doesn't already give. A star that is ONE
#: partition (functions/caching.is_single_partition — olap_rollups'
#: checkpointed star) never takes the leaf: its pairs already
#: aggregate without an Exchange, and the leaf's cache would lose
#: that partitioning and bring one Exchange back per pair.
MDX_LEAF_MIN_PAIRS = 4


class MdxError(ValueError):
    pass


@dataclass
class _Member:
    """One resolved member: either the measure, or a dimension member
    as (equality filters on level columns) + (enumerated level column
    or None) + caption parts."""

    measure: str | None = None
    filters: list[tuple[str, object]] = field(default_factory=list)
    enum_col: str | None = None
    caption: list[str] = field(default_factory=list)  # static caption parts
    hierarchy: str | None = None  # resolved dimension name (None = measure)
    #: intermediate enumerated level columns strictly between the
    #: member's static path and ``enum_col`` — non-empty only for
    #: ``Descendants(member, level)`` spanning >1 level (round 9);
    #: ``.Children``/``.Members`` keep it empty. Distinct members at
    #: the target level are distinct FULL PATHS (Mondrian member
    #: identity), so grouping, captions, and hierarchy ordinals all
    #: include these columns.
    enum_path: tuple[str, ...] = ()
    #: the raw path segments as written (hierarchy first) — what
    #: ``[Hier].CurrentMember`` splices back into the token stream so
    #: Generate's second argument re-resolves through the one
    #: resolver (round 10). Not part of the definition key: two
    #: spellings of one member ([D].[All Districts].[X] vs [D].[X])
    #: already key-equal by their filters.
    segs: tuple[str, ...] = ()
    #: round 11 — cell-context marker: the member is the evaluation
    #: CELL's member for ``hierarchy`` (``[Hier].CurrentMember``
    #: inside a WITH MEMBER expression). Only meaningful in
    #: calculated-member value tuples; parse_mdx rejects it on axes,
    #: slicers, and set-function expressions.
    current: bool = False
    #: round 11 — time-navigation applied to the member (static base
    #: or ``current``): ``("lag", n)`` for PrevMember/NextMember/
    #: Lag/Lead chains (n may be negative = lead), ``("parallel",
    #: anc_li, n)`` for ParallelPeriod (ancestor level index,
    #: periods back), ``("ptd", anc_li)`` for PeriodsToDate/Ytd
    #: inside ``Sum`` (period-to-date accumulation). Evaluated as a
    #: data-level join in mdx_cells_many — navigation is a DATA
    #: question (which sibling exists before this one), not grammar.
    nav: tuple | None = None


def _enum_cols(m: "_Member") -> tuple[str, ...]:
    """All enumerated level columns of one member, outermost first."""
    return (*m.enum_path, m.enum_col) if m.enum_col else ()


_TOKEN = re.compile(
    r"\s*(?:(\[[^\]]*\])|('(?:[^']|'')*')|(\"(?:[^\"]|\"\")*\")"
    r"|(\{)|(\})|(\()|(\))|(,)|(\.)"
    r"|(\d+(?:\.\d+)?)|(>=|<=|<>|[<>=])|([+\-*/])"
    r"|([A-Za-z_][A-Za-z0-9_]*))"
)

#: Filter() comparison operators → python column operations
_CMPS = {">", ">=", "<", "<=", "=", "<>"}


@dataclass
class _SetOp:
    """One axis set function (the JPivot sort/filter grammar —
    mondrian.jsp's JPivot stack emits these when the user clicks a
    column sort arrow or sets a filter):

    - ``order``: flag in asc/desc/basc/bdesc (the B- "break
      hierarchy" variants equal the plain ones here — the compiled
      sets are flat member lists, there is no hierarchy to preserve);
    - ``topcount``: ``count`` members by ``expr`` descending;
    - ``bottomcount`` (round 8): the ascending mirror (NULL values
      still last — the pinned missing-member policy, so a NULL can
      never win a "bottom" slot);
    - ``filter``: keep members where value ``cmp`` ``value``;
    - ``except`` (round 8): drop axis members whose caption is in
      ``captions`` — the data-level half of ``Except(a, b)`` when
      ``b``'s explicit members must subtract from an ENUMERATION in
      ``a`` (identical definitions subtract at parse time instead);
    - ``hierarchize`` (round 8): attach hierarchy-order ordinals
      (parents before children, siblings in native level order; flag
      "post" puts parents after their subtree) — no ``expr``.

    ``expr`` is the numeric-expression tuple — the measure plus
    optional context members (e.g. ``([Measures].[crimes],
    [Time].[1995])``)."""

    kind: str  # "order" | "topcount" | "bottomcount" | "filter" | ...
    expr: list["_Member"] = field(default_factory=list)
    flag: str = "asc"  # order
    count: int = 0  # topcount / bottomcount
    cmp: str = ""  # filter
    value: float = 0.0  # filter
    #: except (round 8): static captions of the explicit members the
    #: second argument removes from an enumerated first argument
    captions: list[str] = field(default_factory=list)


@dataclass
class _SetExpr:
    """A parsed axis set: the member tuples plus any wrapping set
    functions, applied innermost-first."""

    tuples: list[list["_Member"]]
    ops: list[_SetOp] = field(default_factory=list)


def _tuple_def_key(tp: list["_Member"]):
    """Parse-time canonical key of a tuple DEFINITION — what Union's
    duplicate removal and Except's subtraction compare. Two tuples
    with the same key filter and enumerate identically, so they are
    the same set element; an enumeration and an explicit member of
    the same level never key-match (membership overlap is a data
    question these parse-time ops don't answer — documented at both
    call sites)."""
    return tuple(
        (
            m.measure,
            tuple(sorted((c, str(v)) for c, v in m.filters)),
            m.enum_col,
            m.enum_path,
        )
        for m in tp
    )


@dataclass
class _CalcExpr:
    """Calculated-member expression AST (``WITH MEMBER ... AS``):
    arithmetic over cell values.

    - ``lit``: a numeric literal;
    - ``ref``: a value reference — the base measure plus optional
      non-enumerating context members (``([Measures].[crimes],
      [District].[MISSION])``), Mondrian tuple-override semantics;
    - ``bin``: ``left op right`` for op in ``+ - * /`` (division is
      ANSI — a zero denominator raises loudly, a NULL one yields an
      empty cell)."""

    kind: str  # "lit" | "ref" | "bin" | "nary"
    value: float = 0.0
    ref: list["_Member"] | None = None
    op: str = ""
    left: "_CalcExpr | None" = None
    right: "_CalcExpr | None" = None
    #: round 11 — n-ary nodes: SET AGGREGATIONS over explicit member
    #: sets (``Sum/Avg/Min/Max({tuples}, expr)`` — each arg is one
    #: per-member value ref; Mondrian empty-cell algebra: Sum/Avg
    #: skip empties and are empty only when ALL cells are,
    #: Count EXCLUDEEMPTY is 0 then) and ``CoalesceEmpty(e1, e2, …)``
    #: (args are arbitrary sub-expressions). For ``kind="iif"``:
    #: ``left``/``right``/``op`` hold the comparison (``op="isempty"``
    #: tests ``left`` alone) and ``args=[then, else]`` — a NULL
    #: comparison operand is not-true (Mondrian: unknown → the else
    #: branch), matching Spark's ``when``.
    args: "list[_CalcExpr] | None" = None


def _ast_has_nav(ast: "_CalcExpr") -> bool:
    """True when any value reference in the expression carries a
    navigated member (PrevMember/ParallelPeriod/PeriodsToDate) —
    such cells are data-dependent and route through the join
    machinery even without axis enumeration."""
    if ast.kind == "ref":
        return any(m.nav is not None for m in ast.ref or [])
    if ast.kind == "bin":
        return _ast_has_nav(ast.left) or _ast_has_nav(ast.right)
    if ast.kind == "nary":
        return any(_ast_has_nav(a) for a in ast.args or [])
    if ast.kind == "iif":
        return any(
            _ast_has_nav(a)
            for a in [ast.left, ast.right, *(ast.args or [])]
            if a is not None
        )
    return False


_CMP_COLS = {
    "=": lambda a, b: a == b,
    "<>": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


def _iif_col(node: "_CalcExpr", sub):
    """Build IIF's column from a recursive sub-expression builder:
    ``when(cond, then).otherwise(else)`` — a NULL comparison operand
    makes the condition unknown and Spark's ``when`` falls through
    to otherwise, which is Mondrian's three-valued IIF."""
    if node.op == "isempty":
        cond = sub(node.left).isNull()
    else:
        cond = _CMP_COLS[node.op](sub(node.left), sub(node.right))
    return F.when(cond, sub(node.args[0])).otherwise(sub(node.args[1]))


def _nary_col(op: str, cols: list):
    """Combine per-member value columns under Mondrian's empty-cell
    algebra: Sum/Avg skip empty cells and are empty only when EVERY
    cell is; Min/Max ignore empties (Spark's least/greatest skip
    NULLs); Count EXCLUDEEMPTY counts non-empty cells (0, not NULL,
    when all are empty); CoalesceEmpty is first-non-empty."""
    import functools

    if op == "coalesce":
        return F.coalesce(*cols) if len(cols) > 1 else cols[0]
    if op == "min":
        return F.least(*cols) if len(cols) > 1 else cols[0]
    if op == "max":
        return F.greatest(*cols) if len(cols) > 1 else cols[0]
    if op == "cnt_ex":
        return functools.reduce(
            lambda a, b: a + b,
            [c.isNotNull().cast("double") for c in cols],
        )
    any_nonnull = functools.reduce(
        lambda a, b: a | b, [c.isNotNull() for c in cols]
    )
    total = functools.reduce(
        lambda a, b: a + b, [F.coalesce(c, F.lit(0.0)) for c in cols]
    )
    if op == "sum":
        return F.when(any_nonnull, total)
    if op == "avg":
        cnt = functools.reduce(
            lambda a, b: a + b,
            [c.isNotNull().cast("double") for c in cols],
        )
        return F.when(any_nonnull, total / cnt)
    raise MdxError(f"unknown set aggregation {op!r}")  # pragma: no cover


def _tokenize(text: str) -> list[str]:
    toks, i = [], 0
    while i < len(text):
        m = _TOKEN.match(text, i)
        if not m:
            if text[i:].strip():
                raise MdxError(f"unparseable MDX at: {text[i:i+40]!r}")
            break
        toks.append(m.group(0).strip())
        i = m.end()
    return toks


class _Parser:
    def __init__(self, toks: list[str]):
        self.toks = toks
        self.i = 0
        #: query-scoped calculated-member names (WITH MEMBER) — seen
        #: by member() so axis sets can reference them like measures
        self.calc_names: set[str] = set()
        #: query-scoped named sets (WITH SET, round 8) — substituted
        #: at set-parse time; name → parsed _SetExpr
        self.named_sets: dict[str, "_SetExpr"] = {}
        #: Generate() iteration context (round 10): hierarchy →
        #: bound member while the second argument re-parses;
        #: ``[Hier].CurrentMember`` resolves against this. Empty
        #: outside Generate — a stray CurrentMember is loud.
        self._current: dict[str, "_Member"] = {}
        #: round 11 — True only for the WITH MEMBER body sub-parser:
        #: an unbound ``[Hier].CurrentMember`` there compiles to the
        #: cell-context marker (``_Member.current``) instead of
        #: raising, enabling PrevMember/ParallelPeriod/PeriodsToDate
        #: time navigation. False everywhere else (axes, named sets,
        #: slicers) so navigation cannot silently leak out of
        #: calculated members.
        self.allow_cell_current = False

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        t = self.peek()
        if t is None:
            raise MdxError("unexpected end of MDX")
        self.i += 1
        return t

    def expect(self, want: str) -> str:
        t = self.next()
        if t.lower() != want.lower():
            raise MdxError(f"expected {want!r}, got {t!r}")
        return t

    # member := ParallelPeriod(...)
    #         | [seg](.[seg])*(.Children|.Members
    #                          |(.PrevMember|.NextMember|.Lag(n)|.Lead(n))+)?
    def member(self) -> _Member:
        if (self.peek() or "").lower() == "parallelperiod":
            return self._parallelperiod()
        if (self.peek() or "").lower() in ("openingperiod", "closingperiod"):
            return self._edgeperiod()
        if (self.peek() or "").lower() == "ancestor":
            return self._ancestor()
        segs, suffix = [], None
        current = False  # cell-context CurrentMember marker
        nav: tuple | None = None  # accumulated lag-family navigation
        if not (self.peek() or "").startswith("["):
            raise MdxError(f"expected a [member], got {self.peek()!r}")
        segs.append(self.next()[1:-1])
        while self.peek() == ".":
            self.next()
            t = self.next()
            tl = t.lower()
            if nav is not None and not (
                tl in ("prevmember", "nextmember", "lag", "lead")
            ):
                raise MdxError(
                    f"only PrevMember/NextMember/Lag/Lead may follow a "
                    f"navigated member, got {t!r}"
                )
            if t.startswith("["):
                if current:
                    raise MdxError(
                        "cannot descend below CurrentMember in a "
                        "calculated-member expression — the cell's "
                        "member has no statically known children"
                    )
                segs.append(t[1:-1])
            elif tl in ("children", "members"):
                if current:
                    raise MdxError(
                        f".{t} cannot enumerate below the cell's "
                        "CurrentMember in a calculated-member "
                        "expression"
                    )
                suffix = tl
                break
            elif tl == "currentmember":
                # [Hier].CurrentMember — two meanings, resolved in
                # priority order: (1) inside Generate's second
                # argument the iteration binds a member per
                # hierarchy; splice the bound member's RAW segments
                # in and keep parsing, so suffixes (.Children,
                # deeper unique-name segments, .PrevMember) resolve
                # through the one resolver. (2) inside a WITH MEMBER
                # body (allow_cell_current) it is the evaluation
                # CELL's member — a parse-time marker the compiler
                # binds per cell (round 11: the period-over-period
                # idiom). Anywhere else: loud.
                if len(segs) != 1:
                    raise MdxError(
                        ".CurrentMember applies to a hierarchy "
                        "reference ([Hierarchy].CurrentMember), got "
                        f"{segs!r}"
                    )
                ctx = self._current.get(segs[0].lower())
                if ctx is not None:
                    segs = list(ctx.segs)
                elif self.allow_cell_current:
                    if segs[0].lower() not in _DIMS:
                        raise MdxError(f"unknown hierarchy [{segs[0]}]")
                    current = True
                else:
                    raise MdxError(
                        f"[{segs[0]}].CurrentMember has no bound "
                        "member — it is only supported inside "
                        "Generate's second argument (iterating a "
                        "set over the same hierarchy) or a WITH "
                        "MEMBER expression (the cell's member)"
                    )
            elif tl in ("prevmember", "nextmember"):
                if not current and len(segs) < 2:
                    raise MdxError(
                        f".{t} applies to a member, not a bare "
                        "hierarchy"
                    )
                if nav is not None and nav[0] != "lag":
                    raise MdxError(
                        f".{t} cannot chain onto "
                        f"{nav[0]!r} navigation"
                    )
                step = 1 if tl == "prevmember" else -1
                nav = ("lag", (nav[1] if nav else 0) + step)
            elif tl in ("lag", "lead"):
                if not current and len(segs) < 2:
                    raise MdxError(
                        f".{t} applies to a member, not a bare "
                        "hierarchy"
                    )
                if nav is not None and nav[0] != "lag":
                    raise MdxError(
                        f".{t} cannot chain onto "
                        f"{nav[0]!r} navigation"
                    )
                self.expect("(")
                n = self._signed_int(f"{t}() offset")
                self.expect(")")
                step = n if tl == "lag" else -n
                nav = ("lag", (nav[1] if nav else 0) + step)
            elif tl == "parent":
                # the share-of-parent denominator idiom: the
                # member's path truncated one level — a pure
                # projection, no data lookup (round 11). Parent of a
                # top-level member is the All member (hasAll
                # hierarchies: the no-filter context; [Time] has
                # none — loud at eval).
                if not current and len(segs) < 2:
                    raise MdxError(
                        f".{t} applies to a member, not a bare "
                        "hierarchy"
                    )
                if nav is not None:
                    raise MdxError(
                        f".{t} cannot chain onto another navigation"
                    )
                nav = ("anc", None)  # relative: depth d-1
            elif tl in (
                "firstchild", "lastchild", "firstsibling", "lastsibling"
            ):
                # EDGE navigation (round 11): order statistics over
                # the level universe — FirstChild/LastChild pick the
                # min/max child path under the member, siblings the
                # min/max member under the member's own parent. Data
                # questions, compiled like lag as eval-time joins.
                if not current and len(segs) < 2:
                    raise MdxError(
                        f".{t} applies to a member, not a bare "
                        "hierarchy"
                    )
                if nav is not None:
                    raise MdxError(
                        f".{t} cannot chain onto another navigation"
                    )
                mode = "child" if tl.endswith("child") else "sibling"
                which = "min" if tl.startswith("first") else "max"
                nav = ("edge", mode, which)
            else:
                raise MdxError(f"unexpected {t!r} in member path")
        if current:
            m = _Member(
                hierarchy=segs[0].lower(), segs=tuple(segs), current=True
            )
            m.nav = nav
            return m
        if (
            segs[0].lower() == "measures"
            and len(segs) == 2
            and segs[1].lower() in self.calc_names
            and suffix is None
        ):
            return _Member(measure=segs[1].lower(), caption=[segs[1]])
        m = _resolve(segs, suffix)
        if nav is not None:
            if m.measure is not None:
                raise MdxError("measures have no PrevMember navigation")
            if not m.filters:
                raise MdxError(
                    "PrevMember/Lag navigation needs a member below "
                    "the All level"
                )
            m.nav = nav
        return m

    def _signed_int(self, what: str) -> int:
        """An optionally negative integer offset (``Lag(-1)`` ==
        ``Lead(1)``, ``ParallelPeriod(level, -1)`` = the NEXT period
        — standard MDX allows both directions; the tokenizer has no
        signed numbers, so the sign is its own token)."""
        neg = False
        if self.peek() == "-":
            self.next()
            neg = True
        n = self.number()
        if n != int(n):
            raise MdxError(f"{what} must be an integer")
        return -int(n) if neg else int(n)

    def _nav_level(self) -> tuple[str, int]:
        """Parse a ``[Hierarchy].[Level]`` argument of ParallelPeriod /
        PeriodsToDate; returns (hierarchy, level index)."""
        lsegs = self._level_segs()
        if len(lsegs) != 2:
            raise MdxError(
                f"expected [Hierarchy].[Level], got {lsegs!r}"
            )
        hier, lname = lsegs[0].lower(), lsegs[1].lower()
        if hier not in _DIMS:
            raise MdxError(f"unknown hierarchy [{lsegs[0]}]")
        names = [ln.lower() for ln, _ in _DIMS[hier]["levels"]]
        if lname not in names:
            raise MdxError(
                f"unknown level [{lsegs[1]}] on [{lsegs[0]}] "
                f"(levels: {', '.join(ln for ln, _ in _DIMS[hier]['levels'])})"
            )
        return hier, names.index(lname)

    def _nav_base(self, hier: str, fn: str) -> _Member:
        """Default member argument of ParallelPeriod / PeriodsToDate /
        Ytd: the hierarchy's CurrentMember — the Generate binding if
        one is live, else the cell-context marker inside WITH MEMBER,
        else loud."""
        ctx = self._current.get(hier)
        if ctx is not None:
            return _Member(
                hierarchy=ctx.hierarchy,
                filters=list(ctx.filters),
                caption=list(ctx.caption),
                segs=ctx.segs,
            )
        if self.allow_cell_current:
            return _Member(hierarchy=hier, segs=(hier,), current=True)
        raise MdxError(
            f"{fn} without a member argument defaults to "
            f"[{hier}].CurrentMember, which is only bound inside a "
            "WITH MEMBER expression or Generate — pass the member "
            "explicitly"
        )

    def _nav_member_arg(self, hier: str, fn: str) -> _Member:
        """Validate an explicit member argument of a navigation
        function: same hierarchy, no enumeration, not itself
        navigated."""
        m = self.member()
        if m.measure is not None:
            raise MdxError(f"{fn}: member argument cannot be a measure")
        if m.hierarchy != hier:
            raise MdxError(
                f"{fn}: member hierarchy [{m.hierarchy}] does not "
                f"match the level's hierarchy [{hier}]"
            )
        if m.enum_col:
            raise MdxError(f"{fn}: member argument cannot enumerate")
        if m.nav is not None:
            raise MdxError(
                f"{fn}: member argument cannot itself be navigated"
            )
        return m

    # ParallelPeriod([Hier].[Level] [, n [, member]]) — the member at
    # the same relative position under the ancestor period n steps
    # back (Mondrian: Cousin(member, Ancestor(member, level).Lag(n))).
    # Compiled as nav=("parallel", anc_li, n): the ancestor at the
    # named level is lagged n steps in the level's full cross-parent
    # data order and the member's OWN lower-level path values descend
    # under it. Descent is by level VALUE, not sibling position —
    # identical on this cube's dense numeric [Time] levels (0-based
    # months, WEEK_OF_MONTH weeks repeat every year) and the honest
    # choice on sparse data, where "the same month last year" is what
    # the analyst means (Mondrian's positional Cousin can silently
    # drift onto a different month when siblings are missing).
    def _parallelperiod(self) -> _Member:
        self.next()
        self.expect("(")
        hier, anc_li = self._nav_level()
        n = 1
        base: _Member | None = None
        if self.peek() == ",":
            self.next()
            n = self._signed_int("ParallelPeriod offset")
            if self.peek() == ",":
                self.next()
                base = self._nav_member_arg(hier, "ParallelPeriod")
        self.expect(")")
        if base is None:
            base = self._nav_base(hier, "ParallelPeriod")
        base.nav = ("parallel", anc_li, n)
        return base

    # OpeningPeriod([Hier].[Level] [, member]) / ClosingPeriod(...) —
    # the FIRST/LAST descendant of the member at the named level
    # (Mondrian: the period's opening/closing member; default member
    # = CurrentMember, zero-argument form = the [Time] hierarchy's
    # child level, i.e. FirstChild/LastChild of [Time].CurrentMember).
    # Compiled as nav=("edgelvl", li, min|max): the lexicographic
    # min/max sub-path under the member at the target level — an
    # order statistic over the level universe, like FirstChild.
    def _edgeperiod(self) -> _Member:
        which = "min" if self.next().lower() == "openingperiod" else "max"
        fn = "OpeningPeriod" if which == "min" else "ClosingPeriod"
        self.expect("(")
        if self.peek() == ")":
            self.next()
            base = self._nav_base("time", fn)
            base.nav = ("edge", "child", which)
            return base
        hier, li = self._nav_level()
        base = None
        if self.peek() == ",":
            self.next()
            base = self._nav_member_arg(hier, fn)
        self.expect(")")
        if base is None:
            base = self._nav_base(hier, fn)
        base.nav = ("edgelvl", li, which)
        return base

    # Ancestor(member, [Hier].[Level]) — the member's path truncated
    # to the named level (the share-of-subtotal denominator for any
    # fixed level: month-of-year, week-of-month, …). A pure
    # projection like .Parent, but to an absolute level.
    def _ancestor(self) -> _Member:
        self.next()
        self.expect("(")
        base = self.member()
        if base.measure is not None:
            raise MdxError("Ancestor: first argument must be a member")
        if base.enum_col:
            raise MdxError("Ancestor: member argument cannot enumerate")
        if base.nav is not None:
            raise MdxError(
                "Ancestor: member argument cannot itself be navigated"
            )
        self.expect(",")
        hier, li = self._nav_level()
        if hier != base.hierarchy:
            raise MdxError(
                f"Ancestor: level hierarchy [{hier}] does not match "
                f"the member's hierarchy [{base.hierarchy}]"
            )
        self.expect(")")
        base.nav = ("anc", li)
        return base

    # level reference := [Hierarchy].[LevelName] — raw segments, no
    # member resolution (level names are not members; on [Time] a
    # member segment must be numeric, which is how the two namespaces
    # stay disjoint in this cube)
    def _level_segs(self) -> list[str]:
        if not (self.peek() or "").startswith("["):
            raise MdxError(f"expected a [level], got {self.peek()!r}")
        segs = [self.next()[1:-1]]
        while self.peek() == ".":
            self.next()
            t = self.next()
            if not t.startswith("["):
                raise MdxError(f"unexpected {t!r} in level path")
            segs.append(t[1:-1])
        return segs

    # tuple := (member, member, ...) | member
    def tuple_(self) -> list[_Member]:
        if self.peek() == "(":
            self.next()
            members = [self.member()]
            while self.peek() == ",":
                self.next()
                members.append(self.member())
            self.expect(")")
            return members
        return [self.member()]

    # numexpr := member | (member, member, ...) — must contain exactly
    # one measure; other members are context slicers for the value
    def numexpr(self) -> list[_Member]:
        members = self.tuple_()
        n_meas = sum(1 for m in members if m.measure)
        if n_meas != 1:
            raise MdxError(
                "set-function expression must name exactly one measure"
            )
        if any(m.enum_col for m in members):
            raise MdxError(
                "set-function expression members cannot enumerate"
            )
        if any(m.nav is not None or m.current for m in members):
            raise MdxError(
                "CurrentMember/PrevMember navigation is only "
                "supported inside WITH MEMBER value expressions"
            )
        return members

    def number(self) -> float:
        t = self.next()
        try:
            return float(t)
        except ValueError:
            raise MdxError(f"expected a number, got {t!r}")

    # ---- calculated-member expression grammar (WITH MEMBER ... AS) --
    # expr := term (('+'|'-') term)* ; term := factor (('*'|'/') factor)*
    # factor := number | valueref | '(' expr ')'
    # valueref := member | (member, ...) — exactly one BASE measure
    # plus optional non-enumerating context members
    def calc_expr(self) -> _CalcExpr:
        node = self.calc_term()
        while self.peek() in ("+", "-"):
            op = self.next()
            node = _CalcExpr(
                kind="bin", op=op, left=node, right=self.calc_term()
            )
        return node

    def calc_term(self) -> _CalcExpr:
        node = self.calc_factor()
        while self.peek() in ("*", "/"):
            op = self.next()
            node = _CalcExpr(
                kind="bin", op=op, left=node, right=self.calc_factor()
            )
        return node

    def calc_factor(self) -> _CalcExpr:
        t = self.peek()
        if t is None:
            raise MdxError("unexpected end of calculated-member expression")
        if t == "-":
            # unary minus (round 8 — ADVICE: JPivot emits forms like
            # '-[Measures].[crimes]' and '-1 * x'): compiled as
            # 0 - factor, which keeps Mondrian's empty-cell algebra
            # (NULL operand → NULL cell) without a new node kind
            self.next()
            return _CalcExpr(
                kind="bin",
                op="-",
                left=_CalcExpr(kind="lit", value=0.0),
                right=self.calc_factor(),
            )
        if t == "+":  # unary plus — a no-op Mondrian tolerates
            self.next()
            return self.calc_factor()
        if t.lower() in ("sum", "aggregate", "avg", "min", "max"):
            # Aggregate == Sum on this cube: its one measure
            # aggregates by sum (sfcrime.xml:27), so Mondrian's
            # measure-aggregator dispatch collapses to Sum
            return self._calc_setagg(
                {"aggregate": "sum"}.get(t.lower(), t.lower())
            )
        if t.lower() == "count":
            return self._calc_count()
        if t.lower() == "coalesceempty":
            self.next()
            self.expect("(")
            args = [self.calc_expr()]
            while self.peek() == ",":
                self.next()
                args.append(self.calc_expr())
            self.expect(")")
            if len(args) < 2:
                raise MdxError("CoalesceEmpty needs at least two arguments")
            return _CalcExpr(kind="nary", op="coalesce", args=args)
        if t.lower() == "iif":
            # IIF(<cond>, <then>, <else>) — the null-guard idiom
            # JPivot wraps around divisions. <cond> is either
            # [Not] IsEmpty(<expr>) or <expr> cmp <expr>.
            self.next()
            self.expect("(")
            neg = False
            if (self.peek() or "").lower() == "not":
                self.next()
                neg = True
            if (self.peek() or "").lower() == "isempty":
                self.next()
                self.expect("(")
                left = self.calc_expr()
                self.expect(")")
                op, right = "isempty", None
            else:
                if neg:
                    raise MdxError(
                        "IIF: Not applies to IsEmpty(...) only — "
                        "negate a comparison by flipping its "
                        "operator"
                    )
                left = self.calc_expr()
                op = self.next()
                if op not in _CMPS:
                    raise MdxError(
                        f"IIF condition needs IsEmpty(...) or a "
                        f"comparison, got {op!r}"
                    )
                right = self.calc_expr()
            self.expect(",")
            then = self.calc_expr()
            self.expect(",")
            els = self.calc_expr()
            self.expect(")")
            if neg:
                # Not IsEmpty: isNull is two-valued, so swapping the
                # branches is exact
                then, els = els, then
            return _CalcExpr(
                kind="iif", op=op, left=left, right=right,
                args=[then, els],
            )
        if t.lower() in ("parallelperiod", "openingperiod",
                         "closingperiod", "ancestor"):
            # a bare navigation function as a value factor is the
            # 1-tuple (member) — same as a bare [member] reference
            return self._calc_ref([self.member()])
        if t == "(":
            # '(' is ambiguous: a value TUPLE or a parenthesized
            # sub-expression — try the tuple read first, backtrack to
            # arithmetic on failure (a paren around a lone member ref
            # parses as a 1-tuple: same value either way)
            save = self.i
            try:
                members = self.tuple_()
            except MdxError as tuple_err:
                # not a tuple — try a parenthesized sub-expression;
                # if THAT fails too, surface the tuple error (a typo'd
                # hierarchy inside '(...)' otherwise masks as a
                # misleading "expected ')'" from the arithmetic path)
                self.i = save
                try:
                    self.next()
                    node = self.calc_expr()
                    self.expect(")")
                    return node
                except MdxError:
                    raise tuple_err from None
            # semantic validation must NOT backtrack: a bad value
            # reference is an error, not arithmetic
            return self._calc_ref(members)
        if t.startswith("["):
            return self._calc_ref([self.member()])
        try:
            return _CalcExpr(kind="lit", value=float(self.next()))
        except ValueError:
            raise MdxError(
                f"unexpected {t!r} in calculated-member expression"
            )

    def _calc_ref(self, members: list[_Member]) -> _CalcExpr:
        meas = [m for m in members if m.measure]
        if len(meas) != 1:
            raise MdxError(
                "a calculated-member value reference needs exactly one "
                "measure"
            )
        if meas[0].measure not in _MEASURES:
            raise MdxError(
                "calculated members cannot reference other calculated "
                "members"
            )
        if any(m.enum_col for m in members):
            raise MdxError(
                "calculated-member context members cannot enumerate "
                "(.Children/.Members)"
            )
        hiers = [m.hierarchy for m in members if not m.measure]
        if len(hiers) != len(set(hiers)):
            raise MdxError(
                "a value tuple names one hierarchy twice — a cell has "
                "exactly one member per hierarchy"
            )
        if sum(1 for m in members if m.nav is not None) > 1:
            raise MdxError(
                "at most one navigated member (PrevMember/"
                "ParallelPeriod/PeriodsToDate) per value tuple"
            )
        return _CalcExpr(kind="ref", ref=members)

    def _explicit_set(self, fn: str) -> list[list[_Member]]:
        """An EXPLICIT member-tuple set argument of a set
        aggregation: ``{tuple, ...}`` or a single tuple. Members may
        navigate (``{[T].CurrentMember.Lag(1), [T].CurrentMember}``
        — the moving-window idiom) but cannot enumerate: a
        ``.Children`` set's size exists only in data, which a
        parse-time expansion into per-member value refs cannot
        know — the same boundary as Generate's first argument."""
        def item() -> list[list[_Member]]:
            # a WITH SET reference splices its member tuples in —
            # the axis-brace discipline (ops-carrying sets are
            # definitional, not enumerable member lists)
            ref = self._named_set_ref()
            if ref is not None:
                if ref.ops:
                    raise MdxError(
                        f"{fn}: a named set carrying set functions "
                        "cannot be aggregated — reference the bare "
                        "member list"
                    )
                return [list(tp) for tp in ref.tuples]
            return [self.tuple_()]

        if self.peek() == "{":
            self.next()
            tuples = list(item())
            while self.peek() == ",":
                self.next()
                tuples.extend(item())
            self.expect("}")
        else:
            tuples = list(item())
        for tp in tuples:
            for m in tp:
                if m.measure is not None:
                    raise MdxError(
                        f"{fn}: set members must be dimension "
                        "members, not measures"
                    )
                if m.enum_col:
                    raise MdxError(
                        f"{fn}: set members must be explicit — an "
                        "enumeration's members exist only in data; "
                        "list them, or use PeriodsToDate for "
                        "period accumulation"
                    )
        return tuples

    # Sum/Avg/Min/Max(<set>, <value tuple>) — set aggregations:
    #
    # - ``Sum(PeriodsToDate([Hier].[Level] [, member]), tuple)`` (and
    #   ``Ytd([member])`` sugar for the year level): the
    #   period-to-date accumulation idiom, compiled as a value
    #   reference whose navigated member carries nav=("ptd", li) — a
    #   bounded range join on the typed level paths (Sum only: the
    #   range join bakes the sum in).
    # - an EXPLICIT set (``{tuples}``): expands at parse time into
    #   one value ref per member tuple, combined under Mondrian's
    #   empty-cell algebra (:func:`_nary_col`). Members may navigate
    #   — ``Avg({[T].CurrentMember.Lag(1), [T].CurrentMember},
    #   [Measures].[crimes])`` is the 2-period moving average.
    #
    # Arbitrary DATA-DRIVEN sets (enumerations) stay loud — the same
    # parse-time boundary as Generate's first argument.
    def _calc_setagg(self, op: str) -> _CalcExpr:
        fn = self.next()
        self.expect("(")
        t = (self.peek() or "").lower()
        if t in ("periodstodate", "ytd"):
            if op != "sum":
                raise MdxError(
                    f"{fn} over PeriodsToDate/Ytd is not supported — "
                    "the period-to-date compile bakes SUM into its "
                    "range join; list explicit members instead"
                )
            if t == "periodstodate":
                self.next()
                self.expect("(")
                hier, anc_li = self._nav_level()
                base: _Member | None = None
                if self.peek() == ",":
                    self.next()
                    base = self._nav_member_arg(hier, "PeriodsToDate")
                self.expect(")")
                if base is None:
                    base = self._nav_base(hier, "PeriodsToDate")
            else:
                self.next()
                self.expect("(")
                hier, anc_li = "time", 0
                base = None
                if self.peek() != ")":
                    base = self._nav_member_arg(hier, "Ytd")
                self.expect(")")
                if base is None:
                    base = self._nav_base(hier, "Ytd")
            base.nav = ("ptd", anc_li)
            self.expect(",")
            members = self.tuple_()
            self.expect(")")
            return self._calc_ref(members + [base])
        tuples = self._explicit_set(fn)
        self.expect(",")
        members = self.tuple_()
        self.expect(")")
        refs = [self._calc_ref(members + tp) for tp in tuples]
        return _CalcExpr(kind="nary", op=op, args=refs)

    # Count(<set> [, INCLUDEEMPTY|EXCLUDEEMPTY]) — INCLUDEEMPTY
    # (Mondrian's default) is the set's SIZE, a parse-time literal
    # for explicit sets; EXCLUDEEMPTY counts non-empty cells of the
    # base measure (0 when all are empty — a count, never NULL).
    def _calc_count(self) -> _CalcExpr:
        self.next()
        self.expect("(")
        tuples = self._explicit_set("Count")
        flag = "includeempty"
        if self.peek() == ",":
            self.next()
            flag = self.next().lower()
            if flag not in ("includeempty", "excludeempty"):
                raise MdxError(f"unknown Count flag {flag!r}")
        self.expect(")")
        if flag == "includeempty":
            return _CalcExpr(kind="lit", value=float(len(tuples)))
        meas = _Member(measure="crimes", caption=["crimes"])
        refs = [self._calc_ref([meas] + tp) for tp in tuples]
        return _CalcExpr(kind="nary", op="cnt_ex", args=refs)

    def _named_set_ref(self) -> "_SetExpr | None":
        """Consume a bare ``[name]`` named-set reference if the next
        token is one (a bracketed token NOT followed by '.', naming a
        WITH SET definition); returns a FRESH copy, else None."""
        t = self.peek()
        if (
            t is not None
            and t.startswith("[")
            and t[1:-1].lower() in self.named_sets
            and self.toks[self.i + 1 : self.i + 2] != ["."]
        ):
            self.next()
            se = self.named_sets[t[1:-1].lower()]
            return _SetExpr([list(tp) for tp in se.tuples], list(se.ops))
        return None

    def _brace_item(self) -> list[list["_Member"]]:
        """One ``{ … }`` item: a tuple, or a spliced named set."""
        ref = self._named_set_ref()
        if ref is not None:
            if ref.ops:
                raise MdxError(
                    "a named set carrying set functions cannot be "
                    "spliced inside { } — reference it bare or wrap "
                    "the braces instead"
                )
            return ref.tuples
        return [self.tuple_()]

    # set := [NON EMPTY] ( { tuple, ... } | Crossjoin(set, set)
    #        | Order(set, numexpr [, flag]) | TopCount(set, n [, numexpr])
    #        | Filter(set, numexpr cmp number) | tuple )
    def set_(self) -> _SetExpr:
        t = self.peek()
        if t is not None and t.lower() == "non":
            # NON EMPTY prunes axis members with no data — already the
            # tidy contract (one row per POPULATED cell), so the
            # keyword is accepted and a semantic no-op here
            self.next()
            self.expect("empty")
            return self.set_()
        if t is not None and t.lower() == "crossjoin":
            # Crossjoin(set, set): the cartesian tuple product — what
            # JPivot emits when two hierarchies share an axis
            self.next()
            self.expect("(")
            a = self.set_()
            self.expect(",")
            b = self.set_()
            self.expect(")")
            if a.ops or b.ops:
                raise MdxError(
                    "set functions must wrap Crossjoin, not its inputs"
                )
            return _SetExpr(
                [ta + tb for ta in a.tuples for tb in b.tuples]
            )
        if t is not None and t.lower() == "descendants":
            # Descendants(member, level [, FLAG]) — compiled onto the
            # same level-path machinery as .Children: the member's
            # path equality filters plus enumeration over every level
            # column from the member's depth down to each selected
            # level (enum_path carries the intermediate levels so
            # member identity stays the FULL path — Mondrian
            # semantics; a target one level down is exactly
            # .Children). Round 10: the MIXED-level flags
            # (SELF_AND_BEFORE, AFTER, …) compile as a union of
            # single-level descents — the set representation already
            # holds one tuple per member, so a mixed-level set is
            # just several enumerating members, levels ascending
            # (see _descend).
            self.next()
            self.expect("(")
            mem = self.member()
            if mem.measure is not None:
                raise MdxError("Descendants: first argument must be a "
                               "dimension member, not a measure")
            if mem.enum_col:
                raise MdxError(
                    "Descendants: first argument must be a plain "
                    "member (no .Children/.Members)"
                )
            if self.peek() != ",":
                # one-argument form: the member and ALL its
                # descendants (standard MDX) — the member's own level
                # down to the leaf, the same union-of-levels compile
                # as SELF_BEFORE_AFTER (round 10; through round 9
                # this raised as inexpressible)
                self.expect(")")
                levels = _DIMS[mem.hierarchy]["levels"]
                own = len(mem.filters) - 1
                return _SetExpr(
                    [
                        [_descend_to(mem, levels, li)]
                        for li in range(own, len(levels))
                    ]
                )
            self.next()
            lsegs = self._level_segs()
            flag = "self"
            if self.peek() == ",":
                self.next()
                flag = self.next().lower()
            self.expect(")")
            return _SetExpr([[m] for m in _descend(mem, lsegs, flag)])
        if t is not None and t.lower() == "generate":
            # Generate(set1, set2[, ALL]) — evaluate set2 once per
            # set1 tuple with each hierarchy's CurrentMember bound to
            # that tuple's member, union the results (duplicates
            # removed by DEFINITION unless ALL — the Union
            # discipline). Compiled at parse time by re-parsing set2's
            # tokens per iteration with the binding installed, so the
            # whole existing member/set grammar (.Children,
            # Descendants, unique-name paths) works under
            # CurrentMember for free. The first argument must be
            # explicit members: an ENUMERATION's members exist only in
            # data, which a parse-time compile cannot bind — loud,
            # not silent (the same boundary as Except's enumerated
            # second argument).
            self.next()
            self.expect("(")
            a = self.set_()
            if a.ops:
                raise MdxError(
                    "set functions must wrap Generate, not its inputs"
                )
            if not a.tuples:
                # e.g. Except(x, x) compiled the first argument to
                # nothing — standard MDX yields the empty set, which
                # this engine's axes do not express; without this
                # check the iteration below never consumes set2's
                # tokens and the query dies on a misleading
                # "expected ')'" (round-10 review)
                raise MdxError(
                    "Generate: first argument is an EMPTY set — "
                    "nothing to iterate; the result would be the "
                    "empty set"
                )
            for tp in a.tuples:
                for m in tp:
                    if m.measure is not None:
                        raise MdxError(
                            "Generate: first argument must be "
                            "dimension members, not measures"
                        )
                    if m.nav is not None or m.current:
                        raise MdxError(
                            "Generate: first-argument members cannot "
                            "use CurrentMember/PrevMember navigation "
                            "— the iteration binding would silently "
                            "drop it"
                        )
                    if m.enum_col:
                        raise MdxError(
                            "Generate: an enumerated first argument "
                            "(.Children/.Members/Descendants) "
                            "iterates data members, which a "
                            "parse-time compile cannot bind to "
                            "CurrentMember — list explicit members "
                            "instead"
                        )
            self.expect(",")
            start = self.i
            prev = self._current
            outs: list[list[_Member]] = []
            for tp in a.tuples:
                self.i = start
                self._current = {
                    **prev,
                    **{m.hierarchy: m for m in tp},
                }
                try:
                    b = self.set_()
                finally:
                    self._current = prev
                if b.ops:
                    raise MdxError(
                        "set functions must wrap Generate, not its "
                        "inputs"
                    )
                outs.extend(b.tuples)
            allflag = False
            if self.peek() == ",":
                self.next()
                f = self.next().lower()
                if f != "all":
                    raise MdxError(f"unknown Generate flag {f!r}")
                allflag = True
            self.expect(")")
            if not allflag:
                seen, dedup = set(), []
                for tp in outs:
                    key = _tuple_def_key(tp)
                    if key not in seen:
                        seen.add(key)
                        dedup.append(tp)
                outs = dedup
            return _SetExpr(outs)
        if t is not None and t.lower() == "union":
            # Union(a, b[, ALL]) — the combiner JPivot wraps a drill's
            # parent and children in (usually inside Hierarchize).
            # Duplicate DEFINITIONS are removed (Mondrian removes
            # duplicate members; a drill union's sides are disjoint by
            # construction, and identical definitions are the only
            # duplicates expressible at parse time — an enumeration
            # overlapping an explicit member of the same level is kept
            # as Mondrian's ALL variant would). ALL keeps everything.
            self.next()
            self.expect("(")
            a = self.set_()
            self.expect(",")
            b = self.set_()
            allflag = False
            if self.peek() == ",":
                self.next()
                f = self.next().lower()
                if f != "all":
                    raise MdxError(f"unknown Union flag {f!r}")
                allflag = True
            self.expect(")")
            if a.ops or b.ops:
                raise MdxError(
                    "set functions must wrap Union, not its inputs"
                )
            tuples = a.tuples + b.tuples
            if not allflag:
                seen, out = set(), []
                for tp in tuples:
                    key = _tuple_def_key(tp)
                    if key not in seen:
                        seen.add(key)
                        out.append(tp)
                tuples = out
            return _SetExpr(tuples)
        if t is not None and t.lower() == "except":
            # Except(a, b[, ALL]) — Union's subtractive mirror (the
            # JPivot "hide this member" action shape). Two halves:
            # a tuple of b whose DEFINITION appears in a subtracts at
            # parse time (ALL keeps a's duplicate definitions,
            # mirroring Union); a b-tuple NOT definition-matched must
            # be fully explicit (static caption) and becomes a
            # data-level membership op dropping that caption from a's
            # enumerations — an enumerated b (".Children"/".Members")
            # that didn't match raises rather than silently removing
            # nothing.
            self.next()
            self.expect("(")
            a = self.set_()
            self.expect(",")
            b = self.set_()
            allflag = False
            if self.peek() == ",":
                self.next()
                f = self.next().lower()
                if f != "all":
                    raise MdxError(f"unknown Except flag {f!r}")
                allflag = True
            self.expect(")")
            if a.ops or b.ops:
                raise MdxError(
                    "set functions must wrap Except, not its inputs"
                )
            akeys = {_tuple_def_key(tp) for tp in a.tuples}
            # standard MDX rejects a dimensionality mismatch between
            # Except's arguments at parse time; without this check a
            # b-tuple over the wrong hierarchies (or wrong arity)
            # falls through to caption matching, never matches any
            # axis member, and silently removes nothing
            dims = lambda tp: tuple(m.hierarchy or "Measures" for m in tp)
            adims = {dims(tp) for tp in a.tuples}
            drop, captions = set(), []
            for tp in b.tuples:
                key = _tuple_def_key(tp)
                if key in akeys:
                    drop.add(key)
                    continue
                if dims(tp) not in adims:
                    raise MdxError(
                        f"Except: second-argument tuple over "
                        f"{dims(tp)} does not match the first "
                        f"argument's dimensionality "
                        f"{sorted(adims)} — standard MDX rejects "
                        "the mismatch at parse time"
                    )
                if any(m.enum_col for m in tp):
                    raise MdxError(
                        "Except: an enumerated second argument must "
                        "match a definition in the first (explicit "
                        "members subtract by caption instead)"
                    )
                # NOTE: a caption over the RIGHT hierarchy that names
                # no axis member is Mondrian's Except semantics — b
                # members absent from a subtract nothing (kept silent
                # deliberately; only the dimensionality mismatch above
                # is a query error)
                captions.append(
                    ", ".join(c for m in tp for c in m.caption) or "(all)"
                )
            seen, out = set(), []
            for tp in a.tuples:
                key = _tuple_def_key(tp)
                if key in drop:
                    continue
                if not allflag:
                    if key in seen:
                        continue
                    seen.add(key)
                out.append(tp)
            res = _SetExpr(out)
            if captions:
                res.ops.append(_SetOp(kind="except", captions=captions))
            return res
        if t is not None and t.lower() == "hierarchize":
            # Hierarchize(set [, POST]) — JPivot emits this around the
            # union of a drill's parent and children: members sort
            # into hierarchy order (parents immediately before their
            # children, siblings in the level's native order; POST
            # flips parents AFTER their subtree). Compiled as an
            # ordinal-attaching op like Order, keyed on the members'
            # typed level paths, not on any measure.
            self.next()
            self.expect("(")
            inner = self.set_()
            flag = "pre"
            if self.peek() == ",":
                self.next()
                f = self.next().lower()
                if f != "post":
                    raise MdxError(f"unknown Hierarchize flag {f!r}")
                flag = "post"
            self.expect(")")
            inner.ops.append(_SetOp(kind="hierarchize", flag=flag))
            return inner
        if t is not None and t.lower() == "order":
            self.next()
            self.expect("(")
            inner = self.set_()
            self.expect(",")
            expr = self.numexpr()
            flag = "asc"
            if self.peek() == ",":
                self.next()
                f = self.next().lower()
                if f not in ("asc", "desc", "basc", "bdesc"):
                    raise MdxError(f"unknown Order flag {f!r}")
                flag = f
            self.expect(")")
            inner.ops.append(_SetOp(kind="order", expr=expr, flag=flag))
            return inner
        if t is not None and t.lower() in ("topcount", "bottomcount"):
            fn = self.next().lower()
            self.expect("(")
            inner = self.set_()
            self.expect(",")
            n = self.number()
            if n != int(n) or n < 1:
                raise MdxError(
                    f"{fn} count must be a positive int, got {n}"
                )
            expr: list[_Member] | None = None
            if self.peek() == ",":
                self.next()
                expr = self.numexpr()
            self.expect(")")
            inner.ops.append(_SetOp(kind=fn, expr=expr or [], count=int(n)))
            return inner
        if t is not None and t.lower() == "filter":
            self.next()
            self.expect("(")
            inner = self.set_()
            self.expect(",")
            expr = self.numexpr()
            cmp = self.next()
            if cmp not in _CMPS:
                raise MdxError(f"unknown comparison {cmp!r}")
            value = self.number()
            self.expect(")")
            inner.ops.append(
                _SetOp(kind="filter", expr=expr, cmp=cmp, value=value)
            )
            return inner
        if t == "{":
            # brace items are tuples OR named-set references — JPivot
            # freely writes {[S]} and {[S1], [S2], [District].[x]}
            # (Mondrian splices the set's members in place)
            self.next()
            tuples = list(self._brace_item())
            while self.peek() == ",":
                self.next()
                tuples.extend(self._brace_item())
            self.expect("}")
            return _SetExpr(tuples)
        # WITH SET reference (round 8): substitute the parsed set.
        # A FRESH copy each time — callers append wrapping ops
        # (Order(...) around a named set must not mutate the
        # definition another axis also references). A bracketed
        # token followed by '.' stays a member path: named sets
        # have no levels to descend into.
        ref = self._named_set_ref()
        if ref is not None:
            return ref
        return _SetExpr([self.tuple_()])


def _resolve(segs: list[str], suffix: str | None) -> _Member:
    head = segs[0].lower()
    if head == "measures":
        if len(segs) != 2 or segs[1].lower() not in _MEASURES or suffix:
            raise MdxError(f"unknown measure {segs!r}")
        return _Member(measure=segs[1].lower(), caption=[segs[1].lower()])
    if head not in _DIMS:
        raise MdxError(f"unknown hierarchy [{segs[0]}]")
    dim = _DIMS[head]
    levels = dim["levels"]
    path = segs[1:]
    m = _Member(hierarchy=head, segs=tuple(segs))
    li = 0
    if dim["all"] is not None:
        # an explicit leading all-member is a no-op filter; its caption
        # names the cell only when it IS the member — children and
        # deeper unique-name paths ([Dim].[All X].[member]) don't
        # inherit it (Mondrian unique names root below All)
        if path and path[0] == dim["all"]:
            if suffix is None and len(path) == 1:
                m.caption.append(path[0])
            path = path[1:]
        elif not path and suffix is None:
            raise MdxError(f"[{segs[0]}] needs a member or .Members")
    elif not path and suffix is None:
        # hasAll="false" hierarchies ([Time]) have no all-member to
        # fall back to — a bare hierarchy reference is not a member
        raise MdxError(f"[{segs[0]}] has no All member; name a member or use .Members")
    for seg in path:
        if li >= len(levels):
            raise MdxError(f"member path too deep for [{segs[0]}]: {segs!r}")
        _, col = levels[li]
        val: object = seg
        if head == "time":
            try:
                val = int(seg)
            except ValueError:
                raise MdxError(f"[Time] members are numeric, got {seg!r}")
        m.filters.append((col, val))
        m.caption.append(seg)
        li += 1
    if suffix is not None:  # Children / Members → enumerate next level
        if suffix == "members" and li > 0:
            raise MdxError(".Members applies to a hierarchy, not a member")
        if li >= len(levels):
            raise MdxError(f".{suffix} below the leaf level of [{segs[0]}]")
        m.enum_col = levels[li][1]
    return m


def _descend_to(mem: _Member, levels, li: int) -> _Member:
    """A FRESH copy of ``mem`` enumerating level index ``li`` of its
    hierarchy (``li`` == the member's own index → the member itself,
    SELF): every level column from the member's depth to the target
    (intermediates in ``enum_path``, target in ``enum_col``). Copies,
    never mutates — the mixed-level flags build several descents of
    ONE parsed member (round 10)."""
    own = len(mem.filters) - 1
    m2 = _Member(
        filters=list(mem.filters),
        caption=list(mem.caption),
        hierarchy=mem.hierarchy,
        segs=mem.segs,
    )
    if li == own:
        return m2
    if not m2.filters:
        m2.caption = []  # enumerating from under the All member
    m2.enum_path = tuple(levels[i][1] for i in range(own + 1, li))
    m2.enum_col = levels[li][1]
    return m2


def _descend(
    mem: _Member, level_segs: list[str], flag: str = "self"
) -> list[_Member]:
    """Resolve ``Descendants(mem, [Hier].[Level] [, FLAG])`` into the
    list of enumerating members — ONE per level the flag selects,
    each a :func:`_descend_to` descent of ``mem`` (the engine's set
    representation holds mixed-level sets as multiple tuples, so
    every standard flag compiles to a union of single-level
    descents, levels ascending — the Hierarchize-ready order):

    - SELF (default): the target level only; at the member's own
      depth that is the member itself;
    - BEFORE: the member's level down to just ABOVE the target
      (standard MDX includes the member itself and excludes the
      named level — so BEFORE at the member's own level selects
      nothing and raises the empty-set error);
    - SELF_AND_BEFORE: the member's level down to the target;
    - AFTER: every level strictly BELOW the target;
    - SELF_AND_AFTER: the target and every level below;
    - SELF_BEFORE_AFTER: the member's level down to the leaf;
    - LEAVES: the hierarchy's leaf level (this cube's hierarchies
      are balanced, so leaves = the deepest level).

    The level must belong to the member's own hierarchy and sit at or
    below the member's depth; a flag selecting no levels (AFTER at
    the leaf) raises loudly rather than yielding a silent empty
    axis."""
    if len(level_segs) != 2:
        raise MdxError(
            f"Descendants level must be [Hierarchy].[Level], got "
            f"{level_segs!r}"
        )
    hier, lname = level_segs[0].lower(), level_segs[1].lower()
    if hier not in _DIMS:
        raise MdxError(f"unknown hierarchy [{level_segs[0]}]")
    if hier != mem.hierarchy:
        raise MdxError(
            f"Descendants: level hierarchy [{level_segs[0]}] does not "
            f"match the member's hierarchy [{mem.hierarchy}]"
        )
    levels = _DIMS[hier]["levels"]
    names = [ln.lower() for ln, _ in levels]
    if lname not in names:
        raise MdxError(
            f"unknown level [{level_segs[1]}] on [{level_segs[0]}] "
            f"(levels: {', '.join(ln for ln, _ in levels)})"
        )
    lj = names.index(lname)
    # a member with N path filters sits AT level index N-1; its
    # children live at index N. The All member (no filters, hasAll
    # hierarchy) sits at index -1 — every real level is below it, and
    # its all-caption must not prefix the enumerated labels (Mondrian
    # captions members by their own name — same as .Children).
    own = len(mem.filters) - 1
    if lj < own:
        raise MdxError(
            f"Descendants: level [{level_segs[1]}] is ABOVE the "
            f"member's level — the descendant set there is empty; "
            "use Ancestors semantics explicitly if that was meant"
        )
    leaf = len(levels) - 1
    sel = {
        "self": range(lj, lj + 1),
        # BEFORE excludes the named level (standard MDX), so at the
        # member's own level it selects nothing and the empty-set
        # check below fires — the round-10 review caught the earlier
        # clamp silently returning the member there
        "before": range(own, lj),
        "self_and_before": range(own, lj + 1),
        "after": range(lj + 1, leaf + 1),
        "self_and_after": range(lj, leaf + 1),
        "self_before_after": range(own, leaf + 1),
        "leaves": range(leaf, leaf + 1),
    }.get(flag)
    if sel is None:
        raise MdxError(
            f"Descendants flag {flag.upper()!r} not supported "
            "(SELF, BEFORE, SELF_AND_BEFORE, AFTER, SELF_AND_AFTER, "
            "SELF_BEFORE_AFTER, LEAVES)"
        )
    if not len(sel):
        raise MdxError(
            f"Descendants: flag {flag.upper()} at level "
            f"[{level_segs[1]}] selects no levels (nothing below the "
            "leaf) — the set is empty"
        )
    return [_descend_to(mem, levels, li) for li in sel]


@dataclass
class MdxQuery:
    columns: list[list[_Member]]
    rows: list[list[_Member]]
    cube: str
    slicer: list[_Member]
    #: per-axis set functions (Order/TopCount/Filter), innermost
    #: first — the JPivot grid sorts/filters either axis (round 7
    #: lifted the former ROWS-only restriction).
    row_ops: list[_SetOp] = field(default_factory=list)
    col_ops: list[_SetOp] = field(default_factory=list)
    #: WITH MEMBER calculated measures: lowercase name → expression
    #: AST. Query-scoped, like Mondrian's.
    calc: dict[str, _CalcExpr] = field(default_factory=dict)


def parse_mdx(text: str) -> MdxQuery:
    p = _Parser(_tokenize(text))
    calc: dict[str, _CalcExpr] = {}
    named_sets: dict[str, _SetExpr] = {}
    if (p.peek() or "").lower() == "with":
        # WITH { MEMBER [Measures].[name] AS '<arith>' [, PROP = lit]...
        #      | SET [name] AS '<set>' }+
        # (repeatable, a separating comma before the next definition is
        # tolerated). Mondrian/JPivot quote the bodies; properties
        # like FORMAT_STRING are client formatting — accepted, ignored.
        # A named set's body is a full axis-set expression (tuples,
        # braces, Crossjoin, Order/TopCount/Filter) parsed ONCE here
        # and substituted wherever an axis references [name].
        p.next()
        while (p.peek() or "").lower() in ("member", "set"):
            kw = p.next().lower()
            if kw == "set":
                seg = p.next()
                if not seg.startswith("["):
                    raise MdxError(
                        f"expected a [name] after SET, got {seg!r}"
                    )
                sname = seg[1:-1].lower()
                if sname in named_sets:
                    raise MdxError(
                        f"named set [{seg[1:-1]}] defined twice"
                    )
                p.expect("as")
                body = p.next()
                if not (body.startswith("'") or body.startswith('"')):
                    raise MdxError(
                        "WITH SET expression must be quoted: AS '<set>'"
                    )
                quote = body[0]
                sub = _Parser(
                    _tokenize(body[1:-1].replace(quote * 2, quote))
                )
                sub.calc_names = set(calc)
                sub.named_sets = dict(named_sets)  # earlier sets usable
                se = sub.set_()
                if sub.peek() is not None:
                    raise MdxError(
                        f"trailing tokens in named set: {sub.peek()!r}"
                    )
                named_sets[sname] = se
                if p.peek() == ",":
                    nxt = (p.toks[p.i + 1 : p.i + 2] or [""])[0].lower()
                    if nxt in ("member", "set"):
                        p.next()  # comma-separated next definition
                continue
            seg0 = p.next()
            if not seg0.startswith("[") or seg0[1:-1].lower() != "measures":
                raise MdxError(
                    "WITH MEMBER supports [Measures].[...] members only"
                )
            p.expect(".")
            seg1 = p.next()
            if not seg1.startswith("["):
                raise MdxError(
                    f"expected a [name] after [Measures]., got {seg1!r}"
                )
            name = seg1[1:-1].lower()
            if name in _MEASURES or name in calc:
                raise MdxError(
                    f"calculated member [{seg1[1:-1]}] redefines an "
                    "existing measure"
                )
            p.expect("as")
            body = p.next()
            if not (body.startswith("'") or body.startswith('"')):
                raise MdxError(
                    "WITH MEMBER expression must be quoted: AS '<expr>'"
                )
            quote = body[0]
            sub = _Parser(_tokenize(body[1:-1].replace(quote * 2, quote)))
            sub.calc_names = set(calc)  # refs to earlier defs raise loudly
            # earlier WITH SET member lists splice into this body's
            # set aggregations (Sum([myset], ...) — round 11)
            sub.named_sets = dict(named_sets)
            # WITH MEMBER bodies may bind the cell's CurrentMember
            # (PrevMember/ParallelPeriod/PeriodsToDate — round 11);
            # named sets and axes deliberately may not
            sub.allow_cell_current = True
            expr = sub.calc_expr()
            if sub.peek() is not None:
                raise MdxError(
                    f"trailing tokens in calculated member: {sub.peek()!r}"
                )
            while p.peek() == ",":
                p.next()
                nxt = p.peek() or ""
                if nxt.lower() in ("member", "set"):
                    break  # comma-separated next definition
                prop = p.next()
                if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", prop):
                    raise MdxError(f"expected a property name, got {prop!r}")
                p.expect("=")
                p.next()  # property value — formatting, ignored
            calc[name] = expr
        if not calc and not named_sets:
            raise MdxError(
                "WITH requires at least one MEMBER or SET definition"
            )
    p.calc_names = set(calc)
    p.named_sets = named_sets
    p.expect("select")
    first_set = p.set_()
    p.expect("on")
    first_axis = p.next().lower()
    p.expect(",")
    second_set = p.set_()
    p.expect("on")
    second_axis = p.next().lower()
    axes = {first_axis: first_set, second_axis: second_set}
    if set(axes) != {"columns", "rows"}:
        raise MdxError(f"axes must be COLUMNS and ROWS, got {sorted(axes)}")
    p.expect("from")
    cube = p.next()
    if not cube.startswith("["):
        raise MdxError(f"expected [cube], got {cube!r}")
    cube = cube[1:-1]
    if cube.lower() != "sfcrime":
        raise MdxError(f"unknown cube [{cube}]")
    slicer: list[_Member] = []
    if p.peek() and p.peek().lower() == "where":
        p.next()
        slicer = p.tuple_()
        for mem in slicer:
            if mem.enum_col:
                raise MdxError("slicer members cannot enumerate (.Children)")
    if p.peek() is not None:
        raise MdxError(f"trailing tokens at {p.peek()!r}")
    # navigation (PrevMember/ParallelPeriod/CurrentMember markers) is
    # a calculated-member construct: an axis or slicer member built
    # from it has no static definition for set algebra / captions
    for tp in axes["columns"].tuples + axes["rows"].tuples + [slicer]:
        for m in tp:
            if m.nav is not None or m.current:
                raise MdxError(
                    "CurrentMember/PrevMember/ParallelPeriod "
                    "navigation is only supported inside WITH MEMBER "
                    "value expressions, not on axes or slicers"
                )
    return MdxQuery(
        axes["columns"].tuples,
        axes["rows"].tuples,
        cube,
        slicer,
        row_ops=axes["rows"].ops,
        col_ops=axes["columns"].ops,
        calc=calc,
    )


def _axis_label(tup: list[_Member]):
    """Column expression for one axis tuple's caption: static parts as
    literals, enumerated members as their group-column value."""
    parts = []
    for mem in tup:
        parts.extend(F.lit(c) for c in mem.caption)
        for c in _enum_cols(mem):
            parts.append(F.col(c).cast("string"))
    return F.concat_ws(", ", *parts) if parts else F.lit("(all)")


def _hier_key_frame(own: list[list[_Member]], base: DataFrame, post: bool):
    """caption → hierarchy sort key for every member an axis's tuples
    can produce — the Hierarchize() ordering, computed from the axis
    DEFINITION (no measure context).

    Key construction: an ``array<string>`` of path parts — per tuple
    member, a 2-digit hierarchy rank (Mondrian orders mixed-dimension
    sets dimension by dimension) followed by the member's level-path
    values — numerics zero-padded to 12 so string order equals numeric
    order (months 10..11 would otherwise sort before 2), name levels
    raw. Spark orders arrays element-wise with shorter-prefix-first,
    which IS pre-order: a parent's part list is a strict prefix of its
    children's (parent first), and siblings compare on their own final
    part (native level order — including captions that are string
    prefixes of each other, and non-ASCII captions; two earlier
    single-string encodings failed exactly those: a terminator byte
    broke NATION_1/NATION_10 sibling order, and a ``\\x7f`` depth
    sentinel sorted before UTF-8 lead bytes ≥ 0x80). POST appends a
    max-codepoint sentinel ELEMENT (``\\U0010FFFF``) to every key: the
    parent's sentinel compares against its children's next real part
    and loses to none, placing the parent AFTER its whole subtree but
    before the next sibling's (degenerate exception: a caption whose
    first character is U+10FFFF — not a practical level value).
    Enumerating tuples derive their member values from the level
    columns of ``base`` under the tuple's own path filters (dimension
    universe, axis-member-sized); static tuples need no scan at
    all."""
    spark = base.sparkSession
    dtypes = dict(base.dtypes)
    ranks = {h: i for i, h in enumerate(_DIMS)}
    frames = []
    for tup in own:
        parts = []
        for mem in tup:
            if mem.measure:
                continue
            parts.append(F.lit(f"{ranks.get(mem.hierarchy, 99):02d}"))
            for c, v in mem.filters:
                parts.append(
                    F.lit(f"{v:012d}" if isinstance(v, int) else str(v))
                )
            for ec in _enum_cols(mem):
                col = F.col(ec).cast("string")
                if dtypes.get(ec) in (
                    "int", "bigint", "smallint", "tinyint",
                ):
                    col = F.lpad(col, 12, "0")
                parts.append(col)
        if not parts:
            # measure-only tuple: the Measures "hierarchy" orders
            # AFTER every cube dimension (rank 99 > the 2-digit
            # dimension ranks), in BOTH modes — pinned policy; a bare
            # empty part would sort measures FIRST ('' < '00'), which
            # the second review caught as an unflagged flip of the
            # old encoding's measure-last behavior
            parts = [F.lit("99")]
        if post:
            parts = parts + [F.lit("\U0010ffff")]
        key = F.array(*[p.cast("string") for p in parts])
        enum_cols = [c for m in tup for c in _enum_cols(m)]
        if enum_cols:
            src = base
            for c, v in ((c, v) for m in tup for c, v in m.filters):
                src = src.filter(F.col(c) == v)
            fr = (
                src.select(*enum_cols)
                .distinct()
                .select(_axis_label(tup).alias("_m"), key.alias("_hkey"))
            )
        else:
            fr = spark.range(1).select(
                _axis_label(tup).alias("_m"), key.alias("_hkey")
            )
        frames.append(fr)
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    # a caption reachable from two tuples keeps one deterministic key
    return out.groupBy("_m").agg(F.min("_hkey").alias("_hkey"))


def mdx_cells_many(
    star: DataFrame,
    tagged: list[tuple[str, MdxQuery]],
    time_default: tuple[int, ...] | None = None,
) -> DataFrame:
    """Evaluate SEVERAL parsed MDX queries in one compilation against
    the wide star frame (columns: crimes, category, district, year,
    month, week, day). Returns tidy cells ``(tag, row_member,
    col_member, crimes)``.

    Mondrian semantics for hierarchies absent from every axis and the
    slicer: they evaluate at their DEFAULT member. For District and
    Category that is the All member (no filter); for the
    hasAll="false" [Time] hierarchy the cube pins
    ``defaultMember="[Time].[2013].[1].[1]"`` (sfcrime.xml:19), so a
    query that never names [Time] is implicitly sliced to that
    (year, month, week) prefix — NOT aggregated over all time.
    ``time_default`` overrides the member path (cube data, not
    grammar); None uses :data:`TIME_DEFAULT_MEMBER`.

    Compilation shape (why this beats one-aggregation-per-cell):

    - Every SCALAR cell (no ``.Children``/``.Members`` enumeration) —
      across ALL queries in the batch — compiles into a single
      conditional aggregation ``sum(when(cell_condition, crimes))``
      per cell, then unpivots: a JPivot grid of N×M point members, or
      a batch of reference queries, costs ONE 2-stage job instead of
      N×M (each global agg is its own 2-stage job with a ~0.15 s
      scheduling floor — the dominant cost of the unioned-subtree
      form). A never-matched condition sums to NULL and is dropped —
      the same empty-cell contract as the grouped branch.
    - Each ENUMERATING pair stays its own groupBy. When a batch has
      ≥ :data:`MDX_LEAF_MIN_PAIRS` such pairs, they all aggregate a
      once-computed leaf pre-aggregate (every level column, Mondrian's
      cell-cache idea) instead of rescanning the fact — sum is
      reassociative and member filters only reference level columns,
      so the results are identical; below the threshold, or when the
      star is one partition, the star is aggregated directly, since
      the leaf's extra shuffle costs more than it saves (measured
      +0.7 s per olap_rollups rep at sf0.1 when applied
      unconditionally)."""
    compiled = []  # (tag, query, implicit_filters)
    for tag, query in tagged:
        implicit: list[tuple[str, object]] = []
        mentions_time = any(
            m.hierarchy == "time"
            for tup in query.columns + query.rows + [query.slicer]
            for m in tup
        )
        if not mentions_time:
            path = TIME_DEFAULT_MEMBER if time_default is None else time_default
            implicit = [
                (col, int(v))
                for (_, col), v in zip(_DIMS["time"]["levels"], path)
            ]
        compiled.append((tag, query, implicit))

    all_pairs = [
        (tag, query, ctup, rtup, implicit)
        for tag, query, implicit in compiled
        for ctup in query.columns
        for rtup in query.rows
    ]
    n_enum_pairs = sum(
        1
        for _, _, ctup, rtup, _ in all_pairs
        if any(m.enum_col for m in ctup + rtup)
    )

    def _pair_measure(query, ctup, rtup) -> str:
        meas = [m.measure for m in ctup + rtup if m.measure]
        if len(meas) > 1:
            raise MdxError("one measure per cell tuple")
        return meas[0] if meas else "crimes"

    # a batch containing ANY calculated cell returns crimes as double
    # (cell arithmetic); pure-base batches keep the exact long sums —
    # decided up front so the union never relies on implicit widening
    calc_present = any(
        _pair_measure(q, c, r) in q.calc for _, q, c, r, _ in all_pairs
    )
    base = star
    if n_enum_pairs >= MDX_LEAF_MIN_PAIRS and not is_single_partition(star):
        level_cols = [
            col for dim in _DIMS.values() for (_, col) in dim["levels"]
        ]
        base = plan_cache(
            star.groupBy(*level_cols).agg(F.sum("crimes").alias("crimes"))
        )

    out = None
    scalar_conds: list = []  # conditional-agg conditions, one per _c{i}
    scalar_cells = []  # (tag, ctup, rtup, value_builder)
    # identical enumerating pairs across tags (e.g. a sorted and a
    # top-N query over the same drill set — the JPivot grid emits the
    # same cell set under different set functions) share ONE grouped
    # aggregate: the later tag re-selects the memoized frame, and the
    # physical plan reuses the aggregate's exchange (ReusedExchange)
    # instead of aggregating the star once per tag. Calculated-member
    # value references ride the same memo (a bare [Measures].[crimes]
    # leaf IS the cell's own grouped frame — one aggregate, not two).
    agg_memo: dict[tuple, "DataFrame"] = {}

    def _cond(filt):
        cond = F.lit(True)
        for col, val in filt:
            cond = cond & (F.col(col) == val)
        return cond

    # slots memoized on the filter set (round 8): a context shared by
    # many scalar calc cells (e.g. one all-district denominator under
    # N share cells) registers ONE conditional-agg column, the same
    # dedup discipline as the grouped path's agg_memo
    scalar_slot_memo: dict[tuple, int] = {}

    def _scalar_slot(filt) -> int:
        key = tuple(sorted(filt))
        got = scalar_slot_memo.get(key)
        if got is None:
            scalar_conds.append(_cond(filt))
            got = scalar_slot_memo[key] = len(scalar_conds) - 1
        return got

    def _grouped(filt, group_cols) -> DataFrame:
        key = (tuple(sorted(filt)), tuple(group_cols))
        got = agg_memo.get(key)
        if got is None:
            df = base
            for col, val in filt:
                df = df.filter(F.col(col) == val)
            got = agg_memo[key] = df.groupBy(*group_cols).agg(
                F.sum("crimes").alias("crimes")
            )
        return got

    def _leaf_ctx(cell_filt, ref):
        """Mondrian tuple-override: a context member in a value
        reference replaces the CELL's filters for its hierarchy (all
        levels — the implicit [Time] default included) with its own.
        Pure ``[Hier].CurrentMember`` members (no navigation) are the
        cell's own member — no override; navigated members are
        excluded here and handled by the nav join machinery
        (_calc_grouped round 11)."""
        ctx = [
            m
            for m in ref
            if not m.measure and m.nav is None and not m.current
        ]
        overridden = {m.hierarchy for m in ctx}
        kept = [
            (c, v) for (c, v) in cell_filt if _COL2HIER[c] not in overridden
        ]
        extra = [(c, v) for m in ctx for (c, v) in m.filters]
        return kept + extra, overridden

    _ARITH = {
        "+": lambda a, b: a + b,
        "-": lambda a, b: a - b,
        "*": lambda a, b: a * b,
        "/": lambda a, b: a / b,
    }

    def _calc_scalar(ast, cell_filt):
        """Register each value reference as one more conditional-agg
        slot of the single scalar pass; return a builder producing the
        arithmetic column over the slot columns."""
        if ast.kind == "lit":
            v = ast.value
            return lambda: F.lit(v)
        if ast.kind == "ref":
            filt, _ = _leaf_ctx(cell_filt, ast.ref)
            i = _scalar_slot(filt)
            return lambda: F.col(f"_c{i}")
        if ast.kind == "nary":
            subs = [_calc_scalar(a, cell_filt) for a in ast.args]
            nop = ast.op
            return lambda: _nary_col(nop, [b() for b in subs])
        if ast.kind == "iif":
            built = {
                id(a): _calc_scalar(a, cell_filt)
                for a in [ast.left, ast.right, *ast.args]
                if a is not None
            }
            return lambda: _iif_col(ast, lambda n: built[id(n)]())
        lf = _calc_scalar(ast.left, cell_filt)
        rf = _calc_scalar(ast.right, cell_filt)
        op = _ARITH[ast.op]
        return lambda: op(lf(), rf())

    def _hier_binding(H, cell_filt, group_cols):
        """The evaluation cell's member of hierarchy ``H`` as
        (static level pairs in level order, enumerated level columns
        in level order, depth). The bound columns must be a clean
        level PREFIX — guaranteed by construction (a member's filters
        fill levels from the top; enumeration continues below)."""
        hcols = [c for _, c in _DIMS[H]["levels"]]
        sdict = dict((c, v) for (c, v) in cell_filt if c in hcols)
        enum_in = set(g for g in group_cols if g in hcols)
        static_ord = [(c, sdict[c]) for c in hcols if c in sdict]
        enum_ord = [c for c in hcols if c in enum_in]
        d = len(static_ord) + len(enum_ord)
        bound = [c for c, _ in static_ord] + enum_ord
        if bound != hcols[:d]:  # pragma: no cover - structural guard
            raise MdxError(
                f"cell context binds [{H}] levels out of prefix "
                f"order: {bound!r}"
            )
        return static_ord, enum_ord, d

    def _calc_grouped(ast, cell_filt, enum_filt, group_cols) -> DataFrame:
        """Evaluate a calculated cell per enumerated axis member.
        The member spine is the DIMENSION universe under the
        enumerating members' own path filters — NOT the base
        measure's populated groups under the full cell context
        (round-7 review: a calc value can be non-empty for a member
        the base measure leaves empty there, e.g. an expression whose
        context members override the implicit [Time] default —
        Mondrian keeps such members; the scalar path already did, via
        its bare isNotNull). NON EMPTY pruning happens on the CALC
        value: the caller drops null cells. Each value reference
        joins back as its own (memoized) aggregate, grouped only by
        the enum columns its context does NOT override (an overridden
        enumeration is a constant across that axis — a 1-row
        broadcast). All frames are axis-member-sized.

        NAVIGATED references (round 11 — PrevMember / ParallelPeriod
        / PeriodsToDate) resolve per cell as DATA-level joins on the
        typed level paths:

        - ``("lag", n)``: the level universe (``base`` distinct over
          the member's level columns — dimension-sized) ordered by
          the full cross-parent path, each path column lagged n in
          ONE global window ([2013].[0].PrevMember finds
          [2012].[11]); the cell's member looks its navigated path
          up and the value aggregate joins on that path. A lag off
          the data's edge yields NULL → an empty cell, Mondrian's
          NULL-member semantics.
        - ``("parallel", anc_li, n)``: the ancestor level's universe
          lagged n the same way; the member's own lower-level values
          descend under the lagged ancestor (value-based descent —
          see _parallelperiod). A composed member absent from the
          data finds no aggregate row → empty cell.
        - ``("ptd", anc_li)``: no lag — the value is the measure
          summed over every member at the cell member's level whose
          ancestor path equals the cell's and whose sub-path is ≤
          the cell's (struct comparison on the typed levels): the
          period-to-date running total, computed as a broadcast
          range join + re-aggregation, all frames axis- or
          dimension-sized.

        The spine carries a constant ``_j`` key only when navigation
        is present, so non-navigated queries keep their round-7
        plans byte-identical."""
        from pyspark.sql import Window

        spine = _grouped(enum_filt, group_cols).select(*group_cols)
        leaves: list[_CalcExpr] = []

        def walk(n):
            if n.kind == "ref":
                leaves.append(n)
            elif n.kind == "bin":
                walk(n.left)
                walk(n.right)
            elif n.kind == "nary":
                for a in n.args:
                    walk(a)
            elif n.kind == "iif":
                for a in [n.left, n.right, *n.args]:
                    if a is not None:
                        walk(a)

        walk(ast)
        nav_present = any(
            m.nav is not None for lf in leaves for m in (lf.ref or [])
        )
        cur = spine.withColumn("_j", F.lit(1)) if nav_present else spine
        names: dict[int, str] = {}
        for j, leaf in enumerate(leaves):
            filt, overridden = _leaf_ctx(cell_filt, leaf.ref)
            nav_ms = [m for m in leaf.ref if m.nav is not None]
            if not nav_ms:
                lg = [
                    g for g in group_cols if _COL2HIER[g] not in overridden
                ]
                fr = _grouped(filt, lg).select(
                    *lg, F.col("crimes").alias(f"_v{j}")
                )
                cur = (
                    cur.join(F.broadcast(fr), lg, "left")
                    if lg
                    else cur.crossJoin(F.broadcast(fr))
                )
                names[id(leaf)] = f"_v{j}"
                continue
            (nm,) = nav_ms  # _calc_ref pins at most one per tuple
            H = nm.hierarchy
            hcols = [c for _, c in _DIMS[H]["levels"]]
            # the navigated member REPLACES the cell's H member
            filt = [(c, v) for (c, v) in filt if _COL2HIER[c] != H]
            overridden = overridden | {H}
            lg = [g for g in group_cols if _COL2HIER[g] not in overridden]
            if nm.current:
                static_ord, enum_ord, d = _hier_binding(
                    H, cell_filt, group_cols
                )
                if d == 0:
                    raise MdxError(
                        f"[{H}].CurrentMember is the All member in "
                        "this cell — PrevMember/ParallelPeriod/"
                        f"PeriodsToDate need a member below All "
                        f"(name [{H}] on an axis or in the slicer)"
                    )
            else:
                static_ord, enum_ord, d = list(nm.filters), [], len(
                    nm.filters
                )
            depth_cols = hcols[:d]
            kind = nm.nav[0]
            # the cell's own H path, column-expression form (static
            # levels as literals, enumerated levels as spine columns)
            cur_path = {c: F.lit(v) for c, v in static_ord}
            cur_path.update({c: F.col(c) for c in enum_ord})
            if kind == "ptd":
                anc_li = nm.nav[1]
                if anc_li >= d:
                    raise MdxError(
                        "PeriodsToDate level must be at or above the "
                        "member's level"
                    )
                vf = _grouped(filt, lg + depth_cols)
                wcols = lg + depth_cols
                vfa = vf.select(
                    *[F.col(c).alias(f"_w{j}_{c}") for c in wcols],
                    F.col("crimes").alias(f"_w{j}_v"),
                )
                cond = F.lit(True)
                for g in lg:
                    cond = cond & (F.col(f"_w{j}_{g}") == F.col(g))
                for c in depth_cols[: anc_li + 1]:
                    cond = cond & (F.col(f"_w{j}_{c}") == cur_path[c])
                sub = depth_cols[anc_li + 1 :]
                if sub:
                    cond = cond & (
                        F.struct(*[F.col(f"_w{j}_{c}") for c in sub])
                        <= F.struct(*[cur_path[c] for c in sub])
                    )
                ytd = (
                    spine.withColumn("_j", F.lit(1))
                    .join(F.broadcast(vfa), cond, "left")
                    .groupBy("_j", *group_cols)
                    .agg(F.sum(f"_w{j}_v").alias(f"_v{j}"))
                )
                cur = cur.join(
                    F.broadcast(ytd), ["_j"] + group_cols, "left"
                )
                names[id(leaf)] = f"_v{j}"
                continue
            if kind == "anc":
                # .Parent / Ancestor(member, level): the cell
                # member's path TRUNCATED — a pure projection (no
                # universe scan, no map frame): the nav columns are
                # the cell's own path expressions, and the value
                # aggregate at the ancestor depth joins on them.
                # Depth 0 is the All member — a no-H-columns global
                # context (share-of-grand-total), valid only on
                # hasAll hierarchies.
                li = nm.nav[1]
                anc_depth = (d - 1) if li is None else li + 1
                if anc_depth > d:
                    raise MdxError(
                        "Ancestor level must be at or above the "
                        "member's level"
                    )
                if anc_depth == 0 and _DIMS[H]["all"] is None:
                    raise MdxError(
                        f"[{H}] has no All member — the ancestor "
                        "above its top level does not exist"
                    )
                tcols = hcols[:anc_depth]
                navname = {c: f"_nav{j}_{c}" for c in tcols}
                for c in tcols:
                    cur = cur.withColumn(navname[c], cur_path[c])
                vf = _grouped(filt, lg + tcols)
                fr = vf.select(
                    *lg,
                    *[F.col(c).alias(navname[c]) for c in tcols],
                    F.col("crimes").alias(f"_v{j}"),
                )
                keys = lg + [navname[c] for c in tcols]
                cur = (
                    cur.join(F.broadcast(fr), keys, "left")
                    if keys
                    else cur.crossJoin(F.broadcast(fr))
                )
                names[id(leaf)] = f"_v{j}"
                continue
            if kind in ("edge", "edgelvl"):
                # FirstChild/LastChild/FirstSibling/LastSibling and
                # OpeningPeriod/ClosingPeriod: the navigated member is
                # an ORDER STATISTIC — the lexicographic min/max
                # sub-path at the target level under a fixed prefix of
                # the cell member's path (child: the whole path;
                # sibling: the parent; edgelvl: the whole path,
                # descending several levels). One groupBy-min(struct)
                # over the dimension universe per leaf — the struct
                # ordering IS the hierarchy's sibling order.
                if kind == "edge":
                    mode, which = nm.nav[1], nm.nav[2]
                    prefix_depth = d if mode == "child" else d - 1
                    target_depth = d + 1 if mode == "child" else d
                else:
                    li, which = nm.nav[1], nm.nav[2]
                    if li < d:
                        raise MdxError(
                            "OpeningPeriod/ClosingPeriod level must "
                            "be BELOW the member's level (at the "
                            "member's own level the period edge is "
                            "the member itself)"
                        )
                    prefix_depth, target_depth = d, li + 1
                if target_depth > len(hcols):
                    raise MdxError(
                        "FirstChild/LastChild/OpeningPeriod below "
                        f"the leaf level of [{H}]"
                    )
                tcols = hcols[:target_depth]
                navname = {c: f"_nav{j}_{c}" for c in tcols}
                prefix_cols = tcols[:prefix_depth]
                sub_cols = tcols[prefix_depth:]
                uni = base.select(*tcols).distinct()
                agg_fn = F.min if which == "min" else F.max
                nmap = uni.groupBy(*prefix_cols).agg(
                    agg_fn(F.struct(*sub_cols)).alias("_s")
                )
                for c, v in static_ord:
                    if c in prefix_cols:
                        nmap = nmap.filter(F.col(c) == v)
                enum_pref = [c for c in enum_ord if c in prefix_cols]
                nsel = nmap.select(
                    *enum_pref,
                    *[F.col(c).alias(navname[c]) for c in prefix_cols],
                    *[
                        F.col("_s").getField(c).alias(navname[c])
                        for c in sub_cols
                    ],
                ).withColumn("_j", F.lit(1))
                cur = cur.join(
                    F.broadcast(nsel), ["_j"] + enum_pref, "left"
                )
                vf = _grouped(filt, lg + tcols)
                fr = vf.select(
                    *lg,
                    *[F.col(c).alias(navname[c]) for c in tcols],
                    F.col("crimes").alias(f"_v{j}"),
                )
                cur = cur.join(
                    F.broadcast(fr),
                    lg + [navname[c] for c in tcols],
                    "left",
                )
                names[id(leaf)] = f"_v{j}"
                continue
            # lag / parallel: navigated-path map over the level
            # universe, then the value aggregate keyed on that path
            def _shift(col_name, n, win):
                return (
                    F.lag(F.col(col_name), n).over(win)
                    if n >= 0
                    else F.lead(F.col(col_name), -n).over(win)
                )

            navname = {c: f"_nav{j}_{c}" for c in depth_cols}
            uni = base.select(*depth_cols).distinct()
            if kind == "lag":
                n = nm.nav[1]
                w = Window.orderBy(*[F.asc(c) for c in depth_cols])
                nmap = uni.select(
                    *depth_cols,
                    *[
                        _shift(c, n, w).alias(navname[c])
                        for c in depth_cols
                    ],
                )
            else:  # parallel
                anc_li, n = nm.nav[1], nm.nav[2]
                if anc_li >= d:
                    raise MdxError(
                        "ParallelPeriod level must be at or above "
                        "the member's level"
                    )
                anc_cols = depth_cols[: anc_li + 1]
                auni = base.select(*anc_cols).distinct()
                wa = Window.orderBy(*[F.asc(c) for c in anc_cols])
                amap = auni.select(
                    *anc_cols,
                    *[
                        _shift(c, n, wa).alias(navname[c])
                        for c in anc_cols
                    ],
                )
                nmap = uni.join(amap, anc_cols)
                for c in depth_cols[anc_li + 1 :]:
                    nmap = nmap.withColumn(navname[c], F.col(c))
            for c, v in static_ord:
                nmap = nmap.filter(F.col(c) == v)
            nsel = nmap.select(
                *enum_ord, *[navname[c] for c in depth_cols]
            ).withColumn("_j", F.lit(1))
            cur = cur.join(F.broadcast(nsel), ["_j"] + enum_ord, "left")
            vf = _grouped(filt, lg + depth_cols)
            fr = vf.select(
                *lg,
                *[F.col(c).alias(navname[c]) for c in depth_cols],
                F.col("crimes").alias(f"_v{j}"),
            )
            cur = cur.join(
                F.broadcast(fr),
                lg + [navname[c] for c in depth_cols],
                "left",
            )
            names[id(leaf)] = f"_v{j}"

        def val(n):
            if n.kind == "lit":
                return F.lit(n.value)
            if n.kind == "ref":
                return F.col(names[id(n)])
            if n.kind == "nary":
                return _nary_col(n.op, [val(a) for a in n.args])
            if n.kind == "iif":
                return _iif_col(n, val)
            return _ARITH[n.op](val(n.left), val(n.right))

        return cur.withColumn("crimes", val(ast))

    for tag, query, ctup, rtup, implicit in all_pairs:
        measure = _pair_measure(query, ctup, rtup)
        ast = query.calc.get(measure)
        members = ctup + rtup + query.slicer
        filt = list(implicit) + [
            (col, val) for mem in members for col, val in mem.filters
        ]
        group_cols = [c for m in ctup + rtup for c in _enum_cols(m)]
        # a navigated calc cell is data-dependent even without
        # enumeration (the previous sibling is a data question), so
        # it routes through the join machinery with an empty spine
        # instead of the static conditional-agg slots (round 11)
        if not group_cols and not (
            ast is not None and _ast_has_nav(ast)
        ):
            if ast is not None:
                builder = _calc_scalar(ast, filt)
            else:
                i = _scalar_slot(filt)
                builder = lambda i=i: F.col(f"_c{i}")  # noqa: E731
            scalar_cells.append((tag, ctup, rtup, builder))
            continue
        if ast is not None:
            enum_filt = [
                (c, v)
                for m in ctup + rtup
                if m.enum_col
                for (c, v) in m.filters
            ]
            frame = _calc_grouped(ast, filt, enum_filt, group_cols)
        else:
            frame = _grouped(filt, group_cols)
        value = F.col("crimes")
        if calc_present:
            value = value.cast("double")
        cell = frame.select(
            F.lit(tag).alias("tag"),
            _axis_label(rtup).alias("row_member"),
            _axis_label(ctup).alias("col_member"),
            value.alias("crimes"),
        )
        if ast is not None:
            cell = cell.filter(F.col("crimes").isNotNull())
        out = cell if out is None else out.unionByName(cell)
    if scalar_cells:
        aggs = [
            F.sum(F.when(cond, F.col("crimes"))).alias(f"_c{i}")
            for i, cond in enumerate(scalar_conds)
        ] or [F.count(F.lit(1)).alias("_c_none")]  # pure-literal calc cells
        row = base.agg(*aggs)
        cells = (
            row.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(tag).alias("tag"),
                                _axis_label(rtup).alias("row_member"),
                                _axis_label(ctup).alias("col_member"),
                                (
                                    build().cast("double")
                                    if calc_present
                                    else build()
                                ).alias("crimes"),
                            )
                            for (tag, ctup, rtup, build) in scalar_cells
                        ]
                    )
                ).alias("cell")
            )
            .select("cell.*")
            .filter(F.col("crimes").isNotNull())
        )
        out = cells if out is None else out.unionByName(cells)
    out = out.withColumn("row_ordinal", F.lit(None).cast("int")).withColumn(
        "col_ordinal", F.lit(None).cast("int")
    )

    # Per-axis set functions (Order/TopCount/Filter — the JPivot
    # sort/filter grammar, either axis). Semantics: each op's numeric
    # expression is the measure evaluated PER AXIS MEMBER in the
    # context of (the member's own filters) + (the expression tuple's
    # context members) + the slicer + the unmentioned-hierarchy
    # defaults — Mondrian's axis-function context, where the OTHER
    # axis's members do NOT apply (axes resolve independently, so the
    # other axis's ops don't leak in either). That value frame is
    # exactly an MDX cell computation with the expression tuple as the
    # one column, so it reuses this very function (one recursion
    # level; synthetic queries carry no ops). Filter/TopCount change
    # axis MEMBERSHIP (cells of removed members drop); Order attaches
    # ``row_ordinal``/``col_ordinal`` (1-based; B- break-hierarchy
    # flags equal the plain ones over these flat member lists; ties
    # break on the member caption — Mondrian leaves tie order
    # unspecified, this engine pins it deterministic).
    #
    # Missing-value policy (chained ops join the surviving members to
    # each op's value frame with a LEFT join — a member kept so far
    # but absent from this op's expression context stays, as Mondrian
    # keeps the member with an empty cell): Filter treats a NULL value
    # as non-matching (ANSI comparison with NULL → NULL → dropped);
    # Order and TopCount place NULL values LAST in either direction,
    # ties and nulls breaking on the member caption. All value frames
    # and joins are axis-member-sized — broadcast.
    ops_tagged = [
        (tag, query)
        for tag, query, _ in compiled
        if query.row_ops or query.col_ops
    ]
    if ops_tagged:
        from pyspark.sql import Window

        keep = out.filter(~F.col("tag").isin([t for t, _ in ops_tagged]))
        pieces = [keep]

        def _expr_matches_tuple(expr, opp_tuples) -> bool:
            """True when the op expression is semantically the query's
            single OPPOSITE-axis tuple (same measure, same member
            filters, and that tuple enumerates NOTHING — an
            enumerating tuple produces several cells per axis member,
            a different frame from the one aggregated value the op
            needs) — the common JPivot shape 'sort this axis by the
            crossing tuple's value'. The value frame is then the tag's
            own cells: no recursive recomputation, and calculated
            measures ride free (their cells are already computed)."""
            if len(opp_tuples) != 1:
                return False
            opp = opp_tuples[0]
            if any(m.enum_col for m in opp):
                return False

            def canon(tup):
                meas = sorted(m.measure for m in tup if m.measure)
                filt = sorted(
                    (c, str(v)) for m in tup for c, v in m.filters
                )
                return meas, filt

            return canon(expr) == canon(opp)

        for tag, query in ops_tagged:
            t_rows = out.filter(F.col("tag") == tag)
            axis_members: dict[str, DataFrame | None] = {}
            for axis, ops in (("rows", query.row_ops),
                              ("columns", query.col_ops)):
                if not ops:
                    axis_members[axis] = None
                    continue
                mcol = "row_member" if axis == "rows" else "col_member"
                own = query.rows if axis == "rows" else query.columns
                opp = query.columns if axis == "rows" else query.rows
                # membership starts from the tag's populated axis
                # members (the tidy NON EMPTY contract), evaluated on
                # the ORIGINAL cells — both axes see the same base
                members = t_rows.select(F.col(mcol).alias("_m")).distinct()
                for op in ops:
                    if op.kind == "except":
                        # caption-membership subtraction — no value
                        # frame, ordinals (with gaps) survive like
                        # Filter's
                        carry = (
                            ["_ord"] if "_ord" in members.columns else []
                        )
                        members = members.filter(
                            ~F.col("_m").isin(op.captions)
                        ).select("_m", *carry)
                        continue
                    if op.kind == "hierarchize":
                        # ordering from the hierarchy itself — no value
                        # frame; replaces any earlier Order's ordinals
                        # (membership unchanged). Keys come from the
                        # axis definition + level columns of base.
                        keys = _hier_key_frame(
                            own, base, post=(op.flag == "post")
                        )
                        w = Window.orderBy(
                            F.asc_nulls_last("_hkey"), F.asc("_m")
                        )
                        members = (
                            members.select("_m")
                            .join(F.broadcast(keys), "_m", "left")
                            .select(
                                "_m",
                                F.row_number().over(w).alias("_ord"),
                            )
                        )
                        continue
                    expr = op.expr or [
                        _Member(measure="crimes", caption=["crimes"])
                    ]
                    if _expr_matches_tuple(expr, opp):
                        vals = t_rows.select(
                            F.col(mcol).alias("_m"),
                            F.col("crimes").alias("_val"),
                        )
                    else:
                        synthetic = MdxQuery(
                            [expr], own, query.cube, query.slicer,
                            calc=query.calc,
                        )
                        vals = mdx_cells_many(
                            star,
                            [(f"{tag}__val", synthetic)],
                            time_default=time_default,
                        ).select(
                            F.col("row_member").alias("_m"),
                            F.col("crimes").alias("_val"),
                        )
                    # chained ops must not lose an ordinal an inner
                    # Order computed (Filter(Order(...)) keeps the
                    # sort unless a later Order replaces it)
                    carry_ord = (
                        ["_ord"] if "_ord" in members.columns else []
                    )
                    cur = members.select("_m", *carry_ord).join(
                        vals, "_m", "left"
                    )
                    if op.kind == "filter":
                        v = F.col("_val")
                        cond = {
                            ">": v > op.value,
                            ">=": v >= op.value,
                            "<": v < op.value,
                            "<=": v <= op.value,
                            "=": v == op.value,
                            "<>": v != op.value,
                        }[op.cmp]
                        members = cur.filter(cond).select("_m", *carry_ord)
                    elif op.kind in ("topcount", "bottomcount"):
                        # NULLs last in BOTH directions (the pinned
                        # missing-member policy): a memberless cell
                        # can never win a top OR bottom slot
                        direction = (
                            F.desc_nulls_last("_val")
                            if op.kind == "topcount"
                            else F.asc_nulls_last("_val")
                        )
                        w = Window.orderBy(direction, F.asc("_m"))
                        members = (
                            cur.withColumn("_rk", F.row_number().over(w))
                            .filter(F.col("_rk") <= op.count)
                            .select("_m", *carry_ord)
                        )
                    else:  # order — replaces any earlier ordinal
                        direction = (
                            F.desc_nulls_last("_val")
                            if op.flag in ("desc", "bdesc")
                            else F.asc_nulls_last("_val")
                        )
                        w = Window.orderBy(direction, F.asc("_m"))
                        members = cur.drop("_ord").select(
                            "_m",
                            F.row_number().over(w).alias("_ord"),
                        )
                axis_members[axis] = members
            joined = t_rows.drop("row_ordinal", "col_ordinal")
            for axis, mcol, ordcol in (
                ("rows", "row_member", "row_ordinal"),
                ("columns", "col_member", "col_ordinal"),
            ):
                members = axis_members[axis]
                if members is None:
                    joined = joined.withColumn(
                        ordcol, F.lit(None).cast("int")
                    )
                    continue
                if "_ord" in members.columns:
                    m = members.select(
                        F.col("_m").alias(mcol),
                        F.col("_ord").cast("int").alias(ordcol),
                    )
                else:
                    m = members.select(F.col("_m").alias(mcol)).withColumn(
                        ordcol, F.lit(None).cast("int")
                    )
                joined = joined.join(F.broadcast(m), mcol)
            joined = joined.select(
                "tag", "row_member", "col_member", "crimes",
                "row_ordinal", "col_ordinal",
            )
            pieces.append(joined)
        res = pieces[0]
        for pc in pieces[1:]:
            res = res.unionByName(pc)
        out = res
    return out


def mdx_cells(
    star: DataFrame,
    query: MdxQuery,
    time_default: tuple[int, ...] | None = None,
) -> DataFrame:
    """Single-query form of :func:`mdx_cells_many`: tidy cells
    ``(row_member, col_member, crimes, row_ordinal, col_ordinal)`` —
    each ordinal is NULL unless its axis carries an ``Order()`` (it
    would otherwise be computed and silently dropped, making the
    user's sort a no-op through the public API; ordinals from an
    Order INSIDE a later Filter/TopCount survive with gaps — relative
    order preserved)."""
    return mdx_cells_many(star, [("q", query)], time_default=time_default).select(
        "row_member", "col_member", "crimes", "row_ordinal", "col_ordinal"
    )


def mdx_query(
    spark: SparkSession,
    sf_dir: str,
    text: str,
    time_default: tuple[int, ...] | None = None,
) -> DataFrame:
    """Parse and run an MDX query end-to-end over the engine's star
    schema (the same cached star join the rollup surface uses)."""
    from .plans.olap_queries import _star_join

    return mdx_cells(
        _star_join(spark, sf_dir), parse_mdx(text), time_default=time_default
    )
