"""SQL analysis: the relation binder and the MV classifier.

The reference extracts source relations with a sqlparser visitor
(iceberg-rust/src/sql.rs:12-21); ``SelectRelations`` reads them from
Spark's own parse tree, and ``run_with_views`` binds each for one
statement — the engine, MV refresh and MERGE all bind through these.
The MV strategy classifier (``parse_select``) reads the SQL text of the
limited grammar the reference's MV tests use (SELECT-FROM-JOIN-WHERE-
GROUP BY); anything outside it is classified FULL (always-correct
fallback, exactly the reference's behavior for unknown plan nodes).
"""
from __future__ import annotations

import re
import uuid
import weakref
from dataclasses import dataclass, field
from types import SimpleNamespace

from pyspark.errors.exceptions.captured import capture_sql_exception
from pyspark.sql import DataFrame

from iceberg_rust_archive_spark.operators.scan import broadcast_if_small
from iceberg_rust_archive_spark.predicates import (
    _mask_quoted, _scan_quoted, _split_top,
)

_AGG_RE = re.compile(r"^(sum|count|min|max|avg)\s*\((.*)\)$",
                     re.IGNORECASE | re.DOTALL)
_RELATION_RE = re.compile(r"\b(?:from|join)\s+([A-Za-z_][\w.]*)",
                          re.IGNORECASE)


def find_relations(sql: str) -> list[str]:
    """Source tables of a query (sql.rs:12-21). Subqueries contribute their
    own FROM/JOIN matches; duplicates removed, order preserved. Scans the
    literal-MASKED text so 'from x' inside a string literal never adds a
    phantom relation (identifiers live outside quotes, so matches read
    the same either way)."""
    seen, out = set(), []
    for m in _RELATION_RE.finditer(_mask_quoted(sql)):
        name = m.group(1)
        if name.lower() not in seen:
            seen.add(name.lower())
            out.append(name)
    return out


@dataclass(frozen=True)
class RelationRef:
    """A relation reference: lowercased name, ``[start, stop)`` text span
    (with any ``AS OF`` clause) and its time travel: the ``VERSION AS OF``
    string, or ``TIMESTAMP AS OF`` in epoch ms."""
    name: str
    start: int
    stop: int
    as_of: str | int | None = None


# Origin is a case class, Origin(line, startPosition, startIndex,
# stopIndex, sqlText, ...): its rendering carries both indices and the
# text they index
_ORIGIN_RE = re.compile(r"Origin\((?:Some\(\d+\)|None),(?:Some\(\d+\)|None),"
                        r"Some\((\d+)\),Some\((\d+)\),Some\(")
# per-session JVM handles (``_handles``)
_HANDLES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _handles(spark) -> SimpleNamespace:
    """The session's parser, conf and catalog, ``TreeNode.origin`` as a
    Scala function (``node.map`` with it reads every origin of a subtree
    in one py4j round trip), ``TimeTravelSpec`` and tree patterns, each
    looked up once: py4j resolves a ``jvm.a.b.C`` path by one round trip
    per segment, ~1 ms for a Spark class."""
    got = _HANDLES.get(spark)
    if got is None:
        state, jvm = spark._jsparkSession.sessionState(), spark._jvm
        cls, inv = jvm.java.lang.Class.forName, jvm.java.lang.invoke
        trees = "org.apache.spark.sql.catalyst.trees."
        origin = inv.MethodHandles.publicLookup().findVirtual(
            cls(trees + "TreeNode"), "origin",
            inv.MethodType.methodType(cls(trees + "Origin")))
        pattern = jvm.org.apache.spark.sql.catalyst.trees.TreePattern
        got = _HANDLES[spark] = SimpleNamespace(
            parser=state.sqlParser(), conf=state.conf(),
            catalog=state.catalog(),
            origin=jvm.scala.jdk.javaapi.FunctionConverters
            .asScalaFromFunction(inv.MethodHandleProxies.asInterfaceInstance(
                cls("java.util.function.Function"), origin)),
            time_travel=jvm.org.apache.spark.sql.catalyst.analysis
            .TimeTravelSpec,
            # IN/EXISTS become semi/anti joins, LATERAL a join; a scalar
            # subquery's hint would be stripped unapplied with a warning
            join_subqueries=[getattr(pattern, k + "_SUBQUERY")()
                             for k in ("LIST", "EXISTS", "LATERAL")])
    return got


class SelectRelations:
    """One statement parsed by Spark: its ``relations`` (subqueries and
    CTE bodies too), ``has_join`` (a Join, or an IN, EXISTS or LATERAL
    subquery, which Spark plans as a join) and ``conjuncts()``."""

    def __init__(self, spark, text: str):
        self._h = h = _handles(spark)
        self.text = text
        self.relations, self.has_join = [], False
        self._has_subquery = False  # any subquery expression
        self._filters: list = []   # the Filter directly over each ref
        self._walk_tree(capture_sql_exception(h.parser.parsePlan)(text))

    def _span(self, node) -> tuple[int, int] | None:
        """The union of the origins in ``node``'s subtree (``BETWEEN``'s
        own origin covers ``BETWEEN a AND b``, not its operand) that index
        this statement's text: a shared node such as the ``true`` literal
        keeps the origin of whichever statement first built it."""
        s, tail = node.map(self._h.origin).toString(), self.text + "),"
        spans = [(int(m[1]), int(m[2])) for m in _ORIGIN_RE.finditer(s)
                 if s.startswith(tail, m.end())]
        return (min(a for a, _ in spans),
                max(b for _, b in spans) + 1) if spans else None

    def _walk_tree(self, plan) -> None:
        self._walk(plan, None)
        subs = plan.subqueriesAll()
        n = subs.size()
        if n:
            # a plan's pattern bits cover its nested subquery plans too
            self._has_subquery = True
            self.has_join = self.has_join or any(
                plan.containsPattern(p) for p in self._h.join_subqueries)
        for i in range(n):
            self._walk(subs.apply(i), None)

    def _walk(self, node, over) -> None:
        kind = node.nodeName()
        if kind in ("UnresolvedRelation", "RelationTimeTravel"):
            rel, as_of = node, None
            lo, hi = self._span(node)
            if kind == "RelationTimeTravel":  # its span is only AS OF
                rel, over, version = node.relation(), None, node.version()
                lo, ts = self._span(rel)[0], node.timestamp()
                if ts.isDefined() and not ts.get().resolved():
                    raise ValueError(
                        "TIMESTAMP AS OF takes a timestamp literal, not "
                        + self.text[slice(*self._span(ts.get()))])
                # TIMESTAMP AS OF evaluates as Spark does (session zone)
                as_of = version.get() if version.isDefined() else \
                    self._h.time_travel.create(
                        ts, version, self._h.conf.sessionLocalTimeZone()
                    ).get().timestamp() // 1000
            self.relations.append(
                RelationRef(rel.tableName().lower(), lo, hi, as_of))
            self._filters.append(over)
            return
        self.has_join = self.has_join or kind == "Join"
        # a Filter's conjuncts reach its relation through an alias only
        nxt = node if kind == "Filter" else \
            over if kind == "SubqueryAlias" else None
        kids = node.children()
        for i in range(kids.size()):
            self._walk(kids.apply(i), nxt)
        if kind == "UnresolvedWith":  # CTE bodies are inner children
            inner = node.innerChildren()
            for i in range(inner.size()):
                self._walk_tree(inner.apply(i))

    def conjuncts(self) -> list[str]:
        """For a statement with one relation reference, no join and no
        subquery (whose Filter may name an outer ``range()`` or ``VALUES``
        row), the text of each AND conjunct of the Filter directly over
        it (through an alias), so a WHERE over a derived table never
        reaches the inner scan. ``OR`` conjuncts are left out."""
        if len(self.relations) != 1 or self.has_join \
                or self._has_subquery or self._filters[0] is None:
            return []
        out, stack = [], [self._filters[0].condition()]
        while stack:
            e = stack.pop()
            kind = e.nodeName()
            if kind == "And":
                stack += [e.right(), e.left()]
            elif kind != "Or" and (span := self._span(e)) is not None:
                out.append(self.text[slice(*span)])
        return out


def splice(text: str, repl: dict) -> str:
    """``text`` with each ``RelationRef`` span in ``repl`` replaced."""
    out, last = [], 0
    for ref in sorted(repl, key=lambda r: r.start):
        out += [text[last:ref.start], repl[ref]]
        last = ref.stop
    return "".join(out) + text[last:]


def run_with_views(spark, text: str, frames: dict) -> DataFrame:
    """Run ``text`` with each ``RelationRef`` in ``frames`` bound to its
    DataFrame (None: left to Spark) by a temp view with a statement-unique
    name, dropped once ``spark.sql`` has analyzed the statement — through
    the session catalog, as ``spark.catalog.dropTempView`` (and PySpark's
    ``spark.sql(text, **frames)``, which calls it) would also uncache
    the plan the view wraps, a cached MERGE target included."""
    frames = {ref: df for ref, df in frames.items() if df is not None}
    catalog, views = _handles(spark).catalog, {}
    try:
        for ref, df in frames.items():
            if id(df) not in views:
                views[id(df)] = vn = "ice_" + re.sub(
                    r"\W", "_", ref.name) + "_" + uuid.uuid4().hex[:12]
                df.createTempView(vn)  # a new name: nothing to uncache
        return spark.sql(splice(
            text, {ref: views[id(df)] for ref, df in frames.items()}))
    finally:
        for vn in views.values():
            catalog.dropTempView(vn)


def bind_names(spark, text: str, bindings: dict) -> DataFrame:
    """``run_with_views`` binding by (lowercase) relation name. In a
    join-shaped statement a scan ``operators/scan.py`` proved small
    carries a broadcast hint (``broadcast_if_small``); a join-less one
    stays unhinted, as Catalyst strips an unapplied hint with a warning."""
    rels = SelectRelations(spark, text)
    by_name = {k.lower(): broadcast_if_small(v) if rels.has_join else v
               for k, v in bindings.items()}
    return run_with_views(spark, text,
                          {r: by_name.get(r.name) for r in rels.relations})


def split_top_level(s: str, sep: str = ",") -> list[str]:
    """Depth-0 split via the engine's quote-complete splitter (doubled
    quotes, backticks, raw strings, backslash escapes — the naive
    in_str tracker this replaces desynced on every one of those)."""
    return [p for p in (x.strip() for x in _split_top(s, sep)) if p]


@dataclass
class SelectItem:
    expr: str
    alias: str | None = None
    agg_fn: str | None = None    # sum|count|min|max|avg for top-level aggs
    agg_inner: str | None = None

    @property
    def out_name(self) -> str:
        if self.alias:
            return self.alias
        # a bare (possibly qualified) column ref surfaces as its last
        # segment in the output schema ("o.st" → "st")
        if re.fullmatch(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*", self.expr):
            return self.expr.rsplit(".", 1)[-1]
        return self.expr


@dataclass
class ParsedSelect:
    items: list[SelectItem] = field(default_factory=list)
    relations: list[str] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    has_order_by: bool = False
    has_window: bool = False
    has_distinct: bool = False
    has_subquery: bool = False
    has_outer_join: bool = False
    # both break the one-delta-view-per-relation assumption of the
    # incremental rewrites: a self-join ("FROM t a JOIN t b") would bind
    # every mention to the SAME delta view (computing dA⋈dA and dropping
    # the dA⋈A_old / A_new⋈dA cross terms), and a comma-style FROM list
    # only captures its first relation. Classified FULL (always correct).
    has_repeated_relation: bool = False
    has_comma_from: bool = False
    # HAVING filters on the TOTAL aggregate; a delta pass would apply it
    # to the delta-local aggregate and drop groups whose delta fails but
    # whose merged total passes. Classified FULL (always correct).
    has_having: bool = False
    # LIMIT bounds the TOTAL result; an incremental append/merge would
    # grow past it. Classified FULL.
    has_limit: bool = False

    @property
    def is_aggregate(self) -> bool:
        return bool(self.group_by) or any(i.agg_fn for i in self.items)

    def agg_items(self) -> list[SelectItem]:
        return [i for i in self.items if i.agg_fn]

    def key_items(self) -> list[SelectItem]:
        return [i for i in self.items if not i.agg_fn]


_ALIAS_RE = re.compile(r"^(.*?)\s+as\s+([A-Za-z_]\w*)$",
                       re.IGNORECASE | re.DOTALL)


def parse_select(sql: str) -> ParsedSelect:
    text = sql.strip().rstrip(";")
    p = ParsedSelect(relations=find_relations(text))
    # structure is read from the literal-MASKED text (spans slice the
    # original): 'order by' / 'group by' / 'from' INSIDE a string
    # literal is data — binding on it either misclassified the MV
    # (conservative) or extracted garbage group-by keys (not)
    masked = _mask_quoted(text)
    low = masked.lower()
    p.has_order_by = bool(re.search(r"\border\s+by\b", low))
    p.has_window = bool(re.search(r"\bover\s*\(", low))
    p.has_distinct = bool(re.search(r"\bselect\s+distinct\b", low))
    p.has_outer_join = bool(re.search(r"\b(left|right|full)\s+(outer\s+)?join\b",
                                      low))
    mentions = [m.group(1).lower()
                for m in _RELATION_RE.finditer(masked)]
    p.has_repeated_relation = len(mentions) != len(set(mentions))
    fm = re.search(r"\bfrom\s+(.*?)(?:\bwhere\b|\bgroup\s+by\b|"
                   r"\border\s+by\b|\bhaving\b|\blimit\b|$)",
                   masked, re.IGNORECASE | re.DOTALL)
    if fm:
        p.has_comma_from = len(split_top_level(
            text[fm.start(1):fm.end(1)])) > 1
    body = re.search(r"select\s+(.*?)\s+from\s", masked,
                     re.IGNORECASE | re.DOTALL)
    if body:
        p.has_subquery = "select" in masked[body.end():].lower()
        for raw in split_top_level(text[body.start(1):body.end(1)]):
            alias = None
            m = _ALIAS_RE.match(raw)
            expr = raw
            if m:
                expr, alias = m.group(1).strip(), m.group(2)
            item = SelectItem(expr=expr, alias=alias)
            am = _AGG_RE.match(expr)
            if am:
                item.agg_fn = am.group(1).lower()
                item.agg_inner = am.group(2).strip()
            p.items.append(item)
    p.has_having = bool(re.search(r"\bhaving\b", low))
    p.has_limit = bool(re.search(r"\blimit\s+\d", low))
    g = re.search(r"\bgroup\s+by\s+(.*?)(\bhaving\b|\border\s+by\b"
                  r"|\blimit\b|$)", masked, re.IGNORECASE | re.DOTALL)
    if g:
        p.group_by = split_top_level(text[g.start(1):g.end(1)].strip())
    return p


def split_union(sql: str) -> tuple[list[str], str | None]:
    """Split a TOP-LEVEL ``UNION [ALL]`` query into its branches.

    Returns ``([sql], None)`` when no top-level union exists, else
    ``(branches, kind)`` with ``kind`` = ``'all'`` when every connector
    is UNION ALL, ``'distinct'`` otherwise (a single bare UNION makes
    the whole chain distinct-deduplicating, so the incremental rewrite
    must not touch it). Unions inside parentheses (subqueries) and
    string literals are ignored — they belong to a nested scope."""
    text = sql.strip().rstrip(";")
    parts: list[str] = []
    kinds: list[str] = []
    depth, i, n, cur_start = 0, 0, len(text), 0
    while i < n:
        ch = text[i]
        if ch in ("'", '"', "`"):
            # quote-complete jump (doubled quotes, raw strings,
            # backslash escapes, backtick identifiers)
            i = _scan_quoted(text, i)
            continue
        if ch == "(":
            depth += 1
            i += 1
            continue
        if ch == ")":
            depth -= 1
            i += 1
            continue
        if depth == 0 and ch in "uU":
            m = re.match(r"union\b(\s+all\b)?", text[i:], re.IGNORECASE)
            prev = text[i - 1] if i else " "
            if m and not (prev.isalnum() or prev == "_"):
                parts.append(text[cur_start:i])
                kinds.append("all" if m.group(1) else "distinct")
                i += m.end()
                cur_start = i
                continue
        i += 1
    if not parts:
        return [text], None
    parts.append(text[cur_start:])
    kind = "all" if all(k == "all" for k in kinds) else "distinct"
    return [_strip_outer_parens(p) for p in parts], kind


def _strip_outer_parens(s: str) -> str:
    """``(SELECT ...) UNION ALL (SELECT ...)`` is legal SQL — peel each
    branch's enclosing parens (only when they match each other, so a
    branch like ``(a) x JOIN (b) y`` is left alone)."""
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        for i, ch in enumerate(s):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i != len(s) - 1:
                    return s  # first paren closes early — not enclosing
        s = s[1:-1].strip()
    return s


def strip_order_by(sql: str) -> str:
    """Drop the query's TOP-LEVEL ORDER BY tail. Masked scan: 'order by'
    inside a string literal must not truncate the query from mid-
    literal; depth gate: an ORDER BY inside a parenthesized subquery
    belongs to that scope (parens inside literals are masked away, so
    the depth count is literal-proof too)."""
    text = sql.strip().rstrip(";")
    masked = _mask_quoted(text)
    for m in re.finditer(r"\border\s+by\b", masked, re.IGNORECASE):
        prefix = masked[:m.start()]
        if prefix.count("(") == prefix.count(")"):
            return text[:m.start()].strip()
    return text
