"""Column-level lineage via Catalyst analyzed-plan traversal.

This is the new engine's version of the reference's core capability
(``LineParser.java`` — a ~700-line hand-rolled Hive-AST walker).
Everything the reference does manually — alias resolution
(``LineParser.java:561-591``), ``select *`` expansion (403-420),
subquery binding (369-383), db qualification (770-788) — is done for us
by Spark's analyzer; we traverse the *analyzed* (not optimized) logical
plan so user-written structure (aliases, subqueries) is still visible,
mirroring the reference's walk of the raw AST.

Output model is the reference's ``ColLine``
(``entity/ColLine.java:12-31``): (target_table, target_column,
target_alias, sources, conditions), with the reference's string
conventions (SURVEY §1.3): ``db.table.col`` identities, default db
``default``, condition tags ``WHERE:`` / ``<JOINTYPE>:`` / ``COLFUN:``
(``LineParser.java:433,448-454,499-506``).

Deliberate divergences from the reference (documented bugs NOT
reproduced):
- union edges carry ALL branch sources (reference keeps only the last,
  ``entity/ColLineParse.java:48-50``);
- output binding does not crash on qualified table names (reference's
  ``split(".")`` regex bug, ``LineParser.java:114``);
- statements are analyzed, never executed — lineage extraction of an
  INSERT/CTAS has no side effects (parse + analyze only).

Condition scoping mirrors the reference's per-query-context stacks
(``LineParser.java:56-59,243-261``): root-context conditions attach to
every output column; a WHERE inside a derived table, CTE body, set-op
branch, or subquery expression attaches only to columns derived from
that context. SELECT-list subqueries trace their inner columns as
sources (reference ``subQueryMap``, ``LineParser.java:369-383,534-549``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from hive_parse_lineage_spark.session import _py4j_nodelay

# ---------------------------------------------------------------------------
# data model (ColLine: entity/ColLine.java:12-31)
# ---------------------------------------------------------------------------

COLUMN_SEP = "."      # common/Constants.java:5
SOURCE_JOIN = "&"     # common/Constants.java:4 — multi-source separator
DEFAULT_DB = "default"  # LineParser.java:73,771

#: Operation enum (common/Operation.java:3-5). UPDATE/DELETE are
#: Spark-era DML the reference predates — natural extensions alongside
#: the MERGE (-> INSERT) classification.
OPERATIONS = ("SELECT", "INSERT", "DROP", "TRUNCATE", "LOAD",
              "CREATETABLE", "ALTER", "UPDATE", "DELETE", "DEFAULT")


@dataclass
class ColLine:
    target_table: str | None      # None ≈ reference TOK_TMP_FILE (unnamed sink)
    target_column: str | None     # physical target column (positional bind)
    target_alias: str             # parsed name/alias (ColLineParse.toNameParse)
    sources: list[str]            # sorted db.table.col names
    conditions: list[str]         # sorted WHERE:/JOIN:/COLFUN: strings

    def to_dict(self) -> dict:
        return {
            "target_table": self.target_table,
            "target_column": self.target_column,
            "target_alias": self.target_alias,
            "sources": self.sources,
            "conditions": self.conditions,
        }

    def from_name(self) -> str:
        """Reference rendering: sources joined with '&' (LineParser.java:476,541)."""
        return SOURCE_JOIN.join(self.sources)


@dataclass
class StatementLineage:
    sql: str
    operation: str                # one of OPERATIONS
    col_lines: list[ColLine] = field(default_factory=list)
    input_tables: set[str] = field(default_factory=set)
    output_tables: set[str] = field(default_factory=set)


@dataclass
class ScriptLineage:
    statements: list[StatementLineage] = field(default_factory=list)

    @property
    def col_lines(self) -> list[dict]:
        return [c.to_dict() for s in self.statements for c in s.col_lines]

    @property
    def input_tables(self) -> set[str]:
        return set().union(*(s.input_tables for s in self.statements)) if self.statements else set()

    @property
    def output_tables(self) -> set[str]:
        return set().union(*(s.output_tables for s in self.statements)) if self.statements else set()


# ---------------------------------------------------------------------------
# statement splitting (superset of LineParser.java:85's unescaped-';'
# split: \; still doesn't split, and neither do quoted/commented ';')
# ---------------------------------------------------------------------------

def split_statements(sql_text: str) -> list[str]:
    """Quote- and comment-aware statement split.

    The reference splits on every unescaped ``;`` (LineParser.java:85),
    which breaks statements containing ``';'`` string literals. This
    walk honors single/double quotes (with backslash escapes and the
    SQL ``''`` doubling), backticked identifiers, ``--`` line comments,
    and ``/* */`` block comments, so only top-level semicolons split.
    """
    out: list[str] = []
    buf: list[str] = []
    i, n = 0, len(sql_text)
    mode: str | None = None  # "'", '"', '`', '--', '/*'
    while i < n:
        ch = sql_text[i]
        nxt = sql_text[i + 1] if i + 1 < n else ""
        if mode is None:
            if ch == "\\" and nxt == ";":
                # reference behavior kept: a backslash-escaped top-level
                # semicolon does not split (LineParser.java:85)
                buf.append(ch)
                buf.append(nxt)
                i += 2
                continue
            if ch == ";":
                out.append("".join(buf))
                buf = []
                i += 1
                continue
            if ch in ("'", '"', "`"):
                mode = ch
            elif ch == "-" and nxt == "-":
                mode = "--"
            elif ch == "/" and nxt == "*":
                mode = "/*"
        elif mode in ("'", '"'):
            if ch == "\\" and i + 1 < n:
                buf.append(ch)
                buf.append(nxt)
                i += 2
                continue
            if ch == mode:
                if nxt == mode:  # SQL '' / "" doubling stays inside
                    buf.append(ch)
                    buf.append(nxt)
                    i += 2
                    continue
                mode = None
        elif mode == "`":
            if ch == "`":
                mode = None
        elif mode == "--":
            if ch == "\n":
                mode = None
        elif mode == "/*":
            if ch == "*" and nxt == "/":
                buf.append(ch)
                buf.append(nxt)
                i += 2
                mode = None
                continue
        buf.append(ch)
        i += 1
    out.append("".join(buf))
    return [s.strip() for s in out if s.strip()]


# ---------------------------------------------------------------------------
# documented-unsupported Hive syntax (SURVEY §2a row 15)
# ---------------------------------------------------------------------------

class UniqueJoinUnsupportedError(Exception):
    """Hive ``UNIQUEJOIN`` reached the engine.

    The reference's AST walker handles ``TOK_UNIQUEJOIN`` for lineage
    (LineParser.java:281-293 push, 243-251 pop), but Spark SQL has no
    UNIQUE JOIN analogue, so this engine cannot parse or execute it —
    non-implementation is correct, and this diagnostic exists so a
    Hive user migrating a UNIQUEJOIN script gets the documented
    unsupported-feature message instead of a generic parse error."""


_UNIQUEJOIN_MSG = (
    "UNIQUEJOIN is not supported: Spark SQL has no UNIQUE JOIN "
    "analogue (Hive-only syntax; the reference walks TOK_UNIQUEJOIN "
    "for lineage at LineParser.java:281-293). Rewrite as a FULL OUTER "
    "JOIN on the preserved keys with COALESCE over the key columns.")


def _code_only(stmt: str) -> str:
    """The statement with string literals, backticked identifiers and
    comments blanked (same state machine as split_statements), so
    keyword checks never fire on quoted text."""
    out: list[str] = []
    i, n = 0, len(stmt)
    mode: str | None = None
    while i < n:
        ch = stmt[i]
        nxt = stmt[i + 1] if i + 1 < n else ""
        if mode is None:
            if ch in ("'", '"', "`"):
                mode = ch
            elif ch == "-" and nxt == "-":
                mode = "--"
            elif ch == "/" and nxt == "*":
                mode = "/*"
            out.append(ch)
            i += 1
            continue
        if mode in ("'", '"'):
            if ch == "\\" and i + 1 < n:
                out.append("  ")
                i += 2
                continue
            if ch == mode and nxt == mode:
                out.append("  ")
                i += 2
                continue
            if ch == mode:
                mode = None
        elif mode == "`" and ch == "`":
            mode = None
        elif mode == "--" and ch == "\n":
            mode = None
        elif mode == "/*" and ch == "*" and nxt == "/":
            out.append("  ")
            i += 2
            mode = None
            continue
        out.append(" " if mode is not None else ch)
        i += 1
    return "".join(out)


def check_supported_syntax(stmt: str) -> None:
    """Raise the documented diagnostic for Hive-only syntax this
    engine deliberately does not implement (currently: UNIQUEJOIN)."""
    import re
    if re.search(r"\bUNIQUEJOIN\b", _code_only(stmt), re.IGNORECASE):
        raise UniqueJoinUnsupportedError(_UNIQUEJOIN_MSG)


# ---------------------------------------------------------------------------
# py4j helpers
# ---------------------------------------------------------------------------

def _seq(s) -> list:
    """Scala Seq -> python list."""
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    """Scala Option -> value or None."""
    return o.get() if o.isDefined() else None


def _cls(node) -> str:
    try:
        # TreeNode.nodeName: one py4j round trip (vs two for
        # getClass().getSimpleName()) — _cls runs hundreds of times per
        # statement, so this halves the walk's JVM chatter.
        return str(node.nodeName())
    except Exception:
        return node.getClass().getSimpleName().rstrip("$")


# join-type labels: token text minus "TOK_" (LineParser.java:448-454)
_JOIN_LABEL = {
    "Inner": "JOIN",
    "Cross": "JOIN",
    "LeftOuter": "LEFTOUTERJOIN",
    "RightOuter": "RIGHTOUTERJOIN",
    "FullOuter": "FULLOUTERJOIN",
    "LeftSemi": "LEFTSEMIJOIN",
    "LeftAnti": "LEFTANTIJOIN",
}

_ALTER_CLASSES = {
    "AddColumns", "DropColumns", "RenameColumn", "ReplaceColumns",
    "AlterColumn", "AlterColumns", "RenameTable", "SetTableProperties",
    "UnsetTableProperties", "SetTableLocation", "SetTableSerDeProperties",
    "AddPartitions", "DropPartitions", "RenamePartitions", "RecoverPartitions",
    # ALTER DATABASE ... (reference TOK_ALTERDATABASE_PROPERTIES,
    # LineParser.java:435-440)
    "SetNamespaceProperties", "SetNamespaceLocation",
    "UnsetNamespaceProperties",
}

# passthrough unary nodes: child mapping flows up unchanged, no conditions
_PASSTHROUGH = {
    "Sort", "GlobalLimit", "LocalLimit", "Limit", "Tail", "Offset",
    "Distinct", "Deduplicate", "DeduplicateWithinWatermark",
    "Repartition", "RepartitionByExpression", "Rebalance", "Sample",
    "WithWatermark", "EventTimeWatermark", "UnresolvedHint", "ResolvedHint",
    "CollectMetrics", "Pivot",
}


class _Walker:
    """One instance per statement; not thread-safe (plan-sized state only)."""

    def __init__(self, spark: SparkSession, traverse_views: bool = False):
        self.spark = spark
        #: False (reference parity): a view is a table boundary.
        #: True: expand view bodies and trace through to base tables.
        self.traverse_views = traverse_views
        self.jss = spark._jsparkSession
        self.parser = self.jss.sessionState().sqlParser()
        self.analyzer = self.jss.sessionState().analyzer()
        self.input_tables: set[str] = set()
        self.cte_defs: dict[int, dict[int, tuple[set[str], set[str]]]] = {}
        #: per-attribute conditions sealed at query-context boundaries
        #: (reference per-context stacks, LineParser.java:56-59,243-258):
        #: a WHERE inside a derived table / CTE / set-op branch attaches
        #: only to columns derived from that context.
        self.attr_conds: dict[int, set[str]] = {}
        self.current_db = DEFAULT_DB
        try:
            cur = spark.catalog.currentDatabase
            self.current_db = cur() if callable(cur) else cur
        except Exception:
            pass

    # -- naming ---------------------------------------------------------
    def fill_db(self, name: str) -> str:
        """Qualify with current db when unqualified (LineParser.java:770-788).

        Spark 3-part names keep the trailing two parts (catalog stripped) —
        the reference's 2-part ``db.table`` identity.
        """
        parts = [p for p in name.split(".") if p]
        if len(parts) >= 2:
            return ".".join(parts[-2:])
        return f"{self.current_db}.{parts[0]}" if parts else name

    def _table_ident(self, cat_table) -> str:
        ident = cat_table.identifier()
        db = _opt(ident.database())
        return f"{db or self.current_db}.{ident.table()}"

    # -- analysis -------------------------------------------------------
    def parse(self, sql: str):
        return self.parser.parsePlan(sql)

    def analyze(self, parsed):
        plan = self.analyzer.execute(parsed)
        # execute() returns silently even when resolution FAILED (e.g.
        # a UNION over incompatible column types leaves UnresolvedStar
        # nodes behind) — found by the r9 union-nesting fuzz as a
        # KeyError deep in the JSON walk. Surface the engine's own
        # AnalysisException (INCOMPATIBLE_COLUMN_TYPE, ...) instead:
        # lineage must agree with the engine on what is a valid query.
        try:
            resolved = bool(plan.resolved())
        except Exception:
            resolved = True
        if not resolved:
            self.analyzer.checkAnalysis(plan)  # raises the real error
        return plan

    # -- plan traversal -------------------------------------------------
    def walk(self, plan) -> tuple[dict[int, set[str]], set[str]]:
        """Return (exprId -> base-column set for each output attribute,
        conditions collected in this subtree)."""
        cls = _cls(plan)

        if cls == "SubqueryAlias":
            child = plan.children().apply(0)
            ccls = _cls(child)
            if ccls == "SubqueryAlias":
                # temp-view double wrap: SubqueryAlias alias -> SubqueryAlias view
                inner = child.children().apply(0)
                if _cls(inner) == "View":
                    return self._walk_view(inner)
            if ccls == "View":
                return self._walk_view(child)
            mapping, conds = self.walk(child)
            return mapping, self._seal_context(plan, conds)

        if cls == "View":
            return self._walk_view(plan)

        if cls in ("LogicalRelation", "HiveTableRelation", "DataSourceV2Relation",
                   "StreamingRelation", "StreamingRelationV2"):
            return self._walk_relation(plan)

        if cls in ("LocalRelation", "OneRowRelation", "Range"):
            return {a.exprId().id(): set() for a in _seq(plan.output())}, set()

        if cls == "Project":
            return self._walk_named_list(plan, _seq(plan.projectList()), [])

        if cls == "Aggregate":
            return self._walk_named_list(plan, _seq(plan.aggregateExpressions()), [])

        if cls == "Window":
            mapping, conds = self.walk(plan.children().apply(0))
            for ne in _seq(plan.windowExpressions()):
                srcs = set()
                for a in _seq(ne.references().toSeq()):
                    srcs |= mapping.get(a.exprId().id(), set())
                    self._inherit_conds(ne.exprId().id(), a.exprId().id())
                mapping[ne.exprId().id()] = srcs
            return mapping, conds

        if cls == "Filter":
            mapping, conds = self.walk(plan.children().apply(0))
            conds = set(conds)
            conds.add("WHERE:" + self._expr_sql(plan.condition()))
            self._walk_subquery_exprs(plan.condition())
            return mapping, conds

        if cls == "LateralJoin":
            # LATERAL derived table: only the left side is a child; the
            # right is a LateralSubquery expression holding the
            # (correlated) plan — walk it so lateral output columns
            # trace to their base tables. Best-effort here (this is
            # already the fallback walk); the JSON path raises instead.
            mapping, conds = self.walk(plan.children().apply(0))
            try:
                m2, c2 = self.walk(plan.right().plan())
                mapping.update(m2)
                conds = conds | c2
            except Exception:
                pass
            try:
                cond = _opt(plan.condition())
                if cond is not None:
                    label = _JOIN_LABEL.get(plan.joinType().toString(), "JOIN")
                    conds = set(conds)
                    conds.add(f"{label}:{self._expr_sql(cond)}")
            except Exception:
                pass
            return mapping, conds

        if cls == "Join":
            left, right = _seq(plan.children())
            lm, lc = self.walk(left)
            rm, rc = self.walk(right)
            mapping = {**lm, **rm}
            conds = lc | rc
            cond = _opt(plan.condition())
            label = _JOIN_LABEL.get(plan.joinType().toString(), "JOIN")
            if cond is not None:
                conds.add(f"{label}:{self._expr_sql(cond)}")
            return mapping, conds

        if cls in ("Union", "Intersect", "Except"):
            # positional merge across branches, ALL sources kept
            # (fixes ColLineParse.java:48-50 overwrite bug; LineParser.java:205-222).
            # Each branch is its own query context: branch conditions seal
            # onto the branch's columns and merge positionally.
            children = _seq(plan.children())
            walked = [self.walk(c) for c in children]
            out = _seq(plan.output())
            mapping: dict[int, set[str]] = {}
            child_outputs = [_seq(c.output()) for c in children]
            for (_, c), couts in zip(walked, child_outputs):
                if c:
                    for a in couts:
                        self.attr_conds.setdefault(a.exprId().id(), set()).update(c)
            for i, attr in enumerate(out):
                srcs: set[str] = set()
                for (m, _), couts in zip(walked, child_outputs):
                    if i < len(couts):
                        srcs |= m.get(couts[i].exprId().id(), set())
                        self._inherit_conds(attr.exprId().id(),
                                            couts[i].exprId().id())
                mapping[attr.exprId().id()] = srcs
            return mapping, set()

        if cls == "Expand":
            # CUBE/ROLLUP/GROUPING SETS: output attr i <- union of refs of the
            # i-th expression of every projection row
            mapping_child, conds = self.walk(plan.children().apply(0))
            mapping: dict[int, set[str]] = {}
            projections = [_seq(p) for p in _seq(plan.projections())]
            for i, attr in enumerate(_seq(plan.output())):
                srcs: set[str] = set()
                for proj in projections:
                    if i < len(proj):
                        for a in _seq(proj[i].references().toSeq()):
                            srcs |= mapping_child.get(a.exprId().id(), set())
                            self._inherit_conds(attr.exprId().id(),
                                                a.exprId().id())
                mapping[attr.exprId().id()] = srcs
            return mapping, conds

        if cls == "Generate":
            mapping, conds = self.walk(plan.children().apply(0))
            gen_srcs: set[str] = set()
            gen_refs = [a.exprId().id()
                        for a in _seq(plan.generator().references().toSeq())]
            for eid in gen_refs:
                gen_srcs |= mapping.get(eid, set())
            for attr in _seq(plan.generatorOutput()):
                mapping[attr.exprId().id()] = set(gen_srcs)
                for eid in gen_refs:
                    self._inherit_conds(attr.exprId().id(), eid)
            return mapping, conds

        if cls == "WithCTE":
            # children: Seq[CTERelationDef] resolved first, then the main plan
            for d in _seq(plan.cteDefs()):
                m, c = self.walk(d.child())
                outs = _seq(d.child().output())
                # the CTE body is its own query context: its conditions
                # seal onto its columns (by position)
                self.cte_defs[d.id()] = {
                    i: (m.get(a.exprId().id(), set()),
                        self.attr_conds.get(a.exprId().id(), set()) | c)
                    for i, a in enumerate(outs)
                }
            return self.walk(plan.plan())

        if cls == "CTERelationRef":
            by_pos = self.cte_defs.get(plan.cteId(), {})
            mapping = {}
            for i, a in enumerate(_seq(plan.output())):
                srcs, cnds = by_pos.get(i, (set(), set()))
                mapping[a.exprId().id()] = srcs
                if cnds:
                    self.attr_conds.setdefault(a.exprId().id(), set()).update(cnds)
            return mapping, set()

        if cls in _PASSTHROUGH:
            if plan.children().size() == 0:
                return {a.exprId().id(): set() for a in _seq(plan.output())}, set()
            return self.walk(plan.children().apply(0))

        # generic fallback: merge all children, attribute outputs by exprId
        mapping: dict[int, set[str]] = {}
        conds = set()
        for c in _seq(plan.children()):
            m, cc = self.walk(c)
            mapping.update(m)
            conds |= cc
        for attr in _seq(plan.output()):
            eid = attr.exprId().id()
            if eid not in mapping:
                srcs: set[str] = set()
                for a in _seq(attr.references().toSeq()):
                    srcs |= mapping.get(a.exprId().id(), set())
                    self._inherit_conds(eid, a.exprId().id())
                mapping[eid] = srcs
        return mapping, conds

    # -- condition scoping ----------------------------------------------
    def _seal_context(self, plan, conds: set[str]) -> set[str]:
        """Attach the conditions collected inside a query context to its
        output attributes and stop their upward propagation (reference
        pushes/pops a condition stack per query context,
        LineParser.java:243-261)."""
        if conds:
            for a in _seq(plan.output()):
                self.attr_conds.setdefault(a.exprId().id(), set()).update(conds)
        return set()

    def _inherit_conds(self, eid: int, from_eid: int) -> None:
        if eid == from_eid:
            return
        inherited = self.attr_conds.get(from_eid)
        if inherited:
            self.attr_conds.setdefault(eid, set()).update(inherited)

    # -- leaf handling --------------------------------------------------
    def _walk_view(self, view) -> tuple[dict[int, set[str]], set[str]]:
        """A View is a table boundary by default (the reference stops at
        table names). With ``traverse_views`` the analyzed view body is
        walked instead — columns trace through (recursively, so view
        chains reach base tables) and the body is its own condition
        context; the view name is still recorded as an input."""
        table = self.fill_db(self._table_ident(view.desc()))
        self.input_tables.add(table)
        if self.traverse_views and view.children().size() > 0:
            child = view.children().apply(0)
            m, conds = self.walk(child)
            couts = _seq(child.output())
            mapping: dict[int, set[str]] = {}
            for a, ca in zip(_seq(view.output()), couts):
                mapping[a.exprId().id()] = m.get(ca.exprId().id(), set())
                self._inherit_conds(a.exprId().id(), ca.exprId().id())
            return mapping, self._seal_context(view, conds)
        return {a.exprId().id(): {f"{table}{COLUMN_SEP}{a.name()}"}
                for a in _seq(view.output())}, set()

    def _walk_relation(self, rel) -> tuple[dict[int, set[str]], set[str]]:
        cls = _cls(rel)
        table = None
        try:
            if cls == "LogicalRelation":
                ct = _opt(rel.catalogTable())
                if ct is not None:
                    table = self.fill_db(self._table_ident_from(ct.identifier()))
            elif cls == "HiveTableRelation":
                table = self.fill_db(self._table_ident_from(rel.tableMeta().identifier()))
            elif cls == "DataSourceV2Relation":
                ident = _opt(rel.identifier())
                if ident is not None:
                    table = self.fill_db(ident.toString())
        except Exception:
            table = None
        if table is None:
            # direct file scan: identify by location, not a catalog table
            try:
                loc = rel.relation().location().rootPaths().apply(0).toString()
                table = f"{DEFAULT_DB}.{loc.rsplit('/', 1)[-1].split('.')[0]}"
            except Exception:
                table = f"{DEFAULT_DB}.<unknown>"
        self.input_tables.add(table)
        return {a.exprId().id(): {f"{table}{COLUMN_SEP}{a.name()}"}
                for a in _seq(rel.output())}, set()

    def _table_ident_from(self, ident) -> str:
        db = _opt(ident.database())
        return f"{db or self.current_db}.{ident.table()}"

    # -- projection handling --------------------------------------------
    def _walk_named_list(self, plan, named_exprs, extra_conds):
        mapping_child: dict[int, set[str]] = {}
        conds: set[str] = set(extra_conds)
        for c in _seq(plan.children()):
            m, cc = self.walk(c)
            mapping_child.update(m)
            conds |= cc
        mapping: dict[int, set[str]] = {}
        for ne in named_exprs:
            srcs: set[str] = set()
            for a in _seq(ne.references().toSeq()):
                srcs |= mapping_child.get(a.exprId().id(), set())
                self._inherit_conds(ne.exprId().id(), a.exprId().id())
            srcs |= self._walk_subquery_exprs(ne)
            mapping[ne.exprId().id()] = srcs
        # keep child mappings visible for grouping/ordering resolution upstream
        mapping_child.update(mapping)
        return mapping_child, conds

    def _expr_sql(self, expr) -> str:
        try:
            return expr.sql()
        except Exception:
            return expr.toString()

    _SUBQUERY_CLASSES = ("ScalarSubquery", "Exists", "InSubquery", "ListQuery",
                         "LateralSubquery", "DynamicPruningSubquery")

    def _walk_subquery_exprs(self, expr) -> set[str]:
        """Walk subquery expressions nested in a condition/projection:
        registers their input tables (reference: TOK_TABREF fires inside
        subqueries too, LineParser.java:347-367) and returns the base
        columns feeding the subquery's output attributes, so a
        SELECT-list subquery contributes its inner columns as sources of
        the enclosing expression (reference ``subQueryMap``,
        LineParser.java:369-383,534-549). Inner conditions stay scoped
        to the subquery (not propagated to the enclosing query)."""
        srcs: set[str] = set()
        try:
            cls = _cls(expr)
            if cls in self._SUBQUERY_CLASSES:
                sub_mapping, _sub_conds = self.walk(expr.plan())
                for a in _seq(expr.plan().output()):
                    srcs |= sub_mapping.get(a.exprId().id(), set())
            for c in _seq(expr.children()):
                srcs |= self._walk_subquery_exprs(c)
        except Exception:
            pass
        return srcs

    # -- per-statement entry -------------------------------------------
    def project_edges(self, plan, mapping: dict[int, set[str]],
                      conds: set[str]) -> list[ColLine]:
        """Emit one edge per output attribute of the statement root.

        COLFUN tagging per LineParser.java:499-506: a projection whose
        rendered form is not the bare column contributes a per-column
        condition; literal-only outputs keep an empty source set
        (notNormalCol / filterData, LineParser.java:513-525,758-761).
        """
        edges: list[ColLine] = []
        named = self._root_named_exprs(plan)
        for ne in named:
            name = ne.name()
            eid = ne.exprId().id()
            srcs = sorted(mapping.get(eid, set()))
            # root-context conditions apply to every output column;
            # sealed subquery-context conditions only to columns derived
            # from that context (attr_conds)
            col_conds = set(conds) | self.attr_conds.get(eid, set())
            if _cls(ne) == "Alias":
                child = ne.child()
                if _cls(child) != "AttributeReference":
                    col_conds.add("COLFUN:" + self._expr_sql(child))
            edges.append(ColLine(None, None, name, srcs, sorted(col_conds)))
        return edges

    def _root_named_exprs(self, plan) -> list:
        """Find the top-most projection list (descending through
        sort/limit/etc), else fall back to plan.output()."""
        cls = _cls(plan)
        if cls == "Project":
            return _seq(plan.projectList())
        if cls == "Aggregate":
            return _seq(plan.aggregateExpressions())
        if cls in _PASSTHROUGH | {"Filter", "WithCTE"} and plan.children().size() > 0:
            child = plan.plan() if cls == "WithCTE" else plan.children().apply(0)
            return self._root_named_exprs(child)
        return _seq(plan.output())

    # -- JSON walk (same semantics, pure Python; see module comment) ----
    def walk_json(self, plan: dict) -> tuple[dict[int, set[str]], set[str]]:
        cls = plan["_cls"]
        ch = plan["_children"]

        if cls == "SubqueryAlias":
            child = ch[0]
            if (child["_cls"] == "SubqueryAlias" and child["_children"]
                    and child["_children"][0]["_cls"] == "View"):
                return self._walk_view_json(child["_children"][0])
            if child["_cls"] == "View":
                return self._walk_view_json(child)
            mapping, conds = self.walk_json(child)
            return mapping, self._seal_context_json(plan, conds)

        if cls == "View":
            return self._walk_view_json(plan)

        if cls in ("LogicalRelation", "HiveTableRelation",
                   "DataSourceV2Relation", "StreamingRelation",
                   "StreamingRelationV2"):
            return self._walk_relation_json(plan)

        if cls in ("LocalRelation", "OneRowRelation", "Range"):
            return {_eid(a): set() for a in _json_output(plan)}, set()

        if cls == "Project":
            return self._walk_named_list_json(
                plan, _field_exprs(plan, "projectList"))

        if cls == "Aggregate":
            return self._walk_named_list_json(
                plan, _field_exprs(plan, "aggregateExpressions"))

        if cls == "Window":
            mapping, conds = self.walk_json(ch[0])
            for ne in _field_exprs(plan, "windowExpressions"):
                srcs: set[str] = set()
                ne_id = _eid(ne)
                for a in _jrefs(ne):
                    srcs |= mapping.get(_eid(a), set())
                    self._inherit_conds(ne_id, _eid(a))
                mapping[ne_id] = srcs
            return mapping, conds

        if cls == "Filter":
            mapping, conds = self.walk_json(ch[0])
            conds = set(conds)
            cond = _decode_field(plan.get("condition"))
            if isinstance(cond, dict):
                conds.add("WHERE:" + _jsql(cond))
                self._walk_subquery_exprs_json(cond)
            return mapping, conds

        if cls == "LateralJoin":
            mapping, conds = self.walk_json(ch[0])
            sub = _decode_field(plan.get("right"))
            if not (isinstance(sub, dict) and sub.get("plan")):
                # strict contract: degrade loudly to the JVM walk, not
                # silently to lateral columns with no sources
                raise _JsonWalkError("LateralJoin without subquery plan")
            m2, c2 = self.walk_json(_decode_flat(sub["plan"]))
            mapping.update(m2)
            conds = conds | c2
            cond = _decode_field(plan.get("condition"))
            if isinstance(cond, dict):
                label = _JOIN_LABEL.get(_json_join_type(plan), "JOIN")
                conds = set(conds)
                conds.add(f"{label}:{_jsql(cond)}")
            return mapping, conds

        if cls == "Join":
            lm, lc = self.walk_json(ch[0])
            rm, rc = self.walk_json(ch[1])
            mapping = {**lm, **rm}
            conds = lc | rc
            cond = _decode_field(plan.get("condition"))
            label = _JOIN_LABEL.get(_json_join_type(plan), "JOIN")
            if isinstance(cond, dict):
                conds.add(f"{label}:{_jsql(cond)}")
            return mapping, conds

        if cls in ("Union", "Intersect", "Except"):
            walked = [self.walk_json(c) for c in ch]
            child_outputs = [_json_output(c) for c in ch]
            out = _json_output(plan)
            mapping = {}
            for (_, c), couts in zip(walked, child_outputs):
                if c:
                    for a in couts:
                        self.attr_conds.setdefault(_eid(a), set()).update(c)
            for i, attr in enumerate(out):
                srcs = set()
                for (m, _), couts in zip(walked, child_outputs):
                    if i < len(couts):
                        srcs |= m.get(_eid(couts[i]), set())
                        self._inherit_conds(_eid(attr), _eid(couts[i]))
                mapping[_eid(attr)] = srcs
            return mapping, set()

        if cls == "Expand":
            mapping_child, conds = self.walk_json(ch[0])
            mapping = {}
            projections = plan.get("projections") or []
            decoded_rows = [_field_exprs({"projections": row}, "projections")
                            if isinstance(row, list) else []
                            for row in projections]
            for i, attr in enumerate(_json_output(plan)):
                srcs: set[str] = set()
                for proj in decoded_rows:
                    if i < len(proj):
                        for a in _jrefs(proj[i]):
                            srcs |= mapping_child.get(_eid(a), set())
                            self._inherit_conds(_eid(attr), _eid(a))
                mapping[_eid(attr)] = srcs
            return mapping, conds

        if cls == "Generate":
            mapping, conds = self.walk_json(ch[0])
            gen = _decode_field(plan.get("generator"))
            gen_refs = [_eid(a) for a in _jrefs(gen)] if isinstance(gen, dict) else []
            gen_srcs: set[str] = set()
            for eid in gen_refs:
                gen_srcs |= mapping.get(eid, set())
            for attr in _field_exprs(plan, "generatorOutput"):
                mapping[_eid(attr)] = set(gen_srcs)
                for eid in gen_refs:
                    self._inherit_conds(_eid(attr), eid)
            return mapping, conds

        if cls == "WithCTE":
            for d in ch[:-1]:
                if d["_cls"] != "CTERelationDef":
                    continue
                body = d["_children"][0]
                m, c = self.walk_json(body)
                outs = _json_output(body)
                self.cte_defs[d["id"]] = {
                    i: (m.get(_eid(a), set()),
                        self.attr_conds.get(_eid(a), set()) | c)
                    for i, a in enumerate(outs)
                }
            return self.walk_json(ch[-1])

        if cls == "CTERelationRef":
            by_pos = self.cte_defs.get(plan.get("cteId"), {})
            mapping = {}
            for i, a in enumerate(_json_output(plan)):
                srcs, cnds = by_pos.get(i, (set(), set()))
                mapping[_eid(a)] = srcs
                if cnds:
                    self.attr_conds.setdefault(_eid(a), set()).update(cnds)
            return mapping, set()

        if cls in _PASSTHROUGH:
            if not ch:
                return {_eid(a): set() for a in _json_output(plan)}, set()
            return self.walk_json(ch[0])

        # generic fallback: merge all children, attribute outputs by exprId
        mapping = {}
        conds = set()
        for c in ch:
            m, cc = self.walk_json(c)
            mapping.update(m)
            conds |= cc
        for attr in _json_output(plan):
            mapping.setdefault(_eid(attr), set())
        return mapping, conds

    def _seal_context_json(self, plan: dict, conds: set[str]) -> set[str]:
        if conds:
            for a in _json_output(plan):
                self.attr_conds.setdefault(_eid(a), set()).update(conds)
        return set()

    def _walk_view_json(self, view: dict):
        ident = (view.get("desc") or {}).get("identifier") or {}
        name = ".".join(p for p in (ident.get("database"),
                                    ident.get("table")) if p)
        if not name:
            raise _JsonWalkError("view without identifier")
        table = self.fill_db(name)
        self.input_tables.add(table)
        vout = _json_output(view)
        if self.traverse_views and view["_children"]:
            child = view["_children"][0]
            try:
                m, conds = self.walk_json(child)
            except _JsonWalkError:
                # the body bottoms out at an identity-less relation (a
                # DataFrame temp view over a bare file scan): THIS view
                # name is the best base identity — boundary behavior.
                m = None
            if m is not None:
                couts = _json_output(child)
                mapping = {}
                for a, ca in zip(vout, couts):
                    mapping[_eid(a)] = m.get(_eid(ca), set())
                    self._inherit_conds(_eid(a), _eid(ca))
                return mapping, self._seal_context_json(view, conds)
        return {_eid(a): {f"{table}{COLUMN_SEP}{a['name']}"}
                for a in vout}, set()

    def _walk_relation_json(self, rel: dict):
        table = None
        ct = rel.get("catalogTable") or rel.get("tableMeta")
        if isinstance(ct, dict):
            ident = ct.get("identifier") or {}
            tbl = ident.get("table")
            if tbl:
                db = ident.get("database") or self.current_db
                table = self.fill_db(f"{db}.{tbl}")
        if table is None and rel["_cls"] == "DataSourceV2Relation":
            ident = rel.get("identifier")
            if isinstance(ident, str) and ident:
                table = self.fill_db(ident)
        if table is None:
            # direct file scan: no catalog identity in the JSON — the
            # location lives in a non-TreeNode relation object, so let
            # the JVM walk (which reads rootPaths) take this statement.
            raise _JsonWalkError("relation without catalog identity")
        self.input_tables.add(table)
        out = _json_output(rel)
        if not out and rel["_cls"] == "HiveTableRelation":
            # HiveTableRelation serializes no 'output' (it derives from
            # dataCols ++ partitionCols) — read those fields instead.
            out = ([a for a in _field_exprs(rel, "dataCols")]
                   + [a for a in _field_exprs(rel, "partitionCols")])
        if not out:
            # an empty attribute list would silently produce empty
            # sources for every downstream column — worse than the
            # slower JVM walk, so refuse and fall back.
            raise _JsonWalkError(f"{rel['_cls']} with no derivable output")
        rel["_out"] = out  # parents derive their output through this node
        return {_eid(a): {f"{table}{COLUMN_SEP}{a['name']}"}
                for a in out}, set()

    def _walk_named_list_json(self, plan: dict, named_exprs: list[dict]):
        mapping_child: dict[int, set[str]] = {}
        conds: set[str] = set()
        for c in plan["_children"]:
            m, cc = self.walk_json(c)
            mapping_child.update(m)
            conds |= cc
        mapping: dict[int, set[str]] = {}
        for ne in named_exprs:
            srcs: set[str] = set()
            ne_id = _eid(ne)
            for a in _jrefs(ne):
                srcs |= mapping_child.get(_eid(a), set())
                self._inherit_conds(ne_id, _eid(a))
            srcs |= self._walk_subquery_exprs_json(ne)
            mapping[ne_id] = srcs
        mapping_child.update(mapping)
        return mapping_child, conds

    def _walk_subquery_exprs_json(self, expr: dict) -> set[str]:
        srcs: set[str] = set()
        if expr["_cls"] in _JSUBQ:
            planf = expr.get("plan")
            if planf:
                sub = _decode_flat(planf)
                sub_mapping, _sub_conds = self.walk_json(sub)
                for a in _json_output(sub):
                    srcs |= sub_mapping.get(_eid(a), set())
        for c in expr["_children"]:
            srcs |= self._walk_subquery_exprs_json(c)
        return srcs

    def project_edges_json(self, plan: dict, mapping: dict[int, set[str]],
                           conds: set[str]) -> list[ColLine]:
        edges: list[ColLine] = []
        for ne in self._root_named_exprs_json(plan):
            name = ne.get("name")
            eid = _eid(ne)
            srcs = sorted(mapping.get(eid, set()))
            col_conds = set(conds) | self.attr_conds.get(eid, set())
            if ne["_cls"] == "Alias":
                child = ne["_children"][0]
                if child["_cls"] != "AttributeReference":
                    col_conds.add("COLFUN:" + _jsql(child))
            edges.append(ColLine(None, None, name, srcs, sorted(col_conds)))
        return edges

    def _root_named_exprs_json(self, plan: dict) -> list[dict]:
        cls = plan["_cls"]
        if cls == "Project":
            return _field_exprs(plan, "projectList")
        if cls == "Aggregate":
            return _field_exprs(plan, "aggregateExpressions")
        if cls in _PASSTHROUGH | {"Filter", "WithCTE"} and plan["_children"]:
            child = (plan["_children"][-1] if cls == "WithCTE"
                     else plan["_children"][0])
            return self._root_named_exprs_json(child)
        return _json_output(plan)


# ---------------------------------------------------------------------------
# JSON plan walk — the throughput path.
#
# The py4j walk above reads the analyzed tree one accessor at a time:
# ~130 JVM round trips per statement (~0.2 ms each, GIL-serialized, so
# threads don't help). TreeNode.toJSON returns the ENTIRE analyzed tree
# — node classes, exprIds, expression trees, nested subquery plans — in
# ONE round trip; these functions rebuild it and the _Walker walk_json
# methods traverse it in pure Python. Per-statement JVM work drops to
# parse + analyze + toJSON (+ catalog metadata for INSERTs). That one
# reply is usually over 8 KB (median ~11 KB, largest ~36 KB on
# perfbench's lineage mix), past which a py4j reply stalls ~44 ms on
# Nagle unless session._py4j_nodelay has run on the thread's connection;
# extract_lineage runs it first. The py4j
# walk stays as the fallback for any shape the JSON path can't express
# (HPL_JSON_WALK=0 forces it; =strict raises instead of falling back,
# which the test suite uses so regressions can't hide in the fallback).
# ---------------------------------------------------------------------------

def _decode_flat(flat: list) -> dict:
    """Rebuild a tree from TreeNode.toJSON's flattened pre-order list.
    Adds ``_cls`` (simple class name) and ``_children`` to each node."""
    def build(i: int):
        node = dict(flat[i])
        node["_cls"] = node["class"].rsplit(".", 1)[-1].rstrip("$")
        kids = []
        j = i + 1
        for _ in range(node.get("num-children", 0)):
            c, j = build(j)
            kids.append(c)
        node["_children"] = kids
        return node, j
    node, _ = build(0)
    return node


def _decode_field(val):
    """A JSON field holding trees: a single flattened expression (list
    of dicts) or a list of flattened expressions (list of lists)."""
    if isinstance(val, list) and val:
        if isinstance(val[0], dict) and "class" in val[0]:
            return _decode_flat(val)
        if isinstance(val[0], list):
            return [_decode_field(v) for v in val]
    return val


def _field_exprs(plan: dict, key: str) -> list[dict]:
    """Decode a Seq[Expression] field into a list of expression trees."""
    val = plan.get(key)
    if not val:
        return []
    out = _decode_field(val)
    return out if isinstance(out, list) else [out]


def _eid(attr: dict) -> int:
    return attr["exprId"]["id"]


def _to_attr(ne: dict) -> dict:
    """NamedExpression -> its output attribute (Alias.toAttribute)."""
    if ne["_cls"] == "AttributeReference":
        return ne
    return {"_cls": "AttributeReference", "_children": [],
            "name": ne.get("name"), "exprId": ne.get("exprId")}


_JSUBQ = {"ScalarSubquery", "Exists", "InSubquery", "ListQuery",
          "LateralSubquery", "DynamicPruningSubquery"}


def _jrefs(expr: dict, out: list | None = None) -> list[dict]:
    """AttributeReference nodes referenced by an expression tree —
    including a subquery's OUTER attributes (Expression.references
    parity: SubqueryExpression.references == outerAttrs), excluding the
    subquery's inner plan (a different scope, walked separately)."""
    if out is None:
        out = []
    if expr["_cls"] == "AttributeReference":
        out.append(expr)
    if expr["_cls"] in _JSUBQ:
        oa = _decode_field(expr.get("outerAttrs") or [])
        for a in (oa if isinstance(oa, list) else [oa]):
            if isinstance(a, dict):
                for sub in _jrefs(a):
                    out.append(sub)
    for c in expr["_children"]:
        _jrefs(c, out)
    return out


def _json_output(plan: dict) -> list[dict]:
    """Output attributes of a JSON plan node (Catalyst ``output``
    derivation re-expressed: explicit where serialized, structural
    otherwise)."""
    cached = plan.get("_out")
    if cached is not None:
        return cached
    cls = plan["_cls"]
    ch = plan["_children"]
    out: list[dict]
    if plan.get("output"):
        decoded = _decode_field(plan["output"])
        out = [d for d in (decoded if isinstance(decoded, list) else [decoded])
               if isinstance(d, dict)]
    elif cls == "Project":
        out = [_to_attr(e) for e in _field_exprs(plan, "projectList")]
    elif cls == "Aggregate":
        out = [_to_attr(e) for e in _field_exprs(plan, "aggregateExpressions")]
    elif cls == "Window":
        out = _json_output(ch[0]) + [
            _to_attr(e) for e in _field_exprs(plan, "windowExpressions")]
    elif cls == "Generate":
        gout = _field_exprs(plan, "generatorOutput")
        out = _json_output(ch[0]) + gout
    elif cls == "Join":
        jt = _json_join_type(plan)
        out = (_json_output(ch[0]) if jt in ("LeftSemi", "LeftAnti")
               else _json_output(ch[0]) + _json_output(ch[1]))
    elif cls in ("Union", "Intersect", "Except"):
        out = _json_output(ch[0])
    elif cls == "LateralJoin":
        out = list(_json_output(ch[0]))
        sub = _decode_field(plan.get("right"))
        if isinstance(sub, dict) and sub.get("plan"):
            out = out + _json_output(_decode_flat(sub["plan"]))
    elif cls == "WithCTE":
        out = _json_output(ch[-1])
    elif ch:
        out = _json_output(ch[0])
    else:
        out = []
    plan["_out"] = out
    return out


def _json_join_type(plan: dict) -> str:
    jt = plan.get("joinType")
    if isinstance(jt, dict):
        ref = jt.get("object") or jt.get("product-class") or ""
        return ref.rsplit(".", 1)[-1].rstrip("$")
    return str(jt)


_JSQL_BINOPS = {
    "EqualTo": "=", "EqualNullSafe": "<=>", "GreaterThan": ">",
    "LessThan": "<", "GreaterThanOrEqual": ">=", "LessThanOrEqual": "<=",
    "Add": "+", "Subtract": "-", "Multiply": "*", "Divide": "/",
    "Remainder": "%", "And": "AND", "Or": "OR", "Like": "LIKE",
    "RLike": "RLIKE", "BitwiseAnd": "&", "BitwiseOr": "|",
    "BitwiseXor": "^", "Pmod": "pmod",
}

_JSQL_QUOTED_TYPES = {"string", "date", "timestamp", "timestamp_ntz"}

#: Catalyst simpleString -> SQL type name where they differ
_JSQL_TYPE_NAMES = {"long": "BIGINT", "integer": "INT", "short": "SMALLINT",
                    "byte": "TINYINT"}


def _jsql(e: dict, defs: dict | None = None) -> str:
    """Render an expression tree as Spark-flavored SQL for condition
    tags (WHERE:/JOIN:/COLFUN:). Mirrors Expression.sql closely enough
    for the reference's condition-string contract; unknown classes fall
    back to ``classname(args...)``. ``defs`` maps CommonExpressionDef
    ids to their subtrees so With/CommonExpressionRef (Spark 4's
    common-expression elimination, e.g. BETWEEN) renders inline."""
    cls = e["_cls"]
    ch = e["_children"]
    if cls == "AttributeReference":
        return e.get("name", "?")
    if cls == "OuterReference":
        if ch:
            return _jsql(ch[0], defs)
        inner = _decode_field(e.get("e"))  # leaf node: attr lives in field 'e'
        return _jsql(inner, defs) if isinstance(inner, dict) else "outer()"
    if cls == "Between":
        # Between wraps a With whose child is the expanded >= AND <=
        return _jsql(ch[0], defs) if ch else "between()"
    if cls == "With":
        # With(child, def1, def2, ...): register defs, render the child
        new_defs = dict(defs or {})
        for d in ch[1:]:
            if d["_cls"] == "CommonExpressionDef":
                did = d.get("id")
                if isinstance(did, dict):
                    did = did.get("id")
                new_defs[did] = d["_children"][0]
        return _jsql(ch[0], new_defs)
    if cls == "CommonExpressionRef":
        rid = e.get("id")
        if isinstance(rid, dict):
            rid = rid.get("id")
        target = (defs or {}).get(rid)
        return _jsql(target, defs) if target is not None else "ref()"
    if cls == "Literal":
        v = e.get("value")
        if v is None:
            return "NULL"
        if e.get("dataType") in _JSQL_QUOTED_TYPES:
            return f"'{v}'"
        return str(v)
    if cls in ("Cast", "AnsiCast", "TryCast"):
        dt = e.get("dataType")
        dt = _JSQL_TYPE_NAMES.get(dt, dt).upper() if isinstance(dt, str) else "?"
        return f"CAST({_jsql(ch[0], defs)} AS {dt})"
    if cls == "Alias":
        return f"{_jsql(ch[0], defs)} AS {e.get('name')}"
    if cls in _JSQL_BINOPS and len(ch) == 2:
        return (f"({_jsql(ch[0], defs)} {_JSQL_BINOPS[cls]} "
                f"{_jsql(ch[1], defs)})")
    if cls == "Not":
        if ch and ch[0]["_cls"] == "IsNull":
            return f"({_jsql(ch[0]['_children'][0], defs)} IS NOT NULL)"
        if ch and ch[0]["_cls"] == "In":
            inner = ch[0]["_children"]
            args = ", ".join(_jsql(c, defs) for c in inner[1:])
            return f"({_jsql(inner[0], defs)} NOT IN ({args}))"
        return f"(NOT {_jsql(ch[0], defs)})" if ch else "(NOT ?)"
    if cls == "IsNull":
        return f"({_jsql(ch[0], defs)} IS NULL)"
    if cls == "IsNotNull":
        return f"({_jsql(ch[0], defs)} IS NOT NULL)"
    if cls == "In":
        args = ", ".join(_jsql(c, defs) for c in ch[1:])
        return f"({_jsql(ch[0], defs)} IN ({args}))"
    if cls == "CaseWhen":
        kids = list(ch)
        parts = []
        while len(kids) >= 2:
            c, v = kids.pop(0), kids.pop(0)
            parts.append(f"WHEN {_jsql(c, defs)} THEN {_jsql(v, defs)}")
        s = "CASE " + " ".join(parts)
        if kids:
            s += f" ELSE {_jsql(kids[0], defs)}"
        return s + " END"
    if cls == "AggregateExpression":
        inner = ch[0] if ch else None
        if inner is None:
            return "agg()"
        args = ", ".join(_jsql(c, defs) for c in inner["_children"])
        distinct = "DISTINCT " if e.get("isDistinct") else ""
        return f"{inner['_cls'].lower()}({distinct}{args})"
    if cls == "WindowExpression":
        return f"{_jsql(ch[0], defs)} OVER (...)" if ch else "window()"
    if cls in _JSUBQ:
        return "scalarsubquery()" if cls == "ScalarSubquery" else f"{cls.lower()}()"
    args = ", ".join(_jsql(c, defs) for c in ch)
    return f"{cls.lower()}({args})"


class _JsonWalkError(Exception):
    """A plan shape the JSON walk can't express — JVM walk takes over."""


def _json_walk_mode() -> str:
    import os
    return os.environ.get("HPL_JSON_WALK", "1")


# ---------------------------------------------------------------------------
# statement classification + public API
# ---------------------------------------------------------------------------

def _ident_from_unresolved(node) -> str | None:
    """Best-effort multipart identifier from parsed (unresolved) nodes."""
    for acc in ("multipartIdentifier", "nameParts", "identifier", "name"):
        try:
            v = getattr(node, acc)()
            if hasattr(v, "size"):
                return ".".join(str(v.apply(i)) for i in range(v.size()))
            if hasattr(v, "toString"):
                return v.toString()
            return str(v)
        except Exception:
            continue
    return None


def _collect_unresolved_tables(node) -> list[str]:
    """Multipart names of every UnresolvedRelation in a parsed subtree."""
    out: list[str] = []
    try:
        if _cls(node) == "UnresolvedRelation":
            name = _ident_from_unresolved(node)
            if name:
                out.append(name)
        for c in _seq(node.children()):
            out.extend(_collect_unresolved_tables(c))
    except Exception:
        pass
    return out


def _collect_unresolved_attrs(expr) -> list[str]:
    """Names of every UnresolvedAttribute in an expression subtree."""
    out: list[str] = []
    try:
        if _cls(expr) == "UnresolvedAttribute":
            out.append(str(expr.name()))
        for c in _seq(expr.children()):
            out.extend(_collect_unresolved_attrs(c))
    except Exception:
        pass
    return out


def _dml_where(w: _Walker, parsed) -> list[str]:
    """WHERE condition of an UPDATE/DELETE node as a condition-tag list.

    ``condition()`` is Option[Expression] on UpdateTable and a plain
    Expression (TrueLiteral when absent) on Spark 3.4+ DeleteFromTable.
    """
    try:
        c = parsed.condition()
    except Exception:
        return []
    try:
        c = _opt(c)
    except Exception:
        pass
    if c is None:
        return []
    text = w._expr_sql(c)
    if text.lower() == "true":
        return []
    return ["WHERE:" + text]


def _statement_lineage(spark: SparkSession, sql: str,
                       traverse_views: bool = False) -> StatementLineage:
    w = _Walker(spark, traverse_views)
    parsed = w.parse(sql)
    cls = _cls(parsed)

    # --- DDL classification (LineParser.java:310-327,435-440): record
    # tables + operation; never execute.
    def ddl(op: str, node=None, is_db: bool = False) -> StatementLineage:
        target = None
        probe = node if node is not None else parsed
        for getter in ("child", "table", "name", "namespace"):
            try:
                target = _ident_from_unresolved(getattr(probe, getter)())
                if target:
                    break
            except Exception:
                continue
        if target is None:
            target = _ident_from_unresolved(probe)
        out = ({target} if is_db else {w.fill_db(target)}) if target else set()
        return StatementLineage(sql, op, [], set(), out)

    if cls in ("DropTable", "DropTableCommand", "DropView"):
        return ddl("DROP")
    if cls in ("TruncateTable", "TruncateTableCommand", "TruncatePartition"):
        return ddl("TRUNCATE")
    if cls in ("LoadData", "LoadDataCommand"):
        return ddl("LOAD")
    if cls in _ALTER_CLASSES or cls.startswith("Alter"):
        # namespace-level ALTERs target a database, not a table — no
        # default-db qualification
        return ddl("ALTER", is_db="Namespace" in cls)
    if cls in ("SetCatalogAndNamespace", "SetNamespaceCommand", "UseStatement"):
        # USE db (LineParser.java:270-273): execute — updates session state only
        spark.sql(sql)
        return StatementLineage(sql, "DEFAULT", [], set(), set())

    if cls == "DeleteFromTable":
        # DELETE FROM t WHERE c: Spark-era DML (the reference predates
        # it; companion to the MERGE classification below). The target
        # is an output; the WHERE condition is recorded on a whole-row
        # ColLine (alias '*') the same way Filter conditions are tagged.
        target = _ident_from_unresolved(parsed.table())
        tgt = w.fill_db(target) if target else None
        conds = _dml_where(w, parsed)
        edges = [ColLine(tgt, None, "*", [], conds)] if conds and tgt else []
        # the target is read (WHERE evaluates against it) AND written
        return StatementLineage(sql, "DELETE", edges,
                                {tgt} if tgt else set(),
                                {tgt} if tgt else set())

    if cls == "UpdateTable":
        # UPDATE t SET c = expr [WHERE ...]: one ColLine per assignment.
        # An unresolved v2 DML plan cannot be analyzed against parquet
        # views, so sources are the attribute names in the assignment
        # value qualified with the target table — classification +
        # best-effort edges, like MERGE.
        target = _ident_from_unresolved(parsed.table())
        tgt = w.fill_db(target) if target else None
        conds = _dml_where(w, parsed)
        edges = []
        try:
            for a in _seq(parsed.assignments()):
                col = w._expr_sql(a.key()).split(".")[-1].strip("`")
                srcs = {(f"{tgt}.{n.split('.')[-1]}" if tgt else n)
                        for n in _collect_unresolved_attrs(a.value())}
                edges.append(ColLine(tgt, col, col, sorted(srcs), conds))
        except Exception:
            pass
        # the target is read (assignment values and WHERE reference its
        # columns — the edges' sources) AND written, so it appears in
        # both table sets, matching what the col_lines themselves say.
        return StatementLineage(sql, "UPDATE", edges,
                                {tgt} if tgt else set(),
                                {tgt} if tgt else set())

    if cls == "InsertIntoStatement":
        return _insert_node_lineage(spark, sql, parsed, w)

    if cls == "InsertIntoDir":
        # INSERT OVERWRITE DIRECTORY '/path' ... SELECT: the target is a
        # filesystem path, not a catalog table — record it verbatim as
        # the output and trace the query's column sources (positional
        # binding has no catalog to consult, so aliases stand).
        target = None
        try:
            loc = parsed.storage().locationUri()
            if loc.isDefined():
                target = str(loc.get())
        except Exception:
            pass
        return _query_lineage(spark, w, sql, parsed.child(), "INSERT",
                              target)

    if cls == "UnresolvedWith":
        # WITH ... INSERT INTO t SELECT ... (also the multi-insert
        # variant): the CTE scope must stay wrapped around the insert's
        # query for the analyzer to resolve it, so rebuild the
        # UnresolvedWith with the query subtree in the insert's place.
        kids = parsed.children()
        nodes = [kids.apply(i) for i in range(kids.size())]
        inserts = []
        for i, nd in enumerate(nodes):
            if _cls(nd) == "InsertIntoStatement":
                inserts.append((i, [nd]))
            elif _cls(nd) == "Union":
                uk = nd.children()
                branches = [uk.apply(j) for j in range(uk.size())]
                if branches and all(_cls(b) == "InsertIntoStatement"
                                    for b in branches):
                    inserts.append((i, branches))
        if inserts:
            results = []
            for i, branches in inserts:
                for b in branches:
                    scoped = _with_child_replaced(spark, parsed, nodes, i,
                                                  b.query())
                    results.append(_insert_node_lineage(
                        spark, sql, b, _Walker(spark, traverse_views),
                        query_plan=scoped))
            if len(results) == 1:
                return results[0]
            return StatementLineage(
                sql, "INSERT",
                [e for r in results for e in r.col_lines],
                set().union(*(r.input_tables for r in results)),
                set().union(*(r.output_tables for r in results)))

    if cls == "Union":
        # Hive-style multi-insert: FROM src INSERT INTO a ... INSERT
        # INTO b ... parses as a Union of InsertIntoStatements
        # (reference: one TOK_QUERY with several TOK_INSERT children,
        # LineParser.java:200-214). Trace each branch with a fresh
        # walker and merge the edges into one statement result.
        kids = parsed.children()
        nodes = [kids.apply(i) for i in range(kids.size())]
        if nodes and all(_cls(n) == "InsertIntoStatement" for n in nodes):
            branches = [
                _insert_node_lineage(spark, sql, n,
                                     _Walker(spark, traverse_views))
                for n in nodes
            ]
            return StatementLineage(
                sql, "INSERT",
                [e for b in branches for e in b.col_lines],
                set().union(*(b.input_tables for b in branches)),
                set().union(*(b.output_tables for b in branches)))

    if cls == "MergeIntoTable":
        # MERGE INTO t USING s ON ...: upsert classification — target is
        # an output, every relation under USING is an input. Column
        # lineage of the assignment lists would need a v2 (transactional)
        # target to analyze, which parquet views are not; classification
        # mirrors how the reference handles its DDL rows (tables +
        # operation, no edges). The executable upsert path is
        # operators/merge.py.
        target = _ident_from_unresolved(parsed.targetTable())
        for t in _collect_unresolved_tables(parsed.sourceTable()):
            w.input_tables.add(w.fill_db(t))
        return StatementLineage(sql, "INSERT", [], set(w.input_tables),
                                {w.fill_db(target)} if target else set())

    if cls in ("CreateTableAsSelect", "CreateTableAsSelectStatement",
               "ReplaceTableAsSelect"):
        target = _ident_from_unresolved(parsed.name())
        try:
            query = parsed.query()
        except Exception:
            query = None
        return _query_lineage(spark, w, sql, query, "CREATETABLE",
                              w.fill_db(target) if target else None)

    if cls == "CreateView":
        # CREATE VIEW v AS SELECT ...: the reference has no view handler
        # (only TOK_CREATETABLE, LineParser.java:319-321); treating the
        # view body like a CTAS body is the natural superset — edges
        # flow into the view's columns.
        target = _ident_from_unresolved(parsed.child())
        try:
            query = parsed.query()
        except Exception:
            query = None
        return _query_lineage(spark, w, sql, query, "CREATETABLE",
                              w.fill_db(target) if target else None)

    if cls == "CreateTableLikeCommand":
        # CREATE TABLE t LIKE s: schema-level dependency — the source
        # table is an input (its schema flows), no column edges.
        tgt = _ident_from_unresolved(parsed.targetTable())
        src_t = _ident_from_unresolved(parsed.sourceTable())
        return StatementLineage(
            sql, "CREATETABLE", [],
            {w.fill_db(src_t)} if src_t else set(),
            {w.fill_db(tgt)} if tgt else set())

    if cls in ("CreateTable", "CreateTableCommand"):
        return ddl("CREATETABLE", parsed)

    # plain query
    return _query_lineage(spark, w, sql, parsed, "SELECT", None)


def _with_child_replaced(spark: SparkSession, parent, nodes: list,
                         idx: int, replacement):
    """Rebuild ``parent`` with ``nodes[idx]`` swapped for ``replacement``
    (TreeNode.withNewChildren via a Scala Seq)."""
    jvm = spark.sparkContext._jvm
    arr = jvm.java.util.ArrayList()
    for i, nd in enumerate(nodes):
        arr.add(replacement if i == idx else nd)
    seq = jvm.scala.jdk.javaapi.CollectionConverters.asScala(arr).toSeq()
    return parent.withNewChildren(seq)


def _insert_node_lineage(spark: SparkSession, sql: str, node,
                         w: _Walker, query_plan=None) -> StatementLineage:
    """Lineage of one InsertIntoStatement node (a standalone INSERT, one
    branch of a multi-insert, or — with ``query_plan`` — an insert whose
    query must stay wrapped in its enclosing CTE scope)."""
    target = _ident_from_unresolved(node.table())
    query = query_plan if query_plan is not None else node.query()
    # INSERT INTO t (b, a) ...: the user column list overrides the
    # catalog's positional order (reference only knows positional,
    # LineParser.java:143-152; by-name is the Spark-era extension)
    user_cols = None
    try:
        uc = node.userSpecifiedCols()
        if uc.size() > 0:
            user_cols = [str(uc.apply(i)) for i in range(uc.size())]
    except Exception:
        pass
    by_name = False
    try:
        by_name = bool(node.byName())
    except Exception:
        pass
    return _query_lineage(spark, w, sql, query, "INSERT",
                          w.fill_db(target) if target else None,
                          user_cols=user_cols, by_name=by_name,
                          dynamic_parts=_dynamic_partitions(node))


def _dynamic_partitions(node) -> set[str] | None:
    """Names of the DYNAMIC partition columns in an INSERT's PARTITION
    spec.

    ``PARTITION (p1='a', p2)`` -> {'p2'}: only p2's value comes from a
    trailing select expression; the static p1 consumes nothing. Returns
    None when there is no PARTITION clause at all — Hive then treats
    every partition column as dynamic (they all trail the select).
    """
    try:
        spec = node.partitionSpec()
        if spec.isEmpty():
            return None
        dyn: set[str] = set()
        it = spec.iterator()
        while it.hasNext():
            kv = it.next()
            if kv._2().isEmpty():
                dyn.add(str(kv._1()).lower())
        return dyn
    except Exception:
        return None


def _query_lineage(spark: SparkSession, w: _Walker, sql: str, parsed_query,
                   operation: str, target_table: str | None,
                   user_cols: list[str] | None = None,
                   by_name: bool = False,
                   dynamic_parts: set[str] | None = None) -> StatementLineage:
    if parsed_query is None:
        return StatementLineage(sql, operation, [], set(),
                                {target_table} if target_table else set())
    analyzed = w.analyze(parsed_query)
    mode = _json_walk_mode()
    edges = None
    if mode != "0":
        try:
            tree = _decode_flat(json.loads(analyzed.toJSON()))
            mapping, conds = w.walk_json(tree)
            edges = w.project_edges_json(tree, mapping, conds)
        except Exception:
            if mode == "strict":
                raise
            edges = None
            w.input_tables.clear()
            w.attr_conds.clear()
            w.cte_defs.clear()
    if edges is None:
        mapping, conds = w.walk(analyzed)
        edges = w.project_edges(analyzed, mapping, conds)

    out_tables = {target_table} if target_table else set()
    if target_table:
        # positional output binding (LineParser.java:120-155): i-th select
        # expression -> i-th physical (non-partition) column of the target,
        # via spark.catalog — the reference's JDBC metadata fetch, minus its
        # split(".") crash (LineParser.java:110-118). An explicit INSERT
        # column list overrides the catalog order.
        # INSERT ... BY NAME matches select aliases to target columns by
        # name, not position (Spark-era extension; no reference analogue).
        phys_cols = None if by_name \
            else (user_cols
                  or _catalog_columns(spark, target_table, dynamic_parts))
        for i, e in enumerate(edges):
            e.target_table = target_table
            e.target_column = phys_cols[i] if phys_cols and i < len(phys_cols) else e.target_alias
    return StatementLineage(sql, operation, edges, set(w.input_tables), out_tables)


def _catalog_columns(spark: SparkSession, table: str,
                     dynamic_parts: set[str] | None = None) -> list[str] | None:
    try:
        data, parts = _table_schema(spark, table)
        # Dynamic-partition inserts put their DYNAMIC partition columns
        # LAST in the select list (Hive semantics); appending only those
        # binds the trailing expressions. Static partition columns
        # (PARTITION (p1='a', ...)) consume no select expression and
        # must not appear, or a mixed static/dynamic spec would bind the
        # trailing expression to the wrong column. dynamic_parts=None
        # means no PARTITION clause -> all partition columns dynamic.
        if dynamic_parts is not None:
            parts = [p for p in parts if p.lower() in dynamic_parts]
        return (data + parts) or None
    except Exception:
        return None


def _table_schema(spark: SparkSession, table: str) -> tuple[list[str], list[str]]:
    """(data_columns, partition_columns) of a catalog/temp table, in
    catalog order.

    Reads CatalogTable metadata straight from the session catalog —
    one metadata fetch + a JSON schema decode (3-4 ms) instead of
    ``spark.catalog.listColumns``'s full Dataset construction (66-104
    ms; medians of 15 calls on four catalog tables, 4-core VM): this
    runs once per INSERT statement.
    """
    jvm = spark.sparkContext._jvm
    name_parts = table.split(".")
    tbl = name_parts[-1]
    db = name_parts[-2] if len(name_parts) > 1 else None
    ti = jvm.org.apache.spark.sql.catalyst.TableIdentifier(
        tbl, jvm.scala.Option.apply(db))
    meta = (spark._jsparkSession.sessionState().catalog()
            .getTempViewOrPermanentTableMetadata(ti))
    fields = [f["name"] for f in json.loads(meta.schema().json())["fields"]]
    pseq = meta.partitionColumnNames()
    parts = [str(pseq.apply(i)) for i in range(pseq.size())]
    part_set = set(parts)
    return [f for f in fields if f not in part_set], parts


def extract_lineage(spark: SparkSession, sql_text: str,
                    traverse_views: bool = False) -> ScriptLineage:
    """Lineage for a (possibly multi-statement) SQL script.

    Equivalent of ``LineParser.parse`` (LineParser.java:83-99) +
    ``getColLines/getInputTables/getOutputTables`` (157-162, 790-792).
    ``traverse_views`` expands view bodies so columns trace through
    view chains to base tables (the reference stops at the view name).
    """
    _py4j_nodelay()
    script = ScriptLineage()
    for stmt in split_statements(sql_text):
        check_supported_syntax(stmt)
        script.statements.append(
            _statement_lineage(spark, stmt, traverse_views))
    return script
