"""Seeded lineage-script generator whose grammar knows the answer.

Every statement is built from typed expression rules that record, as they
emit SQL, which base columns feed each output column. A script therefore
carries, by construction, the column-level edges ``/fetch`` must return
(with and without view traversal) and the table sets and operations
``/tables`` must return. A small share of scripts carries one invalid
statement; those expect HTTP 400.

Statements only read tables and views that exist before serving starts
(``CATALOG_DDL``): lineage analyzes statements without running them, so a
table created by one statement is not visible to the next.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

# Temp views registered by ``load_tables`` (resolved as ``default.<name>``)
# with the columns the grammar draws from, by type.
BASE_TABLES: dict[str, dict[str, str]] = {
    "orders": {"o_orderkey": "long", "o_custkey": "long",
               "o_orderstatus": "string", "o_totalprice": "double",
               "o_orderpriority": "string"},
    "customer": {"c_custkey": "long", "c_name": "string",
                 "c_nationkey": "long", "c_acctbal": "double",
                 "c_mktsegment": "string"},
    "lineitem": {"l_orderkey": "long", "l_partkey": "long",
                 "l_suppkey": "long", "l_quantity": "double",
                 "l_extendedprice": "double", "l_discount": "double",
                 "l_returnflag": "string"},
    "part": {"p_partkey": "long", "p_name": "string", "p_brand": "string",
             "p_size": "long", "p_retailprice": "double"},
    "supplier": {"s_suppkey": "long", "s_name": "string",
                 "s_nationkey": "long", "s_acctbal": "double"},
    "nation": {"n_nationkey": "long", "n_name": "string",
               "n_regionkey": "long"},
    "events": {"event_id": "long", "user_id": "long",
               "event_type": "string", "value": "double"},
}

# Equi-join keys between base tables.
JOINS: list[tuple[str, str, str, str]] = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("events", "user_id", "customer", "c_custkey"),
]

# Catalog objects the service sees: a parquet history table, a two-level
# view chain over it, and typed INSERT targets.
SINKS: dict[str, list[tuple[str, str]]] = {
    "mart.sink_lds": [("c0", "long"), ("c1", "double"), ("c2", "string")],
    "mart.sink_sd": [("c0", "string"), ("c1", "double")],
    "mart.sink_ll": [("c0", "long"), ("c1", "long")],
    "mart.sink_sldd": [("c0", "string"), ("c1", "long"), ("c2", "double"),
                       ("c3", "double")],
    "mart.sink_s": [("c0", "string")],
}
PART_SINK = "mart.sink_part"   # (c0 long, c1 double) PARTITIONED BY (ds)

_HIST = "mart.orders_hist"
VIEWS: dict[str, dict[str, tuple[str, frozenset[str]]]] = {
    # view -> column -> (type, base columns under view traversal)
    "mart.v_open_orders": {
        "o_orderkey": ("long", frozenset({f"{_HIST}.o_orderkey"})),
        "o_custkey": ("long", frozenset({f"{_HIST}.o_custkey"})),
        "o_totalprice": ("double", frozenset({f"{_HIST}.o_totalprice"}))},
    "mart.v_cust_spend": {
        "o_custkey": ("long", frozenset({f"{_HIST}.o_custkey"})),
        "total": ("double", frozenset({f"{_HIST}.o_totalprice"})),
        "n_orders": ("long", frozenset())},
}

CATALOG_DDL: list[str] = [
    "CREATE DATABASE IF NOT EXISTS mart",
    f"CREATE TABLE {_HIST} (o_orderkey BIGINT, o_custkey BIGINT, "
    "o_totalprice DOUBLE, o_orderstatus STRING) USING parquet",
    "CREATE VIEW mart.v_open_orders AS SELECT o_orderkey, o_custkey, "
    f"o_totalprice FROM {_HIST} WHERE o_orderstatus = 'O'",
    "CREATE VIEW mart.v_cust_spend AS SELECT o_custkey, "
    "SUM(o_totalprice) AS total, COUNT(*) AS n_orders "
    "FROM mart.v_open_orders GROUP BY o_custkey",
    f"CREATE TABLE {PART_SINK} (c0 BIGINT, c1 DOUBLE, ds STRING) "
    "USING parquet PARTITIONED BY (ds)",
] + [
    f"CREATE TABLE {name} ("
    + ", ".join(f"{c} {'BIGINT' if t == 'long' else t.upper()}"
                for c, t in cols) + ") USING parquet"
    for name, cols in SINKS.items()
]

# Mixes, dealt in shuffled rounds (see ``LineageScriptGen._deal``) so that
# every run sees the same proportions and its latency percentiles compare
# like with like across seeds. The proportions below are unverified
# assumptions, not measured traffic: no trace of real lineage requests is
# available, so they were chosen to cover every statement shape and the
# 1-25 statement range at a plausible weight. They set much of the
# workload's latency and throughput, so change them only with a source.
# Statements per script (mostly single statements, a tail of ETL scripts):
SCRIPT_SIZES = (1,) * 20 + (2, 2, 3, 4, 6, 10, 25)
# 40 % SELECT, 22 % INSERT, 6 % INSERT into a partition, 12 % CTAS or
# CREATE VIEW, 20 % DROP / TRUNCATE / ALTER:
STATEMENT_KINDS = (("select",) * 20 + ("insert",) * 11
                   + ("insert_partition",) * 3 + ("create",) * 6
                   + ("drop", "truncate", "alter") * 3 + ("alter",))
# FROM clauses: 45 % one table, 40 % a two-table join, 15 % a view
FROM_KINDS = ("table",) * 9 + ("join",) * 8 + ("view",) * 3
QUERY_SHAPES = ("plain", "plain", "agg", "cte", "union", "derived", "window",
                "subq")
# one script in 33 (3 %) carries an invalid statement and expects HTTP 400
VALIDITY = (False,) + (True,) * 32
ENDPOINTS = ("/fetch", "/fetch", "/fetch?traverse_views=1", "/tables")

_SQL_TYPE = {"long": "BIGINT", "double": "DOUBLE", "string": "STRING"}


@dataclass(frozen=True)
class Col:
    """A column visible in a query scope: the SQL that names it, its type,
    and its base-column sources without and with view traversal."""
    sql: str
    type: str
    plain: frozenset[str]
    deep: frozenset[str]


@dataclass
class Query:
    sql: str
    outputs: list[tuple[str, Col]]          # (alias, column)
    inputs: set[str] = field(default_factory=set)


@dataclass
class Statement:
    sql: str
    operation: str
    edges: list[tuple]        # (target_table, target_column, alias, plain, deep)
    inputs: set[str]
    outputs: set[str]


@dataclass
class Script:
    """One request body and everything its responses must contain."""
    text: str
    endpoint: str             # "/fetch", "/fetch?traverse_views=1", "/tables"
    statements: list[Statement]
    valid: bool

    def expected_edges(self) -> list[tuple]:
        deep = self.endpoint.endswith("traverse_views=1")
        return sorted(((t, c, a, tuple(sorted(d if deep else p)))
                       for s in self.statements for (t, c, a, p, d) in s.edges),
                      key=_edge_key)

    def expected_tables(self) -> dict:
        return {
            "input_tables": sorted(set().union(
                *(s.inputs for s in self.statements))),
            "output_tables": sorted(set().union(
                *(s.outputs for s in self.statements))),
            "operations": [s.operation for s in self.statements],
        }


def _edge_key(edge: tuple) -> tuple:
    # SELECT edges have no target table or column (None)
    return tuple("" if x is None else x for x in edge)


def response_edges(body: list[dict]) -> list[tuple]:
    """The ``/fetch`` response in ``Script.expected_edges`` form."""
    return sorted(((e["target_table"], e["target_column"], e["target_alias"],
                    tuple(sorted(e["sources"]))) for e in body), key=_edge_key)


class LineageScriptGen:
    """Deterministic stream of scripts for one seed and stream id."""

    def __init__(self, seed: int, stream: int = 0):
        if not 0 <= stream < 100:
            raise ValueError("stream must be in [0, 100)")
        self.rng = random.Random(seed * 1_000_003 + stream)
        self.stream = stream
        self.uid = 0
        self._decks: dict[str, list] = {}

    # -- helpers -----------------------------------------------------------
    def _deal(self, deck: str, cards: tuple):
        """Next card of a shuffled ``deck``; a new round starts when it runs
        out, so every stretch of requests sees the same mix."""
        hand = self._decks.get(deck)
        if not hand:
            hand = self._decks[deck] = list(cards)
            self.rng.shuffle(hand)
        return hand.pop()

    def _lit(self) -> int:
        # unique per statement, so no two request texts are the same
        return (self.uid * 7 + self.rng.randrange(7)) * 100 + self.stream

    @staticmethod
    def _base_cols(table: str, alias: str) -> list[Col]:
        out = []
        for col, typ in BASE_TABLES[table].items():
            src = frozenset({f"default.{table}.{col}"})
            out.append(Col(f"{alias}.{col}", typ, src, src))
        return out

    @staticmethod
    def _view_cols(view: str, alias: str) -> list[Col]:
        return [Col(f"{alias}.{col}", typ, frozenset({f"{view}.{col}"}), deep)
                for col, (typ, deep) in VIEWS[view].items()]

    def _of(self, cols: list[Col], typ: str) -> list[Col]:
        return [c for c in cols if c.type == typ]

    # -- expressions ---------------------------------------------------------
    def expr(self, scope: list[Col], typ: str) -> Col:
        """A scalar expression of ``typ`` over ``scope`` with its sources."""
        r = self.rng
        cands = self._of(scope, typ)
        longs, dbls, strs = (self._of(scope, t)
                             for t in ("long", "double", "string"))
        if not cands:
            if typ == "string" and scope:
                c = r.choice(scope)
                return Col(f"CAST({c.sql} AS STRING)", typ, c.plain, c.deep)
            if typ == "double" and longs:
                c = r.choice(longs)
                return Col(f"({c.sql} * 1.5)", typ, c.plain, c.deep)
            if typ == "long" and dbls:
                c = r.choice(dbls)
                return Col(f"CAST(FLOOR({c.sql}) AS BIGINT)", typ,
                           c.plain, c.deep)
            lit = {"long": "7", "double": "0.5", "string": "'x'"}[typ]
            return Col(f"CAST({lit} AS {_SQL_TYPE[typ]})", typ,
                       frozenset(), frozenset())
        a = r.choice(cands)
        b = r.choice(cands)
        if typ == "long":
            one = [a.sql, f"({a.sql} + {r.randrange(1, 99)})",
                   f"abs({a.sql})", f"coalesce({a.sql}, 0)",
                   f"({a.sql} % {r.randrange(2, 9)})"]
            two = [f"({a.sql} + {b.sql})"]
        elif typ == "double":
            one = [a.sql, f"round({a.sql} * {r.randrange(2, 9)}.5, 2)",
                   f"({a.sql} / {r.randrange(2, 9)})", f"abs({a.sql})"]
            two = [f"({a.sql} - {b.sql})", f"greatest({a.sql}, {b.sql})"]
        else:
            one = [a.sql, f"upper({a.sql})", f"substring({a.sql}, 1, 4)",
                   f"lower({a.sql})"]
            two = [f"concat({a.sql}, '-', {b.sql})",
                   f"coalesce({a.sql}, {b.sql})"]
        k = r.randrange(len(one) + len(two))
        if k < len(one):
            sql, used = one[k], [a]
        else:
            sql, used = two[k - len(one)], [a, b]
        if typ != "string" and longs and r.random() < 0.15:
            cond = r.choice(longs)
            sql = (f"CASE WHEN {cond.sql} > {self._lit()} THEN {sql} "
                   f"ELSE {a.sql} END")
            used.append(cond)
        return Col(sql, typ, frozenset().union(*(u.plain for u in used)),
                   frozenset().union(*(u.deep for u in used)))

    def pred(self, scope: list[Col]) -> str:
        nums = self._of(scope, "long") + self._of(scope, "double")
        if not nums:
            return f"length({self.rng.choice(scope).sql}) > {self._lit()}"
        return f"{self.rng.choice(nums).sql} > {self._lit()}"

    # -- FROM clauses ---------------------------------------------------------
    def from_clause(self) -> tuple[str, list[Col], set[str]]:
        r = self.rng
        source = self._deal("from", FROM_KINDS)
        if source == "table":
            t = r.choice(list(BASE_TABLES))
            return f"{t} t0", self._base_cols(t, "t0"), {f"default.{t}"}
        if source == "join":
            lt, lk, rt, rk = r.choice(JOINS)
            kind = r.choice(["JOIN", "LEFT JOIN", "RIGHT JOIN",
                             "FULL OUTER JOIN"])
            sql = f"{lt} a {kind} {rt} b ON a.{lk} = b.{rk}"
            return (sql, self._base_cols(lt, "a") + self._base_cols(rt, "b"),
                    {f"default.{lt}", f"default.{rt}"})
        v = r.choice(list(VIEWS))
        return f"{v} v", self._view_cols(v, "v"), {v}

    # -- queries --------------------------------------------------------------
    def query(self, types: list[str]) -> Query:
        """A SELECT producing one output per entry of ``types``."""
        return getattr(self, f"_q_{self._deal('shape', QUERY_SHAPES)}")(types)

    def _select(self, scope: list[Col], types: list[str],
                prefix: str = "x") -> tuple[str, list[tuple[str, Col]]]:
        outs = [(f"{prefix}{i}", self.expr(scope, t))
                for i, t in enumerate(types)]
        return ", ".join(f"{c.sql} AS {a}" for a, c in outs), outs

    def _q_plain(self, types):
        frm, scope, inputs = self.from_clause()
        sel, outs = self._select(scope, types)
        return Query(f"SELECT {sel} FROM {frm} WHERE {self.pred(scope)}",
                     outs, inputs)

    def _q_subq(self, types):
        frm, scope, inputs = self.from_clause()
        sel, outs = self._select(scope, types)
        t = self.rng.choice(["customer", "orders", "part"])
        col = {"customer": "c_acctbal", "orders": "o_totalprice",
               "part": "p_retailprice"}[t]
        nums = self._of(scope, "double") or self._of(scope, "long")
        c = self.rng.choice(nums)
        sql = (f"SELECT {sel} FROM {frm} WHERE {c.sql} > "
               f"(SELECT avg({col}) - {self._lit()} FROM {t})")
        return Query(sql, outs, inputs | {f"default.{t}"})

    def _aggregate(self, scope: list[Col], types: list[str]):
        """(select list, group-by list, outputs) with the first output as
        the grouping key."""
        r = self.rng
        key = self.expr(scope, types[0])
        outs = [("x0", key)]
        for i, t in enumerate(types[1:], start=1):
            if t == "long":
                if r.random() < 0.4:
                    outs.append((f"x{i}", Col("count(*)", t, frozenset(),
                                              frozenset())))
                    continue
                c = r.choice(scope)
                outs.append((f"x{i}", Col(f"count(DISTINCT {c.sql})", t,
                                          c.plain, c.deep)))
            elif t == "double":
                c = self.expr(scope, "double")
                fn = r.choice(["sum", "avg", "max", "min"])
                outs.append((f"x{i}", Col(f"{fn}({c.sql})", t,
                                          c.plain, c.deep)))
            else:
                c = self.expr(scope, "string")
                outs.append((f"x{i}", Col(f"max({c.sql})", t,
                                          c.plain, c.deep)))
        sel = ", ".join(f"{c.sql} AS {a}" for a, c in outs)
        return sel, key.sql, outs

    def _q_agg(self, types):
        frm, scope, inputs = self.from_clause()
        sel, key, outs = self._aggregate(scope, types)
        return Query(f"SELECT {sel} FROM {frm} WHERE {self.pred(scope)} "
                     f"GROUP BY {key}", outs, inputs)

    def _q_cte(self, types):
        inner = self._q_agg(types)
        scope = [Col(f"c.{a}", c.type, c.plain, c.deep)
                 for a, c in inner.outputs]
        sel, outs = self._select(scope, types, prefix="y")
        return Query(f"WITH c AS ({inner.sql}) SELECT {sel} FROM c "
                     f"WHERE {self.pred(scope)}", outs, inner.inputs)

    def _q_derived(self, types):
        inner = self._q_plain(types)
        scope = [Col(f"d.{a}", c.type, c.plain, c.deep)
                 for a, c in inner.outputs]
        sel, outs = self._select(scope, types, prefix="y")
        return Query(f"SELECT {sel} FROM ({inner.sql}) d", outs, inner.inputs)

    def _q_union(self, types):
        left, right = self._q_plain(types), self._q_plain(types)
        outs = [(a, Col(a, c.type, c.plain | rc.plain, c.deep | rc.deep))
                for (a, c), (_, rc) in zip(left.outputs, right.outputs)]
        return Query(f"{left.sql} UNION ALL {right.sql}", outs,
                     left.inputs | right.inputs)

    def _q_window(self, types):
        frm, scope, inputs = self.from_clause()
        r = self.rng
        outs = []
        for i, t in enumerate(types):
            if i > 0 and t in ("long", "double") and r.random() < 0.6:
                part = r.choice(scope)
                order = r.choice(scope)
                if t == "long":
                    fn, used = r.choice(["row_number()", "rank()",
                                         "dense_rank()"]), []
                else:
                    v = self.expr(scope, "double")
                    fn, used = f"sum({v.sql})", [v]
                used += [part, order]
                sql = (f"{fn} OVER (PARTITION BY {part.sql} "
                       f"ORDER BY {order.sql})")
                outs.append((f"x{i}", Col(
                    sql, t, frozenset().union(*(u.plain for u in used)),
                    frozenset().union(*(u.deep for u in used)))))
            else:
                outs.append((f"x{i}", self.expr(scope, t)))
        sel = ", ".join(f"{c.sql} AS {a}" for a, c in outs)
        return Query(f"SELECT {sel} FROM {frm} WHERE {self.pred(scope)}",
                     outs, inputs)

    # -- statements -----------------------------------------------------------
    def statement(self) -> Statement:
        r = self.rng
        self.uid += 1
        kind = self._deal("kind", STATEMENT_KINDS)
        if kind == "select":
            n = r.randint(1, 5)
            q = self.query([r.choice(["long", "double", "string"])
                            for _ in range(n)])
            return Statement(q.sql, "SELECT",
                             [(None, None, a, c.plain, c.deep)
                              for a, c in q.outputs], q.inputs, set())
        if kind == "insert":
            sink = r.choice(list(SINKS))
            cols = SINKS[sink]
            q = self.query([t for _, t in cols])
            verb = r.choice(["INSERT INTO", "INSERT OVERWRITE TABLE"])
            return Statement(
                f"{verb} {sink} {q.sql}", "INSERT",
                [(sink, tc, a, c.plain, c.deep)
                 for (tc, _), (a, c) in zip(cols, q.outputs)],
                q.inputs, {sink})
        if kind == "insert_partition":
            q = self.query(["long", "double"])
            spec = r.choice(["static", "dynamic"])
            if spec == "static":
                sql = (f"INSERT INTO {PART_SINK} PARTITION "
                       f"(ds='{self._lit()}') {q.sql}")
                targets = ["c0", "c1"]
            else:
                q = self.query(["long", "double", "string"])
                sql = f"INSERT INTO {PART_SINK} PARTITION (ds) {q.sql}"
                targets = ["c0", "c1", "ds"]
            return Statement(sql, "INSERT",
                             [(PART_SINK, tc, a, c.plain, c.deep)
                              for tc, (a, c) in zip(targets, q.outputs)],
                             q.inputs, {PART_SINK})
        if kind == "create":
            q = self.query([r.choice(["long", "double", "string"])
                            for _ in range(r.randint(1, 4))])
            if r.random() < 0.5:
                name = f"mart.ctas_{self.uid}_{self.stream}"
                sql = f"CREATE TABLE {name} USING parquet AS {q.sql}"
            else:
                name = f"mart.view_{self.uid}_{self.stream}"
                sql = f"CREATE VIEW {name} AS {q.sql}"
            return Statement(sql, "CREATETABLE",
                             [(name, a, a, c.plain, c.deep)
                              for a, c in q.outputs], q.inputs, {name})
        sink = r.choice(list(SINKS))
        if kind == "drop":
            name = f"mart.stage_{self.uid}_{self.stream}"
            return Statement(f"DROP TABLE IF EXISTS {name}", "DROP", [], set(),
                             {name})
        if kind == "truncate":
            return Statement(f"TRUNCATE TABLE {PART_SINK} PARTITION "
                             f"(ds='{self._lit()}')", "TRUNCATE", [], set(),
                             {PART_SINK})
        return Statement(f"ALTER TABLE {sink} ADD COLUMNS "
                         f"(z_{self.uid} STRING)", "ALTER", [], set(), {sink})

    def invalid_statement(self) -> str:
        self.uid += 1
        t = self.rng.choice(list(BASE_TABLES))
        return self.rng.choice([
            f"SELECT no_such_col_{self.uid} FROM {t}",
            f"SELECT * FROM no_such_table_{self.uid}",
            f"SELEC {self._lit()} FROM {t}",
        ])

    def script(self) -> Script:
        stmts = [self.statement()
                 for _ in range(self._deal("size", SCRIPT_SIZES))]
        texts = [s.sql for s in stmts]
        valid = self._deal("valid", VALIDITY)
        if not valid:
            texts.insert(self.rng.randrange(len(texts) + 1),
                         self.invalid_statement())
        endpoint = self._deal("endpoint", ENDPOINTS)
        return Script(";\n".join(texts) + ";", endpoint, stmts, valid)
