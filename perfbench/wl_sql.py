"""sql_declared: one closed-loop client runs the 43 declared queries.

Each query goes through ``Engine.run`` and is fetched whole with
``toPandas()``; its result is then hash-compared with DuckDB's answer on
the same parquet files (``tests/oracle.py`` normalisation), computed in
every run before timing (about 1.5 s), so the answers always belong to
the current query text and oracle. When the hashes differ, the rows are
compared again with float columns allowed one unit of their last
compared place (0.01) apart; see ``within_cent``.
"""

from __future__ import annotations

import random
import sys
import time

from common import median, percentile, tail_mean
from tracing import Tracer

_OFF = Tracer(enabled=False)
WARM_UP_THREADS = 4

# Query family per declared query, for the per-family time split.
FAMILIES = {
    "scan": ("q01", "q02", "q03", "q04", "q05", "q06", "q07", "q08", "q28"),
    "join": ("q09", "q10", "q11", "q12", "q13", "q14", "q15", "q16", "q17"),
    "agg": ("q18", "q19", "q20", "q21", "q22", "q23", "q24", "q37", "q39"),
    "window": ("q25", "q26", "q27", "q38", "q40"),
    "setop": ("q29", "q30", "q31", "q32"),
    "subquery": ("q33", "q34", "q35", "q36"),
    "text": ("q41", "q42", "q43"),
}


def family(name: str) -> str:
    return next(f for f, qs in FAMILIES.items() if name[:3] in qs)


def _answer(pdf) -> list:
    from tests.oracle import value_hash
    return [len(pdf), sorted(pdf.columns), value_hash(pdf)]


def _is_float(s) -> bool:
    """A float column, or Spark's object-of-Decimal form of one."""
    from decimal import Decimal
    from pandas.api import types as pt
    if pt.is_float_dtype(s):
        return True
    vals = s.dropna()
    return (pt.is_object_dtype(s) and len(vals) > 0
            and all(isinstance(v, (Decimal, float)) for v in vals))


def within_cent(got, want) -> bool:
    """Whether two results agree row for row, with every float cell at
    most 0.01 from its twin and every other cell equal after the
    ``tests/oracle.py`` normalisation.

    The hash compares floats rounded to 2 dp, and rounding is not
    continuous: a query that rounds a computed double to cents can land
    within an ulp of a half-cent tie, where Spark (HALF_UP on the
    shortest decimal form) and DuckDB (on the scaled binary value) pick
    opposite neighbours, and each is a correct rounding of a value within
    an ulp of the computed double. Rows are aligned by sorting on all columns, the
    non-float ones first.
    """
    import numpy as np
    import pandas as pd
    from tests.oracle import _norm_series
    cols = sorted(want.columns)
    if len(got) != len(want) or sorted(got.columns) != cols:
        return False
    floats = [c for c in cols if _is_float(got[c]) or _is_float(want[c])]
    others = [c for c in cols if c not in floats]

    def aligned(pdf):
        out = pd.DataFrame({c: _norm_series(pdf[c]).astype(str).to_numpy()
                            for c in others}, index=range(len(pdf)))
        for c in floats:
            out[c] = pdf[c].astype("float64").round(2).to_numpy()
        return out.sort_values(others + floats, ignore_index=True)
    a, b = aligned(got), aligned(want)
    for c in others:
        if not (a[c] == b[c]).all():
            return False
    for c in floats:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        nan = np.isnan(x)
        if not (nan == np.isnan(y)).all():
            return False
        x, y = x[~nan], y[~nan]
        if not (np.abs(x - y)
                <= 0.01 + 1e-9 * np.maximum(np.abs(x), np.abs(y))).all():
            return False
    return True


class SqlDeclared:
    name = "sql_declared"

    def __init__(self, seed: int, tables_dir: str, cache_dir: str):
        from hive_parse_lineage_spark.queries import DECLARED_QUERIES
        self.queries = DECLARED_QUERIES
        self.seed = seed
        self.tables_dir = tables_dir
        from tests.oracle import duckdb_conn
        con = duckdb_conn(tables_dir)
        try:
            self.oracle = {k: _answer(con.execute(q).fetchdf())
                           for k, q in DECLARED_QUERIES.items()}
        finally:
            con.close()
        self.engine = None
        self.oracle_frames: dict = {}

    # -- set-up ------------------------------------------------------------
    def load(self, spark, tracer) -> None:
        from hive_parse_lineage_spark.engine import Engine
        self.engine = Engine(spark, sf_dir=self.tables_dir)

    def first_op(self) -> None:
        self._run_one("q01_scan_project")

    def close(self) -> None:
        self.engine = None

    def warm_up(self) -> None:
        """One unchecked pass, so query compilation and JIT warm-up happen
        before timing. Its queries run four at a time: the pass exists only
        to warm the process, and concurrently it takes about 60 % of the
        serial time."""
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=WARM_UP_THREADS) as pool:
            for future in [pool.submit(self._run_one, name)
                           for name in self.queries]:
                future.result()

    # -- measurement ---------------------------------------------------------
    def _run_one(self, name: str, tracer: Tracer = _OFF,
                 counters=None) -> tuple[float, bool, dict]:
        sql = self.queries[name]
        t0 = time.perf_counter()
        with tracer.span("engine.run"):
            df = self.engine.run(sql)
        with tracer.span("queries.fetch"):
            pdf = df.toPandas()
        ms = (time.perf_counter() - t0) * 1000.0
        delta = counters.delta() if counters is not None else {}
        return ms, self._check(name, pdf), delta

    def _check(self, name: str, pdf) -> bool:
        if _answer(pdf) == self.oracle[name]:
            return True
        if name not in self.oracle_frames:
            from tests.oracle import duckdb_conn
            con = duckdb_conn(self.tables_dir)
            try:
                self.oracle_frames[name] = con.execute(
                    self.queries[name]).fetchdf()
            finally:
                con.close()
        if within_cent(pdf, self.oracle_frames[name]):
            print(f"sql_declared: {name} matches DuckDB only within 0.01 "
                  "(as at a rounded half-cent tie)", file=sys.stderr, flush=True)
            return True
        return False

    def measure(self, seconds: float, tracer, counters=None) -> dict:
        rng = random.Random(self.seed)
        names = list(self.queries)
        lat, per_family, deltas = [], {f: 0.0 for f in FAMILIES}, []
        attempted = failed = 0
        passes: list[float] = []
        start = time.perf_counter()
        # whole passes only: at least one, another while it fits the budget
        while not passes or (time.perf_counter() - start
                             + median(passes) <= seconds):
            rng.shuffle(names)
            t_pass = time.perf_counter()
            for name in names:
                ms, ok, delta = self._run_one(name, tracer, counters)
                attempted += 1
                failed += not ok
                if not ok:
                    print(f"sql_declared: {name} result differs from DuckDB",
                          flush=True)
                lat.append(ms)
                per_family[family(name)] += ms / 1000.0
                deltas.append(delta)
            passes.append(time.perf_counter() - t_pass)
        return {"attempted": attempted, "failed": failed,
                "latency_p50_ms": median(lat),
                "latency_tail_ms": tail_mean(lat),
                "throughput_per_s": len(lat) / (sum(lat) / 1000.0),
                "recall": 1.0 - failed / attempted,
                "passes": len(passes), "family_s": per_family,
                "deltas": deltas, "wall_s": sum(lat) / 1000.0}

    def layer_metrics(self, tracer, result: dict) -> dict:
        run = tracer.durations_ms("engine.run")
        fetch = tracer.durations_ms("queries.fetch")
        n = result["passes"]
        out = {"engine.run_ms.p50": median(run),
               "queries.fetch_ms.p50": median(fetch),
               "queries.fetch_ms.p95": percentile(fetch, 95)}
        for fam, s in result["family_s"].items():
            out[f"queries.family.{fam}_s"] = s / n
        return out
