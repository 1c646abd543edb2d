"""lineage_serve: two closed-loop clients POST lineage scripts to the server.

The server is ``make_server`` over an ``Engine`` on the generated tables,
plus the catalog of ``gen_lineage.CATALOG_DDL``. Each client sends its own
seeded stream of unique scripts, split between ``/fetch``,
``/fetch?traverse_views=1`` and ``/tables``, and checks every response
against the edges, tables and operations the generator expects.
"""

from __future__ import annotations

import http.client
import json
import os
import threading
import time

from common import median, percentile, tail_mean
from gen_lineage import (CATALOG_DDL, SCRIPT_SIZES, LineageScriptGen,
                          Script, response_edges)

CLIENTS = 2
POOL = 600           # scripts generated per client before timing
SAMPLE_STMTS = 60    # statements replayed for the per-statement split
WARM_UP = 27         # requests before timing: one round of the size mix


class _TimedEngine:
    """Engine proxy handed to ``make_server``: spans around the two calls
    the server makes."""

    def __init__(self, engine, tracer):
        self._engine = engine
        self._tracer = tracer

    def lineage(self, sql_text, traverse_views=False):
        with self._tracer.span("engine.lineage"):
            return self._engine.lineage(sql_text,
                                        traverse_views=traverse_views)

    def tables_report(self, sql_text):
        with self._tracer.span("engine.tables_report"):
            return self._engine.tables_report(sql_text)


def check(script: Script, status: int, body) -> bool:
    """Whether a response is the one ``script`` expects."""
    if not script.valid:
        return status == 400
    if status != 200:
        return False
    if script.endpoint == "/tables":
        return body == script.expected_tables()
    return response_edges(body) == script.expected_edges()


class LineageServe:
    name = "lineage_serve"

    def __init__(self, seed: int, tables_dir: str, cache_dir: str):
        self.tables_dir = tables_dir
        self.pools = []
        for c in range(CLIENTS):
            gen = LineageScriptGen(seed, stream=c + 1)
            self.pools.append(iter([gen.script() for _ in range(POOL)]))
        warm = LineageScriptGen(seed, stream=90)
        self.warm = [warm.script() for _ in range(WARM_UP)]
        self.probe = LineageScriptGen(seed, stream=91)
        self.server = None
        self.thread = None
        self.sent: list[Script] = []

    # -- set-up ------------------------------------------------------------
    def load(self, spark, tracer) -> None:
        from hive_parse_lineage_spark.engine import Engine
        self.spark = spark
        self.engine = Engine(spark, sf_dir=self.tables_dir)
        for ddl in CATALOG_DDL:
            spark.sql(ddl)
        self._serve(self.engine)

    def _serve(self, engine, tracer=None) -> None:
        """(Re)start the server over ``engine``; with a ``tracer``, every
        request is a span around the server's ``finish_request``."""
        from hive_parse_lineage_spark.server import make_server
        self.close()
        self.server = make_server(engine)
        if tracer is not None:
            finish = self.server.finish_request

            def traced(request, client_address):
                with tracer.span("server.request"):
                    finish(request, client_address)
            self.server.finish_request = traced
        self.thread = threading.Thread(target=self.server.serve_forever,
                                       kwargs={"poll_interval": 0.05},
                                       daemon=True)
        self.thread.start()

    def instrument(self, tracer, undo: list) -> None:
        """Serve the traced pass through the timing proxy and the request
        span; ``undo`` gets the switch back to the bare engine."""
        self._serve(_TimedEngine(self.engine, tracer), tracer)
        undo.append(lambda: self._serve(self.engine))

    def first_op(self) -> None:
        script = self.probe.script()
        if not check(script, *self._post(script)):
            raise RuntimeError("lineage_serve: first request answered wrong")

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=30)
            self.server = None

    def warm_up(self) -> None:
        for script in self.warm:
            self._post(script)

    # -- measurement ---------------------------------------------------------
    def _post(self, script: Script) -> tuple[int, object]:
        host, port = self.server.server_address[:2]
        conn = http.client.HTTPConnection(host, port, timeout=120)
        try:
            conn.request("POST", script.endpoint, body=script.text.encode(),
                         headers={"Content-Type": "text/plain"})
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read())
        finally:
            conn.close()

    def measure(self, seconds: float, tracer, counters=None) -> dict:
        deadline = time.perf_counter() + seconds
        results: list[list[tuple]] = [[] for _ in range(CLIENTS)]

        def client(c: int) -> None:
            # stop only between rounds of the size mix, so every run sends
            # the same number of the rare large scripts that set the tail
            for i, script in enumerate(self.pools[c]):
                if i % len(SCRIPT_SIZES) == 0 and \
                        time.perf_counter() >= deadline:
                    return
                t0 = time.perf_counter()
                status, body = self._post(script)
                ms = (time.perf_counter() - t0) * 1000.0
                results[c].append((script, ms, check(script, status, body),
                                   body))
            raise RuntimeError("lineage_serve: script pool exhausted")

        start = time.perf_counter()
        threads = [threading.Thread(target=client, args=(c,))
                   for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.perf_counter() - start
        done = [r for rs in results for r in rs]
        failed = sum(not ok for _, _, ok, _ in done)
        for script, _, ok, _ in done:
            if not ok:
                print(f"lineage_serve: wrong answer on {script.endpoint} for "
                      f"{script.text[:200]!r}", flush=True)
        lat = [ms for _, ms, _, _ in done]
        stmts = sum(len(s.statements) for s, _, ok, _ in done
                    if ok and s.valid)
        edges = sum(len(b) for s, _, ok, b in done
                    if ok and s.valid and s.endpoint != "/tables")
        fetch_stmts = sum(len(s.statements) for s, _, ok, _ in done
                          if ok and s.valid and s.endpoint != "/tables")
        self.sent += [s for s, _, ok, _ in done if ok and s.valid]
        delta = counters.delta() if counters is not None else None
        return {"attempted": len(done), "failed": failed,
                "latency_p50_ms": median(lat),
                "latency_tail_ms": tail_mean(lat),
                "throughput_per_s": stmts / wall,
                "recall": 1.0 - failed / len(done),
                "edges_per_stmt": edges / max(1, fetch_stmts),
                "deltas": [delta] if delta else [],
                "ops": len(done), "wall_s": wall}

    def layer_metrics(self, tracer, result: dict) -> dict:
        engine_calls = ("engine.lineage", "engine.tables_report")
        request = tracer.durations_ms("server.request")
        overhead = tracer.self_ms("server.request", engine_calls)
        lineage = tracer.durations_ms("engine.lineage")
        out = {"server.request_ms.p50": median(request),
               "server.request_ms.p99": percentile(request, 99),
               "server.overhead_ms.p50": median(overhead),
               "server.overhead_ms.p99": percentile(overhead, 99),
               "engine.lineage_ms.p50": median(lineage),
               "engine.lineage_ms.p99": percentile(lineage, 99),
               "engine.tables_report_ms.p50": median(
                   tracer.durations_ms("engine.tables_report")),
               "plans.lineage.split_ms": median(
                   tracer.durations_ms("plans.lineage.split")),
               "plans.lineage.edges_per_stmt": result["edges_per_stmt"]}
        out.update(self._statement_split())
        return out

    def _statement_split(self) -> dict:
        """Replay a sample of served statements one at a time: the JSON-walk
        strict pre-pass, the full extraction, and Spark's own parse plus
        analysis of the same text (the floor under any walk)."""
        from hive_parse_lineage_spark.plans import lineage as plans
        stmts = [st.sql for s in self.sent for st in s.statements]
        step = max(1, len(stmts) // SAMPLE_STMTS)
        sample = stmts[::step][:SAMPLE_STMTS]
        state = self.spark._jsparkSession.sessionState()
        fallback, extract, floor = 0, [], []
        old = os.environ.get("HPL_JSON_WALK")
        for sql in sample:
            os.environ["HPL_JSON_WALK"] = "strict"
            try:
                plans.extract_lineage(self.spark, sql)
            except Exception:  # any strict-mode failure means a fallback
                fallback += 1
            finally:
                if old is None:
                    os.environ.pop("HPL_JSON_WALK", None)
                else:
                    os.environ["HPL_JSON_WALK"] = old
            t0 = time.perf_counter()
            plans.extract_lineage(self.spark, sql)
            t1 = time.perf_counter()
            state.analyzer().execute(state.sqlParser().parsePlan(sql))
            t2 = time.perf_counter()
            extract.append((t1 - t0) * 1000.0)
            floor.append((t2 - t1) * 1000.0)
        n = max(1, len(sample))
        return {"plans.lineage.extract_ms_per_stmt": sum(extract) / n,
                "plans.lineage.spark_floor_ms_per_stmt": sum(floor) / n,
                "plans.lineage.walk_ms_per_stmt":
                    (sum(extract) - sum(floor)) / n,
                "plans.lineage.json_fallback_ratio": fallback / n}
