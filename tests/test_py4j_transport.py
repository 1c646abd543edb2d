"""py4j transport: replies over 8 KB must not wait on Nagle.

py4j's Java side writes each reply through an 8192-char BufferedWriter
on a socket without TCP_NODELAY, so the tail of any longer reply waits
for Python's delayed ACK: a flat ~44 ms per call. The lineage path pulls
one such reply (``analyzed.toJSON()``) per statement, on a new py4j
connection per server thread. ``session._py4j_nodelay`` sets
TCP_NODELAY on the JVM end of the calling thread's connection; these
tests hold every entry point to it.
"""

from __future__ import annotations

import json
import statistics
import sys
import threading
import time
import urllib.request

from hive_parse_lineage_spark import session
from hive_parse_lineage_spark.engine import Engine
from hive_parse_lineage_spark.server import make_server
from hive_parse_lineage_spark.session import configure

# the stall is ~44 ms; a reply of this size takes ~1-2 ms without it
STALL_FREE_MS = 20.0
REPLY_CHARS = 20_000


def _reply_ms(spark, reps: int = 7) -> float:
    """Median wall of one py4j call whose reply is REPLY_CHARS long."""
    repeat = spark.sparkContext._jvm.org.apache.commons.lang3.StringUtils.repeat
    assert len(repeat("a", REPLY_CHARS)) > 8192
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        repeat("a", REPLY_CHARS)
        walls.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(walls)


def _in_fresh_thread(fn):
    """Run ``fn`` on a new thread (so on a new py4j connection); return
    its result or re-raise its exception."""
    out: dict = {}

    def body():
        try:
            out["value"] = fn()
        except BaseException as exc:  # noqa: BLE001 - re-raised below
            out["error"] = exc

    t = threading.Thread(target=body)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive()
    if "error" in out:
        raise out["error"]
    return out["value"]


def test_large_reply_fast_on_main_thread(spark):
    configure(spark)
    assert _reply_ms(spark) < STALL_FREE_MS


def test_large_reply_fast_on_fresh_thread_after_lineage(spark, tables):
    eng = Engine(spark, register_tables=False)

    def lineage_then_time():
        assert eng.lineage("SELECT n_name FROM nation")
        return _reply_ms(spark)

    assert _in_fresh_thread(lineage_then_time) < STALL_FREE_MS


def test_short_lived_clients_all_get_their_edges(spark, tables):
    """Every server request runs on a new thread, so connections open and
    close concurrently while each request looks up its own; none may
    fail or get another request's answer."""
    srv = make_server(Engine(spark, register_tables=False))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    host, port = srv.server_address
    url = f"http://{host}:{port}/fetch"
    failures: list = []

    def client(c: int) -> None:
        for i in range(25):
            alias = f"a_{c}_{i}"
            sql = (f"SELECT n.n_name AS {alias}, r.r_name AS r_{c}_{i} "
                   "FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey")
            req = urllib.request.Request(url, data=sql.encode(), method="POST")
            try:
                with urllib.request.urlopen(req) as resp:
                    status, edges = resp.status, json.loads(resp.read())
            except Exception as exc:  # noqa: BLE001 - collected, asserted below
                failures.append((alias, repr(exc)))
                continue
            mine = [e for e in edges if e["target_alias"] == alias]
            if (status != 200 or len(edges) != 2 or len(mine) != 1
                    or "default.nation.n_name" not in mine[0]["sources"]):
                failures.append((alias, status, edges))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        clients = [threading.Thread(target=client, args=(c,)) for c in range(8)]
        for c in clients:
            c.start()
        for c in clients:
            c.join(timeout=300)
        assert not any(c.is_alive() for c in clients)
    finally:
        sys.setswitchinterval(switch)
        srv.shutdown()
        srv.server_close()
    assert failures == []


def test_missing_reflection_target_is_a_silent_noop(spark, tables, monkeypatch):
    monkeypatch.setattr(session, "_PY4J_CONNECTIONS_FIELD", "no_such_field")
    monkeypatch.setattr(session, "_jvm_connections", (None, None))
    eng = Engine(spark, register_tables=False)

    def noop_then_lineage():
        session._py4j_nodelay()
        assert session._jvm_socket() is None
        return eng.lineage("SELECT n_name AS nm FROM nation")

    edges = _in_fresh_thread(noop_then_lineage)
    assert [e["target_alias"] for e in edges] == ["nm"]
