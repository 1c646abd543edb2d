"""SparkSession factory with the engine's canonical configuration.

Local testing runs on ``local[N]`` (one JVM); the configuration is
nevertheless chosen so the same code is correct on a multi-executor
cluster: AQE on (runtime coalescing + skew-join handling), shuffle
partitions sized explicitly, UTC session timezone (oracle comparisons
against DuckDB are timezone-naive), Arrow enabled for the Pandas-UDF
paths.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Runtime SQL confs the engine depends on. Applied both at build time and
# defensively at run time (``configure``) because the driver's verify
# harness owns its own SparkSession.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores timestamp[ns]; Spark 4 refuses INT64
    # TIMESTAMP(NANOS) unless this legacy conf is set, after which the
    # column arrives as BIGINT nanos (converted in sources/loader.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Oracle (DuckDB) timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: coalesce post-shuffle partitions, split skewed
    # join partitions. Essential at 100 TB; harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas_udf / applyInPandas / mapInPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # toPandas builds the pandas frame column-by-column while FREEING
    # each consumed Arrow batch instead of holding both copies alive;
    # measured 2x on wide result fetches (q12's 60M-row FULL OUTER at
    # sf1.0: 51 s -> 26 s, vs 9.6 s pure compute) — the fetch path,
    # not the plan, was that query's wall.
    "spark.sql.execution.arrow.pyspark.selfDestruct.enabled": "true",
}


def get_spark(app_name: str = "hive_parse_lineage_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the canonical SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions default to the core count — right-sized for local mode;
    on a real cluster AQE coalescing makes the initial number mostly a
    ceiling, and 100 TB jobs would raise it (rule of thumb: total
    shuffle bytes / 128 MB).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**RUNTIME_CONFS, **(extra_confs or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _py4j_nodelay()
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally-created session.

    All confs in RUNTIME_CONFS are runtime-settable (verified on
    PySpark 4.1.2); this makes the engine robust when embedded in a
    host application that owns the session.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - non-settable conf on some build
            pass
    _py4j_nodelay()
    return spark


# py4j's private list of live JVM-side connections (py4j.GatewayServer).
_PY4J_CONNECTIONS_FIELD = "connections"
# Set on a py4j ClientServerConnection once _py4j_nodelay has run on it.
_NODELAY_DONE = "_hpl_nodelay_done"
# (gateway, its live GatewayServer.connections list or None if unreachable)
_jvm_connections: tuple = (None, None)


def _jvm_socket():
    """The JVM end (a ``java.net.Socket``) of this thread's py4j
    connection, or None. Opens the connection if the thread has none.

    There is no public API for it: it is read from py4j's private
    ``GatewayServer.connections`` by reflection, as the entry whose
    remote port is this connection's local port. The list is read
    without py4j's lock, so entries of other threads' closing
    connections may be null; they are skipped and never touched.
    """
    global _jvm_connections
    gateway = SparkContext._gateway
    cached_gateway, conns = _jvm_connections
    if cached_gateway is not gateway:
        conns = None
        try:
            fld = (gateway.jvm.java.lang.Class.forName("py4j.GatewayServer")
                   .getDeclaredField(_PY4J_CONNECTIONS_FIELD))
            fld.setAccessible(True)
            conns = fld.get(gateway.java_gateway_server)
        finally:
            # cached either way: a missing field is not looked up again
            _jvm_connections = (gateway, conns)
    if conns is None:
        return None
    snapshot = conns.toArray()  # opens this thread's connection if new
    port = gateway._gateway_client.get_thread_connection().socket.getsockname()[1]
    # newest connections are appended last
    for i in range(len(snapshot) - 1, -1, -1):
        entry = snapshot[i]
        sock = entry.getSocket() if entry is not None else None
        if sock is not None and sock.getPort() == port:
            return sock
    return None


def _py4j_nodelay() -> None:
    """Set TCP_NODELAY on the JVM end of this thread's py4j connection.

    py4j's Java side writes each reply through an 8192-char
    BufferedWriter on a socket without TCP_NODELAY. A longer reply goes
    out in two writes, and Nagle holds the tail until Python's delayed
    ACK fires: a flat ~44 ms on every reply over 8 KB (an analyzed
    plan's ``toJSON()`` usually is). py4j opens one connection per
    Python thread and closes it when the thread dies, so each new
    thread needs this once; afterwards it costs one attribute check.
    Any failure leaves the connection as it was; the caller proceeds.
    """
    gateway = SparkContext._gateway
    if gateway is None:
        return
    try:
        client = gateway._gateway_client
        if getattr(client.get_thread_connection(), _NODELAY_DONE, False):
            return
        sock = _jvm_socket()
        setattr(client.get_thread_connection(), _NODELAY_DONE, True)
        if sock is not None:
            sock.setTcpNoDelay(True)
    except Exception:
        pass
