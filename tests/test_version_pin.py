"""Runtime-version pins for empirically-derived constants.

x190's oracle replays the micro-batch engine's late-data FILTER
watermark, which lags the progress-reported watermark by
X190_FILTER_LAG_BATCHES — observed behavior of the installed Spark,
not a documented contract. On a Spark upgrade this ONE test fails
with instructions, instead of a silently-changed lag turning the
whole x190 gate red with no pointer to the cause (r8 verdict ask #8).

The py4j pin guards ``session._py4j_nodelay``, which reaches py4j's
private ``GatewayServer.connections`` by reflection. An upgrade that
breaks that reflection fails here by name, instead of silently bringing
back the ~44 ms stall on every py4j reply over 8 KB.
"""

import py4j
import pyspark

from hive_parse_lineage_spark.analytics_queries import (
    X190_FILTER_LAG_BATCHES, X190_PINNED_SPARK)


def test_x190_filter_lag_pinned_against_installed_spark():
    assert pyspark.__version__ == X190_PINNED_SPARK, (
        f"Installed Spark {pyspark.__version__} != {X190_PINNED_SPARK}, "
        f"the release X190_FILTER_LAG_BATCHES={X190_FILTER_LAG_BATCHES} "
        "was derived on (analytics_queries.py). Re-derive the filter "
        "lag: run x190's stream with the new Spark, compare kept rows "
        "per batch against the oracle for lag candidates 0/1/2, set "
        "X190_FILTER_LAG_BATCHES to the matching value, then update "
        "X190_PINNED_SPARK.")


PINNED_PY4J = "0.10.9.9"


def test_py4j_nodelay_reflection_pinned_against_installed_py4j(spark):
    from hive_parse_lineage_spark.session import _jvm_socket, configure
    configure(spark)
    sock = _jvm_socket()
    assert py4j.__version__ == PINNED_PY4J and sock is not None \
        and sock.getTcpNoDelay(), (
        f"Installed py4j {py4j.__version__} (pinned {PINNED_PY4J}): the "
        "calling thread's JVM-side socket was not found or lacks "
        "TCP_NODELAY. Re-check session._jvm_socket's reflection on "
        "py4j.GatewayServer.connections (field name, entry type, "
        "getSocket()) against the new py4j, then update PINNED_PY4J.")
