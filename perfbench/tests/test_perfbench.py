"""Tests for the benchmark itself (not for the program it measures).

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen_corpus  # noqa: E402
import gen_lineage  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402
import wl_sql  # noqa: E402


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_same_seed_same_tables(tmp_path):
    a = gen_tables.write_tables(5, str(tmp_path / "a"))
    b = gen_tables.write_tables(5, str(tmp_path / "b"))
    c = gen_tables.write_tables(6, str(tmp_path / "c"))
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_same_seed_same_corpus(tmp_path):
    ta = gen_corpus.write_inputs(5, str(tmp_path / "a"))
    tb = gen_corpus.write_inputs(5, str(tmp_path / "b"))
    assert ta == tb
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert ta["exact_dups"] == gen_corpus.N_DOCS // gen_corpus.DUP_EVERY - 1


def test_same_seed_same_scripts():
    def texts(seed):
        gen = gen_lineage.LineageScriptGen(seed, stream=1)
        return [gen.script().text for _ in range(50)]
    assert texts(3) == texts(3)
    assert texts(3) != texts(4)
    assert len(set(texts(3))) == 50


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        run.PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == \
        sorted(run.workloads())


def test_within_cent_accepts_rounded_ties_only():
    """A rounded half-cent tie may land on either neighbour; any other
    difference is still a wrong answer."""
    from decimal import Decimal

    import pandas as pd
    want = pd.DataFrame({"k": [2, 1, 3], "v": [75741.88, 10.0, 5.5],
                         "s": ["b", "a", "c"]})
    tie = pd.DataFrame({"k": [1, 2, 3], "s": ["a", "b", "c"],
                        "v": [Decimal("10.00"), Decimal("75741.89"),
                              Decimal("5.50")]})
    assert wl_sql.within_cent(tie, want)
    assert not wl_sql.within_cent(tie.assign(v=[10.0, 75741.9, 5.5]), want)
    assert not wl_sql.within_cent(tie.assign(s=["a", "b", "d"]), want)
    assert not wl_sql.within_cent(tie.iloc[:2], want)
    assert not wl_sql.within_cent(tie.rename(columns={"v": "w"}), want)


@pytest.fixture(scope="module")
def lineage_engine(tmp_path_factory):
    os.environ.setdefault("HPL_JSON_WALK", "strict")
    from hive_parse_lineage_spark.engine import Engine
    from hive_parse_lineage_spark.session import get_spark
    tables = gen_tables.write_tables(
        1, str(tmp_path_factory.mktemp("tables")))
    wh = tmp_path_factory.mktemp("warehouse")
    spark = get_spark("perfbench-tests", cpus=2, shuffle_partitions=2,
                      extra_confs={"spark.sql.warehouse.dir": str(wh),
                                   "spark.ui.showConsoleProgress": "false"})
    engine = Engine(spark, sf_dir=tables)
    for ddl in gen_lineage.CATALOG_DDL:
        spark.sql(ddl)
    return engine


def test_expected_edges_agree_with_extract_lineage(lineage_engine):
    """Statement by statement, the grammar's expected answer equals what
    the engine returns, on every endpoint's view of it."""
    gen = gen_lineage.LineageScriptGen(7, stream=1)
    checked = 0
    while checked < 120:
        script = gen.script()
        for st in script.statements:
            for endpoint in ("/fetch", "/fetch?traverse_views=1", "/tables"):
                one = gen_lineage.Script(st.sql, endpoint, [st], True)
                if endpoint == "/tables":
                    got = lineage_engine.tables_report(st.sql)
                    assert got == one.expected_tables(), st.sql
                else:
                    got = lineage_engine.lineage(
                        st.sql, traverse_views=endpoint.endswith("=1"))
                    assert gen_lineage.response_edges(got) == \
                        one.expected_edges(), (endpoint, st.sql)
            checked += 1


def test_invalid_statements_are_rejected(lineage_engine):
    gen = gen_lineage.LineageScriptGen(7, stream=2)
    for _ in range(6):
        with pytest.raises(Exception):
            lineage_engine.lineage(gen.invalid_statement())
