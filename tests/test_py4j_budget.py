"""py4j round-trip budgets of the plan renderer and the DPhyp gate.

Every JVM call from Python is one py4j command. The renderer reads plan
structure from one ``toJSON()`` snapshot, so the only calls it may make
are for text it emits: ``Expression.sql()``, a relation's path,
``LocalRelation`` values, an explicit output select list. These tests
count commands at the gateway client and pin that contract.
"""

from __future__ import annotations

import os
from collections import Counter
from contextlib import contextmanager

import pytest

#: commands of one auto-mode ``dphyp_sql`` call that declines the stock
#: q5 text at sf0.001 (warm NDV cache), as measured before the renderer
#: read plan structure from the snapshot
Q5_DECLINED_BEFORE = 112


@contextmanager
def count_commands(spark):
    """Collect every py4j command sent while the context is open, proxy
    releases (``m`` commands) excepted: py4j sends those in batches
    whenever Python drops JVM references, so they land in whichever
    window happens to be open."""
    client = spark._jvm._gateway_client
    real = client.send_command
    sent: list[str] = []

    def send(command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return real(command, *args, **kwargs)

    client.send_command = send
    try:
        yield sent
    finally:
        del client.send_command


def called_methods(sent: list[str]) -> Counter:
    """Method names of the call commands in ``sent``."""
    return Counter(c.split("\n")[2] for c in sent if c.startswith("c\n"))


def test_reflect_sql_reads_structure_from_the_snapshot(spark, sf_dir):
    """q6's reflection asks the JVM for no node kind, child or output:
    only the snapshot and the text it emits."""
    from xngin_spark import queries as Q
    from xngin_spark.plans.reflect import reflect_sql

    Q.load_all()
    df = Q.QUERIES["q6"](spark, sf_dir)
    with count_commands(spark) as sent:
        sql = reflect_sql(df)
    assert sql.startswith("SELECT") and "parquet.`" in sql
    called = called_methods(sent)
    structural = {"getClass", "getSimpleName", "children", "output"}
    assert not structural & set(called), called
    assert called["toJSON"] == 1


def test_declined_gate_round_trips_within_budget(spark, sf_dir):
    """The auto gate declines stock q5 without rendering it, in no more
    commands than before the renderer and the gate shared one walk."""
    if os.path.basename(sf_dir.rstrip("/")) != "sf0.001":
        pytest.skip("the budget is measured at sf0.001")
    from xngin_spark.engine import Engine
    from xngin_spark.plans.sqlreorder import dphyp_rewrite, dphyp_sql
    from xngin_spark.queries import ORACLE, load_all

    load_all()
    Engine(sf_dir, spark=spark)  # registers the TPC-H views
    sql = ORACLE["q5"]
    assert dphyp_rewrite(spark, sql, "auto") == (sql, [])  # warms the NDV cache
    with count_commands(spark) as sent:
        dphyp_sql(spark, sql, mode="auto")
    assert len(sent) <= Q5_DECLINED_BEFORE, called_methods(sent)
