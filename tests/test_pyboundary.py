"""Pin pyboundary's JVM-function memo: after warm-up, a builtin ``F.*``
call costs one py4j round trip, not the three PySpark's uncached
``_get_jvm_function`` takes (two reflection lookups + the call). Also
pin ``literal_array``: a constant array is one exact literal, and no
module builds one element by element."""

from __future__ import annotations

import threading
from collections import Counter

from py4j import clientserver, java_gateway, protocol
from pyspark.sql import functions as F

N_CALLS = 300


def _count_round_trips(monkeypatch, fn) -> Counter:
    """py4j commands this thread sends while ``fn`` runs, by kind.
    Memory commands are counted apart: any JavaObject the collector
    frees (this test's or an earlier test's) sends one, and that is
    not the cost pinned here."""
    me = threading.get_ident()
    sent: Counter = Counter()

    def make(orig):
        def send_command(conn, command, *a, **kw):
            if threading.get_ident() == me:
                memory = command.startswith(protocol.MEMORY_COMMAND_NAME)
                sent["memory" if memory else "calls"] += 1
            return orig(conn, command, *a, **kw)

        return send_command

    for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
        monkeypatch.setattr(cls, "send_command", make(cls.send_command))
    fn()
    monkeypatch.undo()
    return sent


def test_builtin_function_call_is_one_round_trip(spark, monkeypatch):
    def calls():
        for i in range(N_CALLS // 2):
            F.lit(i)
            F.col(f"c{i}")

    calls()  # warm-up: resolve "lit" and "col" once
    sent = _count_round_trips(monkeypatch, calls)
    assert sent["calls"] <= N_CALLS * 1.1 + 10, (
        f"{dict(sent)} py4j commands for {N_CALLS} F.* calls"
    )


def test_apply_is_idempotent():
    from pyspark.sql.functions import builtin

    from lmo_data_catalog_spark import pyboundary

    before = builtin._get_jvm_function
    pyboundary.apply()
    pyboundary.apply()
    assert builtin._get_jvm_function is before


def test_literal_array_is_one_exact_literal(spark):
    """``literal_array`` round-trips every value bit-for-bit and folds
    to ONE array ``Literal`` in the optimized plan (no ``CreateArray``
    of per-element literals); NaN has no JSON form and raises."""
    import math
    import struct

    import pytest

    from lmo_data_catalog_spark.pyboundary import literal_array

    doubles = [0.1, 5e-324, 1.7976931348623157e308, -0.0]
    longs = [2**63 - 1, -(2**63 - 1)]
    df = spark.range(1).select(
        literal_array(doubles, "array<double>").alias("d"),
        literal_array(longs, "array<bigint>").alias("l"),
    )
    for col, type_ in (("d", "array<double>"), ("l", "array<bigint>")):
        one = df.select(col)
        plan = one._jdf.queryExecution().optimizedPlan().toJSON()
        assert plan.count("expressions.Literal") == 1, plan
        assert "CreateArray" not in plan and "JsonToStructs" not in plan, plan
        assert one.schema[col].dataType.simpleString() == type_
    row = df.first()
    assert [struct.pack(">d", v) for v in row["d"]] == [
        struct.pack(">d", v) for v in doubles
    ]
    assert math.copysign(1.0, row["d"][3]) == -1.0
    assert row["l"] == longs
    with pytest.raises(ValueError):
        literal_array([1.0, math.nan], "array<double>")


def test_no_module_builds_an_array_of_literals():
    """Every driver-side constant array goes through
    ``pyboundary.literal_array``: one literal, not one ``F.lit`` per
    element inside ``F.array``."""
    import os
    import re

    package = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "lmo_data_catalog_spark",
    )
    pattern = re.compile(r"F\.array\(\s*\*\s*\[\s*F\.lit\(")
    bad = []
    for root, _, files in os.walk(package):
        for fn in files:
            if fn.endswith(".py"):
                with open(os.path.join(root, fn), encoding="utf-8") as fh:
                    if pattern.search(fh.read()):
                        bad.append(os.path.relpath(os.path.join(root, fn), package))
    assert bad == [], f"array of per-element literals in: {bad}"
