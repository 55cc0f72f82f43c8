"""Pin pyboundary's JVM-function memo: after warm-up, a builtin ``F.*``
call costs one py4j round trip, not the three PySpark's uncached
``_get_jvm_function`` takes (two reflection lookups + the call)."""

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
