"""Driver-side Python↔JVM boundary tuning (optimization guide §4).

Every ``F.col``/``F.lit``/Column method in a builder is one or more
py4j round trips. PySpark's ``_get_jvm_function`` resolves
``getattr(jvm.functions, name)`` freshly on EVERY ``F.*`` call — two
reflection round trips before the actual invocation (3 round trips
per ``F.lit``). The resolved ``JavaMember`` is stable per gateway, so
memoizing it cuts every builtin call to one round trip: ``F.lit``
went from 0.293 ms to 0.134 ms (PySpark 4.1.2 / py4j 0.10.9.9,
4-core host).

The memo is semantics-free: it caches an idempotent reflection lookup.
Nothing about query plans, data, or results changes — only
driver-side latency. ``tests/test_pyboundary.py`` pins it by counting
``send_command`` calls.

This module used to set ``TCP_NODELAY`` on every py4j socket as well.
A fresh A/B (10 interleaved reps of 3,000 round trips, same host) put
a round trip at 0.196 ms with NODELAY off and 0.209 ms with it on —
py4j 0.10.9.9 sends each command in one ``sendall``, so Nagle has
nothing to coalesce — and that patch was removed.

A driver-side constant array goes through :func:`literal_array`: one
JSON string literal parsed by ``from_json``, which Catalyst folds into
a single array ``Literal``. Building it as one ``F.lit`` per element
inside ``F.array`` costs a round trip per element: with its 16×256
lookup table built that way, ``ann_index.adc_shortlist`` took 8,390
round trips and 0.84–0.97 s to build; with one literal per table row
it takes 182 round trips and 0.08–0.12 s (sf0.001 embeddings, 4-core
host), and the optimized plan is the same.

A list handed to the JVM costs a round trip per element. PySpark
passes the columns of ``select``, ``groupBy``, ``agg``, ``toDF``,
``unpivot`` and ``join(on=[...])`` as a Python list, which py4j copies
into a ``java.util.ArrayList`` with one ``add`` command per element,
plus the list's constructor, the ``PythonUtils.toSeq`` lookup and the
call; a column named by a string costs one ``F.col`` round trip more.
A plan whose expressions are SQL text (:func:`sql_string`,
:func:`sql_name`) parses each one on the JVM side: ``F.expr(text)``
and ``DataFrame.filter(text)`` are one round trip whatever the text
holds. Built that way, ``plans/lmo_pipeline.py::build_all`` went from
2,527 to 811 round trips on the seed-7 fixtures.

Do not build such a plan through ``spark.sql(text, src=df)`` when
``df`` is cached: the formatter registers ``df`` as a temp view and
drops the view when the call returns, and in Spark 4.1 dropping a
view uncaches every cached plan inside it — ``df`` itself, and
equally ``df.select("*")``, ``df.alias(...)`` or a renamed ``toDF``
of it. ``tests/test_lmo_pipeline.py::
test_build_all_keeps_the_callers_inputs_cached`` pins this for the
publish's cached inputs.

``apply()`` patches PySpark's function resolver; it is idempotent and
needs no live SparkContext.
"""

from __future__ import annotations

import json
import weakref

from pyspark.sql import Column
from pyspark.sql import functions as F

_applied = False


def apply() -> None:
    global _applied
    if _applied:
        return
    _applied = True
    _patch_jvm_function_cache()


def _patch_jvm_function_cache() -> None:
    from pyspark.sql.functions import builtin as _builtin

    orig = _builtin._get_jvm_function
    # keyed by the gateway's JVMView so a new SparkContext (new
    # gateway) never sees another gateway's stale JavaMembers; the
    # WeakKeyDictionary lets a stopped session's view (and its cached
    # members) be collected.
    per_view: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

    def cached_get_jvm_function(name, sc):
        jvm = sc._jvm
        try:
            names = per_view.setdefault(jvm, {})
        except TypeError:  # un-weakref-able view — fall through
            return orig(name, sc)
        fn = names.get(name)
        if fn is None:
            fn = orig(name, sc)
            names[name] = fn
        return fn

    _builtin._get_jvm_function = cached_get_jvm_function


def literal_array(values, type_: str) -> Column:
    """``values`` (a list, nested lists for nested arrays) as ONE
    array literal of the Spark SQL type ``type_``, e.g.
    ``"array<array<double>>"``. Exact: ``json.dumps`` writes each
    float as its shortest round-trip repr and each int in full, and
    the JSON parser reads them back bit-for-bit. NaN and ±inf have no
    JSON form and raise ``ValueError``; a value the type cannot hold
    fails the query (FAILFAST) instead of turning into null. The
    array and its elements are typed nullable, unlike ``F.array``."""
    return F.from_json(
        F.lit(json.dumps(values, allow_nan=False)),
        type_,
        {"mode": "FAILFAST"},
    )


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal (backslash-escaped, the
    parser's default)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_name(name: str) -> str:
    """``name`` as a back-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"
