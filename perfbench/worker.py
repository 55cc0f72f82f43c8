"""One fresh Spark session running one workload; started by run.py.

    python3 perfbench/worker.py WORKLOAD RUN_DIR SECONDS TRACE

Times import plus ``session.get_spark`` (setup), then a cold pass, then
warm passes in a closed loop (one client, next pass after the previous
one ends) until the warm passes have measured SECONDS; the first warm
pass also checks its outputs, outside the timed regions. A pass with a
failed op ends the loop. Writes ``RUN_DIR/result.json``. With TRACE=1 it
also keeps spans, counts py4j round trips, tags every Spark job with a
job group, and writes the session's event log under ``RUN_DIR/eventlog``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

PROGRAM_MODULES = {
    "lmo_publish": ("lmo_data_catalog_spark.plans.lmo_pipeline", "lmo_data_catalog_spark.sinks"),
    "registry": ("lmo_data_catalog_spark.registry",),
}


def start_session(workload: str, run_dir: str, trace: bool):
    """Import the program and start its session; returns (spark, seconds)."""
    import importlib

    t0 = time.perf_counter()
    from lmo_data_catalog_spark.session import get_spark

    for mod in PROGRAM_MODULES[workload]:
        importlib.import_module(mod)
    conf = {"spark.local.dir": os.path.join(run_dir, "spark-local")}
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(run_dir, "eventlog")
        # one plain JSON-lines file (Spark 4 defaults to rolling zstd)
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(f"perfbench-{workload}", cpus=len(os.sched_getaffinity(0)),
                      extra_conf=conf)
    return spark, time.perf_counter() - t0


def main(argv: list[str]) -> int:
    workload, run_dir, seconds, trace = argv[0], argv[1], float(argv[2]), argv[3] == "1"
    spark, setup_s = start_session(workload, run_dir, trace)
    spark.sparkContext.setLogLevel("ERROR")

    import workloads
    from tracing import Tracer, parse_event_log

    with open(os.path.join(run_dir, "info.json")) as fh:
        info = json.load(fh)
    data_dir = os.path.join(run_dir, "data")
    tracer = Tracer(spark, workload, trace)
    if workload == "lmo_publish":
        runner = workloads.LmoPass(spark, tracer, info, data_dir, os.path.join(run_dir, "out"))
    else:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        runner = workloads.RegistryPass(spark, tracer, info, data_dir, root)

    cold = runner.run("cold", check=False)
    # Spark extracts native libraries and its artifact dir into the temp
    # dir during the cold pass; what appears after it is the program's
    tmp_before = _tmp_dirs()
    warm = []
    while not warm or (sum(p["wall_s"] for p in warm) < seconds and not warm[-1]["failed"]):
        warm.append(runner.run(f"w{len(warm) + 1}", check=not warm))
    leaked = sorted(_tmp_dirs() - tmp_before)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    tracer.close()
    spark.stop()

    passes = [cold, *warm]
    result = {
        "setup_s": setup_s,
        "cold_s": cold["wall_s"],
        "wall_s": best_of(warm),
        "warm_s": [p["wall_s"] for p in warm],
        "attempted": sum(p["ops"] for p in passes),
        "failures": [f for p in passes for f in p["failed"]],
        "out_bytes": warm[0].get("bytes_written", warm[0].get("result_bytes", 0)),
    }
    if trace:
        groups = parse_event_log(os.path.join(run_dir, "eventlog"))
        result["layers"] = layer_metrics(tracer.spans, groups, warm,
                                         len(leaked) / len(warm), persisted)
        tracer.write(os.path.join(run_dir, "trace.json"),
                     {"groups": groups, "leaked_tmp": leaked, "layers": result["layers"]})
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump(result, fh)
    return 0


def _tmp_dirs() -> set[str]:
    tmp = os.environ["TMPDIR"]
    return {e.name for e in os.scandir(tmp) if e.is_dir()}


def best_of(warm: list[dict]) -> float:
    """The warm pass as ``bench.py`` takes it: each item's (builder's, or
    the whole catalog's) best time over the warm passes, summed. Host
    steal only ever adds time and later passes are further along JIT
    warm-up, so the best time is the steadiest estimate."""
    names = {n for p in warm for n in p["items"]}
    return sum(min(p["items"][n] for p in warm if n in p["items"]) for n in names)


#: the spans that partition a pass: lmo_publish's three layers, or a
#: registry builder's build and final action
LAYER_SPANS = ("sources.load", "plans.build", "sinks.write", "queries.build", "exec.action")


def layer_metrics(spans, groups, warm, leaked_per_pass, persisted) -> dict[str, float]:
    """Per-layer numbers, as means per warm pass (counts of work are the
    same on every pass; times vary), and which end-to-end metric each
    should move:

    - ``sources.*``: lmo_publish cold_s and wall_s;
    - ``plans.*``: lmo_publish wall_s;
    - ``sinks.*`` (xlsx + csv_gzip = write): lmo_publish wall_s and
      out_bytes_per_in_byte; zero on registry;
    - ``queries.build_*``: registry wall_s through the builders that
      fire jobs while building (the trace file splits per builder);
    - ``py4j.calls``: lmo_publish and registry wall_s;
    - ``exec.*``: everything the executors ran in the pass, build-time
      jobs included (``queries.build_jobs`` is a subset of
      ``exec.jobs``); ``exec.action_s`` is the final noop action:
      registry wall_s through the lazy builders;
    - ``cache.*``: lifetime counts that no speed change should move;
      ``leaked_tmp_dirs`` counts temp dirs left behind per warm pass;
    - ``trace.wall_s`` against the untraced run's wall_s (same workload
      and seed) is the tracing overhead; ``trace.layer_share`` is how
      much of the pass wall the layer spans cover.
    """
    n = len(warm)
    labels = {f"w{i + 1}" for i in range(n)}

    def warm_span(s) -> bool:
        return _pass_of(spans, s) in labels

    def span_s(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans
                   if s["name"] == name and warm_span(s)) / n

    def group_sum(field: str, phases: set[str] | None = None) -> float:
        total = 0
        for key, g in groups.items():
            parts = key.split("|")
            if len(parts) != 4 or parts[3] not in labels or parts[2] == "check":
                continue
            if phases is None or parts[2] in phases:
                total += g[field]
        return total / n

    walls = [p["wall_s"] for p in warm]
    layer_sum = sum(span_s(x) for x in LAYER_SPANS)
    return {
        "sources.load_s": span_s("sources.load"),
        "sources.jobs": group_sum("jobs", {"sources"}),
        "plans.build_s": span_s("plans.build"),
        "plans.build_jobs": group_sum("jobs", {"plans"}),
        "sinks.write_s": span_s("sinks.write"),
        "sinks.xlsx_s": span_s("sinks.xlsx"),
        "sinks.csv_gzip_s": span_s("sinks.csv_gzip"),
        "sinks.rows_written": warm[0].get("rows_written", 0),
        "sinks.bytes_written": statistics.fmean(p.get("bytes_written", 0) for p in warm),
        "queries.build_s": span_s("queries.build"),
        "queries.build_jobs": group_sum("jobs", {"build"}),
        "py4j.calls": sum(s["py4j_calls"] for s in spans
                          if s["name"] in LAYER_SPANS and warm_span(s)) / n,
        "exec.action_s": span_s("exec.action"),
        "exec.jobs": group_sum("jobs"),
        "exec.stages": group_sum("stages"),
        "exec.tasks": group_sum("tasks"),
        "exec.executor_run_s": group_sum("executor_run_s"),
        "exec.gc_s": group_sum("gc_s"),
        "exec.shuffle_read_bytes": group_sum("shuffle_read_bytes")
        + group_sum("shuffle_read_local_bytes"),
        "exec.shuffle_write_bytes": group_sum("shuffle_write_bytes"),
        "exec.spill_bytes": group_sum("spill_bytes"),
        "cache.released": statistics.fmean(p["released"] for p in warm),
        "cache.persisted_after_release": persisted,
        "cache.leaked_tmp_dirs": leaked_per_pass,
        "trace.wall_s": best_of(warm),
        "trace.layer_share": layer_sum / statistics.fmean(walls),
    }


def _pass_of(spans, s) -> str | None:
    while s is not None:
        if s["name"] == "pass":
            return s.get("pass_label")
        s = spans[s["parent"]] if s["parent"] is not None else None
    return None


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
