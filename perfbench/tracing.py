"""Tracing for the traced run (``--trace 1``).

Three sources, all read from the benchmark's side of each layer:

- spans: wall-clock intervals the benchmark opens around its calls into
  a layer (``sources.ingest``, ``plans.lmo_pipeline.build_all``, the
  sinks, a registry builder, the final action). They are kept in memory
  and written out once, at exit.
- py4j round trips: a counter on the py4j connection classes'
  ``send_command`` (installed only in the traced run).
- Spark task metrics: every span that can fire Spark jobs sets a job
  group ``workload|item|phase|pass``; the session writes a local event
  log, and :func:`parse_event_log` aggregates its task metrics per job
  group after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

#: task-metric fields summed per job group: output name -> (path, scale)
_TASK_FIELDS = {
    "executor_run_s": (("Executor Run Time",), 1e-3),
    "gc_s": (("JVM GC Time",), 1e-3),
    "shuffle_read_bytes": (("Shuffle Read Metrics", "Remote Bytes Read"), 1),
    "shuffle_read_local_bytes": (("Shuffle Read Metrics", "Local Bytes Read"), 1),
    "shuffle_write_bytes": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    "spill_bytes": (("Disk Bytes Spilled",), 1),
}


class Tracer:
    """In-memory spans plus the job-group and py4j hooks.

    A disabled tracer records nothing and sets no job groups: the
    untraced run pays only for entering its no-op context managers."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.enabled = enabled
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self.py4j_calls = 0
        self._patched: list[tuple[object, str, object]] = []
        if enabled:
            self._count_py4j()

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` with ``make(original)`` until :meth:`close`."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _count_py4j(self) -> None:
        from py4j import clientserver, java_gateway

        def make(orig):
            def send_command(conn, command, *a, **kw):
                self.py4j_calls += 1
                return orig(conn, command, *a, **kw)

            return send_command

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            self.patch(cls, "send_command", make)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    @contextmanager
    def span(self, name: str, *, group: str | None = None, **attrs):
        """Time a block; ``group`` (``item|phase|pass``) also tags every
        Spark job the block fires."""
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None, **attrs}
        if group is not None:
            rec["group"] = f"{self.workload}|{group}"
            self._sc.setJobGroup(rec["group"], name)
        rec["py4j0"] = self.py4j_calls
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j_calls"] = self.py4j_calls - rec.pop("py4j0")
            self._stack.pop()
            if group is not None:
                parent = self._parent_group()
                if parent is None:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
                else:
                    self._sc.setJobGroup(parent, parent)

    def _parent_group(self) -> str | None:
        for i in reversed(self._stack):
            if "group" in self.spans[i]:
                return self.spans[i]["group"]
        return None

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh, indent=1)


def _dig(d: dict, path: tuple[str, ...]) -> float:
    for k in path:
        d = d.get(k) or {}
    return d if isinstance(d, (int, float)) else 0


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages and tasks run, and summed task
    metrics, from the Spark event log(s) under ``log_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(group: str) -> dict:
        return out.setdefault(group, {"jobs": 0, "stages": 0, "tasks": 0,
                                      **dict.fromkeys(_TASK_FIELDS, 0.0)})

    for path in sorted(glob.glob(os.path.join(log_dir, "local-*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                    bucket(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    bucket(stage_group.get(sid, "untagged"))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    b = bucket(stage_group.get(ev["Stage ID"], "untagged"))
                    b["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    for name, (p, scale) in _TASK_FIELDS.items():
                        b[name] += _dig(tm, p) * scale
    return out
