"""End-to-end and per-layer benchmark of lmo_data_catalog_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (why each one is here: BENCHMARK.json and workloads.py):
``lmo_publish`` and ``registry``.

One run, from the root of a checkout:

1. generates the workload's inputs from ``--seed`` into a per-run
   directory under ``.perfbench/`` (untimed);
2. runs the workload in a fresh single-process ``local[<nproc>]``
   session (worker.py): setup, a cold pass, then warm passes in a
   closed loop with one client until they have measured ``--seconds``;
   the first warm pass also checks every output, untimed;
3. removes the per-run directory and prints one JSON line.

Each session gets the per-run directory as ``TMPDIR``, ``spark.local.dir``
and ``java.io.tmpdir``, and the checkout on ``PYTHONPATH`` (Python UDF
workers import the package from there). ``SPARK_LOCAL_DIRS`` and the
``SPARK_GRAFT_*`` overrides are dropped, so the Spark conf is the same
on every run. Host load (loadavg, /proc/stat steal and iowait deltas),
nproc and the master go to stderr and to ``.perfbench/runs.jsonl``;
the traced run's spans and per-job-group task metrics go to
``.perfbench/traces/``.

With ``--trace 0`` the metrics are ``setup_s`` (import plus
``session.get_spark``), ``cold_s`` (the session's first pass), ``wall_s``
(the warm pass, best time per builder: worker.best_of) and
``out_bytes_per_in_byte`` (bytes published, or result bytes checked,
per generated input byte). With ``--trace 1`` they are the per-layer
metrics of worker.layer_metrics. Exits non-zero without a result line
if the program cannot be imported or a session fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

#: a run must end within 180 s; the worker gets what is left of this
RUN_BUDGET_S = 170.0


def host_snapshot() -> dict:
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {"t": time.time(), "loadavg": list(os.getloadavg()),
            "iowait": cpu[4], "steal": cpu[7] if len(cpu) > 7 else 0}


def host_record(before: dict, after: dict) -> dict:
    hz = os.sysconf("SC_CLK_TCK")
    nproc = len(os.sched_getaffinity(0))
    return {
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "loadavg_before": before["loadavg"],
        "loadavg_after": after["loadavg"],
        "iowait_s": (after["iowait"] - before["iowait"]) / hz,
        "steal_s": (after["steal"] - before["steal"]) / hz,
        "elapsed_s": after["t"] - before["t"],
    }


def session_env(run_dir: str) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k != "SPARK_LOCAL_DIRS" and not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(run_dir, "tmp")
    # java.io.tmpdir and no hsperfdata: the JVM writes nothing under /tmp
    env.update(
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def run_session(args: list[str], run_dir: str, deadline: float) -> None:
    """Run worker.py in its own process group; kill the group if it
    outlives ``deadline`` and wait until every process in it has ended."""
    with open(os.path.join(run_dir, "worker.log"), "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            cwd=run_dir, env=session_env(run_dir), stdout=log, stderr=log,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _kill_group(proc.pid)
    if rc != 0:
        with open(os.path.join(run_dir, "worker.log"), "rb") as fh:
            tail = fh.read()[-4000:].decode(errors="replace")
        raise RuntimeError(f"session {args[:1]} {'timed out' if rc is None else f'exited {rc}'}"
                           f":\n{tail}")


def _kill_group(pgid: int) -> None:
    """Once the worker has exited (its results are on disk) nothing in
    its group is needed: kill the JVM and any Python UDF workers rather
    than wait ~2 s for the JVM's shutdown hooks, then wait until every
    process in the group has ended."""
    for _ in range(600):
        alive = _group_members(pgid)
        if not alive:
            return
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    raise RuntimeError(f"processes {_group_members(pgid)} of session group {pgid} did not end")


def _group_members(pgid: int) -> list[int]:
    """Live (not zombie) processes in process group ``pgid``."""
    members = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            members.append(int(entry))
    return members


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_BUDGET_S
    # a terminated run still kills its session's process group (finally
    # blocks run on SystemExit, not on the default SIGTERM action)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    sys.path[:0] = [ROOT, HERE]
    try:
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {workloads.WORKLOADS}", file=sys.stderr)
        return 2

    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(STATE, f"run-{stamp}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog", "data"):
        os.makedirs(os.path.join(run_dir, sub))
    before = host_snapshot()
    t_start = time.monotonic()
    try:
        info = workloads.prepare(args.workload, os.path.join(run_dir, "data"), args.seed)
        with open(os.path.join(run_dir, "info.json"), "w") as fh:
            json.dump(info, fh)
        steps = {"generate_s": time.monotonic() - t_start}
        run_session([args.workload, run_dir, str(args.seconds), str(args.trace)],
                    run_dir, deadline)
        steps["session_s"] = time.monotonic() - t_start - steps["generate_s"]
        with open(os.path.join(run_dir, "result.json")) as fh:
            res = json.load(fh)
        if args.trace:
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "trace.json"),
                        os.path.join(STATE, "traces", f"{stamp}.json"))
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host = {**host_record(before, host_snapshot()), **steps}

    if args.trace:
        values, names = res["layers"], spec["per_layer"]
    else:
        values, names = {
            "setup_s": res["setup_s"],
            "cold_s": res["cold_s"],
            "wall_s": res["wall_s"],
            "out_bytes_per_in_byte": res["out_bytes"] / info["raw_bytes"],
        }, spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": host, "setup_s": res["setup_s"], "cold_s": res["cold_s"],
              "warm_s": res["warm_s"], "failures": res["failures"], "metrics": metrics}
    with open(os.path.join(STATE, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    for f in res["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(f"perfbench: host {json.dumps(host)} setup {res['setup_s']:.3f} cold {res['cold_s']:.3f} "
          f"warm {[round(w, 3) for w in res['warm_s']]}", file=sys.stderr)
    print(json.dumps({
        "correct": not res["failures"],
        "attempted": res["attempted"],
        "failed": len(res["failures"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
