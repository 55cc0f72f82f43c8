"""Per-query Spark job/stage/task profiler (r14 optimization round).

For each named registry query (default: all), runs the builder against
$SPARK_GRAFT_SF_DIR with the noop sink and records:

- ``build_s``   time to construct the DataFrame (Python DAG + analysis)
- ``exec_s``    time for the noop-sink action (one warm pass, then best
                of N timed passes, matching bench.py methodology)
- ``jobs``      Spark jobs launched during the TIMED pass
- ``stages``    completed stages during the timed pass
- ``tasks``     completed tasks during the timed pass

Job/stage/task counts come from the status tracker (deltas around the
timed pass), so they include every driver action the builder triggers
(collects inside training loops, count() convergence probes, ...), not
just the final sink job.  A query whose wall time is dominated by
per-job fixed overhead shows up as jobs >> 1 with small task counts.

Usage: python tools/job_profile.py [--runs N] [query ...]
Writes plans/r15/job_profile.json (under the checkout) and prints a table.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from lmo_data_catalog_spark import cache  # noqa: E402
from lmo_data_catalog_spark.registry import REGISTRY  # noqa: E402
from lmo_data_catalog_spark.session import get_spark  # noqa: E402


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 2
    for a in sys.argv[1:]:
        if a.startswith("--runs"):
            runs = int(a.split("=", 1)[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = args or list(REGISTRY)
    spark = get_spark("job_profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    out: dict[str, dict] = {}
    for name in names:
        spec = REGISTRY.get(name)
        if spec is None:
            print(f"unknown query: {name}", file=sys.stderr)
            continue
        sc.setJobDescription(f"profile:{name}")
        try:
            t0 = time.time()
            df = spec.builder(spark, sf_dir)
            build_s = time.time() - t0
            # warm pass (codegen + JIT + catalogs warm)
            df.write.format("noop").mode("overwrite").save()
            best = None
            jobs_delta = stages_delta = tasks_delta = 0
            for _ in range(runs):
                cache.release_all()
                j0 = sc._jsc.sc().dagScheduler().nextJobId()
                s0 = sc._jsc.sc().dagScheduler().nextStageId()
                t0 = time.time()
                df2 = spec.builder(spark, sf_dir)
                rebuild_s = time.time() - t0
                t1 = time.time()
                df2.write.format("noop").mode("overwrite").save()
                exec_s = time.time() - t1
                j1 = sc._jsc.sc().dagScheduler().nextJobId()
                s1 = sc._jsc.sc().dagScheduler().nextStageId()
                if best is None or exec_s < best["exec_s"]:
                    best = {
                        "build_s": round(rebuild_s, 3),
                        "exec_s": round(exec_s, 3),
                        "jobs": j1 - j0,
                        "stages": s1 - s0,
                    }
            best["first_build_s"] = round(build_s, 3)
            out[name] = best
        except Exception as e:  # noqa: BLE001
            out[name] = {"error": str(e)[:200]}
        finally:
            cache.release_all()

    os.makedirs(os.path.join(ROOT, "plans", "r15"), exist_ok=True)
    path = os.path.join(ROOT, "plans", "r15", "job_profile.json")
    prev = {}
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
    prev.update(out)
    with open(path, "w") as f:
        json.dump(prev, f, indent=1, sort_keys=True)
    print(
        f"{'query':42s} {'total':>7s} {'build':>6s} {'exec':>7s}"
        f" {'jobs':>4s} {'stg':>4s}"
    )
    for n, r in sorted(
        out.items(),
        key=lambda kv: -(
            (kv[1].get("build_s") or 0) + (kv[1].get("exec_s") or 0)
        ),
    ):
        if "error" in r:
            print(f"{n:42s} ERROR {r['error'][:60]}")
        else:
            print(
                f"{n:42s} {r['build_s'] + r['exec_s']:7.2f}"
                f" {r['build_s']:6.2f} {r['exec_s']:7.2f}"
                f" {r['jobs']:4d} {r['stages']:4d}"
            )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
