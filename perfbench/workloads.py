"""The two workloads: inputs, one pass, and the output check.

Each workload loads different layers (the ``why`` of each is in
BENCHMARK.json):

- ``lmo_publish``: the reference job as ``plans/run_lmo.py`` runs it —
  ``sources.ingest`` through ``load_inputs`` (CSV banner skip with
  ``zipWithIndex`` + ``inferSchema``), ``plans.lmo_pipeline.build_all``,
  and ``sinks.write_catalog`` (driver-side xlsx writer + gzip CSV).
  It runs no registry builder, so it predicts no change for work on
  the operators and the driver loop.
- ``registry``: registry builders, each built and then forced through
  the noop sink. Two kinds, pinned by name: builders that fire Spark
  jobs while they build (the k-core peel loop, PQ train + ingest),
  whose time is mostly the driver loop, and lazy builders whose time is
  in the final action (both blanket-salted joins and one builder from
  each other ``queries.*`` module). The trace splits the two layers
  (``queries.build`` against ``exec.action``).

The lists are pinned, not derived at run time, so a change that makes
a builder lazy still runs it in the same workload. Pass classes run
inside the worker's Spark session; input generation runs in the
orchestrator before any session starts.
"""

from __future__ import annotations

import glob
import gzip
import importlib.util
import os
import shutil
import time
import zipfile
from xml.etree import ElementTree as ET

import gen_lmo
import gen_tables

#: registry scale factor. Below sf0.01 builder time is per-job driver
#: overhead (~0.1-0.2 s a job on 4 cores), not data volume, so a small
#: sf keeps a run inside the benchmark's time budget
REGISTRY_SF = 0.003
#: lmo_publish raw-input scale (occupations x industries x 10 areas)
LMO_NOCS = 24
LMO_INDUSTRIES = 4

#: builders that fire Spark jobs while they build
REGISTRY_EAGER = (
    "kcore_parts_graph",  # iterative peel: one job per round
    "pq_index_query_topk",  # PQ train + ingest; leaks a temp dir per call
)

#: lazy builders: their time is in the final action
REGISTRY_LAZY = (
    "cooccurrence_part_pairs_salted",  # queries.advanced, blanket-salted join
    "salted_join_skew",  # queries.advanced, blanket-salted join
    "daily_revenue_autocorr",  # queries.stats
    "flagship_brand_revenue",  # queries.core
    "sessionize_events",  # queries.breadth
    "word_freq_topk",  # queries.llm
    "bm25_topk_docs",  # queries.pipeline
    "nation_market_share",  # queries.shapes
)

WORKLOADS = ("lmo_publish", "registry")


def prepare(workload: str, data_dir: str, seed: int) -> dict:
    """Generate the workload's inputs under ``data_dir`` (untimed)."""
    if workload == "lmo_publish":
        raw_bytes, shape = gen_lmo.generate(
            data_dir, seed=seed, n_nocs=LMO_NOCS, n_industries=LMO_INDUSTRIES
        )
        return {"raw_bytes": raw_bytes, "shape": shape}
    raw_bytes = gen_tables.write_tables(data_dir, seed, REGISTRY_SF)
    return {"raw_bytes": raw_bytes, "names": [*REGISTRY_EAGER, *REGISTRY_LAZY]}


# ------------------------------------------------------------------ registry


def _load_verify_local(root: str):
    """``tools/verify_local.py`` holds the oracle-comparison rule; load
    it by path (``tools`` is not a package)."""
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(root, "tools", "verify_local.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class RegistryPass:
    """One pass = every pinned builder: build, then force through the
    noop sink; tracked intermediates are released after each builder
    (outside the timed region, as ``bench.py`` does)."""

    def __init__(self, spark, tracer, info: dict, data_dir: str, root: str):
        import duckdb

        from lmo_data_catalog_spark import cache
        from lmo_data_catalog_spark.catalog import TABLES
        from lmo_data_catalog_spark.registry import REGISTRY

        self.spark, self.tracer, self.cache = spark, tracer, cache
        self.specs = [REGISTRY[n] for n in info["names"]]
        self.data_dir = data_dir
        self._vl = _load_verify_local(root)
        self._oracle = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self._oracle.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def run(self, label: str, check: bool) -> dict:
        tr = self.tracer
        out = {"wall_s": 0.0, "items": {}, "ops": 0, "failed": [], "released": 0,
               "result_bytes": 0}
        with tr.span("pass", pass_label=label):
            for spec in self.specs:
                out["ops"] += 1
                t0 = time.perf_counter()
                try:
                    with tr.span("queries.build", group=f"{spec.name}|build|{label}",
                                 item=spec.name):
                        df = spec.builder(self.spark, self.data_dir)
                    with tr.span("exec.action", group=f"{spec.name}|exec|{label}",
                                 item=spec.name):
                        df.write.format("noop").mode("overwrite").save()
                    out["items"][spec.name] = time.perf_counter() - t0
                    out["wall_s"] += out["items"][spec.name]
                    if check:
                        out["ops"] += 1
                        with tr.span("check", group=f"{spec.name}|check|{label}",
                                     item=spec.name):
                            problem, nbytes = self._check(spec, df)
                        out["result_bytes"] += nbytes
                        if problem:
                            out["failed"].append(f"{spec.name}: {problem}")
                except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                    out["failed"].append(f"{spec.name}: {type(e).__name__}: {e}"[:500])
                finally:
                    out["released"] += self.cache.release_all()
        return out

    def _check(self, spec, df) -> tuple[str | None, int]:
        """verify_local's rule: sorted column names, row count and the
        order-insensitive multiset of values against the DuckDB oracle
        on the same generated tables."""
        s_rows = [tuple(r) for r in df.collect()]
        res = self._oracle.execute(spec.oracle)
        d_rows = res.fetchall()
        sc, sr = self._vl.normalize(s_rows, df.columns)
        dc, dr = self._vl.normalize(d_rows, [d[0] for d in res.description])
        nbytes = sum(len(repr(r)) for r in sr)
        if sc != dc:
            return f"columns spark={sc} oracle={dc}", nbytes
        if len(sr) != len(dr):
            return f"rows spark={len(sr)} oracle={len(dr)}", nbytes
        if sr != dr:
            bad = sum(a != b for a, b in zip(sr, dr))
            return f"{bad}/{len(sr)} rows differ from the oracle", nbytes
        return None, nbytes


# --------------------------------------------------------------- lmo_publish


class LmoPass:
    """One pass = the run_lmo job into a fresh output directory: ingest
    (the two forecast inputs cached, as run_lmo does), build all
    artifacts, write the catalog; then unpersist and release."""

    def __init__(self, spark, tracer, info: dict, data_dir: str, out_root: str):
        from lmo_data_catalog_spark import cache, sinks
        from lmo_data_catalog_spark.plans import lmo_pipeline as lp
        from lmo_data_catalog_spark.sinks import workbook

        self.spark, self.tracer, self.cache = spark, tracer, cache
        self.lp, self.sinks = lp, sinks
        self.meta = {name: m for name, (_, m) in lp.ARTIFACTS.items()}
        self.info, self.data_dir, self.out_root = info, data_dir, out_root
        if tracer.enabled:
            self._trace_sinks(workbook)

    def _trace_sinks(self, workbook) -> None:
        """Time each sink call ``write_catalog`` makes (it looks both
        writers up as module globals of ``sinks.workbook``)."""
        tr = self.tracer

        def make(kind):
            def make_wrapper(orig):
                def wrapped(df_or_wb, path, *a, **kw):
                    name = os.path.basename(path).removesuffix(".xlsx")
                    group = f"{name}|sinks.{kind}|{self._label}"
                    with tr.span(f"sinks.{kind}", group=group, item=name):
                        return orig(df_or_wb, path, *a, **kw)

                return wrapped

            return make_wrapper

        tr.patch(workbook, "write_workbook", make("xlsx"))
        tr.patch(workbook, "write_csv_gzip", make("csv_gzip"))

    def run(self, label: str, check: bool) -> dict:
        tr, lp = self.tracer, self.lp
        self._label = label
        out_dir = os.path.join(self.out_root, label)
        out = {"wall_s": 0.0, "items": {}, "ops": 1, "failed": [], "released": 0}
        inputs = None
        t0 = time.perf_counter()
        try:
            with tr.span("pass", pass_label=label):
                with tr.span("sources.load", group=f"inputs|sources|{label}"):
                    inputs = lp.load_inputs(self.spark, self.data_dir)
                    inputs.employment.cache()
                    inputs.job_openings.cache()
                with tr.span("plans.build", group=f"all|plans|{label}"):
                    artifacts = lp.build_all(inputs, lp.LMOConfig())
                with tr.span("sinks.write"):
                    self.sinks.write_catalog(artifacts, out_dir, metadata=self.meta)
            out["wall_s"] = time.perf_counter() - t0
            out["items"]["catalog"] = out["wall_s"]
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            out["failed"].append(f"pass {label}: {type(e).__name__}: {e}"[:500])
        finally:
            if inputs is not None:
                inputs.employment.unpersist()
                inputs.job_openings.unpersist()
            out["released"] = self.cache.release_all()
        out["bytes_written"] = _published_bytes(out_dir)
        if check:
            out["ops"] += 1
            problems, out["rows_written"] = self._check(out_dir)
            out["failed"] += problems
        shutil.rmtree(out_dir, ignore_errors=True)
        return out

    def _check(self, out_dir: str) -> tuple[list[str], int]:
        """Re-read a pass's catalog: every workbook's sheet names and row
        counts, and the gzip CSV's row count, against the shape the
        generator recorded. Returns (problems, data rows found)."""
        from lmo_data_catalog_spark.sources.ingest import read_xlsx_rows

        problems: list[str] = []
        rows = 0
        shape = self.info["shape"]
        for name, sheets in shape.items():
            fmt = self.meta.get(name, {}).get("format")
            if fmt == "csv_gzip":
                got = {"data": _csv_gzip_rows(os.path.join(out_dir, name))}
            else:
                path = os.path.join(out_dir, f"{name}.xlsx")
                got = {s: len(read_xlsx_rows(path, sheet=i)) - 1
                       for i, s in enumerate(_sheet_names(path))}
            rows += sum(got.values())
            if got != sheets:
                problems.append(f"{name}: sheets/rows {got} != expected {sheets}")
        return problems, rows


def _sheet_names(path: str) -> list[str]:
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
    return [s.get("name") for s in wb.iter(f"{ns}sheet")]


def _csv_gzip_rows(path: str) -> int:
    rows = 0
    for part in sorted(glob.glob(os.path.join(path, "part-*.csv.gz"))):
        with gzip.open(part, "rt") as fh:
            rows += sum(1 for _ in fh) - 1  # header line per part
    return rows


def _published_bytes(out_dir: str) -> int:
    """Bytes the sinks left in ``out_dir``, excluding Spark's
    ``_SUCCESS`` markers and ``.crc`` checksum side files."""
    return sum(
        os.path.getsize(os.path.join(dirpath, n))
        for dirpath, _, names in os.walk(out_dir)
        for n in names
        if not n.startswith(("_", "."))
    )
