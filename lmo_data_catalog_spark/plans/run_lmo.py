"""CLI: run the full reference pipeline end-to-end.

    python -m lmo_data_catalog_spark.plans.run_lmo RAW_DIR OUT_DIR [--fyod 2024]

Reads the four raw inputs from RAW_DIR (employment.csv,
job_openings.csv, "Occupational Characteristics*", clusters.csv —
01_source_me.R:87-97), builds all 10 catalog artifacts lazily, and
materializes them through the sink adapters (the dependency-free
stdlib xlsx writer; gzip CSV). ``--demo`` generates synthetic
fixtures into RAW_DIR first.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("raw_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--fyod", type=int, default=2024)
    ap.add_argument(
        "--demo", action="store_true", help="generate synthetic raw fixtures first"
    )
    ap.add_argument(
        "--parquet",
        action="store_true",
        help="engine-native output: partitioned parquet per sheet instead "
        "of workbook files (the data-plane path for beyond-catalog sizes)",
    )
    args = ap.parse_args(argv)

    from ..session import get_spark
    from ..sinks import write_catalog, write_partitioned_parquet
    from .lmo_pipeline import ARTIFACTS, LMOConfig, build_all, load_inputs

    if args.demo:
        from . import fixtures

        fixtures.generate(args.raw_dir, fyod=args.fyod)

    spark = get_spark("lmo-catalog-run")
    spark.sparkContext.setLogLevel("WARN")
    cfg = LMOConfig(fyod=args.fyod)
    inputs = load_inputs(spark, args.raw_dir)
    inputs.employment.cache()
    inputs.job_openings.cache()
    artifacts = build_all(inputs, cfg)
    meta = {name: m for name, (_, m) in ARTIFACTS.items()}
    if args.parquet:
        written = {}
        for name, wb in artifacts.items():
            for sheet, df in wb.items():
                path = f"{args.out_dir}/{name}/{sheet}"
                written[f"{name}/{sheet}"] = write_partitioned_parquet(df, path)
    else:
        written = write_catalog(artifacts, args.out_dir, metadata=meta)
    for name, path in written.items():
        print(f"wrote {name} -> {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
