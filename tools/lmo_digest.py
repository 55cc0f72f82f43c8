"""Print one sha256 per file that one LMO publish pass writes.

Usage: python tools/lmo_digest.py RAW_DIR

Runs ``load_inputs`` (both forecast inputs cached, as ``run_lmo``
does) → ``build_all`` → ``write_catalog`` once, then prints
``<sha256>  <path>`` for every published file, sorted by path relative
to the output directory. Spark's ``_SUCCESS`` markers and ``.crc``
side files are skipped, and the random UUID in a part-file name is
printed as ``UUID``, so two runs over the same inputs print the same
lines exactly when they published the same bytes. Diff the output of
two checkouts to check that a change leaves the catalog's bytes alone.
The catalog is written to a temporary directory and removed.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def digests(out_dir: str) -> list[tuple[str, str]]:
    """(normalized relative path, sha256) of every published file."""
    out = []
    for dirpath, _, names in os.walk(out_dir):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            full = os.path.join(dirpath, n)
            with open(full, "rb") as fh:
                sha = hashlib.sha256(fh.read()).hexdigest()
            out.append((_UUID.sub("UUID", os.path.relpath(full, out_dir)), sha))
    return sorted(out)


def publish(raw_dir: str, out_dir: str) -> None:
    from lmo_data_catalog_spark.plans.lmo_pipeline import (
        ARTIFACTS,
        LMOConfig,
        build_all,
        load_inputs,
    )
    from lmo_data_catalog_spark.session import get_spark
    from lmo_data_catalog_spark.sinks import write_catalog

    spark = get_spark("lmo-digest")
    spark.sparkContext.setLogLevel("ERROR")
    inputs = load_inputs(spark, raw_dir)
    inputs.employment.cache()
    inputs.job_openings.cache()
    meta = {name: m for name, (_, m) in ARTIFACTS.items()}
    write_catalog(build_all(inputs, LMOConfig()), out_dir, metadata=meta)
    spark.stop()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("raw_dir")
    args = ap.parse_args(argv)
    with tempfile.TemporaryDirectory(prefix="lmo_digest_") as tmp:
        out_dir = os.path.join(tmp, "out")
        publish(args.raw_dir, out_dir)
        for path, sha in digests(out_dir):
            print(f"{sha}  {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
