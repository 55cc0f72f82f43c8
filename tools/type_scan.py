"""One-shot scan: for every registry oracle, bind it in DuckDB and
compare output column types with the Spark plan's schema.

Flags the representation-level class the driver's hash is sensitive
to (proven by fk_integrity_audit in r8): HUGEINT/UHUGEINT oracle
columns (Spark emits BIGINT) and DECIMAL (precision, scale) pairs
that differ between engines. Values can be equal while the hash
differs, so the tolerance-normalized compare can never catch these.

Usage: python tools/type_scan.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def spark_decimals(schema):
    out = {}
    for f in schema.fields:
        s = f.dataType.simpleString()
        m = re.match(r"decimal\((\d+),(\d+)\)", s)
        if m:
            out[f.name] = (int(m.group(1)), int(m.group(2)))
    return out


def main() -> int:
    import duckdb

    from lmo_data_catalog_spark.catalog import TABLES
    from lmo_data_catalog_spark.registry import REGISTRY
    from lmo_data_catalog_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("type_scan")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    flagged = []
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        try:
            rel = con.sql(spec.oracle)
            d_types = dict(zip(rel.columns, (str(t) for t in rel.types)))
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: duckdb bind: {e}")
            flagged.append(name)
            continue
        try:
            schema = spec.builder(spark, sf_dir).schema
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: spark plan: {e}")
            flagged.append(name)
            continue
        s_dec = spark_decimals(schema)
        problems = []
        for col, dt in d_types.items():
            if dt in ("HUGEINT", "UHUGEINT"):
                problems.append(f"{col}:{dt}")
            m = re.match(r"DECIMAL\((\d+),(\d+)\)", dt)
            if m:
                dpair = (int(m.group(1)), int(m.group(2)))
                spair = s_dec.get(col)
                if spair != dpair:
                    problems.append(
                        f"{col}:duck DECIMAL{dpair} vs spark "
                        f"{'DECIMAL%s' % (spair,) if spair else schema[col].dataType.simpleString()}"
                    )
        if problems:
            print(f"FLAG {name}: " + "; ".join(problems))
            flagged.append(name)
    print(f"\n{len(flagged)} flagged")
    spark.stop()
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
