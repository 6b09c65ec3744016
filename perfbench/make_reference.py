"""Record ``reference.json``: the row count and checksum of every
``catalog_mix`` query on the generated tables.

    python3 perfbench/make_reference.py

Run from the repository root. A query with an oracle must first match
its DuckDB oracle (the engine's own comparison in
``tests/oracle_utils.py``); every query must give the same count and
checksum in two executions. The script refuses to write otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import run  # noqa: E402


def main() -> int:
    work = os.path.join(ROOT, ".bench_build", "perfbench", "reference")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ.update(run.worker_env(ROOT, work))
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

    import duckdb
    from oracle_utils import compare_query

    import advanced_strapi_import_spark.plans.all  # noqa: F401
    from advanced_strapi_import_spark import caching
    from advanced_strapi_import_spark.plans.registry import QUERIES
    from advanced_strapi_import_spark.session import get_spark
    from catalog import QUERY_NAMES, REFERENCE_PATH, observed, write_tables

    tables = os.path.join(work, "tables")
    write_tables(tables)
    duck = duckdb.connect()
    for f in sorted(os.listdir(tables)):
        name = f.removesuffix(".parquet")
        duck.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                 f"read_parquet('{os.path.join(tables, f)}')")
    spark = get_spark("perfbench-reference")
    spark.sparkContext.setLogLevel("ERROR")
    out, bad = {}, []
    for name in QUERY_NAMES:
        spec = QUERIES[name]
        oracle = "none"
        if spec.oracle:
            problems = compare_query(spark, duck, spec, tables)
            caching.release_all()
            if problems:
                bad.append(f"{name}: {problems}")
                continue
            oracle = "match"
        seen = []
        for _ in range(2):
            df, obs = observed(spec.fn(spark, tables))
            df.write.mode("overwrite").format("noop").save()
            seen.append(obs.get)
            caching.release_all()
        if seen[0] != seen[1]:
            bad.append(f"{name}: unstable {seen}")
            continue
        out[name] = {"rows": seen[0]["rows"], "checksum": seen[0]["checksum"],
                     "oracle": oracle}
        print(f"{name}: {out[name]}", file=sys.stderr)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("not written:\n  " + "\n  ".join(bad), file=sys.stderr)
        return 1
    with open(REFERENCE_PATH, "w", encoding="utf-8") as fh:
        json.dump({"tables": "catalog.write_tables(DATA_SEED)", "queries": out},
                  fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
