"""Re-derive ``expected_results.json``: the row count and row-multiset
digest of every corpus-slice query on the benchmark's generated corpus,
computed by the query's DuckDB oracle (``plans.ORACLE``), never by Spark.

Run from the root of a checkout, after changing the corpus generator or a
slice:

    python3 perfbench/derive_expected.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT]

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main() -> int:
    import duckdb

    from martech_pipelines_spark.plans import ORACLE
    from perfbench import datagen
    from perfbench.workloads import CORPUS, rows_digest

    tmp = tempfile.mkdtemp(prefix=".perfbench_derive_", dir=ROOT)
    try:
        datagen.write_corpus(tmp)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp}/{t}.parquet'")
        expected = {}
        for name in CORPUS:
            if name not in ORACLE:
                raise SystemExit(f"{name} has no DuckDB oracle")
            cur = con.execute(ORACLE[name])
            rows = cur.fetchall()
            cols = [d[0] for d in cur.description]
            expected[name] = {"rows": len(rows), "sha256": rows_digest(cols, rows)}
            print(name, expected[name], flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(HERE, "expected_results.json"), "w") as fh:
        json.dump(expected, fh, indent=2, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
