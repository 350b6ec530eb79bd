"""Recompute ``perfbench/pins.json``: the curate workload's expected
outputs.

    python3 perfbench/pin_curate.py

Stages the committed ``sf0.1`` corpus, runs each curate query's DuckDB oracle
(``oracle_sql()`` in ``__spark_entry__.py``) and pins its row count and
content hash. A query without an oracle pins the row count of its Spark
result. Every oracle pin is cross-checked against the Spark result
before it is written.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402


def main() -> int:
    import duckdb

    from __spark_entry__ import oracle_sql
    from polar_spark.queries import QUERIES
    from polar_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="perfbench-pins-", dir=ROOT)
    try:
        sf_dir = os.path.join(work, "curate")
        wl.stage_corpus(sf_dir)
        oracles = oracle_sql()
        con = duckdb.connect()
        con.sql("SET TimeZone='UTC'")
        for t in wl.CORPUS_TABLES:
            con.sql(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")
        spark = get_spark(app_name="perfbench-pins", shuffle_partitions=4)
        pins = {"corpus_sha256": wl.corpus_digest(), "queries": {}}
        for name in wl.CURATE_QUERIES:
            df = QUERIES[name].fn(spark, sf_dir)
            rows = df.collect()
            spark_digest = wl.canonical_digest(rows, df.columns)
            if name in oracles:
                res = con.sql(oracles[name])
                o_rows = res.fetchall()
                digest = wl.canonical_digest(o_rows, res.columns)
                if len(o_rows) != len(rows) or digest != spark_digest:
                    print(f"{name}: Spark ({len(rows)} rows) disagrees with the "
                          f"oracle ({len(o_rows)} rows)", file=sys.stderr)
                    return 1
                pins["queries"][name] = {"rows": len(o_rows), "sha256": digest,
                                         "source": "duckdb oracle"}
            else:
                pins["queries"][name] = {"rows": len(rows), "sha256": None,
                                         "source": "row count (no oracle)"}
            print(name, pins["queries"][name]["rows"], flush=True)
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "pins.json"), "w") as f:
        json.dump(pins, f, indent=2)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
