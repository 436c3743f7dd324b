#!/usr/bin/env python
"""Recompute ``oracle.json``: the DuckDB oracle's result hash for every
probe in the mixes, at both stored scales.

    python perfbench/make_oracle.py [--spark]

``--spark`` also runs each probe on Spark and reports any probe whose
result differs from its oracle (those are not fit for the benchmark).
Run it from the repository root after changing a mix or the data.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

from ark_invest_api_rust_data_spark.catalog import ALL_TABLES  # noqa: E402
from ark_invest_api_rust_data_spark.plans import all_probes  # noqa: E402

from probes import MIXES, ORACLE, SF_DIR, result_hash  # noqa: E402


def main() -> int:
    probes = all_probes()
    names = sorted({n for mix in MIXES.values() for n in mix})
    spark = None
    if "--spark" in sys.argv:
        from ark_invest_api_rust_data_spark.session import get_spark

        from run import PINS

        os.environ.update(PINS)
        spark = get_spark()
    out, bad = {}, []
    for scale, sf in SF_DIR.items():
        con = duckdb.connect()
        for t in ALL_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        out[scale] = {}
        for n in names:
            cur = con.execute(probes[n].oracle)
            cols = [d[0] for d in cur.description]
            out[scale][n] = result_hash(cols, cur.fetchall())
            if spark is not None:
                df = probes[n].spark(spark, sf)
                if result_hash(df.columns, df.collect()) != out[scale][n]:
                    bad.append(f"{scale}:{n}")
            print(scale, n, out[scale][n][:12], flush=True)
    with open(ORACLE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    if bad:
        print("spark != oracle:", " ".join(bad))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
