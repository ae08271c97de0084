"""Regenerate ``perfbench/digests.json`` from the DuckDB oracle twins.

Each benchmark query's ``oracle`` SQL runs in DuckDB over views on the same
parquet tables the benchmark reads; its result is digested the way the
benchmark digests Spark's output. Run it once when a workload's query list
or the test data changes, not per benchmark run: the connected-components
oracles alone take minutes at sf0.1.

    python3 perfbench/make_digests.py [--data-root DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# run as a script: import from the checkout root, not this directory
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

from perfbench.digest import DIGESTS_PATH, digest  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402
from qa_data_pipeline_rag_llm_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY  # noqa: E402
from qa_data_pipeline_rag_llm_spark.schemas import TESTDATA_TABLES  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--data-root", default=os.path.dirname(DEFAULT_SF_DIR),
                    help="directory holding the sf*/ test tables")
    args = ap.parse_args()
    out: dict[str, dict[str, dict]] = {}
    for w in WORKLOADS.values():
        sf_dir = os.path.join(args.data_root, w.sf)
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for q in w.queries:
            if q in out.get(w.sf, {}):
                continue
            oracle = REGISTRY[q].oracle
            if oracle is None:
                sys.exit(f"{q} has no oracle twin; it cannot be in a workload")
            t0 = time.perf_counter()
            out.setdefault(w.sf, {})[q] = digest(con.sql(oracle).df())
            print(f"{w.sf} {q}: {out[w.sf][q]['rows']} rows, "
                  f"{time.perf_counter() - t0:.1f} s", flush=True)
        con.close()
    with open(DIGESTS_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
