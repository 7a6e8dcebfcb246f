#!/usr/bin/env python
"""Print the result digest of every rows-only declared query (the queries
without a DuckDB oracle), as tests/test_oracle_parity.py computes it.

Usage: python tools/rows_only_digests.py <sf_dir> > digests.json

The output is one JSON object {sf_name: {query: sha256}}; merge it into
tests/rows_only_digests.json to pin a scale. Run it twice, at
SPARK_GRAFT_CPUS=1 and =4, and compare: a digest must not depend on the
partitioning.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> None:
    sf_dir = sys.argv[1]
    from test_oracle_parity import ORACLES, QUERIES, result_digest

    from torcdb_spark.session import get_spark

    spark = get_spark(app_name="torcdb_spark-digests")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in sorted(n for n in QUERIES if n not in ORACLES):
        sdf = QUERIES[name](spark, sf_dir)
        out[name] = result_digest([tuple(r) for r in sdf.collect()], sdf.columns)
        spark.catalog.clearCache()
    print(json.dumps({os.path.basename(sf_dir.rstrip("/")): out}, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
