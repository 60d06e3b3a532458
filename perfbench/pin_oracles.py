"""Regenerate ``oracle_digests.json``: the digests the corpus workloads'
outputs are checked against, computed by their registered DuckDB oracles
(``__spark_entry__.oracle_sql()``) over the benchmark's input tables.

Run from the repository root:

    python3 perfbench/pin_oracles.py

The oracles are slow (minutes per query at sf0.1), which is why the
benchmark compares against pinned digests instead of re-running them.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from checks import DATA_DIR, DIGESTS_PATH, duckdb_connect, file_sha256, rows_digest  # noqa: E402

# part of the corpus_prep_dedup run -> registered query whose oracle
# defines its output
ORACLE_QUERIES = {
    "corpus_prep": "corpus_prep_final",
    "dedup_clusters": "dedup_best_of_cluster",
}


def main() -> int:
    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    pinned = {
        "command": "python3 perfbench/pin_oracles.py",
        "scales": {},
    }
    for scale in sorted(os.listdir(DATA_DIR)):
        sf_dir = os.path.join(DATA_DIR, scale)
        if not os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
            continue  # an extraction-only input
        entry = {
            "inputs": {
                name: file_sha256(os.path.join(sf_dir, name))
                for name in sorted(os.listdir(sf_dir))
            },
            "digests": {},
        }
        con = duckdb_connect(sf_dir)
        for part, query in ORACLE_QUERIES.items():
            t0 = time.time()
            rel = con.sql(oracles[query])
            digest = rows_digest(list(rel.columns), rel.fetchall())
            entry["digests"][part] = {"query": query, **digest}
            print(f"{scale} {query}: {digest['rows']} rows in {time.time() - t0:.0f} s",
                  flush=True)
        con.close()
        pinned["scales"][scale] = entry
    with open(DIGESTS_PATH, "w") as f:
        json.dump(pinned, f, indent=2, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
