"""Write ORACLE_FP.json: the fingerprint (``oracle.fingerprint``) of
every registered query's DuckDB oracle SQL.

``tests/test_parity.py::test_oracle_sql_matches_fingerprints`` fails
when an oracle's text no longer matches its fingerprint. Run this script
when an oracle is changed on purpose, and record that change in
CHANGES.md:

    python scripts/update_oracle_fingerprints.py
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FP_PATH = os.path.join(ROOT, "ORACLE_FP.json")


def main() -> None:
    from pipelinejobs_indexer_spark import registry
    from pipelinejobs_indexer_spark.oracle import fingerprint

    registry.load_all()
    fps = {n: fingerprint(sql) for n, sql in registry.ORACLE.items()}
    with open(FP_PATH, "w") as fh:
        json.dump(fps, fh, indent=1, sort_keys=True)
    print(f"wrote {FP_PATH}: {len(fps)} fingerprints")


if __name__ == "__main__":
    main()
