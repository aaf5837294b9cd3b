"""Regenerate ``expected.json``: the result digests the benchmark checks.

    python3 perfbench/make_expected.py

Each pinned key with an oracle gets the digest of its DuckDB oracle result
over ``data/sf0.01``. Keys without an oracle are checked by row count, taken
from one Spark run. The Spark result of every key is compared with the
oracle digest too, and the script exits 1 on any mismatch.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.checks import digest, load_json  # noqa: E402
from perfbench.run import DATA, SHUFFLE_PARTITIONS  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def main() -> int:
    import duckdb

    from fits2db_spark.registry import all_oracles, all_queries
    from fits2db_spark.session import get_spark

    pinned = load_json("keys.json")
    keys = pinned["HEADLINE"] + pinned["WIDE"]
    oracles, qs = all_oracles(), all_queries()
    con = duckdb.connect()
    for t in TABLES.split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    spark = get_spark("perfbench_expected", shuffle_partitions=SHUFFLE_PARTITIONS)
    expected, bad = {}, []
    for key in keys:
        df = qs[key](spark, DATA)
        got = digest(df.collect(), df.columns)
        if key in oracles:
            res = con.execute(oracles[key])
            want = digest(res.fetchall(), [d[0] for d in res.description])
            expected[key] = want
            status = "ok" if got == want else "MISMATCH"
            if got != want:
                bad.append(key)
        else:
            expected[key] = {"rows": got["rows"]}
            status = "rows-only"
        print(f"{status:9} {key}: {expected[key]['rows']} rows", flush=True)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
