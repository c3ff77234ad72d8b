"""Row-level diff between a query's Spark result and its DuckDB oracle.

Usage::

    python tools/diff_oracle.py SF_DIR query [query ...]

Prints the rows present on only one side (after check_oracle's value
normalization, with DuckDB rows fetched through Arrow by ``fetch_duck``
so triage sees the same values the gate hashes), capped at 20 per side
— the triage companion to tools/check_oracle.py, which only reports the
hash mismatch.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import duck_connect, fetch_duck, norm_value  # noqa: E402


def rows_of(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(norm_value(vals[i]) for i in order))
    return sorted(cols), sorted(out)


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    from syntheticdata_pipeline__spark.session import get_spark

    spark = get_spark("oracle-diff", cpus="8")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(sf_dir)
    from syntheticdata_pipeline__spark.plans import load_all

    registry = load_all()
    for name in names:
        spec = registry[name]
        sdf = spec.build(spark, sf_dir)
        scols, srows = rows_of(sdf.columns, sdf.collect())
        dcols, drows = rows_of(*fetch_duck(con.execute(spec.oracle))[:2])
        print(f"== {name}: spark cols {scols}")
        print(f"==        duck  cols {dcols}")
        sset, dset = set(srows), set(drows)
        only_s = sorted(sset - dset)[:20]
        only_d = sorted(dset - sset)[:20]
        from collections import Counter

        if not only_s and not only_d and Counter(srows) != Counter(drows):
            cs, cd = Counter(srows), Counter(drows)
            only_s = sorted((cs - cd).elements())[:20]
            only_d = sorted((cd - cs).elements())[:20]
            print("(multiplicity-only diff)")
        print(f"rows: spark={len(srows)} duck={len(drows)}")
        for r in only_s:
            print("  SPARK-ONLY", r)
        for r in only_d:
            print("  DUCK-ONLY ", r)
    con.close()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
