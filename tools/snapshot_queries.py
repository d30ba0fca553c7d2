"""Row-for-row snapshots of the no-oracle approximate queries.

The oracle contract covers SQL-expressible queries; the approximates
(s33/s40/s42/s58/s60) are verified across code changes by comparing rows
bit-for-bit between the pre-change and post-change implementations —
the discipline OPTIMIZATION_r13.md records for every similarity.py
change.

Run: python tools/snapshot_queries.py OUT.json [query ...]
Compares with: python tools/snapshot_queries.py --diff A.json B.json
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

DEFAULT = ["s33_ann_topk", "s40_ivf_topk", "s42_pq_topk", "s58_ivfpq_topk",
           "s60_ivfpq_residual_topk", "s31_cosine_topk"]
SFS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def main() -> None:
    if sys.argv[1] == "--diff":
        a = json.loads(Path(sys.argv[2]).read_text())
        b = json.loads(Path(sys.argv[3]).read_text())
        ok = True
        for key in sorted(set(a) | set(b)):
            if a.get(key) != b.get(key):
                ok = False
                print(f"MISMATCH {key}")
                print("  a:", a.get(key))
                print("  b:", b.get(key))
        print("IDENTICAL" if ok else "DIFFERS")
        sys.exit(0 if ok else 1)

    from etl_example_spark.plans.registry import load_all
    from etl_example_spark.session import get_spark

    out = Path(sys.argv[1])
    names = sys.argv[2:] or DEFAULT
    spark = get_spark(app_name="snapshot_queries", shuffle_partitions=8)
    registry = load_all()
    snap: dict[str, list] = {}
    for sf in SFS:
        for n in names:
            df = registry[n].spark_builder(spark, sf)
            rows = sorted(repr(r) for r in df.collect())
            snap[f"{sf}::{n}"] = rows
            print(f"{sf}::{n}: {len(rows)} rows")
    out.write_text(json.dumps(snap, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
