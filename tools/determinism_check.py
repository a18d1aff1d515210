"""Partitioning-independence / rerun-determinism check.

Runs every oracle-checked key TWICE in one session — the second time
under a different ``spark.sql.shuffle.partitions`` (32 → 7) — and
compares the canonical sorted row sets.  This mechanizes the claim
every key's docstring makes implicitly: the RESULT is a function of
the data, never of the physical partitioning, task order, or session
history.

What this catches that the oracle gate cannot:
- plan-analysis flakiness (e.g. the r6 cogroup attribute-dedup bug,
  where a shared-subtree column intermittently vanished from the Arrow
  batch — found by running the same key against a differently-laid-out
  copy of the data);
- partition-order-dependent results (row_number without a total-order
  tiebreak, first/last without ignorenulls + ordering, float sums
  rounded too tightly);
- session-state leaks (a key whose second run sees caches/temp views
  from its first and answers differently).

Usage: python tools/determinism_check.py [keys...]
       (default: all oracle keys at sf0.01; writes one line per key)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from diff_oracle import canon_rows  # reuse the driver-mirroring canonicalizer
from raster2points_spark.registry import load_all
from raster2points_spark.runner import run_key
from raster2points_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    keys = sys.argv[1:]
    registry = load_all()
    if not keys:
        keys = [k for k, s in registry.items() if s.check == "oracle"]
    spark = get_spark("determinism")

    passed, failed = [], []
    for k in keys:
        rows = []
        try:
            for parts in ("32", "7"):
                spark.conf.set("spark.sql.shuffle.partitions", parts)
                r = run_key(spark, k, SF, lambda df: df.toPandas(), cold=True)
                rows.append((parts, canon_rows(r["result"]), r["build_s"] + r["exec_s"]))
        except Exception as ex:
            failed.append(k)
            print(f"!! {k}: run failed: {ex}")
            continue
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
        (p1, r1, t1), (p2, r2, t2) = rows
        if r1 == r2:
            passed.append(k)
            print(f"ok {k}: {len(r1)} rows identical at parts={p1}/{p2} ({t1:.1f}s/{t2:.1f}s)")
        else:
            failed.append(k)
            a, b = set(r1), set(r2)
            print(
                f"!! {k}: DIVERGED across partitioning — "
                f"{len(a - b)} rows only at parts=32, {len(b - a)} only at parts=7"
            )
            for r in list(a - b)[:2]:
                print(f"   32-only: {r}")
            for r in list(b - a)[:2]:
                print(f"   7-only : {r}")

    print(f"\n{len(passed)} deterministic, {len(failed)} diverged/failed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    raise SystemExit(main())
