r"""Local replica of the driver's correctness gate.

Runs every registered query's Spark plan AND its DuckDB oracle SQL on
the same parquet (default sf0.01), then compares row-count + column
names + order-insensitive canonical rows (the driver sorts columns by
name before hashing — mirrored here).  Each frame also goes through
the driver's ``sort_values`` over all columns, so a cell type the
driver's canonicalizer cannot order fails here first.

Each passing key's ``ok`` line ends with the sha256 of its canonical
Spark rows, so two runs (before and after a refactor, say) compare by
diffing those digests:
``grep ^ok run.txt | awk '{print $2, $NF}'``.
Each ``ok`` and rows-only line also carries ``plan=``, the sha256 of
the key's optimized logical plan text with session counters and the
checkout path masked (see ``plan_digest``).  Equal digests in two runs
mean the key does the same work:
``sed -n 's/^\(ok\|--\) \([^:]*\):.* plan=\([0-9a-f]*\).*/\2 \3/p' run.txt``.

Usage:
    python tools/diff_oracle.py [--sf /root/testdata/sf0.01] [keys...]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import re
import sys
import time
import traceback
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from raster2points_spark.io import TABLES
from raster2points_spark.registry import load_all
from raster2points_spark.runner import run_key
from raster2points_spark.session import get_spark

NULL = "∅"


def canon_val(v):
    if v is None:
        return NULL
    if isinstance(v, float):
        if math.isnan(v):
            return NULL
        if v == 0.0:  # -0.0 vs 0.0
            return "0.0"
        return repr(v)
    if isinstance(v, Decimal):
        # The DRIVER does NOT bridge Decimal cells: Spark toPandas()
        # yields decimal.Decimal while DuckDB .df() yields float64, and
        # the driver canonicalizes them differently → guaranteed hash
        # mismatch (the r5 agg_decimal_exact red, which this coercion
        # used to mask).  Mirror the driver by refusing, so any query
        # returning DecimalType fails LOCALLY first.
        raise TypeError(
            "Decimal result cell: queries must return engine-neutral "
            "scalars (bigint cents or identically-formatted strings on "
            "both sides), never DecimalType"
        )
    if isinstance(v, (datetime, pd.Timestamp)):
        if pd.isna(v):
            return NULL
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple, dict)):
        # The DRIVER's canonicalizer crashes on list/dict cells (pandas
        # sort_values → unhashable type).  Mirror that as a hard error so
        # array-returning queries can't pass locally and fail in grading.
        raise TypeError(
            f"unhashable result cell {type(v).__name__}: queries must "
            "serialize arrays/structs to strings (concat_ws / to_json)"
        )
    if hasattr(v, "tolist"):  # numpy scalar / ndarray
        t = v.tolist()
        return canon_val(t)
    if isinstance(v, (bytes, bytearray)):
        # Same class of bug as Decimal: driver-side rendering of bytes
        # cells is not guaranteed engine-neutral.  No registered key
        # returns raw binary (all pre-convert to hex/md5/length) — keep
        # it that way by refusing here.
        raise TypeError(
            "bytes result cell: queries must pre-convert binary to "
            "hex/base64/md5 strings on both sides"
        )
    if v is pd.NaT or (isinstance(v, float) and pd.isna(v)):
        return NULL
    return f"{type(v).__name__}:{v}" if isinstance(v, bool) else str(v)


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    df = df.reindex(sorted(df.columns), axis=1)
    out = []
    for row in df.itertuples(index=False, name=None):
        out.append(tuple(canon_val(v) for v in row))
    out.sort()
    return out


def plan_digest(df) -> str:
    """sha256 of ``df``'s optimized logical plan, with what differs
    between two runs of the same plan masked: expression ids (``#123``),
    the session counters in Python lambdas' variable names
    (``lambda x_12``) and common subexpression names
    (``_common_expr_3``), ``plan_id`` tags, the checkout path, and the
    metadata after a cached scan's column list, which Spark cuts at a
    fixed length before the ids are masked."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    text = re.sub(r"(FileScan \w+ \[[^\]\n]*\]).*", r"\1", text)
    text = re.sub(r"#\d+", "#", text)
    text = re.sub(r"(lambda [xyz])_\d+", r"\1", text)
    text = re.sub(r"_common_expr_\d+", "_common_expr_", text)
    text = re.sub(r"plan_id=\d+", "plan_id=", text)
    text = text.replace(ROOT, "<root>")
    return hashlib.sha256(text.encode()).hexdigest()


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        problems.append(
            f"schema: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
        )
        return problems
    if len(spark_df) != len(oracle_df):
        problems.append(f"rowcount: spark={len(spark_df)} oracle={len(oracle_df)}")
    a, b = canon_rows(spark_df), canon_rows(oracle_df)
    if a != b:
        sa, sb = set(a), set(b)
        only_a = list(sa - sb)[:3]
        only_b = list(sb - sa)[:3]
        problems.append(f"values: {len(sa - sb)} rows only-in-spark, {len(sb - sa)} only-in-oracle")
        for r in only_a:
            problems.append(f"  spark-only : {r}")
        for r in only_b:
            problems.append(f"  oracle-only: {r}")
        cols = sorted(spark_df.columns)
        problems.append(f"  (cols sorted: {cols})")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    args = ap.parse_args()

    registry = load_all()
    keys = args.keys or [k for k, s in registry.items() if s.check == "oracle"]

    spark = get_spark("diff_oracle")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(args.sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    passed, failed, skipped = [], [], []
    for k in keys:
        # Registry-level cache hygiene: some keys persist() reused
        # intermediates (basket_rules, source_vocab_overlap, dedup_*)
        # and cannot unpersist them before the returned lazy plan is
        # consumed.  Those caches are dead once the key's comparison is
        # done — every run is cold, so a 210-key session doesn't
        # accumulate pinned executor storage.
        spec = registry.get(k)
        if spec is None:
            print(f"?? {k}: not registered")
            failed.append(k)
            continue
        # rows-only/smoke keys still exercise the Spark side
        oracle = spec.check == "oracle" and spec.oracle is not None
        try:
            collect = (lambda df: df.toPandas()) if oracle else (lambda df: df.count())
            r = run_key(spark, k, args.sf, lambda df: (plan_digest(df), collect(df)), cold=True)
        except Exception:
            print(f"XX {k}: SPARK ERROR" + ("" if oracle else " (rows-only)"))
            traceback.print_exc()
            failed.append(k)
            continue
        (plan, sdf), t_spark = r["result"], r["build_s"] + r["exec_s"]
        if not oracle:
            print(f"-- {k}: rows-only, spark rows={sdf} ({t_spark:.1f}s) plan={plan}")
            skipped.append(k)
            continue
        try:
            t0 = time.perf_counter()
            odf = con.execute(spec.oracle).df()
            t_duck = time.perf_counter() - t0
        except Exception:
            print(f"XX {k}: ORACLE ERROR")
            traceback.print_exc()
            failed.append(k)
            continue
        try:
            for df in (sdf, odf):
                df.sort_values(by=sorted(df.columns))
            problems = compare(k, sdf, odf)
        except TypeError as e:
            problems = [f"canonicalizer: {e}"]
        if problems:
            print(f"XX {k}: MISMATCH")
            for p in problems:
                print(f"   {p}")
            failed.append(k)
        else:
            digest = hashlib.sha256(repr(canon_rows(sdf)).encode()).hexdigest()
            print(
                f"ok {k}: {len(sdf)} rows (spark {t_spark:.1f}s, duck {t_duck:.1f}s)"
                f" plan={plan} sha256={digest}"
            )
            passed.append(k)

    print(f"\n{len(passed)} passed, {len(failed)} failed, {len(skipped)} rows-only")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
