"""Oracle parity runner: each query value-hash-compared to its DuckDB
oracle through ``tests.helpers.compare_query`` (row-count-checked when it
has no oracle), at every scale factor given, in a vanilla ``local[8]``
session: the external driver's gate shape. The dirs of every ``ensure_*``
store family (``bench._STORE_PREFIXES``) are cleared first, so stores
build cold, unless ``--keep-stores``.

Usage (``--sf`` is a comma-separated list of table dirs, default
``$SPARK_GRAFT_SF_DIR``; default queries: the whole catalog):

    python tools/parity.py --sf <sf0.01 dir>                 # whole catalog
    python tools/parity.py --sf <sf0.01 dir> --front 50      # driver window
    python tools/parity.py --sf <sf0.001 dir>,<sf0.01 dir> q1_pricing_summary ...

Exits 1 if any query fails.
"""
import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="queries (default: all registered)")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--front", type=int, help="only the first N registered queries")
    ap.add_argument("--keep-stores", action="store_true")
    args = ap.parse_args()
    if not args.sf:
        sys.exit("pass --sf or set SPARK_GRAFT_SF_DIR to the directory of the input tables")
    if not args.keep_stores:
        from bench import _STORE_PREFIXES
        from etlutil_spark.operators.util import store_root

        root = store_root()
        for entry in sorted(os.listdir(root)) if os.path.isdir(root) else []:
            if entry.startswith(_STORE_PREFIXES):
                shutil.rmtree(os.path.join(root, entry), ignore_errors=True)

    spark = SparkSession.builder.master("local[8]").appName("parity").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e
    from tests.helpers import compare_query

    qs, os_ = e.queries(), e.oracle_sql()
    names = args.names or list(qs)[: args.front]
    t_start = time.time()
    n_fail = 0
    for sf_dir in args.sf.split(","):
        for name in names:
            t0 = time.time()
            try:
                if name in os_:
                    compare_query(qs[name](spark, sf_dir), os_[name], sf_dir)
                    mode = "hash"
                else:
                    assert qs[name](spark, sf_dir).count() >= 0
                    mode = "rows"
                print(f"OK {name} [{mode}] {sf_dir} {time.time() - t0:.1f}s", flush=True)
            except Exception as ex:
                n_fail += 1
                print(f"FAIL {name} {sf_dir}: {type(ex).__name__}: {str(ex)[:200]}", flush=True)
    n = len(names) * len(args.sf.split(","))
    print(f"DONE: {n - n_fail} ok, {n_fail} fail of {n} in {time.time() - t_start:.0f}s", flush=True)
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
