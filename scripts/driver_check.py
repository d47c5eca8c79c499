"""Driver-style oracle check: stricter than tests/test_oracle_parity.py.

The driver converts both result sets to pandas, sorts columns by name,
sorts rows, and hashes the stringified values — so a DuckDB HUGEINT sum
that pandas renders as ``8387.0`` mismatches Spark's ``8387`` even
though the numbers are equal.  This script reproduces that exact
comparison so oracle-type bugs surface before the round snapshot.

Usage:
    python scripts/driver_check.py [query_name ...]      # default: all
    python scripts/driver_check.py --since retrieval[,catalog_r14...]
        run only the entries REGISTERED BY the named catalog module(s)
        (matched against each builder fn's __module__ basename) — the
        fast smoke for a new module before the full sweep (VERDICT r12
        #6: the full 400+-entry sweep is ~35 min; a round needs to
        check its new module in ~1 min without giving up the full
        sweep as the round gate).

Per-entry wall time (Spark build+collect plus oracle) is printed at
the end, slowest first, so regressions in CHECK cost — not just in
query results — stay visible round over round.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb

# the checkout this script lives in, so a scratch copy or worktree
# checks its own code
ENTRY = Path(__file__).resolve().parents[1] / "__spark_entry__.py"

SF = "/root/testdata/sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def norm(df):
    df = df[sorted(df.columns)]
    rows = sorted(tuple(str(v) for v in row)
                  for row in df.itertuples(index=False, name=None))
    return list(df.columns), rows


def _load_entry_module():
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _select_names(argv: list[str], queries: dict) -> list[str]:
    if argv and argv[0] == "--since":
        if len(argv) < 2:
            raise SystemExit("--since needs a module list, "
                             "e.g. --since retrieval")
        wanted = {m.strip() for m in argv[1].split(",") if m.strip()}
        names = [n for n, fn in queries.items()
                 if getattr(fn, "__module__", "").rsplit(".", 1)[-1]
                 in wanted]
        if not names:
            raise SystemExit(f"--since {sorted(wanted)}: no catalog "
                             "entries registered by those modules")
        return names
    return argv or list(queries)


def main() -> int:
    mod = _load_entry_module()
    queries, oracles = mod.queries(), mod.oracle_sql()
    names = _select_names(sys.argv[1:], queries)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "8g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    failed = []
    wall: dict[str, float] = {}
    for name in names:
        if name not in queries:
            print(f"{name}: NOT IN CATALOG"); failed.append(name); continue
        t0 = time.perf_counter()
        try:
            sdf = queries[name](spark, SF).toPandas()
        except Exception as e:
            wall[name] = round(time.perf_counter() - t0, 2)
            print(f"{name}: SPARK ERR {type(e).__name__}: {str(e)[:200]}")
            failed.append(name); continue
        if name not in oracles:
            wall[name] = round(time.perf_counter() - t0, 2)
            print(f"{name}: rows-only ({len(sdf)} rows)"); continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            wall[name] = round(time.perf_counter() - t0, 2)
            print(f"{name}: ORACLE ERR {type(e).__name__}: {str(e)[:200]}")
            failed.append(name); continue
        wall[name] = round(time.perf_counter() - t0, 2)
        scols, srows = norm(sdf)
        ocols, orows = norm(odf)
        if scols != ocols:
            print(f"{name}: SCHEMA MISMATCH {scols} vs {ocols}")
            failed.append(name); continue
        if len(srows) != len(orows):
            print(f"{name}: ROWS {len(srows)} vs {len(orows)}")
            failed.append(name); continue
        bad = [(a, b) for a, b in zip(srows, orows) if a != b]
        if bad:
            print(f"{name}: HASH FAIL {len(bad)}/{len(srows)} rows; "
                  f"first: {bad[0]}")
            failed.append(name)
        else:
            print(f"{name}: OK ({len(srows)} rows)")
    spark.stop()
    slow = sorted(wall.items(), key=lambda kv: -kv[1])
    print(f"\n# check wall time: total {round(sum(wall.values()), 1)}s "
          f"over {len(wall)} entries; slowest: "
          + ", ".join(f"{n}={t}s" for n, t in slow[:10]))
    print(f"\n{len(names) - len(failed)}/{len(names)} green"
          + (f"; FAILED: {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
