"""Driver-style correctness gate dry run: every queries() entry vs its
oracle_sql() at sf0.01 (the scale the round driver uses), exact value
comparison after sorted-column/sorted-row normalization — the same shape
as CORRECTNESS_r{N}.json. Prints one line per query and a final summary;
exits non-zero on any mismatch.

Usage:  python scripts/gate_dryrun.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()

# queries whose oracle is rows+schema only (documented value divergence).
# EMPTY since round 4: flagship_approx switched to the deterministic
# md5-register HLL, so every query is held to the exact value hash.
VALUE_EXEMPT: set[str] = set()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sorted columns, canonical dtypes, sorted rows: the comparator
    shared with tests/test_oracle_parity.py (each applies its own float
    rule afterwards)."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def values_equal(s: pd.DataFrame, o: pd.DataFrame) -> bool:
    for c in s.columns:
        if pd.api.types.is_float_dtype(s[c]):
            a, b = s[c].to_numpy(), o[c].to_numpy()
            if not ((np.isnan(a) & np.isnan(b)) | (a == b)).all():
                return False
        elif not (s[c].astype(str) == o[c].astype(str)).all():
            return False
    return True


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from logpipe_spark.session import build_session

    spark = build_session(app_name="gate_dryrun", cpus=8,
                          shuffle_partitions=8)
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    names = sorted(only or queries.keys())
    failed = []
    for name in names:
        try:
            s = normalize(queries[name](spark, sf_dir).toPandas())
            o = normalize(duck.sql(oracles[name]).df())
            rows = len(s) == len(o) and len(s) > 0
            schema = list(s.columns) == list(o.columns)
            vals = (name in VALUE_EXEMPT) or (rows and schema
                                              and values_equal(s, o))
            ok = rows and schema and vals
        except Exception as exc:  # noqa: BLE001 — report, keep going
            ok, rows, schema, vals = False, False, False, False
            print(f"ERROR {name}: {exc}", flush=True)
        status = "OK " if ok else "FAIL"
        print(f"{status} {name}  rows={rows} schema={schema} values={vals}",
              flush=True)
        if not ok:
            failed.append(name)
    print(f"\n{len(names) - len(failed)}/{len(names)} match"
          + (f"; FAILED: {failed}" if failed else ""))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
