"""Driver-shaped correctness gate: every queries() entry must match its
oracle_sql() under order-insensitive comparison (sorted columns + rows),
exactly as CORRECTNESS_r{N}.json is computed — run here at sf0.001 for speed
(the driver runs sf0.01)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from scripts.gate_dryrun import normalize

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

# Columns that are ESTIMATES in both engines compared within relative
# tolerance instead of exactly. EMPTY since round 4: flagship_approx now
# uses the deterministic md5-register HLL (operators/hll.py), so even the
# approximate aggregate hash-matches exactly.
APPROX_COLS: dict[str, dict[str, float]] = {}


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(name, query_builds, duck):
    sdf = query_builds.build(name).toPandas()
    odf = duck.sql(ORACLES[name]).df()
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} != {len(odf)}"
    assert len(sdf) > 0, f"{name}: empty result"
    s, o = normalize(sdf), normalize(odf)
    if name in APPROX_COLS:  # align rows on the deterministic columns only
        keys = [c for c in s.columns if c not in APPROX_COLS[name]]
        s = s.sort_values(keys).reset_index(drop=True)
        o = o.sort_values(keys).reset_index(drop=True)
    assert list(s.columns) == list(o.columns), f"{name}: columns {list(s.columns)} vs {list(o.columns)}"
    for c in s.columns:
        if c in APPROX_COLS.get(name, {}):
            a, b = s[c].to_numpy(float), o[c].to_numpy(float)
            rtol = APPROX_COLS[name][c]
            assert np.isclose(a, b, rtol=rtol).all(), \
                f"{name}.{c}: approx beyond rtol={rtol}: {a} vs {b}"
        elif pd.api.types.is_float_dtype(s[c]):
            a, b = s[c].to_numpy(), o[c].to_numpy()
            both_nan = np.isnan(a) & np.isnan(b)
            ok = both_nan | np.isclose(a, b, rtol=0, atol=1e-9, equal_nan=True)
            assert ok.all(), f"{name}.{c}: float mismatch e.g. {a[~ok][:3]} vs {b[~ok][:3]}"
        else:
            eq = (s[c].astype(str) == o[c].astype(str))
            assert eq.all(), (
                f"{name}.{c}: mismatch e.g. "
                f"{s[c][~eq].head(3).tolist()} vs {o[c][~eq].head(3).tolist()}"
            )


def test_every_query_has_callable():
    for name in QUERIES:
        assert callable(QUERIES[name])


def test_registry_complete():
    """Every module-level q_* function is a driver query with an oracle,
    and the driver window leads queries() in order."""
    fns = {n[2:]: f for n, f in vars(entrymod).items()
           if n.startswith("q_") and callable(f)}
    assert all(QUERIES.get(n) is f for n, f in fns.items())
    assert len(QUERIES) == len(fns)
    assert set(QUERIES) == set(ORACLES)
    window = entrymod.DRIVER_WINDOW
    assert list(QUERIES)[:50] == list(window)
    assert len(window) == len(set(window)) == 50


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "turn_count" in df.columns
