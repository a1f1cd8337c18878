"""Seeded synthetic transcript corpora and the DuckDB oracle over them.

The generator mirrors ``logpipe_spark.synth.synth_transcripts``: every field
is a function of the row id through the same md5 mixer (first 7 hex digits of
``md5(id || salt)``). ``synth.py`` takes no seed, so here the seed is folded
into every salt, which makes two seeds two different corpora of one shape.
It runs in DuckDB, not Spark, so that generating the input costs no JVM time
and the oracle shares no code with the program under test.

A corpus is cached under the work directory by (shape, seed): sixteen parquet
files split by row id (balanced input splits even when one conversation is
hot). Only the few most recently used corpora are kept.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import duckdb

N_FILES = 16
KEEP_CORPORA = 6
ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["search", "bash", "editor", "browser", "none"]
# The transcript grok pattern (operators/parse.py TRANSCRIPT_GROK), written
# out in RE2 syntax so that the oracle does not reuse the program's regex.
TURN_RE = r"\w+ \S+ -> [+-]?\d+: .*"


@dataclass(frozen=True)
class Shape:
    """What a workload's corpus looks like; together with a seed it names
    one corpus."""

    turns: int
    turns_per_conv: int
    error_share: float
    hot_fraction: float = 0.0

    @property
    def key(self) -> str:
        return (f"t{self.turns}-c{self.turns_per_conv}"
                f"-e{self.error_share:g}-h{self.hot_fraction:.4f}")


def _mix(salt: str, seed: int) -> str:
    """SQL for synth.py's mixer, salted with the seed: 0 .. 2^28-1."""
    return f"('0x' || substr(md5(id::VARCHAR || '{salt}|{seed}'), 1, 7))::BIGINT"


def _generate_sql(shape: Shape, seed: int) -> str:
    n = shape.turns
    n_hot = int(n * shape.hot_fraction)
    n_convs = max(2, 1 + (n - n_hot) // shape.turns_per_conv)
    conv = (f"CASE WHEN id < {n_hot} THEN 0 "
            f"ELSE {_mix('conv', seed)} % {n_convs - 1} + 1 END")
    err_cut = int(round(shape.error_share * 10_000))
    good = ("['GET','POST','PUT','DELETE'][m + 1] || ' /api/ep/' || k || ' -> '"
            " || status || ': value=' || (k * 7 % 997) || ' user=' || (h % 1000)")
    return f"""
    CREATE TABLE corpus AS
    WITH g AS (
      SELECT id, {conv} AS conv_n, {_mix('conv', seed)} AS h,
             {_mix('role', seed)} % 4 AS r, {_mix('tool', seed)} % 5 AS tl,
             {_mix('m', seed)} % 4 AS m, 200 + {_mix('s', seed)} % 300 AS status,
             {_mix('k', seed)} % 1000 AS k,
             {_mix('err', seed)} % 10000 < {err_cut} AS is_err,
             {_mix('blank', seed)} % 2 = 0 AS is_blank
      FROM range({n}) t(id))
    SELECT 'conv-' || lpad(conv_n::VARCHAR, 6, '0') AS conv_id,
           (row_number() OVER (PARTITION BY conv_n ORDER BY id) - 1)::INTEGER
             AS turn_idx,
           {ROLES}[r + 1] AS role,
           CASE WHEN is_err AND is_blank THEN ''
                WHEN is_err THEN 'garbled ' || id
                ELSE {good} END AS text,
           {TOOLS}[tl + 1] AS tool,
           to_timestamp(1700000000 + id % 86400) AS ts,
           id % {N_FILES} AS part
    FROM g"""


class Corpus:
    """One generated corpus on disk, plus the oracle's answers about it."""

    def __init__(self, root: Path, shape: Shape, seed: int):
        self.shape = shape
        self.seed = seed
        self.dir = root / f"{shape.key}-s{seed}"
        self.parquet = self.dir / "parquet"
        self.files = [self.parquet / f"part-{i}.parquet" for i in range(N_FILES)]
        # A quarter of the rows, still split into four tasks (one per core),
        # so warm-up jobs start every Python worker a full job uses.
        self.warm_slice = self.files[:N_FILES // 4]
        if not (self.dir / "DONE").exists():
            self._generate()
        os.utime(self.dir)
        _prune(root)
        self._con = duckdb.connect()
        # a table, not a view: the regexes run once for all oracle queries
        self._con.execute(f"""
            CREATE TABLE turns AS SELECT *,
              CASE WHEN text IS NULL OR trim(text) = '' THEN 'blank'
                   WHEN NOT regexp_full_match(text, '{TURN_RE}') THEN 'malformed'
              END AS error_kind,
              len(regexp_extract_all(coalesce(text, ''), '[^ ]+')) AS n_tokens
            FROM read_parquet('{self.parquet}/*.parquet')""")

    def _generate(self) -> None:
        tmp = self.dir.with_name(self.dir.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        (tmp / "parquet").mkdir(parents=True)
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        con.execute(_generate_sql(self.shape, self.seed))
        for i in range(N_FILES):
            con.execute(f"COPY (SELECT * EXCLUDE (part) FROM corpus WHERE part = {i})"
                        f" TO '{tmp}/parquet/part-{i}.parquet' (FORMAT PARQUET)")
        con.close()
        (tmp / "DONE").touch()
        shutil.rmtree(self.dir, ignore_errors=True)
        os.replace(tmp, self.dir)

    def input_mb(self) -> float:
        return sum(f.stat().st_size for f in self.parquet.glob("*.parquet")) / 1e6

    # --- oracle ---------------------------------------------------------

    def sink_counts(self) -> dict[str, int]:
        """Rows each routed sink must hold (standard_rules: one sink per
        tool and per role, error rows only in ``error``, clean rows that
        match no rule in ``overflow``). Sinks with no rows are left out."""
        tools = ", ".join(f"'{t}'" for t in TOOLS)
        roles = ", ".join(f"'{r}'" for r in ROLES)
        rows = self._con.execute(f"""
            SELECT 'tool_' || tool, count(*) FROM turns
              WHERE error_kind IS NULL AND tool IN ({tools}) GROUP BY ALL
            UNION ALL SELECT 'role_' || role, count(*) FROM turns
              WHERE error_kind IS NULL AND role IN ({roles}) GROUP BY ALL
            UNION ALL SELECT 'error', count(*) FROM turns
              WHERE error_kind IS NOT NULL
            UNION ALL SELECT 'overflow', count(*) FROM turns
              WHERE error_kind IS NULL AND tool NOT IN ({tools})
                AND role NOT IN ({roles})""").fetchall()
        return {k: v for k, v in rows if v}

    def clean_turns_and_convs(self) -> tuple[int, int]:
        return self._con.execute(
            "SELECT count(*), count(DISTINCT conv_id) FROM turns "
            "WHERE error_kind IS NULL").fetchone()

    def rollup(self, lookup_rows) -> list[tuple]:
        """``flagship_summary`` (exact distinct) rows, in its order and with
        Spark's rounding (HALF_UP on the double's decimal form)."""
        self._con.execute("CREATE OR REPLACE TEMP TABLE lookup "
                          "(role VARCHAR, tool VARCHAR, team VARCHAR, "
                          "cost_weight DOUBLE, sla_ms INTEGER)")
        self._con.executemany("INSERT INTO lookup VALUES (?, ?, ?, ?, ?)",
                              [tuple(r) for r in lookup_rows])
        rows = self._con.execute("""
            SELECT role, tool, team, count(*), sum(n_tokens),
                   count(DISTINCT conv_id)
            FROM turns LEFT JOIN lookup USING (role, tool)
            WHERE error_kind IS NULL
            GROUP BY role, tool, team
            ORDER BY role NULLS FIRST, tool NULLS FIRST, team NULLS FIRST
            """).fetchall()
        return [(role, tool, team, n, float(s), _round_half_up(s / n, 4), convs)
                for role, tool, team, n, s, convs in rows]

    def close(self) -> None:
        self._con.close()


def _prune(root: Path) -> None:
    done = sorted((d for d in root.iterdir() if (d / "DONE").exists()),
                  key=lambda d: d.stat().st_mtime, reverse=True)
    for d in done[KEEP_CORPORA:]:
        shutil.rmtree(d, ignore_errors=True)


def _round_half_up(x: float, dp: int) -> float:
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-dp), ROUND_HALF_UP))


def parquet_counts(pattern: str) -> dict[str, int]:
    """Row counts of written parquet, by its ``sink`` partition column."""
    con = duckdb.connect()
    try:
        return dict(con.execute(
            f"SELECT sink, count(*) FROM read_parquet('{pattern}', "
            "hive_partitioning = true) GROUP BY sink").fetchall())
    finally:
        con.close()
