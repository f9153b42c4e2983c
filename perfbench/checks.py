"""Correctness gate and input pinning, independent of the engine's own
oracle code: DuckDB reads the feed parquet directly."""

from __future__ import annotations

import glob
import json
import os

import duckdb

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "feed_digests.json")

# order-independent: row count plus the sum of a 64-bit md5 of each row,
# including the segment the row was delivered in
_DIGEST_SQL = """
SELECT count(*) AS n, sum(md5_number_lower(concat_ws('|',
    regexp_extract(filename, 'batch=[0-9]+'), op, epoch_us(ts), op_seq,
    conv_id, turn_idx, coalesce(role, '~'), coalesce(text, '~'),
    coalesce(tool, '~'), source_file))) AS h
FROM read_parquet({files}, filename=true)
"""

_ORACLE_SQL = """
WITH ev AS (SELECT * FROM read_parquet({files}, union_by_name=true)),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx ORDER BY ts DESC, op_seq DESC) AS rn
    FROM ev
)
SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us
FROM r WHERE rn = 1 AND op <> 'D'
"""


def segment_files(seg_dirs: list[str]) -> list[str]:
    files = []
    for d in seg_dirs:
        files += sorted(glob.glob(os.path.join(d, "*.parquet")))
    return files


def _sql_list(files: list[str]) -> str:
    return "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"


def feed_digest(seg_dirs: list[str]) -> str:
    n, h = duckdb.sql(_DIGEST_SQL.format(files=_sql_list(segment_files(seg_dirs)))).fetchone()
    return f"{n}:{h}"


def check_pin(key: str, seed: int, seg_dirs: list[str]) -> bool:
    """Refuse (exit) a feed whose digest differs from the pinned one.
    Returns False when ``seed`` has no pin for ``key``."""
    with open(PINS) as f:
        want = json.load(f).get(key, {}).get(str(seed))
    if want is None:
        return False
    got = feed_digest(seg_dirs)
    if want != got:
        raise SystemExit(
            f"feed {key} seed {seed} digest {got} differs from the pinned "
            f"{want}: the generator changed, so runs are not comparable"
        )
    return True


def oracle_rows(seg_dirs: list[str]) -> set[tuple]:
    """Expected live table state: last writer (ts, then op_seq) per key,
    deletes dropped."""
    q = _ORACLE_SQL.format(files=_sql_list(segment_files(seg_dirs)))
    return {tuple(r) for r in duckdb.sql(q).fetchall()}


def _rows(df) -> set[tuple]:
    return set(df.toPandas().itertuples(index=False, name=None))


def table_rows(df) -> set[tuple]:
    from pyspark.sql import functions as F

    return _rows(df.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.unix_micros("ts").alias("ts_us"),
    ))


def state_mismatches(spark, table, seg_dirs: list[str]) -> int:
    """Rows present on one side only (0 when the table equals the oracle)."""
    return len(oracle_rows(seg_dirs) ^ table_rows(table.read(spark)))


def frame_mismatches(a, b) -> int:
    return len(_rows(a) ^ _rows(b.select(*a.columns)))


def invariant_violations(stats_rows: list[dict]) -> int:
    """Batches where events_in != failed + late + dup + applied."""
    return sum(
        1 for r in stats_rows
        if r["events_in"] != r["failed"] + r["late_dropped"] + r["dup_dropped"] + r["applied"]
    )


def merge_stats_row(s) -> dict:
    return {
        "events_in": s.events_in, "failed": s.failed,
        "late_dropped": s.late_dropped, "dup_dropped": s.dup_dropped,
        "applied": s.applied(),
    }
