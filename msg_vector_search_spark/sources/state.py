"""Watermark state (SURVEY 2.A A7/A8, 2.H H1/H2).

The reference keeps a scalar ``last_processed_timestamp`` in a SQLite
KV table with corruption guards (reference: src/core/database/
processor.py:32-115 — future timestamp resets to 0 at :62-64, a
>10-year-old value clamps to now-30d at :66-69).  Here the state is a
single-row Parquet table written atomically per batch; Structured
Streaming replaces all of it with checkpointed offsets (see
streaming/stream.py).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from . import fs as fs_probe

EPOCH = dt.datetime(1970, 1, 1)
WATERMARK_KEY = "last_processed_timestamp"


def clamp_watermark(ts: Column, as_of: Column) -> Column:
    """H2 corruption guards as one expression.

    * watermark in the future (> as_of)       -> epoch (reprocess all)
    * watermark absurdly old (> 10 y before)  -> as_of - 30 days
    * otherwise                               -> unchanged

    Reference: processor.py:62-69.  ``as_of`` is explicit (not ``now()``)
    so the operator is deterministic and oracle-checkable.
    """
    ten_years = F.expr("INTERVAL 3650 DAYS")
    thirty_days = F.expr("INTERVAL 30 DAYS")
    return (
        F.when(ts > as_of, F.lit(EPOCH))
        .when(ts < as_of - ten_years, (as_of - thirty_days))
        .otherwise(ts)
    )


def py_clamp_watermark(ts_us: int | None, as_of_us: int) -> int | None:
    """Driver-side twin of :func:`clamp_watermark` on Spark's internal
    timestamps (epoch microseconds): the day intervals are exact
    microsecond counts, and the future case lands on the ``EPOCH``
    literal's value."""
    from pyspark.sql.types import TimestampType

    day = 86_400 * 1_000_000
    if ts_us is None:
        return None
    if ts_us > as_of_us:
        return TimestampType().toInternal(EPOCH)
    if ts_us < as_of_us - 3650 * day:
        return as_of_us - 30 * day
    return ts_us


def duck_clamp_watermark(ts: str, as_of: str) -> str:
    """DuckDB rendering of :func:`clamp_watermark` for the oracle."""
    return (
        f"CASE WHEN {ts} > {as_of} THEN TIMESTAMP '1970-01-01 00:00:00' "
        f"WHEN {ts} < {as_of} - INTERVAL 3650 DAYS "
        f"THEN {as_of} - INTERVAL 30 DAYS ELSE {ts} END"
    )


def read_watermark(spark: SparkSession, state_dir: str,
                   as_of: dt.datetime | None = None) -> dt.datetime:
    """A7 ``watermark_read``: load + clamp the scalar watermark; missing
    or unreadable state means epoch (full scan), mirroring the
    reference's default 0.

    The state is the one-row file :func:`write_watermark` writes, so it
    is read on the driver — pyarrow through ``sources/fs.py`` (the
    Hadoop ``FileSystem`` for a remote dir), clamped by
    :func:`py_clamp_watermark` — with no Spark job; the ingest cycle
    and the freshness gate each call this once, and a Spark read cost
    1-2 jobs per call.  The value and type are what a Spark read,
    :func:`clamp_watermark` and ``collect`` give: a naive datetime.  A
    stranded ``._old`` is not healed here; it reads EPOCH."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import TimestampType

    path = os.path.join(state_dir, "watermark.parquet")
    # tz-AWARE now: a naive utcnow() wall time would land on an
    # instant offset by the driver's zone, so on any non-UTC
    # driver the clamp guards would fire on the wrong instant (fresh
    # watermarks read as "future" -> clamped to EPOCH -> silent full
    # rescans).  An aware datetime converts to the exact intended
    # instant — the same hazard filters.py documents for date literals.
    as_of = as_of or dt.datetime.now(dt.timezone.utc)
    files = fs_probe.list_files(spark, path)
    if not files:
        return EPOCH
    try:
        table = pa.concat_tables([fs_probe.read_parquet(spark, f)
                                  for f in files])
    except (OSError, pa.ArrowInvalid):
        return EPOCH
    keys = table.column("key").to_pylist()
    ts = pc.cast(table.column("ts"), pa.timestamp("us"), safe=False) \
        .cast(pa.int64()).to_pylist()
    for k, t in zip(keys, ts):
        if k == WATERMARK_KEY:
            tt = TimestampType()
            return tt.fromInternal(py_clamp_watermark(
                t, tt.toInternal(as_of)))
    return EPOCH


def write_watermark(spark: SparkSession, state_dir: str,
                    ts: dt.datetime) -> None:
    """A8: overwrite the single-row state table after a successful batch
    (reference: processor.py:77-115 ``INSERT OR REPLACE``).

    Local state writes go DRIVER-SIDE (pyarrow single file, staged then
    swapped — the ``write_small_parquet`` economics): a Spark write of
    a one-row Python-sourced frame measured a ~5-6 s stall per call in
    the write task (the Python-runner teardown in the write path; a
    JVM-native 1-row write is ~0.4 s) — a fixed cost the ingest path
    paid on EVERY batch (guide §5: no cluster jobs for driver-sized
    work; r18).  The physical form matches the old write (INT64 micros,
    UTC-adjusted), so readers are unchanged.  A crash between the two
    swap renames strands the state as ``._old``; the next read then
    reports EPOCH (full rescan), which the last-writer-wins sink makes
    safe — the same recovery the Spark overwrite's failure modes had.
    Remote state dirs keep the Spark write."""
    path = os.path.join(state_dir, "watermark.parquet")
    if fs_probe.is_remote(state_dir):
        df = spark.createDataFrame([(WATERMARK_KEY, ts)],
                                   schema=schemas.WATERMARK_STATE)
        df.coalesce(1).write.mode("overwrite").parquet(path)
        return
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as papq

    from .sinks import _swap_dir

    # naive datetimes carry UTC semantics throughout the engine (the
    # session timezone is pinned); tz-aware values convert exactly
    table = pa.table({
        "key": pa.array([WATERMARK_KEY], pa.string()),
        "ts": pa.array([ts], pa.timestamp("us", tz="UTC")),
    })
    tmp = path + "._staged"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    papq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
    _swap_dir(tmp, path)


# -- maintenance verbs (reference: src/initialize.py:51-116) --------------

def reset_watermark(spark: SparkSession, state_dir: str,
                    ts: dt.datetime) -> dt.datetime:
    """``--reset-timestamp`` (reference: initialize.py:82-98): force the
    watermark to an explicit timestamp — the operator's lever for
    re-ingesting from a chosen point (e.g. after a bad batch).  Returns
    the previous value for the operator's log."""
    prev = read_watermark(spark, state_dir)
    write_watermark(spark, state_dir, ts)
    return prev


def delete_watermark(state_dir: str) -> bool:
    """``--force`` (reference: initialize.py:100-116 DELETEs the
    watermark key): drop the state entirely so the next ingest
    reprocesses from epoch.  Safe against the upsert sink's last-
    writer-wins idempotence — re-ingest replaces, never duplicates.
    Returns whether state existed."""
    import shutil
    path = os.path.join(state_dir, "watermark.parquet")
    existed = os.path.exists(path)
    shutil.rmtree(path, ignore_errors=True)
    return existed


def check_timestamps(spark: SparkSession, messages: DataFrame,
                     state_dir: str, ts_col: str = "ts") -> dict:
    """``--check-timestamps`` (reference: initialize.py:51-80): one
    aggregate over the source + the state row, with the reference's
    sanity verdict — a watermark outside [min_ts, max_ts] means the
    incremental scan will either reprocess everything or skip new rows.
    """
    row = messages.agg(F.min(ts_col).alias("min_ts"),
                       F.max(ts_col).alias("max_ts")).collect()[0]
    wm = read_watermark(spark, state_dir)
    in_range = (wm == EPOCH
                or (row["min_ts"] is not None
                    and row["min_ts"] <= wm <= row["max_ts"]))
    return {"min_ts": row["min_ts"], "max_ts": row["max_ts"],
            "watermark": wm, "watermark_in_range": bool(in_range)}
