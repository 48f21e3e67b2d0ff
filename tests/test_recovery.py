"""The single commit and the single recovery entry point of the
persisted stores (``sinks.commit_partitions`` / ``sinks.recover``).

The crash-point sweep makes every ``os.rename`` / ``os.replace`` /
``os.remove`` / ``shutil.rmtree`` inside a maintenance verb raise in
turn, reads the store back through its public read path (which
recovers), and requires the rows to be exactly the pre-verb rows when
the crash hit before the commit's plan landed, and exactly the
uncrashed verb's rows after it — never a mix of the two."""

from __future__ import annotations

import ast
import contextlib
import datetime as dt
import logging
import os
import pathlib
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from msg_vector_search_spark.operators import ann_index
from msg_vector_search_spark.sources import readers, sinks

SF = "/root/testdata/sf0.001"
ORIGIN = dt.datetime(2024, 1, 1)


class Crash(Exception):
    pass


@contextlib.contextmanager
def _fs_calls(crash_at: dict):
    """Record the filesystem mutations made under each directory of
    *crash_at* (``<dir>/...`` and siblings such as ``<dir>._staged``
    count for ``<dir>``); the call numbered ``crash_at[dir]`` (1-based)
    raises :class:`Crash` instead of running.  Other calls pass
    through unrecorded."""
    real = {(os, "rename"): os.rename, (os, "replace"): os.replace,
            (os, "remove"): os.remove, (shutil, "rmtree"): shutil.rmtree}
    calls: dict = {d: [] for d in crash_at}
    lock = threading.Lock()

    def wrap(fn, name):
        def call(path, *args, **kwargs):
            owner = next((d for d in calls if str(path).startswith(d)),
                         None)
            if owner is not None:
                with lock:
                    calls[owner].append((name, str(path)))
                    n = len(calls[owner])
                if n == crash_at[owner]:
                    raise Crash(f"{name} #{n} {path}")
            return fn(path, *args, **kwargs)
        return call

    for (mod, name), fn in real.items():
        setattr(mod, name, wrap(fn, name))
    try:
        yield calls
    finally:
        for (mod, name), fn in real.items():
            setattr(mod, name, fn)


def _committed(calls: list, base: str, crash_at: int | None) -> set:
    """Stores (relative to *base*) whose commit plan was written."""
    plan = sinks.DELETE_MANIFEST + ".tmp"
    return {os.path.relpath(os.path.dirname(p), base)
            for i, (name, p) in enumerate(calls, 1)
            if name == "replace" and p.endswith(plan) and i != crash_at}


def _sweep(root: str, make, verb, read) -> int:
    """Run *verb* on copies of the state *make* builds, crashing at
    every filesystem mutation in turn (four copies at a time).
    *read(dir)* returns ``{store: sorted rows}`` through the public
    read path.  Returns the number of crash points."""
    template = os.path.join(root, "template")
    make(template)
    before = read(_copy(template, os.path.join(root, "before")))
    ref = _copy(template, os.path.join(root, "ref"))
    with _fs_calls({ref: None}) as calls:
        verb(ref)
    after = read(ref)
    points = {_copy(template, os.path.join(root, f"crash{n:03d}")): n
              for n in range(1, len(calls[ref]) + 1)}

    def crash(d: str):
        with pytest.raises(Crash):
            verb(d)
        return _committed(list(crashed[d]), d, points[d]), read(d)

    with _fs_calls(points) as crashed, ThreadPoolExecutor(4) as pool:
        results = dict(zip(points, pool.map(crash, points)))
    for d, (done, got) in results.items():
        at = (points[d], crashed[d][points[d] - 1])
        for s in after:
            assert got[s] in (before[s], after[s]), ("torn", s, at)
            assert got[s] == (after if s in done else before)[s], (s, at)
    return len(points)


def _copy(src: str, dst: str) -> str:
    shutil.copytree(src, dst)
    return dst


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def _store_rows(spark):
    return lambda d: {".": _rows(sinks.read_store(spark, d)
                                 .select("k", "v", "ts", "ord"))}


def _rows_of(spark, keys, v: str = "v", minutes: bool = True,
             order: int = 1):
    """JVM-side rows ``(k, v, ts, ord)`` for *keys* (a Python-sourced
    frame would pay a Python worker on every verb that reads it)."""
    k = F.col("id")
    ts = F.lit(ORIGIN)
    if minutes:
        ts = ts + F.make_interval(mins=k.cast("int"))
    return spark.range(max(keys) + 1).filter(k.isin(list(keys))).select(
        k.alias("k"), F.concat(F.lit(v), k.cast("string")).alias("v"),
        ts.alias("ts"), F.lit(order).alias("ord"))


def _make_store(spark, keys=range(40)):
    """Range layout, 10 keys per bucket: buckets 0-3 for keys 0-39."""
    def make(d):
        sinks.upsert_parquet(spark, _rows_of(spark, keys), d, key="k",
                             order_col="ord", layout="range",
                             range_width=10)
    return make


def test_upsert_parquet_crash_points(spark, tmp_path):
    """Four touched buckets (three rewritten, one new): the upsert is
    all-or-nothing across them at every crash point."""
    batch = _rows_of(spark, (5, 15, 25, 45), v="new", minutes=False,
                     order=2)
    n = _sweep(str(tmp_path), _make_store(spark),
               lambda d: sinks.upsert_parquet(spark, batch, d, key="k",
                                              order_col="ord"),
               _store_rows(spark))
    assert n >= 3 * 3  # three bucket swaps of three calls each, at least


def test_delete_keys_crash_points(spark, tmp_path):
    """Two buckets rewritten and one emptied (its directory removed)."""
    doomed = _rows_of(spark, [3, 13, *range(30, 40)]).select("k")
    _sweep(str(tmp_path), _make_store(spark),
           lambda d: sinks.delete_keys(spark, d, "k", doomed),
           _store_rows(spark))


def test_retention_sweep_crash_points(spark, tmp_path):
    """Bucket 0 expires whole, bucket 1 straddles the cutoff."""
    cutoff = ORIGIN + dt.timedelta(minutes=15)
    _sweep(str(tmp_path), _make_store(spark),
           lambda d: sinks.retention_sweep(spark, d, cutoff),
           _store_rows(spark))


def test_compact_store_crash_points(spark, tmp_path):
    """Buckets 0-2 hold two files each; compaction never loses or
    duplicates a row at any crash point."""
    def make(d):
        _make_store(spark, range(0, 40, 2))(d)
        odd = (_rows_of(spark, range(1, 30, 2))
               .withColumn(sinks.BUCKET_COL,
                           (F.col("k") / 10).cast("int")))
        odd.repartition(1).write.mode("append") \
            .partitionBy(sinks.BUCKET_COL).parquet(d)

    def verb(d):
        assert sinks.compact_store(spark, d)["compacted"] == [0, 1, 2]

    _sweep(str(tmp_path), make, verb, _store_rows(spark))


def test_ann_upsert_index_crash_points(spark, tmp_path):
    """Both cell stores of the ANN index, merged concurrently: each
    store is all-or-nothing on its own."""
    emb = readers.read_table(spark, SF, "embeddings") \
        .select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 4 == 0)
    batch = emb.filter(F.col("vec_id") == 1).select(
        (F.col("vec_id") + 900_000).alias("vec_id"),
        "embedding").localCheckpoint()

    def read(d):
        ann_index.read_meta(d)
        return {s: _rows(spark.read.parquet(os.path.join(d, s))
                         .select("vec_id", "cell"))
                for s in ("vectors", "codes")}

    _sweep(str(tmp_path),
           lambda d: ann_index.build_index(spark, base, d, nlist=2, m=8,
                                           ncodes=16),
           lambda d: ann_index.upsert_index(spark, d, batch),
           read)


def test_recover_reports_a_stranded_root(spark, tmp_path, caplog):
    store = str(tmp_path / "store")
    _make_store(spark)(store)
    want = _store_rows(spark)(store)
    os.rename(store, store + "._old")
    with caplog.at_level(logging.WARNING, logger=sinks.__name__):
        assert _store_rows(spark)(store) == want
    warned = [r.getMessage() for r in caplog.records
              if r.name == sinks.__name__ and r.levelno == logging.WARNING]
    assert warned == [f"recover: restored {store} from {store}._old"]


def test_only_sinks_references_the_recovery_internals():
    """Recovery is decided in one place: no package module but
    ``sources/sinks.py`` names the heal verbs or the commit plan."""
    internals = {"heal_root", "heal_partial_swaps",
                 "_finish_pending_delete", "DELETE_MANIFEST"}
    pkg = pathlib.Path(sinks.__file__).resolve().parents[1]
    found = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "sources/sinks.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            name = (node.id if isinstance(node, ast.Name)
                    else node.attr if isinstance(node, ast.Attribute)
                    else node.name if isinstance(node, ast.alias)
                    else None)
            if name in internals:
                found.append(f"{rel}:{node.lineno}: {name}")
    assert found == []
