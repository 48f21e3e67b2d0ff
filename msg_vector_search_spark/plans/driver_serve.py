"""Driver-side serving for the Engine's online verbs: indexed
``search`` / ``search_many``, ``search_text`` and ``search_hybrid``.

A warm request reads a few probed IVFPQ cells, a few postings buckets
and a handful of store rows — a few hundred KB — yet as a Spark plan it
runs 2-16 jobs, whose scheduling dominates its latency.  The reference
answers the same request with one in-process NumPy pass
(src/core/embeddings/processor.py:489-525).  This module does the
same: it lists the files a call would open, and when they total at
most :data:`DRIVER_SERVE_BYTES` it reads them with pyarrow through
``sources/fs.py`` and scores in numpy.  Otherwise it raises
:class:`NotServable` and the Engine runs its Spark plan — the only plan
that still works once probes outgrow the driver.

Results equal the Spark plans' bit for bit, because each expression
tree is replayed one operation at a time:

- cosine (``functions.vector``) and ADC (``pq.adc_score_col``) are
  sequential left folds over dimensions / subspaces; they are
  vectorised over rows and looped over the dimension, never summed by
  numpy's pairwise ``@``/``sum``;
- the 6dp grid is ``sparkmath.round_half_up`` and BM25's ``log`` is
  ``sparkmath.strict_log`` (fdlibm, like ``StrictMath.log``);
- the orders are (score desc, id asc), each query's shortlist is drawn
  from its own probed cells, tombstones keep a row iff
  ``gen > max(upto_gen)``, a null meta value never matches a filter,
  and ids missing from the store drop out as the inner join drops
  them;
- envelope rows carry the keys, key order and Python types that
  ``Row.asDict(recursive=True)`` gives on the Spark join.

Data the replay does not cover (nulls in scored columns, ragged
vectors, a store without a bucket layout or a Spark schema footer, a
column type ``collect`` converts differently) raises
:class:`NotServable` too.  Every index read enters through
``ann_index.read_meta`` / ``retrieval._read_text_meta`` and the store
through ``sinks.recover``, so the recovery contract covers this path.
Parity with the Spark plans is pinned in tests/test_driver_serve.py.
"""

from __future__ import annotations

import json
import math
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..functions.hashing import term_bucket, xxhash64_str
from ..functions.sparkmath import round_half_up, strict_log
from ..operators import ann_index, ivf, pq, retrieval
from ..sources import fs, sinks

#: Bytes of index and store files one call may read on the driver.
#: It caps driver memory, not time: on 4 local cores (indexed search,
#: Q = 1, Engine defaults, stores of 2k-1M rows) the driver beat the
#: Spark plan at every size measured — 0.04 vs 1.7 s at 1 MiB listed,
#: 1.1 vs 3.1 s at 49 MiB, 1.8 vs 3.8 s at 81 MiB, 4.3 vs 6.6 s at
#: 154 MiB — but its peak RSS grows ~4x the listed bytes (decoded
#: ids, row maps, float64 vectors): 34 MB at 19 MiB, 204 MB at 49 MiB,
#: 347 MB at 81 MiB, 635 MB at 154 MiB.  At 64 MiB a call costs the
#: driver ~270 MB while its saving has shrunk to the ~2 s of job
#: scheduling; larger probes stay Spark plans, whose scan memory sits
#: on executors and spreads across them.
DRIVER_SERVE_BYTES = 64 * 1024 * 1024


class NotServable(Exception):
    """The call must run as its Spark plan: its files exceed
    :data:`DRIVER_SERVE_BYTES`, or its data has a shape this module
    does not replay."""


class _Budget:
    """The files one call opens, listed (and their bytes charged)
    before any of them is read."""

    def __init__(self, spark):
        self.spark = spark
        self.used = 0

    def files(self, dirs: list) -> list:
        out = []
        for d in dirs:
            for path, size in fs.list_sized(self.spark, d, ".parquet"):
                out.append(path)
                self.used += size
        if self.used > DRIVER_SERVE_BYTES:
            raise NotServable(f"{self.used} bytes over the "
                              f"{DRIVER_SERVE_BYTES}-byte budget")
        return out

    def read(self, files: list, columns: list | None = None):
        """The files as one table (None when there are none)."""
        if not files:
            return None
        return pa.concat_tables(
            [fs.read_parquet(self.spark, f, columns) for f in files],
            promote_options="permissive")


def _ints(table, name: str, default: int | None = None) -> np.ndarray:
    """A non-null integer column as int64 (*default* when absent)."""
    if name not in table.column_names:
        return np.full(table.num_rows, default, dtype=np.int64)
    col = table.column(name)
    if col.null_count:
        raise NotServable(f"null {name}")
    return col.to_numpy().astype(np.int64)


def _matrix(col, width: int, dtype) -> np.ndarray:
    """A list column of non-null, *width*-long rows as an (n, width)
    array; anything else is a shape Spark's folds turn into nulls or
    errors."""
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) \
        else col
    flat = arr.flatten()
    if (arr.null_count or flat.null_count
            or len(flat) != width * len(arr)
            or (len(arr) and np.any(np.diff(arr.offsets.to_numpy())
                                    != width))):
        raise NotServable("null or ragged vector rows")
    return flat.to_numpy().astype(dtype).reshape(len(arr), width)


def _top(scores: np.ndarray, ids: list, k: int) -> list:
    """Row indices of the top *k* by (score desc, id asc) — the order
    of every top-k window in the Spark plans."""
    if np.isnan(scores).any():
        raise NotServable("NaN score")
    n = len(scores)
    if k <= 0 or n == 0:
        return []
    if n > k:
        kth = np.partition(scores, n - k)[n - k]
        cand = np.flatnonzero(scores >= kth).tolist()
    else:
        cand = range(n)
    return sorted(cand, key=lambda i: (-scores[i], ids[i]))[:k]


def _meta_mask(table, filters: dict) -> np.ndarray:
    """Rows whose recorded meta columns equal *filters* — SQL ``=``:
    a null never matches."""
    mask = np.ones(table.num_rows, dtype=bool)
    for col, val in filters.items():
        eq = pc.fill_null(pc.equal(table.column(col), val), False)
        mask &= eq.to_numpy(zero_copy_only=False)
    return mask


# -- IVFPQ -------------------------------------------------------------


def _cosine(vecs: np.ndarray, q: list) -> np.ndarray:
    """``vector.cosine(vec, q)`` per row: sequential double folds for
    both norms and the dot product, 0.0 where the norm product is 0."""
    nv = np.zeros(len(vecs))
    dot = np.zeros(len(vecs))
    for j, qj in enumerate(q):
        col = vecs[:, j]
        nv = nv + col * col
        dot = dot + col * qj
    nq = 0.0
    for x in q:
        nq += x * x
    n = np.sqrt(nv) * math.sqrt(nq)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(n == 0.0, 0.0, dot / n)


class _Ann:
    """One ``ann_index.search_index_many`` call: probe, list, then
    serve (:meth:`topk`)."""

    def __init__(self, budget: _Budget, path: str, qvecs: dict,
                 nprobe: int, filters: dict):
        spark = budget.spark
        meta = ann_index.read_meta(path)
        if set(filters) - set(meta.get("meta_cols", ())):
            raise NotServable("filter on an unrecorded column")
        self.budget, self.filters = budget, filters
        self.id_col, self.vec_col = meta["id_col"], meta["vec_col"]
        self.dim = int(meta["dim"])
        self.books = ann_index.load_codebooks(spark, path)
        cent = ann_index.load_centroid_rows(spark, path)
        self.qvecs = {qid: [float(x) for x in qv]
                      for qid, qv in qvecs.items()}
        self.cells = {qid: ivf.probe_cells_local(cent, qv, nprobe)
                      for qid, qv in self.qvecs.items()}
        union = sorted({c for cs in self.cells.values() for c in cs})
        root = path.rstrip("/")
        self.code_files = {c: budget.files([f"{root}/codes/cell={c}"])
                           for c in union}
        self.vec_files = budget.files(
            [f"{root}/vectors/cell={c}" for c in union])

    def _read(self, files: list, col: str):
        cols = [self.id_col, col, *self.filters]
        t = self.budget.read(files, cols)
        if t is None:
            return [], None
        t = t.filter(pa.array(_meta_mask(t, self.filters)))
        return t.column(self.id_col).to_pylist(), t.column(col)

    def topk(self, k: int, shortlist: int) -> dict:
        """``{qid: [(id, sim), ...]}`` in rank order."""
        m, ncodes = self.books.shape[0], self.books.shape[1]
        codes = {}
        for cell, files in self.code_files.items():
            ids, col = self._read(files, "codes")
            codes[cell] = (ids, _matrix(col, m, np.int64)
                           if col is not None else None)
        vids, vcol = self._read(self.vec_files, self.vec_col)
        for qv in self.qvecs.values():
            if len(qv) != self.dim:
                raise NotServable("query width != index width")
        vecs = (_matrix(vcol, self.dim, np.float64)
                if vcol is not None else np.zeros((0, self.dim)))
        rows_of: dict = {}
        for i, v in enumerate(vids):
            rows_of.setdefault(v, []).append(i)
        out = {}
        for qid, qv in self.qvecs.items():
            # ADC over this query's own cells, folded j = 0..m-1
            ids = []
            mats = []
            for c in self.cells[qid]:
                cids, mat = codes[c]
                if mat is not None:
                    ids += cids
                    mats.append(mat)
            if not ids:
                out[qid] = []
                continue
            mat = np.concatenate(mats)
            if mat.min() < 0 or mat.max() >= ncodes:
                raise NotServable("code out of range")
            table = pq.adc_table(qv, self.books)
            acc = np.zeros(len(ids))
            for j in range(m):
                acc = acc + table[j][mat[:, j]]
            adc = round_half_up(acc, 6)
            short = [ids[i] for i in _top(adc, ids, shortlist)]
            # exact re-rank: every vector row (union cells) joining
            # the shortlist on id
            rows = [r for s in short for r in rows_of.get(s, ())]
            sim = round_half_up(_cosine(vecs[rows], qv), 6)
            rids = [vids[r] for r in rows]
            out[qid] = [(rids[i], float(sim[i]))
                        for i in _top(sim, rids, k)]
        return out


# -- BM25 --------------------------------------------------------------


class _Text:
    """The inverted index's live postings for a term list, its live
    doc lengths and corpus statistics (``search_inverted_index``'s
    inputs), listed then read."""

    def __init__(self, budget: _Budget, path: str, terms: list):
        meta = retrieval._read_text_meta(path)
        self.budget = budget
        self.id_col = meta["id_col"]
        self.terms = sorted(set(terms))
        nb = int(meta["n_buckets"])
        root = path.rstrip("/")
        self.tomb_files = budget.files([f"{root}/tombstones"])
        self.post_files = budget.files(
            [f"{root}/postings/tb={b}"
             for b in sorted({term_bucket(t, nb) for t in self.terms})])
        self.doclen_files = budget.files([f"{root}/doclen"])

    def _alive(self, table, tomb: dict) -> np.ndarray:
        """``retrieval._live``: no tombstone, or ``gen > max(upto)``;
        a gen-less legacy store is generation 0."""
        keep = np.ones(table.num_rows, dtype=bool)
        if not tomb:
            return keep
        ids = table.column(self.id_col)
        gen = _ints(table, "gen", 0)
        idx = pc.index_in(ids, value_set=pa.array(
            list(tomb), ids.type)).to_numpy(zero_copy_only=False)
        hit = ~np.isnan(idx)
        upto = np.array(list(tomb.values()), dtype=np.int64)
        keep[hit] = gen[hit] > upto[idx[hit].astype(np.int64)]
        return keep

    def read(self) -> None:
        """Fill ``docs`` (ids with a live posting), ``tf`` (term ->
        per-doc tf sums), ``df`` (term -> live posting rows), ``dl``
        (per-doc live lengths; docs without one are dropped), ``n``
        and ``sumdl``."""
        id_col = self.id_col
        tomb: dict = {}
        t = self.budget.read(self.tomb_files, [id_col, "upto_gen"])
        if t is not None:
            for i, u in zip(t.column(id_col).to_pylist(),
                            t.column("upto_gen").to_pylist()):
                if i is not None and u is not None:
                    tomb[i] = max(u, tomb.get(i, u))
        d = self.budget.read(self.doclen_files)
        if d is None:
            raise NotServable("no doclen store")
        d = d.filter(pa.array(self._alive(d, tomb)))
        dl = d.column("dl")
        if dl.null_count:
            raise NotServable("null dl")
        self.n = d.num_rows
        self.sumdl = int(pc.sum(dl).as_py() or 0)
        self.docs, self.tf, self.df = [], {}, {}
        self.dl = np.zeros(0)
        p = self.budget.read(self.post_files)
        if p is None or not self.terms:
            return
        p = p.filter(pc.is_in(p.column("term"),
                              value_set=pa.array(self.terms)))
        p = p.filter(pa.array(self._alive(p, tomb)))
        pids = p.column(id_col).to_pylist()
        if None in pids:
            raise NotServable("null posting id")
        pterms = np.array(p.column("term").to_pylist(), dtype=object)
        ptf = _ints(p, "tf").astype(np.float64)
        index: dict = {}
        inv = np.array([index.setdefault(i, len(index)) for i in pids],
                       dtype=np.int64)
        # inner join with the live doc lengths (ids unique there, or
        # the join would fan out)
        dids = d.column(id_col).combine_chunks()
        if pc.count_distinct(dids).as_py() != d.num_rows - dids.null_count:
            raise NotServable("duplicate live doclen ids")
        docs = list(index)
        at = pc.index_in(pa.array(docs, dids.type), value_set=dids) \
            .to_numpy(zero_copy_only=False)
        keep = ~np.isnan(at)
        self.docs = [x for x, k in zip(docs, keep) if k]
        self.dl = dl.to_numpy().astype(np.float64)[
            at[keep].astype(np.int64)]
        for t in self.terms:
            sel = pterms == t
            self.df[t] = int(np.count_nonzero(sel))
            self.tf[t] = np.bincount(inv[sel], weights=ptf[sel],
                                     minlength=len(docs))[keep]

    def scores(self, terms: list, k1: float = retrieval.K1,
               b: float = retrieval.B) -> np.ndarray:
        """``retrieval._bm25_score_col`` per doc, one term position at
        a time, in the tree's association order."""
        n = self.n
        avgdl = float(self.sumdl) / float(n)
        score = None
        for t in terms:
            df = self.df[t]
            arg = 1.0 + (float(n - df) + 0.5) / (float(df) + 0.5)
            if not arg > 0.0:
                raise NotServable("log of a non-positive value")
            idf = strict_log(arg)
            tf = self.tf[t]
            norm = tf + k1 * ((1.0 - b) + b * (self.dl / avgdl))
            c = idf * (tf * (k1 + 1.0)) / norm
            score = c if score is None else score + c
        return score


def search_text(spark, path: str, terms: list, limit: int,
                require_all: bool = False) -> list:
    """``Engine.search_text``'s rows: ``search_inverted_index`` ordered
    by (bm25 desc, id asc), limited — the raw (unrounded) score."""
    text = _Text(_Budget(spark), path, terms)
    text.read()
    if not terms or not text.docs:
        return []
    keep = np.ones(len(text.docs), dtype=bool)
    if require_all:
        for t in terms:
            keep &= text.tf[t] > 0
    docs = [x for x, k in zip(text.docs, keep) if k]
    score = text.scores(terms)[keep]
    return [{"message_id": docs[i], "score": float(score[i])}
            for i in _top(score, docs, limit)]


def _kw_ranks(text: _Text, terms: list, k: int) -> dict:
    """The keyword leg of ``hybrid_serve_many``
    (``search_inverted_index_many``, Q = 1): docs with a positive tf
    sum, ranked on the 6dp-rounded score."""
    if not terms or not text.docs:
        return {}
    total = sum(text.tf[t] for t in terms)
    keep = total > 0
    docs = [x for x, kk in zip(text.docs, keep) if kk]
    score = round_half_up(text.scores(terms)[keep], 6)
    return {docs[i]: r for r, i in enumerate(_top(score, docs, k), 1)}


# -- store payload ---------------------------------------------------------

_INT_KEY = re.compile(r"[+-]?[0-9]+")


def _store_bucket(key, layout: dict) -> int:
    """``sinks._bucket_expr`` for one key: ``floor(long(key) / width)``
    (range) or ``pmod(xxhash64(string(key)), n)`` (hash)."""
    if layout["layout"] == "hash":
        return xxhash64_str(str(key)) % layout["num_buckets"]
    if isinstance(key, str) and _INT_KEY.fullmatch(key):
        key = int(key)
    if not isinstance(key, int) or not -2 ** 63 <= key < 2 ** 63:
        raise NotServable(f"range key {key!r}")
    return math.floor(float(key) / float(layout["range_width"]))


def _collected(col, dtype) -> list:
    """A column's values as ``collect()`` converts its Spark type."""
    from pyspark.sql import types as T

    plain = (T.StringType, T.LongType, T.IntegerType, T.ShortType,
             T.ByteType, T.BooleanType, T.DoubleType, T.FloatType,
             T.DateType)
    if isinstance(dtype, T.TimestampType) and pa.types.is_timestamp(
            col.type):
        raw = col.cast(pa.int64()).to_pylist()
        unit = col.type.unit
        if unit == "ns":
            raw = [None if v is None else v // 1000 for v in raw]
        elif unit != "us":
            mul = {"s": 1_000_000, "ms": 1000}[unit]
            raw = [None if v is None else v * mul for v in raw]
        return [dtype.fromInternal(v) for v in raw]
    if isinstance(dtype, plain) or (isinstance(dtype, T.ArrayType)
                                    and isinstance(dtype.elementType,
                                                   plain)):
        return col.to_pylist()
    raise NotServable(f"store column type {dtype.simpleString()}")


def store_rows(budget: _Budget, store: str, key: str, ids) -> dict:
    """``{id: [row dict, ...]}`` for the store rows keyed by *ids*,
    columns in ``sinks.read_store``'s order: read only the buckets
    the ids map to, after ``sinks.recover``."""
    from pyspark.sql.types import StructType

    sinks.recover(store)
    layout = sinks._read_layout(store)
    if layout is None:
        raise NotServable("store without a bucket layout")
    ids = sorted(set(ids))
    out: dict = {i: [] for i in ids}
    if not ids:
        return out
    buckets = sorted({_store_bucket(i, layout) for i in ids})
    files = budget.files([f"{store}/{sinks.BUCKET_COL}={b}"
                          for b in buckets])
    schemas = set()
    for f in files:
        t = fs.read_parquet(budget.spark, f)
        md = (t.schema.metadata or {}).get(
            b"org.apache.spark.sql.parquet.row.metadata")
        if md is None:
            raise NotServable("store file without a Spark schema")
        schemas.add(md)
        if len(schemas) > 1:
            raise NotServable("store files disagree on the schema")
        schema = StructType.fromJson(json.loads(md))
        try:
            mask = pc.is_in(t.column(key),
                            value_set=pa.array(ids, t.column(key).type))
        except (pa.ArrowInvalid, pa.ArrowTypeError) as e:
            raise NotServable(f"store key type: {e}") from None
        t = t.filter(mask)
        cols = [(fld.name, _collected(t.column(fld.name), fld.dataType))
                for fld in schema.fields if fld.name != sinks.BUCKET_COL]
        for r in range(t.num_rows):
            row = {name: vals[r] for name, vals in cols}
            out[row[key]].append(row)
    return out


# -- the Engine verbs --------------------------------------------------------


def indexed_results(spark, index_dir: str, store: str, qvecs: dict,
                    limit: int, threshold: float, filters: dict,
                    nprobe: int, shortlist: int) -> dict:
    """``Engine._indexed_envelopes``' rows per query: the index serve,
    ``sim >= threshold``, then the store payload joined on the id
    (``{message_id, <store columns>, sim, similarity_score}``), in
    (sim desc, message_id) order.  A remote store is not served here
    (``sinks.recover`` and the layout sidecar are local-only), so that
    is decided before any index file is listed."""
    if fs.is_remote(store):
        raise NotServable("remote store")
    budget = _Budget(spark)
    ann = _Ann(budget, index_dir, qvecs, nprobe, filters)
    top = {qid: [(i, s) for i, s in rows if s >= threshold]
           for qid, rows in ann.topk(limit, shortlist).items()}
    payload = store_rows(budget, store, "message_id",
                         [i for rows in top.values() for i, _ in rows])
    out = {}
    for qid, rows in top.items():
        res = []
        for mid, sim in rows:
            for row in payload[mid]:
                d = {"message_id": row["message_id"]}
                d.update((c, v) for c, v in row.items()
                         if c != "message_id")
                d["sim"] = sim
                d["similarity_score"] = round_half_up(sim, 3)
                res.append(d)
        out[qid] = sorted(res, key=lambda d: (-d["sim"], d["message_id"]))
    return out


def hybrid_results(spark, text_dir: str, index_dir: str, terms: list,
                   qvec: list, leg_k: int, k: int, nprobe: int,
                   shortlist: int, k_rrf: int = 60) -> list:
    """``Engine.search_hybrid``'s result rows: ``hybrid_serve_many`` at
    Q = 1 — both legs top-*leg_k* with their own ranks, fused by
    reciprocal rank on the 6dp grid, top *k* by (rrf desc, id)."""
    budget = _Budget(spark)
    ann = _Ann(budget, index_dir, {0: qvec}, nprobe, {})
    text = _Text(budget, text_dir, terms)
    vec_rows = ann.topk(leg_k, shortlist)[0]
    vec = {i: r for r, (i, _) in enumerate(vec_rows, 1)}
    if len(vec) < len(vec_rows):
        raise NotServable("an id ranked twice by the vector leg")
    text.read()
    kw = _kw_ranks(text, terms, leg_k)
    ids = sorted(set(kw) | set(vec))
    rrf = [round_half_up((1.0 / (k_rrf + kw[i]) if i in kw else 0.0)
                         + (1.0 / (k_rrf + vec[i]) if i in vec else 0.0),
                         6) for i in ids]
    order = _top(np.array(rrf), ids, k)
    return [{"rank_kw": kw.get(ids[i]), "rank_vec": vec.get(ids[i]),
             "rrf": rrf[i], "message_id": ids[i]} for i in order]
