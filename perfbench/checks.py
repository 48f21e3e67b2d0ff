"""Output checks for the Engine benchmark, computed without Spark.

The reference answer for a vector query is a numpy cosine top-k over
the store as pyarrow reads it, on the same 6-decimal grid the Engine
serves with and ties broken by ``message_id``.  Brute ``search`` must
equal it; indexed ``search`` must reach :data:`RECALL_FLOOR` against it.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: floor on a run's mean recall@10 of indexed serving (nlist=16,
#: nprobe=8, shortlist=400) against the numpy truth, over the single
#: searches and the non-replayed ``search_many`` keys (16 per run).
#: Ten serve runs measured run means of 0.80-0.91 when the benchmark
#: was written; a drop in ANN quality below 0.7 fails the run.
RECALL_FLOOR = 0.7
#: absolute tolerance on a served similarity (the store holds float32
#: vectors; both sides round to 6 dp)
SIM_TOL = 2e-6

STORE_COLS = ("message_id", "embedding", "conversation_type", "session_id",
              "message_text")


def read_store(store_path: str) -> dict:
    """The live rows of an Engine store (``<store_dir>/
    message_embeddings.parquet``) as numpy columns (``vec`` for the
    embeddings).  Part files only: staged or swapped-out directories
    (``._old``, ``._staged``) and sidecars are not data."""
    def live(path: str) -> bool:
        *dirs, name = os.path.relpath(path, store_path).split(os.sep)
        return name.startswith("part-") and all(
            "=" in d and not d.endswith(("._old", "._staged")) for d in dirs)

    files = sorted(p for p in glob.glob(os.path.join(store_path, "**", "*.parquet"),
                                        recursive=True) if live(p))
    t = pa.concat_tables([pq.read_table(p, columns=list(STORE_COLS))
                          for p in files])
    out = {c: np.array(t.column(c).to_pylist(), dtype=object)
           for c in STORE_COLS if c != "embedding"}
    out["vec"] = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    return out


def truth_topk(store: dict, qvec, k: int, threshold: float | None = None,
               conversation_type: str | None = None,
               session_id: str | None = None) -> list[tuple[str, float]]:
    """[(message_id, sim)] — cosine top-k on the 6 dp grid, ties by
    ``message_id``, top-k first and the threshold after (the Engine's
    order)."""
    mask = np.ones(len(store["message_id"]), dtype=bool)
    if conversation_type is not None:
        mask &= store["conversation_type"] == conversation_type
    if session_id is not None:
        mask &= store["session_id"] == session_id
    ids = store["message_id"][mask]
    if len(ids) == 0:
        return []
    vecs = store["vec"][mask]
    q = np.asarray(qvec, dtype=np.float64)
    norms = np.linalg.norm(vecs, axis=1) * np.linalg.norm(q)
    sims = np.round(np.divide(vecs @ q, norms, out=np.zeros(len(ids)),
                              where=norms > 0), 6) + 0.0
    order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))[:k]
    out = [(ids[i], float(sims[i])) for i in order]
    if threshold is not None:
        out = [(m, s) for m, s in out if s >= threshold]
    return out


def same_ranking(served: list[dict], truth: list[tuple[str, float]]) -> bool:
    """Served rows equal the truth: same ids in the same order, sims
    within :data:`SIM_TOL`."""
    if [r["message_id"] for r in served] != [m for m, _ in truth]:
        return False
    return all(abs(r["sim"] - s) <= SIM_TOL for r, (_, s) in zip(served, truth))


def recall(served_ids: list[str], truth: list[tuple[str, float]],
           k: int = 10) -> float:
    """|served top-k ∩ truth top-k| / |truth top-k|; 1.0 when the truth
    is empty (nothing to miss)."""
    want = {m for m, _ in truth[:k]}
    if not want:
        return 1.0
    return len(want & set(served_ids[:k])) / len(want)
