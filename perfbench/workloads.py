"""The Engine benchmark's workloads: closed loops with one client that
waits for each reply (an MCP desktop client), driving only the public
``Engine`` API on a generated corpus.

Both workloads start the same way, and that part is timed too:
generate the seeded corpus, start the session, cold-bootstrap the store
(``update_embeddings``) and build both serving indexes
(``ensure_index`` + ``ensure_text_index``).  Then ``setup_s`` times
opening a serving Engine over the built store, repeated
:data:`SETUP_REPEATS` times, and the workload's own loop runs:

* ``serve`` — read-only requests in a fixed rotation of
  :data:`SERVE_ROTATION`, with seeded queries and filters, after one
  untimed warm-up search.  The source is static, so the freshness
  gate only runs its count.
* ``ingest`` — write-only cycles: append a delta part file, call
  ``update_embeddings`` (store plus both index upserts), then advance
  the retention cutoff by the delta's span (``apply_retention``), so
  the store stays the base size, and force ``maintain_index``.  No
  search runs.

A request (serve) or a cycle (ingest) is the unit of the end-to-end
latency metrics; whole rotations/cycles run until ``seconds`` pass, so
every run holds the same mix.  Every output is checked (``checks``);
a failing check counts its request as failed.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time
import traceback

import numpy as np

import checks
import gen

N_BASE = 2000
DELTA = 100
SETUP_REPEATS = 5
LIMIT = 30
THRESHOLD = 0.3
MANY_Q = 16
#: simulated seconds between serve requests: the gate's cooldown (60 s
#: early) and gap cache (60 s) then lapse every other request, so the
#: count job runs on a fixed share of searches
SIM_STEP_S = 45.0

SERVE_ROTATION = ("search", "search_hybrid", "search_filtered",
                  "search_text", "search_many", "search_brute")


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value): the highest of p50/p75/p90/p95/p99/p99.9
    that still has at least ten samples above its nearest-rank
    position; (None, None) when no such percentile exists."""
    xs = sorted(values)
    best = (None, None)
    for p in (50, 75, 90, 95, 99, 99.9):
        rank = max(1, int(np.ceil(p / 100.0 * len(xs))))
        if len(xs) - rank >= 10:
            best = (p, xs[rank - 1])
    return best


def summary(values: list[float]) -> dict:
    p, v = tail(values)
    return {"n": len(values),
            "p50": statistics.median(values) if values else None,
            "tail_pct": p, "tail": v}


class Run:
    """One benchmark run: the corpus, the session, the store dirs and
    what was measured."""

    def __init__(self, work: str, seed: int, cpus: int, tracer=None):
        self.cpus = cpus
        self.tracer = tracer
        self.sf_dir = os.path.join(work, "sf")
        self.store_dir = os.path.join(work, "store")
        self.index_dir = os.path.join(work, "ann")
        self.text_dir = os.path.join(work, "bm25")
        self.gen = gen.Generator(self.sf_dir, seed)
        # queries and filters come from their own stream so the corpus
        # does not depend on how many requests a run makes
        self.qrng = np.random.default_rng([seed, 1])
        self.sim_now = 0.0
        self.timings: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.recalls: list[float] = []
        self.failures: list[str] = []
        self.spark = None
        self.serving = None
        #: the timing kinds that are this workload's requests
        self.request_kinds: tuple = ()

    # -- bookkeeping ------------------------------------------------------
    def clock(self) -> float:
        return self.sim_now

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"perfbench: check failed: {what}", file=sys.stderr)

    def timed(self, kind: str, fn, check=None):
        """Call fn, record its wall time under *kind*, then run
        ``check(result) -> str | None`` (a message means failure)."""
        self.attempted += 1
        t0 = time.perf_counter()
        out, msg = None, None
        try:
            out = fn()
        except Exception:  # a failing op is a measured outcome
            msg = f"raised:\n{traceback.format_exc()}"
        self.timings.setdefault(kind, []).append(time.perf_counter() - t0)
        if msg is None and check is not None:
            with self.checking():
                msg = check(out)
        if msg:
            self.fail(f"{kind}: {msg}")
        return out

    @contextlib.contextmanager
    def checking(self):
        """Run the benchmark's own output checks outside the trace."""
        if self.tracer is None:
            yield
            return
        self.tracer.suspended = True
        try:
            yield
        finally:
            self.tracer.suspended = False

    def engine(self, indexed: bool = True):
        from msg_vector_search_spark.engine import Engine
        if not indexed:
            return Engine(self.spark, self.sf_dir, self.store_dir,
                          clock=self.clock)
        return Engine(self.spark, self.sf_dir, self.store_dir,
                      clock=self.clock, index_dir=self.index_dir,
                      text_index_dir=self.text_dir)

    def store(self) -> dict:
        return checks.read_store(
            os.path.join(self.store_dir, "message_embeddings.parquet"))

    # -- common start -----------------------------------------------------
    def start(self) -> None:
        t0 = time.perf_counter()
        self.gen.write_base(N_BASE)
        self.timings["generate"] = [time.perf_counter() - t0]
        t0 = time.perf_counter()
        from msg_vector_search_spark import session
        self.spark = session.get_spark("perfbench", cpus=self.cpus)
        self.timings["session"] = [time.perf_counter() - t0]
        eng = self.engine()
        # cold: the first embed job also starts the Python workers
        self.timed("bootstrap", lambda: eng.update_embeddings(max_messages=None),
                   lambda r: None if r["new_messages"] == N_BASE
                   else f"stored {r['new_messages']} of {N_BASE}")
        self.timed("index_build",
                   lambda: (eng.ensure_index(), eng.ensure_text_index()),
                   lambda r: None if r == (True, True) else f"built {r}")
        for _ in range(SETUP_REPEATS):
            self.timed("setup", self._open_engine)

    def _open_engine(self):
        eng = self.engine()
        eng.preload_model()
        if not (eng.ensure_index() and eng.ensure_text_index()):
            raise RuntimeError("indexes missing after build")
        self.serving = eng

    # -- queries ----------------------------------------------------------
    def query(self) -> str:
        n = int(self.qrng.integers(2, 6))
        idx = self.qrng.choice(gen.VOCAB_SIZE, size=n, p=gen.WORD_P)
        return " ".join(gen.VOCAB[i] for i in idx)

    def terms(self) -> list[str]:
        # head-to-mid ranks: terms that occur, with uneven postings
        n = int(self.qrng.integers(1, 4))
        return [gen.VOCAB[int(i)] for i in self.qrng.integers(5, 400, size=n)]


# -- serve ---------------------------------------------------------------

def _check_rows(rows: list[dict], ctype=None, sid=None) -> str | None:
    """Ordered, within LIMIT, at or above THRESHOLD, inside the slice."""
    if len(rows) > LIMIT:
        return f"{len(rows)} rows > limit {LIMIT}"
    keys = [(-r["sim"], r["message_id"]) for r in rows]
    if keys != sorted(keys):
        return "rows not ordered by (sim desc, message_id)"
    if any(r["sim"] < THRESHOLD for r in rows):
        return "row below threshold"
    if ctype is not None and any(r["conversation_type"] != ctype for r in rows):
        return "conversation_type filter leaked"
    if sid is not None and any(r["session_id"] != sid for r in rows):
        return "session_id filter leaked"
    return None


def serve(run: Run, seconds: float) -> None:
    from msg_vector_search_spark import embed
    run.request_kinds = SERVE_ROTATION
    eng, brute = run.serving, run.engine(indexed=False)
    truth_store = run.store()
    ids = set(truth_store["message_id"])
    texts = dict(zip(truth_store["message_id"], truth_store["message_text"]))
    # a session's conversation type is fixed, so (ctype, session) is
    # one slice that exercises both index pre-filters together
    slices = sorted(set(zip(truth_store["conversation_type"],
                            truth_store["session_id"])))

    def truth(q, ctype=None, sid=None):
        return checks.truth_topk(truth_store, embed.embed_query_vector(q),
                                 LIMIT, THRESHOLD, ctype, sid)

    def indexed(q, ctype=None, sid=None):
        env = eng.search(q, limit=LIMIT, threshold=THRESHOLD,
                         conversation_type=ctype, session_id=sid)
        return env, (q, ctype, sid)

    def check_indexed(out):
        env, (q, ctype, sid) = out
        rows = env["results"]
        run.recalls.append(checks.recall([r["message_id"] for r in rows],
                                         truth(q, ctype, sid)))
        return _check_rows(rows, ctype, sid)

    # one untimed, checked indexed search first: the cold serving path
    # (plan compilation, gate count) is set-up the client pays once
    run.timed("warmup.search", lambda: indexed(run.query()), check_indexed)
    t_end = time.perf_counter() + seconds
    while True:
        singles = []  # this rotation's single searches, replayed in search_many
        rot_slice = slices[int(run.qrng.integers(len(slices)))]
        for kind in SERVE_ROTATION:
            run.sim_now += SIM_STEP_S
            if kind in ("search", "search_filtered"):
                q = run.query()
                ctype, sid = rot_slice if kind == "search_filtered" else (None, None)
                out = run.timed(kind, lambda: indexed(q, ctype, sid),
                                check_indexed)
                if out is not None:
                    singles.append(out)
            elif kind == "search_brute":
                q = run.query()
                run.timed(kind, lambda: brute.search(q, limit=LIMIT,
                                                     threshold=THRESHOLD),
                          lambda env: None if checks.same_ranking(
                              env["results"], truth(q))
                          else "brute search differs from numpy truth")
            elif kind == "search_hybrid":
                q = run.query()

                def check_hybrid(env):
                    if env["status"] != "success":
                        return env.get("message", "error")
                    rs = env["results"]
                    if any(r["message_id"] not in ids for r in rs):
                        return "unknown message_id"
                    if [r["rrf"] for r in rs] != sorted((r["rrf"] for r in rs),
                                                        reverse=True):
                        return "not ordered by rrf"
                    return None if len(rs) <= LIMIT else "over limit"
                run.timed(kind, lambda: eng.search_hybrid(q, limit=LIMIT),
                          check_hybrid)
            elif kind == "search_text":
                terms = run.terms()

                def check_text(rows):
                    if [r["score"] for r in rows] != sorted(
                            (r["score"] for r in rows), reverse=True):
                        return "not ordered by score"
                    for r in rows:
                        words = set(texts.get(r["message_id"], "").lower().split())
                        if r["message_id"] not in ids or not words & set(terms):
                            return f"{r['message_id']} matches no term of {terms}"
                    return None
                run.timed(kind, lambda: eng.search_text(terms, limit=LIMIT),
                          check_text)
            elif kind == "search_many":
                _search_many(run, eng, singles, rot_slice, truth, kind)
        if time.perf_counter() >= t_end:
            break
    if run.recalls and np.mean(run.recalls) < checks.RECALL_FLOOR:
        run.fail(f"indexed recall@10 {np.mean(run.recalls):.3f} "
                 f"< floor {checks.RECALL_FLOOR}")


def _search_many(run: Run, eng, singles, rot_slice, truth, name) -> None:
    """Q keys with mixed per-key filters drawn from the rotation's own
    filters; the keys that replay this rotation's single searches must
    equal them."""
    queries, replay = {}, {}
    for i, (env, (q, q_ctype, q_sid)) in enumerate(singles):
        key = f"r{i}"
        queries[key] = {"query": q, "conversation_type": q_ctype,
                        "session_id": q_sid}
        replay[key] = env["results"]
    while len(queries) < MANY_Q:
        spec = {"query": run.query()}
        if len(queries) % 2:
            spec["conversation_type"], spec["session_id"] = rot_slice
        queries[f"k{len(queries)}"] = spec

    def check(out):
        if set(out) != set(queries):
            return "keys differ"
        for key, env in out.items():
            spec = queries[key]
            msg = _check_rows(env["results"], spec.get("conversation_type"),
                              spec.get("session_id"))
            if msg:
                return f"{key}: {msg}"
            if key in replay and ([(r["message_id"], r["sim"]) for r in env["results"]]
                                  != [(r["message_id"], r["sim"]) for r in replay[key]]):
                return f"{key} differs from its separate search"
            if key not in replay:
                run.recalls.append(checks.recall(
                    [r["message_id"] for r in env["results"]],
                    truth(spec["query"], spec.get("conversation_type"),
                          spec.get("session_id"))))
        return None
    run.timed(name, lambda: eng.search_many(
        queries, limit=LIMIT, threshold=THRESHOLD), check)


# -- ingest --------------------------------------------------------------

def ingest(run: Run, seconds: float) -> None:
    run.request_kinds = ("cycle",)
    eng, brute = run.serving, run.engine(indexed=False)
    t_end = time.perf_counter() + seconds
    while True:
        start, stop = run.gen.append_delta(DELTA)
        # the window [cutoff, newest] keeps N_BASE arrivals
        cutoff = run.gen.corpus.ts[stop - N_BASE]
        t0 = time.perf_counter()
        run.timed("delta", lambda: eng.update_embeddings(max_messages=None),
                  lambda r: None if r["new_messages"] == DELTA
                  else f"stored {r['new_messages']} of {DELTA}")
        run.timed("retention", lambda: eng.apply_retention(cutoff),
                  lambda r: None if r["expired"] == DELTA
                  else f"expired {r['expired']} of {DELTA}")
        # scheduled maintenance runs "every few cycles"; a run fits
        # about one, so every cycle forces the rebuild
        run.timed("rebuild", lambda: eng.maintain_index(force=True),
                  lambda r: None if r.get("rebuilt") else f"not rebuilt: {r}")
        t1 = time.perf_counter()
        run.timings.setdefault("cycle", []).append(t1 - t0)
        with run.checking():
            _check_delta_found(run, brute, start, stop)
        run.timings.setdefault("checks", []).append(time.perf_counter() - t1)
        if time.perf_counter() >= t_end:
            break
    t1 = time.perf_counter()
    with run.checking():
        _check_retention(run, eng, stop - N_BASE)
    run.timings["checks"].append(time.perf_counter() - t1)


def _check_delta_found(run: Run, brute, start: int, stop: int) -> None:
    """The delta's messages are in the store: an exact-text brute
    search for one whose text is unique finds it at similarity 1."""
    unique = run.gen.corpus.unique_positions(start, stop)
    pos = unique[int(run.qrng.integers(len(unique)))]
    mid = run.gen.message_id(pos)
    env = brute.search(run.gen.corpus.texts[pos], limit=5, threshold=0.99)
    if mid not in [r["message_id"] for r in env["results"]]:
        run.fail(f"delta message {mid} not found by exact-text search")


def _check_retention(run: Run, eng, cutoff_pos: int) -> None:
    """After retention nothing older than the cutoff is served, by any
    serving surface, and the store holds exactly the window."""
    ts = run.gen.corpus.ts
    cutoff = ts[cutoff_pos]

    def too_old(mids) -> list:
        return [m for m in mids if ts[int(m) - run.gen.corpus.first_event_id] < cutoff]

    store = run.store()
    if len(store["message_id"]) != N_BASE or too_old(store["message_id"]):
        run.fail("store does not hold exactly the retention window")
    # probe both index surfaces with the text of an expired message:
    # were it still indexed, hybrid's vector leg would rank it first
    expired = run.gen.corpus.unique_positions(0, cutoff_pos)
    probe = run.gen.corpus.texts[expired[int(run.qrng.integers(len(expired)))]]
    served = [r["message_id"] for r in
              eng.search_text(probe.split(), limit=LIMIT)]
    served += [r["message_id"] for r in
               eng.search_hybrid(probe, limit=LIMIT)["results"]]
    old = too_old(served)
    if old:
        run.fail(f"served {len(old)} rows older than the cutoff: {old[:5]}")


WORKLOADS = {"serve": serve, "ingest": ingest}
