"""The Engine's driver serve path (plans/driver_serve.py) against its
Spark plans: with ``DRIVER_SERVE_BYTES`` forced to 0 every verb runs
its Spark plan, at the default the same call is served on the driver;
the two envelopes must be identical — keys, key order, Python types
and every double — and the driver side must launch zero Spark jobs
(the ``_no_jobs`` job-group pin of tests/test_remote_reads.py).

One engine over a small generated corpus serves every case; the
retention case mutates it and runs last.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as papq
import pytest
from test_remote_reads import _no_jobs

from msg_vector_search_spark.engine import Engine
from msg_vector_search_spark.plans import driver_serve
from msg_vector_search_spark.sources import fs

N_DOCS = 300
WORDS = ("alpha beta gamma delta river stone cloud ember frost grove "
         "harbor island jungle kettle lantern meadow north ocean pepper "
         "quartz raven saddle timber umber valley willow yonder zephyr "
         "apple bread candle dinner echo fabric garden honey").split()
#: row 0: words joined by a non-breaking and a thin space; the
#: cleaned text stores each pair as ONE token ("cafmenu", "lunchtime")
NBSP_TEXT = "Caf\u00e9\u00a0Menu lunch\u2009time today"


def _canon(x):
    """Equality on this form means same keys, key order, types, values."""
    if isinstance(x, dict):
        return [(k, _canon(v)) for k, v in x.items()]
    if isinstance(x, list):
        return [_canon(v) for v in x]
    return (type(x).__name__, x)


def _strip(env: dict) -> dict:
    md = {k: v for k, v in env["metadata"].items()
          if k != "search_time_ms"}
    return {**env, "metadata": md}


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory, sf_dir):
    root = tmp_path_factory.mktemp("driver_serve")
    events = papq.read_table(f"{sf_dir}/events.parquet").slice(0, N_DOCS)
    rng = random.Random(5)
    texts = [NBSP_TEXT] + [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 12)))
        for _ in range(N_DOCS - 1)]
    sf = root / "sf"
    sf.mkdir()
    papq.write_table(events.set_column(
        events.schema.get_field_index("props"), "props",
        pa.array([f'{{"text": "{t}"}}' for t in texts])),
        str(sf / "events.parquet"))
    eng = Engine(spark, str(sf), str(root / "store"),
                 update_threshold=10 ** 9, clock=lambda: 0.0,
                 index_dir=str(root / "idx"), nlist=8, nprobe=3,
                 shortlist=40, text_index_dir=str(root / "tidx"))
    eng.update_embeddings()
    assert eng.ensure_index() and eng.ensure_text_index()
    eng._freshness_gap()  # cache the gap: the fixed clock keeps it
    return eng


@pytest.fixture
def both(spark, monkeypatch):
    """``both(fn)`` -> (driver result, Spark-plan result)."""
    def run(fn):
        with monkeypatch.context() as m:
            m.setattr(driver_serve, "DRIVER_SERVE_BYTES", 0)
            want = fn()
        got = _no_jobs(spark, "driver-serve", fn)
        return got, want
    return run


def _slice(eng):
    row = eng._store().select("conversation_type", "session_id") \
        .orderBy("message_id").first()
    return row[0], row[1]


def test_indexed_search_and_search_many_parity(served, both):
    ctype, sid = _slice(served)
    for kw in ({"limit": 10, "threshold": 0.0},
               {"limit": 5, "threshold": -1.0,
                "conversation_type": ctype, "session_id": sid}):
        got, want = both(lambda: served.search("river stone ember",
                                               **kw))
        assert want["results"]
        assert _canon(_strip(got)) == _canon(_strip(want)), kw
    # per-key filters, limits and thresholds; the unfiltered group
    # has 5 keys (past the Spark serve's literal_max)
    queries = {f"u{i}": f"{WORDS[i]} {WORDS[-i - 1]}" for i in range(4)}
    queries["u4"] = {"query": "garden honey", "limit": 3,
                     "threshold": 0.2}
    queries["f0"] = {"query": "ocean", "conversation_type": ctype}
    queries["f1"] = {"query": "quartz raven", "conversation_type": ctype,
                     "limit": 2}
    got, want = both(lambda: served.search_many(queries, limit=8,
                                                threshold=0.0))
    assert list(got) == list(want)
    for k in queries:
        assert _canon(_strip(got[k])) == _canon(_strip(want[k])), k
    assert any(env["results"] for env in want.values())


def test_search_text_and_hybrid_parity(served, both):
    for terms, require_all in ((["river", "stone"], True),
                               (["river", "stone", "nomatch"], False),
                               (["ember", "ember", "frost"], False),
                               ([], False)):
        got, want = both(lambda: served.search_text(
            terms, limit=20, require_all=require_all))
        assert _canon(got) == _canon(want), terms
    for query, terms in (("  Harbor\tisland  ", None),
                         ("garden", ["garden", "honey", "honey"])):
        got, want = both(lambda: served.search_hybrid(
            query, limit=15, terms=terms))
        assert want["results"]
        assert _canon(_strip(got)) == _canon(_strip(want)), query


def test_search_hybrid_finds_a_message_joined_by_unicode_spaces(served):
    """A query typed with a non-breaking / thin space is cleaned and
    split the way stored messages are, so its keyword leg matches the
    message; ``str.split()`` made it ['café', 'menu'], matching
    nothing."""
    env = served.search_hybrid(NBSP_TEXT.removesuffix(" today"),
                               limit=5)
    assert env["metadata"]["terms"] == ["cafmenu", "lunchtime"]
    top = env["results"][0]
    assert top["message_id"] == "0" and top["rank_kw"] == 1


def test_driver_serve_on_hadoop_forced_uris(served, spark, monkeypatch):
    """The driver path on ``file:`` URIs forced through the Hadoop
    FileSystem branch (``fs._LOCAL_SCHEMES = ()``) returns what it
    returns on plain paths, still without a Spark job."""
    from msg_vector_search_spark import embed

    qvecs = {0: embed.embed_query_vector("river stone"),
             1: embed.embed_query_vector("lantern")}

    def serve(idx, tidx):
        return (driver_serve.search_text(spark, tidx, ["river", "stone"],
                                         10),
                driver_serve.hybrid_results(
                    spark, tidx, idx, ["river"], qvecs[0], leg_k=20, k=10,
                    nprobe=3, shortlist=40),
                driver_serve.indexed_results(
                    spark, idx, served._store_path(), qvecs, 10, 0.0, {},
                    3, 40))

    local = serve(served.index_dir, served.text_index_dir)
    monkeypatch.setattr(fs, "_LOCAL_SCHEMES", ())
    remote = _no_jobs(spark, "driver-serve-remote", lambda: serve(
        f"file:{served.index_dir}", f"file:{served.text_index_dir}"))
    assert _canon(remote) == _canon(local)
    assert all(local)


def test_store_over_budget_falls_back_to_spark(served, spark,
                                               monkeypatch):
    """With the budget at exactly the index bytes a search lists, the
    index serve fits but its result ids' store buckets do not:
    ``store_rows`` raises after scoring and the Engine answers with the
    Spark plan — the same envelope.  A remote store is refused before
    any index file is listed."""
    from msg_vector_search_spark import embed

    query = "river stone ember"
    budget = driver_serve._Budget(spark)
    driver_serve._Ann(budget, served.index_dir,
                      {0: embed.embed_query_vector(query)},
                      served.nprobe, {})
    assert budget.used > 0
    with monkeypatch.context() as m:
        m.setattr(driver_serve, "DRIVER_SERVE_BYTES", 0)
        want = served.search(query, limit=10, threshold=0.0)
    raised = []
    store_rows = driver_serve.store_rows

    def spy(*a, **kw):
        try:
            return store_rows(*a, **kw)
        except driver_serve.NotServable as e:
            raised.append(str(e))
            raise

    monkeypatch.setattr(driver_serve, "store_rows", spy)
    monkeypatch.setattr(driver_serve, "DRIVER_SERVE_BYTES", budget.used)
    got = served.search(query, limit=10, threshold=0.0)
    assert len(raised) == 1 and "budget" in raised[0]
    assert want["results"]
    assert _canon(_strip(got)) == _canon(_strip(want))
    with pytest.raises(driver_serve.NotServable, match="remote store"):
        driver_serve.indexed_results(
            spark, str(served.index_dir) + "-absent", "s3a://b/store",
            {0: [1.0]}, 10, 0.0, {}, 3, 40)


def test_parity_after_retention(served, both):
    """Tombstoned text postings, erased index rows and swept store
    rows: both paths drop the same expired messages."""
    from pyspark.sql import functions as F

    cutoff = served._store().agg(F.percentile_approx("ts", 0.5)) \
        .collect()[0][0]
    out = served.apply_retention(cutoff)
    assert out["expired"] and out["text_index_tombstoned"]
    served._freshness_gap()
    got, want = both(lambda: served.search_text(["river", "stone"],
                                                limit=50))
    assert want
    assert _canon(got) == _canon(want)
    got, want = both(lambda: served.search("river stone", limit=20,
                                           threshold=-1.0))
    assert _canon(_strip(got)) == _canon(_strip(want))
