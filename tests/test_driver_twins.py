"""Parity pins for the driver-side twins of Spark expressions that the
driver serve path (plans/driver_serve.py) and the driver-side
watermark read depend on, in the style of tests/test_hashing.py:

* ``sparkmath.round_half_up`` against ``F.round(_, nd) + 0.0`` —
  randomized doubles across magnitudes plus exact 7dp ties, where
  rounding the binary value (``similarity._np_round6``) and Spark's
  shortest-repr HALF_UP disagree;
* ``sparkmath.strict_log`` against ``F.log`` (``StrictMath.log``);
* ``analysis.py_tokens`` / ``textops.py_clean_text`` against the
  Column expressions, on the whitespace Java's ``\\s`` does not match;
* ``state.read_watermark`` (a driver read) against Spark's
  ``clamp_watermark`` on the same stored timestamps.
"""

from __future__ import annotations

import datetime as dt
import math
import random

import numpy as np
from pyspark.sql import functions as F

from msg_vector_search_spark.functions import analysis, textops
from msg_vector_search_spark.functions.sparkmath import (round_half_up,
                                                         strict_log)
from msg_vector_search_spark.operators.similarity import _np_round6
from msg_vector_search_spark.sources import fs, state


def _same(a: float, b: float) -> bool:
    """Bit-equal doubles (NaN equal to NaN, 0.0 distinct from -0.0)."""
    if a != a or b != b:
        return a != a and b != b
    return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)


def _doubles() -> list:
    rng = random.Random(20261017)
    vals = [rng.uniform(-1.0, 1.0) * 10.0 ** rng.choice(
        (-7, -3, 0, 0, 0, 1, 2, 4, 9, 15)) for _ in range(12_000)]
    # exact ties one digit past the 6dp grid, as shortest reprs
    vals += [float(f"{rng.randrange(10 ** 7) / 10 ** 7:.7f}") for _ in
             range(2_000)]
    vals += [0.5165865, -0.5165865, 0.0000005, -0.0000005, 2.5e-7,
             0.0, -0.0, 1e300, -1e-300, float("nan"), float("inf")]
    return vals


def test_round_half_up_matches_spark_round(spark):
    vals = _doubles()
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    for nd in (6, 3):
        want = [r[0] for r in df.select(
            (F.round("x", nd) + F.lit(0.0)).alias("r")).collect()]
        got = round_half_up(np.array(vals), nd)
        bad = [(v, w, g) for v, w, g in zip(vals, want, got)
               if not _same(w, float(g))]
        assert not bad, (nd, len(bad), bad[:5])
        assert all(_same(w, round_half_up(v, nd))
                   for v, w in zip(vals, want))
    # the binary-value grid differs on the ties: the twin is needed
    want6 = [r[0] for r in df.select(
        (F.round("x", 6) + F.lit(0.0)).alias("r")).collect()]
    assert sum(not _same(w, float(g)) for w, g in
               zip(want6, _np_round6(np.array(vals)))) > 0


def test_strict_log_matches_spark_log(spark):
    rng = random.Random(7)
    vals = ([rng.uniform(1.0, 40.0) for _ in range(8_000)]
            + [1.0 + rng.random() * 1e-5 for _ in range(1_000)]
            + [10.0 ** rng.uniform(-310, 308) for _ in range(3_000)]
            + [1.0, 2.0, 0.5, 5e-324, float("inf"), float("nan")])
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    want = [r[0] for r in df.select(F.log("x")).collect()]
    bad = [(v, w, strict_log(v)) for v, w in zip(vals, want)
           if not _same(w, strict_log(v))]
    assert not bad, (len(bad), bad[:5])
    # the platform log is not the twin
    assert any(math.log(v) != w for v, w in zip(vals[:9_000], want))


TEXTS = ["Café\u00a0Menu  lunch\u2009time \tok ", "", " ", "  a  ",
         "\tx\t", "a\nb\rc\x0bd\x0ce", " \t lead", "trail \t ",
         "\u00a0nb\u00a0", "x\u3000y z\x85w\x1cv",
         "ΣΑΣ ΟΔΟΣ İstanbul ß", "see https://x.com/a?b now",
         "what's  up?! -- \"q\" emoji \U0001f642 ok"]


def test_tokens_and_clean_text_twins_match_spark(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS], "t string")
    rows = df.select(analysis.tokens("t").alias("k"),
                     textops.clean_text("t").alias("c"),
                     analysis.tokens(textops.clean_text("t")).alias("ck")
                     ).collect()
    for text, r in zip(TEXTS, rows):
        assert analysis.py_tokens(text) == r["k"], repr(text)
        assert textops.py_clean_text(text) == r["c"], repr(text)
        assert analysis.py_tokens(textops.py_clean_text(text)) \
            == r["ck"], repr(text)
    # str.split() splits on NBSP / thin space; the index tokenizer
    # does not
    assert analysis.py_tokens(TEXTS[0]) == ["café\u00a0menu",
                                            "lunch\u2009time", "ok"]


def test_read_watermark_matches_spark_clamp(spark, tmp_path,
                                            monkeypatch):
    """The driver read returns what a Spark read, ``clamp_watermark``
    and ``collect`` give — value and type — on normal, future, ancient,
    boundary, missing and stranded-``._old`` state, read through both ``fs``
    branches (``file:`` URIs forced through the Hadoop branch with
    ``fs._LOCAL_SCHEMES = ()``), and on a state file the Spark writer
    wrote (the remote write path)."""
    utc = dt.timezone.utc
    as_of = dt.datetime(2026, 6, 1, 12, 0, tzinfo=utc)
    cases = {
        "normal": dt.datetime(2026, 5, 30, 8, 15, 30, 123456, tzinfo=utc),
        "future": dt.datetime(2027, 1, 1, tzinfo=utc),
        "ancient": dt.datetime(1990, 1, 1, tzinfo=utc),
    }
    # each guard's boundary, one microsecond either side
    us, ten_years = dt.timedelta(microseconds=1), dt.timedelta(days=3650)
    cases.update({"at_as_of": as_of, "past_as_of": as_of + us,
                  "ten_years": as_of - ten_years,
                  "past_ten_years": as_of - ten_years - us})
    clamped = spark.createDataFrame(
        [(n, ts) for n, ts in cases.items()], "n string, ts timestamp") \
        .select("n", state.clamp_watermark(F.col("ts"), F.lit(as_of))
                .alias("ts")).collect()
    want = {r["n"]: r["ts"] for r in clamped}
    want["missing"] = want["stranded"] = state.EPOCH
    assert want["normal"] == cases["normal"].replace(tzinfo=None)
    assert want["future"] == state.EPOCH
    assert want["ancient"] == want["past_ten_years"] \
        == dt.datetime(2026, 5, 2, 12, 0)
    assert want["past_as_of"] == state.EPOCH

    dirs = {}
    for name, ts in cases.items():
        state.write_watermark(spark, str(tmp_path / name), ts)
        dirs[name] = tmp_path / name
    dirs["missing"] = tmp_path / "missing"
    stranded = tmp_path / "stranded"
    state.write_watermark(spark, str(stranded), cases["normal"])
    (stranded / "watermark.parquet").rename(
        stranded / "watermark.parquet._old")
    dirs["stranded"] = stranded

    def read_all(uri):
        return {n: (type(v), v) for n, v in (
            (n, state.read_watermark(spark, uri(d), as_of))
            for n, d in dirs.items())}

    typed = {n: (type(v), v) for n, v in want.items()}
    assert read_all(str) == typed
    with monkeypatch.context() as m:
        m.setattr(fs, "_LOCAL_SCHEMES", ())
        assert read_all(lambda d: f"file:{d}") == typed
        spark_written = f"file:{tmp_path / 'spark_written'}"
        state.write_watermark(spark, spark_written, cases["normal"])
        got = state.read_watermark(spark, spark_written, as_of)
    assert (type(got), got) == typed["normal"]
