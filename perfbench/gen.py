"""Seeded chat-corpus generator for the Engine benchmark.

Writes the ``events`` table in the fixture schema (``schemas.EVENTS``)
as a directory of parquet part files, ``<sf_dir>/events.parquet/``:
``part-00000.parquet`` holds the base corpus and every later delta is
one more part file appended beside it, which is how a growing source
looks to ``readers.read_table``.

The corpus is chat-like rather than uniform:

* ``props`` is ``{"text": ...}``; words are drawn from a Zipf-weighted
  synthetic vocabulary, so BM25 postings have a realistic head and tail;
* a fixed share of messages are short repeats ("ok thanks", ...) drawn
  from a small pool, so vectors and postings see genuine duplicates;
* user activity is Zipf-skewed, so a few sessions hold most messages
  (the Engine derives ``session_id`` from ``user_id``);
* ``event_id`` and ``ts`` are both arrival-ordered.

The same seed gives byte-identical files; ``Corpus.dup_text_share`` is
the measured share of messages whose text repeats an earlier one.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: first arrival instant; far enough in the past that the Engine's
#: watermark clamp (future watermarks read as epoch) never fires
BASE_TS = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
VOCAB_SIZE = 4000
ZIPF_S = 1.1
N_USERS = 400
USER_ZIPF_S = 1.2
REPEAT_SHARE = 0.15
REPEAT_POOL = 24
MEAN_GAP_S = 20.0

_SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pa",
              "do", "ge", "hu", "ji", "bo", "fe", "cu", "wa", "xi", "yo")


def _vocabulary(n: int) -> list[str]:
    """n distinct pronounceable words, independent of the seed so a
    term names the same Zipf rank in every corpus."""
    words, k = [], len(_SYLLABLES)
    i = 0
    while len(words) < n:
        a, b, c = i % k, (i // k) % k, (i // (k * k)) % k
        words.append(_SYLLABLES[a] + _SYLLABLES[b]
                     + (_SYLLABLES[c] if i >= k * k else ""))
        i += 1
    return words


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


VOCAB = _vocabulary(VOCAB_SIZE)
#: word probabilities by vocabulary rank
WORD_P = _zipf_weights(VOCAB_SIZE, ZIPF_S)


@dataclass
class Corpus:
    """What a generated source holds; every field is provenance."""

    sf_dir: str
    seed: int
    n_base: int
    delta_sizes: list = field(default_factory=list)
    #: texts in arrival order, base then deltas
    texts: list = field(default_factory=list)
    #: arrival instants (UTC) in the same order
    ts: list = field(default_factory=list)
    first_event_id: int = 1

    @property
    def n_total(self) -> int:
        return len(self.texts)

    @property
    def dup_text_share(self) -> float:
        return 1.0 - len(set(self.texts)) / max(1, len(self.texts))

    def unique_positions(self, start: int, stop: int) -> list[int]:
        """Arrival positions in [start, stop) whose text occurs once in
        the whole corpus: an exact-text query singles them out."""
        counts = Counter(self.texts)
        return [p for p in range(start, stop) if counts[self.texts[p]] == 1]

    def provenance(self) -> dict:
        return {"seed": self.seed, "n_base": self.n_base,
                "delta_sizes": list(self.delta_sizes),
                "n_total": self.n_total,
                "dup_text_share": round(self.dup_text_share, 6),
                "vocab": VOCAB_SIZE, "zipf_s": ZIPF_S,
                "repeat_share": REPEAT_SHARE, "users": N_USERS}


class Generator:
    """Arrival-ordered message stream for one seed.  :meth:`write_base`
    writes the first part file; each :meth:`append_delta` writes the
    next one, continuing ids and arrival times."""

    def __init__(self, sf_dir: str, seed: int):
        self._rng = np.random.default_rng(seed)
        self._user_p = _zipf_weights(N_USERS, USER_ZIPF_S)
        # user ids are a seeded permutation so the heavy users differ
        # across seeds; +1 keeps ids positive
        self._user_ids = self._rng.permutation(N_USERS) + 1
        self._repeats = [self._sentence(1 + i % 3) for i in range(REPEAT_POOL)]
        self._clock_us = 0
        self._parts = 0
        self.corpus = Corpus(sf_dir=sf_dir, seed=seed, n_base=0)
        self.events_dir = os.path.join(sf_dir, "events.parquet")

    def _sentence(self, n_words: int) -> str:
        idx = self._rng.choice(VOCAB_SIZE, size=n_words, p=WORD_P)
        return " ".join(VOCAB[i] for i in idx)

    def _messages(self, n: int) -> pa.Table:
        rng, c = self._rng, self.corpus
        start_id = c.first_event_id + c.n_total
        repeat = rng.random(n) < REPEAT_SHARE
        lengths = 4 + rng.geometric(0.12, size=n)
        texts = [self._repeats[rng.integers(REPEAT_POOL)] if r
                 else self._sentence(int(k))
                 for r, k in zip(repeat, lengths)]
        gaps = rng.exponential(MEAN_GAP_S, size=n)
        # whole microseconds, strictly increasing: arrival order is
        # also ts order, with no ties for a cutoff to split
        micros = (self._clock_us + np.floor(np.cumsum(gaps) * 1e6)
                  .astype(np.int64) + np.arange(1, n + 1))
        self._clock_us = int(micros[-1])
        ts = [BASE_TS + dt.timedelta(microseconds=int(m)) for m in micros]
        users = self._user_ids[rng.choice(N_USERS, size=n, p=self._user_p)]
        c.texts.extend(texts)
        c.ts.extend(ts)
        return pa.table({
            "event_id": pa.array(np.arange(start_id, start_id + n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(users.astype(np.int64), pa.int64()),
            "event_type": pa.array(["message"] * n, pa.string()),
            "value": pa.array(np.round(rng.random(n), 6), pa.float64()),
            "props": pa.array([json.dumps({"text": t}) for t in texts],
                              pa.string()),
        })

    def _write(self, table: pa.Table) -> str:
        os.makedirs(self.events_dir, exist_ok=True)
        path = os.path.join(self.events_dir, f"part-{self._parts:05d}.parquet")
        # write beside, then rename: a reader listing the directory
        # never sees a half-written part file
        tmp = os.path.join(self.events_dir, f".part-{self._parts:05d}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, path)
        self._parts += 1
        return path

    def write_base(self, n: int) -> str:
        self.corpus.n_base = n
        return self._write(self._messages(n))

    def append_delta(self, n: int) -> tuple[int, int]:
        """Append n messages as a new part file; returns their
        [start, stop) positions in ``corpus.texts``."""
        start = self.corpus.n_total
        self._write(self._messages(n))
        self.corpus.delta_sizes.append(n)
        return start, self.corpus.n_total

    def message_id(self, pos: int) -> str:
        """The Engine's ``message_id`` for arrival position *pos*."""
        return str(self.corpus.first_event_id + pos)
