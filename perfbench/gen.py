"""Seeded input generator, kept apart from the program under test.

Everything here is numpy + pyarrow: the program only ever sees the files
these functions write. The same seed gives the same files.

* ``documents`` — the ``documents`` table the engine's page synthesis and
  its DuckDB oracles read (``doc_id, text, lang, n_chars``). Page ids are
  stratified random, so the engine's id-derived properties (geo pages are
  ``id % 10 < 4``, urban hotspots ``id % 10 < 2``) hold in measured, not
  exact, shares. Text is word soup with a log-normal length.
* ``points`` — pre-extracted points for the polygon join: uniform over the
  zone patch plus Gaussian clusters around seeded centres.
* ``event_times`` — event times for one landing file of the stream: a
  ten-minute slot per file with a seeded share of events three hours late,
  beyond the engine's two-hour watermark.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

LANGS = np.array(["en", "fr", "de", "es", "zh"])
LANG_P = np.array([0.44, 0.13, 0.14, 0.15, 0.14])
_SYL = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "be", "do", "fa", "gu",
        "hi", "jo", "pe", "so"]
_N_PHRASES = 4096
_PHRASE_WORDS = 6

EVENT_BASE = 1_717_200_000  # 2024-06-01T00:00:00Z
SLOT_S = 600
LATE_S = 3 * 3600


def _phrases(rng: np.random.Generator) -> np.ndarray:
    words = ["".join(rng.choice(_SYL, rng.integers(1, 4))) for _ in range(512)]
    idx = rng.integers(0, len(words), (_N_PHRASES, _PHRASE_WORDS))
    return np.array([" ".join(words[i] for i in row) for row in idx], dtype=object)


def documents(seed: int, n: int, first_id: int = 0, stride: int = 8) -> pa.Table:
    rng = np.random.default_rng(seed)
    phrases = _phrases(rng)
    ids = (first_id + np.arange(n, dtype=np.int64) * stride
           + rng.integers(0, stride, n))
    k = np.clip(rng.lognormal(np.log(7.0), 0.55, n).astype(np.int64), 1, 64)
    picks = phrases[rng.integers(0, _N_PHRASES, int(k.sum()))]
    ends = np.cumsum(k)
    text = [" ".join(picks[e - c:e]) for e, c in zip(ends.tolist(), k.tolist())]
    lang = LANGS[rng.choice(len(LANGS), n, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "n_chars": pa.array(np.fromiter((len(t) for t in text), np.int64, n)),
    })


def points(seed: int, n: int, bbox: tuple[float, float, float, float],
           clustered: float = 0.25) -> pa.Table:
    rng = np.random.default_rng(seed)
    lon0, lat0, lon1, lat1 = bbox
    lon = rng.uniform(lon0, lon1, n)
    lat = rng.uniform(lat0, lat1, n)
    m = rng.random(n) < clustered
    centres = np.column_stack([rng.uniform(lon0, lon1, 3), rng.uniform(lat0, lat1, 3)])
    c = rng.integers(0, 3, int(m.sum()))
    lon[m] = np.clip(centres[c, 0] + rng.normal(0, 0.3, len(c)), lon0, lon1)
    lat[m] = np.clip(centres[c, 1] + rng.normal(0, 0.3, len(c)), lat0, lat1)
    return pa.table({
        "page_id": pa.array(np.arange(n, dtype=np.int64)),
        "lon_e6": pa.array(np.round(lon * 1e6).astype(np.int64)),
        "lat_e6": pa.array(np.round(lat * 1e6).astype(np.int64)),
    })


def event_times(seed: int, n: int, slot: int, late_share: float) -> np.ndarray:
    rng = np.random.default_rng([seed, slot])
    t = EVENT_BASE + slot * SLOT_S + rng.integers(0, SLOT_S, n)
    return np.where(rng.random(n) < late_share, t - LATE_S, t).astype(np.int64)
