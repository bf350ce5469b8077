"""Seeded input generators for the workloads.

Every generator is a pure function of its seed (numpy ``default_rng``), so
the same ``--seed`` gives byte-identical inputs. Nothing here touches Spark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

TICK_COLUMNS = ["a", "b", "c", "d", "e"]
TICK_START = pd.Timestamp("2024-01-01")


def tick_frame(rng: np.random.Generator, start: pd.Timestamp,
               n: int) -> pd.DataFrame:
    """``n`` one-second rows of five float columns starting at ``start``."""
    idx = pd.date_range(start, periods=n, freq="s")
    return pd.DataFrame(rng.standard_normal((n, len(TICK_COLUMNS))),
                        columns=TICK_COLUMNS, index=idx)


# --- corpus --------------------------------------------------------------

# the language markers of ``extensions.text``: they count both as English
# stopwords (quality score) and as English votes (language id)
_EN_MARKERS = ["the", "and", "of", "to", "in", "is", "that", "for", "with"]
_DE_MARKERS = ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"]
_SYLLABLES = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    words = set()
    while len(words) < size:
        n = int(rng.integers(2, 4))
        words.add("".join(rng.choice(_SYLLABLES, n)))
    return np.array(sorted(words))


class Corpus:
    """Documents with planted structure plus clustered embeddings.

    Planted truth the checks rely on:
    - ``group``: each original doc with its exact and near (two tokens
      replaced) copies; every pair inside a group is a near-duplicate, no
      pair across groups is;
    - ``exact_pairs``: the id pairs (low, high) whose texts are identical;
      every near-duplicate search must find them;
    - ``clean_rows``: distinct English texts of five or more tokens, i.e.
      what the quality + language + exact-dedup pipeline keeps;
    - ``topk``: exact cosine top-5 of every query vector (ids < 8).
    """

    def __init__(self, seed: int, n_docs: int, n_vecs: int, dim: int = 64):
        rng = np.random.default_rng(seed)
        vocab = _vocabulary(rng, 4000)
        boiler = [list(rng.choice(vocab, 10)) for _ in range(20)]
        texts: list[str] = []
        origin: list[int] = []            # group id of each doc
        kind: list[str] = []
        originals: list[int] = []         # docs a copy may be made from
        while len(texts) < n_docs:
            r = rng.random()
            if r < 0.16 and originals:
                src = originals[int(rng.integers(0, len(originals)))]
                toks = texts[src].split()
                if r < 0.08:
                    kind.append("exact_" + kind[src])
                else:
                    for pos in rng.choice(len(toks), 2, replace=False):
                        toks[pos] = str(rng.choice(vocab))
                    kind.append("near_" + kind[src])
                texts.append(" ".join(toks))
                origin.append(origin[src])
                continue
            if r < 0.20:
                toks = list(rng.choice(vocab, 3))
                kind.append("short")
            else:
                n = int(rng.integers(40, 100))
                toks = list(rng.choice(vocab, n))
                markers = _DE_MARKERS if r < 0.28 else _EN_MARKERS
                for pos in rng.choice(n, max(n // 8, 1), replace=False):
                    toks[pos] = str(rng.choice(markers))
                if rng.random() < 0.3:
                    at = int(rng.integers(0, n))
                    toks[at:at] = boiler[int(rng.integers(0, len(boiler)))]
                kind.append("de" if r < 0.28 else "en")
                originals.append(len(texts))
            texts.append(" ".join(toks))
            origin.append(len(texts) - 1)
        self.docs = pd.DataFrame({"doc_id": np.arange(n_docs, dtype="int64"),
                                  "text": texts})
        self.n_docs = n_docs
        self.group = np.array(origin)
        by_text: dict[str, list[int]] = {}
        for i, t in enumerate(texts):
            by_text.setdefault(t, []).append(i)
        self.exact_pairs = {(a, b) for ids in by_text.values()
                            for a in ids for b in ids if a < b}
        self.clean_rows = len({t for t, k in zip(texts, kind)
                               if k.endswith("en") and k != "short"})

        centers = rng.standard_normal((16, dim))
        labels = rng.integers(0, 16, n_vecs)
        vecs = centers[labels] + 0.35 * rng.standard_normal((n_vecs, dim))
        vecs = vecs.astype("float32")
        self.embeddings = pd.DataFrame({
            "vec_id": np.arange(n_vecs, dtype="int64"),
            "embedding": list(vecs),
            "label": labels.astype("int32")})
        unit = vecs.astype("float64")
        unit /= np.linalg.norm(unit, axis=1, keepdims=True)
        sims = np.round(unit[:8] @ unit.T, 6)
        self.topk: dict[int, set[int]] = {}
        for q in range(8):
            sims[q, q] = -np.inf
            order = np.lexsort((np.arange(n_vecs), -sims[q]))
            self.topk[q] = set(int(v) for v in order[:5])
