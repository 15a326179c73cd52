"""Seeded input generators for the three workloads.

Every generator takes a ``numpy.random.Generator`` built from the
benchmark's ``--seed`` and returns plain pandas/numpy data plus the
ground truth the output checks need. The program under test only ever
sees the generated frames.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

START = pd.Timestamp("2023-01-01")


# ------------------------------------------------------------- series
@dataclass
class SeriesSpec:
    """One planted daily series: level + trend + weekly cycle + noise."""

    dates: pd.DatetimeIndex
    y: np.ndarray
    noise_sd: float


def daily_series(rng: np.random.Generator, n_days: int, max_late_start: int = 0) -> SeriesSpec:
    """A daily series ending on the same day as every other series but
    starting up to ``max_late_start`` days late (ragged starts)."""
    late = int(rng.integers(0, max_late_start + 1)) if max_late_start else 0
    n = n_days - late
    dates = pd.date_range(START + pd.Timedelta(days=late), periods=n, freq="D")
    i = np.arange(n, dtype=float)
    level = rng.uniform(20.0, 100.0)
    trend = rng.uniform(-0.05, 0.05)
    amp = rng.uniform(2.0, 8.0)
    phase = rng.uniform(0.0, 2.0 * np.pi)
    sd = float(rng.uniform(0.5, 2.0))
    y = level + trend * i + amp * np.sin(2.0 * np.pi * i / 7.0 + phase) + rng.normal(0.0, sd, n)
    return SeriesSpec(dates, y, sd)


def fleet_frame(rng: np.random.Generator, n_series: int, n_days: int) -> tuple[pd.DataFrame, dict[str, SeriesSpec]]:
    """Long (series_id, ds, y) frame of ``n_series`` ragged series."""
    specs = {f"s{k:05d}": daily_series(rng, n_days, max_late_start=n_days // 6) for k in range(n_series)}
    pdf = pd.concat(
        [pd.DataFrame({"series_id": sid, "ds": s.dates, "y": s.y}) for sid, s in specs.items()],
        ignore_index=True,
    )
    return pdf, specs


# ------------------------------------------------------------- corpus
STOPWORDS = ["the", "of", "and", "to", "that", "with", "have", "be", "in", "is", "a", "it"]
#: Gopher's stop-word gate wants at least two of these in a clean page
GOPHER_STOPS = {"the", "be", "to", "of", "and", "that", "have", "with"}
_ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t", "v", "w", "br", "st", "tr", "pl"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ou"]
LOREM = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor "
    "incididunt ut labore et dolore magna aliqua ut enim ad minim veniam quis nostrud"
).split()


def _word(rng: np.random.Generator) -> str:
    return "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(int(rng.integers(2, 4))))


def _vocab(rng: np.random.Generator, n: int, taken: set[str]) -> list[str]:
    out: list[str] = []
    while len(out) < n:
        w = _word(rng)
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


@dataclass
class Corpus:
    """Generated documents plus the planted ground truth."""

    docs: pd.DataFrame  # (doc_id, text)
    dup_families: list[list[int]]  # every member of a family shares one cluster
    spam: dict[int, str]  # doc_id -> drop reason curation must name
    pii_docs: list[int]


def corpus(rng: np.random.Generator, n_docs: int, n_topics: int = 16) -> Corpus:
    """``n_docs`` documents: topical prose, exact and near-duplicate
    families (one word changed per copy), repetitive or lorem-ipsum spam
    pages, and PII (an email and a phone number) in some clean pages."""
    taken = set(STOPWORDS) | set(LOREM)
    general = _vocab(rng, 400, taken)
    topics = [_vocab(rng, 150, taken) for _ in range(n_topics)]
    zipf = 1.0 / np.arange(1, 151) ** 0.8
    zipf /= zipf.sum()

    def sentence(topic: list[str]) -> str:
        n = int(rng.integers(8, 15))
        u = rng.random(n)
        stop = rng.integers(len(STOPWORDS), size=n)
        top = rng.choice(150, size=n, p=zipf)
        gen_ = rng.integers(len(general), size=n)
        words = [
            STOPWORDS[stop[i]] if u[i] < 0.3 else topic[top[i]] if u[i] < 0.85 else general[gen_[i]]
            for i in range(n)
        ]
        return " ".join(words).capitalize() + "."

    def page(topic: list[str]) -> str:
        while True:
            paras = []
            for _ in range(int(rng.integers(2, 4))):
                paras.append(" ".join(sentence(topic) for _ in range(int(rng.integers(3, 5)))))
            text = "\n\n".join(paras)
            if len(GOPHER_STOPS & set(text.lower().replace(".", " ").split())) >= 2:
                return text

    def spam_page(kind: str) -> str:
        if kind == "dup_lines":
            line = " ".join(_vocab(rng, 6, taken)) + " now."
            return "\n".join([line] * 20)
        if kind == "repetitive_2grams":
            a, b = _vocab(rng, 2, taken)
            return " ".join([f"{a} {b}"] * 40) + "."
        words = [LOREM[i % len(LOREM)] for i in range(90)]
        return ". ".join(" ".join(words[i : i + 10]) for i in range(0, 90, 10)) + "."

    texts: list[str] = []
    families: list[list[int]] = []
    spam: dict[int, str] = {}
    pii: list[int] = []
    n_spam = max(3, n_docs // 40)
    n_family_docs = max(6, n_docs // 10)
    kinds = ["dup_lines", "repetitive_2grams", "lorem_ipsum"]
    for k in range(n_spam):
        spam[len(texts)] = kinds[k % 3]
        texts.append(spam_page(kinds[k % 3]))
    while sum(len(f) for f in families) < n_family_docs:
        base = page(topics[int(rng.integers(n_topics))])
        size = int(rng.integers(2, 5))
        near = bool(rng.integers(2))
        fam = [len(texts)]
        texts.append(base)
        for _ in range(size - 1):
            if near:
                words = base.split(" ")
                # change a content word, so the copy keeps the stop words that pass curation
                content = [i for i, w in enumerate(words) if w.lower().rstrip(".") not in STOPWORDS]
                j = content[int(rng.integers(len(content)))]
                words[j] = general[int(rng.integers(len(general)))] + ("." if words[j].endswith(".") else "")
                texts.append(" ".join(words))
            else:
                texts.append(base)
            fam.append(len(texts) - 1)
        families.append(fam)
    while len(texts) < n_docs:
        t = page(topics[int(rng.integers(n_topics))])
        if rng.random() < 0.1:
            user = f"{_word(rng)}.{_word(rng)}"
            phone = f"+1 {rng.integers(200, 999)}-{rng.integers(200, 999)}-{rng.integers(1000, 9999)}"
            t += f" Write to {user}@{_word(rng)}.com or call {phone} today."
            pii.append(len(texts))
        texts.append(t)
    # shuffle ids so families and spam are spread over the id space
    new_id = [int(i) for i in rng.permutation(len(texts))]
    shuffled = [""] * len(texts)
    for old, t in enumerate(texts):
        shuffled[new_id[old]] = t
    return Corpus(
        docs=pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": shuffled}),
        dup_families=[sorted(new_id[i] for i in f) for f in families],
        spam={new_id[i]: r for i, r in spam.items()},
        pii_docs=sorted(new_id[i] for i in pii),
    )
