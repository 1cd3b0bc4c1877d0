"""Seeded text corpus, user Map/Reduce plugin files, and the sequential
oracle for the ``mr_*`` workloads.

The corpus is shaped like the reference's ``pg-*.txt`` books: a handful
of files of Zipf-distributed words, mixed case, punctuation, line breaks
and a few non-ASCII letters. The oracle is the ``mrsequential.go``
analogue: it tokenizes every file into maximal Unicode-letter runs and
builds the sorted ``"key value"`` lines the wc and indexer apps must
write.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import numpy as np

N_FILES = 8
ZIPF_S = 1.07
# A low estimate of bytes per emitted token (word plus separator). With
# the 1.5x margin in write_corpus, every seed draws more words than a
# file needs before the file is cut at its byte target.
BYTES_PER_WORD = 6.0

_LETTERS = list("abcdefghijklmnopqrstuvwxyz") + list("éèüöçñ")
_LETTER_P = np.array([8.0] * 26 + [0.25] * 6)
_SEPS = np.array([" ", ", ", ". ", "\n", "; ", " -- ", "'s ", " 1 "], dtype=object)
_SEP_P = np.array([0.62, 0.12, 0.07, 0.1, 0.03, 0.02, 0.03, 0.01])
# Letter runs are the token rule (mrapps/wc.go: !unicode.IsLetter splits).
TOKEN_RE = re.compile(r"[^\W\d_]+")

WC_PLUGIN = '''\
import re

_TOKEN = re.compile(r"[^\\W\\d_]+")


def Map(doc, contents):
    return ((w, "1") for w in _TOKEN.findall(contents))


def Reduce(key, values):
    return str(len(values))
'''

INDEXER_PLUGIN = '''\
import re

_TOKEN = re.compile(r"[^\\W\\d_]+")


def Map(doc, contents):
    return ((w, doc) for w in set(_TOKEN.findall(contents)))


def Reduce(key, values):
    return "%d %s" % (len(values), ",".join(sorted(values)))
'''


# Word length by Zipf rank, the same for every seed: the seed picks the
# letters. The bytes per word, and so the words and the work in a corpus
# of a given size, then stay close across seeds.
_LENGTHS = np.clip(np.random.default_rng(0).poisson(5.0, 4096), 1, 14)


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    p = _LETTER_P / _LETTER_P.sum()
    words, seen = [], set()
    for n in _LENGTHS[:size]:
        w, tries = "", 0
        while not w or w in seen:
            # after 50 clashes, take the length as used up and go one longer
            w = "".join(_LETTERS[i] for i in rng.choice(len(_LETTERS), size=n + tries // 50, p=p))
            tries += 1
        seen.add(w)
        words.append(w)
    # Capitalised variants are distinct keys, as in the books.
    caps = rng.random(len(words)) < 0.15
    return np.array([w.capitalize() if c else w for w, c in zip(words, caps)], dtype=object)


def write_corpus(dirpath: str, seed: int, total_mb: float, vocab: int) -> list[str]:
    """Write ``N_FILES`` files totalling about ``total_mb`` MB, drawn from
    ``vocab`` distinct words, into ``dirpath``; the same seed gives
    byte-identical files."""
    rng = np.random.default_rng(seed)
    words = _vocabulary(rng, vocab)
    weights = 1.0 / np.arange(1, len(words) + 1) ** ZIPF_S
    weights /= weights.sum()
    sep_p = _SEP_P / _SEP_P.sum()
    os.makedirs(dirpath, exist_ok=True)
    paths = []
    # Files differ in length but their total size is fixed, so every
    # seed gives the same amount of input.
    shares = rng.uniform(0.6, 1.4, N_FILES)
    for i, target in enumerate(total_mb * 1e6 * shares / shares.sum()):
        n = int(target / BYTES_PER_WORD * 1.5)
        drawn = words[rng.choice(len(words), size=n, p=weights)]
        seps = _SEPS[rng.choice(len(_SEPS), size=n, p=sep_p)]
        pieces = [w + s for w, s in zip(drawn, seps)]
        sizes = np.cumsum([len(x.encode()) for x in pieces])
        path = os.path.join(dirpath, f"pg-{i}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write("".join(pieces[: int(np.searchsorted(sizes, target))]))
        paths.append(path)
    return paths


def oracle_lines(paths: list[str]) -> tuple[list[str], list[str]]:
    """Sorted wc and indexer output lines, computed sequentially."""
    counts: Counter[str] = Counter()
    docs: dict[str, set[str]] = {}
    for p in paths:
        doc = os.path.basename(p)
        with open(p, encoding="utf-8") as f:
            tokens = TOKEN_RE.findall(f.read())
        counts.update(tokens)
        for w in set(tokens):
            docs.setdefault(w, set()).add(doc)
    wc = sorted(f"{w} {c}" for w, c in counts.items())
    indexer = sorted(f"{w} {len(d)} {','.join(sorted(d))}" for w, d in docs.items())
    return wc, indexer


def read_output(out_dir: str) -> list[str]:
    """Lines of the single part file a canonical write leaves."""
    parts = sorted(f for f in os.listdir(out_dir) if f.startswith("part-"))
    lines: list[str] = []
    for f in parts:
        with open(os.path.join(out_dir, f), encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())
    return lines
