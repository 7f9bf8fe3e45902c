"""The benchmark's own string functions, written apart from the program
so that the checks never reuse the code they check."""

from __future__ import annotations

import re
import unicodedata

_NON_ALNUM = re.compile(r"[^a-z0-9]+")


def normalize(s: str | None) -> str | None:
    """lower + accent-fold (NFKD, drop non-ASCII) + non-alphanumeric runs
    to one space + trim — the documented ``normalize``."""
    if s is None:
        return None
    folded = "".join(c for c in unicodedata.normalize("NFKD", s) if ord(c) < 128)
    return _NON_ALNUM.sub(" ", folded.lower()).strip(" ")


def levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def levenshtein_norm(a: str, b: str) -> float:
    """round-half-even(100 - 100 * lv / (1 + min length)) / 100."""
    return round(100.0 - 100.0 * levenshtein(a, b) / (1.0 + min(len(a), len(b)))) / 100.0


def shingles(s: str, n: int = 3) -> set[str]:
    """Distinct character ``n``-grams of the whole string (the string
    itself when it is at most ``n`` long)."""
    if len(s) <= n:
        return {s}
    return {s[i:i + n] for i in range(len(s) - n + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)
