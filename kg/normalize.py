"""Shared text-normalization primitives.

These are the single source of truth for the normalization semantics the whole
engine (single-node oracle AND Spark pipeline) must agree on. Semantics pinned
by the reference (studied, not copied):

- punctuation strip is Python ``str.strip(string.punctuation)`` — i.e. strip
  any run of punctuation characters from BOTH ENDS only
  (ref: /root/reference/src/hu_entity/entity_finder.py:27,75).
- word splitting is Python ``str.split()`` — any whitespace run, empties
  dropped (ref: entity_finder.py:88).
- candidate spans are ALL contiguous word n-grams in (start asc, end asc)
  order (ref: entity_finder.py:87-96).
"""

from __future__ import annotations

import string
from collections.abc import Iterator

PUNCT = string.punctuation


def strip_punct(s: str) -> str:
    """Strip punctuation characters from both ends (Python strip semantics)."""
    return s.strip(PUNCT)


def norm_value(s: str) -> str:
    """Gazetteer-value normal form: lowercase then strip punctuation.

    Order matters and is pinned by the reference (lower first, then strip):
    entity_finder.py:26-28.
    """
    return s.lower().strip(PUNCT)


def ngram_spans(text: str, max_words: int | None = None) -> Iterator[tuple[int, int, str]]:
    """Yield (start_word_idx, end_word_idx_inclusive, span_text) for every
    contiguous word n-gram, in (start asc, end asc) order.

    ``max_words`` caps the n-gram length; for dictionary matching this is a
    semantics-preserving optimization (a span longer than the longest
    dictionary phrase can never match), turning O(n^2) span generation into
    O(n * max_phrase_len). Pass None for the uncapped reference behavior
    (ref: entity_finder.py:91-95 generates all n-grams with no cap).
    """
    words = text.split()
    n = len(words)
    for i in range(n):
        hi = n if max_words is None else min(n, i + max_words)
        for j in range(i, hi):
            yield i, j, " ".join(words[i : j + 1])
