"""Single-node oracle for dictionary/regex entity matching.

A faithful, from-scratch re-expression of the matching semantics the
reference pins in its pytest suites (studied at
/root/reference/src/hu_entity/entity_finder.py and
legacy_entity_finder.py; NOT copied — structure here is functional, the
reference is class/trie based). This module is the ground truth that the
distributed Spark pipeline (kg/stages/mentions.py) is tested against, and is
itself validated by the 27 ported reference test cases in
tests/test_finder_semantics.py.

Pinned semantics (citations into /root/reference/src/):
- candidate spans = ALL contiguous word n-grams, (start asc, end asc) order
  (hu_entity/entity_finder.py:87-96).
- per span: surface = strip punctuation at ends, key = surface.lower();
  membership test against each dictionary; matched surface recorded in
  original case (entity_finder.py:73-85).
- span-skip set: the RAW span text is tested against the set of previously
  matched STRIPPED surfaces (entity_finder.py:77,84 — deliberate asymmetry).
- longest-match fold: per entity keep only the longest candidate surface by
  char length, FIRST one wins ties (entity_finder.py:64-69).
- regex pass: SINGLE whitespace words only (no n-grams), stripped surface,
  case-sensitive fullmatch, runs after the value pass and skips words whose
  raw form was value-matched; ALL regex candidates kept, no longest fold
  (hu_entity/legacy_entity_finder.py:56,68-69,79-82,86-97).
- invalid regex -> the whole call fails (server.py:124-128 analogue).
"""

from __future__ import annotations

import re
from collections import defaultdict

from kg.normalize import ngram_spans, norm_value, strip_punct

__all__ = [
    "BadRegexError",
    "build_gazetteer",
    "compile_regexes",
    "find_entities",
]


class BadRegexError(ValueError):
    """Raised when a regex entity fails to compile (HTTP-400 analogue)."""


def build_gazetteer(entities: dict[str, list[str]]) -> dict[str, set[str]]:
    """{entity_name: [surface values]} -> {entity_name: {normal forms}}.

    Normal form = lower().strip(punctuation), in that order
    (ref: entity_finder.py:26-28).
    """
    return {
        name: {norm_value(v) for v in values} for name, values in entities.items()
    }


def compile_regexes(regex_entities: dict[str, str]) -> dict[str, re.Pattern]:
    compiled = {}
    for name, pattern in regex_entities.items():
        try:
            compiled[name] = re.compile(pattern)
        except re.error as exc:
            raise BadRegexError(f"invalid regex for entity {name!r}: {exc}") from exc
    return compiled


def find_entities(
    text: str,
    gazetteer: dict[str, set[str]],
    regexes: dict[str, re.Pattern] | None = None,
) -> dict[str, list[str]]:
    """Match dictionary + regex entities in ``text``.

    Returns {matched surface (original case, punctuation-stripped):
    [entity names]} — the /findentities wire shape.
    """
    consumed: set[str] = set()  # stripped surfaces already matched
    value_cands: dict[str, list[str]] = defaultdict(list)  # entity -> surfaces

    # ---- value (gazetteer) pass over all n-gram spans ----
    for _i, _j, span in ngram_spans(text):
        if span in consumed:
            continue
        surface = strip_punct(span)
        key = surface.lower()
        hit = False
        for name, values in gazetteer.items():
            if key in values:
                value_cands[name].append(surface)
                hit = True
        if hit:
            consumed.add(surface)

    # ---- regex pass over single words ----
    regex_cands: dict[str, list[str]] = defaultdict(list)
    if regexes:
        for word in text.split():
            if word in consumed:
                continue
            surface = strip_punct(word)
            hit = False
            for name, rx in regexes.items():
                if rx.fullmatch(surface):
                    regex_cands[name].append(surface)
                    hit = True
            if hit:
                consumed.add(surface)

    # ---- longest-match fold for value entities (first wins ties) ----
    out: dict[str, list[str]] = defaultdict(list)
    for name, cands in value_cands.items():
        best = cands[0]
        for c in cands[1:]:
            if len(c) > len(best):
                best = c
        out[best].append(name)

    # ---- regex candidates appended unfolded ----
    for name, cands in regex_cands.items():
        for c in cands:
            out[c].append(name)

    return dict(out)


def find_entities_rows(
    text: str,
    gazetteer: dict[str, set[str]],
    regexes: dict[str, re.Pattern] | None = None,
) -> list[tuple[str, str, str]]:
    """Relational view of find_entities: sorted distinct
    (matched_word, entity_name, detector) rows. This is the shape the Spark
    mentions stage emits and is compared against.
    """
    result = find_entities(text, gazetteer, regexes)
    regex_names = set(regexes or {})
    rows = set()
    for word, names in result.items():
        for name in names:
            det = "regex" if name in regex_names else "gazetteer"
            rows.add((word, name, det))
    return sorted(rows)
