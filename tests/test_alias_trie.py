"""The trie-compiled gazetteer regex matches exactly what the flat
longest-first alternation it replaced matches: same spans, same texts."""

import random
import re

import pytest

from metal_history_knowledge_graph_spark.functions.chunker import split_text
from metal_history_knowledge_graph_spark.functions.patterns import (
    _PROPER_ALIASES,
    P_ALIAS,
    trie_regex,
)
from metal_history_knowledge_graph_spark.sources.corpus import build_page


def flat_alternation(words):
    """The pre-trie form: a flat alternation, longest word first."""
    return "|".join(re.escape(w) for w in sorted(words, key=len, reverse=True))


REFERENCE = re.compile(r"\b(?:" + flat_alternation(_PROPER_ALIASES) + r")\b", re.IGNORECASE)


def _matches(pattern, text):
    return [(m.span(), m.group(0)) for m in pattern.finditer(text)]


def test_gazetteer_strings():
    prefixes = [a for a in _PROPER_ALIASES
                if any(b != a and b.startswith(a) for b in _PROPER_ALIASES)]
    assert len(prefixes) >= 2
    for ch in "ö!?'-":
        assert any(ch in a for a in _PROPER_ALIASES), ch
    texts = []
    for alias in _PROPER_ALIASES:
        for form in (alias.lower(), alias.title(), alias.upper()):
            for tail in ("x", "'", "'s", ".", ", ", "!", ""):
                texts.append(f"see {form}{tail}")
    for text in texts:
        assert _matches(P_ALIAS, text) == _matches(REFERENCE, text), text
    joined = " ".join(texts)
    assert _matches(P_ALIAS, joined) == _matches(REFERENCE, joined)


@pytest.mark.parametrize("profile", ["default", "heavy"])
def test_corpus_chunks(profile):
    n = 0
    for seed in (1, 42):
        for i in range(40):
            page = build_page(i, seed, profile)
            for chunk in split_text(page["text"], page["url"]):
                got = _matches(P_ALIAS, chunk["text"])
                assert got == _matches(REFERENCE, chunk["text"]), chunk["id"]
                n += len(got)
    assert n > 0


@pytest.mark.parametrize("template", [r"\b(?:{})\b", r"({})(b|c -)", r"({}) ({})"])
def test_prefix_chains_on_random_text(template):
    """Word-bounded, and embedded with a continuation and capture groups
    (as GENRES and the other gazetteer alternations are used)."""
    words = ["a", "ab", "abc", "abd", "b c", "b", "ca-b", "c"]
    alt_flat, alt_trie = flat_alternation(words), trie_regex(words)
    flat = re.compile(template.format(alt_flat, alt_flat))
    trie = re.compile(template.format(alt_trie, alt_trie))
    rng = random.Random(7)
    for _ in range(2000):
        text = "".join(rng.choice("abcd -") for _ in range(rng.randint(0, 24)))
        got = [(m.span(), m.groups()) for m in trie.finditer(text)]
        assert got == [(m.span(), m.groups()) for m in flat.finditer(text)], text
