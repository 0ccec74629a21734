"""Byte-identity pin on extractor output.

sha256 over a canonical JSON dump of ``extract_from_text`` for every
chunk of ``build_page(i, 42, profile)``, i < 300, for both corpus
profiles. tests/golden/extractor_golden.json holds the digests; to
regenerate them (only for an intended output change), run
``PYTHONPATH=. python tests/test_extractor_golden.py >
tests/golden/extractor_golden.json`` from the repo root.
"""

import hashlib
import json
from pathlib import Path

import pytest

from metal_history_knowledge_graph_spark.functions.chunker import split_text
from metal_history_knowledge_graph_spark.functions.patterns import extract_from_text
from metal_history_knowledge_graph_spark.sources.corpus import build_page

GOLDEN_PATH = Path(__file__).parent / "golden" / "extractor_golden.json"
N_PAGES = 300
SEED = 42


def extractor_digest(profile: str) -> dict:
    h = hashlib.sha256()
    n_chunks = n_mentions = n_rels = 0
    for i in range(N_PAGES):
        page = build_page(i, SEED, profile)
        for chunk in split_text(page["text"], page["url"]):
            mentions, rels = extract_from_text(chunk["text"])
            h.update(json.dumps([chunk["id"], mentions, rels], sort_keys=True,
                                ensure_ascii=False).encode())
            h.update(b"\n")
            n_chunks += 1
            n_mentions += len(mentions)
            n_rels += len(rels)
    return {"chunks": n_chunks, "mentions": n_mentions,
            "relationships": n_rels, "sha256": h.hexdigest()}


@pytest.mark.parametrize("profile", ["default", "heavy"])
def test_extractor_output_digest(profile):
    golden = json.loads(GOLDEN_PATH.read_text())
    assert extractor_digest(profile) == golden[profile]


if __name__ == "__main__":
    print(json.dumps({p: extractor_digest(p) for p in ("default", "heavy")}, indent=1))
