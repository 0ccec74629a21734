"""Deterministic mention + relationship extraction over chunk text.

This is the engine's replacement for the reference's per-chunk LLM call
(``src/extraction/enhanced_extraction.py:14-78``): a gazetteer sweep
(broadcast alias dictionary, word-boundary trie regex) plus a
bank of sentence patterns mirroring the reference's high-confidence
context patterns (``src/extraction/confidence_scorer.py:16-44``). It
fills the exact ``ExtractionResult`` contract
(``src/extraction/extraction_schemas.py:10-98``): entity dicts per type
plus relationship dicts ``(type, from_entity_type, from_entity_name,
to_entity_type, to_entity_name, year, role, context)``.

Pure Python, no Spark imports — called batch-wise from the extraction
``mapInPandas`` operator. All regexes are module-level compiled once per
executor. Deviations from the reference (documented):

* locations get a ``name`` field (= city) so they participate in
  canonicalization; the reference skips name-less entities
  (``extraction_pipeline.py:86-88``) and synthesizes locations from
  band data instead (``03_deduplicate_entities.sh:68-111``) — we do
  both.
* ``movements`` is an enhanced-schema type
  (``extraction_schemas_enhanced.py``), emitted natively here.

The gazetteer sweep ``P_ALIAS`` (and every other longest-first list of
literals, such as ``GENRES``) is compiled from a character trie
(``trie_regex``), not from a flat alternation. Python's ``re`` tries
every alternative of a flat alternation at every text position, which
made the sweep over ~200 aliases the extractor's largest cost. The
trie shares prefixes, so a position costs about one branch per
character. Its greedy optional groups keep the longest-alias-first
rule, so the matches are identical (tests/test_alias_trie.py) and the
sweep runs about 6× faster.
"""

from __future__ import annotations

import re
from typing import Iterable, Optional

from .confidence import score_mention
from .gazetteer import (
    CHARACTERISTICS,
    CULTURAL_EVENTS,
    EQUIPMENT,
    ERAS,
    INSTRUMENT_BY_ROLE,
    MEDIA_OUTLETS,
    PLATFORMS,
    PRODUCTION_STYLES,
    ROLE_BY_INSTRUMENT,
    SUBGENRES,
    VENUES,
    VIRAL_PHENOMENA,
    build_alias_rows,
)

# --- lexical building blocks ---------------------------------------------


def trie_regex(words: Iterable[str]) -> str:
    """Regex source for an alternation of ``words`` that tries the
    longest word first at each position, like a longest-first flat
    alternation but compiled from a character trie: shared prefixes are
    factored into nested groups, and a node that ends a word makes its
    continuation a greedy optional group, so the engine backtracks from
    the longest word to shorter ones."""
    trie: dict = {}
    for w in words:
        node = trie
        for ch in w:
            node = node.setdefault(ch, {})
        node[""] = {}

    def emit(node: dict) -> str:
        branches = [re.escape(ch) + emit(child) for ch, child in sorted(node.items()) if ch]
        if not branches:
            return ""
        body = branches[0] if len(branches) == 1 else "(?:" + "|".join(branches) + ")"
        return f"(?:{body})?" if "" in node else body

    return emit(trie)


# Single-space word separator (never \s+): a proper name must not span
# a paragraph boundary.
NAME = r"[A-Z][\w'&.\-]*(?:[ ](?:of|the|[A-Z][\w'&.\-]*))*"
# Movement names mix case ('Bay Area thrash'): lazy any-word tail,
# anchored by the following ' movement' literal.
MOVE_NAME = r"[A-Z][\w'&.\-]*(?:[ ][\w'&.\-]+)*?"
ROLES = "|".join(INSTRUMENT_BY_ROLE)
INSTRUMENTS = "|".join(ROLE_BY_INSTRUMENT)
GENRES = trie_regex(SUBGENRES)

_SENT_RE = re.compile(r"(?<=[.!?])\s+")

P_FORMED = re.compile(
    rf"\b({NAME}) (?:was |were )?formed in ({NAME})(?:, ({NAME}))? in (\d{{4}})"
    rf"(?: by (?:the )?({ROLES}) ({NAME}))?"
)
P_FORMED_DATE = re.compile(
    rf"\b({NAME}) was formed in ({NAME}), ({NAME}), on [\w ]+? (\d{{4}})"
    rf"(?: by (?:the )?({ROLES}) ({NAME}))?"
)
P_CONSISTED = re.compile(r"\b(?:[Tt]he band consisted of|consisting of|consists of) ([^.]+)\.")
P_MEMBER_ITEM = re.compile(rf"({NAME}) on ({INSTRUMENTS})")
P_RELEASED = re.compile(
    rf"\b({NAME}) released (?:the album |their [\w-]+ (?:studio )?album )?'([^']+)' in (\d{{4}})"
)
P_SELF_TITLED = re.compile(r"[Tt]heir self-titled debut album '([^']+)' was released in (\d{4})")
P_RECORDED_AT = re.compile(rf"'([^']+)' was recorded at ({NAME})")
P_RELEASED_BY = re.compile(rf"'([^']+)' was released by ({NAME})")
P_PLAYS = re.compile(rf"\b({NAME}) plays ({GENRES})", re.IGNORECASE)
P_INFLUENCED = re.compile(rf"\b({NAME}) (?:was|were) (?:heavily )?influenced by ({NAME})")
P_MOVEMENT = re.compile(
    rf"[Tt]he ({MOVE_NAME})(?: \(([A-Z]+)\))? movement began in the late (\d{{4}})s?"
    rf" and included bands like ([^.]+)\."
)
P_LEFT = re.compile(rf"In (\d{{4}}), ({NAME}) left ({NAME})")
P_REPLACED = re.compile(rf"(?:He|She|They) (?:was|were) replaced by ({NAME})(?:, formerly of ({NAME}))?")
_EQUIP = trie_regex(EQUIPMENT)
_VENUE = trie_regex(VENUES)
_PLATFORM = trie_regex(PLATFORMS)
_PRODSTYLE = trie_regex(PRODUCTION_STYLES)
_ERA = trie_regex(ERAS)
_OUTLET = trie_regex(MEDIA_OUTLETS)
_CEVENT = trie_regex(CULTURAL_EVENTS)
_CHAR = trie_regex(CHARACTERISTICS)
_VIRAL = trie_regex(VIRAL_PHENOMENA)
# full base-whitelist coverage: one context pattern per remaining
# reference predicate (initialize_kuzu.py:167-220 rel tables)
P_ACTIVE_DURING = re.compile(rf"\b({NAME}) was active during the ({_ERA})")
P_EMERGED_DURING = re.compile(rf"\b({GENRES}) emerged during the ({_ERA})")
P_DOCUMENTED_IN = re.compile(rf"\b({NAME}) was documented in ({_OUTLET})")
P_FEATURED_IN = re.compile(rf"'([^']+)' was featured in ({_OUTLET})")
P_PARTICIPATED = re.compile(rf"\b({NAME}) participated in ({_CEVENT})")
P_INFLUENCED_EVENT = re.compile(rf"\b({NAME}) heavily shaped ({_CEVENT})")
P_HAS_CHAR = re.compile(rf"\b({GENRES}) is defined by ({_CHAR})")
P_USES_TECH = re.compile(rf"\b({NAME}) uses ({_CHAR})")
P_ALBUM_FEAT = re.compile(rf"'([^']+)' showcases ({_CHAR})")
P_PRODUCED_BY = re.compile(rf"'([^']+)' was produced by ({NAME})")
P_REPRESENTS = re.compile(rf"'([^']+)' represents ({GENRES})")
P_SCENE_SPAWNED = re.compile(rf"[Tt]he ({NAME}) scene spawned ({NAME})")
P_SCENE_DEVELOPED = re.compile(rf"[Tt]he ({NAME}) scene developed ({GENRES})")
P_CITED = re.compile(rf"\b({NAME}) cited '([^']+)' as a formative record")
P_WENT_VIRAL = re.compile(rf"'([^']+)' went viral through the ({_VIRAL})")
# enhanced-schema context patterns (specialized_prompts.py cue lists:
# 'recorded with', 'played at', 'promoted on')
P_EQUIPMENT = re.compile(rf"\b({NAME}) recorded with the ({_EQUIP})")
P_VENUE = re.compile(rf"\b({NAME}) played at ({_VENUE})")
P_PLATFORM = re.compile(rf"\b({NAME}) was promoted on ({_PLATFORM})")
P_PRODSTYLE = re.compile(rf"'([^']+)' was produced with the ({_PRODSTYLE}) sound")
P_TRACK = re.compile(r"'([^']+)' features the track '([^']+)'")
P_PERFORMED = re.compile(rf"\b({NAME}) performed on '([^']+)' playing (?:the )?({INSTRUMENTS})")
P_CONTEMP = re.compile(rf"\b({NAME}) and ({NAME}) were contemporaries")
P_MENTIONED = re.compile(rf"\b({NAME}) (?:was|were) often mentioned alongside ({NAME})")
P_ORIGINATED = re.compile(rf"\b({GENRES}) originated in ({NAME})(?:, ({NAME}))?", re.IGNORECASE)
P_EVOLVED = re.compile(rf"\b({GENRES}) evolved into ({GENRES})", re.IGNORECASE)
P_LIST_SPLIT = re.compile(r",\s*(?:and\s+)?|\s+and\s+")

# Gazetteer sweep: longest alias first so 'Black Sabbath' beats
# 'Sabbath'. Matched case-insensitively; lowercase surfaces are skipped
# in extract_from_text. Genres are handled separately.
_ALIAS_ROWS = build_alias_rows()
_ALIAS_INDEX: dict[str, list[dict]] = {}
for _row in _ALIAS_ROWS:
    _ALIAS_INDEX.setdefault(_row["alias_norm"], []).append(_row)
_PROPER_ALIASES = sorted(
    {r["alias_norm"] for r in _ALIAS_ROWS if r["entity_type"] != "subgenres"}
)
P_ALIAS = re.compile(r"\b(?:" + trie_regex(_PROPER_ALIASES) + r")\b", re.IGNORECASE)
P_GENRE_ALIAS = re.compile(rf"\b({GENRES})\b", re.IGNORECASE)


def split_sentences(text: str) -> list[tuple[int, str]]:
    """Sentence spans (start offset, sentence) — offsets drive mention order."""
    out = []
    pos = 0
    for m in _SENT_RE.finditer(text):
        out.append((pos, text[pos:m.start()]))
        pos = m.end()
    if pos < len(text):
        out.append((pos, text[pos:]))
    return out


def _clean_name(name: Optional[str]) -> Optional[str]:
    """NAME's char class admits '.' (for 'K.K. Downing'), which can
    swallow a sentence-final period — strip it."""
    if name is None:
        return None
    return name.rstrip(".").strip() or None


def _context_link_score(context_tokens: list[str], chunk_tokens: set[str]) -> float:
    """Binary-TF cosine between a candidate's context profile and the
    chunk's token set — the tie-breaker for aliases shared across
    entity types (north-star 'TF-IDF/context-similarity' linking)."""
    if not context_tokens:
        return 0.0
    hit = sum(1 for t in context_tokens if t in chunk_tokens)
    return hit / (len(context_tokens) ** 0.5)


class _Acc:
    """Per-chunk accumulator keyed (entity_type, name) preserving first-
    occurrence order, merging pattern attrs fill-first (the reference's
    per-chunk extraction yields one entity per name per chunk)."""

    def __init__(self) -> None:
        self._items: dict[tuple[str, str], dict] = {}
        self._order: dict[tuple[str, str], int] = {}
        self.relationships: list[dict] = []

    def add(self, etype: str, name: str, offset: int, **attrs) -> None:
        name = _clean_name(name)
        if not name:
            return
        for k, v in attrs.items():
            if isinstance(v, str) and k != "description":
                attrs[k] = _clean_name(v)
            elif isinstance(v, list):
                attrs[k] = [_clean_name(x) if isinstance(x, str) else x for x in v]
        key = (etype, name)
        if key not in self._items:
            self._items[key] = {"name": name, **{k: v for k, v in attrs.items() if v is not None}}
            self._order[key] = offset
        else:
            cur = self._items[key]
            for k, v in attrs.items():
                if v is None:
                    continue
                if cur.get(k) is None:
                    cur[k] = v
                elif isinstance(v, list) and isinstance(cur[k], list):
                    cur[k] = cur[k] + [x for x in v if x not in cur[k]]
            self._order[key] = min(self._order[key], offset)

    def rel(self, rtype: str, ft: str, fn: str, tt: str, tn: str,
            year: Optional[int] = None, role: Optional[str] = None,
            context: str = "") -> None:
        self.relationships.append(dict(
            type=rtype, from_entity_type=ft, from_entity_name=_clean_name(fn),
            to_entity_type=tt, to_entity_name=_clean_name(tn),
            year=year, role=role, context=context.strip(),
        ))

    def ordered_mentions(self) -> list[tuple[str, dict]]:
        keys = sorted(self._items, key=lambda k: (self._order[k], k))
        return [(k[0], self._items[k]) for k in keys]


def extract_from_text(text: str) -> tuple[list[dict], list[dict]]:
    """Extract mentions + relationships from one chunk's text.

    Returns ``(mentions, relationships)`` where each mention is
    ``{entity_type, name, mention_index, confidence, **schema attrs}``.
    Deterministic: order = first occurrence offset, then (type, name).
    """
    acc = _Acc()
    chunk_tokens = {t.lower() for t in re.findall(r"[\w'öäü&.-]+", text)}

    last_band: Optional[str] = None
    last_album: Optional[str] = None
    last_year: Optional[int] = None

    for s_off, sent in split_sentences(text):
        sent = sent.strip()
        if not sent:
            continue
        # cheap literal gates: each bank's regex REQUIRES the quoted
        # literal, so skipping the regex when the lowercase literal is
        # absent is a pure necessary-condition prune (measured ~1,450
        # regex searches/chunk -> ~100; byte-identical outputs pinned
        # by the before/after corpus diff + golden tests + P/R gate).
        s_low = sent.lower()

        m = (P_FORMED_DATE.search(sent) or P_FORMED.search(sent)) \
            if "formed in" in s_low else None
        if m:
            band, city, region_or_country, year = m.group(1), m.group(2), m.group(3), int(m.group(4))
            role, person = m.group(5), m.group(6)
            is_dated = m.re is P_FORMED_DATE
            region = region_or_country if is_dated else None
            country = None if is_dated else region_or_country
            acc.add("bands", band, s_off, formed_year=year, origin_city=city,
                    origin_country=country, description=sent)
            acc.add("locations", city, s_off, city=city, region=region,
                    country=country or "", scene_description=f"Metal scene in {city}")
            acc.rel("FORMED_IN", "band", band, "location", city, year=year, context=sent)
            if person:
                instrument = INSTRUMENT_BY_ROLE[role]
                acc.add("people", person, s_off, instruments=[instrument],
                        associated_bands=[band], description=sent)
                acc.rel("MEMBER_OF", "person", person, "band", band,
                        year=year, role=role, context=sent)
            last_band = band

        m = P_CONSISTED.search(sent) if "consist" in s_low else None
        if m and last_band:
            for item in P_LIST_SPLIT.split(m.group(1)):
                im = P_MEMBER_ITEM.search(item)
                if im:
                    person, instrument = im.group(1), im.group(2)
                    acc.add("people", person, s_off, instruments=[instrument],
                            associated_bands=[last_band], description=sent)
                    acc.rel("MEMBER_OF", "person", person, "band", last_band,
                            role=ROLE_BY_INSTRUMENT[instrument], context=sent)

        m = P_RELEASED.search(sent) if "released" in s_low else None
        if m:
            band, title, year = m.group(1), m.group(2), int(m.group(3))
            acc.add("bands", band, s_off, description=sent)
            acc.add("albums", title, s_off, title=title, artist=band,
                    release_year=year, description=sent)
            acc.rel("RELEASED", "band", band, "album", title, year=year, context=sent)
            last_band, last_album = band, title

        m = P_SELF_TITLED.search(sent) if "self-titled" in s_low else None
        if m and last_band:
            title, year = m.group(1), int(m.group(2))
            acc.add("albums", title, s_off, title=title, artist=last_band,
                    release_year=year, description=sent)
            acc.rel("RELEASED", "band", last_band, "album", title, year=year, context=sent)
            last_album = title

        m = P_RECORDED_AT.search(sent) if "was recorded at" in s_low else None
        if m:
            title, studio = m.group(1), m.group(2)
            acc.add("albums", title, s_off, title=title, description=sent, studio=studio)
            acc.add("studios", studio, s_off, famous_for=sent)
            acc.rel("RECORDED_AT", "album", title, "studio", studio, context=sent)

        m = P_RELEASED_BY.search(sent) if "was released by" in s_low else None
        if m:
            title, label = m.group(1), m.group(2)
            acc.add("albums", title, s_off, title=title, description=sent, label=label)
            acc.add("labels", label, s_off)
            acc.rel("RELEASED_BY", "album", title, "label", label, context=sent)

        m = P_PLAYS.search(sent) if " plays " in s_low else None
        if m:
            band, genre = m.group(1), m.group(2).lower()
            acc.add("bands", band, s_off, description=sent)
            acc.add("subgenres", genre, s_off, key_characteristics=sent)
            acc.rel("PLAYS_GENRE", "band", band, "subgenre", genre, context=sent)
            last_band = band

        m = P_INFLUENCED.search(sent) if "influenced by" in s_low else None
        if m:
            a, b = m.group(1), m.group(2)
            acc.add("bands", a, s_off, description=sent)
            acc.add("bands", b, s_off, description=sent)
            acc.rel("INFLUENCED_BY", "band", a, "band", b, context=sent)

        m = P_MOVEMENT.search(sent) if "movement began in" in s_low else None
        if m:
            movement, _abbrev, decade, band_list = m.group(1), m.group(2), int(m.group(3)), m.group(4)
            bands = [b.strip() for b in P_LIST_SPLIT.split(band_list) if b.strip()]
            acc.add("movements", movement, s_off, start_year=decade,
                    key_bands=bands, description=sent)
            for b in bands:
                acc.add("bands", b, s_off, description=sent)
                acc.rel("PART_OF_MOVEMENT", "band", b, "movement", movement, context=sent)

        m = P_LEFT.search(sent) if " left " in s_low else None
        if m:
            year, person, band = int(m.group(1)), m.group(2), m.group(3)
            acc.add("people", person, s_off, associated_bands=[band], description=sent)
            acc.add("bands", band, s_off, description=sent)
            acc.add("events", f"{person} leaves {band}", s_off,
                    date=str(year), type="other", description=sent)
            acc.rel("MEMBER_OF", "person", person, "band", band, year=year, context=sent)
            last_band, last_year = band, year

        m = P_REPLACED.search(sent) if "replaced by" in s_low else None
        if m and last_band:
            person, former_band = m.group(1), m.group(2)
            bands = [last_band] + ([former_band] if former_band else [])
            acc.add("people", person, s_off, associated_bands=bands, description=sent)
            acc.rel("MEMBER_OF", "person", person, "band", last_band,
                    year=last_year, context=sent)
            if former_band:
                acc.add("bands", former_band, s_off, description=sent)
                acc.rel("MEMBER_OF", "person", person, "band", former_band, context=sent)

        m = P_ACTIVE_DURING.search(sent) if "was active during" in s_low else None
        if m:
            band, era = m.group(1), m.group(2)
            acc.add("bands", band, s_off, description=sent)
            acc.add("eras", era, s_off, era_start=ERAS[era][0], era_end=ERAS[era][1])
            acc.rel("ACTIVE_DURING", "band", band, "era", era, context=sent)

        m = P_EMERGED_DURING.search(sent) if "emerged during" in s_low else None
        if m:
            genre, era = m.group(1).lower(), m.group(2)
            acc.add("subgenres", genre, s_off)
            acc.add("eras", era, s_off, era_start=ERAS[era][0], era_end=ERAS[era][1])
            acc.rel("EMERGED_DURING", "subgenre", genre, "era", era, context=sent)

        m = P_DOCUMENTED_IN.search(sent) if "was documented in" in s_low else None
        if m:
            band, outlet = m.group(1), m.group(2)
            acc.add("bands", band, s_off, description=sent)
            acc.add("media_outlets", outlet, s_off)
            acc.rel("DOCUMENTED_IN", "band", band, "media_outlet", outlet, context=sent)

        m = P_FEATURED_IN.search(sent) if "was featured in" in s_low else None
        if m:
            album, outlet = m.group(1), m.group(2)
            acc.add("albums", album, s_off, title=album)
            acc.add("media_outlets", outlet, s_off)
            acc.rel("FEATURED_IN", "album", album, "media_outlet", outlet, context=sent)

        m = P_PARTICIPATED.search(sent) if "participated in" in s_low else None
        if m:
            band, cev = m.group(1), m.group(2)
            acc.add("bands", band, s_off, description=sent)
            acc.add("events", cev, s_off, type="festival", description=sent)
            acc.rel("PARTICIPATED_IN", "band", band, "event", cev, context=sent)

        m = P_INFLUENCED_EVENT.search(sent) if "heavily shaped" in s_low else None
        if m:
            band, cev = m.group(1), m.group(2)
            acc.add("bands", band, s_off, description=sent)
            acc.add("events", cev, s_off, type="festival", description=sent)
            acc.rel("INFLUENCED_EVENT", "band", band, "event", cev, context=sent)

        m = P_HAS_CHAR.search(sent) if "is defined by" in s_low else None
        if m:
            genre, char = m.group(1).lower(), m.group(2)
            acc.add("subgenres", genre, s_off)
            acc.add("characteristics", char, s_off)
            acc.rel("HAS_CHARACTERISTIC", "subgenre", genre,
                    "characteristic", char, context=sent)

        m = P_USES_TECH.search(sent) if " uses " in s_low else None
        if m:
            band, char = m.group(1), m.group(2)
            acc.add("bands", band, s_off, description=sent)
            acc.add("characteristics", char, s_off)
            acc.rel("USES_TECHNIQUE", "band", band, "characteristic", char,
                    context=sent)

        m = P_ALBUM_FEAT.search(sent) if "showcases" in s_low else None
        if m:
            album, char = m.group(1), m.group(2)
            acc.add("albums", album, s_off, title=album)
            acc.add("characteristics", char, s_off)
            acc.rel("ALBUM_FEATURES", "album", album, "characteristic", char,
                    context=sent)

        m = P_PRODUCED_BY.search(sent) if "was produced by" in s_low else None
        if m:
            album, person = m.group(1), m.group(2)
            acc.add("albums", album, s_off, title=album)
            acc.add("people", person, s_off, description=sent)
            acc.rel("PRODUCED", "person", person, "album", album, context=sent)

        m = P_REPRESENTS.search(sent) if "represents" in s_low else None
        if m:
            album, genre = m.group(1), m.group(2).lower()
            acc.add("albums", album, s_off, title=album)
            acc.add("subgenres", genre, s_off)
            acc.rel("REPRESENTS_GENRE", "album", album, "subgenre", genre,
                    context=sent)

        m = P_SCENE_SPAWNED.search(sent) if "scene spawned" in s_low else None
        if m:
            city, band = m.group(1), m.group(2)
            acc.add("locations", city, s_off, city=city, country="",
                    scene_description=f"Metal scene in {city}")
            acc.add("bands", band, s_off, description=sent)
            acc.rel("SCENE_SPAWNED", "location", city, "band", band, context=sent)

        m = P_SCENE_DEVELOPED.search(sent) if "scene developed" in s_low else None
        if m:
            city, genre = m.group(1), m.group(2).lower()
            acc.add("locations", city, s_off, city=city, country="",
                    scene_description=f"Metal scene in {city}")
            acc.add("subgenres", genre, s_off)
            acc.rel("SCENE_DEVELOPED", "location", city, "subgenre", genre,
                    context=sent)

        m = P_CITED.search(sent) if "cited" in s_low else None
        if m:
            band, album = m.group(1), m.group(2)
            acc.add("bands", band, s_off, description=sent)
            acc.add("albums", album, s_off, title=album)
            # CITATION(Band→Album, quote/context), initialize_kuzu.py:214
            acc.rel("CITATION", "band", band, "album", album, context=sent)

        m = P_WENT_VIRAL.search(sent) if "went viral" in s_low else None
        if m:
            song, phen = m.group(1), m.group(2)
            acc.add("songs", song, s_off, title=song)
            acc.add("viral_phenomena", phen, s_off)
            # WENT_VIRAL(Song→ViralPhenomenon), enhanced cypher :116
            acc.rel("WENT_VIRAL", "song", song, "viral_phenomenon", phen,
                    context=sent)

        m = P_EQUIPMENT.search(sent) if "recorded with the" in s_low else None
        if m:
            band, equip = m.group(1), m.group(2)
            acc.add("bands", band, s_off, description=sent)
            acc.add("equipment", equip, s_off, type=EQUIPMENT[equip]["type"],
                    manufacturer=EQUIPMENT[equip]["manufacturer"])
            # USES_EQUIPMENT(Band→Equipment), enhanced cypher :109
            acc.rel("USES_EQUIPMENT", "band", band, "equipment", equip, context=sent)

        m = P_VENUE.search(sent) if "played at" in s_low else None
        if m:
            band, venue = m.group(1), m.group(2)
            acc.add("bands", band, s_off, description=sent)
            acc.add("venues", venue, s_off, type=VENUES[venue]["type"],
                    location=VENUES[venue]["location"])
            # VENUE_HOSTED(Venue→Band), enhanced cypher :198
            acc.rel("VENUE_HOSTED", "venue", venue, "band", band, context=sent)

        m = P_PLATFORM.search(sent) if "was promoted on" in s_low else None
        if m:
            band, platform = m.group(1), m.group(2)
            acc.add("bands", band, s_off, description=sent)
            acc.add("platforms", platform, s_off, type=PLATFORMS[platform]["type"])
            # PROMOTED_ON(Band→Platform), enhanced cypher :114
            acc.rel("PROMOTED_ON", "band", band, "platform", platform, context=sent)

        m = P_PRODSTYLE.search(sent) if "was produced with the" in s_low else None
        if m:
            album, style = m.group(1), m.group(2)
            acc.add("albums", album, s_off, title=album)
            acc.add("production_styles", style, s_off,
                    key_characteristics=PRODUCTION_STYLES[style]["key_characteristics"])
            # PRODUCED_WITH_STYLE(Album→ProductionStyle), enhanced cypher :119
            acc.rel("PRODUCED_WITH_STYLE", "album", album,
                    "production_style", style, context=sent)

        m = P_TRACK.search(sent) if "features the track" in s_low else None
        if m:
            album, song = m.group(1), m.group(2)
            artist = last_band if album == last_album else None
            acc.add("albums", album, s_off, title=album)
            acc.add("songs", song, s_off, title=song, album=album, artist=artist)
            acc.rel("CONTAINS_TRACK", "album", album, "song", song, context=sent)

        m = P_PERFORMED.search(sent) if "performed on" in s_low else None
        if m:
            person, album, instrument = m.group(1), m.group(2), m.group(3)
            acc.add("people", person, s_off, instruments=[instrument], description=sent)
            acc.add("albums", album, s_off, title=album)
            # reference PERFORMED_ON(Person→Album, instruments[]),
            # initialize_kuzu.py:184; instruments land in props.role
            acc.rel("PERFORMED_ON", "person", person, "album", album,
                    role=instrument, context=sent)

        m = P_CONTEMP.search(sent) if "were contemporaries" in s_low else None
        if m:
            a, b = m.group(1), m.group(2)
            acc.add("bands", a, s_off, description=sent)
            acc.add("bands", b, s_off, description=sent)
            acc.rel("CONTEMPORARY_OF", "band", a, "band", b, context=sent)

        m = P_MENTIONED.search(sent) if "mentioned alongside" in s_low else None
        if m:
            a, b = m.group(1), m.group(2)
            acc.add("bands", a, s_off, description=sent)
            acc.add("bands", b, s_off, description=sent)
            # reference MENTIONED_WITH(Band→Band, context), initialize_kuzu.py:212
            acc.rel("MENTIONED_WITH", "band", a, "band", b, context=sent)

        m = P_ORIGINATED.search(sent) if "originated in" in s_low else None
        if m:
            genre, city, country = m.group(1).lower(), m.group(2), m.group(3)
            acc.add("subgenres", genre, s_off, key_characteristics=sent)
            acc.add("locations", city, s_off, city=city, country=country or "",
                    scene_description=f"Metal scene in {city}")
            acc.rel("ORIGINATED_IN", "subgenre", genre, "location", city, context=sent)

        m = P_EVOLVED.search(sent) if "evolved into" in s_low else None
        if m:
            g1, g2 = m.group(1).lower(), m.group(2).lower()
            acc.add("subgenres", g1, s_off, key_characteristics=sent)
            acc.add("subgenres", g2, s_off, key_characteristics=sent)
            acc.rel("EVOLVED_INTO", "subgenre", g1, "subgenre", g2, context=sent)

    # Gazetteer sweep: every known alias, linked to its best candidate
    # type by context score; fills in mentions the patterns missed.
    for m in P_ALIAS.finditer(text):
        # An all-lowercase surface form is a common-noun usage (e.g.
        # 'death' inside 'death metal'), not a proper-name mention.
        if m.group(0).islower():
            continue
        candidates = _ALIAS_INDEX.get(m.group(0).lower())
        if not candidates:
            continue
        best = max(candidates,
                   key=lambda c: (_context_link_score(c["context_tokens"], chunk_tokens),
                                  c["entity_type"]))
        etype, surface = best["entity_type"], m.group(0)
        if etype in ("albums", "songs"):
            acc.add(etype, surface, m.start(), title=surface)
        elif etype == "locations":
            acc.add(etype, surface, m.start(), city=surface, country="")
        else:
            acc.add(etype, surface, m.start())
    for m in P_GENRE_ALIAS.finditer(text):
        acc.add("subgenres", m.group(0).lower(), m.start())

    mentions = []
    for idx, (etype, entity) in enumerate(acc.ordered_mentions()):
        entity = dict(entity)
        entity["entity_type"] = etype
        entity["mention_index"] = idx
        entity["confidence"] = score_mention(entity, text, etype)
        entity["linked_name"] = link_mention(etype, entity["name"], chunk_tokens)
        mentions.append(entity)
    return mentions, acc.relationships


def link_mention(etype: str, name: str, chunk_tokens: set[str]) -> Optional[str]:
    """Entity linking against the broadcast alias dictionary: exact
    normalized-alias hit of the same entity type, context-scored when
    ambiguous (north-star 'candidate generation via a broadcast alias
    dictionary with TF-IDF/context-similarity entity-link scoring').
    Returns the canonical name, or None for novel surface forms — those
    fall through to fuzzy (MinHash-LSH + ratio) canonicalization."""
    candidates = [c for c in _ALIAS_INDEX.get(name.lower().strip(), [])
                  if c["entity_type"] == etype]
    if not candidates:
        return None
    best = max(candidates,
               key=lambda c: (_context_link_score(c["context_tokens"], chunk_tokens),
                              c["canonical_name"]))
    return best["canonical_name"]
