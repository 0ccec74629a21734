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
``mapInArrow`` operator (``operators/extract.py``). All regexes are
module-level compiled once per executor.

The sentence patterns are one ordered rule table, ``RULES``: each row
is ``(gate, search, emit)``, and :func:`extract_from_text` runs every
row whose lowercase literal ``gate`` occurs in a sentence. A
two-entity rule is a :func:`_pair` row (its endpoint types, predicate
and direction); the rest are small named emitters that read or set the
chunk's last band, album or year. Row order is part of the output: a
repeated entity merges its attributes fill-first, and relationships
are listed in emit order. ``SINGULAR`` (entity type → relationship
endpoint type) and ``_ATTRS`` (the attributes a pattern gives each
endpoint type) are the per-type tables every row shares.

Deviations from the reference (documented):

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


#: entity type → relationship endpoint type (the extraction contract's
#: singular names); ``operators/triples`` inverts it.
SINGULAR = {
    "bands": "band", "people": "person", "albums": "album", "songs": "song",
    "subgenres": "subgenre", "locations": "location", "events": "event",
    "equipment": "equipment", "studios": "studio", "labels": "label",
    "movements": "movement", "venues": "venue", "platforms": "platform",
    "production_styles": "production_style", "eras": "era",
    "media_outlets": "media_outlet", "characteristics": "characteristic",
    "viral_phenomena": "viral_phenomenon",
}


def _described(name: str, sent: str) -> dict:
    return {"description": sent}


def _titled(name: str, sent: str) -> dict:
    return {"title": name}


#: entity type → the attributes a sentence pattern gives that endpoint,
#: ``f(name, sentence)``; a rule's own attributes override these. Types
#: not listed get none.
_ATTRS = {
    "bands": _described, "people": _described, "movements": _described,
    "albums": _titled, "songs": _titled,
    "locations": lambda n, s: {"city": n, "country": "",
                               "scene_description": f"Metal scene in {n}"},
    "events": lambda n, s: {"type": "festival", "description": s},
    "studios": lambda n, s: {"famous_for": s},
    "eras": lambda n, s: {"era_start": ERAS[n][0], "era_end": ERAS[n][1]},
    "equipment": lambda n, s: EQUIPMENT[n],
    "venues": lambda n, s: VENUES[n],
    "platforms": lambda n, s: PLATFORMS[n],
    "production_styles": lambda n, s: PRODUCTION_STYLES[n],
}


def _surface(etype: str, text: str) -> str:
    """A matched surface as an entity name: subgenre names are
    lowercase, every other type keeps its case."""
    return text.lower() if etype == "subgenres" else text


class _Acc:
    """Per-chunk accumulator keyed (entity_type, name) preserving first-
    occurrence order, merging pattern attrs fill-first (the reference's
    per-chunk extraction yields one entity per name per chunk). It also
    carries the chunk's last band, album and year, which the stateful
    rules read and set."""

    def __init__(self) -> None:
        self._items: dict[tuple[str, str], dict] = {}
        self._order: dict[tuple[str, str], int] = {}
        self.relationships: list[dict] = []
        self.last_band: Optional[str] = None
        self.last_album: Optional[str] = None
        self.last_year: Optional[int] = None

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

    def end(self, etype: str, name: str, offset: int, sent: str, **extra) -> None:
        """Add a pattern endpoint: its type's ``_ATTRS`` plus ``extra``."""
        attrs = _ATTRS.get(etype)
        self.add(etype, name, offset, **{**(attrs(name, sent) if attrs else {}), **extra})

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


# --- the rule table ------------------------------------------------------
# Every emitter is ``emit(acc, match, sentence, sentence_offset)``.


def _pair(pred: str, a_type: str, b_type: str, reverse: bool = False,
          a_extra=None, b_extra=None, sets_band: bool = False):
    """Emitter of a two-entity rule: groups 1 and 2 are endpoints ``a``
    and ``b``, related ``a → b`` (``b → a`` with ``reverse``).
    ``a_extra``/``b_extra`` are ``f(other_name, sentence)`` attributes
    on top of the type's own; ``sets_band`` makes ``a`` the last band."""
    a_end, b_end = SINGULAR[a_type], SINGULAR[b_type]

    def emit(acc: _Acc, m: re.Match, sent: str, off: int) -> None:
        a, b = _surface(a_type, m.group(1)), _surface(b_type, m.group(2))
        acc.end(a_type, a, off, sent, **(a_extra(b, sent) if a_extra else {}))
        acc.end(b_type, b, off, sent, **(b_extra(a, sent) if b_extra else {}))
        if reverse:
            acc.rel(pred, b_end, b, a_end, a, context=sent)
        else:
            acc.rel(pred, a_end, a, b_end, b, context=sent)
        if sets_band:
            acc.last_band = a

    return emit


def _key_chars(other: str, sent: str) -> dict:
    return {"key_characteristics": sent}


def _search_formed(sent: str) -> Optional[re.Match]:
    return P_FORMED_DATE.search(sent) or P_FORMED.search(sent)


def _formed(acc: _Acc, m: re.Match, sent: str, off: int) -> None:
    band, city, region_or_country, year = m.group(1), m.group(2), m.group(3), int(m.group(4))
    role, person = m.group(5), m.group(6)
    is_dated = m.re is P_FORMED_DATE
    region = region_or_country if is_dated else None
    country = None if is_dated else region_or_country
    acc.end("bands", band, off, sent, formed_year=year, origin_city=city,
            origin_country=country)
    acc.end("locations", city, off, sent, region=region, country=country or "")
    acc.rel("FORMED_IN", "band", band, "location", city, year=year, context=sent)
    if person:
        acc.end("people", person, off, sent, instruments=[INSTRUMENT_BY_ROLE[role]],
                associated_bands=[band])
        acc.rel("MEMBER_OF", "person", person, "band", band,
                year=year, role=role, context=sent)
    acc.last_band = band


def _consisted(acc: _Acc, m: re.Match, sent: str, off: int) -> None:
    if not acc.last_band:
        return
    for item in P_LIST_SPLIT.split(m.group(1)):
        im = P_MEMBER_ITEM.search(item)
        if im:
            person, instrument = im.group(1), im.group(2)
            acc.end("people", person, off, sent, instruments=[instrument],
                    associated_bands=[acc.last_band])
            acc.rel("MEMBER_OF", "person", person, "band", acc.last_band,
                    role=ROLE_BY_INSTRUMENT[instrument], context=sent)


def _released(acc: _Acc, m: re.Match, sent: str, off: int) -> None:
    band, title, year = m.group(1), m.group(2), int(m.group(3))
    acc.end("bands", band, off, sent)
    acc.end("albums", title, off, sent, artist=band, release_year=year, description=sent)
    acc.rel("RELEASED", "band", band, "album", title, year=year, context=sent)
    acc.last_band, acc.last_album = band, title


def _self_titled(acc: _Acc, m: re.Match, sent: str, off: int) -> None:
    if not acc.last_band:
        return
    title, year = m.group(1), int(m.group(2))
    acc.end("albums", title, off, sent, artist=acc.last_band, release_year=year,
            description=sent)
    acc.rel("RELEASED", "band", acc.last_band, "album", title, year=year, context=sent)
    acc.last_album = title


def _movement(acc: _Acc, m: re.Match, sent: str, off: int) -> None:
    movement, decade = m.group(1), int(m.group(3))
    bands = [b.strip() for b in P_LIST_SPLIT.split(m.group(4)) if b.strip()]
    acc.end("movements", movement, off, sent, start_year=decade, key_bands=bands)
    for b in bands:
        acc.end("bands", b, off, sent)
        acc.rel("PART_OF_MOVEMENT", "band", b, "movement", movement, context=sent)


def _left(acc: _Acc, m: re.Match, sent: str, off: int) -> None:
    year, person, band = int(m.group(1)), m.group(2), m.group(3)
    acc.end("people", person, off, sent, associated_bands=[band])
    acc.end("bands", band, off, sent)
    acc.end("events", f"{person} leaves {band}", off, sent, date=str(year), type="other")
    acc.rel("MEMBER_OF", "person", person, "band", band, year=year, context=sent)
    acc.last_band, acc.last_year = band, year


def _replaced(acc: _Acc, m: re.Match, sent: str, off: int) -> None:
    if not acc.last_band:
        return
    person, former_band = m.group(1), m.group(2)
    bands = [acc.last_band] + ([former_band] if former_band else [])
    acc.end("people", person, off, sent, associated_bands=bands)
    acc.rel("MEMBER_OF", "person", person, "band", acc.last_band,
            year=acc.last_year, context=sent)
    if former_band:
        acc.end("bands", former_band, off, sent)
        acc.rel("MEMBER_OF", "person", person, "band", former_band, context=sent)


def _track(acc: _Acc, m: re.Match, sent: str, off: int) -> None:
    album, song = m.group(1), m.group(2)
    artist = acc.last_band if album == acc.last_album else None
    acc.end("albums", album, off, sent)
    acc.end("songs", song, off, sent, album=album, artist=artist)
    acc.rel("CONTAINS_TRACK", "album", album, "song", song, context=sent)


def _performed(acc: _Acc, m: re.Match, sent: str, off: int) -> None:
    person, album, instrument = m.group(1), m.group(2), m.group(3)
    acc.end("people", person, off, sent, instruments=[instrument])
    acc.end("albums", album, off, sent)
    # reference PERFORMED_ON(Person→Album, instruments[]),
    # initialize_kuzu.py:184; instruments land in props.role
    acc.rel("PERFORMED_ON", "person", person, "album", album,
            role=instrument, context=sent)


def _originated(acc: _Acc, m: re.Match, sent: str, off: int) -> None:
    genre, city, country = _surface("subgenres", m.group(1)), m.group(2), m.group(3)
    acc.end("subgenres", genre, off, sent, key_characteristics=sent)
    acc.end("locations", city, off, sent, country=country or "")
    acc.rel("ORIGINATED_IN", "subgenre", genre, "location", city, context=sent)


#: The sentence patterns, in emit order. The gate is a lowercase literal
#: each row's regex REQUIRES, so skipping the search when it is absent
#: from the lowercased sentence is a pure necessary-condition prune
#: (measured ~1,450 regex searches/chunk -> ~100). Predicates cite the
#: reference schema: base whitelist rel tables initialize_kuzu.py:167-220,
#: enhanced ones metal_history_schema_enhanced.cypher:104-198.
RULES = [
    ("formed in", _search_formed, _formed),
    ("consist", P_CONSISTED.search, _consisted),
    ("released", P_RELEASED.search, _released),
    ("self-titled", P_SELF_TITLED.search, _self_titled),
    ("was recorded at", P_RECORDED_AT.search, _pair(
        "RECORDED_AT", "albums", "studios",
        a_extra=lambda b, s: {"description": s, "studio": b})),
    ("was released by", P_RELEASED_BY.search, _pair(
        "RELEASED_BY", "albums", "labels",
        a_extra=lambda b, s: {"description": s, "label": b})),
    (" plays ", P_PLAYS.search, _pair(
        "PLAYS_GENRE", "bands", "subgenres", b_extra=_key_chars, sets_band=True)),
    ("influenced by", P_INFLUENCED.search, _pair("INFLUENCED_BY", "bands", "bands")),
    ("movement began in", P_MOVEMENT.search, _movement),
    (" left ", P_LEFT.search, _left),
    ("replaced by", P_REPLACED.search, _replaced),
    ("was active during", P_ACTIVE_DURING.search, _pair("ACTIVE_DURING", "bands", "eras")),
    ("emerged during", P_EMERGED_DURING.search, _pair("EMERGED_DURING", "subgenres", "eras")),
    ("was documented in", P_DOCUMENTED_IN.search,
     _pair("DOCUMENTED_IN", "bands", "media_outlets")),
    ("was featured in", P_FEATURED_IN.search, _pair("FEATURED_IN", "albums", "media_outlets")),
    ("participated in", P_PARTICIPATED.search, _pair("PARTICIPATED_IN", "bands", "events")),
    ("heavily shaped", P_INFLUENCED_EVENT.search, _pair("INFLUENCED_EVENT", "bands", "events")),
    ("is defined by", P_HAS_CHAR.search,
     _pair("HAS_CHARACTERISTIC", "subgenres", "characteristics")),
    (" uses ", P_USES_TECH.search, _pair("USES_TECHNIQUE", "bands", "characteristics")),
    ("showcases", P_ALBUM_FEAT.search, _pair("ALBUM_FEATURES", "albums", "characteristics")),
    ("was produced by", P_PRODUCED_BY.search,
     _pair("PRODUCED", "albums", "people", reverse=True)),
    ("represents", P_REPRESENTS.search, _pair("REPRESENTS_GENRE", "albums", "subgenres")),
    ("scene spawned", P_SCENE_SPAWNED.search, _pair("SCENE_SPAWNED", "locations", "bands")),
    ("scene developed", P_SCENE_DEVELOPED.search,
     _pair("SCENE_DEVELOPED", "locations", "subgenres")),
    ("cited", P_CITED.search, _pair("CITATION", "bands", "albums")),
    ("went viral", P_WENT_VIRAL.search, _pair("WENT_VIRAL", "songs", "viral_phenomena")),
    ("recorded with the", P_EQUIPMENT.search, _pair("USES_EQUIPMENT", "bands", "equipment")),
    ("played at", P_VENUE.search, _pair("VENUE_HOSTED", "bands", "venues", reverse=True)),
    ("was promoted on", P_PLATFORM.search, _pair("PROMOTED_ON", "bands", "platforms")),
    ("was produced with the", P_PRODSTYLE.search,
     _pair("PRODUCED_WITH_STYLE", "albums", "production_styles")),
    ("features the track", P_TRACK.search, _track),
    ("performed on", P_PERFORMED.search, _performed),
    ("were contemporaries", P_CONTEMP.search, _pair("CONTEMPORARY_OF", "bands", "bands")),
    ("mentioned alongside", P_MENTIONED.search, _pair("MENTIONED_WITH", "bands", "bands")),
    ("originated in", P_ORIGINATED.search, _originated),
    ("evolved into", P_EVOLVED.search, _pair(
        "EVOLVED_INTO", "subgenres", "subgenres", a_extra=_key_chars, b_extra=_key_chars)),
]


def extract_from_text(text: str) -> tuple[list[dict], list[dict]]:
    """Extract mentions + relationships from one chunk's text.

    Returns ``(mentions, relationships)`` where each mention is
    ``{entity_type, name, mention_index, confidence, **schema attrs}``.
    Deterministic: order = first occurrence offset, then (type, name).
    """
    acc = _Acc()
    chunk_tokens = {t.lower() for t in re.findall(r"[\w'öäü&.-]+", text)}

    for s_off, sent in split_sentences(text):
        sent = sent.strip()
        if not sent:
            continue
        s_low = sent.lower()
        for gate, search, emit in RULES:
            if gate in s_low:
                m = search(sent)
                if m:
                    emit(acc, m, sent, s_off)

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
        acc.add("subgenres", _surface("subgenres", m.group(0)), m.start())

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
