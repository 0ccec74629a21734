"""Extraction contract on the reference ground-truth fixture texts
(tests/fixtures/ground_truth_data.json:9-231, embedded in
sources/corpus.py as pages 0-4)."""

from metal_history_knowledge_graph_spark.functions.patterns import extract_from_text
from metal_history_knowledge_graph_spark.sources.corpus import FIXTURE_TEXTS


def _rels(text):
    _, rels = extract_from_text(text)
    return {(r["type"], r["from_entity_name"], r["to_entity_name"]) for r in rels}


def _mentions(text):
    mentions, _ = extract_from_text(text)
    return mentions


def test_fixture_001_black_sabbath():
    text = FIXTURE_TEXTS[0][0]
    mentions = _mentions(text)
    bands = [m for m in mentions if m["entity_type"] == "bands"]
    people = [m for m in mentions if m["entity_type"] == "people"]
    assert [b["name"] for b in bands] == ["Black Sabbath"]
    assert bands[0]["formed_year"] == 1968
    assert bands[0]["origin_city"] == "Birmingham"
    assert bands[0]["origin_country"] == "England"
    assert {p["name"] for p in people} == {
        "Tony Iommi", "Geezer Butler", "Bill Ward", "Ozzy Osbourne"
    }
    rels = _rels(text)
    for person, _role in [("Tony Iommi", "guitarist"), ("Geezer Butler", "bassist"),
                          ("Bill Ward", "drummer"), ("Ozzy Osbourne", "vocalist")]:
        assert ("MEMBER_OF", person, "Black Sabbath") in rels


def test_fixture_002_iron_maiden():
    text = FIXTURE_TEXTS[1][0]
    rels = _rels(text)
    assert ("MEMBER_OF", "Steve Harris", "Iron Maiden") in rels
    assert ("RELEASED", "Iron Maiden", "Iron Maiden") in rels
    mentions = _mentions(text)
    albums = [m for m in mentions if m["entity_type"] == "albums"]
    assert any(a["title"] == "Iron Maiden" and a["release_year"] == 1980 for a in albums)


def test_fixture_003_metallica():
    rels = _rels(FIXTURE_TEXTS[2][0])
    assert ("RELEASED", "Metallica", "Master of Puppets") in rels
    mentions = _mentions(FIXTURE_TEXTS[2][0])
    assert any(m["entity_type"] == "subgenres" and m["name"] == "thrash metal"
               for m in mentions)


def test_fixture_004_nwobhm():
    rels = _rels(FIXTURE_TEXTS[3][0])
    for band in ("Iron Maiden", "Def Leppard", "Saxon"):
        assert ("PART_OF_MOVEMENT", band, "New Wave of British Heavy Metal") in rels


def test_fixture_005_lineup_change():
    rels = _rels(FIXTURE_TEXTS[4][0])
    assert ("MEMBER_OF", "Ozzy Osbourne", "Black Sabbath") in rels
    assert ("MEMBER_OF", "Ronnie James Dio", "Black Sabbath") in rels
    assert ("MEMBER_OF", "Ronnie James Dio", "Rainbow") in rels
    mentions = _mentions(FIXTURE_TEXTS[4][0])
    assert sum(1 for m in mentions if m["entity_type"] == "events") == 1


def test_misspelled_surface_is_kept_not_corrected():
    mentions, rels = extract_from_text(
        "Black Sabath formed in Birmingham, England in 1968."
    )
    bands = [m for m in mentions if m["entity_type"] == "bands"]
    assert bands[0]["name"] == "Black Sabath"
    assert bands[0]["linked_name"] is None  # novel form → fuzzy canon path


def test_alias_linking():
    mentions, _ = extract_from_text("Sabbath released 'Paranoid' in 1970.")
    bands = [m for m in mentions if m["entity_type"] == "bands"]
    assert bands[0]["name"] == "Sabbath"
    assert bands[0]["linked_name"] == "Black Sabbath"


def test_uppercase_variant_links():
    mentions, _ = extract_from_text("Fans of BLACK SABBATH gathered in Birmingham.")
    bands = [m for m in mentions if m["entity_type"] == "bands"]
    assert bands and bands[0]["linked_name"] == "Black Sabbath"


def test_confidence_bounds_and_signal():
    m_high, _ = extract_from_text(
        "Black Sabbath formed in Birmingham, England in 1968."
    )
    m_low, _ = extract_from_text(
        "Some say Black Sabbath allegedly may have invented something, "
        "though it is disputed and unclear."
    )
    high = [m for m in m_high if m["entity_type"] == "bands"][0]["confidence"]
    low = [m for m in m_low if m["entity_type"] == "bands"][0]["confidence"]
    assert 0.0 <= low < high <= 1.0


# --- songs + co-occurrence predicates (VERDICT r01 item 2) ----------------

_SONG_TEXT = (
    "Metallica released 'Master of Puppets' in 1986. "
    "'Master of Puppets' features the track 'Battery'. "
    "Lars Ulrich performed on 'Master of Puppets' playing drums. "
    "Metallica and Slayer were contemporaries. "
    "Megadeth was often mentioned alongside Metallica in the press."
)


def test_song_track_extraction():
    mentions = _mentions(_SONG_TEXT)
    songs = [m for m in mentions if m["entity_type"] == "songs"]
    assert [s["name"] for s in songs] == ["Battery"]
    # song schema per reference prompts.py:44-50: title/artist/album
    assert songs[0]["album"] == "Master of Puppets"
    assert songs[0]["artist"] == "Metallica"
    rels = _rels(_SONG_TEXT)
    assert ("CONTAINS_TRACK", "Master of Puppets", "Battery") in rels


def test_performed_on_extraction():
    _, rels = extract_from_text(_SONG_TEXT)
    perf = [r for r in rels if r["type"] == "PERFORMED_ON"]
    assert len(perf) == 1
    assert perf[0]["from_entity_name"] == "Lars Ulrich"
    assert perf[0]["to_entity_name"] == "Master of Puppets"
    assert perf[0]["role"] == "drums"


def test_cooccurrence_extraction():
    rels = _rels(_SONG_TEXT)
    assert ("CONTEMPORARY_OF", "Metallica", "Slayer") in rels
    assert ("MENTIONED_WITH", "Megadeth", "Metallica") in rels


def test_enhanced_family_extraction():
    text = ("Slayer recorded with the Boss HM-2. "
            "Slayer played at Ruthie's Inn. "
            "Metallica was promoted on MTV. "
            "'Reign in Blood' was produced with the scooped mids sound.")
    mentions = _mentions(text)
    by_type = {m["entity_type"]: m for m in mentions}
    assert by_type["equipment"]["name"] == "Boss HM-2"
    assert by_type["equipment"]["manufacturer"] == "Boss"
    assert by_type["venues"]["name"] == "Ruthie's Inn"
    assert by_type["venues"]["location"] == "Berkeley"
    assert by_type["platforms"]["name"] == "MTV"
    assert by_type["production_styles"]["name"] == "scooped mids"
    rels = _rels(text)
    assert ("USES_EQUIPMENT", "Slayer", "Boss HM-2") in rels
    assert ("VENUE_HOSTED", "Ruthie's Inn", "Slayer") in rels
    assert ("PROMOTED_ON", "Metallica", "MTV") in rels
    assert ("PRODUCED_WITH_STYLE", "Reign in Blood", "scooped mids") in rels


def test_full_base_whitelist_extraction():
    """Every remaining base-whitelist predicate has a working pattern
    (initialize_kuzu.py:167-220 rel tables, complete coverage)."""
    text = ("Metallica was active during the Thrash Era. "
            "In time thrash metal emerged during the Thrash Era. "
            "Metallica was documented in Kerrang!. "
            "'Master of Puppets' was featured in Metal Hammer. "
            "Metallica participated in Monsters of Rock. "
            "Slayer heavily shaped Clash of the Titans. "
            "Typically death metal is defined by blast beats. "
            "Death uses tremolo picking. "
            "'Reign in Blood' showcases blast beats. "
            "'Master of Puppets' was produced by Flemming Rasmussen. "
            "'Reign in Blood' represents thrash metal. "
            "The Birmingham scene spawned Black Sabbath. "
            "The Tampa scene developed death metal. "
            "Pantera cited 'Paranoid' as a formative record. "
            "'Battery' went viral through the speedup remix trend.")
    rels = _rels(text)
    expected = {
        ("ACTIVE_DURING", "Metallica", "Thrash Era"),
        ("EMERGED_DURING", "thrash metal", "Thrash Era"),
        ("DOCUMENTED_IN", "Metallica", "Kerrang!"),
        ("FEATURED_IN", "Master of Puppets", "Metal Hammer"),
        ("PARTICIPATED_IN", "Metallica", "Monsters of Rock"),
        ("INFLUENCED_EVENT", "Slayer", "Clash of the Titans"),
        ("HAS_CHARACTERISTIC", "death metal", "blast beats"),
        ("USES_TECHNIQUE", "Death", "tremolo picking"),
        ("ALBUM_FEATURES", "Reign in Blood", "blast beats"),
        ("PRODUCED", "Flemming Rasmussen", "Master of Puppets"),
        ("REPRESENTS_GENRE", "Reign in Blood", "thrash metal"),
        ("SCENE_SPAWNED", "Birmingham", "Black Sabbath"),
        ("SCENE_DEVELOPED", "Tampa", "death metal"),
        ("CITATION", "Pantera", "Paranoid"),
        ("WENT_VIRAL", "Battery", "speedup remix trend"),
    }
    assert expected <= rels


def test_all_base_predicates_emittable():
    """Every rule of the pattern bank fires on the default corpus: the
    chunks of its first 50 pages carry every predicate of the
    reference's 27-predicate base whitelist (load_to_kuzu.py:813-821)
    and every enhanced-schema predicate the engine emits."""
    from metal_history_knowledge_graph_spark.functions.chunker import split_text
    from metal_history_knowledge_graph_spark.operators.triples import (
        BASE_PREDICATES,
        ENHANCED_PREDICATES,
    )
    from metal_history_knowledge_graph_spark.sources.corpus import build_page

    emitted = set()
    for i in range(50):
        page = build_page(i, 42, "default")
        for chunk in split_text(page["text"], page["url"]):
            emitted |= {r["type"] for r in extract_from_text(chunk["text"])[1]}
    missing = set(BASE_PREDICATES + ENHANCED_PREDICATES) - emitted
    assert not missing, f"predicates no extraction rule emitted: {missing}"
