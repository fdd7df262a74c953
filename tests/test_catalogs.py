"""Per-catalog extraction flavors (sources/catalogs.py) vs hand-computed
reference semantics (discogs/imdb/musicbrainz dump extractors)."""

from __future__ import annotations

import datetime
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from soweego_spark.sources import catalogs as cat


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="soweego-cat-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


DISCOGS_ARTISTS_XML = """<?xml version="1.0"?>
<artists>
  <artist>
    <id>d1</id><name>Liza Mïnelli</name>
    <realname>Liza May Minnelli</realname>
    <data_quality>Correct</data_quality>
    <profile>American actress and singer.</profile>
    <namevariations><name>L. Minnelli</name><name></name></namevariations>
    <urls><url>https://en.wikipedia.org/wiki/Liza_Minnelli</url>
          <url>not a url</url></urls>
    <groups><name>Some Group</name></groups>
  </artist>
  <artist>
    <id>d2</id><name>The Byrds</name>
    <data_quality>Needs Vote</data_quality>
    <members><name>Roger McGuinn</name></members>
  </artist>
  <artist>
    <id>d3</id><name></name>
  </artist>
  <artist>
    <name>No Id</name><groups><name>g</name></groups>
  </artist>
  <artist>
    <id>d5</id><name>Neither Tag</name>
  </artist>
</artists>
"""

DISCOGS_MASTERS_XML = """<?xml version="1.0"?>
<masters>
  <master id="m1">
    <main_release>r9</main_release>
    <title>Cabaret: Original Soundtrack</title>
    <data_quality>CORRECT</data_quality>
    <year>1972</year>
    <genres><genre>Stage &amp; Screen</genre></genres>
    <styles><style>Musical</style><style>Soundtrack</style></styles>
    <artists><artist><id>d1</id></artist><artist><id>d2</id></artist></artists>
  </master>
  <master id="m2">
    <title>Unknown Year</title>
    <year>197?</year>
  </master>
</masters>
"""


def test_discogs_artist_tables_semantics(spark, tmpdir):
    """End-to-end through the S2 XML reader: musician-vs-band split,
    required-field skips, name variations, NLP rows, link cleaning —
    reference discogs_dump_extractor.py:212-305,405-514."""
    from soweego_spark.sources.readers import read_xml

    with open(f"{tmpdir}/artists.xml", "w") as fh:
        fh.write(DISCOGS_ARTISTS_XML)
    raw = read_xml(
        spark, f"{tmpdir}/artists.xml", "artist",
        schema=cat.DISCOGS_ARTIST_SCHEMA,
    )
    t = cat.discogs_artist_tables(raw)

    mus = {(r["catalog_id"], r["name"]): r for r in t["musicians"].collect()}
    # d1 main row + its one non-empty variation; d3 (empty name -> NULL in
    # the XML source), the id-less row, and d5 (no groups/members) skipped
    assert set(mus) == {("d1", "Liza Mïnelli"), ("d1", "L. Minnelli")}
    main = mus[("d1", "Liza Mïnelli")]
    # tokenize: ASCII-fold + lowercase + name stopwords, sorted join
    assert main["name_tokens"] == "liza minelli"
    assert main["real_name"] == "Liza May Minnelli"
    assert main["data_quality"] == "Correct"
    var = mus[("d1", "L. Minnelli")]
    assert var["real_name"] == "Liza May Minnelli"  # inherited
    assert var["name_tokens"] == "minnelli"

    bands = {r["catalog_id"]: r for r in t["bands"].collect()}
    assert set(bands) == {"d2"}
    assert bands["d2"]["name_tokens"] == "byrds"

    nlp = t["musician_nlp"].collect()
    assert len(nlp) == 1 and nlp[0]["catalog_id"] == "d1"
    assert nlp[0]["description"] == "American actress and singer."
    assert nlp[0]["description_tokens"] == "actress american singer"
    assert t["band_nlp"].count() == 0  # d2 has no profile

    links = t["musician_links"].collect()
    assert len(links) == 1  # 'not a url' fails validation
    assert links[0]["url"].startswith("https://en.wikipedia.org/")
    assert links[0]["is_wiki"] is True
    assert t["band_links"].count() == 0


def test_discogs_master_tables_semantics(spark, tmpdir):
    from soweego_spark.sources.readers import read_xml

    with open(f"{tmpdir}/masters.xml", "w") as fh:
        fh.write(DISCOGS_MASTERS_XML)
    raw = read_xml(
        spark, f"{tmpdir}/masters.xml", "master",
        schema=cat.DISCOGS_MASTER_SCHEMA,
    ).withColumnRenamed("_id", "id")
    t = cat.discogs_master_tables(raw)
    m = {r["catalog_id"]: r for r in t["masters"].collect()}
    assert set(m) == {"m1", "m2"}
    r = m["m1"]
    assert r["main_release_id"] == "r9"
    assert r["name_tokens"] == "cabaret original soundtrack"
    assert r["data_quality"] == "correct"
    # genres = sorted token UNION of genres+styles
    assert r["genres"] == "musical screen soundtrack stage"
    assert r["born"] == datetime.date(1972, 1, 1)
    assert r["born_precision"] == 9
    # invalid year -> no date (reference logs+skips)
    assert m["m2"]["born"] is None and m["m2"]["born_precision"] is None

    rels = {(r["master_catalog_id"], r["artist_catalog_id"])
            for r in t["master_artist_relationships"].collect()}
    assert rels == {("m1", "d1"), ("m1", "d2")}


def test_imdb_person_tables_semantics(spark):
    """Profession fan-out, misc-only -> all tables, gender, QID
    translation minus the table's implicit occupation, precision-9 dates,
    known-for edges — reference imdb_dump_extractor.py:170-398."""
    rows = [
        # actress + director + composer: 3 tables, female, both dates
        ("nm1", "Ida Lupino", "1918", "1995",
         "actress,director,composer", "tt1,tt2"),
        # writer only, no dates, no known-for
        ("nm2", "Anon Writer", None, None, "writer", None),
        # miscellaneous only -> ALL five tables
        ("nm3", "Misc Person", "1970", None, "miscellaneous", "tt9"),
        # no professions -> skipped everywhere
        ("nm4", "No Prof", "1970", None, None, None),
    ]
    people = spark.createDataFrame(
        rows,
        "nconst string, primaryName string, birthYear string, "
        "deathYear string, primaryProfession string, knownForTitles string",
    )
    t = cat.imdb_person_tables(people)

    actors = {r["catalog_id"]: r for r in t["actors"].collect()}
    assert set(actors) == {"nm1", "nm3"}
    a = actors["nm1"]
    assert a["gender"] == "female"
    assert a["born"] == datetime.date(1918, 1, 1) and a["born_precision"] == 9
    assert a["died"] == datetime.date(1995, 1, 1) and a["died_precision"] == 9
    # actress->Q33999 excluded (own table), director Q2526255 + composer
    # Q36834 remain, sorted
    assert a["occupations"] == "Q2526255 Q36834"
    # in the directors table, the director QID is the excluded one
    d = {r["catalog_id"]: r for r in t["directors"].collect()}["nm1"]
    assert d["occupations"] == "Q33999 Q36834"

    for table in cat.IMDB_PERSON_TABLES:
        ids = {r["catalog_id"] for r in t[table].collect()}
        assert "nm3" in ids, table     # misc-only lands everywhere
        assert "nm4" not in ids, table # no professions -> skipped
    # misc maps to no QID -> occupations '' (the reference's
    # unconditional ' '.join stores the empty string, not NULL)
    assert actors["nm3"]["occupations"] == ""
    assert actors["nm3"]["gender"] is None

    w = {r["catalog_id"]: r for r in t["writers"].collect()}["nm2"]
    assert w["born"] is None and w["born_precision"] is None
    assert w["occupations"] == ""  # writer QID excluded -> empty string

    rels = {(r["from_catalog_id"], r["to_catalog_id"])
            for r in t["person_movie_relationships"].collect()}
    assert rels == {("tt1", "nm1"), ("tt2", "nm1"), ("tt9", "nm3")}


def test_musicbrainz_artist_tables_semantics(spark):
    """Person/band type codes, date precision decoding, area joins,
    gender codes, alias denormalization — reference
    musicbrainz_dump_extractor.py:458-637."""
    artist = spark.createDataFrame(
        [
            # person, full birth date (prec 11), year-month death (10)
            ("1", "g-aaa", "Nina Simone", "1933", "2", "21",
             "2003", "4", None, "1", "2", "a1", "a2"),
            # band, year-only date (prec 9), unknown area
            ("2", "g-bbb", "The Byrds", "1964", None, None,
             None, None, None, "2", None, "zz", None),
            # character type counts as person; negative year -> no date
            ("3", "g-ccc", "Fictional", "-50", "1", "1",
             None, None, None, "4", "9", None, None),
            # type 3 (other) -> neither table
            ("4", "g-ddd", "Other Thing", None, None, None,
             None, None, None, "3", None, None, None),
        ],
        "id string, gid string, label string, b_year string, "
        "b_month string, b_day string, d_year string, d_month string, "
        "d_day string, type_id string, gender string, b_place string, "
        "d_place string",
    )
    alias = spark.createDataFrame(
        [("1", "Eunice Waymon"), ("2", None)],
        "parent_id string, label string",
    )
    area = spark.createDataFrame(
        [("a1", "Tryon"), ("a2", "Carry-le-Rouet")], "id string, name string"
    )
    t = cat.musicbrainz_artist_tables(artist, alias, area)

    persons = {(r["catalog_id"], r["name"]): r for r in t["artists"].collect()}
    assert set(persons) == {
        ("g-aaa", "Nina Simone"), ("g-aaa", "Eunice Waymon"),
        ("g-ccc", "Fictional"),
    }
    p = persons[("g-aaa", "Nina Simone")]
    assert p["born"] == datetime.date(1933, 2, 21)
    assert p["born_precision"] == 11
    assert p["died"] == datetime.date(2003, 4, 1)
    assert p["died_precision"] == 10
    assert p["gender"] == "female"
    assert p["birth_place"] == "tryon"
    assert p["death_place"] == "carry-le-rouet"
    al = persons[("g-aaa", "Eunice Waymon")]
    # alias inherits dates/places/gender, has its own tokens
    assert al["born"] == p["born"] and al["gender"] == "female"
    assert al["name_tokens"] == "eunice waymon"
    # negative year -> date suppressed entirely
    fic = persons[("g-ccc", "Fictional")]
    assert fic["born"] is None and fic["born_precision"] is None

    bands = {(r["catalog_id"], r["name"]): r for r in t["bands"].collect()}
    assert set(bands) == {("g-bbb", "The Byrds")}  # null alias skipped
    b = bands[("g-bbb", "The Byrds")]
    assert b["born"] == datetime.date(1964, 1, 1)
    assert b["born_precision"] == 9
    assert b["birth_place"] is None  # area id not in dimension
    assert "gender" not in t["bands"].columns


def test_musicbrainz_link_tables_semantics(spark):
    artist = spark.createDataFrame(
        [("1", "g-aaa", "1"), ("2", "g-bbb", "2")],
        "id string, gid string, type_id string",
    )
    l_artist_url = spark.createDataFrame(
        [("1", "u1"), ("2", "u2"), ("1", "u3"), ("2", "u3")],
        "entity_id string, url_id string",
    )
    url = spark.createDataFrame(
        [
            ("u1", "https://en.wikipedia.org/wiki/Nina_Simone"),
            ("u2", "https://www.thebyrds.example.com/home"),
            ("u3", "gibberish not a url"),
        ],
        "id string, url string",
    )
    t = cat.musicbrainz_link_tables(artist, l_artist_url, url)
    a_links = t["artist_links"].collect()
    assert len(a_links) == 1
    assert a_links[0]["catalog_id"] == "g-aaa"
    assert a_links[0]["is_wiki"] is True
    assert "wikipedia" in a_links[0]["url_tokens"]
    b_links = t["band_links"].collect()
    assert len(b_links) == 1 and b_links[0]["catalog_id"] == "g-bbb"
    assert b_links[0]["is_wiki"] is False


def test_musicbrainz_links_leave_shared_udf_deterministic(spark):
    """musicbrainz_link_tables needs a nondeterministic URL kernel; it must
    not get one by mutating the shared UDF, which every other caller
    (e.g. _link_table) relies on staying deterministic."""
    from soweego_spark.functions.urls import clean_and_validate

    artist = spark.createDataFrame(
        [("1", "g-aaa", "1")], "id string, gid string, type_id string"
    )
    l_artist_url = spark.createDataFrame(
        [("1", "u1")], "entity_id string, url_id string"
    )
    url = spark.createDataFrame(
        [("u1", "https://en.wikipedia.org/wiki/Nina_Simone")],
        "id string, url string",
    )
    t = cat.musicbrainz_link_tables(artist, l_artist_url, url)
    assert len(t["artist_links"].collect()) == 1
    # the wrapper's own attribute is a copy taken at creation; the UDF
    # object behind it is what plans are built from
    assert clean_and_validate._unwrapped.deterministic is True
    links = cat._link_table(url, "id", "url")
    assert links._jdf.queryExecution().analyzed().deterministic()
