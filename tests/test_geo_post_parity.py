"""Post-phase parity: run the REFERENCE's own SQL scripts (read from
/root/reference/src/post/ at test time — behavior oracle, not copied
code) in Python's sqlite3 against fixture tables, and compare against
geo_db_spark.plans.post_process on the same data.

Fixture data follows FIXTURES.md §1 generation properties (chains,
diamond, multi-depth paths, deep is_2nd ancestors, hyphenated codes,
dangling FKs) but is constructed so the reference's arbitrary-winner
spots have a unique winner. Two reference quirks are deliberately NOT
reproduced (documented divergences, see plans/geo_post.py):
- per_subdivision.sql's aggregate-in-UPDATE applies the label to ONE
  arbitrary city of a multi-city subdivision (and doubles the concat);
  we apply it to all. -> fixture: one city per subdivision.
- subdivision_labels_by_country.sql can overwrite an already-resolved
  sibling's label with NULL; we only fill NULLs.
Cycle termination is covered by unit tests (test_closure_unit.py), not
here — a cycle forces the reference CTE through all 100 levels, which
is pathological for per-level-job engines.
"""

from __future__ import annotations

import os
import sqlite3

import pytest

REF = "/root/reference/src"

# ---------------------------------------------------------------- fixtures

COUNTRIES = [("Q1", "aa"), ("Q2", "bb")]
LANGUAGES = [
    ("QLa", "alpha"),
    ("QLb", "beta"),
    ("QLh", "zh-hans"),  # hyphenated code -> family prefix match
    ("QLe", "eo"),
]
# (id, lang_id, lang_index): Q1 speaks alpha then zh-hans; Q2 beta;
# QT2 (a TE) speaks beta; QLX is a dangling FK (no languages row)
OBJECT_LANGUAGES = [
    ("Q1", "QLa", 0),
    ("Q1", "QLh", 1),
    ("Q2", "QLb", 0),
    ("QT2", "QLb", 0),
    ("QC6", "QLX", 0),
]
# TEs: QT1 (2nd, iso X-1) -> QT2 (2nd, deeper one wins) -> QT3 (not 2nd)
TERRITORIAL_ENTITIES = [
    ("QT1", 1, "X-1"),
    ("QT2", 1, "X-2"),
    ("QT3", 0, None),
    ("QT4", 0, None),
    ("QT5", 1, "X-5"),
    ("QT6", 0, None),
    ("QT7", 0, None),
    ("QT8", 1, "X-8"),
]
# edges child->parent: QC1->QT1->QT2->QT3; diamond QC2->{QT1,QT4};
# QC7 reaches QT5 (is_2nd) at BOTH step 1 and step 3 (multi-depth paths:
# the reference's all-paths CTE must pick step 3 as "deepest")
TE_PARENTS = [
    ("QC1", "QT1"),
    ("QT1", "QT2"),
    ("QT2", "QT3"),
    ("QC2", "QT4"),
    ("QT4", "QT8"),
    ("QT8", "QT3"),
    ("QC4", "QT3"),
    ("QC6", "QT3"),
    ("QC7", "QT5"),
    ("QC7", "QT6"),
    ("QT6", "QT7"),
    ("QT7", "QT5"),
]
# cities: QC1 (native labels), QC2 (resolved via ancestor languages),
# QC3 (no country -> deleted in cleanup), QC4 (label via country lang),
# QC5 (no labels at all -> deleted), QC6 (dangling lang FK, eo label)
CITIES = [
    ("QC1", None, 1000, 1.5, 2.5),
    ("QC2", None, 2000, None, None),
    ("QC3", None, 30, 3.0, 4.0),
    ("QC4", None, 40, None, None),
    ("QC5", None, 50, None, None),
    ("QC6", None, 60, None, None),
    ("QC7", None, 70, None, None),
]
CITIES_COUNTRIES = [
    ("QC1", 0, "Q1"),
    ("QC1", 1001, "Q2"),   # dated outranks undated
    ("QC2", 1000, "Q1"),
    ("QC3", 0, "QDEAD"),   # vanished country -> D1 delete -> city pruned
    ("QC4", 2, "Q1"),
    ("QC5", 0, "Q2"),
    ("QC6", 0, "Q2"),
    ("QC7", 0, "Q1"),
]
# object_labels (id, lang, native_order, label)
OBJECT_LABELS = [
    # QC1: two native labels + plain ones
    ("QC1", "alpha", 0, "CityOne"),
    ("QC1", "beta", 1, "StadtEins"),
    ("QC1", "alpha", None, "CityOne"),
    ("QC1", "eo", None, "UrboUnu"),
    # QC2: no native; label in zh-hans (family match vs ancestor lang zh-hans)
    ("QC2", "zh-hans", None, "ChengTwo"),
    # QT2 labels (ancestor of QC2 via QT1; speaks beta)
    ("QT2", "beta", None, "RegionTwo"),
    ("QC2", "beta", None, "StadtZwei"),
    # QC4: label only via country (Q1: alpha primary, zh-hans secondary)
    ("QC4", "alpha", None, "CityFour"),
    ("QC4", "zh-hant", None, "ChengFour"),  # family 'zh' matches zh-hans secondary
    # QC6: only eo label
    ("QC6", "eo", None, "UrboSes"),
    # QC7: native label; QT5 (its deep 2nd) has a beta label but no
    # languages -> subdivision label resolved via country fallback
    ("QC7", "alpha", 0, "CitySeven"),
    ("QT5", "alpha", None, "SubFive"),
    # subdivision labels for QT1 (it is not a city: per_subdivision path)
    ("QT1", "beta", None, "SubOne"),
    # QT8 (QC2's subdivision): no languages -> resolved via country fallback
    ("QT8", "alpha", None, "SubEight"),
]
MISSING_P17 = [("QM1",)]

# A subdivision that is also an unlabeled city: QT9 (is_2nd, parent QT3,
# speaks beta, one beta label) is its own 2nd (step 0) and QC8's, so
# both D6 walks seed it. Spark-side pin only: a two-city subdivision
# hits per_subdivision.sql's one-arbitrary-city quirk (module docstring).
SHARED_SUBDIVISION = {
    "territorial_entities": [("QT9", 1, "X-9")],
    "territorial_entities_parents": [("QC8", "QT9"), ("QT9", "QT3")],
    "object_languages": [("QT9", "QLb", 0)],
    "cities": [("QC8", None, 80, None, None), ("QT9", None, 90, None, None)],
    "cities_countries": [("QC8", 0, "Q1"), ("QT9", 0, "Q2")],
    "object_labels": [("QC8", "alpha", 0, "CityEight"), ("QT9", "beta", None, "SubNine")],
}


def _sqlite_oracle():
    conn = sqlite3.connect(":memory:")
    conn.executescript(open(f"{REF}/setup.sql").read())
    ins = conn.executemany
    ins("INSERT INTO countries VALUES (?,?)", COUNTRIES)
    ins("INSERT INTO languages VALUES (?,?)", LANGUAGES)
    ins("INSERT INTO object_languages VALUES (?,?,?)", OBJECT_LANGUAGES)
    ins("INSERT INTO territorial_entities VALUES (?,?,?)", TERRITORIAL_ENTITIES)
    ins("INSERT INTO territorial_entities_parents VALUES (?,?)", TE_PARENTS)
    ins("INSERT INTO cities (id, country, population, lat, lon) VALUES (?,?,?,?,?)", CITIES)
    ins("INSERT INTO cities_countries (city, priority, country) VALUES (?,?,?)", CITIES_COUNTRIES)
    ins("INSERT INTO object_labels (id, lang, native_order, label) VALUES (?,?,?,?)", OBJECT_LABELS)
    ins("INSERT INTO missing_p17 VALUES (?)", MISSING_P17)

    post = f"{REF}/post"
    conn.executescript(open(f"{post}/city_countries.sql").read())
    conn.executescript(open(f"{post}/find_subdivision.sql").read())
    conn.executescript(open(f"{post}/city_labels.sql").read())
    per_city = open(f"{post}/per_city.sql").read()
    for (cid,) in conn.execute(
        "SELECT id FROM cities WHERE native_label IS NULL"
    ).fetchall():
        conn.execute(per_city, (cid,))
    conn.executescript(open(f"{post}/city_labels_by_country.sql").read())
    conn.executescript(open(f"{post}/esperanto_city_labels.sql").read())
    conn.executescript(open(f"{post}/subdivision_labels.sql").read())
    per_sub = open(f"{post}/per_subdivision.sql").read()
    for (sid,) in conn.execute(
        'SELECT DISTINCT "2nd_id" FROM cities WHERE "2nd_native_label" IS NULL AND "2nd_id" IS NOT NULL'
    ).fetchall():
        conn.execute(per_sub, (sid,))
    conn.executescript(open(f"{post}/subdivision_labels_by_country.sql").read())
    conn.executescript(open(f"{post}/esperanto_subdivision_labels.sql").read())
    conn.executescript(open(f"{post}/subdivision_iso.sql").read())
    for i in range(1, 10):
        conn.executescript(open(f"{post}/cleanup/{i:02}.sql").read())

    cities = conn.execute(
        'SELECT id, country, population, lat, lon, "2nd_id", native_label, '
        'eo_label, "2nd_native_label", "2nd_eo_label", "2nd_iso" FROM cities'
    ).fetchall()
    labels = conn.execute("SELECT id, lang, label FROM cities_labels").fetchall()
    langs = conn.execute("SELECT id, lang, lang_index FROM cities_languages").fetchall()
    conn.close()
    return sorted(cities), sorted(labels), sorted(langs)


def _spark_tables(spark, extra=None):
    """The fixture as Spark tables; ``extra`` maps table name -> rows
    appended to that table's fixture rows."""
    rows = lambda name, base: base + (extra or {}).get(name, [])  # noqa: E731
    mk = spark.createDataFrame
    return {
        "countries": mk(COUNTRIES, "id string, iso string"),
        "languages": mk(LANGUAGES, "id string, code string"),
        "object_languages": mk(
            rows("object_languages", OBJECT_LANGUAGES), "id string, lang_id string, lang_index int"
        ),
        "territorial_entities": mk(
            [(i, bool(b), iso) for i, b, iso in rows("territorial_entities", TERRITORIAL_ENTITIES)],
            "id string, is_2nd boolean, iso string",
        ),
        "territorial_entities_parents": mk(
            rows("territorial_entities_parents", TE_PARENTS), "id string, parent string"
        ),
        "cities": mk(
            [(i, p, la, lo) for i, _c, p, la, lo in rows("cities", CITIES)],
            "id string, population long, lat double, lon double",
        ),
        "cities_countries": mk(
            rows("cities_countries", CITIES_COUNTRIES), "city string, priority int, country string"
        ),
        "object_labels": mk(
            rows("object_labels", OBJECT_LABELS), "id string, lang string, native_order int, label string"
        ),
        "missing_p17": mk(MISSING_P17, "id string"),
    }


def _sorted_outputs(outs):
    cities = sorted(
        tuple(r)
        for r in outs["cities"]
        .select(
            "id", "country", "population", "lat", "lon", "2nd_id",
            "native_label", "eo_label", "2nd_native_label", "2nd_eo_label", "2nd_iso",
        )
        .collect()
    )
    labels = sorted(tuple(r) for r in outs["cities_labels"].collect())
    langs = sorted(tuple(r) for r in outs["cities_languages"].collect())
    return cities, labels, langs


@pytest.mark.slow
@pytest.mark.skipif(
    not os.path.isdir(REF), reason=f"reference SQL checkout missing: {REF}"
)
def test_post_parity_with_reference_sql(spark):
    from geo_db_spark.plans.geo_post import post_process

    o_cities, o_labels, o_langs = _sqlite_oracle()

    s_cities, s_labels, s_langs = _sorted_outputs(post_process(_spark_tables(spark)))

    assert s_cities == o_cities
    assert s_labels == o_labels
    assert s_langs == o_langs


# post_process on the fixture plus SHARED_SUBDIVISION. Covers the diamond
# (QC2 -> QT8), multi-depth paths (QC7 -> QT5 at step 3), the
# per_subdivision fallback (QT8, QT5), and QT9 resolved by both D6 walks.
PIN_CITIES = [
    ("QC1", "aa", 1000, 1.5, 2.5, "QT2", "CityOne / StadtEins", "UrboUnu", "RegionTwo", None, "X-2"),
    ("QC2", "aa", 2000, None, None, "QT8", "ChengTwo", None, "SubEight", None, "X-8"),
    ("QC4", "aa", 40, None, None, None, "CityFour / ChengFour", None, None, None, None),
    ("QC6", "bb", 60, None, None, None, None, "UrboSes", None, None, None),
    ("QC7", "aa", 70, None, None, "QT5", "CitySeven", None, "SubFive", None, "X-5"),
    ("QC8", "aa", 80, None, None, "QT9", "CityEight", None, "SubNine", None, "X-9"),
    ("QT9", "bb", 90, None, None, "QT9", "SubNine", None, "SubNine", None, "X-9"),
]
PIN_LABELS = [
    ("QC1", "alpha", "CityOne"),
    ("QC1", "beta", "StadtEins"),
    ("QC1", "eo", "UrboUnu"),
    ("QC2", "beta", "StadtZwei"),
    ("QC2", "zh-hans", "ChengTwo"),
    ("QC4", "alpha", "CityFour"),
    ("QC4", "zh-hant", "ChengFour"),
    ("QC6", "eo", "UrboSes"),
    ("QC7", "alpha", "CitySeven"),
    ("QC8", "alpha", "CityEight"),
    ("QT9", "beta", "SubNine"),
]
PIN_LANGS = [("QT9", "beta", 0)]


def test_post_process_fixture_pin(spark):
    """Exact outputs on the fixture, with no reference checkout needed."""
    from geo_db_spark.plans.geo_post import post_process

    cities, labels, langs = _sorted_outputs(
        post_process(_spark_tables(spark, SHARED_SUBDIVISION))
    )
    assert cities == PIN_CITIES
    assert labels == PIN_LABELS
    assert langs == PIN_LANGS
