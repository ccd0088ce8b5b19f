"""End-to-end golden test: mini-dump (raw JSON-array framing, bz2) ->
build_geo_db -> final cities table (FIXTURES.md §2 'End-to-end')."""

from __future__ import annotations

import pytest

import bz2
import json

from tests.fixtures_wikidata import (
    CLASS_SETS,
    entity,
    entity_stmt,
    labels_map,
    q_time,
    stmt,
)


def _mini_dump() -> list[str]:
    """A small country/TE/city world:

    QK1 country (iso 'aa', speaks QLL1=alpha) — QK2 country (iso 'bb')
    QS1 state (TE, 2nd, iso AA-1) <- QD1 district (TE) <- QV1 city
    QV1: dated country QK1, population, native label; QV2: labels only
    via ancestor language (state speaks QLL2=beta, district none);
    QLL1/QLL2 language entities.
    """
    docs = [
        entity(
            "QK1",
            {
                "P297": [stmt("AA", q_time("P580", "+1990-01-01T00:00:00Z"))],
                "P37": [entity_stmt("QLL1")],
            },
            labels_map(en="Kingdom One"),
        ),
        entity("QK2", {"P297": [stmt("BB")]}, labels_map(en="Kingdom Two")),
        entity(
            "QS1",
            {
                "P31": [entity_stmt("QTE"), entity_stmt("Q2ND")],
                "P300": [stmt("AA-1")],
                "P37": [entity_stmt("QLL2")],
                "P131": [entity_stmt("QK1")],
            },
            labels_map(en="State One", beta="Stato Unu"),
        ),
        entity(
            "QD1",
            {"P31": [entity_stmt("QTE")], "P131": [entity_stmt("QS1")]},
            labels_map(en="District One"),
        ),
        entity(
            "QV1",
            {
                "P31": [entity_stmt("QCITY")],
                "P17": [entity_stmt("QK1", q_time("P580", "+1995-01-01T00:00:00Z"))],
                "P131": [entity_stmt("QD1")],
                "P1082": [
                    stmt({"amount": "+12,345", "unit": "1"}, q_time("P585", "+2020-01-01T00:00:00Z"))
                ],
                "P625": [stmt({"latitude": 10.5, "longitude": 20.25})],
                "P1705": [stmt({"language": "alpha", "text": "Vilo Unu"})],
            },
            labels_map(en="Ville One", eo="Urbo Unu"),
        ),
        entity(
            "QV2",
            {
                "P31": [entity_stmt("QCITY")],
                "P17": [entity_stmt("QK1")],
                "P131": [entity_stmt("QD1")],
            },
            labels_map(beta="Stadt Du", en="Ville Two"),
        ),
        # city of a vanished country -> pruned in cleanup
        entity(
            "QV3",
            {"P31": [entity_stmt("QCITY")], "P17": [entity_stmt("QGONE")]},
            labels_map(en="Ghost Town"),
        ),
        entity("QLL1", {"P31": [entity_stmt("QLANG")], "P424": [stmt("alpha")]}),
        entity("QLL2", {"P31": [entity_stmt("QLANG")], "P424": [stmt("beta")]}),
    ]
    return docs


@pytest.mark.slow
def test_build_geo_db_from_bz2_dump(spark, tmp_path):
    from geo_db_spark.pipeline import build_geo_db

    docs = _mini_dump()
    raw = "[\n" + ",\n".join(docs) + "\n]\n"
    dump = tmp_path / "dump.json.bz2"
    dump.write_bytes(bz2.compress(raw.encode()))

    finals = build_geo_db(
        spark, str(dump), CLASS_SETS, out_dir=str(tmp_path / "db")
    )
    cities = {r["id"]: r.asDict() for r in finals["cities"].collect()}

    assert set(cities) == {"QV1", "QV2"}  # QV3 pruned with its country
    v1 = cities["QV1"]
    assert v1 == {
        "id": "QV1",
        "country": "aa",  # lowercased iso, rewritten from QK1
        "population": 12345,  # thousands separators stripped
        "lat": 10.5,
        "lon": 20.25,
        "2nd_id": "QS1",  # deepest is_2nd ancestor via QD1
        "native_label": "Vilo Unu",  # P1705 native label
        "eo_label": "Urbo Unu",
        "2nd_native_label": "Stato Unu",  # state's beta label via its language
        "2nd_eo_label": "State One",  # en is in the eo-candidate set
        "2nd_iso": "AA-1",
    }
    v2 = cities["QV2"]
    # no native label; resolved via ancestor languages: district none,
    # state speaks beta -> QV2's beta label
    assert v2["native_label"] == "Stadt Du"
    assert v2["2nd_id"] == "QS1"

    labels = {(r["id"], r["lang"]): r["label"] for r in finals["cities_labels"].collect()}
    assert labels[("QV1", "en")] == "Ville One"
    assert labels[("QV1", "alpha")] == "Vilo Unu"
    # languages table only holds rows for surviving cities; our cities
    # have no own languages -> empty
    assert finals["cities_languages"].count() == 0


def test_ingest_leaves_nothing_cached(spark, tmp_path):
    """ingest(out_dir=...) and a finished stream_ingest cache their parse
    and flagged frame only while they write (each call, each batch)."""
    from geo_db_spark.pipeline import ingest, stream_ingest

    docs = _mini_dump()
    shards = tmp_path / "shards"
    shards.mkdir()
    (shards / "part-0.json").write_text("[\n" + ",\n".join(docs[:4]) + ",\n")
    (shards / "part-1.json").write_text(",\n".join(docs[4:]) + "\n]\n")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()

    ingest(spark, str(shards), CLASS_SETS, out_dir=str(tmp_path / "db"))
    assert cache.isEmpty(), "ingest left frames cached"
    q = stream_ingest(spark, str(shards), CLASS_SETS, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    assert q.awaitTermination(120), "stream_ingest did not finish"
    assert cache.isEmpty(), "stream_ingest left frames cached"
