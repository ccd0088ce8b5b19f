"""WikiData extraction front-end: parsed entity rows -> the nine relational
outputs (reference phase 1, src/wiki_data_line.rs + src/database.rs).

The reference routes each JSON line through imperative handlers emitting a
9-variant ``DataEntry`` stream (src/database.rs:5-49). Spark-first, each
variant is its own DataFrame derived from ONE cached entity DataFrame by
declarative select/filter/explode pipelines (SURVEY.md §1.2, §3.1) —
Catalyst prunes the unused claim subtrees per output, and the nine writes
share the parse.

Every rule cites its reference source so parity can be audited:
- B1 defunct filter            src/wiki_data_line.rs:353-374
- B2 temporal validity         src/wiki_time.rs:139-201 (see functions.wiki_time)
- B4/B5 class routing          src/wiki_data_line.rs:410-459, 464-497
- C2/C3 country + languages    src/wiki_data_line.rs:376-407
- C4/C5/C6/C7 TE extraction    src/wiki_data_line.rs:37-106
- C8 native labels             src/wiki_data_line.rs:286-331
- C9 city-country priority     src/wiki_data_line.rs:135-163
- C10 population argmax        src/wiki_data_line.rs:165-240
- C11 coordinates              src/wiki_data_line.rs:242-259
- C12 language code            src/wiki_data_line.rs:108-121
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geo_db_spark.functions.scalars import parse_quantity
from geo_db_spark.functions.wiki_time import (
    NOW_KEY_DEFAULT,
    is_qualifier_active,
    start_qualifier_present,
    wiki_time_key,
)

CLASS_SET_NAMES = (
    "territorial_entities",
    "human_settlements",
    "excluded",
    "excluded_settlements",
    "second_level_admin_div",
    "languages",
)


def class_sets_from_dict(spark: SparkSession, sets: dict[str, list[str]]) -> DataFrame:
    """Side-input class sets (replaces the SPARQL ``P279+`` closure fetch,
    reference src/wiki_sparql.rs:79-130; SURVEY.md §2 A7) as one tagged
    DataFrame (class_id, set_name)."""
    rows = [(qid, name) for name, qids in sets.items() for qid in qids]
    return spark.createDataFrame(rows, "class_id string, set_name string")


def _stmt_id(s: Column) -> Column:
    return s["mainsnak"]["datavalue"]["value"]["id"]


def _no_p1366_qualifier(s: Column) -> Column:
    # reference src/wiki_data_line.rs:478-481: any P1366 qualifier denies
    # the class membership
    return F.get(F.element_at(s["qualifiers"], "P1366"), 0).isNull()


def _active(s: Column, now_key: int) -> Column:
    return is_qualifier_active(s["qualifiers"], now_key)


def with_class_flags(
    entities: DataFrame, class_tags: DataFrame, now_key: int = NOW_KEY_DEFAULT
) -> DataFrame:
    """Add one boolean per class set: entity qualifies if ANY active P31
    statement's value id is in the set and the statement carries no P1366
    qualifier (src/wiki_data_line.rs:464-497). One explode + one broadcast
    join + one re-aggregation for all six sets together."""
    p31 = (
        entities.select("id", F.explode("claims.P31").alias("s"))
        .filter(_stmt_id(F.col("s")).isNotNull())
        .filter(_active(F.col("s"), now_key))
        .filter(_no_p1366_qualifier(F.col("s")))
        .select("id", _stmt_id(F.col("s")).alias("class_id"))
    )
    hits = (
        p31.join(F.broadcast(class_tags), "class_id")
        .groupBy("id")
        .agg(F.collect_set("set_name").alias("__sets"))
    )
    out = entities.join(hits, "id", "left")
    for name in CLASS_SET_NAMES:
        out = out.withColumn(
            f"is_{name}", F.coalesce(F.array_contains("__sets", name), F.lit(False))
        )
    return out.drop("__sets")


def _replaced_flag() -> Column:
    p1366 = F.col("claims.P1366")
    has_p518 = F.exists(
        p1366,
        lambda s: F.size(F.element_at(s["qualifiers"], "P518")) > 0,
    )
    return p1366.isNotNull() & (F.size(p1366) > 0) & ~F.coalesce(has_p518, F.lit(False))


def _dissolved_flag() -> Column:
    return F.col("claims.P576").isNotNull() & (F.size("claims.P576") > 0)


def filter_defunct(entities: DataFrame) -> DataFrame:
    """B1 (src/wiki_data_line.rs:353-374): drop entities that are
    replaced-by (P1366 non-empty, unless ANY P1366 statement has a P518
    qualifier) or dissolved (P576 non-empty)."""
    return entities.filter(~_replaced_flag() & ~_dissolved_flag())


# ---------------------------------------------------------------- outputs


def countries(entities: DataFrame, now_key: int = NOW_KEY_DEFAULT) -> DataFrame:
    """C2: first ACTIVE P297 statement's string value, lowercased
    (src/wiki_data_line.rs:376-390). The branch triggers on the P297 key
    existing; a row is emitted only if that first active entry holds a
    string."""
    first_active = F.get(
        F.filter("claims.P297", lambda s: _active(s, now_key)), 0
    )
    iso = first_active["mainsnak"]["datavalue"]["value"]
    return (
        entities.filter(F.col("claims.P297").isNotNull())
        .select("id", F.lower(iso).alias("iso"))
        .filter(F.col("iso").isNotNull())
    )


def _posexplode_kept(entities: DataFrame, arr: Column, keep) -> DataFrame:
    """posexplode AFTER filtering — running index over *kept* entries,
    the reference's `lang_index += 1` pattern (C3/C5/C8)."""
    return entities.select(
        "id", F.posexplode(F.filter(arr, keep)).alias("pos", "s")
    )


def country_object_languages(entities: DataFrame, now_key: int = NOW_KEY_DEFAULT) -> DataFrame:
    """C3 (src/wiki_data_line.rs:392-407): active P37 entries of entities
    with a P297 key; running index over kept entries; NO snaktype guard in
    this branch (unlike the TE branch — faithful asymmetry)."""
    src = entities.filter(F.col("claims.P297").isNotNull())
    kept = _posexplode_kept(
        src,
        F.col("claims.P37"),
        lambda s: _active(s, now_key) & _stmt_id(s).isNotNull(),
    )
    return kept.select(
        "id",
        _stmt_id(F.col("s")).alias("lang_id"),
        F.col("pos").cast("int").alias("lang_index"),
    )


def territorial_entities_out(entities: DataFrame) -> DataFrame:
    """C4 (src/wiki_data_line.rs:37-54): one row per routed TE; iso from
    P300[0] (raw first element, no active/snaktype guard) only when
    is_2nd."""
    iso0 = F.get(F.col("claims.P300"), 0)["mainsnak"]["datavalue"]["value"]
    return entities.select(
        "id",
        F.col("is_second_level_admin_div").alias("is_2nd"),
        F.when(F.col("is_second_level_admin_div"), iso0).alias("iso"),
    )


def te_object_languages(entities: DataFrame, now_key: int = NOW_KEY_DEFAULT) -> DataFrame:
    """C5 (src/wiki_data_line.rs:58-85): P37 OR ELSE P2936 (array-level
    coalesce, not union), snaktype=='value' guard + active, running index
    over kept."""
    langs = F.coalesce(F.col("claims.P37"), F.col("claims.P2936"))
    kept = _posexplode_kept(
        entities,
        langs,
        lambda s: (s["mainsnak"]["snaktype"] == "value")
        & _active(s, now_key)
        & _stmt_id(s).isNotNull(),
    )
    return kept.select(
        "id",
        _stmt_id(F.col("s")).alias("lang_id"),
        F.col("pos").cast("int").alias("lang_index"),
    )


def parent_edges(entities: DataFrame, now_key: int = NOW_KEY_DEFAULT) -> DataFrame:
    """C6 (src/wiki_data_line.rs:13-35): each active P131 statement with a
    value id -> edge (id, parent)."""
    return (
        entities.select("id", F.explode("claims.P131").alias("s"))
        .filter(_active(F.col("s"), now_key))
        .filter(_stmt_id(F.col("s")).isNotNull())
        .select("id", _stmt_id(F.col("s")).alias("parent"))
    )


def plain_labels(entities: DataFrame) -> DataFrame:
    """C7 (src/wiki_data_line.rs:87-103, 268-284): every labels-map value
    with valid language+value -> (id, lang, label, native_order=NULL)."""
    raw = F.explode(F.map_values("labels")).alias("raw")
    parsed = F.from_json("raw", "language string, value string").alias("l")
    return (
        entities.filter(F.col("labels").isNotNull())
        .select("id", raw)
        .select("id", parsed)
        .filter(F.col("l.language").isNotNull() & F.col("l.value").isNotNull())
        .select(
            "id",
            F.col("l.language").alias("lang"),
            F.lit(None).cast("int").alias("native_order"),
            F.col("l.value").alias("label"),
        )
    )


def native_labels(entities: DataFrame, now_key: int = NOW_KEY_DEFAULT) -> DataFrame:
    """C8 (src/wiki_data_line.rs:286-331): P1705 if the claim array EXISTS
    (even empty — no fallback then), else P1448 filtered to active; running
    native_order over kept entries of the chosen source."""
    mono = lambda s: s["mainsnak"]["datavalue"]["value"]  # noqa: E731
    valid = lambda s: mono(s)["language"].isNotNull() & mono(s)["text"].isNotNull()  # noqa: E731
    p1705 = F.filter("claims.P1705", valid)
    p1448 = F.filter(
        "claims.P1448", lambda s: _active(s, now_key) & valid(s)
    )
    chosen = F.when(F.col("claims.P1705").isNotNull(), p1705).otherwise(p1448)
    kept = entities.select("id", F.posexplode(chosen).alias("pos", "s"))
    return kept.select(
        "id",
        mono(F.col("s"))["language"].alias("lang"),
        F.col("pos").cast("int").alias("native_order"),
        mono(F.col("s"))["text"].alias("label"),
    )


def city_countries(entities: DataFrame, now_key: int = NOW_KEY_DEFAULT) -> DataFrame:
    """C9 (src/wiki_data_line.rs:135-163): enumerate the RAW P17 array
    (index over all entries, filtered after); skip entries whose
    end/start qualifier is decidedly inactive; priority = i when a P580
    start qualifier exists, else 1000+i (dated outranks undated)."""
    e = entities.select("id", F.posexplode("claims.P17").alias("pos", "s"))
    s = F.col("s")
    kept = e.filter(_active(s, now_key)).filter(_stmt_id(s).isNotNull())
    prio = F.when(start_qualifier_present(s["qualifiers"]), F.col("pos")).otherwise(
        F.col("pos") + 1000
    )
    return kept.select(
        F.col("id").alias("city"),
        prio.cast("int").alias("priority"),
        _stmt_id(s).alias("country"),
    )


def population(entities: DataFrame, now_key: int = NOW_KEY_DEFAULT) -> DataFrame:
    """C10 (src/wiki_data_line.rs:165-240): among P1082 readings that
    (a) carry a P585 point-in-time qualifier with snaktype=='value' and a
    parseable time, (b) have no P518/P1539/P1540 qualifier, (c) are
    unitless (unit=='1'), (d) have a parseable amount — keep the reading
    with the LATEST time; on ties the later array entry wins (the
    reference's `>=` fold, :213-217)."""
    e = entities.select("id", F.posexplode("claims.P1082").alias("pos", "s"))
    s = F.col("s")
    p585 = F.get(F.element_at(s["qualifiers"], "P585"), 0)
    tkey = wiki_time_key(
        p585["datavalue"]["value"]["time"], p585["datavalue"]["value"]["timezone"]
    )
    no_part_quals = (
        F.get(F.element_at(s["qualifiers"], "P518"), 0).isNull()
        & F.get(F.element_at(s["qualifiers"], "P1539"), 0).isNull()
        & F.get(F.element_at(s["qualifiers"], "P1540"), 0).isNull()
    )
    amount = s["mainsnak"]["datavalue"]["value"]["amount"]
    unit = s["mainsnak"]["datavalue"]["value"]["unit"]
    cand = (
        e.filter(p585.isNotNull() & (p585["snaktype"] == "value"))
        .withColumn("tkey", tkey)
        .filter(F.col("tkey").isNotNull())
        .filter(no_part_quals)
        .filter(unit == "1")
        .withColumn("population", parse_quantity(amount))
        .filter(F.col("population").isNotNull())
    )
    w = Window.partitionBy("id").orderBy(F.col("tkey").desc(), F.col("pos").desc())
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("id", "population")
    )


def coordinates(entities: DataFrame) -> DataFrame:
    """C11 (src/wiki_data_line.rs:242-259): P625[0].mainsnak when
    snaktype=='value' and both lat/lon present."""
    snak = F.get(F.col("claims.P625"), 0)["mainsnak"]
    v = snak["datavalue"]["value"]
    ok = (
        snak.isNotNull()
        & (snak["snaktype"] == "value")
        & v["latitude"].isNotNull()
        & v["longitude"].isNotNull()
    )
    return entities.select(
        "id",
        F.when(ok, v["latitude"]).alias("lat"),
        F.when(ok, v["longitude"]).alias("lon"),
    )


def languages_out(entities: DataFrame) -> DataFrame:
    """C12 (src/wiki_data_line.rs:108-121): P424[0] string value -> (id,
    code); silently dropped when absent."""
    code = F.get(F.col("claims.P424"), 0)["mainsnak"]["datavalue"]["value"]
    return (
        entities.select("id", code.alias("code"))
        .filter(F.col("code").isNotNull())
    )


# ------------------------------------------------------------- pipeline


def extract_all(
    entities: DataFrame,
    class_tags: DataFrame,
    now_key: int = NOW_KEY_DEFAULT,
) -> dict[str, DataFrame]:
    """Run the full phase-1 extraction: entities -> the nine output
    tables of the reference's schema (setup.sql:8-75). Caches nothing;
    ``pipeline.ingest`` persists the flagged frame the tables share (see
    :func:`tables_from_flagged`)."""
    return tables_from_flagged(with_class_flags(filter_defunct(entities), class_tags, now_key), now_key)


def tables_from_flagged(flagged: DataFrame, now_key: int = NOW_KEY_DEFAULT) -> dict[str, DataFrame]:
    """The nine output tables derived from the live, class-flagged
    entities (``with_class_flags(filter_defunct(entities), ...)``); every
    table reads ``flagged``, so a caller that materializes several tables
    persists it first.

    Routing (B5, src/wiki_data_line.rs:428-459): an entity can take the
    country branch, the TE branch, the settlement branch and the language
    branch independently.

    PK/conflict semantics of the SQLite sink (A9, src/database.rs:91-160)
    are made explicit and deterministic:
    - territorial_entities_parents: both TE and settlement routes emit
      edges; PK (id,parent) conflict-ignore -> dropDuplicates.
    - object_languages: the country branch's insert precedes the TE
      branch's per line, so on PK (id,lang_id) the country row wins ->
      dedup preferring the country branch.
    - object_labels PK (id,lang,native_order) treats NULL native_order as
      distinct (SQLite UNIQUE semantics), so duplicate plain labels
      survive in the reference too — we keep them (post D5 dedups).
    """
    te = flagged.filter(F.col("is_territorial_entities") & ~F.col("is_excluded"))
    settlement_all = flagged.filter(
        F.col("is_human_settlements")
        & ~F.col("is_excluded")
        & ~F.col("is_excluded_settlements")
    )
    # settlements without P17 only contribute a missing_p17 diagnostic (B6)
    settlement = settlement_all.filter(F.col("claims.P17").isNotNull())
    lang_entities = flagged.filter(F.col("is_languages"))

    pop = population(settlement, now_key)
    coords = coordinates(settlement)
    cities = (
        settlement.select("id")
        .join(pop, "id", "left")
        .join(coords, "id", "left")
        .select("id", "population", "lat", "lon")
    )

    obj_langs = (
        country_object_languages(flagged, now_key)
        .withColumn("__src", F.lit(0))
        .unionByName(te_object_languages(te, now_key).withColumn("__src", F.lit(1)))
    )
    w = Window.partitionBy("id", "lang_id").orderBy("__src", "lang_index")
    obj_langs = (
        obj_langs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("id", "lang_id", "lang_index")
    )

    labels = (
        plain_labels(te)
        .unionByName(plain_labels(settlement))
        .unionByName(native_labels(settlement, now_key))
    )

    parents = (
        parent_edges(te, now_key)
        .unionByName(parent_edges(settlement, now_key))
        .dropDuplicates(["id", "parent"])
    )

    return {
        "countries": countries(flagged, now_key),
        "object_languages": obj_langs,
        "languages": languages_out(lang_entities),
        "territorial_entities": territorial_entities_out(te),
        "territorial_entities_parents": parents,
        "cities": cities,
        "cities_countries": city_countries(settlement, now_key),
        "object_labels": labels,
        "missing_p17": settlement_all.filter(F.col("claims.P17").isNull()).select("id"),
    }


def rule_trace(
    entities: DataFrame,
    class_tags: DataFrame,
    now_key: int = NOW_KEY_DEFAULT,
) -> DataFrame:
    """Per-entity boolean trace of every gating rule — the reference's
    debug mode (src/wiki_data_line.rs:421-426 prints each class test;
    src/main.rs:276-281 re-runs a silent entity with debug=true). One row
    per input entity with: the B1 defunct reasons, all six class-set
    flags, and the derived routing decisions (B5/B6). Unlike the
    reference (which bails at the defunct check), all flags are evaluated
    for every entity so the trace shows every failing rule at once."""
    flagged = with_class_flags(entities, class_tags, now_key)
    te = F.col("is_territorial_entities") & ~F.col("is_excluded")
    settlement = (
        F.col("is_human_settlements")
        & ~F.col("is_excluded")
        & ~F.col("is_excluded_settlements")
    )
    return flagged.select(
        "id",
        _replaced_flag().alias("is_replaced"),
        _dissolved_flag().alias("is_dissolved"),
        *[F.col(f"is_{name}") for name in CLASS_SET_NAMES],
        te.alias("routes_territorial"),
        settlement.alias("routes_settlement"),
        (settlement & F.col("claims.P17").isNull()).alias("missing_p17"),
        F.col("is_languages").alias("routes_language"),
        F.col("claims.P297").isNotNull().alias("routes_country"),
    )


def explain_entity(
    spark: SparkSession,
    entity_json: str,
    class_tags: DataFrame,
    now_key: int = NOW_KEY_DEFAULT,
) -> dict[str, list]:
    """Debug helper mirroring the reference's ``geo-db entity Qxx``
    subcommand (src/main.rs:236-289; SURVEY.md §3.3): run the extraction
    on a single entity document and return the would-be rows per table,
    plus a ``rules`` entry with the per-rule boolean trace (the
    reference's debug=true path for entities that produce no output)."""
    from geo_db_spark.sources.wikidata import parse_entity_lines

    lines = spark.createDataFrame([(entity_json,)], "value string")
    entities = parse_entity_lines(lines)
    outs = extract_all(entities, class_tags, now_key)
    out = {name: df.collect() for name, df in outs.items()}
    out["rules"] = rule_trace(entities, class_tags, now_key).collect()
    return out


ENTITY_DATA_URL = "https://www.wikidata.org/wiki/Special:EntityData/{qid}.json"


def fetch_entity_json(qid: str, timeout: float = 30.0) -> str:
    """Fetch one live entity document — the HTTP half of the reference's
    ``geo-db entity`` subcommand (src/main.rs:241-255: GET
    Special:EntityData/{id}.json, unwrap ``.entities[id]``). Dev-only
    (network required); feed the result to :func:`explain_entity`."""
    import json as _json
    import urllib.request

    from geo_db_spark.sources.download import USER_AGENT

    req = urllib.request.Request(
        ENTITY_DATA_URL.format(qid=qid), headers={"User-Agent": USER_AGENT}
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        doc = _json.load(resp)
    return _json.dumps(doc["entities"][qid])


def explain_entity_live(
    spark: SparkSession,
    qid: str,
    class_tags: DataFrame,
    now_key: int = NOW_KEY_DEFAULT,
) -> dict[str, list]:
    """``geo-db entity Qxx`` end-to-end: live fetch + rule trace."""
    return explain_entity(spark, fetch_entity_json(qid), class_tags, now_key)
