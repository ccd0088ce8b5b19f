"""The post-processing pipeline: nine extracted tables -> the final
denormalized `cities` (+ cities_labels / cities_languages).

Reproduces the reference's SQL battery in its exact stage order
(src/post/mod.rs:114-190; SURVEY.md §3.2), as pure DataFrame derivations:
the reference mutates `cities` in place (ALTER/UPDATE); here every stage
derives a new DataFrame, and the stage ordering carries the same data
dependencies (e.g. D7 only fills what D6 left NULL).

The reference runs each label stage twice, once keyed by city id and
once by subdivision id (2nd_id). Here D6, D7 and D8 each run ONE
set-based resolve for both key sets — a label depends only on its key
(D6: the seed; D7: the (owner, country) pair; D8: the id) — and join
the result back by each key. D6 replaces the two row-at-a-time loops
(per_city.sql, per_subdivision.sql driven by src/post/mod.rs:96-107) and
walks ONE ancestor closure that D3 shares; see
geo_db_spark.operators.labels.

Determinism: all SQLite arbitrary-winner spots carry documented
tiebreaks (see operators/labels.py docstring and inline notes below).

Documented divergences from reference quirks (verified against the
reference's own SQL in tests/test_geo_post_parity.py):
- per_subdivision.sql aggregates group_concat inside an UPDATE..FROM,
  which SQLite applies to ONE arbitrary city of a multi-city subdivision
  (doubling the concat across joined rows) and leaves siblings NULL; we
  resolve once per subdivision and apply to ALL its cities (the evident
  intent).
- subdivision_labels_by_country.sql's UPDATE can overwrite a sibling's
  already-resolved label with NULL (its WHERE has no NULL guard); we
  only fill NULLs.

Scale notes: `cities` is the spine that every stage joins back onto —
at WikiData scale it is ~10^6 rows (small); label tables are the big,
skewed side (big cities have 300+ labels, SURVEY.md §7/M5), so label
aggregations group FIRST (shrinking to one row per id) before joining
the spine, and dimension-sized inputs (countries, languages) broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geo_db_spark.operators.closure import deepest_qualifying_ancestor, transitive_closure
from geo_db_spark.operators.labels import (
    eo_label_pick,
    labels_by_country,
    native_label_concat,
    resolve_labels_via_ancestors,
)
from geo_db_spark.operators.relational import dedup_by_key, semi_join
from geo_db_spark.operators.rounds import checkpoint_round

# the reference's recursion bound (find_subdivision.sql, per_city.sql:
# WHERE step < 100)
MAX_STEPS = 100


def _fill(df: DataFrame, updates: DataFrame, keys: list[str], col: str) -> DataFrame:
    """UPDATE df SET col = <updates' last column> WHERE df.keys = <updates'
    leading columns>, only filling NULLs (stage semantics: later label
    stages only touch rows earlier stages left unresolved)."""
    u = updates.toDF(*keys, "__new")
    return (
        df.join(u, keys, "left")
        .withColumn(col, F.coalesce(F.col(col), F.col("__new")))
        .drop("__new")
    )


def post_process(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Every stage that later stages re-read is materialized by
    ``checkpoint_round`` (lazy localCheckpoint): downstream outputs
    re-read it instead of recomputing the whole compounded plan. On a
    real cluster the equivalent is writing stage outputs to parquet (the
    reference's SQLite tables play the same role)."""
    countries = tables["countries"]
    object_languages = tables["object_languages"]
    languages = tables["languages"]
    tes = tables["territorial_entities"]
    edges = tables["territorial_entities_parents"]
    cities = tables["cities"]
    cities_countries = tables["cities_countries"]
    object_labels = tables["object_labels"]

    # ---- city_countries.sql (D1 + D2) -------------------------------
    # drop references to vanished countries, then per city pick the
    # MIN(priority) country (unique by PK after the delete; tiebreak
    # country id for safety under non-PK inputs)
    cc = semi_join(
        cities_countries,
        countries.select(F.col("id").alias("country")),
        "country",
        broadcast_right=True,
    )
    w = Window.partitionBy("city").orderBy("priority", "country")
    picked = (
        cc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col("city").alias("id"), F.col("country"))
    )
    cities = cities.join(picked, "id", "left")  # country NULL when none

    # ---- ancestor closure, shared by D3 and both D6 loops ------------
    # seeded by cities and subdivisions. Admin-hierarchy edges are bounded
    # (~1e6 for all of WikiData): safe to pin the broadcast and make every
    # recursion level shuffle-free. All-paths rows collapse to one per
    # (seed, id, step); D4's "deepest" pick on diamonds and multi-depth
    # paths needs every step, so no min-step dedup.
    seconds = tes.filter(F.col("is_2nd")).select("id")
    closure, _ = checkpoint_round(
        transitive_closure(
            edges,
            cities.select("id").unionByName(seconds),
            max_steps=MAX_STEPS,
            broadcast_edges=True,
        ).dropDuplicates(["seed", "id", "step"])
    )

    # ---- find_subdivision.sql (D3 + D4) -----------------------------
    # subdivision-seeded rows that are not cities drop out in the join
    deepest = deepest_qualifying_ancestor(closure, seconds)
    cities, _ = checkpoint_round(
        cities.join(
            deepest.select(F.col("seed").alias("id"), F.col("id").alias("2nd_id")),
            "id",
            "left",
        )
    )

    # The subdivision stages below read only 2nd_id, 2nd_native_label and
    # country, and the city D7/D8 stages write only native_label and
    # eo_label, so each city stage can run side by side with its
    # subdivision twin: D5, D6, D7 and D8 each resolve both key sets once.

    # ---- city_labels.sql + subdivision_labels.sql (D5) --------------
    # native-label concat per CITY id, keyed by id and by 2nd_id (the
    # reference's labels_inner scans `cities`, so only subdivisions that
    # are themselves cities are covered there — faithful quirk)
    city_native, _ = checkpoint_round(native_label_concat(cities.select("id"), object_labels))
    cities = cities.join(city_native, "id", "left").join(
        city_native.toDF("2nd_id", "2nd_native_label"), "2nd_id", "left"
    )

    # ---- per_city.sql + per_subdivision.sql loops (D6, one resolve) --
    # seeds: cities with no D5 label, and subdivisions with no D5 label
    unlabeled = cities.filter(F.col("native_label").isNull()).select("id").union(
        cities.filter(F.col("2nd_native_label").isNull()).select("2nd_id").dropna()
    )
    resolved, _ = checkpoint_round(
        resolve_labels_via_ancestors(
            semi_join(closure, unlabeled.toDF("seed"), "seed"),
            object_languages, languages, object_labels,
        )
    )
    cities = _fill(cities, resolved, ["id"], "native_label")
    cities, _ = checkpoint_round(_fill(cities, resolved, ["2nd_id"], "2nd_native_label"))

    # ---- city_labels_by_country.sql + subdivision_labels_by_country.sql (D7)
    # pairs: each unlabeled city with its country, and each unlabeled
    # subdivision with MIN(country) of its unlabeled cities — the
    # reference takes the country of an ARBITRARY city of the subdivision
    # (DISTINCT "2nd_id" over a multi-country set) [documented tiebreak].
    # An id that is both a city and a subdivision may come with two
    # countries, so both fills key on (owner, country).
    has_country = F.col("country").isNotNull()
    city_pairs = cities.filter(F.col("native_label").isNull() & has_country).select("id", "country")
    sub_pairs = (
        cities.filter(F.col("2nd_native_label").isNull() & F.col("2nd_id").isNotNull() & has_country)
        .groupBy("2nd_id")
        .agg(F.min("country").alias("country"))
    )
    by_country, _ = checkpoint_round(
        labels_by_country(
            city_pairs.union(sub_pairs).toDF("owner", "country"),
            object_languages, languages, object_labels,
        )
    )
    sub_labels = sub_pairs.join(
        by_country.toDF("2nd_id", "country", "label"), ["2nd_id", "country"]
    ).drop("country")
    cities = _fill(cities, by_country, ["id", "country"], "native_label")
    cities, _ = checkpoint_round(_fill(cities, sub_labels, ["2nd_id"], "2nd_native_label"))

    # ---- esperanto_city_labels.sql + esperanto_subdivision_labels.sql (D8)
    eo = eo_label_pick(cities.select("id").union(cities.select("2nd_id").dropna()), object_labels)
    cities = cities.join(eo, "id", "left").join(eo.toDF("2nd_id", "2nd_eo_label"), "2nd_id", "left")

    # ---- subdivision_iso.sql (D9) -----------------------------------
    cities = cities.join(
        F.broadcast(
            tes.filter(F.col("is_2nd")).select(
                F.col("id").alias("2nd_id"), F.col("iso").alias("2nd_iso")
            )
        ),
        "2nd_id",
        "left",
    )

    # ---- cleanup 02: object_languages rekeyed to codes (D10) --------
    langs_coded = object_languages.join(
        F.broadcast(languages.select(F.col("id").alias("lang_id"), F.col("code").alias("lang"))),
        "lang_id",
        "left",
    )
    # PK (id,lang) first-writer-wins ~ insertion order = lang_index order
    cities_languages = dedup_by_key(
        langs_coded,
        key=["id", "lang"],
        prefer_order=[F.col("lang_index"), F.col("lang_id")],
    ).select("id", "lang", "lang_index")

    # ---- cleanup 03: object_labels rekeyed to (id, lang) (D10) ------
    # insertion order = plain labels (native_order NULL) before native
    cities_labels = dedup_by_key(
        object_labels,
        key=["id", "lang"],
        prefer_order=[F.col("native_order").asc_nulls_first(), F.col("label")],
    ).select("id", "lang", "label")

    # ---- cleanup 05: drop countryless cities, rewrite to ISO (D11) --
    iso_map = F.broadcast(countries.select(F.col("id").alias("country"), "iso"))
    cities = (
        cities.join(iso_map, "country", "inner")  # inner == NOT EXISTS delete
        .withColumn("country", F.col("iso"))
        .drop("iso")
    )

    # ---- cleanup 06: drop label-less cities (D12) -------------------
    cities = cities.filter(
        F.col("native_label").isNotNull() | F.col("eo_label").isNotNull()
    )

    cities, _ = checkpoint_round(
        cities.select(
            "id", "country", "population", "lat", "lon",
            "2nd_id", "native_label", "eo_label",
            "2nd_native_label", "2nd_eo_label", "2nd_iso",
        )
    )

    # ---- cleanup 07/08: prune label/language rows to live cities ----
    live = cities.select("id")
    cities_labels = semi_join(cities_labels, live, "id")
    cities_languages = semi_join(
        cities_languages.filter(F.col("lang").isNotNull()), live, "id"
    )

    # cleanup 09 renames object_* -> cities_*; here they are named so
    # from the start. No VACUUM equivalent needed (no mutable store).
    return {
        "cities": cities,
        "cities_labels": cities_labels,
        "cities_languages": cities_languages,
    }
