"""Label-resolution operators (reference post-phase D5-D8, SURVEY.md §2).

The reference resolves labels with a row-at-a-time loop: one recursive SQL
query PER unlabeled city (src/post/mod.rs:96-107 driving per_city.sql).
Here each resolver is ONE set-based job over all seeds at once — the
single biggest algorithmic win of the Spark rewrite (SURVEY.md §4).

Determinism: SQLite leaves several winners arbitrary (bare columns under
GROUP BY, UPDATE..FROM with multiple matches, unordered GROUP_CONCAT).
Every such spot gets a documented total-order tiebreak here:
- within a (ancestor, language) group the label is picked by
  (lang, native_order NULLS FIRST, label) ascending;
- group_concat order is (step, lang_index, ancestor, lang) — the
  reference's ORDER BY plus tiebreaks;
- native-label concat order is (min(native_order), label).

The language prefix match (`label.lang = code OR label.lang LIKE
family(code) || '-%'`, per_city.sql:35) is an equi-join on the derived
family key plus a residual predicate — hash-joinable, never a cartesian
(SURVEY.md §7 risk 1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geo_db_spark.functions.scalars import lang_family

SEP = " / "


def _lang_match(label_lang: Column, code: Column) -> Column:
    """label.lang = code OR label.lang LIKE family(code) || '-%'
    (reference per_city.sql:35, city_labels_by_country.sql:46,55).
    SQLite's LIKE is ASCII case-insensitive, so the prefix arm lowercases
    both sides ('ZH-hant' matches family 'zh'); the `=` arm stays
    case-sensitive exactly like SQLite's `=`."""
    return (label_lang == code) | F.lower(label_lang).startswith(
        F.concat(lang_family(F.lower(code)), F.lit("-"))
    )


def native_label_concat(ids: DataFrame, object_labels: DataFrame) -> DataFrame:
    """D5 (city_labels.sql:5-25 / subdivision_labels.sql): per id of
    ``ids`` (column ``id``), the ' / '-concat of DISTINCT labels with
    native_order <= 1, as (id, native_label). Concat order:
    (min(native_order), label) — deterministic stand-in for SQLite's
    insertion-order GROUP_CONCAT."""
    lab = (
        object_labels.filter(F.col("native_order").isNotNull() & (F.col("native_order") <= 1))
        .join(ids.select("id"), "id", "left_semi")
        .groupBy("id", "label")
        .agg(F.min("native_order").alias("mo"))
    )
    packed = F.struct(F.col("mo"), F.col("label").alias("__v"))
    return (
        lab.groupBy("id")
        .agg(F.sort_array(F.collect_list(packed)).alias("a"))
        .select(
            F.col("id"),
            F.array_join(F.transform("a", lambda s: s["__v"]), SEP).alias("native_label"),
        )
    )


def resolve_labels_via_ancestors(
    closure: DataFrame,
    object_languages: DataFrame,
    languages: DataFrame,
    object_labels: DataFrame,
) -> DataFrame:
    """D6 set-based rewrite (per_city.sql / per_subdivision.sql): for every
    seed of ``closure`` at once —

    1. each ancestor's languages (object_languages ⋈ languages);
    2. the SEED's own labels whose lang matches the ancestor-language code
       exactly or by family prefix;
    3. one label per (step, ancestor, language) group [deterministic pick];
    4. the first TWO groups by (step ASC, lang_index ASC) [+ tiebreaks];
    5. DISTINCT labels, ' / '-concat in group order.

    ``closure`` is the ancestor closure (operators.closure,
    step < 100, the seed itself at step 0) of exactly the seeds to
    resolve, with ONE row per distinct (seed, id, step): multi-path DAGs
    duplicate rows, and the reference's GROUP BY collapses them. The
    caller builds, dedups and limits it, so one closure can feed other
    stages too (plans/geo_post.py shares it with D3).

    Returns (seed, native_label) for seeds that resolved ≥1 label.
    """
    anc_langs = (
        closure.join(
            object_languages.select(
                F.col("id").alias("anc_id"), "lang_id", "lang_index"
            ),
            closure["id"] == F.col("anc_id"),
        )
        .join(languages.select(F.col("id").alias("__lid"), "code"), F.col("lang_id") == F.col("__lid"))
        .select("seed", "step", "anc_id", "lang_id", "lang_index", "code")
        # lowercased family key so the equi-join covers BOTH arms of
        # _lang_match (exact equality implies equal lowercase families)
        .withColumn("family", lang_family(F.lower(F.col("code"))))
    )

    labels = object_labels.select(
        F.col("id").alias("owner"),
        F.col("lang"),
        F.col("native_order"),
        F.col("label"),
        lang_family(F.lower(F.col("lang"))).alias("family"),
    )

    matched = anc_langs.join(
        labels,
        (F.col("seed") == F.col("owner")) & (anc_langs["family"] == labels["family"]),
    ).filter(_lang_match(F.col("lang"), F.col("code")))

    # deterministic label per (seed, step, ancestor, language) group
    wg = Window.partitionBy("seed", "step", "anc_id", "lang_id").orderBy(
        F.col("lang"),
        F.col("native_order").asc_nulls_first(),
        F.col("label"),
    )
    per_group = (
        matched.withColumn("__rn", F.row_number().over(wg))
        .filter(F.col("__rn") == 1)
        .select("seed", "step", "anc_id", "lang_id", "lang_index", "label")
    )

    # first two groups per seed: ORDER BY step, lang_index (+ tiebreaks)
    wr = Window.partitionBy("seed").orderBy(
        F.col("step"), F.col("lang_index"), F.col("anc_id"), F.col("lang_id")
    )
    top2 = (
        per_group.withColumn("__rank", F.row_number().over(wr))
        .filter(F.col("__rank") <= 2)
    )
    packed = F.struct(F.col("__rank"), F.col("label").alias("__v"))
    return (
        top2.groupBy("seed")
        .agg(F.sort_array(F.collect_list(packed)).alias("a"))
        .select(
            F.col("seed"),
            F.array_join(
                F.array_distinct(F.transform("a", lambda s: s["__v"])), SEP
            ).alias("native_label"),
        )
    )


def labels_by_country(
    pairs: DataFrame,
    object_languages: DataFrame,
    languages: DataFrame,
    object_labels: DataFrame,
) -> DataFrame:
    """D7 (city_labels_by_country.sql / subdivision_labels_by_country.sql):
    for each (owner, country) pair — owner is the entity whose labels we
    read (a city with its country, or a subdivision with the country of
    one of its cities) — take the country's rank-0 language (INNER: no
    primary language, no label) and rank-1 language (LEFT), find the
    owner's label in each, and merge: NULL-coalesce / equal-collapse /
    'l1 / l2' (the iif pyramid, city_labels_by_country.sql:6-18).

    The label depends only on the pair, so one call serves city and
    subdivision owners together; an id may come with several countries.
    Returns (owner, country, label), one row per distinct pair whose
    country has a rank-0 language — label may be NULL (kept: the
    reference's UPDATE writes NULL too).
    """
    def country_lang(rank: int, code_col: str) -> DataFrame:
        # ONE row per country: extract_all can emit two different lang_ids
        # at the same index when an entity routes through both the country
        # and TE branches (their kept-sets differ via the snaktype guard).
        # The reference's UPDATE picks an arbitrary winner but never
        # multiplies rows — pick min(lang_id) deterministically so _fill's
        # left join can't duplicate city spine rows.
        return (
            object_languages.filter(F.col("lang_index") == rank)
            .groupBy(F.col("id").alias("country"))
            .agg(F.min("lang_id").alias("lang_id"))
            .join(
                languages.select(F.col("id").alias("__lid"), F.col("code").alias(code_col)),
                F.col("lang_id") == F.col("__lid"),
            )
            .select("country", code_col)
        )

    labels = object_labels.select(
        F.col("id").alias("owner"),
        F.col("lang"),
        F.col("native_order"),
        F.col("label"),
        lang_family(F.lower(F.col("lang"))).alias("lfam"),
    )

    def owner_label(with_code: DataFrame, code_col: str, out: str) -> DataFrame:
        """Deterministic first matching label of the owner in the given
        code (SQLite's multi-match UPDATE winner is arbitrary)."""
        m = with_code.join(
            labels,
            (with_code["owner"] == labels["owner"])
            & (F.col("lfam") == lang_family(F.lower(F.col(code_col)))),
        ).filter(_lang_match(F.col("lang"), F.col(code_col)))
        w = Window.partitionBy(with_code["owner"], F.col(code_col)).orderBy(
            F.col("lang"), F.col("native_order").asc_nulls_first(), F.col("label")
        )
        return (
            m.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(with_code["owner"].alias("__o"), F.col(code_col).alias("__c"), F.col("label").alias(out))
        )

    t = pairs.select("owner", "country").dropDuplicates()
    base = t.join(F.broadcast(country_lang(0, "code1")), "country")  # INNER
    base = base.join(F.broadcast(country_lang(1, "code2")), "country", "left")

    l1 = owner_label(base.select("owner", "code1").dropDuplicates(), "code1", "label1")
    l2 = owner_label(
        base.filter(F.col("code2").isNotNull()).select("owner", "code2").dropDuplicates(),
        "code2",
        "label2",
    )

    out = (
        base.join(l1, (base["owner"] == l1["__o"]) & (base["code1"] == l1["__c"]), "left")
        .drop("__o", "__c")
        .join(l2, (base["owner"] == l2["__o"]) & (base["code2"] == l2["__c"]), "left")
        .drop("__o", "__c")
    )
    merged = (
        F.when(F.col("label1").isNull(), F.col("label2"))
        .when(F.col("label2").isNull(), F.col("label1"))
        .when(F.col("label1") == F.col("label2"), F.col("label1"))
        .otherwise(F.concat_ws(SEP, "label1", "label2"))
    )
    return out.select("owner", "country", merged.alias("label"))


EO_LANGS = ("eo", "fr", "es", "en", "de", "nl")


def eo_label_pick(ids: DataFrame, object_labels: DataFrame) -> DataFrame:
    """D8 (esperanto_city_labels.sql:5-21 / esperanto_subdivision_labels.sql):
    per id of ``ids`` (column ``id``; duplicates are harmless), as
    (id, eo_label): among the id's labels with lang in (eo fr es en de
    nl), prefer lang='eo'; non-eo winner made deterministic by (lang,
    label) — documented divergence from SQLite's arbitrary pick."""
    lab = object_labels.filter(F.col("lang").isin(*EO_LANGS)).join(
        ids.select("id"), "id", "left_semi"
    )
    w = Window.partitionBy("id").orderBy(
        (F.col("lang") == "eo").desc(),
        F.col("lang"),
        F.col("native_order").asc_nulls_first(),
        F.col("label"),
    )
    return (
        lab.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("id", F.col("label").alias("eo_label"))
    )
