"""D6/D7 label resolution under the driver's DuckDB gate.

Round-3 gap (VERDICT "Next round" #4): the hardest post-phase operator —
ancestor label resolution with the language-family prefix OR-join
(operators/labels.py:71-153, reference src/post/per_city.sql:1-44) — was
verified only by sqlite-parity pytest. Here the REAL operators run over
synthetic wikidata-shaped tables derived DETERMINISTICALLY from the
driver's part/nation/customer parquet (the driver ships no label tables),
while the oracle re-derives the same tables in DuckDB SQL and re-states
the reference semantics as a recursive CTE + window functions.

Derived tables (identical arithmetic on both sides):
- languages:        id = n_nationkey, code = 'l'||(id%10), every 3rd code
                    carries a '-r' region suffix so the family-prefix arm
                    of the match (per_city.sql:35) is exercised.
- edges:            the part binary tree (p -> p//2), same as workload/graph.
- object_languages: part nodes declare an index-0 language unless
                    p%5==0 (forcing real ancestor climbs) and an index-1
                    language when p%2==0.
- object_labels:    each part/customer owns three labels: an exact-code
                    one, a family-suffixed one ('l4-x' matches code 'l4'
                    by prefix), and a same-family duplicate with NULL
                    native_order (exercising the per-group tiebreak
                    lang, native_order NULLS FIRST, label).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geo_db_spark.io import load
from geo_db_spark.operators.closure import transitive_closure
from geo_db_spark.operators.labels import labels_by_country, resolve_labels_via_ancestors
from geo_db_spark.session import tune


def _code(key):
    base = F.concat(F.lit("l"), (key % 10).cast("string"))
    return F.when(key % 3 == 0, F.concat(base, F.lit("-r"))).otherwise(base)


_CODE_SQL = (
    "CASE WHEN {k} % 3 = 0 THEN 'l' || CAST({k} % 10 AS VARCHAR) || '-r' "
    "ELSE 'l' || CAST({k} % 10 AS VARCHAR) END"
)


def _languages(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load(spark, sf_dir, "nation")
    return nation.select(
        F.col("n_nationkey").alias("id"), _code(F.col("n_nationkey")).alias("code")
    )


_LANGS_SQL = f"SELECT n_nationkey AS id, {_CODE_SQL.format(k='n_nationkey')} AS code FROM nation"


def x9_ancestor_label_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 (per_city.sql / per_subdivision.sql): for every seed, climb the
    ancestor closure, find each ancestor's declared languages, match the
    SEED's own labels by exact code or family prefix, keep one label per
    (step, ancestor, language) group, take the first two groups by
    (step, lang_index), and ' / '-concat the distinct labels.
    Runs the real set-based operator (one job for ALL seeds — the
    reference loops per city, src/post/mod.rs:96-107)."""
    tune(spark)
    part = load(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    seeds = part.filter(pk % 7 == 3).select(pk.alias("id"))
    edges = part.filter(pk >= 2).select(
        pk.alias("id"), (pk / 2).cast("long").alias("parent")
    )
    object_languages = (
        part.filter(pk % 5 != 0)
        .select(pk.alias("id"), (pk % 25).alias("lang_id"), F.lit(0).alias("lang_index"))
        .unionByName(
            part.filter(pk % 2 == 0).select(
                pk.alias("id"),
                ((pk * 7 + 3) % 25).alias("lang_id"),
                F.lit(1).alias("lang_index"),
            )
        )
    )
    s = pk.cast("string")
    object_labels = (
        part.select(
            pk.alias("id"),
            F.concat(F.lit("l"), (pk % 10).cast("string")).alias("lang"),
            F.when(pk % 4 == 0, F.lit(None).cast("long")).otherwise(pk % 3).alias("native_order"),
            F.concat(F.lit("A"), s).alias("label"),
        )
        .unionByName(
            part.select(
                pk.alias("id"),
                F.concat(F.lit("l"), ((pk + 1) % 10).cast("string"), F.lit("-x")).alias("lang"),
                F.lit(None).cast("long").alias("native_order"),
                F.concat(F.lit("B"), s).alias("label"),
            )
        )
        .unionByName(
            part.select(
                pk.alias("id"),
                F.concat(F.lit("l"), (pk % 10).cast("string")).alias("lang"),
                F.lit(None).cast("long").alias("native_order"),
                F.concat(F.lit("Z"), s).alias("label"),
            )
        )
    )
    closure = transitive_closure(edges, seeds).dropDuplicates(["seed", "id", "step"])
    out = resolve_labels_via_ancestors(
        closure, object_languages, _languages(spark, sf_dir), object_labels
    )
    return out.select("seed", "native_label")


ORACLE_X9 = f"""
WITH RECURSIVE
langs AS ({_LANGS_SQL}),
obj_langs AS (
  SELECT p_partkey AS id, p_partkey % 25 AS lang_id, 0 AS lang_index
  FROM part WHERE p_partkey % 5 <> 0
  UNION ALL
  SELECT p_partkey, (p_partkey * 7 + 3) % 25, 1 FROM part WHERE p_partkey % 2 = 0
),
obj_labels AS (
  SELECT p_partkey AS owner, 'l' || CAST(p_partkey % 10 AS VARCHAR) AS lang,
         CASE WHEN p_partkey % 4 = 0 THEN NULL ELSE p_partkey % 3 END AS native_order,
         'A' || CAST(p_partkey AS VARCHAR) AS label
  FROM part
  UNION ALL
  SELECT p_partkey, 'l' || CAST((p_partkey + 1) % 10 AS VARCHAR) || '-x', NULL,
         'B' || CAST(p_partkey AS VARCHAR)
  FROM part
  UNION ALL
  SELECT p_partkey, 'l' || CAST(p_partkey % 10 AS VARCHAR), NULL,
         'Z' || CAST(p_partkey AS VARCHAR)
  FROM part
),
cl(seed, id, step) AS (
  SELECT p_partkey, p_partkey, 0 FROM part WHERE p_partkey % 7 = 3
  UNION ALL
  SELECT cl.seed, e.parent, cl.step + 1
  FROM cl JOIN (SELECT p_partkey AS id, p_partkey // 2 AS parent
                FROM part WHERE p_partkey >= 2) e ON cl.id = e.id
  WHERE cl.step < 100
),
clg AS (SELECT DISTINCT seed, id, step FROM cl),
anc AS (
  SELECT c.seed, c.step, ol.id AS anc_id, ol.lang_id, ol.lang_index, l.code
  FROM clg c JOIN obj_langs ol ON c.id = ol.id JOIN langs l ON ol.lang_id = l.id
),
matched AS (
  SELECT a.seed, a.step, a.anc_id, a.lang_id, a.lang_index,
         b.lang, b.native_order, b.label
  FROM anc a JOIN obj_labels b ON a.seed = b.owner
  WHERE b.lang = a.code
     OR starts_with(lower(b.lang), split_part(lower(a.code), '-', 1) || '-')
),
per_group AS (
  SELECT seed, step, anc_id, lang_id, lang_index, label
  FROM matched
  QUALIFY row_number() OVER (PARTITION BY seed, step, anc_id, lang_id
                             ORDER BY lang, native_order ASC NULLS FIRST, label) = 1
),
ranked AS (
  SELECT seed, label,
         row_number() OVER (PARTITION BY seed
                            ORDER BY step, lang_index, anc_id, lang_id) AS rk
  FROM per_group
),
top2 AS (
  SELECT seed,
         max(CASE WHEN rk = 1 THEN label END) AS l1,
         max(CASE WHEN rk = 2 THEN label END) AS l2
  FROM ranked WHERE rk <= 2 GROUP BY seed
)
SELECT seed,
       CASE WHEN l2 IS NULL OR l1 = l2 THEN l1
            ELSE l1 || ' / ' || l2 END AS native_label
FROM top2
"""


def x10_labels_by_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 (city_labels_by_country.sql / subdivision_labels_by_country.sql):
    per (owner, country) pair — each customer with its nation — the
    owner's label in the country's rank-0 language (INNER: no primary
    language, no row) merged with its label in the rank-1 language (LEFT)
    via the NULL-coalesce / equal-collapse / concat pyramid, output as
    (target_id, native_label). NULL results are KEPT (the reference's
    UPDATE writes NULL)."""
    tune(spark)
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    ck, nk = F.col("c_custkey"), F.col("n_nationkey")
    pairs = cust.select(ck.alias("owner"), F.col("c_nationkey").alias("country"))
    object_languages = (
        nation.filter(nk % 4 != 1)
        .select(nk.alias("id"), (nk % 25).alias("lang_id"), F.lit(0).alias("lang_index"))
        .unionByName(
            nation.filter((nk % 5 == 0) & (nk % 4 != 1)).select(
                nk.alias("id"), ((nk + 3) % 25).alias("lang_id"), F.lit(0).alias("lang_index")
            )
        )
        .unionByName(
            nation.filter(nk % 2 == 0).select(
                nk.alias("id"), ((nk + 7) % 25).alias("lang_id"), F.lit(1).alias("lang_index")
            )
        )
    )
    s = ck.cast("string")
    object_labels = (
        cust.select(
            ck.alias("id"),
            F.concat(F.lit("l"), (ck % 10).cast("string")).alias("lang"),
            F.when(ck % 4 == 0, F.lit(None).cast("long")).otherwise(ck % 3).alias("native_order"),
            F.concat(F.lit("C"), s).alias("label"),
        )
        .unionByName(
            cust.select(
                ck.alias("id"),
                F.concat(F.lit("l"), ((ck + 5) % 10).cast("string"), F.lit("-z")).alias("lang"),
                F.lit(None).cast("long").alias("native_order"),
                F.concat(F.lit("D"), s).alias("label"),
            )
        )
        .unionByName(
            cust.select(
                ck.alias("id"),
                F.concat(F.lit("l"), (ck % 10).cast("string")).alias("lang"),
                F.lit(None).cast("long").alias("native_order"),
                F.concat(F.lit("E"), s).alias("label"),
            )
        )
    )
    out = labels_by_country(pairs, object_languages, _languages(spark, sf_dir), object_labels)
    return out.select(F.col("owner").alias("target_id"), F.col("label").alias("native_label"))


_X10_MATCH = (
    "(ol.lang = {c} OR starts_with(lower(ol.lang), split_part(lower({c}), '-', 1) || '-'))"
)

ORACLE_X10 = f"""
WITH
langs AS ({_LANGS_SQL}),
obj_cl AS (
  SELECT n_nationkey AS id, n_nationkey % 25 AS lang_id, 0 AS lang_index
  FROM nation WHERE n_nationkey % 4 <> 1
  UNION ALL
  SELECT n_nationkey, (n_nationkey + 3) % 25, 0
  FROM nation WHERE n_nationkey % 5 = 0 AND n_nationkey % 4 <> 1
  UNION ALL
  SELECT n_nationkey, (n_nationkey + 7) % 25, 1 FROM nation WHERE n_nationkey % 2 = 0
),
obj_labels AS (
  SELECT c_custkey AS owner_id, 'l' || CAST(c_custkey % 10 AS VARCHAR) AS lang,
         CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE c_custkey % 3 END AS native_order,
         'C' || CAST(c_custkey AS VARCHAR) AS label
  FROM customer
  UNION ALL
  SELECT c_custkey, 'l' || CAST((c_custkey + 5) % 10 AS VARCHAR) || '-z', NULL,
         'D' || CAST(c_custkey AS VARCHAR)
  FROM customer
  UNION ALL
  SELECT c_custkey, 'l' || CAST(c_custkey % 10 AS VARCHAR), NULL,
         'E' || CAST(c_custkey AS VARCHAR)
  FROM customer
),
cl0 AS (
  SELECT j.country, langs.code AS code1
  FROM (SELECT id AS country, min(lang_id) AS lang_id
        FROM obj_cl WHERE lang_index = 0 GROUP BY id) j
  JOIN langs ON j.lang_id = langs.id
),
cl1 AS (
  SELECT j.country, langs.code AS code2
  FROM (SELECT id AS country, min(lang_id) AS lang_id
        FROM obj_cl WHERE lang_index = 1 GROUP BY id) j
  JOIN langs ON j.lang_id = langs.id
),
base AS (
  SELECT c_custkey AS target_id, c_custkey AS owner, c_nationkey AS country
  FROM customer
),
b2 AS (
  SELECT base.*, cl0.code1, cl1.code2
  FROM base JOIN cl0 USING (country) LEFT JOIN cl1 USING (country)
),
l1 AS (
  SELECT b.owner, b.code1 AS c, ol.label AS label1
  FROM (SELECT DISTINCT owner, code1 FROM b2) b
  JOIN obj_labels ol ON b.owner = ol.owner_id
  WHERE {_X10_MATCH.format(c='b.code1')}
  QUALIFY row_number() OVER (PARTITION BY b.owner, b.code1
                             ORDER BY ol.lang, ol.native_order ASC NULLS FIRST, ol.label) = 1
),
l2 AS (
  SELECT b.owner, b.code2 AS c, ol.label AS label2
  FROM (SELECT DISTINCT owner, code2 FROM b2 WHERE code2 IS NOT NULL) b
  JOIN obj_labels ol ON b.owner = ol.owner_id
  WHERE {_X10_MATCH.format(c='b.code2')}
  QUALIFY row_number() OVER (PARTITION BY b.owner, b.code2
                             ORDER BY ol.lang, ol.native_order ASC NULLS FIRST, ol.label) = 1
)
SELECT b2.target_id,
       CASE WHEN label1 IS NULL THEN label2
            WHEN label2 IS NULL THEN label1
            WHEN label1 = label2 THEN label1
            ELSE label1 || ' / ' || label2 END AS native_label
FROM b2
LEFT JOIN l1 ON b2.owner = l1.owner AND b2.code1 = l1.c
LEFT JOIN l2 ON b2.owner = l2.owner AND b2.code2 = l2.c
"""


QUERIES = {
    "x9_ancestor_label_resolution": x9_ancestor_label_resolution,
    "x10_labels_by_country": x10_labels_by_country,
}

ORACLES = {
    "x9_ancestor_label_resolution": ORACLE_X9,
    "x10_labels_by_country": ORACLE_X10,
}
