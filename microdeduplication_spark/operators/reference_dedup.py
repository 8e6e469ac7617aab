"""Reference-semantics product dedup: SNM blocking + match predicates.

Pins the reference's *dedup semantics* (FIXTURES.md §4) as a runnable Spark
job so parity is testable against a brute-force oracle:

- blocking: key = name+price+provider-domain, sort, window w
  (/root/reference/deduplicaiton/.../processes/Deduplication.java:64-104)
- match predicates (models/Product.java:92-140):
    equals:   name AND provider-domain AND price all equal
    compare:  image_url+domain equal, OR
              cosine(name)==1.0 with both descriptions and images empty, OR
              cosine(name)>0.5 AND cosine(description)>0.7
  cosine = term-frequency cosine over \\W+ tokens
  (utils/CosineSimilarity.java:13-56)
- duplicate groups: first record (in sort order) is the representative
  (utils/Util.java:84-99) -- here: connected components over matched window
  pairs, representative = min sort position; no cross-partition static state.

The tf-cosine is computed with nested higher-order Column expressions --
fine for the parity fixture scale; the production engine verifies with
set-Jaccard over precomputed shingle sets instead (operators/verify.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from microdeduplication_spark.operators.connected_components import (
    cluster_labels,
)
from microdeduplication_spark.operators.entity_formation import blocking_key
from microdeduplication_spark.operators.snm import (
    global_sort_positions,
    snm_candidate_pairs,
)


def _tokens(col: Column) -> Column:
    return F.filter(F.split(col, r"\W+"), lambda t: t != F.lit(""))


def cosine_tf(a_toks: Column, b_toks: Column) -> Column:
    """Term-frequency cosine of two token arrays (reference semantics:
    CosineSimilarity.java:28-56). Both args must be materialized columns."""
    common = F.array_intersect(
        F.array_distinct(a_toks), F.array_distinct(b_toks)
    )
    dot = F.aggregate(
        common,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.size(F.filter(a_toks, lambda x: x == t))
        * F.size(F.filter(b_toks, lambda x: x == t)),
    )

    def sq_norm(toks: Column) -> Column:
        return F.aggregate(
            F.array_distinct(toks),
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + F.pow(F.size(F.filter(toks, lambda x: x == t)), 2).cast("long"),
        )

    denom = F.sqrt(sq_norm(a_toks) * sq_norm(b_toks))
    return F.when(denom > 0, dot / denom).otherwise(F.lit(0.0))


def _slash0(col: Column) -> Column:
    """provider.split("/")[0] -- the provider comparison key used by BOTH
    Product.equals (Product.java:102) and Product.compare (:123). Java's
    split on a string without the separator returns the whole string, and
    "".split("/")[0] is ""."""
    return F.element_at(F.split(col, "/"), 1)


def match_pairs(pairs: DataFrame, products: DataFrame) -> DataFrame:
    """(a_id, b_id) candidate pairs -> subset satisfying equals OR compare."""
    cols = ["id", "name", "description", "image_url", "price", "provider"]
    a = products.select([F.col(c).alias(f"a_{c}") for c in cols])
    b = products.select([F.col(c).alias(f"b_{c}") for c in cols])
    j = pairs.join(a, "a_id").join(b, "b_id")
    j = j.withColumn("a_toks", _tokens(F.col("a_name"))).withColumn(
        "b_toks", _tokens(F.col("b_name"))
    ).withColumn("a_dtoks", _tokens(F.col("a_description"))).withColumn(
        "b_dtoks", _tokens(F.col("b_description"))
    )
    cos_name = cosine_tf(F.col("a_toks"), F.col("b_toks"))
    cos_desc = cosine_tf(F.col("a_dtoks"), F.col("b_dtoks"))
    # Product.equals (Product.java:92-112): name equal AND providers BOTH
    # non-empty with equal first "/"-segment AND (either price 0.0 -> price
    # check waived, else prices equal)
    equals = (
        (F.col("a_name") == F.col("b_name"))
        & (F.col("a_provider") != "")
        & (F.col("b_provider") != "")
        & (_slash0(F.col("a_provider")) == _slash0(F.col("b_provider")))
        & (
            (F.col("a_price") == 0.0)
            | (F.col("b_price") == 0.0)
            | (F.col("a_price") == F.col("b_price"))
        )
    )
    # Product.compare (:121-124): both image urls non-empty and equal, same
    # provider "/"-segment (empty providers compare equal here -- no guard)
    img_match = (
        (F.col("a_image_url") != "")
        & (F.col("b_image_url") != "")
        & (F.col("a_image_url") == F.col("b_image_url"))
        & (_slash0(F.col("a_provider")) == _slash0(F.col("b_provider")))
    )
    # Product.compare (:127-131): name cosine EXACTLY 1.0, EITHER description
    # empty (|| at :128), both images empty
    bare_name = (
        (cos_name == 1.0)
        & ((F.col("a_description") == "") | (F.col("b_description") == ""))
        & (F.col("a_image_url") == "")
        & (F.col("b_image_url") == "")
    )
    # Product.compare (:132-136): the else-if excludes cos_name == 1.0
    fuzzy = (cos_name != 1.0) & (cos_name > 0.5) & (cos_desc > 0.7)
    return j.where(equals | img_match | bare_name | fuzzy).select("a_id", "b_id")


def snm_dedup(
    raw_products: DataFrame, window: int = 3
) -> tuple[DataFrame, DataFrame]:
    """Full reference-semantics dedup. Returns (representatives, clusters).

    clusters: (id, cluster_id) where cluster_id = id of the first record of
    the duplicate group in blocking-key sort order.
    """
    keyed = blocking_key(raw_products)
    # sort position = the reference's encounter order; ids are remapped to
    # positions so `min` picks the first-seen record, then mapped back.
    # Positions come from the scale-safe range-partition + offsets helper
    # (no single-partition WindowExec); the lazy localCheckpoint makes the
    # four downstream consumers share one computation without leaking a
    # CacheManager entry.
    pos = global_sort_positions(
        keyed, ["block_key", "id"]
    ).localCheckpoint(eager=False)
    pairs = snm_candidate_pairs(
        pos, key_col="block_key", id_col="pos", window=window
    ).select(F.col("a_id").alias("a_pos"), F.col("b_id").alias("b_pos"))
    prods_by_pos = pos.withColumnRenamed("id", "orig_id").withColumnRenamed(
        "pos", "id"
    )
    matched = match_pairs(
        pairs.select(F.col("a_pos").alias("a_id"), F.col("b_pos").alias("b_id")),
        prods_by_pos,
    )
    full = cluster_labels(
        pos.select(F.col("pos").alias("file_id")),
        matched.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst")),
    ).select(
        F.col("file_id").alias("pos"), F.col("cluster_id").alias("cluster_pos")
    )
    id_of_pos = pos.select("pos", "id")
    clusters = (
        full.join(id_of_pos, "pos")
        .join(
            id_of_pos.select(
                F.col("pos").alias("cluster_pos"), F.col("id").alias("cluster_id")
            ),
            "cluster_pos",
        )
        .select("id", "cluster_id")
    )
    reps = raw_products.join(
        clusters.where(F.col("id") == F.col("cluster_id")).select("id"),
        "id",
        "left_semi",
    )
    return reps, clusters
