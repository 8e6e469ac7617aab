"""Quad-block -> product-record routing (the reference's `entityformation`).

Re-expresses /root/reference/deduplicaiton/.../processes/
ConvertionToEntities.java:62-183 -- the stage between raw N-quad blocks and
parseable 11-field product lines -- as declarative Spark. One input row is
one "entity block": the multi-line remainder of a record split on the
`22-rdf-syntax-ns#type>, ` delimiter (ConvertionToEntities.java:36-45), so a
block's first line is a type object (`<http://schema.org/Product>` /
`...Offer>`) followed by quad lines `<key>, <subject>, <predicate>, <object>`.

Faithfully reproduced semantics:

- predicate-substring routing with the reference's exact else-if chain
  (:95-124). Branch order matters: a line containing `Offer/priceCurrency`
  also contains `Offer/price` and is therefore captured by the PRICE branch
  -- the currency branch is only reachable via `Offer/currency` /
  `Product/currency`. That quirk is part of the chain and is kept.
- per-field conflict rules: name/price/currency/description are first-wins
  (guarded by isEmpty, :96,105,113,116); image/url/sku/availability are
  last-wins (unconditional assignment, :103,119,121,123).
- provider = key-part0 + key-part1 concatenated (no separator), timestamp =
  key-part2, where key = line.split(">, ")[0] (keeps its leading `<`) and
  parts split on `::` (:162-182); both are harvested first-wins from
  name/price-branch lines only (:98-101,107-110).
- Offer-inherits-Product (:80-94): a Product block emits nothing and becomes
  the pending field map (:130-143); the FIRST Offer block after it inherits
  every field and consumes the map (`productMap = null`, :93) -- a second
  Offer before the next Product inherits nothing. Inherited (non-empty)
  values win for first-wins fields; the offer's own lines win for last-wins
  fields (they are assigned after the inherit, unconditionally).
- every non-Product block emits (the reference's emptiness check at :152 is
  dead code -- the tuple always starts with the id counter).
- emission cleanup = clearLine + \\uXXXX decode (:155-156) via
  entity_formation.clear_line / unescape_unicode.

Deliberate deviations (documented per SURVEY.md §4 "bugs to not reproduce"):

- the emitted id is the block's deterministic position, not a JVM-static
  counter (ConvertionToEntities.java:20,145 is partition-count-dependent).
- Offers inherit image_url from the product's image_url, not from its sku
  (the `imageUrl = productMap.get("sku")` copy-paste bug at :85).
- malformed (<4-field) lines contribute nothing at all; the reference can
  still harvest provider/timestamp from a malformed line in rare orderings
  (the per-line catch at :125-127 skips the rest of the line only when the
  object extraction itself throws).

Chained inheritance through dual-type blocks IS reproduced (closing the
round-3 deviation): a block carrying both Product and Offer markers
consumes the pending map, merges it with its own fields, stores the MERGED
locals as the new map, and emits nothing -- so a prior Product's fields
chain through any run of dual blocks into the next Offer. See the chain
fold in route_quad_blocks; the fuzz oracle generates dual blocks.

Scale: the reference's cross-record state (Util.productMap) is only correct
because blocks of one file land in one partition in file order. Here the
order dependency is explicit and bounded: the inherit window partitions by
`part_col` (one input file / split) and orders by `pos_col` within it -- no
global sort, no single-partition window; the product->offer field transfer
is an equi self-join on (part_col, inherited position).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from microdeduplication_spark.operators.entity_formation import (
    clear_line,
    unescape_unicode,
)

# first-wins fields (isEmpty-guarded in the reference); provider/time_stamp
# are first-wins too but harvested from the key, not the object
_FIRST_WINS = ["name", "price", "currency", "description"]
# last-wins fields (unconditional assignment in the reference)
_LAST_WINS = ["image_url", "prod_url", "sku", "availability"]
ROUTED_FIELDS = [
    "name", "sku", "description", "image_url", "prod_url",
    "price", "currency", "availability", "provider", "time_stamp",
]


def _branches(l: Column) -> list[tuple[str, Column, bool]]:
    """(field, raw-contains condition, first_wins) in the reference's else-if
    order (ConvertionToEntities.java:95-124)."""
    return [
        ("name", l.contains("Product/name") | l.contains("Offer/itemOffered"), True),
        ("image_url", l.contains("Product/image") | l.contains("Offer/image"), False),
        ("price", l.contains("Offer/price") | l.contains("Product/price"), True),
        ("currency",
         l.contains("Offer/priceCurrency") | l.contains("Offer/currency")
         | l.contains("Product/currency"), True),
        ("description",
         l.contains("Product/description") | l.contains("Offer/description"), True),
        ("prod_url", l.contains("Product/url"), False),
        ("sku", l.contains("Product/sku"), False),
        ("availability", l.contains("Offer/availability"), False),
    ]


def route_quad_blocks(
    blocks: DataFrame,
    block_col: str = "block",
    part_col: str = "part",
    pos_col: str = "pos",
    decode_unicode: bool = True,
) -> DataFrame:
    """Entity blocks -> emitted product records.

    blocks: one row per entity block with (part_col, pos_col, block_col);
    part_col scopes the Offer-inherits-Product state (one input file),
    pos_col is the block's order within that scope.

    Returns (part_col, id=pos_col, is_offer, name, sku, description,
    image_url, prod_url, price, currency, availability, provider,
    time_stamp) -- one row per NON-Product block, all fields cleaned
    strings ('' = never assigned). Product blocks only feed inheritance.
    """
    # Catalyst evaluates higher-order-function lambdas INTERPRETED, so the
    # extraction cost is proportional to the raw expression count per line.
    # Decide everything per line ONCE: `b` = index of the else-if branch
    # that fired (a short-circuiting CASE over the reference's chain, so a
    # line pays the ~12 contains() once instead of once per field filter)
    # and `p` = the `>, ` split (paid once instead of per wf/object/key
    # access). Field extraction below then filters on the precomputed
    # branch index and slices the precomputed parts -- measured ~2x on the
    # routing query, output bit-identical (same chain, same splits).
    _branch_fields = [f for f, _, _ in _branches(F.lit(""))]

    def _branch_idx(l: Column) -> Column:
        chain = None
        for i, (_f, cond, _first) in enumerate(_branches(l)):
            chain = F.when(cond, i) if chain is None else chain.when(cond, i)
        return chain.otherwise(F.lit(-1))

    lined = blocks.select(
        F.col(part_col).alias("part"),
        F.col(pos_col).alias("pos"),
        F.col(block_col).contains(".org/Product>").alias("is_product"),
        F.col(block_col).contains(".org/Offer>").alias("is_offer"),
        F.transform(
            F.split(F.col(block_col), "\n"),
            lambda l: F.struct(
                _branch_idx(l).alias("b"), F.split(l, ">, ").alias("p")
            ),
        ).alias("lines"),
    )

    def wf(x: Column) -> Column:
        return F.size(x["p"]) >= 4

    def obj_of(x: Column) -> Column:
        return F.element_at(x["p"], 4)

    # raw per-field extraction: NULL = never assigned (maps to the reference
    # locals staying ""); an assigned-but-empty object ("<>") is non-null and
    # therefore blocks later first-wins assignments, exactly like Java's
    # isEmpty() on the raw "<>" string
    field_exprs: dict[str, Column] = {}

    def _field_filter(idx: int):
        # closure factory: F.filter treats a 2-arg lambda as (element, index),
        # so the branch index must be bound outside the lambda signature
        return lambda x: (x["b"] == idx) & wf(x)

    for field, first in [(f, True) for f in _FIRST_WINS] + [
        (f, False) for f in _LAST_WINS
    ]:
        matches = F.filter(F.col("lines"), _field_filter(_branch_fields.index(field)))
        objs = F.transform(matches, obj_of)
        field_exprs[field] = F.try_element_at(objs, F.lit(1 if first else -1))

    # provider/time_stamp: first non-empty harvest over name/price-branch
    # lines (both set them first-wins from the key, :98-101/:107-110)
    def key_details(x: Column) -> Column:
        return F.split(F.element_at(x["p"], 1), "::")

    _b_name = _branch_fields.index("name")
    _b_price = _branch_fields.index("price")
    tp_lines = F.filter(
        F.col("lines"),
        lambda x: ((x["b"] == _b_name) | (x["b"] == _b_price)) & wf(x),
    )
    providers = F.filter(
        F.transform(
            tp_lines,
            lambda x: F.when(
                F.size(key_details(x)) >= 2,
                F.concat(
                    F.element_at(key_details(x), 1),
                    F.element_at(key_details(x), 2),
                ),
            ),
        ),
        lambda p: p.isNotNull() & (p != ""),
    )
    timestamps = F.filter(
        F.transform(tp_lines, lambda x: F.try_element_at(key_details(x), F.lit(3))),
        lambda t: t.isNotNull() & (t != ""),
    )
    field_exprs["provider"] = F.try_element_at(providers, F.lit(1))
    field_exprs["time_stamp"] = F.try_element_at(timestamps, F.lit(1))

    routed = lined.select(
        "part", "pos", "is_product", "is_offer",
        *[field_exprs[f].alias(f) for f in ROUTED_FIELDS],
    )

    # Offer-inherits-Product with CHAINING through dual-type blocks
    # (ConvertionToEntities.java:80-94 + :130-143): a Product-only block
    # overwrites the pending map with its own fields; an Offer-only block
    # inherits the map and consumes it; a block carrying BOTH markers
    # consumes the map, merges it with its own fields, stores the MERGED
    # locals back as the new map, and emits nothing. The map reaching an
    # offer is therefore a fold over a CHAIN: at most one Product anchor
    # followed by consecutive dual blocks.
    #
    # Chain identification without iteration: among "event" blocks
    # (is_product | is_offer), every non-dual event (Product-only or
    # Offer-only) resets the chain -- a Product-only by overwriting the
    # map, an Offer-only by consuming it. So for any block, the chain
    # feeding it is exactly the dual blocks after the LAST preceding
    # non-dual event ("anchor"), plus the anchor itself iff it is a
    # Product-only block. All duals in a run share the offer's anchor, so
    # one window + one groupBy + one equi-join materializes every chain --
    # no per-row recursion, everything keyed by (part, anchor).
    is_dual = F.col("is_product") & F.col("is_offer")
    non_dual_event = (F.col("is_product") | F.col("is_offer")) & ~is_dual
    wprev = (
        W.partitionBy("part")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    anchor = F.last(
        F.when(non_dual_event, F.col("pos")), ignorenulls=True
    ).over(wprev)
    routed = routed.withColumn("anchor", F.coalesce(anchor, F.lit(-1)))

    # Unified chain-group key: a Product-only block anchors the chain at
    # its OWN pos; dual blocks and the consuming offer carry their shared
    # anchor -- so every chain (contributors AND consumer) lands in ONE
    # window partition (part, grp), and the fold becomes two more window
    # functions per field instead of a groupBy + self-join (no plan fork:
    # a fork would re-execute the block split + HOF extraction per branch,
    # and a checkpoint barrier measured slower than the window).
    grp = F.when(
        F.col("is_product") & ~F.col("is_offer"), F.col("pos")
    ).otherwise(F.col("anchor"))
    wchain = (
        W.partitionBy("part", grp)
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    # fold over PRECEDING map-writing blocks of the chain: first-wins
    # fields resolve to the EARLIEST block that assigned them (later
    # merges only fill empties), last-wins to the LATEST (unconditional
    # reassignment). Only offers consume the pending map; typeless blocks
    # emit their own fields untouched.
    contrib = lambda f: F.when(F.col("is_product"), F.col(f))  # noqa: E731
    inherited = [
        F.when(
            F.col("is_offer"),
            (F.first if f not in _LAST_WINS else F.last)(
                contrib(f), ignorenulls=True
            ).over(wchain),
        ).alias(f"p_{f}")
        for f in ROUTED_FIELDS
    ]
    j = routed.select("*", *inherited).where(~F.col("is_product"))

    def merged(f: str) -> Column:
        inh, own = F.col(f"p_{f}"), F.col(f)
        if f in _LAST_WINS:
            # offer lines are assigned after the inherit, unconditionally
            raw = F.coalesce(own, inh)
        else:
            # inherit wins when the product block assigned the field
            raw = F.coalesce(inh, own)
        cleaned = clear_line(F.coalesce(raw, F.lit("")))
        if decode_unicode:
            cleaned = unescape_unicode(cleaned)
        return cleaned.alias(f)

    return j.select(
        "part",
        F.col("pos").alias("id"),
        "is_offer",
        *[merged(f) for f in ROUTED_FIELDS],
    )


def as_product_lines(routed: DataFrame) -> DataFrame:
    """Serialize routed records to the reference's 11-field `<...>;` line
    format, byte-parity with Product.toString (Product.java:143-148), which
    emits a trailing ';' after the 11th field -- the stage boundary at
    ConvertionToEntities.java:145-150. parse_product_lines tolerates the
    trailing separator (split yields one empty 12th part, ignored)."""
    return routed.select(
        F.format_string(
            "<%s>;" * 11,
            F.col("id").cast("string"),
            *[F.col(f) for f in ROUTED_FIELDS],
        ).alias("value")
    )
