"""Entity formation: parse delimited product records into typed rows.

Re-expresses the reference's `entityformation` + record-parsing surface
(/root/reference/deduplicaiton/.../processes/ConvertionToEntities.java:62-183,
Util.java:122-150 parseProduct, Util.java:20-34 clearLine, Util.java:36-65
deCodeLine, Util.java:158-179 getLong/getDouble) as declarative Column
expressions:

- record shape: 11 `;`-separated fields each wrapped in `<>`:
  id;name;sku;description;imageUrl;prodUrl;price;currency;availability;
  provider;timeStamp
- total tolerance for missing trailing fields (parse-or-default)
- price coercion: comma -> dot, strip non-[digit.] junk, parse-or-0.0
- id coercion: parse-or-0
- line cleanup: literal \\t \\n removal, language tags (@et, -en, ...),
  angle-bracket strip, whitespace collapse
- unicode \\uXXXX unescape: the one genuinely non-SQL piece (reference does
  it with a hand loop) -- vectorized Arrow pandas_udf over codecs

Unlike the reference's parser the result is a typed DataFrame, the id never
comes from a JVM-static counter (ConvertionToEntities.java:20,145 -- a
partition-count-dependent bug documented in SURVEY.md §2.10), and every
coercion is a pure Column expression.
"""

from __future__ import annotations

import codecs

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# reference clearLine (Util.java:20-34): strip literal \t/\n, language tags,
# angle brackets, collapse whitespace
_LANG_TAG_RE = r"(@|-)(et|en|ru|de|ee)\b"


def clear_line(col: Column) -> Column:
    c = F.regexp_replace(col, r"\\t|\\n", " ")
    c = F.regexp_replace(c, _LANG_TAG_RE, "")
    c = F.regexp_replace(c, r"[<>]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


@F.pandas_udf(T.StringType())
def unescape_unicode(s: pd.Series) -> pd.Series:
    """Decode \\uXXXX escapes (reference deCodeLine, Util.java:36-65)."""

    def dec(x):
        if x is None or "\\u" not in x:
            return x
        try:
            return codecs.decode(x.encode("utf-8"), "unicode_escape")
        except Exception:
            return x

    return s.map(dec)


def coerce_price(col: Column) -> Column:
    """getDouble semantics (Util.java:169-179): comma->dot, strip junk,
    parse-or-0.0."""
    cleaned = F.regexp_replace(F.regexp_replace(col, ",", "."), r"[^0-9.]", "")
    return F.coalesce(cleaned.try_cast("double"), F.lit(0.0))


def coerce_long(col: Column) -> Column:
    """getLong semantics (Util.java:158-167): parse-or-0."""
    return F.coalesce(
        F.regexp_replace(col, r"[^0-9-]", "").try_cast("long"), F.lit(0)
    )


def parse_product_lines(lines: DataFrame, col: str = "value") -> DataFrame:
    """Raw `;`-separated 11-field lines -> typed product DataFrame.

    Missing trailing fields default (empty string / 0 / 0.0), mirroring the
    reference's catch-and-keep-defaults parse (Util.java:142-145).
    """
    parts = F.split(F.col(col), ";")

    def fld(i: int) -> Column:
        # try_element_at: missing trailing fields -> null -> '' (ANSI-safe)
        raw = F.coalesce(F.try_element_at(parts, F.lit(i + 1)), F.lit(""))
        return clear_line(raw)

    return lines.select(
        coerce_long(fld(0)).alias("id"),
        fld(1).alias("name"),
        fld(2).alias("sku"),
        fld(3).alias("description"),
        fld(4).alias("image_url"),
        fld(5).alias("prod_url"),
        coerce_price(fld(6)).alias("price"),
        fld(7).alias("currency"),
        fld(8).alias("availability"),
        fld(9).alias("provider"),
        fld(10).alias("time_stamp"),
    )


def validity_filter(products: DataFrame) -> DataFrame:
    """The reference's record validity rules (Deduplication.java:44-61):
    non-empty name; price > 0; at least one of sku/description/image_url/
    prod_url/currency non-empty."""
    any_aux = (
        (F.col("sku") != "")
        | (F.col("description") != "")
        | (F.col("image_url") != "")
        | (F.col("prod_url") != "")
        | (F.col("currency") != "")
    )
    return products.where(
        (F.col("name") != "") & (F.col("price") > 0.0) & any_aux
    )


def to_reference_lines(products: DataFrame) -> DataFrame:
    """Typed product rows -> the reference's Product.toString line shape
    (models/Product.java:142-148): 11 `<...>`-wrapped `;`-separated fields
    WITH the trailing semicolon, price rendered as a Java double string
    (integral prices print as `12.0`). A user replaying the reference's
    `deduplication` output downstream can consume this engine's
    representatives byte-shaped."""
    price_str = F.when(
        F.col("price") == F.floor(F.col("price")),
        F.concat(F.col("price").cast("bigint").cast("string"), F.lit(".0")),
    ).otherwise(F.col("price").cast("string"))
    return products.select(
        F.format_string(
            "<%s>;" * 11,
            F.col("id").cast("string"), F.col("name"), F.col("sku"),
            F.col("description"), F.col("image_url"), F.col("prod_url"),
            price_str, F.col("currency"), F.col("availability"),
            F.col("provider"), F.col("time_stamp"),
        ).alias("value")
    )


def blocking_key(products: DataFrame) -> DataFrame:
    """SNM blocking key (Deduplication.java:71-94): name + price string +
    provider second-level domain (ArrayIndexOutOfBounds swallowed in the
    reference -> empty here)."""
    domain_parts = F.split(F.col("provider"), r"\.")
    second = F.when(
        F.size(domain_parts) >= 2, F.element_at(domain_parts, 2)
    ).otherwise(F.lit(""))
    key = F.concat_ws(
        "", F.col("name"), F.col("price").cast("string"), second
    )
    return products.withColumn("block_key", key)
