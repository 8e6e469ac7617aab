"""Text sources: custom record delimiter, quad parsing, type statistics."""

from __future__ import annotations

from microdeduplication_spark.sources.text_source import (
    parse_quads,
    read_records,
    type_statistics,
)


def test_custom_delimiter_blocks(spark, tmp_path):
    p = tmp_path / "blocks.txt"
    p.write_text("block one\nline two|||block two\nmore|||  |||block three")
    df = read_records(spark, str(p), record_delimiter="|||")
    vals = sorted(r["value"] for r in df.collect())
    assert vals == ["block one\nline two", "block three", "block two\nmore"]


def test_parse_quads_and_stats(spark, tmp_path):
    lines = [
        "<k1> <s1> <rdf-syntax-ns#type> <schema.org/Product> .",
        "<k1> <s1> <schema.org/name> <Widget> .",
        "<k2> <s2> <rdf-syntax-ns#type> <schema.org/Product> .",
        "<k3> <s3> <rdf-syntax-ns#type> <schema.org/Offer> .",
        "malformed line without fields",
    ]
    p = tmp_path / "quads.nq"
    p.write_text("\n".join(lines))
    quads = parse_quads(read_records(spark, str(p)))
    assert quads.count() == 4  # malformed dropped
    stats = type_statistics(quads).collect()
    assert [(r["obj"], r["n"]) for r in stats] == [
        ("schema.org/Product", 2),
        ("schema.org/Offer", 1),
    ]


def test_url_key_and_suffix_filter(spark):
    from pyspark.sql import functions as F

    from microdeduplication_spark.sources.files_source import (
        url_key,
        url_suffix_keep,
    )

    rows = [
        ("http://g.delfi.ee/s/img/back_grey.gif", "2015-02-14T09:09:21Z"),
        ("https://ex.ee/a/b?x=1&y=2", "2016-01-01T00:00:00Z"),
        ("http://ex.ee/static/app.js", "2016-01-01T00:00:00Z"),
    ]
    df = spark.createDataFrame(rows, ["url", "date"])
    got = df.select(
        url_key(F.col("url"), F.col("date")).alias("k"),
        url_suffix_keep(F.col("url")).alias("keep"),
    ).collect()
    # the reference's documented nutch-style example shape
    assert got[0]["k"] == "http::g.delfi.ee::/s/img/back_grey.gif::null::20150214090921"
    assert got[1]["k"] == "https::ex.ee::/a/b::x=1&y=2::20160101000000"
    assert [r["keep"] for r in got] == [True, True, False]


# ---- X2 quad building: OGP pre-pass + statement split + vcard workaround ----

def _java_add_url_to_triple(key: str, statement: str) -> str:
    """Independent transcription of MicroDataExtraction.addURLToTriple
    (java:255-287). Kept deliberately literal, Java quirks and all."""
    if "vcard" not in statement:
        return statement
    parts = statement.split(" ")
    if len(parts[0]) < 25:
        return statement
    if ":node" in parts[0]:
        key_parts = key.split("::")
        key_parts[4] = ""
        # Java `keyParts[3] == "null"` is reference equality on a fresh
        # split() string -> ALWAYS false; the branch is dead code.
        url = "".join(key_parts)
        parts[0] = "<" + url + ">"
        statement = " ".join(parts)
    return statement


def _java_set_statements(key: str, ntriples: str) -> list[str]:
    """Transcription of MicroDataExtraction.setStatements (java:218-253)."""
    import re as _re

    out = []
    for statement in _re.split(r"(?:\s\.)(?:\r?\n)", ntriples):
        if len(statement) == 0:
            continue
        statement = statement + " ."
        statement = _java_add_url_to_triple(key, statement)
        out.append("<" + key + "> " + statement)
    return out


def test_ogp_rewrite_matches_reference_replaceall(spark):
    from pyspark.sql import functions as F

    from microdeduplication_spark.sources.text_source import ogp_rewrite

    html = (
        '<meta property="article:tag" content="x">'
        '<meta property="profile:name" content="y">'
        '<meta property="og:title" content="z">'
    )
    got = (
        spark.range(1)
        .select(ogp_rewrite(F.lit(html)).alias("h"))
        .collect()[0]["h"]
    )
    want = html.replace('property="article:', 'property="og:article:').replace(
        'property="profile:', 'property="og:profile:'
    )
    assert got == want
    assert 'property="og:article:tag"' in got


def test_build_quads_matches_java_transcription(spark):
    from pyspark.sql import functions as F

    from microdeduplication_spark.sources.text_source import build_quads

    key = "https::example.ee::/path::null::20150101000000"
    vcard_subj = "_:node1abcdefghijklmnopqrstuvwxyz"  # >= 25 chars, has :node
    cases = [
        # plain triples, \n and \r\n separators, trailing terminator
        "<s1> <p1> <o1> .\n<s2> <p2> <o2> .\n",
        "<s1> <p1> <o1> .\r\n<s2> <p2> <o2> .\r\n",
        # vcard blank-node subject -> domain inserted from key
        f"{vcard_subj} <http://www.w3.org/2006/vcard/ns#fn> \"N\" .\n",
        # vcard but short subject -> untouched
        "_:n1 <http://www.w3.org/2006/vcard/ns#fn> \"N\" .\n",
        # vcard, long subject, no :node marker -> untouched
        "<http://example.ee/vcard/entity-id-padding-x> <p> <o> .\n",
        # no trailing newline on last statement (split leaves ' .' tail)
        "<s1> <p1> <o1> .\n<s2> <p2> <o2> .",
        # empty segments between terminators are dropped
        "<s1> <p1> <o1> .\n\n",
    ]
    df = spark.createDataFrame(
        [(i, key, c) for i, c in enumerate(cases)], "i int, key string, nt string"
    )
    got = {
        r["i"]: r["q"]
        for r in df.select(
            "i", build_quads(F.col("key"), F.col("nt")).alias("q")
        ).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == _java_set_statements(key, c), f"case {i}: {c!r}"
    # the vcard-fixed quad really carries the domain-joined url
    assert got[2][0].startswith(f"<{key}> <https" )
    assert "example.ee/path" in got[2][0].replace("null", "null")


def test_quads_from_triples_explodes_per_quad(spark):
    from microdeduplication_spark.sources.text_source import quads_from_triples

    df = spark.createDataFrame(
        [("k1::h::p::q::t", "<a> <b> <c> .\n<d> <e> <f> .\n")],
        "key string, ntriples string",
    )
    rows = quads_from_triples(df).collect()
    assert [r["quad"] for r in rows] == [
        "<k1::h::p::q::t> <a> <b> <c> .",
        "<k1::h::p::q::t> <d> <e> <f> .",
    ]
