"""The curation builders write their wide expressions as SQL text:
user values enter it through ``text.sql_literal``, building a frame
costs a bounded number of py4j commands, and the persisted LSH band
keys stay byte-identical."""

import random

import py4j.clientserver
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from odibi_spark.llm import dedup, text
from odibi_spark.llm.text import sql_literal


class TestSqlLiteral:
    @given(values=st.lists(st.text(), min_size=1, max_size=6))
    @example(values=["'", "\\", "`", "\n", r"\. ", "it's", "\\'", "'\\", "😀 𝔘", ""])
    @example(values=[r"\\n", "\\u0041", "%_", "\r\t", "a''b", '"'])
    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
    def test_string_round_trips(self, spark, values):
        """``F.expr(sql_literal(s))`` evaluates to ``s``, as a string,
        whether or not the parser unescapes string literals."""
        for escaped in ("false", "true"):
            spark.conf.set("spark.sql.parser.escapedStringLiterals", escaped)
            try:
                df = spark.range(1).select(
                    *[F.expr(sql_literal(v)).alias(f"c{i}") for i, v in enumerate(values)])
            finally:
                spark.conf.unset("spark.sql.parser.escapedStringLiterals")
            assert all(f.dataType.simpleString() == "string" for f in df.schema.fields)
            assert list(df.collect()[0]) == values

    def test_numbers_keep_the_type_lit_gives_them(self, spark):
        values = [0, -7, 2**31 - 1, -(2**31), 2**31, -(2**63), 0.5, -0.0, 1e16, 1.5e-7,
                  float("inf"), float("-inf")]
        got = spark.range(1).select(*[F.expr(sql_literal(v)).alias(f"c{i}") for i, v in enumerate(values)])
        want = spark.range(1).select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(values)])
        assert [f.dataType for f in got.schema] == [f.dataType for f in want.schema]
        assert got.collect() == want.collect()
        nan = spark.range(1).select(F.expr(sql_literal(float("nan"))).alias("x")).collect()[0].x
        assert nan != nan

    def test_other_types_raise(self):
        with pytest.raises(TypeError):
            sql_literal(None)

    def test_sentence_delimiter_and_quoted_delimiter(self, spark):
        """``line_delim`` is a Java regex: ``\\. `` splits sentences, and
        a quote is an ordinary delimiter."""
        df = spark.createDataFrame([Row(doc_id=1, text="a. a. b"), Row(doc_id=2, text="x'x'y'z")])
        sent = {r.doc_id: r.dup_line_fraction for r in
                text.repetition_signals(df, line_delim=r"\. ").collect()}
        quote = {r.doc_id: r.dup_line_fraction for r in
                 text.repetition_signals(df, line_delim="'").collect()}
        assert sent == {1: 2 / 3, 2: 0.0}
        assert quote == {1: 0.0, 2: 2 / 4}

    def test_stopword_with_a_quote(self, spark, monkeypatch):
        monkeypatch.setattr(text, "GOPHER_STOPWORDS", ["don't", "the", "a\\b"])
        df = spark.createDataFrame([Row(text="don't stop the music don't a\\b dont")])
        assert text.gopher_quality_flags(df, min_words=1).collect()[0].g_stopword_hits == 4


def _commands(build) -> int:
    """Gateway commands sent while ``build()`` runs, py4j's memory-release
    commands (``m``) excluded; a first call warms any one-off lookups."""
    build()
    conn = py4j.clientserver.ClientServerConnection
    orig, n = conn.send_command, [0]

    def counting(self, command):
        if not command.startswith("m\n"):
            n[0] += 1
        return orig(self, command)

    conn.send_command = counting
    try:
        build()
    finally:
        conn.send_command = orig
    return n[0]


class TestPy4jBudget:
    """Building the chain's frames, with no action, stays within a py4j
    command budget. Column-API builders with PySpark's call-site capture
    sent 1038 (repetition), 545 (Gopher) and 2471 (MinHash candidates)
    commands; SQL text sends 86, 111 and 258, the budgets are about 2x."""

    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.createDataFrame([(1, "the cat runs\nthe cat runs")], "doc_id long, text string")

    def test_repetition_signals(self, docs):
        assert _commands(lambda: text.repetition_signals(docs)) <= 170

    def test_gopher_quality_flags(self, docs):
        assert _commands(lambda: text.gopher_quality_flags(docs)) <= 220

    @pytest.mark.parametrize("hasher", ["xxhash64", "portable"])
    def test_minhash_candidates(self, docs, hasher):
        def build():
            sets = dedup.word_shingles(docs, "doc_id", "text")
            return dedup.lsh_candidate_pairs(dedup.signatures_from_sets(sets, hasher=hasher), hasher=hasher)

        assert _commands(build) <= 600


# band_keys output for the frame below, frozen from the Column-API
# builder: SignatureStore persists ``bh``, so a stored band must match
# the band a new document gets
GOLDEN_BANDS = {
    "xxhash64": {
        0: [
            "-5550012300354192904", "4017425282315074131", "-8697963095804170550", "5171037958677038637",
            "-7000560698927070663", "2034778305865503843", "-3689289373576500080", "-7149690471321828953",
        ],
        1: [
            "2653243566077016741", "3206796438107155614", "2051654490457750135", "2641475562324309768",
            "9207160401739668256", "-8734508289112215564", "9082802306264771212", "6496324129549140994",
        ],
        2: [
            "6775099778379215777", "3800064750070037777", "5943575768498888437", "2864055037607021200",
            "8375749591985570843", "-5419425582776047182", "-110428305907073593", "2820390705175935779",
        ],
        3: ["5941291851114378372"] * 8,
    },
    "portable": {
        0: [
            "1009512131,390210743,1563935662,1242003230", "652301075,429929954,1905458515,1553736335",
            "880658539,1626111328,1538917681,1629136661", "569558050,1144996352,526491371,1366117076",
            "1745005756,1578920875,1070094067,760579355", "893078531,1132431089,1562850843,1322101141",
            "2068562872,468424485,664708925,1167870002", "1511956876,709182034,1115297189,160357132",
        ],
        1: [
            "1570583811,1662955451,2146760200,1862090706", "443201602,1480094146,1616176223,1562697935",
            "1006167416,1985715052,1522640806,1785642217", "1872405444,1401277245,318625165,1141620062",
            "456578784,1862858496,884570945,2102818449", "125595656,1655042062,750427237,1350060992",
            "894578672,1000472589,266682065,1557605959", "1596661804,298426933,1638124514,702479142",
        ],
        2: [
            "838175829,710443911,741518377,1704368757", "431961129,698968863,916560778,889882658",
            "679580084,1219101408,459684050,1943564242", "1863587500,873972487,491995049,439141225",
            "86945279,1610417082,483655595,1636206417", "41705870,2085325833,1858458858,555937281",
            "1812387489,1085854305,685528023,1658726941", "2062327347,1224427460,1727395795,1514313085",
        ],
        3: ["0,2147483646,0,1"] * 8,
    },
}


@pytest.mark.parametrize("hasher", ["xxhash64", "portable"])
def test_band_keys_match_the_frozen_bands(spark, hasher):
    """Three seeded signatures over the hasher's value range and one of
    its extremes, in the default 8 x 4 geometry."""
    rng = random.Random(2024)
    lo, hi = (-(2**63), 2**63 - 1) if hasher == "xxhash64" else (0, dedup.MINHASH_PRIME - 1)
    rows = [(i, *[rng.randint(lo, hi) for _ in range(32)]) for i in range(3)]
    rows.append((3, *[(lo, hi, 0, 1)[j % 4] for j in range(32)]))
    sigs = spark.createDataFrame(rows, "id long, " + ", ".join(f"h{j} long" for j in range(32)))
    out = dedup.band_keys(sigs, hasher=hasher)
    assert out.schema.simpleString() == "struct<id:bigint,band:int,bh:string>"
    got: dict[int, list] = {}
    for r in sorted(out.collect()):
        got.setdefault(r.id, []).append(r.bh)
    assert got == GOLDEN_BANDS[hasher]
