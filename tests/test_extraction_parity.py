"""Byte-identical extraction parity (BASELINE.json:15 per-row invariant).

Oracle = the reference pipeline run in plain Python (pageNumberPattern
ksrf.py:154-159 + text_content + charset fallback law_codes.py:96-102);
engine = the Arrow pandas UDF path. Every pageNumberPattern branch from
FIXTURES.md §7 is covered, plus property-based fuzz via hypothesis.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from judyst_web_crawler_spark.datagen import pages_df
from judyst_web_crawler_spark.functions.extraction import (
    PAGE_NUMBER_PATTERN,
    decode_payload,
    del_np_and_page_nums,
    extract_text,
    extract_text_udf,
    html_text_content,
    strip_page_numbers_udf,
)

# FIXTURES.md §7 pagenum_strip golden branches
GOLDEN = [
    ("abc\x0c 12 def", "abc def"),            # \x0c ws digits
    ("abc\x0c12def", "abcdef"),                # \x0c digits (run consumed)
    ("abc\x0c\nxyz", "abc\nxyz"),              # \x0c before whitespace
    ("abc\x0c", "abc"),                         # \x0c at end-of-text
    ("abc\x0c   ", "abc   "),                   # \x0c ws at end (ws survives: branch2)
    ("abc\x0cX", "abc\x0cX"),                  # \x0c before letter SURVIVES
    ("\x0c7|word", "|word"),
    ("plain text", "plain text"),
]


def test_pagenum_strip_golden():
    for raw, want in GOLDEN:
        assert del_np_and_page_nums(raw) == want, repr(raw)


@settings(max_examples=500, deadline=None)
@given(st.text(alphabet="\x0c \n\t0123456789abcXЯ|.", max_size=40))
def test_pagenum_strip_fuzz_matches_reference_semantics(s):
    # the sub below IS the normative behavior; this guards against any
    # future "optimization" of the pattern drifting from it
    assert del_np_and_page_nums(s) == PAGE_NUMBER_PATTERN.sub("", s)


def test_html_text_content_entities():
    assert html_text_content("<p>a &quot;b&quot; &amp; c</p>") == 'a "b" & c'
    assert html_text_content("<div><p>x</p><p>y</p></div>") == "xy"


def test_charset_fallback():
    utf8 = "<p>текст</p>".encode("utf-8")
    cp1251 = "<p>текст</p>".encode("windows-1251")
    assert extract_text(utf8) == "текст"
    assert extract_text(cp1251) == "текст"


def test_udf_byte_identical_vs_oracle(spark):
    pages = pages_df(spark, n_rows=400, n_hosts=5, seed=7).cache()
    # engine pass over the html payloads must equal the generation-time
    # oracle text column byte-for-byte, every row
    mismatches = (
        pages.withColumn("engine_text", extract_text_udf(F.col("html")))
        .filter(
            (F.col("engine_text") != F.col("text"))
            | F.col("engine_text").isNull() != F.col("text").isNull()
        )
        .count()
    )
    assert mismatches == 0
    # and cross-check a sample against plain-Python oracle, bytes()
    sample = pages.limit(50).collect()
    for row in sample:
        assert bytes(extract_text(row["html"]), "utf-8") == bytes(row["text"], "utf-8")
    # the corpus must exercise the strip (some \x0c work done)
    assert all("\x0c 2" not in r["text"] for r in sample)
    pages.unpersist()


def test_strip_udf_matches_python(spark):
    rows = [(r,) for r, _ in GOLDEN]
    df = spark.createDataFrame(rows, "raw string")
    got = df.select("raw", strip_page_numbers_udf(F.col("raw")).alias("s")).collect()
    for row in got:
        assert row["s"] == del_np_and_page_nums(row["raw"])


def test_decode_payload_undecodable_bytes():
    # invalid utf-8 AND invalid cp1251 (0x98 undefined) → degrades, not raises
    junk = b"\xff\xfe\x98\x01pdf-like"
    out = decode_payload(junk)
    assert isinstance(out, str) and len(out) > 0
