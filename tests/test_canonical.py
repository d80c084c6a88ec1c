"""P2/P3/P4/P12 canonicalization parity vs plain-Python reference
semantics (ksrf.py:88-92,:111-113,:151-152)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from judyst_web_crawler_spark.functions import canonical as C

# reference regexes, verbatim (oracle side)
_TYPE_RE = re.compile(
    r"(?:[А-Яа-я][-А-Яа-я]*(?=-\d)|"
    r"[А-Яа-я][-А-Яа-я]*(?=/)|[А-Яа-я][-А-Яа-я]*(?=\.)|"
    r"[А-Яа-я][-А-Яа-я]*(?=\d))"
)
_PDF_RE = re.compile(r"(?<=[A-Za-z])\d+")

KEYS = [
    "2483-О/2018",
    " 2483 -о/ 2018",
    "о123",
    "ПОСТ-12/2020",
    "п.5/1999",
    "ОПР/2001",
]
URLS = [
    "http://host.ru/Pages/doc123.pdf",
    "http://a.b/x9y77.pdf",
    "http://host.ru/Pages/DOC00042_7.pdf",
]


def test_canonical_key_and_doc_type(spark):
    df = spark.createDataFrame([(k,) for k in KEYS], "raw string")
    got = (
        df.select(
            "raw",
            C.canonical_key("raw").alias("key"),
            C.decision_id(C.canonical_key("raw")).alias("decision_id"),
            C.doc_type(C.canonical_key("raw")).alias("doc_type"),
        )
        .collect()
    )
    for row in got:
        key = row["raw"].replace(" ", "").upper()  # ksrf.py:111
        assert row["key"] == key
        assert row["decision_id"] == "КСРФ/" + key  # ksrf.py:112
        m = _TYPE_RE.search(key)
        expected_type = "КСРФ/" + (m[0] if m else "")
        assert row["doc_type"] == expected_type, (key, row["doc_type"], expected_type)


def test_pdf_number(spark):
    df = spark.createDataFrame([(u,) for u in URLS], "url string")
    got = df.select("url", C.pdf_number("url").alias("n")).collect()
    for row in got:
        assert row["n"] == _PDF_RE.search(row["url"])[0]


def test_text_location(spark):
    df = spark.createDataFrame([("КСРФ/2483-О/2018",)], "doc_id string")
    assert (
        df.select(C.text_location("doc_id").alias("p")).first()["p"]
        == "КСРФ_2483-О_2018.txt"  # ksrf.py:151-152
    )


def test_url_host(spark):
    df = spark.createDataFrame([("http://court001.example.ru/a/b.pdf",)], "url string")
    assert df.select(C.url_host("url").alias("h")).first()["h"] == "court001.example.ru"


def test_canonical_url_semantics(spark):
    df = spark.createDataFrame(
        [
            ("HTTP://Court.Example.RU/Ru/Doc/A.pdf",),
            ("http://court.example.ru/Ru/Doc/A.pdf",),
            ("http://court.example.ru/Ru/Doc/a.pdf",),
            ("http://court.example.ru/x.pdf#page=2",),
            ("http://court.example.ru/x.pdf",),
        ],
        "url string",
    )
    got = [r["c"] for r in df.select(C.canonical_url("url").alias("c")).collect()]
    # host/scheme case-insensitive → rows 0 and 1 collapse
    assert got[0] == got[1] == "http://court.example.ru/Ru/Doc/A.pdf"
    # path case PRESERVED → row 2 stays distinct
    assert got[2] == "http://court.example.ru/Ru/Doc/a.pdf" != got[1]
    # fragment stripped → rows 3 and 4 collapse
    assert got[3] == got[4] == "http://court.example.ru/x.pdf"
