"""P1/P2 listing-row projection and P15 derived-link synthesis."""

from __future__ import annotations

from pyspark.sql import functions as F

from judyst_web_crawler_spark.functions.extraction import (
    parse_listing_pages,
    parse_listing_rows,
)
from judyst_web_crawler_spark.operators.lawcodes import derived_redaction_links

LISTING = """
<html><body><table>
<tr class="ms-alternating">
  <td>13.11.2018</td>
  <td>  Определение № 2483-О  </td>
  <td>2483 -о/2018<a href="/doc/KSRFDecision2483.pdf">pdf</a></td>
</tr>
<tr class="ms-vb">
  <td>01.02.2018</td>
  <td>Постановление № 33-П</td>
  <td>33-П/2018<a href="/doc/KSRFDecision33.pdf">pdf</a></td>
</tr>
<tr><td>header-only-row</td></tr>
</table></body></html>
"""


def test_parse_listing_rows_projection():
    rows = parse_listing_rows(LISTING)
    assert len(rows) == 2
    r = rows[0]
    # P1: date = td0, title = td1.strip(), key = td2, url = first anchor
    assert r["release_date"] == "13.11.2018"
    assert r["title"] == "Определение № 2483-О"
    assert r["url"] == "/doc/KSRFDecision2483.pdf"
    # P2: canonical key strips spaces + uppercases (ksrf.py:111)
    assert r["canonical_key"] == "2483-О/2018"
    assert rows[1]["canonical_key"] == "33-П/2018"


def test_parse_listing_pages_distributed(spark):
    df = spark.createDataFrame(
        [(1, LISTING), (2, LISTING)], "page_id long, html string"
    )
    out = parse_listing_pages(df, html_col="html", id_cols=["page_id"])
    rows = out.collect()
    assert len(rows) == 4
    assert {r["page_id"] for r in rows} == {1, 2}
    assert all(r["canonical_key"] in {"2483-О/2018", "33-П/2018"} for r in rows)


def test_derived_redaction_links(spark):
    df = spark.createDataFrame(
        [(100, 90), (200, None)], "rd_doc_number long, prev_doc_number int"
    )
    out = {r["rd_doc_number"]: r for r in derived_redaction_links(df).collect()}
    assert out[100]["rd_doc_link"].endswith("/document/cons_doc_LAW_100/")
    assert "doc1=90&doc2=100" in out[100]["redaction_comparison_link"]
    assert out[200]["redaction_comparison_link"] is None
    assert out[200]["addit_info_link"].endswith("cons_doc_LAW_200/add-info/")


def test_listing_href_from_key_cell_only():
    markup = """
    <table><tr>
      <td>01.01.2018</td>
      <td><a href="/info-page">Определение</a></td>
      <td>5-О/2018<a href="/doc5.pdf">pdf</a></td>
    </tr></table>
    """
    rows = parse_listing_rows(markup)
    assert rows[0]["url"] == "/doc5.pdf"  # td2's anchor, not the title link
    assert rows[0]["canonical_key"] == "5-О/2018"
