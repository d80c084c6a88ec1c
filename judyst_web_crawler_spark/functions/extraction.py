"""Byte-identical text-extraction pipeline as Arrow pandas UDFs.

THE per-row invariant (BASELINE.json:15): extracted text per url must be
byte-identical to the reference pipeline. The normative regexes live here
in Python ``re`` inside pandas UDFs — never re-expressed as
``regexp_replace`` — because Java-regex semantics differ on inline-flag
scoping / VERBOSE / ``$`` details (SURVEY.md §7 "What's hard").

Reference pipeline (per document):
    payload -> text            (pdfminer at ksrf.py:173-177 / lxml
                                ``text_content()`` at ksrf.py:111-116,
                                law_codes.py:517-523)
    text -> pageNumberPattern.sub('', text)   (ksrf.py:154-159, :178)

Sandbox stand-in (SURVEY.md §2.1 S3, FIXTURES.md §1): the ``html BINARY``
column is the payload; payload→text is an HTML text_content pass. lxml is
not available in this container, so ``html_text_content`` is a pure-stdlib
reimplementation of lxml's ``text_content()`` semantics (concatenation of
all text nodes, entities resolved); the datagen oracle column is produced
by the very same function, so the byte-identical contract is exact and
testable (tests/test_extraction_parity.py).

NOTE on the page-number regex: the reference source compiles

    re.compile(r\"\"\"(?:(?i)\\x0c\\s*\\d+|\\x0c(?=\\s)|\n (?i)\\x0c\\s*$)\"\"\", re.VERBOSE)

(ksrf.py:154-155). On the Pythons the reference targeted, a mid-pattern
``(?i)`` was promoted to a GLOBAL flag; Python >=3.11 rejects that form
outright. The compiled program is therefore exactly equivalent to the
modern spelling below: VERBOSE only strips the literal source whitespace,
and IGNORECASE is inert (the pattern contains no cased characters).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType

# --- P5: the text invariant (ksrf.py:154-159) ---------------------------

PAGE_NUMBER_PATTERN = re.compile(r"(?:\x0c\s*\d+|\x0c(?=\s)|\x0c\s*$)", re.IGNORECASE)


def del_np_and_page_nums(text: str) -> str:
    """Plain-Python oracle — reference ``del_NP_and_pageNums`` ksrf.py:158-159."""
    return PAGE_NUMBER_PATTERN.sub("", text)


# --- P7: html -> text (lxml text_content stand-in) -----------------------


class _TextContentParser(HTMLParser):
    """Concatenate every text node, entities resolved — the observable
    behavior of ``lxml.html.document_fromstring(x).text_content()`` on the
    synthetic corpus this engine is tested against (ksrf.py:111-116)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []

    def handle_data(self, data: str) -> None:
        self.parts.append(data)


def html_text_content(markup: str) -> str:
    p = _TextContentParser()
    p.feed(markup)
    p.close()
    return "".join(p.parts)


# --- P9: charset-fallback decode (law_codes.py:96-102 analogue) ----------


def decode_payload(payload: bytes) -> str:
    """utf-8 first; windows-1251 fallback (reference charset recovery,
    law_codes.py:96-102); final utf-8-with-replacement guard so one
    undecodable payload (cp1251 has undefined bytes too, e.g. 0x98)
    degrades that document instead of killing the whole extract task."""
    if payload is None:
        return None
    try:
        return payload.decode("utf-8")
    except UnicodeDecodeError:
        try:
            return payload.decode("windows-1251")
        except UnicodeDecodeError:
            return payload.decode("utf-8", errors="replace")


def extract_text(payload: bytes) -> str:
    """Full reference extraction for one document payload (plain Python)."""
    if payload is None:
        return None
    return del_np_and_page_nums(html_text_content(decode_payload(payload)))


# --- vectorized Arrow UDFs (the engine's hot path) -----------------------


@F.pandas_udf(StringType())
def strip_page_numbers_udf(texts: pd.Series) -> pd.Series:
    sub = PAGE_NUMBER_PATTERN.sub
    return texts.map(lambda t: None if t is None else sub("", t))


@F.pandas_udf(StringType())
def extract_text_udf(payloads: pd.Series) -> pd.Series:
    return payloads.map(extract_text)


# --- P1/P2: listing-row projection (ksrf.py:108-119) ---------------------


class _ListingRowParser(HTMLParser):
    """Collect (cells, first-href-per-row) from listing ``<tr>`` rows —
    the observable shape the reference scrapes from the decisions table
    (ksrf.py:108-119: date = td0, title = td1.strip, key = td2,
    url = td2's first anchor)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.rows: list[tuple[list[str], str | None]] = []
        self._cells: list[str] | None = None
        self._buf: list[str] = []
        self._href: str | None = None
        self._in_td = False
        self._in_a = False

    def handle_starttag(self, tag, attrs):
        if tag == "tr":
            self._cells, self._href = [], None
        elif tag == "td" and self._cells is not None:
            self._in_td, self._buf = True, []
        elif tag == "a" and self._in_td:
            self._in_a = True
            # the decision url is td2's FIRST anchor (ksrf.py:110-115) —
            # links in other cells (e.g. a linked title) must not win
            if self._href is None and len(self._cells) == 2:
                for k, v in attrs:
                    if k == "href":
                        self._href = v

    def handle_endtag(self, tag):
        if tag == "a":
            self._in_a = False
        elif tag == "td" and self._in_td:
            self._cells.append("".join(self._buf))
            self._in_td = False
        elif tag == "tr" and self._cells is not None:
            if self._cells:
                self.rows.append((self._cells, self._href))
            self._cells = None

    def handle_data(self, data):
        # the key lives in the td's own text; anchor label text is not
        # part of it (reference reads td text, href separately)
        if self._in_td and not self._in_a:
            self._buf.append(data)


def parse_listing_rows(markup: str) -> list[dict]:
    """One listing page → header rows (P1 projection + P2 canonical key):
    date, title, raw key, canonical key (spaces stripped + upper,
    ksrf.py:111), decision url."""
    p = _ListingRowParser()
    p.feed(markup)
    p.close()
    out = []
    for cells, href in p.rows:
        if len(cells) < 3:
            continue
        key = cells[2]
        out.append(
            {
                "release_date": cells[0],
                "title": cells[1].strip(),
                "raw_key": key,
                "canonical_key": key.replace(" ", "").upper(),
                "url": href,
            }
        )
    return out


LISTING_ROW_SCHEMA = (
    "release_date string, title string, raw_key string, "
    "canonical_key string, url string"
)


def parse_listing_pages(df, html_col: str = "html", id_cols: list[str] | None = None):
    """Distributed P1: explode each listing page's rows (mapInPandas)."""
    id_cols = id_cols or []

    def run(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                payload = r[html_col]
                markup = payload if isinstance(payload, str) else decode_payload(payload)
                for parsed in parse_listing_rows(markup):
                    parsed.update({c: r[c] for c in id_cols})
                    rows.append(parsed)
            yield pd.DataFrame(
                rows,
                columns=[*id_cols, "release_date", "title", "raw_key", "canonical_key", "url"],
            )

    schema = ", ".join(
        [*(f"{c} long" for c in id_cols), LISTING_ROW_SCHEMA]
    )
    return df.mapInPandas(run, schema)


# --- S5: zip-of-htm payload (law_codes.py:819-836) -----------------------


def unzip_first_member(payload: bytes, suffix: str = ".htm") -> bytes | None:
    """Reference S5 semantics: the export endpoint returns a zip; take the
    first member with the wanted suffix (the reference extracts the first
    ``.htm`` and discards the archive)."""
    import io
    import zipfile

    if payload is None:
        return None
    try:
        with zipfile.ZipFile(io.BytesIO(payload)) as zf:
            for name in zf.namelist():
                if name.endswith(suffix):
                    return zf.read(name)
    except zipfile.BadZipFile:
        return None
    return None


@F.pandas_udf(BinaryType())
def unzip_first_htm_udf(payloads: pd.Series) -> pd.Series:
    return payloads.map(lambda p: unzip_first_member(p))


# --- link discovery (href scan; multi-depth crawl feed) ------------------


def decoded_html(html_col: Column | str) -> Column:
    """BINARY payload → string via the charset-fallback UDF (P9)."""
    c = F.col(html_col) if isinstance(html_col, str) else html_col

    @F.pandas_udf(StringType())
    def decode_udf(payloads: pd.Series) -> pd.Series:
        return payloads.map(decode_payload)

    return decode_udf(c)


def links_from_html(html_str: Column | str) -> Column:
    """All href targets in a page, as ARRAY<STRING> — JVM-side
    ``regexp_extract_all`` over the decoded markup (one Python stage for
    the decode, zero for the scan)."""
    c = F.col(html_str) if isinstance(html_str, str) else html_str
    return F.regexp_extract_all(c, F.lit(r'href="([^"]+)"'), F.lit(1))


# --- P10/P11: Russian date handling (law_codes.py:35-49,:734-739) --------

# genitive month name -> two-digit month, law_codes.py:36-49
MONTH_MAP = {
    "января": "01",
    "февраля": "02",
    "марта": "03",
    "апреля": "04",
    "мая": "05",
    "июня": "06",
    "июля": "07",
    "августа": "08",
    "сентября": "09",
    "октября": "10",
    "ноября": "11",
    "декабря": "12",
}

# law_codes.py:770 sentinel for a redaction that never took effect
NEVER_EFFECTIVE = "не_действовала"


def month_number(month_name: Column | str) -> Column:
    """JVM-side month-name map (literal create_map + element_at)."""
    c = F.col(month_name) if isinstance(month_name, str) else month_name
    pairs: list[Column] = []
    for k, v in MONTH_MAP.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    return F.element_at(F.create_map(*pairs), F.lower(c))
