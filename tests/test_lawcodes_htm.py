"""NON-CIRCULAR saved-HTM splitter parity (X1/X2/X3/X4).

The oracle here is the REFERENCE'S OWN CODE: law_codes.py's
split_saved_htm / get_paras_and_titles_from_saved_htm /
clear_splitted_htm_and_get_plus_add_cons_notes /
build_article_subheaders_treeItem are pure regex/string functions, so the
test loads the reference module from /root/reference (read-only, executed
only inside this test — never shipped) with a minimal lxml stub whose
``text_content``/``xpath('//div')`` reproduce lxml's observable behavior
on the flat saved-HTM lines these functions consume, and asserts the
engine's output equals the reference's on synthetic HTM fixtures.

Scope of the claim: CONTROL-FLOW parity (block boundaries, line
classification, deletion/harvest order, subheader derivation) is
non-circular — the reference's own loops run. The text-extraction layer
inside both sides goes through ``html_text_content`` (real lxml is not
installable here), so that layer is pinned separately by GOLDEN literal
strings: ``test_text_layer_golden_strings`` below and
tests/test_extraction_parity.py.

The parity tests skip when the reference checkout is absent. The golden
pins (``test_*_golden``) always run: tests/data/lawcodes_htm_golden.json
holds the output, on the same fixtures, of the splitter code that last
passed the parity tests, so a splitter, cleaner or subheader regression
fails without the reference. Refresh that file only from a run whose
parity tests pass."""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import sys
import types
from pathlib import Path

import pytest

from judyst_web_crawler_spark.functions.extraction import html_text_content
from judyst_web_crawler_spark.operators import lawcodes_htm as H

_DIV_RE = re.compile(r"<div\b[^>]*>[\s\S]*?</div>")


class _FakeElement:
    """lxml stand-in for the two methods the reference's pure functions
    call: text_content() and xpath('//div') (flat divs only — exactly
    the shape of the saved-HTM note/text lines)."""

    def __init__(self, markup: str) -> None:
        self._markup = markup

    def text_content(self) -> str:
        return html_text_content(self._markup)

    def xpath(self, query: str):
        assert query == "//div"
        return [_FakeElement(m.group(0)) for m in _DIV_RE.finditer(self._markup)]


@pytest.fixture(scope="module")
def ref():
    # stub lxml only while the reference module executes, and restore
    # sys.modules afterwards — leaking the stub would hand it to any
    # later test importing lxml in the same session
    saved = {name: sys.modules.get(name) for name in ("lxml", "lxml.html")}
    fake_html = types.ModuleType("lxml.html")
    fake_html.document_fromstring = _FakeElement
    fake_lxml = types.ModuleType("lxml")
    fake_lxml.html = fake_html
    sys.modules["lxml"] = fake_lxml
    sys.modules["lxml.html"] = fake_html
    try:
        path = "/root/reference/web_crawler/law_codes.py"
        if not os.path.exists(path):
            pytest.skip("reference checkout absent")
        with open(path, encoding="utf-8") as f:
            src = f.read()
        # Python ≥3.11 rejects mid-pattern (?i); on the Pythons the reference
        # targeted it was promoted to a GLOBAL flag — hoist it to the start,
        # which is the exact compiled behavior (same analysis as the
        # pageNumberPattern note in functions/extraction.py).
        src = src.replace("(?<=(?i)", "(?i)(?<=")
        mod = types.ModuleType("ref_law_codes")
        mod.__file__ = path
        exec(compile(src, path, "exec"), mod.__dict__)
        yield mod
    finally:
        for name, old in saved.items():
            if old is None:
                sys.modules.pop(name, None)
            else:
                sys.modules[name] = old


EMPTY = '<div class="aB cD eF"></div>'


def make_htm() -> str:
    """Synthetic consultant.ru-style saved-HTM: contents table + heading /
    article blocks exercising every line class: empty lines, non-article
    and article headings, redaction notes, cons-notes, tables, parts and
    a trailing Примечание."""
    contents = [
        '<div class="co nt en">Содержание</div>',
        '<p><a href="#Par10">Глава 1. Общие положения</a></p>',
        '<p><a href="#Par20">Статья 1. Основания</a></p>',
        '<p><a href="#Par30">Статья 2. Части и примечание</a></p>',
        '<p><a href="#Par40">&sect; 1. Параграф &quot;особый&quot;</a></p>',
        '<table border="0"><tr><td>конец оглавления</td></tr></table>',
    ]
    body = [
        EMPTY,
        '<div class="s2B aC bH"><a id="Par10"></a>Глава 1. Общие положения</div>',
        EMPTY,
        '<div class="s2B aJ bH"><a id="Par20"></a>Статья 1. Основания</div>',
        '<div class="s0 aJ bG">Единственный абзац статьи 1.</div>',
        EMPTY,
        '<div class="s2B aJ bH"><a id="Par30"></a>Статья 2. Части и примечание</div>',
        '<div class="s0 aJ bG">(в ред. Федерального закона N 99-ФЗ)</div>',
        '<td class="bD"><div>КонсультантПлюс: примечание.</div>'
        "<div>О порядке применения см. справку.</div></td>",
        '<div class="s0 aJ bG">1. Часть первая статьи 2.</div>',
        '<div class="s0 aJ bG">2. Часть вторая статьи 2.</div>',
        '<td class="bD"><div>Прим. к части 3</div></td>',
        '<div class="s0 aJ bG">3. Часть третья статьи 2.</div>',
        '<div class="s0 aJ bG">Примечание. Пояснение к статье 2.</div>',
        EMPTY,
        '<div class="s2B aC bH"><a id="Par40"></a>§ 1. Параграф "особый"</div>',
        EMPTY,
        '<div class="fo ot er">конец документа</div>',
    ]
    return "\n".join(contents + body)


def make_htm_with_table() -> str:
    """Variant with a 4-line table block before the article body (the
    empty→table→…→empty deletion path of the cleaner)."""
    contents = [
        '<div class="co nt en">Содержание</div>',
        '<p><a href="#Par50">Статья 7. С таблицей</a></p>',
        '<table border="0"><tr><td>x</td></tr></table>',
    ]
    body = [
        EMPTY,
        '<div class="s2B aJ bH"><a id="Par50"></a>Статья 7. С таблицей</div>',
        EMPTY,
        '<table border="0">',
        '<tr style="a"><td>шапка</td></tr>',
        '<tr style="b"><td>строка</td></tr>',
        EMPTY,
        '<div class="s0 aJ bG">1. Часть после таблицы.</div>',
        '<div class="s0 aJ bG">2. Вторая часть.</div>',
        EMPTY,
        '<div class="fo ot er">конец</div>',
    ]
    return "\n".join(contents + body)


# ------------------------------------------------------------- X1 parity


@pytest.mark.parametrize("builder", [make_htm, make_htm_with_table])
def test_contents_titles_match_reference(ref, builder):
    htm = builder()
    assert H.contents_titles(htm) == ref._BaseCode.get_paras_and_titles_from_saved_htm(htm)


@pytest.mark.parametrize("builder", [make_htm, make_htm_with_table])
def test_split_saved_htm_matches_reference(ref, builder):
    htm = builder()
    got = H.split_saved_htm(htm)
    want = ref._BaseCode.split_saved_htm(htm)
    assert set(got) == set(want)
    for title in want:
        assert got[title]["htm_par_num"] == want[title]["htmParNum"], title
        assert got[title]["type"] == want[title]["type"], title
        assert got[title]["lines"] == want[title]["lines"], title


def test_split_types_and_unescape():
    got = H.split_saved_htm(make_htm())
    assert got["Глава 1. Общие положения"]["type"] == "not СТ"
    assert got["Статья 2. Части и примечание"]["type"] == "СТ"
    # &sect;/&quot; unescaped in titles (law_codes.py:489-491)
    assert '§ 1. Параграф "особый"' in got


# ------------------------------------------------------------- X2 parity


@pytest.mark.parametrize("builder", [make_htm, make_htm_with_table])
def test_clean_block_matches_reference(ref, builder):
    htm = builder()
    mine = H.split_saved_htm(htm)
    theirs = ref._BaseCode.split_saved_htm(htm)
    ref._BaseCode.clear_splitted_htm_and_get_plus_add_cons_notes(theirs)
    for title in theirs:
        lines, cons, rd = H.clean_block(mine[title]["lines"])
        assert lines == theirs[title]["lines"], title
        assert cons == theirs[title].get("cons_note"), title
        assert rd == theirs[title].get("redaction_note"), title


def test_clean_block_harvests_notes():
    got = H.split_saved_htm(make_htm())
    lines, cons, rd = H.clean_block(got["Статья 2. Части и примечание"]["lines"])
    assert rd == "(в ред. Федерального закона N 99-ФЗ)"
    assert cons == "КонсультантПлюс: примечание.\nО порядке применения см. справку."
    # the pre-body redaction/cons-note lines are gone
    assert not any(ln.startswith('<td class="bD') and "КонсультантПлюс" in ln for ln in lines)


def test_clean_block_deletes_table_rows():
    got = H.split_saved_htm(make_htm_with_table())
    lines, _, _ = H.clean_block(got["Статья 7. С таблицей"]["lines"])
    assert not any(ln.startswith("<table border") or ln.startswith("<tr style") for ln in lines)


# ---------------------------------------------------------- X3/X4 parity


def _parent_header(ref_mod=None):
    return {
        "supertype": "УКРФ",
        "doc_type": "УКРФ/СТ",
        "absolute_path": "УКРФ/РЕД-N1-01.01.2020/СТ-2",
        "interredaction_id": "УКРФ/СТ-2",
        "title": "Статья 2. Части и примечание",
        "release_date": "01.01.2020",
        "effective_date": "02.01.2020",
        "text_source_url": "f.htm#Par30",
        "cons_selected_info": {
            "rd_doc_number": "111",
            "rd_doc_link": "http://x/doc",
            "intext_label": "30",
            "redaction_comparison_link": "http://x/cmp",
            "attached_titles": ["Статья 2. Части и примечание", "УК РФ"],
        },
    }


def test_article_subheaders_match_reference(ref):
    htm = make_htm()
    theirs = ref._BaseCode.split_saved_htm(htm)
    ref._BaseCode.clear_splitted_htm_and_get_plus_add_cons_notes(theirs)
    key = "УКРФ/РЕД-N1-01.01.2020/СТ-2"
    ref._BaseCode.codeHeaders = {key: _parent_header()}
    ref._BaseCode.build_article_subheaders_treeItem(
        {key: theirs["Статья 2. Части и примечание"]["lines"]}, key
    )
    ref_children = {k: v for k, v in ref._BaseCode.codeHeaders.items() if k != key}

    lines, _, _ = H.clean_block(
        H.split_saved_htm(htm)["Статья 2. Части и примечание"]["lines"]
    )
    note, parts = H.split_article_children(H.article_entries(lines))
    children = ([note] if note else []) + parts
    mine = {}
    parent = _parent_header()
    for c in children:
        sign_full = c["sign"]
        sign = sign_full.split("-")[0]
        h = {
            "supertype": parent["supertype"],
            "doc_type": f"{parent['doc_type']}/{sign}",
            "absolute_path": f"{parent['absolute_path']}/{sign_full}",
            "interredaction_id": f"{parent['interredaction_id']}/{sign_full}",
            "title": c["title"],
            "release_date": parent["release_date"],
            "effective_date": parent["effective_date"],
            "text_source_url": parent["text_source_url"],
            "cons_selected_info": {
                "rd_doc_number": parent["cons_selected_info"]["rd_doc_number"],
                "rd_doc_link": parent["cons_selected_info"]["rd_doc_link"],
                "intext_label": parent["cons_selected_info"]["intext_label"],
                "redaction_comparison_link": parent["cons_selected_info"][
                    "redaction_comparison_link"
                ],
                "attached_titles": [c["title"]]
                + parent["cons_selected_info"]["attached_titles"],
            },
            "text": c["text"],
        }
        if c.get("redaction_note") is not None:
            h["cons_selected_info"]["redaction_note"] = c["redaction_note"]
        if c.get("cons_note") is not None:
            h["cons_selected_info"]["cons_note"] = c["cons_note"]
        mine[f"{key}/{sign_full}"] = h

    assert set(mine) == set(ref_children)
    for k in ref_children:
        assert mine[k] == ref_children[k], k


def test_expected_children_shape():
    lines, _, _ = H.clean_block(
        H.split_saved_htm(make_htm())["Статья 2. Части и примечание"]["lines"]
    )
    note, parts = H.split_article_children(H.article_entries(lines))
    assert note is not None and note["title"] == "Примечание"
    assert note["text"] == "Примечание. Пояснение к статье 2."
    assert [p["sign"] for p in parts] == ["Ч-1", "Ч-2", "Ч-3"]
    # the cons-note line preceding part 3 rides along on that part
    assert parts[2]["cons_note"] == "Прим. к части 3"
    assert parts[0]["cons_note"] is None


def test_single_entry_article_has_no_children():
    lines, _, _ = H.clean_block(
        H.split_saved_htm(make_htm())["Статья 1. Основания"]["lines"]
    )
    note, parts = H.split_article_children(H.article_entries(lines))
    assert note is None and parts == []


def _random_htm(rng) -> str:
    """Random-but-valid saved-HTM from the line-class alphabet: every
    heading's Par id appears in the contents, the document never ends on
    an empty-class line (the reference livelocks there), and bodies mix
    article text, parts, notes, redaction notes, tables and empties."""
    n_blocks = rng.randint(1, 5)
    contents = ['<div class="co nt en">Содержание</div>']
    body = []
    for b in range(n_blocks):
        par = 10 * (b + 1)
        kind = rng.choice(["art", "head"])
        title = (f"Статья {b + 1}. Б{b}" if kind == "art" else f"Глава {b + 1}. Б{b}")
        contents.append(f'<p><a href="#Par{par}">{title}</a></p>')
        prefix = '<div class="s2B aJ bH' if kind == "art" else '<div class="s2B aC bH'
        body.append(EMPTY)
        body.append(f'{prefix}"><a id="Par{par}"></a>{title}</div>')
        for _ in range(rng.randint(0, 6)):
            roll = rng.random()
            if roll < 0.35:
                num = rng.randint(1, 9)
                body.append(f'<div class="s0 aJ bG">{num}. Часть номер {num}.</div>')
            elif roll < 0.5:
                body.append('<div class="s0 aJ bG">Просто абзац текста.</div>')
            elif roll < 0.6:
                body.append('<div class="s0 aJ bG">(в ред. закона N 1-ФЗ)</div>')
            elif roll < 0.7:
                body.append('<td class="bD"><div>прим. конс.</div></td>')
            elif roll < 0.8:
                body.append('<div class="s0 aJ bG">Примечание. Пояснение.</div>')
            elif roll < 0.9:
                body.append('<table border="0">')
                body.append('<tr style="x"><td>строка</td></tr>')
            else:
                body.append(EMPTY)
    contents.append('<table border="0"><tr><td>x</td></tr></table>')
    body.append(EMPTY)
    body.append('<div class="fo ot er">конец</div>')
    return "\n".join(contents + body)


def test_fuzz_split_and_clean_parity(ref):
    """50 seeded random documents through BOTH implementations: the
    split blocks AND the cleaned lines + harvested notes must be equal.
    This is the property-based extension of the fixture parity above."""
    for seed in range(50):
        rng = random.Random(seed)
        htm = _random_htm(rng)
        mine = H.split_saved_htm(htm)
        theirs = ref._BaseCode.split_saved_htm(htm)
        assert set(mine) == set(theirs), f"seed {seed}"
        for t in theirs:
            assert mine[t]["lines"] == theirs[t]["lines"], f"seed {seed}: {t}"
            assert mine[t]["htm_par_num"] == theirs[t]["htmParNum"], f"seed {seed}: {t}"
            assert mine[t]["type"] == theirs[t]["type"], f"seed {seed}: {t}"
        ref._BaseCode.clear_splitted_htm_and_get_plus_add_cons_notes(theirs)
        for t in theirs:
            lines, cons, rd = H.clean_block(mine[t]["lines"])
            assert lines == theirs[t]["lines"], f"seed {seed}: {t}"
            assert cons == theirs[t].get("cons_note"), f"seed {seed}: {t}"
            assert rd == theirs[t].get("redaction_note"), f"seed {seed}: {t}"


# ------------------------------------------------------------ golden pins

GOLDEN = json.loads(
    (Path(__file__).parent / "data" / "lawcodes_htm_golden.json").read_text(encoding="utf-8")
)


def _engine_view(htm: str) -> dict:
    """Everything the reference-parity tests compare, engine side only:
    contents titles (X1), split blocks (X1), cleaned lines + harvested
    notes (X2) and each article's note/part children (X3/X4)."""
    blocks = {}
    for title, block in H.split_saved_htm(htm).items():
        lines, cons, rd = H.clean_block(block["lines"])
        children = []
        if block["type"] == "СТ":
            note, parts = H.split_article_children(H.article_entries(lines))
            children = ([note] if note else []) + parts
        blocks[title] = {
            "htm_par_num": block["htm_par_num"],
            "type": block["type"],
            "lines": block["lines"],
            "clean_lines": lines,
            "cons_note": cons,
            "redaction_note": rd,
            "children": children,
        }
    return {"contents_titles": H.contents_titles(htm), "blocks": blocks}


@pytest.mark.parametrize("builder", [make_htm, make_htm_with_table])
def test_fixture_output_golden(builder):
    assert _engine_view(builder()) == GOLDEN[builder.__name__]


def test_fuzz_split_and_clean_golden():
    """The 50 seeded random documents of the fuzz parity test, one
    digest of the engine's view per seed."""
    got = []
    for seed in range(50):
        view = _engine_view(_random_htm(random.Random(seed)))
        blob = json.dumps(view, ensure_ascii=False, sort_keys=True).encode("utf-8")
        got.append(hashlib.sha256(blob).hexdigest()[:16])
    assert got == GOLDEN["fuzz_sha256_16"]


def test_text_layer_golden_strings():
    """Pin the text layer with literal expectations — lxml text_content
    behavior on the saved-HTM line shapes (entities, nested tags,
    numeric charrefs). The parity tests above share html_text_content on
    both sides, so this is where a text-extraction regression surfaces."""
    assert (
        html_text_content('<div class="s0 aJ bG">1. Часть &quot;A&quot; &amp; B.</div>')
        == '1. Часть "A" & B.'
    )
    assert (
        html_text_content('<div class="s0 aJ bG">до <span>середины</span> после</div>')
        == "до середины после"
    )
    assert html_text_content("<div>&#167; 5 &#x2014; тире</div>") == "§ 5 — тире"
    assert (
        H.cons_note_text(
            '<td class="bD"><div>первый</div><div> второй </div></td>'
        )
        == "первый\nвторой"
    )


def test_split_terminates_on_trailing_empty_line():
    """A document ENDING in an empty-class line makes the reference loop
    forever (phase B never reaches the j == len-1 branch). The engine
    must terminate with the same blocks recorded and linear cost."""
    contents = [
        '<div class="co nt en">Содержание</div>',
        '<p><a href="#Par60">Статья 9. Хвост</a></p>',
        '<table border="0"><tr><td>x</td></tr></table>',
    ]
    body = [
        EMPTY,
        '<div class="s2B aJ bH"><a id="Par60"></a>Статья 9. Хвост</div>',
        '<div class="s0 aJ bG">1. Единственная часть.</div>',
        EMPTY,  # trailing empty line — reference livelocks here
    ]
    htm = "\n".join(contents + body)
    got = H.split_saved_htm(htm)
    assert set(got) == {"Статья 9. Хвост"}
    assert got["Статья 9. Хвост"]["type"] == "СТ"
    # padding with more trailing empties must stay cheap (no O(n²) rescans)
    big = "\n".join(contents + body + [EMPTY] * 5000)
    import time

    t0 = time.monotonic()
    got_big = H.split_saved_htm(big)
    assert time.monotonic() - t0 < 2.0
    assert set(got_big) == {"Статья 9. Хвост"}


# ----------------------------------------------------------- Spark path


def test_split_saved_htm_df(spark):
    df = spark.createDataFrame(
        [(1, make_htm()), (2, make_htm_with_table())], "doc_id long, htm string"
    )
    rows = {(r["doc_id"], r["title"]): r for r in H.split_saved_htm_df(df).collect()}
    want = H.split_saved_htm(make_htm())
    assert {t for (d, t) in rows if d == 1} == set(want)
    r = rows[(1, "Статья 2. Части и примечание")]
    assert r["block_type"] == "СТ"
    assert r["redaction_note"] == "(в ред. Федерального закона N 99-ФЗ)"
    lines, cons, rd = H.clean_block(want["Статья 2. Части и примечание"]["lines"])
    assert list(r["lines"]) == lines and r["cons_note"] == cons


def test_article_children_htm_df(spark):
    df = spark.createDataFrame([(1, make_htm())], "doc_id long, htm string")
    out = H.article_children_htm(H.split_saved_htm_df(df)).collect()
    by_sign = {r["sign"]: r for r in out if r["parent_title"].startswith("Статья 2")}
    assert set(by_sign) == {"ПРМ", "Ч-1", "Ч-2", "Ч-3"}
    assert by_sign["Ч-3"]["cons_note"] == "Прим. к части 3"
    assert by_sign["ПРМ"]["child_title"] == "Примечание"
    # single-entry СТ-1 and non-article blocks yield nothing
    assert all(r["parent_title"].startswith("Статья 2") for r in out)


def test_header_struct_jsonlines_roundtrip(spark, tmp_path):
    """X4 → S9/S10: the 9-field typed header struct survives a jsonlines
    write/read round trip with the cons_selected_info nesting intact
    (structs in the engine, JSON only at sinks — SURVEY §1.4)."""
    from pyspark.sql import functions as F

    from judyst_web_crawler_spark.sources.jsonio import write_headers_jsonlines

    meta = spark.createDataFrame(
        [("УКРФ_ЧК-1", "УКРФ", "Редакция 1", "01.01.2020", "02.01.2020",
          111, 1, "n", 110)],
        "code_part_key string, supertype string, title string, "
        "release_date string, effective_date_raw string, rd_doc_number int, "
        "rd_number int, rd_type string, prev_rd_doc_num int",
    )
    hdr = H.redaction_header_cols(meta).withColumns(
        {
            "text_source_url": F.lit("f.htm#Par0"),
            "attached_titles": F.array(F.lit("Редакция 1"), F.lit("УК РФ")),
        }
    )
    out = hdr.select(F.col("doc_id"), H.header_struct(hdr).alias("header"))
    path = str(tmp_path / "headers")
    write_headers_jsonlines(out, path)
    back = spark.read.json(path)
    row = back.collect()[0]
    assert row["doc_id"] == "УКРФ_ЧК-1/РЕД-N1-02.01.2020"
    h = row["header"]
    assert h["supertype"] == "УКРФ" and h["effective_date"] == "02.01.2020"
    assert not h["never_effective"]
    assert list(h["cons_selected_info"]["attached_titles"]) == ["Редакция 1", "УК РФ"]
    assert "diff=110" in h["cons_selected_info"]["redaction_comparison_link"]


def test_header_build_and_subheader_inheritance(spark):
    from pyspark.sql import functions as F

    meta = spark.createDataFrame(
        [
            ("УКРФ_ЧК-1", "УКРФ", "Уголовный кодекс", "01.01.2020",
             "02.01.2020", 111, 1, "n", 110),
            ("УКРФ_ЧК-1", "УКРФ", "Уголовный кодекс", "01.03.2020",
             "не_действовала", 112, 2, "e", 111),
        ],
        "code_part_key string, supertype string, title string, "
        "release_date string, effective_date_raw string, rd_doc_number int, "
        "rd_number int, rd_type string, prev_rd_doc_num int",
    )
    hdr = H.redaction_header_cols(meta)
    rows = {r["rd_number"]: r for r in hdr.collect()}
    assert rows[1]["doc_id"] == "УКРФ_ЧК-1/РЕД-N1-02.01.2020"
    # sentinel → NULL + flag; the PATH keeps the sentinel (reference :772)
    assert rows[2]["doc_id"] == "УКРФ_ЧК-1/РЕД-N2-не_действовала"
    assert rows[2]["effective_date"] is None and rows[2]["never_effective"]
    assert not rows[1]["never_effective"]
    # comparison link flips n/diff on rd_type (law_codes.py:844-857)
    assert "n=111&diff=110" in rows[1]["redaction_comparison_link"]
    assert "n=111&diff=112" in rows[2]["redaction_comparison_link"]

    parents = hdr.withColumns(
        {
            "text_source_url": F.lit("f.htm#Par30"),
            "attached_titles": F.array(F.col("title"), F.lit("УК РФ")),
            "title": F.lit("Статья 2. Части и примечание"),
            "doc_id_join": F.lit(1),
        }
    ).filter(F.col("rd_number") == 1).withColumn("doc_id", F.lit(1))
    children = spark.createDataFrame(
        [(1, "Статья 2. Части и примечание", "Ч-1", "1", "Часть 1", "1. Текст.", None, None)],
        "doc_id long, parent_title string, sign string, child_num string, "
        "child_title string, text string, cons_note string, redaction_note string",
    )
    sub = H.subheader_cols(children, parents).collect()[0]
    assert sub["doc_type"] == "УКРФ/ЧАСТЬ/РЕД/Ч"
    assert sub["absolute_path"].endswith("/Ч-1")
    assert list(sub["attached_titles"])[0] == "Часть 1"
    assert sub["release_date"] == "01.01.2020"
