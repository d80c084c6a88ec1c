"""A crash at any boundary of a wave loses nothing and duplicates nothing.

A wave is one publish of the crawl catalog (documents, seen, done and
metrics together), then one transaction of the band-index catalog
(``bands``, then ``sigs``). Each case raises once at one point of wave 1
of the planted-pairs crawl (``helpers.planted_pages``: 12 near-dup pairs
straddling the waves), then finishes the crawl either with a fresh
engine on the same roots (a restart) or on the same engine (an
in-process retry). The documents ``(url, wave, text)``, done ``(url,
retire_status, wave)``, seen ``key_hash`` and every wave's near-dup
pairs must equal those of an uninterrupted crawl, which is built once
per module.
"""

from __future__ import annotations

import shutil

import pytest
from helpers import index_engine, planted_pages, seeds_of

from judyst_web_crawler_spark.operators.frontier import (
    DOCS_TABLE,
    DONE_TABLE,
    METRICS_TABLE,
    SEEN_TABLE,
    FrontierEngine,
)
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

BUDGET = 7


class InjectedCrash(RuntimeError):
    pass


def _state(eng, cat):
    docs = cat.read(DOCS_TABLE)
    waves = sorted(r["wave"] for r in docs.select("wave").distinct().collect())
    return {
        "documents": sorted(tuple(r) for r in docs.select("url", "wave", "text").collect()),
        "done": sorted(tuple(r) for r in cat.read(DONE_TABLE).select("url", "retire_status", "wave").collect()),
        "seen": sorted(r["key_hash"] for r in cat.read(SEEN_TABLE).collect()),
        "pairs": {
            w: {tuple(p) for p in eng.near_dups_of_wave(w, threshold=0.5).select("id_a", "id_b").collect()}
            for w in waves
        },
    }


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    """(pages, the roots after bootstrap + wave 0, the uninterrupted
    crawl's final state)."""
    pages = planted_pages(spark)
    wave0 = tmp_path_factory.mktemp("wave0")
    eng, _cat = index_engine(spark, wave0)
    eng.bootstrap(seeds_of(pages))
    assert eng.run_wave(pages, budget=BUDGET)["wave"] == 0
    ref = tmp_path_factory.mktemp("ref")
    for d in ("cat", "idx"):
        shutil.copytree(wave0 / d, ref / d)
    eng, cat = index_engine(spark, ref)
    eng.run(pages, budget=BUDGET)
    want = _state(eng, cat)
    assert any(want["pairs"][w] for w in want["pairs"] if w > 1)
    yield pages, wave0, want
    pages.unpersist()


# point → (owner, method, does this call crash?, published before it)
POINTS = {
    "documents": (SnapshotCatalog, "append", lambda c, name, *_: c.root.endswith("cat") and name == DOCS_TABLE, False),
    "seen": (SnapshotCatalog, "append", lambda c, name, *_: c.root.endswith("cat") and name == SEEN_TABLE, False),
    "done": (SnapshotCatalog, "append", lambda c, name, *_: c.root.endswith("cat") and name == DONE_TABLE, False),
    "metrics": (SnapshotCatalog, "append", lambda c, name, *_: c.root.endswith("cat") and name == METRICS_TABLE, False),
    "publish": (SnapshotCatalog, "_publish", lambda c, *_: c.root.endswith("cat"), False),
    "before_index": (FrontierEngine, "_commit_wave_sigs_to_index", lambda *_: True, True),
    "bands": (SnapshotCatalog, "append", lambda c, name, *_: c.root.endswith("idx") and name == "bands", True),
    "index": (SnapshotCatalog, "append", lambda c, name, *_: c.root.endswith("idx") and name == "sigs", True),
}


@pytest.mark.parametrize("resume", ["restart", "retry"])
@pytest.mark.parametrize("point", list(POINTS))
def test_crash_in_wave_equals_uninterrupted(spark, tmp_path, monkeypatch, crawl, point, resume):
    pages, wave0, want = crawl
    for d in ("cat", "idx"):
        shutil.copytree(wave0 / d, tmp_path / d)
    eng, cat = index_engine(spark, tmp_path)
    owner, method, hits, published = POINTS[point]
    inner = getattr(owner, method)

    def crash_once(self, *args, **kwargs):
        if hits(self, *args):
            monkeypatch.undo()
            raise InjectedCrash(point)
        return inner(self, *args, **kwargs)

    monkeypatch.setattr(owner, method, crash_once)
    with pytest.raises(InjectedCrash):
        eng.run_wave(pages, budget=BUDGET)
    monkeypatch.undo()
    # wave 1 is visible whole or not at all; the index never has it
    assert cat.last_wave() == (1 if published else 0)
    assert {r["wave"] for r in cat.read(DOCS_TABLE).select("wave").distinct().collect()} == (
        {0, 1} if published else {0}
    )
    assert SnapshotCatalog(spark, str(tmp_path / "idx")).last_wave() == 0

    if resume == "restart":
        eng, cat = index_engine(spark, tmp_path)
    eng.run(pages, budget=BUDGET)
    assert _state(eng, cat) == want
