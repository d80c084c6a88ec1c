"""Every correctness check passes on good outputs and catches a planted
fault."""

import pandas as pd
import pytest

from perfbench import checks as CK


@pytest.fixture
def crawl():
    oracle = pd.DataFrame({"url": ["u1", "u2", "u3"], "text": ["a", "b\x0cc", "д"]})
    docs = pd.DataFrame(
        {
            "url": ["u1", "u2", "u3"],
            "host": ["h1", "h1", "h2"],
            "wave": [0, 0, 1],
            "key_hash": [11, 12, 13],
            "text": ["a", "b\x0cc", "д"],
        }
    )
    done = pd.DataFrame(
        {
            "url": ["u1", "u2", "u3", "U1", "x"],
            "retire_status": ["scheduled", "scheduled", "scheduled", "dup", "robots_denied"],
        }
    )
    seeds = {"u1", "u2", "u3", "U1", "x"}
    expected = {"scheduled": 3, "dup": 1, "robots_denied": 1, "fetch_miss": 0}
    return oracle, docs, done, seeds, expected


def test_all_checks_pass_on_good_outputs(crawl):
    oracle, docs, done, seeds, expected = crawl
    assert CK.text_identical(docs, oracle).ok
    assert CK.docs_unique_per_url(docs).ok
    assert CK.seeds_retired_once(done, seeds).ok
    assert CK.status_counts(done, expected).ok
    assert CK.seen_equals_scheduled(pd.Series([13, 12, 11]), docs["key_hash"]).ok
    check, over = CK.host_budget(docs, budget=2)
    assert check.ok and over == 0


def test_text_identical_catches_one_changed_byte(crawl):
    oracle, docs, *_ = crawl
    docs.loc[1, "text"] = "b c"
    c = CK.text_identical(docs, oracle)
    assert not c.ok and "u2" in c.detail


def test_text_identical_catches_unknown_url(crawl):
    oracle, docs, *_ = crawl
    docs.loc[2, "url"] = "u9"
    assert not CK.text_identical(docs, oracle).ok


def test_docs_unique_catches_refetch(crawl):
    _, docs, *_ = crawl
    docs = pd.concat([docs, docs.iloc[[0]]], ignore_index=True)
    assert not CK.docs_unique_per_url(docs).ok


@pytest.mark.parametrize("fault", ["twice", "missing", "extra"])
def test_seeds_retired_once_catches(crawl, fault):
    _, _, done, seeds, _ = crawl
    if fault == "twice":
        done = pd.concat([done, done.iloc[[3]]], ignore_index=True)
    elif fault == "missing":
        done = done.iloc[:-1]
    else:
        done = pd.concat([done, pd.DataFrame({"url": ["zz"], "retire_status": ["dup"]})], ignore_index=True)
    assert not CK.seeds_retired_once(done, seeds).ok


def test_status_counts_catches_wrong_branch(crawl):
    _, _, done, _, expected = crawl
    done.loc[4, "retire_status"] = "fetch_miss"
    assert not CK.status_counts(done, expected).ok


def test_seen_equals_scheduled_catches_missing_and_duplicate_keys(crawl):
    _, docs, *_ = crawl
    assert not CK.seen_equals_scheduled(pd.Series([11, 12]), docs["key_hash"]).ok
    assert not CK.seen_equals_scheduled(pd.Series([11, 12, 13, 13]), docs["key_hash"]).ok
    assert not CK.seen_equals_scheduled(pd.Series([11, 12, 13, 99]), docs["key_hash"]).ok


def test_host_budget_catches_overfull_wave(crawl):
    _, docs, *_ = crawl
    check, over = CK.host_budget(docs, budget=1)
    assert not check.ok and over == 1


def test_mirror_pairs_requires_exactly_the_planted_pairs():
    planted = {(1, 2), (3, 4)}
    ok, recall = CK.mirror_pairs({(2, 1), (3, 4)}, planted)
    assert ok.ok and recall == 1.0
    miss, recall = CK.mirror_pairs({(1, 2)}, planted)
    assert not miss.ok and recall == 0.5
    extra, recall = CK.mirror_pairs({(1, 2), (3, 4), (5, 6)}, planted)
    assert not extra.ok and recall == 1.0


def test_mirrors_differ_catches_mirror_equal_to_base():
    assert CK.mirrors_differ([("http://h/ru/Decision/a", "http://h/ru/mirror/a")]).ok
    assert not CK.mirrors_differ([("http://h/a", "http://h/a")]).ok
    assert not CK.mirrors_differ([]).ok


def test_rows_match_is_order_insensitive_and_catches_a_changed_value():
    a = pd.DataFrame({"k": [1, 2], "v": [0.1 + 0.2, -0.0]})
    b = pd.DataFrame({"v": [0.0, 0.3], "k": [2, 1]})
    assert CK.rows_match("q", a, b).ok
    b.loc[0, "v"] = 0.5
    assert not CK.rows_match("q", a, b).ok
    assert not CK.rows_match("q", a, b.rename(columns={"v": "w"})).ok
