"""Canonicalization / key-derivation column expressions.

Pure built-in Column expressions — JVM-side, whole-stage-codegen'd, no
Python in the hot path. These are the normalizations the seen-filter
hashes (SURVEY.md §2.2 P2/P3/P4/P12):

- canonical_key:   reference ksrf.py:111  ``text.replace(' ','').upper()``
- decision_id:     reference ksrf.py:112  ``'КСРФ/' + key``
- doc_type:        reference ksrf.py:88-90,113  typePattern first match
- pdf_number:      reference ksrf.py:92   ``(?<=[A-Za-z])\\d+`` first match
- text_location:   reference ksrf.py:151-152  ``doc_id.replace('/','_')+'.txt'``
- url host / key hash: engine-added (frontier partitioning + seen-set).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Reference typePattern (ksrf.py:88-90): a Cyrillic token followed by
# -digit, '/', '.', or digit. Java regex supports the same lookaheads and
# Cyrillic classes; parity covered by tests/test_canonical.py.
TYPE_PATTERN = (
    r"(?:[А-Яа-я][-А-Яа-я]*(?=-\d)|"
    r"[А-Яа-я][-А-Яа-я]*(?=/)|[А-Яа-я][-А-Яа-я]*(?=\.)|"
    r"[А-Яа-я][-А-Яа-я]*(?=\d))"
)

# Reference pdfNumberPattern (ksrf.py:92) is ``(?<=[A-Za-z])\d+``; we use
# the capture-group formulation (identical first-match semantics, and it
# also runs on lookbehind-free engines like DuckDB/RE2 for the oracle).
PDF_NUMBER_PATTERN = r"[A-Za-z](\d+)"

DEFAULT_SOURCE_PREFIX = "КСРФ"


def canonical_key(raw: Column | str) -> Column:
    """ksrf.py:111 — strip spaces, uppercase."""
    c = F.col(raw) if isinstance(raw, str) else raw
    return F.upper(F.regexp_replace(c, " ", ""))


def decision_id(key: Column | str, prefix: str = DEFAULT_SOURCE_PREFIX) -> Column:
    """ksrf.py:112 — hierarchical id ``<prefix>/<key>``."""
    c = F.col(key) if isinstance(key, str) else key
    return F.concat(F.lit(prefix + "/"), c)


def doc_type(key: Column | str, prefix: str = DEFAULT_SOURCE_PREFIX) -> Column:
    """ksrf.py:113 — ``<prefix>/<first typePattern match of key>``."""
    c = F.col(key) if isinstance(key, str) else key
    return F.concat(F.lit(prefix + "/"), F.regexp_extract(c, TYPE_PATTERN, 0))


def pdf_number(url: Column | str) -> Column:
    """ksrf.py:92,128,140 — first digit-run preceded by an ASCII letter."""
    c = F.col(url) if isinstance(url, str) else url
    return F.regexp_extract(c, PDF_NUMBER_PATTERN, 1)


def dup_doc_id(key: Column | str, url: Column | str) -> Column:
    """ksrf.py:127-128,139-140 — re-keyed duplicate id ``key/<pdfnum>-DUP``."""
    k = F.col(key) if isinstance(key, str) else key
    return F.concat(k, F.lit("/"), pdf_number(url), F.lit("-DUP"))


def text_location(doc_id: Column | str, ext: str = "txt") -> Column:
    """ksrf.py:151-152 — ``doc_id.replace('/','_') + '.<ext>'`` (path munging)."""
    c = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    return F.concat(F.regexp_replace(c, "/", "_"), F.lit("." + ext))


def canonical_url(url: Column | str) -> Column:
    """URL canonicalization for the seen-key (engine-added; distinct from
    the decision-KEY normalization ``canonical_key`` above, which
    uppercases — paths are case-SENSITIVE on real servers):

    - scheme + host lowercased (case-insensitive per RFC 3986)
    - fragment stripped (never sent to the server)
    - path/query preserved byte-for-byte
    """
    c = F.col(url) if isinstance(url, str) else url
    no_frag = F.substring_index(c, "#", 1)
    head = F.regexp_extract(no_frag, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)", 1)
    rest = F.substring(no_frag, F.length(head) + 1, F.lit(1 << 30))
    return F.when(head == "", no_frag).otherwise(F.concat(F.lower(head), rest))


def url_host(url: Column | str) -> Column:
    """Engine-added: host for politeness grouping (north_star).

    ``parse_url(url,'HOST')`` — built-in, codegen'd.
    """
    c = F.col(url) if isinstance(url, str) else url
    return F.parse_url(c, F.lit("HOST"))


def url_path(url: Column | str) -> Column:
    c = F.col(url) if isinstance(url, str) else url
    return F.parse_url(c, F.lit("PATH"))


def key_hash(canonical: Column | str) -> Column:
    """64-bit hash of the canonical key — the seen-set key.

    ``xxhash64`` is deterministic across executors and Spark versions
    with a fixed seed (42 default), so seen-set shards merge safely.
    """
    c = F.col(canonical) if isinstance(canonical, str) else canonical
    return F.xxhash64(c)
