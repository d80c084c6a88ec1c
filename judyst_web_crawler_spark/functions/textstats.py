"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are built-in Column functions (JVM-side,
codegen'd); the only pandas UDF is the rolling-hash fingerprint, which
has no built-in equivalent. Each operator here has a ``queries()`` entry
over the driver ``documents`` table with a DuckDB oracle
(__spark_entry__.py) — language ID, quality scoring, token counting,
fingerprinting are the text-side of SURVEY §2's engine additions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# A small, fixed stopword list (ru + en) — deterministic, public words.
STOPWORDS = [
    "и", "в", "не", "на", "что", "с", "по", "как", "к", "из",
    "the", "of", "and", "to", "in", "a", "is", "that", "for", "it",
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def token_count(text: Column | str) -> Column:
    """Whitespace tokenization; empty/blank text counts 0."""
    t = F.trim(_c(text))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("int")


def cyrillic_ratio(text: Column | str) -> Column:
    t = _c(text)
    cyr = F.length(t) - F.length(F.regexp_replace(t, "[а-яА-ЯёЁ]", ""))
    return (cyr / F.greatest(F.length(t), F.lit(1))).alias("cyr_ratio")


def latin_ratio(text: Column | str) -> Column:
    t = _c(text)
    lat = F.length(t) - F.length(F.regexp_replace(t, "[a-zA-Z]", ""))
    return lat / F.greatest(F.length(t), F.lit(1))


def lang_id(text: Column | str) -> Column:
    """Character n-gram-free heuristic language ID: dominant script wins.

    (A trigram model would be the production path; the script heuristic
    is deterministic, oracle-checkable, and right for ru/en corpora.)
    """
    cyr = cyrillic_ratio(text)
    lat = latin_ratio(text)
    return (
        F.when(cyr >= 0.25, F.lit("ru"))
        .when(lat >= 0.25, F.lit("en"))
        .otherwise(F.lit("und"))
    )


# Characteristic trigrams per language — fixed public linguistic
# profiles (high-frequency character trigrams of each language's
# running text; spaces significant). Detection = count how many DISTINCT
# profile trigrams occur in the lowercased text, argmax with a fixed
# tie-break order and a minimum-evidence floor. Everything is
# presence/absence over literal strings, so a SQL oracle computes the
# identical scores (__spark_entry__.py embeds these same constants).
TRIGRAM_PROFILES: dict[str, list[str]] = {
    "en": [" th", "the", "he ", "and", "nd ", "ing", "ng ", " of",
           "of ", "ion", "tio", "ent", " in", "in ", "er ", "is ",
           " to", "to ", " a ", "ed "],
    "ru": [" пр", "ств", "ого", "ени", " по", " не", "ние", "его",
           " на", "ост", "про", "ать", " со", " в ", " и ", "ере",
           "при", "ть ", "ой ", "ия "],
    "de": ["der", "ein", "sch", "ich", "nde", "die", "che", "en ",
           "und", " un", "gen", " ge", "ver", " de", "ung", "ine",
           " di", "ber", "cht", "ten"],
    "fr": ["les", " le", " de", "ent", "une", " un", "que", " qu",
           "eur", "ait", "est", " et", "es ", "ons", " pa", "our",
           "ais", "res", " la", "ux "],
    "es": ["la ", " la", "os ", "ció", " es", "ue ", "que", " qu",
           "ado", "par", " el", "el ", " en", "nte", " co", "ión",
           "de ", " de", "as ", "una"],
    "it": [" di", "di ", "che", " ch", "zio", "ion", "one", " co",
           "ent", "to ", "ell", "del", " de", "ato", "per", " pe",
           "gli", "lla", "la ", " la"],
    "pt": [" de", "de ", "ão ", "ção", "que", " qu", "os ", "ent",
           " co", "ado", "da ", " da", "ar ", "ara", "par", " pa",
           "em ", " em", "as ", "do "],
    "nl": ["de ", " de", "en ", "van", " va", "an ", "het", " he",
           "een", " ee", "ijk", "aar", "oor", " ge", "gen", "ing",
           " en", "nde", "er ", "cht"],
    "pl": ["nie", " ni", "ie ", " po", "na ", " na", "prz", " pr",
           "rze", "ych", "ego", "owa", "ani", "ośc", "ski", "wie",
           "cze", " w ", " z ", "ać "],
    "uk": ["ння", "енн", " та", "та ", "ому", "іст", "ів ", "ня ",
           "ати", "під", "ува", "ьно", " до", "ні ", " ві", "від",
           "аці", "ція", "ськ", "ьки"],
}
TRIGRAM_LANG_ORDER = list(TRIGRAM_PROFILES)  # tie-break: first wins
TRIGRAM_MIN_HITS = 3  # below this evidence, fall back to script heuristic


def trigram_score(text: Column | str, lang: str) -> Column:
    """Number of ``lang``'s profile trigrams present in the text
    (presence, not occurrences — identical in any SQL engine). A
    higher-order ``filter`` over the literal trigram array, NOT a sum of
    20 ``contains`` branches: the flat-sum form blows the codegen
    expression tree up ~20× per language and compile time dominates."""
    t = F.lower(_c(text))
    tgs = F.array(*[F.lit(tg) for tg in TRIGRAM_PROFILES[lang]])
    return F.size(F.filter(tgs, lambda tg: F.contains(t, tg)))


def lang_id_trigram(text: Column | str) -> Column:
    """Trigram-profile language ID (en/ru/de/fr/es/it/pt/nl/pl/uk) with the script
    heuristic (:func:`lang_id`) as the low-evidence fallback — pure
    Column exprs (whole-stage codegen), the production upgrade over the
    script-only heuristic VERDICT r2 flagged (which reads every latin
    text as 'en'). Deterministic: fixed profiles, fixed evidence floor,
    argmax tie-break = first language in ``TRIGRAM_LANG_ORDER``
    (``array_position`` returns the FIRST index of the max)."""
    scores = F.array(*[trigram_score(text, L) for L in TRIGRAM_LANG_ORDER])
    langs = F.array(*[F.lit(L) for L in TRIGRAM_LANG_ORDER])
    mx = F.array_max(scores)
    picked = F.element_at(langs, F.array_position(scores, mx).cast("int"))
    return F.when(mx >= TRIGRAM_MIN_HITS, picked).otherwise(lang_id(text))


def stopword_ratio(text: Column | str) -> Column:
    t = F.lower(_c(text))
    toks = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    sw = F.array([F.lit(w) for w in STOPWORDS])
    hits = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text: Column | str) -> Column:
    t = _c(text)
    p = F.length(t) - F.length(F.regexp_replace(t, r"[\.,;:!?()«»\"'-]", ""))
    return p / F.greatest(F.length(t), F.lit(1))


def quality_score(text: Column | str) -> Column:
    """[0,1] heuristic quality: long enough, not punctuation soup, has
    stopwords (natural language signal). Weights fixed + documented."""
    t = _c(text)
    len_score = F.least(F.length(t) / F.lit(500.0), F.lit(1.0))
    punct_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(t) * 4)
    sw_score = F.least(stopword_ratio(t) * 5, F.lit(1.0))
    raw = len_score * 0.4 + punct_penalty * 0.3 + sw_score * 0.3
    # floor(x*1e6+0.5)/1e6 instead of round(): identical double arithmetic
    # on every engine (Spark HALF_UP vs DuckDB half-even differ on ties)
    return F.floor(raw * 1000000.0 + F.lit(0.5)) / 1000000.0


def gopher_quality_flags(text: Column | str) -> dict[str, Column]:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1 —
    public heuristics), each as a pure Column expression so the whole
    filter stays in whole-stage codegen:

    - 50 ≤ word count ≤ 100,000
    - 3 ≤ mean word length ≤ 10
    - ≥ 80% of words contain ≥ 1 alphabetic character (latin or cyrillic)
    - < 90% of lines start with a bullet; < 30% end with an ellipsis

    Returns named Column exprs (ratios + the combined ``passes``) so
    callers can select any subset; thresholds follow the paper.
    """
    t = _c(text)
    words = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    n_words = F.size(words)
    nw = F.greatest(n_words, F.lit(1))
    mean_word_len = (
        F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w)) / nw
    )
    alpha_ratio = (
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-zА-Яа-яёЁ]"))) / nw
    )
    lines = F.filter(F.split(t, r"\n"), lambda x: F.trim(x) != "")
    nl = F.greatest(F.size(lines), F.lit(1))
    bullet_ratio = (
        F.size(F.filter(lines, lambda x: F.trim(x).rlike(r"^[-*•]"))) / nl
    )
    ellipsis_ratio = (
        F.size(F.filter(lines, lambda x: F.trim(x).rlike(r"(\.\.\.|…)$"))) / nl
    )
    passes = (
        (n_words >= 50) & (n_words <= 100_000)
        & (mean_word_len >= 3) & (mean_word_len <= 10)
        & (alpha_ratio >= 0.8)
        & (bullet_ratio < 0.9)
        & (ellipsis_ratio < 0.3)
    )
    return {
        "n_words": n_words.cast("long"),
        "mean_word_len": F.round(mean_word_len, 6),
        "alpha_word_ratio": F.round(alpha_ratio, 6),
        "bullet_line_ratio": F.round(bullet_ratio, 6),
        "ellipsis_line_ratio": F.round(ellipsis_ratio, 6),
        "gopher_pass": passes,
    }


def gopher_repetition_flags(text: Column | str) -> dict[str, Column]:
    """Gopher REPETITION rules (Rae et al. 2021, §A1.1 Table A1 — the
    repetition signals the length-based :func:`gopher_quality_flags`
    rules omit; in practice the highest-yield filters on crawled web
    text). All pure Column expressions (whole-stage codegen, no UDFs,
    no shuffles — per-document HOFs only):

    - duplicate line / paragraph fraction: occurrences beyond the first
      of an identical (trimmed) line/paragraph, over total — computed as
      ``(count - count_distinct) / count``. Threshold 0.30.
    - duplicate line / paragraph CHARACTER fraction: characters in those
      extra occurrences over total line/paragraph characters — computed
      as ``(chars - distinct_chars) / chars``. Threshold 0.20.
    - top 2/3/4-gram character fraction: characters claimed by the most
      frequent word n-gram, ``count·len(gram) / len(normalized text)``
      (lowercased words joined by single spaces; ties break to the
      lexicographically smallest gram — deterministic and
      SQL-mirrorable). Thresholds 0.20 / 0.18 / 0.16.

    The top-gram scan sorts the per-document gram array and folds ONE
    pass over it (longest run in a sorted array == max count; first
    maximal run == lexicographically smallest winner) — O(G log G) per
    document, never the O(G²) count-each-gram-against-all HOF.

    Returns named ratio Columns plus ``repetition_pass`` (all rules
    hold). Documents with no lines/paragraphs/grams score 0.0 (pass):
    repetition rules gate REPEATED content, absence isn't repetition —
    the length gates in :func:`gopher_quality_flags` handle short docs.
    """
    t = _c(text)

    def _dup_fracs(parts: Column, what: str) -> dict[str, Column]:
        trimmed = F.transform(parts, lambda x: F.trim(x))
        total = F.size(trimmed)
        chars = F.aggregate(trimmed, F.lit(0), lambda a, x: a + F.length(x))
        dis = F.array_distinct(trimmed)
        d_chars = F.aggregate(dis, F.lit(0), lambda a, x: a + F.length(x))
        frac = F.when(
            total > 0, (total - F.size(dis)) / total.cast("double")
        ).otherwise(F.lit(0.0))
        cfrac = F.when(
            chars > 0, (chars - d_chars) / chars.cast("double")
        ).otherwise(F.lit(0.0))
        return {f"dup_{what}_frac": frac, f"dup_{what}_char_frac": cfrac}

    lines = F.filter(F.split(t, r"\n"), lambda x: F.trim(x) != "")
    paras = F.filter(F.split(t, r"\n\n+"), lambda x: F.trim(x) != "")
    out: dict[str, Column] = {}
    out.update(_dup_fracs(lines, "line"))
    out.update(_dup_fracs(paras, "para"))

    words = F.filter(F.split(F.lower(t), r"\s+"), lambda x: x != "")
    norm_len = F.length(F.array_join(words, " "))

    def _top_gram_frac(n: int) -> Column:
        idx = F.sequence(F.lit(1), F.size(words) - F.lit(n - 1))
        grams = F.when(
            F.size(words) >= n,
            F.sort_array(
                F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n)))
            ),
        ).otherwise(F.array().cast("array<string>"))
        zero = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit("").alias("best_gram"),
            F.lit(0).alias("best_cnt"),
        )
        best = F.aggregate(
            grams,
            zero,
            lambda acc, g: F.struct(
                g.alias("prev"),
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
                F.when(
                    F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
                    > acc["best_cnt"],
                    g,
                ).otherwise(acc["best_gram"]).alias("best_gram"),
                F.greatest(
                    F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                    acc["best_cnt"],
                ).alias("best_cnt"),
            ),
        )
        return F.when(
            norm_len > 0,
            (best["best_cnt"] * F.length(best["best_gram"])) / norm_len.cast("double"),
        ).otherwise(F.lit(0.0))

    topgram_thresholds = ((2, 0.20), (3, 0.18), (4, 0.16))
    for n, _ in topgram_thresholds:
        out[f"top_{n}gram_char_frac"] = _top_gram_frac(n)

    # thresholds compare the ROUNDED ratios (the emitted columns), so
    # the pass flag is reproducible from the emitted values on any
    # engine — a sub-rounding double divergence can never flip it.
    # floor(x*1e6+0.5) instead of round(): these ratios have small
    # denominators, so power-of-two ones (e.g. 25/128) are EXACT binary
    # ties where Spark HALF_UP and DuckDB half-even genuinely differ
    # (same idiom as quality_score)
    rounded = {
        k: F.floor(v * 1000000.0 + F.lit(0.5)) / 1000000.0 for k, v in out.items()
    }
    rep_pass = (
        (rounded["dup_line_frac"] <= 0.30)
        & (rounded["dup_para_frac"] <= 0.30)
        & (rounded["dup_line_char_frac"] <= 0.20)
        & (rounded["dup_para_char_frac"] <= 0.20)
    )
    for n, thr in topgram_thresholds:
        rep_pass = rep_pass & (rounded[f"top_{n}gram_char_frac"] <= thr)
    rounded["repetition_pass"] = rep_pass
    return rounded


def c4_clean_lines(text: Column | str, min_words: int = 3) -> dict[str, Column]:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2 — public
    heuristics), JVM-side:

    - keep only lines that end in a terminal punctuation mark
      (``. ! ? "``, or the Russian quote ``»``);
    - drop lines with fewer than ``min_words`` words;
    - drop lines containing a curly brace (code) or the word
      ``javascript`` / the placeholder ``lorem ipsum`` (case-insensitive).

    Returns ``clean_text`` (kept lines re-joined), ``n_lines_kept``,
    ``n_lines_dropped`` — dropped volume is a column, never silent.
    """
    t = _c(text)
    lines = F.filter(F.split(t, r"\n"), lambda x: F.trim(x) != "")
    terminal = lambda x: F.trim(x).rlike(r'[.!?"»]$')  # noqa: E731
    wordy = lambda x: F.size(F.filter(F.split(F.trim(x), r"\s+"), lambda w: w != "")) >= min_words  # noqa: E731
    boiler = lambda x: F.lower(x).rlike(r"\{|\}|javascript|lorem ipsum")  # noqa: E731
    kept = F.filter(lines, lambda x: terminal(x) & wordy(x) & ~boiler(x))
    return {
        "clean_text": F.array_join(kept, "\n"),
        "n_lines_kept": F.size(kept).cast("long"),
        "n_lines_dropped": (F.size(lines) - F.size(kept)).cast("long"),
    }


def normalized_fingerprint(text: Column | str) -> Column:
    """Content fingerprint: md5 of lowercase whitespace-collapsed text —
    the exact-dedup key (hash-groupBy dedup)."""
    t = F.regexp_replace(F.lower(F.trim(_c(text))), r"\s+", " ")
    return F.md5(F.encode(t, "UTF-8"))


_ROLL_BASE = 1000003
ROLL_JVM_MOD = 2_147_483_647  # 2^31-1: acc*base + th stays < 2^39 —
ROLL_JVM_BASE = 131           # safe in ANSI long (the 2^61-1 python
#                               modulus would overflow the multiply)


def rolling_fingerprint_col(text: Column | str, token_hash=None) -> Column:
    """Order-sensitive rolling-hash fingerprint computed JVM-side:
    fold ``acc·base + token_hash + 1 (mod p)`` over the document's
    tokens IN ORDER with ``aggregate`` — the codegen/oracle-checkable
    twin of ``rolling_fingerprint_udf`` (same fold shape, smaller
    modulus so the arithmetic fits ANSI long; ``token_hash`` swappable
    for an expression a SQL oracle engine computes identically, same
    design as dedup_fuzzy.minhash_signatures_jvm). Order sensitivity is
    the property MinHash/SimHash lack: equal token MULTISETS in
    different order fingerprint differently."""
    if token_hash is None:
        token_hash = lambda t: F.pmod(F.xxhash64(t), F.lit(ROLL_JVM_MOD))  # noqa: E731
    toks = F.filter(F.split(F.lower(_c(text)), r"\s+"), lambda t: t != F.lit(""))
    hashes = F.transform(toks, token_hash)
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(ROLL_JVM_BASE) + x.cast("long") + F.lit(1))
        % F.lit(ROLL_JVM_MOD),
    )


_ROLL_MOD = (1 << 61) - 1


def rolling_hash_py(text: str) -> int:
    """Polynomial rolling hash over whitespace tokens (deterministic,
    order-sensitive document fingerprint). Plain-Python oracle."""
    if text is None:
        return None
    h = 0
    for tok in text.split():
        th = 0
        for ch in tok:
            th = (th * 31 + ord(ch)) % _ROLL_MOD
        h = (h * _ROLL_BASE + th + 1) % _ROLL_MOD
    return h


@F.pandas_udf(LongType())
def rolling_fingerprint_udf(texts: pd.Series) -> pd.Series:
    # values are < 2^61 so they always fit in a signed int64
    return texts.map(lambda t: None if t is None else rolling_hash_py(t))
