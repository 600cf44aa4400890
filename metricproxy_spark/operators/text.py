"""Text-analysis operators (SURVEY §3.8 L4): language scoring, quality
features, token counting, document fingerprinting.

All pure Catalyst expressions over the tokenized text — linear scans,
no shuffle, no Python. Heuristics are deliberately simple/deterministic
(lexicon overlap, ratio features, polynomial rolling hash) so they are
oracle-checkable; swapping in a real model later only changes the
expression (or a pandas UDF), not the pipeline shape.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny marker lexicons for the n-gram/stopword language heuristic.
# Deterministic toy stand-ins (the fixture vocabulary is synthetic);
# a real system would learn these.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "query", "table"),
    "es": ("el", "la", "de", "consulta", "tabla"),
    "de": ("der", "die", "und", "abfrage", "tabelle"),
    "fr": ("le", "la", "et", "requete", "table"),
    "zh": ("de", "shi", "he", "chaxun", "biao"),
}

_MOD = 1_000_000_000_000_037  # keeps the fold inside int64 under ANSI


def words_of(text_col: Column | str) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(F.trim(c)), " ")


def lang_score(words: Column, lexicon: tuple[str, ...]) -> Column:
    """Fraction of distinct words that hit the lexicon."""
    distinct = F.array_distinct(words)
    hits = F.size(F.array_intersect(distinct, F.array(*[F.lit(w) for w in lexicon])))
    return F.round(hits.cast("double") / F.size(distinct).cast("double"), 9)


def quality_features(text_col: Column | str) -> dict[str, Column]:
    """Classic quality-score features: length, mean word length,
    stopword ratio, alpha ratio, repetition ratio."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = words_of(c)
    n_words = F.size(words)
    n_chars = F.length(c)
    stop = F.array(*[F.lit(w) for w in LANG_LEXICONS["en"]])
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_words": n_words.cast("bigint"),
        "mean_word_len": F.round(
            (n_chars - (n_words - 1)).cast("double") / n_words.cast("double"), 9
        ),
        "stopword_ratio": F.round(
            F.size(F.filter(words, lambda w: F.array_contains(stop, w))).cast(
                "double"
            )
            / n_words.cast("double"),
            9,
        ),
        "alpha_ratio": F.round(
            F.length(F.regexp_replace(c, "[^a-z]", "")).cast("double")
            / n_chars.cast("double"),
            9,
        ),
        "repetition_ratio": F.round(
            1
            - F.size(F.array_distinct(words)).cast("double")
            / n_words.cast("double"),
            9,
        ),
    }


def paragraph_chunks(words: Column, para_words: int = 8) -> Column:
    """Fixed-width word chunks standing in for paragraphs (the corpus
    has no newline structure): ARRAY<STRING> of ``para_words``-word
    spans in order. Pure array HOFs — a narrow, shuffle-free transform."""
    n_paras = F.ceil(F.size(words) / F.lit(float(para_words))).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_paras - 1),
        lambda i: F.array_join(F.slice(words, i * para_words + 1, para_words), " "),
    )


def repetition_signals(
    text_col: Column | str, para_words: int = 8
) -> dict[str, Column]:
    """Gopher-style repetition quality signals (Rae et al. 2021, §A1.1:
    repetitious documents are low-quality): fraction of duplicate
    paragraphs, and the share of word-bigrams taken by the single most
    frequent bigram.

    Deliberately NARROW: per-doc signals are computed with array HOFs
    inside one projection — no explode/groupBy shuffle, so at 100 TB
    the cost is a linear scan. The most-frequent-bigram count is
    sort + longest-equal-run fold: O(n log n) per doc (the first cut
    used distinct×filter-count, O(distinct·n) — 24s for the sf0.01
    corpus on 8 cores; this form is ~20×  cheaper and exact-identical).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = words_of(c)
    paras = paragraph_chunks(words, para_words)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(words) - 1),
        lambda i: F.concat_ws(" ", F.element_at(words, i), F.element_at(words, i + 1)),
    )
    # max multiplicity = longest run in the sorted array, via one fold:
    # state (prev, run, best); x == NULL-prev yields NULL -> otherwise(1)
    # seeds the first run. Empty arrays keep the old array_max(NULL)
    # semantics through the size() guard.
    run_fold = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_cnt = F.when(F.size(bigrams) > 0, run_fold).otherwise(
        F.lit(None).cast("int")
    )
    return {
        "n_paras": F.size(paras).cast("bigint"),
        "dup_para_frac": F.round(
            1
            - F.size(F.array_distinct(paras)).cast("double")
            / F.size(paras).cast("double"),
            9,
        ),
        "n_bigrams": F.size(bigrams).cast("bigint"),
        "top_bigram_cnt": top_cnt.cast("bigint"),
        "top_bigram_frac": F.round(
            top_cnt.cast("double") / F.size(bigrams).cast("double"), 9
        ),
    }


def repetition_signals_staged(
    df,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    para_words: int = 8,
):
    """Staged-projection twin of :func:`repetition_signals`: identical
    per-column expressions, but the words / paragraphs / bigrams /
    sorted-bigrams arrays each live in their OWN projection so every
    array is computed once per row — Catalyst's CollapseProject would
    otherwise re-inline the bigram transform into each of the four
    columns that reference it (the `text_bigram_coverage` lesson).
    Row-equal to the spec by test; still narrow (no shuffle)."""
    w = df.select(*id_cols, words_of(F.col(text_col)).alias("_w"))
    arrs = w.select(
        *id_cols,
        paragraph_chunks(F.col("_w"), para_words).alias("_paras"),
        F.transform(
            F.sequence(F.lit(1), F.size("_w") - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("_w"), i),
                F.element_at(F.col("_w"), i + 1),
            ),
        ).alias("_bg"),
    )
    sorted_bg = arrs.select(
        *id_cols, "_paras", "_bg", F.array_sort("_bg").alias("_bgs")
    )
    run_fold = F.aggregate(
        F.col("_bgs"),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    topped = sorted_bg.select(
        *id_cols,
        "_paras",
        "_bg",
        F.when(F.size("_bg") > 0, run_fold)
        .otherwise(F.lit(None).cast("int"))
        .alias("_top"),
    )
    return topped.select(
        *id_cols,
        F.size("_paras").cast("bigint").alias("n_paras"),
        F.round(
            1
            - F.size(F.array_distinct("_paras")).cast("double")
            / F.size("_paras").cast("double"),
            9,
        ).alias("dup_para_frac"),
        F.size("_bg").cast("bigint").alias("n_bigrams"),
        F.col("_top").cast("bigint").alias("top_bigram_cnt"),
        F.round(
            F.col("_top").cast("double") / F.size("_bg").cast("double"), 9
        ).alias("top_bigram_frac"),
    )


def _let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row. Catalyst
    inlines a Column into every lambda element that uses it, so a value
    read inside a per-element HOF would be recomputed per element;
    binding it to the variable of a one-element ``transform`` computes
    it once."""
    return F.transform(F.array(value), body)[0]


def kgram_hashes(text_col: Column | str, k: int = 3) -> Column:
    """ARRAY<BIGINT> of word-k-gram polynomial hashes (the winnowing
    base stream, usable standalone for span-level dedup signals):
    ``hash(i) = (Σ_j wv(word[i+j])·131^(k-1-j)) mod _MOD`` with
    ``wv = ascii·1024 + len``. Linear array HOF — narrow, no shuffle."""
    from functools import reduce as _reduce

    def wv(word: Column) -> Column:
        return (F.ascii(word) * 1024 + F.length(word)).cast("long")

    def hashes(words: Column) -> Column:
        # If-branches evaluate lazily, so the sequence() never sees a
        # negative upper bound on short documents.
        n_kgrams = F.size(words) - (k - 1)
        return F.when(
            n_kgrams >= 1,
            F.transform(
                F.sequence(F.lit(1), n_kgrams),
                lambda i: _reduce(
                    lambda acc, j: acc * 131
                    + wv(F.element_at(words, i + F.lit(j))),
                    range(k),
                    F.lit(0).cast("long"),
                )
                % F.lit(_MOD),
            ),
        ).otherwise(F.array().cast("array<bigint>"))

    return _let(words_of(text_col), hashes)


def winnow_fingerprints(
    text_col: Column | str, k: int = 3, w: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003): hash every k-gram of words, slide a window of ``w``
    consecutive k-gram hashes, and in each window select the minimum
    hash — rightmost on ties (robust winnowing), so shared substrings
    of length ≥ k+w-1 words are guaranteed to share a fingerprint.

    Returns ARRAY<STRUCT<pos INT, fp BIGINT>> of selected (k-gram
    position, hash) pairs, duplicates included (callers dedupe
    row-wise). Pure array HOFs over the portable word hash
    (``ascii·1024+len`` polynomial, same fold as :func:`fingerprint`)
    — a narrow, shuffle-free projection that an oracle can replay with
    DuckDB list functions.
    """

    def winnow(kg: Column) -> Column:
        n_windows = F.size(kg) - (w - 1)

        def select_in_window(j: Column) -> Column:
            cand = F.slice(kg, j, w)
            minh = F.array_min(cand)
            # rightmost tie: first position in the REVERSED window
            rpos = F.array_position(F.reverse(cand), minh)
            return F.struct(
                (j + w - rpos).cast("int").alias("pos"), minh.alias("fp")
            )

        return F.when(
            n_windows >= 1,
            F.transform(F.sequence(F.lit(1), n_windows), select_in_window),
        ).otherwise(F.array().cast("array<struct<pos:int,fp:bigint>>"))

    return _let(kgram_hashes(text_col, k), winnow)


def token_counts(text_col: Column | str) -> dict[str, Column]:
    """Token counting: whitespace tokens, BPE-ish regex tokens
    (letter-runs / digit-runs / single other chars), and the ~4 chars
    per subword heuristic."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return {
        "ws_tokens": F.size(F.split(F.trim(c), "\\s+")).cast("bigint"),
        "regex_tokens": F.size(
            F.regexp_extract_all(c, F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), 0)
        ).cast("bigint"),
        "est_subwords": F.ceil(F.length(c) / F.lit(4.0)).cast("bigint"),
    }


def fingerprint(text_col: Column | str) -> Column:
    """Polynomial rolling hash over the word sequence (order-sensitive
    document fingerprint): fold of acc*131 + wordvalue (mod ~1e15).
    Word value = first-char code * 1024 + length — cheap, deterministic,
    and expressible identically in the DuckDB oracle (list_reduce)."""
    words = words_of(text_col)
    wv = lambda w: (F.ascii(w) * 1024 + F.length(w)).cast("long")  # noqa: E731
    return F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * 131 + wv(w)) % F.lit(_MOD),
    )


def winnow_fingerprints_vectorized(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
):
    """Vectorized (Arrow/numpy) twin of :func:`winnow_fingerprints`,
    returning EXPLODED rows ``(id_col, pos INT, fp BIGINT)`` —
    duplicates included, exactly the rows the HOF form yields after
    ``explode``.

    Why it exists: Catalyst evaluates higher-order-function lambdas
    interpreted, per element. Here k-gram hashing is three shifted
    int64 folds and window selection is one ``sliding_window_view``
    argmin — per-partition numpy, no shuffle, same narrow 100 TB shape.
    It is the faster form for winnowing: ``text_winnow_fingerprints``
    took 1.08–1.24 s with it and 1.51–1.61 s with the HOF form in
    ``bench.py`` (sf0.1, 4 CPUs), where the window selection's nested
    per-element lambdas dominate. (Plain k-gram hashing has no twin:
    there the Catalyst form is as fast or faster.) The HOF form remains
    the executable spec (equality is pytest-asserted); this is the hot
    path.
    """
    from typing import Iterator

    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out_id, out_pos, out_fp = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                # replicate split(lower(trim(x)), ' ') exactly:
                # trim strips 0x20 only, split keeps empty tokens
                ws = ("" if text is None else text).strip(" ").lower().split(" ")
                n = len(ws)
                if n - (k - 1) < 1:
                    continue
                wv = np.array(
                    [(ord(x[0]) if x else 0) * 1024 + len(x) for x in ws],
                    np.int64,
                )
                acc = np.zeros(n - k + 1, np.int64)
                for j in range(k):
                    acc = acc * 131 + wv[j : n - k + 1 + j]
                kg = acc % _MOD
                if len(kg) < w:
                    continue
                sw = np.lib.stride_tricks.sliding_window_view(kg, w)
                rev = sw[:, ::-1]
                rpos0 = rev.argmin(1)  # first min in reversed = rightmost
                minv = rev[np.arange(len(rev)), rpos0]
                pos = np.arange(len(sw)) + w - rpos0  # 1-based k-gram pos
                out_id.extend([did] * len(pos))
                out_pos.extend(pos.tolist())
                out_fp.extend(minv.tolist())
            yield pd.DataFrame(
                {id_col: out_id, "pos": out_pos, "fp": out_fp}
            )

    return df.select(id_col, text_col).mapInPandas(
        gen, f"{id_col} long, pos int, fp bigint"
    )
