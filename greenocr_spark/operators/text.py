"""Word-level text kernels shared by the curation plans and the battery:
whitespace tokenization, word bigrams, word 3-gram hashes and the
char-trigram language id. Each builds a JVM Column expression, so a plan
composing them stays a narrow projection with no Python at runtime.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _spark_words(col="text"):
    return F.split(F.trim(F.col(col)), r"\s+")


def _bigram_array(ws):
    """Word-bigram array ("w1 w2") from a words-array expression, with each
    side of the zip evaluated ONCE per row.

    Never build bigrams as transform(slice(ws,...), lambda x, i:
    concat_ws(' ', x, element_at(ws, i+2))): higher-order-function lambdas
    are interpreted (no whole-stage codegen, no common-subexpression
    elimination), so an `ws` expression embedded in the lambda body — e.g.
    the split() behind it — re-evaluates per ELEMENT, turning the bigram
    build into O(tokens²) string work per document.  On multi-thousand-token
    documents that is a throughput cliff (measured ~50x on the pipeline
    quality gate).  zip_with evaluates each input array expression once and
    only iterates element-wise."""
    n = F.greatest(F.size(ws) - 1, F.lit(0))
    return F.zip_with(
        F.slice(ws, 1, n), F.slice(ws, 2, n), lambda a, b: F.concat_ws(" ", a, b)
    )


def _spark_gram3_hashes(ws_col="ws"):
    """md5 hashes of word 3-gram windows over an ALREADY-MATERIALIZED word
    array column (select _spark_words() into a column first — referencing
    the split expression inside the lambda would re-tokenize the text for
    every window)."""
    ws = F.col(ws_col)
    return F.transform(
        F.sequence(F.lit(1), F.size(ws) - 2),
        lambda i: F.md5(F.concat_ws(" ", F.slice(ws, i, 3))),
    )


# Frozen char-trigram profiles (top discriminative trigrams per language,
# ASCII-only so Java/DuckDB literal semantics coincide byte-for-byte).
# Score(doc, lang) = #profile trigrams present in " "+lower(canon(text))+" ";
# pred = argmax with fixed tie-break order; 'und' when every score is 0.
_LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "en": (" th", "the", "he ", " an", "nd ", "ing", " of", "ion"),
    "de": ("der", "ein", "sch", "ich", "die", "und", "ung", "cht"),
    "fr": (" le", "les", "ent", "que", "ait", "our", "ais", "eur"),
    "es": (" el", "los", " la", "ado", "nte", "cio", "ar ", "una"),
    "it": (" di", "che", "ell", "zio", "gli", "ita", "ono", "lla"),
}
_LANG_ORDER = tuple(_LANG_TRIGRAMS)  # tie-break priority: en,de,fr,es,it


def lang_id_col(text_col="text"):
    """Predicted-language Column for any string column (used by tx3 and by
    tests over real multilingual sentences)."""
    padded = F.concat(
        F.lit(" "),
        F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")),
        F.lit(" "),
    )
    # Single-instance argmax: each trigram `contains` appears exactly ONCE in
    # the expression tree.  The naive greatest(...) + when-cascade form
    # duplicates the 40 score terms ~7x; fused into a larger whole-stage-
    # codegen region (e.g. the pipeline handoff projection + quality filter)
    # that blows janino's 64 KB method cap and silently drops the stage to
    # interpreted mode — a real throughput cliff at corpus scale.
    # array_max over struct(score, priority) compares field-by-field, so ties
    # resolve to the highest priority = FIRST lang in _LANG_ORDER (identical
    # to the old first-wins when-cascade); an (s=0, highest-priority) sentinel
    # yields 'und' exactly when every score is 0.
    n = len(_LANG_ORDER)
    entries = [
        F.struct(
            sum(
                F.when(F.contains(padded, F.lit(g)), 1).otherwise(0)
                for g in _LANG_TRIGRAMS[lo]
            ).alias("s"),
            F.lit(n - 1 - i).alias("p"),
        )
        for i, lo in enumerate(_LANG_ORDER)
    ]
    sentinel = F.struct(F.lit(0).alias("s"), F.lit(n).alias("p"))
    # lang_by_priority[p] = lang with priority p (p = n-1-i), plus 'und' at p=n
    lang_by_priority = F.array(
        *[F.lit(_LANG_ORDER[n - 1 - p]) for p in range(n)], F.lit("und")
    )
    best = F.array_max(F.array(*entries, sentinel))
    return F.element_at(lang_by_priority, best["p"] + 1)
