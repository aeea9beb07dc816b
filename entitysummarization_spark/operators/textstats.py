"""Text analysis for training-data pipelines: language-ID heuristic,
quality scoring, token counting, document fingerprinting.

All JVM-side (built-in functions, whole-stage codegen) — no Python in the
hot path. Column-name and arithmetic contracts match the DuckDB oracles in
__spark_entry__.py exactly (every computed column aliased, ratios rounded
to 4 decimals).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .dedup import tokens_col

EN_STOPWORDS = (
    "the a an and or of to in is are was were be been it this that for on "
    "with as at by from"
).split()


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_distinct_tokens, avg_token_len)."""
    toks = tokens_col(text_col)
    return docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.round(
            F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t))
            / F.greatest(F.size(toks), F.lit(1)),
            4,
        ).alias("avg_token_len"),
    )


def lang_id_en(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-ratio language heuristic: (doc_id, en_ratio, is_en).

    en_ratio = fraction of tokens in a small English stoplist; is_en at a
    0.05 threshold. (On real corpora this is the classic cheap LID
    baseline; a char-n-gram profile model slots in behind the same
    signature.)
    """
    toks = tokens_col(text_col)
    stop = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_stop = F.size(F.array_intersect(toks, stop))  # distinct-based, cheap
    # exact token-level count (repeats matter):
    n_stop_exact = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    ratio = F.round(n_stop_exact / F.greatest(F.size(toks), F.lit(1)), 4)
    return docs.select(
        F.col(id_col),
        ratio.alias("en_ratio"),
        (ratio >= 0.05).alias("is_en"),
        n_stop.cast("long").alias("n_distinct_stop"),
    )


def quality_columns(text_col: str = "text") -> dict[str, Column]:
    """Heuristic quality — length, lexical diversity, stopword presence —
    as its three terms and the score, unrounded:

    score = 0.4·min(n_tokens/100, 1) + 0.4·(distinct/total) + 0.2·min(stop_ratio/0.05, 1)
    (Gopher/C4-style cheap filters.)
    """
    toks = tokens_col(text_col)
    stop = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n = F.size(toks).cast("double")
    nd = F.size(F.array_distinct(toks)).cast("double")
    ns = F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).cast("double")
    len_term = F.least(n / 100.0, F.lit(1.0))
    div_term = nd / F.greatest(n, F.lit(1.0))
    stop_term = F.least((ns / F.greatest(n, F.lit(1.0))) / 0.05, F.lit(1.0))
    return {
        "len_term": len_term,
        "div_term": div_term,
        "stop_term": stop_term,
        "quality": 0.4 * len_term + 0.4 * div_term + 0.2 * stop_term,
    }


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """``quality_columns`` per doc, each term aliased and rounded to 4
    decimals for oracle parity."""
    return docs.select(
        F.col(id_col),
        *[F.round(c, 4).alias(name)
          for name, c in quality_columns(text_col).items()],
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document repetition ratios (Gopher-style repetition
    filters, token-granular): (doc_id, top_token_frac, top_bigram_frac,
    dup_token_frac).

      top_token_frac  = occurrences of the most frequent token / tokens
      top_bigram_frac = occurrences of the most frequent word bigram /
                        bigram positions
      dup_token_frac  = 1 − distinct tokens / tokens (mass in repeats)

    All ratios round to 4 decimals (oracle contract). Everything is
    explode → partial-aggregated groupBy on (doc, gram) → max per doc —
    two skew-free shuffles whose keys are (doc_id, token); no Python.
    """
    toks = tokens_col(text_col)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("_t"),
        F.size(toks).cast("double").alias("_n"),
    )
    t = F.col("_t")
    bigrams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - 2),
            lambda i: F.concat_ws(" ", F.slice(t, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tok_max = (
        base.select("doc_id", F.explode("_t").alias("g"))
        .groupBy("doc_id", "g").count()
        .groupBy("doc_id").agg(F.max("count").alias("tok_max"))
    )
    big_max = (
        base.select("doc_id", F.explode(bigrams).alias("g"))
        .groupBy("doc_id", "g").count()
        .groupBy("doc_id").agg(F.max("count").alias("big_max"))
    )
    return (
        base.select(
            "doc_id",
            "_n",
            F.size(F.array_distinct("_t")).cast("double").alias("_nd"),
        )
        .join(tok_max, "doc_id", "left")
        .join(big_max, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.coalesce("tok_max", F.lit(0)) / F.greatest("_n", F.lit(1.0)),
                4,
            ).alias("top_token_frac"),
            F.round(
                F.coalesce("big_max", F.lit(0))
                / F.greatest(F.col("_n") - 1.0, F.lit(1.0)),
                4,
            ).alias("top_bigram_frac"),
            F.round(
                F.when(
                    F.col("_n") > 0, 1.0 - F.col("_nd") / F.col("_n")
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("dup_token_frac"),
        )
    )


# scrub patterns live in the Java-regex / RE2 (DuckDB) common subset so
# both engines redact identically; applied URL → email → IPv4 (a URL may
# contain an @userinfo that the email pattern would otherwise eat)
SCRUB_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def scrub_text(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII/link redaction pass: (doc_id, text_clean, n_url, n_email,
    n_ipv4). Counts are measured on the text each pattern actually sees
    (after the previous redactions), so counts + replacements form one
    consistent pipeline. Pure `regexp_replace`/`regexp_count` — JVM
    codegen, one projection, no shuffle, no Python."""
    col = F.col(text_col)
    counts = []
    for name, pat, repl in SCRUB_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(f"n_{name}")
        )
        col = F.regexp_replace(col, pat, repl)
    return docs.select(
        F.col(id_col).alias("doc_id"), col.alias("text_clean"), *counts
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Order-insensitive content fingerprint:
    md5 over the sorted distinct token list — stable under token
    reordering, cheap to group on for fuzzy-exact dedup."""
    toks = tokens_col(text_col)
    return docs.select(
        F.col(id_col),
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))
        ).alias("fingerprint"),
    )

# Cavnar–Trenkle-style fixed character-n-gram profiles (tiny, documented
# subset: the classic most-frequent-trigram lists per language). The
# profiles are literals shared with the DuckDB oracle (__spark_entry__
# generates the oracle SQL from this dict), so both engines score
# identically; classification accuracy is separately golden-tested on
# real multilingual sentences in tests/test_lang_id_ngram.py. Counting is
# replace-based (occurrences = (len - len(remove(gram))) / len(gram)) —
# pure whole-stage-codegen string ops, no regex, no Python.
LID_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "sch", "ein", "und", "ich", "die", "das", "ung"),
    "en": ("the", " th", "ing", "and", " of", " is", "ed ", " to"),
    "es": (" el", "la ", "que", "ado", "ión", " de", "los", "una"),
    "fr": (" le", "les", "est", "ont", " et", "aux", "eur", "une"),
}
# zh is routed by script, not trigrams: fraction of chars in the CJK
# unified-ideograph block.
CJK_BLOCK = ("一", "鿿")
CJK_RATIO_THRESHOLD = 0.3


def lang_id_ngram(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Character-trigram language ID: (doc_id, lang_pred, n_hits, cjk_ratio).

    lang_pred = 'zh' if the CJK-char ratio clears CJK_RATIO_THRESHOLD,
    else 'und' if no profile trigram occurs, else the argmax-hit language
    (ties broken alphabetically — mirrored exactly in the oracle SQL).
    The text is padded with one leading space so word-initial grams
    (' le', ' th') count at the start of the document. One scan-only
    stage: |langs|×|grams| replace/length expressions, no shuffle, no UDF.
    """
    lc = F.concat(F.lit(" "), F.lower(F.col(text_col)))
    langs = sorted(LID_PROFILES)

    def hits(lang: str):
        h = F.lit(0).cast("long")
        for g in LID_PROFILES[lang]:
            h = h + (
                (F.length(lc) - F.length(F.replace(lc, F.lit(g), F.lit(""))))
                / len(g)
            ).cast("long")
        return h

    n_chars = F.length(F.col(text_col))
    cjk_re = f"[{CJK_BLOCK[0]}-{CJK_BLOCK[1]}]"
    n_cjk = n_chars - F.length(F.regexp_replace(F.col(text_col), cjk_re, ""))
    base = docs.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_cjk.alias("n_cjk"),
        *[hits(lang).alias(f"h_{lang}") for lang in langs],
    )
    best = F.greatest(*[F.col(f"h_{lang}") for lang in langs])
    cjk_ratio = F.col("n_cjk") / F.greatest(F.col("n_chars"), F.lit(1))
    pred = F.when(cjk_ratio >= CJK_RATIO_THRESHOLD, F.lit("zh")).when(
        best == 0, F.lit("und")
    )
    for lang in langs:  # alphabetical tie-break, same order as the oracle
        pred = pred.when(F.col(f"h_{lang}") == best, F.lit(lang))
    return base.select(
        F.col(id_col),
        pred.alias("lang_pred"),
        best.cast("long").alias("n_hits"),
        F.round(cjk_ratio, 4).alias("cjk_ratio"),
    )


# GPT-2-style pretokenizer, simplified to constructs Java regex and RE2
# (DuckDB) evaluate identically: an optional leading space glued to a
# letter run / digit run / punctuation run, else one whitespace char.
# No lookahead (RE2 has none) and ASCII classes (\p{L} coverage differs
# across engines). Counting these pretokens approximates an LLM (BPE)
# token count well enough for length budgeting; real BPE merges only
# split WITHIN pretokens, so this is an upper bound on merged tokens.
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s"


def bpe_token_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens, bpe_per_ws): whitespace-split
    count next to the BPE-ish pretoken count — the two token budgets a
    training-data pipeline tracks. All JVM-side regex; one scan-only
    stage, no shuffle."""
    ws = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: x != ""
    )
    bpe = F.regexp_extract_all(
        F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0)
    )
    n_ws = F.size(ws).cast("long")
    n_bpe = F.size(bpe).cast("long")
    return docs.select(
        F.col(id_col),
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.round(n_bpe / F.greatest(n_ws, F.lit(1)), 4).alias("bpe_per_ws"),
    )
