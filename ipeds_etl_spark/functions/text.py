"""Text-analysis Column expressions for the training-data pipeline.

All JVM-side (``pyspark.sql.functions`` only — no Python UDFs): these
run inside whole-stage codegen over the ``documents`` table and scale
linearly with no shuffle. Each helper has an exact DuckDB-SQL twin used
by the correctness oracles (list lambdas on that side), so the two
engines produce bit-identical results.

Capabilities (training-data extension set, not present in the
reference, which processes tabular survey data only):

* ``tokens``            — whitespace tokenization.
* ``bpe_ish_tokens``    — GPT-2-style pre-tokenizer regex split
  (letters / digits / punctuation runs), the standard proxy for a BPE
  token count when no vocab is loaded.
* ``word_shingles``     — k-word shingles (the MinHash/Jaccard unit).
* ``char_ngrams``       — character n-grams.
* ``quality metrics``   — length, punctuation ratio, stopword ratio,
  mean word length, composite quality score.
* ``lang_id_scores``    — stopword-profile language ID (argmax over
  per-language stopword hit counts) — the classic n-gram/stopword
  heuristic (Cavnar & Trenkle 1994 style, word-level).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ipeds_etl_spark.functions.cleaning import array_lit

# GPT-2-ish pre-tokenizer classes: word runs, digit runs, single
# non-space symbols. Java and RE2-style engines both support these
# classes; \p{L}/\p{N} are unicode-aware in Spark AND DuckDB.
BPE_ISH_PATTERN = r"\p{L}+|\p{N}+|[^\p{L}\p{N}\s]"

#: tiny per-language stopword profiles (word-level heuristic).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une"),
    "de": ("der", "die", "das", "und", "ist", "von", "den", "ein"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "人"),
}

STOPWORDS_EN = LANG_STOPWORDS["en"] + ("it", "for", "on", "with", "as", "was", "at", "by")


def tokens(text: Column) -> Column:
    """Whitespace tokens, empty strings dropped.
    DuckDB twin: ``list_filter(regexp_split_to_array(text,'\\s+'), t -> len(t)>0)``."""
    return F.filter(F.split(text, r"\s+"), lambda t: F.length(t) > 0)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_tokens(text: Column) -> Column:
    """GPT-2-style pre-tokens. DuckDB twin: ``regexp_extract_all(text, pattern)``."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def shingles_of(toks: Column, k: int = 3) -> Column:
    """All k-word shingles (space-joined) of a token-array column, in
    document order; shorter documents yield their single full-text
    shingle. DuckDB twin via
    ``list_transform(range(len(toks)-k+1), i -> array_to_string(toks[i+1:i+k], ' '))``
    (DuckDB list slicing is 1-based inclusive).

    PERF: pass an already-projected token column (``df.select(tokens(
    text).alias('toks'))`` first). Passing ``tokens(text)`` directly
    embeds the tokenizer subtree inside the per-shingle lambda, and the
    codegen re-tokenizes the document once per shingle — measured ~6×
    slower at sf0.1. A separate projection is an optimizer barrier
    (CollapseProject refuses to duplicate non-cheap expressions)."""
    n = F.size(toks)
    return F.when(n < k, F.array(F.array_join(toks, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
        )
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles straight from a text column. Safe on hot paths:
    the token array is LET-BOUND by wrapping it in a one-element array
    and building the shingles inside a ``transform`` lambda, where each
    reference is a lambda-variable read — without this, CollapseProject
    can inline the tokenizer subtree at every per-shingle reference and
    codegen re-tokenizes the document once per shingle (measured ~6× at
    sf0.1; same trick as ``bloom_probe``'s hash binding)."""
    boxed = F.array(tokens(text))
    return F.flatten(F.transform(boxed, lambda t: shingles_of(t, k)))


def char_ngrams(text: Column, n: int = 5) -> Column:
    """Character n-grams of the raw text (1 shingle per offset)."""
    ln = F.length(text)
    return F.when(ln < n, F.array(text)).otherwise(
        F.transform(F.sequence(F.lit(1), ln - n + 1), lambda i: F.substring(text, i, n))
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------
#: detection patterns restricted to syntax valid in BOTH Java regex
#: (Spark, JVM-side codegen) and RE2 (DuckDB oracle): no lookaround,
#: no backreferences. Dict order = masking order (emails first: their
#: local parts may contain digits a later pattern would mangle).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "ipv4": (r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "[IP]"),
    "phone": (r"\d{3}-\d{3}-\d{4}", "[PHONE]"),
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-pattern match counts (map-only codegen; DuckDB twin is
    ``len(regexp_extract_all(...))``)."""
    return {
        name: F.size(F.regexp_extract_all(text, F.lit(pat), 0))
        for name, (pat, _) in PII_PATTERNS.items()
    }


def pii_scrub(text: Column) -> Column:
    """Redact every PII match, applying patterns in ``PII_PATTERNS``
    order. Pure expression chain — a 100 TB map-only pass."""
    out = text
    for pat, repl in PII_PATTERNS.values():
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_scrub_sql(expr: str) -> str:
    """DuckDB twin of ``pii_scrub`` (note the 'g' flag: DuckDB's
    regexp_replace is first-match-only by default, Spark's is global)."""
    out = expr
    for pat, repl in PII_PATTERNS.values():
        out = f"regexp_replace({out}, '{pat}', '{repl}', 'g')"
    return out


# ---------------------------------------------------------------------------
# Quality metrics
# ---------------------------------------------------------------------------
def punct_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(r"[^\p{L}\p{N}\s]"), 0))


def stopword_count(text: Column, words: tuple[str, ...] = STOPWORDS_EN) -> Column:
    pat = "(?i)\\b(" + "|".join(words) + ")\\b"
    return F.size(F.regexp_extract_all(text, F.lit(pat), 0))


def quality_metrics(text: Column, toks: Column | None = None) -> dict[str, Column]:
    """The standard cheap quality signals, all exact-arithmetic so the
    oracle can reproduce them: counts stay integers; ratios are formed
    once, as double divisions of integer counts. Pass a pre-projected
    ``toks`` column on hot paths (see ``shingles_of`` PERF note)."""
    if toks is None:
        toks = tokens(text)
    n_char = F.length(text)
    n_tok = F.size(toks)
    return {
        "n_chars_m": n_char.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "n_punct": punct_count(text).cast("long"),
        "n_stopwords": stopword_count(text).cast("long"),
        "mean_token_len": (
            F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
            .cast("double")
            / n_tok
        ),
    }


#: token pattern for language ID: lowercase letter runs. One regex
#: pass replaces the former per-language ``\b(w1|w2|…)\b`` scans.
_LANG_TOKEN_PAT = r"\p{L}+"


def lang_word_tokens(text: Column) -> Column:
    """Lowercased letter-run tokens — the single scan all European
    language scores are computed from.
    DuckDB twin: ``regexp_extract_all(lower(text), '\\p{L}+')``."""
    return F.regexp_extract_all(F.lower(text), F.lit(_LANG_TOKEN_PAT), 0)


def lang_scores(text: Column, word_toks: Column | None = None) -> dict[str, Column]:
    """Per-language stopword hit counts (integer, order-free ⇒ exact).

    One tokenize + per-language set membership instead of one full
    regex scan per language (the former shape — the suite's most
    avoidable constant factor). A literal-array ``array_contains``
    per language is required rather than one token→lang map because
    the profiles overlap ("la"/"de"/"un" are both es and fr). zh keeps
    its own single character-class pass: CJK has no word boundaries,
    so its score is per-character, not per-token.

    PERF: pass a pre-projected ``word_toks`` column on hot paths —
    inlining the tokenizer subtree into every per-language lambda
    would re-tokenize once per language (see ``shingles_of``)."""
    if word_toks is None:
        word_toks = lang_word_tokens(text)
    out = {}
    for lang, words in LANG_STOPWORDS.items():
        if lang == "zh":  # CJK has no word boundaries: count characters
            cnt = F.size(F.regexp_extract_all(text, F.lit("[" + "".join(words) + "]"), 0))
        else:
            lit_words = array_lit(words)
            cnt = F.size(F.filter(word_toks, lambda t: F.array_contains(lit_words, t)))
        out[lang] = cnt.cast("long")
    return out


def lang_id_from_scores(scores: dict[str, Column]) -> Column:
    """argmax language over already-projected score columns;
    deterministic tie-break by language code so both engines pick the
    same winner.

    PERF: pass plain column references, not the ``lang_scores``
    expressions themselves — the argmax references every score THREE
    times (pairs / top / winners), and inlined score subtrees triple a
    tree the analyzer already walks per language. Projecting scores as
    real columns first keeps Catalyst analysis O(langs), not
    O(langs × score-tree); the inlined form cost ~2s of pure
    plan-analysis per build at 5 languages."""
    pairs = F.array(
        *[
            F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
            for lang in sorted(scores)
        ]
    )
    top_score = F.array_max(F.transform(pairs, lambda p: p["score"]))
    winners = F.filter(pairs, lambda p: p["score"] == top_score)
    return F.array_min(F.transform(winners, lambda p: p["lang"]))


def lang_id(text: Column, word_toks: Column | None = None) -> Column:
    """Single-expression language ID (see ``lang_id_from_scores`` for
    the two-projection form hot paths should use)."""
    return lang_id_from_scores(lang_scores(text, word_toks))


def lang_id_sql(text_expr: str, toks_expr: str = "__lang_toks") -> str:
    """DuckDB twin of ``lang_id`` + ``lang_scores``: greatest-score
    argmax with min-lang tie-break, as a scalar SQL expression set.
    Returns (select-fragment) producing columns score_<lang>…,
    pred_lang. ``toks_expr`` names a pre-projected token list column
    (``lang_word_tokens_sql``); project it in a prior CTE exactly like
    the Spark side pre-projects ``lang_word_tokens``."""
    frags = []
    for lang, words in sorted(LANG_STOPWORDS.items()):
        if lang == "zh":
            pat = "[" + "".join(words) + "]"
            expr = f"len(regexp_extract_all({text_expr}, '{pat}'))"
        else:
            lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
            expr = f"len(list_filter({toks_expr}, t -> list_contains({lst}, t)))"
        frags.append(f"CAST({expr} AS BIGINT) AS score_{lang}")
    langs = sorted(LANG_STOPWORDS)
    structs = ", ".join(f"{{'score': score_{lg}, 'lang': '{lg}'}}" for lg in langs)
    pred = (
        "list_min(list_transform(list_filter("
        f"[{structs}], p -> p.score = list_max([{', '.join('score_' + lg for lg in langs)}])"
        "), p -> p.lang)) AS pred_lang"
    )
    return ", ".join(frags) + ", " + pred


def lang_word_tokens_sql(text_expr: str) -> str:
    """DuckDB twin of ``lang_word_tokens``."""
    return f"regexp_extract_all(lower({text_expr}), '{_LANG_TOKEN_PAT}')"
