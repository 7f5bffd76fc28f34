"""Text analysis functions for large-scale training-data pipelines.

All pure DataFrame expressions (whole-stage codegen, no Python).  Each has
a DuckDB-equivalent rendering used by the driver's oracle checks.

* token counting: whitespace tokenizer (+ a BPE-ish regex variant)
* quality scoring: length / punctuation / stopword / alpha ratios
* language ID: stopword-hit n-gram heuristic over a tiny per-language list
* document fingerprint: md5 of the normalized text
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Tiny per-language stopword marker lists (public knowledge).  The heuristic
# scores a language by how many of its markers appear as whole words.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "was"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "es", "y"],
    "de": ["der", "die", "das", "und", "ist"],
}

STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "it"]


def ws_token_count(col: Column) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    t = F.trim(col)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def ws_token_count_sql(expr: str) -> str:
    return (
        f"CASE WHEN trim({expr}) = '' THEN 0 "
        f"ELSE length(regexp_split_to_array(trim({expr}), '\\s+')) END"
    )


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish token estimate: count word pieces + digits + punctuation runs.

    Regex matches the common pre-tokenizer classes: letter runs, digit
    runs, single punctuation marks.
    """
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def bpe_ish_token_count_sql(expr: str) -> str:
    return (
        f"length(regexp_extract_all({expr}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))"
    )


def alpha_ratio(col: Column) -> Column:
    """Fraction of characters that are ascii letters or spaces."""
    kept = F.length(F.regexp_replace(col, r"[^A-Za-z ]", ""))
    return F.round(kept / F.greatest(F.length(col), F.lit(1)), 6)


def alpha_ratio_sql(expr: str) -> str:
    return (
        f"round(length(regexp_replace({expr}, '[^A-Za-z ]', '', 'g')) * 1.0"
        f" / greatest(length({expr}), 1), 6)"
    )


def punct_ratio(col: Column) -> Column:
    kept = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return F.round(kept / F.greatest(F.length(col), F.lit(1)), 6)


def punct_ratio_sql(expr: str) -> str:
    return (
        f"round(length(regexp_replace({expr}, '[A-Za-z0-9\\s]', '', 'g')) * 1.0"
        f" / greatest(length({expr}), 1), 6)"
    )


def stopword_ratio(col: Column, stopwords: list[str] = STOPWORDS_EN) -> Column:
    """Fraction of whitespace tokens that are (lowercased) stopwords."""
    toks = F.split(F.trim(F.lower(col)), r"\s+")
    hits = F.size(F.filter(toks, lambda t: t.isin(stopwords)))
    return F.round(hits / F.greatest(F.size(toks), F.lit(1)), 6)


def stopword_ratio_sql(expr: str, stopwords: list[str] = STOPWORDS_EN) -> str:
    sw = ", ".join(f"'{s}'" for s in stopwords)
    toks = f"regexp_split_to_array(trim(lower({expr})), '\\s+')"
    return (
        f"round(length(list_filter({toks}, t -> t IN ({sw}))) * 1.0"
        f" / greatest(length({toks}), 1), 6)"
    )


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: favors alphabetic text of
    reasonable length with a sane stopword share (C4/CCNet-style signals).
    """
    n = ws_token_count(col)
    len_ok = F.when((n >= 5) & (n <= 1000), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round(
        0.4 * alpha_ratio(col) + 0.3 * len_ok
        + 0.3 * F.least(stopword_ratio(col) * 4, F.lit(1.0)),
        6,
    )


def quality_score_sql(expr: str) -> str:
    n = ws_token_count_sql(expr)
    return (
        f"round(0.4 * {alpha_ratio_sql(expr)}"
        f" + 0.3 * (CASE WHEN {n} BETWEEN 5 AND 1000 THEN 1.0 ELSE 0.0 END)"
        f" + 0.3 * least({stopword_ratio_sql(expr)} * 4, 1.0), 6)"
    )


def lang_scores(col: Column) -> dict[str, Column]:
    toks = F.split(F.trim(F.lower(col)), r"\s+")
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col: Column) -> Column:
    """Pick the language with the most marker hits; 'und' if none hit.
    Ties break by language-code order (deterministic)."""
    scores = lang_scores(col)
    pairs = F.array(*[
        F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
        for lang in sorted(LANG_MARKERS)
    ])
    best = F.array_max(F.filter(pairs, lambda p: p["score"] > 0))
    return F.coalesce(best["lang"], F.lit("und"))


def lang_id_sql(expr: str) -> str:
    toks = f"regexp_split_to_array(trim(lower({expr})), '\\s+')"
    structs = []
    for lang in sorted(LANG_MARKERS):
        sw = ", ".join(f"'{s}'" for s in LANG_MARKERS[lang])
        structs.append(
            f"{{'score': length(list_filter({toks}, t -> t IN ({sw}))), 'lang': '{lang}'}}"
        )
    arr = "[" + ", ".join(structs) + "]"
    return (
        f"coalesce(list_max(list_filter({arr}, p -> p.score > 0)).lang, 'und')"
    )


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of lowercase text stripped of non-alnum."""
    return F.md5(F.regexp_replace(F.lower(col), r"[^a-z0-9]", ""))


def fingerprint_sql(expr: str) -> str:
    return f"md5(regexp_replace(lower({expr}), '[^a-z0-9]', '', 'g'))"


def word_shingles(col: Column, k: int = 3) -> Column:
    """Array of k-word shingles (space-joined), distinct.

    Built by zipping the token array with its shifted slices
    (``zip_with`` lambdas touch only their element arguments), NOT by a
    ``transform`` over an index array whose lambda slices the token
    array: a lambda that closes over a non-trivial outer expression
    re-evaluates it **per element** — the regex split ran once per
    token, O(n²) string work per document, measured 3-5x slower on the
    documents table.  Here the split/slice expressions appear only as
    zip_with *arguments*, evaluated once per row (k-1 shifted slices,
    O(n·k) total).  Documents shorter than k tokens yield an empty
    array."""
    toks = F.split(F.trim(col), r"\s+")
    n = F.size(toks)
    acc = toks
    for j in range(1, k):
        shifted = F.slice(toks, j + 1, F.greatest(n - j, F.lit(0)))
        acc = F.zip_with(acc, shifted,
                         lambda x, y: F.concat(x, F.lit(" "), y))
    return F.array_distinct(F.slice(acc, 1, F.greatest(n - (k - 1),
                                                       F.lit(0))))


def word_shingles_sql(expr: str, k: int = 3) -> str:
    toks = f"regexp_split_to_array(trim({expr}), '\\s+')"
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(length({toks}) - {k - 1}, 0) + 1),"
        f" i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' ')))"
    )


#: PII redaction rules applied in order (order matters: emails before
#: IPv4 before SSN before phone, so digit-group patterns never clip a
#: longer match).  Regex syntax restricted to the common subset of Java
#: regex (Spark) and RE2 (DuckDB oracle) — no backrefs, no lookaround.
PII_RULES = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
]


def scrub_pii(col: Column) -> Column:
    """Redact common PII shapes (emails, IPv4, SSN-like, phone-like) to
    typed placeholder tokens — the standard pre-training scrub pass.
    Pure chained ``regexp_replace``: codegen'd JVM expressions, no UDF.
    """
    out = col
    for pat, token in PII_RULES:
        out = F.regexp_replace(out, pat, token)
    return out


def scrub_pii_sql(expr: str) -> str:
    # DuckDB single-quoted strings are not escape-processed (standard
    # SQL), so the regex goes in verbatim — no backslash doubling.
    out = expr
    for pat, token in PII_RULES:
        p = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{token}', 'g')"
    return out


def had_pii(col: Column) -> Column:
    """True iff :func:`scrub_pii` would change the text — the audit/
    filter companion (drop or quarantine documents with PII)."""
    return scrub_pii(col) != col


def had_pii_sql(expr: str) -> str:
    return f"({scrub_pii_sql(expr)} != {expr})"




def dup_ngram_fraction(col: Column, k: int = 2) -> Column:
    """Fraction of word k-grams that are repeats of an earlier k-gram in
    the same document — the intra-document repetition signal
    (Gopher/RefinedWeb-style quality filters drop docs above ~0.2).
    Pure per-row array expressions: zero shuffle, whole-stage codegen.
    0.0 for docs shorter than k tokens."""
    n = F.size(F.split(F.trim(col), r"\s+"))
    total = F.greatest(n - (k - 1), F.lit(0))
    distinct = F.size(word_shingles(col, k))
    return F.round(
        F.when(total <= 0, F.lit(0.0))
        .otherwise(1.0 - distinct / total), 6)


def dup_ngram_fraction_sql(expr: str, k: int = 2) -> str:
    toks = f"regexp_split_to_array(trim({expr}), '\\s+')"
    total = f"greatest(length({toks}) - {k - 1}, 0)"
    distinct = f"length({word_shingles_sql(expr, k)})"
    return (
        f"round(CASE WHEN {total} <= 0 THEN 0.0 "
        f"ELSE 1.0 - {distinct} * 1.0 / {total} END, 6)"
    )


def dup_line_fraction(col: Column, sep: str = r"\.\s+") -> Column:
    """Fraction of lines/sentences (split on ``sep``) that repeat an
    earlier one — boilerplate detection within a document."""
    parts = F.filter(F.split(F.trim(col), sep), lambda x: x != "")
    total = F.size(parts)
    distinct = F.size(F.array_distinct(parts))
    return F.round(
        F.when(total <= 0, F.lit(0.0))
        .otherwise(1.0 - distinct / total), 6)


def dup_line_fraction_sql(expr: str, sep: str = r"\.\s+") -> str:
    parts = (f"list_filter(regexp_split_to_array(trim({expr}), '{sep}'),"
             f" x -> x != '')")
    return (
        f"round(CASE WHEN length({parts}) <= 0 THEN 0.0 "
        f"ELSE 1.0 - length(list_distinct({parts})) * 1.0"
        f" / length({parts}) END, 6)"
    )
