"""Text-analysis functions for training-data pipelines (beyond-reference).

All pure built-in column expressions — whole-stage codegen, no Python, and
each one ANSI-SQL-expressible for oracle checking. At 100 TB these run as
map-only stages fused into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EN_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")
ES_MARKERS = ("el", "la", "de", "que", "los", "una", "por")
DE_MARKERS = ("der", "die", "und", "das", "ist", "nicht")


def tokens(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.trim(c), r"\s+")


def token_count(text_col: str | Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text_col))


# GPT-2-style pre-tokenizer pieces: contraction suffixes, space-prefixed
# letter runs, digit runs, punctuation runs. Deliberately RE2-compatible
# (no lookarounds) so the same pattern runs in the DuckDB oracle.
BPE_PIECE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def subword_token_count(text_col: str | Column) -> Column:
    """BPE-ish token-count estimate: counts pre-tokenizer pieces (the unit
    BPE merges operate within), a much tighter LLM-token proxy than
    whitespace words on punctuation- or number-heavy text. Pure JVM
    regexp_extract_all — map-only at any scale."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PIECE_RE), F.lit(0)))


def punct_ratio(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    # accented Latin-1 letters are letters, not punctuation — without the
    # range, clean Spanish/German text pays the punctuation penalty
    return F.length(F.regexp_replace(c, "[a-zA-ZÀ-ÿ0-9 ]", "")) / F.greatest(
        F.length(c), F.lit(1)
    )


def _marker_count(text_col: str, markers: tuple[str, ...]) -> Column:
    if not isinstance(text_col, str):
        raise TypeError(
            "_marker_count requires a column NAME (the expression is built "
            "as SQL text); pass the column's name, not a Column object"
        )
    lst = ", ".join(f"'{m}'" for m in markers)
    expr_src = f"size(filter(split(trim(lower({text_col})), '\\\\s+'), x -> x IN ({lst})))"
    return F.expr(expr_src)


def stopword_ratio(text_col: str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    return _marker_count(text_col, stopwords) / F.greatest(
        token_count(text_col), F.lit(1)
    )


# ---------------------------------------------------------------------------
# Character-trigram language ID (Cavnar & Trenkle, "N-Gram-Based Text
# Categorization", 1994 — the public textcat recipe). Profiles are
# hand-curated high-frequency trigrams per language with INTEGER rank
# weights: integer sums are exact and order-insensitive, so the Spark fold
# and the DuckDB oracle's SUM agree bit-for-bit (doubles would tie-break
# differently under different summation orders).
# ---------------------------------------------------------------------------

LANG_PROFILES: dict[str, dict[str, int]] = {
    # weight 5 = highest-frequency band … 1 = lowest. Space marks a word
    # boundary (texts are padded with one space each side before slicing).
    "en": {
        " th": 5, "the": 5, "he ": 5, " an": 5, "and": 5, "nd ": 5, "ing": 5,
        "ng ": 5, " of": 5, "of ": 5,
        "ion": 4, "tio": 4, "ati": 4, " to": 4, "to ": 4, "er ": 4, " in": 4,
        "ed ": 4, " is": 4, "is ": 4,
        "ent": 3, " co": 3, "re ": 3, "at ": 3, "es ": 3, " re": 3, " be": 3,
        "hat": 3, " wh": 3, "ere": 3,
        "his": 2, " it": 2, "it ": 2, " wi": 2, "wit": 2, "ith": 2, "th ": 2,
        "for": 2, " fo": 2, "ter": 2,
        "was": 1, " wa": 1, " on": 1, "on ": 1, "you": 1, " yo": 1, "all": 1,
        "ll ": 1, " he": 1, "ver": 1,
    },
    "es": {
        " de": 5, "de ": 5, " la": 5, "la ": 5, " qu": 5, "que": 5, "ue ": 5,
        "os ": 5, " el": 5, "el ": 5,
        "en ": 4, " en": 4, " co": 4, "con": 4, "ció": 4, "ión": 4, "ón ": 4,
        "ado": 4, "as ": 4, "ar ": 4,
        " se": 3, "se ": 3, " po": 3, "por": 3, "or ": 3, " pa": 3, "ra ": 3,
        "nte": 3, " un": 3, "un ": 3,
        "una": 2, "sta": 2, "ta ": 2, "ien": 2, "cia": 2, "ia ": 2, "res": 2,
        "ero": 2, "era": 2, "ant": 2,
        "los": 1, " lo": 1, "del": 1, " es": 1, "es ": 1, "nto": 1, "to ": 1,
        "da ": 1, "ndo": 1, "aba": 1,
    },
    "de": {
        " de": 5, "der": 5, "er ": 5, "ie ": 5, " di": 5, "die": 5, "und": 5,
        " un": 5, "nd ": 5, "en ": 5,
        "ein": 4, " ei": 4, "in ": 4, "ch ": 4, "sch": 4, " sc": 4, "ung": 4,
        "ng ": 4, " ge": 4, "gen": 4,
        "ber": 3, " be": 3, "cht": 3, "ich": 3, " ic": 3, "das": 3, " da": 3,
        "ten": 3, "te ": 3, "ver": 3,
        " ve": 2, "it ": 2, " mi": 2, "mit": 2, "zu ": 2, " zu": 2, "auf": 2,
        " au": 2, "den": 2, "des": 2,
        "nen": 1, "ne ": 1, " we": 1, "wer": 1, "ist": 1, " is": 1, "ht ": 1,
        "lic": 1, "eit": 1, "ach": 1,
    },
    "fr": {
        " de": 5, "de ": 5, " le": 5, "le ": 5, "es ": 5, "les": 5, "ent": 5,
        "nt ": 5, "et ": 5, " et": 5,
        " la": 4, "la ": 4, "ion": 4, "on ": 4, "ne ": 4, " pa": 4, "par": 4,
        "que": 4, " qu": 4, "ue ": 4,
        " po": 3, "pou": 3, "our": 3, "ur ": 3, "ais": 3, "ait": 3, " co": 3,
        "con": 3, "re ": 3, " re": 3,
        "eur": 2, "eme": 2, "men": 2, " un": 2, "un ": 2, "une": 2, "dan": 2,
        " da": 2, "ans": 2, "ns ": 2,
        " il": 1, "il ": 1, "se ": 1, " se": 1, "tre": 1, " tr": 1, "ous": 1,
        "vou": 1, " vo": 1, "ez ": 1,
    },
}

# Tie-break preference when integer scores are equal (checked in this order).
LANG_ORDER = ("en", "es", "de", "fr")


def _clean_for_trigrams(text_col: str | Column) -> Column:
    """lowercase, strip to letters (incl. Latin-1 accents — the Spanish
    profile's weighted trigrams contain ó/í and would otherwise be
    unreachable), pad one space each side — identical normalization in
    the DuckDB oracle (lang_id SQL in queries.py)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), "[^a-zà-ÿ ]+", " "),
        F.lit(" "),
    )


def trigrams_of(cleaned_col: str | Column) -> Column:
    """All overlapping character trigrams of an ALREADY-CLEANED text column.

    The input must be a materialized attribute (an aliased projection of
    :func:`_clean_for_trigrams`), never the cleaning expression itself: an
    expression inlined here is re-evaluated *per array element* inside the
    lambda (higher-order functions get no common-subexpression
    elimination), turning the O(n) regex clean into O(n²) per row.
    """
    c = F.col(cleaned_col) if isinstance(cleaned_col, str) else cleaned_col
    # sequence(1, 0) DESCENDS to [1, 0] in Spark — inputs shorter than 3
    # chars must yield an empty gram array, not two phantom short grams
    return F.when(
        F.length(c) < 3, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(c) - 2),
            lambda i: F.substring(c, i, F.lit(3)),
        )
    )


def lang_score_from_grams(grams_col: str | Column, lang: str) -> Column:
    """Integer profile score: Σ weight(trigram) over a trigram array
    attribute. Integer sums are exact and order-insensitive, so the Spark
    fold and the DuckDB oracle SUM agree bit-for-bit."""
    profile = LANG_PROFILES[lang]
    kv = []
    for k, w in profile.items():
        kv.append(F.lit(k))
        kv.append(F.lit(w).cast("long"))
    m = F.create_map(*kv)
    g = F.col(grams_col) if isinstance(grams_col, str) else grams_col
    return F.aggregate(
        g,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.coalesce(F.element_at(m, t), F.lit(0).cast("long")),
    )


def lang_score(text_col: str | Column, lang: str) -> Column:
    """One-shot score straight from raw text. ONLY for single-language /
    single-use contexts: it inlines the cleaning expression into the gram
    slicer, which is quadratic per row (see :func:`trigrams_of`). Multi-
    language scoring must project ``_clean_for_trigrams`` then
    ``trigrams_of`` as separate attributes and use
    :func:`lang_score_from_grams` — that is what ``lang_id_ngram_q`` does.
    """
    t = _clean_for_trigrams(text_col)
    return lang_score_from_grams(trigrams_of(t), lang)


def lang_from_scores(scores: dict[str, Column]) -> Column:
    """argmax cascade over per-language score columns, 'und' when nothing
    fires; deterministic ties via LANG_ORDER position."""
    expr = F.lit("und")
    for lang in reversed(LANG_ORDER):
        later = [scores[lo] for lo in LANG_ORDER[LANG_ORDER.index(lang) + 1 :]]
        cond = scores[lang] > 0
        for other in later:
            cond = cond & (scores[lang] >= other)
        expr = F.when(cond, lang).otherwise(expr)
    return expr


def lang_id_ngram(text_col: str | Column) -> Column:
    """argmax over LANG_PROFILES scores, 'und' when no profile fires."""
    return lang_from_scores(
        {lang: lang_score(text_col, lang) for lang in LANG_ORDER}
    )


def lang_id(text_col: str) -> Column:
    """Marker-stopword language heuristic (cheap screen; prefer
    :func:`lang_id_ngram` — the trigram-profile classifier — for real
    corpora).

    Picks the language whose marker list hits most tokens; 'und'
    (undetermined) when nothing matches.
    """
    en = _marker_count(text_col, EN_STOPWORDS)
    es = _marker_count(text_col, ES_MARKERS)
    de = _marker_count(text_col, DE_MARKERS)
    return (
        F.when((en >= es) & (en >= de) & (en > 0), "en")
        .when((es >= de) & (es > 0), "es")
        .when(de > 0, "de")
        .otherwise("und")
    )


def quality_score(text_col: str) -> Column:
    """Composite [0,1] quality: length saturation + low punctuation +
    stopword presence (Gopher-rules-style heuristics, public recipe)."""
    length_term = F.least(token_count(text_col) / F.lit(100.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text_col) * 5, F.lit(1.0))
    stop_term = F.least(stopword_ratio(text_col) * 4, F.lit(1.0))
    return F.round(0.4 * length_term + 0.3 * punct_term + 0.3 * stop_term, 4)


def doc_fingerprint(text_col: str | Column) -> Column:
    """Stable content fingerprint: md5 of whitespace-normalized lowercase."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


# ---------------------------------------------------------------------------
# Repetition statistics (Gopher-rules-style, public recipe: Rae et al. 2021
# §A1.1 — duplicate-word and top-n-gram fractions flag boilerplate/spam).
# Needs per-document term counts, so unlike the scalar functions above this
# is a DataFrame pipeline: explode → two keyed aggregations → join. Keys
# are (doc_id[, term]) — high-cardinality and uniform, so partial
# aggregation absorbs most rows map-side at any scale.
# ---------------------------------------------------------------------------

def repetition_stats(df, id_cols: list[str], text_col: str = "text"):
    """Per-document repetition metrics: ``n_words``, ``dup_word_frac``
    (1 − distinct/total words), ``top_bigram_frac`` (share of bigram
    occurrences taken by the most frequent bigram; 0 for <2-word docs)."""
    ids = list(id_cols)
    base = df.select(
        *ids, F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__w")
    )
    wstats = (
        base.select(*ids, F.explode("__w").alias("w"))
        .groupBy(*ids)
        .agg(
            F.count("*").alias("n_words"),
            F.round(
                F.lit(1.0) - F.countDistinct("w") / F.count("*"), 6
            ).alias("dup_word_frac"),
        )
    )
    bigrams = F.when(
        F.size("__w") >= 2,
        F.expr("transform(sequence(0, size(__w)-2), i -> concat(__w[i], ' ', __w[i+1]))"),
    ).otherwise(F.expr("array()").cast("array<string>"))
    bstats = (
        base.select(*ids, F.explode(bigrams).alias("bg"))
        .groupBy(*ids, "bg")
        .agg(F.count("*").alias("c"))
        .groupBy(*ids)
        .agg(F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_frac"))
    )
    return wstats.join(bstats, ids, "left").select(
        *ids,
        "n_words",
        "dup_word_frac",
        F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# PII redaction — regex scrubbing of emails / E.164-ish phones / IPv4.
# Patterns are RE2-compatible (no lookarounds) so the DuckDB oracle runs
# the identical expressions. Map-only JVM regexp_replace at any scale.
# Order matters: IPs are redacted before phones so digit-dot runs aren't
# half-eaten by the phone pattern.
# ---------------------------------------------------------------------------

PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    # E.164 runs (+15551234567) OR dashed groups (555-123-4567,
    # +1-555-123-4567, +44-123-4567) — the old '\+\d{1,3}-\d{3}-\d{4}'
    # missed every standard format longer than 7 digits
    ("phone", r"\+\d{7,15}|\+?\d{1,3}-\d{3}-\d{3,4}(?:-\d{4})?", "<PHONE>"),
)


def pii_redact(text_col: str | Column) -> Column:
    """Replace every PII match with its placeholder tag."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for _, pat, tag in PII_PATTERNS:
        c = F.regexp_replace(c, pat, tag)
    return c


def pii_counts(text_col: str | Column) -> dict[str, Column]:
    """``{kind: match-count}`` columns (audit trail for the redaction)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return {
        kind: F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        for kind, pat, _ in PII_PATTERNS
    }


def url_canonicalize(url_col: str | Column) -> Column:
    """Canonical form of a URL for host/page-level dedup (the RefinedWeb/
    CCNet URL-dedup convention): lowercase scheme+host, strip the
    fragment, strip ``utm_*`` tracking parameters (dropping a trailing
    ``?``/``&``), and strip one trailing slash from a non-root path.
    The path/query keep their case (paths ARE case-sensitive).

    Pure JVM regexp chain, map-only; every pattern is RE2-compatible so
    a DuckDB oracle replays it verbatim (the `BPE_PIECE_RE` contract).
    """
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    # 1. fragment off
    c = F.regexp_replace(c, "#.*$", "")
    # 2. utm params off — ANCHORED to a parameter boundary so a param
    #    merely CONTAINING "utm_" (autumn_utm_x, my_utm_y) is never
    #    touched. Order matters: (a) every &-led utm param drops with
    #    its own & (replace-all handles consecutive ones — each carries
    #    its own separator); (b) a ?-led utm param followed by a
    #    survivor promotes that survivor onto the "?"; (c) a lone ?-led
    #    utm param drops with the "?".
    c = F.regexp_replace(c, "&utm_[A-Za-z0-9_]*=[^&#]*", "")
    c = F.regexp_replace(c, "[?]utm_[A-Za-z0-9_]*=[^&#]*&", "?")
    c = F.regexp_replace(c, "[?]utm_[A-Za-z0-9_]*=[^&#]*$", "")
    # trailing separators left by the strips (or by the URL itself:
    # 'p?a=1&' is the same page as 'p?a=1') — drop them
    c = F.regexp_replace(c, "[?&]+$", "")
    # 3. lowercase scheme://host (authority ends at /, ?, or end)
    scheme_host = F.lower(F.regexp_extract(c, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)", 1))
    rest = F.regexp_replace(c, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*", "")
    # 4. strip www. and the scheme's OWN default port only (an http
    #    service on :443 is a different endpoint than the https page)
    scheme_host = F.regexp_replace(scheme_host, "://www\\.", "://")
    scheme_host = F.regexp_replace(scheme_host, "^(http://[^:/]*):80$", "$1")
    scheme_host = F.regexp_replace(scheme_host, "^(https://[^:/]*):443$", "$1")
    # 5. one trailing slash off a non-root path (no query present)
    rest = F.regexp_replace(rest, "^(/.+?)/$", "$1")
    return F.concat(scheme_host, rest)


# Unicode-script profiling — the language-ID support signal the n-gram
# model can't provide (a CJK or Cyrillic page needs zero trigram
# evidence: its codepoint blocks already decide). Counts per script
# class via the length-difference idiom (strip everything OUTSIDE the
# block, measure what's left) — pure JVM regexp, map-only, zero Python.
# Blocks kept to the BMP so Spark and DuckDB length() agree on
# codepoint counts. A DuckDB oracle replays with RE2 \x{...} classes.
_SCRIPT_BLOCKS: dict[str, str] = {
    # (Java-regex character class, per script label)
    "latin": "A-Za-z",
    "cjk": "一-鿿぀-ヿ",   # unified ideographs + kana
    "cyrillic": "Ѐ-ӿ",
    "arabic": "؀-ۿ",
    "greek": "Ͱ-Ͽ",
}


def script_counts(text_col: str | Column) -> dict[str, Column]:
    """Per-script codepoint counts (exact BIGINTs): strip the
    complement of each block and measure the remainder."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return {
        name: F.length(
            F.regexp_replace(c, f"[^{block}]", "")
        ).cast("long")
        for name, block in _SCRIPT_BLOCKS.items()
    }


def dominant_script(text_col: str | Column) -> Column:
    """argmax over the script counts with 'none' when no block fires
    and an alphabetical tie-break (exact integer comparisons, so the
    label is deterministic under any partitioning or engine)."""
    counts = script_counts(text_col)
    best = F.lit("none")
    best_n = F.lit(0).cast("long")
    # alphabetical iteration + strict > means earlier names win ties
    for name in sorted(counts):
        take = counts[name] > best_n
        best = F.when(take, F.lit(name)).otherwise(best)
        best_n = F.when(take, counts[name]).otherwise(best_n)
    return best


# Luhn-validated credit-card detection — the PII tier's false-positive
# killer: a 16-digit run is only a card number if its Luhn checksum
# holds (ISO/IEC 7812), so order IDs and timestamps stop tripping the
# redactor. Candidate extraction is an RE2-safe digit-group pattern;
# validation is an exact-integer fold over the digit string (double
# every second digit from the right, subtract 9 past 9, sum % 10 == 0)
# — pure JVM higher-order functions, map-only, and a DuckDB oracle
# replays both the extraction and the fold bit-for-bit.
# ADVICE r10: the optional trailing group extends coverage to 17-19
# digit PANs (19-digit Visa/Maestro/UnionPay ranges, formatted
# 4-4-4-4-1..3 or solid) so the whole 13-19 length filter below is
# reachable — the previous 4+4+4+{1,4} shape capped candidates at 16
# digits and silently dropped long PANs.
CC_CANDIDATE_PATTERN = (
    r"\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{1,4}(?:[ -]?\d{1,3})?\b"
)


def luhn_valid(digits_col: Column) -> Column:
    """True iff the digit string satisfies the Luhn checksum. Built
    from DSL combinators only (split → zip_with positions → aggregate)
    so it composes inside higher-order lambdas — ``F.expr`` text cannot
    reference a lambda variable."""
    rev_chars = F.split(F.reverse(digits_col), "")
    digits = F.filter(rev_chars, lambda ch: ch != "")  # split-trailer guard
    contrib = F.zip_with(
        digits,
        F.sequence(F.lit(1), F.size(digits)),
        lambda ch, i: F.when(
            i % 2 == 0,
            F.when(
                (F.ascii(ch) - 48) * 2 > 9, (F.ascii(ch) - 48) * 2 - 9
            ).otherwise((F.ascii(ch) - 48) * 2),
        ).otherwise(F.ascii(ch) - 48),
    )
    total = F.aggregate(contrib, F.lit(0), lambda a, x: a + x)
    return total % 10 == 0


def credit_card_audit(text_col: str | Column) -> dict[str, Column]:
    """``{cc_candidates, cc_valid, cc_last4}`` columns: digit-group
    candidates in the text, how many pass Luhn, and the last 4 digits
    of the first VALID card (NULL when none) — the audit columns a
    compliance pipeline keeps after redaction."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    cands = F.regexp_extract_all(c, F.lit(CC_CANDIDATE_PATTERN), F.lit(0))
    # strip separators; keep only plausible card lengths (13-19)
    norm = F.filter(
        F.transform(cands, lambda s: F.regexp_replace(s, "[ -]", "")),
        lambda s: (F.length(s) >= 13) & (F.length(s) <= 19),
    )
    valid = F.filter(norm, luhn_valid)
    return {
        "cc_candidates": F.size(norm).cast("long"),
        "cc_valid": F.size(valid).cast("long"),
        "cc_last4": F.when(
            F.size(valid) > 0, F.substring(F.element_at(valid, 1), -4, 4)
        ),
    }


# IBAN detection — the international sibling of the Luhn tier: an
# ISO 13616 IBAN is only real when its mod-97 checksum equals 1
# (ISO/IEC 7064 MOD 97-10), computed over the rearranged string (first
# 4 chars moved to the end, letters mapped A=10..Z=35). The fold keeps
# the running value < 97 at every step (streaming modular reduction),
# so the arithmetic is exact 32-bit integers in any engine — no bigint
# parse of a 36-digit number. RE2-safe candidate pattern (2 letters +
# 2 digits + 11..30 alphanumerics, optional single spaces between the
# conventional 4-char groups), map-only.
IBAN_CANDIDATE_PATTERN = (
    r"\b[A-Z]{2}[0-9]{2}(?: ?[A-Z0-9]{4}){2,7}(?: ?[A-Z0-9]{1,3})?\b"
)


def iban_valid(iban_col: Column) -> Column:
    """True iff the (space-free, uppercase) string passes the ISO 13616
    mod-97 check. DSL combinators only, the luhn_valid convention."""
    s = iban_col
    rearranged = F.concat(F.substring(s, 5, 34), F.substring(s, 1, 4))
    chars = F.filter(F.split(rearranged, ""), lambda ch: ch != "")
    acc = F.aggregate(
        chars,
        F.lit(0),
        lambda a, ch: F.when(
            (F.ascii(ch) >= 48) & (F.ascii(ch) <= 57),
            (a * 10 + (F.ascii(ch) - 48)) % 97,
        ).otherwise((a * 100 + (F.ascii(ch) - 55)) % 97),
    )
    return acc == 1


def iban_audit(text_col: str | Column) -> dict[str, Column]:
    """``{iban_candidates, iban_valid, iban_country}`` columns: IBAN-
    shaped candidates in the text, how many pass mod-97, and the
    ISO 3166 country code of the first VALID one (NULL when none)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    cands = F.regexp_extract_all(c, F.lit(IBAN_CANDIDATE_PATTERN), F.lit(0))
    norm = F.filter(
        F.transform(cands, lambda s: F.regexp_replace(s, " ", "")),
        lambda s: (F.length(s) >= 15) & (F.length(s) <= 34),
    )
    valid = F.filter(norm, iban_valid)
    return {
        "iban_candidates": F.size(norm).cast("long"),
        "iban_valid": F.size(valid).cast("long"),
        "iban_country": F.when(
            F.size(valid) > 0, F.substring(F.element_at(valid, 1), 1, 2)
        ),
    }


# Markdown boilerplate strip — the GitHub/docs-corpus sibling of the
# HTML tier: fenced code blocks drop wholesale (their text is code —
# the code/prose routing decision belongs to code_signals below, not a
# prose pipeline), inline code drops, images/links reduce to their
# alt/anchor text, header/blockquote/bullet/emphasis markers strip,
# horizontal rules vanish, whitespace collapses. RE2-safe (no
# lookarounds; emphasis handled by wrapped-span capture groups).
def markdown_strip(md_col: str | Column) -> Column:
    c = F.col(md_col) if isinstance(md_col, str) else md_col
    c = F.regexp_replace(c, r"(?s)```.*?```", " ")
    c = F.regexp_replace(c, r"`[^`\n]*`", " ")
    c = F.regexp_replace(c, r"!\[([^\]]*)\]\([^)]*\)", "$1")
    c = F.regexp_replace(c, r"\[([^\]]*)\]\([^)]*\)", "$1")
    c = F.regexp_replace(c, r"(?m)^#{1,6} +", "")
    c = F.regexp_replace(c, r"(?m)^> ?", "")
    c = F.regexp_replace(c, r"(?m)^ {0,3}([*+-]|\d+\.) +", "")
    c = F.regexp_replace(c, r"(?m)^ {0,3}(-{3,}|\*{3,}|_{3,}) *$", " ")
    c = F.regexp_replace(c, r"\*\*([^*\n]+)\*\*", "$1")
    c = F.regexp_replace(c, r"__([^_\n]+)__", "$1")
    c = F.regexp_replace(c, r"\*([^*\n]+)\*", "$1")
    c = F.regexp_replace(c, r"_([^_\n]+)_", "$1")
    return F.trim(F.regexp_replace(c, r"[ \t\n\r\f]+", " "))


# Code-vs-prose routing signals — the gate The-Stack-class pipelines
# run before text quality scoring (prose heuristics condemn perfectly
# good code): exact-integer symbol density (the strip-complement
# length idiom), semicolon-terminated and indented line counts, and
# language-keyword hits. The verdict is a pure integer rule — no
# floats, so SQL replays it bit-for-bit.
CODE_KEYWORD_PATTERN = (
    r"\b(def|return|import|class|function|var|const|elif|lambda|void|"
    r"printf)\b"
)


def code_signals(text_col: str | Column) -> dict[str, Column]:
    """``{n_chars, n_symbols, n_semi_lines, n_indent_lines, n_keywords,
    is_code}`` — is_code fires when symbol density ≥ 5% (20·symbols ≥
    chars) or ≥ 2 keywords alongside ≥ 1 structured (semicolon/indent)
    line."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n_chars = F.length(c).cast("long")
    n_symbols = (
        F.length(c) - F.length(F.regexp_replace(c, r"[{}();=<>\[\]]", ""))
    ).cast("long")
    lines = F.split(c, "\n")
    n_semi = F.size(
        F.filter(lines, lambda ln: ln.rlike(r";\s*$"))
    ).cast("long")
    n_indent = F.size(
        F.filter(lines, lambda ln: ln.rlike(r"^(    |\t)"))
    ).cast("long")
    n_kw = F.size(
        F.regexp_extract_all(c, F.lit(CODE_KEYWORD_PATTERN), F.lit(0))
    ).cast("long")
    is_code = (n_symbols * 20 >= n_chars) & (n_chars > 0) | (
        (n_kw >= 2) & (n_semi + n_indent >= 1)
    )
    return {
        "n_chars": n_chars,
        "n_symbols": n_symbols,
        "n_semi_lines": n_semi,
        "n_indent_lines": n_indent,
        "n_keywords": n_kw,
        "is_code": is_code,
    }


# PII pseudonymization — the referential-integrity-preserving sibling
# of redaction: each Luhn-VALID card number is replaced by a
# DETERMINISTIC surrogate (digits derived from md5 of the normalized
# PAN), preserving the occurrence's separator layout and its last 4
# digits (the industry display convention). Same PAN → same surrogate
# everywhere, so joins across pseudonymized tables still line up —
# which redaction destroys. Invalid candidates (order ids that merely
# look card-shaped) are left untouched: the Luhn gate is what keeps
# false positives out of the rewrite. Pure JVM combinators, map-only.
def _pan_surrogate(m: Column) -> Column:
    """Surrogate for ONE matched PAN string: md5-derived digits in the
    original separator layout, last 4 digits preserved."""
    norm = F.regexp_replace(m, "[ -]", "")
    h = F.md5(norm)
    total = F.length(norm)
    return F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(1), F.length(m)),
            lambda i: F.when(
                ~F.substring(m, i, F.lit(1)).rlike("[0-9]"),
                F.substring(m, i, F.lit(1)),
            ).otherwise(
                # 1-based index of this digit within the PAN
                F.when(
                    F.length(F.regexp_replace(
                        F.substring(m, F.lit(1), i), "[^0-9]", ""
                    )) > total - 4,
                    F.substring(m, i, F.lit(1)),  # keep last 4
                ).otherwise(
                    (
                        F.conv(
                            F.substring(
                                h,
                                F.length(F.regexp_replace(
                                    F.substring(m, F.lit(1), i),
                                    "[^0-9]", "",
                                )),
                                F.lit(1),
                            ),
                            16, 10,
                        ).cast("int") % 10
                    ).cast("string")
                )
            ),
        ),
    )


def pii_pseudonymize(text_col: str | Column) -> dict[str, Column]:
    """``{n_pseudonymized, text_out}``: how many valid PANs were
    rewritten, and the text with each one replaced by its deterministic
    surrogate. Uses the same candidate pattern + Luhn gate as
    :func:`credit_card_audit` — one source of truth."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    cands = F.regexp_extract_all(c, F.lit(CC_CANDIDATE_PATTERN), F.lit(0))
    valid = F.filter(
        cands,
        lambda s: (F.length(F.regexp_replace(s, "[ -]", "")) >= 13)
        & (F.length(F.regexp_replace(s, "[ -]", "")) <= 19)
        & luhn_valid(F.regexp_replace(s, "[ -]", "")),
    )
    out = F.aggregate(
        valid, c, lambda acc, s: F.replace(acc, s, _pan_surrogate(s))
    )
    return {
        "n_pseudonymized": F.size(valid).cast("long"),
        "text_out": out,
    }


# Mojibake detection + repair — the ftfy-style fix for the web's most
# common text corruption: UTF-8 bytes decoded as cp1252/Latin-1 once
# upstream ("café" → "cafÃ©", curly quotes → "â€œ"-class pairs). The
# inverse is exact: map the 27 cp1252-only punctuation characters back
# to the C1 bytes they stand for (a pure ``translate`` — cp1252 and
# Latin-1 agree everywhere else), re-encode as Latin-1, decode the
# bytes as UTF-8 — but ONLY when (a) the text shows mojibake markers
# (an Ã/Â/â lead followed by a char a UTF-8 continuation byte maps to
# under either misreading — real French/Portuguese uses such pairs far
# more rarely than corrupted text does), (b) every char is
# Latin-1-encodable after the pre-map (``encode`` raises on
# unmappables), and (c) the bytes actually ARE valid UTF-8
# (``is_valid_utf8`` guards ``decode``, which raises on malformed
# input). Pure JVM expressions, map-only; one repair pass
# (doubly-encoded text needs two applications — compose explicitly).

# cp1252 0x80-0x9F: the chars Windows put where Latin-1 has C1 controls
_CP1252_FROM = "".join(
    bytes([b]).decode("cp1252")
    for b in range(0x80, 0xA0)
    if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D)  # undefined in cp1252
)
_CP1252_TO = "".join(
    chr(b) for b in range(0x80, 0xA0)
    if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D)
)

# a UTF-8 continuation byte 0x80-0xBF misread as Latin-1 lands on
# U+0080-U+00BF (the low half invisible C1 controls — hence escapes);
# misread as cp1252 it lands on the punctuation chars above instead.
# None of those chars are regex metacharacters, so the class is safe.
MOJIBAKE_MARKER_PATTERN = (
    "[\u00c3\u00c2\u00e2][\x80-\xbf" + _CP1252_FROM + "]"
)


def mojibake_repair(text_col: str | Column) -> dict[str, Column]:
    """``{mojibake_detected, repaired, text_out}``: marker verdict,
    whether the repair fired (markers AND encodable AND byte-valid),
    and the fixed (or original) text."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    marked = c.rlike(MOJIBAKE_MARKER_PATTERN)
    pre = F.translate(c, _CP1252_FROM, _CP1252_TO)
    encodable = ~pre.rlike("[^\x00-\xff]")
    # CaseWhen evaluates branches lazily, so encode/decode only run on
    # rows that passed their guards — they raise on bad input otherwise
    latin1_ok = F.when(
        marked & encodable,
        F.call_function(
            "is_valid_utf8", F.encode(pre, "ISO-8859-1").cast("string")
        ),
    ).otherwise(F.lit(False))
    fixed = F.when(
        latin1_ok, F.decode(F.encode(pre, "ISO-8859-1"), "UTF-8")
    ).otherwise(c)
    return {
        "mojibake_detected": marked,
        "repaired": latin1_ok,
        "text_out": fixed,
    }


# HTML text extraction — the first transform C4/CCNet run on a crawled
# page: drop <script>/<style> subtrees wholesale (their text is code,
# not prose), strip the remaining tags, decode the five predefined XML
# entities + numeric references' common subset, collapse whitespace.
# A scan-speed regex tier (RE2-safe: no lookarounds, non-greedy block
# matches), not a DOM parser — the standard first-pass boilerplate cut
# before quality gates; a real parser tier would slot behind the same
# column contract. DuckDB replays the identical expression chain.
def html_text_extract(html_col: str | Column) -> Column:
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    # (?is): case-insensitive + dot-matches-newline — both RE2 flags
    c = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?is)<!--.*?-->", " ")
    # block-level closers imply a break so words don't glue together
    c = F.regexp_replace(c, r"(?i)</(p|div|br|li|h[1-6]|tr|td)\b[^>]*>", " ")
    c = F.regexp_replace(c, r"<[^>]+>", "")
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
                    ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "),
                    ("&amp;", "&")):  # &amp; LAST or it double-decodes
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"[ \t\n\r\f]+", " "))


def _intdiv(a: Column, b: Column) -> Column:
    """Exact long floor-division for NON-NEGATIVE operands: ``a % b``
    is exact in long, the remaining quotient is an exact double (all
    values here ≪ 2^53). Never `F.floor(a / b)` — IEEE division of a
    near-boundary quotient can round UP across the integer."""
    return ((a - a % b) / b).cast("long")


def readability_counts(text_col: str | Column) -> dict[str, Column]:
    """Flesch reading-ease signals — the classic prose-difficulty score
    (Flesch 1948, the readability gate several published curation
    recipes tier documents by). All three inputs are pure-JVM integer
    counts so the score replays exactly in any engine:

    * ``n_words`` — whitespace tokens (the repo tokenizer),
    * ``n_sentences`` — ``[.!?]+`` terminator groups, floored at 1,
    * ``n_syllables`` — ``[aeiouy]+`` vowel groups of the lowercased
      text (the standard dictionary-free syllable proxy; 'ey' in
      'they' is ONE group — adjacent vowels never double-count).

    ``flesch_e3`` is the score in exact milli-units computed with
    integer division on non-negative operands only::

        206835 - (1015·words) div sentences - (84600·syllables) div words

    so any engine replays it bit-exactly; callers derive a display
    double by ONE IEEE division (the hll_distinct_sketch exactness
    pattern — never round a derived double). Empty text yields
    words=0 → both denominators take GREATEST(·, 1) floors so the
    expression stays defined (score 206835, flagged by n_words=0).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.size(F.filter(tokens(c), lambda t: t != "")).cast("long")
    sentences = F.greatest(
        F.size(F.regexp_extract_all(c, F.lit(r"[.!?]+"), F.lit(0))), F.lit(1)
    ).cast("long")
    syllables = F.size(
        F.regexp_extract_all(F.lower(c), F.lit("[aeiouy]+"), F.lit(0))
    ).cast("long")
    flesch_e3 = (
        F.lit(206835).cast("long")
        - _intdiv(F.lit(1015) * words, sentences)
        - _intdiv(F.lit(84600) * syllables, F.greatest(words, F.lit(1)))
    )
    return {
        "n_words": words,
        "n_sentences": sentences,
        "n_syllables": syllables,
        "flesch_e3": flesch_e3,
    }


def bom_detect(bin_col: str | Column) -> Column:
    """Byte-order-mark detection over a binary payload — the FIRST
    routing decision of any text-ingest stage (before any decode).
    Pure-JVM hex-prefix matching; UTF-32 variants test BEFORE UTF-16
    (FF FE 00 00 starts with FF FE — order is the classic bug).
    Returns the encoding name or NULL for BOM-less payloads."""
    c = F.col(bin_col) if isinstance(bin_col, str) else bin_col
    h4 = F.hex(F.expr(f"substring({bin_col}, 1, 4)") if isinstance(bin_col, str)
               else F.substring(c, 1, 4))
    return (
        F.when(h4.startswith("FFFE0000"), "utf-32-le")
        .when(h4.startswith("0000FEFF"), "utf-32-be")
        .when(h4.startswith("EFBBBF"), "utf-8-sig")
        .when(h4.startswith("FFFE"), "utf-16-le")
        .when(h4.startswith("FEFF"), "utf-16-be")
    )


def meta_charset(text_col: str | Column) -> Column:
    """HTML ``<meta charset=...>`` / http-equiv content-type charset
    extraction (WHATWG encoding-sniffing tier 2, after the BOM). The
    spec's prescan examines only the FIRST 1024 bytes of the payload
    (https://html.spec.whatwg.org/#determining-the-character-encoding)
    — a label past that window is ignored, matching browsers. RE2-
    safe; returns the lowercased label or NULL."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    lowered = F.lower(F.substring(c, 1, 1024))
    direct = F.regexp_extract(
        lowered, r'<meta[^>]*\bcharset\s*=\s*["\']?([a-z0-9_.:-]+)', 1
    )
    return F.when(direct != "", direct)


def resolve_charset(bom: Column, meta: Column) -> Column:
    """WHATWG precedence: BOM > meta declaration > UTF-8 default (the
    spec's certain-failure fallback for web corpora)."""
    return F.coalesce(bom, meta, F.lit("utf-8"))


def synth_charset_payloads(docs):
    """Deterministic charset-sniffing corpus: given a DataFrame with a
    ``doc_id`` column, synthesize (doc_id, payload binary) rows with
    real BOM bytes (doc_id%7 picks the variant, two BOM-less slots),
    planted ``<meta charset>`` labels (doc_id%3, label by doc_id%5) and
    a garbage class (doc_id%29 — neither BOM nor meta, exercising the
    UTF-8 default). Shared by the batch ``charset_sniff`` query and its
    streaming gate twin so both sides sniff the SAME bytes; keyed only
    by doc_id, so replay is bit-identical. Map-only (one Arrow pass)."""
    from ..operators.payload import synth_payloads

    boms = [b"\xef\xbb\xbf", b"\xff\xfe", b"\xfe\xff",
            b"\xff\xfe\x00\x00", b"\x00\x00\xfe\xff", b"", b""]
    labels = ["windows-1252", "iso-8859-1", "shift_jis", "gb2312", "utf-8"]

    def make(i: int) -> bytes:
        if i % 29 == 0:
            return b"garbage:" + str(i).encode()
        meta = (
            f'<meta charset="{labels[i % 5]}">'.encode()
            if i % 3 == 0 else b""
        )
        return (boms[i % 7] + b"<html><head>" + meta
                + b"</head><body>doc " + str(i).encode() + b"</body></html>")

    return synth_payloads(docs, make)
