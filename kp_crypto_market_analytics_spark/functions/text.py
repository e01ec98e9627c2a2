"""Text-analysis column expressions for the training-data pipeline.

All pure Catalyst expressions (JVM-side, codegen'd) — language ID,
quality scoring, token counting, fingerprints, shingling.  Designed so
the same arithmetic is expressible in ANSI SQL for the DuckDB oracle
(replace-based substring counting instead of engine-specific regex
helpers).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small per-language marker lexicons for the n-gram/stopword heuristic
# language-ID.  Deliberately tiny and deterministic: the point is the
# *operator* (scalable scoring over marker hits), not lexicon quality.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "with", "fast"],
    "de": ["der", "und", "die", "nicht", "schnell"],
    "es": ["el", "los", "con", "rapido", "datos"],
    "fr": ["le", "les", "avec", "rapide", "donnees"],
    "zh": ["的", "数据", "快", "表", "行"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is"]


def occurrence_count(text: Column | str, needle: str) -> Column:
    """Count non-overlapping occurrences of ``needle`` via the
    replace-length trick: (len(x) - len(replace(x, n, ''))) / len(n).

    Chosen over regexp so the identical expression runs in any ANSI SQL
    oracle; stays inside whole-stage codegen.
    """
    c = F.col(text) if isinstance(text, str) else text
    return (
        (F.length(c) - F.length(F.replace(c, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def token_count(text: Column | str) -> Column:
    """Whitespace token count.  Single-space-delimited corpus assumption
    is normalized first (collapse runs of whitespace)."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.trim(F.regexp_replace(c, r"\s+", " "))
    return F.when(F.length(norm) == 0, F.lit(0)).otherwise(
        occurrence_count(norm, " ") + 1
    )


def stopword_hits(text: Column | str, words: list[str] | None = None) -> Column:
    """Total occurrences of stopwords as space-delimited tokens."""
    c = F.col(text) if isinstance(text, str) else text
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    total = F.lit(0).cast("long")
    for w in words or STOPWORDS:
        total = total + occurrence_count(padded, f" {w} ")
    return total


def quality_score(text: Column | str) -> Column:
    """THE quality heuristic, defined once for every gated consumer
    (t_quality_score, t_corpus_filter's quality gate, dedup_canonical's
    survivor choice): 0.5·min(tokens/100, 1) + 0.5·min(5·stopword
    ratio, 1), rounded to 6dp; null for token-free docs.  Three oracle
    SQL strings mirror this formula — change it here and them
    together."""
    toks = token_count(text)
    hits = stopword_hits(text)
    ratio = F.when(toks > 0, hits / toks)
    return F.round(
        F.least(toks / F.lit(100.0), F.lit(1.0)) * 0.5
        + F.least(ratio * 5, F.lit(1.0)) * 0.5,
        6,
    )


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Marker-hit score per language (heuristic language ID)."""
    c = F.col(text) if isinstance(text, str) else text
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    out = {}
    for lang, markers in LANG_MARKERS.items():
        score = F.lit(0).cast("long")
        for m in markers:
            if m.isascii():
                score = score + occurrence_count(padded, f" {m} ")
            else:
                score = score + occurrence_count(padded, m)
        out[lang] = score
    return out


def quality_score_sql() -> str:
    """DuckDB oracle for ``quality_score`` and ``stopword_hits`` over
    ``documents``: (doc_id, n_tokens, stopword_hits, stopword_ratio,
    quality_score), the t_quality_score rows."""
    hit_terms = " + ".join(
        f"CAST((length(p) - length(replace(p, ' {w} ', ''))) / {len(w) + 2} AS BIGINT)"
        for w in STOPWORDS
    )
    return f"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM documents
), base AS (
  SELECT doc_id, t, ' ' || lower(t) || ' ' AS p,
    CASE WHEN length(t) = 0 THEN 0
         ELSE CAST(length(t) - length(replace(t, ' ', '')) AS BIGINT) + 1 END AS n_tokens
  FROM norm
), hits AS (
  SELECT doc_id, n_tokens, {hit_terms} AS stopword_hits FROM base
)
SELECT doc_id, n_tokens, stopword_hits,
  round(CASE WHEN n_tokens > 0 THEN CAST(stopword_hits AS DOUBLE) / n_tokens END, 6) AS stopword_ratio,
  round(least(n_tokens / 100.0, 1.0) * 0.5
      + least(CASE WHEN n_tokens > 0 THEN CAST(stopword_hits AS DOUBLE) / n_tokens END * 5, 1.0) * 0.5, 6) AS quality_score
FROM hits ORDER BY doc_id
"""


def lang_id_sql() -> str:
    """DuckDB oracle for the ``lang_scores`` argmax over ``documents``:
    per-language scores, the predicted language and whether it matches
    the label, the t_lang_id rows."""
    langs = list(LANG_MARKERS)
    score_exprs = []
    for lang in langs:
        terms = []
        for m in LANG_MARKERS[lang]:
            needle = f" {m} " if m.isascii() else m
            esc = needle.replace("'", "''")
            terms.append(
                f"CAST((length(p) - length(replace(p, '{esc}', ''))) / {len(needle)} AS BIGINT)"
            )
        score_exprs.append(" + ".join(terms) + f" AS score_{lang}")
    case_branches = []
    for lang in langs:
        conds = " AND ".join(
            f"score_{lang} >= score_{o}" for o in langs if o != lang
        )
        case_branches.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(case_branches) + " END"
    return f"""
WITH base AS (
  SELECT doc_id, lang, ' ' || lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) || ' ' AS p
  FROM documents
), scored AS (
  SELECT doc_id, lang, {', '.join(score_exprs)} FROM base
)
SELECT doc_id, lang, {', '.join('score_' + x for x in langs)},
  {case_sql} AS pred_lang,
  {case_sql} = lang AS correct
FROM scored ORDER BY doc_id
"""


def fingerprint_md5(text: Column | str) -> Column:
    """Exact-dedup document fingerprint: md5 of whitespace-normalized
    lowercase text.  md5 is bit-identical across engines → oracle-safe."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(F.trim(F.regexp_replace(c, r"\s+", " "))))


def hash64(col: Column | str) -> Column:
    """Portable 60-bit integer hash: first 15 hex digits of md5.

    Used as the base hash for MinHash/SimHash so the DuckDB oracle can
    reproduce it exactly (CAST('0x'||substr(md5(x),1,15) AS BIGINT)).
    xxhash64 would be faster but is Spark-specific; at 100 TB swap in
    F.xxhash64 and drop oracle parity.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash64_py(s: str) -> int:
    """Driver/state-side Python twin of :func:`hash64` — the SAME
    60-bit md5 value, for streaming keyed-state operators whose
    emissions must merge bit-for-bit with engine-built sketches
    (streaming/hll.py, streaming/countmin.py)."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _shingle_norm(c: Column) -> Column:
    """Whitespace runs to one space, trimmed, lowercased."""
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def char_shingles(text: Column | str, k: int = 5) -> Column:
    """Array of all k-char shingles (positions 1..len-k+1) of the
    normalized text; text shorter than k (or empty) gives one shingle,
    the whole text, and NULL gives ``[NULL]``.

    The normalized text never enters a lambda: Spark does not hoist an
    outer expression out of a ``transform`` body, so a per-position
    ``substr(norm, i, k)`` re-normalizes the whole document for every
    shingle (quadratic in its length).  One regex pass instead captures
    the k characters ahead of every position: ``(?s)`` lets ``.`` match
    line separators such as U+2028, and the negative lookahead skips the
    low half of a surrogate pair, where Java's matcher would otherwise
    start a second, broken shingle inside each supplementary character.
    No explode yet: callers explode lazily so Catalyst can pipeline it."""
    c = F.col(text) if isinstance(text, str) else text
    norm = _shingle_norm(c)
    ahead = F.regexp_extract_all(
        norm, F.lit(f"(?s)(?![\\uDC00-\\uDFFF])(?=(.{{{k}}}))"), F.lit(1)
    )
    return F.when(F.length(norm) >= k, ahead).otherwise(F.array(norm))


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Array of n-word shingles (token n-grams) of normalized text;
    fewer than n tokens give one shingle, the tokens joined.

    Shingle j is token j, j+1, ... joined: n slices of the one token
    array, each shifted by one, zipped pairwise.  The lambdas see only
    their own elements, so the text is normalized and split once per
    row (see :func:`char_shingles` for why that matters)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(_shingle_norm(c), " ")
    m = F.size(toks) - F.lit(n - 1)
    width = F.greatest(m, F.lit(0))
    grams = F.slice(toks, 1, width)
    for j in range(2, n + 1):
        grams = F.zip_with(
            grams, F.slice(toks, j, width), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(m >= 1, grams).otherwise(F.array(F.concat_ws(" ", toks)))
