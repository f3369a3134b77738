"""Similarity expression library (reference ops F4, F5; backbone of J5/J6).

The reference scores n-gram Jaccard with strsimpy in a Python loop
(core/Geocode.py:42-43) and fuzzy ratios with fuzzywuzzy
(utils/geocode_utils.py:16-19). Both become native Catalyst expressions on
n-gram / token arrays — codegen'd, no Python, broadcast-join friendly.
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def char_ngrams(col: Column | str, n: int) -> Column:
    """Distinct character n-grams of a string, as an array<string>.

    Uses sequence+transform so the whole thing stays in codegen; strings
    shorter than ``n`` yield the string itself (matching strsimpy, which
    treats short strings as a single shingle).
    """
    c = _c(col)

    # bind the (possibly non-trivial) input expression once — a lambda
    # capturing it directly would re-evaluate it per gram
    def grams(s: Column) -> Column:
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(s) - (n - 1), F.lit(1))),
                lambda i: s.substr(i, F.lit(n)),
            )
        )

    return F.element_at(F.transform(F.array(c), grams), 1)


def jaccard(a_grams: Column, b_grams: Column) -> Column:
    """|A ∩ B| / |A ∪ B| on two distinct-element arrays (F4).

    Computed as inter / (|A| + |B| − inter): one array_intersect per pair
    instead of intersect + union — this runs inside O(n²) similarity-join
    kernels, so halving the per-pair array work matters.
    """
    inter = F.size(F.array_intersect(a_grams, b_grams)).cast("double")
    union = (
        F.size(a_grams).cast("double") + F.size(b_grams).cast("double") - inter
    )
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def levenshtein_ratio(a: Column | str, b: Column | str) -> Column:
    """Fuzzy score (F5) as a 0-100 similarity: ``(1 - dist/max_len) * 100``.

    Documented deviation: fuzzywuzzy's ratio (reference viable(),
    utils/geocode_utils.py:16-19) is indel-based — ``2*M/(len_a+len_b)*100``
    with substitutions costed 2 — so scores differ near the threshold.
    Spark's built-in ``F.levenshtein`` costs substitutions 1 and there is no
    JVM-side LCS primitive; rather than drop to a Python UDF in a
    broadcast-join hot path, the J6 threshold is calibrated against this
    formula (fuzzy_threshold_join default, q_j6 uses 40). Both formulas are
    monotone in edit distance for same-length inputs, so threshold semantics
    are preserved after calibration.
    """
    ca, cb = _c(a), _c(b)
    max_len = F.greatest(F.length(ca), F.length(cb))
    return F.when(max_len == 0, F.lit(100.0)).otherwise(
        (F.lit(1.0) - F.levenshtein(ca, cb) / max_len) * 100.0
    )


def word_shingles(col: Column | str, k: int) -> Column:
    """Distinct k-word shingles (space-joined) — unit for MinHash dedup.

    The tokenization is *bound once* by mapping over a single-element array
    (the lambda variable ``toks``): naively capturing the split expression
    in the per-shingle lambda re-executes split() for every shingle —
    O(tokens²) per document, measured ~6× slower on 5k docs (higher-order
    functions are interpreted, so captured subtrees re-evaluate per call).
    """
    c = _c(col)

    def shingle(toks: Column) -> Column:
        n_sh = F.greatest(F.size(toks) - (k - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.array_join(F.slice(toks, i, k), " "),
            )
        )

    return F.element_at(
        F.transform(F.array(F.split(F.trim(c), r"\s+")), shingle), 1
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two float arrays, fully JVM-side via
    aggregate/zip_with — the brute-force ANN kernel."""
    ca, cb = _c(a), _c(b)
    na = F.sqrt(F.aggregate(ca, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(cb, F.lit(0.0), lambda acc, v: acc + v * v))
    return cosine_prenorm(ca, cb, na, nb)


def norm2(a: Column | str) -> Column:
    """Euclidean norm of a float array — precompute this ONCE per vector
    in each side's projection before an O(pairs) similarity kernel.
    Higher-order functions run interpreted, so a norm inside the per-pair
    expression re-folds the whole array per pair: with both norms hoisted,
    per-pair work drops from three 64-element folds to one."""
    ca = _c(a)
    return F.sqrt(F.aggregate(ca, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_prenorm(
    a: Column | str, b: Column | str, na: Column | str, nb: Column | str
) -> Column:
    """Cosine from precomputed norms: only the dot product runs per pair.
    Bit-identical to ``cosine`` (same expressions, evaluated once)."""
    ca, cb = _c(a), _c(b)
    cna, cnb = _c(na), _c(nb)
    dot = F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when((cna > 0) & (cnb > 0), dot / (cna * cnb)).otherwise(F.lit(0.0))
