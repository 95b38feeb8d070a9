"""Text-analysis primitives for the training-data pipeline
(BASELINE.json north star): tokenization, quality scoring, language-ID
heuristic, fingerprinting. All pure `pyspark.sql.functions` — no
Python UDFs — so every transform stays inside whole-stage codegen and
scales linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword set shared with the SQL oracles.
STOPWORDS = ("the", "a", "of", "and")

# Marker tokens → language guess for the heuristic language-ID.
# (Real language-ID needs char-n-gram models; the heuristic keeps the
# operator shape — score marker families, argmax — deterministic and
# SQL-expressible. Swap the marker table for model scores at will.)
LANG_MARKERS = {
    "en": ("the", "a"),
    "xx": ("zzz",),  # never matches the fixture vocab — exercises the tie path
}


def tokens(text: Column) -> Column:
    """Whitespace tokenizer (documents fixture is space-separated)."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def stopword_ratio(text: Column) -> Column:
    toks = tokens(text)
    stops = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return stops / F.greatest(F.size(toks), F.lit(1))


def avg_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")), F.lit(0.0), lambda a, x: a + x
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite [0,1]-ish quality: rewards lexical diversity and a
    natural stopword rate, penalizes degenerate token lengths."""
    toks = tokens(text)
    diversity = F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1))
    stop = stopword_ratio(text)
    return F.round(0.5 * diversity + 0.5 * (1.0 - F.abs(stop - 0.1)), 4)


def lang_guess(text: Column) -> Column:
    """Heuristic language-ID: highest marker-hit count wins; zero hits
    fall back to 'und'. A nonzero TIE breaks to the lexicographically
    first language (the sorted fold below — deterministic, and what
    every oracle and driver-green parity row pins; an earlier
    docstring claimed ties also fell to 'und', which the code never
    did — round-7 review finding, doc corrected rather than semantics
    changed under frozen oracles)."""
    toks = tokens(text)
    best = F.lit("und")
    best_score = F.lit(0)

    # NB: HOF lambdas must be single-(real-)argument — a default-arg
    # lambda is seen as the (element, index) form by PySpark. Use a
    # closure factory instead.
    def marker_pred(markers):
        return lambda t: t.isin(*markers)

    # fold in sorted language order: a later language must be STRICTLY
    # better to displace the incumbent → deterministic tie-break
    for lang, markers in sorted(LANG_MARKERS.items()):
        s = F.size(F.filter(toks, marker_pred(markers)))
        best = F.when(s > best_score, F.lit(lang)).otherwise(best)
        best_score = F.greatest(s, best_score)
    return best


def fingerprint_md5(text: Column) -> Column:
    """Whole-document fingerprint: md5 of the normalized text (both
    engines produce identical hex — oracle-verifiable)."""
    return F.md5(F.lower(F.trim(text)))


def shingles_of_tokens(toks: Column, k: int = 3) -> Column:
    """k-word shingles over an ALREADY-MATERIALIZED token-array column.
    Pass a real column reference (materialize `tokens(...)` in a
    projection below), NOT the inline tokens(...) expression: the
    per-position lambda captures `toks`, and an inlined split+filter
    re-runs per shingle position — the SCALE.md aliased-fold O(N²)
    rule (measured 3–10× on the gram/bigram family)."""
    if k == 1:
        return toks  # unigram fast path: skip the slice/concat machinery
    n = F.size(toks)
    return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
    )


def shingle_fingerprint_of_tokens(toks: Column, k: int = 3) -> Column:
    """Rolling-hash document fingerprint over an ALREADY-MATERIALIZED
    token-array column: the minimum md5 over k-word shingles
    (1-permutation MinHash) — robust to local edits, still
    oracle-expressible. Materialize the tokens a projection below
    (the shingles_of_tokens aliased-fold rule)."""
    return F.array_min(F.transform(shingles_of_tokens(toks, k), F.md5))

