"""Text-analysis column functions (LLM-data-pipeline north star).

All Catalyst expressions (split/transform/aggregate/md5) — the hot
path for shingling + MinHash over billions of documents stays in
whole-stage codegen; no Python round trips.

MinHash family here is the *string-min* construction: for seed j the
signature is ``min_j = min(md5(j || ':' || shingle))`` — md5 acts as
the random permutation and the lexicographic min over hex digests is a
valid min-wise hash.  This choice is deliberately reproducible in any
SQL engine (the DuckDB oracle runs the identical formula).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Shared constants — the DuckDB oracle mirrors must use the same.
SHINGLE_WORDS = 3          # word n-gram size
MAX_SHINGLES = 50          # cap signature work per doc (first N shingles)
MINHASH_FUNCS = 8          # signature length
LSH_BANDS = 2              # bands of MINHASH_FUNCS / LSH_BANDS rows
SIMHASH_BITS = 16


def words(text: Column) -> Column:
    return F.split(text, " ")


def _let(bound: Column, body) -> Column:
    """Evaluate ``bound`` once per row and let ``body`` reference it
    many times: Catalyst has no let-form, so textual repetition of an
    expression re-evaluates it at every reference site — inside a
    higher-order-function lambda that means once per ARRAY ELEMENT
    (split(text) ran ~3x per shingle before this).  Binding the value
    as the lambda variable of a single-element-array ``transform``
    makes every reference a free NamedLambdaVariable read.  The value
    semantics are unchanged: same expression tree, same inputs.
    """
    return F.element_at(F.transform(F.array(bound), body), 1)


def word_shingles(text: Column,
                  n: int = SHINGLE_WORDS,
                  max_shingles: int = MAX_SHINGLES) -> Column:
    """First ``max_shingles`` word n-grams, '_'-joined.

    Returns NULL-safe empty array for texts with < n words.
    """
    def build(ws: Column) -> Column:
        cnt = F.least(F.size(ws) - (n - 1), F.lit(max_shingles))
        idx = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(
            F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.concat_ws(
                "_",
                *[F.element_at(ws, (i + k).cast("int")) for k in range(n)]),
        )

    return _let(words(text), build)


def minhash(shingles: Column, seed: int) -> Column:
    """String-min MinHash for one seed (see module docstring)."""
    return F.array_min(
        F.transform(shingles, lambda s: F.md5(F.concat(F.lit(f"{seed}:"), s)))
    )


def lsh_band(sig_cols: list[Column], band: int,
             n_bands: int = LSH_BANDS) -> Column:
    """Hash one band (contiguous slice) of the signature."""
    rows = len(sig_cols) // n_bands
    sl = sig_cols[band * rows:(band + 1) * rows]
    return F.md5(F.concat_ws("|", *sl))


def simhash(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over whitespace tokens.

    Each token contributes ±1 per bit (bit b of the token's md5-prefix
    int); the fingerprint sets bit b when the sum is positive.
    Implemented as one sequential fold building an int vector, then a
    bit-pack — all codegen, no shuffle.
    """
    ws = words(text)
    # Unrolled per-bit majority votes (bits is a small static constant).
    # Dividing a long by 2**b is a binary-exact double op, so the
    # truncating cast is an exact right shift on both engines.
    def make_vote(b: int):
        # closure capture: pyspark passes extra args to >2-ary lambdas,
        # so the bit index must NOT be a lambda parameter
        pow2 = float(1 << b)
        return lambda acc, h: acc + F.when(
            ((h / F.lit(pow2)).cast("long") % 2) == 1, 1).otherwise(-1)

    # The per-token hash array feeds every one of the ``bits`` vote
    # folds — bind it once (_let) instead of recomputing the
    # md5-per-token transform per bit.
    def build(tok_h: Column) -> Column:
        fingerprint = F.lit(0).cast("long")
        for b in range(bits):
            vote = F.aggregate(tok_h, F.lit(0), make_vote(b))
            fingerprint = fingerprint + F.when(
                vote > 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
        return fingerprint

    return _let(
        F.transform(ws, lambda w: F.conv(
            F.substring(F.md5(w), 1, 8), 16, 10).cast("long")),
        build)


def token_count_whitespace(text: Column) -> Column:
    return F.size(words(text))


def token_count_regex(text: Column, pattern: str = "[a-z]+|[0-9]+") -> Column:
    """BPE-ish tokenizer stand-in: count alpha runs + digit runs."""
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 0))


def stopword_hits(text: Column, stopwords: tuple[str, ...]) -> Column:
    """How many whitespace tokens are in the stopword set."""
    arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(words(text), lambda w: F.array_contains(arr, w)))


def normalized_fingerprint(text: Column) -> Column:
    """Order-insensitive content fingerprint: md5 of the sorted set of
    lower-cased tokens (rolling-hash document fingerprint analog)."""
    toks = F.array_sort(F.array_distinct(words(F.lower(text))))
    return F.md5(F.array_join(toks, " "))
