"""Text-analysis column builders: tokens, shingles, MinHash, SimHash,
language-ID scores, quality metrics.

All expressions are JVM-side SQL (split/transform/aggregate/md5) —
no Python in the hot path, embarrassingly parallel, no shuffle. The
hash family is md5-based so results are engine-independent and the
DuckDB oracle can mirror every operator exactly:

* MinHash value for seed s = MIN over distinct shingles of
  (a_s * h + b_s) % (2^31-1), where h is a 28-bit md5-derived base
  hash — one digest per shingle, then cheap affine permutations per
  seed (the classic universal-hash MinHash family).
* SimHash uses the low 16 bits of md5(token) per token, ±1 votes per
  bit position, sign -> fingerprint bit.

Scale notes: per-document work is O(len * n_hashes); signatures are
tiny (n_hashes hex strings), so the LSH band join downstream shuffles
only (doc_id, band_hash) pairs, never documents.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT = r"\s+"  # F.split takes the Java regex verbatim (no SQL-literal escaping)


def tokens(col: str = "text") -> Column:
    """Whitespace tokens (duckdb mirror: string_split_regex(text, '\\s+'))."""
    return F.split(F.col(col), TOKEN_SPLIT)


MINHASH_P = (1 << 31) - 1  # Mersenne prime; products stay < 2^62 (no overflow)


def _mh_consts(seed: int) -> tuple[int, int]:
    """Deterministic affine-permutation constants for one hash seed."""
    a = (1103515245 * (seed + 1) + 12345) % MINHASH_P or 1
    b = (2654435761 * seed + 1013904223) % MINHASH_P
    return a, b


def shingle_hashes(col: str = "text", k: int = 5) -> Column:
    """28-bit base hash per *distinct* char-k-gram shingle.

    One md5 per distinct shingle; every MinHash seed then reuses these
    via a cheap affine permutation (a*h + b) % p — the standard
    universal-hash family. ~n_hashes x less digest work than hashing
    per (seed, shingle), and fully mirrored in DuckDB
    (:func:`shingle_hashes_sql`).
    """
    return F.expr(
        f"transform(array_distinct(transform("
        f"sequence(1, greatest(length({col}) - {k - 1}, 1)), "
        f"i -> substring({col}, i, {k}))), "
        f"sh -> CAST(conv(substring(md5(sh), 1, 7), 16, 10) AS BIGINT))"
    )


def minhash_from_hashes(hashes_col: str, seed: int) -> Column:
    """MinHash value for one seed over a base-hash array column."""
    a, b = _mh_consts(seed)
    return F.expr(
        f"array_min(transform({hashes_col}, h -> ({a} * h + {b}) % {MINHASH_P}))"
    )


def shingle_hashes_sql(k: int, col: str = "text") -> str:
    """DuckDB mirror of :func:`shingle_hashes`."""
    return (
        f"list_transform(list_distinct(list_transform("
        f"range(1, greatest(length({col}) - {k - 1}, 1) + 1), "
        f"i -> substr({col}, i, {k}))), "
        f"sh -> ('0x' || substr(md5(sh), 1, 7))::BIGINT)"
    )


def token_gram_hashes(tok_col: str, gram: int) -> Column:
    """28-bit base hash per *distinct token n-gram* of a PRE-TOKENIZED
    array column — the token-run twin of :func:`shingle_hashes`.

    MinHash over these estimates token-n-gram Jaccard, the similarity
    published decontamination pipelines actually threshold (GPT-3 /
    Dolma use n-gram overlap): unigram token sets are trivially similar
    on template corpora (shared vocabulary without shared content — a
    measured 0.5 Jaccard between RANDOM docs of the synthetic corpus),
    and char shingles are order-sensitive in a different way than the
    verifier. Takes a tokens column, not raw text: Catalyst does not
    CSE inside higher-order-function lambdas, so inlining the regex
    split here would re-run it per gram position.

    Docs shorter than `gram` tokens yield an EMPTY array (no
    fingerprintable run — same contract as containment_pairs).
    """
    return F.expr(
        f"transform(array_distinct("
        f"CASE WHEN size({tok_col}) < {gram} "
        f"THEN CAST(array() AS array<string>) "
        f"ELSE transform(sequence(1, size({tok_col}) - {gram - 1}), "
        f"i -> concat_ws(' ', slice({tok_col}, i, {gram}))) END), "
        f"g -> CAST(conv(substring(md5(g), 1, 7), 16, 10) AS BIGINT))"
    )


def token_gram_hashes_sql(gram: int, tok_expr: str = "tk0") -> str:
    """DuckDB mirror of :func:`token_gram_hashes` (takes the tokenized
    list expression). `range(1, len - (gram-2))` is naturally empty for
    lists shorter than `gram`, matching the Spark CASE guard.

    array_to_string, NOT concat_ws: DuckDB's concat_ws STRINGIFIES a
    list argument ('[a, b, c]') instead of joining it, which silently
    hashes different gram strings than Spark — fine for within-engine
    overlap counting (injective re-encode), fatal for the cross-engine
    minhash identity the decontam candidate parity depends on."""
    return (
        f"list_transform(list_distinct("
        f"list_transform(range(1, len({tok_expr}) - {gram - 2}), "
        f"i -> array_to_string({tok_expr}[i:i+{gram - 1}], ' '))), "
        f"g -> ('0x' || substr(md5(g), 1, 7))::BIGINT)"
    )


def minhash_from_hashes_sql(seed: int, hashes_expr: str = "hs") -> str:
    """DuckDB mirror of :func:`minhash_from_hashes`."""
    a, b = _mh_consts(seed)
    return (
        f"list_min(list_transform({hashes_expr}, "
        f"h -> ({a} * h + {b}) % {MINHASH_P}))"
    )


SIMHASH_BITS = 16


def token_hashes(tokens_expr: str = "split(text, '\\\\s+')") -> Column:
    """16-bit md5-derived hash per token (one md5 per token).

    Materialize this as a column, then fold with
    :func:`simhash16_from_hashes` — computing md5 once per token
    instead of once per (token, bit) is a 16x cut in hash work.
    """
    return F.expr(
        f"transform({tokens_expr}, "
        f"w -> CAST(conv(substring(md5(w), 1, 4), 16, 10) AS INT))"
    )


def simhash16_from_hashes(hashes_col: str = "hs") -> Column:
    """Fold pre-hashed tokens into the 16-bit SimHash fingerprint."""
    terms = []
    for b in range(SIMHASH_BITS):
        vote = (
            f"aggregate({hashes_col}, 0, (acc, h) -> acc + "
            f"CASE WHEN (h >> {b}) % 2 = 1 THEN 1 ELSE -1 END)"
        )
        terms.append(f"CASE WHEN ({vote}) > 0 THEN {1 << b} ELSE 0 END")
    return F.expr(" + ".join(terms)).cast("int")


def simhash16_sql(tokens_expr: str = "string_split_regex(text, '\\s+')") -> str:
    """DuckDB mirror of :func:`simhash16`."""
    terms = []
    for b in range(SIMHASH_BITS):
        vote = (
            f"list_sum(list_transform({tokens_expr}, w -> "
            f"CASE WHEN (('0x' || substr(md5(w), 1, 4))::INTEGER >> {b}) % 2 = 1 "
            f"THEN 1 ELSE -1 END))"
        )
        terms.append(f"CASE WHEN ({vote}) > 0 THEN {1 << b} ELSE 0 END")
    return "CAST(" + " + ".join(terms) + " AS INTEGER)"


# Language-ID stopword profiles (tiny n-gram-free heuristic; the point
# is the operator shape — swap profiles for real ones in production).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "en": ("the", "a", "of", "and", "to", "in"),
    "es": ("el", "la", "de", "y", "que", "los"),
    "fr": ("le", "la", "et", "les", "des", "une"),
    "zh": ("de5", "shi4", "le5", "zai4", "you3", "he2"),
}


def _in_list_sql(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def lang_score_expr(lang: str, tokens_expr: str, dialect: str) -> str:
    """Count of profile hits; identical text in Spark SQL and DuckDB."""
    words = _in_list_sql(LANG_PROFILES[lang])
    if dialect == "spark":
        return f"size(filter({tokens_expr}, w -> w IN ({words})))"
    return f"len(list_filter({tokens_expr}, w -> w IN ({words})))"


def lang_pred_expr(score_cols: dict[str, str]) -> str:
    """Argmax with alphabetical tie-break, as a portable CASE fold.

    score_cols: lang -> column/expression name, iterated alphabetically;
    strict '>' keeps the earlier (alphabetically first) language on ties.
    """
    langs = sorted(score_cols)
    pred, best = f"'{langs[0]}'", score_cols[langs[0]]
    for lang in langs[1:]:
        s = score_cols[lang]
        pred = f"CASE WHEN {s} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"greatest({best}, {s})"
    return pred
