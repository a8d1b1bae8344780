"""Text-analysis operators for LLM training-data pipelines.

All built from JVM-side ``pyspark.sql.functions`` (no Python in the row
path): tokenization, n-gram shingling, MinHash signatures, SimHash,
token counting, language-ID marker words, fingerprints.

Determinism: every hash is MD5 over explicit UTF-8 strings (identical
in Spark and DuckDB), so each operator has an exact SQL oracle twin.

Scale design: everything is per-row expressions or groupBy/explode over
shingles — fully distributed, no driver-side state. MinHash-LSH dedup
does its candidate generation via banded bucket self-join (shuffle on
(band, bucket-key), small buckets) instead of an O(N²) cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A tiny function-word table per language for the lang-id heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "los", "una"),
    "fr": ("le", "la", "les", "des", "une"),
    "de": ("der", "die", "das", "und", "ein"),
}


def lang_id(ws: Column) -> tuple[Column, Column]:
    """Marker-word language ID over a words array: ``(pred, best)``,
    where ``best`` is the top marker-hit count and ``pred`` its
    language (tie-break de<en<es<fr, ``'und'`` when no marker hits).
    ``SQL_LANG_SCORES`` is the DuckDB side's per-language count."""
    scores = {
        # single-arg lambda (a 2-arg lambda would receive the element
        # index as its second argument)
        lang: F.size(F.filter(ws, lambda w: w.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = (
        F.when(best == 0, "und")
        .when(scores["de"] == best, "de")
        .when(scores["en"] == best, "en")
        .when(scores["es"] == best, "es")
        .otherwise("fr")
    )
    return pred, best


STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "on", "for")

# Declared corpus-text semantics (round-10 unicode axis): case folding
# is ASCII-ONLY (A-Z → a-z via translate) and whitespace is the
# explicit ASCII class [ \t\n\x0B\f\r] (what Java's \s matches).
# Engine-native lower() is locale- and engine-specific — Java maps
# İ → i+COMBINING-DOT and lowercases final Σ context-sensitively to ς,
# utf8proc (DuckDB) maps İ → i and Σ → σ per-codepoint — and RE2's \s
# omits \x0B, so both primitives silently diverge between engines on
# real multilingual text. ASCII folding + an explicit class are
# identical everywhere, deterministic, and locale-free; non-ASCII
# letters keep their case (full Unicode folding is a tokenizer-model
# decision, not an engine default).
ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"
WS_REGEX = "[ \\t\\n\\x0B\\f\\r]+"


def ascii_fold(text: Column | str) -> Column:
    """ASCII-only case fold (see the declared semantics above)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.translate(t, ASCII_UPPER, ASCII_LOWER)


def words(text: Column | str) -> Column:
    """ASCII-case-folded whitespace tokens, empties removed."""
    return F.filter(
        F.split(ascii_fold(text), WS_REGEX), lambda w: w != ""
    )


def word_shingles(ws: Column, n: int = 3) -> Column:
    """Distinct n-word shingles (space-joined) from a words array."""
    idx = F.sequence(F.lit(0), F.size(ws) - n)
    shingle = lambda i: F.concat_ws(
        " ", *[F.element_at(ws, i + j + 1) for j in range(n)]
    )
    return F.when(F.size(ws) >= n, F.array_distinct(F.transform(idx, shingle))).otherwise(
        F.array().cast("array<string>")
    )


TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_count_regex(text_col: str) -> Column:
    """BPE-ish token count: word / number / punct-char runs."""
    return F.size(
        F.expr(
            f"regexp_extract_all(translate({text_col},"
            f" '{ASCII_UPPER}', '{ASCII_LOWER}'), '{TOKEN_REGEX}', 0)"
        )
    ).cast("long")


def minhash_signature(shingles: Column, num_hashes: int = 8) -> Column:
    """Array of ``num_hashes`` MinHash values: for seed j, the lexical
    min of md5(j || ':' || shingle), as its 16 raw bytes (``unhex``).
    Empty shingle set → nulls.

    The min is taken over the md5 hex strings the DuckDB oracles
    compare, and only the minima are unhexed, not every shingle's
    hash: each minimum, band key and candidate pair is the hex form's,
    at half the bytes. Equal-length lowercase hex sorts like the
    unsigned bytes it spells, so the binary minima order as the hex
    ones do.
    """
    return F.array(
        *[
            F.unhex(
                F.array_min(
                    F.transform(
                        shingles,
                        lambda s: F.md5(F.concat(F.lit(f"{j}:"), s)),
                    )
                )
            )
            for j in range(num_hashes)
        ]
    )


def minhash_band_keys(df: DataFrame, id_col: str, n_bands: int = 4) -> DataFrame:
    """(id_col, sig) → (id_col, band, key): one row per LSH band, the
    key being the band's two minhashes concatenated in j order."""
    return df.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat(
                            F.element_at("sig", 2 * b + 1),
                            F.element_at("sig", 2 * b + 2),
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.key")


SIMHASH_BITS = 60  # 15 md5 hex digits — fits in a signed 64-bit int
SIMHASH_BANDS = 4  # 4 × 15-bit bands: hamming ≤ 3 ⟹ ≥1 band equal


def simhash_from_words_expr(words_col: str) -> Column:
    """60-bit SimHash computed entirely per row (zero shuffles).

    Bit i of the signature is set iff the ±1 majority vote of bit i
    across the hashes of the doc's distinct words (first 60 bits of
    md5(word)) is positive. One JVM-side expression: hash each
    distinct word once, fold ±1 bit votes into a 60-slot accumulator
    array, then assemble the majority-vote bits into a BIGINT. SQL
    string because the Python HOF API can't express a variable shift
    amount (``shiftright(h, i)`` with lambda-bound ``i``).

    Scale shape: an explode(60 bits) → groupBy form would shuffle
    60·W rows per doc through two groupBys; this one touches no
    shuffle at all — the signature is available wherever the document
    row already is.
    """
    return F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              transform(array_distinct({words_col}),
                        w -> CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT)),
              array_repeat(CAST(0 AS BIGINT), {SIMHASH_BITS}),
              (acc, h) -> zip_with(
                acc,
                transform(sequence(0, {SIMHASH_BITS - 1}),
                          i -> (shiftright(h, i) & 1) * 2 - 1),
                (a, b) -> a + CAST(b AS BIGINT))),
            sequence(0, {SIMHASH_BITS - 1}),
            (v, i) -> IF(v > 0, shiftleft(CAST(1 AS BIGINT), i),
                         CAST(0 AS BIGINT))),
          CAST(0 AS BIGINT), (a, x) -> a + x)
        """
    )


def simhash_bands(simhash: Column) -> Column:
    """Array of SIMHASH_BANDS 15-bit band values for LSH bucketing."""
    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << width) - 1
    return F.array(
        *[
            F.shiftright(simhash, b * width).bitwiseAND(F.lit(mask))
            for b in range(SIMHASH_BANDS)
        ]
    )


def fingerprint(shingles: Column) -> Column:
    """Document fingerprint: lexical-min md5 over its shingle set
    (winnowing-style representative hash); null for tiny docs."""
    return F.array_min(F.transform(shingles, lambda s: F.md5(s)))


# DuckDB twins of ``words(text)`` and ``word_shingles(ws, 3)``, for the
# oracles.
SQL_WORDS = "list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0b\\f\\r]+'), w -> w != '')"
SQL_SHINGLES3 = (
    "list_distinct(list_transform(range(1, len(ws)-1),"
    " i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))"
)
# DuckDB twin of the lang-id marker scores over ``ws``: one
# ``s_<lang>`` column per language, counting its marker words.
SQL_LANG_SCORES = ", ".join(
    "len(list_filter(ws, w -> w IN ({}))) AS s_{}".format(
        ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]), lang
    )
    for lang in sorted(LANG_MARKERS)
)
