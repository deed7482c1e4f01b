"""Dialect-templated SQL fragments shared by the Spark queries and their
DuckDB oracles.

Each builder returns the SAME computation rendered for either engine, so a
query and its oracle cannot drift apart. Only engine-portable constructs are
used:

- ``md5`` hex digests are identical everywhere; a 56-bit integer hash is
  derived from the first 14 hex digits (fits BIGINT exactly in both).
- double arithmetic written as an explicit left-associated chain evaluates
  bit-identically (IEEE 754, same operation order) in both engines.
- aggregates over groups go through exact integer/decimal math only.

Dialect differences handled here: ``split`` vs ``string_split``,
``transform/filter/aggregate`` vs ``list_transform/list_filter/list_*``,
1-based ``slice(arr,i,k)`` vs ``arr[i:i+k-1]``, ``sequence`` vs ``range``,
``conv(hex)`` vs ``('0x'||hex)::BIGINT``, ``&`` vs ``and``-less bit ops.
"""

from __future__ import annotations

# 56-bit universal-hash modulus (prime > 2^32) and MinHash parameters.
# (a*h + b) % P with a < 1e9 and h < P keeps products under 2^63.
MINHASH_P = 4_294_967_311
MINHASH_K = 32  # signature length
LSH_BANDS = 8  # 8 bands x 4 rows
LSH_ROWS = 4

# Deterministic MinHash coefficients (fixed seed; embedded so the DuckDB
# oracle uses the exact same family).
def _lcg(seed: int):
    s = seed
    while True:
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        yield s


_g = _lcg(20260813)
MINHASH_A = [next(_g) % 999_999_937 + 1 for _ in range(MINHASH_K)]
MINHASH_B = [next(_g) % 999_999_937 for _ in range(MINHASH_K)]

#: SimHash signature width. 56 = the full hash56 token-hash width: any
#: higher bit would be constant-zero across every document (hash56 values
#: are < 2^56), collapsing that chunk of the blocking scheme into ONE
#: degenerate bucket holding the whole corpus.
SIMHASH_BITS = 56

STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des", "dans", "pour"),
    "es": ("el", "los", "las", "y", "es", "un", "una", "de", "en", "por"),
}
LANG_ORDER = ("en", "de", "fr", "es")  # tie-break precedence


class Dialect:
    """Renders portable fragments for 'spark' or 'duckdb'."""

    def __init__(self, name: str):
        assert name in ("spark", "duckdb")
        self.spark = name == "spark"

    # ---- array/list primitives -------------------------------------------
    def split_ws(self, s: str) -> str:
        return self.split_ws_cased(f"lower({s})")

    def split_ws_cased(self, s: str) -> str:
        """Whitespace tokens WITHOUT case folding — for operators that
        rewrite text and must not alter it (e.g. segment reassembly)."""
        if self.spark:
            return f"filter(split({s}, ' '), t -> t <> '')"
        return f"list_filter(string_split({s}, ' '), t -> t <> '')"

    def transform(self, arr: str, var: str, body: str) -> str:
        fn = "transform" if self.spark else "list_transform"
        return f"{fn}({arr}, {var} -> {body})"

    def filter(self, arr: str, var: str, pred: str) -> str:
        fn = "filter" if self.spark else "list_filter"
        return f"{fn}({arr}, {var} -> {pred})"

    def size(self, arr: str) -> str:
        return f"size({arr})" if self.spark else f"len({arr})"

    def distinct(self, arr: str) -> str:
        fn = "array_distinct" if self.spark else "list_distinct"
        return f"{fn}({arr})"

    def amin(self, arr: str) -> str:
        return f"array_min({arr})" if self.spark else f"list_min({arr})"

    def amax(self, arr: str) -> str:
        return f"array_max({arr})" if self.spark else f"list_max({arr})"

    def intersect_size(self, a: str, b: str) -> str:
        if self.spark:
            return f"size(array_intersect({a}, {b}))"
        return f"len(list_intersect({a}, {b}))"

    def contains(self, arr_literal: tuple[str, ...], var: str) -> str:
        lits = ", ".join(f"'{x}'" for x in arr_literal)
        if self.spark:
            return f"array_contains(array({lits}), {var})"
        return f"list_contains([{lits}], {var})"

    def arr_join(self, arr: str, sep: str = " ") -> str:
        """Join list elements with a separator (concat_ws only does this in
        Spark; DuckDB stringifies the whole list)."""
        if self.spark:
            return f"concat_ws('{sep}', {arr})"
        return f"array_to_string({arr}, '{sep}')"

    def seq1(self, n: str) -> str:
        """[1..n] inclusive; empty when n < 1 (guard: both renderings)."""
        if self.spark:
            # spark sequence(1, 0) yields [1, 0] (descending!) → guard
            return f"CASE WHEN {n} >= 1 THEN sequence(1, {n}) ELSE array() END"
        return f"range(1, {n} + 1)"

    def slice_k(self, arr: str, i: str, k: int) -> str:
        """k elements starting at 1-based position i."""
        if self.spark:
            return f"slice({arr}, {i}, {k})"
        return f"{arr}[{i}:{i}+{k - 1}]"

    def element(self, arr: str, i: str) -> str:
        if self.spark:
            return f"element_at({arr}, {i})"
        return f"{arr}[{i}]"

    def agg_sum_int(self, arr: str, var: str, body: str) -> str:
        """Sum an integer-valued expression over a list → BIGINT."""
        if self.spark:
            return (
                f"aggregate({arr}, cast(0 as bigint), "
                f"(acc, {var}) -> acc + cast({body} as bigint))"
            )
        return (
            f"CAST(coalesce(list_sum("
            f"{self.transform(arr, var, f'CAST({body} AS BIGINT)')}), 0) AS BIGINT)"
        )

    # ---- hashing ----------------------------------------------------------
    def hash56(self, s: str) -> str:
        """First 14 md5 hex digits as a non-negative BIGINT (56 bits)."""
        if self.spark:
            return f"cast(conv(substring(md5({s}), 1, 14), 16, 10) as bigint)"
        return f"(('0x' || substring(md5({s}), 1, 14)))::BIGINT"

    def bit_count(self, x: str) -> str:
        return f"bit_count({x})"

    def xor(self, a: str, b: str) -> str:
        return f"({a} ^ {b})" if self.spark else f"xor({a}, {b})"

    def shiftright(self, x: str, n: str) -> str:
        return f"shiftright({x}, {n})" if self.spark else f"({x} >> ({n}))"

    def band1(self, x: str) -> str:
        return f"({x} & 1)" if self.spark else f"({x} & 1)"


# ---------------------------------------------------------------------------
# composed fragments (dialect-independent call sites)
# ---------------------------------------------------------------------------

def tokens(d: Dialect, text: str = "text") -> str:
    return d.split_ws(text)


def grams_all(d: Dialect, toks: str, k: int) -> str:
    """ALL word-k-grams of a token list, duplicates preserved (empty when
    < k tokens) — the denominator of repetition-ratio quality metrics."""
    n = d.size(toks)
    idx = d.seq1(f"{n} - {k - 1}")
    gram = d.arr_join(d.slice_k(toks, "i", k))
    return d.transform(idx, "i", gram)


def shingles(d: Dialect, toks: str, k: int) -> str:
    """Distinct word-k-grams of a token list (empty when < k tokens)."""
    return d.distinct(grams_all(d, toks, k))


def shingle_hashes(d: Dialect, sh: str) -> str:
    """h56 % P per shingle — md5 runs ONCE per shingle; the k universal-hash
    projections below are integer ops over this array."""
    return d.transform(sh, "s", f"({d.hash56('s')} % {MINHASH_P})")


def minhash_one(d: Dialect, hashes: str, a: int, b: int) -> str:
    """min over pre-hashed shingles of (a*h + b) % P — row-local."""
    return d.amin(d.transform(hashes, "h", f"(({a} * h + {b}) % {MINHASH_P})"))


def band_key(d: Dialect, mh_cols: list[str], band: int) -> str:
    """md5 over one band's r signature values (string bucket key)."""
    cols = mh_cols[band * LSH_ROWS : (band + 1) * LSH_ROWS]
    return f"md5(concat_ws(',', {', '.join(cols)}))"


def simhash(d: Dialect, tok_hashes: str) -> str:
    """56-bit SimHash over a list of 56-bit token hashes.

    bit_i set ⇔ more one-bits than zero-bits at position i across tokens
    (2 * count_ones > n). Rendered as an explicit 32-term sum — row-local.
    """
    n = d.size(tok_hashes)
    terms = []
    for i in range(SIMHASH_BITS):
        ones = d.size(
            d.filter(tok_hashes, "h", f"{d.band1(d.shiftright('h', str(i)))} = 1")
        )
        terms.append(f"(CASE WHEN 2 * {ones} > {n} THEN {1 << i} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def jaccard(d: Dialect, sa: str, sb: str) -> str:
    """|A∩B| / |A∪B| for distinct-element lists, as DOUBLE."""
    inter = d.intersect_size(sa, sb)
    return (
        f"CAST({inter} AS DOUBLE) / "
        f"CAST({d.size(sa)} + {d.size(sb)} - {inter} AS DOUBLE)"
    )


def containment(d: Dialect, sa: str, sb: str) -> str:
    """|A∩B| / |B| (asymmetric overlap: how much of B appears in A) — the
    train/eval decontamination metric."""
    return (
        f"CAST({d.intersect_size(sa, sb)} AS DOUBLE) / "
        f"CAST({d.size(sb)} AS DOUBLE)"
    )


# ---- embeddings -----------------------------------------------------------

def dot_chain(d: Dialect, a: str, b: str, dim: int) -> str:
    """Left-fold dot product over DOUBLE lists.

    Both engines fold strictly left-to-right (Spark ``aggregate``, DuckDB
    ``list_reduce``), so the non-associative double additions happen in the
    same order → bit-identical results. A fold keeps Spark's generated code
    tiny (an explicit 64-term chain overflows the JIT method budget and
    forces interpreted fallback).
    """
    del dim  # folds cover the whole list
    if d.spark:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            f"cast(0.0 as double), (acc, v) -> acc + v)"
        )
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), z -> z[1] * z[2]), "
        f"(acc, v) -> acc + v)"
    )


def norm_chain(d: Dialect, a: str, dim: int) -> str:
    return f"sqrt({dot_chain(d, a, a, dim)})"


def cosine(d: Dialect, a: str, b: str, dim: int) -> str:
    return f"({dot_chain(d, a, b, dim)} / ({norm_chain(d, a, dim)} * {norm_chain(d, b, dim)}))"


def hyperplane_bits(
    d: Dialect, vec: str, planes: list[list[float]], dim: int
) -> str:
    """LSH bucket id: sign bits of dot(vec, plane) for each plane.

    ``planes`` are deterministic pseudo-random hyperplanes (constants baked
    into both renderings). Returns an integer bucket in [0, 2^n_planes).
    """
    terms = []
    sub = d.slice_k(vec, "1", dim)
    for bi, plane in enumerate(planes):
        lits = ", ".join(repr(c) for c in plane[:dim])
        arr = f"array({lits})" if d.spark else f"[{lits}]"
        proj = dot_chain(d, sub, arr, dim)
        terms.append(f"(CASE WHEN ({proj}) >= 0 THEN {1 << bi} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def hyperplanes(n_tables: int, n_bits: int, dim: int) -> list[list[list[float]]]:
    """Deterministic hyperplane sets: components uniform in [-1, 1] from an LCG."""
    g = _lcg(777_2026)
    out = []
    for _ in range(n_tables):
        table = []
        for _ in range(n_bits):
            table.append([(next(g) % 2_000_001) / 1_000_000.0 - 1.0 for _ in range(dim)])
        out.append(table)
    return out


# ---- text analysis --------------------------------------------------------

#: BPE-ish tokenizer: words, numbers, or single punctuation marks.
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def regex_token_count(d: Dialect, text: str = "text") -> str:
    if d.spark:
        return f"size(regexp_extract_all({text}, '{TOKEN_REGEX}', 0))"
    return f"len(regexp_extract_all({text}, '{TOKEN_REGEX}'))"


def stopword_hits(d: Dialect, toks: str, lang: str) -> str:
    return d.size(d.filter(toks, "t", d.contains(STOPWORDS[lang], "t")))


def lang_scores(d: Dialect, toks: str) -> dict[str, str]:
    n = f"greatest({d.size(toks)}, 1)"
    return {
        lang: f"(CAST({stopword_hits(d, toks, lang)} AS DOUBLE) / {n})"
        for lang in LANG_ORDER
    }


def lang_predict(scores: dict[str, str]) -> str:
    """argmax with fixed precedence order; 'und' (undetermined) when all 0."""
    conds = []
    for lang in LANG_ORDER:
        others = [f"{scores[lang]} >= {scores[o]}" for o in LANG_ORDER if o != lang]
        conds.append(
            f"WHEN {scores[lang]} > 0 AND {' AND '.join(others)} THEN '{lang}'"
        )
    return "CASE " + " ".join(conds) + " ELSE 'und' END"
