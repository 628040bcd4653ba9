"""Text-statistics kernels — pure Column expressions.

The reference's per-record scalar kernels (filter-name normalization
main_app.py:226-228, section-string parsing preview_augmentation.py:
113-117, affix repair builder.py:149-153 in /root/reference/gemProc2caom2)
are all string/regex/arithmetic transforms of one record; the web-text
analogs below follow the same rule: everything expressible as a Column
expression stays JVM-side so whole-stage codegen covers it.

All ratios return DOUBLE and are null-safe: null/empty text yields null
metrics (mirroring the reference's missing-keyword guards,
main_app.py:344-346,415-416).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# C4/Gopher-ish token pattern: words with optional inner apostrophe, or a
# single non-space symbol. Used by the "BPE-ish" token counter.
BPEISH_TOKEN_RE = r"[A-Za-z]+(?:'[A-Za-z]+)?|[0-9]+|[^\sA-Za-z0-9]"

# "symbol" = anything outside letters / digits / whitespace / basic
# sentence punctuation. High symbol ratio flags markup/encoding junk.
# \w and \s are expanded to their explicit ASCII sets: identical
# semantics in Java, RE2 and Python-ASCII. SYMBOL_RE is what the SQL
# oracle runs (heuristics.quality_sql); the Spark side counts the SAME set via translate()
# (delete every allowed char, measure what's left): java.util.regex
# counting of this class measured 10x slower per byte than translate
# AND flat from 2 to 8 cores (a shared-resource stall), while translate
# is a per-char map lookup that scales linearly. Parity is pinned by
# the tx2/cur2/cur3 oracle checks.
SYMBOL_RE = r"[^A-Za-z0-9_ \t\n\x0B\f\r.,;:!?'\"()\-]"
_SYMBOL_ALLOWED = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789_"
    " \t\n\x0b\f\r.,;:!?'\"()-"
)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def words(text: Column | str) -> Column:
    """array<string> of whitespace-delimited words (empty array for
    empty text, null for null text)."""
    t = F.trim(_c(text))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count. regexp_count of \\S+ runs — equal to
    len(split-by-whitespace) but with no token-array materialization."""
    return F.coalesce(F.regexp_count(_c(text), F.lit(r"\S+")), F.lit(0)).cast("long")


def token_count_bpeish(text: Column | str) -> Column:
    """Sub-word-ish token count via the BPE-like regex (letters runs,
    digit runs, single symbols) — a deterministic stand-in for a real
    BPE tokenizer that external SQL oracles can replicate with
    regexp_extract_all/length."""
    return F.coalesce(
        F.regexp_count(_c(text), F.lit(BPEISH_TOKEN_RE)), F.lit(0)
    ).cast("long")


def symbol_ratio(text: Column | str) -> Column:
    """Fraction of characters that are 'symbols' (junk indicator).
    translate-based set counting (see SYMBOL_RE note): delete every
    allowed char, the remaining length IS the symbol count."""
    t = _c(text)
    n = F.length(t)
    return F.when(n > 0, F.length(F.translate(t, _SYMBOL_ALLOWED, "")) / n)


def lines(text: Column | str) -> Column:
    """Non-empty trimmed lines as array<string>."""
    return F.filter(
        F.transform(F.split(_c(text), r"\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )


def line_stats(text: Column | str) -> Column:
    """struct<n_lines:long, mean_line_len:double, max_line_len:long>."""
    ls = lines(text)
    n = F.size(ls)
    lens = F.transform(ls, lambda l: F.length(l))
    total = F.aggregate(lens, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return F.struct(
        n.cast("long").alias("n_lines"),
        F.when(n > 0, total / n).alias("mean_line_len"),
        F.when(n > 0, F.array_max(lens)).cast("long").alias("max_line_len"),
    )


def repeated_line_frac(text: Column | str) -> Column:
    """Fraction of lines that are duplicates of an earlier line —
    the intra-doc dedup signal (web analog of the reference's
    discard-low-fitness-subrecords rule, main_app.py:221-224,260-264).

    1 - distinct/total over non-empty trimmed lines.
    """
    ls = lines(text)
    n = F.size(ls)
    return F.when(n > 0, 1.0 - F.size(F.array_distinct(ls)) / n)


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """array<string> of k-word shingles (space-joined, lowercased).

    O(n) composition: zip_with over k shifted slices of the word array.
    (The obvious transform(sequence(1, n-k+1), i -> slice(ws, i, k))
    form re-evaluates the outer word-array expression PER INDEX in
    Spark's interpreted higher-order-function path — O(n^2); a 50k-word
    doc took minutes. Never close over an outer array expr inside a HOF
    lambda.)

    Docs with < k words yield an empty array.
    """
    ws = F.transform(words(text), lambda w: F.lower(w))
    n = F.size(ws)
    m = F.greatest(n - (k - 1), F.lit(0))  # number of shingles
    sh = F.slice(ws, 1, m)
    for i in range(1, k):
        nxt = F.slice(ws, 1 + i, m)
        sh = F.zip_with(sh, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(n >= k, sh).otherwise(F.array().cast("array<string>"))


def char_ngrams(text: Column | str, k: int = 5) -> Column:
    """array<string> of character k-grams (for fingerprinting).

    Same O(n) shifted-slice construction as word_shingles (substring
    per index would re-scan the string per gram — O(n^2))."""
    t = _c(text)
    chars = F.split(t, "(?!^)")  # split between every pair of chars
    n = F.length(t)
    m = F.greatest(n - (k - 1), F.lit(0))
    gr = F.slice(chars, 1, m)
    for i in range(1, k):
        gr = F.zip_with(gr, F.slice(chars, 1 + i, m), lambda a, b: F.concat(a, b))
    return F.when(n >= k, gr).otherwise(F.array().cast("array<string>"))
