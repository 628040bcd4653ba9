"""Heuristic quality rules — Gopher/C4-style gates as Column exprs.

Analog of the reference's decision tables and validation gates:
- 2-level dispatch on OBSTYPE/INSTRUME (main_app.py:303-318) -> the
  nested F.when rule chain;
- chunk-drop for non-science parts (main_app.py:221-224,260-264) -> the
  keep/drop verdict;
- sentinel null-out (delta == 1.0 -> time=None, main_app.py:251-259) ->
  placeholder-text detection;
- missing-keyword guards (main_app.py:344-346,415-416) -> null-safe
  metric computation.

All metrics are pure Column expressions (whole-stage codegen); the rule
thresholds live in a config dataclass broadcast by closure — the
blueprint-table analog (main_app.py:135-181).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

from gemproc2caom2_spark.functions import text as TX
from gemproc2caom2_spark.functions.perplexity import RARE_RE, unigram_surprisal_expr


@dataclass(frozen=True)
class RuleConfig:
    """Broadcast rule table (blueprint analog). One instance drives both
    engines: the Spark gates (operators/verdict._text_gates) and the
    DuckDB oracle gates (verdict._text_gates_sql) read their thresholds,
    markers and target languages from it, so the engines cannot diverge
    on a threshold."""

    min_doc_len: int = 120          # chars
    max_doc_len: int = 200_000
    min_words: int = 20
    max_symbol_ratio: float = 0.10
    max_repeated_line_frac: float = 0.30
    max_perplexity: float = 60.0
    max_rare_char_ratio: float = 0.25
    target_langs: tuple[str, ...] = ("en",)
    placeholder_markers: tuple[str, ...] = ("lorem ipsum", "under construction")
    num_minhash_perms: int = 128
    lsh_bands: int = 16
    shingle_k: int = 3
    n_salts: int = 16


DEFAULT_RULES = RuleConfig()

# quality struct fields in fixed order (FIXTURES.md §2)
QUALITY_FIELDS = (
    "doc_len", "n_words", "mean_line_len", "symbol_ratio",
    "repeated_line_frac", "rare_char_ratio",
)


# Per-doc analysis caps: ratio/line metrics are computed on the first
# ANALYSIS_CAP chars and language ID on the first LANGID_CAP chars
# (doc_len stays exact). Bounds worst-case per-document cost — a 10 MB
# page must not cost 100x a normal one (UDF-stage compute skew; SURVEY
# §7 hard part (e)) — and, measured: the regex passes over capped text
# are the pipeline's dominant JVM cost, which is memory-bound, so bytes
# scanned per doc directly sets throughput. 16 KB of ratios and 4 KB of
# stopword counting decide the same verdicts as full-document scans.
ANALYSIS_CAP = 16384
# langid reads a 2 KB prefix: at min_hits=2 with 8 stopwords/language,
# predictions are identical to a 4 KB (and even 1 KB) cap on every test
# corpus — zero diffs measured across sf0.001/0.01/0.1 and the 96k
# bench corpus — while the 5 profile regex passes scan half the bytes
# (langid was the single largest Column-expr kernel).
LANGID_CAP = 2048


def quality_struct(text: Column | str, exact_len: Column | None = None) -> Column:
    """struct<doc_len:long, n_words:long, mean_line_len:double,
    symbol_ratio:double, repeated_line_frac:double, rare_char_ratio:double>

    Null text -> null metrics inside the struct (missing-input guard).
    doc_len is exact; all other metrics are over the first ANALYSIS_CAP
    chars. ``exact_len`` overrides the doc_len field for callers that
    truncated the text upstream but carried the original length thin
    (plans/pipeline.py's fat-payload pruning).
    """
    t_full = F.col(text) if isinstance(text, str) else text
    t = F.substring(t_full, 1, ANALYSIS_CAP)
    doc_len = (
        exact_len.cast("long")
        if exact_len is not None
        else F.length(t_full).cast("long")
    )
    # the split+trim+filter line array is built ONCE and shared by the
    # mean-length and repeated-line metrics: higher-order functions run
    # interpreted, outside codegen CSE, so composing line_stats() and
    # repeated_line_frac() would evaluate the whole split chain twice
    # (measured 12% of the line-kernel cost)
    lines_arr = TX.lines(t)
    n_lines = F.size(lines_arr)
    total_len = F.aggregate(
        F.transform(lines_arr, lambda l: F.length(l)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.struct(
        doc_len.alias("doc_len"),
        TX.token_count_ws(t).alias("n_words"),
        F.when(n_lines > 0, total_len / n_lines).alias("mean_line_len"),
        TX.symbol_ratio(t).alias("symbol_ratio"),
        F.when(
            n_lines > 0, 1.0 - F.size(F.array_distinct(lines_arr)) / n_lines
        ).alias("repeated_line_frac"),
        unigram_surprisal_expr(t).alias("rare_char_ratio"),
    )


def quality_sql() -> str:
    """DuckDB rendering of quality_struct: every column of ``documents``
    plus doc_len, n_words, symbol_ratio, rare_char_ratio, the ``lines``
    list, mean_line_len and repeated_line_frac, computed from its
    ``text`` column over the same ANALYSIS_CAP prefix. The metric bodies
    are hand-written SQL (the oracle stays independent of the Column
    code); the cap and the character classes are shared."""
    t = f"substring(text, 1, {ANALYSIS_CAP})"
    sym = TX.SYMBOL_RE.replace("'", "''")
    rare = RARE_RE.replace("'", "''")
    return f"""
      SELECT *,
             CASE WHEN len(lines) > 0
                  THEN list_sum(list_transform(lines, x -> length(x)))::DOUBLE / len(lines)
                  END AS mean_line_len,
             CASE WHEN len(lines) > 0
                  THEN 1.0 - len(list_distinct(lines))::DOUBLE / len(lines)
                  END AS repeated_line_frac
      FROM (
        SELECT *,
               length(text)::BIGINT AS doc_len,
               coalesce(length(regexp_extract_all({t}, '\\S+')), 0)::BIGINT AS n_words,
               length(regexp_extract_all({t}, '{sym}')) / nullif(length({t}), 0) AS symbol_ratio,
               length(regexp_extract_all(lower({t}), '{rare}'))
                 / nullif(length({t}), 0) AS rare_char_ratio,
               list_filter(list_transform(string_split({t}, chr(10)), x -> trim(x)),
                           x -> x <> '') AS lines
        FROM documents)"""


def null_quality_struct() -> Column:
    """All-null quality struct (same schema as quality_struct) for runs
    with the heuristics stage disabled: every field null, so NO quality
    gate fires (token_count_ws would coalesce null text to n_words=0 and
    spuriously trip min_words)."""
    return F.struct(
        F.lit(None).cast("long").alias("doc_len"),
        F.lit(None).cast("long").alias("n_words"),
        F.lit(None).cast("double").alias("mean_line_len"),
        F.lit(None).cast("double").alias("symbol_ratio"),
        F.lit(None).cast("double").alias("repeated_line_frac"),
        F.lit(None).cast("double").alias("rare_char_ratio"),
    )


# Duplicate word-n-gram fraction thresholds (the Gopher repetition
# filters use char-weighted fractions 0.20/0.18/0.16 for 2/3/4-grams;
# these are the count-fraction analogs at the same cut points)
REPETITION_THRESHOLDS: dict[int, float] = {2: 0.20, 3: 0.18, 4: 0.16}


def repetition_struct(
    text: Column | str, ns: tuple[int, ...] = (2, 3, 4), cap: int = ANALYSIS_CAP
) -> Column:
    """Within-document repetition metrics — the Gopher duplicate-n-gram
    family that ``repeated_line_frac`` covers only at line granularity:
    for each n in ``ns``, the total word-n-gram count and the fraction
    that are duplicates of an earlier n-gram (1 - distinct/total), plus
    the combined ``is_repetitive`` flag at REPETITION_THRESHOLDS.

    Pure Column expressions over the ANALYSIS_CAP prefix (the same
    worst-case-cost bound as quality_struct); the shingle arrays reuse
    word_shingles' O(n) zip_with composition. Null/empty/too-short text
    yields 0 n-grams and null fractions (missing-input guard V7), so
    the flag never fires spuriously. Fractions are rounded to 6 places
    BEFORE the threshold compare so Spark and any SQL oracle flag the
    identical set. Reference analog: the fitness drop rules
    (/root/reference/gemProc2caom2/main_app.py:221-224)."""
    t_in = F.col(text) if isinstance(text, str) else text
    t = F.substring(t_in, 1, cap)
    fields: list[Column] = []
    rep = F.lit(False)
    for k in ns:
        g = TX.word_shingles(t, k=k)
        tot = F.size(g)
        frac = F.when(
            tot > 0, F.round(1.0 - F.size(F.array_distinct(g)) / tot, 6)
        )
        fields.append(tot.cast("long").alias(f"n_{k}grams"))
        fields.append(frac.alias(f"dup_{k}gram_frac"))
        rep = rep | F.coalesce(
            frac > F.lit(REPETITION_THRESHOLDS[k]), F.lit(False)
        )
    fields.append(rep.alias("is_repetitive"))
    return F.struct(*fields)


def make_repetition_udf(ns: tuple[int, ...] = (2, 3, 4), cap: int = ANALYSIS_CAP):
    """Arrow twin of ``repetition_struct``'s metric core: one pandas UDF
    emitting, per n in ``ns``, the n-gram total and the RAW duplicate
    fraction (1.0 - distinct/total as float64 — rounding and the
    threshold flags stay in Spark so round() semantics are exactly
    F.round's). The r5 Column form ran three interpreted
    zip_with/array_distinct higher-order passes per doc (~15M lambda
    evaluations at sf1.0 — the whole query's cost; guide §4.2).

    Tokenization replicates the Column chain exactly on this corpus's
    ASCII text: substring(cap) -> trim (spaces only, both ends) ->
    split on Java \\s+ = [ \\t\\n\\x0b\\f\\r]+ (leading/trailing empty
    tokens kept, as Spark's split(limit=-1) keeps them) -> lower per
    word; n-grams join k words with one space. 1.0 - d/t is the same
    single IEEE divide + subtract as the Column form. Equality against
    the Column expression is pinned by tests/test_functions.py."""
    import re

    splitter = re.compile(r"[ \t\n\x0b\f\r]+")
    fields = []
    for k in ns:
        fields.append(f"n_{k}grams long")
        fields.append(f"raw_{k} double")
    schema = "struct<" + ", ".join(fields) + ">"

    def _metrics(texts):
        import pandas as pandas_mod

        rows = []
        for t in texts:
            if t is None:
                ws: list[str] = []
            else:
                s = t[:cap].strip(" ")
                ws = [w.lower() for w in splitter.split(s)] if s else []
            n = len(ws)
            rec = {}
            for k in ns:
                tot = n - (k - 1) if n >= k else 0
                if tot > 0:
                    grams = {" ".join(ws[i : i + k]) for i in range(tot)}
                    rec[f"raw_{k}"] = 1.0 - len(grams) / tot
                else:
                    rec[f"raw_{k}"] = None
                rec[f"n_{k}grams"] = tot
            rows.append(rec)
        return pandas_mod.DataFrame(rows)

    return F.pandas_udf(_metrics, schema)


def repetition_struct_arrow(
    text: Column | str, ns: tuple[int, ...] = (2, 3, 4), cap: int = ANALYSIS_CAP
) -> Column:
    """``repetition_struct`` evaluated through the Arrow kernel: same
    output struct (totals, 6-dp-rounded duplicate fractions, combined
    is_repetitive flag at REPETITION_THRESHOLDS), with only the raw
    metric math in Python — rounds/compares stay Column expressions so
    engine rounding semantics are untouched."""
    t = F.col(text) if isinstance(text, str) else text
    m = make_repetition_udf(ns, cap)(t)
    fields: list[Column] = []
    rep = F.lit(False)
    for k in ns:
        frac = F.round(m[f"raw_{k}"], 6)
        fields.append(m[f"n_{k}grams"].alias(f"n_{k}grams"))
        fields.append(frac.alias(f"dup_{k}gram_frac"))
        rep = rep | F.coalesce(
            frac > F.lit(REPETITION_THRESHOLDS[k]), F.lit(False)
        )
    fields.append(rep.alias("is_repetitive"))
    return F.struct(*fields)


def placeholder_flag(text: Column | str, rules: RuleConfig = DEFAULT_RULES) -> Column:
    """Sentinel/garbage detection (the delta==1.0 analog): true when the
    doc is dominated by a known placeholder marker. Scans only the
    ANALYSIS_CAP prefix (placeholder pages announce themselves early)."""
    t = F.col(text) if isinstance(text, str) else text
    t = F.lower(F.coalesce(F.substring(t, 1, ANALYSIS_CAP), F.lit("")))
    cond = F.lit(False)
    for marker in rules.placeholder_markers:
        cond = cond | t.contains(marker)
    return cond


def placeholder_sql(rules: RuleConfig = DEFAULT_RULES) -> str:
    """DuckDB rendering of placeholder_flag over a ``text`` column."""
    t = f"lower(substring(text, 1, {ANALYSIS_CAP}))"
    quoted = (m.replace("'", "''") for m in rules.placeholder_markers)
    return " OR ".join(f"contains({t}, '{m}')" for m in quoted) or "FALSE"


def make_compression_ratio_udf(level: int = 6, cap: int = ANALYSIS_CAP):
    """Deflate compressibility as a quality signal: ratio =
    compressed_bytes / utf8_bytes of the first ``cap`` chars. Highly
    repetitive boilerplate compresses toward 0; diverse prose sits
    around 0.4-0.6 — the gzip-compressibility filter several curation
    pipelines run next to the Gopher n-gram repetition family (it
    catches long-range repetition the capped n-gram window misses).

    Arrow-batched pandas UDF: zlib is a C call per doc over the capped
    prefix — no per-row Python arithmetic beyond the call itself, and
    the cap bounds worst-case cost exactly like quality_struct. zlib
    output at a fixed level is deterministic for a given input, so the
    fixture oracle (tests/gen_fixtures.py) pins the engine's
    distributed plumbing byte-for-byte. Null/empty text -> null.
    """
    import zlib

    import pandas

    # no type hints: under `from __future__ import annotations` they
    # become strings pyspark's hint parser can't resolve against this
    # closure; hint-less defaults to the scalar pandas UDF, same thing
    def _ratio(texts):
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            raw = t[:cap].encode("utf-8")
            if not raw:
                out.append(None)
                continue
            out.append(len(zlib.compress(raw, level)) / len(raw))
        return pandas.Series(out, dtype="float64")

    return F.pandas_udf(_ratio, "double")
