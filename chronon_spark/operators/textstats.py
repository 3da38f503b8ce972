"""Text analysis operators: token counting, quality scoring, language-ID
heuristic, document fingerprinting. Pure Spark SQL expressions — every
one of these is a map-side projection (no shuffle, fully pushdown- and
codegen-friendly), which is exactly what you want for a 100 TB scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword seeds for the n-gram/stopword heuristic
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "sich"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "que", "pour", "pas"],
    "es": ["el", "la", "los", "que", "una", "por", "con", "para", "del", "las"],
}


def tokens(text_col: str = "text") -> Column:
    """Whitespace tokens of normalized text."""
    return F.expr(
        f"filter(split(regexp_replace(lower(trim({text_col})), '\\\\s+', ' '), ' '), t -> t != '')"
    )


def token_count(text_col: str = "text") -> Column:
    """Whitespace token count."""
    return F.size(tokens(text_col))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / repetition signals (the usual
    C4/Gopher-style filters)."""
    t = text_col
    df = df.withColumn("n_chars_calc", F.length(t))
    df = df.withColumn("n_tokens", token_count(t))
    df = df.withColumn(
        "mean_token_len",
        F.when(F.col("n_tokens") > 0, F.col("n_chars_calc") / F.col("n_tokens")).otherwise(F.lit(0.0)),
    )
    df = df.withColumn(
        "punct_ratio",
        F.when(
            F.length(t) > 0,
            F.length(F.regexp_replace(t, r"[^\.,;:!\?]", "")) / F.length(t),
        ).otherwise(F.lit(0.0)),
    )
    df = df.withColumn(
        "digit_ratio",
        F.when(F.length(t) > 0, F.length(F.regexp_replace(t, r"[^0-9]", "")) / F.length(t)).otherwise(
            F.lit(0.0)
        ),
    )
    en = ", ".join(f"'{w}'" for w in _STOPWORDS["en"])
    df = df.withColumn(
        "stopword_ratio",
        F.when(
            F.col("n_tokens") > 0,
            F.expr(f"size(filter({tokens_sql(t)}, x -> array_contains(array({en}), x)))")
            / F.col("n_tokens"),
        ).otherwise(F.lit(0.0)),
    )
    df = df.withColumn(
        "unique_token_ratio",
        F.when(
            F.col("n_tokens") > 0,
            F.expr(f"size(array_distinct({tokens_sql(t)}))") / F.col("n_tokens"),
        ).otherwise(F.lit(0.0)),
    )
    # composite quality score in [0,1]: long enough, words look like words,
    # some stopwords, not digit/punct soup, not hyper-repetitive
    df = df.withColumn(
        "quality_score",
        F.round(
            F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0)) * 0.3
            + F.when((F.col("mean_token_len") >= 3) & (F.col("mean_token_len") <= 12), 0.2).otherwise(0.0)
            + F.least(F.col("stopword_ratio") * 5, F.lit(1.0)) * 0.2
            + (1.0 - F.least(F.col("digit_ratio") * 5, F.lit(1.0))) * 0.1
            + F.least(F.col("unique_token_ratio") * 2, F.lit(1.0)) * 0.2,
            6,
        ),
    )
    return df


def tokens_sql(text_col: str) -> str:
    return f"filter(split(regexp_replace(lower(trim({text_col})), '\\\\s+', ' '), ' '), t -> t != '')"


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Stopword-vote language ID: the language whose stopword seeds hit the
    most tokens wins; 'und' (undetermined) when nothing hits."""
    toks = tokens_sql(text_col)
    scores = []
    for lang, words in _STOPWORDS.items():
        arr = ", ".join(f"'{w}'" for w in words)
        scores.append(
            f"named_struct('score', size(filter({toks}, x -> array_contains(array({arr}), x))), 'neg_l', '{lang}')"
        )
    # array_sort ascending: highest score last; tie-break on language code
    expr = (
        f"CASE WHEN element_at(array_sort(array({', '.join(scores)})), -1).score > 0 "
        f"THEN element_at(array_sort(array({', '.join(scores)})), -1).neg_l ELSE 'und' END"
    )
    return df.withColumn(out_col, F.expr(expr))


def repetition_features(
    df: DataFrame,
    text_col: str = "text",
    ns: tuple[int, ...] = (2, 3),
    impl: str = "arrow",
) -> DataFrame:
    """Gopher-style within-document repetition signals, per word n-gram
    size in ``ns``:

    - ``frac_dup_{n}gram``: fraction of n-gram positions whose gram also
      occurs elsewhere in the document (``1 - distinct/total``).
    - ``top_{n}gram_char_frac``: the largest character mass any single
      repeated n-gram accounts for — ``max over grams of count *
      len(gram)`` divided by the normalized text length. (Gopher takes
      the count of the single most frequent gram; the max-mass form is
      equivalent in spirit and tie-free, so it gates deterministically.)

    100 TB shape: zero shuffle either way. ``impl="sql"`` folds
    run-lengths over ``array_sort(grams)`` with a struct-accumulator
    ``aggregate`` — correct, but Spark evaluates higher-order lambdas
    INTERPRETED (no codegen), which measured 6.8k docs/s at 1M rows.
    The default ``impl="arrow"`` hybrid hashes tokens JVM-side
    (xxhash64 — one cheap pass) and does the gram fold as vectorized
    numpy over Arrow batches: 64-bit rolling gram hashes, one lexsort
    per batch, run-length counts via diff/reduceat. Same outputs
    (hash-collision probability over ≤10^3 grams/doc is ~1e-13).
    """
    if impl == "arrow":
        return _repetition_features_arrow(df, text_col, ns)
    toks = tokens_sql(text_col)
    total_chars = f"length(concat_ws(' ', {toks}))"
    for n in ns:
        g = (
            f"CASE WHEN size({toks}) >= {n} THEN "
            f"transform(sequence(1, size({toks}) - {n} + 1), "
            f"          i -> array_join(slice({toks}, i, {n}), ' ')) "
            f"ELSE array() END"
        )
        df = df.withColumn(
            f"frac_dup_{n}gram",
            F.expr(
                f"round(CASE WHEN size({g}) > 0 THEN "
                f"1.0 - CAST(size(array_distinct({g})) AS DOUBLE) / size({g}) "
                f"ELSE 0.0 END, 6)"
            ),
        )
        # run-length fold over the sorted grams: equal grams are adjacent,
        # so the running (prev, run) pair recovers every gram's count
        best = (
            f"aggregate(array_sort({g}), "
            f"named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
            f"(acc, x) -> named_struct("
            f"  'prev', x, "
            f"  'run', IF(x = acc.prev, acc.run + 1L, 1L), "
            f"  'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1L, 1L) * length(x))), "
            f"acc -> acc.best)"
        )
        df = df.withColumn(
            f"top_{n}gram_char_frac",
            F.expr(
                f"round(CASE WHEN {total_chars} > 0 THEN "
                f"CAST({best} AS DOUBLE) / {total_chars} ELSE 0.0 END, 6)"
            ),
        )
    return df


def _repetition_features_arrow(
    df: DataFrame, text_col: str, ns: tuple[int, ...]
) -> DataFrame:
    """Hybrid kernel for repetition_features: tokens are hashed and
    measured JVM-side (one cheap expression pass — xxhash64 + length per
    token), then the per-doc gram fold runs as vectorized numpy over
    Arrow batches. All heavy steps are batch-level array ops: rolling
    64-bit gram hashes from shifted views, ONE lexsort per (batch, n),
    run-length counts via diff, per-doc rollups via bincount/reduceat —
    no per-row Python. Rounds like Spark/DuckDB (half away from zero),
    not numpy's banker's default."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    toks = tokens_sql(text_col)
    prep = df.withColumn(
        "__th", F.expr(f"transform({toks}, t -> xxhash64(t))")
    ).withColumn("__tl", F.expr(f"transform({toks}, t -> length(t))"))

    out_fields = []
    for n in ns:
        out_fields += [
            StructField(f"frac_dup_{n}gram", DoubleType()),
            StructField(f"top_{n}gram_char_frac", DoubleType()),
        ]
    schema = StructType(out_fields)
    sizes = tuple(ns)

    def _round6(x: "np.ndarray") -> "np.ndarray":
        return np.floor(x * 1e6 + 0.5) / 1e6  # HALF_UP for non-negatives

    def kern(th_s, tl_s):
        rows = len(th_s)
        lens = np.fromiter((len(x) for x in th_s), dtype=np.int64, count=rows)
        m = int(lens.sum())
        flat_h = (
            # xxhash64 is signed; asarray(dtype=uint64) rejects negative
            # python ints, so land in int64 first and reinterpret
            np.concatenate([np.asarray(x, dtype=np.int64) for x in th_s]).view(np.uint64)
            if m
            else np.empty(0, dtype=np.uint64)
        )
        flat_l = (
            np.concatenate([np.asarray(x, dtype=np.int64) for x in tl_s])
            if m
            else np.empty(0, dtype=np.int64)
        )
        offsets = np.concatenate([[0], np.cumsum(lens)])
        cl = np.concatenate([[0], np.cumsum(flat_l)])
        sum_tl = cl[offsets[1:]] - cl[offsets[:-1]]
        total_chars = sum_tl + np.maximum(lens - 1, 0)
        doc_of_tok = np.repeat(np.arange(rows), lens)
        pos = np.arange(m) - np.repeat(offsets[:-1], lens)

        out = {}
        for n in sizes:
            gtot = np.maximum(lens - n + 1, 0) * (lens >= n)
            frac = np.zeros(rows)
            top = np.zeros(rows)
            if m >= n:
                # rolling gram hash + char length over shifted flat views
                k = m - n + 1
                gh = flat_h[:k].copy()
                gl = flat_l[:k].copy()
                for j in range(1, n):
                    gh = gh * np.uint64(0x9E3779B97F4A7C15) ^ flat_h[j : j + k]
                    gl = gl + flat_l[j : j + k]
                gl = gl + (n - 1)
                valid = pos[:k] <= (np.repeat(lens, lens)[:k] - n)
                gh, gl = gh[valid], gl[valid]
                gdoc = doc_of_tok[:k][valid]
                if gh.size:
                    order = np.lexsort((gh, gdoc))
                    sd, sh, sl = gdoc[order], gh[order], gl[order]
                    new = np.concatenate(
                        [[True], (sd[1:] != sd[:-1]) | (sh[1:] != sh[:-1])]
                    )
                    starts = np.flatnonzero(new)
                    counts = np.diff(np.append(starts, sd.size))
                    run_doc = sd[starts]
                    mass = counts * sl[starts]
                    n_distinct = np.bincount(run_doc, minlength=rows)
                    first = np.flatnonzero(
                        np.concatenate([[True], run_doc[1:] != run_doc[:-1]])
                    )
                    best = np.zeros(rows, dtype=np.int64)
                    best[run_doc[first]] = np.maximum.reduceat(mass, first)
                    nz = gtot > 0
                    frac[nz] = 1.0 - n_distinct[nz] / gtot[nz]
                    cz = total_chars > 0
                    top[cz] = best[cz] / total_chars[cz]
            out[f"frac_dup_{n}gram"] = _round6(frac)
            out[f"top_{n}gram_char_frac"] = _round6(top)
        return pd.DataFrame(out)

    # module-level `from __future__ import annotations` stringifies type
    # hints, which pandas_udf's eval-type inference can't resolve — set
    # real class annotations explicitly instead
    kern.__annotations__ = {"th_s": pd.Series, "tl_s": pd.Series, "return": pd.DataFrame}
    kern = F.pandas_udf(schema)(kern)

    res = prep.withColumn("__rep", kern("__th", "__tl"))
    for n in sizes:
        res = res.withColumn(f"frac_dup_{n}gram", F.col(f"__rep.frac_dup_{n}gram"))
        res = res.withColumn(
            f"top_{n}gram_char_frac", F.col(f"__rep.top_{n}gram_char_frac")
        )
    return res.drop("__th", "__tl", "__rep")


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """64-bit document fingerprint: xxhash64 of the normalized token stream
    (a deterministic rolling-hash equivalent for exact-content identity)."""
    return df.withColumn(
        out_col, F.xxhash64(F.expr(f"concat_ws(' ', {tokens_sql(text_col)})"))
    )
