"""Text-analysis operators over the ``documents`` table (extension surface,
SURVEY 2.4): token counting, quality scoring, language ID, document
fingerprinting.

Everything here is built from JVM-side ``pyspark.sql.functions`` expressions
(whole-stage codegen; no Python in the hot path) and each operator carries a
structurally-identical DuckDB oracle, so results are bit-for-bit checkable.

Engine-parity primitives (verified identical Spark vs DuckDB):

* polyhash: fold ``(acc*31 + codepoint) % 1_000_000_007`` over characters.
* char shingles: ``substr(text, i, k)`` over a 1-indexed sequence.
* whitespace tokens: regex split on ``\\s+`` after trim.
* "BPE-ish" tokens: maximal runs ``[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]``.

Scale notes (100 TB): all operators are embarrassingly parallel per-row maps
-- no shuffle, no UDF, pushdown-friendly (only ``text``/``doc_id`` columns
are read).  Costs are O(len(text)) per row inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.skew import spread
from ..queries import register, t

MOD = 1_000_000_007

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic.  Deliberately short and ASCII so the heuristic is cheap and
#: dialect-portable; at real scale swap in a trained model via pandas_udf.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con"],
    "fr": ["le", "les", "des", "est", "une", "dans", "pour", "sur"],
    "de": ["der", "die", "und", "das", "ein", "nicht", "mit", "ist"],
}


# -- column builders (Spark side) -------------------------------------------


def ws_token_count(col: str = "text") -> Column:
    """Whitespace token count; 0 for blank strings."""
    return F.when(F.length(F.trim(F.col(col))) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col(col)), r"\s+"))
    ).alias("n_tokens")


def bpe_token_count(col: str = "text") -> Column:
    """Count of BPE-ish word/number/symbol units (regex above)."""
    return F.size(
        F.expr(rf"regexp_extract_all({col}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)")
    )


#: Every character the punctuation/symbol counters do NOT count: ASCII
#: alphanumerics plus the Java-regex ``\s`` class.  Counting the
#: complement via ``length(translate(col, SYM_ALLOWED, ''))`` is
#: value-identical to ``size(regexp_extract_all(col,
#: '[^A-Za-z0-9\\s]', 0))`` (single-char class, verified 0 diffs over
#: 500k docs) and ~12x faster -- the regex engine cost 25.5 s of x19's
#: 19.7 s SF10 row alone.  Shared with quality._SYM_ALLOWED.
SYM_ALLOWED = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    " \t\n\x0b\x0c\r"
)


def punct_count(col: str = "text") -> Column:
    return F.length(F.translate(F.col(col), SYM_ALLOWED, ""))


def stopword_count(col: str = "text", words: list[str] | None = None) -> Column:
    words = words or LANG_MARKERS["en"]
    arr = ", ".join(f"'{w}'" for w in words)
    return F.expr(
        rf"size(filter(split(trim(lower({col})), '\\s+'), "
        rf"x -> array_contains(array({arr}), x)))"
    )


def quality_score(col: str = "text") -> Column:
    """Heuristic document quality in [0,1]: length saturation, low
    punctuation, presence of common-word signal.  Structure mirrors the
    oracle exactly -- same operation tree, same IEEE result."""
    n_tok = F.size(F.split(F.trim(F.col(col)), r"\s+")).cast("double")
    n_chars = F.length(F.col(col)).cast("double")
    punct = punct_count(col).cast("double")
    stop = stopword_count(col).cast("double")
    len_component = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    punct_component = F.lit(1.0) - F.least(
        punct / F.greatest(n_chars, F.lit(1.0)) * F.lit(4.0), F.lit(1.0)
    )
    stop_component = F.least(
        stop / F.greatest(n_tok, F.lit(1.0)) * F.lit(4.0), F.lit(1.0)
    )
    return (
        F.lit(0.4) * len_component
        + F.lit(0.3) * punct_component
        + F.lit(0.3) * stop_component
    )


def _marker_hits(
    col: str, words: list[str], toks: str | None = None
) -> Column:
    arr = ", ".join(f"'{w}'" for w in words)
    src = toks or rf"split(trim(lower({col})), '\\s+')"
    return F.expr(rf"size(filter({src}, x -> array_contains(array({arr}), x)))")


def _lang_case(hits: dict) -> Column:
    """argmax over per-language hit Columns with the deterministic
    tie-break (list order en > es > fr > de, then 'und')."""
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    # Build the CASE in reverse so earlier languages win ties.
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when(
            (hits[lang] > 0) & (hits[lang] == best), F.lit(lang)
        ).otherwise(expr)
    return expr


def lang_id(col: str = "text") -> Column:
    """Stopword-marker language ID, single-Column form.  Inlines the
    token split into every per-language hit count AND every CASE branch
    reference -- ~24 split( nodes and 12 O(w) filter scans per row --
    fine inside a one-shot predicate, wrong in a hot projection: use
    :func:`with_lang_id` there (same answer, one split, one scan per
    language; staged columns, the x19/x69 pattern)."""
    hits = {lang: _marker_hits(col, ws) for lang, ws in LANG_MARKERS.items()}
    return _lang_case(hits)


def with_lang_id(
    df: DataFrame, text_col: str = "text", out_col: str = "lang_pred"
) -> DataFrame:
    """Append the language prediction with the work staged: one split
    projection, one hit-count column per language (each marker filter
    runs ONCE), then a cheap integer CASE over the counts.  Value-
    identical to ``lang_id`` (oracle- and equality-pinned)."""
    toks, hcols = "__lid_toks", {}
    staged = df.withColumn(
        toks, F.expr(rf"split(trim(lower({text_col})), '\\s+')")
    )
    for lang, ws in LANG_MARKERS.items():
        hcols[lang] = f"__lid_{lang}"
        staged = staged.withColumn(
            hcols[lang], _marker_hits(text_col, ws, toks=toks)
        )
    case = _lang_case({lang: F.col(c) for lang, c in hcols.items()})
    return staged.withColumn(out_col, case).drop(toks, *hcols.values())


def fingerprints_pandas(
    df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, fp, rolling_hash)`` fingerprints over Arrow batches.

    Value-identical to the x04 DuckDB oracle's ``md5`` of the sorted
    distinct ``k``-char shingle set + ``duck_polyhash`` (same shingle set,
    byte-equal md5 input, same integer fold) but Python-side: Spark SQL
    forms would be nested higher-order lambdas whose one-time Janino compile
    costs seconds per fresh session, while hashlib/ord do the same work at
    C speed and parallelize across however many partitions ``spread``
    provides.  ASCII-ordering note: Python ``sorted`` compares code points,
    which agrees with the oracle's ``list_sort`` on ASCII corpora (and the
    oracle gate would catch a divergence).
    """
    import hashlib

    import pandas as pd

    from ..plans.skew import spread

    def batches(it):
        for pdf in it:
            fps, rhs = [], []
            for s in pdf[text_col]:
                if s is None:
                    fps.append(None)
                    rhs.append(None)
                    continue
                low = s.lower()
                n = len(low)
                sh = (
                    sorted({low[i : i + k] for i in range(n - k + 1)})
                    if n >= k
                    else [low]  # substr(s, 1, k) of a short text
                )
                fps.append(hashlib.md5("|".join(sh).encode("utf-8")).hexdigest())
                acc = 0
                for c in s:  # rolling hash folds the RAW text
                    acc = (acc * 31 + ord(c)) % MOD
                rhs.append(acc)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "fp": fps, "rolling_hash": rhs}
            )

    return spread(df.select(id_col, text_col)).mapInPandas(
        batches, f"{id_col} long, fp string, rolling_hash long"
    )


def polyhash(expr: str) -> str:
    """Spark SQL snippet: polynomial rolling hash of a string expression."""
    return (
        f"aggregate(transform(split({expr}, ''), c -> CAST(ascii(c) AS BIGINT)), "
        f"0L, (acc, c) -> (acc * 31 + c) % {MOD})"
    )


# -- oracle-side twins (DuckDB SQL snippets) --------------------------------


def duck_polyhash(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(string_split_regex({expr}, ''), c -> ord(c)::BIGINT)), "
        f"(acc, c) -> (acc * 31 + c) % {MOD})"
    )


def _duck_hits(words: list[str]) -> str:
    arr = ", ".join(f"'{w}'" for w in words)
    return (
        rf"len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), "
        rf"x -> list_contains([{arr}], x)))"
    )


_DUCK_NTOK = r"len(regexp_split_to_array(trim(text), '\s+'))"


def _duck_quality() -> str:
    punct = r"len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))"
    stop = _duck_hits(LANG_MARKERS["en"])
    return (
        f"0.4 * least({_DUCK_NTOK}::DOUBLE / 100.0, 1.0) "
        f"+ 0.3 * (1.0 - least({punct}::DOUBLE / "
        f"greatest(length(text)::DOUBLE, 1.0) * 4.0, 1.0)) "
        f"+ 0.3 * least({stop}::DOUBLE / "
        f"greatest({_DUCK_NTOK}::DOUBLE, 1.0) * 4.0, 1.0)"
    )


def _duck_lang_case() -> str:
    hit_exprs = {lang: _duck_hits(ws) for lang, ws in LANG_MARKERS.items()}
    best = "greatest(" + ", ".join(hit_exprs.values()) + ")"
    case = "'und'"
    for lang in reversed(list(LANG_MARKERS)):
        h = hit_exprs[lang]
        case = f"CASE WHEN {h} > 0 AND {h} = {best} THEN '{lang}' ELSE {case} END"
    return case


# -- registered queries ------------------------------------------------------


@register(
    "x01_text_stats",
    "SELECT doc_id, "
    r" CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
    rf" {_DUCK_NTOK} END AS n_tokens, "
    r" len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens_bpe, "
    r" len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct, "
    " length(text) AS n_chars_actual "
    "FROM documents",
    "token counting (whitespace + BPE-ish regex) and punctuation stats",
)
def x01_text_stats(spark, sf_dir) -> DataFrame:
    d = spread(t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        ws_token_count(),
        bpe_token_count().alias("n_tokens_bpe"),
        punct_count().alias("n_punct"),
        F.length("text").alias("n_chars_actual"),
    )


@register(
    "x02_quality_score",
    f"SELECT doc_id, {_duck_quality()} AS quality FROM documents",
    "heuristic quality scoring (length/punct/stopword components)",
)
def x02_quality(spark, sf_dir) -> DataFrame:
    d = spread(t(spark, sf_dir, "documents"))
    return d.select("doc_id", quality_score().alias("quality"))


@register(
    "x03_lang_id",
    f"SELECT doc_id, {_duck_lang_case()} AS lang_pred FROM documents",
    "language ID via stopword-marker argmax (deterministic tie-break)",
)
def x03_lang_id(spark, sf_dir) -> DataFrame:
    d = spread(t(spark, sf_dir, "documents"))
    return with_lang_id(d).select("doc_id", "lang_pred")


@register(
    "x04_fingerprint",
    "SELECT doc_id, md5(array_to_string(list_sort(list_distinct("
    " list_transform(range(1, greatest(length(lower(text))-4, 1) + 1), "
    " i -> substr(lower(text), i, 5)))), '|')) AS fp, "
    f"{duck_polyhash('text')} AS rolling_hash "
    "FROM documents",
    "document fingerprinting: shingle-set md5 + polynomial rolling hash",
)
def x04_fingerprint(spark, sf_dir) -> DataFrame:
    return fingerprints_pandas(t(spark, sf_dir, "documents"))


def passage_chunks(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size overlapping token windows -- the
    passage layout retrieval systems index (a RAG store serves ~100-token
    passages with overlap so an answer spanning a boundary is never lost,
    not whole documents).  One row per chunk: (doc id, chunk id, token
    count, chunk text).

    Scale design: ZERO shuffles -- the split materializes in its own
    projection (the span_hashes lesson: referencing split(text) inside a
    per-chunk expression re-evaluates it per chunk, quadratic in document
    length), the start offsets explode map-side, and the slice/join are
    plain codegen expressions, no higher-order lambda anywhere.  Output
    feeds the embedding stage (x10/x58) and inherits the documents scan's
    partitioning.

    A document shorter than one chunk yields exactly one chunk (its whole
    text); the final chunk clamps at the document end.
    """
    words = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__w")
    )
    w = F.col("__w")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(w), F.lit(1)), F.lit(stride)
    )
    return (
        words.select(id_col, "__w", F.explode(starts).alias("__s"))
        .select(
            F.col(id_col),
            F.expr(f"CAST((__s - 1) DIV {stride} AS BIGINT)").alias(
                "chunk_id"
            ),
            F.size(F.slice(w, F.col("__s"), chunk_tokens))
            .cast("long")
            .alias("n_chunk_tokens"),
            F.array_join(F.slice(w, F.col("__s"), chunk_tokens), " ").alias(
                "chunk_text"
            ),
        )
    )


@register(
    "x59_passage_chunks",
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks "
    " FROM documents WHERE text IS NOT NULL), "
    "s AS (SELECT doc_id, toks, unnest(range(1, "
    " greatest(len(toks), 1) + 1, 48)) AS start FROM w) "
    "SELECT doc_id, CAST((start - 1) // 48 AS BIGINT) AS chunk_id, "
    " CAST(len(list_slice(toks, start, start + 63)) AS BIGINT)"
    "  AS n_chunk_tokens, "
    " array_to_string(list_slice(toks, start, start + 63), ' ')"
    "  AS chunk_text "
    "FROM s",
    "RAG passage chunking: 64-token windows, stride 48 (16-token overlap), "
    "zero-shuffle map-side explode with the split materialized once per "
    "document",
)
def x59_chunks(spark, sf_dir) -> DataFrame:
    return passage_chunks(t(spark, sf_dir, "documents"))


def heavy_hitters(
    df: DataFrame,
    k: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """Tokens carrying at least ``1/k`` of all token occurrences, with
    EXACT counts, found without ever shuffling the full vocabulary.

    The classic two-pass heavy-hitter layout:

    1. **Candidate pass (map-side, bounded memory).**  Each partition
       counts its own tokens and keeps those with local share >= 1/k.
       Pigeonhole guarantees the union of local candidates is a superset
       of the global heavy hitters: if a token's global share is >= 1/k,
       some partition must hold it at >= 1/k of that partition's tokens.
       Per-partition output is <= k rows.
    2. **Exact recount (skinny shuffle).**  The candidate set (bounded by
       partitions * k, typically tiny after the union) broadcasts back,
       and only candidate tokens are counted exactly -- the long tail of
       the vocabulary never enters an exchange.

    x21's top-k-words shuffles every distinct token; at web-corpus scale
    that vocabulary shuffle dwarfs the answer.  This form's shuffles are
    O(candidates), independent of vocabulary size.  The >= comparison is
    ``count * k >= total`` in exact integers -- no float share anywhere.
    """
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    from .quality import _w

    words = _w(text_col)
    tok = df.select(F.explode(F.expr(words)).alias("w")).where(
        F.length("w") > 0
    )

    def local_candidates(batches):
        counts: dict[str, int] = {}
        n = 0
        for pdf in batches:
            vc = pdf["w"].value_counts()
            n += int(vc.sum())
            for w, c in vc.items():
                counts[w] = counts.get(w, 0) + int(c)
        cand = [w for w, c in counts.items() if c * k >= n]
        yield pd.DataFrame({"w": cand})

    cands = tok.mapInPandas(
        local_candidates, StructType([StructField("w", StringType())])
    ).distinct()
    total = tok.count()
    exact = (
        tok.join(F.broadcast(cands), "w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") * k >= F.lit(total))
    )
    return exact.select("w", F.col("c").cast("long").alias("c"))


from .quality import _dw as _qdw  # tokenizer twins live in quality.py


@register(
    "x62_heavy_hitters",
    "WITH tok AS (SELECT unnest("
    + _qdw("text")
    + ") AS w FROM documents), "
    "tok2 AS (SELECT w FROM tok WHERE length(w) > 0), "
    "tot AS (SELECT COUNT(*) AS n FROM tok2) "
    "SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok2, tot "
    "GROUP BY w, tot.n HAVING COUNT(*) * 64 >= tot.n",
    "exact heavy hitters (tokens with >= 1/64 of all occurrences) via the "
    "two-pass candidate layout: map-side bounded-memory local candidates "
    "(pigeonhole superset guarantee), then exact recount of candidates "
    "only -- the full vocabulary never shuffles",
)
def x62_heavy(spark, sf_dir) -> DataFrame:
    return heavy_hitters(t(spark, sf_dir, "documents"), k=64)
