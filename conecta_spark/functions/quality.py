"""Corpus-quality operators in the style of published LLM-data pipelines
(Gopher/C4/Dolma rule families): per-document heuristic filters, corpus
rollups, and vocabulary statistics, all JVM-side expressions with exact
DuckDB oracle twins.

Scale notes (100 TB):

* per-doc signals (x19) are embarrassingly parallel maps inside codegen --
  no shuffle, no Python; cost O(len(text)) per row.
* the corpus rollup (x20) is one partial-aggregated shuffle on ``lang``
  (~tens of groups; AQE coalesces).
* word frequencies (x21) explode to one row per token -- at 100 TB that is
  the classic heavy-shuffle wordcount; partial aggregation collapses each
  map task's local counts first, so shuffle volume is bounded by distinct
  words per task, not token count.  Top-k is TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.skew import spread
from ..queries import DSUM, dsum, register, t
from ..session import PersistSlot

_WORDS = r"split(trim(lower({col})), '\\s+')"
_DUCK_WORDS = r"regexp_split_to_array(trim(lower({col})), '\s+')"


def _w(col: str = "text") -> str:
    return _WORDS.format(col=col)


def _dw(col: str = "text") -> str:
    return _DUCK_WORDS.format(col=col)


#: Every character the symbol counter does NOT count: ASCII alphanumerics
#: plus the Java-regex ``\s`` class ([ \t\n\x0b\f\r]).  ``n_sym`` counts
#: the complement via ``length(translate(text, ALLOWED, ''))`` -- a
#: char-map pass, value-identical to the original
#: ``size(regexp_extract_all(text, '[^A-Za-z0-9\\s]', 0))`` (verified 0
#: diffs over 500k SF10 docs) and ~12x faster: the regex engine cost
#: 25.5 s of x19's 19.7 s SF10 row ALONE (regexp_replace was no better at
#: 20.8 s -- the regex itself is the cost, not the match-array building).
from .text import SYM_ALLOWED as _SYM_ALLOWED  # noqa: E402  (one source)


#: Memo for the backend-auto probes: (applicationId, analyzed-plan
#: semanticHash, stat name) -> scalar.  The probe is one real scan of the
#: text column per operator INVOCATION; pipelines that re-run the same
#: operator over the same corpus (bench does, real ingest loops do) pay
#: it every time for a decision that never changes.  Caching is safe in a
#: way ordinary result caching is not: the cached value only picks WHICH
#: backend runs, and the backends are bit-identical by construction, so
#: a stale entry can at worst pick the slower side -- never a wrong
#: value.  Bounded FIFO; clearCache() doesn't touch it (nothing here is
#: a Spark cache entry).
_PROBE_CACHE: dict = {}
_PROBE_CACHE_MAX = 64


def _probe_scan_stat(df: DataFrame, stat_col, name: str) -> float:
    key = (
        df.sparkSession.sparkContext.applicationId,
        df._jdf.queryExecution().analyzed().semanticHash(),
        name,
    )
    if key in _PROBE_CACHE:
        return _PROBE_CACHE[key]
    val = df.agg(stat_col).first()[0] or 0
    if len(_PROBE_CACHE) >= _PROBE_CACHE_MAX:
        _PROBE_CACHE.pop(next(iter(_PROBE_CACHE)))
    _PROBE_CACHE[key] = val
    return val


def _n_sym_expr(col: str) -> str:
    return f"length(translate({col}, '{_SYM_ALLOWED}', ''))"


def _top_count_expr(words: str) -> str:
    """Max single-word frequency via sorted-run scan: O(w log w) instead
    of the O(w^2) distinct-x-filter form (per 200-word doc: ~200 lambda
    steps vs ~40k; higher-order functions never enter codegen, so this is
    pure interpreted-eval savings -- measured x19 1.35s -> ~0.4s at
    sf0.1).  Value-identical to the frequency form: the longest run of
    equal words in the sorted array IS the max frequency count, so the
    DuckDB twin keeps its original form."""
    return (
        f"aggregate(array_sort({words}), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
        "(acc, x) -> named_struct("
        " 'prev', x, "
        " 'run', IF(x <=> acc.prev, acc.run + 1, 1L), "
        " 'best', greatest(acc.best, IF(x <=> acc.prev, acc.run + 1, 1L))), "
        "acc -> acc.best)"
    )


def gopher_signals(col: str = "text", words: str | None = None) -> list[Column]:
    """Per-document quality signals: word count, mean word length,
    symbol-to-word ratio, unique-word fraction, max single-word frequency
    fraction.  All double-typed, deterministic, codegen-friendly.

    ``words`` overrides the token-array expression with an
    already-staged column reference: the default inlines the split into
    every signal, and interpreted lambdas re-evaluate subexpressions per
    element -- x19's un-staged plan carried SEVENTEEN ``split(`` nodes
    (5 signals x inlined split, then gopher_pass recomputing them all).
    Hot paths stage the split once (the x69/with_repetition_signals
    pattern) and derive the pass flag from the computed signal COLUMNS."""
    words = words or _w(col)
    n_words = f"size({words})"
    mean_wl = (
        f"aggregate({words}, 0L, (a, x) -> a + length(x)) / "
        f"CAST(greatest({n_words}, 1) AS DOUBLE)"
    )
    n_sym = _n_sym_expr(col)
    uniq_frac = (
        f"size(array_distinct({words})) / CAST(greatest({n_words}, 1) AS DOUBLE)"
    )
    top_word_frac = (
        f"{_top_count_expr(words)} / CAST(greatest({n_words}, 1) AS DOUBLE)"
    )
    return [
        F.expr(n_words).cast("long").alias("n_words"),
        F.expr(mean_wl).alias("mean_word_len"),
        F.expr(f"{n_sym} / CAST(greatest({n_words}, 1) AS DOUBLE)").alias(
            "symbol_word_ratio"
        ),
        F.expr(uniq_frac).alias("unique_word_frac"),
        F.expr(top_word_frac).alias("top_word_frac"),
    ]


#: Gopher-style keep/drop thresholds (shared by the standalone predicate
#: and the staged x19 flag so they can never drift apart).
_GOPHER_LIMITS = {
    "min_words": 5,
    "max_words": 100_000,
    "min_mwl": 2.0,
    "max_mwl": 12.0,
    "max_sym": 0.3,
    "max_top": 0.2,
}


def _gopher_rule(n_words, mean_wl, sym, top) -> Column:
    L = _GOPHER_LIMITS
    return (
        (n_words >= L["min_words"])
        & (n_words <= L["max_words"])
        & (mean_wl >= L["min_mwl"])
        & (mean_wl <= L["max_mwl"])
        & (sym <= L["max_sym"])
        & (top <= L["max_top"])
    ).alias("gopher_pass")


def gopher_pass(col: str = "text") -> Column:
    """Gopher-style keep/drop decision from the signals: sane word count,
    word lengths in a human range, low symbol noise, not dominated by one
    repeated token.  Standalone predicate form (for WHERE gates); when
    the signals are already selected as columns, build the flag from
    them via :func:`_gopher_rule` instead of recomputing (x19)."""
    n_words, mean_wl, sym, uniq, top = gopher_signals(col)
    return _gopher_rule(n_words, mean_wl, sym, top)


_DUCK_NW = "len({dw})"


def _duck_signals(col: str = "text") -> dict[str, str]:
    dw = _dw(col)
    n_words = f"len({dw})"
    gn = f"greatest({n_words}, 1)::DOUBLE"
    mean_wl = (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform({dw}, x -> length(x)::BIGINT)), (a, x) -> a + x) / {gn}"
    )
    n_sym = rf"len(regexp_extract_all({col}, '[^A-Za-z0-9\s]'))"
    uniq_frac = f"len(list_distinct({dw})) / {gn}"
    top_word_frac = (
        f"list_max(list_transform(list_distinct({dw}), "
        f"w -> len(list_filter({dw}, x -> x = w)))) / {gn}"
    )
    return {
        "n_words": f"{n_words}::BIGINT",
        "mean_word_len": mean_wl,
        "symbol_word_ratio": f"{n_sym} / {gn}",
        "unique_word_frac": uniq_frac,
        "top_word_frac": top_word_frac,
    }


def _gopher_mass_exprs(col: str, toks: str) -> list[Column]:
    """The five INTEGER masses the gopher signals reduce to: word count,
    summed word length, symbol count, distinct-word count, max
    single-word frequency.  NULL text yields NULL masses (explicit IS
    NULL arms where ``size()`` would return the legacy -1), so both
    backends agree on NULL rows by construction."""
    null_arm = f"IF({col} IS NULL, CAST(NULL AS BIGINT), "
    return [
        F.expr(f"{null_arm}size({toks}))").alias("nw"),
        F.expr(f"aggregate({toks}, 0L, (a, x) -> a + length(x))").alias(
            "swl"
        ),
        F.expr(_n_sym_expr(col)).cast("long").alias("nsym"),
        F.expr(f"{null_arm}size(array_distinct({toks})))").alias("nuniq"),
        F.expr(_top_count_expr(toks)).alias("topc"),
    ]


def _gopher_masses_udf():
    """Arrow-batched pandas UDF: text -> the same five integer masses.
    Tokenization and symbol class mirror the SQL exactly (Java-regex
    ASCII ``\\s``, SQL ``trim`` strips spaces only -- the proven
    _rep_masses_udf recipe); NULL text -> nullable-Int64 nulls."""
    import re
    from collections import Counter

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    sym = re.compile(r"[^A-Za-z0-9 \t\n\x0b\f\r]")

    def masses(text):
        if text is None:
            return [None] * 5
        toks = ws.split(text.lower().strip(" "))
        c = Counter(toks)
        return [
            len(toks),
            sum(map(len, toks)),
            len(sym.findall(text)),
            len(c),
            max(c.values()),
        ]

    def gopher_masses(s):
        return pd.DataFrame(
            [masses(v) for v in s],
            columns=["nw", "swl", "nsym", "nuniq", "topc"],
        ).astype("Int64")

    return pandas_udf(
        gopher_masses,
        "struct<nw: long, swl: long, nsym: long, nuniq: long, topc: long>",
    )


#: Total corpus characters above which the Arrow-batched mass backend
#: beats the staged JVM expressions for the GOPHER signals.  Unlike the
#: repetition family (four n-gram Counters per doc -- Python loses on
#: short docs), the gopher Python work per doc is one split + one
#: Counter + one C-speed regex scan, so pandas wins at EVERY measured
#: doc length once the corpus amortizes the fixed Arrow/worker overhead:
#: measured expr-vs-pandas 0.19/0.24 s at 150k chars, 0.49/0.31 s at
#: 1.5M, 7.7/4.2 s at 150M (500k SF10 docs).  The probe is one
#: sum(length) aggregate -- negligible next to the signal pass.
GOPHER_PANDAS_CUTOVER_TOTAL_CHARS = 500_000


def with_gopher_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    backend: str = "auto",
) -> DataFrame:
    """``(id, n_words, mean_word_len, symbol_word_ratio,
    unique_word_frac, top_word_frac, gopher_pass)`` -- the Gopher quality
    signals and keep/drop flag, computed from five integer masses that
    both backends produce identically; the fraction / flag arithmetic is
    the SAME Spark expression either way, so backends are bit-identical
    by construction (the x69 pattern).

    * ``"expr"`` -- staged JVM expressions: one split, masses in one
      projection, fractions + flag derived from the mass COLUMNS.
      Right for small corpora (no Python worker round-trip).
    * ``"pandas"`` -- Arrow-batched masses (one tokenize + Counter per
      doc, C-speed regex); five int64s per row cross the boundary.
      ~2x the expr throughput at every measured doc length.
    * ``"auto"`` -- one sum(length) probe picks the side of
      :data:`GOPHER_PANDAS_CUTOVER_TOTAL_CHARS`.

    NULL text yields NULL signals and a NULL ``gopher_pass`` in both
    backends (the r8 repetition-family NULL unification, applied here).
    """
    if backend == "auto":
        total = _probe_scan_stat(
            df, F.sum(F.length(text_col)), "sum_len"
        )
        backend = (
            "pandas"
            if total > GOPHER_PANDAS_CUTOVER_TOTAL_CHARS
            else "expr"
        )
    if backend == "pandas":
        m = df.select(
            F.col(id_col), _gopher_masses_udf()(F.col(text_col)).alias("m")
        ).select(id_col, "m.*")
    elif backend == "expr":
        toks = "__gq_toks"
        staged = df.withColumn(toks, F.expr(_w(text_col)))
        m = staged.select(id_col, *_gopher_mass_exprs(text_col, toks))
    else:
        raise ValueError(f"unknown gopher backend: {backend!r}")
    g = F.greatest(F.col("nw"), F.lit(1)).cast("double")
    sigs = m.select(
        id_col,
        F.col("nw").cast("long").alias("n_words"),
        (F.col("swl") / g).alias("mean_word_len"),
        (F.col("nsym") / g).alias("symbol_word_ratio"),
        (F.col("nuniq") / g).alias("unique_word_frac"),
        (F.col("topc") / g).alias("top_word_frac"),
    )
    return sigs.withColumn(
        "gopher_pass",
        _gopher_rule(
            F.col("n_words"),
            F.col("mean_word_len"),
            F.col("symbol_word_ratio"),
            F.col("top_word_frac"),
        ),
    )


@register(
    "x19_gopher_quality",
    "SELECT doc_id, "
    + ", ".join(f"{e} AS {n}" for n, e in _duck_signals().items())
    + ", ("
    + " AND ".join(
        [
            f"{_duck_signals()['n_words']} >= 5",
            f"{_duck_signals()['n_words']} <= 100000",
            f"{_duck_signals()['mean_word_len']} >= 2.0",
            f"{_duck_signals()['mean_word_len']} <= 12.0",
            f"{_duck_signals()['symbol_word_ratio']} <= 0.3",
            f"{_duck_signals()['top_word_frac']} <= 0.2",
        ]
    )
    + ") AS gopher_pass FROM documents",
    "Gopher-style per-doc quality signals + keep/drop rule",
)
def x19_gopher(spark, sf_dir) -> DataFrame:
    # Mass-staged dual-backend form (r9): both backends reduce to the
    # same five integer masses; auto picks pandas past 500k total chars
    # (SF10 measured 19.7 s -> ~4.5 s).  The r7 staging lesson carries
    # over: ONE split, flag derived from computed columns, plan pinned
    # in test_plans.
    return with_gopher_signals(spread(t(spark, sf_dir, "documents")))


@register(
    "x20_corpus_stats",
    "SELECT lang, COUNT(*) AS n_docs, "
    "CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
    "COUNT(DISTINCT source) AS n_sources, "
    + DSUM("length(trim(text)) - length(replace(trim(text), ' ', '')) + 1")
    + " AS total_tokens_approx "
    "FROM documents GROUP BY lang",
    "per-language corpus rollup: docs, chars, sources, token mass",
)
def x20_corpus_stats(spark, sf_dir) -> DataFrame:
    d = spread(t(spark, sf_dir, "documents"))
    tok = (
        F.length(F.trim("text"))
        - F.length(F.replace(F.trim(F.col("text")), F.lit(" "), F.lit("")))
        + 1
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("source").alias("n_sources"),
        dsum(tok.cast("double"), "total_tokens_approx"),
    )


@register(
    "x21_word_freq_topk",
    "SELECT w, COUNT(*) AS c FROM ("
    f" SELECT unnest({_dw()}) AS w FROM documents) "
    "WHERE w <> '' GROUP BY w ORDER BY c DESC, w LIMIT 50",
    "corpus vocabulary: top-50 word frequencies (partial-agg wordcount)",
)
def x21_word_freq(spark, sf_dir) -> DataFrame:
    d = spread(t(spark, sf_dir, "documents"))
    return (
        d.select(F.explode(F.expr(_w())).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(50)
    )


def tfidf_top_terms(
    df: DataFrame, k: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-level TF-IDF term ranking: total term frequency, document
    frequency, and ``tf * ln(N / df)`` score for the top ``k`` terms.

    One explode + one partial-aggregated shuffle keyed by term (shuffle
    volume bounded by distinct words per task, like x21's wordcount); the
    1-row corpus count broadcasts.  Scores round to 6dp so the two
    engines' last-ulp ``ln`` differences cannot flip the hash (same
    treatment as the cosine operators)."""
    words = _w(text_col)
    n_docs = df.agg(F.count(F.lit(1)).alias("n"))
    stats = (
        spread(df.select(F.col(id_col), F.explode(F.expr(words)).alias("w")))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct(id_col).alias("df"),
        )
    )
    score = F.round(
        F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
    )
    return (
        stats.crossJoin(F.broadcast(n_docs))
        .select("w", "tf", "df", score.alias("tfidf"))
        .orderBy(F.col("tfidf").desc(), "w")
        .limit(k)
    )


@register(
    "x33_tfidf_top_terms",
    "WITH tok AS (SELECT doc_id, unnest("
    + _dw()
    + ") AS w FROM documents), "
    "stats AS (SELECT w, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df "
    " FROM tok WHERE w <> '' GROUP BY w), "
    "n AS (SELECT COUNT(*)::DOUBLE AS n FROM documents) "
    "SELECT w, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, "
    " round(tf * ln(n / df), 6) AS tfidf "
    "FROM stats CROSS JOIN n ORDER BY tfidf DESC, w LIMIT 50",
    "corpus TF-IDF term ranking: tf * ln(N/df), top-50 (rare-but-frequent "
    "terms; boilerplate scores ~0)",
)
def x33_tfidf(spark, sf_dir) -> DataFrame:
    out = tfidf_top_terms(t(spark, sf_dir, "documents"), k=50)
    return out.select(
        "w",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        "tfidf",
    )


def token_commonness(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-doc mean corpus-frequency of its tokens -- the integer-exact
    core of perplexity-proxy filtering (docs of rare/garbled tokens score
    low, template/boilerplate docs score high).

    Dataflow: explode tokens -> vocabulary counts (shuffle 1, partial-
    aggregated) -> join counts back to tokens (shuffle 2; at 100 TB the
    vocabulary is Zipf-bounded and usually broadcastable -- AQE picks) ->
    per-doc aggregate (shuffle 3).  All arithmetic is exact BIGINT sums
    with ONE double division per doc, so Spark and DuckDB agree
    bit-for-bit; a log-prob variant was rejected because ln() may differ
    in the last ulp between the JVM and libm, breaking hash parity.
    """
    tok = df.select(
        F.col(id_col), F.explode(F.expr(_w(text_col))).alias("w")
    ).where(F.length("w") > 0)
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    per_doc = (
        tok.join(vocab, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("c").alias("c_sum"),
        )
    )
    return per_doc.select(
        id_col,
        "n_tok",
        (F.col("c_sum").cast("double") / F.col("n_tok")).alias(
            "mean_token_df"
        ),
    )


@register(
    "x39_token_commonness",
    "WITH tok AS (SELECT doc_id, unnest("
    + _dw("text")
    + ") AS w FROM documents), "
    "tok2 AS (SELECT doc_id, w FROM tok WHERE length(w) > 0), "
    "vocab AS (SELECT w, COUNT(*) AS c FROM tok2 GROUP BY w) "
    "SELECT doc_id, COUNT(*) AS n_tok, "
    " CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mean_token_df "
    "FROM tok2 JOIN vocab USING (w) GROUP BY doc_id",
    "per-doc mean corpus token frequency (integer-exact perplexity-proxy "
    "quality signal; rare-token docs score low)",
)
def x39_token_commonness(spark, sf_dir) -> DataFrame:
    return token_commonness(t(spark, sf_dir, "documents"))


def oov_stats(
    df: DataFrame,
    vocab_size: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Out-of-vocabulary scoring against a truncated corpus vocabulary:
    the top ``vocab_size`` tokens by (count desc, token) become the vocab;
    each document reports its token count, OOV token count, and the mean
    corpus frequency of its IN-vocab tokens (exact BIGINT sums, one double
    division -- the x39 parity discipline).

    This is the scale-cheap sibling of x39's full-vocabulary join-back.
    x39 shuffles every token three times (vocab agg, join back, per-doc
    agg).  Here the vocabulary is *truncated and broadcast*: one shuffle
    builds token counts, TakeOrdered keeps the top V, ONE map row
    (map_from_entries) broadcasts to every task, and per-doc scoring is a
    map-side fold over the token array -- the corpus is never exploded
    into a join.  At 100 TB a 1M-entry vocab map is a few tens of MB
    broadcast once, vs re-shuffling ~100 TB of exploded tokens; rare-tail
    tokens deliberately degrade to OOV, which is exactly the signal
    (garbled/foreign text scores high n_oov).
    """
    words = _w(text_col)
    tok = df.select(F.explode(F.expr(words)).alias("w")).where(
        F.length("w") > 0
    )
    top = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(vocab_size)
    )
    vmap = top.agg(
        F.expr("map_from_entries(array_agg(struct(w, c)))").alias("vm")
    )
    toks = f"filter({words}, x -> length(x) > 0)"
    return (
        df.crossJoin(F.broadcast(vmap))
        .select(
            F.col(id_col),
            F.expr(f"CAST(size({toks}) AS BIGINT)").alias("n_tok"),
            F.expr(
                f"CAST(size(filter({toks}, x -> element_at(vm, x) IS NULL))"
                " AS BIGINT)"
            ).alias("n_oov"),
            F.expr(
                f"aggregate({toks}, 0L,"
                " (a, x) -> a + coalesce(element_at(vm, x), 0L))"
            ).alias("invocab_c_sum"),
        )
        .withColumn(
            "mean_invocab_df",
            F.col("invocab_c_sum").cast("double")
            / F.nullif(F.col("n_tok") - F.col("n_oov"), F.lit(0)),
        )
    )


@register(
    "x56_oov_rate",
    "WITH tok AS (SELECT doc_id, unnest("
    + _dw("text")
    + ") AS w FROM documents), "
    "tok2 AS (SELECT doc_id, w FROM tok WHERE length(w) > 0), "
    "vocab AS (SELECT w, COUNT(*) AS c FROM tok2 GROUP BY w), "
    "topv AS (SELECT w, c FROM (SELECT w, c,"
    "  row_number() OVER (ORDER BY c DESC, w) AS rn FROM vocab) t"
    "  WHERE rn <= 16) "
    "SELECT d.doc_id, COUNT(t.w) AS n_tok, "
    " COUNT(*) FILTER (t.w IS NOT NULL AND topv.c IS NULL) AS n_oov, "
    " CAST(COALESCE(SUM(topv.c), 0) AS BIGINT) AS invocab_c_sum, "
    " CAST(COALESCE(SUM(topv.c), 0) AS DOUBLE) /"
    "  NULLIF(COUNT(t.w) - COUNT(*) FILTER (t.w IS NOT NULL"
    "   AND topv.c IS NULL), 0) AS mean_invocab_df "
    "FROM documents d LEFT JOIN tok2 t ON d.doc_id = t.doc_id"
    " LEFT JOIN topv ON t.w = topv.w "
    "GROUP BY d.doc_id",
    "OOV-rate quality scoring against a truncated broadcast vocabulary "
    "(top-16 tokens): one token-count shuffle, then pure map-side scoring "
    "-- no exploded-token join-back at any scale",
)
def x56_oov(spark, sf_dir) -> DataFrame:
    # spread: per-doc tokenize + broadcast-map scoring is map-side-heavy
    # on a single-row-group scan (the x19/x69 pattern)
    return oov_stats(spread(t(spark, sf_dir, "documents")), vocab_size=16)


#: source_quality_norm's quantized score relation.
_ZQ = PersistSlot()


def source_quality_norm(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source z-normalization of the document quality score: each
    document's score is re-expressed in units of its OWN feed's
    distribution.  A global quality threshold silently biases the corpus
    toward whichever feeds happen to score high (clean encyclopedias
    survive, transcripts die) -- normalizing per source first makes one
    threshold mean the same thing everywhere, which is how a balanced
    corpus actually gates.

    Parity discipline: the score is quantized to an exact integer
    (round(q * 1e6)), the per-source moments are exact BIGINT sums of it,
    and mean/variance/z are the SAME scalar double expression on both
    engines over those identical integers -- no order-dependent float
    aggregation anywhere.  Zero-variance sources z to 0.

    Scale: one skinny aggregate keyed by source (low cardinality --
    AQE broadcasts it back), one map-side join; the text is read once.
    BIGINT bound: sum(q^2) <= 1e12 * rows_per_source -- fine to ~9e6
    docs per source; widen the quantization down to 1e4 beyond that.

    The quantized (id, source, q) relation feeds BOTH the moments
    aggregate and the join side, and AQE never reuses exchanges across
    the two -- un-persisted, the text is scanned and scored twice (at
    100 TB a second full corpus pass vs ~20 bytes/doc of fixed-width
    cache).  The persist is released at the next call's start.
    """
    from .text import quality_score

    _ZQ.evict()
    d = _ZQ.hold(df.select(
        F.col(id_col),
        F.col(source_col),
        F.round(quality_score(text_col) * F.lit(1_000_000.0))
        .cast("long")
        .alias("q"),
    ))
    s = d.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    var = F.col("s2").cast("double") / F.col("n").cast("double") - mean * mean
    z = F.when(var <= 0, F.lit(0.0)).otherwise(
        (F.col("q").cast("double") - mean) / F.sqrt(var)
    )
    return d.join(s, source_col).select(
        id_col,
        source_col,
        F.round(F.col("q") / F.lit(1_000_000.0), 6).alias("q_score"),
        F.round(z, 6).alias("z_quality"),
    )


def _duck_zq() -> str:
    from .text import _duck_quality

    return (
        "WITH d AS (SELECT doc_id, source, "
        f"CAST(round(({_duck_quality()}) * 1000000) AS BIGINT) AS q"
        "  FROM documents), "
        "s AS (SELECT source, COUNT(*) AS n, SUM(q) AS s1, SUM(q*q) AS s2"
        "  FROM d GROUP BY source) "
        "SELECT doc_id, d.source, round(q / 1000000.0, 6) AS q_score, "
        " round(CASE WHEN (s2::DOUBLE / n - (s1::DOUBLE / n) * (s1::DOUBLE / n)) <= 0 "
        "  THEN 0.0 ELSE (q::DOUBLE - s1::DOUBLE / n) / "
        "  sqrt(s2::DOUBLE / n - (s1::DOUBLE / n) * (s1::DOUBLE / n)) END, 6)"
        "  AS z_quality "
        "FROM d JOIN s USING (source)"
    )


@register(
    "x63_source_quality_norm",
    _duck_zq(),
    "per-source z-normalized quality: quantized-integer moments per feed, "
    "identical scalar double arithmetic on both engines -- one global "
    "threshold then means the same thing in every feed",
)
def x63_zq(spark, sf_dir) -> DataFrame:
    return source_quality_norm(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Gopher repetition signals (Rae et al. 2021, Table A1's repetition family)
# ---------------------------------------------------------------------------


def _raw_grams(toks: str, n: int) -> str:
    """Spark SQL array of ALL word ``n``-grams (duplicates KEPT -- the
    repetition signals need occurrence counts, unlike the dedup shingles
    which are distinct sets).  ``toks`` is a token-array SQL expression;
    pass a MATERIALIZED column reference in hot paths -- interpreted
    lambdas re-evaluate their subexpressions per element, so an inline
    ``split()`` here costs O(w) re-splits per document (measured 7x on
    the full signal set: 10.6 s -> 1.5 s over 5000 docs at sf0.1).

    Documents shorter than ``n`` tokens have NO n-grams: the array is
    empty and their repetition mass is 0.  (The r6 form emitted one
    TRUNCATED gram -- the whole token list -- so a 1-2 word doc scored
    top2_gram_char_frac ~ 1.0 and was unconditionally flagged; Gopher's
    repetition thresholds only apply to n-grams that exist.)  The IF
    guard matters: Spark's ``sequence(1, 0)`` is the DESCENDING [1, 0],
    not empty.

    A NULL token array (NULL text) yields NULL, NOT an empty array: the
    explicit IS NULL arm makes null-propagation independent of the
    ``spark.sql.legacy.sizeOfNull`` setting (under the legacy -1 the bare
    ``size() < n`` guard silently mapped NULL docs to mass 0 / pass=true;
    the pandas backend now mirrors this NULL semantic)."""
    return (
        f"IF({toks} IS NULL, CAST(NULL AS ARRAY<STRING>), "
        f"IF(size({toks}) < {n}, array(), "
        f"transform(sequence(1, size({toks})-{n - 1}), "
        f"i -> array_join(slice({toks}, i, {n}), ' '))))"
    )


def _duck_raw_grams(col: str, n: int) -> str:
    # range(1, x) is empty for x <= 1 in DuckDB, so short docs get an
    # empty gram list here without an explicit guard (mirrors _raw_grams).
    toks = rf"regexp_split_to_array(trim(lower({col})), '\s+')"
    return (
        f"list_transform(range(1, greatest(len({toks})-{n - 1}, 0) + 1), "
        f"i -> array_to_string(({toks})[i:i+{n - 1}], ' '))"
    )


def _top_gram_char_expr(toks: str, n: int) -> str:
    """max over n-grams of count*len(gram) -- the character mass of the
    most repeated n-gram.  Sorted-run scan, O(w log w) per doc (the same
    interpreted-eval-friendly trick as gopher_signals' top_count; the
    run counter peaks exactly at each run's end, so taking the running
    max of run*len(x) at every step is exact)."""
    return (
        f"aggregate(array_sort({_raw_grams(toks, n)}), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
        "(acc, x) -> named_struct("
        " 'prev', x, "
        " 'run', IF(x <=> acc.prev, acc.run + 1, 1L), "
        " 'best', greatest(acc.best, "
        "   IF(x <=> acc.prev, acc.run + 1, 1L) * length(x))), "
        "acc -> acc.best)"
    )


def _dup_gram_char_expr(toks: str, n: int) -> str:
    """sum over n-grams occurring more than once of count*len(gram) --
    the character mass sitting in ANY repeated n-gram.  Each run's
    contribution is flushed when the run ends (or at finish)."""
    return (
        f"aggregate(array_sort({_raw_grams(toks, n)}), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'acc', 0L), "
        "(acc, x) -> named_struct("
        " 'prev', x, "
        " 'run', IF(x <=> acc.prev, acc.run + 1, 1L), "
        " 'acc', acc.acc + IF(x <=> acc.prev, 0L, "
        "   IF(acc.run > 1, acc.run * length(acc.prev), 0L))), "
        "acc -> acc.acc + IF(acc.run > 1, acc.run * length(acc.prev), 0L))"
    )


#: Gopher Table A1 thresholds for the signals computed here
_REP_LIMITS = {"top2": 0.20, "top3": 0.18, "top4": 0.16, "dup5": 0.15}


#: Mean text length (chars) above which the Arrow-batched mass backend
#: beats the interpreted-lambda expressions.  The lambdas cost O(w log w)
#: interpreted steps PER DOCUMENT and never enter whole-stage codegen --
#: the exact shape that measured 54x slower than pandas at L~2000 in
#: stringsim before its gram_backend landed.  Crossover measured on this
#: box: ~54-word (~380-char) docs expr wins; 2000-word docs pandas wins
#: >5x.  1200 chars (~170 words) splits the measured gap conservatively.
REP_PANDAS_CUTOVER_CHARS = 1200


def _rep_masses_udf():
    """Arrow-batched pandas UDF: text -> struct of the four integer gram
    MASSES (top-{2,3,4}-gram and dup-5-gram character mass).  Only the
    masses cross the Python boundary; the fraction, rounding, and flag
    stay Spark-side expressions shared with the expr backend, so both
    backends are bit-identical by construction.

    Tokenization mirrors the SQL ``split(trim(lower(text)), '\\s+')``
    exactly: lowercase, strip ASCII spaces only (SQL trim), split on the
    Java-regex ``\\s`` class (ASCII whitespace -- Python's ``\\s`` also
    matches unicode spaces, which would diverge).

    NULL text yields NULL masses (nullable Int64 -> Arrow null), matching
    the expr backend where ``split(NULL)`` propagates: both backends then
    produce NULL fracs and a NULL ``repetition_pass`` for NULL documents,
    so ``backend="auto"``'s corpus-dependent choice can never flip a NULL
    row between kept and flagged."""
    import re
    from collections import Counter

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def masses(text: str):
        if text is None:
            return [None] * 4
        toks = ws.split(text.lower().strip(" "))
        out = []
        for n, kind in ((2, "top"), (3, "top"), (4, "top"), (5, "dup")):
            if len(toks) < n:
                out.append(0)
                continue
            counts = Counter(
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            )
            if kind == "top":
                out.append(max(c * len(g) for g, c in counts.items()))
            else:
                out.append(
                    sum(c * len(g) for g, c in counts.items() if c > 1)
                )
        return out

    def rep_masses(s):
        return pd.DataFrame(
            [masses(v) for v in s], columns=["m2", "m3", "m4", "m5"]
        ).astype("Int64")  # nullable: None rows survive to Arrow as null

    # Non-decorator form (no type hints): the module-wide `from __future__
    # import annotations` stringifies hints and pyspark's inference cannot
    # resolve a function-local `pd` -- same pattern as types.py.
    return pandas_udf(
        rep_masses, "struct<m2: long, m3: long, m4: long, m5: long>"
    )


def with_repetition_signals(
    df: DataFrame, text_col: str = "text", backend: str = "auto"
) -> DataFrame:
    """Append per-document repetition signals in the Gopher style: the
    fraction of the document's characters sitting in its most frequent
    {2,3,4}-gram (``count * len(gram) / len(doc)`` -- the standard
    approximation; the numerator counts every occurrence) and in ALL
    5-grams that occur more than once, plus the Table-A1 keep/drop flag.
    Documents shorter than ``n`` words carry mass 0 for that ``n`` (no
    n-gram exists; truncated grams were the r6 bug).  NULL text yields
    NULL signals and a NULL ``repetition_pass`` in BOTH backends (SQL
    null-propagation semantics; callers filtering on the flag drop NULL
    rows either way, and the choice ``auto`` makes can never flip a NULL
    document's fate).

    100 TB shape: pure per-row work -- ZERO shuffle; the signals
    materialize in the scan stage of whatever pipeline consumes them.
    Two backends behind ``backend`` (same contract as stringsim's
    gram_backend):

    * ``"expr"`` -- JVM SQL-lambda aggregation.  The token split is
      staged into its own projection so all four gram lambdas reference
      a cheap column instead of re-splitting per element (10.6 s ->
      1.5 s at sf0.1; CollapseProject declines to duplicate the
      non-cheap split, verified one ``split(`` in the optimized plan --
      pinned in test_plans).  Per-doc cost is O(w log w) INTERPRETED
      steps: right for short-document corpora.
    * ``"pandas"`` -- Arrow-batched mass computation (Counter per doc,
      O(w)); only four int64s per row cross the Python boundary and the
      frac/round/flag arithmetic stays in the shared Spark expressions,
      so results are identical.  Wins >5x on multi-thousand-word docs.
    * ``"auto"`` (default) -- one column-pruned avg(length) probe over
      ``df`` picks the side of :data:`REP_PANDAS_CUTOVER_CHARS`.
    """
    if backend == "auto":
        mean_len = _probe_scan_stat(
            df, F.avg(F.length(text_col)), "avg_len"
        )
        backend = (
            "pandas" if mean_len > REP_PANDAS_CUTOVER_CHARS else "expr"
        )
    tl = f"CAST(greatest(length({text_col}), 1) AS DOUBLE)"
    names = (
        "top2_gram_char_frac",
        "top3_gram_char_frac",
        "top4_gram_char_frac",
        "dup5_gram_char_frac",
    )
    if backend == "pandas":
        staged = df.withColumn("__rep_m", _rep_masses_udf()(F.col(text_col)))
        mass_exprs = [f"__rep_m.m{n}" for n in (2, 3, 4, 5)]
    elif backend == "expr":
        toks = "__rep_toks"
        staged = df.withColumn(
            toks, F.expr(rf"split(trim(lower({text_col})), '\\s+')")
        )
        mass_exprs = [
            _top_gram_char_expr(toks, 2),
            _top_gram_char_expr(toks, 3),
            _top_gram_char_expr(toks, 4),
            _dup_gram_char_expr(toks, 5),
        ]
    else:
        raise ValueError(f"unknown backend {backend!r}")
    cols = [
        F.expr(f"round({m} / {tl}, 6)").alias(name)
        for name, m in zip(names, mass_exprs)
    ]
    # The flag derives from the computed signal COLUMNS in a second
    # projection -- referencing the expression objects would evaluate
    # every gram-mass lambda TWICE per row (8 aggregate( nodes instead of
    # 4 in the optimized plan; the x19 double-evaluation bug, plan-pinned
    # in test_plans).
    sigs = staged.select(*df.columns, *cols)
    passed = (
        (F.col(names[0]) <= _REP_LIMITS["top2"])
        & (F.col(names[1]) <= _REP_LIMITS["top3"])
        & (F.col(names[2]) <= _REP_LIMITS["top4"])
        & (F.col(names[3]) <= _REP_LIMITS["dup5"])
    ).alias("repetition_pass")
    return sigs.select(*df.columns, *names, passed)


def _duck_rep_cte(col: str, n: int, kind: str) -> str:
    """One per-``n`` CTE pair: explode raw grams, group per (doc, gram),
    then take max(cnt*len) (``kind='top'``) or the cnt>1 sum (``'dup'``)."""
    agg = (
        "max(cnt * glen)" if kind == "top"
        else "COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt * glen END), 0)"
    )
    return (
        f"g{n} AS (SELECT doc_id, unnest({_duck_raw_grams(col, n)}) AS g "
        f"  FROM documents), "
        f"c{n} AS (SELECT doc_id, g, count(*) AS cnt, "
        f"  length(any_value(g)) AS glen FROM g{n} GROUP BY doc_id, g), "
        f"a{n} AS (SELECT doc_id, {agg} AS mass FROM c{n} GROUP BY doc_id)"
    )


_X69_ORACLE = (
    "WITH "
    + ", ".join(
        _duck_rep_cte("text", n, kind)
        for n, kind in ((2, "top"), (3, "top"), (4, "top"), (5, "dup"))
    )
    + ", tl AS (SELECT doc_id, greatest(length(text), 1)::DOUBLE AS tl"
    "   FROM documents) "
    # LEFT joins + COALESCE: a doc shorter than n words has NO rows in
    # a{n} (its gram list is empty) and must surface with mass 0, exactly
    # as the Spark aggregate over an empty array returns its init.
    "SELECT tl.doc_id, "
    " round(COALESCE(a2.mass, 0) / tl, 6) AS top2_gram_char_frac, "
    " round(COALESCE(a3.mass, 0) / tl, 6) AS top3_gram_char_frac, "
    " round(COALESCE(a4.mass, 0) / tl, 6) AS top4_gram_char_frac, "
    " round(COALESCE(a5.mass, 0) / tl, 6) AS dup5_gram_char_frac, "
    " (round(COALESCE(a2.mass, 0) / tl, 6) <= 0.20 "
    "  AND round(COALESCE(a3.mass, 0) / tl, 6) <= 0.18 "
    "  AND round(COALESCE(a4.mass, 0) / tl, 6) <= 0.16 "
    "  AND round(COALESCE(a5.mass, 0) / tl, 6) <= 0.15) AS repetition_pass "
    "FROM tl LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id) "
    " LEFT JOIN a4 USING (doc_id) LEFT JOIN a5 USING (doc_id)"
)


@register(
    "x69_gopher_repetition",
    _X69_ORACLE,
    "Gopher repetition family: top-{2,3,4}-gram and duplicated-5-gram "
    "character fractions + Table-A1 keep/drop flag; pure map-side "
    "expressions, zero shuffle",
)
def x69_repetition(spark, sf_dir) -> DataFrame:
    # spread: the gram-mass lambdas are the heaviest per-row expressions
    # in the registry, and a single-row-group scan would run them on one
    # core (measured 1.67 s single-task at sf0.1; ~0.3 s spread) -- the
    # x19 precedent, no-op once the input is wider than the cluster
    return with_repetition_signals(
        spread(t(spark, sf_dir, "documents").select("doc_id", "text"))
    ).drop("text")
