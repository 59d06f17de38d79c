"""String similarity join under edit distance, Spark-first.

Literature context: string-similarity search/join over filtered indexes
is its own line of work (ICDE 2022, PAPERS.md).  The family's shape is
always signature -> equi-join -> verify; this module implements the
deletion-neighborhood (symmetric-delete) scheme for distance 1:

  edit(a, b) <= 1  <=>  del1(a) and del1(b) intersect,

where ``del1(s)`` is s itself plus every single-character deletion of s.
That makes candidate generation a pure EQUI-join on signature strings --
L+1 skinny rows per string, no theta-join, no cartesian -- followed by an
exact ``levenshtein() <= 1`` verification of the candidate pairs (both
engines implement classic Levenshtein, so the oracle can verify with the
same function).

For threshold d >= 2 the deletion neighborhood grows O(L^d), so the
module switches schemes to q-gram PREFIX filtering (the ED-Join family,
Xiao/Wang/Lin VLDB'08; Gravano et al. VLDB'01 for the count bound):
one edit destroys at most q of a string's L-q+1 positional q-grams, so
strings within distance d share all but q*d grams -- and by the classic
prefix-filtering principle (in its j=2 generalization), their q*d+2
globally-RAREST grams must share at least TWO members.  Candidate
generation is again a pure equi-join, on PAIRS of (gram,
occurrence-index) labels from each string's q*d+2 rarest grams, plus a
length band |len_a - len_b| <= d; an exact levenshtein verify closes
the loop.  Occurrence-index labeling keeps the guarantee exact for
strings with repeated grams ("0000" holds "00" three times; the k-th
occurrences pair up), proven by the brute-force-model tests in
tests/test_stringsim.py; pair keys keep candidate counts tracking the
true answer instead of the square of a hot gram's cohort.

Scale notes (100 TB): signatures are fixed small multiples of string
length and shuffle as (signature-hash, id) pairs; the verify join
re-attaches the two strings by id.  Popular signatures (shared prefixes
across a column of templated strings) concentrate candidates exactly
like LSH band buckets -- the same diagnosis applies (bucket-size audit),
and for higher thresholds the deletion neighborhood grows O(L^d); past
d=1 switch to q-gram count filtering, which trades signature volume for
a post-join count bound.  The oracle keeps the quadratic all-pairs
levenshtein join as the semantic contract.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.skew import spread
from ..queries import register, t
from ..session import PersistSlot

#: _qgram_candidates' prefix-label relation, and edit_distance_join's d=1
#: deletion-neighborhood signatures: separate slots, so a d=1 and a d>=2
#: join in one session don't thrash each other's cache.
_PREFIX = PersistSlot()
_DEL1 = PersistSlot()


def _del1_signatures_expr(col: str) -> str:
    """Spark SQL array: ``col`` plus every single-character deletion."""
    return (
        f"transform(sequence(0, length({col})), j -> "
        f"CASE WHEN j = 0 THEN {col} "
        f"ELSE concat(substring({col}, 1, j - 1), "
        f"substring({col}, j + 1, length({col}))) END)"
    )


def edit_distance_join(
    df: DataFrame,
    string_col: str,
    id_col: str,
    threshold: int = 1,
    sig_count_cap: int | None = None,
) -> DataFrame:
    """``(id_a, id_b, dist)`` for all pairs with edit distance <=
    ``threshold`` (currently 1: the deletion-neighborhood property this
    blocking relies on is exact for d=1).

    ``sig_count_cap`` is the skew valve: a signature shared by c strings
    produces ~c^2/2 candidate pairs, so a templated column (serial-
    numbered names, boilerplate prefixes) concentrates quadratic work in
    a few buckets exactly like a hot LSH band.  With the cap set,
    signatures held by more than ``sig_count_cap`` strings are dropped
    BEFORE the self-join (one partial-aggregated count over the skinny
    signature relation -- the x07 document-frequency filter, same
    diagnosis, same medicine).  The trade is explicit: pairs related
    ONLY through a dropped signature are missed, so the default (None)
    stays exact; set the cap when a bucket audit shows cohort blowup,
    because a popular signature's cohort is precisely the part of the
    answer that is quadratically large no matter the algorithm.

    Thresholds >= 2 route to the q-gram prefix-filter scheme
    (:func:`edit_distance_join_qgram`) with ``gram_backend="auto"``,
    which runs one EAGER avg-length probe job at call time to pick the
    gram labeler (measured 54x cliff either side of the ~96-char
    crossover).  Batch-only: for streaming inputs, or to avoid the
    probe scan, call ``edit_distance_join_qgram`` directly with an
    explicit backend."""
    if threshold != 1:
        return edit_distance_join_qgram(
            df, string_col, id_col,
            threshold=threshold, sig_count_cap=sig_count_cap,
            gram_backend="auto",
        )
    # spread: the deletion-neighborhood transform is an interpreted
    # per-row lambda; a single-row-group scan would evaluate it (and the
    # broadcast build over the signature relation) on one core -- guide
    # 2.5 input-skew medicine, no-op when the scan is already wide
    df = spread(df)
    _DEL1.evict()
    sigs = _DEL1.hold(df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.expr(_del1_signatures_expr(string_col)))
        ).alias("sig"),
        # Both self-join sides replan this projection independently (AQE
        # never reuses exchanges across them -- the x07/x54 lesson), and
        # the deletion-neighborhood transform is an interpreted lambda
        # worth evaluating once.  Skinny relation: (id, signature).
    ), StorageLevel.MEMORY_AND_DISK_DESER)
    if sig_count_cap is not None:
        ok = (
            sigs.groupBy("sig")
            .agg(F.count(F.lit(1)).alias("__c"))
            .where(F.col("__c") <= sig_count_cap)
            .select("sig")
        )
        sigs = sigs.join(ok, "sig")
    a, b = sigs.alias("a"), sigs.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    s = df.select(F.col(id_col), F.col(string_col).alias("s"))
    sa, sb = s.alias("sa"), s.alias("sb")
    return (
        cands.join(sa, F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("id_b") == F.col(f"sb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("sa.s"), F.col("sb.s")).alias("dist"),
        )
        .where(F.col("dist") <= threshold)
    )


def _labeled_grams_expr(col: str, q: int) -> str:
    """Spark SQL array of (gram, occurrence-index) structs for ``col``'s
    positional q-grams.  The occurrence index k distinguishes repeated
    grams ("0000" holds "00" three times -> (00,1),(00,2),(00,3)), which
    is what keeps the prefix-filter guarantee exact on multisets: within
    d edits the k-th occurrences pair up content-wise.  Computed map-side
    (O(L^2) bounded substring compares per string, L = string length)
    instead of a row_number window so the gram relation shuffles ONCE
    (for the per-string prefix ranking), not twice."""
    n = f"(length({col}) - {q} + 1)"
    return (
        f"transform(sequence(1, {n}), i -> struct("
        f"substring({col}, i, {q}) AS g, "
        f"size(filter(sequence(1, i), j -> "
        f"substring({col}, j, {q}) = substring({col}, i, {q}))) AS k))"
    )


def _labeled_occurrences_pandas(
    long_s: DataFrame, q: int
) -> DataFrame:
    """``(id, len, g, k)`` labeled q-gram occurrences of the (id, s, len)
    relation -- value-identical to exploding :func:`_labeled_grams_expr`
    (the golden definition, pinned against this path by
    tests/test_stringsim.py) -- the ``gram_backend="pandas"`` alternative
    for LONG-string corpora:

    * the expr computes the occurrence index by re-scanning every earlier
      position -- O(L^2) substring compares per string, inside an
      interpreted (never codegen'd) higher-order lambda -- fine for short
      keys, quadratic pain for document-length strings;
    * this path is a per-string O(L) dict counter behind an Arrow-batched
      ``mapInPandas`` boundary (the ``hashed_shingles`` precedent).

    Measured trade, both directions: on the 30k-string customer-name
    corpus (L ~ 18) expr wins, 9.6-11.4 s vs 11.7-13.4 s end-to-end (the
    Arrow round trip outweighs 18^2 cheap compares); on the sf0.01
    documents corpus (L up to ~2000) the blocking stage alone is
    102.6 s expr vs 1.9 s pandas -- 54x, identical candidate sets.
    SHORT-string joins keep the expr default; pass
    ``gram_backend="pandas"`` for document-length strings.  Emitted
    map-side with no shuffle, exactly like the explode it replaces."""
    import pandas as pd

    def batches(it):
        for pdf in it:
            ids, lens, gs, ks = [], [], [], []
            for i, s, L in zip(pdf["id"], pdf["s"], pdf["len"]):
                seen: dict = {}
                for p in range(max(int(L) - q + 1, 0)):
                    g = s[p : p + q]
                    c = seen.get(g, 0) + 1
                    seen[g] = c
                    ids.append(i)
                    lens.append(L)
                    gs.append(g)
                    ks.append(c)
            yield pd.DataFrame(
                {"id": ids, "len": lens, "g": gs, "k": ks}
            )

    return long_s.mapInPandas(batches, "id long, len int, g string, k int")


#: Mean string length (chars) above which the Arrow-batched gram labeler
#: beats the JVM expression.  Endpoints measured end-to-end (docstring
#: above): L~18 expr wins ~1.2x; L~2000 pandas wins 54x.  Blocking-stage
#: sweep on 5000 synthetic strings (this box): L=32 ratio 0.98, L=64
#: 0.93, L=128 1.60, L=256 7.85 -- the crossover sits between 64 and 128
#: (expr's per-string cost is O(L^2) interpreted compares, pandas O(L) +
#: a flat Arrow toll), so 96 splits the measured bracket.
GRAM_PANDAS_CUTOVER_CHARS = 96


def _resolve_gram_backend(s: DataFrame) -> str:
    """Pick the gram labeler from the corpus's observed mean string
    length: one column-pruned avg over the already-projected (id, s, len)
    relation.  The probe costs one cheap scan-reduce job; choosing wrong
    costs up to 54x in the blocking stage (measured, both directions)."""
    mean_len = s.agg(F.avg("len")).first()[0] or 0.0
    return "pandas" if mean_len > GRAM_PANDAS_CUTOVER_CHARS else "expr"


def edit_distance_join_qgram(
    df: DataFrame,
    string_col: str,
    id_col: str,
    threshold: int = 2,
    q: int = 2,
    sig_count_cap: int | None = None,
    gram_backend: str = "expr",
) -> DataFrame:
    """``(id_a, id_b, dist)`` for all pairs with edit distance <=
    ``threshold``, via q-gram prefix filtering (ED-Join family): one
    edit destroys at most q of a string's L-q+1 positional q-grams, so
    strings within distance d share all but q*d (gram, occurrence-index)
    labels -- and by the prefix-filtering principle in its j=2
    generalization, their q*d+2 rarest labels (under a global frequency
    order) must share at least TWO members.  Candidate generation is an
    equi-join on the C(q*d+2, 2) PAIRS of prefix labels plus a
    |len_a - len_b| <= d band; exact ``levenshtein(a, b, threshold)``
    verifies.

    Strings with fewer than q*d+2 grams (length <= q*d+q) fall outside
    the two-shared-labels guarantee and route through a bounded
    length-banded pool instead: short x near-short is quadratic only in
    the count of sub-(q*d+q+d)-char strings, a corpus-constant-bounded
    set.

    No positional filter on the label join: with repeated grams the
    shared prefix label need not be the transcript-matched occurrence,
    so a |pos_a - pos_b| <= d prune can drop true pairs.  Exactness over
    the last 10% of pruning.

    Scale notes (100 TB): the gram relation is L skinny rows per string
    built map-side; the global frequency table is the q-gram vocabulary
    (<= |alphabet|^q, broadcast-sized); prefix selection is one
    per-string window (single shuffle on id); the label-pair join
    shuffles C(q*d+2, 2) rows per string (15 at d=2).  Pair keys are why
    cohorts stay small: a single hot rare gram no longer forms a cohort
    -- only strings sharing BOTH grams of a pair collide, so candidate
    counts track the true answer (measured across corpus scales in
    scale_bench.py).  Residual hot pair-keys get the same
    ``sig_count_cap`` valve as d=1 signatures, same trade (pairs related
    ONLY through a capped key are missed; default None stays exact).
    Identical templated strings share every label pair, but their cohort
    is genuinely part of the quadratic answer.

    ``gram_backend``: ``"expr"`` labels grams with the JVM-side SQL
    expression -- fastest for short keys (names, codes); ``"pandas"``
    swaps in the O(L) Arrow-batched labeler for document-length strings,
    where the expr's O(L^2) interpreted occurrence scan dominates (see
    :func:`_labeled_occurrences_pandas` for the measured trade).
    ``"auto"`` probes avg string length with one cheap column-pruned agg
    and picks the measured-crossover side.  NOTE: the probe is an EAGER
    Spark job at plan-construction time (one scan-reduce over the string
    column) and is unsupported on streaming DataFrames -- which is why
    ``"expr"`` is the default here; the high-level
    :func:`edit_distance_join` entry point opts into ``"auto"`` for
    batch callers, where the one-scan toll buys protection from the 54x
    wrong-side cliff."""
    s, cands = _qgram_candidates(
        df, string_col, id_col, threshold, q, sig_count_cap, gram_backend
    )
    d = threshold
    sa2, sb2 = s.alias("va"), s.alias("vb")
    return (
        cands.join(sa2, F.col("id_a") == F.col("va.id"))
        .join(sb2, F.col("id_b") == F.col("vb.id"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein(
                F.col("va.s"), F.col("vb.s"), threshold=d
            ).alias("dist"),
        )
        .where(F.col("dist") >= 0)  # bounded levenshtein: -1 means > d
    )


def _qgram_candidates(
    df: DataFrame,
    string_col: str,
    id_col: str,
    threshold: int,
    q: int,
    sig_count_cap: int | None,
    gram_backend: str = "expr",
):
    """Blocking stage of the q-gram scheme: returns ``(s, cands)`` where
    ``s`` is the normalized (id, s, len) relation and ``cands`` the
    DISTINCT (id_a, id_b) candidate pairs awaiting verification.  Split
    out so scale_bench.py can meter blocking precision (candidates vs
    verified) without a second pipeline."""
    # A persist slot, not an eager localCheckpoint: that self-releases on
    # GC but materializes the relation as a row-format RDD and blinds AQE
    # for the self-join (measured 1.7 s -> 4.2 s).
    _PREFIX.evict()
    if threshold < 1:
        raise ValueError("threshold must be >= 1")
    # spread: gram labeling (expr O(L^2) lambda or the pandas labeler)
    # is per-row-heavy; a single-row-group scan would run it on one core
    df = spread(df)
    d = threshold
    # PAIR-label prefixes: the single-label bound (q*d+1 rarest labels
    # share >= 1) puts every string holding one hot rare gram into one
    # cohort, and cohort sizes grow linearly with the corpus -- so
    # candidate pairs grow quadratically on templated data.  The
    # prefix-filtering generalization fixes the asymptotics: with
    # overlap >= t, prefixes of size |A|-t+2 share >= TWO labels (any
    # shared label <= both prefix maxima lies in both prefixes), so
    # strings within distance d share a PAIR of labels among their
    # q*d+2 rarest -- and a pair-key cohort is only the strings sharing
    # BOTH rare grams.  On the uniform serial-number corpus the two
    # schemes produce identical candidate sets (pairs sharing one digit
    # gram share two; measured 2,935,481 = 2,935,481 at sf0.1); the win
    # is on heterogeneous corpora, where a hot rare gram's cohort holds
    # unrelated strings that no second shared gram confirms.  Join-row
    # cost is C(q*d+2, 2) keys per string (15 at d=2) vs q*d+1 (5),
    # runtime measured equal.  Growth metered in scale_bench.py.
    pref_len = q * d + 2
    short_max = q * d + q  # fewer than pref_len grams at or below this
    from pyspark.sql import Window

    s = df.select(
        F.col(id_col).alias("id"), F.col(string_col).alias("s")
    ).withColumn("len", F.length("s"))

    if gram_backend == "auto":
        gram_backend = _resolve_gram_backend(s)
    long_s = s.where(F.col("len") > short_max)
    if gram_backend == "pandas":
        occ = _labeled_occurrences_pandas(long_s, q)
    else:
        occ = long_s.select(
            "id",
            "len",
            F.explode(F.expr(_labeled_grams_expr("s", q))).alias("gk"),
        ).select(
            "id", "len", F.col("gk.g").alias("g"), F.col("gk.k").alias("k")
        )
    freq = occ.groupBy("g").agg(F.count(F.lit(1)).alias("gf"))
    # gram vocabulary <= |alphabet|^q: broadcast so frequency attachment
    # stays map-side and the only gram-relation shuffle is the ranking
    labels = (
        occ.join(F.broadcast(freq), "g")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy("gf", "g", "k")
            ),
        )
        .where(F.col("rn") <= pref_len)
        .groupBy("id", "len")
        .agg(F.array_sort(F.collect_list(F.struct("g", "k"))).alias("ls"))
    )
    # all 2-subsets of the pref_len labels, built map-side (the lambda
    # runs once per string over a (q*d+2)-element array -- interpreted,
    # but bounded by d and q, not by data)
    prefix = _PREFIX.hold(labels.select(
        "id",
        "len",
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, size(ls) - 1), i -> "
                "transform(sequence(i + 1, size(ls)), j -> "
                "struct(element_at(ls, i) AS p1, element_at(ls, j) AS p2))))"
            )
        ).alias("pp"),
        # both self-join sides would replan the gram pipeline (AQE never
        # reuses exchanges across them -- the x07/x53 lesson)
    ), StorageLevel.MEMORY_AND_DISK_DESER)
    if sig_count_cap is not None:
        ok = (
            prefix.groupBy("pp")
            .agg(F.count(F.lit(1)).alias("__c"))
            .where(F.col("__c") <= sig_count_cap)
            .select("pp")
        )
        prefix = prefix.join(ok, ["pp"])
    a, b = prefix.alias("a"), prefix.alias("b")
    cands_long = (
        a.join(
            b,
            (F.col("a.pp") == F.col("b.pp"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= d),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    shorts = s.where(F.col("len") <= short_max)
    near = s.where(F.col("len") <= short_max + d)
    # |len_a - len_b| <= d as an EQUI-join: the short side explodes its
    # band into discrete length keys (2d+1 skinny rows per short string,
    # d and the pool both corpus-constant-bounded) so no nested-loop
    # operator ever enters the plan; distinct below absorbs the
    # one-pair-per-matching-key multiplicity.
    cands_short = (
        shorts.select(
            F.col("id"),
            F.explode(
                F.sequence(
                    F.greatest(F.col("len") - d, F.lit(0)),
                    F.col("len") + d,
                )
            ).alias("lb"),
        )
        .alias("sa")
        .join(near.alias("sb"), F.col("sa.lb") == F.col("sb.len"))
        .where(F.col("sa.id") != F.col("sb.id"))
        .select(
            F.least(F.col("sa.id"), F.col("sb.id")).alias("id_a"),
            F.greatest(F.col("sa.id"), F.col("sb.id")).alias("id_b"),
        )
    )
    cands = cands_long.unionByName(cands_short).distinct()
    return s, cands


@register(
    "x66_edit_distance_join_d2",
    "WITH c AS (SELECT c_custkey, c_name FROM customer"
    " WHERE c_mktsegment = 'BUILDING') "
    "SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, "
    " CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist "
    "FROM c a JOIN c b ON a.c_custkey < b.c_custkey "
    "WHERE levenshtein(a.c_name, b.c_name) <= 2",
    "string similarity join at edit distance 2: q-gram prefix-filter "
    "blocking (q*d+1 rarest (gram, occurrence) labels per name, ED-Join "
    "recipe) + bounded-levenshtein verify, vs the oracle's quadratic "
    "all-pairs join -- the d>=2 regime where the x53 deletion "
    "neighborhood would cost O(L^2) signatures per string.  Scoped to "
    "one market segment because serial-numbered template names make the "
    "TRUE d<=2 answer quadratic (4M pairs at sf0.1 unscoped) -- a "
    "result-size property of the test corpus, not of the algorithm",
)
def x66_edit_join_d2(spark, sf_dir) -> DataFrame:
    c = t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    # Explicit expr backend: customer names are ~18 chars, far below the
    # 96-char pandas crossover, so the "auto" probe's eager avg-length
    # job would buy information this entry already has (guide 1.2: don't
    # pay a measurement for a known input).
    return edit_distance_join_qgram(
        c, "c_name", "c_custkey", threshold=2, gram_backend="expr"
    )


@register(
    "x53_edit_distance_join",
    "SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, "
    " CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist "
    "FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey "
    "WHERE levenshtein(a.c_name, b.c_name) <= 1",
    "string similarity join: customer-name pairs within edit distance 1 "
    "via deletion-neighborhood equi-join blocking + exact levenshtein "
    "verify, vs the oracle's quadratic all-pairs join",
)
def x53_edit_join(spark, sf_dir) -> DataFrame:
    return edit_distance_join(
        t(spark, sf_dir, "customer"), "c_name", "c_custkey"
    )
