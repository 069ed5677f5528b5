"""Text-analysis operators for large-scale training-data pipelines.

All hot paths are native Column expressions (split / regexp / hashing in
the JVM, whole-stage codegen) — no Python UDFs. Each operator has a
DuckDB-expressible form used by the driver's oracle checks
(__spark_entry__.py), so semantics are pinned cross-engine.

Operators: token counting (whitespace + BPE-ish regex), quality scoring
(length / punctuation / stopword ratios), language-ID (stopword-hit
heuristic), document fingerprinting (content hash + positional sample).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# tiny per-language stopword sets for the n-gram/stopword heuristic —
# deterministic and cross-engine (plain LIKE/IN arithmetic, no model).
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "des"],
    "zh": ["的", "是", "了", "在", "和"],
}

WORD_RE = r"[A-Za-z0-9]+"  # BPE-ish word pieces: alnum runs


def words_col(text="text"):
    """Whitespace tokenization (split on single spaces)."""
    return F.split(text, " ")


def token_count(text="text"):
    """Whitespace token count — JVM-side."""
    return F.size(words_col(text))


def regex_token_count(text="text"):
    """BPE-ish token count: number of alnum runs (regexp_count)."""
    return F.regexp_count(text, F.lit(WORD_RE))


def quality_score(text="text", n_chars=None):
    """Cheap quality heuristic in [0, 1]: mean word length band +
    alpha-ratio. Deterministic arithmetic, expressible in ANSI SQL."""
    n_chars = n_chars if n_chars is not None else F.length(text)
    n_words = token_count(text)
    mean_wl = n_chars.cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    # words of typical natural-language length (3..12 chars) score high
    band = F.when((mean_wl >= 3) & (mean_wl <= 12), F.lit(1.0)).otherwise(
        F.lit(1.0) / (F.lit(1.0) + F.abs(mean_wl - 7.5))
    )
    alpha_ratio = (
        F.regexp_count(text, F.lit(r"[A-Za-z ]")).cast("double")
        / F.greatest(F.length(text), F.lit(1)).cast("double")
    )
    return F.round((band + alpha_ratio) / 2.0, 4)


def stopword_hits(text, lang):
    """Number of the language's stopwords PRESENT at least once
    (word-boundary contains) — distinct-stopword count, not total
    occurrences."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    out = F.lit(0)
    for w in STOPWORDS[lang]:
        out = out + F.when(padded.contains(" {0} ".format(w)), 1).otherwise(0)
    return out


def lang_id(text="text"):
    """Heuristic language ID: language with the most distinct stopword
    hits; ties and zero-hit rows resolve to 'und'. Pure CASE/LIKE
    arithmetic — runs in codegen and ports to the SQL oracle."""
    hit_cols = {lang: stopword_hits(text, lang) for lang in sorted(STOPWORDS)}
    best = None
    for lang, hits in hit_cols.items():
        best = hits if best is None else F.greatest(best, hits)
    expr = F.lit("und")
    # first language (sorted) reaching the max wins — deterministic tie-break
    for lang in sorted(STOPWORDS, reverse=True):
        expr = F.when(
            (hit_cols[lang] > 0) & (hit_cols[lang] == best), F.lit(lang)
        ).otherwise(expr)
    return expr


def fingerprint(text="text"):
    """Deterministic 128-bit content fingerprint (md5 hex).

    A content-defined rolling hash would add chunk-level dedup; for
    document identity the full-content hash is the cross-engine-portable
    form (md5 available in Spark and DuckDB).
    """
    return F.md5(text)


def normalize_text(
    text="text",
    lowercase: bool = True,
    strip_punct: bool = True,
    collapse_ws: bool = True,
    strip_digits: bool = False,
):
    """Canonicalize text for normalization-tolerant exact dedup — the
    standard pre-hash step (CCNet / C4 style: near-identical pages
    differing only in case, punctuation, or whitespace hash to the same
    key). Returns a Column; compose with ``dedup.exact_duplicates(df,
    text_col=normalize_text())`` or any hash-keyed operator.

    Steps (each optional): lowercase → strip punctuation (keep letters,
    digits unless ``strip_digits``, and whitespace) → collapse
    whitespace runs to one space → trim. Character classes are written
    in the RE2∩Java subset (explicit ``[ \\t\\n\\r\\f]`` whitespace —
    Java's ``\\s`` includes U+000B, RE2's does not), so the DuckDB
    oracle reproduces the canonical form byte-for-byte.

    Scale shape: pure Column expression — MAP-ONLY, stays inside
    whole-stage codegen, zero Exchange.
    """
    ws = " \\t\\n\\r\\f"
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    if strip_punct:
        keep = r"\p{L}" + ("" if strip_digits else r"\p{N}")
        c = F.regexp_replace(c, "[^" + keep + ws + "]", "")
    elif strip_digits:
        c = F.regexp_replace(c, r"\p{N}", "")
    if collapse_ws:
        c = F.trim(F.regexp_replace(c, "[" + ws + "]+", " "))
    return c


def winnow_fingerprints(text="text", k=5, window=4):
    """Winnowing-style robust fingerprints: minimum shingle-hash per
    sliding window over k-word shingles (Schleimer et al., SIGMOD 2003
    style — public algorithm). Returns array<string> of selected hashes."""
    from .dedup import shingles_col

    sh = shingles_col(text, k)
    # null text shingles to [null] (split(null) under legacy sizeOfNull);
    # drop null hashes so the window never selects a null fingerprint
    hashes = F.filter(
        F.transform(sh, lambda s: F.md5(s)), lambda h: h.isNotNull()
    )
    n = F.size(hashes)
    idx = F.sequence(F.lit(1), F.greatest(n - window + 1, F.lit(1)))
    windowed = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.array_min(F.slice(hashes, i, window)),
        )
    )
    # a text too short to yield any shingle must fingerprint to [] —
    # without the guard, slice-of-empty makes array_min null and the
    # result is [null]
    return F.when(n >= 1, windowed).otherwise(
        F.array().cast("array<string>")
    )


def text_profile(df: DataFrame, text_col="text", group_col="source") -> DataFrame:
    """Per-group text-quality profile in one aggregation pass."""
    t = F.col(text_col)
    return (
        df.withColumn("_words", token_count(t))
        .withColumn("_q", quality_score(t))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("_words"), 4).alias("avg_words"),
            F.round(F.avg(F.length(t)), 4).alias("avg_chars"),
            F.round(F.avg("_q"), 4).alias("avg_quality"),
        )
    )


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-document n-gram repetition profile (Gopher-style quality
    filter, Rae et al. 2021 §A1.1 — public): highly repetitive documents
    are low-quality training data.

    Returns one row per doc: ``n_ngrams`` (total n-gram occurrences,
    duplicates counted), ``top_ngram_frac`` (occurrences of the modal
    n-gram / total) and ``dup_ngram_frac`` (fraction of occurrences
    whose n-gram appears >= 2x in the doc). Docs too short for one
    n-gram get (1, 1.0, 0.0) from the degenerate whole-text shingle.

    Scale shape: explode fans out ~n_words rows per doc, but the first
    consumer is groupBy(doc, ngram) — map-side partial aggregation
    collapses repeats before the (doc_id, ngram)-hash exchange; the
    second groupBy(doc_id) reuses hash partitioning on a prefix-subset
    key (one more exchange, rows already ~distinct n-grams per doc).
    """
    words = F.split(F.col(text_col), " ")
    nn = F.size(words)
    idx = F.sequence(F.lit(1), F.greatest(nn - (n - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(words, i, n), " "))
    per_gram = (
        # null text yields grams=[null] whose null element SURVIVES
        # explode and would profile as a legit one-gram doc; absent text
        # has no repetition profile — drop those docs entirely
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per_gram.groupBy("doc_id").agg(
        F.sum("c").alias("n_ngrams"),
        F.round(F.max("c") / F.sum("c"), 4).alias("top_ngram_frac"),
        F.round(
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0)))
            / F.sum("c"),
            4,
        ).alias("dup_ngram_frac"),
    )


def token_run_stats(
    df: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id",
    passthrough: tuple = (),
) -> DataFrame:
    """Per-sequence repeated-token run statistics — the tokenized twin
    of the repetition filter: a pretokenized sequence whose longest run
    of one token id is huge (whitespace floods, degenerate loops) is a
    training-data defect no schema check catches.

    Returns (id, n_tokens, n_distinct_tokens, max_run, max_run_frac)
    where max_run is the longest run of equal consecutive token ids.

    Scale shape: MAP-ONLY. One ``F.aggregate`` pass per row inside
    whole-stage codegen — no explode, no exchange, no Python. At 10^12
    sequences this is the difference between a scan-speed pass and a
    shuffle of 10^15 exploded tokens.
    """
    toks = F.col(tokens_col)
    # the accumulator's prev field must carry the array's OWN element
    # type: pinning it to int makes array<bigint> (Python ints infer to
    # bigint) fail analysis when the merge lambda returns a bigint prev
    elem_type = df.select(toks).schema[0].dataType.elementType
    zero = F.struct(
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit(None).cast(elem_type).alias("prev"),
    )
    acc = F.aggregate(
        toks,
        zero,
        lambda a, t: F.struct(
            F.when(t.eqNullSafe(a["prev"]), a["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                a["best"],
                F.when(t.eqNullSafe(a["prev"]), a["run"] + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
            t.alias("prev"),
        ),
    )
    n = F.size(toks)
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        n.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        acc["best"].alias("max_run"),
        F.when(n > 0, F.round(acc["best"] / n, 4))
        .otherwise(F.lit(None).cast("double"))
        .alias("max_run_frac"),
    )


# above this size, a literal map in the plan would build millions of
# expression nodes; the model rides a one-row broadcast instead
LM_LITERAL_MAX_ENTRIES = 10_000

# dense-integer vocabularies (BPE ids 0..~50k/~250k) ride a positional
# ARRAY carrier instead of a map: element_at on an array is O(1) while
# a map lookup scans entries. Ceiling bounds the broadcast at 32 MB of
# longs; the density guard refuses id spaces sparser than 4x the vocab
# (a sparse array would broadcast mostly nulls for no win).
LM_ARRAY_CARRIER_MAX_ID = 1 << 22


def unigram_model(
    df: DataFrame, tokens_col: str = "tokens", scale_bits: int = 20
) -> DataFrame:
    """Corpus unigram LM as FIXED-POINT log-probs: (token, lp_fixed)
    with ``lp_fixed = floor(log2(c/T) * 2^scale_bits)`` as bigint.

    Fixed-point is the determinism trick that makes LM scoring both
    scale-correct and oracle-exact: per-document scores sum *integers*,
    so the sum is associative — Spark can partially aggregate map-side
    in any order and still match a single-threaded oracle bit-for-bit.
    Summing raw double log-probs would tie the result to reduction
    order. At 2^-20 granularity the quantization error is < 1e-6 bits
    per token — far below any filtering threshold.

    Scale shape: explode + one vocab-bounded groupBy (the exchange
    carries |vocab| rows after map-side combine, not corpus rows).
    """
    s = float(1 << scale_bits)
    # null elements are not a vocabulary entry (scoring drops them too,
    # and a null map key is unrepresentable in the literal-map carrier)
    counts = (
        df.select(F.explode(F.col(tokens_col)).alias("token"))
        .where(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = counts.agg(F.sum("c").alias("_T"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "token",
        F.floor((F.log2("c") - F.log2("_T")) * F.lit(s))
        .cast("long")
        .alias("lp_fixed"),
    )


def _lm_carrier(df: DataFrame, model: DataFrame):
    """Collect a vocab-bounded (token, lp_fixed) model ONCE and attach
    the fastest lookup carrier to ``df``: a positional literal array
    (dense integer ids — O(1) ``element_at`` in codegen, the BPE fast
    path), a one-row broadcast array (dense but too big to inline), a
    literal map (small sparse vocab), or a one-row broadcast map (large
    sparse vocab — slowest, lookups scan entries). Shared by every
    map-only unigram scorer so the carrier-selection logic lives once.

    Returns ``(df', lp_of)`` where ``lp_of(t)`` is a Column of the
    token's lp_fixed (null = OOV); ``lp_of`` is None when the model has
    no non-null tokens (everything is OOV — callers take their empty
    path). Null-token model rows are dropped: a null key is
    unrepresentable in the carriers and semantically OOV anyway."""
    rows = [r for r in model.collect() if r["token"] is not None]
    out = df
    if not rows:
        return df, None
    from pyspark.sql import types as _T

    tok_type = model.select("token").schema[0].dataType
    int_ids = isinstance(
        tok_type, (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType)
    )
    lo = hi = None
    if int_ids:
        ids = [int(r["token"]) for r in rows]
        lo, hi = min(ids), max(ids)
    if (
        int_ids
        and lo >= 0
        and hi < LM_ARRAY_CARRIER_MAX_ID
        and (hi + 1) <= max(4 * len(rows), 65536)
    ):
        # dense-id fast path: positional array, O(1) lookup in codegen.
        # try_element_at wraps NEGATIVE indices (counts from the end),
        # so out-of-vocab negative ids must be guarded to null = OOV.
        vals = [None] * (hi + 1)
        for r in rows:
            vals[int(r["token"])] = int(r["lp_fixed"])
        if hi + 1 <= LM_LITERAL_MAX_ENTRIES:
            # literal array: zero Exchange, whole plan stays map-only
            lp_arr = F.array(
                *[F.lit(v).cast("long") for v in vals]
            )
        else:
            spark = df.sparkSession
            one = spark.createDataFrame([(vals,)], "_lpa array<bigint>")
            out = out.crossJoin(F.broadcast(one))
            lp_arr = F.col("_lpa")

        def _lp_of(t):
            return F.when(t >= 0, F.try_element_at(lp_arr, t + F.lit(1)))

    else:
        if len(rows) <= LM_LITERAL_MAX_ENTRIES:
            args = []
            for r in rows:
                args.append(F.lit(r["token"]))
                args.append(F.lit(int(r["lp_fixed"])))
            lp_map = F.create_map(*args)
        else:
            spark = df.sparkSession
            elem_type = tok_type.simpleString()
            one = spark.createDataFrame(
                [({r["token"]: int(r["lp_fixed"]) for r in rows},)],
                "_lpm map<{0},bigint>".format(elem_type),
            )
            out = out.crossJoin(F.broadcast(one))
            lp_map = F.col("_lpm")

        def _lp_of(t):
            return F.try_element_at(lp_map, t)

    return out, _lp_of


def unigram_logloss(
    df: DataFrame,
    model: DataFrame | None = None,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    scale_bits: int = 20,
    passthrough: tuple = (),
) -> DataFrame:
    """Per-sequence unigram cross-entropy (bits/token) against a
    broadcast LM — the CCNet-style LM quality filter: sequences whose
    tokens are improbable under the corpus (or a clean reference)
    model are extraction garbage; improbably LOW logloss is boilerplate.

    ``model`` is a (token, lp_fixed) frame from :func:`unigram_model`
    (defaults to a model of ``df`` itself). Returns
    (id, n_tokens, n_oov, bits_per_token); tokens absent from the model
    are counted in ``n_oov`` and skipped, null elements are dropped,
    empty/null arrays yield null bits_per_token.

    Scale shape: the model is vocab-bounded — collected once and
    carried as a positional array (dense integer ids: O(1) element_at,
    the BPE-vocab fast path), a literal map (small vocab), or a one-row
    broadcast map (large non-dense vocab — map lookups scan entries,
    the slowest carrier), then scoring is MAP-ONLY: one ``F.aggregate``
    pass per row sums bigint fixed-point log-probs inside codegen; no
    explode, no exchange, no Python on the corpus side.
    """
    if model is None:
        model = unigram_model(df, tokens_col, scale_bits)
    out, _lp_of = _lm_carrier(df, model)
    if _lp_of is None:
        # empty model: every token is OOV, nothing is scorable
        n0 = F.size(
            F.filter(F.col(tokens_col), lambda t: t.isNotNull())
        ).cast("long")
        return df.select(
            F.col(id_col),
            *[F.col(c) for c in passthrough],
            n0.alias("n_tokens"),
            n0.alias("n_oov"),
            F.lit(None).cast("double").alias("bits_per_token"),
        )

    toks = F.filter(F.col(tokens_col), lambda t: t.isNotNull())
    zero = F.struct(
        F.lit(0).cast("long").alias("s"),
        F.lit(0).cast("long").alias("k"),
    )

    def _merge(a, t):
        lp = _lp_of(t)
        return F.struct(
            F.when(lp.isNull(), a["s"]).otherwise(a["s"] + lp).alias("s"),
            F.when(lp.isNull(), a["k"]).otherwise(a["k"] + 1).alias("k"),
        )

    acc = F.aggregate(toks, zero, _merge)
    n = F.size(toks).cast("long")
    k = acc["k"]
    return out.select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        n.alias("n_tokens"),
        (n - k).alias("n_oov"),
        F.when(
            k > 0,
            F.round(
                (-(acc["s"].cast("double")) / F.lit(float(1 << scale_bits)))
                / k,
                4,
            ),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("bits_per_token"),
    )


def unigram_surprisal_profile(
    df: DataFrame,
    model: DataFrame | None = None,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    scale_bits: int = 20,
    passthrough: tuple = (),
) -> DataFrame:
    """Per-sequence surprisal SHAPE under the unigram LM — mean, std
    and max of token-level surprisal (bits). :func:`unigram_logloss`
    reports only the mean, which a document can pass while being half
    boilerplate (near-zero bits) stitched to half garbage (huge bits):
    exactly the concatenation artifact extraction pipelines produce.
    High ``bits_std`` at a normal mean is that signature; ``bits_max``
    is the single most improbable token — a cheap mojibake/ID-blob
    pointer.

    Same contract as unigram_logloss: ``model`` defaults to a model of
    ``df`` itself, OOV tokens are skipped (counted in ``n_oov``), null
    elements dropped, unscorable docs yield null bits columns. Returns
    (id, n_tokens, n_oov, bits_mean, bits_std, bits_max); bits_mean
    equals unigram_logloss's bits_per_token by construction.

    Scale shape: identical to unigram_logloss — the model rides the
    shared :func:`_lm_carrier` (positional array / literal map /
    broadcast row) and scoring is MAP-ONLY, one ``F.aggregate`` fold
    per row. The extra moment is a DECIMAL(38,0) sum of squared
    fixed-point log-probs (lp² ~ 2^(2·(scale_bits+5)) can overflow a
    bigint on a 10^12-token corpus × 10^4-token doc; decimal keeps the
    integer exact, and its one cast to double at the end rounds the
    same way a SQL HUGEINT does). Variance math runs in doubles only
    AFTER the exact integer sums are closed, in a pinned operation
    order, so a SQL oracle reproduces every bit.
    """
    if model is None:
        model = unigram_model(df, tokens_col, scale_bits)
    out, _lp_of = _lm_carrier(df, model)
    toks = F.filter(F.col(tokens_col), lambda t: t.isNotNull())
    n = F.size(toks).cast("long")
    if _lp_of is None:
        return df.select(
            F.col(id_col),
            *[F.col(c) for c in passthrough],
            n.alias("n_tokens"),
            n.alias("n_oov"),
            F.lit(None).cast("double").alias("bits_mean"),
            F.lit(None).cast("double").alias("bits_std"),
            F.lit(None).cast("double").alias("bits_max"),
        )
    zero = F.struct(
        F.lit(0).cast("long").alias("s"),
        F.lit(0).cast("decimal(38,0)").alias("ss"),
        F.lit(0).cast("long").alias("k"),
        F.lit(None).cast("long").alias("mn"),
    )

    def _merge(a, t):
        lp = _lp_of(t)
        lp_d = lp.cast("decimal(38,0)")
        return F.struct(
            F.when(lp.isNull(), a["s"]).otherwise(a["s"] + lp).alias("s"),
            F.when(lp.isNull(), a["ss"])
            .otherwise((a["ss"] + lp_d * lp_d).cast("decimal(38,0)"))
            .alias("ss"),
            F.when(lp.isNull(), a["k"]).otherwise(a["k"] + 1).alias("k"),
            F.when(lp.isNull(), a["mn"])
            .otherwise(F.least(F.coalesce(a["mn"], lp), lp))
            .alias("mn"),
        )

    acc = F.aggregate(toks, zero, _merge)
    k = acc["k"]
    s = F.lit(float(1 << scale_bits))
    sd = acc["s"].cast("double")
    ssd = acc["ss"].cast("double")
    var_fixed = F.greatest(
        ssd / k - (sd / k) * (sd / k), F.lit(0.0)
    )
    return out.select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        n.alias("n_tokens"),
        (n - k).alias("n_oov"),
        F.when(k > 0, F.round((-sd / s) / k, 4))
        .otherwise(F.lit(None).cast("double"))
        .alias("bits_mean"),
        F.when(k > 0, F.round(F.sqrt(var_fixed) / s, 4))
        .otherwise(F.lit(None).cast("double"))
        .alias("bits_std"),
        F.when(k > 0, F.round(-(acc["mn"].cast("double")) / s, 4))
        .otherwise(F.lit(None).cast("double"))
        .alias("bits_max"),
    )


def surprisal_spans(
    df: DataFrame,
    model: DataFrame | None = None,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    min_bits: float = 8.0,
    min_len: int = 5,
    oov_high: bool = True,
    scale_bits: int = 20,
) -> DataFrame:
    """WHERE the garbage is: maximal runs of >= ``min_len`` consecutive
    tokens whose unigram surprisal reaches ``min_bits`` —
    :func:`unigram_surprisal_profile` says a document CONTAINS an
    improbable stretch, this returns its coordinates, in the same
    0-based ``[span_start, span_end)`` convention as
    :func:`dedup.duplicate_spans`, so ``dedup.scrub_token_spans`` cuts
    these spans unchanged (flag -> locate -> cut, the ExactSubstr
    pipeline shape applied to LM quality).

    ``oov_high`` (default) treats unscorable tokens (OOV under the
    model, or null elements) as high-surprisal: an unknown token inside
    a garbage run should extend the run, not split it. The threshold
    compares IN FIXED POINT: a token is flagged iff its lp_fixed <=
    floor(-min_bits * 2^scale_bits) — an integer comparison both
    engines evaluate identically, no double threshold at row scope.

    Returns one row per span: (id, span_start, span_end, span_len,
    n_scored, mean_bits) — ``n_scored`` counts model-scored tokens in
    the span (mean_bits is over those; null when the span is all-OOV).

    Scale shape: scoring rides the shared :func:`_lm_carrier`
    (map-only); run detection is an in-row ``F.aggregate`` fold over
    the per-token lp array (gaps-and-islands without a window — no
    per-doc sort, no exchange); the only fan-out is the final explode
    of per-doc span lists, bounded by n_tok / min_len per doc.
    """
    if min_len < 1:
        raise ValueError("min_len must be >= 1, got %r" % (min_len,))
    if model is None:
        model = unigram_model(df, tokens_col, scale_bits)
    out, _lp_of = _lm_carrier(df, model)
    thr = math.floor(-float(min_bits) * (1 << scale_bits))
    span_t = "array<struct<s:int,e:int,k:bigint,sm:bigint>>"
    if _lp_of is None:
        if not oov_high:
            # nothing can ever be flagged
            return df.select(
                F.col(id_col),
                F.lit(None).cast("int").alias("span_start"),
                F.lit(None).cast("int").alias("span_end"),
                F.lit(None).cast("int").alias("span_len"),
                F.lit(None).cast("long").alias("n_scored"),
                F.lit(None).cast("double").alias("mean_bits"),
            ).where(F.lit(False))
        _lp_of = lambda t: F.lit(None).cast("long")  # noqa: E731
    lps = F.transform(F.col(tokens_col), _lp_of)

    def _flag(v):
        if oov_high:
            return v.isNull() | (v <= F.lit(thr))
        return v.isNotNull() & (v <= F.lit(thr))

    zero = F.struct(
        F.array().cast(span_t).alias("spans"),
        F.lit(None).cast("int").alias("cs"),
        F.lit(0).cast("long").alias("ck"),
        F.lit(0).cast("long").alias("cm"),
        F.lit(0).cast("int").alias("i"),
    )

    def _close(acc):
        """Append the open run if it is long enough (span end = acc.i)."""
        keep = acc["cs"].isNotNull() & (
            (acc["i"] - acc["cs"]) >= F.lit(int(min_len))
        )
        st = F.struct(
            acc["cs"].alias("s"), acc["i"].alias("e"),
            acc["ck"].alias("k"), acc["cm"].alias("sm"),
        )
        return F.when(
            keep, F.concat(acc["spans"], F.array(st))
        ).otherwise(acc["spans"])

    def _merge(acc, v):
        return F.when(
            _flag(v),
            F.struct(
                acc["spans"].alias("spans"),
                F.coalesce(acc["cs"], acc["i"]).alias("cs"),
                (acc["ck"] + F.when(v.isNotNull(), 1).otherwise(0))
                .alias("ck"),
                (acc["cm"] + F.coalesce(v, F.lit(0))).alias("cm"),
                (acc["i"] + 1).alias("i"),
            ),
        ).otherwise(
            F.struct(
                _close(acc).alias("spans"),
                F.lit(None).cast("int").alias("cs"),
                F.lit(0).cast("long").alias("ck"),
                F.lit(0).cast("long").alias("cm"),
                (acc["i"] + 1).alias("i"),
            )
        )

    spans = F.aggregate(lps, zero, _merge, _close)
    s = float(1 << scale_bits)
    return (
        out.select(F.col(id_col), F.explode(spans).alias("_sp"))
        .select(
            F.col(id_col),
            F.col("_sp.s").alias("span_start"),
            F.col("_sp.e").alias("span_end"),
            (F.col("_sp.e") - F.col("_sp.s")).alias("span_len"),
            F.col("_sp.k").alias("n_scored"),
            F.when(
                F.col("_sp.k") > 0,
                F.round(
                    (-(F.col("_sp.sm").cast("double")) / F.lit(s))
                    / F.col("_sp.k"),
                    4,
                ),
            ).alias("mean_bits"),
        )
    )


def _adjacent_pairs(tokens_col):
    """(t1, t2) structs for every adjacent pair of the null-filtered
    token array. Filtering nulls FIRST means adjacency is over the
    surviving tokens (a null between two tokens does not break the
    pair) — the same drop-nulls reading unigram scoring uses."""
    toks = F.filter(F.col(tokens_col), lambda t: t.isNotNull())
    n = F.size(toks)
    # CASE branches evaluate lazily per row, so sequence(1, n-1) never
    # runs for n < 2 (where it would throw) and ANSI element_at only
    # sees in-bounds ordinals; null/short arrays yield an empty list
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(toks, i).alias("t1"),
            F.element_at(toks, i + 1).alias("t2"),
        ),
    )


def bigram_model(
    df: DataFrame, tokens_col: str = "tokens", scale_bits: int = 20
) -> DataFrame:
    """Corpus bigram LM as fixed-point CONDITIONAL log-probs:
    (t1, t2, lp_fixed) with ``lp_fixed = floor(log2(c(t1,t2) /
    c(t1,·)) * 2^scale_bits)`` as bigint — the n=2 KenLM-style step up
    from :func:`unigram_model`, catching word-salad documents whose
    unigram distribution looks fine.

    Unlike the unigram model, the bigram vocabulary is corpus-sized
    (up to one entry per distinct adjacent pair), so the model STAYS a
    DataFrame — never collected to the driver, never broadcast by
    construction; :func:`bigram_logloss` scores with a join and AQE
    downgrades it to broadcast when the model happens to be small.

    Scale shape: one explode + one (t1, t2) groupBy; the context
    totals c(t1,·) re-aggregate the pair counts (|bigrams| rows, NOT a
    second corpus pass)."""
    s = float(1 << scale_bits)
    p = (
        df.select(F.explode(_adjacent_pairs(tokens_col)).alias("p"))
        .select(F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
    )
    counts = p.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("_c"))
    ctx = counts.groupBy("t1").agg(F.sum("_c").alias("_ct"))
    return counts.join(ctx, "t1").select(
        "t1",
        "t2",
        F.floor((F.log2("_c") - F.log2("_ct")) * F.lit(s))
        .cast("long")
        .alias("lp_fixed"),
    )


def bigram_logloss(
    df: DataFrame,
    model: DataFrame | None = None,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    scale_bits: int = 20,
) -> DataFrame:
    """Per-sequence bigram cross-entropy (bits/pair) against a bigram
    LM — the n=2 fluency filter: scores how predictable each adjacent
    pair is given its left context. Returns (id, n_pairs, n_oov_pairs,
    bits_per_pair); pairs absent from the model count as OOV and are
    skipped, documents with fewer than 2 non-null tokens yield null
    bits_per_pair. One output row per DISTINCT id (the join+groupBy
    shape merges duplicate ids — the north-star table keys docs
    uniquely; unigram_logloss, a pure projection, keeps duplicates as
    separate rows). When passing a prebuilt ``model``, its
    ``scale_bits`` must match this call's (both default 20) — the
    fixed-point divisor is not discoverable from the frame.

    Scale shape, honestly: the model is corpus-sized so scoring is
    JOIN-based, not broadcast-carried. Exploded (id, t1, t2) pairs are
    pre-aggregated to (id, pair, count) BEFORE the model join — the
    join input shrinks by the per-doc repeat factor at zero semantic
    cost (fixed-point sums are associative: sum over occurrences ==
    sum over distinct pairs of count x lp). The pre-agg rides the SAME
    (t1, t2) exchange the join needs: repartition on the pair key
    satisfies both the (id, t1, t2) grouping (subset co-location) and
    the join's distribution, so the exchange count stays at the
    intrinsic three (pairs, model side, id groupBy) while the id
    groupBy now carries deduplicated rows."""
    if model is None:
        model = bigram_model(df, tokens_col, scale_bits)
    pe = df.select(
        F.col(id_col),
        F.explode_outer(_adjacent_pairs(tokens_col)).alias("p"),
    ).select(
        F.col(id_col),
        F.col("p.t1").alias("_a1"),
        F.col("p.t2").alias("_a2"),
    )
    pre = (
        pe.repartition("_a1", "_a2")
        .groupBy(id_col, "_a1", "_a2")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    joined = pre.join(
        model,
        on=[pre["_a1"] == model["t1"], pre["_a2"] == model["t2"]],
        how="left",
    )
    # pair tokens are non-null by construction (nulls filtered before
    # pairing), so _a1 IS NOT NULL marks real pairs; explode_outer's
    # null row for pair-less docs contributes zero to every sum
    agg = joined.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("_a1").isNotNull(), F.col("_n")).otherwise(F.lit(0))
        ).alias("n_pairs"),
        F.sum(
            F.when(F.col("lp_fixed").isNotNull(), F.col("_n"))
            .otherwise(F.lit(0))
        ).alias("_k"),
        F.sum(F.col("lp_fixed") * F.col("_n")).alias("_s"),
    )
    k = F.col("_k")
    return agg.select(
        F.col(id_col),
        F.col("n_pairs"),
        (F.col("n_pairs") - k).alias("n_oov_pairs"),
        F.when(
            k > 0,
            F.round(
                (-(F.col("_s").cast("double"))
                 / F.lit(float(1 << scale_bits)))
                / k,
                4,
            ),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("bits_per_pair"),
    )


def _adjacent_triples(tokens_col):
    """(t1, t2, t3) structs for every adjacent triple of the
    null-filtered token array — the n=3 sibling of
    :func:`_adjacent_pairs`, same drop-nulls-first adjacency."""
    toks = F.filter(F.col(tokens_col), lambda t: t.isNotNull())
    n = F.size(toks)
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(toks, i).alias("t1"),
            F.element_at(toks, i + 1).alias("t2"),
            F.element_at(toks, i + 2).alias("t3"),
        ),
    )


def backoff_fixed(alpha: float = 0.4, scale_bits: int = 20) -> int:
    """The stupid-backoff penalty as a fixed-point bigint:
    ``floor(log2(alpha) * 2^scale_bits)``. Computed DRIVER-SIDE in
    Python and embedded as a literal so Spark and a SQL oracle add the
    IDENTICAL integer — engine log2 implementations may differ in the
    last ulp on irrational arguments, and the fixed-point discipline
    exists precisely to keep such doubles out of the accumulators."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1], got %r" % (alpha,))
    return math.floor(math.log2(alpha) * (1 << scale_bits))


def trigram_model(
    df: DataFrame, tokens_col: str = "tokens", scale_bits: int = 20
) -> DataFrame:
    """Corpus trigram LM as fixed-point CONDITIONAL log-probs:
    (t1, t2, t3, lp_fixed) with ``lp_fixed = floor(log2(c(t1,t2,t3) /
    c(t1,t2,·)) * 2^scale_bits)`` — the n=3 step of the LM-fluency
    family (:func:`unigram_model`, :func:`bigram_model`).

    Scale shape: one explode + one (t1,t2,t3) groupBy; the context
    totals c(t1,t2,·) re-aggregate the triple counts (|trigrams| rows,
    NOT a second corpus pass). Corpus-sized by construction — stays a
    DataFrame, never collected or broadcast."""
    s = float(1 << scale_bits)
    t = (
        df.select(F.explode(_adjacent_triples(tokens_col)).alias("p"))
        .select("p.t1", "p.t2", "p.t3")
    )
    counts = t.groupBy("t1", "t2", "t3").agg(F.count(F.lit(1)).alias("_c"))
    ctx = counts.groupBy("t1", "t2").agg(F.sum("_c").alias("_ct"))
    return counts.join(ctx, ["t1", "t2"]).select(
        "t1", "t2", "t3",
        F.floor((F.log2("_c") - F.log2("_ct")) * F.lit(s))
        .cast("long")
        .alias("lp_fixed"),
    )


def trigram_backoff_logloss(
    df: DataFrame,
    model_corpus: DataFrame | None = None,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    scale_bits: int = 20,
) -> DataFrame:
    """Per-sequence trigram cross-entropy (bits/triple) under STUPID
    BACKOFF (Brants et al. 2007, "Large Language Models in Machine
    Translation"): a triple seen in the reference corpus scores its
    conditional trigram log-prob; an unseen triple backs off to
    ``alpha * P(t3|t2)``, then ``alpha^2 * P(t3)``, and counts as OOV
    only when even the unigram is absent. Exactly the web-scale LM
    recipe — no discounting, no normalization, score-not-probability —
    chosen over Kneser-Ney because it needs nothing but counts, which
    is also what makes it SQL-oracle-reproducible.

    ``model_corpus`` is the reference the three count models are built
    from (default: ``df`` itself — self-scoring, where backoff never
    fires and the result is a pure fluency score). All fixed-point:
    level log-probs are floor(log2-ratio * 2^scale_bits) bigints and
    the backoff penalty is the :func:`backoff_fixed` INTEGER added
    once (bigram path) or twice (unigram path), so accumulation is
    associative and parallelism-invariant.

    Returns one row per distinct id: (id, n_trigrams, n_backoff_bigram,
    n_backoff_unigram, n_oov, bits_per_trigram) — the two backoff
    counters are the data-quality signal (how alien is this document's
    phrasing to the reference corpus), bits_per_trigram the filter
    score; docs with < 3 usable tokens yield null bits and zero counts.

    Scale shape: exploded (id, triple) rows pre-aggregate to
    (id, triple, count) riding the SAME (t1,t2,t3) exchange the model
    join needs (the bigram_logloss trick); the bigram and unigram
    FALLBACK joins run on FILTERED miss rows only — for a
    reference ⊇ df they are empty-relation joins AQE folds away, and
    for a disjoint reference they carry only the miss fraction, never
    the whole corpus again. The unigram side is vocab-sized
    (broadcastable); trigram/bigram sides are corpus-sized DataFrames
    joined on their own keys."""
    if model_corpus is None:
        model_corpus = df
    pen = backoff_fixed(alpha, scale_bits)
    m3 = trigram_model(model_corpus, tokens_col, scale_bits)
    m2 = bigram_model(model_corpus, tokens_col, scale_bits).select(
        F.col("t1").alias("_b1"), F.col("t2").alias("_b2"),
        F.col("lp_fixed").alias("_lp2"),
    )
    # the unigram level IS unigram_model — one fixed-point LM recipe,
    # maintained in one place (agg + broadcast total, no empty Window)
    m1 = unigram_model(model_corpus, tokens_col, scale_bits).select(
        F.col("token").alias("_u"), F.col("lp_fixed").alias("_lp1")
    )
    pe = df.select(
        F.col(id_col),
        F.explode_outer(_adjacent_triples(tokens_col)).alias("p"),
    ).select(
        F.col(id_col),
        F.col("p.t1").alias("_a1"),
        F.col("p.t2").alias("_a2"),
        F.col("p.t3").alias("_a3"),
    )
    pre = (
        pe.repartition("_a1", "_a2", "_a3")
        .groupBy(id_col, "_a1", "_a2", "_a3")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    j3 = pre.join(
        m3,
        on=[pre["_a1"] == m3["t1"], pre["_a2"] == m3["t2"],
            pre["_a3"] == m3["t3"]],
        how="left",
    ).select(id_col, "_a1", "_a2", "_a3", "_n", "lp_fixed")
    base = [F.col(id_col), F.col("_n")]
    hit3 = j3.where(F.col("lp_fixed").isNotNull()).select(
        *base, F.col("lp_fixed").alias("_score"), F.lit(3).alias("_lvl")
    )
    # doc-presence rows from explode_outer (< 3 usable tokens)
    blank = j3.where(F.col("_a1").isNull()).select(
        *base,
        F.lit(None).cast("long").alias("_score"),
        F.lit(None).cast("int").alias("_lvl"),
    )
    miss3 = j3.where(F.col("lp_fixed").isNull() & F.col("_a1").isNotNull())
    j2 = miss3.join(
        m2,
        on=[miss3["_a2"] == m2["_b1"], miss3["_a3"] == m2["_b2"]],
        how="left",
    )
    hit2 = j2.where(F.col("_lp2").isNotNull()).select(
        *base,
        (F.col("_lp2") + F.lit(pen)).alias("_score"),
        F.lit(2).alias("_lvl"),
    )
    miss2 = j2.where(F.col("_lp2").isNull()).select(
        id_col, "_a3", "_n"
    )
    j1 = miss2.join(m1, on=[miss2["_a3"] == m1["_u"]], how="left")
    hit1 = j1.where(F.col("_lp1").isNotNull()).select(
        *base,
        (F.col("_lp1") + F.lit(2 * pen)).alias("_score"),
        F.lit(1).alias("_lvl"),
    )
    oov = j1.where(F.col("_lp1").isNull()).select(
        *base,
        F.lit(None).cast("long").alias("_score"),
        F.lit(0).alias("_lvl"),
    )
    scored = hit3.unionByName(hit2).unionByName(hit1).unionByName(
        oov
    ).unionByName(blank)
    agg = scored.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("_lvl").isNotNull(), F.col("_n")).otherwise(F.lit(0))
        ).alias("n_trigrams"),
        F.sum(
            F.when(F.col("_lvl") == 2, F.col("_n")).otherwise(F.lit(0))
        ).alias("n_backoff_bigram"),
        F.sum(
            F.when(F.col("_lvl") == 1, F.col("_n")).otherwise(F.lit(0))
        ).alias("n_backoff_unigram"),
        F.sum(
            F.when(F.col("_lvl") == 0, F.col("_n")).otherwise(F.lit(0))
        ).alias("n_oov"),
        F.sum(
            F.when(F.col("_score").isNotNull(), F.col("_n"))
            .otherwise(F.lit(0))
        ).alias("_k"),
        F.sum(F.col("_score") * F.col("_n")).alias("_s"),
    )
    k = F.col("_k")
    return agg.select(
        F.col(id_col),
        "n_trigrams", "n_backoff_bigram", "n_backoff_unigram", "n_oov",
        F.when(
            k > 0,
            F.round(
                (-(F.col("_s").cast("double")) / F.lit(float(1 << scale_bits)))
                / k,
                4,
            ),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("bits_per_trigram"),
    )


# PII patterns shared by pii_scan and its oracle: restricted to RE2 ∩
# java.util.regex syntax (character classes, bounded repetition, ASCII
# \b / \d) so Spark and DuckDB count identical matches. No lookaround —
# RE2 has none.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_scan(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: dict | None = None,
    passthrough: tuple = (),
) -> DataFrame:
    """Per-document PII pattern counts — the scrub-before-training gate:
    returns (id, n_<kind>... , has_pii) with one match count per pattern
    kind (default email / phone / ipv4).

    Scale shape: MAP-ONLY — ``regexp_count`` per pattern inside
    whole-stage codegen, no Python, no exchange; a 10^12-row scan stays
    a scan. Null text yields zero counts (a null is not a leak).

    A production scrubber would follow with ``regexp_replace`` using the
    same patterns; the counts here are the audit/verdict surface.
    ``passthrough`` columns are carried along so map-only gates chain
    into ONE scan projection instead of a doc_id self-join.
    """
    pats = PII_PATTERNS if patterns is None else patterns
    if not pats:
        raise ValueError("pii_scan: patterns must be a non-empty dict")
    text = F.coalesce(F.col(text_col), F.lit(""))
    counts = [
        F.regexp_count(text, F.lit(p)).cast("long").alias("n_" + k)
        for k, p in sorted(pats.items())
    ]
    out = df.select(
        F.col(id_col), *[F.col(c) for c in passthrough], *counts
    )
    total = None
    for k in sorted(pats):
        c = F.col("n_" + k)
        total = c if total is None else total + c
    return out.withColumn("has_pii", (total > 0).cast("boolean"))


def token_entropy(
    df: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id",
    passthrough: tuple = (),
) -> DataFrame:
    """Per-sequence unigram Shannon entropy (bits) and type-token ratio
    over a token-id array — the information-density quality gate: a
    sequence with near-zero entropy is a degenerate repetition no schema
    check catches, and an anomalously high TTR flags hash-garbage.

    Uses the identity ``H = log2(n) - (sum_t c_t*log2(c_t)) / n`` so all
    inputs to the transcendentals are integer run lengths. Returns
    (id, n_tokens, n_distinct_tokens, entropy, ttr); empty/null arrays
    yield null entropy/ttr.

    Scale shape: MAP-ONLY, like ``token_run_stats`` — sort the array,
    then ONE ``F.aggregate`` pass turns equal-token runs into counts; no
    explode, no exchange, no Python. The sorted pass also fixes the
    floating-point summation order (ascending token id), which is
    exactly what a DuckDB oracle reproduces with
    ``SUM(c*log2(c) ORDER BY tok)`` — bit-identical before the round.

    Null token elements are dropped before counting (DuckDB's UNNEST +
    GROUP BY would count NULL as a token value; Spark's eqNullSafe run
    logic would too, but they'd sort to opposite ends — excluding them
    keeps the two engines' summation order identical).
    """
    toks = F.array_sort(
        F.filter(F.col(tokens_col), lambda t: t.isNotNull())
    )
    elem_type = (
        df.select(F.col(tokens_col)).schema[0].dataType.elementType
    )
    zero = F.struct(
        F.lit(None).cast(elem_type).alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0.0).alias("s"),
        F.lit(0).cast("long").alias("d"),
    )
    # closing a run adds run*log2(run); run==1 adds exactly 0.0 in both
    # engines, so singleton tokens cost nothing and drift nothing
    close = F.when(
        F.col("_acc")["run"] > 0,
        F.col("_acc")["run"].cast("double")
        * F.log2(F.col("_acc")["run"]),
    ).otherwise(F.lit(0.0))
    acc = F.aggregate(
        toks,
        zero,
        lambda a, t: F.struct(
            t.alias("prev"),
            F.when(t.eqNullSafe(a["prev"]), a["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(
                t.eqNullSafe(a["prev"]), a["s"]
            )
            .otherwise(
                a["s"]
                + F.when(
                    a["run"] > 0,
                    a["run"].cast("double") * F.log2(a["run"]),
                ).otherwise(F.lit(0.0))
            )
            .alias("s"),
            F.when(t.eqNullSafe(a["prev"]), a["d"])
            .otherwise(a["d"] + 1)
            .alias("d"),
        ),
    )
    out = df.select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        F.size(toks).cast("long").alias("n_tokens"),
        acc.alias("_acc"),
    ).select(
        id_col,
        *passthrough,
        "n_tokens",
        (F.col("_acc")["d"]).alias("n_distinct_tokens"),
        (F.col("_acc")["s"] + close).alias("_s"),
    )
    n = F.col("n_tokens")
    return out.select(
        id_col,
        *passthrough,
        "n_tokens",
        "n_distinct_tokens",
        F.when(n > 0, F.round(F.log2(n) - F.col("_s") / n, 4))
        .otherwise(F.lit(None).cast("double"))
        .alias("entropy"),
        F.when(n > 0, F.round(F.col("n_distinct_tokens") / n, 4))
        .otherwise(F.lit(None).cast("double"))
        .alias("ttr"),
    )


def vocab_topk(
    df: DataFrame,
    tokens_col: str = "tokens",
    group_col: str = "source",
    k: int = 10,
) -> DataFrame:
    """Most frequent token ids per group — the vocabulary audit every
    tokenized corpus needs (a token id dominating one source is a
    tokenizer or extraction defect). Returns (group, token, n, rank).

    Scale shape: explode fans out ~n_tok rows, but groupBy(group, token)
    partially aggregates map-side before its exchange; the top-k filter
    is a rank window whose ``rank <= k`` predicate triggers
    WindowGroupLimit (each task forwards only its local top-k per
    group). Ties break on token id ascending — deterministic, oracle-
    reproducible."""
    counts = (
        df.select(
            F.col(group_col).alias("group"),
            F.explode(F.col(tokens_col)).alias("token"),
        )
        .groupBy("group", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("group").orderBy(
        F.col("n").desc(), F.col("token").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def zipf_fit(
    df: DataFrame,
    tokens_col: str = "tokens",
    group_col: str = "source",
    max_rank: int = 10000,
    scale_bits: int = 10,
) -> DataFrame:
    """Per-group Zipf rank-frequency fit: least-squares slope and r² of
    log2(count) against log2(rank) over the top ``max_rank`` tokens —
    the power-law audit for a tokenized corpus. Natural text sits near
    slope -1; synthetic/templated/garbage sources bend the head of the
    curve (|slope| far from 1, low r²), which no per-doc gate catches
    because every individual document looks fine.

    Returns (group, vocab_k, slope, r2); ``vocab_k`` is the number of
    ranks actually fit. Groups with a single distinct token (zero
    variance in x) yield NULL slope/r2. Fitting only the head is
    standard practice (the tail is dominated by hapax noise) and bounds
    the fit input to |groups| x max_rank rows.

    Scale shape: the ranked head IS :func:`vocab_topk` with
    ``k=max_rank`` (one shared definition of the explode →
    map-side-combinable (group, token) count agg → rank window with
    WindowGroupLimit) → ONE |groups|-row agg on top. The regression
    sums use the fixed-point trick (floor(log2·2^scale_bits) as
    bigint): integer sums are associative, so the result is
    parallelism-invariant and bit-identical to the DuckDB oracle with
    no ORDER BY. With scale_bits=10 and max_rank=10^4 the largest
    intermediate (Σxy) stays < 10^13, far inside bigint.
    """
    if max_rank < 2:
        raise ValueError("max_rank must be >= 2, got %r" % (max_rank,))
    # exactness guard: EVERY moment product must stay inside bigint under
    # worst-case magnitudes (x <= log2(max_rank)*2^sb, y <= 50*2^sb for
    # counts up to ~10^15, k <= max_rank) — past the bound Spark's
    # non-ANSI arithmetic would WRAP silently and emit garbage slopes.
    # The binding term is the r² denominator k*Σyy - Σy² ~
    # max_rank² * (50*2^sb)², a factor 50/log2(max_rank) LARGER than the
    # k*Σxy bound an earlier guard used (max_rank=10^4, scale_bits=13
    # passed that guard yet wraps k*Σyy at head counts ~10^14)
    if scale_bits < 1 or (
        float(max_rank) ** 2 * 50.0 * 50.0
        * float(4 ** scale_bits) >= float(2 ** 63)
    ):
        raise ValueError(
            "scale_bits=%r overflows the fixed-point regression moments "
            "at max_rank=%r (keep max_rank^2*50^2*4^bits "
            "< 2^63: the r2 denominator k*Syy is the largest moment)"
            % (scale_bits, max_rank)
        )
    s = float(1 << scale_bits)
    ranked = vocab_topk(df, tokens_col, group_col, k=max_rank)
    x = F.floor(F.log2("rank") * F.lit(s)).cast("long")
    y = F.floor(F.log2("n") * F.lit(s)).cast("long")
    xy = ranked.select("group", x.alias("_x"), y.alias("_y"))
    return _fixed_point_log2_fit(xy, ["group"], "vocab_k", "slope")


def _fixed_point_log2_fit(
    xy: DataFrame, group_cols, count_alias: str, slope_alias: str
) -> DataFrame:
    """Shared fixed-point log2 least-squares core (zipf_fit, heaps_fit
    — ONE definition so an exactness/overflow fix to one fit can never
    silently miss the other). ``xy`` holds ``group_cols`` plus bigint
    fixed-point columns ``_x``/``_y``; callers own the overflow guard
    for their magnitudes. Returns group_cols + count + slope + r2.

    Scale cancels: numerator and denominator both carry
    2^(2*scale_bits). The moment sums stay EXACT bigints (k*Σxy can
    exceed 2^53, where double arithmetic would diverge from the
    oracle's exact integers); only the final ratios cast to double —
    both engines round the same integer to the same IEEE double, so
    the result stays bit-identical."""
    agg = xy.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias(count_alias),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    k = F.col(count_alias)
    num = k * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = k * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    deny = k * F.col("_syy") - F.col("_sy") * F.col("_sy")
    num_d, den_d, deny_d = (
        num.cast("double"), den.cast("double"), deny.cast("double")
    )
    return agg.select(
        *group_cols,
        count_alias,
        F.when(den > 0, F.round(num_d / den_d, 4)).alias(slope_alias),
        F.when(
            (den > 0) & (deny > 0),
            F.round((num_d * num_d) / (den_d * deny_d), 4),
        ).alias("r2"),
    )


def heaps_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10,
    scale_bits: int = 10,
) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) audit: the cumulative
    distinct-vocabulary curve over the corpus in ``id_col`` order, plus
    a least-squares fit of log2(V) against log2(N) (Heaps: V = k·N^β,
    natural corpora sit near β ≈ 0.4–0.6). A β collapsing toward 0
    says the tail of the corpus adds no new vocabulary (template/dup
    flood); β near 1 says tokenization is leaking unique garbage
    (mojibake, IDs) — both invisible to per-document gates.

    Returns one row per checkpoint bucket:
    (bucket, cum_tokens, cum_vocab, beta, r2) with the fit repeated on
    every row (single-frame hashable output).

    Scale shape: docs land in ``n_buckets`` equal-id-range buckets via
    one broadcast max-id scalar (no global sort, no ntile); each word's
    first bucket is a map-side-combinable min; the cumulative window
    and the regression run over ≤ n_buckets rows (a constant). The
    regression uses the fixed-point log2 trick shared with
    :func:`zipf_fit` (floor(log2·2^scale_bits) as bigint) so the fit is
    parallelism-invariant and bit-identical to the DuckDB oracle.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2, got %r" % (n_buckets,))
    if scale_bits < 1 or scale_bits > 20:
        raise ValueError("scale_bits must be in [1, 20], got %r"
                         % (scale_bits,))
    # exactness guard (the zipf_fit discipline): every regression moment
    # must stay inside bigint under worst-case magnitudes — x and y are
    # bounded by log2(2^63)*2^sb = 63*2^sb, k by n_buckets, so the
    # binding terms k*Σxx / k*Σyy / Σx*Σy are all <= n² * 63² * 4^sb.
    # Past the bound Spark's non-ANSI arithmetic WRAPS silently and the
    # fit becomes garbage with no error.
    if (
        float(n_buckets) ** 2 * 63.0 * 63.0 * float(4 ** scale_bits)
        >= float(2 ** 63)
    ):
        raise ValueError(
            "n_buckets=%r at scale_bits=%r overflows the fixed-point "
            "regression moments (keep n_buckets^2 * 63^2 * 4^bits "
            "< 2^63 — use fewer checkpoints or fewer scale bits)"
            % (n_buckets, scale_bits)
        )
    docs = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("_w"),
    )
    max_id = docs.agg(F.max("doc_id").alias("_mx"))
    bucketed = docs.crossJoin(F.broadcast(max_id)).select(
        "doc_id",
        "_w",
        F.floor(
            F.col("doc_id") * F.lit(n_buckets) / (F.col("_mx") + F.lit(1))
        ).cast("int").alias("bucket"),
    )
    toks = bucketed.groupBy("bucket").agg(
        F.sum(F.size("_w")).alias("n_tokens")
    )
    first = (
        bucketed.select(
            "bucket", F.explode(F.array_distinct("_w")).alias("w")
        )
        .groupBy("w")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_vocab"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        toks.join(first, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_tokens").over(w).alias("cum_tokens"),
            F.sum(F.coalesce("new_vocab", F.lit(0))).over(w)
            .alias("cum_vocab"),
        )
    )
    s = float(1 << scale_bits)
    x = F.floor(F.log2("cum_tokens") * F.lit(s)).cast("long")
    y = F.floor(F.log2("cum_vocab") * F.lit(s)).cast("long")
    fit_in = curve.filter(
        (F.col("cum_tokens") > 0) & (F.col("cum_vocab") > 0)
    ).select(x.alias("_x"), y.alias("_y"))
    fit = _fixed_point_log2_fit(fit_in, [], "_k_fit", "beta").select(
        "beta", "r2"
    )
    return curve.crossJoin(F.broadcast(fit)).select(
        "bucket", "cum_tokens", "cum_vocab", "beta", "r2"
    )


def _hash_bucket(t, n_buckets: int, hash_fn: str):
    """Stable hash bucket in [0, n_buckets) for a token Column.

    ``xxhash64`` is the production default (8B, pure JVM);
    ``md5`` takes the first 15 hex chars (60 bits) via ``conv`` so a
    DuckDB oracle can reproduce the exact bucket with
    ``CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)`` (parity
    verified value-for-value).
    """
    if hash_fn == "xxhash64":
        h = F.xxhash64(t)
    elif hash_fn == "md5":
        h = F.conv(
            F.substring(F.md5(t.cast("string")), 1, 15), 16, 10
        ).cast("long")
    else:
        raise ValueError("hash_fn must be xxhash64|md5, got %r" % (hash_fn,))
    return F.pmod(h, F.lit(int(n_buckets)))


def hashed_bucket_model(
    df: DataFrame,
    tokens_col: str = "tokens",
    n_buckets: int = 4096,
    scale_bits: int = 20,
    hash_fn: str = "md5",
) -> DataFrame:
    """Add-1-smoothed hashed-feature unigram LM (DSIR-style, Xie et al.
    2023 "Data Selection for Language Models via Importance Resampling"):
    (bucket, lp_fixed) for EVERY bucket 0..n_buckets-1, with
    ``lp_fixed = floor((log2(c_b + 1) - log2(T + B)) * 2^scale_bits)``.

    Hashing tokens into a fixed bucket domain bounds the model at B rows
    regardless of corpus vocabulary (the point of DSIR: the importance
    model stays broadcastable at 100 TB), and add-1 smoothing gives
    every bucket finite mass so importance ratios are total — no OOV
    branch in scoring. Fixed-point bigint log-probs keep per-doc sums
    associative and oracle-exact (the unigram_model trick).

    Scale shape: explode + ONE bucket-bounded groupBy (the exchange
    carries <= B rows after map-side combine), then two |B|-row joins
    against the dense bucket domain — driver never sees corpus rows.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2, got %r" % (n_buckets,))
    s = float(1 << scale_bits)
    b = int(n_buckets)
    tok = F.explode(F.col(tokens_col)).alias("_tok")
    counts = (
        df.select(tok)
        .where(F.col("_tok").isNotNull())
        .groupBy(_hash_bucket(F.col("_tok"), b, hash_fn).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    spark = df.sparkSession
    domain = spark.range(b).select(F.col("id").alias("bucket"))
    full = domain.join(F.broadcast(counts), "bucket", "left").select(
        "bucket", F.coalesce(F.col("_c"), F.lit(0)).alias("_c")
    )
    tot = full.agg(F.sum("_c").alias("_T"))
    return full.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(
            (F.log2(F.col("_c") + 1) - F.log2(F.col("_T") + F.lit(b)))
            * F.lit(s)
        ).cast("long").alias("lp_fixed"),
    )


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    scale_bits: int = 20,
    hash_fn: str = "md5",
    passthrough: tuple = (),
) -> DataFrame:
    """DSIR importance log-ratios: score every corpus document by how
    much more likely its tokens are under a TARGET distribution (e.g. a
    trusted high-quality subset) than under the corpus itself —
    ``log2 p_target(doc) - log2 p_corpus(doc)`` over hashed-bucket
    add-1 unigram models. Returns (id, n_tokens, logratio_bits,
    logratio_bits_per_token); positive = target-like. Resampling
    composes downstream: rank or threshold on the ratio (topk /
    quality_bands / hash_split all take it as an input column).

    Scale shape: both models are B-bounded (hashed_bucket_model), their
    per-bucket DELTA array is collected once (B bigints) and carried as
    a literal array (<= LM_LITERAL_MAX_ENTRIES) or a one-row broadcast;
    scoring is MAP-ONLY — one F.aggregate per row sums fixed-point
    bigints inside codegen, every token hits a bucket (smoothing makes
    the ratio total, no OOV path), no explode, no exchange on the
    corpus side.
    """
    b = int(n_buckets)
    mt = hashed_bucket_model(target, tokens_col, b, scale_bits, hash_fn)
    mc = hashed_bucket_model(df, tokens_col, b, scale_bits, hash_fn)
    delta = (
        mt.select(F.col("bucket"), F.col("lp_fixed").alias("_lt"))
        .join(
            mc.select(F.col("bucket"), F.col("lp_fixed").alias("_lc")),
            "bucket",
        )
        .select("bucket", (F.col("_lt") - F.col("_lc")).alias("_dl"))
        .collect()
    )
    vals = [0] * b
    for r in delta:
        vals[int(r["bucket"])] = int(r["_dl"])
    out = df
    if b <= LM_LITERAL_MAX_ENTRIES:
        dl_arr = F.array(*[F.lit(v).cast("long") for v in vals])
    else:
        spark = df.sparkSession
        one = spark.createDataFrame([(vals,)], "_dla array<bigint>")
        out = out.crossJoin(F.broadcast(one))
        dl_arr = F.col("_dla")

    toks = F.filter(F.col(tokens_col), lambda t: t.isNotNull())
    score = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.element_at(
            dl_arr, (_hash_bucket(t, b, hash_fn) + F.lit(1)).cast("int")
        ),
    )
    n = F.size(toks).cast("long")
    sc = F.lit(float(1 << scale_bits))
    return out.select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        n.alias("n_tokens"),
        F.round(score.cast("double") / sc, 4).alias("logratio_bits"),
        F.when(
            n > 0,
            F.round((score.cast("double") / sc) / n, 6),
        ).alias("logratio_bits_per_token"),
    )


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: dict | None = None,
    replacements: dict | None = None,
    passthrough: tuple = (),
) -> DataFrame:
    """Redact PII in place — the production companion to
    :func:`pii_scan`: returns (id, <text_col> scrubbed, n_redactions)
    with every pattern match replaced by a typed placeholder
    (``<EMAIL>``, ``<PHONE>``, ...; override per kind via
    ``replacements``).

    Patterns are applied in sorted-kind order, each over the output of
    the previous replace — a phone number inside an already-redacted
    email is simply gone, never double-counted. ``n_redactions`` is the
    total pattern-match count over the ORIGINAL text (the same counts
    :func:`pii_scan` reports), so scan -> scrub pipelines agree on the
    audit number. Null text stays null (a null is not a leak and must
    not become a placeholder string).

    Scale shape: MAP-ONLY — chained ``regexp_replace`` + ``regexp_count``
    inside whole-stage codegen; no Python, no exchange, a 10^12-row
    scrub stays one scan. The default patterns are the RE2-and-Java
    compatible set (``PII_PATTERNS``) so the DuckDB oracle replays the
    exact replacements with ``regexp_replace(..., 'g')``.
    """
    pats = PII_PATTERNS if patterns is None else patterns
    if not pats:
        raise ValueError("pii_scrub: patterns must be a non-empty dict")
    repl = dict(replacements or {})
    orig = F.col(text_col)
    scrubbed = orig
    total = None
    for k in sorted(pats):
        token = repl.get(k, "<{0}>".format(k.upper()))
        scrubbed = F.regexp_replace(scrubbed, F.lit(pats[k]), F.lit(token))
        c = F.regexp_count(F.coalesce(orig, F.lit("")), F.lit(pats[k]))
        total = c if total is None else total + c
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        scrubbed.alias(text_col if isinstance(text_col, str) else "text"),
        total.cast("long").alias("n_redactions"),
    )


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 3,
    require_terminal_punct: bool = True,
    drop_brace_lines: bool = True,
    drop_lorem: bool = True,
    passthrough: tuple = (),
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, §2.2): keep a
    line only if it has >= ``min_words`` words, ends in terminal
    punctuation (``. ! ? "``), contains no ``{`` (code/markup tell) and
    no "lorem ipsum". Returns (id, <text_col> rebuilt from kept lines,
    n_lines, n_kept) — the dropped-line count is the per-doc boilerplate
    exposure the corpus audit wants.

    Scale shape: MAP-ONLY — split -> ``F.filter`` with a pure Column
    line predicate -> array_join, all in whole-stage codegen; no
    explode, no exchange, no Python. Null text stays null with zero
    counts. The line predicate uses only RE2-and-Java regex (``\\S+``
    word count, character-class terminal-punct test) so the DuckDB
    oracle rebuilds identical documents via ``list_filter``.
    """
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    lines = F.split(t, "\n")

    def _keep(line):
        cond = F.regexp_count(line, F.lit(r"\S+")) >= F.lit(int(min_words))
        if require_terminal_punct:
            cond = cond & (
                F.regexp_count(line, F.lit('[.!?"]\\s*$')) > 0
            )
        if drop_brace_lines:
            cond = cond & ~line.contains("{")
        if drop_lorem:
            cond = cond & ~F.lower(line).contains("lorem ipsum")
        return cond

    kept = F.filter(lines, _keep)
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        F.when(t.isNotNull(), F.array_join(kept, "\n")).alias(
            text_col if isinstance(text_col, str) else "text"
        ),
        F.coalesce(F.size(lines), F.lit(0)).cast("long").alias("n_lines"),
        F.coalesce(F.size(kept), F.lit(0)).cast("long").alias("n_kept"),
    )


def mojibake_scan(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bad_frac: float = 0.001,
    passthrough: tuple = (),
) -> DataFrame:
    """Encoding-damage audit — the decode-sanity gate for scraped text:
    per-doc counts of U+FFFD replacement characters (the scar a bad
    byte leaves after lossy decoding) and C0/C1-style control
    characters (tab/newline/CR excluded), their fraction of total
    characters, and a ``bad_encoding`` verdict at ``max_bad_frac``.

    Scale shape: MAP-ONLY ``regexp_count`` in codegen (the pii_scan
    discipline); null/empty text is clean by definition. Patterns stay
    in RE2 ∩ java.util.regex: a literal replacement char and an
    explicit ``[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]`` class.
    """
    t = F.coalesce(
        F.col(text_col) if isinstance(text_col, str) else text_col,
        F.lit(""),
    )
    n_chars = F.length(t)
    n_repl = F.regexp_count(t, F.lit("�"))
    n_ctrl = F.regexp_count(
        t, F.lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]")
    )
    bad = n_repl + n_ctrl
    frac = F.when(
        n_chars > 0, F.round(bad.cast("double") / n_chars, 6)
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        n_chars.cast("long").alias("n_chars_scanned"),
        n_repl.cast("long").alias("n_replacement"),
        n_ctrl.cast("long").alias("n_control"),
        frac.alias("bad_frac"),
        (frac > F.lit(float(max_bad_frac))).alias("bad_encoding"),
    )


def source_signature_terms(
    df: DataFrame,
    tokens_col: str = "tokens",
    group_col: str = "source",
    k: int = 10,
    scale_bits: int = 20,
) -> DataFrame:
    """TF-IDF signature terms per group — the "what makes this source
    different" audit: terms frequent in a group but present in few
    other groups score high; boilerplate shared by every group scores
    exactly zero. Returns (source, token, tf, gdf, score, rank) — gdf =
    number of groups containing the token (G counts groups with at
    least one token), score = tf * idf with
    idf = floor(log2((G+1)/(gdf+1)) * 2^scale_bits) as a FIXED-POINT
    bigint (the unigram-LM discipline): tf and idf are exact integers,
    so scores are associative, parallelism-invariant, and bit-identical
    in the DuckDB oracle with no float summation order to pin.

    Scale shape: explode -> map-side-combinable (group, token) agg ->
    token-keyed agg of the |groups x vocab| rows for gdf (already tiny
    vs the corpus) -> broadcast join of the one-row group count ->
    rank window with ``rank <= k`` riding WindowGroupLimit. The corpus
    crosses one exchange; everything after is vocab-bounded.
    """
    if k < 1:
        raise ValueError("k must be >= 1, got %r" % (k,))
    tf = (
        df.select(
            F.col(group_col).alias("source"),
            F.explode(F.col(tokens_col)).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    gdf = tf.groupBy("token").agg(F.count(F.lit(1)).alias("gdf"))
    # |groups| from the ALREADY-AGGREGATED tf frame (vocab-bounded), not
    # a second scan of the corpus
    groups = tf.select(
        F.countDistinct(F.col("source")).alias("_n_groups")
    )
    scored = (
        tf.join(gdf, "token")
        .crossJoin(F.broadcast(groups))
        .withColumn(
            "score",
            (
                F.col("tf")
                * F.floor(
                    F.log2(
                        (F.col("_n_groups") + F.lit(1.0))
                        / (F.col("gdf") + F.lit(1.0))
                    )
                    * F.lit(float(1 << scale_bits))
                ).cast("long")
            ).cast("long"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("source", "token", "tf", "gdf", "score", "rank")
    )


def lang_mix_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    split: str = "\\n+",
    min_chars: int = 1,
) -> DataFrame:
    """Per-document language composition over paragraphs — the
    mixed-language detector: a web page with an English body and a
    Spanish boilerplate footer poisons monolingual training slices, and
    whole-doc language ID (majority stopwords) cannot see it. Returns
    (id, n_paragraphs, majority_lang, majority_frac, n_langs, mixed).

    Paragraphs = ``split`` regex segments with >= ``min_chars``
    non-blank chars; each is classified by :func:`lang_id` (same
    heuristic, same tie-break). The majority is the most frequent
    paragraph language, ties to the lexicographically smallest (the
    deterministic oracle order); ``mixed`` = more than one distinct
    language. Null/empty text yields 0 paragraphs, null majority,
    mixed=false.

    Scale shape: MAP-ONLY — split, per-paragraph ``lang_id`` inside an
    ``F.transform``, and the majority vote as array arithmetic
    (array_min over (-count, lang) structs); no explode, no exchange, a
    10^12-row scan stays a scan.
    """
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    paras = F.filter(
        F.coalesce(F.split(t, split), F.array().cast("array<string>")),
        lambda p: F.length(F.trim(p)) >= F.lit(int(min_chars)),
    )
    langs = F.transform(paras, lambda p: lang_id(p))
    n_paras = F.size(langs)
    distinct_langs = F.array_distinct(langs)
    best = F.array_min(
        F.transform(
            distinct_langs,
            lambda l: F.struct(
                (-F.size(F.filter(langs, lambda x: x == l))).alias("nc"),
                l.alias("lang"),
            ),
        )
    )
    return df.select(
        F.col(id_col),
        n_paras.cast("long").alias("n_paragraphs"),
        F.when(n_paras > 0, best["lang"]).alias("majority_lang"),
        F.when(
            n_paras > 0,
            F.round((-best["nc"]).cast("double") / n_paras, 6),
        ).alias("majority_frac"),
        F.coalesce(F.size(distinct_langs), F.lit(0))
        .cast("long")
        .alias("n_langs"),
        F.coalesce(F.size(distinct_langs) > 1, F.lit(False)).alias("mixed"),
    )


def readability_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: tuple = (),
) -> DataFrame:
    """Per-doc readability scores — the classic Flesch Reading Ease and
    Flesch-Kincaid grade level (public formulas, Kincaid et al. 1975)
    over cheap structural proxies: words = whitespace tokens, sentences
    = terminal-punctuation runs (``[.!?]+``, floored at 1 when the doc
    has words), syllables = vowel-group runs (``[AaEeIiOoUuYy]+`` — the
    standard heuristic; no monosyllable floor, documented proxy). Web
    corpora use these as quality bands: boilerplate/navigation text
    reads implausibly low or high.

    Cross-engine determinism: three ``regexp_count`` integers per doc
    (RE2 ∩ java.util.regex patterns), ratios are single divisions of
    exact integers, and each score is the published constant expression
    evaluated in one fixed IEEE op order mirrored in the oracle — so
    the doubles match bit-for-bit before the round. Null/empty text
    yields zero counts and NULL scores (not a divide blow-up).

    Scale shape: MAP-ONLY codegen scan (the pii_scan discipline) —
    zero Exchange, composes into the quality-gate scan via
    ``passthrough``.
    """
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    has = t.isNotNull() & (F.length(t) > 0)
    n_words = F.when(has, F.size(words_col(t))).otherwise(F.lit(0))
    n_sent = F.when(has, F.regexp_count(t, F.lit("[.!?]+"))).otherwise(
        F.lit(0)
    )
    n_syll = F.when(
        has, F.regexp_count(t, F.lit("[AaEeIiOoUuYy]+"))
    ).otherwise(F.lit(0))
    w = n_words.cast("double")
    s = F.greatest(n_sent, F.lit(1)).cast("double")
    wps = w / s
    spw = n_syll.cast("double") / w
    ok = n_words > 0
    flesch = F.when(
        ok, F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    )
    fk = F.when(
        ok, F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syll.cast("long").alias("n_syllables"),
        F.round(F.when(ok, wps), 4).alias("words_per_sentence"),
        F.round(F.when(ok, spw), 4).alias("syllables_per_word"),
        F.round(flesch, 4).alias("flesch"),
        F.round(fk, 4).alias("fk_grade"),
    )


def fertility_profile(
    df: DataFrame,
    text_col: str = "text",
    group_cols: tuple = ("source", "lang"),
    tokens_col=None,
) -> DataFrame:
    """Tokenizer-fertility audit per group (source × lang by default):
    how many tokens the tokenizer spends per word and how many
    characters each token covers. Multilingual pipelines watch this
    because a vocabulary tuned for English can burn 3-5x the tokens per
    word on other scripts — fertility (tokens/word) is the standard
    metric (SentencePiece / mBERT literature), and a fertility spike
    per (source, lang) slice is a tokenizer-mismatch alarm no per-doc
    gate raises.

    Token counts come from the BPE-ish alnum-run proxy
    (``regex_token_count``) unless ``tokens_col`` names a real
    ``array<int>`` token-id column, in which case its ``size`` is used.
    Ratios are SINGLE divisions of exact BIGINT sums (ratio-of-sums ==
    corpus-level fertility — NOT the mean of per-doc ratios, which
    overweights short docs); zero denominators yield NULL.

    Scale shape: ONE map-side-combinable aggregation over the scan;
    output is |groups| rows. Null group values coalesce to
    ``'__null__'`` (histogram convention); null text counts zeros.
    """
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    has = t.isNotNull() & (F.length(t) > 0)
    n_words = F.when(has, F.size(words_col(t))).otherwise(F.lit(0))
    if tokens_col is None:
        n_toks = F.when(has, regex_token_count(t)).otherwise(F.lit(0))
    else:
        c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
        n_toks = F.coalesce(F.size(c), F.lit(0))
    n_chars = F.coalesce(F.length(t), F.lit(0))
    keys = [
        F.coalesce(F.col(g).cast("string"), F.lit("__null__")).alias(g)
        for g in group_cols
    ]
    agg = df.select(*keys, n_chars.alias("_c"), n_words.alias("_w"),
                    n_toks.alias("_t")).groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_c").cast("long").alias("sum_chars"),
        F.sum("_w").cast("long").alias("sum_words"),
        F.sum("_t").cast("long").alias("sum_tokens"),
    )
    cpt = F.when(
        F.col("sum_tokens") > 0,
        F.col("sum_chars").cast("double") / F.col("sum_tokens").cast("double"),
    )
    tpw = F.when(
        F.col("sum_words") > 0,
        F.col("sum_tokens").cast("double") / F.col("sum_words").cast("double"),
    )
    return agg.select(
        *group_cols,
        "n_docs",
        "sum_chars",
        "sum_words",
        "sum_tokens",
        F.round(cpt, 6).alias("chars_per_token"),
        F.round(tpw, 6).alias("fertility"),
    )


def vocab_overlap(
    df: DataFrame,
    tokens_col: str = "tokens",
    group_col: str = "source",
) -> DataFrame:
    """Source-pair VOCABULARY overlap: distinct-token Jaccard and both
    containments for every group pair. Document-level overlap
    (``dedup.cross_source_duplication``) catches wholesale ingestion;
    this is the coarser lens that catches REGISTER overlap — two
    sources writing about the same things in the same words — and its
    inverse: a source whose vocabulary barely intersects the rest is a
    language/encoding outlier worth a langid/mojibake pass.

    Scale shape: the corpus collapses to DISTINCT (group, token) in ONE
    exchange — everything after is vocabulary-sized, never
    document-sized. The token self-join fans out at most |groups| per
    (token, group) row, and the full |groups|²/2 pair matrix (including
    zero-overlap pairs — absence would read as "no data") comes from a
    broadcast cross of the |groups|-row size table. Null tokens are
    dropped; null groups coalesce to ``'__null__'``.
    """
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    base = (
        df.select(
            F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
            .alias("group"),
            F.explode(toks).alias("token"),
        )
        .where(F.col("token").isNotNull())
        .distinct()
    )
    sizes = base.groupBy("group").agg(F.count(F.lit(1)).alias("n_vocab"))
    inter = (
        base.alias("a")
        .join(base.alias("b"), "token")
        .where(F.col("a.group") < F.col("b.group"))
        .groupBy(
            F.col("a.group").alias("g1"), F.col("b.group").alias("g2")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    pairs = (
        sizes.select(F.col("group").alias("g1"), F.col("n_vocab").alias("n1"))
        .crossJoin(
            F.broadcast(
                sizes.select(
                    F.col("group").alias("g2"), F.col("n_vocab").alias("n2")
                )
            )
        )
        .where(F.col("g1") < F.col("g2"))
    )
    out = pairs.join(F.broadcast(inter), ["g1", "g2"], "left").withColumn(
        "n_common", F.coalesce(F.col("n_common"), F.lit(0))
    )
    union = F.col("n1") + F.col("n2") - F.col("n_common")
    return out.select(
        "g1",
        "g2",
        "n1",
        "n2",
        F.col("n_common").cast("long").alias("n_common"),
        F.round(F.col("n_common").cast("double") / union.cast("double"), 6)
        .alias("jaccard"),
        F.round(
            F.col("n_common").cast("double") / F.col("n1").cast("double"), 6
        ).alias("containment_1"),
        F.round(
            F.col("n_common").cast("double") / F.col("n2").cast("double"), 6
        ).alias("containment_2"),
    )


def pmi_collocations(
    df: DataFrame,
    tokens_col: str = "tokens",
    top_k: int = 50,
    min_count: int = 5,
    scale_bits: int = 20,
) -> DataFrame:
    """Top-k adjacent-pair collocations by pointwise mutual information:
    ``pmi(t1, t2) = log2(c12 * N / (c1+ * c+2))`` with c1+ / c+2 the
    positional (left/right) marginals and N the total pair count — the
    lexical-association audit that surfaces boilerplate ("all rights
    reserved"), templated spam, and tokenizer damage as unnaturally
    glued pairs. ``min_count`` floors c12 because PMI is noise-maximal
    on hapax pairs (a pair seen once between two rare tokens scores
    near log2(N)).

    PMI is emitted fixed-point (``floor(log2(ratio) * 2^scale_bits)``
    as bigint, the bigram_model discipline) with the ratio formed as
    ONE double division of two double products — counts are cast to
    double BEFORE multiplying because c12 * N overflows int64 once N
    reaches ~10^12 pairs, exactly the target scale — so both engines
    run the identical IEEE op sequence. Ties (same pmi_fixed) break on
    (t1 asc, t2 asc); rank is dense over that total order, so the
    top-k cut is deterministic.

    Scale shape: one explode + one (t1, t2) map-side-combinable count;
    both marginals and N re-aggregate the |bigrams| pair frame (no
    second corpus pass); marginal joins ride the pair frame; the
    global top-k is ``orderBy().limit(k)`` — TakeOrderedAndProject,
    i.e. per-partition top-k then a k-row merge, never a global sort —
    and the rank window runs over the <= k survivors only.
    """
    if top_k < 1:
        raise ValueError("top_k must be >= 1, got %r" % (top_k,))
    if min_count < 1:
        raise ValueError("min_count must be >= 1, got %r" % (min_count,))
    from pyspark.sql import Window

    s = float(1 << scale_bits)
    pairs = (
        df.select(F.explode(_adjacent_pairs(tokens_col)).alias("p"))
        .select(F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
    )
    c12 = pairs.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("c12"))
    left = c12.groupBy("t1").agg(F.sum("c12").alias("c1"))
    right = c12.groupBy("t2").agg(F.sum("c12").alias("c2"))
    n_tot = c12.agg(F.sum("c12").alias("n_pairs"))
    scored = (
        c12.where(F.col("c12") >= F.lit(int(min_count)))
        .join(left, "t1")
        .join(right, "t2")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "t1",
            "t2",
            "c12",
            F.floor(
                F.log2(
                    (F.col("c12").cast("double")
                     * F.col("n_pairs").cast("double"))
                    / (F.col("c1").cast("double")
                       * F.col("c2").cast("double"))
                )
                * F.lit(s)
            )
            .cast("long")
            .alias("pmi_fixed"),
        )
    )
    order = [
        F.col("pmi_fixed").desc(), F.col("t1").asc(), F.col("t2").asc()
    ]
    # global top-k as TakeOrderedAndProject (per-partition top-k, then a
    # k-row merge on the driver side of the exchange — never a global
    # sort); the rank window then runs over <= k rows, so its
    # single-partition shape is irrelevant at any corpus size
    top = scored.orderBy(*order).limit(int(top_k))
    w = Window.orderBy(*order)
    return top.select(
        F.row_number().over(w).cast("long").alias("rk"),
        "t1", "t2", "c12", "pmi_fixed",
    )


def position_entropy(
    df: DataFrame,
    tokens_col: str = "tokens",
    max_pos: int = 32,
    scale_bits: int = 20,
) -> DataFrame:
    """Per-POSITION token entropy over the first ``max_pos`` positions
    of every sequence — the templated-prefix detector. A healthy corpus
    has high entropy at every position; boilerplate openings ("Chapter
    1", injected headers, a tokenizer emitting a constant prefix)
    crater it, and the per-position view localizes HOW DEEP the
    template runs, which a whole-document entropy average hides.

    Returns one row per position 1..max_pos seen: (pos, n_seqs,
    n_distinct, entropy_bits, top_token, top_frac). Entropy uses the
    fixed-point discipline (``H = log2(N) - (sum c*floor(log2(c)*2^s))
    / 2^s / N``) so the bigint term sum is associative and the oracle
    bit-exact; top-token ties break to the smallest token value.

    Scale shape: a map-only slice to ``max_pos`` elements bounds the
    explode at max_pos rows/doc (NOT sequence length); ONE
    (pos, token) map-side-combinable count is the only corpus-wide
    exchange; the per-position window runs on the counts frame
    (bounded by max_pos x per-position vocabulary).
    """
    if max_pos < 1:
        raise ValueError("max_pos must be >= 1, got %r" % (max_pos,))
    from pyspark.sql import Window

    s = float(1 << scale_bits)
    toks = F.slice(
        F.filter(F.col(tokens_col), lambda t: t.isNotNull()),
        1,
        int(max_pos),
    )
    pe = df.where(F.col(tokens_col).isNotNull()).select(
        F.posexplode(toks).alias("_pos0", "_tok")
    )
    counts = pe.groupBy(
        (F.col("_pos0") + 1).alias("pos"), F.col("_tok")
    ).agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy("pos")
    term = (F.floor(F.log2("_c") * F.lit(s)).cast("long") * F.col("_c"))
    ranked = counts.select(
        "pos",
        "_tok",
        "_c",
        F.row_number()
        .over(w.orderBy(F.col("_c").desc(), F.col("_tok").asc()))
        .alias("_rk"),
        F.sum("_c").over(w).alias("n_seqs"),
        F.count(F.lit(1)).over(w).alias("n_distinct"),
        F.sum(term).over(w).alias("_hf"),
    )
    n = F.col("n_seqs").cast("double")
    return ranked.where(F.col("_rk") == 1).select(
        F.col("pos").cast("int").alias("pos"),
        "n_seqs",
        "n_distinct",
        F.round(
            F.log2(n) - (F.col("_hf").cast("double") / F.lit(s)) / n, 6
        ).alias("entropy_bits"),
        F.col("_tok").cast("string").alias("top_token"),
        F.round(F.col("_c").cast("double") / n, 6).alias("top_frac"),
    )


def oov_profile(
    df: DataFrame,
    vocab: DataFrame,
    tokens_col: str = "tokens",
    group_col: str = "source",
) -> DataFrame:
    """Per-group out-of-vocabulary profile against a reference ``vocab``
    frame (one ``token`` column): token-level OOV rate (occurrence-
    weighted) and type-level OOV rate (distinct tokens) — the
    closed-vocabulary conformance gate. A tokenizer/vocab mismatch
    between pipeline stages shows up here as a type-OOV explosion long
    before a TokenRangeCheck fires (ids can be in-range and still be
    the WRONG vocab's ids).

    Scale shape: the exploded corpus pre-aggregates to (group, token)
    counts BEFORE touching the vocab — the only corpus-wide exchange
    carries |groups| x vocab-sized keys after map-side combine — then
    ONE broadcast-able left join against the distinct vocab marks each
    type, and a |groups|-row agg finishes. Null tokens are excluded
    (they surface through null-rate checks).
    """
    toks = (
        df.select(
            F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
            .alias("group"),
            F.explode(F.col(tokens_col)).alias("_tok"),
        )
        .where(F.col("_tok").isNotNull())
        .groupBy("group", "_tok")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    v = vocab.select(
        F.col("token").alias("_tok"), F.lit(True).alias("_in_vocab")
    ).distinct()
    marked = toks.join(F.broadcast(v), "_tok", "left").select(
        "group",
        "_c",
        F.coalesce(F.col("_in_vocab"), F.lit(False)).alias("_iv"),
    )
    return marked.groupBy("group").agg(
        F.sum("_c").alias("n_tokens"),
        F.sum(F.when(~F.col("_iv"), F.col("_c")).otherwise(F.lit(0))).alias(
            "n_oov"
        ),
        F.round(
            F.sum(F.when(~F.col("_iv"), F.col("_c")).otherwise(F.lit(0)))
            .cast("double")
            / F.sum("_c").cast("double"),
            6,
        ).alias("oov_rate"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum((~F.col("_iv")).cast("long")).alias("n_oov_types"),
        F.round(
            F.sum((~F.col("_iv")).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("type_oov_rate"),
    )


def source_cross_entropy(
    df: DataFrame,
    tokens_col: str = "tokens",
    group_col: str = "source",
    scale_bits: int = 20,
    alpha: float = 1.0,
) -> DataFrame:
    """Pairwise source-to-source unigram cross-entropy matrix (bits per
    token): H(src → ref) = −Σ_t p_src(t)·log2 p̂_ref(t) with add-alpha
    smoothing over the GLOBAL vocabulary — "how surprised is ref's
    unigram model by src's tokens". The |sources|² matrix is the
    mixture-design map: near-diagonal blocks are interchangeable
    sources, a high H(new → everything) row is a genuinely novel
    source worth upweighting, and H(s→ref) spiking release-over-release
    is a per-source drift alarm with an information-theoretic unit.

    Smoothing: p̂_ref(t) = (c_ref(t) + α)/(n_ref + α·|V|), |V| = exact
    global distinct-token count, so absent tokens cost a finite
    per-ref constant instead of an infinity.

    Determinism: log-probs are FIXED-POINT bigints
    (floor(log2·2^scale_bits), the unigram_model discipline), so every
    Σ c_src(t)·lq is an exact integer sum — associative, partial-agg
    safe, bit-identical to the DuckDB oracle; tokens absent from ref
    contribute in closed form ((n_src − shared_mass)·lq_absent), so the
    absent side is never materialized.

    Scale shape: one (group, token) count exchange (map-side combined,
    |V|·|sources| rows after), one token equi-join carrying
    |V|·|present-pairs| rows into a (src, ref) re-aggregation, and a
    |sources|² grid assembly — no corpus-sized shuffle after the first
    count. Exactness bound: |c·lq| sums stay under 2^63 while
    n_src·2^scale_bits·log2(V) < 2^63 (at 10^12 tokens keep scale_bits
    ≤ 20). Returns (src, ref, h_bits) including the diagonal (the
    smoothed self-entropy — the floor of its row by Gibbs' inequality,
    a cheap self-test).
    """
    if alpha <= 0:
        raise ValueError("source_cross_entropy: alpha must be > 0")
    s = float(1 << scale_bits)
    toks = df.select(
        F.coalesce(F.col(group_col).cast("string"), F.lit("__null__")).alias(
            "group"
        ),
        F.explode(F.col(tokens_col)).alias("token"),
    ).where(F.col("token").isNotNull())
    counts = toks.groupBy("group", "token").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("group").agg(F.sum("c").alias("n"))
    vocab = counts.agg(F.count_distinct(F.col("token")).alias("v"))
    denom = F.log2(
        F.col("n").cast("double") + F.lit(alpha) * F.col("v").cast("double")
    )
    lm = (
        counts.join(totals, "group")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("group").alias("ref"),
            "token",
            F.floor(
                (F.log2(F.col("c").cast("double") + F.lit(alpha)) - denom)
                * F.lit(s)
            )
            .cast("long")
            .alias("lq"),
        )
    )
    absent = totals.crossJoin(F.broadcast(vocab)).select(
        F.col("group").alias("ref"),
        F.floor((F.log2(F.lit(alpha)) - denom) * F.lit(s))
        .cast("long")
        .alias("lq_abs"),
    )
    pairs = (
        counts.select(F.col("group").alias("src"), "token", "c")
        .join(lm, "token")
        .groupBy("src", "ref")
        .agg(
            F.sum(F.col("c") * F.col("lq")).alias("_ss"),
            F.sum("c").alias("_sm"),
        )
    )
    grid = totals.select(
        F.col("group").alias("src"), F.col("n").alias("_n_src")
    ).crossJoin(absent)
    total = F.coalesce(F.col("_ss"), F.lit(0)) + (
        F.col("_n_src") - F.coalesce(F.col("_sm"), F.lit(0))
    ) * F.col("lq_abs")
    return grid.join(pairs, ["src", "ref"], "left").select(
        "src",
        "ref",
        F.round(
            -(total.cast("double"))
            / (F.col("_n_src").cast("double") * F.lit(s)),
            4,
        ).alias("h_bits"),
    )


def freq_spectrum(
    df: DataFrame,
    text_col: str = "text",
    group_col: str | None = None,
    log2_buckets: bool = True,
) -> DataFrame:
    """Token frequency-of-frequencies spectrum (Good-Turing N_r): how
    many distinct token TYPES occur exactly r times, and how much token
    mass they carry. The vocabulary-health lens the smoothing
    literature builds on: a fat singleton bucket (r=1) flags
    OCR/mojibake/ID leakage into the vocabulary; a missing singleton
    tail flags template floods; N_1/N (the Good-Turing estimate of
    unseen-type mass) falls straight out of the output.

    Returns one row per (group,) freq bucket:
    (group?, freq_bucket, min_count, n_types, token_mass) where
    ``freq_bucket = floor(log2(r))`` when ``log2_buckets`` (raw r is
    unbounded — log buckets keep the output frame constant-sized),
    ``min_count = 2^bucket`` (the bucket's lower edge), ``n_types`` =
    distinct tokens whose corpus (or group) count lands in the bucket,
    ``token_mass`` = their summed occurrences.

    Scale shape: two map-side-combinable aggregations — (group?, token)
    counts, then the spectrum rollup over the |vocab|-row frame — and
    nothing else; no windows, no joins, no explode beyond the token
    split itself. Null texts/tokens contribute nothing.
    """
    toks = df.select(
        *([F.col(group_col).alias("group")] if group_col else []),
        F.explode(F.split(F.col(text_col), " ")).alias("_tok"),
    ).where(F.col("_tok").isNotNull() & (F.col("_tok") != ""))
    gcols = ["group"] if group_col else []
    counts = toks.groupBy(*gcols, "_tok").agg(
        F.count(F.lit(1)).alias("_r")
    )
    if log2_buckets:
        # floor(log2(r)) for integer r >= 1 as bit-length - 1 — pure
        # integer math, so exact powers of two can never straddle a
        # bucket edge on float-log rounding (engines disagree there)
        bucket = (F.length(F.bin(F.col("_r"))) - 1).cast("int")
        # F.shiftleft only takes a literal shift — SQL form takes a column
        min_count = F.expr("shiftleft(CAST(1 AS BIGINT), freq_bucket)")
    else:
        bucket = F.col("_r").cast("int")
        min_count = F.col("freq_bucket").cast("long")
    return (
        counts.select(*gcols, bucket.alias("freq_bucket"), "_r")
        .groupBy(*gcols, "freq_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("_r").alias("token_mass"),
        )
        .select(
            *gcols,
            "freq_bucket",
            min_count.alias("min_count"),
            "n_types",
            "token_mass",
        )
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    keep_cols: tuple = ("doc_id", "source"),
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the classic
    information-density quality gate (C4/Dolma-family pipelines drop
    documents that compress too well: templated boilerplate, repeated
    spans, and scraped navigation chrome all collapse under DEFLATE
    long before an n-gram heuristic names the repetition). The inverse
    failure (ratio ~ 1) flags binary-in-text and encoding damage that
    mojibake_scan's pattern list can miss.

    Returns ``keep_cols`` + (raw_bytes, z_bytes, ratio 6-dp): UTF-8
    byte counts and ``z_bytes / raw_bytes`` (null text -> zero bytes,
    null ratio — never dropped, so row counts are stable for joins).

    Scale shape: ONE Arrow-batched ``mapInPandas`` pass, map-only (no
    shuffle, no state); column pruning reaches the scan because the
    kernel input is pre-projected to keep_cols + text. DEFLATE is
    genuinely inexpressible in Spark SQL / any SQL oracle, so this is
    one of the documented Arrow-kernel operators:
    the driver gate covers it rows-only, and semantics are pinned by
    construction tests (templated text compresses ~an order of
    magnitude better than high-entropy text; ratio is invariant to
    partitioning). Aggregate downstream with exact integer byte sums
    (``sum(z_bytes)/sum(raw_bytes)``), never by averaging ratios.
    """
    import zlib
    from typing import Iterator

    import pandas as pd

    if not (0 <= int(level) <= 9):
        raise ValueError("level must be in [0, 9], got %r" % (level,))
    keep = list(keep_cols)
    clash = set(keep) & {"raw_bytes", "z_bytes", "ratio"}
    if clash:
        raise ValueError(
            "compression_ratio: keep_cols collide with output columns: "
            "%s" % sorted(clash)
        )
    pruned = df.select(*keep, F.col(text_col).alias("_txt"))
    out_schema = ", ".join(
        "`%s` %s" % (c, dict(df.dtypes)[c]) for c in keep
    ) + ", raw_bytes long, z_bytes long, ratio double"
    lv = int(level)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raws, zs, ratios = [], [], []
            for t in pdf["_txt"]:
                if t is None or (isinstance(t, float) and pd.isna(t)):
                    raws.append(0)
                    zs.append(0)
                    ratios.append(None)
                    continue
                b = str(t).encode("utf-8")
                z = len(zlib.compress(b, lv))
                raws.append(len(b))
                zs.append(z)
                ratios.append(
                    round(z / len(b), 6) if len(b) > 0 else None
                )
            out = pdf[keep].copy()
            out["raw_bytes"] = pd.Series(raws, dtype="int64")
            out["z_bytes"] = pd.Series(zs, dtype="int64")
            out["ratio"] = pd.Series(ratios, dtype="float64")
            yield out

    return pruned.mapInPandas(kernel, schema=out_schema)


def compression_profile(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    level: int = 6,
) -> DataFrame:
    """Per-group pooled compression profile over
    :func:`compression_ratio`: (group, n_docs, raw_bytes, z_bytes,
    pooled_ratio 6-dp, bits_per_byte 4-dp). Pooled = exact integer
    byte sums divided ONCE (parallelism-invariant — a mean of
    per-doc ratios would weight a tweet like a book); null groups
    coalesce to '__null__'. One map-only kernel pass + one map-side-
    combinable groupBy of |groups| rows."""
    per_doc = compression_ratio(
        df, text_col=text_col, keep_cols=(group_col,), level=level
    )
    agg = (
        per_doc.groupBy(
            F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
            .alias("group")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("z_bytes").alias("z_bytes"),
        )
    )
    ok = F.col("raw_bytes") > 0
    return agg.select(
        "group",
        "n_docs",
        F.col("raw_bytes").cast("long").alias("raw_bytes"),
        F.col("z_bytes").cast("long").alias("z_bytes"),
        F.round(
            F.when(ok, F.col("z_bytes").cast("double") / F.col("raw_bytes")),
            6,
        ).alias("pooled_ratio"),
        F.round(
            F.when(
                ok,
                F.col("z_bytes").cast("double") * 8.0 / F.col("raw_bytes"),
            ),
            4,
        ).alias("bits_per_byte"),
    )


def token_burstiness(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    min_df: int = 5,
    top_n: int = 100,
) -> DataFrame:
    """Church–Gale burstiness audit: content-bearing tokens cluster
    ("burst") inside the few documents that use them, while function
    words spread evenly — so a token whose occurrences concentrate far
    beyond Poisson is topical (or boilerplate being stamped into a
    subset of docs), and a supposedly-rare token with flat spread is a
    tokenizer artifact.  Per token (of at least ``min_df`` containing
    docs): document frequency ``df``, corpus frequency ``cf``,
    ``burstiness = cf/df`` (mean occurrences per *containing* doc — the
    Church–Gale statistic), and the variance-to-mean ratio ``vmr``
    across containing docs (1 ≈ Poisson, >>1 = bursty).  Returns the
    ``top_n`` burstiest (ties broken token-ascending).

    Cross-engine determinism: df/cf/Σc² are exact BIGINTs (per-doc
    counts are bounded by doc length, squares by its square); the
    derived ratios are a fixed sequence of IEEE ops mirrored verbatim
    in the oracle SQL, each rounded once at the end.

    Scale shape: explode fans out ~total-token rows but the
    ``groupBy(token, doc)`` count partially aggregates map-side within
    each doc's rows before the exchange; the per-token pass is again
    map-side combinable sums.  The final global top-n compiles to
    TakeOrderedAndProject (per-task bounded heap, no single-task sort
    of the vocabulary).  A 10^12-token corpus runs two combine-friendly
    exchanges and ships top_n rows to the driver.
    """
    if min_df < 1:
        raise ValueError("token_burstiness: min_df must be >= 1")
    per_doc = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(F.col(tokens_col)).alias("token"),
        )
        .where(F.col("token").isNotNull())
        .groupBy("token", "doc")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_tok = per_doc.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").cast("long").alias("cf"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sumsq"),
    )
    dfd = F.col("df").cast("double")
    mean = F.col("cf").cast("double") / dfd
    var = F.col("sumsq").cast("double") / dfd - mean * mean
    scored = per_tok.where(F.col("df") >= min_df).select(
        "token",
        "df",
        "cf",
        "sumsq",
        F.round(mean, 6).alias("burstiness"),
        F.round(var / mean, 6).alias("vmr"),
    )
    return scored.orderBy(
        F.col("burstiness").desc(), F.col("token").asc()
    ).limit(top_n)


def chao1_richness(
    df: DataFrame,
    tokens_col: str = "tokens",
    group_col: str = "source",
) -> DataFrame:
    """Chao1 vocabulary-richness estimate per group: how many distinct
    tokens the source's *population* holds, extrapolated from the
    singleton/doubleton counts of the sample — the "how much vocabulary
    have we NOT seen yet" monitor that says whether another crawl of
    the same source buys new types or just repeats.  Bias-corrected
    Chao1 = V + f1·(f1−1)/(2·(f2+1)); Good–Turing sample coverage
    C = 1 − f1/N is the companion "probability the next token is a
    known type".  Complements :func:`heaps_fit` (growth CURVE) with a
    point estimate of the asymptote.

    Cross-engine determinism: V/N/f1/f2 and the numerator f1·(f1−1)
    are exact BIGINTs; the two ratios are single IEEE divisions
    mirrored in the oracle SQL, rounded once.

    Scale shape: the token-frequency pass is the vocab_topk exchange
    (explode + map-side-combinable groupBy(group, token)); the spectrum
    collapse is a second combinable aggregate over |vocab| rows.  No
    window, no Python.
    """
    freq = (
        df.select(
            F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
            .alias("group"),
            F.explode(F.col(tokens_col)).alias("token"),
        )
        .where(F.col("token").isNotNull())
        .groupBy("group", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    agg = freq.groupBy("group").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum("f").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
    )
    chao = (
        F.col("vocab").cast("double")
        + (F.col("f1") * (F.col("f1") - 1)).cast("double")
        / (F.lit(2.0) * (F.col("f2") + 1).cast("double"))
    )
    return agg.select(
        "group",
        "vocab",
        "total_tokens",
        "f1",
        "f2",
        F.round(chao, 2).alias("chao1"),
        F.round(
            F.when(
                F.col("total_tokens") > 0,
                F.lit(1.0)
                - F.col("f1").cast("double")
                / F.col("total_tokens").cast("double"),
            ),
            6,
        ).alias("coverage"),
    )
