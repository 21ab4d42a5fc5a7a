"""Text-analysis operators over document tables (north-star extension;
SURVEY §7.2 M7): tokenization, token counting, quality scoring, n-gram
language ID, document fingerprinting.

All expressions are Spark built-ins (JVM whole-stage codegen) — no Python in
the hot path — and use only arithmetic/regex/md5 primitives that DuckDB
evaluates identically, so every operator here is oracle-checkable at sf0.01
and embarrassingly parallel (no shuffle) at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..errors import ParameterException
from ..operators._util import resolve_col, spread, with_columns_sql
from ..registry import renderer, spark_transform
from ._hash import norm_fp, tokens_expr


def _tokens_sql(t: str) -> str:
    """Spark-SQL rendering of tokens_expr (renderer parity path)."""
    cleaned = f"trim(regexp_replace(lower({t}), '[^a-z0-9\\\\s]', ' '))"
    return (
        f"CASE WHEN {cleaned} = '' THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE split({cleaned}, '\\\\s+') END"
    )


def _norm_sql(t: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower({t}), '[^a-z0-9\\\\s]', ' '), "
        f"'\\\\s+', ' '))"
    )

# BPE-ish word/punctuation splitter: alphanumeric runs or single non-space
# symbols — a crude stand-in for subword tokenization with the same cost
# profile (single regex pass).
BPE_ISH_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword inventories for the n-gram heuristic. Word-
# boundary regexes keep this a single vectorized pass per language.
LANG_STOPWORDS = {
    "en": r"\b(the|and|of|to|in|is|that|it|was|for)\b",
    "es": r"\b(el|la|de|que|y|en|los|se|del|las)\b",
    "fr": r"\b(le|les|des|et|est|une|du|dans|pour|que)\b",
    "de": r"\b(der|die|und|das|von|zu|mit|den|ist|im)\b",
}


@spark_transform("text_tokenize", category="text")
def text_tokenize(df: DataFrame, text: str, name: str = "TOKENS") -> DataFrame:
    """Whitespace tokens of lowercased, punctuation-stripped text."""
    return df.withColumn(name, tokens_expr(F.col(resolve_col(df, text))))


@renderer("text_tokenize")
def _r_text_tokenize(source, text, name="TOKENS") -> str:
    return f"SELECT *, {_tokens_sql(text)} AS {name} FROM {source}"


@spark_transform("token_count", category="text")
def token_count(
    df: DataFrame,
    text: str,
    method: str = "whitespace",
    name: str = "TOKEN_COUNT",
    merges=None,
) -> DataFrame:
    """Token count: 'whitespace' (word tokens), 'bpe_ish' (alnum runs +
    individual symbols — a fast subword-cost proxy), or 'bpe' (REAL
    byte-pair encoding: trained merge rules applied in rank order as a
    shuffle-free JVM replace fold — see ``functions/bpe.py``).
    ``merges`` overrides the default table (``bpe.DEFAULT_BPE_MERGES``,
    trained on the public test corpus); retrain with ``bpe.train_bpe``."""
    c = F.col(resolve_col(df, text))
    if method == "whitespace":
        out = F.size(tokens_expr(c))
    elif method == "bpe_ish":
        out = F.regexp_count(c, F.lit(BPE_ISH_PATTERN))
    elif method == "bpe":
        from .bpe import DEFAULT_BPE_MERGES, bpe_count_expr

        out = bpe_count_expr(c, merges if merges is not None else DEFAULT_BPE_MERGES)
    else:
        raise ParameterException("method must be 'whitespace', 'bpe_ish', or 'bpe'")
    return df.withColumn(name, out.cast("bigint"))


@renderer("token_count")
def _r_token_count(source, text, method="whitespace", name="TOKEN_COUNT", merges=None) -> str:
    if method == "whitespace":
        expr = f"size({_tokens_sql(text)})"
    elif method == "bpe":
        # Spark-SQL rendering of the same replace fold (renderer parity —
        # the DuckDB oracle uses functions/bpe.py::bpe_count_sql instead)
        from .bpe import DEFAULT_BPE_MERGES, bpe_count_spark_sql

        m = merges if merges is not None else DEFAULT_BPE_MERGES
        expr = bpe_count_spark_sql(text, m, _tokens_sql(text))
    else:
        expr = f"regexp_count({text}, '[A-Za-z0-9]+|[^A-Za-z0-9\\\\s]')"
    return f"SELECT *, CAST({expr} AS BIGINT) AS {name} FROM {source}"


@spark_transform("text_quality", category="text")
def text_quality(df: DataFrame, text: str) -> DataFrame:
    """Heuristic quality features + score: N_CHARS, N_TOKENS, ALPHA_RATIO,
    DIGIT_RATIO, PUNCT_RATIO, QUALITY_SCORE ∈ [0,1].

    Score = 0.5·min(1, tokens/100) + 0.35·alpha_ratio + 0.15·(1 − punct_ratio)
    — a documented, deterministic formula (the point is the plumbing and the
    cost profile, not linguistic perfection).
    """
    c = F.col(resolve_col(df, text))
    n_chars = F.length(c).cast("bigint")
    n_tokens = F.size(tokens_expr(c)).cast("bigint")
    nz = F.when(n_chars > 0, n_chars.cast("double"))
    alpha = (F.regexp_count(c, F.lit(r"[A-Za-z]")).cast("double") / nz)
    digit = (F.regexp_count(c, F.lit(r"[0-9]")).cast("double") / nz)
    punct = (F.regexp_count(c, F.lit(r"[.,;:!?]")).cast("double") / nz)
    alpha, digit, punct = [F.coalesce(x, F.lit(0.0)) for x in (alpha, digit, punct)]
    score = (
        F.least(F.lit(1.0), n_tokens.cast("double") / 100.0) * 0.5
        + alpha * 0.35
        + (1.0 - punct) * 0.15
    )
    return df.withColumns(
        {
            "N_CHARS": n_chars,
            "N_TOKENS": n_tokens,
            "ALPHA_RATIO": alpha,
            "DIGIT_RATIO": digit,
            "PUNCT_RATIO": punct,
            "QUALITY_SCORE": score,
        }
    )


@renderer("text_quality")
def _r_text_quality(source, text, _input_columns=()) -> str:
    nz = f"CASE WHEN length({text}) > 0 THEN CAST(length({text}) AS DOUBLE) END"
    ratio = lambda pat: f"COALESCE(CAST(regexp_count({text}, '{pat}') AS DOUBLE) / ({nz}), 0.0)"  # noqa: E731
    alpha, digit, punct = ratio("[A-Za-z]"), ratio("[0-9]"), ratio("[.,;:!?]")
    ntok = f"CAST(size({_tokens_sql(text)}) AS BIGINT)"
    score = (
        f"LEAST(1.0, CAST({ntok} AS DOUBLE) / 100.0) * 0.5 + ({alpha}) * 0.35 "
        f"+ (1.0 - ({punct})) * 0.15"
    )
    exprs = {
        "N_CHARS": f"CAST(length({text}) AS BIGINT)",
        "N_TOKENS": ntok,
        "ALPHA_RATIO": alpha,
        "DIGIT_RATIO": digit,
        "PUNCT_RATIO": punct,
        "QUALITY_SCORE": score,
    }
    return with_columns_sql(source, exprs, _input_columns)


# language_id(method='model') uses the pivoted (one ln-P array per bucket)
# scoring path up to this many labels; beyond it, the general label
# fan-out path. Module-level so the equivalence test can force the
# general path on the same fixture.
_PIVOT_MAX_LABELS = 64


def _char_ngrams_expr(norm, n: int):
    """Array of character n-grams of a normalized string (empty array when
    shorter than n — sequence() would DESCEND on stop < start)."""
    return F.when(
        F.length(norm) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(norm) - n + 1),
            lambda j: F.substring(norm, j, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


@spark_transform("language_id", category="text")
def language_id(
    df: DataFrame,
    text: str,
    name: str = "LANG_PRED",
    method: str = "stopwords",
    id_col: str | None = None,
    train: DataFrame | None = None,
    train_text: str | None = None,
    train_label: str | None = None,
    ngram: int = 3,
    n_features: int = 4096,
    alpha: float = 1.0,
    round_to: int = 6,
) -> DataFrame:
    """Language identification.

    ``method='stopwords'`` (default): stopword-frequency scoring over
    {en, es, fr, de}; 'unknown' when no stopword hits. One regexp_count
    pass per language, argmax with a fixed tie order — deterministic,
    row-local, oracle-checkable. The zero-training baseline.

    ``method='model'`` (round 13): a TRAINABLE hashed char-ngram
    multinomial Naive Bayes classifier — the fastText-style recipe
    (public technique: char n-grams + feature hashing, Joulin et al.
    2016; add-alpha multinomial NB as in nb_classify) for the
    multilingual-corpus regime where a fixed stopword list cannot cover
    the label set. Fit on ``train`` (``train_text``/``train_label``
    columns; any label set, not just the four built-ins), or — when
    ``train`` is None — BOOTSTRAPPED from this corpus's confident
    stopword predictions (rows not 'unknown'). Each document's lowercase
    ASCII-letter-normalized text yields character ``ngram``-grams hashed
    into ``n_features`` buckets (md5_int % n_features, the feature_hash
    trick — vocabulary bounded by construction, so the NB denominator
    needs no vocab-count action); per-label bucket counts give
    P(bucket|label) with add-``alpha`` smoothing. Scoring appends
    ``name`` (argmax label; ties -> lexicographically smallest) and
    ``name + '_SCORE'`` — the LENGTH-NORMALIZED joint log-likelihood
    ((sum ln P(b|l) + ln prior) / n_doc_ngrams), rounded to ``round_to``
    BEFORE the argmax so both engines rank identically; normalizing by
    the doc's ngram count is argmax-preserving (same positive divisor
    for every label of a doc) and keeps the rounded magnitude ~1e1, so
    partial-aggregation sum-order noise sits ~9 digits below the
    rounding grid (the staged-rounding determinism contract). Docs with
    zero ngrams fall back to the prior-only argmax with the rounded
    ln-prior as score.

    Scale: training is two vocabulary-bounded count aggregations
    (n_features x labels, labels x 1); scoring explodes slim
    (id, bucket) pairs, fans out by a broadcast label frame (bounded),
    and rolls up per (id, label) — the nb_classify plan shape; zero
    Python, zero collect. Requires ``id_col`` (scores join back by id).
    """
    if method not in ("stopwords", "model"):
        raise ParameterException("method must be 'stopwords' or 'model'")
    if method == "stopwords":
        c = F.lower(F.col(resolve_col(df, text)))
        scores = {lang: F.regexp_count(c, F.lit(pat)) for lang, pat in LANG_STOPWORDS.items()}
        en, es, fr, de = scores["en"], scores["es"], scores["fr"], scores["de"]
        pred = (
            F.when(en + es + fr + de == 0, F.lit("unknown"))
            .when((en >= es) & (en >= fr) & (en >= de), F.lit("en"))
            .when((es >= fr) & (es >= de), F.lit("es"))
            .when(fr >= de, F.lit("fr"))
            .otherwise(F.lit("de"))
        )
        return df.withColumn(name, pred)
    # --- method='model' ---
    from ._hash import md5_int

    if id_col is None:
        raise ParameterException("method='model' requires id_col")
    if ngram < 1:
        raise ParameterException("ngram must be >= 1")
    if n_features < 2 or n_features > 1_048_576:
        raise ParameterException("n_features must be in [2, 1048576]")
    if alpha <= 0:
        raise ParameterException("alpha must be > 0")
    t, i = resolve_col(df, text), resolve_col(df, id_col)
    if train is None:
        boot = language_id(df, text, name="__boot_lang")
        train = boot.filter(F.col("__boot_lang") != "unknown")
        tt, tl = t, "__boot_lang"
    else:
        train = train.df if hasattr(train, "df") else train
        tt = resolve_col(train, train_text or text)
        if train_label is None:
            raise ParameterException(
                "pass train_label (the language column of the train frame)"
            )
        tl = resolve_col(train, train_label)

    def norm_of(col):
        return F.trim(F.regexp_replace(
            F.regexp_replace(F.lower(col), r"[^a-z\s]", " "), r"\s+", " "
        ))

    def buckets(frame, text_col, *keep):
        return frame.select(
            *keep, F.explode(_char_ngrams_expr(norm_of(F.col(text_col)), ngram))
            .alias("__g")
        ).select(*keep, (md5_int(F.col("__g")) % n_features).alias("__b"))

    from ._cache import release_with, scoped_persist

    tbase = spread(train).select(
        F.col(tl).cast("string").alias("__lab"), F.col(tt).alias("__tx")
    )
    tl_counts = (
        buckets(tbase, "__tx", "__lab")
        .groupBy("__b", "__lab")
        .agg(F.count(F.lit(1)).alias("__ctl"))
    )
    # lstats feeds FOUR consumers (candidate labels, the scoring join,
    # the prior join, the fallback) — persist the bounded label-stats
    # frame so the training scan runs once, not once per consumer
    # ngram COUNT by arithmetic, not array construction (round 13): a
    # string of length L has max(L - n + 1, 0) char n-grams — the same
    # count _char_ngrams_expr's array would size to, without building it
    nlen = F.length(norm_of(F.col("__tx")))
    lstats = scoped_persist(tbase.select(
        "__lab",
        F.when(nlen >= ngram, nlen - ngram + 1).otherwise(F.lit(0)).alias("__ng"),
    ).groupBy("__lab").agg(
        F.sum("__ng").cast("double").alias("__cl"),
        F.count(F.lit(1)).cast("double").alias("__dl"),
    ))
    # __n (total training docs) = sum of the per-label doc counts already
    # in the persisted lstats — summing exact integer-valued doubles is
    # exact below 2^53, so this equals count(*) bit-for-bit while removing
    # a third full scan of the training frame (which, on the bootstrap
    # path, re-ran the 4-language stopword regexp pass per consumer)
    gstats = lstats.agg(F.sum("__dl").alias("__n"))
    # candidate labels = labels with ngram MASS in training: a label whose
    # docs all normalize to zero ngrams has no likelihood model (its
    # smoothed score ln(alpha/(0 + alpha*V)) would beat every real label
    # on unmatched buckets) — it stays in the priors/doc counts but can
    # only be predicted via the empty-doc prior fallback, exactly the
    # oracle's FROM-tg label set
    labels = lstats.filter(F.col("__cl") > 0).select("__lab")
    # bounded action (distinct labels) — the label VALUES drive the
    # pivoted scoring path below, so collect them instead of counting
    labs = sorted(r["__lab"] for r in labels.collect())
    n_labels = len(labs)
    if n_labels == 0:
        raise ParameterException(
            "training set is empty after normalization — no label has any "
            "char-ngram mass (with train=None this means the stopword "
            "bootstrap found no confident rows; pass a labeled train frame)"
        )
    # per-doc bucket HISTOGRAM before the label fan-out: docs repeat
    # trigrams, so aggregating (id, bucket) -> count first shrinks the
    # label-expanded join by the repetition factor; each repeated bucket
    # contributes count * ln(P) — one multiply per distinct bucket, the
    # identical double in both engines (the oracle groups the same way)
    pairs = buckets(
        spread(df).select(F.col(i).alias("__id"), F.col(t).alias("__tx")),
        "__tx", "__id",
    ).groupBy("__id", "__b").agg(
        F.count(F.lit(1)).cast("double").alias("__cnt"))
    if n_labels <= _PIVOT_MAX_LABELS and n_features * n_labels <= 4_000_000:
        # PIVOTED scoring (round 14, VERDICT r13 item 6): the old shape
        # fanned every (doc, bucket, count) row out by |labels| (crossJoin
        # + count join + (id,label) rollup + per-id row_number window —
        # ~60 core-s/run of real work on the bench corpus). Instead,
        # pivot the bounded (bucket x label) likelihood matrix into ONE
        # ln-P array per bucket (ordered by the sorted label list), join
        # the per-doc bucket histogram ONCE on __b, and roll up per doc
        # with one sum column per label. The argmax becomes a row-local
        # struct-array min — no fan-out rows, no (id,label) shuffle, no
        # window sort. Every summed term is the IDENTICAL double the
        # fan-out produced (same ln expression over the same coalesced
        # counts; covering all n_features buckets makes the histogram
        # join an always-matching inner join), so staged rounding hits
        # the same grid. Struct-min over (-score, label) is exactly the
        # window's (score DESC, label ASC) first row: negation flips the
        # double total order (including -0.0/0.0), and -(-s) restores s
        # bit-for-bit. Guarded to bounded label sets; the label fan-out
        # below remains the general path.
        vec = (
            df.sparkSession.range(n_features).select(F.col("id").alias("__b"))
            .crossJoin(lstats.filter(F.col("__cl") > 0))
            .join(tl_counts, on=["__b", "__lab"], how="left")
            .select(
                "__b", "__lab",
                F.log(
                    (F.coalesce(F.col("__ctl"), F.lit(0)) + F.lit(alpha))
                    / (F.col("__cl") + F.lit(alpha) * F.lit(float(n_features)))
                ).alias("__ll"),
            )
            .groupBy("__b")
            # array_sort on (label, ll) structs orders by label ASC — the
            # same order as the collected `labs`
            .agg(F.array_sort(F.collect_list(F.struct("__lab", "__ll")))
                 .alias("__sv"))
            .select("__b", F.col("__sv.__ll").alias("__lls"))
        )
        scored = (
            pairs.join(F.broadcast(vec), on="__b")
            .groupBy("__id")
            .agg(
                *[F.sum(F.col("__cnt") * F.col("__lls")[k]).alias(f"__s{k}")
                  for k in range(n_labels)],
                F.sum("__cnt").alias("__nd"),
            )
        )
        # per-label ln-priors as one array ordered like `labs`, computed
        # in Spark (not driver literals) so the doubles match the fan-out
        # path and the oracle bit-for-bit
        pri = (
            lstats.filter(F.col("__cl") > 0).crossJoin(gstats)
            .groupBy()
            .agg(F.array_sort(F.collect_list(F.struct(
                "__lab", F.log(F.col("__dl") / F.col("__n")).alias("__lp")
            ))).alias("__pv"))
            .select(F.col("__pv.__lp").alias("__lps"))
        )
        best = (
            scored.crossJoin(F.broadcast(pri))
            .select("__id", F.array_min(F.array(*[
                F.struct(
                    (-F.round(
                        (F.col(f"__s{k}") + F.col("__lps")[k]) / F.col("__nd"),
                        round_to,
                    )).alias("__ns"),
                    F.lit(labs[k]).alias("__l"),
                ) for k in range(n_labels)
            ])).alias("__m"))
            .select("__id", F.col("__m.__l").alias("__pred"),
                    (-F.col("__m.__ns")).alias("__ps"))
        )
    else:
        # GENERAL path (label fan-out) for unbounded label sets. The count
        # table is bounded at n_features x n_labels rows — when that bound
        # is broadcast-sized, say so explicitly so the corpus-sized label
        # fan-out never shuffles or sorts for the count join (the initial
        # plan's one SortMergeJoin; round 13); huge configurations
        # (user-raised n_features x many labels) fall back to AQE
        tl_b = (
            F.broadcast(tl_counts)
            if n_features * n_labels <= 4_000_000 else tl_counts
        )
        scored = (
            pairs.crossJoin(F.broadcast(labels))
            .join(tl_b, on=["__b", "__lab"], how="left")
            .join(F.broadcast(lstats), on="__lab")
            .select(
                "__id", "__lab", "__cnt",
                (F.col("__cnt") * F.log(
                    (F.coalesce(F.col("__ctl"), F.lit(0)) + F.lit(alpha))
                    / (F.col("__cl") + F.lit(alpha) * F.lit(float(n_features)))
                )).alias("__ll"),
            )
            .groupBy("__id", "__lab")
            .agg(F.sum("__ll").alias("__sll"),
                 F.sum("__cnt").alias("__nd"))
        )
        ranked = (
            scored.join(F.broadcast(lstats.select("__lab", "__dl")), on="__lab")
            .crossJoin(F.broadcast(gstats))
            .select(
                "__id", "__lab",
                F.round(
                    (F.col("__sll") + F.log(F.col("__dl") / F.col("__n")))
                    / F.col("__nd"),
                    round_to,
                ).alias("__score"),
            )
        )
        w = Window.partitionBy("__id").orderBy(
            F.col("__score").desc(), F.col("__lab").asc()
        )
        best = (
            ranked.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select("__id", F.col("__lab").alias("__pred"),
                    F.col("__score").alias("__ps"))
        )
    # prior-only fallback for zero-ngram docs (the nb_classify contract):
    # one-row struct-min argmax over the label-bounded stats frame —
    # (-dl, lab) min == highest prior, lexicographically-smallest tie
    prior = (
        lstats.crossJoin(gstats)
        .agg(F.min(F.struct(
            (-F.col("__dl")).alias("__negdl"),
            F.col("__lab").alias("__l"),
            F.round(F.log(F.col("__dl") / F.col("__n")), round_to)
            .alias("__s"),
        )).alias("__m"))
        .select(F.col("__m.__l").alias("__fp"), F.col("__m.__s").alias("__fs"))
    )
    out = (
        df.join(best, F.col(i) == F.col("__id"), "left").drop("__id")
        .crossJoin(F.broadcast(prior))
        .withColumn(name, F.coalesce("__pred", "__fp"))
        .withColumn(f"{name}_SCORE", F.coalesce("__ps", "__fs"))
        .drop("__pred", "__ps", "__fp", "__fs")
    )
    return release_with(out, lstats)


@renderer("language_id")
def _r_language_id(source, text, name="LANG_PRED", method="stopwords",
                   **_model_kwargs) -> str:
    if method != "stopwords":
        # principled exclusion (COVERAGE.md): the model path trains on an
        # auxiliary DataFrame, which the single-source CTE chain cannot
        # name; the executed path is oracle-verified end-to-end instead
        raise ParameterException(
            "language_id(method='model') is not SQL-renderable (auxiliary "
            "training frame); only the stopwords method renders"
        )
    sc = {
        lang: f"regexp_count(lower({text}), '{pat}')".replace("\\b", "\\\\b")
        for lang, pat in LANG_STOPWORDS.items()
    }
    en, es, fr, de = sc["en"], sc["es"], sc["fr"], sc["de"]
    return (
        f"SELECT *, CASE WHEN {en} + {es} + {fr} + {de} = 0 THEN 'unknown' "
        f"WHEN {en} >= {es} AND {en} >= {fr} AND {en} >= {de} THEN 'en' "
        f"WHEN {es} >= {fr} AND {es} >= {de} THEN 'es' "
        f"WHEN {fr} >= {de} THEN 'fr' ELSE 'de' END AS {name} FROM {source}"
    )


@spark_transform("fingerprint", category="text")
def fingerprint(df: DataFrame, text: str, name: str = "FINGERPRINT") -> DataFrame:
    """Normalized-content fingerprint: md5 of lowercased text with
    punctuation stripped and whitespace collapsed. The basis for exact
    near-normalized dedup; identical in DuckDB (md5 + regexp_replace)."""
    return df.withColumn(name, norm_fp(F.col(resolve_col(df, text))))


@renderer("fingerprint")
def _r_fingerprint(source, text, name="FINGERPRINT") -> str:
    return f"SELECT *, md5({_norm_sql(text)}) AS {name} FROM {source}"


@spark_transform("text_chunk", category="text")
def text_chunk(
    df: DataFrame,
    text: str,
    id_col: str,
    chunk_size: int = 512,
    overlap: int = 0,
    tokenizer: str = "whitespace",
    merges=None,
) -> DataFrame:
    """Split documents into token-bounded sliding chunks — the standard
    LLM-training preprocessing step (context-window packing input). Chunk i
    covers tokens [i·stride, i·stride + chunk_size) with stride =
    chunk_size − overlap; the final chunk may be shorter; empty docs yield
    no chunks. Pure JVM array expressions (tokens staged once per row,
    slice+explode) — embarrassingly parallel, no shuffle, no Python.
    Output (id, CHUNK_INDEX, CHUNK_TEXT, CHUNK_TOKENS).

    ``tokenizer='bpe'`` appends CHUNK_BPE_TOKENS — the chunk's cost under
    the trained BPE tokenizer (``merges`` or the default table). Chunk
    BOUNDARIES stay word-aligned (BPE tokens never cross words, so every
    chunk is a whole number of BPE tokens); the BPE column is what a
    context-window budget actually consumes — feed it to pack_sequences."""
    if overlap >= chunk_size:
        raise ParameterException("overlap must be smaller than chunk_size")
    if tokenizer not in ("whitespace", "bpe"):
        raise ParameterException("tokenizer must be 'whitespace' or 'bpe'")
    stride = chunk_size - overlap
    t, i = resolve_col(df, text), resolve_col(df, id_col)
    staged = df.select(F.col(i), tokens_expr(F.col(t)).alias("__toks"))
    n = F.size("__toks")
    num = F.greatest(F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(stride)))
    idx = F.when(n > 0, F.sequence(F.lit(0), (num - 1).cast("int"))).otherwise(
        F.array().cast("array<int>")
    )
    exploded = staged.select(F.col(i), "__toks", F.explode(idx).alias("CHUNK_INDEX"))
    chunk = F.slice(
        F.col("__toks"), F.col("CHUNK_INDEX") * stride + 1, chunk_size
    )
    out = exploded.select(
        F.col(i),
        "CHUNK_INDEX",
        F.concat_ws(" ", chunk).alias("CHUNK_TEXT"),
        F.size(chunk).cast("bigint").alias("CHUNK_TOKENS"),
    )
    if tokenizer == "bpe":
        from .bpe import DEFAULT_BPE_MERGES, bpe_count_expr

        m = merges if merges is not None else DEFAULT_BPE_MERGES
        out = out.withColumn("CHUNK_BPE_TOKENS", bpe_count_expr(F.col("CHUNK_TEXT"), m))
    return out


@renderer("text_chunk")
def _r_text_chunk(
    source, text, id_col, chunk_size=512, overlap=0, tokenizer="whitespace", merges=None
) -> str:
    stride = chunk_size - overlap
    chunk = f"slice(__toks, CHUNK_INDEX * {stride} + 1, {chunk_size})"
    inner = (
        f"SELECT {id_col}, CHUNK_INDEX, concat_ws(' ', {chunk}) AS CHUNK_TEXT, "
        f"CAST(size({chunk}) AS BIGINT) AS CHUNK_TOKENS FROM "
        f"(SELECT {id_col}, __toks, explode(CASE WHEN size(__toks) > 0 THEN "
        f"sequence(0, CAST(GREATEST(1, CEIL((size(__toks) - {overlap}) / {stride})) AS INT) - 1) "
        f"ELSE CAST(array() AS ARRAY<INT>) END) AS CHUNK_INDEX FROM "
        f"(SELECT {id_col}, {_tokens_sql(text)} AS __toks FROM {source}))"
    )
    if tokenizer != "bpe":
        return inner
    from .bpe import DEFAULT_BPE_MERGES, bpe_count_spark_sql

    m = merges if merges is not None else DEFAULT_BPE_MERGES
    cnt = bpe_count_spark_sql("CHUNK_TEXT", m, _tokens_sql("CHUNK_TEXT"))
    return f"SELECT *, CAST({cnt} AS BIGINT) AS CHUNK_BPE_TOKENS FROM ({inner})"


@spark_transform("pack_sequences", category="text", streaming_ok=False)
def pack_sequences(
    df: DataFrame,
    token_count_col: str,
    order_by,
    budget: int,
    by=None,
) -> DataFrame:
    """Concat-stream sequence packing: documents ordered by ``order_by``
    form one token stream per ``by`` group; ``PACK_ID`` = which
    ``budget``-token window the document STARTS in (floor of the exclusive
    prefix sum / budget) — the deterministic assignment used when training
    data is concatenated and cut every ``budget`` tokens. Pass ``by`` (e.g.
    a shard key) at scale: packing is then one partitioned window; without
    it the prefix sum is a global-order window (single-task — fine for
    per-shard post-processing, not for a whole corpus)."""
    from ..operators._util import as_list as _as_list
    from ..operators._util import order_spec as _order_spec
    from ..operators._util import resolve_cols as _resolve_cols
    from pyspark.sql import Window

    tc = resolve_col(df, token_count_col)
    keys = _resolve_cols(df, _as_list(by))
    w = (
        (Window.partitionBy(*keys) if keys else Window.partitionBy())
        .orderBy(*_order_spec(df, order_by))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum(F.col(tc)).over(w), F.lit(0))
    return df.withColumn("PACK_ID", F.floor(prefix / F.lit(budget)).cast("bigint"))


@renderer("pack_sequences")
def _r_pack_sequences(source, token_count_col, order_by, budget, by=None) -> str:
    from ..operators._util import as_list as _as_list
    from ..operators._util import order_sql as _order_sql

    keys = _as_list(by)
    part = f"PARTITION BY {', '.join(keys)} " if keys else ""
    over = (
        f"{part}ORDER BY {_order_sql(order_by)} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    )
    return (
        f"SELECT *, CAST(FLOOR(COALESCE(SUM({token_count_col}) OVER ({over}), 0) "
        f"/ {budget}) AS BIGINT) AS PACK_ID FROM {source}"
    )


@spark_transform("corpus_stats", category="text", streaming_ok=False)
def corpus_stats(df: DataFrame, text: str, group_by=None) -> DataFrame:
    """One-row (or per-group) corpus profile: N_DOCS, TOTAL_TOKENS,
    AVG_TOKENS, P50_CHARS, UNIQUE_FINGERPRINTS (exact-dup signal). One
    aggregation pass — the go/no-go dashboard before an expensive pipeline
    stage runs over a corpus."""
    from ..operators._util import as_list as _as_list
    from ..operators._util import resolve_cols as _resolve_cols

    c = F.col(resolve_col(df, text))
    keys = _resolve_cols(df, _as_list(group_by))
    ntok = F.size(tokens_expr(c)).cast("bigint")
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", " "), r"\s+", " ")
    )
    aggs = [
        F.count(F.lit(1)).alias("N_DOCS"),
        F.sum(ntok).alias("TOTAL_TOKENS"),
        F.avg(ntok).alias("AVG_TOKENS"),
        F.median(F.length(c)).alias("P50_CHARS"),
        F.count_distinct(F.md5(norm)).alias("UNIQUE_FINGERPRINTS"),
    ]
    return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)


@renderer("corpus_stats")
def _r_corpus_stats(source, text, group_by=None) -> str:
    from ..operators._util import as_list as _as_list

    keys = _as_list(group_by)
    ntok = f"CAST(size({_tokens_sql(text)}) AS BIGINT)"
    aggs = (
        f"CAST(COUNT(1) AS BIGINT) AS N_DOCS, SUM({ntok}) AS TOTAL_TOKENS, "
        f"AVG({ntok}) AS AVG_TOKENS, MEDIAN(length({text})) AS P50_CHARS, "
        f"CAST(COUNT(DISTINCT md5({_norm_sql(text)})) AS BIGINT) AS UNIQUE_FINGERPRINTS"
    )
    if keys:
        k = ", ".join(keys)
        return f"SELECT {k}, {aggs} FROM {source} GROUP BY {k}"
    return f"SELECT {aggs} FROM {source}"


@spark_transform("ngram_counts", category="text", streaming_ok=False)
def ngram_counts(
    df: DataFrame,
    text: str,
    n: int = 2,
    top_k: int | None = None,
    min_count: int | None = None,
    per_doc_distinct: bool = False,
) -> DataFrame:
    """Corpus n-gram frequency table — the standard LM-data profiling op
    (boilerplate detection, vocabulary sizing, contamination spot checks).
    Returns ``(NGRAM, N_OCCURRENCES)``; ``per_doc_distinct=True`` counts
    document frequency instead of term frequency; documents with fewer than
    ``n`` tokens contribute nothing.

    Scale: tokens are staged as a real column (HOF rule — the slice lambda
    must capture an attribute), the count is a partial/final hash aggregate
    (map-side combine: shuffle carries one row per distinct n-gram per
    partition, not per occurrence), and ``top_k`` plans as
    TakeOrderedAndProject — the tail is never globally sorted."""
    if n < 1:
        raise ParameterException("n must be >= 1")
    t = resolve_col(df, text)
    from ..operators._util import spread

    staged = spread(df).select(tokens_expr(F.col(t)).alias("__tk"))
    toks = F.col("__tk")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda idx: F.concat_ws(" ", F.slice(toks, idx, F.lit(n))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    if per_doc_distinct:
        grams = F.array_distinct(grams)
    out = (
        staged.select(F.explode(grams).alias("NGRAM"))
        .groupBy("NGRAM")
        .agg(F.count(F.lit(1)).cast("bigint").alias("N_OCCURRENCES"))
    )
    if min_count is not None:
        out = out.filter(F.col("N_OCCURRENCES") >= min_count)
    if top_k is not None:
        out = out.orderBy(F.col("N_OCCURRENCES").desc(), "NGRAM").limit(top_k)
    return out


@renderer("ngram_counts")
def _r_ngram_counts(
    source, text, n=2, top_k=None, min_count=None, per_doc_distinct=False
) -> str:
    toks = "__tk"
    grams = (
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({toks}, i, {n}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    if per_doc_distinct:
        grams = f"array_distinct({grams})"
    sql = (
        f"SELECT NGRAM, CAST(count(1) AS BIGINT) AS N_OCCURRENCES FROM "
        f"(SELECT explode({grams}) AS NGRAM FROM "
        f"(SELECT {_tokens_sql(text)} AS __tk FROM {source})) GROUP BY NGRAM"
    )
    if min_count is not None:
        sql += f" HAVING count(1) >= {min_count}"
    if top_k is not None:
        sql += f" ORDER BY N_OCCURRENCES DESC, NGRAM LIMIT {top_k}"
    return sql


@spark_transform("sentence_split", category="text")
def sentence_split(df: DataFrame, text: str, id_col: str) -> DataFrame:
    """Split documents into sentences on terminal punctuation runs followed
    by whitespace — row-local split + posexplode, shuffle-free. Empty
    segments are dropped; empty docs yield no rows. Output
    ``(id, SENTENCE_INDEX, SENTENCE, N_TOKENS)``. The pattern avoids
    lookarounds so Java (Spark) and RE2 (DuckDB oracle) split identically."""
    t, i = resolve_col(df, text), resolve_col(df, id_col)
    parts = F.filter(
        F.transform(
            F.split(F.col(t), r"[.!?]+\s+"), lambda s: F.trim(s)
        ),
        lambda s: s != "",
    )
    exploded = df.select(
        F.col(i), F.posexplode(parts).alias("SENTENCE_INDEX", "SENTENCE")
    )
    return exploded.select(
        F.col(i),
        F.col("SENTENCE_INDEX").cast("int").alias("SENTENCE_INDEX"),
        "SENTENCE",
        F.size(tokens_expr(F.col("SENTENCE"))).cast("bigint").alias("N_TOKENS"),
    )


@renderer("sentence_split")
def _r_sentence_split(source, text, id_col) -> str:
    parts = (
        f"filter(transform(split({text}, '[.!?]+\\\\s+'), s -> trim(s)), "
        f"s -> s != '')"
    )
    return (
        f"SELECT {id_col}, CAST(SENTENCE_INDEX AS INT) AS SENTENCE_INDEX, SENTENCE, "
        f"CAST(size({_tokens_sql('SENTENCE')}) AS BIGINT) AS N_TOKENS FROM "
        f"(SELECT {id_col}, posexplode({parts}) AS (SENTENCE_INDEX, SENTENCE) "
        f"FROM {source})"
    )


@spark_transform("heavy_hitters", category="text", streaming_ok=False)
def heavy_hitters(
    df: DataFrame, column: str, min_share: float = 0.001, round_to: int = 6
) -> DataFrame:
    """EXACT frequent-value mining: values of ``column`` whose share of all
    rows is ≥ ``min_share``, with counts and shares, ordered by count desc
    then value asc. Two-stage hash aggregation (map-side partials) + a
    one-row total — by definition at most 1/min_share result rows, so the
    output is bounded no matter the input size. The exact companion to
    sketch-based heavy hitters: at 100 TB the groupBy shuffles one row per
    DISTINCT value, which is the natural sufficient statistic."""
    c = resolve_col(df, column)
    counts = df.groupBy(F.col(c)).agg(F.count(F.lit(1)).alias("N"))
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("SHARE", F.round(F.col("N") / F.col("__total"), round_to))
        .filter(F.col("N") >= F.col("__total") * min_share)
        .drop("__total")
        .withColumn("N", F.col("N").cast("bigint"))
        .orderBy(F.col("N").desc(), F.col(c).asc())
    )


@renderer("heavy_hitters")
def _r_heavy_hitters(source, column, min_share=0.001, round_to=6) -> str:
    return (
        f"SELECT {column}, CAST(N AS BIGINT) AS N, "
        f"ROUND(N / __total, {round_to}) AS SHARE FROM "
        f"(SELECT {column}, count(1) AS N FROM {source} GROUP BY {column}) "
        f"CROSS JOIN (SELECT count(1) AS __total FROM {source}) "
        f"WHERE N >= __total * {min_share} ORDER BY N DESC, {column} ASC"
    )


_ACCENT_SRC = "áàâäãåéèêëíìîïóòôöõúùûüñçýÁÀÂÄÃÅÉÈÊËÍÌÎÏÓÒÔÖÕÚÙÛÜÑÇÝ"
_ACCENT_DST = "aaaaaaeeeeiiiiooooouuuuncyAAAAAAEEEEIIIIOOOOOUUUUNCY"


@spark_transform("text_normalize", category="text")
def text_normalize(
    df: DataFrame,
    text: str,
    name: str = "TEXT_NORM",
    lowercase: bool = True,
    fold_accents: bool = True,
    strip_punct: bool = False,
) -> DataFrame:
    """Canonical text normalization: collapse whitespace runs to single
    spaces + trim, optional lowercasing, Latin-1 accent folding (explicit
    ``translate`` table — deterministic cross-engine, no locale-dependent
    Unicode normalization), and optional ASCII punctuation stripping.
    Row-local, shuffle-free; the standard first step before fingerprinting
    or token counting."""
    c = F.col(resolve_col(df, text))
    if lowercase:
        c = F.lower(c)
    if fold_accents:
        c = F.translate(c, _ACCENT_SRC.lower() if lowercase else _ACCENT_SRC,
                        _ACCENT_DST.lower() if lowercase else _ACCENT_DST)
    if strip_punct:
        c = F.regexp_replace(c, r"[^a-zA-Z0-9\s]", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(name, c)


@renderer("text_normalize")
def _r_text_normalize(
    source, text, name="TEXT_NORM", lowercase=True, fold_accents=True,
    strip_punct=False, _input_columns=(),
) -> str:
    from ..operators._util import with_columns_sql

    c = text
    if lowercase:
        c = f"lower({c})"
    if fold_accents:
        src = (_ACCENT_SRC.lower() if lowercase else _ACCENT_SRC)
        dst = (_ACCENT_DST.lower() if lowercase else _ACCENT_DST)
        c = f"translate({c}, '{src}', '{dst}')"
    if strip_punct:
        c = f"regexp_replace({c}, '[^a-zA-Z0-9\\\\s]', ' ')"
    c = f"trim(regexp_replace({c}, '\\\\s+', ' '))"
    return with_columns_sql(source, {name: c}, _input_columns)


@spark_transform("char_entropy", category="text")
def char_entropy(df: DataFrame, text: str, round_to: int = 6) -> DataFrame:
    """Append ``CHAR_ENTROPY``: Shannon entropy (nats) of the character
    distribution — the classic gibberish/compression-artifact detector
    (near-zero = one repeated char; ~4+ = natural text; extreme highs =
    base64/binary soup). Filter both tails alongside ``text_quality``.

    Shuffle-free: per row, the distinct characters are SORTED (so the
    entropy fold visits terms in one canonical order — bitwise identical
    across engines and partitionings) and each term's count comes from a
    row-local array filter. O(distinct_chars x len) per row with
    distinct_chars bounded by the alphabet, all inside whole-stage codegen.
    Empty/NULL text scores 0.0.
    """
    t = resolve_col(df, text)
    chars = F.split(F.col(t), "")
    n = F.size(chars)
    # drop the empty-string artifact F.split appends on some inputs
    chars = F.filter(chars, lambda c: c != F.lit(""))
    n = F.size(chars)
    uniq = F.array_sort(F.array_distinct(chars))
    ent = -F.aggregate(
        F.transform(
            uniq,
            lambda u: (
                F.size(F.filter(chars, lambda c: c == u)).cast("double") / n
            )
            * F.log(F.size(F.filter(chars, lambda c: c == u)).cast("double") / n),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return df.withColumn(
        "CHAR_ENTROPY",
        F.when((F.col(t).isNull()) | (n == 0), F.lit(0.0)).otherwise(
            F.round(ent, round_to)
        ),
    )


@renderer("char_entropy")
def _r_char_entropy(source, text, round_to=6) -> str:
    chars = f"filter(split({text}, ''), c -> c != '')"
    n = f"size({chars})"
    term = (
        f"(CAST(size(filter({chars}, c -> c = u)) AS DOUBLE) / {n}) * "
        f"ln(CAST(size(filter({chars}, c -> c = u)) AS DOUBLE) / {n})"
    )
    ent = (
        f"-aggregate(transform(array_sort(array_distinct({chars})), u -> {term}), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    return (
        f"SELECT *, CASE WHEN {text} IS NULL OR {n} = 0 THEN 0.0 "
        f"ELSE round({ent}, {round_to}) END AS CHAR_ENTROPY FROM {source}"
    )


@spark_transform("pmi_collocations", category="text", streaming_ok=False)
def pmi_collocations(
    df: DataFrame,
    text: str,
    min_count: int = 5,
    top_k: int | None = 100,
) -> DataFrame:
    """Corpus collocations by pointwise mutual information (Church & Hanks
    1990): ``PMI(x,y) = ln(c_xy * N / (c_x * c_y))`` over adjacent token
    pairs — the standard detector of multi-word units ("los angeles") and
    templated boilerplate that per-token stats miss.

    Returns ``(WORD1, WORD2, N_PAIR, PMI)`` for pairs with ``N_PAIR >=
    min_count`` (the classic low-count PMI-inflation guard), PMI rounded to
    6 dp, ordered by PMI desc then words, top_k rows.

    Scale: tokens stage as a real column and are SCOPED-PERSISTED (two
    consumers — the unigram and bigram aggregates — would otherwise each
    re-tokenize the corpus); the unigram table is persisted too (three
    consumers: N, both attachment joins). Both caches release when the
    result is dropped (``_cache.release_with``). The aggregates are
    partial/final hash aggregates (shuffle carries distinct grams per
    partition, not occurrences); N is a one-row aggregate attached by
    broadcast cross-join. ``top_k`` plans as TakeOrderedAndProject."""
    if min_count < 1:
        raise ParameterException("min_count must be >= 1")
    t = resolve_col(df, text)
    from ..operators._util import spread
    from ._cache import release_with, scoped_persist

    staged = scoped_persist(
        spread(df).select(tokens_expr(F.col(t)).alias("__tk"))
    )
    toks = F.col("__tk")
    uni = scoped_persist(
        staged.select(F.explode(toks).alias("W"))
        .groupBy("W")
        .agg(F.count(F.lit(1)).alias("C"))
    )
    n_total = uni.agg(F.sum("C").alias("N"))
    pairs = staged.select(
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - F.lit(1)),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("WORD1"),
                        F.element_at(toks, i + F.lit(1)).alias("WORD2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<WORD1:string,WORD2:string>>"))
        ).alias("p")
    ).select("p.WORD1", "p.WORD2")
    big = (
        pairs.groupBy("WORD1", "WORD2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("N_PAIR"))
        .filter(F.col("N_PAIR") >= min_count)
    )
    u1 = uni.select(F.col("W").alias("WORD1"), F.col("C").alias("__c1"))
    u2 = uni.select(F.col("W").alias("WORD2"), F.col("C").alias("__c2"))
    out = (
        big.join(u1, "WORD1")
        .join(u2, "WORD2")
        .crossJoin(F.broadcast(n_total))
        .select(
            "WORD1",
            "WORD2",
            "N_PAIR",
            F.round(
                F.log(
                    F.col("N_PAIR").cast("double")
                    * F.col("N").cast("double")
                    / (F.col("__c1").cast("double") * F.col("__c2").cast("double"))
                ),
                6,
            ).alias("PMI"),
        )
    )
    if top_k is not None:
        out = out.orderBy(F.col("PMI").desc(), "WORD1", "WORD2").limit(top_k)
    return release_with(out, staged, uni)


@renderer("pmi_collocations")
def _r_pmi_collocations(source, text, min_count=5, top_k=100) -> str:
    toks = "__tk"
    pair_arr = (
        f"CASE WHEN size({toks}) >= 2 THEN transform(sequence(1, size({toks}) - 1), "
        f"i -> struct(element_at({toks}, i) AS WORD1, element_at({toks}, i + 1) AS WORD2)) "
        f"ELSE CAST(array() AS ARRAY<STRUCT<WORD1: STRING, WORD2: STRING>>) END"
    )
    sql = (
        f"SELECT * FROM ("
        f"WITH __tks AS (SELECT {_tokens_sql(text)} AS {toks} FROM {source}), "
        f"__uni AS (SELECT W, COUNT(*) AS C FROM "
        f"(SELECT explode({toks}) AS W FROM __tks) GROUP BY W), "
        f"__n AS (SELECT SUM(C) AS N FROM __uni), "
        f"__big AS (SELECT p.WORD1, p.WORD2, CAST(COUNT(*) AS BIGINT) AS N_PAIR FROM "
        f"(SELECT explode({pair_arr}) AS p FROM __tks) GROUP BY p.WORD1, p.WORD2 "
        f"HAVING COUNT(*) >= {min_count}) "
        f"SELECT __big.WORD1, __big.WORD2, __big.N_PAIR, "
        f"round(ln(CAST(__big.N_PAIR AS DOUBLE) * CAST(__n.N AS DOUBLE) / "
        f"(CAST(u1.C AS DOUBLE) * CAST(u2.C AS DOUBLE))), 6) AS PMI "
        f"FROM __big JOIN __uni u1 ON __big.WORD1 = u1.W "
        f"JOIN __uni u2 ON __big.WORD2 = u2.W CROSS JOIN __n"
    )
    if top_k is not None:
        sql += f" ORDER BY PMI DESC, WORD1, WORD2 LIMIT {top_k}"
    return sql + ")"
