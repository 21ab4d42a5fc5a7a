"""Data-curation operators for LLM training pipelines (north-star extension;
SURVEY §7.2 M7): benchmark decontamination, PII scrubbing, URL extraction,
repetition / quality signals, and deterministic corpus shuffling.

Design for 100 TB:
- ``decontaminate`` never materializes corpus×eval pairs: the eval set's
  distinct n-grams are broadcast (eval benchmarks are tiny next to a training
  corpus), the corpus explodes to slim ``(id, ngram)`` rows that join
  map-side, and the per-document roll-up shuffles only ``(id, two ints)``.
  Filter mode drops the flagged ids with the shared filter step
  (``functions/_filter.py``).
- Everything else is row-local JVM expressions (regex / array built-ins) —
  embarrassingly parallel, no shuffle, whole-stage codegen.
- ``shuffle_deterministic`` is a seeded total sort: Spark's range-partitioned
  sort is the standard distributed shuffle for training-data ordering.
- All regex patterns avoid constructs where Java (leftmost-first) and RE2
  (leftmost-longest) disagree, so the DuckDB oracles replicate results
  exactly (verified for email/IP/phone on crafted fixtures).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import ParameterException
from ..naming import cleanse_name
from ..operators._util import (
    as_list,
    null_safe_join,
    resolve_col,
    spread,
    with_columns_sql,
)
from ..registry import renderer, spark_transform
from ._filter import check_mode, drop_sql, finish, reread_input
from ._hash import shingles_expr, shingles_spark_sql, tokens_expr
from .dedup import _cosine_sql, _shingle_sets, _shingle_sets_sql, cosine_expr

# PII patterns — deliberately simple alternation-free shapes: identical match
# spans under Java regex (Spark) and RE2 (DuckDB oracle).
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IP_PATTERN = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_PATTERN = r"\+?\d[\d().\- ]{7,14}\d"
URL_PATTERN = r"https?://[^\s]+"
DOMAIN_PATTERN = r"https?://([^/:?#]+)"


@spark_transform("decontaminate", category="curation", streaming_ok=False)
def decontaminate(
    df: DataFrame,
    text: str,
    id_col: str,
    eval_table: DataFrame,
    eval_text: str | None = None,
    ngram: int = 8,
    threshold: float = 0.2,
    mode: str = "score",
) -> DataFrame:
    """Benchmark decontamination: flag/drop corpus documents whose word
    n-grams overlap an evaluation set's n-gram inventory (the standard
    train/test-contamination check for LLM corpora).

    mode='score': one row per document — ``(id, NGRAM_TOTAL, NGRAM_MATCHED,
    CONTAMINATION)`` where CONTAMINATION = matched/total distinct n-grams.
    mode='filter': input rows minus documents with CONTAMINATION >= threshold.

    Scale: eval n-gram inventory is distinct-reduced and broadcast; the
    corpus side explodes to slim (id, ngram) pairs that join without
    shuffling the corpus; the per-doc count shuffles (id, int, int) only.
    """
    check_mode(mode, ("score", "filter"))
    t, i = resolve_col(df, text), resolve_col(df, id_col)
    et = resolve_col(eval_table, eval_text or text)
    df, inp = reread_input(df, mode)
    ev = (
        eval_table.select(tokens_expr(F.col(et)).alias("__tk"))
        .select(F.explode(shingles_expr(F.col("__tk"), ngram)).alias("__ng"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    exploded = _shingle_sets(df, t, i, ngram).select(
        "__id", F.size("__sh").alias("__tot"), F.explode_outer("__sh").alias("__ng")
    )
    scored = (
        exploded.join(F.broadcast(ev), "__ng", "left")
        .groupBy("__id")
        .agg(
            F.max("__tot").cast("bigint").alias("NGRAM_TOTAL"),
            F.count("__hit").cast("bigint").alias("NGRAM_MATCHED"),
        )
    )
    contamination = F.round(
        F.when(
            F.col("NGRAM_TOTAL") > 0, F.col("NGRAM_MATCHED") / F.col("NGRAM_TOTAL")
        ).otherwise(F.lit(0.0)),
        6,
    )
    if mode == "score":
        return scored.select(
            F.col("__id").alias(i), "NGRAM_TOTAL", "NGRAM_MATCHED",
            contamination.alias("CONTAMINATION"),
        )
    # no broadcast hint on the drop: the contaminated-id set is
    # data-dependent and unbounded in principle (a wholly-contaminated
    # corpus flags every id) — AQE picks broadcast vs shuffle at runtime
    flagged = scored.filter(contamination >= F.lit(threshold))
    return finish(df, id_col, mode, flagged, *inp, key="__id")


@renderer("decontaminate")
def _r_decontaminate(
    source, text, id_col, eval_table, eval_text=None, ngram=8, threshold=0.2,
    mode="score",
) -> str:
    from .text import _tokens_sql

    et = eval_text or text
    x = (
        f"(SELECT __id, size(__sh) AS __tot, explode_outer(__sh) AS __ng "
        f"FROM {_shingle_sets_sql(source, text, id_col, ngram)})"
    )
    e = (
        f"(SELECT DISTINCT explode(__sh) AS __ng "
        f"FROM (SELECT {shingles_spark_sql('__t', ngram)} AS __sh "
        f"FROM (SELECT {_tokens_sql(et)} AS __t FROM {eval_table})))"
    )
    scored = (
        f"SELECT x.__id, CAST(max(x.__tot) AS BIGINT) AS NGRAM_TOTAL, "
        f"CAST(count(e.__ng) AS BIGINT) AS NGRAM_MATCHED "
        f"FROM {x} x LEFT JOIN {e} e ON x.__ng = e.__ng GROUP BY x.__id"
    )
    contamination = (
        "ROUND(CASE WHEN NGRAM_TOTAL > 0 "
        "THEN NGRAM_MATCHED / NGRAM_TOTAL ELSE 0.0 END, 6)"
    )
    if mode == "score":
        return (
            f"SELECT __id AS {id_col}, NGRAM_TOTAL, NGRAM_MATCHED, "
            f"{contamination} AS CONTAMINATION FROM ({scored})"
        )
    flagged = f"SELECT __id FROM ({scored}) WHERE {contamination} >= {threshold}"
    return drop_sql(source, id_col, flagged, key="__id")


@spark_transform("pii_scrub", category="curation")
def pii_scrub(df: DataFrame, text: str, name: str | None = None) -> DataFrame:
    """Redact emails, IPv4 addresses, and phone numbers with ``<EMAIL>`` /
    ``<IP>`` / ``<PHONE>`` placeholders; adds PII_EMAILS / PII_IPS /
    PII_PHONES match counts. Scrubbing is sequential (emails, then IPs, then
    phones) so digit runs inside an already-redacted span are never
    double-counted. In-place unless ``name`` is given. Row-local JVM regex —
    shuffle-free at any scale."""
    t = resolve_col(df, text)
    c = F.col(t)
    # each scrub stage is staged as a real column (referenced twice: its
    # count + the next stage's input) so the regexp_replace runs once per
    # stage instead of twice — on a 100 TB corpus regex passes ARE the cost
    return (
        df.withColumns(
            {
                "PII_EMAILS": F.regexp_count(c, F.lit(EMAIL_PATTERN)).cast("bigint"),
                "__t1": F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>"),
            }
        )
        .withColumns(
            {
                "PII_IPS": F.regexp_count(F.col("__t1"), F.lit(IP_PATTERN)).cast(
                    "bigint"
                ),
                "__t2": F.regexp_replace(F.col("__t1"), IP_PATTERN, "<IP>"),
            }
        )
        .withColumns(
            {
                "PII_PHONES": F.regexp_count(
                    F.col("__t2"), F.lit(PHONE_PATTERN)
                ).cast("bigint"),
                name or t: F.regexp_replace(F.col("__t2"), PHONE_PATTERN, "<PHONE>"),
            }
        )
        .drop("__t1", "__t2")
    )


def _sql_escape(pattern: str) -> str:
    """Escape a regex for embedding in a Spark-SQL single-quoted literal."""
    return pattern.replace("\\", "\\\\")


@renderer("pii_scrub")
def _r_pii_scrub(source, text, name=None, _input_columns=()) -> str:
    em, ip, ph = (_sql_escape(p) for p in (EMAIL_PATTERN, IP_PATTERN, PHONE_PATTERN))
    t1 = f"regexp_replace({text}, '{em}', '<EMAIL>')"
    t2 = f"regexp_replace({t1}, '{ip}', '<IP>')"
    t3 = f"regexp_replace({t2}, '{ph}', '<PHONE>')"
    exprs = {
        name or text: t3,
        "PII_EMAILS": f"CAST(regexp_count({text}, '{em}') AS BIGINT)",
        "PII_IPS": f"CAST(regexp_count({t1}, '{ip}') AS BIGINT)",
        "PII_PHONES": f"CAST(regexp_count({t2}, '{ph}') AS BIGINT)",
    }
    return with_columns_sql(source, exprs, _input_columns)


@spark_transform("extract_urls", category="curation")
def extract_urls(df: DataFrame, text: str, name: str = "URLS") -> DataFrame:
    """Extract http(s) URLs from text: ``URLS`` (array, document order),
    ``URL_COUNT``, and ``DOMAINS`` (distinct lowercased hosts, first-seen
    order). Row-local regex — shuffle-free."""
    t = resolve_col(df, text)
    urls = F.regexp_extract_all(F.col(t), F.lit(URL_PATTERN), 0)
    domains = F.array_distinct(
        F.transform(urls, lambda u: F.lower(F.regexp_extract(u, DOMAIN_PATTERN, 1)))
    )
    return df.withColumns(
        {
            name: urls,
            "URL_COUNT": F.size(urls).cast("bigint"),
            "DOMAINS": domains,
        }
    )


@renderer("extract_urls")
def _r_extract_urls(source, text, name="URLS", _input_columns=()) -> str:
    up, dp = _sql_escape(URL_PATTERN), _sql_escape(DOMAIN_PATTERN)
    urls = f"regexp_extract_all({text}, '{up}', 0)"
    exprs = {
        name: urls,
        "URL_COUNT": f"CAST(size({urls}) AS BIGINT)",
        "DOMAINS": (
            f"array_distinct(transform({urls}, "
            f"u -> lower(regexp_extract(u, '{dp}', 1))))"
        ),
    }
    return with_columns_sql(source, exprs, _input_columns)


@spark_transform("repetition_stats", category="curation")
def repetition_stats(df: DataFrame, text: str) -> DataFrame:
    """Gopher-style repetition/quality signals: N_LINES (non-blank),
    DUP_LINE_RATIO (1 − distinct/total lines), WORD_REP_RATIO
    (1 − distinct/total tokens), MEAN_WORD_LEN. All row-local array
    expressions — shuffle-free; ratios rounded to 6 dp (cross-engine float
    policy)."""
    t = resolve_col(df, text)
    c = F.col(t)
    # stage the line and token arrays as real columns: both are referenced
    # 2-3× below, and staging keeps the split/regex-tokenize to ONE pass per
    # row (multi-referenced non-cheap aliases survive CollapseProject)
    df = df.withColumns(
        {
            "__ln": F.filter(F.split(c, "\n"), lambda l: F.trim(l) != ""),
            "__tk": tokens_expr(c),
        }
    )
    lines = F.col("__ln")
    n_lines = F.size(lines).cast("bigint")
    dup_line = F.round(
        F.when(
            n_lines > 0,
            1.0 - F.size(F.array_distinct(lines)) / n_lines,
        ).otherwise(F.lit(0.0)),
        6,
    )
    toks = F.col("__tk")
    n_toks = F.size(toks).cast("bigint")
    word_rep = F.round(
        F.when(n_toks > 0, 1.0 - F.size(F.array_distinct(toks)) / n_toks).otherwise(
            F.lit(0.0)
        ),
        6,
    )
    total_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    mean_len = F.round(
        F.when(n_toks > 0, total_chars / n_toks).otherwise(F.lit(0.0)), 6
    )
    return df.withColumns(
        {
            "N_LINES": n_lines,
            "DUP_LINE_RATIO": dup_line,
            "WORD_REP_RATIO": word_rep,
            "MEAN_WORD_LEN": mean_len,
        }
    ).drop("__ln", "__tk")


@renderer("repetition_stats")
def _r_repetition_stats(source, text, _input_columns=()) -> str:
    from .text import _tokens_sql

    lines = f"filter(split({text}, '\\n'), l -> trim(l) != '')"
    toks = _tokens_sql(text)
    n_lines = f"CAST(size({lines}) AS BIGINT)"
    n_toks = f"CAST(size({toks}) AS BIGINT)"
    exprs = {
        "N_LINES": n_lines,
        "DUP_LINE_RATIO": (
            f"ROUND(CASE WHEN {n_lines} > 0 THEN 1.0 - "
            f"size(array_distinct({lines})) / {n_lines} ELSE 0.0 END, 6)"
        ),
        "WORD_REP_RATIO": (
            f"ROUND(CASE WHEN {n_toks} > 0 THEN 1.0 - "
            f"size(array_distinct({toks})) / {n_toks} ELSE 0.0 END, 6)"
        ),
        "MEAN_WORD_LEN": (
            f"ROUND(CASE WHEN {n_toks} > 0 THEN "
            f"aggregate({toks}, CAST(0 AS BIGINT), (acc, x) -> acc + length(x)) "
            f"/ {n_toks} ELSE 0.0 END, 6)"
        ),
    }
    return with_columns_sql(source, exprs, _input_columns)


@spark_transform("shuffle_deterministic", category="curation", streaming_ok=False)
def shuffle_deterministic(
    df: DataFrame, key: str, seed: int = 42, name: str = "SHUFFLE_KEY"
) -> DataFrame:
    """Seeded pseudo-random global reorder for training data: adds
    ``name`` = md5(seed || key) and totally orders by it (key as
    tiebreak). Same seed → identical order on any cluster layout; different
    seeds → independent permutations. Spark executes this as a
    range-partitioned sort — the scale-standard distributed shuffle (no
    single-task stage). ``key`` should be a unique document id."""
    k = resolve_col(df, key)
    skey = F.md5(F.concat_ws("|", F.lit(str(seed)), F.col(k).cast("string")))
    return df.withColumn(name, skey).orderBy(name, k)


@renderer("shuffle_deterministic")
def _r_shuffle_deterministic(source, key, seed=42, name="SHUFFLE_KEY") -> str:
    return (
        f"SELECT *, md5(concat_ws('|', '{seed}', CAST({key} AS STRING))) "
        f"AS {name} FROM {source} ORDER BY {name}, {key}"
    )


@spark_transform("remove_boilerplate", category="curation", streaming_ok=False)
def remove_boilerplate(
    df: DataFrame,
    text: str,
    id_col: str,
    min_doc_frequency: int = 2,
) -> DataFrame:
    """CCNet/C4-style line-level boilerplate removal: a line whose normalized
    form (trim+lowercase) appears in at least ``min_doc_frequency`` distinct
    documents is dropped from every document; surviving lines are re-joined
    in original order. Adds ``N_LINES_REMOVED``. Blank lines are never
    counted as boilerplate (they carry no content signal).

    Scale: the document-frequency pass shuffles slim ``(norm_line, id)``
    pairs with a map-side distinct; the boilerplate set (lines with high df)
    is small by construction and joins as a build side; the only full-text
    shuffle is the per-document rebuild, which is inherent to line-level
    rewriting. No driver-side collection at any step.
    """
    t, i = resolve_col(df, text), resolve_col(df, id_col)
    lines = spread(df).select(
        F.col(i), F.posexplode(F.split(F.col(t), "\n")).alias("__pos", "__line")
    )
    lines = lines.withColumn("__norm", F.trim(F.lower(F.col("__line"))))
    bl = (
        lines.filter(F.col("__norm") != "")
        .groupBy("__norm")
        .agg(F.count_distinct(F.col(i)).alias("__df"))
        .filter(F.col("__df") >= min_doc_frequency)
        .select("__norm")
    )
    kept = lines.join(bl, on="__norm", how="left_anti")
    rebuilt = kept.groupBy(i).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("__text"),
        F.count(F.lit(1)).alias("__kept"),
    )
    totals = lines.groupBy(i).agg(F.count(F.lit(1)).alias("__tot"))
    merged = totals.join(rebuilt, on=i, how="left")
    return (
        df.join(merged, on=i, how="left")
        .withColumns(
            {
                t: F.coalesce(F.col("__text"), F.lit("")),
                "N_LINES_REMOVED": (
                    F.col("__tot") - F.coalesce(F.col("__kept"), F.lit(0))
                ).cast("bigint"),
            }
        )
        .drop("__text", "__kept", "__tot")
    )


@renderer("remove_boilerplate")
def _r_remove_boilerplate(
    source, text, id_col, min_doc_frequency=2, _input_columns=()
) -> str:
    lines = (
        f"SELECT {id_col}, t.__pos, t.__line, trim(lower(t.__line)) AS __norm "
        f"FROM {source} LATERAL VIEW posexplode(split({text}, '\\n')) t "
        f"AS __pos, __line"
    )
    bl = (
        f"SELECT __norm FROM ({lines}) WHERE __norm != '' GROUP BY __norm "
        f"HAVING count(DISTINCT {id_col}) >= {min_doc_frequency}"
    )
    kept = (
        f"SELECT n.* FROM ({lines}) n LEFT ANTI JOIN ({bl}) bl "
        f"ON n.__norm = bl.__norm"
    )
    reb = (
        f"SELECT {id_col}, array_join(transform(array_sort("
        f"collect_list(struct(__pos, __line))), s -> s.__line), '\\n') AS __text, "
        f"count(1) AS __kept FROM ({kept}) GROUP BY {id_col}"
    )
    tot = f"SELECT {id_col}, count(1) AS __tot FROM ({lines}) GROUP BY {id_col}"
    # COALESCE(__tot, 0): NULL-text documents produce no posexplode rows, so
    # an inner join on the totals would drop them while the DataFrame path
    # keeps them (with empty text) — totals must join LEFT to preserve parity.
    removed = "CAST(COALESCE(__tot, 0) - COALESCE(__kept, 0) AS BIGINT)"
    if _input_columns:
        cols = ", ".join(
            f"COALESCE(__text, '') AS {c}" if c.lower() == text.lower() else f"s.{c}"
            for c in _input_columns
        )
    else:
        cols = f"s.* EXCEPT ({text}), COALESCE(__text, '') AS {text}"
    return (
        f"SELECT {cols}, {removed} AS N_LINES_REMOVED "
        f"FROM {source} s LEFT JOIN ({tot}) USING ({id_col}) "
        f"LEFT JOIN ({reb}) USING ({id_col})"
    )


@spark_transform("quality_filter", category="curation")
def quality_filter(
    df: DataFrame,
    text: str,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    max_word_rep_ratio: float = 0.3,
    max_dup_line_ratio: float = 0.3,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    mode: str = "filter",
) -> DataFrame:
    """Gopher-style document quality gate in one call: token-count bounds,
    word-repetition and duplicate-line ratio caps, mean-word-length bounds
    (the standard pre-training corpus filter rules). mode='filter' keeps
    passing rows with original columns; mode='flag' appends a
    ``QUALITY_PASS`` boolean instead (for audit/sampling before committing
    to a cut). Signals share repetition_stats semantics (ratios rounded to
    6 dp). Row-local array expressions — shuffle-free at any scale."""
    if mode not in ("filter", "flag"):
        raise ParameterException("mode must be 'filter' or 'flag'")
    t = resolve_col(df, text)
    c = F.col(t)
    staged = df.withColumns(
        {
            "__ln": F.filter(F.split(c, "\n"), lambda l: F.trim(l) != ""),
            "__tk": tokens_expr(c),
        }
    )
    toks, lines = F.col("__tk"), F.col("__ln")
    n_toks = F.size(toks).cast("bigint")
    n_lines = F.size(lines).cast("bigint")
    word_rep = F.round(
        F.when(n_toks > 0, 1.0 - F.size(F.array_distinct(toks)) / n_toks)
        .otherwise(F.lit(0.0)), 6)
    dup_line = F.round(
        F.when(n_lines > 0, 1.0 - F.size(F.array_distinct(lines)) / n_lines)
        .otherwise(F.lit(0.0)), 6)
    total_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x))
    mean_len = F.round(
        F.when(n_toks > 0, total_chars / n_toks).otherwise(F.lit(0.0)), 6)
    ok = (
        (n_toks >= min_tokens)
        & (n_toks <= max_tokens)
        & (word_rep <= max_word_rep_ratio)
        & (dup_line <= max_dup_line_ratio)
        & (mean_len >= min_mean_word_len)
        & (mean_len <= max_mean_word_len)
    )
    if mode == "flag":
        return staged.withColumn("QUALITY_PASS", ok).drop("__ln", "__tk")
    return staged.filter(ok).drop("__ln", "__tk")


@renderer("quality_filter")
def _r_quality_filter(
    source,
    text,
    min_tokens=50,
    max_tokens=100_000,
    max_word_rep_ratio=0.3,
    max_dup_line_ratio=0.3,
    min_mean_word_len=2.0,
    max_mean_word_len=12.0,
    mode="filter",
    _input_columns=(),
) -> str:
    from .text import _tokens_sql

    lines = f"filter(split({text}, '\\n'), l -> trim(l) != '')"
    toks = _tokens_sql(text)
    n_toks = f"CAST(size({toks}) AS BIGINT)"
    n_lines = f"CAST(size({lines}) AS BIGINT)"
    word_rep = (
        f"ROUND(CASE WHEN {n_toks} > 0 THEN 1.0 - "
        f"size(array_distinct({toks})) / {n_toks} ELSE 0.0 END, 6)"
    )
    dup_line = (
        f"ROUND(CASE WHEN {n_lines} > 0 THEN 1.0 - "
        f"size(array_distinct({lines})) / {n_lines} ELSE 0.0 END, 6)"
    )
    mean_len = (
        f"ROUND(CASE WHEN {n_toks} > 0 THEN "
        f"aggregate({toks}, CAST(0 AS BIGINT), (acc, x) -> acc + length(x)) "
        f"/ {n_toks} ELSE 0.0 END, 6)"
    )
    ok = (
        f"({n_toks} >= {min_tokens} AND {n_toks} <= {max_tokens} "
        f"AND {word_rep} <= {max_word_rep_ratio} "
        f"AND {dup_line} <= {max_dup_line_ratio} "
        f"AND {mean_len} >= {min_mean_word_len} "
        f"AND {mean_len} <= {max_mean_word_len})"
    )
    if mode == "flag":
        return with_columns_sql(source, {"QUALITY_PASS": ok}, _input_columns)
    return f"SELECT * FROM {source} WHERE {ok}"


@spark_transform("unigram_logprob", category="curation", streaming_ok=False)
def unigram_logprob(
    df: DataFrame,
    text: str,
    id_col: str,
    reference=None,
    ref_text: str | None = None,
    max_vocab: int = 50_000,
    alpha: float = 1.0,
    round_to: int = 6,
) -> DataFrame:
    """Unigram language-model document scoring — the cheap, exact-parity
    proxy for the KenLM-perplexity quality filter of CCNet-style pipelines
    (public technique): score each document by the mean natural-log
    probability of its tokens under an add-alpha-smoothed unigram model fit
    on ``reference`` (or the corpus itself). Appends ``AVG_LOGPROB``
    (0.0 for empty docs) and ``OOV_RATIO`` (share of tokens outside the
    capped vocabulary — a corpus-mismatch signal). Gibberish and rare-token
    soup score low; boilerplate scores suspiciously HIGH — filter both
    tails.

    Model: vocab = top ``max_vocab`` reference tokens (count desc, token
    asc — deterministic); P(w) = (cnt_w + α) / (N + α·(V+1)) with N = Σ
    vocab counts, V = vocab size; OOV mass = α / (N + α·(V+1)).

    Scale: the vocab build is one groupBy over slim token rows with a
    TakeOrdered cap; document tokens explode slim ``(id, token)``; the
    vocab join is AQE-sized (typically broadcast — vocab ≤ max_vocab rows);
    the roll-up is one aggregation. No Python, no collect, no forced
    broadcast of data-dependent sets.
    """
    refdf = reference.df if hasattr(reference, "df") else reference
    if refdf is None:
        refdf = df
    t, i = resolve_col(df, text), resolve_col(df, id_col)
    rt = resolve_col(refdf, ref_text or text)
    rtoks = spread(refdf).select(F.explode(tokens_expr(F.col(rt))).alias("__tok"))
    vocab = (
        rtoks.groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .orderBy(F.col("__cnt").desc(), F.col("__tok").asc())
        .limit(max_vocab)
    )
    stats = vocab.agg(
        F.sum("__cnt").cast("double").alias("__N"),
        F.count(F.lit(1)).cast("double").alias("__V"),
    )
    dtoks = df.select(
        F.col(i).alias("__id"), F.explode_outer(tokens_expr(F.col(t))).alias("__tok")
    )
    joined = dtoks.join(vocab, on="__tok", how="left").crossJoin(F.broadcast(stats))
    denom = F.col("__N") + F.lit(alpha) * (F.col("__V") + 1)
    logp = F.log((F.coalesce(F.col("__cnt"), F.lit(0)) + F.lit(alpha)) / denom)
    scored = joined.groupBy("__id").agg(
        F.round(
            F.avg(F.when(F.col("__tok").isNotNull(), logp)), round_to
        ).alias("AVG_LOGPROB"),
        F.round(
            F.avg(
                F.when(
                    F.col("__tok").isNotNull(),
                    F.when(F.col("__cnt").isNull(), 1.0).otherwise(0.0),
                )
            ),
            round_to,
        ).alias("OOV_RATIO"),
    )
    return (
        df.join(scored.withColumnRenamed("__id", i), on=i, how="left")
        .withColumns(
            {
                "AVG_LOGPROB": F.coalesce("AVG_LOGPROB", F.lit(0.0)),
                "OOV_RATIO": F.coalesce("OOV_RATIO", F.lit(0.0)),
            }
        )
    )


@renderer("unigram_logprob")
def _r_unigram_logprob(
    source, text, id_col, reference=None, ref_text=None, max_vocab=50_000,
    alpha=1.0, round_to=6,
) -> str:
    from ..errors import TransformRenderingException
    from .text import _tokens_sql

    if reference is not None:
        raise TransformRenderingException(
            "unigram_logprob renders to SQL only in self-scored form"
        )
    a = repr(float(alpha))
    rtoks = f"SELECT explode({_tokens_sql(text)}) AS __tok FROM {source}"
    vocab = (
        f"SELECT __tok, count(1) AS __cnt FROM ({rtoks}) GROUP BY __tok "
        f"ORDER BY __cnt DESC, __tok ASC LIMIT {max_vocab}"
    )
    stats = (
        f"SELECT CAST(sum(__cnt) AS DOUBLE) AS __N, "
        f"CAST(count(1) AS DOUBLE) AS __V FROM ({vocab})"
    )
    dtoks = (
        f"SELECT {id_col} AS __id, explode_outer({_tokens_sql(text)}) AS __tok "
        f"FROM {source}"
    )
    logp = f"ln((COALESCE(v.__cnt, 0) + {a}) / (__N + {a} * (__V + 1)))"
    scored = (
        f"SELECT __id, ROUND(AVG(CASE WHEN d.__tok IS NOT NULL THEN {logp} END), "
        f"{round_to}) AS AVG_LOGPROB, ROUND(AVG(CASE WHEN d.__tok IS NOT NULL THEN "
        f"CASE WHEN v.__cnt IS NULL THEN 1.0 ELSE 0.0 END END), {round_to}) AS "
        f"OOV_RATIO FROM ({dtoks}) d LEFT JOIN ({vocab}) v ON d.__tok = v.__tok "
        f"CROSS JOIN ({stats}) GROUP BY __id"
    )
    return (
        f"SELECT s.*, COALESCE(AVG_LOGPROB, 0.0) AS AVG_LOGPROB, "
        f"COALESCE(OOV_RATIO, 0.0) AS OOV_RATIO FROM {source} s "
        f"LEFT JOIN ({scored}) ON s.{id_col} = __id"
    )


# Query params that never change page identity — stripped by url_normalize.
# Alternation-free per-param anchors (one rlike each) keep Java/RE2 parity.
TRACKING_PARAM_PATTERNS = (
    "^utm_[A-Za-z0-9_]*=",
    "^fbclid=",
    "^gclid=",
    "^msclkid=",
    "^ref=",
)
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"


@spark_transform("url_normalize", category="curation")
def url_normalize(df: DataFrame, url: str, name: str = "URL_CANON") -> DataFrame:
    """Canonicalize URLs for crawl dedup: lowercase scheme+host, strip
    ``www.``, default ports (:80/:443), trailing host dot, duplicate and
    trailing path slashes, tracking query params (``utm_*``, fbclid, gclid,
    msclkid, ref), sort surviving params, and drop the fragment. The same
    page fetched as ``HTTP://WWW.Ex.com:80/a//b/?utm_s=x&b=2&a=1#top`` and
    ``http://ex.com/a/b?a=1&b=2`` canonicalizes identically — URL-level
    dedup removes most crawl duplicates before any content hashing.
    Non-http(s) strings pass through trimmed (documented: userinfo@host is
    left as-is). Row-local regex/array expressions — shuffle-free."""
    u = F.trim(F.col(resolve_col(df, url)))
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    rest = F.regexp_replace(u, _SCHEME_RE, "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?#]+)", 1))
    host = F.regexp_replace(hostport, r"^www\.", "")
    host = (
        F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .otherwise(host)
    )
    host = F.regexp_replace(host, r"\.$", "")
    path = F.regexp_extract(rest, r"^[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(F.regexp_replace(path, "//+", "/"), "/$", "")
    q = F.regexp_extract(u, r"\?([^#]*)", 1)
    parts = F.when(q == "", F.array().cast("array<string>")).otherwise(
        F.split(q, "&")
    )
    survives = _param_filter_factory()
    qs = F.concat_ws("&", F.array_sort(F.filter(parts, survives)))
    canon = (
        F.when(~scheme.isin("http", "https"), u)
        .otherwise(
            F.concat(
                scheme,
                F.lit("://"),
                host,
                path,
                F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
            )
        )
    )
    return df.withColumn(name, canon)


def _param_filter_factory():
    """Factory (not a bare lambda: late-binding/introspection gotchas) for
    the query-param survival predicate used in the normalize HOF filter."""

    def survives(p):
        cond = p != ""
        for pat in TRACKING_PARAM_PATTERNS:
            cond = cond & ~p.rlike(pat)
        return cond

    return survives


def _canon_sql(u: str) -> str:
    """Spark-SQL rendering of url_normalize's canonical expression over a
    trimmed url expression ``u`` (renderer parity path)."""
    sch = _sql_escape(_SCHEME_RE)
    scheme = f"lower(regexp_extract({u}, '{sch}', 1))"
    rest = f"regexp_replace({u}, '{sch}', '')"
    hostport = f"lower(regexp_extract({rest}, '^([^/?#]+)', 1))"
    host = f"regexp_replace({hostport}, '^www\\\\.', '')"
    host = (
        f"CASE WHEN {scheme} = 'http' THEN regexp_replace({host}, ':80$', '') "
        f"WHEN {scheme} = 'https' THEN regexp_replace({host}, ':443$', '') "
        f"ELSE {host} END"
    )
    host = f"regexp_replace({host}, '\\\\.$', '')"
    path = f"regexp_extract({rest}, '^[^/?#]*([^?#]*)', 1)"
    path = f"regexp_replace(regexp_replace({path}, '//+', '/'), '/$', '')"
    q = f"regexp_extract({u}, '\\\\?([^#]*)', 1)"
    parts = (
        f"CASE WHEN {q} = '' THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE split({q}, '&') END"
    )
    keep_cond = " AND ".join(
        ["p != ''"] + [f"NOT p RLIKE '{pat}'" for pat in TRACKING_PARAM_PATTERNS]
    )
    qs = f"concat_ws('&', array_sort(filter({parts}, p -> {keep_cond})))"
    return (
        f"CASE WHEN NOT {scheme} IN ('http', 'https') THEN {u} "
        f"ELSE concat({scheme}, '://', {host}, {path}, "
        f"CASE WHEN {qs} = '' THEN '' ELSE concat('?', {qs}) END) END"
    )


@renderer("url_normalize")
def _r_url_normalize(source, url, name="URL_CANON", _input_columns=()) -> str:
    return with_columns_sql(
        source, {name: _canon_sql(f"trim({url})")}, _input_columns
    )


@spark_transform("dedup_url", category="curation", streaming_ok=False)
def dedup_url(
    df: DataFrame,
    url: str,
    id_col: str,
    keep: str = "min",
    mode: str = "filter",
) -> DataFrame:
    """URL-level dedup: one row per canonical URL (see ``url_normalize``),
    keeping the min (or max) id — the cheap first pass of a crawl pipeline,
    upstream of content fingerprints and MinHash. ``mode='flag'`` appends
    ``URL_DUP`` instead of filtering. One hash shuffle on the canonical URL;
    NULL urls are never collapsed (each kept)."""
    from pyspark.sql import Window

    i = resolve_col(df, id_col)
    canon = url_normalize(df, url, name="__canon")
    order = F.col(i).asc() if keep == "min" else F.col(i).desc()
    w = Window.partitionBy("__canon").orderBy(order)
    rn = canon.withColumn("__rn", F.row_number().over(w))
    first = (F.col("__rn") == 1) | F.col("__canon").isNull()
    if mode == "flag":
        return rn.withColumn("URL_DUP", ~first).drop("__rn", "__canon")
    return rn.filter(first).drop("__rn", "__canon")


@renderer("dedup_url")
def _r_dedup_url(source, url, id_col, keep="min", mode="filter") -> str:
    direction = "ASC" if keep == "min" else "DESC"
    canon = _canon_sql(f"trim({url})")
    inner = (
        f"SELECT *, ROW_NUMBER() OVER (PARTITION BY {canon} "
        f"ORDER BY {id_col} {direction}) AS __rn, {canon} IS NULL AS __cn "
        f"FROM {source}"
    )
    if mode == "flag":
        return (
            f"SELECT * EXCEPT (__rn, __cn), NOT (__rn = 1 OR __cn) AS URL_DUP "
            f"FROM ({inner})"
        )
    return f"SELECT * EXCEPT (__rn, __cn) FROM ({inner}) WHERE __rn = 1 OR __cn"


@spark_transform("bigram_logprob", category="curation", streaming_ok=False)
def bigram_logprob(
    df: DataFrame,
    text: str,
    id_col: str,
    lam: float = 0.7,
    alpha: float = 1.0,
    round_to: int = 6,
) -> DataFrame:
    """Interpolated-bigram language-model document scoring — the next step
    up from ``unigram_logprob`` on the CCNet-style quality ladder (public
    technique: Jelinek-Mercer interpolation of MLE n-gram models with
    add-alpha smoothing). Appends ``AVG_BIGRAM_LOGPROB``: the mean natural
    log of P(w_i | w_{i-1}) = lam*P_bi + (1-lam)*P_uni over token positions
    2..n, where P_bi(b|a) = (C(a,b)+alpha)/(C(a)+alpha*(V+1)) and
    P_uni(b) = (C(b)+alpha)/(N+alpha*(V+1)) are fit on the corpus itself.
    Word-soup and shuffled text score low even when every individual token
    is common — the signal a unigram model cannot see. Docs with fewer than
    2 tokens score 0.0.

    Scale: token and bigram count tables are distributed aggregations over
    slim exploded pairs (never collected); the two stat joins are AQE-sized
    (count tables are vocabulary-bounded, far smaller than the corpus); the
    one-row (N, V) frame broadcasts. No Python, no driver-side data.
    """
    t, i = resolve_col(df, text), resolve_col(df, id_col)
    toks = spread(df).select(F.col(i).alias("__id"), tokens_expr(F.col(t)).alias("__t"))
    uni = (
        toks.select(F.explode("__t").alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__cu"))
    )
    stats = uni.agg(
        F.sum("__cu").cast("double").alias("__N"),
        F.count(F.lit(1)).cast("double").alias("__V"),
    )
    # slim (id, prev, cur) pairs for positions 2..n
    pairs = toks.select(
        "__id",
        F.explode(
            F.when(
                F.size("__t") >= 2,
                F.transform(
                    F.sequence(F.lit(2), F.size("__t")),
                    lambda j: F.struct(
                        F.element_at(F.col("__t"), j - 1).alias("a"),
                        F.element_at(F.col("__t"), j).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        ).alias("__p"),
    ).select("__id", F.col("__p.a").alias("__a"), F.col("__p.b").alias("__b"))
    bi = pairs.groupBy("__a", "__b").agg(F.count(F.lit(1)).alias("__cb"))
    # score each DISTINCT bigram once (the stat joins run over the
    # vocabulary-bounded bigram table), then the big pairs table joins ONE
    # slim (a, b, logp) table — one shuffle of the corpus-sized side
    # instead of three. Self-fit => every pair and token exists in the
    # count tables, so inner joins are exact.
    denom_bi = F.col("__ca") + F.lit(alpha) * (F.col("__V") + 1)
    p_bi = (F.col("__cb") + F.lit(alpha)) / denom_bi
    denom_u = F.col("__N") + F.lit(alpha) * (F.col("__V") + 1)
    p_uni = (F.col("__cb_u") + F.lit(alpha)) / denom_u
    blog = (
        bi.join(uni.select(F.col("__w").alias("__a"), F.col("__cu").alias("__ca")), on="__a")
        .join(uni.select(F.col("__w").alias("__b"), F.col("__cu").alias("__cb_u")), on="__b")
        .crossJoin(F.broadcast(stats))
        .select("__a", "__b", F.log(F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni).alias("__lp"))
    )
    agg = (
        pairs.join(blog, on=["__a", "__b"])
        .groupBy("__id")
        .agg(F.round(F.avg("__lp"), round_to).alias("AVG_BIGRAM_LOGPROB"))
    )
    return df.join(agg.withColumnRenamed("__id", i), on=i, how="left").withColumn(
        "AVG_BIGRAM_LOGPROB", F.coalesce("AVG_BIGRAM_LOGPROB", F.lit(0.0))
    )


@spark_transform("decontaminate_embedding", category="curation", streaming_ok=False)
def decontaminate_embedding(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    eval_table: DataFrame,
    eval_vec: str | None = None,
    threshold: float = 0.9,
    mode: str = "score",
    round_to: int = 6,
) -> DataFrame:
    """SEMANTIC benchmark decontamination: flag/drop corpus rows whose
    embedding is near-identical (cosine >= threshold) to ANY evaluation-set
    embedding — catches paraphrased/reformatted eval leakage that n-gram
    ``decontaminate`` cannot see. mode='score': (id, MAX_EVAL_COSINE) per
    corpus row; mode='filter': input rows below the threshold.

    Scale: the eval table broadcasts (eval sets are small by nature); the
    corpus streams through a map-side max-cosine aggregate — the corpus
    itself never shuffles, and the per-id rollup ships one (id, double)
    row per corpus row at most.
    """
    check_mode(mode, ("score", "filter"))
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    ev = resolve_col(eval_table, eval_vec or vec_col)
    df, inp = reread_input(df, mode)
    evs = spread(eval_table).select(F.col(ev).alias("__evec"))
    cos = F.round(cosine_expr(F.col(v), F.col("__evec")), round_to)
    scored = (
        spread(df)
        .select(F.col(i), F.col(v))
        .crossJoin(F.broadcast(evs))
        .groupBy(i)
        .agg(F.max(cos).alias("MAX_EVAL_COSINE"))
    )
    if mode == "score":
        return scored
    flagged = scored.filter(F.col("MAX_EVAL_COSINE") >= threshold)
    return finish(df, id_col, mode, flagged, *inp, key=i)


@renderer("decontaminate_embedding")
def _r_decontaminate_embedding(
    source, vec_col, id_col, eval_table=None, eval_vec=None, threshold=0.9,
    mode="score", round_to=6,
) -> str:
    from ..errors import TransformRenderingException

    if eval_table is None or eval_table == "<dataframe>":
        raise TransformRenderingException(
            "decontaminate_embedding needs a named/chain eval_table to render"
        )
    ev = eval_vec or vec_col
    cos = f"ROUND({_cosine_sql(f's.{vec_col}', 'e.__evec')}, {int(round_to)})"
    scored = (
        f"SELECT s.{id_col}, MAX({cos}) AS MAX_EVAL_COSINE "
        f"FROM {source} s CROSS JOIN "
        f"(SELECT {ev} AS __evec FROM {eval_table}) e GROUP BY s.{id_col}"
    )
    if mode == "score":
        return scored
    flagged = f"SELECT {id_col} FROM ({scored}) WHERE MAX_EVAL_COSINE >= {threshold}"
    return drop_sql(source, id_col, flagged, key=id_col)


@renderer("bigram_logprob")
def _r_bigram_logprob(source, text, id_col, lam=0.7, alpha=1.0, round_to=6) -> str:
    from .text import _tokens_sql

    a, l = repr(float(alpha)), repr(float(lam))
    one_minus = repr(1.0 - float(lam))
    toks = f"SELECT {id_col} AS __id, {_tokens_sql(text)} AS __t FROM {source}"
    uni = (
        "SELECT __w, count(1) AS __cu FROM "
        f"(SELECT explode(__t) AS __w FROM ({toks})) GROUP BY __w"
    )
    stats = (
        "SELECT CAST(sum(__cu) AS DOUBLE) AS __N, "
        f"CAST(count(1) AS DOUBLE) AS __V FROM ({uni})"
    )
    pairs = (
        "SELECT __id, p.a AS __a, p.b AS __b FROM "
        f"(SELECT __id, explode(transform(sequence(2, size(__t)), "
        "i -> named_struct('a', element_at(__t, i - 1), 'b', element_at(__t, i)))) AS p "
        f"FROM ({toks}) WHERE size(__t) >= 2)"
    )
    bi = f"SELECT __a, __b, count(1) AS __cb FROM ({pairs}) GROUP BY __a, __b"
    # mirror the DataFrame shape exactly: score distinct bigrams once, then
    # one join for the pairs table (parity requires the identical plan shape
    # — a different join order changes double-accumulation at the 6dp edge)
    blog = (
        f"SELECT bic.__a, bic.__b, ln({l} * (bic.__cb + {a}) / "
        f"(ca.__cu + {a} * (__V + 1)) + {one_minus} * "
        f"(cbu.__cu + {a}) / (__N + {a} * (__V + 1))) AS __lp "
        f"FROM ({bi}) bic JOIN ({uni}) ca ON bic.__a = ca.__w "
        f"JOIN ({uni}) cbu ON bic.__b = cbu.__w CROSS JOIN ({stats})"
    )
    agg = (
        f"SELECT __id, ROUND(avg(__lp), {round_to}) AS AVG_BIGRAM_LOGPROB "
        f"FROM ({pairs}) f JOIN ({blog}) b ON f.__a = b.__a AND f.__b = b.__b "
        f"GROUP BY __id"
    )
    return (
        f"SELECT s.*, COALESCE(AVG_BIGRAM_LOGPROB, 0.0) AS AVG_BIGRAM_LOGPROB "
        f"FROM {source} s LEFT JOIN ({agg}) ON s.{id_col} = __id"
    )


def _host_suffixes(u: Column) -> Column:
    """array<string> of the URL host's domain-suffix chain
    (``a.b.example.com`` -> [a.b.example.com, b.example.com, example.com,
    com]) — lowercased, www./port/trailing-dot stripped, so blocklists match
    any subdomain of a listed domain. Row-local regex/array expressions."""
    rest = F.regexp_replace(F.trim(u), _SCHEME_RE, "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?#]+)", 1))
    host = F.regexp_replace(hostport, r"^www\.", "")
    host = F.regexp_replace(host, r":\d+$", "")
    host = F.regexp_replace(host, r"\.$", "")
    parts = F.split(host, r"\.")
    return F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.concat_ws(".", F.slice(parts, i, F.size(parts))),
    )


@spark_transform("filter_urls", category="curation")
def filter_urls(
    df: DataFrame,
    url: str,
    blocklist=None,
    blocklist_df: DataFrame | None = None,
    domain_col: str = "domain",
    mode: str = "remove",
    max_literal: int = 10_000,
) -> DataFrame:
    """Domain-blocklist filtering — the first gate of every crawl pipeline
    (spam/adult/SEO-farm domain lists). A row matches when ANY suffix of its
    URL host equals a listed domain, so ``example.com`` blocks
    ``a.b.example.com`` too.

    ``blocklist`` (list[str], <= ``max_literal``): matching is a row-local
    ``arrays_overlap`` against a literal array — zero shuffle, streaming-ok.
    ``blocklist_df`` (+``domain_col``): production-size lists join instead —
    a broadcast left_anti/left_semi on the exploded suffix chain, corpus
    shuffles nothing. ``mode``: 'remove' drops matches, 'keep' keeps only
    matches (allowlist), 'flag' appends boolean ``URL_BLOCKED`` (literal
    path only).
    """
    if mode not in ("remove", "keep", "flag"):
        raise ParameterException("mode must be 'remove', 'keep', or 'flag'")
    if (blocklist is None) == (blocklist_df is None):
        raise ParameterException("pass exactly one of blocklist / blocklist_df")
    u = F.col(resolve_col(df, url))
    sufs = _host_suffixes(u)
    if blocklist is not None:
        if len(blocklist) > max_literal:
            raise ParameterException(
                f"blocklist has {len(blocklist)} entries (> {max_literal}); "
                "pass it as blocklist_df instead"
            )
        lit = F.array(*[F.lit(str(d).lower()) for d in blocklist])
        hit = F.arrays_overlap(sufs, lit)
        if mode == "flag":
            return df.withColumn("URL_BLOCKED", hit)
        return df.filter(~hit if mode == "remove" else hit)
    if mode == "flag":
        raise ParameterException("mode='flag' requires a literal blocklist")
    bl = F.broadcast(
        blocklist_df.select(
            F.lower(F.col(resolve_col(blocklist_df, domain_col))).alias("__dom")
        ).distinct()
    )
    staged = df.withColumn("__sufs", sufs)
    how = "left_anti" if mode == "remove" else "left_semi"
    out = staged.join(bl, F.array_contains(F.col("__sufs"), F.col("__dom")), how)
    return out.drop("__sufs")


@renderer("filter_urls")
def _r_filter_urls(
    source, url, blocklist=None, blocklist_df=None, domain_col="domain",
    mode="remove", max_literal=10_000, _input_columns=()
) -> str:
    from ..errors import TransformRenderingException

    if blocklist is None:
        raise TransformRenderingException(
            "filter_urls renders only with a literal blocklist"
        )
    rest = f"regexp_replace(trim({url}), '{_sql_escape(_SCHEME_RE)}', '')"
    host = f"lower(regexp_extract({rest}, '^([^/?#]+)', 1))"
    host = f"regexp_replace({host}, '^www\\\\.', '')"
    host = f"regexp_replace({host}, ':\\\\d+$', '')"
    host = f"regexp_replace({host}, '\\\\.$', '')"
    parts = f"split({host}, '\\\\.')"
    sufs = (
        f"transform(sequence(1, size({parts})), "
        f"i -> concat_ws('.', slice({parts}, i, size({parts}))))"
    )
    arr = "array(" + ", ".join(f"'{str(d).lower()}'" for d in blocklist) + ")"
    hit = f"arrays_overlap({sufs}, {arr})"
    if mode == "flag":
        return f"SELECT *, {hit} AS URL_BLOCKED FROM {source}"
    cond = f"NOT {hit}" if mode == "remove" else hit
    return f"SELECT * FROM {source} WHERE {cond}"


@spark_transform("pseudonymize", category="curation")
def pseudonymize(df: DataFrame, columns, salt: str, length: int = 16) -> DataFrame:
    """Replace identifier columns IN PLACE with salted-hash pseudonyms
    (public pattern: keyed pseudonymization): ``substr(sha256(salt || ':' ||
    value), 1, length)``. The same (salt, value) always maps to the same
    pseudonym, so pseudonymized tables still JOIN on the identifier — the
    property raw redaction destroys — while the salt keeps the mapping
    non-invertible by rainbow table. NULLs stay NULL; rotate the salt to
    unlink releases.

    Complement of ``pii_scrub``: that op masks PII *inside free text*, this
    one de-identifies *key columns*. Row-local sha256, shuffle-free.
    """
    from ..operators._util import as_list as _as_list
    from ..operators._util import resolve_cols as _resolve_cols

    if not salt:
        raise ParameterException("salt must be a non-empty string")
    if not 4 <= length <= 64:
        raise ParameterException("length must be in [4, 64]")
    out = df
    for c in _resolve_cols(df, _as_list(columns)):
        out = out.withColumn(
            c,
            F.substring(
                F.sha2(
                    F.concat(F.lit(salt), F.lit(":"), F.col(c).cast("string")), 256
                ),
                1,
                length,
            ),
        )
    return out


@renderer("pseudonymize")
def _r_pseudonymize(source, columns, salt, length=16, _input_columns=()) -> str:
    from ..operators._util import as_list as _as_list

    targets = set(_as_list(columns))
    # the salt lands inside a SQL string literal. Quote doubling ('') is
    # dialect-portable; backslash doubling is NOT (Spark's default parser
    # eats one backslash, ANSI-literal engines like DuckDB keep both — the
    # exported artifact would hash with a different salt). So no raw
    # backslash ever enters the literal: split on them and splice chr(92)
    # between the quoted segments, which every target dialect reads the
    # same way.
    segs = [p.replace("'", "''") for p in str(salt).split("\\")]
    if len(segs) == 1:
        salt_expr = f"'{segs[0]}'"
    else:
        salt_expr = "concat(" + ", chr(92), ".join(f"'{p}'" for p in segs) + ")"
    sel = ", ".join(
        f"substring(sha2(concat({salt_expr}, ':', CAST({c} AS STRING)), 256), 1, {length}) AS {c}"
        if c in targets else c
        for c in _input_columns
    )
    return f"SELECT {sel} FROM {source}"


@spark_transform("k_anonymize", category="curation", streaming_ok=False)
def k_anonymize(
    df: DataFrame,
    quasi_cols,
    k: int,
    action: str = "filter",
) -> DataFrame:
    """k-anonymity enforcement over quasi-identifier columns (Sweeney 2002):
    a row is k-anonymous when at least ``k`` rows share its full
    quasi-identifier combination — the standard re-identification guard
    before releasing or training on user-adjacent tables.

    ``action``:
      - ``'filter'``   — keep only k-anonymous rows (drop rare combos);
      - ``'flag'``     — keep everything, add ``GROUP_SIZE`` (bigint) and
        ``IS_K_ANON`` (1/0);
      - ``'suppress'`` — keep everything, NULL out the quasi columns on rows
        whose combo is rarer than ``k`` (suppression-style generalization).

    NULL quasi-values group together (window partitioning semantics — the
    privacy-correct choice: all-NULL rows are mutually indistinguishable).

    Scale: one window count partitioned by the quasi columns — a single hash
    shuffle on the quasi key, no ordering, no collect. Skewed combos are
    exactly the k-anonymous ones, so skew concentrates in groups that need
    no further work."""
    from pyspark.sql import Window

    cols = [resolve_col(df, c) for c in as_list(quasi_cols)]
    if not cols:
        raise ParameterException("k_anonymize requires at least one quasi column")
    if k < 2:
        raise ParameterException("k must be >= 2")
    if action not in ("filter", "flag", "suppress"):
        raise ParameterException("action must be 'filter', 'flag', or 'suppress'")
    size = F.count(F.lit(1)).over(Window.partitionBy(*cols)).cast("bigint")
    if action == "filter":
        return (
            df.withColumn("__gs", size)
            .filter(F.col("__gs") >= k)
            .drop("__gs")
        )
    if action == "flag":
        return df.withColumn("GROUP_SIZE", size).withColumn(
            "IS_K_ANON", F.when(F.col("GROUP_SIZE") >= k, 1).otherwise(0)
        )
    staged = df.withColumn("__gs", size)
    out = staged.select(
        *[
            F.when(F.col("__gs") >= k, F.col(c)).otherwise(F.lit(None)).alias(c)
            if c in cols
            else F.col(c)
            for c in df.columns
        ]
    )
    return out


@renderer("k_anonymize")
def _r_k_anonymize(source, quasi_cols, k, action="filter", _input_columns=()) -> str:
    cols = as_list(quasi_cols)
    part = ", ".join(cols)
    size = f"CAST(COUNT(*) OVER (PARTITION BY {part}) AS BIGINT)"
    if action == "filter":
        return (
            f"SELECT * EXCEPT (__gs) FROM "
            f"(SELECT *, {size} AS __gs FROM {source}) WHERE __gs >= {k}"
        )
    if action == "flag":
        return (
            f"SELECT *, {size} AS GROUP_SIZE, "
            f"CASE WHEN {size} >= {k} THEN 1 ELSE 0 END AS IS_K_ANON FROM {source}"
        )
    sel = ", ".join(
        f"CASE WHEN __gs >= {k} THEN {c} END AS {c}" if c in set(cols) else c
        for c in _input_columns
    )
    return f"SELECT {sel} FROM (SELECT *, {size} AS __gs FROM {source})"


@spark_transform("l_diversity", category="curation", streaming_ok=False)
def l_diversity(
    df: DataFrame,
    quasi_cols,
    sensitive: str,
    l: int,  # noqa: E741 — the metric's canonical name
    action: str = "filter",
) -> DataFrame:
    """l-diversity enforcement (Machanavajjhala et al. 2007) — the
    companion guard to ``k_anonymize``: a quasi-identifier group is
    l-diverse when it contains at least ``l`` DISTINCT values of the
    ``sensitive`` column, so group membership cannot reveal the sensitive
    attribute even when the group itself is large. NULL counts as a
    sensitive value (indistinguishable rows stay indistinguishable).

    ``action``: ``'filter'`` keeps only rows in l-diverse groups;
    ``'flag'`` adds ``DISTINCT_SENSITIVE`` (bigint) and ``IS_L_DIVERSE``
    (1/0).

    Scale: one distinct-count aggregate on the quasi key (partial distinct
    map-side) produces a |groups|-row stats table that joins back — AQE
    broadcasts it when small; the facts shuffle once, and no per-group set
    is ever materialized (the window collect_set formulation would)."""
    cols = [resolve_col(df, c) for c in as_list(quasi_cols)]
    if not cols:
        raise ParameterException("l_diversity requires at least one quasi column")
    sens = resolve_col(df, sensitive)
    if sens in cols:
        raise ParameterException("sensitive column cannot be a quasi column")
    if l < 2:
        raise ParameterException("l must be >= 2")
    if action not in ("filter", "flag"):
        raise ParameterException("action must be 'filter' or 'flag'")
    # countDistinct skips NULL; add an indicator so NULL counts as a value
    stats = df.groupBy(*cols).agg(
        (
            F.count_distinct(F.col(sens))
            + F.max(F.when(F.col(sens).isNull(), 1).otherwise(0))
        ).cast("bigint").alias("__ls")
    )
    joined = null_safe_join(df, stats, cols)
    if action == "filter":
        return joined.filter(F.col("__ls") >= l).drop("__ls")
    return joined.withColumnRenamed("__ls", "DISTINCT_SENSITIVE").withColumn(
        "IS_L_DIVERSE", F.when(F.col("DISTINCT_SENSITIVE") >= l, 1).otherwise(0)
    )


@renderer("l_diversity")
def _r_l_diversity(source, quasi_cols, sensitive, l, action="filter",  # noqa: E741
                   _input_columns=()) -> str:
    cols = as_list(quasi_cols)
    part = ", ".join(cols)
    on = " AND ".join(f"s.{c} <=> g.{c}" for c in cols)
    stats = (
        f"SELECT {part}, CAST(COUNT(DISTINCT {sensitive}) "
        f"+ MAX(CASE WHEN {sensitive} IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS __ls FROM {source} GROUP BY {part}"
    )
    sel = ", ".join(f"s.{c}" for c in _input_columns)
    if action == "filter":
        return (
            f"SELECT {sel} FROM {source} s LEFT JOIN ({stats}) g ON {on} "
            f"WHERE g.__ls >= {l}"
        )
    return (
        f"SELECT {sel}, g.__ls AS DISTINCT_SENSITIVE, "
        f"CASE WHEN g.__ls >= {l} THEN 1 ELSE 0 END AS IS_L_DIVERSE "
        f"FROM {source} s LEFT JOIN ({stats}) g ON {on}"
    )


@spark_transform("t_closeness", category="curation", streaming_ok=False)
def t_closeness(
    df: DataFrame,
    quasi_cols,
    sensitive: str,
    t: float,
    action: str = "filter",
) -> DataFrame:
    """t-closeness enforcement (Li, Li & Venkatasubramanian 2007) — the
    third guard of the privacy triad (``k_anonymize`` → group size,
    ``l_diversity`` → sensitive variety, t-closeness → sensitive
    DISTRIBUTION): a quasi-identifier group is t-close when the variational
    distance ``0.5 * Σ_c |q_g(c) - p(c)|`` between its sensitive-value
    distribution and the table-wide one is at most ``t`` — a group can be
    large AND varied yet still leak (e.g. 90% one diagnosis where the
    population has 10%). NULL is a regular sensitive value.

    ``action``: ``'filter'`` keeps rows of t-close groups; ``'flag'`` adds
    ``T_DISTANCE`` (6 dp) and ``IS_T_CLOSE`` (1/0). The comparison uses
    the 6-dp-rounded distance in both modes (engine-portable).

    Scale: one (quasi, sensitive) cell aggregate (map-side combine); group
    totals / global proportions are window sums OVER the slim cell frame;
    absent categories fold in closed-form (Σ_{c∉g} p(c) = 1 - Σ_{c∈g}
    p(c)), so nothing enumerates the full group×category grid. The
    |groups|-row distance table joins back — AQE broadcast — and the
    facts shuffle once."""
    from pyspark.sql import Window

    cols = [resolve_col(df, c) for c in as_list(quasi_cols)]
    if not cols:
        raise ParameterException("t_closeness requires at least one quasi column")
    sens = resolve_col(df, sensitive)
    if sens in cols:
        raise ParameterException("sensitive column cannot be a quasi column")
    if not (0 < float(t) <= 1):
        raise ParameterException("t must be in (0, 1]")
    if action not in ("filter", "flag"):
        raise ParameterException("action must be 'filter' or 'flag'")
    cells = df.groupBy(*cols, F.col(sens).alias("__s")).agg(
        F.count(F.lit(1)).alias("__n_gc")
    )
    n_g = F.sum("__n_gc").over(Window.partitionBy(*cols))
    n_c = F.sum("__n_gc").over(Window.partitionBy("__s"))
    n_tot = F.sum("__n_gc").over(Window.partitionBy())
    q_gc = F.col("__n_gc") / n_g
    p_c = n_c / n_tot
    scored = cells.select(
        *cols,
        F.abs(q_gc - p_c).alias("__ad"),
        p_c.alias("__p"),
    )
    dist = F.round(
        0.5 * (F.sum("__ad") + (F.lit(1.0) - F.sum("__p"))), 6
    ).alias("__td")
    stats = scored.groupBy(*cols).agg(dist)
    joined = null_safe_join(df, stats, cols)
    if action == "filter":
        return joined.filter(F.col("__td") <= float(t)).drop("__td")
    return joined.withColumnRenamed("__td", "T_DISTANCE").withColumn(
        "IS_T_CLOSE", F.when(F.col("T_DISTANCE") <= float(t), 1).otherwise(0)
    )


@renderer("t_closeness")
def _r_t_closeness(source, quasi_cols, sensitive, t, action="filter",
                   _input_columns=()) -> str:
    cols = as_list(quasi_cols)
    part = ", ".join(cols)
    tv = float(t)
    cells = (
        f"SELECT {part}, {sensitive} AS __s, COUNT(*) AS __n_gc "
        f"FROM {source} GROUP BY {part}, {sensitive}"
    )
    scored = (
        f"SELECT {part}, "
        f"ABS(__n_gc / (SUM(__n_gc) OVER (PARTITION BY {part}) * 1.0) - "
        f"(SUM(__n_gc) OVER (PARTITION BY __s)) / (SUM(__n_gc) OVER () * 1.0)) AS __ad, "
        f"(SUM(__n_gc) OVER (PARTITION BY __s)) / (SUM(__n_gc) OVER () * 1.0) AS __p "
        f"FROM ({cells})"
    )
    stats = (
        f"SELECT {part}, ROUND(0.5 * (SUM(__ad) + (1.0 - SUM(__p))), 6) AS __td "
        f"FROM ({scored}) GROUP BY {part}"
    )
    on = " AND ".join(f"s.{c} <=> g.{c}" for c in cols)
    sel = ", ".join(f"s.{c}" for c in _input_columns)
    if action == "filter":
        return (
            f"SELECT {sel} FROM {source} s LEFT JOIN ({stats}) g ON {on} "
            f"WHERE g.__td <= {tv!r}"
        )
    return (
        f"SELECT {sel}, g.__td AS T_DISTANCE, "
        f"CASE WHEN g.__td <= {tv!r} THEN 1 ELSE 0 END AS IS_T_CLOSE "
        f"FROM {source} s LEFT JOIN ({stats}) g ON {on}"
    )


@spark_transform("dp_aggregate", category="curation", streaming_ok=False)
def dp_aggregate(
    df: DataFrame,
    group_by,
    stat: str = "count",
    value_col: str | None = None,
    epsilon: float = 1.0,
    sensitivity: float = 1.0,
    seed: int | None = 42,
    round_to: int = 6,
) -> DataFrame:
    """Laplace-noised group aggregate (mechanism of Dwork, McSherry,
    Nissim & Smith 2006): the exact per-group COUNT or SUM plus
    Laplace(``sensitivity``/``epsilon``)-distributed noise. Returns ONLY
    the group keys and the noised statistic (``DP_COUNT`` /
    ``DP_SUM_{COL}``) — the exact value never leaves the aggregate.

    PRIVACY CONTRACT — read before claiming ε-DP. The noise is a
    deterministic function of (seed, group key): uniform-in-(0,1) derives
    from md5(seed ‖ key), then maps through the Laplace inverse CDF. The
    ε-DP guarantee therefore holds ONLY if the seed is drawn uniformly at
    random and kept SECRET, exactly like ``pseudonymize``'s salt — anyone
    who knows the seed can recompute the noise and subtract it to recover
    the exact statistic. With a known or public seed (including the
    default ``seed=42``, or any seed exported via ``.sql()`` / dbt
    rendering, which embeds it in the artifact) this operator is a
    DETERMINISTIC NOISED AGGREGATE with NO formal privacy guarantee; the
    explicit-seed mode exists for tests and cross-engine oracle replay.

    For a genuinely private release pass ``seed=None``: a cryptographically
    random secret seed is drawn per call (``secrets`` module), never stored
    or rendered — such a chain cannot be exported to SQL (the renderer
    raises), and the usual caveat applies that each fresh release composes
    ε's additively.

    Scale: one hash-aggregate shuffle on the group keys; the noise is a
    row-local projection over the (small) aggregate output. Nothing else.
    """
    from ._hash import md5_int

    keys = [resolve_col(df, c) for c in as_list(group_by)]
    if not keys:
        raise ParameterException("dp_aggregate requires at least one group column")
    if stat not in ("count", "sum"):
        raise ParameterException("stat must be 'count' or 'sum'")
    if stat == "sum" and not value_col:
        raise ParameterException("stat='sum' requires value_col")
    if epsilon <= 0 or sensitivity <= 0:
        raise ParameterException("epsilon and sensitivity must be > 0")
    if stat == "count":
        agg = F.count(F.lit(1)).cast("double")
        name = "DP_COUNT"
    else:
        v = resolve_col(df, value_col)
        agg = F.coalesce(F.sum(F.col(v).cast("double")), F.lit(0.0))
        name = f"DP_SUM_{cleanse_name(v)}"
    if seed is None:
        import secrets

        # secret-seed mode: genuinely random, never stored or rendered —
        # the one mode under which the ε-DP claim actually holds.
        seed = secrets.randbits(63)
    b = float(sensitivity) / float(epsilon)
    key = F.concat_ws(
        "|", F.lit(str(int(seed))), *[F.col(c).cast("string") for c in keys]
    )
    # (m + 0.5) / 2^24 ∈ (0,1) strictly — ln() never sees 0
    u01 = (md5_int(key) % F.lit(16777216) + F.lit(0.5)) / F.lit(16777216.0)
    u = u01 - F.lit(0.5)
    noise = (
        -F.lit(b)
        * F.signum(u)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u))
    )
    out = df.groupBy(*keys).agg(agg.alias("__stat"))
    return out.select(
        *keys, F.round(F.col("__stat") + noise, round_to).alias(name)
    )


@renderer("dp_aggregate")
def _r_dp_aggregate(source, group_by, stat="count", value_col=None,
                    epsilon=1.0, sensitivity=1.0, seed=42, round_to=6) -> str:
    # Rendering embeds the seed in plaintext SQL — acceptable only for the
    # explicit-seed (test/replay) mode. Secret-seed releases (seed=None)
    # must never be exported: the artifact would either leak the seed or
    # silently change the release. Raise instead.
    if seed is None:
        raise ParameterException(
            "dp_aggregate with seed=None (secret-seed private release) "
            "cannot be rendered to SQL: the artifact would embed the seed. "
            "Pass an explicit seed for renderable (non-private) chains."
        )
    keys = as_list(group_by)
    if not keys:
        raise ParameterException("dp_aggregate requires at least one group column")
    if stat not in ("count", "sum"):
        raise ParameterException("stat must be 'count' or 'sum'")
    if stat == "sum" and not value_col:
        raise ParameterException("stat='sum' requires value_col")
    if epsilon <= 0 or sensitivity <= 0:
        raise ParameterException("epsilon and sensitivity must be > 0")
    if stat == "count":
        agg = "CAST(COUNT(1) AS DOUBLE)"
        name = "DP_COUNT"
    else:
        agg = f"COALESCE(SUM(CAST({value_col} AS DOUBLE)), CAST(0.0 AS DOUBLE))"
        name = f"DP_SUM_{cleanse_name(value_col)}"
    b = float(sensitivity) / float(epsilon)
    key = ", ".join(f"CAST({c} AS STRING)" for c in keys)
    h = f"CAST(conv(substring(md5(concat_ws('|', '{int(seed)}', {key})), 1, 8), 16, 10) AS BIGINT)"
    u = f"(({h} % 16777216 + 0.5) / 16777216.0 - 0.5)"
    noise = f"(-{b!r} * SIGN({u}) * LN(1.0 - 2.0 * ABS({u})))"
    sel = ", ".join(keys)
    return (
        f"SELECT {sel}, ROUND({agg} + {noise}, {int(round_to)}) AS {name} "
        f"FROM {source} GROUP BY {sel}"
    )


def cap_order_exprs(df: DataFrame, order_by, key: str, seed: int,
                    descending: bool) -> list:
    """The shared capped-window sort key of :func:`cap_per_group` and
    ``streaming.ops.stream_quota``: order_by columns (desc/asc), then a
    seeded hash of the UNIQUE row key, then the key itself — deterministic
    across runs and engines as long as ``key`` is unique per row."""
    obs = [resolve_col(df, c) for c in as_list(order_by)]
    tbc = resolve_col(df, key)
    h = F.md5(
        F.concat_ws("|", F.lit(str(int(seed))), F.col(tbc).cast("string"))
    )
    return [
        (F.col(c).desc() if descending else F.col(c).asc()) for c in obs
    ] + [h.asc(), F.col(tbc).asc()]


@spark_transform("cap_per_group", category="curation", streaming_ok=False)
def cap_per_group(
    df: DataFrame,
    group_by,
    k: int,
    key: str,
    order_by=None,
    seed: int = 42,
    descending: bool = True,
) -> DataFrame:
    """Keep at most ``k`` rows per group — the crawl-curation cap ("at most
    K pages per host / domain / source", the Gopher & RefinedWeb recipe
    that stops any single site from dominating a corpus).

    ``key`` must be a UNIQUE row id: ties on ``order_by`` (and the
    no-order variant) break on a seeded hash of it, so the survivors are
    deterministic across runs and engines, never partition-order
    accidents — a non-unique key would void that guarantee, which is why
    the parameter is required rather than defaulted. With ``order_by``:
    keep the TOP-k by those columns (``descending`` by default — keep the
    best-scored pages). Without: a seeded uniform k-sample per group.

    Scale: ONE window shuffle on the group keys; the per-group sort is
    local to the partition. The 100-TB skew case (one host with 10⁸ pages)
    is exactly what the cap exists for — row_number short-circuits via
    WindowGroupLimit pre-shuffle pruning in Spark 3.5+, so oversized
    groups prune to k survivors map-side BEFORE shuffling.
    """
    from pyspark.sql import Window

    keys = [resolve_col(df, c) for c in as_list(group_by)]
    if not keys:
        raise ParameterException("cap_per_group requires at least one group column")
    if k < 1:
        raise ParameterException("k must be >= 1")
    if not key:
        raise ParameterException(
            "key is required — a unique row id makes survivors deterministic"
        )
    w = Window.partitionBy(*keys).orderBy(
        *cap_order_exprs(df, order_by, key, seed, descending)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k))
        .drop("__rn")
    )


@renderer("cap_per_group")
def _r_cap_per_group(source, group_by, k, key, order_by=None, seed=42,
                     descending=True, _input_columns=()) -> str:
    keys = as_list(group_by)
    if not keys:
        raise ParameterException("cap_per_group requires at least one group column")
    if k < 1:
        raise ParameterException("k must be >= 1")
    if not key:
        raise ParameterException(
            "key is required — a unique row id makes survivors deterministic"
        )
    obs = as_list(order_by)
    tb = key
    h = f"md5(concat_ws('|', '{int(seed)}', CAST({tb} AS STRING)))"
    direction = "DESC" if descending else "ASC"
    order = ", ".join(
        [f"{c} {direction}" for c in obs] + [f"{h} ASC", f"{tb} ASC"]
    )
    part = ", ".join(keys)
    sel = ", ".join(_input_columns)
    return (
        f"SELECT {sel} FROM (SELECT *, ROW_NUMBER() OVER "
        f"(PARTITION BY {part} ORDER BY {order}) AS __rn FROM {source}) "
        f"WHERE __rn <= {int(k)}"
    )
