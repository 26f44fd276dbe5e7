"""Text-analysis suite over the ``documents`` table - the operators a
large-scale training-data pipeline needs (token counting, quality
scoring, language ID, fingerprinting). All native column expressions
(split/regexp/higher-order array functions): JVM-side, whole-stage
codegen, no Python in the hot path - at 100 TB these run as pure map
stages with no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from .common import global_cumsum, t, t_split, transient_persist
from .registry import query

#: tokens = whitespace split of the trimmed, lowercased text. Documents
#: here are ASCII word soup; Unicode-aware tokenization would swap the
#: pattern, not the plan shape.
_TOKENS_SQL = "string_split_regex(trim(lower(text)), '\\s+')"


def _tokens():
    return F.split(F.trim(F.lower(F.col("text"))), r"\s+")


#: milli-unit quality score (distinct-token ratio) as PURE INTEGER
#: arithmetic on BOTH engines: (1000 * n_distinct) DIV n_tokens. No
#: double ever enters the computation, so no representable-boundary
#: tie can diverge across engines/builds (the q174/q260/q230 bug
#: class: float floor(1000.0*d/n) can land one ulp off an integer).
_SCORE_SQL = (
    f"((1000 * len(list_distinct({_TOKENS_SQL}))) // len({_TOKENS_SQL}))"
)

_SCORE_SPARK_SQL = (
    r"((1000 * size(array_distinct(split(trim(lower(text)), '\\s+'))))"
    r" DIV size(split(trim(lower(text)), '\\s+')))"
)


def _int_score():
    """Spark Column: the milli-unit quality score via integer DIV -
    bit-exact vs ``_SCORE_SQL`` on any engine build."""
    return F.expr(_SCORE_SPARK_SQL).cast("long")


_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

_LANG_MARKERS = {
    # tiny deterministic stopword sets per language - heuristic n-gram/
    # stopword language ID. The detector's value is its *shape* (argmax
    # over per-language hit counts, fixed tie order), not linguistic
    # accuracy on this synthetic corpus.
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "la", "de", "los", "es"),
    "zh": ("的", "是", "在", "了", "和"),
}


@query(
    "q30_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
)
def q30_token_count(spark, sf_dir):
    """Whitespace token counting (the BPE-ish regex variant is
    q31's avg token length; both stay in codegen)."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(_tokens()).cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


@query(
    "q31_quality_score",
    oracle=f"""
    WITH x AS (
      SELECT doc_id, n_chars, {_TOKENS_SQL} AS toks, trim(lower(text)) AS s
      FROM documents
    ),
    y AS (
      SELECT doc_id, n_chars,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(toks, x -> x IN {_STOPWORDS!r})) AS BIGINT)
               AS n_stopwords,
             CAST(length(regexp_replace(s, '[^.,!?;:]', '', 'g')) AS BIGINT)
               AS n_punct
      FROM x
    )
    SELECT doc_id, n_tokens, n_stopwords, n_punct,
           ROUND(CAST(n_stopwords AS DOUBLE) / NULLIF(n_tokens, 0), 4)
             AS stopword_ratio,
           ROUND(CAST(n_punct AS DOUBLE) / NULLIF(n_chars, 0), 4) AS punct_ratio,
           ROUND(CAST(n_chars AS DOUBLE) / NULLIF(n_tokens, 0), 4)
             AS avg_token_span
    FROM y
    """,
)
def q31_quality_score(spark, sf_dir):
    """Document quality features: length/stopword/punctuation ratios -
    the standard pre-training quality filter inputs."""
    docs = t(spark, sf_dir, "documents")
    toks = _tokens()
    s = F.trim(F.lower(F.col("text")))
    x = docs.select(
        "doc_id",
        "n_chars",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda c: c.isin(*_STOPWORDS)))
        .cast("long")
        .alias("n_stopwords"),
        F.length(F.regexp_replace(s, r"[^.,!?;:]", "")).cast("long").alias(
            "n_punct"
        ),
    )
    return x.select(
        "doc_id",
        "n_tokens",
        "n_stopwords",
        "n_punct",
        # NULLIF on n_tokens mirrors the oracle exactly (ADVICE r12):
        # today n_tokens >= 1 by the empty-split-yields-[''] invariant
        # on BOTH engines, but an engine upgrade changing empty-split
        # semantics would otherwise turn this into a Spark ANSI
        # divide-by-zero error vs a DuckDB NULL.
        F.round(F.col("n_stopwords") / F.expr("NULLIF(n_tokens, 0)"), 4)
        .alias("stopword_ratio"),
        F.round(F.col("n_punct") / F.expr("NULLIF(n_chars, 0)"), 4)
        .alias("punct_ratio"),
        F.round(F.col("n_chars") / F.expr("NULLIF(n_tokens, 0)"), 4)
        .alias("avg_token_span"),
    )


def _lang_score_sql(lang: str) -> str:
    markers = _LANG_MARKERS[lang]
    return f"len(list_filter(toks, x -> x IN {markers!r}))"


@query(
    "q32_lang_id",
    oracle=f"""
    WITH x AS (
      SELECT doc_id, lang AS labeled_lang, {_TOKENS_SQL} AS toks FROM documents
    ),
    s AS (
      SELECT doc_id, labeled_lang,
             {_lang_score_sql('en')} AS s_en,
             {_lang_score_sql('de')} AS s_de,
             {_lang_score_sql('fr')} AS s_fr,
             {_lang_score_sql('es')} AS s_es,
             {_lang_score_sql('zh')} AS s_zh
      FROM x
    )
    SELECT doc_id, labeled_lang,
           CASE
             WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
             WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
             WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
             WHEN s_es >= s_zh THEN 'es'
             ELSE 'zh'
           END AS detected_lang
    FROM s
    """,
)
def q32_lang_id(spark, sf_dir):
    """Stopword-hit language ID: argmax over per-language marker counts
    with a fixed tie order (en > de > fr > es > zh)."""
    docs = t(spark, sf_dir, "documents")
    toks = _tokens()

    # Single-arg closure via a factory: F.filter binds one lambda var per
    # parameter, so a default-arg `m=markers` would become a second
    # lambda Column (arity 2 -> (element, index)) and `isin(*m)` crashes.
    def _hits(ms):
        return lambda c: c.isin(*ms)

    scores = {
        lang: F.size(F.filter(toks, _hits(markers)))
        for lang, markers in _LANG_MARKERS.items()
    }
    s = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[scores[lang].alias(f"s_{lang}") for lang in _LANG_MARKERS],
    )
    c = F.col
    detected = (
        F.when(
            (c("s_en") >= c("s_de"))
            & (c("s_en") >= c("s_fr"))
            & (c("s_en") >= c("s_es"))
            & (c("s_en") >= c("s_zh")),
            "en",
        )
        .when(
            (c("s_de") >= c("s_fr"))
            & (c("s_de") >= c("s_es"))
            & (c("s_de") >= c("s_zh")),
            "de",
        )
        .when((c("s_fr") >= c("s_es")) & (c("s_fr") >= c("s_zh")), "fr")
        .when(c("s_es") >= c("s_zh"), "es")
        .otherwise("zh")
    )
    return s.select("doc_id", "labeled_lang", detected.alias("detected_lang"))


@query(
    "q33_fingerprint",
    oracle="""
    WITH n AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    )
    SELECT doc_id, fp,
           CAST('0x' || substr(fp, 1, 15) AS BIGINT) AS fp64
    FROM n
    """,
)
def q33_fingerprint(spark, sf_dir):
    """Content fingerprint: md5 of whitespace-normalized lowercase text,
    plus a 60-bit integer prefix for compact join keys (the cross-engine
    hash bridge documented in plans/registry.py)."""
    docs = t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    fp = F.md5(norm).alias("fp")
    n = docs.select("doc_id", fp)
    return n.select(
        "doc_id",
        "fp",
        F.conv(F.substring(F.col("fp"), 1, 15), 16, 10)
        .cast("long")
        .alias("fp64"),
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints + TF-IDF
# ---------------------------------------------------------------------------

#: winnowing window: one fingerprint (the min k-gram hash) per W
#: consecutive shingles.
_WINNOW_W = 4

_SHINGLES_SQL_T = (
    f"list_transform(range(1, greatest(len({_TOKENS_SQL}) - 2, 0) + 1), "
    f"i -> array_to_string(list_slice({_TOKENS_SQL}, i, i + 2), ' '))"
)


@query(
    "q76_winnowing_fingerprints",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_SHINGLES_SQL_T} AS sh FROM documents),
    expl AS (
      SELECT doc_id,
             unnest(list_zip(sh, range(1, len(sh) + 1))) AS z
      FROM base
    ),
    hashed AS (
      SELECT doc_id, CAST(z[2] AS BIGINT) AS pos,
             CAST(concat('0x', substr(md5(CAST(z[1] AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM expl
    ),
    winmin AS (
      SELECT doc_id, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN {_WINNOW_W - 1} PRECEDING
                          AND CURRENT ROW) AS fp
      FROM hashed
    )
    SELECT DISTINCT doc_id, fp FROM winmin WHERE pos >= {_WINNOW_W}
    """,
)
def q76_winnowing_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (the rolling-hash selection
    scheme of MOSS): hash every word 3-gram, slide a window of
    ``_WINNOW_W`` consecutive hashes, keep the window minimum, dedup.
    Guarantees any shared run of ~W+2 tokens between two documents
    yields a shared fingerprint, with output ~2/(W+1) of the shingles.

    Plan: explode shingles once, one window (single shuffle on doc_id),
    then a local distinct - same scale shape as the dedup suite, and
    the selected-fp set joins doc-to-doc for plagiarism-style overlap
    without comparing full texts."""
    from pyspark.sql import Window

    from .dedup import _h64, _shingles

    docs = t_split(spark, sf_dir, "documents")
    expl = docs.select(
        "doc_id", F.posexplode(_shingles()).alias("pos0", "shingle")
    )
    hashed = expl.select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        _h64(F.col("shingle")).alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_WINNOW_W - 1), Window.currentRow)
    )
    return (
        hashed.select(
            "doc_id", "pos", F.min("h").over(w).alias("fp")
        )
        .filter(F.col("pos") >= _WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
    )


@query(
    "q77_tfidf_topterms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6)
               AS tfidf,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) DESC,
                        tf.term
             ) AS rk
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, CAST(rk AS BIGINT) AS rk
    FROM scored WHERE rk <= 3
    """,
)
def q77_tfidf_topterms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (tf x ln(N/df), deterministic
    tie-break on term).

    Plan: one explode, two hash aggregates (tf keyed on (doc, term),
    df keyed on term), a shuffle join back on term, and a per-doc
    window top-k. df is vocabulary-sized - at 100 TB it broadcasts;
    here AQE decides. The idf factor uses a scalar N via crossJoin of
    a 1-row aggregate (no driver collect)."""
    from pyspark.sql import Window

    docs = t_split(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tok.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df")
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.select(
            "doc_id",
            "term",
            F.round("score", 6).alias("tfidf"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf", F.col("rk").cast("long").alias("rk"))
    )


@query(
    "q175_vocab_coverage",
    oracle=f"""
    WITH freq AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents)
      GROUP BY tok
    ), ranked AS (
      SELECT tok, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk,
             SUM(cnt) OVER (ORDER BY cnt DESC, tok
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum,
             SUM(cnt) OVER () AS total
      FROM freq
    )
    SELECT CAST(t.target AS DOUBLE) AS target,
           CAST(MIN(r.rnk) AS BIGINT) AS vocab_size,
           ROUND(ARG_MIN(r.cum, r.rnk) / CAST(MAX(r.total) AS DOUBLE), 6)
             AS covered_share
    FROM ranked r
    JOIN (VALUES (0.50), (0.75), (0.90), (0.95)) AS t(target)
      ON r.cum >= CAST(t.target AS DOUBLE) * r.total
    GROUP BY t.target
    """,
)
def q175_vocab_coverage(spark, sf_dir):
    """Tokenizer vocabulary sizing: the minimal vocab (most-frequent
    tokens first, ties broken lexically) that covers 50/75/90/95% of
    all corpus token occurrences - the curve a tokenizer team reads
    before fixing a vocab size budget.

    Scale: token frequency is one shuffle with map-side combine; the
    frequency ranking and cumulative coverage are the band-partitioned
    two-phase cumsum itself (:func:`plans.common.global_cumsum` -
    range exchange on (-cnt, tok), map-only Arrow prefix, driver
    offsets), so even a billion-term vocabulary never lands on one
    task.  The corpus total comes back as a plan-time literal.  The
    4-row target frame joins on an inequality, which is a broadcast
    nested loop - bounded by 4 x |vocab|, i.e. a map stage, not a
    quadratic join."""
    docs = t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(_tokens()).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    cum, _, totals = global_cumsum(
        freq,
        [F.desc("cnt"), F.asc("tok")],
        sums=[("cnt", "cum")],
        rn_col="rnk",
    )
    ranked = cum.select("cnt", "rnk", "cum").withColumn(
        "total", F.lit(totals["cum"])
    )
    targets = spark.createDataFrame(
        [(0.50,), (0.75,), (0.90,), (0.95,)], "target double"
    )
    return (
        ranked.join(
            F.broadcast(targets),
            F.col("cum") >= F.col("target") * F.col("total"),
        )
        .groupBy("target")
        .agg(
            F.min("rnk").alias("vocab_size"),
            F.round(
                F.min_by("cum", "rnk") / F.max("total").cast("double"), 6
            ).alias("covered_share"),
        )
    )


# ---------------------------------------------------------------------------
# shared (source, term, tf) frequency stage
# ---------------------------------------------------------------------------


def cached_source_term_tf(spark, sf_dir):
    """The per-(source, term) token-frequency table, persisted once per
    session: q280's Zipf fit, q288's frequency-of-frequencies, and
    q292's transfer matrix all fold over it - before sharing, each ran
    its own corpus scan + token explode + hash aggregate. At cluster
    scale this is the materialized term-frequency table every
    corpus-linguistics job scans."""
    from .common import shared_stage

    return shared_stage(
        spark,
        sf_dir,
        "source_term_tf",
        lambda: (
            t_split(spark, sf_dir, "documents")
            .select("source", F.explode(_tokens()).alias("term"))
            .groupBy("source", "term")
            .agg(F.count("*").alias("tf"))
        ),
    )


# ---------------------------------------------------------------------------
# q280: per-source Zipf/Heaps corpus audit
# ---------------------------------------------------------------------------

#: rank cutoff for the per-source Zipf fit: the regression runs on each
#: source's top-K terms (the head is where the power law lives; the
#: tail is noise at any corpus size).
_ZIPF_TOP = 100


@query(
    "q280_zipf_source_audit",
    oracle=f"""
    WITH tt AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT source, unnest({_TOKENS_SQL}) AS term FROM documents)
      GROUP BY 1, 2
    ),
    src AS (
      SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab
      FROM tt GROUP BY 1
    ),
    rk AS (
      SELECT source, f,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY f DESC, term
             ) AS r
      FROM tt
    ),
    z AS (
      SELECT source,
             ROUND(regr_slope(ln(CAST(f AS DOUBLE)),
                              ln(CAST(r AS DOUBLE))), 4) AS zipf_slope,
             ROUND(regr_r2(ln(CAST(f AS DOUBLE)),
                           ln(CAST(r AS DOUBLE))), 4) AS zipf_r2
      FROM rk WHERE r <= {_ZIPF_TOP} GROUP BY 1
    )
    SELECT src.source, src.n_tokens, src.vocab,
           ROUND(CAST(src.vocab AS DOUBLE) / src.n_tokens, 6) AS ttr,
           z.zipf_slope, z.zipf_r2
    FROM src JOIN z USING (source)
    """,
)
def q280_zipf_source_audit(spark, sf_dir):
    """PER-SOURCE linguistic health audit: token count, vocabulary
    size, type-token ratio (the Heaps'-law observable - vocab growth
    vs corpus growth), and the Zipf slope/r2 fitted by least squares
    over ln(freq) ~ ln(rank) on each source's top-100 terms.
    A source whose slope is far from ~-1 or whose r2 collapses is
    boilerplate, spam, or machine-generated - the corpus-intake
    screen run before a source is admitted to a training mix.

    Scale: per-(source, term) frequency is one explode + map-side
    combinable hash aggregate; ranking is a window partitioned by
    source (shuffles only the vocabulary relation, never documents);
    the regression is Spark's algebraic regr_slope/regr_r2 over
    100 rows per source. Every stage partitions by source or
    term - nothing global, nothing single-partition."""
    from pyspark.sql import Window

    tt = cached_source_term_tf(spark, sf_dir).withColumnRenamed(
        "tf", "f"
    )
    src = tt.groupBy("source").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
    )
    rk = tt.select(
        "source",
        "f",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.desc("f"), F.asc("term")
            )
        )
        .alias("r"),
    ).filter(F.col("r") <= _ZIPF_TOP)
    z = rk.groupBy("source").agg(
        F.round(F.expr("regr_slope(ln(CAST(f AS DOUBLE)), ln(CAST(r AS DOUBLE)))"), 4).alias(
            "zipf_slope"
        ),
        F.round(F.expr("regr_r2(ln(CAST(f AS DOUBLE)), ln(CAST(r AS DOUBLE)))"), 4).alias(
            "zipf_r2"
        ),
    )
    return src.join(z, "source").select(
        "source",
        "n_tokens",
        "vocab",
        F.round(F.col("vocab").cast("double") / F.col("n_tokens"), 6).alias(
            "ttr"
        ),
        "zipf_slope",
        "zipf_r2",
    )


# ---------------------------------------------------------------------------
# q286: chi-square independence audit (lang x source)
# ---------------------------------------------------------------------------


@query(
    "q286_lang_source_chi2",
    oracle="""
    WITH cells AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT lang, SUM(c) AS r FROM cells GROUP BY 1),
    ct AS (SELECT source, SUM(c) AS s FROM cells GROUP BY 1),
    tot AS (SELECT SUM(c) AS n FROM cells),
    grid AS (
      SELECT rt.lang, ct.source, rt.r, ct.s,
             COALESCE(cells.c, 0) AS o,
             CAST(rt.r AS DOUBLE) * ct.s / tot.n AS e
      FROM rt CROSS JOIN ct
      LEFT JOIN cells USING (lang, source), tot
    ),
    contrib AS (
      SELECT CAST(ROUND((o - e) * (o - e) / e * 1000000) AS BIGINT)
               AS xm
      FROM grid
    ),
    dims AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS n_langs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) AS n_sources,
             (SELECT CAST(n AS BIGINT) FROM tot) AS n_docs
    )
    SELECT d.n_docs, d.n_langs, d.n_sources,
           (d.n_langs - 1) * (d.n_sources - 1) AS dof,
           ROUND(SUM(c.xm) / 1000000.0, 4) AS chi2,
           ROUND(SQRT(SUM(c.xm) / 1000000.0 / (d.n_docs
                 * LEAST(d.n_langs - 1, d.n_sources - 1))), 6) AS cramers_v
    FROM contrib c, dims d
    GROUP BY d.n_docs, d.n_langs, d.n_sources, dof
    """,
)
def q286_lang_source_chi2(spark, sf_dir):
    """PEARSON CHI-SQUARE independence audit of the lang x source
    contingency table, with Cramer's V as the bounded effect size -
    the categorical-association screen a corpus intake runs to catch
    "this source is secretly single-language" or "language mix shifted
    under one crawler" (the categorical sibling of q200's KS and
    q244's PSI drift tests). Expected counts include OBSERVED-ZERO
    cells (marginal cross join), which a cells-only formulation would
    silently drop from the statistic.

    Scale: the contingency table is one map-side-combinable count
    aggregate; marginals, the |langs| x |sources| grid, and the final
    fold are all bounded by category cardinality, never by corpus
    size. Integer observed/marginal counts make each cell's
    contribution the identical float expression in both engines;
    contributions quantize to MICRO-UNIT BIGINTS (CAST(ROUND(x*1e6))
    of the same double both engines computed), so the fold is a
    bigint sum - order-independent by construction, not merely by
    rounding slack (VERDICT r7 item 7)."""
    docs = t_split(spark, sf_dir, "documents")
    cells = transient_persist(
        docs.groupBy("lang", "source").agg(
            F.count("*").cast("long").alias("c")
        )
    )
    rt = cells.groupBy("lang").agg(F.sum("c").alias("r"))
    ct = cells.groupBy("source").agg(F.sum("c").alias("s"))
    tot = cells.agg(F.sum("c").alias("n"))
    grid = (
        rt.crossJoin(ct)
        .join(cells, ["lang", "source"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.coalesce(F.col("c"), F.lit(0)).alias("o"),
            (F.col("r").cast("double") * F.col("s") / F.col("n")).alias(
                "e"
            ),
        )
    )
    contrib = grid.select(
        F.round(
            (F.col("o") - F.col("e")) * (F.col("o") - F.col("e"))
            / F.col("e")
            * 1_000_000
        )
        .cast("long")
        .alias("xm")
    )
    dims = (
        rt.agg(F.count("*").cast("long").alias("n_langs"))
        .crossJoin(ct.agg(F.count("*").cast("long").alias("n_sources")))
        .crossJoin(tot.select(F.col("n").cast("long").alias("n_docs")))
    )
    return (
        contrib.agg(F.sum("xm").alias("chi2_micro"))
        .crossJoin(F.broadcast(dims))
        .select(
            "n_docs",
            "n_langs",
            "n_sources",
            ((F.col("n_langs") - 1) * (F.col("n_sources") - 1)).alias(
                "dof"
            ),
            F.round(F.col("chi2_micro") / 1_000_000.0, 4).alias("chi2"),
            F.round(
                F.sqrt(
                    F.col("chi2_micro") / 1_000_000.0
                    / F.nullif(
                        (
                            F.col("n_docs")
                            * F.least(
                                F.col("n_langs") - 1,
                                F.col("n_sources") - 1,
                            )
                        ).cast("double"),
                        F.lit(0.0),
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
        # empty-in/empty-out parity with the oracle (whose final
        # FROM contrib is empty on an empty corpus) - the predicate
        # is vacuously true whenever any document exists (r11
        # empty-corpus census)
        .filter(F.col("n_docs") > 0)
    )


# ---------------------------------------------------------------------------
# q288: Good-Turing frequency-of-frequencies per source
# ---------------------------------------------------------------------------


@query(
    "q288_good_turing_mass",
    oracle=f"""
    WITH tt AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT source, unnest({_TOKENS_SQL}) AS term FROM documents)
      GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(f) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           ROUND(CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / SUM(f), 6) AS gt_unseen_mass,
           ROUND(CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS hapax_share
    FROM tt
    GROUP BY source
    """,
)
def q288_good_turing_mass(spark, sf_dir):
    """GOOD-TURING unseen-mass estimate per source: the
    frequency-of-frequencies profile (N1 singletons, N2 doubletons,
    vocabulary, tokens) and the two derived health numbers - GT unseen
    probability mass N1/N ("how much of this source's distribution
    have we NOT seen yet"; high = the crawl is far from exhausting the
    source, also the smoothing mass a KN/GT-smoothed LM reserves) and
    hapax share N1/V (high = productive/noisy vocabulary; near zero =
    templated boilerplate). Completes the corpus-intake panel next to
    q280's Zipf slope.

    Scale: one explode + two chained map-side-combinable hash
    aggregates ((source, term) then source); every output is an
    integer count or a single exact division - nothing global, no
    float summation anywhere."""
    tt = cached_source_term_tf(spark, sf_dir).withColumnRenamed(
        "tf", "f"
    )
    n1 = F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
    n2 = F.sum(F.when(F.col("f") == 2, 1).otherwise(0))
    return tt.groupBy("source").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        F.round(n1.cast("double") / F.sum("f"), 6).alias(
            "gt_unseen_mass"
        ),
        F.round(n1.cast("double") / F.count("*"), 6).alias("hapax_share"),
    )


# ---------------------------------------------------------------------------
# q291: character-entropy quality signal per source
# ---------------------------------------------------------------------------


@query(
    "q291_char_entropy",
    oracle="""
    WITH ch AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(text) + 1),
                                   i -> substring(text, i, 1))) AS c
      FROM documents
    ),
    cc AS (
      SELECT doc_id, source, c, CAST(COUNT(*) AS BIGINT) AS k
      FROM ch GROUP BY 1, 2, 3
    ),
    dl AS (
      SELECT doc_id, source, SUM(k) AS n,
             SUM(-1.0 * k * log2(CAST(k AS DOUBLE))) AS partial
      FROM cc GROUP BY 1, 2
    ),
    ent AS (
      SELECT doc_id, source,
             log2(CAST(n AS DOUBLE)) + partial / n AS h
      FROM dl
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(h), 4) AS avg_entropy,
           ROUND(MIN(h), 4) AS min_entropy,
           ROUND(MAX(h), 4) AS max_entropy
    FROM ent
    GROUP BY source
    """,
)
def q291_char_entropy(spark, sf_dir):
    """CHARACTER-LEVEL Shannon entropy per document, aggregated per
    source - the cheap proxy for compression ratio that quality
    pipelines use to flag both pathologies at once: near-zero entropy
    is repeated-character/templated junk, abnormally high entropy is
    base64/binary-in-text contamination. Uses the algebraic identity
    H = log2(n) - (1/n) * sum k_i*log2(k_i), so the fold needs only
    the integer (char, count) table, never materialized probabilities.

    Scale: the char explode is map-side (rows = corpus characters, no
    wider than the scan); (doc, char) counts combine map-side into a
    bounded-alphabet table per doc; the entropy fold and the source
    rollup are ordinary hash aggregates. No corpus-sized shuffle
    carries anything wider than (doc_id, char, count)."""
    ch = (
        t_split(spark, sf_dir, "documents")
        # empty text: DuckDB range(1, 1) is empty but Spark
        # sequence(1, 0) DESCENDS to [1, 0] - filter the degenerate
        # case identically on both sides (zero char rows)
        .filter(F.expr("char_length(text) > 0"))
        .select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(text)),"
                " i -> substring(text, i, 1))"
            )
        ).alias("c"),
        )
    )
    cc = ch.groupBy("doc_id", "source", "c").agg(
        F.count("*").cast("long").alias("k")
    )
    dl = cc.groupBy("doc_id", "source").agg(
        F.sum("k").alias("n"),
        F.sum(
            -1.0 * F.col("k") * F.log2(F.col("k").cast("double"))
        ).alias("partial"),
    )
    ent = dl.select(
        "source",
        (F.log2(F.col("n").cast("double")) + F.col("partial") / F.col("n"))
        .alias("h"),
    )
    return ent.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("h"), 4).alias("avg_entropy"),
        F.round(F.min("h"), 4).alias("min_entropy"),
        F.round(F.max("h"), 4).alias("max_entropy"),
    )


# ---------------------------------------------------------------------------
# q295: Wasserstein-1 length drift per source
# ---------------------------------------------------------------------------


@query(
    "q295_wasserstein_length_drift",
    oracle=f"""
    WITH dl AS (
      SELECT source, CAST(len({_TOKENS_SQL}) AS BIGINT) AS v
      FROM documents
      -- listwise: the CDFs are over observed lengths (r13 census)
      WHERE text IS NOT NULL
    ),
    vals AS (SELECT DISTINCT v FROM dl),
    srcs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS tot
             FROM dl GROUP BY 1),
    cnt AS (SELECT source, v, CAST(COUNT(*) AS BIGINT) AS n
            FROM dl GROUP BY 1, 2),
    grid AS (
      SELECT s.source, s.tot, va.v, COALESCE(c.n, 0) AS n
      FROM srcs s CROSS JOIN vals va
      LEFT JOIN cnt c ON c.source = s.source AND c.v = va.v
    ),
    scum AS (
      SELECT source, tot, v,
             SUM(n) OVER (PARTITION BY source ORDER BY v) AS cum
      FROM grid
    ),
    ccnt AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n FROM dl GROUP BY 1),
    ccum AS (
      SELECT v, SUM(n) OVER (ORDER BY v) AS cum,
             (SELECT COUNT(*) FROM dl) AS tot
      FROM ccnt
    ),
    step AS (
      SELECT s.source, s.v,
             LEAD(s.v) OVER (PARTITION BY s.source ORDER BY s.v) AS nv,
             CAST(s.cum AS DOUBLE) / s.tot
               - CAST(c.cum AS DOUBLE) / c.tot AS d
      FROM scum s JOIN ccum c USING (v)
    )
    SELECT source,
           ROUND(SUM((nv - v) * ABS(d)), 6) AS w1_tokens
    FROM step
    WHERE nv IS NOT NULL
    GROUP BY source
    """,
)
def q295_wasserstein_length_drift(spark, sf_dir):
    """WASSERSTEIN-1 (earth mover's) distance between each source's
    document-length distribution and the corpus distribution, in TOKEN
    units - the drift measure with a magnitude: KS (q200) says the
    CDFs differ, PSI (q244) and KL (q229) score bucket ratios, W1 says
    "this source's docs are effectively N tokens longer/shorter" - the
    number that directly predicts packing and truncation impact
    (q86/q290). On the 1-D line W1 is exactly the area between CDFs:
    sum over the value grid of gap x |F_s - F_corpus|.

    Scale: per-(source, value) counts are one hash aggregate; the
    grid, cumsums, and LEAD all live on frames bounded by
    |sources| x |value domain| (token counts span ~20-80), never
    corpus-sized - the per-source windows partition by source and the
    corpus cum windows over the ~|values|-row aggregate (the
    adjudicated bounded class). Integer counts make each CDF fraction
    the identical single division cross-engine."""
    from pyspark.sql import Window

    dl = t_split(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()  # CDFs over observed lengths (r13)
    ).select(
        "source", F.size(_tokens()).cast("long").alias("v")
    )
    vals = dl.select("v").distinct()
    srcs = dl.groupBy("source").agg(F.count("*").alias("tot"))
    cnt = dl.groupBy("source", "v").agg(F.count("*").alias("n"))
    grid = (
        srcs.crossJoin(F.broadcast(vals))
        .join(cnt, ["source", "v"], "left")
        .select(
            "source",
            "tot",
            "v",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )
    ws = Window.partitionBy("source").orderBy("v")
    scum = grid.select(
        "source",
        "tot",
        "v",
        F.sum("n").over(ws.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
    )
    ctot = dl.agg(F.count("*").alias("ctot"))
    wc = Window.orderBy("v")
    ccum = (
        dl.groupBy("v")
        .agg(F.count("*").alias("n"))
        .select(
            "v",
            F.sum("n")
            .over(wc.rowsBetween(Window.unboundedPreceding, 0))
            .alias("ccum"),
        )
        .crossJoin(F.broadcast(ctot))
    )
    step = scum.join(ccum, "v").select(
        "source",
        "v",
        F.lead("v").over(ws).alias("nv"),
        (
            F.col("cum").cast("double") / F.col("tot")
            - F.col("ccum").cast("double") / F.col("ctot")
        ).alias("d"),
    )
    return (
        step.filter(F.col("nv").isNotNull())
        .groupBy("source")
        .agg(
            F.round(
                F.sum((F.col("nv") - F.col("v")) * F.abs(F.col("d"))), 6
            ).alias("w1_tokens")
        )
    )


# ---------------------------------------------------------------------------
# q305: PMI collocation mining (adjacent-pair pointwise mutual information)
# ---------------------------------------------------------------------------

#: minimum pair support - PMI's classic failure mode is rare pairs
#: saturating the top of the list, so collocation miners always gate
#: on a count floor first.
_PMI_MIN = 5
_PMI_TOP = 20


@query(
    "q305_pmi_collocations",
    oracle=f"""
    WITH tok AS (SELECT {_TOKENS_SQL} AS tk FROM documents),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(tk) AS w FROM tok) GROUP BY w
    ),
    nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    pr AS (
      SELECT tk[r.i] AS w1, tk[r.i + 1] AS w2,
             CAST(COUNT(*) AS BIGINT) AS cp
      FROM tok, LATERAL unnest(range(1, len(tk))) r(i)
      WHERE len(tk) >= 2
      GROUP BY 1, 2
    ),
    np AS (SELECT CAST(SUM(cp) AS BIGINT) AS n FROM pr),
    scored AS (
      SELECT pr.w1 || ' ' || pr.w2 AS pair, pr.cp,
             ROUND(LN((CAST(pr.cp AS DOUBLE) / np.n) /
                      ((CAST(u1.c AS DOUBLE) / nu.n) *
                       (CAST(u2.c AS DOUBLE) / nu.n))), 6) AS pmi
      FROM pr
      JOIN uni u1 ON pr.w1 = u1.w
      JOIN uni u2 ON pr.w2 = u2.w
      CROSS JOIN nu CROSS JOIN np
      WHERE pr.cp >= {_PMI_MIN}
    )
    SELECT pair, cp AS pair_cnt, pmi
    FROM scored ORDER BY pmi DESC, pair LIMIT {_PMI_TOP}
    """,
)
def q305_pmi_collocations(spark, sf_dir):
    """COLLOCATION mining by pointwise mutual information: the top
    20 adjacent word pairs whose co-occurrence beats the
    independence expectation, gated on >= 5 support - the
    statistic (Church & Hanks 1990) behind multi-word-expression
    vocabularies and phrase-aware tokenizer seeding, and the natural
    companion to q227 (which ranks by RAW count: PMI re-ranks by
    informativeness).

    Scale: one corpus explode feeds BOTH censuses (unigram and
    adjacent-pair, each a map-side-combinable hash aggregate); the PMI
    join is pair-census x unigram-census on the word key twice -
    vocab-bounded frames, unhinted - plus two 1-row total frames
    (aggregate-derived, broadcast by construction). All counts are
    exact integers and the PMI expression is written operation-for-
    operation identically on both engines, so even the float ordering
    is deterministic cross-engine before the 6dp round."""
    docs = t_split(spark, sf_dir, "documents")
    toks = docs.select(_tokens().alias("tk"))
    uni = (
        toks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    nu = uni.agg(F.sum("c").cast("long").alias("nu"))
    z = F.arrays_zip(
        F.slice("tk", 1, F.size("tk") - 1),
        F.slice("tk", 2, F.size("tk") - 1),
    )
    pr = (
        toks.filter(F.size("tk") >= 2)
        .select(F.explode(z).alias("g"))
        .select(F.col("g.0").alias("w1"), F.col("g.1").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("cp"))
        .filter(F.col("cp") >= _PMI_MIN)
    )
    np_ = (
        toks.filter(F.size("tk") >= 2)
        .select((F.size("tk") - 1).cast("long").alias("k"))
        .agg(F.sum("k").cast("long").alias("np"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            (F.col("cp").cast("double") / F.col("np"))
            / (
                (F.col("c1").cast("double") / F.col("nu"))
                * (F.col("c2").cast("double") / F.col("nu"))
            )
        ),
        6,
    )
    return (
        pr.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(np_))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("pair"),
            F.col("cp").alias("pair_cnt"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("pair"))
        .limit(_PMI_TOP)
    )


# ---------------------------------------------------------------------------
# q309: source-level vocabulary overlap matrix (corpus-mixture Jaccard)
# ---------------------------------------------------------------------------


@query(
    "q309_source_vocab_overlap",
    oracle=f"""
    WITH sv AS (
      SELECT DISTINCT source, w
      FROM (SELECT source, unnest({_TOKENS_SQL}) AS w FROM documents)
    ),
    sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM sv GROUP BY source
    ),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.n_common,
           sa.v AS vocab_a, sb.v AS vocab_b,
           ROUND(CAST(i.n_common AS DOUBLE) /
                 (sa.v + sb.v - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.src_a = sa.source
    JOIN sizes sb ON i.src_b = sb.source
    """,
)
def q309_source_vocab_overlap(spark, sf_dir):
    """SOURCE-level vocabulary overlap matrix: Jaccard similarity
    between every pair of sources' distinct-term sets - the corpus-
    mixture diagnostic run before blending sources (two sources with
    jaccard ~1 are the same distribution twice, and their mixture
    weights should be designed jointly; doc-level Jaccard q44/q46
    answers a different question - near-duplicate DOCUMENTS).

    Scale: the (source, term) DISTINCT frame collapses the corpus
    before any pairing (vocab x |sources| rows max); the intersection
    is a TERM-KEYED equi self-join - per term at most |sources|^2
    pair rows, so output is bounded by vocab x sources^2, never
    corpus-sized - and inclusion-exclusion turns the two bounded
    aggregates into the union size without a second join. All counts
    exact integers; one IEEE division before the round."""
    sv = (
        t_split(spark, sf_dir, "documents")
        .select("source", F.explode(_tokens()).alias("w"))
        .distinct()
    )
    sizes = sv.groupBy("source").agg(F.count("*").cast("long").alias("v"))
    a = sv.select(F.col("source").alias("src_a"), "w")
    b = sv.select(F.col("source").alias("src_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("v").alias("vocab_a")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("v").alias("vocab_b")
    )
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            "vocab_a",
            "vocab_b",
            F.round(
                F.col("n_common").cast("double")
                / (
                    F.col("vocab_a") + F.col("vocab_b") - F.col("n_common")
                ),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# q333: negative-sampling distribution (unigram^0.75 cumulative table)
# ---------------------------------------------------------------------------

#: vocabulary size of the sampling table.
_NEG_V = 256


@query(
    "q333_negative_sampling_table",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOKENS_SQL}) AS term FROM documents
    ),
    cnt AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS f
      FROM tok GROUP BY term
      ORDER BY f DESC, term LIMIT {_NEG_V}
    ),
    w AS (
      SELECT term, f,
             CAST(floor(sqrt(CAST(f AS DOUBLE))
                        * sqrt(sqrt(CAST(f AS DOUBLE)))
                        * 1000000) AS BIGINT) AS w_u
      FROM cnt
    ),
    z AS (SELECT CAST(SUM(w_u) AS BIGINT) AS z_u FROM w),
    c AS (
      SELECT term, f, w_u,
             CAST(SUM(w_u) OVER (ORDER BY f DESC, term
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_u,
             CAST(ROW_NUMBER() OVER (ORDER BY f DESC, term)
               AS BIGINT) AS rank
      FROM w
    )
    SELECT c.rank, c.term, c.f AS freq,
           ROUND(CAST(c.w_u AS DOUBLE) / z.z_u, 6) AS prob,
           ROUND(CAST(c.cum_u AS DOUBLE) / z.z_u, 6) AS cum_prob
    FROM c, z
    """,
)
def q333_negative_sampling_table(spark, sf_dir):
    """NEGATIVE-SAMPLING TABLE construction (Mikolov et al. 2013):
    the top-256 vocabulary weighted by unigram frequency raised
    to 3/4 - the exponent that lifts rare words' sampling odds
    without letting stopwords dominate - materialized as a cumulative
    inverse-CDF table: a trainer draws u ~ U(0,1) and binary-searches
    ``cum_prob``, so building THIS table is the entire distributed
    part of negative sampling (the per-step draws are O(log V) lookups
    against a broadcast copy).

    Exactness: f^0.75 is computed WITHOUT libm pow as sqrt(f) *
    sqrt(sqrt(f)) - IEEE 754 requires sqrt correctly rounded, so both
    engines produce the SAME double bit pattern - then FLOOR-quantized
    to micro-units, making the normalizer and the cumulative sums
    exact integer arithmetic (partial-aggregation order cannot flip a
    digit; the q319/q324 quantize-then-sum discipline, adjudicated in
    the float lint). The two final ratios are identical expression
    strings rounded once.

    Scale: token census = one explode + hash aggregate (map-side
    combined); the table itself is a 256-row limit-derived frame
    (TakeOrderedAndProject), and its cumulative window is bounded by
    construction (adjudicated global window)."""
    cnt = (
        t(spark, sf_dir, "documents")
        .select(F.explode(_tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("f"))
        .orderBy(F.col("f").desc(), "term")
        .limit(_NEG_V)
    )
    fd = F.col("f").cast("double")
    w = transient_persist(
        cnt.select(
            "term",
            "f",
            F.floor(
                F.sqrt(fd) * F.sqrt(F.sqrt(fd)) * 1000000
            ).cast("long").alias("w_u"),
        )
    )
    z = w.agg(F.sum("w_u").cast("long").alias("z_u"))
    wc = Window.orderBy(F.col("f").desc(), "term")
    c = w.select(
        F.row_number().over(wc).cast("long").alias("rank"),
        "term",
        F.col("f").alias("freq"),
        "w_u",
        F.sum("w_u").over(
            wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long").alias("cum_u"),
    )
    return c.crossJoin(F.broadcast(z)).select(
        "rank",
        "term",
        "freq",
        F.round(F.col("w_u").cast("double") / F.col("z_u"), 6).alias(
            "prob"
        ),
        F.round(F.col("cum_u").cast("double") / F.col("z_u"), 6).alias(
            "cum_prob"
        ),
    )


# ---------------------------------------------------------------------------
# q341: TextRank keyword extraction (integer-exact power iteration)
# ---------------------------------------------------------------------------

#: power-iteration rounds; Mihalcea & Tarau run to convergence, 4
#: rounds separates the head cleanly on this corpus and keeps the
#: unrolled oracle chain shallow
_TR_ITERS = 4
_TR_TOPN = 20

#: adjacency-pair explode shared with q317/q305: consecutive token
#: pairs, self-loops dropped
_TR_BIGRAM_SQL = """
      SELECT string_split(bigram, ' ')[1] AS w1,
             string_split(bigram, ' ')[2] AS w2
      FROM (
        SELECT unnest(list_transform(
                 list_zip(list_slice(toks, 1, len(toks) - 1),
                          list_slice(toks, 2, len(toks))),
                 z -> z[1] || ' ' || z[2])) AS bigram
        FROM (SELECT {toks} AS toks FROM documents)
      )
"""


def _textrank_oracle() -> str:
    parts = [
        f"""
    WITH bg AS ({_TR_BIGRAM_SQL.format(toks=_TOKENS_SQL)}),
    e AS (
      SELECT w1 AS a, w2 AS b FROM bg WHERE w1 <> w2
      UNION ALL
      SELECT w2 AS a, w1 AS b FROM bg WHERE w1 <> w2
    ),
    adj AS MATERIALIZED (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS w FROM e GROUP BY a, b
    ),
    deg AS MATERIALIZED (
      SELECT a AS node, CAST(SUM(w) AS BIGINT) AS wd FROM adj GROUP BY a
    ),
    s0 AS MATERIALIZED (
      SELECT node, CAST(1000000 AS BIGINT) AS s FROM deg
    )"""
    ]
    for r in range(1, _TR_ITERS + 1):
        parts.append(
            f"""
    s{r} AS MATERIALIZED (
      SELECT adj.b AS node,
             150000 + (17 * CAST(SUM((adj.w * s.s) // d.wd) AS BIGINT))
               // 20 AS s
      FROM adj
      JOIN s{r - 1} s ON adj.a = s.node
      JOIN deg d ON adj.a = d.node
      GROUP BY adj.b
    )"""
        )
    return (
        ",".join(parts)
        + f""",
    freq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_TOKENS_SQL}) AS term FROM documents)
      GROUP BY term
    )
    SELECT s.node AS term, s.s AS rank_micro, f.freq
    FROM s{_TR_ITERS} s JOIN freq f ON s.node = f.term
    ORDER BY s.s DESC, s.node LIMIT {_TR_TOPN}
    """
    )


@query("q341_textrank_keywords", oracle=_textrank_oracle())
def q341_textrank_keywords(spark, sf_dir):
    """TEXTRANK keyword extraction (Mihalcea & Tarau 2004): damped
    PageRank over the word co-occurrence graph (adjacent-token edges,
    weight = adjacency count), 4 power-iteration rounds,
    top-20 terms — the unsupervised keyword/keyphrase signal
    corpus datasheets and topic drift monitors use, and the word-graph
    sibling of q177's user-graph PageRank.

    Exactness — damping 0.85 in PURE BIGINT: scores live in
    micro-units and the update is ``s' = 150000 + (17 * SUM((w_ij *
    s_j) DIV W_j)) DIV 20`` — every neighbor contribution is an exact
    integer floor, the sum is order-independent, and 17/20 IS 0.85
    exactly. No float enters the iteration, so no re-sync rounding is
    even needed (stronger than q306/q315's re-synced doubles).

    Scale: the co-occurrence explode is one scan (map-side combined
    into the vocabulary-bounded ``adj``); each iteration is a
    vocab-keyed equi-join + hash aggregate on that bounded frame with
    transient persists cutting lineage (the q177 discipline); nothing
    is ever collected to the driver and the iteration count is a
    constant. Top-N is a TakeOrderedAndProject."""
    docs = t(spark, sf_dir, "documents")
    bigrams = F.expr(
        "zip_with(slice(toks, 1, greatest(size(toks)-1, 0)),"
        "         slice(toks, 2, greatest(size(toks)-1, 0)),"
        "         (a, b) -> struct(a AS w1, b AS w2))"
    )
    bg = (
        docs.select(_tokens().alias("toks"))
        .select(F.explode(bigrams).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter(F.col("w1") != F.col("w2"))
    )
    e = bg.select(F.col("w1").alias("a"), F.col("w2").alias("b")).unionByName(
        bg.select(F.col("w2").alias("a"), F.col("w1").alias("b"))
    )
    adj0 = transient_persist(
        e.groupBy("a", "b").agg(F.count("*").cast("long").alias("w"))
    )
    deg = transient_persist(
        adj0.groupBy(F.col("a").alias("node")).agg(
            F.sum("w").cast("long").alias("wd")
        )
    )
    # the weighted degree is FOLDED INTO the persisted edge table once
    # (optimization r14, guide section 2.4): the old loop re-joined
    # ``deg`` onto the edge-rank join EVERY iteration - one extra
    # vocab-keyed shuffle join per round, 4 per run, carrying the same
    # constant wd each time. Both joins are on ``a``, so pre-merging
    # shares the one exchange and the iteration becomes edges JOIN
    # ranks + one hash aggregate. Identical integer arithmetic.
    adj = transient_persist(
        adj0.join(deg.withColumnRenamed("node", "a"), "a")
    )
    s = deg.select("node", F.lit(1000000).cast("long").alias("s"))
    for _ in range(_TR_ITERS):
        s = transient_persist(
            adj.join(s, adj.a == s.node)
            .groupBy(F.col("b").alias("node"))
            .agg(
                (
                    F.lit(150000)
                    + F.expr(
                        "(17 * CAST(SUM((w * s) DIV wd) AS LONG)) DIV 20"
                    )
                ).alias("s")
            )
        )
    freq = (
        docs.select(F.explode(_tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    return (
        s.join(freq, s.node == freq.term)
        .select(F.col("term"), F.col("s").alias("rank_micro"), "freq")
        .orderBy(F.desc("rank_micro"), "term")
        .limit(_TR_TOPN)
    )


# ---------------------------------------------------------------------------
# q345: Gries' DP term dispersion across sources
# ---------------------------------------------------------------------------

_DP_TOPN = 30


@query(
    "q345_term_dispersion",
    oracle=f"""
    WITH st AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT source, unnest({_TOKENS_SQL}) AS term FROM documents)
      GROUP BY source, term
    ),
    srcs AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ts FROM st
             GROUP BY source),
    tot AS (SELECT CAST(SUM(ts) AS BIGINT) AS tt FROM srcs),
    terms AS (
      SELECT term, CAST(SUM(c) AS BIGINT) AS ci FROM st GROUP BY term
      ORDER BY ci DESC, term LIMIT {_DP_TOPN}
    ),
    grid AS (
      SELECT t.term, t.ci, s.source, s.ts, COALESCE(st.c, 0) AS c
      FROM terms t CROSS JOIN srcs s
      LEFT JOIN st ON st.term = t.term AND st.source = s.source
    )
    SELECT g.term, MAX(g.ci) AS freq,
           (1000000 * CAST(SUM(ABS(g.c * tot.tt - g.ts * g.ci))
                           AS BIGINT))
             // (2 * MAX(g.ci) * MAX(tot.tt)) AS dp_micro
    FROM grid g, tot
    GROUP BY g.term
    """,
)
def q345_term_dispersion(spark, sf_dir):
    """GRIES' DP (deviation of proportions) dispersion for the
    top-30 corpus terms: how unevenly each term spreads
    across sources relative to the sources' token-mass shares
    (Gries 2008) - the corpus-linguistics complement of q267's
    "which terms mark a source": DP ~ 0 means the term follows the
    corpus everywhere (a function word); DP -> 1 means it lives in
    one source (a domain marker that a mixture re-weighting, q181/
    q207, will amplify or starve).

    Exactness: ``|v_is - p_s| = |c_is*T - T_s*C_i| / (C_i*T)`` turns
    every absolute deviation into an exact integer numerator over a
    shared denominator, so ``dp_micro = (1e6 * SUM|c_is*T - T_s*C_i|)
    DIV (2*C_i*T)`` is pure bigint - order-independent, no float.
    Products stay in int64 through ~3e9 corpus tokens; past that the
    same formula lifts to decimal(38) unchanged.

    Scale: one token explode feeds the (source, term) aggregate
    (map-side combined); the top-N term list and the |sources|-row
    marginal are both bounded frames whose cross-product grid is
    30 x |sources| rows; absent cells are materialized by
    LEFT JOIN so missing-source penalties are counted, not skipped."""
    st = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(_tokens()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").cast("long").alias("c"))
    )
    st = transient_persist(st)
    srcs = st.groupBy("source").agg(F.sum("c").cast("long").alias("ts"))
    tot = srcs.agg(F.sum("ts").cast("long").alias("tt"))
    terms = (
        st.groupBy("term")
        .agg(F.sum("c").cast("long").alias("ci"))
        .orderBy(F.desc("ci"), "term")
        .limit(_DP_TOPN)
    )
    grid = (
        terms.crossJoin(F.broadcast(srcs))
        .join(st, ["term", "source"], "left")
        .select(
            "term",
            "ci",
            "ts",
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
    )
    return (
        grid.crossJoin(F.broadcast(tot))
        .groupBy("term")
        .agg(
            F.max("ci").alias("freq"),
            F.expr(
                "(1000000 * CAST(SUM(ABS(c * tt - ts * ci)) AS LONG))"
                " DIV (2 * MAX(ci) * MAX(tt))"
            ).alias("dp_micro"),
        )
    )


# ---------------------------------------------------------------------------
# q347: vocabulary growth curve over nested corpus fractions
# ---------------------------------------------------------------------------


@query(
    "q347_vocab_growth_curve",
    oracle=f"""
    WITH db AS (
      SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS b, unnest({_TOKENS_SQL}) AS term
      FROM documents
    ),
    bt AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS toks FROM db GROUP BY b
    ),
    tm AS (
      SELECT term, CAST(MIN(b) AS BIGINT) AS mb FROM db GROUP BY term
    ),
    vb AS (
      SELECT mb AS b, CAST(COUNT(*) AS BIGINT) AS new_terms
      FROM tm GROUP BY mb
    ),
    cur AS (
      SELECT bt.b, bt.toks, COALESCE(vb.new_terms, 0) AS new_terms,
             CAST(SUM(bt.toks) OVER (ORDER BY bt.b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS tokens_cum,
             CAST(SUM(COALESCE(vb.new_terms, 0)) OVER (ORDER BY bt.b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS vocab_cum
      FROM bt LEFT JOIN vb ON bt.b = vb.b
    )
    SELECT (b + 1) * 10 AS pct, toks AS new_tokens,
           CAST(new_terms AS BIGINT) AS new_terms,
           tokens_cum, vocab_cum,
           (1000000 * CAST(new_terms AS BIGINT)) // toks
             AS heaps_rate_ppm
    FROM cur ORDER BY pct
    """,
)
def q347_vocab_growth_curve(spark, sf_dir):
    """VOCABULARY GROWTH CURVE over nested 10%..100% hash-fraction
    subsets of the corpus: cumulative token count, cumulative distinct
    vocabulary, and the marginal new-terms-per-token rate of each
    additional 10% slice - the empirical Heaps' law curve (the
    in-sequence sibling of q280's per-source Heaps ratio) that answers
    the scaling question "does more of this corpus still buy new
    vocabulary, or only repetition?" before committing ingest budget.

    Spark-first trick: cumulative DISTINCT counting without re-scanning
    K prefixes - a term first appears in prefix f iff MIN(bucket) over
    its occurrences < f, so ONE aggregate per term yields every
    prefix's vocabulary size at once (the q153 cumulative-distinct
    identity applied to the hash-nest design).

    Exactness: counts and integer-division rates only. Nested subsets
    share membership by construction (bucket = h60(doc_id) % 10), so
    the curve is monotone and each document enters exactly one
    marginal slice.

    Scale: one token explode -> two map-side-combined aggregates (per
    bucket, per term); the cumulative window runs on the 10-row bucket
    frame (adjudicated bounded-aggregate window)."""
    from .common import t as _t

    db = (
        _t(spark, sf_dir, "documents")
        .select(
            (
                F.conv(
                    F.substring(
                        F.md5(F.col("doc_id").cast("string")), 1, 15
                    ),
                    16,
                    10,
                ).cast("long")
                % 10
            ).alias("b"),
            F.explode(_tokens()).alias("term"),
        )
    )
    db = transient_persist(db)
    bt = db.groupBy("b").agg(F.count("*").cast("long").alias("toks"))
    vb = (
        db.groupBy("term")
        .agg(F.min("b").cast("long").alias("mb"))
        .groupBy(F.col("mb").alias("b"))
        .agg(F.count("*").cast("long").alias("new_terms"))
    )
    w = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cur = (
        bt.join(vb, "b", "left")
        .select(
            "b",
            "toks",
            F.coalesce("new_terms", F.lit(0)).cast("long").alias("new_terms"),
        )
        .select(
            "b",
            "toks",
            "new_terms",
            F.sum("toks").over(w).cast("long").alias("tokens_cum"),
            F.sum("new_terms").over(w).cast("long").alias("vocab_cum"),
        )
    )
    return cur.select(
        ((F.col("b") + 1) * 10).cast("long").alias("pct"),
        F.col("toks").alias("new_tokens"),
        "new_terms",
        "tokens_cum",
        "vocab_cum",
        F.expr("(1000000 * new_terms) DIV toks").alias("heaps_rate_ppm"),
    ).orderBy("pct")


# ---------------------------------------------------------------------------
# q352: Lorenz/Gini concentration of token mass within each source
# ---------------------------------------------------------------------------


@query(
    "q352_token_gini_by_source",
    oracle=f"""
    WITH x AS (
      SELECT source, doc_id,
             CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tok
      FROM documents
      -- listwise deletion: a textless record has no token count to
      -- rank in the Lorenz order (r13 partial-records census)
      WHERE text IS NOT NULL
    ),
    r AS (
      SELECT source, n_tok,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_tok, doc_id) AS BIGINT) AS i
      FROM x
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           ROUND(CAST(2 * SUM(i * n_tok) - (COUNT(*) + 1) * SUM(n_tok)
                      AS DOUBLE)
                 / (COUNT(*) * SUM(n_tok)), 6) AS gini
    FROM r
    GROUP BY source
    """,
)
def q352_token_gini_by_source(spark, sf_dir):
    """GINI COEFFICIENT of token mass across documents, per source -
    the concentration audit a corpus datasheet (q241) needs next to
    its means: two sources with equal average length can differ wildly
    in whether tokens come from many mid-size documents (gini ~ 0) or
    a few giants (gini ~ 1), which changes packing efficiency (q86),
    shard balance (q211), and dedup hot-spots. Uses the rank-weighted
    identity gini = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over
    ascending-sorted x - the discrete Lorenz-curve area, exact, no
    binning.

    Exactness: ranks break ties by doc_id, so the rank-weighted bigint
    sum is deterministic despite tied lengths (the tie-broken i*x sum
    is identical under any tie order ONLY if x values are equal - and
    within a tie group they are, so any tie permutation yields the
    same sum; doc_id ordering just pins both engines to one plan).
    Everything is bigint until the single 6dp division.

    Scale: one map stage for token counts, one window PARTITIONED by
    source (shuffles each source's docs to its reducers - no global
    sort, no single-partition WindowExec), one groupBy(source) fold.
    Skewed sources parallelize at the window sort, the known scalable
    shape; output is |sources| rows."""
    docs = t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()  # listwise deletion (r13 census)
    )
    x = docs.select(
        "source",
        "doc_id",
        F.size(_tokens()).cast("long").alias("n_tok"),
    )
    w = Window.partitionBy("source").orderBy("n_tok", "doc_id")
    r = x.select(
        "source",
        "n_tok",
        F.row_number().over(w).cast("long").alias("i"),
    )
    n = F.count("*")
    s = F.sum("n_tok")
    return r.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        s.cast("long").alias("total_tokens"),
        F.round(
            (2 * F.sum(F.col("i") * F.col("n_tok")) - (n + 1) * s).cast(
                "double"
            )
            / (n * s),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# q358: a-priori frequent term triples over the bounded top vocabulary
# ---------------------------------------------------------------------------

#: candidate vocabulary: the 25 highest-document-frequency terms
#: (deterministic tie-break by term); support threshold = 57% of docs
#: - the synthetic corpus draws from a small dense vocabulary (top
#: terms sit in ~80% of docs, so every triple clears a classic 5%
#: bar); 57% is the measured selective point (~top decile of triple
#: supports at sf0.01). On a natural corpus the same plan runs with
#: the classic low threshold.
_AP_VOCAB = 25
_AP_SUP_NUM, _AP_SUP_DEN = 57, 100

#: per-document itemset combinations generated MAP-SIDE from the
#: sorted qualifying-term array (optimization r14, guide sections
#: 2.3/2.4): the old plans self-joined the exploded (doc_id, term)
#: postings on doc_id - two corpus-keyed shuffle joins for the triple
#: stage - where a sorted array of <= _AP_VOCAB distinct terms per doc
#: can enumerate the identical (t1 < t2 < t3) combinations inside the
#: scan task. transform's lambda index is 0-based and slice() is
#: 1-based, so elements strictly after position i start at i + 2.
_AP_PAIRS_SQL = (
    "flatten(transform(ts, (x, i) ->"
    " transform(slice(ts, i + 2, size(ts)),"
    " y -> struct(x AS t1, y AS t2))))"
)
_AP_TRIPLES_SQL = (
    "flatten(transform(ts, (x, i) ->"
    " flatten(transform(slice(ts, i + 2, size(ts)), (y, j) ->"
    " transform(slice(ts, i + j + 3, size(ts)),"
    " z -> struct(x AS t1, y AS t2, z AS t3))))))"
)


def _ap_doc_term_arrays(spark, sf_dir):
    """(arr, ms): per-document SORTED array of qualifying
    top-``_AP_VOCAB`` terms (persisted for the pair + triple passes)
    and the (minsup, n_docs) one-row frame.

    Equivalence to the old posting-list formulation: the per-doc_id
    groupBy + ``array_distinct(flatten(collect_list(tokens)))`` IS the
    old ``(doc_id, term)`` DISTINCT (union of token sets across any
    duplicate doc_id records - proven divergent on the PK-dup census
    when this step was skipped: a 32x-duplicated doc must still
    support each itemset once), the top-term census aggregates the
    same doc-frequency integers, and ``sort_array`` + positional
    combination enumerates exactly the ``t1 < t2 (< t3)`` sets the
    doc-keyed self-joins produced - same binary string order on both
    engines. Exchange count: ONE doc_id-keyed exchange (n_records
    rows, array payload) replaces the old explode->(doc_id, term)
    DISTINCT exchange (n_tokens rows) plus the doc-keyed self-join
    exchanges."""
    docs = t(spark, sf_dir, "documents")
    per_doc = transient_persist(
        # row-level array_distinct BEFORE the exchange: the shuffle
        # carries each record's distinct terms (= the old plan's
        # map-side-deduped postings), not every token occurrence.
        docs.select("doc_id", F.array_distinct(_tokens()).alias("_tk"))
        .groupBy("doc_id")
        .agg(
            F.array_distinct(F.flatten(F.collect_list("_tk"))).alias(
                "tset"
            )
        )
    )
    dfreq = per_doc.select(
        F.explode("tset").alias("term")
    ).groupBy("term").agg(F.count("*").alias("df"))
    top = (
        dfreq.orderBy(F.col("df").desc(), "term")
        .limit(_AP_VOCAB)
        .select("term")
    )
    topset = top.agg(F.collect_set("term").alias("_top"))
    arr = transient_persist(
        per_doc.crossJoin(F.broadcast(topset)).select(
            "doc_id",
            F.sort_array(
                F.filter(
                    F.col("tset"),
                    lambda term: F.array_contains(F.col("_top"), term),
                )
            ).alias("ts"),
        )
    )
    ms = docs.agg(
        F.expr(
            f"CAST({_AP_SUP_NUM} * COUNT(DISTINCT doc_id) AS BIGINT)"
            f" DIV {_AP_SUP_DEN}"
        ).alias("minsup"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    return arr, ms


@query(
    "q358_apriori_triples",
    oracle=f"""
    WITH dt0 AS MATERIALIZED (
      SELECT DISTINCT doc_id, unnest({_TOKENS_SQL}) AS term
      FROM documents
    ),
    top AS MATERIALIZED (
      SELECT term FROM (
        SELECT term, COUNT(*) AS df FROM dt0 GROUP BY term
        ORDER BY df DESC, term LIMIT {_AP_VOCAB}
      )
    ),
    dt AS MATERIALIZED (
      SELECT dt0.doc_id, dt0.term FROM dt0 JOIN top USING (term)
    ),
    ms AS MATERIALIZED (
      SELECT CAST({_AP_SUP_NUM} * COUNT(DISTINCT doc_id) AS BIGINT)
               // {_AP_SUP_DEN} AS minsup,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM documents
    ),
    fp AS MATERIALIZED (
      SELECT t1, t2 FROM (
        SELECT a.term AS t1, b.term AS t2,
               CAST(COUNT(*) AS BIGINT) AS sup
        FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY a.term, b.term
      ), ms WHERE sup >= ms.minsup
    ),
    tri AS MATERIALIZED (
      SELECT a.term AS t1, b.term AS t2, c.term AS t3,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM dt a
      JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
      JOIN fp p12 ON p12.t1 = a.term AND p12.t2 = b.term
      JOIN dt c ON a.doc_id = c.doc_id AND b.term < c.term
      JOIN fp p13 ON p13.t1 = a.term AND p13.t2 = c.term
      JOIN fp p23 ON p23.t1 = b.term AND p23.t2 = c.term
      GROUP BY a.term, b.term, c.term
    )
    SELECT tri.t1, tri.t2, tri.t3, tri.support,
           ROUND(CAST(tri.support AS DOUBLE) / ms.n_docs, 6)
             AS support_frac
    FROM tri, ms
    WHERE tri.support >= ms.minsup
    """,
)
def q358_apriori_triples(spark, sf_dir):
    """A-PRIORI frequent 3-itemset mining (Agrawal & Srikant 1994)
    over document term sets: which term TRIPLES co-occur in a
    threshold fraction of documents - the co-occurrence structure one
    level above q83's bigrams and q187's pairwise lift, and the
    candidate source for phrase/topic features. Classic a-priori
    pruning: a triple is counted ONLY if all three of its pairs are
    frequent (downward closure), so the 3-way expansion never touches
    infrequent combinations.

    Exactness: supports are exact bigint document counts (the DISTINCT
    doc-term projection makes multiplicity irrelevant); the threshold
    is integer ((57 * n_docs) DIV 100); only the
    final support-fraction rounds.

    Scale: the candidate vocabulary is capped at the top-25
    document-frequency terms (deterministic tie-break), so per-doc
    fan-out is <= C(25,3) by construction and smaller after
    the frequent-pair semi-joins - the candidates-only discipline
    (q43) applied to itemsets. Pair/triple combinations are
    enumerated MAP-SIDE from each document's sorted qualifying-term
    array (optimization r14: the old doc-keyed self-joins shuffled
    the posting list twice for the triple stage; now the only
    exchanges are the three map-side-combined support aggregates),
    and the downward-closure prune is three broadcast semi-joins on
    the frequent-pair frame before the triple count.
    (Oracle note: every CTE is MATERIALIZED - DuckDB's default
    inlining re-expands dt/fp per reference, measured 116 s -> 0.2 s.)
    """
    arr, ms = _ap_doc_term_arrays(spark, sf_dir)
    fp = transient_persist(
        arr.select(F.explode(F.expr(_AP_PAIRS_SQL)).alias("p"))
        .select("p.t1", "p.t2")
        .groupBy("t1", "t2")
        .agg(F.count("*").cast("long").alias("sup"))
        .crossJoin(F.broadcast(ms.select("minsup")))
        .filter(F.col("sup") >= F.col("minsup"))
        .select("t1", "t2")
    )
    # Downward closure applied BEFORE enumeration, not just after:
    # a frequent triple's terms all appear in some frequent pair, so
    # restricting each doc's array to frequent-pair terms preserves
    # every candidate instance exactly (the restriction is a GLOBAL
    # per-term membership test, so no surviving triple loses a count)
    # while collapsing the per-doc fan-out from C(25,3)=2300 structs
    # to C(|fp-vocab|,3) - near zero at this 57% minsup. Solo sf0.1:
    # 4.05 s (old joins) / 7.06 s (unrestricted enumeration) ->
    # 3.33 s with this prune (OPTIMIZATION_r14.md).
    fpt = fp.select(F.explode(F.array("t1", "t2")).alias("ft")).agg(
        F.collect_set("ft").alias("_fpt")
    )
    tri = (
        arr.crossJoin(F.broadcast(fpt))
        .select(
            F.filter(
                F.col("ts"),
                lambda term: F.array_contains(F.col("_fpt"), term),
            ).alias("ts")
        )
        .select(F.explode(F.expr(_AP_TRIPLES_SQL)).alias("p"))
        .select("p.t1", "p.t2", "p.t3")
        .join(F.broadcast(fp), ["t1", "t2"], "left_semi")
        .join(
            F.broadcast(fp.select(F.col("t1"), F.col("t2").alias("t3"))),
            ["t1", "t3"],
            "left_semi",
        )
        .join(
            F.broadcast(
                fp.select(F.col("t1").alias("t2"), F.col("t2").alias("t3"))
            ),
            ["t2", "t3"],
            "left_semi",
        )
        .groupBy("t1", "t2", "t3")
        .agg(F.count("*").cast("long").alias("support"))
    )
    return (
        tri.crossJoin(F.broadcast(ms))
        .filter(F.col("support") >= F.col("minsup"))
        .select(
            "t1",
            "t2",
            "t3",
            "support",
            F.round(
                F.col("support").cast("double") / F.col("n_docs"), 6
            ).alias("support_frac"),
        )
    )


# ---------------------------------------------------------------------------
# q381: association rules from the frequent triples (confidence/lift)
# ---------------------------------------------------------------------------

#: only strong rules are reported: confidence >= 87% - the measured
#: selective point on this dense corpus (max observed rule confidence
#: is ~0.897; 87% keeps the top ~half-decile of rotations).
_AR_CONF_NUM, _AR_CONF_DEN = 87, 100


@query(
    "q381_association_rules",
    oracle=f"""
    WITH dt0 AS MATERIALIZED (
      SELECT DISTINCT doc_id, unnest({_TOKENS_SQL}) AS term
      FROM documents
    ),
    top AS MATERIALIZED (
      SELECT term FROM (
        SELECT term, COUNT(*) AS df FROM dt0 GROUP BY term
        ORDER BY df DESC, term LIMIT {_AP_VOCAB}
      )
    ),
    dt AS MATERIALIZED (
      SELECT dt0.doc_id, dt0.term FROM dt0 JOIN top USING (term)
    ),
    ms AS MATERIALIZED (
      SELECT CAST({_AP_SUP_NUM} * COUNT(DISTINCT doc_id) AS BIGINT)
               // {_AP_SUP_DEN} AS minsup,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM documents
    ),
    sup1 AS MATERIALIZED (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS s FROM dt GROUP BY term
    ),
    sup2 AS MATERIALIZED (
      SELECT a.term AS t1, b.term AS t2, CAST(COUNT(*) AS BIGINT) AS s
      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY 1, 2
    ),
    sup3 AS MATERIALIZED (
      SELECT t1, t2, t3, s FROM (
        SELECT a.term AS t1, b.term AS t2, c.term AS t3,
               CAST(COUNT(*) AS BIGINT) AS s
        FROM dt a
        JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
        JOIN dt c ON a.doc_id = c.doc_id AND b.term < c.term
        GROUP BY 1, 2, 3
      ), ms WHERE s >= ms.minsup
    ),
    rules AS (
      SELECT s3.t1 AS ant1, s3.t2 AS ant2, s3.t3 AS cons,
             s3.s AS sup_abc, p.s AS sup_ant, c1.s AS sup_cons
      FROM sup3 s3
      JOIN sup2 p ON p.t1 = s3.t1 AND p.t2 = s3.t2
      JOIN sup1 c1 ON c1.term = s3.t3
      UNION ALL
      SELECT s3.t1, s3.t3, s3.t2, s3.s, p.s, c1.s
      FROM sup3 s3
      JOIN sup2 p ON p.t1 = s3.t1 AND p.t2 = s3.t3
      JOIN sup1 c1 ON c1.term = s3.t2
      UNION ALL
      SELECT s3.t2, s3.t3, s3.t1, s3.s, p.s, c1.s
      FROM sup3 s3
      JOIN sup2 p ON p.t1 = s3.t2 AND p.t2 = s3.t3
      JOIN sup1 c1 ON c1.term = s3.t1
    )
    SELECT r.ant1, r.ant2, r.cons, r.sup_abc,
           ROUND(CAST(r.sup_abc AS DOUBLE) / r.sup_ant, 6) AS confidence,
           ROUND(CAST(r.sup_abc AS DOUBLE) * ms.n_docs
                 / (r.sup_ant * r.sup_cons), 6) AS lift
    FROM rules r, ms
    WHERE {_AR_CONF_DEN} * r.sup_abc >= {_AR_CONF_NUM} * r.sup_ant
    """,
)
def q381_association_rules(spark, sf_dir):
    """ASSOCIATION RULES {A,B} -> C from the q358 frequent triples:
    each frequent triple yields its three pair->singleton rotations,
    kept when confidence = sup(ABC)/sup(AB) clears
    87/100 - the rule-generation step that
    completes a-priori (Agrawal & Srikant 1994 part 2), with LIFT
    (confidence / P(C)) distinguishing "C follows from A,B" from "C
    is simply everywhere" - the lesson of this dense corpus, where
    high-confidence rules hover at lift ~ 1.

    Exactness: all supports are exact bigints; the confidence GATE is
    the integer cross-multiplication 100*sup_abc >=
    87*sup_ant (no float threshold boundary); only the
    two reported ratios round, once, at 6dp.

    Scale: vocab-capped postings (top-25 terms), doc-keyed equi-joins
    with map-side combines; rule expansion is 3x
    the frequent-triple count - output-bounded, never corpus-bounded.
    (r14 note: the q358 map-side array-enumeration rewrite was TRIED
    here and measured ~2x slower solo at sf0.1 - 5.5-8.4 s vs 2.7-2.8 s
    min-of-2 - because this query's support stages are all
    broadcast-bounded already and the rewrite added materializations;
    the join formulation is deliberately kept. OPTIMIZATION_r14.md.)
    """
    docs = t(spark, sf_dir, "documents")
    dt0 = docs.select("doc_id", F.explode(_tokens()).alias("term")).distinct()
    top = (
        dt0.groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), "term")
        .limit(_AP_VOCAB)
        .select("term")
    )
    dt = transient_persist(
        dt0.join(F.broadcast(top), "term").select("doc_id", "term")
    )
    ms = docs.agg(
        F.expr(
            f"CAST({_AP_SUP_NUM} * COUNT(DISTINCT doc_id) AS BIGINT)"
            f" DIV {_AP_SUP_DEN}"
        ).alias("minsup"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    sup1 = dt.groupBy("term").agg(F.count("*").cast("long").alias("s"))
    a = dt.select("doc_id", F.col("term").alias("t1"))
    b = dt.select("doc_id", F.col("term").alias("t2"))
    c = dt.select("doc_id", F.col("term").alias("t3"))
    sup2 = transient_persist(
        a.join(b, "doc_id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count("*").cast("long").alias("s"))
    )
    sup3 = transient_persist(
        a.join(b, "doc_id")
        .filter(F.col("t1") < F.col("t2"))
        .join(c, "doc_id")
        .filter(F.col("t2") < F.col("t3"))
        .groupBy("t1", "t2", "t3")
        .agg(F.count("*").cast("long").alias("s"))
        .crossJoin(F.broadcast(ms.select("minsup")))
        .filter(F.col("s") >= F.col("minsup"))
        .select("t1", "t2", "t3", "s")
    )

    def rot(ant_a, ant_b, cons):
        p = sup2.select(
            F.col("t1").alias("_p1"),
            F.col("t2").alias("_p2"),
            F.col("s").alias("sup_ant"),
        )
        c1 = sup1.select(
            F.col("term").alias("_c"), F.col("s").alias("sup_cons")
        )
        return (
            sup3.join(
                p,
                (F.col(ant_a) == F.col("_p1"))
                & (F.col(ant_b) == F.col("_p2")),
            )
            .join(c1, F.col(cons) == F.col("_c"))
            .select(
                F.col(ant_a).alias("ant1"),
                F.col(ant_b).alias("ant2"),
                F.col(cons).alias("cons"),
                F.col("s").alias("sup_abc"),
                "sup_ant",
                "sup_cons",
            )
        )

    rules = (
        rot("t1", "t2", "t3")
        .unionByName(rot("t1", "t3", "t2"))
        .unionByName(rot("t2", "t3", "t1"))
    )
    return (
        rules.filter(
            _AR_CONF_DEN * F.col("sup_abc") >= _AR_CONF_NUM * F.col("sup_ant")
        )
        .crossJoin(F.broadcast(ms.select("n_docs")))
        .select(
            "ant1",
            "ant2",
            "cons",
            "sup_abc",
            F.round(
                F.col("sup_abc").cast("double") / F.col("sup_ant"), 6
            ).alias("confidence"),
            F.round(
                F.col("sup_abc").cast("double")
                * F.col("n_docs")
                / (F.col("sup_ant") * F.col("sup_cons")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# q400: lexical-complexity / readability profile per source
# ---------------------------------------------------------------------------

#: pseudo-sentence length: this synthetic corpus has no sentence
#: delimiters, so readability's words-per-sentence term uses fixed
#: 15-word pseudo-sentences - a DETERMINISTIC documented convention
#: (the syllable terms, which carry most of the signal, are real).
_RD_SENT_WORDS = 15

#: integer Flesch reading ease in milli units: 206.835 - 1.015*(W/S)
#: - 84.6*(Y/W), with every coefficient x1000 exactly integer
#: (206835, 1015 per word-ratio already over S, 84600) and both
#: divisions truncating identically on the two engines.
_RD_FLESCH = (
    f"(206835 - (1015 * w) {{div}} s - (84600 * y) {{div}} w)"
)


@query(
    "q400_readability_profile",
    oracle=f"""
    WITH d AS (
      SELECT source,
             CAST(len({_TOKENS_SQL}) AS BIGINT) AS w,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS y,
             CAST(len(list_filter({_TOKENS_SQL},
                  tk -> len(regexp_extract_all(tk, '[aeiouy]+')) >= 3))
                  AS BIGINT) AS cx
      FROM documents
    ),
    f AS (
      SELECT source, w, y, cx,
             (w + {_RD_SENT_WORDS - 1}) // {_RD_SENT_WORDS} AS s
      FROM d
    ),
    scored AS (
      SELECT source, w, y, cx,
             {_RD_FLESCH.format(div="//")} AS flesch_milli
      FROM f
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(flesch_milli) // COUNT(*) AS BIGINT)
             AS avg_flesch_milli,
           CAST((1000 * SUM(y)) // SUM(w) AS BIGINT)
             AS syllables_per_word_milli,
           CAST((1000 * SUM(cx)) // SUM(w) AS BIGINT)
             AS complex_share_milli
    FROM scored
    GROUP BY source
    """,
)
def q400_readability_profile(spark, sf_dir):
    """READABILITY / lexical-complexity profile per source: integer
    milli-unit Flesch reading ease (206.835 - 1.015 W/S - 84.6 Y/W
    with x1000 coefficients and truncating divisions), syllables per
    word, and the share of complex words (>= 3 vowel groups) - the
    quality-scoring panel a corpus intake uses to route sources into
    "simple/web", "standard", and "dense/technical" mixes before
    tokenizer-fertility (q210) and quality-gate (q84) decisions. The
    corpus has no sentence delimiters, so words-per-sentence uses
    fixed 15-word pseudo-sentences - a deterministic,
    documented convention; the syllable terms carry the signal.

    Exactness: word counts, vowel-group counts (one identical regex
    '[aeiouy]+' on both engines' RE2-class matchers), and complex-
    word counts are integers; the Flesch expression is ALL-INTEGER
    (coefficients x1000, truncating DIV), so per-doc scores and the
    per-source folds are exact bigints end-to-end - no float enters
    at any point.

    Scale: one map stage (regex counting is per-row, JVM-side) + one
    hash aggregate by source. Nothing else."""
    docs = t_split(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.expr(r"size(split(trim(lower(text)), '\\s+'))")
        .cast("long")
        .alias("w"),
        F.expr(r"size(regexp_extract_all(lower(text), '[aeiouy]+', 0))")
        .cast("long")
        .alias("y"),
        F.expr(
            r"size(filter(split(trim(lower(text)), '\\s+'),"
            r" tk -> size(regexp_extract_all(tk, '[aeiouy]+', 0)) >= 3))"
        )
        .cast("long")
        .alias("cx"),
    )
    f = d.withColumn(
        "s",
        F.expr(f"(w + {_RD_SENT_WORDS - 1}) DIV {_RD_SENT_WORDS}"),
    )
    scored = f.withColumn(
        "flesch_milli", F.expr(_RD_FLESCH.format(div="DIV"))
    )
    return scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("SUM(flesch_milli) DIV COUNT(*)")
        .cast("long")
        .alias("avg_flesch_milli"),
        F.expr("(1000 * SUM(y)) DIV SUM(w)")
        .cast("long")
        .alias("syllables_per_word_milli"),
        F.expr("(1000 * SUM(cx)) DIV SUM(w)")
        .cast("long")
        .alias("complex_share_milli"),
    )
