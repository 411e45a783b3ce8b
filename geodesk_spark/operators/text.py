"""Text-analysis operators over a `documents(doc_id, text, lang, source,
n_chars)` table — the language-ID / quality / token / fingerprint layer a
training-data pipeline needs (not present in the reference; added per the
build brief).

Everything is built-in `pyspark.sql.functions` (JVM-side, codegen) — no
Python in the hot path.  Each operator has a DuckDB-oracle twin in
`__spark_entry__.py`; the Spark expressions here and the oracle SQL are
generated from the same primitive recipe so the results hash-match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic
# language ID.  Deliberately small + deterministic: the point is the Spark
# shape (map over marker sets → scores → argmax), not linguistic accuracy.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "und", "die", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "de", "que", "los", "una"],
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization of trimmed text; empty text → empty array."""
    return F.when(F.length(F.trim(text)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.trim(text), r"\s+")
    )


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.select(
        "doc_id", F.size(tokens_col(F.col(text_col))).alias("n_tokens")
    )


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / uppercase ratios + composite score."""
    text = F.col(text_col)
    n_chars = F.length(text)
    toks = tokens_col(text)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(text, r"[A-Z]", ""))
    n_stop = F.size(
        F.filter(toks, lambda t: F.lower(t).isin([w for ws in LANG_MARKERS.values() for w in ws]))
    )
    def r6(c):  # floor-form rounding: cross-engine-exact on rational ties
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    punct_ratio = r6(n_punct / F.greatest(n_chars, F.lit(1)))
    upper_ratio = r6(n_upper / F.greatest(n_chars, F.lit(1)))
    stop_ratio = r6(n_stop / F.greatest(n_tokens, F.lit(1)))
    mean_word_len = r6(n_chars / F.greatest(n_tokens, F.lit(1)))
    return df.select(
        "doc_id",
        n_chars.alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        upper_ratio.alias("upper_ratio"),
        stop_ratio.alias("stop_ratio"),
        mean_word_len.alias("mean_word_len"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID: per-language marker hit count over the
    token set, argmax with deterministic tie-break on language code."""
    toks = tokens_col(F.lower(F.col(text_col)))

    # NB: the lambda must take exactly ONE parameter — PySpark interprets a
    # two-parameter lambda in F.filter as (element, index).
    def marker_test(words):
        return lambda t: t.isin(words)

    scores = [
        F.size(F.filter(toks, marker_test(words))).alias(f"score_{lang}")
        for lang, words in LANG_MARKERS.items()
    ]
    scored = df.select("doc_id", *scores)
    # argmax via greatest + chained when (ties → first in sorted lang order)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pick = F.when(F.lit(False), F.lit(""))
    for l in langs:
        pick = pick.when(F.col(f"score_{l}") == best, F.lit(l))
    return scored.select(
        "doc_id",
        F.when(best > 0, pick).otherwise(F.lit("und")).alias("lang_pred"),
        best.alias("lang_score"),
    )


def _bm25_index(docs: DataFrame, text_col: str):
    """The shared BM25 inverted-index statistics — three partial
    aggregations plus the corpus-constants broadcast frame: returns
    (tf, dl, dfreq, glob).  Both :func:`bm25_topk` and
    :func:`bm25_retrieve` build on this one path (they had drifted as
    near-verbatim copies; r03 review)."""
    toks = tokens_col(F.lower(F.col(text_col)))
    tf = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dfreq"))
    glob = dl.agg(F.sum("dl").alias("sum_dl")).crossJoin(
        F.broadcast(docs.agg(F.count("*").alias("n_docs")))
    )
    return tf, dl, dfreq, glob


def _bm25_term_score(k1: float, b: float):
    """The per-(doc, term) BM25 contribution as a Column over the joined
    index frame — BM25+ idf ln((N−df+0.5)/(df+0.5)+1) × tf saturation.
    One definition shared by both consumers so the float op ORDER (and
    any rounding-form fix) can never drift between them."""
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("dfreq") + F.lit(0.5))
        / (F.col("dfreq") + F.lit(0.5))
        + F.lit(1.0)
    )
    return idf * (
        (F.col("tf") * F.lit(k1 + 1.0))
        / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / avgdl)))
    )


# shared SQL twin of _bm25_index (tokenization + tf/dl/dfreq/g CTEs)
_BM25_INDEX_SQL = r"""
      with toks as (
        select doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) as term
        from documents where length(trim(text)) > 0
      ),
      tf as (select doc_id, term, count(*) as tf from toks group by 1, 2),
      dl as (select doc_id, sum(tf) as dl from tf group by 1),
      dfreq as (select term, count(*) as dfreq from tf group by 1),
      g as (select (select sum(dl) from dl) as sum_dl,
                   (select count(*) from documents) as n_docs)"""


def _bm25_term_score_sql(k1: float, b: float, tf_ref: str = "tf.tf", dl_ref: str = "dl.dl") -> str:
    return (
        f"ln((n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)"
        f" * (({tf_ref} * {k1 + 1.0!r})"
        f"    / ({tf_ref} + {k1!r} * ({1.0 - b!r} + {b!r}"
        f"       * ({dl_ref} / (cast(sum_dl as double) / n_docs)))))"
    )


def bm25_topk(
    df: DataFrame,
    k: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """Top-k BM25 keyword terms per document (Robertson/Sparck Jones;
    the BM25+ idf form ln((N−df+0.5)/(df+0.5)+1) that stays positive).

    Scale shape — the canonical inverted-index build as three partial
    aggregations plus one join:

      explode(tokens)                       map-side, no shuffle
      → groupBy(doc_id, term) count         shuffle 1 (tf; map-combine)
      → groupBy(doc_id) Σtf                 re-uses shuffle-1 partitioning
      → groupBy(term) count                 shuffle 2 (document frequency)
      tf ⋈ dl ⋈ dfreq                       term join: broadcast when the
                                            vocab is dimension-sized, AQE
                                            shuffle join at corpus scale
      → window(doc_id) top-k                shuffle 3 (bounded: k rows out
                                            per doc after rank filter)

    Corpus constants (N, Σdl) reduce to a broadcast 1-row frame — no
    driver collect, the whole plan is one Spark job.  Scores round to
    6 dp in the floor(x·1e6+0.5)/1e6 form (the repo's cross-engine
    float-output invariant) so ordering and the oracle hash are
    ulp-stable across engines.
    """
    from pyspark.sql import Window

    tf, dl, dfreq, glob = _bm25_index(df, text_col)
    scored = tf.join(dl, "doc_id").join(dfreq, "term").crossJoin(F.broadcast(glob))
    score = F.floor(_bm25_term_score(k1, b) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.select(
            "doc_id", "term", F.col("tf").cast("int").alias("tf"), score.alias("score")
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "score", F.col("rnk").cast("int").alias("rnk"))
    )


def bm25_oracle_sql(k: int = 3, k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB twin of :func:`bm25_topk` — same tokenization, same float
    op ORDER (left-assoc, constants interpolated via repr so both
    engines see the identical doubles)."""
    return f"""
      {_BM25_INDEX_SQL},
      s as (
        select tf.doc_id, tf.term, tf.tf,
               floor(({_bm25_term_score_sql(k1, b)}) * 1e6 + 0.5) / 1e6 as score
        from tf join dl using (doc_id) join dfreq using (term) cross join g
      ),
      r as (select *, row_number() over
              (partition by doc_id order by score desc, term) as rnk from s)
      select doc_id, term, cast(tf as int) as tf, score, cast(rnk as int) as rnk
      from r where rnk <= {k}
    """


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: per training document, the overlap of
    its DISTINCT word 3-gram shingles with an evaluation set's shingle
    vocabulary → (doc_id, n_shingles, n_hits, overlap_ratio,
    contaminated).  The standard train/eval n-gram-overlap
    decontamination pass of a training-data pipeline.

    Scale shape — the eval set is dimension-sized, so its distinct
    shingle vocabulary is a BROADCAST build side:

      docs:  shingles → array_distinct → explode        map-side
      bench: shingles → explode → distinct → broadcast  tiny
      left broadcast join (hit marker)                  no shuffle
      groupBy(doc_id) count/sum                         the ONE shuffle

    At 10^12 docs the fact side is scanned once with zero fact-side
    shuffles before the final bounded per-doc rollup.  If the eval set
    ever outgrows broadcast, the same plan degrades gracefully to an
    AQE shuffle join on the shingle — the code path is unchanged.
    """
    from geodesk_spark.operators.dedup import shingles_col

    doc_sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles_col(F.col(text_col)))).alias("sh"),
    )
    bench_sh = (
        benchmark.select(F.explode(shingles_col(F.col(text_col))).alias("sh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = doc_sh.join(F.broadcast(bench_sh), "sh", "left")
    raw = F.sum(F.coalesce(F.col("_hit"), F.lit(0))) / F.greatest(
        F.count("*"), F.lit(1)
    )
    # floor-form rounding: cross-engine-exact (CLAUDE.md invariant)
    ratio = F.floor(raw * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_shingles"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("int").alias("n_hits"),
        ratio.alias("overlap_ratio"),
        (ratio >= F.lit(threshold)).alias("contaminated"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of casefolded, whitespace-collapsed text —
    the canonical exact-dup key."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.select("doc_id", F.md5(norm).alias("fp"))


# --- Oracle-SQL recipe twins (DuckDB dialect) -------------------------------

def lang_id_oracle_sql() -> str:
    langs = sorted(LANG_MARKERS)
    score_exprs = []
    for lang in langs:
        words = ",".join(f"'{w}'" for w in LANG_MARKERS[lang])
        score_exprs.append(
            f"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t in ({words})))"
            f" as score_{lang}"
        )
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    pick = "case " + " ".join(f"when score_{l} = best then '{l}'" for l in langs) + " end"
    return f"""
        with scored as (
          select doc_id, {', '.join(score_exprs)}
          from documents
        ), b as (
          select doc_id, {best} as best, * from scored
        )
        select doc_id,
               case when best > 0 then {pick} else 'und' end as lang_pred,
               cast(best as int) as lang_score
        from b
    """


def bm25_retrieve(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    q_id: str = "qid",
    q_text: str = "qtext",
) -> DataFrame:
    """Full-text retrieval: top-k documents per query by BM25 — the
    query-side counterpart of :func:`bm25_topk` (same index statistics,
    same idf form), i.e. the corpus search/linking primitive (dedupe
    candidates by content, caption→document grounding, eval-set
    retrieval).

    Scale shape: the document index (tf/dl/dfreq) builds exactly as in
    bm25_topk; the query term set is typically dimension-sized and
    BROADCASTS into the term join, so scoring adds ONE aggregation
    (groupBy qid, doc) + the bounded top-k window on top of the index
    shuffles.  Scores floor-round to 6 dp (cross-engine ulp stability),
    ties break on doc_id.
    """
    from pyspark.sql import Window

    tf, dl, dfreq, glob = _bm25_index(docs, text_col)
    qt = (
        queries.select(q_id, F.explode(tokens_col(F.lower(F.col(q_text)))).alias("term"))
        .distinct()
    )
    scored = (
        qt.join(tf, "term")
        .join(dl, "doc_id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(glob))
    )
    # float addition is order-dependent across engines/partitionings:
    # round each TERM score to 6 dp (floor form), sum in decimal (exact,
    # order-free), emit as double
    ts6 = (
        F.floor(_bm25_term_score(k1, b) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    ).cast("decimal(18,6)")
    per_doc = scored.groupBy(q_id, "doc_id").agg(
        F.sum(ts6).cast("double").alias("score")
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_doc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(q_id, "doc_id", "score", F.col("rnk").cast("int").alias("rnk"))
    )


def bm25_retrieve_sql(
    queries_cte: str, k: int = 5, k1: float = 1.2, b: float = 0.75
) -> str:
    """DuckDB twin of :func:`bm25_retrieve`; ``queries_cte`` must yield
    (qid, qtext)."""
    return rf"""
      {_BM25_INDEX_SQL},
      q as ({queries_cte}),
      qt as (select distinct qid, term from (
               select qid,
                      unnest(string_split_regex(trim(lower(qtext)), '\s+')) as term
               from q where length(trim(qtext)) > 0) e),
      s as (
        select qt.qid, tf.doc_id,
               {_bm25_term_score_sql(k1, b)} as ts
        from qt join tf using (term) join dl using (doc_id)
             join dfreq using (term) cross join g
      ),
      pd as (select qid, doc_id,
                    cast(sum(cast(floor(ts * 1e6 + 0.5) / 1e6 as decimal(18,6)))
                         as double) as score
             from s group by 1, 2),
      r as (select *, row_number() over
              (partition by qid order by score desc, doc_id) as rnk from pd)
      select qid, doc_id, score, cast(rnk as int) as rnk
      from r where rnk <= {k}
    """


def repetition_stats(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Within-document repetition quality metric (the Gopher-style
    "fraction of duplicate n-grams" filter, public recipe): per doc,
    the word n-gram count, its distinct count, and the duplicate ratio
    1 − distinct/total (floor-form 1e6; 0 for docs shorter than n
    words).  High dup_ratio flags boilerplate/spam for the curation
    filter chain alongside quality_scores.

    All JVM higher-order functions over the one tokens array — zero
    shuffles, zero Python: grams via transform(sequence) + element_at,
    dedup via array_distinct.  Per-row cost is O(len²) only in the
    degenerate sense of array_distinct's quadratic scan on tiny arrays;
    docs are bounded by the ingest schema, not the corpus.
    """
    toks = tokens_col(F.lower(F.col(text_col)))
    n_tok = F.size(toks)
    gram_cnt = F.greatest(n_tok - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(gram_cnt, F.lit(1))),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + F.lit(j)) for j in range(n)]),
    )
    grams = F.when(gram_cnt > 0, grams).otherwise(F.array().cast("array<string>"))
    d = df.withColumn("_g", grams)
    total = F.size(F.col("_g"))
    distinct = F.size(F.array_distinct(F.col("_g")))
    dup = F.when(
        total > 0,
        F.floor((F.lit(1.0) - distinct / total) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        total.alias("n_grams"),
        distinct.alias("n_distinct_grams"),
        dup.alias("dup_ratio"),
    )


def repetition_stats_sql(rel: str = "documents", n: int = 3, text_col: str = "text") -> str:
    """DuckDB twin of :func:`repetition_stats` — same tokenizer (trimmed
    whitespace split), same gram construction, same floor-form ratio."""
    joined = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
    return f"""
      with tk as (
        select doc_id,
               case when length(trim({text_col})) = 0 then []
                    else string_split_regex(trim(lower({text_col})), '\\s+') end as t
        from {rel}),
      g as (
        select doc_id,
               case when len(t) - {n - 1} > 0
                    then list_transform(range(1, len(t) - {n - 1} + 1), i -> {joined})
                    else [] end as grams
        from tk)
      select doc_id,
             len(grams) as n_grams,
             len(list_distinct(grams)) as n_distinct_grams,
             case when len(grams) > 0
                  then floor((1.0 - len(list_distinct(grams)) / cast(len(grams) as double)) * 1e6 + 0.5) / 1e6
                  else 0.0 end as dup_ratio
      from g
    """


# --- Corpus-level LM scoring + importance resampling ------------------------
#
# Cross-engine float law for this section (CLAUDE.md transcendentals): the
# ONLY transcendental either operator evaluates is ln() on INTEGER
# arguments (smoothed counts), floor-quantized to integer MICRO-NATS.
# Integer micro-nats sum exactly and order-free on both engines (bigint),
# so the oracle hash cannot drift with partitioning, summation order, or
# the engine's libm build: ln is evaluated on a bounded-cardinality set of
# identical integer inputs, and a ≤1-ulp disagreement only matters if that
# specific integer's ln lands within ~2e-15 of a 5e-7 quantization
# boundary (~1e-9 per distinct argument).


def _qln_micro(c: Column) -> Column:
    """floor-quantized natural log in integer micro-nats (see section law)."""
    return F.floor(F.log(c.cast("double")) * F.lit(1e6) + F.lit(0.5)).cast("long")


def _qln_micro_sql(expr: str) -> str:
    return f"cast(floor(ln(cast(({expr}) as double)) * 1e6 + 0.5) as bigint)"


def _bigram_events(df: DataFrame, text_col: str, extra: tuple = ()) -> DataFrame:
    """(doc_id, *extra, prev, cur) bigram stream with a '<s>' sentinel
    before the first token — built as 'prev cur' pair strings via a JVM
    transform over sequence(1, n) (tokens are \\S+ so the space separator
    is unambiguous), then split back.  Entirely map-side: zero shuffles.
    ``extra`` columns (e.g. a language key for per-group LM training)
    ride along unchanged."""
    toks = tokens_col(F.lower(F.col(text_col)))
    n = F.size(toks)
    pairs = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.concat(
            F.when(i == 1, F.lit("<s>")).otherwise(
                F.element_at(toks, (i - F.lit(1)).cast("int"))
            ),
            F.lit(" "),
            F.element_at(toks, i.cast("int")),
        ),
    )
    pairs = F.when(n > 0, pairs).otherwise(F.array().cast("array<string>"))
    return (
        df.select("doc_id", *extra, F.explode(pairs).alias("pg"))
        .select(
            "doc_id",
            *extra,
            F.split_part(F.col("pg"), F.lit(" "), F.lit(1)).alias("prev"),
            F.split_part(F.col("pg"), F.lit(" "), F.lit(2)).alias("cur"),
        )
    )


_BIGRAM_EVENTS_SQL = r"""
      select doc_id,
             split_part(pg, ' ', 1) as prev,
             split_part(pg, ' ', 2) as cur
      from (
        select doc_id,
               unnest(list_transform(
                 range(1, len(t) + 1),
                 i -> (case when i = 1 then '<s>' else t[i - 1] end) || ' ' || t[i]
               )) as pg
        from (
          select doc_id,
                 case when length(trim({text_col})) = 0 then []
                      else string_split_regex(trim(lower({text_col})), '\s+') end as t
          from {rel}
        )
      )"""


def ngram_lm_score(
    docs: DataFrame, model: DataFrame | None = None, text_col: str = "text"
) -> DataFrame:
    """CCNet-style n-gram language-model scoring (Wenzek et al. 2020 score
    CommonCrawl with a reference-corpus LM and filter by perplexity;
    public recipe): train an add-1-smoothed BIGRAM model on ``model``
    (default: the corpus itself), score every doc with its average
    negative log-likelihood → (doc_id, n_bigrams, nll_micro, avg_nll).
    Low avg_nll = fluent/typical text; high = gibberish or boilerplate
    mismatch with the reference distribution — the perplexity bucket of
    a training-data curation chain.

    P(cur|prev) = (c2+1)/(c1+V): all-integer smoothed counts, so the
    per-token nll is qln(c1+V) − qln(c2+1) in exact integer micro-nats
    (section float law above).

    Scale shape — model training is two count aggregations whose OUTPUT
    is vocab-sized (map-side combine; at 100 TB the bigram vocab is an
    AQE shuffle join, at dimension scale Spark broadcasts it):

      model: bigrams → groupBy(prev,cur), groupBy(prev)   2 shuffles, small out
      docs:  bigrams (map-side) ⋈ c2 ⋈ c1                 vocab joins (AQE)
      → groupBy(doc_id) count/sum(bigint)                 the ONE fact rollup
      → left join back to docs                            empty docs keep a row

    No driver collect; V reduces to a broadcast 1-row frame.
    ``model`` must contain at least one token (an empty model has V=0
    and the smoothed probability degenerates to ln(0) → null scores).
    """
    model = docs if model is None else model
    me = _bigram_events(model, text_col)
    c2 = me.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    c1 = me.groupBy("prev").agg(F.count("*").alias("c1"))
    vg = me.agg(F.countDistinct("cur").alias("v"))
    e = _bigram_events(docs, text_col)
    scored = (
        e.join(c2, ["prev", "cur"], "left")
        .join(c1, ["prev"], "left")
        .crossJoin(F.broadcast(vg))
    )
    nll = _qln_micro(
        F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")
    ) - _qln_micro(F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1))
    per = scored.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.sum(nll).alias("s")
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("int").alias("n_bigrams"),
            F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("nll_micro"),
            F.when(
                F.coalesce(F.col("n"), F.lit(0)) > 0,
                (F.col("s").cast("double") / F.col("n")) / F.lit(1e6),
            )
            .otherwise(F.lit(0.0))
            .alias("avg_nll"),
        )
    )


def ngram_lm_score_sql(
    rel: str = "documents", model_rel: str | None = None, text_col: str = "text"
) -> str:
    """DuckDB twin of :func:`ngram_lm_score` — same tokenizer, same pair
    strings, same integer micro-nat arithmetic.  ``model_rel`` may be a
    parenthesized subquery; default trains on ``rel`` itself."""
    model_rel = rel if model_rel is None else model_rel
    ev = _BIGRAM_EVENTS_SQL.format(rel=rel, text_col=text_col)
    mev = _BIGRAM_EVENTS_SQL.format(rel=model_rel, text_col=text_col)
    nll = (
        _qln_micro_sql("coalesce(c1.c1, 0) + v.v")
        + " - "
        + _qln_micro_sql("coalesce(c2.c2, 0) + 1")
    )
    return f"""
      with e as ({ev}),
      me as ({mev}),
      c2 as (select prev, cur, count(*) as c2 from me group by 1, 2),
      c1 as (select prev, count(*) as c1 from me group by 1),
      v as (select count(distinct cur) as v from me),
      s as (
        select e.doc_id, {nll} as nll
        from e left join c2 on e.prev = c2.prev and e.cur = c2.cur
               left join c1 on e.prev = c1.prev
               cross join v
      ),
      r as (select doc_id, count(*) as n, sum(nll) as s from s group by 1)
      select d.doc_id,
             cast(coalesce(r.n, 0) as int) as n_bigrams,
             cast(coalesce(r.s, 0) as bigint) as nll_micro,
             case when coalesce(r.n, 0) > 0
                  then (cast(r.s as double) / r.n) / 1e6
                  else 0.0 end as avg_nll
      from {rel} d left join r using (doc_id)
    """


_BIGRAM_EVENTS_GROUPED_SQL = r"""
      select doc_id, {g},
             split_part(pg, ' ', 1) as prev,
             split_part(pg, ' ', 2) as cur
      from (
        select doc_id, {g},
               unnest(list_transform(
                 range(1, len(t) + 1),
                 i -> (case when i = 1 then '<s>' else t[i - 1] end) || ' ' || t[i]
               )) as pg
        from (
          select doc_id, {g},
                 case when length(trim({text_col})) = 0 then []
                      else string_split_regex(trim(lower({text_col})), '\s+') end as t
          from {rel}
        )
      )"""


def ngram_lm_score_grouped(
    docs: DataFrame,
    model: DataFrame | None = None,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-GROUP CCNet LM scoring — the actual Wenzek et al. 2020 shape:
    one add-1-smoothed bigram LM per ``group_col`` value (per language),
    all trained in a SINGLE pass by keying the count aggregations on the
    group, each doc scored under its own group's model →
    (doc_id, <group_col>, n_bigrams, nll_micro, avg_nll).

    Docs whose group has no model rows fall back to the uniform
    distribution over the GLOBAL model vocabulary (c1=c2=0, V=V_all) —
    the worst-case score, never null.  Same integer micro-nat float law
    as :func:`ngram_lm_score`.

    Scale shape: identical to the ungrouped op with the group key woven
    into every aggregation/join — still two vocab-sized count shuffles +
    one fact rollup; the per-group V table is #groups rows (broadcast).
    ``model`` must contain at least one token (see ngram_lm_score).
    """
    model = docs if model is None else model
    g = group_col
    me = _bigram_events(model, text_col, extra=(g,))
    c2 = me.groupBy(g, "prev", "cur").agg(F.count("*").alias("c2"))
    c1 = me.groupBy(g, "prev").agg(F.count("*").alias("c1"))
    vg = me.groupBy(g).agg(F.countDistinct("cur").alias("vg"))
    va = me.agg(F.countDistinct("cur").alias("v_all"))
    e = _bigram_events(docs, text_col, extra=(g,))
    scored = (
        e.join(c2, [g, "prev", "cur"], "left")
        .join(c1, [g, "prev"], "left")
        .join(F.broadcast(vg), [g], "left")
        .crossJoin(F.broadcast(va))
    )
    v = F.coalesce(F.col("vg"), F.col("v_all"))
    nll = _qln_micro(
        F.coalesce(F.col("c1"), F.lit(0)) + v
    ) - _qln_micro(F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1))
    per = scored.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.sum(nll).alias("s")
    )
    return (
        docs.select("doc_id", g)
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            g,
            F.coalesce(F.col("n"), F.lit(0)).cast("int").alias("n_bigrams"),
            F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("nll_micro"),
            F.when(
                F.coalesce(F.col("n"), F.lit(0)) > 0,
                (F.col("s").cast("double") / F.col("n")) / F.lit(1e6),
            )
            .otherwise(F.lit(0.0))
            .alias("avg_nll"),
        )
    )


def ngram_lm_score_grouped_sql(
    rel: str = "documents",
    model_rel: str | None = None,
    group_col: str = "lang",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`ngram_lm_score_grouped`."""
    model_rel = rel if model_rel is None else model_rel
    g = group_col
    ev = _BIGRAM_EVENTS_GROUPED_SQL.format(rel=rel, text_col=text_col, g=g)
    mev = _BIGRAM_EVENTS_GROUPED_SQL.format(rel=model_rel, text_col=text_col, g=g)
    nll = (
        _qln_micro_sql("coalesce(c1.c1, 0) + coalesce(vg.vg, va.v_all)")
        + " - "
        + _qln_micro_sql("coalesce(c2.c2, 0) + 1")
    )
    return f"""
      with e as ({ev}),
      me as ({mev}),
      c2 as (select {g}, prev, cur, count(*) as c2 from me group by 1, 2, 3),
      c1 as (select {g}, prev, count(*) as c1 from me group by 1, 2),
      vg as (select {g}, count(distinct cur) as vg from me group by 1),
      va as (select count(distinct cur) as v_all from me),
      s as (
        select e.doc_id, {nll} as nll
        from e left join c2 on e.{g} = c2.{g} and e.prev = c2.prev and e.cur = c2.cur
               left join c1 on e.{g} = c1.{g} and e.prev = c1.prev
               left join vg on e.{g} = vg.{g}
               cross join va
      ),
      r as (select doc_id, count(*) as n, sum(nll) as s from s group by 1)
      select d.doc_id, d.{g},
             cast(coalesce(r.n, 0) as int) as n_bigrams,
             cast(coalesce(r.s, 0) as bigint) as nll_micro,
             case when coalesce(r.n, 0) > 0
                  then (cast(r.s as double) / r.n) / 1e6
                  else 0.0 end as avg_nll
      from {rel} d left join r using (doc_id)
    """


def ccnet_quality_buckets(
    docs: DataFrame,
    model: DataFrame | None = None,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """The CCNet head/middle/tail split (Wenzek et al. 2020): score every
    doc under its own language's LM (:func:`ngram_lm_score_grouped`),
    then tercile per language by normalized NLL — head = most fluent
    third, tail = most gibberish third.  → (doc_id, <group>, avg_nll,
    bucket, bucket_name).

    Ordering key = nll_micro/n_bigrams as an IEEE double division of
    identical integers (bit-identical both engines), ties on doc_id;
    ntile(3) is integer-exact.  The per-language window is the same
    global-quantile cut CCNet itself performs per language; at corpus
    scale replace ntile with sampled per-group quantile thresholds — the
    scores are the distributed-safe part and are unchanged.
    """
    from pyspark.sql import Window

    g = group_col
    lm = ngram_lm_score_grouped(docs, model, group_col=g, text_col=text_col)
    key = F.col("nll_micro").cast("double") / F.greatest(
        F.col("n_bigrams"), F.lit(1)
    )
    w = Window.partitionBy(g).orderBy(key.asc(), F.asc("doc_id"))
    b = F.ntile(3).over(w)
    return lm.select(
        "doc_id",
        g,
        "avg_nll",
        b.cast("int").alias("bucket"),
        F.when(b == 1, F.lit("head"))
        .when(b == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket_name"),
    )


def ccnet_quality_buckets_sql(
    rel: str = "documents",
    model_rel: str | None = None,
    group_col: str = "lang",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`ccnet_quality_buckets`."""
    g = group_col
    inner = ngram_lm_score_grouped_sql(rel, model_rel, group_col=g, text_col=text_col)
    return f"""
      with lm as ({inner}),
      t as (
        select doc_id, {g}, avg_nll,
               ntile(3) over (
                 partition by {g}
                 order by cast(nll_micro as double) / greatest(n_bigrams, 1),
                          doc_id
               ) as bucket
        from lm)
      select doc_id, {g}, avg_nll, cast(bucket as int) as bucket,
             case when bucket = 1 then 'head'
                  when bucket = 2 then 'middle'
                  else 'tail' end as bucket_name
      from t
    """


def _hash_bucket_col(col: str, buckets: int) -> Column:
    """Deterministic token→bucket hash shared with the SQL twin: Horner
    over the first 6 hex digits of md5 (16^6 = 16.7M ≫ any sane bucket
    count), mod ``buckets``.  Same md5-as-the-only-hash-primitive rule
    as dedup.py — identical bytes on Spark and DuckDB."""
    v = None
    for i in range(6):
        d = F.expr(
            f"position(substring(md5({col}), {i + 1}, 1), '0123456789abcdef') - 1"
        )
        v = d if v is None else v * F.lit(16) + d
    return v % F.lit(buckets)


def _hash_bucket_sql(col: str, buckets: int) -> str:
    v = None
    for i in range(6):
        d = f"(strpos('0123456789abcdef', substring(md5({col}), {i + 1}, 1)) - 1)"
        v = d if v is None else f"({v} * 16 + {d})"
    return f"({v} % {buckets})"


def dsir_importance(
    docs: DataFrame,
    target: DataFrame,
    buckets: int = 4096,
    frac: float = 0.25,
    text_col: str = "text",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023, DSIR;
    public recipe): hashed unigram bag features, per-doc importance
    weight Σ_tokens [ln p_target(b) − ln p_raw(b)] with add-1-smoothed
    bucket distributions, then keep the top ceil(frac·N) docs →
    (doc_id, n_tokens, weight_micro, avg_weight, rnk, selected).
    ``target`` is the small in-domain corpus to resample toward (e.g. a
    curated/English subset); ``docs`` is the raw corpus.

    ln p_t(b) − ln p_r(b) expands to four ln() calls on INTEGER
    arguments — qln(ct+1) − qln(Nt+B) − qln(cr+1) + qln(Nr+B) — exact
    integer micro-nats per the section float law.

    Scale shape: both bucket histograms have ≤ ``buckets`` rows →
    BROADCAST joins; corpus totals are broadcast 1-row frames; the fact
    side is scanned once with one groupBy(doc_id) rollup.  The final
    rank is a global integer sort — at test scale one window; at 100 TB
    replace with the standard two-pass threshold select (sample the
    weight distribution, broadcast the cut, filter) — the weights
    themselves are the distributed-safe part and are unchanged.
    """
    def events(df: DataFrame) -> DataFrame:
        toks = tokens_col(F.lower(F.col(text_col)))
        return df.select("doc_id", F.explode(toks).alias("tok")).select(
            "doc_id", _hash_bucket_col("tok", buckets).alias("b")
        )

    te, re_ = events(target), events(docs)
    ct = te.groupBy("b").agg(F.count("*").alias("ct"))
    cr = re_.groupBy("b").agg(F.count("*").alias("cr"))
    nt = te.agg(F.count("*").alias("nt"))
    nr = re_.agg(F.count("*").alias("nr"))
    scored = (
        re_.join(F.broadcast(ct), "b", "left")
        .join(F.broadcast(cr), "b", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
    )
    w_tok = (
        _qln_micro(F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1))
        - _qln_micro(F.col("nt") + F.lit(buckets))
        - _qln_micro(F.coalesce(F.col("cr"), F.lit(0)) + F.lit(1))
        + _qln_micro(F.col("nr") + F.lit(buckets))
    )
    per = scored.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.sum(w_tok).alias("w")
    )
    from pyspark.sql import Window

    n_docs = docs.agg(F.count("*").alias("n_docs"))
    base = (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("int").alias("n_tokens"),
            F.coalesce(F.col("w"), F.lit(0)).cast("long").alias("weight_micro"),
            F.when(
                F.coalesce(F.col("n"), F.lit(0)) > 0,
                (F.col("w").cast("double") / F.col("n")) / F.lit(1e6),
            )
            .otherwise(F.lit(0.0))
            .alias("avg_weight"),
            F.col("n_docs"),
        )
    )
    rk = F.row_number().over(
        Window.orderBy(F.desc("weight_micro"), F.asc("doc_id"))
    )
    return base.select(
        "doc_id",
        "n_tokens",
        "weight_micro",
        "avg_weight",
        rk.cast("int").alias("rnk"),
        (rk <= F.ceil(F.lit(frac) * F.col("n_docs"))).alias("selected"),
    )


_UNIGRAM_EVENTS_SQL = r"""
      select doc_id, unnest(t) as tok
      from (
        select doc_id,
               case when length(trim({text_col})) = 0 then []
                    else string_split_regex(trim(lower({text_col})), '\s+') end as t
        from {rel}
      )"""


def dsir_importance_sql(
    rel: str = "documents",
    target_rel: str = "(select * from documents where lang = 'en')",
    buckets: int = 4096,
    frac: float = 0.25,
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`dsir_importance` — same md5-Horner bucket,
    same integer micro-nat weight, same rank tie-break."""
    ev = _UNIGRAM_EVENTS_SQL.format(rel=rel, text_col=text_col)
    tev = _UNIGRAM_EVENTS_SQL.format(rel=target_rel, text_col=text_col)
    b = _hash_bucket_sql("tok", buckets)
    w = (
        _qln_micro_sql("coalesce(ct.ct, 0) + 1")
        + " - " + _qln_micro_sql(f"nt.nt + {buckets}")
        + " - " + _qln_micro_sql("coalesce(cr.cr, 0) + 1")
        + " + " + _qln_micro_sql(f"nr.nr + {buckets}")
    )
    return f"""
      with ev as (select doc_id, {b} as b from ({ev})),
      tev as (select doc_id, {b} as b from ({tev})),
      ct as (select b, count(*) as ct from tev group by 1),
      cr as (select b, count(*) as cr from ev group by 1),
      nt as (select count(*) as nt from tev),
      nr as (select count(*) as nr from ev),
      s as (
        select ev.doc_id, {w} as w
        from ev left join ct using (b) left join cr using (b)
                cross join nt cross join nr
      ),
      per as (select doc_id, count(*) as n, sum(w) as w from s group by 1),
      nd as (select count(*) as n_docs from {rel}),
      base as (
        select d.doc_id,
               cast(coalesce(per.n, 0) as int) as n_tokens,
               cast(coalesce(per.w, 0) as bigint) as weight_micro,
               case when coalesce(per.n, 0) > 0
                    then (cast(per.w as double) / per.n) / 1e6
                    else 0.0 end as avg_weight,
               nd.n_docs
        from {rel} d left join per using (doc_id) cross join nd
      )
      select doc_id, n_tokens, weight_micro, avg_weight,
             cast(row_number() over (order by weight_micro desc, doc_id) as int) as rnk,
             row_number() over (order by weight_micro desc, doc_id)
               <= ceil({frac!r} * n_docs) as selected
      from base
    """


def doremi_reweight(
    docs: DataFrame,
    domain_col: str = "source",
    eta: float = 1.0,
    text_col: str = "text",
) -> DataFrame:
    """Domain mixture reweighting — DoReMi-lite (Xie et al. 2023,
    "Doremi: Optimizing Data Mixtures Speeds Up Language Model
    Pretraining", static-loss collapse): upweight domains whose
    reference-LM EXCESS loss is high, i.e. the domains the reference
    model fits worst, then emit per-domain target sample counts for the
    resampled mix.  Full DoReMi alternates proxy-model training with
    exponentiated-gradient weight updates; with a FIXED per-domain loss
    the EG recursion w ← w·exp(η·excess) collapses algebraically to the
    single softmax-style reweight computed here (documented honestly —
    the proxy retrain loop needs a trainer, not a query engine).

    Loss = the corpus-trained bigram LM's average NLL per domain, in
    exact integer MICRO-NATS (ngram_lm_score's law: every ln takes an
    integer argument, sums are order-free bigints).  The only
    transcendental is ONE det_exp per domain row (bit-identical on
    every engine build); normalization uses max (order-free) then pure
    bigint rounding arithmetic, so every output column is an exact
    integer and the whole result hashes identically cross-engine.

    100 TB shape: the LM train + score is the existing two-shuffle
    ngram_lm_score pass; the domain rollup is ONE groupBy over the
    per-doc scores; the softmax runs on the DOMAIN table (a handful of
    rows) via unbounded windows — no collect, no driver math.

    → (domain, n_docs, n_bigrams, avg_nll_micro, excess_micro,
       weight_ppm, target_docs), one row per domain.
    """
    from pyspark.sql import Window

    from geodesk_spark.geo import mercator

    scored = ngram_lm_score(docs, text_col=text_col)
    j = scored.join(
        docs.select("doc_id", F.col(domain_col).alias("domain")), "doc_id"
    ).filter(F.col("n_bigrams") > 0)
    dom = j.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_bigrams").cast("long")).alias("nb"),
        F.sum("nll_micro").alias("nll"),
    )
    w = Window.partitionBy()
    avg_dom = F.expr("nll div nb")
    avg_glob = F.expr("gnll div gnb")
    dom = (
        dom.withColumn("gnll", F.sum("nll").over(w))
        .withColumn("gnb", F.sum("nb").over(w))
        .withColumn("avg_nll_micro", avg_dom)
        .withColumn("excess_micro", F.greatest(avg_dom - avg_glob, F.lit(0).cast("long")))
    )
    c = eta / 1e6
    wexp = mercator.det_exp_col(F.col("excess_micro").cast("double") * F.lit(c))
    dom = dom.withColumn("_we", wexp).withColumn("_wm", F.max("_we").over(w))
    ppm = F.floor(F.col("_we") / F.col("_wm") * F.lit(1e6) + F.lit(0.5)).cast("long")
    dom = dom.withColumn("_ppm", ppm).withColumn("_s", F.sum("_ppm").over(w))
    dom = dom.withColumn("_ntot", F.sum("n_docs").over(w))
    weight_ppm = F.expr("(_ppm * 2000000 + _s) div (2 * _s)")
    dom = dom.withColumn("weight_ppm", weight_ppm)
    target = F.expr("(weight_ppm * _ntot * 2 + 1000000) div 2000000")
    return dom.select(
        "domain",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("nb").cast("long").alias("n_bigrams"),
        F.col("avg_nll_micro").cast("long").alias("avg_nll_micro"),
        F.col("excess_micro").cast("long").alias("excess_micro"),
        F.col("weight_ppm").cast("long").alias("weight_ppm"),
        target.cast("long").alias("target_docs"),
    )


def doremi_reweight_sql(
    rel: str = "documents",
    domain_col: str = "source",
    eta: float = 1.0,
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`doremi_reweight` — same micro-nat LM chain,
    same det_exp, same max-normalized bigint rounding."""
    from geodesk_spark.geo import mercator

    c = eta / 1e6
    scored = ngram_lm_score_sql(rel, text_col=text_col)
    wexp = mercator.det_exp_sql(f"(cast(excess_micro as double) * {c!r})")
    return f"""
      with sc as ({scored}),
      jd as (select sc.doc_id, sc.n_bigrams, sc.nll_micro, d.{domain_col} as domain
             from sc join {rel} d using (doc_id) where sc.n_bigrams > 0),
      dom as (select domain, count(*) as n_docs,
                     sum(cast(n_bigrams as bigint)) as nb,
                     sum(nll_micro) as nll
              from jd group by domain),
      g as (select *,
                   nll // nb as avg_nll_micro,
                   greatest(nll // nb - (sum(nll) over ()) // (sum(nb) over ()),
                            0) as excess_micro,
                   sum(n_docs) over () as ntot
            from dom),
      e as (select *, {wexp} as we from g),
      n as (select *,
                   cast(floor(we / (max(we) over ()) * 1e6 + 0.5) as bigint) as ppm
            from e),
      s as (select *, sum(ppm) over () as s from n),
      f as (select *, (ppm * 2000000 + s) // (2 * s) as weight_ppm from s)
      select domain,
             cast(n_docs as bigint) as n_docs,
             cast(nb as bigint) as n_bigrams,
             cast(avg_nll_micro as bigint) as avg_nll_micro,
             cast(excess_micro as bigint) as excess_micro,
             cast(weight_ppm as bigint) as weight_ppm,
             cast((weight_ppm * ntot * 2 + 1000000) // 2000000 as bigint) as target_docs
      from f
    """


def fuzzy_vocab_match(
    rare: DataFrame,
    lexicon: DataFrame,
    word_col: str = "word",
    lex_col: str = "word",
    max_len: int = 24,
) -> DataFrame:
    """Typo-correction candidate join at corpus scale — SymSpell's
    symmetric-delete blocking (Garbe's algorithm, the standard
    spell-candidate index): two words are within edit distance 1 iff
    their single-deletion neighborhoods intersect (equal / insert /
    delete / substitute all leave a shared variant), so the quadratic
    fuzzy join becomes ONE equi-join on deletion variants.

    Each side explodes into len+1 variants (the word + every
    one-char deletion — built-in substr/concat, no UDF), candidates
    equi-join on the variant, then the exact ``levenshtein`` built-in
    (present and integer-identical in Spark and DuckDB) confirms
    ed ≤ 1 and dedups multi-variant hits.  Words longer than
    ``max_len`` are dropped (fan-out bound: ≤ max_len+1 variants per
    word — the LSH band-cap discipline).

    → (word, suggestion, ed) distinct pairs, ed ∈ {0, 1}.
    """
    def variants(df: DataFrame, col: str, out: str) -> DataFrame:
        w = F.col(col)
        d = df.filter(F.length(w) <= max_len).select(w.alias(out))
        idx = F.explode(F.sequence(F.lit(0), F.length(F.col(out)))).alias("_i")
        return d.select(out, idx).select(
            out,
            F.expr(
                f"case when _i = 0 then {out} "
                f"else substr({out}, 1, _i - 1) || substr({out}, _i + 1) end"
            ).alias("_v"),
        )

    rv = variants(rare, word_col, "word")
    lv = variants(lexicon, lex_col, "suggestion")
    cand = rv.join(lv, rv._v == lv._v).select("word", "suggestion").distinct()
    ed = F.levenshtein(F.col("word"), F.col("suggestion"))
    return cand.filter(ed <= 1).select(
        "word", "suggestion", ed.cast("int").alias("ed")
    )


def fuzzy_vocab_match_sql(
    rare_rel: str, lex_rel: str, max_len: int = 24
) -> str:
    """DuckDB twin of fuzzy_vocab_match (same deletion variants +
    levenshtein confirm)."""
    def var(rel: str, out: str) -> str:
        return f"""
          select {out}, case when i = 0 then {out}
                 else substr({out}, 1, i - 1) || substr({out}, i + 1) end as v
          from (select word as {out} from ({rel}) s0
                where length(word) <= {max_len}) s,
               unnest(range(0, length({out}) + 1)) t(i)"""

    return f"""
      with rv as ({var(rare_rel, 'word')}),
      lv as ({var(lex_rel, 'suggestion')}),
      cand as (select distinct word, suggestion
               from rv join lv on rv.v = lv.v)
      select word, suggestion,
             cast(levenshtein(word, suggestion) as int) as ed
      from cand
      where levenshtein(word, suggestion) <= 1
    """
