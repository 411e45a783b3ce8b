"""Corpus-cleaning operators over a `documents(doc_id, text, ...)` table —
the wash steps a web-scale training-data pipeline runs BEFORE dedup and
model scoring (not present in the reference; added per the build brief):

- :func:`pii_scrub`       — regex PII detection + typed redaction
                            (C4 / CCNet-style privacy wash)
- :func:`c4_line_filter`  — Raffel et al. 2020 line-level cleaning rules
                            (terminal punctuation, min words, blocklist)
- :func:`dupline_stats`   — Rae et al. 2021 (Gopher) within-doc duplicate-
                            line fractions (line + character granularity)
- :func:`bpe_pair_stats`  — corpus-level adjacent-character-pair counts,
                            i.e. the first BPE merge-candidate table
                            (Sennrich et al. 2016 step 1)

Everything is built-in `pyspark.sql.functions` (JVM codegen) — zero Python
in the hot path, zero shuffles except the single groupBy in
:func:`bpe_pair_stats` (the canonical word-count shape: map-side partial
aggregation makes the shuffle carry only distinct pairs per partition).

Cross-engine float law (CLAUDE.md): every emitted ratio is floor-form
quantized (`floor(x*1e6+0.5)/1e6`) on BOTH engines; the only float op is
one IEEE-exact division, so oracle hashes cannot drift with libm builds.

Regex portability: the PII patterns use only the Java∩RE2 common subset
(char classes, bounded repetition, non-capturing groups, `\\b`) — no
lookaround, no backreferences — so Spark (java.util.regex) and DuckDB
(RE2) match identically on ASCII text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# --- PII patterns (Java ∩ RE2 portable subset) ------------------------------
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}(?:\.\d{1,3}){3}\b"
PHONE_RE = r"\b\d{3}[- ]\d{4}\b"

# C4's line blocklist (Raffel et al. 2020 §2.2: boilerplate markers).
C4_BLOCKLIST = ("lorem ipsum", "javascript", "{")


def _r6(c: Column) -> Column:
    """Floor-form 1e6 rounding: cross-engine-exact (CLAUDE.md float law)."""
    return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def pii_scrub(df: DataFrame, text_col: str = "text", keep: tuple = ()) -> DataFrame:
    """Detect + redact emails, IPv4 addresses and phone-like numbers.

    Sequential semantics (mirrored exactly by :func:`pii_scrub_sql`):
    emails are counted on the raw text then redacted to ``<EMAIL>``; IPs
    are counted on the email-redacted text (so digits inside an email
    never double-count) then redacted to ``<IP>``; phones last, on the
    doubly-redacted text, to ``<PHONE>``.  Returns per-doc match counts
    plus the fully redacted ``clean_text``.

    One narrow projection — no shuffle, no Python; regexp_replace and
    regexp_extract_all are JVM expressions inside whole-stage codegen,
    so at 10^12 rows this is a pure scan-side map.
    """
    t0 = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t0, F.lit(EMAIL_RE), 0))
    t1 = F.regexp_replace(t0, EMAIL_RE, "<EMAIL>")
    n_ips = F.size(F.regexp_extract_all(t1, F.lit(IPV4_RE), 0))
    t2 = F.regexp_replace(t1, IPV4_RE, "<IP>")
    n_phones = F.size(F.regexp_extract_all(t2, F.lit(PHONE_RE), 0))
    t3 = F.regexp_replace(t2, PHONE_RE, "<PHONE>")
    return df.select(
        "doc_id",
        *keep,
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
        t3.alias("clean_text"),
    )


def pii_scrub_sql(rel: str = "documents", text_col: str = "text") -> str:
    """DuckDB twin of :func:`pii_scrub` — same patterns, same sequential
    count-then-redact order; DuckDB needs the explicit 'g' flag where
    Spark's regexp_replace is global by default.  DuckDB single-quoted
    strings don't process backslashes, so the patterns embed verbatim."""
    email = EMAIL_RE
    return f"""
      with s0 as (select doc_id, {text_col} as t0 from {rel}),
      s1 as (select doc_id,
                    len(regexp_extract_all(t0, '{email}')) as n_emails,
                    regexp_replace(t0, '{email}', '<EMAIL>', 'g') as t1
             from s0),
      s2 as (select doc_id, n_emails,
                    len(regexp_extract_all(t1, '{IPV4_RE}')) as n_ips,
                    regexp_replace(t1, '{IPV4_RE}', '<IP>', 'g') as t2
             from s1)
      select doc_id, n_emails, n_ips,
             len(regexp_extract_all(t2, '{PHONE_RE}')) as n_phones,
             regexp_replace(t2, '{PHONE_RE}', '<PHONE>', 'g') as clean_text
      from s2
    """


def _c4_keep(line: Column, min_words: int) -> Column:
    """The C4 keep-predicate for one line (shared by op + tests)."""
    tl = F.trim(line)
    cond = (F.size(F.split(tl, r"\s+")) >= F.lit(min_words)) & tl.rlike('[.?!"]$')
    for phrase in C4_BLOCKLIST:
        cond = cond & ~F.lower(line).contains(phrase)
    return cond


def c4_line_filter(df: DataFrame, text_col: str = "text", min_words: int = 3) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep only
    lines that end in terminal punctuation (. ? ! \"), contain at least
    ``min_words`` whitespace words, and mention none of the boilerplate
    blocklist phrases (case-insensitive).  Emits per-doc line counts,
    the kept-line ratio (floor-form 1e6) and the cleaned text (kept
    lines re-joined with newlines; '' when nothing survives).

    All array higher-order functions over one split — zero shuffles,
    zero Python; the filter lambda is evaluated by the JVM's interpreter
    (higher-order functions run outside whole-stage codegen).
    """
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(lines, lambda l: _c4_keep(l, min_words))
    n_lines = F.size(lines)
    n_kept = F.size(kept)
    return df.select(
        "doc_id",
        n_lines.alias("n_lines"),
        n_kept.alias("n_kept"),
        _r6(n_kept / F.greatest(n_lines, F.lit(1))).alias("kept_ratio"),
        F.concat_ws("\n", kept).alias("clean_text"),
    )


def c4_line_filter_sql(rel: str = "documents", text_col: str = "text", min_words: int = 3) -> str:
    """DuckDB twin of :func:`c4_line_filter`.  Gotchas mirrored: DuckDB's
    array_to_string on an empty list is NULL where Spark's concat_ws is
    '' (coalesce — CLAUDE.md invariant), and the blocklist test runs on
    the UNtrimmed lowered line exactly like the Spark lambda."""
    block = " and ".join(
        f"not contains(lower(x), '{p.replace(chr(39), chr(39) * 2)}')" for p in C4_BLOCKLIST
    )
    return f"""
      with l as (select doc_id, string_split({text_col}, chr(10)) as lines from {rel}),
      k as (select doc_id, lines,
                   list_filter(lines, x ->
                       len(string_split_regex(trim(x), '\\s+')) >= {min_words}
                       and regexp_matches(trim(x), '[.?!"]$')
                       and {block}) as kept
            from l)
      select doc_id,
             len(lines) as n_lines,
             len(kept) as n_kept,
             floor(len(kept) / greatest(len(lines), 1) * 1e6 + 0.5) / 1e6 as kept_ratio,
             coalesce(array_to_string(kept, chr(10)), '') as clean_text
      from k
    """


def dupline_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher repetition filters at line granularity (Rae et al. 2021,
    Table A1): per doc, the number of lines, the number of DUPLICATE
    line occurrences (occurrences beyond each line's first), and the
    two fractions Gopher thresholds on — duplicate lines / total lines
    and characters-in-duplicate-lines / total line characters.

    `chars_dup = Σ len(line) − Σ len(distinct lines)` — both sums are
    exact integers, so the only float is one final IEEE division per
    fraction (floor-form quantized).  Zero shuffles, zero Python.
    """
    lines = F.split(F.col(text_col), "\n")
    dlines = F.array_distinct(lines)
    n_lines = F.size(lines)
    n_dup = n_lines - F.size(dlines)
    chars_total = F.aggregate(lines, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    chars_dist = F.aggregate(dlines, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    return df.select(
        "doc_id",
        n_lines.alias("n_lines"),
        n_dup.alias("n_dup_lines"),
        _r6(n_dup / F.greatest(n_lines, F.lit(1))).alias("dup_line_frac"),
        _r6((chars_total - chars_dist) / F.greatest(chars_total, F.lit(1))).alias(
            "dup_char_frac"
        ),
    )


def dupline_stats_sql(rel: str = "documents", text_col: str = "text") -> str:
    """DuckDB twin of :func:`dupline_stats` — list_distinct keeps one
    occurrence per distinct line just like Spark's array_distinct; the
    char sums are cast to bigint so both engines subtract exact ints."""
    return f"""
      with l as (select doc_id, string_split({text_col}, chr(10)) as lines from {rel}),
      s as (select doc_id, lines, list_distinct(lines) as dlines from l),
      c as (select doc_id,
                   len(lines) as n_lines,
                   len(lines) - len(dlines) as n_dup_lines,
                   cast(coalesce(list_aggregate(list_transform(lines, x -> length(x)), 'sum'), 0) as bigint) as chars_total,
                   cast(coalesce(list_aggregate(list_transform(dlines, x -> length(x)), 'sum'), 0) as bigint) as chars_dist
            from s)
      select doc_id, n_lines, n_dup_lines,
             floor(n_dup_lines / greatest(n_lines, 1) * 1e6 + 0.5) / 1e6 as dup_line_frac,
             floor((chars_total - chars_dist) / greatest(chars_total, 1) * 1e6 + 0.5) / 1e6 as dup_char_frac
      from c
    """


# Gopher rule G7 (Rae et al. 2021 A1): at least 2 of these must appear.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mwl: float = 3.0,
    max_mwl: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The Gopher document-level quality rules (Rae et al. 2021,
    Table A1) as one composite filter: word-count bounds, mean word
    length bounds, symbol-to-word ratio (# and ellipses), the fraction
    of lines starting with a bullet / ending with an ellipsis, the
    fraction of words containing an alphabetic character, and the
    required-stopword rule (≥ ``min_stop_hits`` of the 8 canonical
    English function words present).  Emits every individual metric
    plus the boolean ``keep`` verdict so a pipeline can both filter and
    audit the rule that fired.

    Pure Column algebra over two splits (words, lines) — zero shuffles,
    zero Python; its ``filter``/``aggregate`` folds keep the projection
    outside whole-stage codegen (interpreted JVM); at 10^12 rows
    this rides the scan.  Ratios are exact-integer divisions rendered
    floor-form 1e6 (CLAUDE.md float law); ``keep`` compares the
    QUANTIZED values, so both engines decide boundary ties identically.
    """
    t = F.col(text_col)
    words = F.when(
        F.length(F.trim(t)) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.lower(t)), r"\s+"))
    lines = F.split(t, "\n")
    n_words = F.size(words)
    wsafe = F.greatest(n_words, F.lit(1))
    n_lines_safe = F.greatest(F.size(lines), F.lit(1))
    char_sum = F.aggregate(words, F.lit(0).cast("long"), lambda a, w: a + F.length(w))
    mwl = _r6(char_sum / wsafe)
    n_sym = (
        F.length(t)
        - F.length(F.regexp_replace(t, r"#", ""))
        + F.size(F.regexp_extract_all(t, F.lit(r"(\.\.\.|…)"), 0))
    )
    sym_ratio = _r6(n_sym / wsafe)
    bullet = F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]")))
    ellipsis = F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$")))
    bullet_frac = _r6(bullet / n_lines_safe)
    ellipsis_frac = _r6(ellipsis / n_lines_safe)
    n_alpha = F.size(F.filter(words, lambda w: w.rlike(r"[a-z]")))
    alpha_frac = _r6(n_alpha / wsafe)
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(words, s),
        )
    )
    out = df.select(
        "doc_id",
        n_words.alias("n_words"),
        mwl.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
    )
    keep = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mwl, max_mwl)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("bullet_frac") <= max_bullet_frac)
        & (F.col("ellipsis_frac") <= max_ellipsis_frac)
        & (F.col("alpha_frac") >= min_alpha_frac)
        & (F.col("stop_hits") >= min_stop_hits)
    )
    return out.withColumn("keep", keep)


def gopher_quality_filter_sql(
    rel: str = "documents",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mwl: float = 3.0,
    max_mwl: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> str:
    """DuckDB twin of :func:`gopher_quality_filter` — same tokenizer
    (empty-trim → [] like the Spark branch), same quantization, keep
    decided on the quantized columns."""
    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
      with tk as (
        select doc_id, {text_col} as t,
               case when length(trim({text_col})) = 0 then []
                    else string_split_regex(trim(lower({text_col})), '\\s+') end as words,
               string_split({text_col}, chr(10)) as lines
        from {rel}),
      m as (
        select doc_id,
               len(words) as n_words,
               greatest(len(words), 1) as wsafe,
               greatest(len(lines), 1) as lsafe,
               cast(coalesce(list_aggregate(list_transform(words, w -> length(w)), 'sum'), 0) as bigint) as char_sum,
               length(t) - length(replace(t, '#', ''))
                 + len(regexp_extract_all(t, '(\\.\\.\\.|…)')) as n_sym,
               len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) as n_bullet,
               len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$'))) as n_ellipsis,
               len(list_filter(words, w -> regexp_matches(w, '[a-z]'))) as n_alpha,
               len(list_filter([{stops}], s -> list_contains(words, s))) as stop_hits
        from tk),
      q as (
        select doc_id, n_words,
               floor(char_sum / wsafe * 1e6 + 0.5) / 1e6 as mean_word_len,
               floor(n_sym / wsafe * 1e6 + 0.5) / 1e6 as symbol_ratio,
               floor(n_bullet / lsafe * 1e6 + 0.5) / 1e6 as bullet_frac,
               floor(n_ellipsis / lsafe * 1e6 + 0.5) / 1e6 as ellipsis_frac,
               floor(n_alpha / wsafe * 1e6 + 0.5) / 1e6 as alpha_frac,
               stop_hits
        from m)
      select doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
             ellipsis_frac, alpha_frac, stop_hits,
             (n_words between {min_words} and {max_words}
              and mean_word_len between {min_mwl} and {max_mwl}
              and symbol_ratio <= {max_symbol_ratio}
              and bullet_frac <= {max_bullet_frac}
              and ellipsis_frac <= {max_ellipsis_frac}
              and alpha_frac >= {min_alpha_frac}
              and stop_hits >= {min_stop_hits}) as keep
      from q
    """


def bpe_pair_stats(df: DataFrame, k: int = 20, text_col: str = "text") -> DataFrame:
    """The first iteration of BPE vocabulary training (Sennrich et al.
    2016): count every ADJACENT CHARACTER PAIR inside words across the
    corpus and return the top-``k`` merge candidates, ordered by count
    desc then pair asc (a total order — `pair` is unique — so the top-k
    cut is deterministic on both engines).

    Shape at 10^12 rows: one narrow explode (≈ n_chars rows, never
    materialized — it feeds straight into hash aggregation) and ONE
    shuffle whose payload is `distinct pairs × partitions` thanks to
    map-side partial aggregation — the canonical word-count plan.
    Words shorter than 2 chars are filtered BEFORE the pair transform
    (Spark's sequence(1, 0) would generate a descending range rather
    than an empty one — the filter keeps both engines on n ≥ 2).
    """
    words = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda w: F.length(w) >= 2
    )
    w = F.explode(words).alias("w")
    pairs = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.length(F.col("w")) - 1),
            lambda i: F.col("w").substr(i, F.lit(2)),
        )
    ).alias("pair")
    return (
        df.select(w)
        .select(pairs)
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(k)
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """FULL BPE vocabulary training (Sennrich et al. 2016) — the
    iterative merge loop, not just the first-round pair table.

    Scale shape (how real BPE trainers work, made distributed): the
    corpus is touched ONCE (word count: one explode into hash agg, one
    shuffle carrying distinct words).  Every merge round then runs on
    the VOCABULARY table — bounded by distinct words, not corpus size,
    so training cost is independent of whether the corpus is 60k rows
    or 10^12.  Each round: adjacent-pair counts weighted by word
    frequency (small agg), argmax pair to the driver (ONE row — the
    same bounded control plane as kcenter/kmeans), then a greedy
    left-to-right merge applied as a JVM ``aggregate`` fold over each
    segmentation array (token-exact: a freshly merged token can never
    re-merge within the round because its string differs from the left
    element).  The vocab frame is localCheckpoint'ed per round so the
    plan does not accrete one fold per round (CLAUDE.md iterative-op
    law).

    Tie-break is total (count desc, then pair lexicographic), so the
    merge list is deterministic.  Stops early when no pair remains.

    Returns ``(merges, vocab)``: merges = (rank, tok_a, tok_b, merged,
    cnt); vocab = (word, cnt, seg) with the final segmentation.
    """
    words = F.explode(
        F.when(
            F.length(F.trim(F.col(text_col))) == 0, F.array().cast("array<string>")
        ).otherwise(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    ).alias("word")
    vocab = (
        df.select(words)
        # trim strips spaces only: tab/newline-edged text splits into a
        # '' word, which would yield a phantom ('', '') pair
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "seg",
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.col("word").substr(i, F.lit(1)),
            ),
        )
        .localCheckpoint()
    )
    merges = []
    for rank in range(1, n_merges + 1):
        pair = F.struct(
            F.element_at("seg", F.col("i")).alias("a"),
            F.element_at("seg", (F.col("i") + 1).cast("int")).alias("b"),
        )
        top = (
            vocab.filter(F.size("seg") >= 2)
            .select(
                F.explode(F.sequence(F.lit(1), F.size("seg") - 1)).alias("i"),
                "seg",
                "cnt",
            )
            .select(pair.alias("p"), "cnt")
            .groupBy("p")
            .agg(F.sum("cnt").alias("pcnt"))
            .orderBy(F.col("pcnt").desc(), F.col("p.a"), F.col("p.b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, pcnt = top[0]["p"]["a"], top[0]["p"]["b"], top[0]["pcnt"]
        m = a + b
        la, lb, lm = F.lit(a), F.lit(b), F.lit(m)
        fold = F.aggregate(
            "seg",
            F.array().cast("array<string>"),
            lambda acc, t: F.when(
                (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (t == lb),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lm)),
            ).otherwise(F.concat(acc, F.array(t))),
        )
        from geodesk_spark.operators.dedup import _release_local_checkpoint

        prev = vocab
        vocab = vocab.withColumn("seg", fold).localCheckpoint()
        _release_local_checkpoint(prev)
        merges.append((rank, a, b, m, int(pcnt)))
    spark = df.sparkSession
    mdf = spark.createDataFrame(
        merges, "rank int, tok_a string, tok_b string, merged string, cnt long"
    )
    return mdf, vocab


def bpe_encode(df: DataFrame, merges: list, text_col: str = "text") -> DataFrame:
    """Tokenize with a trained BPE merge list (the inference half of
    :func:`bpe_train`): per doc, whitespace words → character tokens →
    apply every merge in RANK order (greedy left-to-right within each
    rank, exactly like training) → flat token array + count.

    ``merges`` is the collected (rank, tok_a, tok_b, ...) list from
    ``bpe_train`` — vocabulary-sized, shipped to executors in the task
    closure (the broadcast-dim pattern).  Tokenization is inherently
    per-string sequential, so this is one Arrow-batched mapInPandas
    scan (the same honest slow-path boundary as the image kernels);
    everything before and after stays JVM-side.
    """
    ranked = [(m[1], m[2]) for m in sorted(merges, key=lambda m: m[0])]

    def seg_word(w: str) -> list:
        s = list(w)
        for a, b in ranked:
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            s = out
        return s

    import pandas as pd  # local: keep the module JVM-only at import time

    def run(batches):
        for pdf in batches:
            toks = []
            for t in pdf[text_col]:
                words = (t or "").strip().lower().split()
                toks.append([p for w in words for p in seg_word(w)])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "tokens": toks,
                    "n_tokens": [len(x) for x in toks],
                }
            )

    return df.select("doc_id", text_col).mapInPandas(
        run, schema="doc_id long, tokens array<string>, n_tokens int"
    )


def bpe_pair_stats_sql(rel: str = "documents", k: int = 20, text_col: str = "text") -> str:
    """DuckDB twin of :func:`bpe_pair_stats` — range(1, n) is
    end-exclusive (≡ Spark's inclusive sequence(1, n−1)); substr is
    1-based on both engines."""
    return f"""
      with w as (select unnest(string_split_regex(lower(trim({text_col})), '\\s+')) as w
                 from {rel}),
      f as (select w from w where length(w) >= 2),
      p as (select unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) as pair
            from f)
      select pair, cast(count(*) as bigint) as cnt
      from p group by pair
      order by cnt desc, pair
      limit {k}
    """


def bpe_train_sql(rel: str = "documents", n_merges: int = 10, text_col: str = "text") -> str:
    """DuckDB twin of the FULL :func:`bpe_train` merge loop, unrolled as
    ``n_merges`` chained CTE rounds (the IVF-trainer precedent: a
    bounded iterative trainer IS SQL-expressible by unrolling).

    The only non-obvious piece is the greedy left-to-right merge fold.
    It is expressible relationally because overlapping pair matches can
    only CHAIN when ``tok_a == tok_b`` (match at i and i+1 forces
    seg[i+1] = a = b), so the fold's effect on original positions is:
    a match at position i merges iff its offset inside its maximal run
    of consecutive matches is EVEN (gaps-and-islands + parity), and a
    position is consumed iff its predecessor merged.  A within-round
    re-merge is impossible (merged token a||b can never equal a), so
    deciding on ORIGINAL positions is exact.

    Round structure (all on the vocabulary table, bounded by distinct
    words): p{{r}} pair counts → t{{r}} argmax (count desc, pair asc —
    the same total order as Spark) → position explode with run-parity
    merge decision → rebuilt seg list.  Each round's vocab and argmax
    are ``as materialized`` (multi-referenced CTEs re-expand in the
    binder otherwise — the map_match lesson).  Early-stop parity: an
    empty t{{r}} empties every later round, mirroring Spark's break.
    """
    parts = [
        f"""
      w0 as (select unnest(string_split_regex(lower(trim({text_col})), '\\s+')) as word
             from {rel}),
      v0 as materialized (
        select word, cast(count(*) as bigint) as cnt,
               list_transform(range(1, length(word) + 1), j -> substr(word, j, 1)) as seg
        from w0 where word <> '' group by word)"""
    ]
    for r in range(1, n_merges + 1):
        q = r - 1
        parts.append(f"""
      p{r} as (
        select list_extract(seg, i) as a, list_extract(seg, i + 1) as b,
               sum(cnt) as pcnt
        from (select cnt, seg, unnest(range(1, len(seg))) as i
              from v{q} where len(seg) >= 2)
        group by 1, 2),
      t{r} as materialized (
        select cast({r} as int) as rank, a as tok_a, b as tok_b,
               a || b as merged, cast(pcnt as bigint) as cnt
        from p{r} order by pcnt desc, a, b limit 1),
      m{r} as (
        select e.word, e.cnt, e.i, list_extract(e.seg, e.i) as tok, t.merged as mtok,
               (e.i < len(e.seg)
                and list_extract(e.seg, e.i) = t.tok_a
                and list_extract(e.seg, e.i + 1) = t.tok_b) as hit
        from (select word, cnt, seg, unnest(range(1, len(seg) + 1)) as i
              from v{q}) e
        cross join t{r} t),
      g{r} as (
        select word, cnt, i, tok, mtok, hit,
               i - row_number() over (partition by word, hit order by i) as grp
        from m{r}),
      d{r} as (
        select word, cnt, i, tok, mtok,
               (hit and (row_number() over (partition by word, hit, grp order by i)
                         - 1) % 2 = 0) as do_merge
        from g{r}),
      s{r} as (
        select word, cnt, i,
               case when do_merge then mtok else tok end as otok,
               coalesce(lag(do_merge) over (partition by word order by i),
                        false) as consumed
        from d{r}),
      v{r} as materialized (
        select word, cnt, list(otok order by i) as seg
        from s{r} where not consumed group by word, cnt)""")
    union = "\n        union all ".join(
        f"select rank, tok_a, tok_b, merged, cnt from t{r}"
        for r in range(1, n_merges + 1)
    )
    return "with " + ",".join(parts) + f"\n      {union}\n      order by rank"
