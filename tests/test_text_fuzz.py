"""Cross-engine randomized parity fuzz for the round-4 curation ops:
hypothesis generates small adversarial corpora (token collisions, empty
docs, ragged whitespace) and each example runs the full Spark operator
against its DuckDB oracle twin.  Few examples, whole-corpus per example
(Spark jobs are the cost unit, not rows)."""

import duckdb
import pandas as pd
from hypothesis import example, given, settings, strategies as st

from geodesk_spark.operators import dedup, text, textclean

TOK = st.text(alphabet="abcde", min_size=1, max_size=3)
DOC = st.lists(TOK, min_size=0, max_size=30).map(lambda ts: "  ".join(ts))
CORPUS = st.lists(DOC, min_size=2, max_size=12)

# Structured corpus for the textclean family: lines of punct/symbol-rich
# tokens (PII fragments, blocklist chars, ellipses, bullets) joined by
# real newlines — the shapes those operators branch on.
RTOK = st.text(alphabet="ab.?!#…-*@{5 ", min_size=1, max_size=6)
LINE = st.lists(RTOK, min_size=0, max_size=6).map(lambda ts: " ".join(ts))
RDOC = st.lists(LINE, min_size=0, max_size=5).map(lambda ls: "\n".join(ls))
RCORPUS = st.lists(RDOC, min_size=2, max_size=8)


def _frames(spark, docs):
    pdf = pd.DataFrame(
        {
            "doc_id": range(1, len(docs) + 1),
            "text": docs,
            "lang": ["en" if i % 2 == 0 else "fr" for i in range(len(docs))],
        }
    )
    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("documents", pdf)
    return sdf, con


def _assert_match(got, want, keys=("doc_id",)):
    got = got.toPandas().sort_values(list(keys)).reset_index(drop=True)
    want = want.df().sort_values(list(keys)).reset_index(drop=True)
    assert list(got.columns) == list(want.columns)
    for c in got.columns:
        ok = (got[c] == want[c]) | (got[c].isna() & want[c].isna())
        assert ok.all(), (c, got.loc[~ok].head(3), want.loc[~ok].head(3))


@settings(max_examples=5, deadline=None)
@given(docs=CORPUS)
def test_fuzz_ngram_lm_parity(spark, docs):
    sdf, con = _frames(spark, docs)
    _assert_match(
        text.ngram_lm_score(sdf), con.sql(text.ngram_lm_score_sql())
    )


@settings(max_examples=5, deadline=None)
@given(docs=CORPUS)
def test_fuzz_dsir_parity(spark, docs):
    sdf, con = _frames(spark, docs)
    target = sdf.filter("lang = 'en'")
    _assert_match(
        text.dsir_importance(sdf, target, buckets=64),
        con.sql(text.dsir_importance_sql(buckets=64)),
    )


@settings(max_examples=5, deadline=None)
@given(docs=CORPUS)
def test_fuzz_remove_dup_spans_parity(spark, docs):
    sdf, con = _frames(spark, docs)
    _assert_match(
        dedup.remove_dup_spans(sdf, k=3),
        con.sql(dedup.remove_dup_spans_sql(k=3)),
    )


@settings(max_examples=5, deadline=None)
@given(docs=RCORPUS)
def test_fuzz_pii_scrub_parity(spark, docs):
    sdf, con = _frames(spark, docs)
    _assert_match(textclean.pii_scrub(sdf), con.sql(textclean.pii_scrub_sql()))


@settings(max_examples=5, deadline=None)
@given(docs=RCORPUS)
def test_fuzz_c4_line_filter_parity(spark, docs):
    sdf, con = _frames(spark, docs)
    _assert_match(
        textclean.c4_line_filter(sdf, min_words=2),
        con.sql(textclean.c4_line_filter_sql(min_words=2)),
    )


@settings(max_examples=5, deadline=None)
@given(docs=RCORPUS)
def test_fuzz_dupline_stats_parity(spark, docs):
    sdf, con = _frames(spark, docs)
    _assert_match(
        textclean.dupline_stats(sdf), con.sql(textclean.dupline_stats_sql())
    )


@settings(max_examples=5, deadline=None)
@given(docs=RCORPUS)
def test_fuzz_gopher_quality_parity(spark, docs):
    sdf, con = _frames(spark, docs)
    _assert_match(
        textclean.gopher_quality_filter(sdf, min_words=2),
        con.sql(textclean.gopher_quality_filter_sql(min_words=2)),
    )


@settings(max_examples=4, deadline=None)
@given(docs=st.lists(st.lists(st.text(alphabet="ab\t\n", min_size=1, max_size=5),
                              min_size=0, max_size=6).map(" ".join),
                     min_size=1, max_size=6))
@example(docs=["\tab ba", "ab\n", "a\tb"])
def test_fuzz_bpe_train_parity(spark, docs):
    """bpe_train merge lists + final segmentations match the Python
    Sennrich reference on adversarial two-letter corpora (maximal
    overlapping-merge chains), with tab/newline-edged words that Spark's
    space-only trim leaves in place."""
    from tests.test_textclean import _bpe_reference

    sdf, _ = _frames(spark, docs)
    from geodesk_spark.operators import textclean as tc

    mdf, vdf = tc.bpe_train(sdf, n_merges=4)
    got_merges = [(r.rank, r.tok_a, r.tok_b, r.merged, r.cnt)
                  for r in mdf.orderBy("rank").collect()]
    want_merges, want_segs, want_vocab = _bpe_reference(docs, 4)
    assert got_merges == want_merges
    got = {r.word: (r.cnt, list(r.seg)) for r in vdf.collect()}
    assert got == {w: (want_vocab[w], want_segs[w]) for w in want_vocab}


@settings(max_examples=5, deadline=None)
@given(docs=RCORPUS)
def test_fuzz_bpe_pairs_parity(spark, docs):
    sdf, con = _frames(spark, docs)
    got = [
        (r.pair, r.cnt)
        for r in textclean.bpe_pair_stats(sdf, k=1000).collect()
    ]
    want = con.sql(textclean.bpe_pair_stats_sql(k=1000)).fetchall()
    assert got == [(p, c) for p, c in want]


@settings(max_examples=30, deadline=None)
@given(docs=st.lists(st.lists(st.text(alphabet="ab", min_size=1, max_size=5),
                              min_size=0, max_size=6).map(" ".join),
                     min_size=1, max_size=6))
def test_fuzz_bpe_train_sql_oracle_parity(docs):
    """The r5 unrolled-CTE oracle fuzz (DuckDB-only — no Spark job per
    example, so 30 examples): bpe_train_sql's merge list matches the
    pure-Python Sennrich reference on adversarial two-letter corpora,
    the same maximal-overlap strategy the Spark-side fuzz uses.  This
    pins the run-parity rewrite of the greedy fold across the aaaa
    chain space independently of either engine implementation."""
    from tests.test_textclean import _bpe_reference

    pdf = pd.DataFrame({"doc_id": range(1, len(docs) + 1), "text": docs})
    con = duckdb.connect()
    con.register("documents", pdf)
    got = [
        tuple(r)
        for r in con.sql(textclean.bpe_train_sql("documents", n_merges=4))
        .df()
        .itertuples(index=False)
    ]
    want_merges, _, _ = _bpe_reference(docs, 4)
    assert got == [tuple(m) for m in want_merges]
