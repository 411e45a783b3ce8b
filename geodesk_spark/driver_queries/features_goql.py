"""Driver-contract query builders; registry.py assembles them into QUERIES."""

from __future__ import annotations

from geodesk_spark.driver_queries.common import (
    ANN_K,
    ANN_QUERY_IDS,
    F,
    H,
    _part_features,
    ann,
    dedup,
    lat_expr,
    lon_expr,
    tables,
    text,
    x_expr,
    y_expr,
)

def _q_graph_members(spark, sf_dir):
    """membersOf analog (StoredRelation.java:168-192): relation→members
    equi-join with a role filter."""
    o = tables.load_spread(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    li = tables.load_spread(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("o_orderkey").alias("rel_id"), F.col("l_partkey").alias("member_id"), "l_linenumber")
    )


_SQL_GRAPH_MEMBERS = """
  select o_orderkey as rel_id, l_partkey as member_id, l_linenumber
  from orders join lineitem on o_orderkey = l_orderkey
  where o_orderpriority = '1-URGENT' and l_returnflag = 'R'
"""


def _q_graph_nodes_of(spark, sf_dir):
    """nodesOf analog (WayNodeView.java:22-106): a way's vertex run in
    seq order, anonymous nodes as null node_id — ordinary equi-join on
    the way_nodes edge table."""
    from geodesk_spark.operators import graph

    ways = (
        tables.load_spread(spark, sf_dir, "orders")
        .filter((F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") == "2-HIGH"))
        .select(F.col("o_orderkey").alias("fid"))
    )
    li = tables.with_derived_points(tables.load_spread(spark, sf_dir, "lineitem"), "l_partkey")
    way_nodes = li.select(
        F.col("l_orderkey").alias("way_id"),
        F.col("l_linenumber").alias("seq"),
        F.col("x").cast("int").alias("x"),
        F.col("y").cast("int").alias("y"),
        F.when(F.col("l_linenumber") % 3 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("l_suppkey"))
        .alias("node_id"),
    )
    return graph.nodes_of(ways, way_nodes).select("way_id", "seq", "x", "y", "node_id")


_SQL_GRAPH_NODES_OF = f"""
  with wn as (
    select l_orderkey as way_id, l_linenumber as seq,
           cast({x_expr(lon_expr("l_partkey"))} as int) as x,
           cast({y_expr(lat_expr("l_partkey"))} as int) as y,
           case when l_linenumber % 3 = 0 then null else l_suppkey end as node_id
    from lineitem),
  ways as (select o_orderkey as fid from orders
           where o_orderstatus = 'F' and o_orderpriority = '2-HIGH')
  select way_id, seq, x, y, node_id
  from wn join (select distinct fid from ways) w on wn.way_id = w.fid
  order by way_id, seq
"""


def _q_graph_parents(spark, sf_dir):
    """parentsOf analog (View.java:119-140): member→parent semi-join."""
    li = tables.load_spread(spark, sf_dir, "lineitem")
    p = tables.load_spread(spark, sf_dir, "part").filter(F.col("p_size") > 40)
    o = tables.load_spread(spark, sf_dir, "orders")
    member_orders = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select("l_orderkey").distinct()
    return (
        o.join(member_orders, o.o_orderkey == member_orders.l_orderkey, "left_semi")
        .select(F.col("o_orderkey").alias("parent_id"))
        .orderBy("parent_id")
    )


_SQL_GRAPH_PARENTS = """
  select o_orderkey as parent_id from orders
  where o_orderkey in (
    select l_orderkey from lineitem join part on l_partkey = p_partkey where p_size > 40)
  order by parent_id
"""


def _q_connected(spark, sf_dir):
    """connectedTo analog (ConnectedFilter.java:21-113): shared-vertex
    equi-join — orders sharing a part with order 1."""
    li = tables.load_spread(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_orderkey") == 1).select(F.col("l_partkey").alias("pk")).distinct()
    return (
        li.join(F.broadcast(a), li.l_partkey == a.pk)
        .filter(F.col("l_orderkey") != 1)
        .select(F.col("l_orderkey").alias("connected_id"))
        .distinct()
        .orderBy("connected_id")
    )


_SQL_CONNECTED = """
  select distinct l_orderkey as connected_id from lineitem
  where l_partkey in (select l_partkey from lineitem where l_orderkey = 1)
    and l_orderkey <> 1
  order by connected_id
"""


def _q_view_intersection(spark, sf_dir):
    """View ∧ view (View.java:176-213): two predicate sets AND-combined."""
    o = tables.load_spread(spark, sf_dir, "orders")
    v1 = (F.col("o_totalprice") > 100000) & (F.col("o_orderstatus") == "O")
    v2 = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return o.filter(v1 & v2).groupBy("o_orderpriority").agg(F.count("*").alias("n"))


_SQL_VIEW_INTERSECTION = """
  select o_orderpriority, count(*) as n from orders
  where o_totalprice > 100000 and o_orderstatus = 'O'
    and o_orderpriority in ('1-URGENT', '2-HIGH')
  group by o_orderpriority
"""


def _q_selector_union(spark, sf_dir):
    """Selector union (MatcherParser.java:461-482): OR of selector predicates."""
    o = tables.load_spread(spark, sf_dir, "orders")
    sel = (F.col("o_orderstatus") == "F") | (F.col("o_totalprice") > 250000)
    return o.filter(sel).groupBy("o_orderstatus").agg(F.count("*").alias("n"))


_SQL_SELECTOR_UNION = """
  select o_orderstatus, count(*) as n from orders
  where o_orderstatus = 'F' or o_totalprice > 250000
  group by o_orderstatus
"""


def _q_goql_select(spark, sf_dir):
    """GOQL tag query compiled to Catalyst (SURVEY §2.2): wildcard suffix
    match + lenient numeric comparison on a string-typed tag."""
    from geodesk_spark.goql import compile_goql

    feats = _part_features(spark, sf_dir)
    return feats.filter(compile_goql('*[type="STAN*"][size>=40]')).select(
        F.col("p_partkey").alias("key")
    )


_SQL_GOQL_SELECT = """
  select p_partkey as key from part
  where p_type like 'STAN%' and p_size >= 40
"""


def _q_goql_union(spark, sf_dir):
    """GOQL selector union + key-absence + value list
    (MatcherParser.java:461-482, :308-313)."""
    from geodesk_spark.goql import compile_goql

    feats = _part_features(spark, sf_dir)
    q = '*[!big][brand="Brand#45","Brand#21"], *[size=1,2]'
    return feats.filter(compile_goql(q)).select(F.col("p_partkey").alias("key"))


_SQL_GOQL_UNION = """
  select p_partkey as key from part
  where (p_size <= 25 and p_brand in ('Brand#45', 'Brand#21'))
     or p_size in (1, 2)
"""


FUZZY_COMMON_MIN = 20
FUZZY_RARE_MAX = 2
FUZZY_MIN_LEN = 4


def _q_fuzzy_vocab(spark, sf_dir):
    """Typo-candidate join (text.fuzzy_vocab_match — SymSpell symmetric
    deletes): rare corpus words (freq ≤ 2, len ≥ 4) fuzzy-match the
    common lexicon (freq ≥ 20) at edit distance ≤ 1 through ONE
    deletion-variant equi-join + the levenshtein builtin confirm."""
    from geodesk_spark.operators import text as text_mod

    docs = tables.load_spread(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("f"))
    )
    lex = words.filter(F.col("f") >= FUZZY_COMMON_MIN).select("word")
    # the synthetic corpus is typo-free (a genuine rare-vs-common join
    # is vacuous), so the rare side is a DETERMINISTIC typo generator
    # over the lexicon: delete the ((7·len) mod len)+1-th char —
    # guaranteeing every typo has an ed=1 suggestion to recover
    rare = (
        lex.filter(F.length("word") >= FUZZY_MIN_LEN + 1)
        .select(
            F.expr(
                "substr(word, 1, (7 * length(word)) % length(word)) || "
                "substr(word, (7 * length(word)) % length(word) + 2)"
            ).alias("word")
        )
        .distinct()
    )
    return text_mod.fuzzy_vocab_match(rare, lex)


def _fuzzy_vocab_sql() -> str:
    from geodesk_spark.operators import text as text_mod

    words = r"""select word, count(*) as f
      from (select unnest(regexp_extract_all(lower(text), '[a-z]+', 0)) as word
            from documents) w
      group by 1"""
    lex = f"select word from ({words}) b where f >= {FUZZY_COMMON_MIN}"
    rare = f"""select distinct
        substr(word, 1, (7 * length(word)) % length(word)) ||
        substr(word, (7 * length(word)) % length(word) + 2) as word
      from ({lex}) lx where length(word) >= {FUZZY_MIN_LEN + 1}"""
    return text_mod.fuzzy_vocab_match_sql(rare, lex)


def _q_token_count(spark, sf_dir):
    d = tables.load_spread(spark, sf_dir, "documents")
    return text.token_count(d).select("doc_id", F.col("n_tokens").cast("int").alias("n_tokens"))


_SQL_TOKEN_COUNT = r"""
  select doc_id,
         cast(case when length(trim(text)) = 0 then 0
              else len(string_split_regex(trim(text), '\s+')) end as int) as n_tokens
  from documents
"""


def _q_quality(spark, sf_dir):
    d = tables.load_spread(spark, sf_dir, "documents")
    return text.quality_scores(d)


_ALL_STOPWORDS = ",".join(f"'{w}'" for ws in text.LANG_MARKERS.values() for w in ws)


_SQL_QUALITY = rf"""
  select doc_id,
         cast(length(text) as int) as n_chars_m,
         cast(case when length(trim(text)) = 0 then 0
              else len(string_split_regex(trim(text), '\s+')) end as int) as n_tokens,
         floor(((length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) / greatest(length(text), 1)) * 1e6 + 0.5) / 1e6 as punct_ratio,
         floor(((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))) / greatest(length(text), 1)) * 1e6 + 0.5) / 1e6 as upper_ratio,
         floor((len(list_filter(string_split_regex(trim(text), '\s+'), t -> lower(t) in ({_ALL_STOPWORDS})))
               / greatest(case when length(trim(text)) = 0 then 0 else len(string_split_regex(trim(text), '\s+')) end, 1)) * 1e6 + 0.5) / 1e6 as stop_ratio,
         floor((length(text) / greatest(case when length(trim(text)) = 0 then 0 else len(string_split_regex(trim(text), '\s+')) end, 1)) * 1e6 + 0.5) / 1e6 as mean_word_len
  from documents
"""


def _q_bm25(spark, sf_dir):
    """Top-3 BM25 keyword terms per document (text.bm25_topk): the
    inverted-index build as three partial aggregations + one term join,
    corpus constants as a broadcast 1-row frame — no driver collect."""
    d = tables.load_spread(spark, sf_dir, "documents")
    return text.bm25_topk(d)


def _q_langid(spark, sf_dir):
    d = tables.load_spread(spark, sf_dir, "documents")
    return text.lang_id(d).select("doc_id", "lang_pred", F.col("lang_score").cast("int").alias("lang_score"))


def _q_fingerprint(spark, sf_dir):
    d = tables.load_spread(spark, sf_dir, "documents")
    return text.fingerprint(d)


_SQL_FINGERPRINT = r"""
  select doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) as fp
  from documents
"""


def _q_bm25_retrieve(spark, sf_dir):
    """Corpus retrieval (text.bm25_retrieve): every 25th document's text
    as a query, top-5 documents each by BM25 over the shared inverted
    index — broadcastable query terms, one scoring rollup + bounded
    top-k window; decimal-summed scores for cross-engine order freedom."""
    d = tables.load_spread(spark, sf_dir, "documents")
    q = d.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("qid"), F.col("text").alias("qtext")
    )
    return text.bm25_retrieve(d, q, k=5)


def _bm25_retrieve_sql() -> str:
    return text.bm25_retrieve_sql(
        "select doc_id as qid, text as qtext from documents where doc_id % 25 = 0",
        k=5,
    )


def _q_decontaminate(spark, sf_dir):
    """Train/eval n-gram decontamination (text.decontaminate): eval set =
    every 20th doc, broadcast its distinct shingle vocabulary, flag
    training docs by distinct-shingle overlap ratio ≥ 0.5."""
    d = tables.load_spread(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 20 != 0)
    bench = d.filter(F.col("doc_id") % 20 == 0)
    return text.decontaminate(train, bench)


def _decontaminate_sql() -> str:
    return f"""
      with s as ({_SQL_SHINGLES}),
      doc_sh as (
        select doc_id, unnest(list_distinct(sh)) as sh
        from s where doc_id % 20 <> 0
      ),
      bench as (
        select distinct sh
        from (select unnest(sh) as sh from s where doc_id % 20 = 0)
      ),
      j as (
        select d.doc_id, case when b.sh is not null then 1 else 0 end as hit
        from doc_sh d left join bench b using (sh)
      )
      select doc_id,
             cast(count(*) as int) as n_shingles,
             cast(sum(hit) as int) as n_hits,
             floor((sum(hit) / greatest(count(*), 1)) * 1e6 + 0.5) / 1e6 as overlap_ratio,
             floor((sum(hit) / greatest(count(*), 1)) * 1e6 + 0.5) / 1e6 >= 0.5 as contaminated
      from j group by doc_id
    """


def _q_lm_perplexity(spark, sf_dir):
    """CCNet-style bigram-LM scoring (text.ngram_lm_score): train an
    add-1-smoothed bigram model on the English subset, score EVERY doc
    with its average negative log-likelihood — the perplexity-bucket
    filter of a curation chain.  All float hazards are ln(integer)
    quantized to integer micro-nats (exact, order-free sums)."""
    d = tables.load_spread(spark, sf_dir, "documents")
    return text.ngram_lm_score(d, model=d.filter(F.col("lang") == "en"))


def _lm_perplexity_sql() -> str:
    return text.ngram_lm_score_sql(
        model_rel="(select * from documents where lang = 'en')"
    )


def _q_doremi_weights(spark, sf_dir):
    """Domain mixture reweighting, DoReMi-lite (text.doremi_reweight;
    Xie et al. 2023, static-loss collapse): per-source excess bigram-LM
    loss in integer micro-nats → ONE det_exp softmax → bigint-rounded
    weight_ppm + target sample counts.  Every output column is an exact
    integer, so the row hashes identically on any engine build."""
    d = tables.load_spread(spark, sf_dir, "documents")
    return text.doremi_reweight(d, domain_col="source")


def _doremi_sql() -> str:
    return text.doremi_reweight_sql(domain_col="source")


BUDGET_TOTAL = 8000


def _q_budget_allocation(spark, sf_dir):
    """Capped mixture-budget allocation (sampling.budget_allocate —
    integer water-filling with Hamilton largest-remainder rounds) over
    the DoReMi domain weights, capped by each domain's actual supply:
    the step that turns mixture WEIGHTS into an executable sampling
    plan (naive w·N targets overshoot small domains).  All integers."""
    from geodesk_spark.operators import sampling

    d = tables.load_spread(spark, sf_dir, "documents")
    dom = text.doremi_reweight(d, domain_col="source").select(
        "domain", "weight_ppm", F.col("n_docs").alias("cap")
    )
    return sampling.budget_allocate(dom, total=BUDGET_TOTAL)


def _budget_allocation_sql() -> str:
    from geodesk_spark.operators import sampling

    rel = (
        f"(select domain, weight_ppm, n_docs as cap from "
        f"({text.doremi_reweight_sql(domain_col='source')}) dz)"
    )
    return sampling.budget_allocate_sql(rel, total=BUDGET_TOTAL)


def _q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail quality split (text.ccnet_quality_buckets):
    one bigram LM PER LANGUAGE trained in a single keyed pass on the
    even-doc_id reference half, every doc scored under its own
    language's model, terciled per language by normalized NLL — the
    published per-lang perplexity-bucket pipeline end-to-end."""
    d = tables.load_spread(spark, sf_dir, "documents")
    return text.ccnet_quality_buckets(d, d.filter(F.col("doc_id") % 2 == 0))


def _ccnet_buckets_sql() -> str:
    return text.ccnet_quality_buckets_sql(
        model_rel="(select * from documents where doc_id % 2 = 0)"
    )


def _q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (text.dsir_importance): hashed-unigram
    importance weights toward the English subset, top-25% selected.
    Broadcast bucket histograms; one fact rollup; integer micro-nat
    weights so rank/selection are integer-exact across engines."""
    d = tables.load_spread(spark, sf_dir, "documents")
    return text.dsir_importance(d, d.filter(F.col("lang") == "en"))


def _dsir_select_sql() -> str:
    return text.dsir_importance_sql()


def _q_dedup_exact(spark, sf_dir):
    d = tables.load_spread(spark, sf_dir, "documents")
    return dedup.exact_dedup(d)


_SQL_DEDUP_EXACT = r"""
  select md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) as fp,
         min(doc_id) as canonical_id, count(*) as n_dups
  from documents group by 1
"""


_SQL_SHINGLES = r"""
  select doc_id,
         case when len(w) >= 3
              then list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
              else [array_to_string(w, ' ')] end as sh
  from (select doc_id,
               case when length(trim(text)) = 0 then []::varchar[]
                    else string_split_regex(trim(text), '\s+') end as w
        from documents)
"""


def _q_minhash_lsh(spark, sf_dir):
    d = tables.load_spread(spark, sf_dir, "documents")
    return dedup.lsh_candidate_pairs(d)


def _minhash_lsh_sql() -> str:
    # mirror dedup.shingle_hash_col / minhash_from_hashes: one 64-hex
    # hash per shingle, minwise over disjoint 8-char slices
    mh = ", ".join(
        f"list_min(list_transform(hh, h -> h[{1 + 8 * j}:{8 * j + 8}])) as mh{j}"
        for j in range(dedup.N_MINHASH)
    )
    band_selects = " union all ".join(
        f"select doc_id, md5('{b}|' || mh{b * dedup.LSH_ROWS} || '|' || mh{b * dedup.LSH_ROWS + 1}) as key from m"
        for b in range(dedup.LSH_BANDS)
    )
    return f"""
      with s as ({_SQL_SHINGLES}),
      sh2 as (select doc_id,
                     list_transform(sh, s -> md5(s) || md5('1|' || s)) as hh
              from s),
      m as (select doc_id, {mh} from sh2),
      bands as ({band_selects})
      select distinct a.doc_id as doc_a, b.doc_id as doc_b
      from bands a join bands b on a.key = b.key
      where a.doc_id < b.doc_id
    """


def _q_simhash(spark, sf_dir):
    d = tables.load_spread(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return dedup.simhash16(d)


def _simhash_sql() -> str:
    sums = ", ".join(
        f"sum((strpos('0123456789abcdef', substr(md5(tok), {b + 1}, 1)) - 1) % 2 * 2 - 1) as s{b}"
        for b in range(16)
    )
    bits = " + ".join(f"(case when s{b} > 0 then {1 << b} else 0 end)" for b in range(16))
    return rf"""
      with toks as (
        select doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) as tok
        from documents where length(trim(text)) > 0),
      sums as (select doc_id, {sums} from toks group by doc_id)
      select doc_id, cast({bits} as int) as simhash from sums
    """


JACCARD_DF_CAP = 50  # hot-shingle document-frequency cap (skew guard)


def _q_jaccard(spark, sf_dir):
    d = tables.load_spread(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, threshold=0.3, max_doc_freq=JACCARD_DF_CAP)


_SQL_JACCARD = f"""
  with s as ({_SQL_SHINGLES}),
  e0 as (select doc_id, unnest(list_distinct(sh)) as sh from s),
  hot as (select sh from e0 group by sh having count(*) > {JACCARD_DF_CAP}),
  e as (select * from e0 where sh not in (select sh from hot)),
  sizes as (select doc_id, count(*) as n_sh from e group by doc_id),
  inter as (
    select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_inter
    from e a join e b on a.sh = b.sh and a.doc_id < b.doc_id
    group by 1, 2)
  select doc_a, doc_b,
         floor((n_inter / (sa.n_sh + sb.n_sh - n_inter)) * 1e6 + 0.5) / 1e6 as jaccard
  from inter
  join sizes sa on sa.doc_id = doc_a
  join sizes sb on sb.doc_id = doc_b
  where floor((n_inter / (sa.n_sh + sb.n_sh - n_inter)) * 1e6 + 0.5) / 1e6 >= 0.3
"""


def _q_dedup_components(spark, sf_dir):
    """Duplicate-group resolution: connected components over the Jaccard
    near-dup pairs (dedup.connected_components — large/small-star
    contraction, O(log n) rounds).  The oracle computes the same
    components with a recursive CTE transitive closure (tiny graph at
    sf0.01)."""
    d = tables.load_spread(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, threshold=0.3, max_doc_freq=JACCARD_DF_CAP)
    return dedup.connected_components(pairs).orderBy("doc_id")


_SQL_DEDUP_COMPONENTS_TEMPLATE = """
  with recursive pairs as ({jacc}),
  edges as (
    select doc_a as a, doc_b as b from pairs
    union
    select doc_b as a, doc_a as b from pairs),
  reach(s, t) as (
    select a, a from edges
    union
    select r.s, e.b from reach r join edges e on r.t = e.a)
  select s as doc_id, min(t) as comp_id
  from reach group by s order by doc_id
"""


def _dedup_components_sql() -> str:
    return _SQL_DEDUP_COMPONENTS_TEMPLATE.format(jacc=_SQL_JACCARD)


def _q_leakage_split(spark, sf_dir):
    """Leakage-safe split assignment (sampling.leakage_safe_split):
    near-dup components from the Jaccard pipeline hash AS GROUPS into
    train/val/test, so no duplicate pair straddles a split — the Lee
    et al. decontamination protocol as one left join + codegen."""
    from geodesk_spark.operators import sampling

    d = tables.load_spread(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, threshold=0.3, max_doc_freq=JACCARD_DF_CAP)
    comp = dedup.connected_components(pairs)
    return sampling.leakage_safe_split(d.select("doc_id"), comp)


def _leakage_split_sql() -> str:
    from geodesk_spark.operators import sampling

    comps = _SQL_DEDUP_COMPONENTS_TEMPLATE.format(jacc=_SQL_JACCARD)
    return sampling.leakage_safe_split_sql(
        "select doc_id from documents", comps
    )


def _q_embedding_neardup(spark, sf_dir):
    e = tables.load_spread(spark, sf_dir, "embeddings")
    return dedup.embedding_neardup_pairs(e, threshold=0.40, sign_dims=4)


def _embedding_neardup_sql() -> str:
    """Mirrors the MULTI-TABLE sign-LSH blocking (8 tables × 4 dims):
    candidates share a bucket in ANY table — an OR of the per-table
    bucket equalities (fine for the oracle; Spark uses explode +
    equi-join for the same semantics at scale)."""
    n_tables, sign_dims = 8, 4

    def bkt(t):
        return " + ".join(
            f"(case when e[{t * sign_dims + i + 1}] >= 0 then {1 << i} else 0 end)"
            for i in range(sign_dims)
        )

    bkts = ", ".join(f"({bkt(t)}) as b{t}" for t in range(n_tables))
    any_shared = " or ".join(f"a.b{t} = b.b{t}" for t in range(n_tables))
    return f"""
      with base as (
        select vec_id as id, embedding as e,
               sqrt(list_sum(list_transform(embedding,
                    x -> cast(x as double) * cast(x as double)))) as nrm
        from embeddings),
      wb as (select *, {bkts} from base),
      p as (
        select a.id as id_a, b.id as id_b,
               floor(list_sum(list_transform(range(1, len(a.e) + 1),
                     i -> cast(a.e[i] as double) * cast(b.e[i] as double)))
                     / (a.nrm * b.nrm) * 1e6 + 0.5) / 1e6 as cosine
        from wb a join wb b on ({any_shared}) and a.id < b.id)
      select id_a, id_b, cosine from p where cosine >= 0.40
    """


def _q_ann_cosine(spark, sf_dir):
    e = tables.load_spread(spark, sf_dir, "embeddings")
    return ann.cosine_topk(e, ANN_QUERY_IDS, k=ANN_K)


def _ann_sql() -> str:
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return f"""
      with q as (select vec_id as qid, embedding as qe from embeddings where vec_id in ({ids})),
      d as (
        select q.qid as query_id, e.vec_id,
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                        i -> cast(e.embedding[i] as double) * cast(q.qe[i] as double)))
               / (sqrt(list_sum(list_transform(e.embedding, x -> cast(x as double) * cast(x as double))))
                  * sqrt(list_sum(list_transform(q.qe, x -> cast(x as double) * cast(x as double))))) as score
        from embeddings e cross join q
        where e.vec_id <> q.qid)
      select query_id, vec_id, cast(rank as int) as rank from (
        select query_id, vec_id,
               row_number() over (partition by query_id order by score desc, vec_id asc) as rank
        from d) where rank <= {ANN_K}
    """


def _q_ann_lsh(spark, sf_dir):
    e = tables.load_spread(spark, sf_dir, "embeddings")
    return ann.lsh_topk(e, ANN_QUERY_IDS, k=ANN_K).select("query_id", "vec_id", "rank")


def _ann_lsh_sql() -> str:
    """Full oracle for the hyperplane-LSH top-k (was rows-only): the
    deterministic plane matrix embeds as SQL literals, buckets are the
    packed dot-product signs, the multi-probe is exactly Hamming ≤ 1 on
    bucket ids (bit_count(xor)), and candidates re-rank by cosine — the
    same candidate set and ordering the Spark kernel produces, derived
    independently in SQL."""
    from geodesk_spark.operators.ann import _hyperplanes

    n_planes = 12
    H = _hyperplanes(64, n_planes, 42)
    planes = ", ".join(
        f"({p}, [{', '.join(repr(float(v)) for v in H[p])}])" for p in range(n_planes)
    )
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return f"""
      with planes(p, pv) as (values {planes}),
      base as (
        select vec_id, embedding as e,
               sqrt(list_sum(list_transform(embedding,
                    x -> cast(x as double) * cast(x as double)))) as nrm
        from embeddings),
      bkt as (
        select b.vec_id, any_value(b.e) as e, any_value(b.nrm) as nrm,
               sum(case when list_sum(list_transform(range(1, len(b.e) + 1),
                        i -> cast(b.e[i] as double) * pl.pv[i])) > 0
                   then cast(1 as bigint) << pl.p else 0 end) as bucket
        from base b cross join planes pl
        group by b.vec_id),
      q as (select vec_id as qid, e as qe, bucket as qb from bkt where vec_id in ({ids})),
      cand as (
        select q.qid as query_id, v.vec_id,
               list_sum(list_transform(range(1, len(v.e) + 1),
                    i -> cast(v.e[i] as double) * cast(q.qe[i] as double))) / v.nrm as score
        from q join bkt v
          on bit_count(xor(v.bucket, q.qb)) <= 1 and v.vec_id <> q.qid)
      select query_id, vec_id, cast(rank as int) as rank from (
        select query_id, vec_id,
               row_number() over (partition by query_id
                   order by score desc, vec_id asc) as rank
        from cand) where rank <= {ANN_K}
    """




def _q_repetition(spark, sf_dir):
    """Gopher-style duplicate-trigram repetition ratio per document
    (operators/text.repetition_stats) — the boilerplate/spam signal in
    the curation filter chain; all JVM higher-order functions."""
    d = tables.load_spread(spark, sf_dir, "documents")
    return text.repetition_stats(d, n=3)


def _repetition_sql() -> str:
    return text.repetition_stats_sql("documents", n=3)


def _q_substring_spans(spark, sf_dir):
    """Cross-document exact-substring duplication stats
    (dedup.substring_span_stats): per doc, how many of its 8-token
    rolling windows appear verbatim in >=2 distinct docs -- the
    fixed-window re-expression of suffix-array substring dedup (Lee et
    al. 2022).  One explode -> one window shuffle keyed by md5 span ->
    one per-doc agg; all JVM."""
    d = tables.load_spread(spark, sf_dir, "documents")
    return dedup.substring_span_stats(d, k=8)


def _substring_spans_sql() -> str:
    return dedup.substring_span_stats_sql("documents", k=8)


def _q_remove_spans(spark, sf_dir):
    """Cross-document exact-substring REMOVAL (dedup.remove_dup_spans):
    the second half of the Lee et al. 2022 recipe — keep one canonical
    occurrence of every duplicated 8-token span, cut the rest, emit the
    cleaned text.  Same one-window-shuffle span frame as the stats op
    plus a per-doc JVM coverage fold; exact string output."""
    d = tables.load_spread(spark, sf_dir, "documents")
    return dedup.remove_dup_spans(d, k=8)


def _remove_spans_sql() -> str:
    return dedup.remove_dup_spans_sql("documents", k=8)


# --- Corpus-cleaning family (operators/textclean.py) -------------------------
#
# The sf documents are single-line word soup, so these queries enrich them
# DETERMINISTICALLY into multi-line docs with injected PII / boilerplate —
# the same construction on both engines (regex word-grouping into lines +
# id-derived footers), so the oracle still exercises the real operators on
# structured text.  Sentence punctuation comes from word-level rewrites
# ('value' → 'value.', 'table' → 'table?') so some lines end terminally.


def _curated_docs(spark, sf_dir, words_per_line: int):
    from geodesk_spark.operators import textclean  # noqa: F401 (family home)

    d = tables.load_spread(spark, sf_dir, "documents")
    t = F.col("text")
    t = F.regexp_replace(t, r"\bvalue\b", "value.")
    t = F.regexp_replace(t, r"\btable\b", "table?")
    t = F.regexp_replace(t, rf"((?:\S+ ){{{words_per_line - 1}}}\S+) ", "$1\n")
    footer = F.concat(
        F.lit("\ncontact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" at 10.2."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 now."),
    )
    t = F.when(F.col("doc_id") % 3 == 0, F.concat(t, footer)).otherwise(t)
    t = F.when(
        F.col("doc_id") % 11 == 0, F.concat(t, F.lit("\nlorem ipsum dolor sit amet."))
    ).otherwise(t)
    return d.select("doc_id", t.alias("text"))


def _curated_docs_cte(words_per_line: int) -> str:
    """The DuckDB twin of _curated_docs as a CTE body named fx(doc_id, text)."""
    return f"""
      fx as (
        select doc_id,
               (case when doc_id % 11 = 0
                     then base || chr(10) || 'lorem ipsum dolor sit amet.'
                     else base end) as text
        from (
          select doc_id,
                 (case when doc_id % 3 = 0
                       then lined || chr(10) || 'contact user' || cast(doc_id as varchar)
                            || '@mail.example.com or 555-'
                            || lpad(cast(doc_id % 10000 as varchar), 4, '0')
                            || ' at 10.2.' || cast(doc_id % 256 as varchar) || '.7 now.'
                       else lined end) as base
          from (
            select doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text, '\\bvalue\\b', 'value.', 'g'),
                       '\\btable\\b', 'table?', 'g'),
                     '((?:\\S+ ){{{words_per_line - 1}}}\\S+) ', '\\1' || chr(10), 'g') as lined
            from documents)))
    """


def _with_fixture(cte: str, inner: str) -> str:
    """Splice the fx fixture CTE into an oracle that itself starts with
    WITH: `with A…` → `with fx as (…), A…`."""
    i = inner.index("with ")
    return "with " + cte + "," + inner[i + len("with ") :]


def _q_pii_scrub(spark, sf_dir):
    """PII wash (textclean.pii_scrub): sequential count-then-redact of
    emails → IPv4s → phone numbers over the line-enriched corpus; pure
    JVM regexp codegen, no shuffle."""
    from geodesk_spark.operators import textclean

    return textclean.pii_scrub(_curated_docs(spark, sf_dir, 6))


def _pii_scrub_sql() -> str:
    from geodesk_spark.operators import textclean

    return _with_fixture(_curated_docs_cte(6), textclean.pii_scrub_sql("fx"))


def _q_c4_lines(spark, sf_dir):
    """C4 line-level cleaning rules (textclean.c4_line_filter): terminal
    punctuation + min-words + blocklist over the enriched corpus."""
    from geodesk_spark.operators import textclean

    return textclean.c4_line_filter(_curated_docs(spark, sf_dir, 6), min_words=3)


def _c4_lines_sql() -> str:
    from geodesk_spark.operators import textclean

    return _with_fixture(_curated_docs_cte(6), textclean.c4_line_filter_sql("fx", min_words=3))


def _q_dupline_stats(spark, sf_dir):
    """Gopher duplicate-line fractions (textclean.dupline_stats) over
    2-word lines (short lines ⇒ natural within-doc duplicates)."""
    from geodesk_spark.operators import textclean

    return textclean.dupline_stats(_curated_docs(spark, sf_dir, 2))


def _dupline_stats_sql() -> str:
    from geodesk_spark.operators import textclean

    return _with_fixture(_curated_docs_cte(2), textclean.dupline_stats_sql("fx"))


def _q_bpe_train(spark, sf_dir):
    """FULL BPE training (textclean.bpe_train): 12 merge rounds over the
    documents corpus — the corpus is scanned ONCE into a word-count
    vocab; every round runs on that bounded table (the real BPE scale
    shape).  Exact parity with a pure-Python Sennrich reference is
    pinned by test_textclean::test_bpe_train_matches_reference; since
    r5 the merge loop also has a full unrolled-CTE DuckDB oracle
    (textclean.bpe_train_sql — run-parity form of the greedy fold)."""
    from geodesk_spark.operators import textclean

    d = tables.load_spread(spark, sf_dir, "documents")
    merges, _ = textclean.bpe_train(d, n_merges=12)
    return merges.orderBy("rank")


def _bpe_train_sql() -> str:
    from geodesk_spark.operators import textclean

    return textclean.bpe_train_sql("documents", n_merges=12)


def _q_gopher_quality(spark, sf_dir):
    """Gopher document-level quality rules (textclean.gopher_quality_filter)
    over the line-enriched corpus, further decorated with bullet lines
    (doc_id%7) and ellipsis endings (doc_id%5) so every rule exercises —
    decorations built identically on both engines."""
    from geodesk_spark.operators import textclean

    d = _curated_docs(spark, sf_dir, 6)
    t = F.col("text")
    t = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(t, F.lit("\n- alpha item\n* beta item\n- gamma item")),
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 5 == 0, F.concat(t, F.lit("\nthe story continues...\nmore soon…"))
    ).otherwise(t)
    return textclean.gopher_quality_filter(
        d.select("doc_id", t.alias("text")), min_words=20
    )


def _gopher_quality_sql() -> str:
    from geodesk_spark.operators import textclean

    deco = """
      gx as (
        select doc_id,
               (case when doc_id % 5 = 0
                     then t2 || chr(10) || 'the story continues...' || chr(10) || 'more soon…'
                     else t2 end) as text
        from (
          select doc_id,
                 (case when doc_id % 7 = 0
                       then text || chr(10) || '- alpha item' || chr(10) || '* beta item'
                            || chr(10) || '- gamma item'
                       else text end) as t2
          from fx))
    """
    inner = textclean.gopher_quality_filter_sql("gx", min_words=20)
    return _with_fixture(_curated_docs_cte(6) + "," + deco, inner)


def _q_bpe_pairs(spark, sf_dir):
    """First BPE merge iteration (textclean.bpe_pair_stats): corpus-wide
    adjacent-char-pair counts, top-30 — the canonical word-count plan
    (map-side partial agg; the shuffle carries only distinct pairs)."""
    from geodesk_spark.operators import textclean

    d = tables.load_spread(spark, sf_dir, "documents")
    return textclean.bpe_pair_stats(d, k=30)


def _bpe_pairs_sql() -> str:
    from geodesk_spark.operators import textclean

    return textclean.bpe_pair_stats_sql("documents", k=30)
