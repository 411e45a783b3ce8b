"""Driver-contract query builders; registry.py assembles them into QUERIES."""

from __future__ import annotations

from geodesk_spark.driver_queries.common import (
    ANN_K,
    ANN_QUERY_IDS,
    F,
    _part_features,
    ann,
    tables,
)

def _q_goql_regex(spark, sf_dir):
    """GOQL regex clauses ~ / !~ (MatcherParser.java:76-77): Java
    Pattern.matches() full-match semantics."""
    from geodesk_spark.goql import compile_goql

    feats = _part_features(spark, sf_dir)
    return feats.filter(compile_goql('*[type~"STANDARD.*"][brand!~".*#1[0-9]"]')).select(
        F.col("p_partkey").alias("key")
    )


_SQL_GOQL_REGEX = """
  select p_partkey as key from part
  where regexp_full_match(p_type, 'STANDARD.*')
    and not regexp_full_match(p_brand, '.*#1[0-9]')
"""


def _q_ann_ivf(spark, sf_dir):
    e = tables.load_spread(spark, sf_dir, "embeddings")
    return ann.ivf_topk(e, ANN_QUERY_IDS, k=ANN_K, nprobe=8).select("query_id", "vec_id", "rank")


def _q_ann_ivfpq(spark, sf_dir):
    """IVF-PQ composite (ann.ivfpq_topk — the FAISS IVFPQ shape): coarse
    lists restrict the probe, ADC over PQ codes estimates distances;
    the (cent, codes) table is the stored billion-scale index.  Oracle
    unrolls BOTH trainers in SQL (ann.ivfpq_topk_sql)."""
    e = tables.load_spread(spark, sf_dir, "embeddings")
    return ann.ivfpq_topk(e, ANN_QUERY_IDS, k=ANN_K, nprobe=4)


def _ann_ivfpq_sql() -> str:
    return ann.ivfpq_topk_sql(ANN_QUERY_IDS, k=ANN_K, nprobe=4)


def _q_ann_pq(spark, sf_dir):
    """Product-quantization ANN (ADC scoring over JVM-encoded sub-codes);
    rank-only output, oracle = the same deterministic trainer unrolled in
    SQL (see ann.pq_topk_sql)."""
    e = tables.load_spread(spark, sf_dir, "embeddings")
    return ann.pq_topk(e, ANN_QUERY_IDS, k=ANN_K)


def _ann_ivf_sql(n_centroids: int = 16, iters: int = 3, sample: int = 2048, nprobe: int = 8) -> str:
    """Full oracle for the IVF top-k (was rows-only): the codebook trainer
    itself — `ann.ivf_centroids`'s deterministic Lloyd iterations on the
    vec_id%13 sample with evenly-spaced init — is unrolled as chained SQL
    CTEs (assign = row_number over dot desc with argmax's lowest-index
    tie-break; element-wise cluster means via zipped unnest; empty
    clusters keep their previous centroid), then the probe path mirrors
    `ann.ivf_topk` op-for-op: per-query top-nprobe centroid lists, every
    vector assigned to its argmax centroid, exact cosine re-rank inside
    the probed lists.  Derived independently of the numpy kernel — only
    the algorithm definition is shared."""
    dot = lambda a, b: (
        f"list_sum(list_transform(range(1, len({a}) + 1), j -> {a}[j] * {b}[j]))"
    )
    iters_sql = ""
    prev = "c0"
    for i in range(1, iters + 1):
        iters_sql += f"""
      a{i} as (
        select rn, v, c from (
          select s.rn, s.v, c.c,
                 row_number() over (partition by s.rn
                     order by {dot('s.v', 'c.v')} desc, c.c asc) as rk
          from sv s cross join {prev} c) where rk = 1),
      m{i} as (
        select c, list(mv order by j) as mv from (
          select c, j, avg(vj) as mv from (
            select c, unnest(range(1, len(v) + 1)) as j, unnest(v) as vj
            from a{i}) group by c, j) group by c),
      c{i} as (
        select p.c,
               case when m.c is null then p.v
                    else list_transform(m.mv, x -> x / greatest(
                         sqrt(list_sum(list_transform(m.mv, y -> y * y))), 1e-12))
               end as v
        from {prev} p left join m{i} m on m.c = p.c),"""
        prev = f"c{i}"
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return f"""
      with samp as (
        select row_number() over (order by vec_id) - 1 as rn, embedding as e
        from embeddings where vec_id % 13 = 0 order by vec_id limit {sample}),
      st as (select greatest(1, count(*) // {n_centroids}) as s from samp),
      sv as (
        select rn, list_transform(e, x -> cast(x as double) / greatest(
               sqrt(list_sum(list_transform(e, y -> cast(y as double) * cast(y as double)))),
               1e-12)) as v
        from samp),
      c0 as (
        select cast(rn // st.s as int) as c, v from sv, st
        where rn % st.s = 0 and rn // st.s < {n_centroids}),{iters_sql}
      q as (
        select vec_id as qid,
               list_transform(embedding, x -> cast(x as double) /
                   sqrt(list_sum(list_transform(embedding,
                        y -> cast(y as double) * cast(y as double))))) as qv
        from embeddings where vec_id in ({ids})),
      probe as (
        select qid, c from (
          select q.qid, c.c,
                 row_number() over (partition by q.qid
                     order by {dot('c.v', 'q.qv')} desc, c.c asc) as rk
          from q cross join {prev} c) where rk <= {nprobe}),
      allv as (
        select vec_id,
               list_transform(embedding, x -> cast(x as double) /
                   (case when nrm = 0 then 1.0 else nrm end)) as v
        from (select vec_id, embedding,
                     sqrt(list_sum(list_transform(embedding,
                          y -> cast(y as double) * cast(y as double)))) as nrm
              from embeddings)),
      vassign as (
        select vec_id, v, c from (
          select a.vec_id, a.v, c.c,
                 row_number() over (partition by a.vec_id
                     order by {dot('a.v', 'c.v')} desc, c.c asc) as rk
          from allv a cross join {prev} c) where rk = 1),
      cand as (
        select q.qid as query_id, a.vec_id, {dot('a.v', 'q.qv')} as score
        from q join probe p on p.qid = q.qid
        join vassign a on a.c = p.c and a.vec_id <> q.qid)
      select query_id, vec_id, cast(rank as int) as rank from (
        select query_id, vec_id,
               row_number() over (partition by query_id
                   order by score desc, vec_id asc) as rank
        from cand) where rank <= {ANN_K}
    """


def _kmeans_assign_sql(n_centroids: int = 16, iters: int = 3, sample: int = 2048) -> str:
    """Oracle for kmeans_assign: reuses the IVF trainer + assignment CTEs
    verbatim (same algorithm definition) and stops at the per-vector
    argmax — cluster id + size per cluster."""
    full = _ann_ivf_sql(n_centroids=n_centroids, iters=iters, sample=sample)
    head = full.split("cand as (")[0].rstrip().rstrip(",")
    return f"""{head}
      select c as cluster, count(*) as n_vecs, min(vec_id) as min_vec_id
      from vassign group by c
    """


def _q_kmeans_assign(spark, sf_dir):
    """Full-corpus k-means clustering (the data-curation stage: cluster
    the embedding table with the deterministic IVF codebook, report the
    cluster census).  Assignment is the same normalized-argmax scan the
    IVF probe path uses -- one Arrow pass, codebook broadcast."""
    e = tables.load_spread(spark, sf_dir, "embeddings")
    return (
        ann.kmeans_assign(e)
        .groupBy("cluster")
        .agg(F.count("*").alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
    )




def _q_medoid(spark, sf_dir):
    """Cluster exemplar selection (ann.medoid_per_label): the member
    vector with the highest total quantized cosine to its label group --
    pair cosines floor-form quantized to 1e-6 FIRST, then summed as
    exact integers, so the argmax is bit-deterministic."""
    e = tables.load_spread(spark, sf_dir, "embeddings")
    return ann.medoid_per_label(e)


def _medoid_sql() -> str:
    return ann.medoid_per_label_sql("embeddings")


DBSCAN_EPS = 1 << 25


DBSCAN_MIN_PTS = 6


def _q_dbscan(spark, sf_dir):
    """Exact DBSCAN (clustering.dbscan) over the derived order points:
    cell-blocked eps-join, int64 distance test, core/border/noise with
    the deterministic min-core-id labeling.  eps 2^25 / min_pts 6 gives
    all three point classes at sf0.01 (core ~2.2k, border ~1.3k, noise
    ~11.5k over 15k points)."""
    from geodesk_spark.driver_queries.common import _derived_orders
    from geodesk_spark.operators import clustering

    df = _derived_orders(spark, sf_dir)
    return clustering.dbscan(
        df, eps=DBSCAN_EPS, min_pts=DBSCAN_MIN_PTS, id_col="o_orderkey"
    )


def _dbscan_sql() -> str:
    """Exact mirror: same cell blocking (correctness-preserving, so the
    oracle may share it), neighbor counts, core rule, then TRUE
    transitive closure by recursive CTE (no iteration cap — which is
    what makes the green row prove the Spark side CONVERGED) and the
    same min-label border rule."""
    from geodesk_spark.driver_queries.common import _DERIVED_SQL

    eps, mp = DBSCAN_EPS, DBSCAN_MIN_PTS
    cell = 1 << max((eps - 1).bit_length(), 1)
    return f"""
      with recursive pts as ({_DERIVED_SQL}),
      b as (select o_orderkey as id, cast(x as bigint) as x, cast(y as bigint) as y,
                   (cast(x as bigint) + 2147483648) // {cell} as cx,
                   (cast(y as bigint) + 2147483648) // {cell} as cy
            from pts),
      offs(dx, dy) as (values (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)),
      probe as (select id, x, y, cx + dx as cx, cy + dy as cy from b cross join offs),
      cand as (select p.id as id_a, q.id as id_b
               from probe p join b q on p.cx = q.cx and p.cy = q.cy and p.id <> q.id
               where (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) <= {eps * eps}),
      nbr as (select id_a as id, count(*) as n from cand group by 1),
      core as (select b.id from b left join nbr on b.id = nbr.id
               where coalesce(nbr.n, 0) + 1 >= {mp}),
      ce as (select c.id_a as a, c.id_b as b from cand c
             where c.id_a in (select id from core)
               and c.id_b in (select id from core)),
      reach(s, t) as (
        select id, id from core
        union
        select r.s, e.b from reach r join ce e on r.t = e.a),
      clab as (select s as id, min(t) as label from reach group by s),
      border as (select c.id_a as id, min(cl.label) as label
                 from cand c join clab cl on c.id_b = cl.id
                 where c.id_a not in (select id from core)
                 group by 1)
      select b.id, cast(coalesce(cl.label, bo.label, -1) as bigint) as label,
             cast(cl.id is not null as int) as is_core
      from b
      left join clab cl on b.id = cl.id
      left join border bo on b.id = bo.id
    """


KCENTER_K = 6


def _q_kcenter(spark, sf_dir):
    """Diversity coreset (ann.kcenter_select): greedy farthest-point
    k-center over the embedding table -- the maximally-spread k
    exemplars, the curation dual of medoid_per_label's most-central
    pick.  Bit-deterministic via floor-form 1e-6 quantized cosine."""
    e = tables.load_spread(spark, sf_dir, "embeddings")
    return ann.kcenter_select(e, k=KCENTER_K)


def _kcenter_sql() -> str:
    return ann.kcenter_sql("embeddings", k=KCENTER_K)


MEDOID_GRID_BITS = 6


def _q_geo_medoid(spark, sf_dir):
    """Canonical capture-site selection (clustering.geo_medoid_per_group):
    one REAL representative point per z6 cell of the derived orders --
    exact decimal-integer d2 sums, md5-capped groups, min-id ties."""
    from geodesk_spark.driver_queries.common import _derived_orders
    from geodesk_spark.operators import clustering

    df = _derived_orders(spark, sf_dir)
    sub = 32 - MEDOID_GRID_BITS
    side = 1 << MEDOID_GRID_BITS
    pts = df.select(
        (
            F.shiftright(F.col("x").cast("bigint") + (1 << 31), sub) * side
            + F.shiftright(F.lit((1 << 31) - 1) - F.col("y").cast("bigint"), sub)
        ).alias("gid"),
        F.col("o_orderkey").alias("id"),
        "x",
        "y",
    )
    return clustering.geo_medoid_per_group(pts)


def _geo_medoid_sql() -> str:
    from geodesk_spark.driver_queries.common import _DERIVED_SQL

    sub = 1 << (32 - MEDOID_GRID_BITS)
    side = 1 << MEDOID_GRID_BITS
    return f"""
      with pts as ({_DERIVED_SQL}),
      d as (select cast(floor((x + 2147483648) / {sub}) as bigint) * {side}
                     + cast(floor((2147483647 - y) / {sub}) as bigint) as gid,
                   o_orderkey as id, x, y
            from pts),
      rk as (select *, row_number() over (partition by gid
                       order by md5(cast(id as varchar)), id) as r from d),
      c as (select gid, id, x, y from rk where r <= 256),
      s as (select a.gid, a.id,
                   sum(cast(a.x - b.x as hugeint) * (a.x - b.x)
                     + cast(a.y - b.y as hugeint) * (a.y - b.y)) as s
            from c a join c b on a.gid = b.gid group by 1, 2),
      best as (select gid, id from (
                 select gid, id, row_number() over (partition by gid
                        order by s asc, id asc) as r from s) where r = 1),
      n as (select gid, count(*) as n_members from d group by 1)
      select b.gid, b.id as medoid_id, n.n_members
      from best b join n using (gid)
    """


def _q_pca_project(spark, sf_dir):
    """All-integer PCA projection (ann.pca_project): exact integer
    Gram → fixed-point power iteration with exact Gram–Schmidt
    deflation (driver-side Python bigints) → integer scores; the
    oracle replays the SAME iteration as hugeint CTEs, so the green
    row proves the trainer end-to-end (the IVF-trainer discipline).
    No float exists anywhere in the pipeline."""
    from geodesk_spark.operators import ann as ann_mod

    emb = tables.load_spread(spark, sf_dir, "embeddings")
    return ann_mod.pca_project(emb)


def _pca_project_sql() -> str:
    from geodesk_spark.operators import ann as ann_mod

    return ann_mod.pca_project_sql()


def _q_semdedup(spark, sf_dir):
    """SemDeDup (ann.semdedup_prune): deterministic-Lloyd cluster the
    embedding table, prune every vector with a smaller-id cluster-mate
    at quantized cosine >= 0.40 (the corpus's near-dup threshold
    convention) -- semantic near-duplicates lexical dedup cannot see.
    Integer-1e-6 threshold compare on both engines."""
    e = tables.load_spread(spark, sf_dir, "embeddings")
    return ann.semdedup_prune(e, threshold=0.40)


def _semdedup_sql() -> str:
    return ann.semdedup_sql("embeddings", threshold=0.40)


def _q_ann_sq8(spark, sf_dir):
    """Scalar-int8-quantized ANN (ann.sq8_topk): per-vector max-abs/127
    scale, floor-form codes, INTEGER dot/norm scoring — the 4× smaller
    stored index.  Pure JVM columns end to end (encode is a higher-order
    projection, scoring a broadcast NLJ + folds); oracle =
    the identical encode+score arithmetic in SQL, bit-exact because
    every intermediate is an exact integer (ann.sq8_topk_sql).
    Measured recall@5 vs float brute force: tests/test_ann.py."""
    e = tables.load_spread(spark, sf_dir, "embeddings")
    return ann.sq8_topk(e, ANN_QUERY_IDS, k=ANN_K)


def _ann_sq8_sql() -> str:
    return ann.sq8_topk_sql(ANN_QUERY_IDS, k=ANN_K)


def _q_hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining (crossmodal.hard_negatives):
    per query, the k most-cosine-similar DIFFERENT-label vectors —
    the CLIP/InfoNCE negatives-selection step.  Broadcast query set,
    JVM folds, one rank-window shuffle; cos6 floor-form output."""
    from geodesk_spark.operators import crossmodal

    e = tables.load_spread(spark, sf_dir, "embeddings")
    return crossmodal.hard_negatives(e, ANN_QUERY_IDS, k=ANN_K)


def _hard_negatives_sql() -> str:
    from geodesk_spark.operators import crossmodal

    return crossmodal.hard_negatives_sql(ANN_QUERY_IDS, k=ANN_K)


def _q_ann_recall_eval(spark, sf_dir):
    """Distributed index-quality grading (ann.retrieval_eval): the IVF
    index's top-k graded per query against the exact cosine top-k —
    recall@k numerator + first-hit rank as exact integers.  Oracle
    composes the IVF trainer-CTE oracle and the brute-cosine oracle
    verbatim, so a green row proves index, scorer AND grader at once."""
    e = tables.load_spread(spark, sf_dir, "embeddings")
    pred = ann.ivf_topk(e, ANN_QUERY_IDS, k=ANN_K, nprobe=8)
    truth = ann.cosine_topk(e, ANN_QUERY_IDS, k=ANN_K)
    return ann.retrieval_eval(pred, truth, k=ANN_K)


def _ann_recall_eval_sql() -> str:
    from geodesk_spark.driver_queries.features_goql import _ann_sql

    return ann.retrieval_eval_sql(_ann_ivf_sql(), _ann_sql(), k=ANN_K)


def _q_ann_two_stage(spark, sf_dir):
    """Two-stage retrieval (ann.two_stage_topk): SQ8 integer shortlist →
    exact float re-rank on candidates only — the production serving
    shape where the float vectors are touched for n_queries×shortlist
    rows instead of the corpus.  Oracle = the SQ8 CTE verbatim + the
    brute oracle's re-rank op order."""
    e = tables.load_spread(spark, sf_dir, "embeddings")
    return ann.two_stage_topk(e, ANN_QUERY_IDS, k=ANN_K, shortlist=32)


def _ann_two_stage_sql() -> str:
    return ann.two_stage_topk_sql(ANN_QUERY_IDS, k=ANN_K, shortlist=32)
