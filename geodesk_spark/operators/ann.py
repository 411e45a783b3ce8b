"""Similarity search over an embedding column (`embeddings(vec_id,
embedding array<float>, label)`).

Two families, each with one hot path:

- Cosine scans (``cosine_topk``, ``ivf_topk``, ``lsh_topk`` and
  ``crossmodal.hard_negatives_ivf``) share ONE Arrow kernel,
  :func:`_scan_topk`: per batch one numpy matmul of the unit rows
  against the unit queries (BLAS), then a per-query partial top-k over
  the rows the caller's candidate RULE admits — every row, the probed
  IVF lists, or the Hamming ≤ 1 LSH buckets.  Only (n_queries × k) rows
  per batch reach the final rank window.
- ADC scans (``pq_topk``, ``ivfpq_topk``) share ONE encoder,
  :func:`pq_encode`, and ONE scorer, :func:`_adc_topk`: JVM Column
  folds on the vector side, a broadcast per-query lookup table, no
  Python worker.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F


def _unit_rows(V: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm.  An all-zero row stays zero (its norm
    counts as 1): as a NaN row it would rank arbitrary neighbors first,
    since NaN sorts above every real double."""
    norms = np.linalg.norm(V, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return V / norms


def _nearest_list(Vn: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Each unit row's IVF list: the argmax-cosine centroid, ties to the
    lowest index (numpy argmax)."""
    return np.argmax(Vn @ C.T, axis=1)


def _query_vectors(
    df: DataFrame, query_ids: list[int], id_col: str = "vec_id", emb: str = "embedding"
) -> tuple[np.ndarray, list[int]]:
    """Fetch the raw (unnormalized) query embeddings, preserving the
    requested id order and failing loudly if nothing matched — the one
    shared fetch path for the cosine/IVF/LSH query side and PQ's
    raw-query variant."""
    rows = df.filter(F.col(id_col).isin([int(q) for q in query_ids])).select(id_col, emb).collect()
    got = {int(r[0]): np.asarray(r[1], dtype=np.float64) for r in rows}
    qids = [q for q in query_ids if q in got]
    if not qids:
        raise ValueError(f"none of query_ids {query_ids!r} exist in the table")
    return np.stack([got[q] for q in qids]), qids


def _query_matrix(
    df: DataFrame, query_ids: list[int], id_col: str = "vec_id", emb: str = "embedding"
) -> tuple[np.ndarray, list[int]]:
    Q, qids = _query_vectors(df, query_ids, id_col, emb)
    return _unit_rows(Q), qids


def _sample_matrix(df: DataFrame, sample: int) -> np.ndarray:
    """The shared deterministic trainer sample (fixed-id 1/13 filter,
    id-ordered, bounded): one fetch path for the IVF and PQ trainers."""
    rows = (
        df.select("vec_id", "embedding")
        .filter(F.col("vec_id") % 13 == 0)
        .orderBy("vec_id")
        .limit(sample)
        .collect()
    )
    return np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])


def _top_k(cand: DataFrame, k: int, score: Column, id_col: str = "vec_id") -> DataFrame:
    """The rank tail of every top-k here: ``rank`` = row_number per
    query_id over ``score`` (an ordered Column), ties to the smaller id,
    kept while rank <= k.  The window holds nothing else, so Spark cuts
    each query's candidates with a partial WindowGroupLimit before the
    shuffle."""
    w = Window.partitionBy("query_id").orderBy(score, F.col(id_col).asc())
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _scan_topk(
    df: DataFrame,
    Q: np.ndarray,
    qids: list[int],
    k: int,
    rule,
    aux,
    id_col: str = "vec_id",
    emb: str = "embedding",
    cols: tuple[str, ...] = (),
) -> DataFrame:
    """The one cosine top-k scan: (query_id, <id_col>, score, rank) for
    the k best-scoring rows of each unit query row of ``Q``.

    Per Arrow batch: the rows are scaled to unit norm (:func:`_unit_rows`)
    and scored against every query by ONE matmul ``Vn @ Q.T``; then
    ``rule(aux, pdf, V, Vn)`` — the caller's candidate rule, given the
    batch (``pdf`` also holds ``cols``) and its raw and unit rows —
    returns each query's row mask (n_queries × rows, or anything that
    broadcasts to it).  A query never matches its own id; each query
    keeps a partial top-k of its candidates, and :func:`_top_k` ranks
    the survivors by score desc, id asc.  ``aux`` travels in the one
    broadcast with the queries."""
    bc = df.sparkSession.sparkContext.broadcast((Q, np.asarray(qids, dtype=np.int64), aux))

    def scan(batches):
        Qm, qv, aux_v = bc.value
        for pdf in batches:
            V = np.stack(pdf[emb].to_numpy()).astype(np.float64)
            Vn = _unit_rows(V)
            ids = pdf[id_col].to_numpy()
            S = Vn @ Qm.T  # (rows, queries)
            keep = rule(aux_v, pdf, V, Vn) & (ids[None, :] != qv[:, None])
            out_q, out_v, out_s = [], [], []
            for j, qid in enumerate(qv):
                idx = np.flatnonzero(keep[j])
                take = min(k, len(idx))
                if take == 0:
                    continue
                part = idx[np.argpartition(-S[idx, j], take - 1)[:take]]
                out_q.append(np.full(take, qid))
                out_v.append(ids[part])
                out_s.append(S[part, j])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        id_col: np.concatenate(out_v),
                        "score": np.concatenate(out_s),
                    }
                )

    cand = df.select(id_col, emb, *cols).mapInPandas(
        scan, schema=f"query_id long, `{id_col}` long, score double"
    )
    return _top_k(cand, k, F.col("score").desc(), id_col)


def _every_row(aux, pdf, V, Vn):
    """Exact rule: every row is a candidate."""
    return True


def _probed_lists(aux, pdf, V, Vn):
    """IVF rule: rows whose list (:func:`_nearest_list` of the broadcast
    centroids) the query probes; ``aux`` = (centroids, probe mask)."""
    C, probed = aux
    return probed[:, _nearest_list(Vn, C)]


def _hamming1_buckets(aux, pdf, V, Vn):
    """LSH rule: rows whose bucket (:func:`_lsh_buckets` of the RAW rows,
    the with_lsh_bucket sign rule) is the query's or differs in one bit;
    ``aux`` = (hyperplanes, query buckets).  x = a ^ b has at most one
    bit set iff x & (x − 1) == 0."""
    H, qb = aux
    x = _lsh_buckets(V, H)[None, :] ^ qb[:, None]
    return (x & (x - 1)) == 0


def cosine_topk(df: DataFrame, query_ids: list[int], k: int = 5) -> DataFrame:
    """Exact cosine top-k: returns (query_id, vec_id, rank).

    Self-matches are excluded.  Ties broken by vec_id ascending so the
    result is fully deterministic (and oracle-comparable).
    """
    Q, qids = _query_matrix(df, query_ids)
    return _scan_topk(df, Q, qids, k, _every_row, None).select("query_id", "vec_id", "rank")


def ivf_centroids(df: DataFrame, n_centroids: int = 16, iters: int = 3, sample: int = 2048) -> np.ndarray:
    """Deterministic IVF codebook: k-means (Lloyd) on a fixed-id sample,
    seeded from evenly spaced sample rows — fully deterministic by
    construction (no RNG, hence no seed parameter).  Driver-side numpy
    on a tiny sample — the 10^12-scale path trains on a bounded sample
    too."""
    V = _sample_matrix(df, sample)
    V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    C = V[:: max(1, len(V) // n_centroids)][:n_centroids].copy()
    for _ in range(iters):
        assign = _nearest_list(V, C)
        for c in range(len(C)):
            members = V[assign == c]
            if len(members):
                m = members.mean(axis=0)
                C[c] = m / max(np.linalg.norm(m), 1e-12)
    return C


def _probe_lists(C: np.ndarray, Q: np.ndarray, nprobe: int) -> list[list[int]]:
    """Each unit query's ``nprobe`` nearest IVF lists.  The sort is
    STABLE, so ties go to the lowest list index (the oracles' `order by
    dot desc, c asc`)."""
    return [np.argsort(-(C @ q), kind="stable")[:nprobe].tolist() for q in Q]


def _probe_mask(C: np.ndarray, Q: np.ndarray, nprobe: int) -> np.ndarray:
    """:func:`_probe_lists` as a (queries × lists) bool mask."""
    mask = np.zeros((len(Q), len(C)), dtype=bool)
    for j, lists in enumerate(_probe_lists(C, Q, nprobe)):
        mask[j, lists] = True
    return mask


def ivf_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: vectors are assigned to their nearest
    centroid (one matmul per Arrow batch); each query scans only its
    ``nprobe`` closest inverted lists and re-ranks exactly inside them.

    At cluster scale the centroid id is a partition/cluster key, so a
    probe touches nprobe/n_centroids of the data; the codebook is tiny
    and broadcast.  Returns (query_id, vec_id, rank, score).

    Measured recall (near-uniform sf0.001 embeddings, IVF's hard case —
    no cluster structure): mean recall@10 = 0.79 at nprobe=8/16 (half
    the lists probed); pinned ≥0.6 by tests/test_ann.py::test_ivf_recall.
    """
    Q, qids = _query_matrix(df, query_ids)
    C = ivf_centroids(df, n_centroids=n_centroids)
    top = _scan_topk(df, Q, qids, k, _probed_lists, (C, _probe_mask(C, Q, nprobe)))
    return top.select("query_id", "vec_id", "rank", "score")


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic hyperplanes via splitmix64-seeded Gaussian."""
    rng = np.random.default_rng(seed)
    H = rng.standard_normal((n_planes, dim))
    return H / np.linalg.norm(H, axis=1, keepdims=True)


def _lsh_buckets(V: np.ndarray, H: np.ndarray) -> np.ndarray:
    """Each row's int64 LSH bucket: bit p set iff (V @ H.T)[:, p] > 0."""
    bits = (V @ H.T) > 0
    return bits.astype(np.int64) @ (np.int64(1) << np.arange(H.shape[0], dtype=np.int64))


def with_lsh_bucket(df: DataFrame, dim: int = 64, n_planes: int = 12, seed: int = 42) -> DataFrame:
    """Add an int LSH bucket column (sign bits against n_planes hyperplanes)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(_hyperplanes(dim, n_planes, seed))

    def buckets(batches):
        H = bc.value
        for pdf in batches:
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            out = pdf.copy()
            out["bucket"] = _lsh_buckets(V, H)
            yield out

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(list(df.schema.fields) + [StructField("bucket", LongType())])
    return df.mapInPandas(buckets, schema=schema)


def lsh_topk(df: DataFrame, query_ids: list[int], k: int = 5, n_planes: int = 12, seed: int = 42) -> DataFrame:
    """Approximate cosine top-k: candidates from the query's bucket and all
    Hamming-1 neighbor buckets, exact re-rank within candidates.  The
    buckets are computed inside the scan (the with_lsh_bucket rule), so
    the plan has one Python node.

    At 10^12 scale the bucket column is a partition/cluster key, so the
    candidate read touches (n_planes+1)/2^n_planes of the data.

    Measured recall (near-uniform sf0.001 embeddings): mean recall@10 =
    0.25 at n_planes=6 while scanning ~11% of the data (≈2.3× what a
    random scan of the same fraction recalls); pinned vs the random-scan
    bar by tests/test_ann.py::test_lsh_beats_random_scan.
    """
    Q, qids = _query_matrix(df, query_ids)
    H = _hyperplanes(Q.shape[1], n_planes, seed)
    top = _scan_topk(df, Q, qids, k, _hamming1_buckets, (H, _lsh_buckets(Q, H)))
    return top.select("query_id", "vec_id", "rank", "score")


# ----------------------------------------------------- product quantization


def pq_codebooks(
    df: DataFrame, m: int = 4, ksub: int = 8, iters: int = 3, sample: int = 2048
) -> np.ndarray:
    """Deterministic PQ codebooks, shape (m, ksub, dim/m): per-subspace
    Lloyd k-means on the same fixed-id bounded sample as ivf_centroids
    (evenly-spaced init, no RNG).  Driver-side numpy is fine here — the
    trainer output is DATA shared verbatim with the scoring path and
    the oracle, so only encode/score need cross-engine op-order care."""
    V = _sample_matrix(df, sample)
    d = V.shape[1]
    assert d % m == 0
    sub = d // m
    books = np.zeros((m, ksub, sub))
    for mi in range(m):
        S = V[:, mi * sub : (mi + 1) * sub]
        C = S[:: max(1, len(S) // ksub)][:ksub].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(ksub):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[mi] = C
    return books


def _subdist_col(emb: str, centroid: np.ndarray, offset: int) -> Column:
    """Left-assoc Σ (emb[offset+i] − cᵢ)² as a HIGHER-ORDER-FUNCTION
    fold, the :func:`_dot_fold_col` shape: the centroid enters as one
    constant-folded literal array, zip_with pairs it with
    slice(emb, offset+1, len(c)), and aggregate folds from 0.0 — the op
    ORDER every engine reproduces (0.0 + t₀² is t₀² bit for bit)."""
    cl = F.array(*[F.lit(float(v)) for v in centroid])
    diff = F.zip_with(
        F.slice(F.col(emb), offset + 1, len(centroid)), cl, lambda x, y: x.cast("double") - y
    )
    return F.aggregate(diff, F.lit(0.0), lambda a, t: a + t * t)


def pq_encode(df: DataFrame, books: np.ndarray, emb: str = "embedding") -> DataFrame:
    """Encode every vector to m sub-codes: the ``emb`` column is replaced
    by code0..code{m-1}, every other column passes through.  Per
    subspace, the distance array is materialized in its OWN Project
    (CollapseProject keeps a non-cheap expression used twice
    un-inlined), then argmin-with-lowest-index-tie =
    array_position(arr, array_min(arr)) − 1.  Pure Catalyst; the plan
    carries each distance fold exactly once instead of the ~9× a
    least()+CASE chain pays."""
    m, ksub, sub = books.shape
    keep = [c for c in df.columns if c != emb]
    darrs = df.select(
        *keep,
        *[
            F.array(*[_subdist_col(emb, books[mi, c], mi * sub) for c in range(ksub)]).alias(
                f"darr{mi}"
            )
            for mi in range(m)
        ],
    )
    return darrs.select(
        *keep,
        *[
            (F.array_position(F.col(f"darr{mi}"), F.array_min(F.col(f"darr{mi}"))) - 1)
            .cast("int")
            .alias(f"code{mi}")
            for mi in range(m)
        ],
    )


def _adc_luts(Qraw: np.ndarray, books: np.ndarray) -> np.ndarray:
    """ADC lookup tables, shape (queries, m, ksub): entry [j, mi, c] is
    Σ (q_i − c_i)² over subspace mi of raw query j, summed left to right
    (cumsum is sequential) — the order of the Spark fold and of the
    oracle's list_sum."""
    m, ksub, sub = books.shape
    T = Qraw.reshape(len(Qraw), m, 1, sub) - books[None]
    return np.cumsum(T * T, axis=3)[..., -1]


def _adc_topk(
    codes: DataFrame,
    qids: list[int],
    Qraw: np.ndarray,
    books: np.ndarray,
    k: int,
    probes: list[list[int]] | None = None,
) -> DataFrame:
    """The one ADC scorer: (query_id, vec_id, rank) for the k smallest
    Σ_mi lut_mi[code_mi] per query over the (vec_id, code0..) table
    ``codes``.  The queries arrive as ONE broadcast row each (an Arrow
    LocalRelation: query_id and m LUT arrays of ksub doubles, plus the
    query's probed lists when ``probes`` is given, which then admit
    only rows whose ``cent`` is probed); a self-match never counts.

    Rank-only output (the IVF-oracle precedent): scores order the
    candidates, but tiny trainer float diffs between numpy and the
    SQL-unrolled trainer must not enter the hash."""
    m = books.shape[0]
    luts = _adc_luts(Qraw, books)
    names = [f"lut{mi}" for mi in range(m)]
    q = pd.DataFrame({"query_id": qids, **{n: list(luts[:, mi]) for mi, n in enumerate(names)}})
    schema = "query_id long, " + ", ".join(f"{n} array<double>" for n in names)
    keep = F.col("vec_id") != F.col("query_id")
    if probes is not None:
        q["probes"] = probes
        schema += ", probes array<int>"
        keep = F.array_contains(F.col("probes"), F.col("cent")) & keep
    qdf = codes.sparkSession.createDataFrame(q, schema)
    score = None
    for mi in range(m):
        t = F.element_at(F.col(f"lut{mi}"), F.col(f"code{mi}") + 1)
        score = t if score is None else score + t
    cand = (
        codes.crossJoin(F.broadcast(qdf))
        .filter(keep)
        .select("query_id", "vec_id", score.alias("score"))
    )
    return _top_k(cand, k, F.col("score").asc()).select("query_id", "vec_id", "rank")


def pq_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    m: int = 4,
    ksub: int = 8,
) -> DataFrame:
    """Product-quantization ANN: encode every vector to m sub-codes
    (argmin centroid per subspace), score queries by asymmetric
    distance (ADC) — per-subspace lookup tables summed left-assoc —
    and take the top-k smallest approximate L2 per query.

    Scale shape: ONE scan encodes (JVM column expressions, no Python):
    the codebook enters the plan as m·ksub literal arrays of dim/m
    doubles, one per centroid, each folded against its slice of the
    vector by zip_with/aggregate — higher-order functions, so that
    projection runs interpreted, outside whole-stage codegen (unrolled
    into one subtraction term per element, the same codebook made the
    query's jobs ship 1.1-1.8 MiB task binaries).  The queries arrive
    as a BROADCAST LUT table (one row per query, m arrays of ksub
    doubles) cross-joined against the codes, and one bounded window
    does the ranking.  At 10^12
    vectors the codes table is the stored artifact (32× smaller than
    float32 at dim 64) and rebuilding LUTs per query batch is free —
    the standard billion-scale recipe.  Returns (query_id, vec_id,
    rank).  RAW query vectors (no normalization): ADC approximates L2
    in the raw space the codebooks were trained in.

    Measured recall (near-uniform sf0.001 embeddings, PQ's worst case):
    mean recall@10 = 0.09 at m=4/ksub=8 ≈ 4.4× a random scan of k
    candidates (0.02); pinned ≥3× random by tests/test_ann.py::test_pq_recall.
    """
    books = pq_codebooks(df, m=m, ksub=ksub)
    Qraw, qids = _query_vectors(df, query_ids)
    codes = pq_encode(df.select("vec_id", "embedding"), books)
    return _adc_topk(codes, qids, Qraw, books, k)


def pq_topk_sql(
    query_ids: list[int],
    k: int = 5,
    m: int = 4,
    ksub: int = 8,
    iters: int = 3,
    sample: int = 2048,
    dim: int = 64,
) -> str:
    """DATA-INDEPENDENT DuckDB twin of :func:`pq_topk`: the per-subspace
    Lloyd trainer (same vec_id%13 sample, evenly-spaced init, argmin
    assignment with lowest-index ties, element-wise means, empty
    clusters carry) unrolled as chained CTEs — the ivf-oracle pattern —
    then encode + ADC scoring, rank-only output."""
    sub = dim // m

    def l2(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, len({a}) + 1),"
            f" j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j])))"
        )

    parts = [
        f"""samp as (
        select row_number() over (order by vec_id) - 1 as rn, embedding as e
        from embeddings where vec_id % 13 = 0 order by vec_id limit {sample})""",
        f"st as (select greatest(1, count(*) // {ksub}) as s from samp)",
    ]
    for mi in range(m):
        lo, hi = mi * sub + 1, (mi + 1) * sub
        parts.append(
            f"sv{mi} as (select rn, list_transform(e[{lo}:{hi}],"
            f" x -> cast(x as double)) as v from samp)"
        )
        parts.append(
            f"""c{mi}_0 as (
            select cast(rn // st.s as int) as c, v from sv{mi}, st
            where rn % st.s = 0 and rn // st.s < {ksub})"""
        )
        prev = f"c{mi}_0"
        for i in range(1, iters + 1):
            parts.append(
                f"""a{mi}_{i} as (
                select rn, v, c from (
                  select s.rn, s.v, c.c,
                         row_number() over (partition by s.rn
                             order by {l2('s.v', 'c.v')} asc, c.c asc) as rk
                  from sv{mi} s cross join {prev} c) x where rk = 1)"""
            )
            parts.append(
                f"""m{mi}_{i} as (
                select c, list(mv order by j) as mv from (
                  select c, j, avg(vj) as mv from (
                    select c, unnest(range(1, len(v) + 1)) as j, unnest(v) as vj
                    from a{mi}_{i}) x group by c, j) y group by c)"""
            )
            parts.append(
                f"""c{mi}_{i} as (
                select p.c, case when m.c is null then p.v else m.mv end as v
                from {prev} p left join m{mi}_{i} m on m.c = p.c)"""
            )
            prev = f"c{mi}_{i}"
    # encode every vector: per-subspace argmin code
    code_joins = []
    for mi in range(m):
        lo, hi = mi * sub + 1, (mi + 1) * sub
        parts.append(
            f"av{mi} as (select vec_id, list_transform(embedding[{lo}:{hi}],"
            f" x -> cast(x as double)) as v from embeddings)"
        )
        parts.append(
            f"""code{mi} as (
            select vec_id, c as code, v from (
              select a.vec_id, a.v, c.c,
                     row_number() over (partition by a.vec_id
                         order by {l2('a.v', 'c.v')} asc, c.c asc) as rk
              from av{mi} a cross join c{mi}_{iters} c) x where rk = 1)"""
        )
        code_joins.append(f"code{mi}")
    ids = ", ".join(str(i) for i in query_ids)
    for mi in range(m):
        lo, hi = mi * sub + 1, (mi + 1) * sub
        parts.append(
            f"q{mi} as (select vec_id as qid, list_transform(embedding[{lo}:{hi}],"
            f" x -> cast(x as double)) as qv from embeddings"
            f" where vec_id in ({ids}))"
        )
    score = " + ".join(
        f"{l2(f'q{mi}.qv', f'cb{mi}.v')}" for mi in range(m)
    )
    cb_joins = " ".join(
        f"join c{mi}_{iters} cb{mi} on cb{mi}.c = code{mi}.code" for mi in range(m)
    )
    code_chain = "code0 " + " ".join(
        f"join code{mi} on code{mi}.vec_id = code0.vec_id" for mi in range(1, m)
    )
    q_chain = "q0 " + " ".join(
        f"join q{mi} on q{mi}.qid = q0.qid" for mi in range(1, m)
    )
    parts.append(
        f"""cand as (
        select q0.qid as query_id, code0.vec_id, {score} as score
        from {q_chain} cross join {code_chain} {cb_joins}
        where code0.vec_id <> q0.qid)"""
    )
    return (
        "with " + ",\n".join(parts) + f""",
      r as (select query_id, vec_id,
                   row_number() over (partition by query_id
                       order by score asc, vec_id asc) as rank
            from cand)
      select query_id, vec_id, cast(rank as int) as rank
      from r where rank <= {k}
    """
    )


def _dot_fold_col(emb: str, centroid: np.ndarray) -> Column:
    """Left-assoc Σ emb[i]·cᵢ as a HIGHER-ORDER-FUNCTION fold: the
    centroid enters as a constant-folded literal array and zip_with/
    aggregate run as one interpreted loop (higher-order functions stay
    outside whole-stage codegen), not 64 inlined terms — so 16 of these
    in one projection stay clear of janino's method-size/heap limits
    (the unrolled-expression form OOMed codegen).  aggregate folds left
    → the exact op ORDER of the SQL twin's sequential list_sum."""
    cl = F.array(*[F.lit(float(v)) for v in centroid])
    prod = F.zip_with(F.col(emb), cl, lambda x, y: x.cast("double") * y)
    return F.aggregate(prod, F.lit(0.0), lambda a, x: a + x)


def ivfpq_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 4,
    ksub: int = 8,
) -> DataFrame:
    """IVF-PQ — the standard billion-scale ANN composite (Jégou et al.
    2011, the FAISS IVFPQ index): a coarse quantizer restricts each
    query to its ``nprobe`` nearest inverted lists, and within them
    distances are estimated from PQ codes by asymmetric-distance lookup
    (ADC) — never touching the raw vectors at query time.

    Scale shape: ONE vector-side pipeline computes BOTH the coarse
    assignment (argmax of 16 raw-dot columns; normalization cannot
    change an argmax over a positive scalar, so raw dots are exact and
    engine-identical) and the m PQ codes (:func:`pq_encode`, with
    ``cent`` passing through) — at 10^12 vectors that (cent, code0..m)
    table IS the stored index, ~32× smaller than float32, partitionable
    by cent so a probe touches nprobe/n_centroids of the data.  Queries
    arrive as ONE broadcast row each (probe list + m ADC LUTs); scoring
    is a broadcast join + integer array lookups + one bounded top-k
    window (:func:`_adc_topk`, shared with pq_topk).  Zero Python on
    the vector side.  Rank-only output.

    Probe lists use a STABLE argsort (ties → lowest centroid index,
    matching the oracle's `order by dot desc, c asc`).
    """
    C = ivf_centroids(df, n_centroids=n_centroids)
    books = pq_codebooks(df, m=m, ksub=ksub)
    Qraw, qids = _query_vectors(df, query_ids)
    with_cent = df.select(
        "vec_id",
        "embedding",
        F.array(*[_dot_fold_col("embedding", C[c]) for c in range(n_centroids)]).alias(
            "cdot"
        ),
    ).select(
        "vec_id",
        (F.array_position(F.col("cdot"), F.array_max(F.col("cdot"))) - 1)
        .cast("int")
        .alias("cent"),
        "embedding",
    )
    probes = _probe_lists(C, _unit_rows(Qraw), nprobe)
    return _adc_topk(pq_encode(with_cent, books), qids, Qraw, books, k, probes)


def ivfpq_topk_sql(
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 4,
    ksub: int = 8,
    iters: int = 3,
    sample: int = 2048,
    dim: int = 64,
) -> str:
    """DATA-INDEPENDENT DuckDB twin of :func:`ivfpq_topk`: BOTH trainers
    (ivf_centroids' normalized Lloyd, pq_codebooks' per-subspace Lloyd —
    the two already-proven oracle unrollings, IVF CTEs prefixed i* to
    avoid name collisions) plus the composite probe path: per-query
    top-nprobe coarse lists (dot desc, c asc), every vector assigned by
    RAW-dot argmax (bit-identical to the Spark column given identical
    centroids), ADC scoring inside the probed lists only."""
    sub = dim // m

    def dot(a: str, b: str) -> str:
        return f"list_sum(list_transform(range(1, len({a}) + 1), j -> {a}[j] * {b}[j]))"

    def l2(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, len({a}) + 1),"
            f" j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j])))"
        )

    parts = [
        f"""samp as (
        select row_number() over (order by vec_id) - 1 as rn, embedding as e
        from embeddings where vec_id % 13 = 0 order by vec_id limit {sample})""",
        # --- IVF coarse trainer (normalized space), i*-prefixed CTEs ----
        f"ist as (select greatest(1, count(*) // {n_centroids}) as s from samp)",
        """isv as (
        select rn, list_transform(e, x -> cast(x as double) / greatest(
               sqrt(list_sum(list_transform(e, y -> cast(y as double) * cast(y as double)))),
               1e-12)) as v
        from samp)""",
        f"""ic0 as (
        select cast(rn // ist.s as int) as c, v from isv, ist
        where rn % ist.s = 0 and rn // ist.s < {n_centroids})""",
    ]
    prev = "ic0"
    for i in range(1, iters + 1):
        parts.append(
            f"""ia{i} as (
            select rn, v, c from (
              select s.rn, s.v, c.c,
                     row_number() over (partition by s.rn
                         order by {dot('s.v', 'c.v')} desc, c.c asc) as rk
              from isv s cross join {prev} c) x where rk = 1)"""
        )
        parts.append(
            f"""im{i} as (
            select c, list(mv order by j) as mv from (
              select c, j, avg(vj) as mv from (
                select c, unnest(range(1, len(v) + 1)) as j, unnest(v) as vj
                from ia{i}) x group by c, j) y group by c)"""
        )
        parts.append(
            f"""ic{i} as (
            select p.c,
                   case when m.c is null then p.v
                        else list_transform(m.mv, x -> x / greatest(
                             sqrt(list_sum(list_transform(m.mv, y -> y * y))), 1e-12))
                   end as v
            from {prev} p left join im{i} m on m.c = p.c)"""
        )
        prev = f"ic{i}"
    icent = prev
    # --- PQ trainer, encode (pq_topk_sql's proven pattern) --------------
    parts.append(f"pst as (select greatest(1, count(*) // {ksub}) as s from samp)")
    for mi in range(m):
        lo, hi = mi * sub + 1, (mi + 1) * sub
        parts.append(
            f"sv{mi} as (select rn, list_transform(e[{lo}:{hi}],"
            f" x -> cast(x as double)) as v from samp)"
        )
        parts.append(
            f"""c{mi}_0 as (
            select cast(rn // pst.s as int) as c, v from sv{mi}, pst
            where rn % pst.s = 0 and rn // pst.s < {ksub})"""
        )
        pprev = f"c{mi}_0"
        for i in range(1, iters + 1):
            parts.append(
                f"""a{mi}_{i} as (
                select rn, v, c from (
                  select s.rn, s.v, c.c,
                         row_number() over (partition by s.rn
                             order by {l2('s.v', 'c.v')} asc, c.c asc) as rk
                  from sv{mi} s cross join {pprev} c) x where rk = 1)"""
            )
            parts.append(
                f"""m{mi}_{i} as (
                select c, list(mv order by j) as mv from (
                  select c, j, avg(vj) as mv from (
                    select c, unnest(range(1, len(v) + 1)) as j, unnest(v) as vj
                    from a{mi}_{i}) x group by c, j) y group by c)"""
            )
            parts.append(
                f"""c{mi}_{i} as (
                select p.c, case when m.c is null then p.v else m.mv end as v
                from {pprev} p left join m{mi}_{i} m on m.c = p.c)"""
            )
            pprev = f"c{mi}_{i}"
        parts.append(
            f"av{mi} as (select vec_id, list_transform(embedding[{lo}:{hi}],"
            f" x -> cast(x as double)) as v from embeddings)"
        )
        parts.append(
            f"""code{mi} as (
            select vec_id, c as code from (
              select a.vec_id, c.c,
                     row_number() over (partition by a.vec_id
                         order by {l2('a.v', 'c.v')} asc, c.c asc) as rk
              from av{mi} a cross join c{mi}_{iters} c) x where rk = 1)"""
        )
    ids = ", ".join(str(i) for i in query_ids)
    # --- composite probe path -------------------------------------------
    parts.append(
        f"""nq as (
        select vec_id as qid,
               list_transform(embedding, x -> cast(x as double) / (
                   case when nrm = 0 then 1.0 else nrm end)) as qv
        from (select vec_id, embedding,
                     sqrt(list_sum(list_transform(embedding,
                          y -> cast(y as double) * cast(y as double)))) as nrm
              from embeddings where vec_id in ({ids})) z)"""
    )
    parts.append(
        f"""probe as (
        select qid, c from (
          select nq.qid, c.c,
                 row_number() over (partition by nq.qid
                     order by {dot('c.v', 'nq.qv')} desc, c.c asc) as rk
          from nq cross join {icent} c) x where rk <= {nprobe})"""
    )
    parts.append(
        """rawv as (
        select vec_id, list_transform(embedding, x -> cast(x as double)) as v
        from embeddings)"""
    )
    parts.append(
        f"""vassign as (
        select vec_id, c as cent from (
          select a.vec_id, c.c,
                 row_number() over (partition by a.vec_id
                     order by {dot('a.v', 'c.v')} desc, c.c asc) as rk
          from rawv a cross join {icent} c) x where rk = 1)"""
    )
    for mi in range(m):
        lo, hi = mi * sub + 1, (mi + 1) * sub
        parts.append(
            f"q{mi} as (select vec_id as qid, list_transform(embedding[{lo}:{hi}],"
            f" x -> cast(x as double)) as qv from embeddings"
            f" where vec_id in ({ids}))"
        )
    score = " + ".join(f"{l2(f'q{mi}.qv', f'cb{mi}.v')}" for mi in range(m))
    cb_joins = " ".join(
        f"join c{mi}_{iters} cb{mi} on cb{mi}.c = code{mi}.code" for mi in range(m)
    )
    code_chain = "code0 " + " ".join(
        f"join code{mi} on code{mi}.vec_id = code0.vec_id" for mi in range(1, m)
    )
    q_chain = "q0 " + " ".join(f"join q{mi} on q{mi}.qid = q0.qid" for mi in range(1, m))
    parts.append(
        f"""cand as (
        select q0.qid as query_id, code0.vec_id, {score} as score
        from {q_chain} join probe p on p.qid = q0.qid
             cross join {code_chain} {cb_joins}
             join vassign va on va.vec_id = code0.vec_id
        where va.cent = p.c and code0.vec_id <> q0.qid)"""
    )
    return (
        "with " + ",\n".join(parts) + f""",
      r as (select query_id, vec_id,
                   row_number() over (partition by query_id
                       order by score asc, vec_id asc) as rank
            from cand)
      select query_id, vec_id, cast(rank as int) as rank
      from r where rank <= {k}
    """
    )


def kmeans_assign(df: DataFrame, n_centroids: int = 16, iters: int = 3) -> DataFrame:
    """Full-corpus k-means assignment — clustering as a USER-facing op
    (corpus curation: topic buckets, diversity sampling, per-cluster
    quotas), not just an ANN index internal.  The deterministic Lloyd
    codebook (ivf_centroids) is broadcast; one Arrow scan assigns every
    vector to its argmax-cosine centroid (lowest index wins ties, numpy
    argmax semantics — mirrored by the SQL oracle's row_number).

    Returns (vec_id, cluster)."""
    spark = df.sparkSession
    C = ivf_centroids(df, n_centroids=n_centroids, iters=iters)
    bc = spark.sparkContext.broadcast(C)

    def scan(batches):
        Cm = bc.value
        for pdf in batches:
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cent = _nearest_list(_unit_rows(V), Cm)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "cluster": cent.astype("int32")}
            )

    return df.select("vec_id", "embedding").mapInPandas(
        scan, schema="vec_id long, cluster int"
    )


def medoid_per_label(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_group: int | None = 4096,
    seed: str = "42",
) -> DataFrame:
    """Cluster exemplar selection: the MEDOID of each label group — the
    member vector with the highest total cosine similarity to its
    group — the curation step after clustering (kmeans_assign /
    dedup_components): pick one real, representative item per
    cluster/duplicate-group (a centroid is a synthetic vector; a medoid
    is an actual corpus row you can ship).

    Exactness discipline: each pair's cosine is floor-form quantized to
    1e-6 units FIRST (bit-identical per the repo's rounding invariant),
    then summed as an exact INTEGER — so the per-member score is
    order-free across partitionings and engines, and the argmax (ties →
    lowest id) is bit-deterministic.

    Scale shape: the label self-join is quadratic in GROUP size, never
    in the table.  Groups above ``max_group`` are capped to their
    ``max_group`` md5-ranked members (the sampling-module's portable
    md5 order, a pure function of (seed, id)) as BOTH the candidate and
    the reference set — the estimator-on-a-deterministic-sample recipe;
    at 100 TB pick max_group so cap² stays task-sized.  Pass None to
    disable.

    Returns (label, medoid_id, n_members, sim_total_q6) with n_members
    the capped group size and sim_total_q6 the integer sum of quantized
    cosines to the other members.
    """
    base = df.select(
        F.col(label_col).alias("label"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
    )
    if max_group is not None:
        w = Window.partitionBy("label").orderBy(
            F.md5(F.concat_ws("|", F.lit(seed), F.col("id").cast("string"))), "id"
        )
        base = base.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= max_group
        ).drop("_rn")
    a = base.select("label", F.col("id").alias("ida"), F.col("vec").alias("va"))
    b = base.select("label", F.col("id").alias("idb"), F.col("vec").alias("vb"))
    dot = F.aggregate(
        F.zip_with(
            F.col("va"), F.col("vb"), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def _nrm(c):
        return F.sqrt(
            F.aggregate(
                c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
            )
        )

    q6 = F.floor(dot / (_nrm(F.col("va")) * _nrm(F.col("vb"))) * F.lit(1e6) + F.lit(0.5)).cast("long")
    scores = (
        a.join(b, "label")
        .filter(F.col("ida") != F.col("idb"))
        .select("label", "ida", q6.alias("q"))
        .groupBy("label", "ida")
        .agg(F.sum("q").alias("sim_total_q6"), F.count("*").alias("_n_others"))
    )
    top = Window.partitionBy("label").orderBy(F.desc("sim_total_q6"), "ida")
    return (
        scores.withColumn("_rk", F.row_number().over(top))
        .filter(F.col("_rk") == 1)
        .select(
            "label",
            F.col("ida").alias("medoid_id"),
            (F.col("_n_others") + F.lit(1)).alias("n_members"),
            "sim_total_q6",
        )
    )


def medoid_per_label_sql(
    table: str = "embeddings",
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_group: int | None = 4096,
    seed: str = "42",
) -> str:
    """DuckDB twin of :func:`medoid_per_label` — same md5 cap order, same
    ascending cosine folds, same floor-form 1e-6 quantization."""
    capped = f"select {label_col} as label, {id_col} as id, {vec_col} as vec from {table}"
    if max_group is not None:
        capped = f"""
          select label, id, vec from (
            select *, row_number() over (
              partition by label
              order by md5(concat('{seed}', '|', cast(id as string))), id) as _rn
            from ({capped})) where _rn <= {max_group}
        """
    dot = (
        "list_sum(list_transform(range(1, len(a.vec) + 1), "
        "i -> cast(a.vec[i] as double) * cast(b.vec[i] as double)))"
    )

    def nrm(rel):
        return (
            f"sqrt(list_sum(list_transform({rel}.vec, "
            f"x -> cast(x as double) * cast(x as double))))"
        )

    return f"""
      with base as ({capped}),
      pairs as (
        select a.label as label, a.id as ida,
               cast(floor({dot} / ({nrm('a')} * {nrm('b')}) * 1e6 + 0.5) as bigint) as q
        from base a join base b on a.label = b.label and a.id <> b.id),
      scores as (select label, ida, cast(sum(q) as bigint) as sim_total_q6,
                        count(*) as n_others
                 from pairs group by label, ida),
      rk as (select *, row_number() over (
               partition by label order by sim_total_q6 desc, ida) as _rk
             from scores)
      select label, ida as medoid_id, n_others + 1 as n_members, sim_total_q6
      from rk where _rk = 1
    """


def kcenter_select(
    df: DataFrame, k: int = 6, id_col: str = "vec_id", emb_col: str = "embedding"
) -> DataFrame:
    """Diversity coreset selection: greedy k-center (farthest-point
    traversal, Gonzalez 1985 — a 2-approximation to the k-center
    objective).  The curation shape: pick k maximally-spread exemplars
    from an embedding table (seed dedup review, eval-set seeding,
    coverage probes) — the opposite pull of medoid_per_label's
    most-central pick.

    Determinism discipline (the medoid precedent): proximity = cosine
    floor-form quantized to 1e-6 as an integer; seed = smallest id;
    each round picks the point with the MINIMUM running quantized
    cosine to its nearest selected center (= farthest), ties to the
    smallest id.  Every float op is a left-to-right fold mirrored by
    the SQL twin, so selection is bit-deterministic across engines.

    Scale shape: k rounds; each round evaluates ONE literal-center
    cosine over the table (a JVM zip_with/aggregate fold, interpreted
    outside whole-stage codegen; no Python), folds it into a running
    min column (localCheckpoint — k materializations), and takes a
    TakeOrdered limit-1.  Driver traffic
    is one (id, vector) row per round — the same bounded per-round
    scalar signal knn_join uses.  Output: (sel_rank, vec_id), k rows.
    """
    import math

    from geodesk_spark.operators.dedup import _release_local_checkpoint

    base = df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(emb_col).alias("e")
    )
    selected: list[tuple[int, list]] = [
        (int(r["id"]), list(r["e"])) for r in base.orderBy("id").limit(1).collect()
    ]
    nrm_v = F.sqrt(
        F.aggregate(
            F.col("e"), F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )
    )
    cur = base.withColumn("mind", F.lit(None).cast("long"))
    prev = None
    for _ in range(1, k if selected else 1):  # an empty input runs no round
        cvec = selected[-1][1]
        nc = 0.0
        for x in cvec:  # left-to-right, the same order as the SQL list_sum
            nc += float(x) * float(x)
        nc = math.sqrt(nc)
        dot = F.aggregate(
            F.zip_with(
                F.col("e"),
                F.array(*[F.lit(float(x)) for x in cvec]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        # greatest(·, 1e-12): a zero-norm vector would make the cosine
        # NaN→null, and Spark orders nulls FIRST asc while DuckDB puts
        # them LAST — guard the denominator identically on both engines.
        q = F.floor(
            dot / F.greatest(nrm_v * F.lit(nc), F.lit(1e-12)) * F.lit(1e6) + F.lit(0.5)
        ).cast("long")
        cur = cur.withColumn(
            "mind", F.least(F.coalesce(F.col("mind"), q), q)
        ).localCheckpoint(eager=True)
        if prev is not None:
            _release_local_checkpoint(prev)
        prev = cur
        nxt = (
            cur.filter(~F.col("id").isin([i for i, _ in selected]))
            .orderBy(F.col("mind").asc(), F.col("id").asc())
            .limit(1)
            .select("id", "e")
            .collect()
        )
        if not nxt:  # k > distinct rows: return what exists, like the SQL twin
            break
        selected.append((int(nxt[0]["id"]), list(nxt[0]["e"])))
    out = df.sparkSession.createDataFrame(
        pd.DataFrame(
            [(r + 1, i) for r, (i, _) in enumerate(selected)], columns=["sel_rank", "vec_id"]
        ),
        "sel_rank long, vec_id long",
    )
    if prev is not None:
        _release_local_checkpoint(prev)
    return out


def kcenter_sql(table: str = "embeddings", k: int = 6) -> str:
    """Exact twin of kcenter_select: the greedy recursion unrolled as
    chained CTEs (the IVF-trainer precedent), same floor-form 1e-6
    quantized cosine, same min-id seed and tie rule."""

    def nrm(rel: str) -> str:
        return (
            f"sqrt(list_sum(list_transform({rel}.embedding, "
            f"x -> cast(x as double) * cast(x as double))))"
        )

    def q(rel_a: str, rel_c: str) -> str:
        dot = (
            f"list_sum(list_transform(range(1, len({rel_a}.embedding) + 1), "
            f"i -> cast({rel_a}.embedding[i] as double) * cast({rel_c}.embedding[i] as double)))"
        )
        return (
            f"cast(floor({dot} / greatest({nrm(rel_a)} * {nrm(rel_c)}, 1e-12) "
            f"* 1e6 + 0.5) as bigint)"
        )

    parts = [f"s1 as (select vec_id, embedding from {table} order by vec_id limit 1)"]
    for r in range(1, k):
        qe = q("e", f"s{r}")
        if r == 1:
            parts.append(
                f"m1 as (select e.vec_id, e.embedding, {qe} as mind "
                f"from {table} e cross join s1)"
            )
        else:
            parts.append(
                f"m{r} as (select e.vec_id, e.embedding, least(e.mind, {qe}) as mind "
                f"from m{r - 1} e cross join s{r})"
            )
        excl = " union all ".join(f"select vec_id from s{i}" for i in range(1, r + 1))
        parts.append(
            f"s{r + 1} as (select vec_id, embedding from m{r} "
            f"where vec_id not in ({excl}) order by mind asc, vec_id asc limit 1)"
        )
    union = " union all ".join(
        f"select cast({i} as bigint) as sel_rank, vec_id from s{i}" for i in range(1, k + 1)
    )
    return "with " + ",\n      ".join(parts) + f"\n      select sel_rank, vec_id from ({union})"


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup by k-means cluster + intra-cluster cosine prune
# ---------------------------------------------------------------------------

def semdedup_prune(
    df: DataFrame,
    threshold: float = 0.92,
    n_centroids: int = 16,
    iters: int = 3,
    max_group: int | None = 4096,
    seed: str = "42",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public recipe): cluster the embedding
    table with the deterministic Lloyd codebook, then inside each cluster
    prune every vector that has a SMALLER-id cluster-mate with quantized
    cosine ≥ threshold — semantic near-duplicates that no lexical dedup
    (minhash/simhash/ngram) can see.  Keeps exactly the min-id member of
    each qualifying pair; the rule is per-pair (a chain a~b~c keeps a,
    prunes b and c) — for transitive grouping feed the qualifying pairs
    to ``dedup.connected_components`` instead.

    Determinism discipline (the medoid precedent): the pair cosine is
    computed from the RAW vectors (zip_with product → sequential
    aggregate fold, the proven bit-stable pairing with DuckDB's
    list_sum), zero-norm guarded via greatest(‖v‖, 1e-12) on BOTH
    engines, floor-form quantized to integer 1e-6 units FIRST, and the
    threshold compares in that integer space — so the prune decision is
    bit-identical across numpy/Spark/DuckDB.

    Scale shape: assignment is one broadcast-codebook Arrow scan
    (``kmeans_assign``); the self-join is quadratic in CLUSTER size,
    never in the table — at 100 TB raise ``n_centroids`` so clusters
    stay task-sized (the paper runs ~10^5 clusters), and ``max_group``
    caps any runaway cluster to its ``max_group`` md5-ranked members
    (deterministic portable order; members beyond the cap are KEPT —
    the cap is an escape valve, not a silent drop).

    The assignment subtree is referenced three times (both pair sides +
    the output join); lazily that recomputes the Arrow scan up to 3×.
    Cheap here (broadcast codebook, one matmul), but at corpus scale
    pass ``assign=`` a persisted/checkpointed ``kmeans_assign`` result —
    it is two integer columns, tiny next to the vectors, and the caller
    owns its lifetime (no hidden cache leak inside the operator).

    Returns (vec_id, cluster, kept) for every input row.
    """
    if assign is None:
        assign = kmeans_assign(df, n_centroids=n_centroids, iters=iters)
    base = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .join(assign.withColumnRenamed("vec_id", "id"), "id")
    )
    members = base
    if max_group is not None:
        w = Window.partitionBy("cluster").orderBy(
            F.md5(F.concat_ws("|", F.lit(seed), F.col("id").cast("string"))), "id"
        )
        members = base.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= max_group
        ).drop("_rn")
    nrm = F.sqrt(
        F.aggregate(
            F.col("vec"), F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    m = members.withColumn("nrm", nrm)
    a = m.select("cluster", F.col("id").alias("ida"), F.col("vec").alias("va"),
                 F.col("nrm").alias("na"))
    b = m.select("cluster", F.col("id").alias("idb"), F.col("vec").alias("vb"),
                 F.col("nrm").alias("nb"))
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    q = F.floor(
        dot / (F.greatest(F.col("na"), F.lit(1e-12)) * F.greatest(F.col("nb"), F.lit(1e-12)))
        * F.lit(1e6) + F.lit(0.5)
    ).cast("bigint")
    tau = int(round(threshold * 1e6))
    pruned = (
        a.join(b, "cluster")
        .filter(F.col("ida") < F.col("idb"))
        .withColumn("q", q)
        .filter(F.col("q") >= F.lit(tau))
        .select(F.col("idb").alias("id"))
        .distinct()
        .withColumn("_pruned", F.lit(True))
    )
    return (
        base.join(pruned, "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            "cluster",
            F.coalesce(~F.col("_pruned"), F.lit(True)).alias("kept"),
        )
    )


def semdedup_sql(
    table: str = "embeddings",
    threshold: float = 0.92,
    n_centroids: int = 16,
    iters: int = 3,
    max_group: int | None = 4096,
    seed: str = "42",
) -> str:
    """DuckDB twin of :func:`semdedup_prune`: reuses the IVF trainer +
    assignment CTEs (``vassign`` — the same algorithm definition as the
    driver-green kmeans_assign oracle), then mirrors the md5 cap order,
    the raw-vector sequential-fold cosine with the greatest(‖v‖,1e-12)
    guard, and the integer-1e-6 threshold compare."""
    from geodesk_spark.driver_queries.goql_ann_tail import _ann_ivf_sql

    full = _ann_ivf_sql(n_centroids=n_centroids, iters=iters)
    head = full.split("cand as (")[0].rstrip().rstrip(",")
    tau = int(round(threshold * 1e6))
    capped = """
      memb0 as (
        select va.vec_id as id, va.c as cluster, e.embedding as vec
        from vassign va join {table} e on e.vec_id = va.vec_id),"""
    if max_group is not None:
        memb = f"""
      memb as (
        select id, cluster, vec from (
          select *, row_number() over (
            partition by cluster
            order by md5(concat('{seed}', '|', cast(id as string))), id) as _rn
          from memb0) where _rn <= {max_group}),"""
    else:
        memb = """
      memb as (select id, cluster, vec from memb0),"""
    dot = (
        "list_sum(list_transform(range(1, len(a.vec) + 1), "
        "i -> cast(a.vec[i] as double) * cast(b.vec[i] as double)))"
    )

    def nrm(rel: str) -> str:
        return (
            f"sqrt(list_sum(list_transform({rel}.vec, "
            f"x -> cast(x as double) * cast(x as double))))"
        )

    return f"""{head},{capped.format(table=table)}{memb}
      pairs as (
        select a.cluster, a.id as ida, b.id as idb,
               cast(floor({dot} / (greatest({nrm('a')}, 1e-12)
                                   * greatest({nrm('b')}, 1e-12)) * 1e6 + 0.5)
                    as bigint) as q
        from memb a join memb b on a.cluster = b.cluster and a.id < b.id),
      pruned as (select distinct idb as id from pairs where q >= {tau})
      select m.id as vec_id, m.cluster as cluster, (p.id is null) as kept
      from memb0 m left join pruned p using (id)
    """


def sq8_encode(df: DataFrame, id_col: str = "vec_id", emb: str = "embedding") -> DataFrame:
    """Scalar int8 quantization (SQ8) of an embedding column — the
    standard 4× storage/bandwidth cut for vector search at corpus scale
    (FAISS's ScalarQuantizer recipe, public): per-vector scale
    s = max|x|/127, codes q_i = floor(x_i/s + 0.5) ∈ [-127, 127].

    Output: (id, qvec array<bigint>, scale double).  Everything is a
    JVM higher-order Column (one projection, interpreted outside
    whole-stage codegen, no shuffle, no Python).  The scale is let-bound
    through a staged projection so the max-abs fold is evaluated once
    per row, not once per element.

    Determinism: the encode is floor-form (the repo's rounding law) and
    the max-abs fold is order-free, so codes are bit-identical across
    numpy/Spark/DuckDB — downstream integer arithmetic is then exact by
    construction.  A zero vector encodes to all-zero codes (scale 1).
    """
    maxabs = F.aggregate(
        F.col(emb), F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x.cast("double")))
    )
    scale = F.when(maxabs == F.lit(0.0), F.lit(1.0)).otherwise(maxabs / F.lit(127.0))
    staged = df.select(
        F.col(id_col).cast("bigint").alias(id_col),
        F.col(emb).alias("_e"),
        scale.alias("scale"),
    )
    qvec = F.transform(
        F.col("_e"), lambda x: F.floor(x.cast("double") / F.col("scale") + F.lit(0.5))
    )
    return staged.select(id_col, qvec.alias("qvec"), "scale")


def sq8_topk(
    df: DataFrame, query_ids: list[int], k: int = 5, id_col: str = "vec_id", emb: str = "embedding"
) -> DataFrame:
    """Approximate cosine top-k over SQ8 codes: encode once, score with
    INTEGER dot products.  Returns (query_id, vec_id, rank) like
    cosine_topk; recall vs the float brute force is measured in
    tests/test_ann.py (printed + pinned).

    Scale shape: the query side is a bounded broadcast (≤ |query_ids|
    rows); the corpus side is ONE scan — encode, integer
    zip_with/aggregate folds (interpreted, outside whole-stage codegen),
    partial top-k via the rank window.  Only
    (n_queries × candidates) rows reach the window shuffle.  At 100 TB
    the codes table is the thing you'd persist (sq8_encode → parquet:
    4× smaller scans); scoring math is unchanged.

    Determinism: dot and both norms are exact INTEGER sums (≤ dim·127²
    ≪ 2^53), so the score double is bit-identical on any engine and in
    any fold order — the one float op is a single division by a
    correctly-rounded sqrt.  Ties break by vec_id ascending.
    """
    enc = sq8_encode(df, id_col, emb)
    q = enc.filter(F.col(id_col).isin([int(i) for i in query_ids])).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("_qq")
    )
    j = enc.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col("query_id"))
    zero = F.lit(0).cast("bigint")
    dot = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("_qq"), lambda a, b: a * b), zero, lambda acc, x: acc + x
    )
    nv = F.aggregate(F.col("qvec"), zero, lambda acc, x: acc + x * x)
    nq = F.aggregate(F.col("_qq"), zero, lambda acc, x: acc + x * x)
    # greatest(·, 1): a zero vector has zero norm — guard the denominator
    # identically on both engines (kcenter null-ordering lesson)
    score = dot.cast("double") / F.sqrt(F.greatest(nv * nq, F.lit(1).cast("bigint")).cast("double"))
    cand = j.select("query_id", F.col(id_col), score.alias("score"))
    return _top_k(cand, k, F.col("score").desc(), id_col).select("query_id", id_col, "rank")


def sq8_topk_sql(query_ids: list[int], k: int = 5, table: str = "embeddings") -> str:
    """DuckDB twin of sq8_topk: identical floor-form encode and integer
    scoring — bit-exact without any output quantization because every
    intermediate is an exact integer."""
    ids = ", ".join(str(int(i)) for i in query_ids)
    return f"""
      with mx as (
        select vec_id, embedding as e,
               list_max(list_transform(embedding, x -> abs(cast(x as double)))) as m
        from {table}),
      enc as (
        select vec_id,
               list_transform(e, x -> cast(floor(cast(x as double)
                 / (case when m = 0 then 1.0 else m / 127.0 end) + 0.5) as bigint)) as q
        from mx),
      qs as (select vec_id as query_id, q as qq from enc where vec_id in ({ids})),
      sc as (
        select s.query_id, e.vec_id,
               cast(list_sum(list_transform(range(1, len(e.q) + 1),
                      i -> e.q[i] * s.qq[i])) as double)
               / sqrt(cast(greatest(
                      list_sum(list_transform(e.q, v -> v * v))
                      * list_sum(list_transform(s.qq, v -> v * v)), 1) as double)) as score
        from enc e cross join qs s
        where e.vec_id <> s.query_id)
      select query_id, vec_id, cast(rank as int) as rank from (
        select query_id, vec_id,
               row_number() over (partition by query_id
                   order by score desc, vec_id asc) as rank
        from sc) where rank <= {int(k)}
    """


def retrieval_eval(pred: DataFrame, truth: DataFrame, k: int = 5) -> DataFrame:
    """Per-query retrieval quality of a ranked candidate list against a
    ground-truth relevant set — the recall@k / first-hit diagnostic every
    ANN index deployment needs as a FIRST-CLASS distributed job (measure
    an index against the exact scorer on the corpus itself, not a toy
    sample).  ``pred`` is any (query_id, vec_id, rank) index output
    (lsh/ivf/pq/sq8...), ``truth`` the exact relevant set
    (query_id, vec_id) — e.g. cosine_topk.

    Output per query: (query_id, n_true, hits, first_hit_rank) — hits is
    the recall@k NUMERATOR (|pred∩truth| at rank ≤ k), first_hit_rank the
    MRR numerator's rank (0 when no hit, so downstream reciprocals are a
    plain ``case``).  Every output is an exact integer → bit-identical
    cross-engine with no quantization (per-query rows, no cross-query
    float aggregation — the caller divides).

    Scale shape: both inputs are (n_queries × k)-bounded — dimension-sized
    by construction no matter the corpus size; two equi-joins on
    (query_id, vec_id), both broadcastable.  The expensive part is
    producing pred/truth, not grading them.
    """
    p = pred.filter(F.col("rank") <= k).select("query_id", "vec_id", "rank")
    t = truth.select("query_id", "vec_id")
    hagg = (
        p.join(t, ["query_id", "vec_id"], "inner")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_h"), F.min("rank").alias("_f"))
    )
    base = t.groupBy("query_id").agg(F.count(F.lit(1)).alias("_n"))
    return base.join(hagg, "query_id", "left").select(
        "query_id",
        F.col("_n").cast("long").alias("n_true"),
        F.coalesce(F.col("_h"), F.lit(0)).cast("long").alias("hits"),
        F.coalesce(F.col("_f"), F.lit(0)).cast("long").alias("first_hit_rank"),
    )


def retrieval_eval_sql(pred_sql: str, truth_sql: str, k: int = 5) -> str:
    """DuckDB twin of retrieval_eval: composes any two oracle SELECTs
    (each may carry its own WITH — DuckDB accepts nested CTEs) into the
    same integer metrics.  ``truth`` is referenced twice → materialized
    (the CLAUDE.md binder law)."""
    return f"""
      with pred as materialized ({pred_sql}),
      truth as materialized ({truth_sql}),
      h as (select p.query_id, count(*) as hits, min(p.rank) as fhr
            from pred p join truth t using (query_id, vec_id)
            where p.rank <= {int(k)} group by p.query_id),
      b as (select query_id, count(*) as n_true from truth group by query_id)
      select b.query_id, cast(b.n_true as bigint) as n_true,
             cast(coalesce(h.hits, 0) as bigint) as hits,
             cast(coalesce(h.fhr, 0) as bigint) as first_hit_rank
      from b left join h using (query_id)
    """


def two_stage_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    shortlist: int = 32,
    id_col: str = "vec_id",
    emb: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval — the production ANN serving shape: a cheap
    first pass over the 4× smaller SQ8 integer index shortlists
    ``shortlist`` candidates per query, then ONLY those rows are
    re-ranked with the exact float cosine.  At corpus scale the float
    vectors are touched for n_queries × shortlist rows instead of the
    whole table (the stored index is the sq8_encode output; the re-rank
    is a broadcast-candidate lookup join).

    Returns (query_id, vec_id, rank) like cosine_topk.  With
    shortlist ≥ corpus the result EQUALS the exact scorer (pinned in
    tests); recall at practical shortlists is measured in
    tests/test_ann.py.  Determinism: the re-rank fold mirrors the brute
    oracle's op order term for term; ties break by vec_id.
    """
    cand = sq8_topk(df, query_ids, k=shortlist, id_col=id_col, emb=emb).select(
        "query_id", id_col
    )
    v = df.select(F.col(id_col), F.col(emb))
    cj = v.join(F.broadcast(cand), id_col)
    q = df.filter(F.col(id_col).isin([int(i) for i in query_ids])).select(
        F.col(id_col).alias("query_id"), F.col(emb).alias("_qe")
    )
    j = cj.join(F.broadcast(q), "query_id")
    dot = F.aggregate(
        F.zip_with(F.col(emb), F.col("_qe"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nv = F.aggregate(
        F.col(emb), F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    )
    nq = F.aggregate(
        F.col("_qe"), F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    )
    score = dot / (F.sqrt(nv) * F.sqrt(nq))
    cand = j.select("query_id", F.col(id_col), score.alias("score"))
    return _top_k(cand, k, F.col("score").desc(), id_col).select("query_id", id_col, "rank")


def two_stage_topk_sql(
    query_ids: list[int], k: int = 5, shortlist: int = 32, table: str = "embeddings"
) -> str:
    """DuckDB twin of two_stage_topk: the SQ8 shortlist CTE verbatim,
    then the exact-cosine re-rank with the brute oracle's op order."""
    ids = ", ".join(str(int(i)) for i in query_ids)
    return f"""
      with cand as materialized ({sq8_topk_sql(query_ids, k=shortlist, table=table)}),
      q as (select vec_id as query_id, embedding as qe from {table}
            where vec_id in ({ids})),
      sc as (
        select c.query_id, e.vec_id,
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                        i -> cast(e.embedding[i] as double) * cast(q.qe[i] as double)))
               / (sqrt(list_sum(list_transform(e.embedding,
                        x -> cast(x as double) * cast(x as double))))
                  * sqrt(list_sum(list_transform(q.qe,
                        x -> cast(x as double) * cast(x as double))))) as score
        from cand c
        join {table} e on e.vec_id = c.vec_id
        join q on q.query_id = c.query_id)
      select query_id, vec_id, cast(rank as int) as rank from (
        select query_id, vec_id,
               row_number() over (partition by query_id
                   order by score desc, vec_id asc) as rank
        from sc) where rank <= {int(k)}
    """


# ---------------------------------------------------------------------------
# Integer PCA: exact Gram -> fixed-point power iteration -> integer scores


PCA_SCALE = 1 << 20  # component fixed-point scale AND quantization unit


def _pca_quant_col(vec_col: str, i: int):
    """q_i = floor(v_i·2^20 + 0.5) as bigint (the float-quantization law)."""
    return F.floor(
        F.element_at(F.col(vec_col), i + 1).cast("double") * F.lit(float(PCA_SCALE))
        + F.lit(0.5)
    ).cast("long")


def _pca_power_iter(cnum: list[list[int]], dim: int, k: int, iters: int):
    """Fixed-point power iteration with deflation over the INTEGER
    covariance numerator — pure Python int arithmetic (arbitrary
    precision), textually mirrored by the hugeint CTE chain in
    :func:`pca_project_sql` so both engines land the identical
    component vectors.  Renormalization is sign·(|w|·S // max|w|) —
    positive-operand floor division, identical in Python and DuckDB."""
    S = PCA_SCALE

    def renorm(w):
        m = max(abs(x) for x in w)
        if m == 0:
            return list(w)
        return [((x * S) // m) if x >= 0 else -(((-x) * S) // m) for x in w]

    comps: list[list[int]] = []
    for c in range(k):
        v = [S if (c == 0 or j % 2 == 0) else -S for j in range(dim)]
        for _ in range(iters):
            w = [sum(cnum[j][l] * v[l] for l in range(dim)) for j in range(dim)]
            v = renorm(w)
            for u in comps:
                # exact Gram–Schmidt step: v' = v·(u·u) − (u·v)·u —
                # the u·u factor (NOT S², renorm is max-norm) makes the
                # subtraction an exact orthogonal rejection in integers
                d = sum(u[l] * v[l] for l in range(dim))
                uu = sum(u[l] * u[l] for l in range(dim))
                v = [v[j] * uu - d * u[j] for j in range(dim)]
                v = renorm(v)
        comps.append(v)
    return comps


def pca_project(
    df: DataFrame,
    dim: int = 64,
    k: int = 2,
    iters: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PCA projection of an embedding column with NO float anywhere —
    the determinism-hostile step (eigendecomposition) recast as exact
    integer arithmetic end-to-end, so the scores are bit-identical
    across engines, partitionings, and libm builds by construction:

    1. components quantize once (q = floor(v·2^20 + 0.5), the law);
    2. ONE distributed pass accumulates the exact integer sums S_j and
       Gram G_jl (order-free bigint adds); the centered covariance
       NUMERATOR C = N·G − S·Sᵀ is integer, and scaling by the dropped
       N² denominator does not move eigenvectors;
    3. fixed-point power iteration with deflation runs DRIVER-side on
       the 64×64 integer matrix (Python bigints; cost trivial), giving
       k component vectors at scale 2^20 — the trainer-in-the-oracle
       discipline: the SQL twin replays the identical iteration as
       hugeint CTEs, so a green row proves the trainer, not just the
       projection;
    4. scores y_c = Σ_j u_c[j]·(N·q_j − S_j) — integer centering in the
       numerator, bigint folds, broadcast literals.

    Scale shape: the Gram pass here explodes dim² index pairs per row
    (SQL-oracle-able); at 10^12 rows swap stage 2 for a mapInPandas
    partial-Gram per partition + one 4096-cell rollup — identical
    integers, no blowup.  Stages 3-4 are size-independent.

    → (id_col, c0 … c{k-1}) with bigint scores (arbitrary fixed units:
    2^20 · N · micro-components — callers rank/bucket, they don't
    measure meters with it).

    Convergence caveat (standard power iteration): component fidelity
    to the true principal axes is governed by the eigengap — ``iters``
    = 6 nails a planted anisotropic spectrum (pytest: corr > 0.999 vs
    numpy SVD) but on a near-isotropic corpus (our synthetic
    embeddings: λ₁/λ₂ ≈ 1.01) the result is a deterministic
    variance-preserving projection rather than the exact axes.  The
    cross-engine contract is unconditional either way.
    """
    base = df.select(F.col(id_col), *[
        _pca_quant_col(vec_col, i).alias(f"_q{i}") for i in range(dim)
    ])
    qarr = F.array(*[F.col(f"_q{i}") for i in range(dim)])
    pairs = base.select(
        F.posexplode(qarr).alias("_j", "_qj"),
        qarr.alias("_qa"),
    ).select(
        "_j", "_qj", F.posexplode(F.col("_qa")).alias("_l", "_ql")
    )
    gram = (
        pairs.groupBy("_j", "_l")
        .agg(F.sum(F.col("_qj") * F.col("_ql")).alias("_g"), F.sum("_qj").alias("_sj"),
             F.count("*").alias("_n"))
        .collect()
    )
    n = None
    G = [[0] * dim for _ in range(dim)]
    Ssum = [0] * dim
    for r in gram:
        G[r._j][r._l] = r._g
        if r._l == 0:
            Ssum[r._j] = r._sj
            n = r._n
    cnum = [[n * G[j][l] - Ssum[j] * Ssum[l] for l in range(dim)] for j in range(dim)]
    comps = _pca_power_iter(cnum, dim, k, iters)

    out_cols = []
    for c, u in enumerate(comps):
        terms = None
        for j in range(dim):
            t = F.lit(u[j]) * (F.lit(n) * F.col(f"_q{j}") - F.lit(Ssum[j]))
            terms = t if terms is None else terms + t
        out_cols.append(terms.cast("long").alias(f"c{c}"))
    return base.select(id_col, *out_cols)


def pca_project_sql(
    table: str = "embeddings",
    dim: int = 64,
    k: int = 2,
    iters: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`pca_project`: the SAME integer pipeline —
    Gram by index-pair join, hugeint power-iteration CTEs (renorm =
    sign·(|w|·S // max|w|), deflation in fixed point), integer
    projection — unrolled like the IVF trainer.  Every iteration CTE is
    materialized (each is referenced by matvec + max + dot)."""
    S = PCA_SCALE
    parts = [
        f"idx as (select i from range(1, {dim + 1}) t(i))",
        f"""q as materialized (
          select {id_col} as id, i,
                 cast(floor({vec_col}[i] * {float(S)!r} + 0.5) as bigint) as qv
          from {table}, idx)""",
        f"n as (select count(distinct id) as n from q)",
        "s as materialized (select i, sum(qv) as s from q group by i)",
        """g as materialized (
          select a.i as j, b.i as l, sum(a.qv * b.qv) as g
          from q a join q b on a.id = b.id group by 1, 2)""",
        """c as materialized (
          select g.j, g.l,
                 cast((select n from n) as hugeint) * g.g
                 - cast(sa.s as hugeint) * sb.s as c
          from g join s sa on sa.i = g.j join s sb on sb.i = g.l)""",
    ]

    def matvec(vin: str, out: str):
        parts.append(
            f"""{out} as materialized (
          select c.j as i, sum(c.c * v.v) as w
          from c join {vin} v on v.i = c.l group by 1)"""
        )

    def renorm(win: str, out: str, val: str = "w"):
        parts.append(
            f"""{out} as materialized (
          select i, case when {val} >= 0
                         then ({val} * {S}) // (select max(abs({val})) from {win})
                         else -((-{val} * {S}) // (select max(abs({val})) from {win}))
                    end as v
          from {win})"""
        )

    comp_names = []
    for c in range(k):
        init = f"{S}" if c == 0 else f"case when i % 2 = 1 then {S} else -{S} end"
        cur = f"v{c}_0"
        parts.append(
            f"{cur} as (select i, cast({init} as hugeint) as v from idx)"
        )
        for t in range(1, iters + 1):
            w = f"w{c}_{t}"
            matvec(cur, w)
            cur = f"v{c}_{t}"
            renorm(w, cur)
            for pc in comp_names:
                d = f"d{c}_{t}_{pc}"
                parts.append(
                    f"""{d} as materialized (
                  select sum(u.v * v.v) as d,
                         (select sum(u2.v * u2.v) from {pc} u2) as uu
                  from {pc} u join {cur} v on u.i = v.i)"""
                )
                dv = f"x{c}_{t}_{pc}"
                parts.append(
                    f"""{dv} as materialized (
                  select v.i, v.v * (select uu from {d}) - (select d from {d}) * u.v as w
                  from {cur} v join {pc} u on u.i = v.i)"""
                )
                cur = f"v{c}_{t}_{pc}"
                renorm(dv, cur)
        comp_names.append(cur)

    # single projection pass: every component vector equi-joins on the
    # index and folds in one grouped scan of q
    joins = " ".join(
        f"join {cn} u{c} on u{c}.i = q.i" for c, cn in enumerate(comp_names)
    )
    scores = ", ".join(
        f"cast(sum(u{c}.v * ((select n from n) * q.qv - s.s)) as bigint) as c{c}"
        for c in range(k)
    )
    return (
        "with " + ",\n".join(parts)
        + f"""
      select q.id as {id_col}, {scores}
      from q join s on s.i = q.i {joins}
      group by q.id
    """
    )
