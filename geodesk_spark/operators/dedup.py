"""Deduplication operators over `documents` — exact, MinHash+LSH, SimHash,
n-gram Jaccard.  Training-data-pipeline additions (not in the reference).

Design notes for oracle parity *and* scale:

- The only hash primitive used is ``md5`` (hex string) — identical in
  Spark and DuckDB, so every operator here has an exact SQL twin.
  MinHash over md5-hex strings is a valid uniform minwise scheme
  (lexicographic min of a uniformly distributed hex string).
- All array work uses built-in higher-order functions (``transform``,
  ``aggregate``, ``filter``) — JVM-side, no Python.
- Shapes: exact dedup is one hash-groupBy; MinHash-LSH is
  explode(bands) → groupBy(band) → within-bucket pairing, which at
  100 TB is the standard shuffle-light candidate generation (bucket
  sizes are bounded; the quadratic step happens only inside buckets).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from geodesk_spark.operators.text import tokens_col

N_MINHASH = 8  # signature length
LSH_BANDS = 4  # 4 bands × 2 rows
LSH_ROWS = 2
SHINGLE_W = 3  # word 3-grams


def shingles_col(text: Column) -> Column:
    """Word 3-gram shingles; docs shorter than 3 words → one whole-doc shingle."""
    words = tokens_col(text)
    ngrams = F.transform(
        F.sequence(F.lit(0), F.size(words) - SHINGLE_W),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, SHINGLE_W)),
    )
    return F.when(F.size(words) >= SHINGLE_W, ngrams).otherwise(
        F.array(F.concat_ws(" ", words))
    )


def shingle_hash_col(sh: Column) -> Column:
    """Per-shingle 64-hex-char hash (md5(s) ‖ md5('1|'+s)) — computed
    ONCE per shingle; the N_MINHASH minwise hashes are disjoint
    8-hex-char slices of it (8 independent uniform 32-bit draws from 2
    md5 evaluations instead of 8)."""
    return F.transform(
        sh, lambda s: F.concat(F.md5(s), F.md5(F.concat(F.lit("1|"), s)))
    )


def minhash_from_hashes(hh: Column, j: int) -> Column:
    return F.array_min(F.transform(hh, lambda h: F.substring(h, 1 + 8 * j, 8)))


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by normalized-text md5; keeps the min doc_id
    as the canonical representative (hash-groupBy — one shuffle)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return (
        df.select(F.col("doc_id"), F.md5(norm).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_dups"))
    )


def minhash_signatures(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The per-shingle hash array materializes ONCE into a column; the 8
    signature mins just slice it — without this, codegen re-derives the
    shingle array and its md5s once per signature column (8× the work)."""
    with_hh = df.select(
        "doc_id", shingle_hash_col(shingles_col(F.col(text_col))).alias("hh")
    )
    return with_hh.select(
        "doc_id",
        *[minhash_from_hashes(F.col("hh"), j).alias(f"mh{j}") for j in range(N_MINHASH)],
    )


def lsh_candidate_pairs(
    df: DataFrame, text_col: str = "text", bucket_cap: int = 1000
) -> DataFrame:
    """MinHash-LSH candidate pairs: band key = md5 of LSH_ROWS signature
    entries; docs sharing any band key are candidates.  Returns distinct
    (doc_a, doc_b) with doc_a < doc_b.

    Single pass: explode band keys → groupBy(key) collecting the doc
    list → in-bucket pair expansion (buckets are near-dup groups, so
    tiny).  No self-join — the signature pipeline runs exactly once and
    only one shuffle (on the band key) happens.  At 100 TB the band key
    is also the natural bucketing column for the shuffle-free variant.

    Skew guard: a degenerate band key (a boilerplate corpus slice)
    would make the all-pairs step quadratic, so buckets larger than
    ``bucket_cap`` switch to STAR pairs — every doc paired with the
    bucket's smallest doc id.  O(n) output instead of 10^14 redundant
    clique edges, and the bucket stays ONE connected component of
    diameter 2, so downstream ``connected_components`` (the dedup
    consumer) resolves it in a single propagation round.  Run
    ``exact_dedup`` first so byte-identical dups never reach here.
    """
    sigs = minhash_signatures(df, text_col)
    bands = F.array(
        *[
            F.md5(
                F.concat_ws("|", F.lit(str(b)), *[F.col(f"mh{b * LSH_ROWS + r}") for r in range(LSH_ROWS)])
            )
            for b in range(LSH_BANDS)
        ]
    )
    exploded = sigs.select("doc_id", F.explode(bands).alias("key"))
    buckets = exploded.groupBy("key").agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
    docs = F.col("docs")
    all_pairs = F.flatten(
        F.transform(
            docs,
            lambda a, i: F.transform(
                F.slice(docs, i + 2, F.size(docs)),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    star_pairs = F.transform(
        F.slice(docs, 2, F.size(docs) - 1),
        lambda b: F.struct(F.element_at(docs, 1).alias("doc_a"), b.alias("doc_b")),
    )
    pairs = buckets.filter(F.size("docs") > 1).select(
        F.explode(
            F.when(F.size("docs") <= bucket_cap, all_pairs).otherwise(star_pairs)
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


def simhash16(df: DataFrame, text_col: str = "text") -> DataFrame:
    """16-bit SimHash over tokens: bit b = sign of Σ_tokens (±1 by the
    parity of the b-th hex digit of md5(token)).  Pure built-ins;
    hex-digit value via locate() so the SQL twin is identical."""
    toks = tokens_col(F.lower(F.col(text_col)))
    ex = df.select("doc_id", F.explode_outer(toks).alias("tok"))
    bit_sums = [
        F.sum(
            F.when(F.col("tok").isNull(), F.lit(0)).otherwise(
                F.expr(
                    f"(position(substring(md5(tok), {b + 1}, 1), '0123456789abcdef') - 1) % 2"
                )
                * 2
                - 1
            )
        ).alias(f"s{b}")
        for b in range(16)
    ]
    agg = ex.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for b in range(16):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select("doc_id", sim.cast("int").alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard ≥ threshold.

    Candidates come from a shared-shingle equi-join (never all-pairs):
    explode distinct shingles → self-join → |A∩B| per pair → Jaccard via
    per-doc shingle-set sizes.

    ``max_doc_freq`` is the hot-shingle skew guard: shingles shared by
    more than that many documents ("in the ..." boilerplate) are dropped
    from the representation BEFORE the self-join — one cheap aggregate —
    so no join key fans out quadratically.  The per-doc set sizes are
    computed over the same filtered set, keeping the Jaccard a true
    set similarity of the retained shingles (the SQL oracle mirrors the
    cap exactly).  Without a cap, one stop-word 3-gram shared by 1% of
    docs at 10^10 docs would mean 10^16 candidate pairs — so the cap is
    ON by default (1000, matching the LSH ``bucket_cap`` convention);
    pass ``max_doc_freq=None`` to explicitly opt out on corpora known to
    be boilerplate-free (VERDICT r02 #4: None must be the opt-out, not
    the default).
    """
    sh = df.select(
        "doc_id", F.explode(F.array_distinct(shingles_col(F.col(text_col)))).alias("sh")
    )
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("sh")
        )
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "sh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    # sizes is one row per DOCUMENT — never force-broadcast it (at the
    # corpus scales this function is designed for, that is a driver
    # collect of the whole corpus); AQE picks broadcast when it fits
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.floor(
                (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def neardup_tables_for(
    threshold: float,
    sign_dims: int = 4,
    target_recall: float = 0.90,
    max_tables: int = 16,
) -> int:
    """Smallest sign-LSH table count whose ANALYTIC recall at the cosine
    ``threshold`` clears ``target_recall``.

    Random-hyperplane LSH collision probability per bit is
    1 − θ/π with θ = arccos(cosine) (Charikar 2002, public result); a
    table of ``sign_dims`` bits matches with p = (1 − θ/π)^sign_dims and
    T independent tables recall 1 − (1 − p)^T.  Axis-aligned planes on
    near-isotropic embeddings track the same curve (measured within a
    few points in tests/test_dedup.py).  Lower thresholds need more
    tables: 0.9 → 3, 0.8 → 5, 0.6 → 9, 0.4 → 14 at sign_dims=4,
    target 0.9.
    """
    p1 = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    p = p1**sign_dims
    if p >= 1.0:
        return 1
    if p <= 0.0:
        return max_tables
    t = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p))
    return max(1, min(t, max_tables))


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.40,
    sign_dims: int = 4,
    n_tables: int | None = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs: (id_a, id_b, cosine) with
    cosine ≥ threshold, id_a < id_b.

    Candidate generation is MULTI-TABLE sign-LSH: table t's bucket key
    packs the signs of dimensions [t·sign_dims, (t+1)·sign_dims)
    (axis-aligned hyperplanes); a pair is a candidate if it shares a
    bucket in ANY table.  Each table's equi-join is never all-pairs, so
    at 100 TB the shuffle moves each row n_tables times (the standard
    LSH recall-for-shuffle trade) and the quadratic step is confined to
    ~n/2^sign_dims-sized buckets per table (raise sign_dims as density
    grows; a hot bucket is the skew signal for operators/skew.py).
    Exact cosine (zip_with product → aggregate sum, all JVM
    higher-order functions — no Python) filters the candidates; rounded
    to 6 decimals so the DuckDB oracle lands on the same side.
    Requires n_tables·sign_dims ≤ vector dimension.

    Measured quality (sf0.01 embeddings, threshold 0.40, sign_dims=4):
    precision exactly 1.0 (every emitted pair clears the threshold) and
    recall 0.81 vs the brute all-pairs oracle (48/59 true pairs);
    pinned ≥0.7 by tests/test_dedup.py::test_embedding_neardup_measured_recall.

    RECALL < 1, by design: a qualifying pair whose vectors disagree in
    a sign within EVERY table is never tested (precision is exact —
    every emitted pair truly clears the threshold).  One 4-dim table
    measured recall 0.20 on the sf0.01 corpus at threshold 0.40; eight
    tables lift it to 1-(1-r₁)^8 under independence — measured ≥0.7 on
    the sf0.01 corpus (tests/test_dedup.py pins that floor).  Pass
    ``n_tables=None`` to size the table count FROM the threshold
    analytically (:func:`neardup_tables_for`, target recall 0.9, capped
    by the vector dimension — one first() row probe discovers it); the
    static default 8 keeps the driver oracle's blocking stable.  The
    driver oracle mirrors the same blocking — its green row proves
    "blocking + distance implemented exactly", not "every near-dup
    found".  For exact-recall blocking on BINARY fingerprints see
    ``phash_neardup_pairs`` (pigeonhole bands).
    """
    # one-row dim probe: beyond-dim tables would read element_at → NULL,
    # silently collapsing EVERY row into one global bucket per table and
    # going quadratic (r03 review) — fail loudly instead
    dim_row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    dim = int(dim_row["d"]) if dim_row else sign_dims
    if n_tables is None:
        n_tables = min(
            neardup_tables_for(threshold, sign_dims), max(1, dim // sign_dims)
        )
    if n_tables * sign_dims > dim:
        raise ValueError(
            f"embedding_neardup_pairs: n_tables*sign_dims = {n_tables * sign_dims} "
            f"exceeds vector dimension {dim}"
        )
    emb = F.col(vec_col)
    norm = F.sqrt(
        F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )

    def bucket(t: int):
        b = None
        for i in range(sign_dims):
            bit = F.when(
                F.element_at(emb, t * sign_dims + i + 1) >= 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
            b = bit if b is None else b + bit
        return b.cast("int")

    tables_arr = F.array(
        *[F.struct(F.lit(t).alias("t"), bucket(t).alias("bkt")) for t in range(n_tables)]
    )
    base = df.select(
        F.col(id_col).alias("id"),
        emb.alias("e"),
        norm.alias("nrm"),
        F.explode(tables_arr).alias("tb"),
    ).select("id", "e", "nrm", F.col("tb.t").alias("t"), F.col("tb.bkt").alias("bkt"))
    a = base.select(
        F.col("id").alias("id_a"), F.col("e").alias("ea"), F.col("nrm").alias("na"), "t", "bkt"
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb"), "t", "bkt"
    )
    dot = F.aggregate(
        F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # floor-form rounding per the CLAUDE.md float-output invariant (the
    # oracle emits the same floor(x·1e6 + 0.5)/1e6)
    cos6 = F.floor(dot / (F.col("na") * F.col("nb")) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        a.join(b, ["t", "bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos6)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
        .distinct()
    )


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free a SPENT localCheckpoint's storage blocks — safe only when the
    frame is never read again (we release round k−1 after round k is
    eagerly materialized).  DataFrame.unpersist can't reach checkpoint
    blocks, so this goes through the LogicalRDD plan leaf and drops its
    blocks with ``SparkContext.unpersistRDD``: ``RDD.unpersist`` would
    also warn, once per released round, that a locally checkpointed RDD
    cannot be recomputed, which is what "spent" means here.  Unguarded:
    a change in Spark's internals raises instead of silently leaving
    every round's blocks to the garbage collector."""
    sc = df.sparkSession.sparkContext._jsc.sc()
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            sc.unpersistRDD(leaf.rdd().id(), False)


def _star_round(e: DataFrame, large: bool) -> DataFrame:
    r"""One large-star / small-star step (Kiveris et al., "Connected
    Components in MapReduce and Beyond").  ``e`` holds directed edges
    (src, dst); per node u with neighborhood G(u):

    - large-star: m = min(G(u) U {u}); emit (v, m) for v in G(u), v > u
    - small-star: over L = {v in G(u): v < u}: m = min(L); emit (v, m)
      for v in (L U {u}) \ {m}

    Degree-safe shape: per-node minima by groupBy-min, then ONE
    equi-join back onto the edge list — no collect_set, so a super-node
    (a boilerplate near-dup hub) never has to fit its neighbor list in
    a single task.  Alternating the two steps provably converges in
    O(log^2 n) rounds (O(log n) in practice) to a union of stars
    centered at each component's minimum id, and the edge list SHRINKS
    as components contract — late rounds get cheaper, not slower.
    """
    if large:
        nbrs = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    else:
        nbrs = e.select(
            F.greatest(F.col("src"), F.col("dst")).alias("src"),
            F.least(F.col("src"), F.col("dst")).alias("dst"),
        ).distinct()
    mins = nbrs.groupBy("src").agg(F.min("dst").alias("_mn"))
    m = F.least(F.col("_mn"), F.col("src")).alias("m")  # = _mn for small (dst < src)
    if large:
        out = (
            nbrs.join(mins, "src")
            .select("dst", m)
            .filter(F.col("dst") > F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        return out.distinct()
    out = (
        nbrs.join(mins, "src")
        .filter(F.col("dst") != F.col("_mn"))
        .select(F.col("dst").alias("src"), F.col("_mn").alias("dst"))
    )
    centers = mins.select(F.col("src"), F.col("_mn").alias("dst"))  # dst < src always
    return out.union(centers).distinct()


def connected_components(pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b",
                         max_iter: int = 25) -> DataFrame:
    """Duplicate-group resolution: connected components over near-dup
    pairs — (doc_id, comp_id) with comp_id = the component's smallest
    doc id.  Alternating large-star/small-star rounds (_star_round;
    Kiveris et al.) — the O(log n)-round CC whose per-round work also
    SHRINKS with the contracting edge list.

    History (why not label propagation): the original min-label loop
    needed diameter-many rounds, and DBSCAN's near-percolation core
    graphs exposed two failure modes — uncheckpointed lineage doubles
    per round (the round plan references labels twice → OOM past ~15
    rounds), and even with per-round localCheckpoint + a path-halving
    hop the giant component's filament tails converged ~70 vertices a
    round with per-round wall time inexplicably compounding.  Star
    contraction replaces the label table entirely: each round is
    groupBy-min + join over the (shrinking) edge list, convergence is an
    exact set-equality test (count + anti-join — type-agnostic, doc ids
    may be strings), and the sf0.1 giant component closes in ~8 rounds.

    Each round still localCheckpoints (lineage truncation) and releases
    the previous round's blocks (_release_local_checkpoint).
    """
    e = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    vertices = (
        e.select(F.col("src").alias("doc_id"))
        .union(e.select(F.col("dst").alias("doc_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = None
    prev_n = -1
    converged = False
    for _ in range(max_iter):
        e = _star_round(_star_round(e, large=True), large=False)
        e = e.localCheckpoint(eager=True)
        # exact, type-agnostic fixpoint test (doc ids may be strings):
        # both rounds are distinct checkpointed sets, so equal count +
        # empty anti-join <=> the edge set is unchanged
        n = e.count()
        converged = (
            prev is not None
            and n == prev_n
            and e.join(prev, ["src", "dst"], "left_anti").isEmpty()
        )
        if prev is not None:
            _release_local_checkpoint(prev)
        prev, prev_n = e, n
        if converged:
            break
    # fixpoint: e is a union of stars (v, center); centers + isolated
    # pair-endpoints label themselves
    out = vertices.join(e, vertices.doc_id == e.src, "left").select(
        "doc_id", F.coalesce(F.col("dst"), F.col("doc_id")).alias("comp_id")
    )
    if not converged:
        # max_iter exhausted before the star fixpoint: e need not be a
        # union of stars, so a vertex could carry several (v, center)
        # edges — collapse to ONE label per vertex (min keeps the result
        # deterministic and a valid, if coarser, component refinement)
        # instead of silently duplicating rows downstream.
        import warnings

        warnings.warn(
            f"connected_components: no fixpoint within max_iter={max_iter}; "
            "labels collapsed by min and may split true components",
            RuntimeWarning,
            stacklevel=2,
        )
        out = out.groupBy("doc_id").agg(F.min("comp_id").alias("comp_id"))
    return out


def hash_band_keys(ph: Column, n_bands: int, hash_bits: int = 64) -> Column:
    """Disjoint band keys for pigeonhole Hamming banding: the
    ``hash_bits``-wide hash splits into ``n_bands`` equal slices, each
    emitted as a (bi, bv) struct.  Any pair at Hamming distance <
    n_bands shares at least one identical band — the exact-recall
    guarantee both the self-join (:func:`phash_neardup_pairs`) and the
    stream-static arrival check build on."""
    assert hash_bits % n_bands == 0
    width = hash_bits // n_bands
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("bi"),
                F.shiftrightunsigned(ph, b * width).bitwiseAND(F.lit(mask)).alias("bv"),
            )
            for b in range(n_bands)
        ]
    )


def phash_neardup_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 3,
    n_bands: int = 4,
    bucket_cap: int = 1000,
    hash_bits: int = 64,
) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual-hash Hamming distance —
    the image-payload analog of MinHash-LSH, entirely JVM-side.

    Banding with an EXACT recall guarantee (pigeonhole): the 64-bit
    phash splits into ``n_bands`` disjoint bands; a pair at Hamming
    distance < n_bands differs in fewer bits than there are bands, so
    at least one band is bit-identical and the pair lands in a shared
    bucket.  With the defaults (4 × 16-bit bands, max_hamming=3) NO
    qualifying pair can be missed — unlike MinHash, which is
    probabilistic.

    Plan shape mirrors ``lsh_candidate_pairs``: explode band keys →
    ONE shuffle on (band_idx, band_value) → in-bucket pair expansion →
    exact ``bit_count(xor)`` filter, distinct.  No self-join, no
    Python.  The same ``bucket_cap`` star-pair guard bounds degenerate
    buckets (e.g. a flat-color phash shared by millions of thumbnails):
    capped buckets emit O(n) star pairs that keep the bucket one
    connected component for downstream ``connected_components``, at the
    cost of pair-level exactness inside that bucket only.
    """
    # generalizes to any hash width (e.g. hash_bits=16 for simhash16):
    # the pigeonhole bound max_hamming < n_bands holds regardless
    ph = F.col(phash_col)
    bands = hash_band_keys(ph, n_bands, hash_bits)
    exploded = df.select(
        F.col(id_col).alias("id"), ph.alias("ph"), F.explode(bands).alias("band")
    ).select("id", "ph", F.col("band.bi").alias("bi"), F.col("band.bv").alias("bv"))
    buckets = exploded.groupBy("bi", "bv").agg(
        F.sort_array(F.collect_list(F.struct("id", "ph"))).alias("docs")
    )
    docs = F.col("docs")
    all_pairs = F.flatten(
        F.transform(
            docs,
            lambda a, i: F.transform(
                F.slice(docs, i + 2, F.size(docs)),
                lambda b: F.struct(
                    a["id"].alias("id_a"), b["id"].alias("id_b"),
                    a["ph"].alias("ph_a"), b["ph"].alias("ph_b"),
                ),
            ),
        )
    )
    star_pairs = F.transform(
        F.slice(docs, 2, F.size(docs) - 1),
        lambda b: F.struct(
            F.element_at(docs, 1)["id"].alias("id_a"), b["id"].alias("id_b"),
            F.element_at(docs, 1)["ph"].alias("ph_a"), b["ph"].alias("ph_b"),
        ),
    )
    pairs = (
        buckets.filter(F.size("docs") > 1)
        .select(
            F.explode(
                F.when(F.size("docs") <= bucket_cap, all_pairs).otherwise(star_pairs)
            ).alias("p")
        )
        .select("p.*")
        .distinct()
    )
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return pairs.filter(ham <= max_hamming).select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Cross-document exact-substring dedup (rolling k-token windows)
# ---------------------------------------------------------------------------

def substring_span_stats(df: DataFrame, k: int = 8, text_col: str = "text") -> DataFrame:
    """Cross-document EXACT-substring duplication stats: for every doc,
    how many of its k-token rolling windows also appear verbatim in at
    least one OTHER document (the scalable fixed-window re-expression of
    suffix-array substring dedup, Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — public recipe).  The
    within-doc dual is ``text.repetition_stats``; this one catches
    boilerplate, licence blocks, and copy-paste contamination ACROSS the
    corpus, which per-doc filters cannot see.

    Per doc: ``n_spans`` (k-token windows), ``n_dup_spans`` (window
    occurrences whose md5 key appears under ≥2 distinct doc_ids),
    ``dup_span_ratio`` = n_dup_spans/n_spans floor-form quantized to
    1e-6 (0.0 for docs shorter than k tokens — they stay in the output).

    Scale shape: ONE explode (≈n_tokens rows per doc, constant-width md5
    keys) → ONE window shuffle keyed by span (min≠max doc_id over the
    key partition decides cross-doc duplication — no join back, no
    collect_set of doc lists that a hot boilerplate span would blow up)
    → ONE per-doc aggregation.  All JVM: transform/concat_ws/md5/window;
    zero Python.  A pathologically hot span key (the same licence header
    in 10^9 docs) is a single skewed window partition — AQE skew-split
    handles it, and the aggregate per row is O(1) (min/max only).
    """
    from pyspark.sql.window import Window

    # materialize the token array ONCE per row: the k element_at's inside
    # the gram lambda must not each re-run the split (k+1 tokenizations
    # per row is real CPU at corpus scale)
    d0 = df.select("doc_id", tokens_col(F.lower(F.col(text_col))).alias("_t"))
    toks = F.col("_t")
    n_tok = F.size(toks)
    gram_cnt = F.greatest(n_tok - F.lit(k - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(gram_cnt, F.lit(1))),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + F.lit(j)) for j in range(k)]),
    )
    grams = F.when(gram_cnt > 0, grams).otherwise(F.array().cast("array<string>"))
    ex = d0.select("doc_id", F.explode_outer(grams).alias("_gram"))
    keyed = ex.withColumn(
        "_key", F.when(F.col("_gram").isNotNull(), F.md5(F.col("_gram")))
    )
    w = Window.partitionBy("_key")
    dup = (
        F.col("_gram").isNotNull()
        & (F.min("doc_id").over(w) != F.max("doc_id").over(w))
    )
    flagged = keyed.withColumn("_dup", dup)
    n_spans = F.count(F.col("_gram"))
    n_dup = F.count_if(F.col("_dup"))
    ratio = F.when(
        n_spans > 0,
        F.floor(n_dup.cast("double") / n_spans * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
    ).otherwise(F.lit(0.0))
    return flagged.groupBy("doc_id").agg(
        n_spans.alias("n_spans"),
        n_dup.alias("n_dup_spans"),
        ratio.alias("dup_span_ratio"),
    )


def substring_span_stats_sql(rel: str = "documents", k: int = 8, text_col: str = "text") -> str:
    """DuckDB twin of :func:`substring_span_stats`: same tokenizer
    (trim→lower→whitespace split), same k-token concat_ws grams, same
    md5 span keys, same min≠max-over-key duplication flag, same
    floor-form 1e-6 ratio."""
    joined = " || ' ' || ".join(f"t[i + {j}]" for j in range(k))
    return f"""
      with tk as (
        select doc_id,
               case when length(trim({text_col})) = 0 then []
                    else string_split_regex(trim(lower({text_col})), '\\s+') end as t
        from {rel}),
      g as (
        select doc_id,
               case when len(t) - {k - 1} > 0
                    then list_transform(range(1, len(t) - {k - 1} + 1), i -> {joined})
                    else [] end as grams
        from tk),
      ex as (select doc_id, unnest(grams) as gram from g),
      keyed as (select doc_id, md5(gram) as key from ex),
      flagged as (
        select doc_id,
               (min(doc_id) over (partition by key)
                <> max(doc_id) over (partition by key)) as dup
        from keyed),
      agg as (
        select doc_id, count(*) as n_spans,
               count(*) filter (where dup) as n_dup
        from flagged group by doc_id)
      select t.doc_id,
             coalesce(a.n_spans, 0) as n_spans,
             coalesce(a.n_dup, 0) as n_dup_spans,
             case when coalesce(a.n_spans, 0) > 0
                  then floor(cast(a.n_dup as double) / a.n_spans * 1e6 + 0.5) / 1e6
                  else 0.0 end as dup_span_ratio
      from tk t left join agg a using (doc_id)
    """


def remove_dup_spans(df: DataFrame, k: int = 8, text_col: str = "text") -> DataFrame:
    """Cross-document exact-substring REMOVAL — the second half of the
    Lee et al. 2022 recipe that :func:`substring_span_stats` measures:
    every duplicated k-token span keeps exactly ONE canonical occurrence
    (the smallest (doc_id, pos) of its md5 key) and is cut from every
    other document; a token is dropped when ANY removed span covers it.
    → (doc_id, n_tokens, n_removed, removed_ratio, clean_text).
    clean_text preserves the original token case (span keys casefold);
    docs shorter than k tokens pass through whitespace-normalized.

    Scale shape: the span frame is the same ONE explode + ONE
    window-by-key shuffle as the stats op (row_number picks the
    canonical occurrence inside the same window pass — no join back);
    removed span positions then aggregate to a PER-DOC array (bounded
    by the doc's own token count) and re-join the doc table once.  The
    final coverage test is a per-row JVM higher-order fold —
    O(n_tokens × removed_spans) within one document only, never across
    the corpus.  Zero Python.
    """
    from pyspark.sql.window import Window

    d0 = df.select(
        "doc_id",
        tokens_col(F.col(text_col)).alias("_t"),
        tokens_col(F.lower(F.col(text_col))).alias("_tl"),
    )
    toks = F.col("_tl")
    n_tok = F.size(toks)
    gram_cnt = F.greatest(n_tok - F.lit(k - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(gram_cnt, F.lit(1))),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + F.lit(j)) for j in range(k)]),
    )
    grams = F.when(gram_cnt > 0, grams).otherwise(F.array().cast("array<string>"))
    sp = d0.select("doc_id", F.posexplode(grams).alias("_p0", "_gram")).select(
        "doc_id", (F.col("_p0") + F.lit(1)).alias("pos"), F.md5("_gram").alias("_key")
    )
    w = Window.partitionBy("_key")
    wo = Window.partitionBy("_key").orderBy("doc_id", "pos")
    fl = sp.select(
        "doc_id",
        "pos",
        (F.min("doc_id").over(w) != F.max("doc_id").over(w)).alias("_dup"),
        F.row_number().over(wo).alias("_rn"),
    )
    rm = (
        fl.filter(F.col("_dup") & (F.col("_rn") > 1))
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("_rp"))
    )
    j = d0.join(rm, "doc_id", "left").withColumn(
        "_rp", F.coalesce(F.col("_rp"), F.array().cast("array<bigint>"))
    )
    covered = lambda q: F.exists(
        F.col("_rp"), lambda p: (p <= q) & (q <= p + F.lit(k - 1))
    )
    kept = F.when(
        F.size("_t") > 0,
        F.filter(
            F.sequence(F.lit(1), F.greatest(F.size("_t"), F.lit(1))),
            lambda q: ~covered(q),
        ),
    ).otherwise(F.array().cast("array<int>"))
    j = j.withColumn("_kept", kept)
    n_removed = F.size("_t") - F.size("_kept")
    ratio = F.when(
        F.size("_t") > 0,
        F.floor(n_removed.cast("double") / F.size("_t") * F.lit(1e6) + F.lit(0.5))
        / F.lit(1e6),
    ).otherwise(F.lit(0.0))
    clean = F.concat_ws(
        " ", F.transform(F.col("_kept"), lambda q: F.element_at(F.col("_t"), q.cast("int")))
    )
    return j.select(
        "doc_id",
        F.size("_t").cast("int").alias("n_tokens"),
        n_removed.cast("int").alias("n_removed"),
        ratio.alias("removed_ratio"),
        clean.alias("clean_text"),
    )


def remove_dup_spans_sql(rel: str = "documents", k: int = 8, text_col: str = "text") -> str:
    """DuckDB twin of :func:`remove_dup_spans` — same casefolded md5 span
    keys, same (doc_id, pos) canonical pick, same coverage filter."""
    joined = " || ' ' || ".join(f"lt[i + {j}]" for j in range(k))
    return f"""
      with tk as (
        select doc_id,
               case when length(trim({text_col})) = 0 then []
                    else string_split_regex(trim({text_col}), '\\s+') end as t,
               case when length(trim({text_col})) = 0 then []
                    else string_split_regex(trim(lower({text_col})), '\\s+') end as lt
        from {rel}),
      sp as (
        select doc_id,
               cast(split_part(s, '|', 1) as bigint) as pos,
               split_part(s, '|', 2) as key
        from (
          select doc_id,
                 unnest(case when len(lt) - {k - 1} > 0
                             then list_transform(range(1, len(lt) - {k - 1} + 1),
                                                 i -> cast(i as varchar) || '|' || md5({joined}))
                             else [] end) as s
          from tk)),
      fl as (
        select doc_id, pos,
               (min(doc_id) over (partition by key)
                <> max(doc_id) over (partition by key)) as dup,
               row_number() over (partition by key order by doc_id, pos) as rn
        from sp),
      rm as (select doc_id, list(pos) as rp from fl where dup and rn > 1 group by doc_id),
      j as (
        select t.doc_id, t.t, coalesce(rm.rp, []) as rp
        from tk t left join rm using (doc_id)),
      kp as (
        select doc_id, t,
               list_filter(range(1, len(t) + 1),
                           q -> len(list_filter(rp, p -> p <= q and q <= p + {k - 1})) = 0) as kept
        from j)
      select doc_id,
             cast(len(t) as int) as n_tokens,
             cast(len(t) - len(kept) as int) as n_removed,
             case when len(t) > 0
                  then floor(cast(len(t) - len(kept) as double) / len(t) * 1e6 + 0.5) / 1e6
                  else 0.0 end as removed_ratio,
             coalesce(array_to_string(list_transform(kept, q -> t[q]), ' '), '') as clean_text
      from kp
    """


# --- content-defined chunking (byte-level near-dup) --------------------------

_CDC_W = 16  # rolling window bytes (weights 2^0..2^15)


def _gear_table(seed: int = 9) -> "np.ndarray":
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.integers(0, 1 << 62, size=256, dtype=np.int64).astype(np.uint64)


def cdc_chunk_fps(blob: bytes, avg_bits: int = 9, min_size: int = 64) -> list:
    """Content-defined chunk fingerprints of one blob (host kernel).

    Gear-style rolling hash (the FastCDC family, Xia et al. 2016 —
    public recipe): H(i) = Σ_{k<16} gear[b(i−k)]·2^k computed as a
    VECTORIZED shift-correlation (uint64 wraparound is the modulus), a
    boundary wherever (H & (2^avg_bits − 1)) == 0 → expected chunk size
    2^avg_bits; a ``min_size`` guard drops boundaries that would make a
    runt chunk.  Fingerprint per chunk = crc32 of its bytes, salted
    with the chunk LENGTH (cheap second dimension).

    The CDC property fixed-size blocking lacks: INSERTING bytes only
    perturbs the chunks that contain the edit — every later boundary
    re-synchronizes, so shifted copies still share most fingerprints.
    """
    import zlib

    import numpy as np

    b = np.frombuffer(blob, dtype=np.uint8)
    n = len(b)
    if n == 0:
        return []
    g = _GEAR[b.astype(np.int64)]
    H = np.zeros(n, dtype=np.uint64)
    for k in range(_CDC_W):
        H[k:] += g[: n - k if k else n] << np.uint64(k)
    mask = np.uint64((1 << avg_bits) - 1)
    cut = np.flatnonzero((H[_CDC_W:] & mask) == 0) + _CDC_W
    bounds = [0]
    for c in cut:
        if c - bounds[-1] >= min_size:
            bounds.append(int(c))
    if bounds[-1] != n:
        bounds.append(n)
    out = []
    for i in range(len(bounds) - 1):
        lo, hi = bounds[i], bounds[i + 1]
        out.append(
            (zlib.crc32(blob[lo:hi]) << 20) ^ (hi - lo)
        )
    return out


_GEAR = _gear_table()


def cdc_chunks(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    avg_bits: int = 9,
    min_size: int = 64,
) -> DataFrame:
    """(id, chunk_fp, n_chunks) rows — one per content-defined chunk of
    each blob (cdc_chunk_fps in one Arrow scan; the ingest-side
    producer for byte-level near-dup).  NULL blobs yield no rows."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            ids, fps, ncs = [], [], []
            for i in range(len(pdf)):
                blob = pdf[bytes_col].iloc[i]
                if blob is None:
                    continue
                f = cdc_chunk_fps(bytes(blob), avg_bits, min_size)
                ids.extend([pdf[id_col].iloc[i]] * len(f))
                fps.extend(f)
                ncs.extend([len(f)] * len(f))
            yield pd.DataFrame({id_col: ids, "chunk_fp": fps, "n_chunks": ncs})

    return df.select(id_col, bytes_col).mapInPandas(
        run, schema=f"{id_col} string, chunk_fp long, n_chunks int"
    )


def cdc_neardup_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    min_jaccard: float = 0.5,
    avg_bits: int = 9,
    min_size: int = 64,
    fp_cap: int = 1000,
) -> DataFrame:
    """Byte-level near-duplicate pairs by shared content-defined chunks
    — the binary-payload sibling of ngram_jaccard_pairs (catches
    shifted/concatenated/partially-edited binary copies that neither
    exact hashing nor fixed-offset blocking can, because CDC boundaries
    re-synchronize after an edit).

    Shape: cdc_chunks scan → inverted index on chunk_fp with the
    standard df-cap (``fp_cap`` drops degenerate fingerprints — e.g. a
    run of zero bytes shared by everything) → in-bucket pair counts →
    Jaccard over chunk multisets (distinct fps per doc).  One shuffle
    on chunk_fp, one on the pair key.

    → (id_a, id_b, shared, n_a, n_b, jaccard) with id_a < id_b.
    """
    ch = cdc_chunks(df, id_col, bytes_col, avg_bits, min_size).select(
        F.col(id_col).alias("_id"), "chunk_fp"
    ).distinct()
    sizes = ch.groupBy("_id").agg(F.count("*").alias("_n"))
    hot = ch.groupBy("chunk_fp").agg(F.count("*").alias("_df")).filter(
        F.col("_df") > fp_cap
    )
    idx = ch.join(F.broadcast(hot), "chunk_fp", "left_anti")
    a = idx.select(F.col("_id").alias("id_a"), "chunk_fp")
    b = idx.select(F.col("_id").alias("id_b"), "chunk_fp")
    pairs = (
        a.join(b, "chunk_fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    na = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("n_a"))
    nb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("n_b"))
    j = (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(min_jaccard))
    )
    return j.select("id_a", "id_b", "shared", "n_a", "n_b", "jaccard")
