"""Round-3 vector operators: k-means cell assignment (the trainable half of
IVF) and product-quantization ANN (encode + asymmetric-distance search).

Unlike the LSH/IVF candidate generators (rows-only by nature), both of these
are DETERMINISTIC integer-math pipelines: vectors quantize once to 1e-4
BIGINT arrays, every distance is an exact integer sum with a deterministic
(dist, id) tie-break — so both queries carry full DuckDB hash oracles, the
strongest signal available for a vector operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from oe_batch_processing_spark.operators.similarity import (
    ANN_REP_MIN_N,
    IVF_HIER_MIN_N,
    adaptive_cells_mod,
    adaptive_cells_mod_sql,
    ann_query_pred,
    ann_rep_expand_topk,
    lloyd_train_mod,
)
from oe_batch_processing_spark.registry import query
from oe_batch_processing_spark.tables import (
    load_table,
    persist_once,
    table_row_count,
)

CELLS_MOD = 37  # centroid subset: vec_id % 37 == 1 (matches similarity_topk_ivf)
EMB_DIM = 64

_QE = "transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1e4) AS BIGINT))"
_L2 = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "0L, (acc, v) -> acc + v)"
)

_DUCK_QE = "[CAST(ROUND(CAST(x AS DOUBLE) * 1e4) AS BIGINT) FOR x IN embedding]"


@query(
    "embedding_kmeans_assign",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {_DUCK_QE} AS qe FROM embeddings
    ),
    c AS (SELECT vec_id AS cell_id, qe AS ce FROM q
          WHERE vec_id % ({adaptive_cells_mod_sql(CELLS_MOD)}) = 1),
    d AS (
      SELECT v.vec_id, c.cell_id,
             CAST(LIST_SUM([(v.qe[i] - c.ce[i]) * (v.qe[i] - c.ce[i])
                            FOR i IN GENERATE_SERIES(1, {EMB_DIM})]) AS BIGINT)
               AS l2sq_scaled
      FROM q v CROSS JOIN c
    )
    SELECT vec_id, cell_id, l2sq_scaled FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY l2sq_scaled, cell_id) AS rn
      FROM d
    ) WHERE rn = 1
    """,
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means assignment step (one Lloyd E-step): every vector to its
    nearest centroid by exact squared L2 on 1e-4-quantized integers, ties
    broken by cell id. The centroid set is the deterministic subset the IVF
    query uses — on a cluster you'd swap in sampled+trained centroids; the
    plan is identical.

    Scale: centroids BROADCAST (k×d doubles — tiny); assignment is one
    argmin per vector computed as a per-row min-of-struct aggregation, so
    the only exchange is the groupBy(vec_id) combine. No window over the
    full N×k product, no shuffle of the embedding arrays.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # Intentionally NOT unpersisted: the returned lazy DataFrame still
    # reads this cache when the caller materializes it, so the blocks live
    # until session end (or LRU eviction) by design. The adaptive stride
    # reads the parquet FOOTER count (r15, metadata-only — no job; the
    # cache fills on the first real action, one source pass total).
    vecs = persist_once(emb.select("vec_id", F.expr(_QE).alias("qe")))
    # sqrt-scaled stride (no-op at committed SFs; oracle mirrors it)
    cells_mod = adaptive_cells_mod(
        CELLS_MOD, table_row_count(sf_dir, "embeddings")
    )
    cents = vecs.filter(F.col("vec_id") % cells_mod == 1).select(
        F.col("vec_id").alias("cell_id"), F.col("qe").alias("ce")
    )
    scored = vecs.join(F.broadcast(cents)).select(
        "vec_id",
        "cell_id",
        F.expr(_L2.format(a="qe", b="ce")).alias("l2sq_scaled"),
    )
    # argmin via min(struct(dist, cell)) — lexicographic struct ordering is
    # exactly the (dist, cell_id) tie-break, and a partial-aggregating
    # groupBy beats a row_number window (map-side combine, no sort).
    best = scored.groupBy("vec_id").agg(
        F.min(F.struct("l2sq_scaled", "cell_id")).alias("best")
    )
    return best.select(
        "vec_id",
        F.col("best.cell_id").alias("cell_id"),
        F.col("best.l2sq_scaled").alias("l2sq_scaled"),
    )


# --- product quantization ----------------------------------------------------

PQ_M = 8  # subspaces
PQ_SUBD = EMB_DIM // PQ_M  # dims per subspace
CODES_MOD = 31  # codebook vectors: vec_id % 31 == 1 (~16 codes per subspace)
_CODEBOOK_REF_N = 2000  # the sf0.1 corpus — the size every committed
# codebook geometry was fixed on, so the capped stride below is an exact
# no-op at every committed SF (2000 // (2000 // 31) == 31).
_CODEBOOK_TARGET = _CODEBOOK_REF_N // CODES_MOD  # ~64 codebook entries


def codebook_mod(n: int) -> int:
    """PQ codebook stride with a CONSTANT-size target — the FAISS shape:
    real product quantizers train a FIXED number of codes per subspace
    (k* = 256) on a sample, regardless of corpus size, so encode cost is
    linear in n. The r11 sqrt-scaled stride (adaptive_cells_mod) kept the
    codebook at ~sqrt(n) entries, which bounds encode at n^1.5 — correct
    for IVF CELL counts (the FAISS nlist heuristic) but not for PQ
    codebooks; the round-12 10x probe measured the pq encode at 18.2x for
    10x input (within its n^1.5 bound, and still the dominant term).
    ``max(CODES_MOD, n // {_CODEBOOK_TARGET})`` pins the codebook at
    ~{_CODEBOOK_TARGET} entries at every scale. Mirrored in SQL by
    :func:`codebook_mod_sql`."""
    return max(CODES_MOD, n // _CODEBOOK_TARGET)


def codebook_mod_sql(table: str = "embeddings") -> str:
    """DuckDB spelling of :func:`codebook_mod` (BIGINT floor-div of
    non-negative counts — engine-exact)."""
    return (
        f"GREATEST({CODES_MOD}, "
        f"(SELECT COUNT(*) FROM {table}) // {_CODEBOOK_TARGET})"
    )


PQ_TOP_K = 5
QUERY_MOD = 100  # query set matches the other similarity ops

_DUCK_SUBL2 = (
    f"CAST(LIST_SUM([(v.qe[t.s * {PQ_SUBD} + i] - c.ce[t.s * {PQ_SUBD} + i])"
    f" * (v.qe[t.s * {PQ_SUBD} + i] - c.ce[t.s * {PQ_SUBD} + i])"
    f" FOR i IN GENERATE_SERIES(1, {PQ_SUBD})]) AS BIGINT)"
)


@query(
    "similarity_topk_pq",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {_DUCK_QE} AS qe FROM embeddings
    ),
    cents AS (SELECT vec_id AS cent_id, qe AS ce FROM q
              WHERE vec_id % ({codebook_mod_sql()}) = 1),
    enc AS (
      SELECT vec_id, s, cent_id AS code FROM (
        SELECT v.vec_id, t.s, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id, t.s
                                  ORDER BY {_DUCK_SUBL2}, c.cent_id) AS rn
        FROM q v, (SELECT UNNEST(range({PQ_M})) AS s) t, cents c
      ) WHERE rn = 1
    ),
    qtab AS (
      SELECT v.vec_id AS query_id, t.s, c.cent_id,
             {_DUCK_SUBL2} AS qdist
      FROM q v, (SELECT UNNEST(range({PQ_M})) AS s) t, cents c
      WHERE v.vec_id % {QUERY_MOD} = 0
    ),
    adc AS (
      SELECT qt.query_id, e.vec_id AS neighbor_id,
             CAST(SUM(qt.qdist) AS BIGINT) AS approx_dist
      FROM enc e JOIN qtab qt ON qt.s = e.s AND qt.cent_id = e.code
      WHERE e.vec_id <> qt.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, approx_dist, rnk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY approx_dist, neighbor_id) AS INTEGER) AS rnk
      FROM adc
    ) WHERE rnk <= {PQ_TOP_K}
    """,
)
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 64-d vectors split into {PQ_M} subspaces of
    {PQ_SUBD} dims; each subvector is encoded as its nearest codebook entry
    (exact integer L2, deterministic tie-break), and queries search by
    asymmetric distance (ADC) — sum over subspaces of the query-to-code
    distance — then take top-k.

    Why PQ at 100 TB: the corpus compresses from 64 floats to {PQ_M} bytes
    per vector ({EMB_DIM * 4 // PQ_M}× smaller than raw), and the search scan
    reads ONLY codes plus a per-query distance table of k_codes × {PQ_M}
    entries — the memory-bandwidth profile that makes billion-vector search
    feasible. Encode: codebook BROADCAST, argmin per (vector, subspace) via
    min-of-struct groupBy (one combine-friendly exchange). Search: the
    query distance table BROADCAST onto the code stream, one sum per
    (query, vector), one top-k window. Every step is deterministic integer
    math, so the whole ANN pipeline is hash-checked against DuckDB — a
    stronger gate than the recall-based rows-only checks LSH/IVF allow.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # persist before the adaptive-stride count (the kmeans-assign recipe):
    # the count fills the cache the encode/search scans then read. With a
    # FIXED stride the codebook grows linearly and the n x ncodes encode
    # goes quadratic — the round-11 10x probe caught exactly that in
    # similarity_topk_ivfpq (26x for 10x input); sqrt-scaled codes keep
    # encode at ~n^1.5. No-op at committed SFs (sqrt(2000)*31//44 == 31);
    # the oracle mirrors the expression. The cache is intentionally left
    # alive after return (the returned lazy plan reads it) — leak-until-
    # session-end by design, reclaimed by LRU under memory pressure.
    # Round-robin repartition BEFORE persist (round-12, the semdedup/r9-IVF
    # recipe): the single-file test parquet yields 1-4 scan splits, and the
    # n x ncodes x 8-subspace encode — the heaviest HOF stage in the repo —
    # otherwise runs on that many cores instead of cluster-wide.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    vecs = (
        persist_once(emb.select("vec_id", F.expr(_QE).alias("qe"))
        .repartition(n_part))
    )
    # metadata-only n (r15): vecs is a row-preserving projection of the
    # embeddings table, so the parquet footer count equals vecs.count()
    # without firing a job; the persist still fills on first real action.
    n_vecs = table_row_count(sf_dir, "embeddings")
    codes_mod = codebook_mod(n_vecs)
    # Content-representative collapse of the SCAN side (round-13, the
    # dedup/LSH recipe): codes are content-determined (deterministic
    # integer sub-L2 argmin), so identical vectors encode identically and
    # the per-query ADC scan pays every replica — the 30x probe read 53.6x
    # total / 9.36x per fixed query. Above ANN_REP_MIN_N the encode + ADC
    # run on distinct vectors only; the top-k prune + membership expansion
    # (ann_rep_expand_topk) reproduce the flat output bit-identically.
    # The CODEBOOK stays id-selected from the FULL corpus (vec_id stride —
    # mirrored in the oracle SQL), so cents are unchanged by the collapse.
    collapse = n_vecs >= ANN_REP_MIN_N
    groups = None
    enc_src = vecs
    if collapse:
        groups = persist_once(
            vecs.groupBy("qe").agg(
                F.min("vec_id").alias("rep_id"),
                F.collect_list("vec_id").alias("members"),
            )
        )
        enc_src = groups.select(F.col("rep_id").alias("vec_id"), "qe")
    cents = vecs.filter(F.col("vec_id") % codes_mod == 1).select(
        F.col("vec_id").alias("cent_id"), F.col("qe").alias("ce")
    )
    sub_l2 = F.expr(
        _L2.format(
            a=f"slice(qe, s * {PQ_SUBD} + 1, {PQ_SUBD})",
            b=f"slice(ce, s * {PQ_SUBD} + 1, {PQ_SUBD})",
        )
    )
    subspaces = F.explode(F.expr(f"sequence(0, {PQ_M - 1})")).alias("s")

    scored = (
        enc_src.select("vec_id", "qe", subspaces)
        .join(F.broadcast(cents))
        .select("vec_id", "s", "cent_id", sub_l2.alias("subdist"))
    )
    enc = (
        scored.groupBy("vec_id", "s")
        .agg(F.min(F.struct("subdist", "cent_id")).alias("best"))
        .select("vec_id", "s", F.col("best.cent_id").alias("code"))
    )
    qtab = (
        vecs.filter(ann_query_pred(F.col("vec_id")))
        .select(F.col("vec_id").alias("query_id"), "qe", subspaces)
        .join(F.broadcast(cents))
        .select("query_id", "s", "cent_id", sub_l2.alias("qdist"))
    )
    adc_join = enc.join(
        F.broadcast(qtab),
        (enc["s"] == qtab["s"]) & (enc["code"] == qtab["cent_id"]),
    )
    if not collapse:
        # self-exclusion at rep level is wrong on the collapsed path (the
        # query's content class may hold other corpus vectors); it moves
        # into ann_rep_expand_topk's post-expansion filter there.
        adc_join = adc_join.filter(F.col("vec_id") != F.col("query_id"))
    adc = adc_join.groupBy(
        "query_id", F.col("vec_id").alias("neighbor_id")
    ).agg(F.sum("qdist").alias("approx_dist"))
    if collapse:
        rep_cand = adc.select(
            "query_id", F.col("neighbor_id").alias("rep_id"), "approx_dist"
        )
        adc = ann_rep_expand_topk(
            rep_cand, groups, PQ_TOP_K, "approx_dist", ascending=True
        )
    w = Window.partitionBy("query_id").orderBy("approx_dist", "neighbor_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= PQ_TOP_K)
        .select("query_id", "neighbor_id", "approx_dist", "rnk")
    )


# --- IVF + PQ hybrid ---------------------------------------------------------

# Round-9 coarse-quantizer geometry (tools/recall.py numpy sweep at sf0.1,
# budget = centroid dots + candidates per query): the old subset quantizer
# (mod 37 / 16 probes) had a PROBE CEILING of 0.69 — rerank 240 already
# recovered everything it admitted (r6 sweep), so residual-PQ codebooks
# could not have helped; the binding constraint was the coarse quantizer.
# Two deterministic L2 Lloyd rounds + finer cells (mod 17 -> ~118 cells,
# 30 probes) raise the ceiling to 0.77 at the same ~640-dot budget; the
# unchanged rerank depth still reaches it (verified via tools/recall.py).
IVFPQ_CELLS_MOD = 13  # coarse INIT: vec_id % 13 == 1, then Lloyd-refined
IVFPQ_LLOYD = 3       # deterministic L2 Lloyd rounds (exact integer means)
IVFPQ_NPROBE = 36     # 36/~154 cells (same budget as the old 16/~54);
# r10 sweep: 17x30x2 = 0.76, 13x36x2 = 0.81, 13x36x3 = 0.82 (adopted —
# the IVF sweep's winner transfers to the L2 coarse quantizer)
IVFPQ_RERANK = 240  # ADC shortlist rescored exactly per query (uniform-random
# test vectors are PQ's worst case — ADC ordering is noisy, so the shortlist
# must be deep; clustered real corpora get the same recall at ~1/4 the
# depth). r6 sweep: 60 -> 0.51, 120 -> 0.60, 240 -> 0.69 == the OLD probe
# ceiling. r9 sweep against the Lloyd-refined quantizer (ceiling 0.77):
# 120 -> 0.65, 240 -> 0.76, 360 -> 0.77 — 240 is still the knee; the last
# +0.01 costs 50% more raw-vector rescores, not taken.
IVFPQ_TOP_K = 5


# L2 distance between an integer-quantized vector and a double centroid
# (left fold in array order — deterministic)
_L2D = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _lloyd_refine_l2(
    vecs: DataFrame, coarse: DataFrame, rounds: int, sample_mod: int = 1
) -> DataFrame:
    """Deterministic distributed Lloyd refinement of the IVFPQ coarse
    quantizer in L2 space over the integer-quantized vectors — the same
    shape (and rationale) as similarity._lloyd_refine: broadcast argmin
    assignment, exact BIGINT component sums per cell (order-independent
    means -> bit-identical centroids across runs/cluster sizes), cells that
    lose every member drop out. Centroids come out as double arrays;
    distances against them use _L2D. ``sample_mod`` > 1 trains the rounds
    on the deterministic ``vec_id % sample_mod == 1`` sample (FAISS
    train/add split — see similarity.lloyd_train_mod); 1 == the committed
    SFs == bit-identical to unsampled training."""
    train = vecs
    made_sample = sample_mod > 1
    if made_sample:
        train = persist_once(vecs.filter(F.col("vec_id") % sample_mod == 1))
    for _ in range(rounds):
        l2 = F.expr(_L2D.format(a="qe", b="ce"))
        assigned = (
            train.crossJoin(F.broadcast(coarse))
            .select("vec_id", "qe", l2.alias("l2c"), "cell_id")
            .groupBy("vec_id")
            .agg(
                F.min(F.struct("l2c", "cell_id")).alias("b"),
                F.first("qe").alias("qe"),
            )
            .select(F.col("b.cell_id").alias("cell_id"), "qe")
        )
        coarse = (
            assigned.select("cell_id", F.posexplode("qe").alias("pos", "x"))
            .groupBy("cell_id", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .groupBy("cell_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
                    lambda t: t["s"].cast("double") / t["n"],
                ).alias("ce")
            )
            .localCheckpoint(eager=True)  # keep the per-round plan flat
        )
    if made_sample:
        train.unpersist()  # centroids are checkpointed — the sample is done
    return coarse


def _ivfpq_hier_cell_scores(
    vecs: DataFrame,
    coarse: DataFrame,
    cells_mod: int,
    route: DataFrame = None,  # noqa: RUF013
) -> DataFrame:
    """Two-level (super -> cell) L2 scoring for the IVFPQ coarse quantizer
    — the restricted (vec_id, cell_id, l2c) frame that replaces the flat
    n x ncells broadcast join above IVF_HIER_MIN_N. Same construction as
    similarity._ivf_hier_cell_scores (see its docstring for the shape and
    cost argument) with the family's integer-vs-double L2 metric: a
    sub-stride super layer of ~sqrt(ncells) refined centroids routes both
    the cell centroids (cell -> best super, argmin (l2, id)) and the
    vectors (top supers by L2, then score only the routed cells). The 30x
    artifact's own finding named this build's full n x ncells assignment
    as the n^1.5 bound (46.1x total at 30x); committed SFs stay on the
    flat path bit-identically below the gate. ``route`` (round-13
    content-collapse): the frame actually scored — defaults to ``vecs``;
    the collapsed path passes content representatives while the centroid
    layers stay full-corpus id-strides."""
    import math

    if route is None:
        route = vecs
    ncells = coarse.count()  # centroid-table action: sqrt(n) rows, cached
    cf = max(2, math.isqrt(max(1, ncells)))
    super_mod = cells_mod * cf
    sup = coarse.filter(F.col("cell_id") % super_mod == 1).select(
        F.col("cell_id").alias("super_id"), F.col("ce").alias("se")
    )
    f2s = (
        coarse.join(F.broadcast(sup))
        .select(
            "cell_id", "ce", "super_id",
            F.expr(_L2D.format(a="ce", b="se")).alias("l2"),
        )
        .groupBy("cell_id")
        .agg(
            F.min(F.struct("l2", "super_id")).alias("b"),
            F.first("ce").alias("ce"),
        )
        .select(F.col("b.super_id").alias("super_id"), "cell_id", "ce")
    )
    vs = route.join(F.broadcast(sup)).select(
        "vec_id", "super_id",
        F.expr(_L2D.format(a="qe", b="se")).alias("l2"),
    )
    n_sup_probes = max(2, (2 * IVFPQ_NPROBE + cf - 1) // cf)
    wp = Window.partitionBy("vec_id").orderBy("l2", "super_id")
    probed = (
        vs.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= n_sup_probes)
        .select("vec_id", "super_id")
    )
    # persist: the frame feeds BOTH the assignment argmin and the query
    # probes — without it each consumer replays the two-shuffle routing
    return (
        probed.join(route, "vec_id")
        .join(F.broadcast(f2s), "super_id")
        .select(
            "vec_id", "cell_id",
            F.expr(_L2D.format(a="qe", b="ce")).alias("l2c"),
        )
        .persist()
    )


@query("similarity_topk_ivfpq")  # approximate candidate gen => rows-only
def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ hybrid ANN — the production billion-vector search shape
    (FAISS IVFPQ): a coarse quantizer prunes the corpus to N_PROBE cells,
    asymmetric PQ distance scans ONLY the probed cells' 8-byte codes, and
    an exact rescore of the top-{IVFPQ_RERANK} ADC shortlist produces the
    final cosine top-{IVFPQ_TOP_K}.

    Why this beats either half alone at 100 TB: IVF-only rescores every
    vector in the probed cells with full 64-d exact math (memory-bandwidth
    bound on raw vectors); PQ-only scans ALL N compressed codes. The hybrid
    scans codes for corpus/cells*nprobe candidates and touches raw vectors
    for just {IVFPQ_RERANK} rows per query. Every stage is the broadcast /
    partial-agg shape of its parent operator (embedding_kmeans_assign,
    similarity_topk_pq); the only candidate-sized shuffle is the ADC
    groupBy. Recall@5 vs exact brute force is tracked per round in
    COVERAGE.md (rows-only: candidate generation is approximate by design).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # single-split test parquet -> bounded round-robin fan-out before the
    # interpreted HOF scoring stages (same fix as the codec pipelines)
    vecs = (
        persist_once(emb.select("vec_id", F.expr(_QE).alias("qe"))
        .repartition(spark.sparkContext.defaultParallelism))
    )
    nrm = F.sqrt(
        F.expr("aggregate(qe, 0L, (acc, x) -> acc + x * x)") / F.lit(1e8)
    )

    # coarse quantizer: deterministic subset init (sqrt-scaled stride —
    # a no-op at the committed SFs, ncells ~ sqrt(n) beyond), Lloyd-refined
    # on a bounded deterministic sample (also a committed-SF no-op): the
    # build pays ONE full n x ncells assignment pass, not LLOYD+1 of them
    # metadata-only n (r15): vecs is a row-preserving projection of the
    # embeddings table, so the parquet footer count equals vecs.count()
    # without firing a job; the persist still fills on first real action.
    n_vecs = table_row_count(sf_dir, "embeddings")
    # Content-collapse of the scan side (round-13, the LSH/PQ recipe):
    # the coarse quantizer INIT + Lloyd training and the PQ codebook stay
    # id-selected from the full corpus (unchanged index), but assignment,
    # probing, PQ encode, and the ADC scan are content-determined given
    # those tables, so they run on distinct qe arrays; the ADC shortlist
    # expands back through ann_rep_expand_topk at the RERANK boundary and
    # is re-truncated member-level, so the exact rescore sees the
    # identical shortlist. Gated so committed SFs keep the flat plan.
    collapse = n_vecs >= ANN_REP_MIN_N
    groups = None
    membership = None
    src = vecs
    if collapse:
        groups = persist_once(
            vecs.groupBy("qe").agg(
                F.min("vec_id").alias("rep_id"),
                F.collect_list("vec_id").alias("members"),
            )
        )
        src = groups.select(F.col("rep_id").alias("vec_id"), "qe")
        membership = groups.select(
            "rep_id", F.explode("members").alias("member")
        )
        # reps whose content class holds >= 1 query member — semi-join
        # target for the probe window (round-14, advisor; see the IVF
        # twin): ranks per rep are unchanged, non-query reps never
        # survive the membership join anyway.
        query_reps = F.broadcast(
            membership.filter(ann_query_pred(F.col("member")))
            .select(F.col("rep_id").alias("vec_id"))
            .distinct()
        )
    cells_mod = adaptive_cells_mod(IVFPQ_CELLS_MOD, n_vecs)
    coarse = vecs.filter(F.col("vec_id") % cells_mod == 1).select(
        F.col("vec_id").alias("cell_id"),
        F.expr("transform(qe, x -> CAST(x AS DOUBLE))").alias("ce"),
    )
    coarse = _lloyd_refine_l2(vecs, coarse, IVFPQ_LLOYD, lloyd_train_mod(n_vecs, cells_mod))
    if n_vecs >= IVF_HIER_MIN_N:
        # two-level quantizer build (round-13) — see _ivfpq_hier_cell_scores
        cell_scored = _ivfpq_hier_cell_scores(
            vecs, coarse, cells_mod, route=src if collapse else None
        )
    else:
        cell_l2 = F.expr(_L2D.format(a="qe", b="ce")).alias("l2c")
        cell_scored = src.join(F.broadcast(coarse)).select(
            "vec_id", "cell_id", cell_l2
        )
    assigned = (
        cell_scored.groupBy("vec_id")
        .agg(F.min(F.struct("l2c", "cell_id")).alias("best"))
        .select("vec_id", F.col("best.cell_id").alias("cell_id"))
    )
    w_probe = Window.partitionBy("vec_id").orderBy("l2c", "cell_id")
    if collapse:
        # a query's probe cells are its rep's (content-determined)
        src_probes = (
            cell_scored.join(query_reps, "vec_id", "left_semi")
            .withColumn("rk", F.row_number().over(w_probe))
            .filter(F.col("rk") <= IVFPQ_NPROBE)
            .select("vec_id", "cell_id")
        )
        probes = (
            membership.filter(ann_query_pred(F.col("member")))
            .join(src_probes.withColumnRenamed("vec_id", "rep_id"), "rep_id")
            .select(F.col("member").alias("query_id"), "cell_id")
        )
    else:
        probes = (
            cell_scored.filter(ann_query_pred(F.col("vec_id")))
            .withColumn("rk", F.row_number().over(w_probe))
            .filter(F.col("rk") <= IVFPQ_NPROBE)
            .select(F.col("vec_id").alias("query_id"), "cell_id")
        )

    # PQ codes (same codebook subset + integer sub-L2 as similarity_topk_pq;
    # same sqrt-scaled stride — with a FIXED stride the n x ncodes encode
    # is the quadratic stage the round-11 10x probe flagged at 26x)
    codes_mod = codebook_mod(n_vecs)
    codes = vecs.filter(F.col("vec_id") % codes_mod == 1).select(
        F.col("vec_id").alias("cent_id"), F.col("qe").alias("ce")
    )
    sub_l2 = F.expr(
        _L2.format(
            a=f"slice(qe, s * {PQ_SUBD} + 1, {PQ_SUBD})",
            b=f"slice(ce, s * {PQ_SUBD} + 1, {PQ_SUBD})",
        )
    )
    subspaces = F.explode(F.expr(f"sequence(0, {PQ_M - 1})")).alias("s")
    sub_scored = (
        src.select("vec_id", "qe", subspaces)
        .join(F.broadcast(codes))
        .select("vec_id", "s", "cent_id", sub_l2.alias("subdist"))
    )
    enc = (
        sub_scored.groupBy("vec_id", "s")
        .agg(F.min(F.struct("subdist", "cent_id")).alias("best"))
        .select("vec_id", "s", F.col("best.cent_id").alias("code"))
    )
    qtab = (
        vecs.filter(ann_query_pred(F.col("vec_id")))
        .select(F.col("vec_id").alias("query_id"), "qe", subspaces)
        .join(F.broadcast(codes))
        .select("query_id", "s", "cent_id", sub_l2.alias("qdist"))
    )

    # ADC over probed cells only
    cand = probes.join(assigned, "cell_id")
    if not collapse:
        # self-exclusion moves into ann_rep_expand_topk's post-expansion
        # filter on the collapsed path
        cand = cand.filter(F.col("vec_id") != F.col("query_id"))
    cand = cand.select("query_id", "vec_id")
    if n_vecs >= IVF_HIER_MIN_N:
        # same AQE-coalesce trap as the IVF rescore (see similarity.py):
        # the probe-cell join explodes ~|cell|x while its shuffle input
        # stays small, so the ADC's map side would run a few tasks wide.
        # Keyed on vec_id — the enc join's key, so no extra exchange.
        cand = cand.repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
            "vec_id",
        )
    qtab2 = qtab.select(
        F.col("query_id").alias("q2"),
        F.col("s").alias("s2"),
        F.col("cent_id").alias("c2"),
        "qdist",
    )
    adc = (
        cand.join(enc, "vec_id")
        .join(
            F.broadcast(qtab2),
            (F.col("q2") == F.col("query_id"))
            & (F.col("s2") == F.col("s"))
            & (F.col("c2") == F.col("code")),
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qdist").alias("approx_dist"))
    )
    if collapse:
        # expand the rep-level ADC ranking at the RERANK boundary (the
        # superset prune covers the member-level top-RERANK), then
        # re-truncate member-level so the exact rescore sees the
        # identical shortlist the flat path would build
        adc = ann_rep_expand_topk(
            adc.withColumnRenamed("neighbor_id", "rep_id"),
            groups,
            IVFPQ_RERANK,
            "approx_dist",
            ascending=True,
        )
    w_adc = Window.partitionBy("query_id").orderBy("approx_dist", "neighbor_id")
    shortlist = (
        adc.withColumn("rk", F.row_number().over(w_adc))
        .filter(F.col("rk") <= IVFPQ_RERANK)
        .select("query_id", "neighbor_id")
    )

    # exact cosine rescore of the shortlist
    raw = vecs.select("vec_id", "qe", nrm.alias("nrm"))
    queries = (
        raw.filter(ann_query_pred(F.col("vec_id")))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("qe").alias("q_qe"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    dot = "aggregate(zip_with(q_qe, qe, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    rescored = (
        shortlist.join(raw, shortlist["neighbor_id"] == raw["vec_id"])
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            ((F.expr(dot) / F.lit(1e8)) / (F.col("q_nrm") * F.col("nrm"))).alias(
                "cosine"
            ),
        )
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    return (
        rescored.withColumn("rnk", F.row_number().over(w_final).cast("int"))
        .filter(F.col("rnk") <= IVFPQ_TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


_QE5 = "transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * 1e5) AS BIGINT))"
_DUCK_QE5 = "[CAST(ROUND(CAST(v AS DOUBLE) * 1e5) AS BIGINT) FOR v IN embedding]"
_MM_QUERY_MOD = 100  # query subset: vec_id % 100 == 0 (same as topk_cosine)
_MM_TOP_K = 5


@query(
    "similarity_topk_matmul",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {_DUCK_QE5} AS qe FROM embeddings
    ),
    elems AS (
      SELECT vec_id, i, qe[i] AS v
      FROM (SELECT vec_id, qe, generate_subscripts(qe, 1) AS i FROM q)
    ),
    norms AS (
      SELECT vec_id, SQRT(SUM(v * v) / 1e10) AS nrm
      FROM elems GROUP BY vec_id
    ),
    dots AS (
      SELECT a.vec_id AS query_id, d.vec_id AS neighbor_id,
             SUM(a.v * d.v) AS dot_scaled
      FROM elems a JOIN elems d ON a.i = d.i
      WHERE a.vec_id % {_MM_QUERY_MOD} = 0 AND d.vec_id <> a.vec_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, cosine, rnk
    FROM (
      SELECT query_id, neighbor_id,
             (dot_scaled / 1e10) / (nd.nrm * nq.nrm) AS cosine,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY (dot_scaled / 1e10) / (nd.nrm * nq.nrm) DESC,
                        neighbor_id
             ) AS INTEGER) AS rnk
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nd ON nd.vec_id = neighbor_id
    )
    WHERE rnk <= {_MM_TOP_K}
    """,
)
def similarity_topk_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k on the BLAS path: per Arrow batch, the corpus
    block multiplies the (broadcast-by-closure) query matrix as ONE
    int64 matrix product, each task emits only its local top-k per
    query, and a final window merges the partials — the vectorized
    rerank shape you run when the scoring kernel belongs in
    numpy/BLAS/GPU rather than codegen. Same answer as
    ``similarity_topk_cosine`` (both exact), different physical plan:
    that one evaluates Q dot products per row inside codegen; this one
    trades JVM expression evaluation for one matmul per batch plus a
    k*|parts|*|Q|-row shuffle (vs N*|Q| for a naive cross join — the
    partial top-k is what makes the merge cheap at 100 TB).

    Exactness (why an ANN-shaped op can carry a full hash oracle):
    elements quantize to 1e-5-resolution BIGINT once; dot products and
    squared norms are exact int64 sums (max |dot| ~ 6.4e11 < 2^53, so
    the int->double conversion is exact); the cosine is then the same
    three IEEE ops — (dot/1e10) / (nrm_d * nrm_q) — evaluated by numpy
    here and by DuckDB in the oracle, bit-identical. Ranking ties break
    by neighbor_id in both.

    The driver-side collect of the query block is the matmul twin of
    ``F.broadcast(queries)`` — bounded (|Q| = N/{_MM_QUERY_MOD}), and
    shipped once per executor via the closure.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    qpdf = (
        emb.filter(ann_query_pred(F.col("vec_id")))  # _MM_QUERY_MOD == QUERY_MOD
        .select("vec_id", F.expr(_QE5).alias("q"))
        .toPandas()
    )
    qids = qpdf["vec_id"].to_numpy(dtype=np.int64)
    Qm = np.array(qpdf["q"].tolist(), dtype=np.int64)
    qn = np.sqrt((Qm * Qm).sum(axis=1) / 1e10)
    k = _MM_TOP_K

    def topk_blocks(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nid = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            D = np.array(pdf["q"].tolist(), dtype=np.int64)
            dots = D @ Qm.T  # exact int64
            nd = np.sqrt((D * D).sum(axis=1) / 1e10)
            cos = (dots.astype(np.float64) / 1e10) / (nd[:, None] * qn[None, :])
            cos[nid[:, None] == qids[None, :]] = -np.inf  # self-match
            out_q: list[int] = []
            out_n: list[int] = []
            out_c: list[float] = []
            for j in range(len(qids)):
                order = np.lexsort((nid, -cos[:, j]))[:k]
                for idx in order:
                    if cos[idx, j] == -np.inf:
                        continue
                    out_q.append(int(qids[j]))
                    out_n.append(int(nid[idx]))
                    out_c.append(float(cos[idx, j]))
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    partials = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.expr(_QE5).alias("q")
    ).mapInPandas(topk_blocks, "query_id long, neighbor_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        partials.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
    )


_KNN_K = 7
_KNN_HOLD_MOD = 4  # vec_id % 4 == 0 -> unlabeled (to classify); rest labeled


@query(
    "embedding_knn_classify",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {_DUCK_QE} AS qe FROM embeddings
    ),
    lab AS (
      SELECT q.vec_id, q.qe, d.lang
      FROM q JOIN documents d ON d.doc_id = q.vec_id
      WHERE q.vec_id % {_KNN_HOLD_MOD} <> 0
    ),
    unl AS (SELECT vec_id, qe FROM q WHERE vec_id % {_KNN_HOLD_MOD} = 0),
    d AS (
      SELECT u.vec_id, l.lang, l.vec_id AS nbr,
             CAST(LIST_SUM([(u.qe[i] - l.qe[i]) * (u.qe[i] - l.qe[i])
                            FOR i IN GENERATE_SERIES(1, {EMB_DIM})]) AS BIGINT)
               AS l2sq
      FROM unl u CROSS JOIN lab l
    ),
    topk AS (
      SELECT vec_id, lang, nbr FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY l2sq, nbr) AS rn
        FROM d
      ) WHERE rn <= {_KNN_K}
    ),
    votes AS (
      SELECT vec_id, lang, COUNT(*) AS n_votes
      FROM topk GROUP BY vec_id, lang
    )
    SELECT v.vec_id, v.lang AS predicted_lang,
           CAST(v.n_votes AS INTEGER) AS n_votes,
           t.lang AS true_lang,
           (v.lang = t.lang) AS correct
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY n_votes DESC, lang) AS rn
      FROM votes
    ) v
    JOIN documents t ON t.doc_id = v.vec_id
    WHERE v.rn = 1
    """,
)
def embedding_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification over embeddings: the 25% held-out vectors get
    the majority label (document language) of their {_KNN_K} nearest
    labeled neighbors by exact quantized L2 — the standard
    label-propagation / weak-labeling step of a curation pipeline.
    Deterministic end to end: integer distances, (distance, neighbor)
    ranking, and (votes DESC, label ASC) tie-broken majority — so a
    full hash oracle covers an ML inference op.

    Scale: the UNLABELED side is broadcast. EXPLICIT ASSUMPTION: that
    side must be a bounded batch (fits the broadcast threshold — up to a
    few hundred MB of quantized vectors, ~1M rows at dim 32). The test
    corpus's 25%-holdout stand-in satisfies that only because the table
    is small; a production run classifying a fixed fraction of a 100 TB
    corpus must NOT use this operator as-is — chunk the unlabeled set
    into bounded batches (iterate this plan per batch), or route both
    sides through the IVF cell-join (`similarity_topk_ivf`'s skeleton)
    so neither side is broadcast. With a bounded batch, each corpus
    partition scores its vectors against every query in codegen, and the
    per-query top-k window is the only shuffle, pre-limited to k rows
    per partition by Spark's group-limit pushdown. Same skeleton as
    similarity_topk_cosine, different reduction (argmax of vote counts
    instead of a score list).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    vecs = emb.select("vec_id", F.expr(_QE).alias("qe"))
    lab = (
        vecs.filter(F.col("vec_id") % _KNN_HOLD_MOD != 0)
        .join(
            docs.select(F.col("doc_id").alias("vec_id"), "lang"), "vec_id"
        )
        .select(F.col("vec_id").alias("nbr"), F.col("qe").alias("le"), "lang")
    )
    unl = vecs.filter(F.col("vec_id") % _KNN_HOLD_MOD == 0).select(
        F.col("vec_id"), F.col("qe").alias("ue")
    )
    scored = lab.join(F.broadcast(unl)).select(
        "vec_id",
        "lang",
        "nbr",
        F.expr(_L2.format(a="ue", b="le")).alias("l2sq"),
    )
    wk = Window.partitionBy("vec_id").orderBy("l2sq", "nbr")
    topk = scored.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= _KNN_K
    )
    votes = topk.groupBy("vec_id", "lang").agg(
        F.count(F.lit(1)).cast("int").alias("n_votes")
    )
    wv = Window.partitionBy("vec_id").orderBy(F.col("n_votes").desc(), "lang")
    pred = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("lang").alias("predicted_lang"), "n_votes")
    )
    truth = docs.select(F.col("doc_id").alias("vec_id"), F.col("lang").alias("true_lang"))
    return pred.join(truth, "vec_id").select(
        "vec_id",
        "predicted_lang",
        "n_votes",
        "true_lang",
        (F.col("predicted_lang") == F.col("true_lang")).alias("correct"),
    )


# --- SemDeDup: cluster-scoped semantic dedup (Abbas et al., 2023 shape) -----

SEMDEDUP_CELL_CAP = 2000  # far above the test corpus's max cell (≈ tens):
# the oracle has no cap, so the cap must be a provable no-op at test SFs
# while still bounding a skewed production corpus's worst cell.
SEMDEDUP_T = 0.15  # cosine threshold (uniform-random test vectors sit near 0;
# real corpora use 0.7-0.9 — the threshold is data-dependent, the SHAPE isn't)


@query(
    "dedup_semdedup_clusters",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {_DUCK_QE} AS qe FROM embeddings
    ),
    cents AS (
      SELECT vec_id AS cell_id, qe AS ce FROM q
      WHERE vec_id % ({adaptive_cells_mod_sql(CELLS_MOD)}) = 1
    ),
    d AS (
      SELECT q.vec_id, c.cell_id, q.qe,
             CAST(LIST_SUM([(q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i])
                            FOR i IN GENERATE_SERIES(1, {EMB_DIM})]) AS BIGINT)
               AS l2
      FROM q CROSS JOIN cents c
    ),
    assigned AS (
      SELECT vec_id, cell_id, qe FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY l2, cell_id) AS rn
        FROM d
      ) WHERE rn = 1
    ),
    nrm AS (
      SELECT vec_id, cell_id, qe,
             SQRT(CAST(LIST_SUM([x * x FOR x IN qe]) AS DOUBLE) / 1e8) AS nr
      FROM assigned
    ),
    pairs AS (
      SELECT b.vec_id AS id_b, b.cell_id, a.vec_id AS id_a,
             (CAST(LIST_SUM([a.qe[i] * b.qe[i]
                             FOR i IN GENERATE_SERIES(1, {EMB_DIM})])
                   AS DOUBLE) / 1e8) / (a.nr * b.nr) AS cosine
      FROM nrm a JOIN nrm b
        ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
    )
    SELECT id_b AS vec_id, cell_id,
           MIN(id_a) AS witness_id,
           CAST(COUNT(*) AS BIGINT) AS n_witnesses
    FROM pairs WHERE cosine >= {SEMDEDUP_T}
    GROUP BY id_b, cell_id
    """,
)
def dedup_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-dedup, the semantic-dedup recipe from the
    LLM-curation literature): embeddings are assigned to their nearest
    coarse centroid (same deterministic centroid set as the IVF family),
    and near-duplicate detection runs ONLY within each cluster — a vector
    is dropped when a smaller-id cluster-mate sits above the cosine
    threshold (greedy keep-first rule; the witness is the smallest such
    mate). Output: the dropped set with witness and in-cluster duplicate
    count.

    This is the production alternative to the all-pairs grid join
    (``dedup_embedding_cosine``): pair work shrinks from O(N²/G) to
    Σ|cell|² — with balanced cells, a ~|cells|× reduction — at the cost of
    missing cross-cluster duplicates (the documented SemDeDup trade-off;
    recall vs the exact relation is the centroid assignment's quality).
    Exactness: integer-quantized dots; sqrt/divide are correctly-rounded
    IEEE ops on identical inputs, so both engines select identical pairs.

    Scale: below SEMDEDUP_HIER_MIN_N (every committed SF) the flat path
    runs — centroids broadcast, one codegen assignment pass — and the
    registered oracle mirrors it exactly. Above the threshold the
    TWO-LEVEL hierarchy takes over (round 12; see _semdedup_hier_assign):
    constant-occupancy fine cells make the within-cell pair stage linear
    in n, and a sqrt-sized coarse routing layer cuts per-vector scoring
    from |cells| to ~3*sqrt(|cells|) — the sub-n^1.5 escape hatch the 30x
    probe's 88.7x finding named, now in code and differential-tested
    against a DuckDB mirror of the routing above the threshold. The
    self-join shuffles on cell_id — AQE splits hot partitions, but
    partition-splitting does NOT reduce PAIR counts, so a per-cell
    member cap (deterministic: first {SEMDEDUP_CELL_CAP} members by
    vec_id, same idiom as the MinHash bucket cap) bounds the worst-case
    quadratic cell on real skewed corpora. The cap is a no-op on the test
    corpus (max cell ≪ cap), so the oracle — which has no cap — still
    matches exactly; ``tests/test_scale_patterns.py`` drives the capped
    path with a crafted hot cell.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # metadata-only n (r15): footer count, no gate-decision job
    return semdedup_clusters(emb, n_rows=table_row_count(sf_dir, "embeddings"))


SEMDEDUP_HIER_MIN_N = 8192  # two-level routing threshold: 4x the largest
# committed corpus (sf0.1 = 2,000 vectors), so every committed SF takes the
# flat path BIT-IDENTICALLY (hashes, bench rows, and the registered oracle
# untouched); the 10x/30x scale probes (20k/60k vectors) cross it and run
# the hierarchy. Same gating recipe as adaptive_cells_mod/LLOYD_TRAIN_CAP.
SEMDEDUP_COARSE_PROBES = 2  # coarse cells probed per vector (IVF nprobe):
# 1 misses fine cells just across a coarse boundary; 2 halves that failure
# mode for a ~1.5x candidate-scoring cost. Both levels stay deterministic.


def _semdedup_hier_assign(
    vecs: DataFrame, n: int, route: DataFrame = None  # noqa: RUF013
) -> DataFrame:
    """Two-level (coarse -> fine) cell assignment for the SemDeDup family:
    (vec_id, cell_id, qe) with cell_id from the CONSTANT-occupancy fine
    grid ``vec_id % CELLS_MOD == 1`` (~{CELLS_MOD} members per cell at any
    corpus size, so the within-cell pair stage is LINEAR in n), routed
    through a coarse layer of ~sqrt(ncells) centroids (the sub-stride
    ``vec_id % (CELLS_MOD * cf) == 1`` — a subset of the fine set, the
    IVF two-level quantizer shape). Every vector scores the coarse layer,
    keeps its {SEMDEDUP_COARSE_PROBES} nearest coarse cells, and scores
    only the fine centroids routed to those — per-vector work falls from
    |fine| to ~(1 + {SEMDEDUP_COARSE_PROBES}) * sqrt(|fine|). All argmins
    are exact integer L2 with (l2, id) tie-breaks, so the assignment is
    deterministic; a DuckDB mirror of this exact routing is differential-
    tested above the threshold in tests/test_scale_patterns.py.

    ``route`` (round-13 content-collapse): the frame actually routed
    through the hierarchy — defaults to ``vecs``; the collapsed SemDeDup
    path passes the content representatives while BOTH centroid layers
    stay derived from the full corpus's vec_id strides, so a rep routes
    exactly where each of its members would (routing depends only on the
    qe content and the centroid tables)."""
    if route is None:
        route = vecs
    cf = max(2, _isqrt(n // CELLS_MOD))
    coarse_mod = CELLS_MOD * cf
    fine = vecs.filter(F.col("vec_id") % CELLS_MOD == 1).select(
        F.col("vec_id").alias("cell_id"), F.col("qe").alias("ce")
    )
    coarse = vecs.filter(F.col("vec_id") % coarse_mod == 1).select(
        F.col("vec_id").alias("coarse_id"), F.col("qe").alias("ke")
    )
    # route every fine centroid to its nearest coarse centroid (|fine| x
    # |coarse| — the routing table, tiny relative to the corpus)
    f2c = (
        fine.join(F.broadcast(coarse))
        .select(
            "cell_id", "ce", "coarse_id",
            F.expr(_L2.format(a="ce", b="ke")).alias("l2"),
        )
        .groupBy("cell_id")
        .agg(
            F.min(F.struct("l2", "coarse_id")).alias("b"),
            F.first("ce").alias("ce"),
        )
        .select(F.col("b.coarse_id").alias("coarse_id"), "cell_id", "ce")
    )
    # vectors -> top-P coarse cells (n x |coarse| scores; the ONLY stage
    # that touches every centroid of a layer, and the layer is sqrt-sized)
    vc = route.join(F.broadcast(coarse)).select(
        "vec_id", "coarse_id",
        F.expr(_L2.format(a="qe", b="ke")).alias("l2"),
    )
    wp = Window.partitionBy("vec_id").orderBy("l2", "coarse_id")
    probes = (
        vc.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= SEMDEDUP_COARSE_PROBES)
        .select("vec_id", "coarse_id")
    )
    # score only the fine centroids routed to the probed coarse cells.
    # f2c is |fine| ~ n/CELLS_MOD rows (~0.5 KB each) — explicitly
    # broadcast: a shuffle join here would key on the ~sqrt(|fine|)
    # coarse_ids, collapsing parallelism to that many skewed partitions.
    # Broadcast holds to ~10M fine cells (~5 GB); beyond that, shard the
    # routing table by coarse_id ranges and union the per-shard joins.
    scored = (
        probes.join(route, "vec_id")
        .join(F.broadcast(f2c), "coarse_id")
        .select(
            "vec_id", "cell_id",
            F.expr(_L2.format(a="qe", b="ce")).alias("l2"),
        )
    )
    best = scored.groupBy("vec_id").agg(
        F.min(F.struct("l2", "cell_id")).alias("best")
    )
    return best.select(
        "vec_id", F.col("best.cell_id").alias("cell_id")
    ).join(route, "vec_id")


def _isqrt(x: int) -> int:
    import math

    return math.isqrt(x)


SEMDEDUP_REP_MIN_N = 8192  # content-collapse threshold (round-13, the
# ANN_REP_MIN_N recipe): above it, identical qe arrays collapse to content
# representatives before assignment and the within-cell pair stage —
# replica-heavy corpora otherwise pay replica² in every cell's self-join
# for witness sets that are pure membership arithmetic. Every committed SF
# stays below it (flat, bit-identical, oracle untouched).


def semdedup_clusters(
    emb: DataFrame,
    cap: int = None,  # noqa: RUF013 — None => SEMDEDUP_CELL_CAP
    hier_min_n: int = None,  # noqa: RUF013 — None => SEMDEDUP_HIER_MIN_N
    rep_min_n: int = None,  # noqa: RUF013 — None => SEMDEDUP_REP_MIN_N
    n_rows: int = None,  # noqa: RUF013 — None => vecs.count(); callers
    # that know the source row count (parquet footer) pass it so the
    # gate/stride decision is metadata-only and the body stays lazy
) -> DataFrame:
    """Core of ``dedup_semdedup_clusters`` over any (vec_id, embedding)
    frame; ``cap`` overrides the per-cell member bound, ``hier_min_n``
    the two-level routing threshold, and ``rep_min_n`` the
    content-collapse threshold for tests.

    The collapse (round-13) is an exact rewrite of the uncapped relation:
    assignment is content-determined given the full-corpus centroid
    strides (reps route exactly where their members would), and the
    output's witness stats are membership arithmetic — for a member ``b``
    of class ``i``, the witness set is {a < b} drawn from the members of
    every same-cell class ``j`` with cos(i, j) >= T (including ``i``
    itself when its self-cosine clears T — computed with the pair
    expression, not assumed). Per qualifying class the sorted member
    union ``w`` gives witness_id = w[1] and n_witnesses = #(w < b) by
    array arithmetic — output-sized work instead of replica² pair rows.
    Divergence note: above the collapse gate the per-cell cap bounds
    DISTINCT CONTENTS per cell rather than members — the quantity the
    pair stage is actually quadratic in; the cap is a no-op at every
    committed and probed scale in both readings (asserted no-op on the
    test corpora; the flat capped semantics below the gate are
    unchanged)."""
    cap = SEMDEDUP_CELL_CAP if cap is None else cap
    hier_min_n = SEMDEDUP_HIER_MIN_N if hier_min_n is None else hier_min_n
    rep_min_n = SEMDEDUP_REP_MIN_N if rep_min_n is None else rep_min_n
    # Round-robin repartition BEFORE persist: the test corpora are
    # single-file parquet (1-4 scan splits), and every downstream scoring
    # stage is a broadcast join off this cache — without the repartition
    # the whole assignment runs 4-wide instead of cluster-wide (the
    # single-split fan-out recurrence the r9 IVF fix documented; measured
    # 27.6s -> 7s for the 30x assignment). On a real multi-file corpus the
    # scan is already wide and this is a near-no-op. The persist fills on
    # the first real action (callers that pass n_rows keep this body
    # job-free); intentionally not unpersisted (the returned lazy plan
    # reads it — LRU reclaims under pressure).
    spark = emb.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    vecs = (
        persist_once(emb.select("vec_id", F.expr(_QE).alias("qe"))
        .repartition(n_part))
    )
    n = vecs.count() if n_rows is None else n_rows
    groups = None
    route = None
    if n >= rep_min_n:
        groups = persist_once(
            vecs.groupBy("qe").agg(
                F.min("vec_id").alias("rep_id"),
                F.collect_list("vec_id").alias("members"),
            )
        )
        route = groups.select(F.col("rep_id").alias("vec_id"), "qe")
    if n >= hier_min_n:
        # two-level routing (round-12): the 30x probe measured the flat
        # sqrt-stride shape at 88.7x for 30x input — decade slope 5.4x per
        # 3x == the predicted n^1.5 of BOTH the n x sqrt(n) assignment and
        # the sqrt(n)-occupancy pair stage. The hierarchy replaces both:
        # constant-occupancy fine cells (linear pairs) reached through a
        # sqrt-sized coarse layer (per-vector scoring ~sqrt(|fine|)).
        # Both centroid layers derive from the FULL corpus strides; only
        # the routed side collapses to reps (content-determined routing).
        assigned = _semdedup_hier_assign(vecs, n, route=route)
    else:
        # flat path — bit-identical to pre-hierarchy code at committed SFs
        # sqrt-scaled stride: ncells ~ sqrt(n) bounds BOTH the n x ncells
        # assignment and the within-cell pair stage at ~n^1.5 (round-10
        # scale probe: 71.8x for 10x input under the fixed stride); the
        # oracle SQL computes the identical expression, and at the
        # committed SFs the stride equals CELLS_MOD so every committed
        # artifact is unchanged
        cells_mod = adaptive_cells_mod(CELLS_MOD, n)
        cents = vecs.filter(F.col("vec_id") % cells_mod == 1).select(
            F.col("vec_id").alias("cell_id"), F.col("qe").alias("ce")
        )
        src = vecs if route is None else route
        scored = src.join(F.broadcast(cents)).select(
            "vec_id", "cell_id",
            F.expr(_L2.format(a="qe", b="ce")).alias("l2"),
        )
        # argmin via min(struct(l2, cell_id)) — the combine-friendly
        # groupBy the kmeans-assign op uses (map-side partial min, no N×K
        # window sort); the vector array re-joins afterwards instead of
        # riding the N×K frame.
        best = scored.groupBy("vec_id").agg(
            F.min(F.struct("l2", "cell_id")).alias("best")
        )
        assigned = best.select(
            "vec_id", F.col("best.cell_id").alias("cell_id")
        ).join(src, "vec_id")
    # Per-cell member cap: one rank window over the N-row assignment frame
    # (NOT the N×K score frame), keeping the first `cap` members by vec_id.
    # Quadratic pair growth in a mega-cell is the one cost AQE cannot fix.
    ranked = assigned.withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("cell_id").orderBy("vec_id")),
    )
    nr_expr = F.sqrt(
        F.expr("aggregate(qe, 0L, (acc, x) -> acc + x * x)") / F.lit(1e8)
    )
    # persist the capped assignment: BOTH sides of the within-cell
    # self-join below read it, and without the cache the whole assignment
    # pipeline (hierarchical: window + two joins) replays twice — measured
    # 24s x2 at the 30x probe scale. Corpus-sized rows with one array each
    # (same bound as the vecs cache); intentionally left to LRU.
    if route is not None:
        # Divergence detector (round-14, advisor): above the collapse
        # gate the cap bounds DISTINCT CONTENTS per cell, not members — a
        # different relation from the flat capped semantics whenever it
        # actually binds. It is a no-op on every committed and probed
        # corpus; if a future replica-heavy corpus overflows a cell in
        # this reading, warn loudly instead of silently diverging. The
        # PRE-cap frame carries the cache (same corpus-sized bound, the
        # dropped tail included), so the detector is one cached
        # limit-1 scan and the capped view below reads the same cache.
        pre = persist_once(ranked.withColumn("nr", nr_expr))
        if pre.filter(F.col("rk") > cap).limit(1).count():
            import warnings

            warnings.warn(
                "semdedup_clusters: per-cell cap binds on the collapsed "
                "path — the collapsed cap bounds distinct contents per "
                "cell and DIVERGES from the flat capped semantics; raise "
                "SEMDEDUP_CELL_CAP or audit the corpus's replica profile",
                stacklevel=2,
            )
        nrm = pre.filter(F.col("rk") <= cap).drop("rk")
    else:
        nrm = persist_once(
            ranked.filter(F.col("rk") <= cap).drop("rk").withColumn("nr", nr_expr)
        )
    a = nrm.select(
        F.col("cell_id"),
        F.col("vec_id").alias("id_a"),
        F.col("qe").alias("qe_a"),
        F.col("nr").alias("nr_a"),
    )
    b = nrm.select(
        F.col("cell_id"),
        F.col("vec_id").alias("id_b"),
        F.col("qe").alias("qe_b"),
        F.col("nr").alias("nr_b"),
    )
    dot = "aggregate(zip_with(qe_a, qe_b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    pairs = (
        a.join(b, "cell_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "cell_id", "id_a", "id_b",
            (F.expr(dot).cast("double") / F.lit(1e8)
             / (F.col("nr_a") * F.col("nr_b"))).alias("cosine"),
        )
    )
    qualifying = pairs.filter(F.col("cosine") >= SEMDEDUP_T)
    if route is None:
        return qualifying.groupBy(F.col("id_b").alias("vec_id"), "cell_id").agg(
            F.min("id_a").alias("witness_id"),
            F.count(F.lit(1)).alias("n_witnesses"),
        )
    # Collapsed expansion: witness stats are membership arithmetic. The
    # DIRECTED qualifying-class relation is the symmetric closure of the
    # rep pairs (members interleave, so a member of the larger-rep class
    # can still precede one of the smaller-rep class) plus the self edge
    # when the class's self-cosine — computed with the SAME pair
    # expression, not assumed to be 1.0 — clears the threshold.
    # Materialized ONCE before the union: the two union branches are
    # separate subtrees and would race to evaluate the rep pair pipeline
    # twice.
    sym = persist_once(qualifying.select("cell_id", "id_a", "id_b"))
    sym.count()  # fill the cache before the branches fork (collapse-only
    # path — never reached at committed SFs, so no extra committed job)
    directed = sym.select(
        "cell_id", F.col("id_a").alias("dst"), F.col("id_b").alias("src")
    ).unionByName(
        sym.select(
            "cell_id", F.col("id_b").alias("dst"), F.col("id_a").alias("src")
        )
    )
    self_dot = "aggregate(zip_with(qe, qe, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    self_edges = (
        nrm.withColumn(
            "self_cos",
            F.expr(self_dot).cast("double") / F.lit(1e8)
            / (F.col("nr") * F.col("nr")),
        )
        .filter(F.col("self_cos") >= SEMDEDUP_T)
        .select(
            "cell_id",
            F.col("vec_id").alias("dst"),
            F.col("vec_id").alias("src"),
        )
    )
    membership = groups.select(
        F.col("rep_id"), F.explode("members").alias("m")
    )
    # per destination class: the sorted union of all qualifying classes'
    # members — the witness pool. Output-sized: every pool element below a
    # class's max member IS some member's witness, so the collect is
    # bounded by the relation the flat path enumerates as pair rows.
    pools = (
        directed.unionByName(self_edges)
        .join(membership.withColumnRenamed("rep_id", "src"), "src")
        .groupBy(F.col("dst").alias("rep_id"), "cell_id")
        .agg(F.sort_array(F.collect_list("m")).alias("w"))
    )
    return (
        pools.join(membership, "rep_id")
        .withColumn(
            "n_witnesses",
            F.expr("size(filter(w, x -> x < m))").cast("long"),
        )
        .filter(F.col("n_witnesses") >= 1)
        .select(
            F.col("m").alias("vec_id"),
            "cell_id",
            F.element_at("w", 1).alias("witness_id"),
            "n_witnesses",
        )
    )


# --- distributed PCA: top principal direction by power iteration -------------
#
# The iterative-linear-algebra family member next to the closed-form OLS
# (regression_multivar_normal_eq): v_{k+1} ∝ (XᵀX)·v_k, three unrolled
# iterations, ENTIRELY in quantized integers so even an iterative eigen
# solver carries a full DuckDB hash oracle. Each iteration is two relational
# passes — per-row dot products (JVM zip_with fold) and a per-dimension
# elementwise sum (posexplode + groupBy(dim), the standard relational
# spelling of Xᵀy) — and the only driver-side state is the 64-value vector
# itself (bounded by DIMENSION, not data). Normalization is by max-|v|
# with the offset-before-div trick (Spark `div` truncates toward zero,
# DuckDB `//` floors; a +OFF·m shift makes the numerator non-negative where
# the two agree), yielding v ∈ [-1e4, 1e4] integers after every step —
# magnitudes stay < 2^63 for corpora up to ~10⁹ rows at this quantization.

PCA_ITERS = 3
_PCA_OFF = 20_000  # > max |v_i| bound, so s + OFF*m >= 0 always


def _pca_oracle() -> str:
    head = f"""
    WITH q AS (
      SELECT vec_id, {_DUCK_QE} AS qe FROM embeddings
    ),
    e AS (
      SELECT vec_id, i, qe[i+1] AS qv
      FROM q, UNNEST(range({EMB_DIM})) AS t(i)
    ),
    v0 AS (SELECT UNNEST(range({EMB_DIM})) AS i, CAST(10000 AS BIGINT) AS v)
    """
    steps = []
    for k in range(1, PCA_ITERS + 1):
        steps.append(f"""
    d{k} AS (
      SELECT e.vec_id, SUM(e.qv * v{k-1}.v) AS dot
      FROM e JOIN v{k-1} ON v{k-1}.i = e.i GROUP BY e.vec_id
    ),
    s{k} AS (
      SELECT e.i, SUM(e.qv * d{k}.dot) AS s
      FROM e JOIN d{k} ON d{k}.vec_id = e.vec_id GROUP BY e.i
    ),
    m{k} AS (SELECT MAX(ABS(s)) AS m FROM s{k}),
    v{k} AS (
      SELECT i, CAST(((s + {_PCA_OFF} * m) // m) - {_PCA_OFF} AS BIGINT) AS v
      FROM s{k}, m{k}
    )""")
    return (
        head + "," + ",".join(steps)
        + f"""
    SELECT CAST(i AS INTEGER) AS dim, v AS loading FROM v{PCA_ITERS}
    """
    )


@query("embedding_pca_power_iteration", oracle=_pca_oracle())
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by {PCA_ITERS}
    unrolled power-iteration steps over the (uncentered) Gram matrix XᵀX,
    in exact quantized-integer arithmetic — see the module note above for
    why an ITERATIVE eigen solver can still be hash-oracle-checked. The
    starting vector is all-10000 (scale 1e4); each step computes per-row
    dots x·v (one codegen fold), the per-dimension sums Xᵀ(Xv) (posexplode
    + groupBy(dim) — {EMB_DIM}·N rows, the relational Xᵀy), and
    renormalizes to max-|component| = 1e4 integers on the driver (64
    values — bounded by dimension, never by data).

    Content-collapse with WEIGHTS (round-14, the collapse program's
    linear-aggregate member): every per-dimension sum is linear in rows,
    so k identical embeddings contribute exactly k times one embedding's
    term — the corpus folds to (distinct qe, cnt) once, each iteration's
    sum carries a ``* cnt`` factor, and the resulting INTEGERS are equal
    term-group-by-term-group to the flat sums (the total is the same
    sum, merely associated by content — BIGINT addition is exact and
    order-free, so the full DuckDB hash oracle checks the rewrite at
    committed SFs). Always-on; the distinct frame is persisted once and
    reused by all {PCA_ITERS} iterations (the flat loop re-scanned the
    parquet per iteration). Overflow bound unchanged: the weighted sum
    EQUALS the flat sum. On the replica-heavy 30x probe corpus the
    per-iteration scan drops from 60k rows to the 2k distinct contents.

    Scale: one groupBy(qe) shuffle up front (key the groupBy on
    xxhash64(qe) at 100 TB — the exact-dedup idiom), then each iteration
    is one scan of the distinct frame + the {EMB_DIM}-key dim shuffle
    with map-side partial sums, so the reducer side is |dims| rows
    regardless of corpus size. Convergence at 100 TB is identical math —
    more rows only widen the (collapsed) map side. Deflate and repeat
    for the next component (v ← v − λu uᵀv, same loop).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    groups = persist_once(
        emb.select(F.expr(_QE).alias("qe"))
        .groupBy("qe")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    v = [10_000] * EMB_DIM
    for _ in range(PCA_ITERS):
        v_lit = "array(" + ", ".join(f"{x}L" for x in v) + ")"
        dot = F.expr(
            f"aggregate(zip_with(qe, {v_lit}, (x, y) -> x * y), "
            "0L, (acc, t) -> acc + t)"
        )
        contrib = groups.select(
            dot.alias("dot"), "cnt", F.posexplode("qe").alias("i", "qv")
        )
        sums = (
            contrib.groupBy("i")
            .agg(F.sum(F.col("qv") * F.col("dot") * F.col("cnt")).alias("s"))
            .collect()
        )
        s = [0] * EMB_DIM
        for r in sums:
            s[r["i"]] = r["s"]
        m = max(abs(x) for x in s)
        v = [((x + _PCA_OFF * m) // m) - _PCA_OFF for x in s]
    out = [(i, int(v[i])) for i in range(EMB_DIM)]
    return spark.createDataFrame(out, "dim int, loading long")
