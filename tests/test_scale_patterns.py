"""Scale-pattern tests: partition-pruned sinks and salted skew joins."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from oe_batch_processing_spark.operators.skew import salted_join
from oe_batch_processing_spark.plans.progress import formatted_plan
from oe_batch_processing_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_partitioned_sink_prunes_partitions(spark, tmp_path):
    """Write orders partitioned by year; a year-filtered read must prune to
    one partition directory (PartitionFilters in the scan, not a full scan).
    This is the layout strategy for every date-organized sink at 100 TB."""
    out = str(tmp_path / "orders_by_year")
    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    orders.write.partitionBy("o_year").parquet(out)
    years = sorted(x for x in os.listdir(out) if x.startswith("o_year="))
    assert len(years) >= 5  # 1995..2001

    back = spark.read.parquet(out).filter(F.col("o_year") == 1996)
    plan = formatted_plan(back)
    assert "PartitionFilters" in plan
    assert "o_year" in plan.split("PartitionFilters")[1].split("]")[0]
    expected = orders.filter(F.col("o_year") == 1996).count()
    assert back.count() == expected > 0


def test_salted_join_matches_plain_join(spark):
    """Salted join must be a drop-in: same rows as the plain equi-join,
    with the fact side spread across salt buckets."""
    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    plain = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        salted_join(li, orders, "l_orderkey", "o_orderkey", n_salts=8,
                    salt_source="l_linenumber")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_salted_join_spreads_hot_key(spark):
    """An artificially hot key must land in multiple salt buckets."""
    hot = spark.range(0, 10000).select(
        F.lit(42).alias("k"), F.col("id").alias("row_id")
    )
    dim = spark.createDataFrame([(42, "x")], "k2 long, v string")
    joined = salted_join(hot, dim, "k", "k2", n_salts=8, salt_source="row_id")
    assert joined.count() == 10000
    n_buckets = (
        hot.withColumn("s", F.pmod(F.xxhash64("row_id"), F.lit(8)))
        .select("s")
        .distinct()
        .count()
    )
    assert n_buckets == 8


def test_csv_and_json_writers_roundtrip(spark, tmp_path):
    """Sink coverage beyond parquet: CSV (with header) and JSON-lines
    writers round-trip the success channel losslessly for string/long data."""
    src = load_table(spark, SF_DIR, "nation")
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    src.write.option("header", True).csv(csv_dir)
    src.write.json(json_dir)

    csv_back = (
        spark.read.option("header", True)
        .schema("n_nationkey int, n_name string, n_regionkey int")
        .csv(csv_dir)
    )
    json_back = spark.read.schema(src.schema).json(json_dir)
    expect = {tuple(r) for r in src.collect()}
    assert {tuple(r) for r in csv_back.collect()} == expect
    assert {tuple(r) for r in json_back.collect()} == expect


def test_aqe_coalesces_small_shuffle(spark):
    """AQE must coalesce the 32 static shuffle partitions down for a tiny
    aggregation — the runtime re-plan this engine relies on at scale."""
    df = (
        load_table(spark, SF_DIR, "orders")
        .groupBy("o_orderpriority")
        .count()
    )
    df.collect()  # run so AQE finalizes the plan
    final_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in final_plan and "coalesced" in final_plan


def test_orc_writer_roundtrip(spark, tmp_path):
    """ORC sink/source round-trip (columnar alternative to parquet)."""
    src = load_table(spark, SF_DIR, "region")
    out = str(tmp_path / "orc")
    src.write.orc(out)
    back = spark.read.orc(out)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in src.collect()}


def test_output_file_count_control(spark, tmp_path):
    """repartition/coalesce control output file counts — the small-files
    lever for every sink at scale."""
    import glob

    src = load_table(spark, SF_DIR, "orders")
    four = str(tmp_path / "four")
    one = str(tmp_path / "one")
    src.repartition(4).write.parquet(four)
    src.coalesce(1).write.parquet(one)
    assert len(glob.glob(four + "/part-*")) == 4
    assert len(glob.glob(one + "/part-*")) == 1


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """Spark's runtime row-level filtering: a selective dim-side filter is
    injected as a bloom filter (`might_contain`) on the fact side of a
    shuffle join BEFORE the exchange, so non-matching fact rows never
    shuffle. At 100 TB this is the difference between shuffling the whole
    fact table and shuffling the ~1/5 that can possibly join; it composes
    with AQE and needs no code change — the test pins that the optimizer
    still injects it (thresholds lowered because the test tables are tiny;
    production sizes clear the defaults)."""
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    old_scan = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, SF_DIR, "lineitem")
        orders = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).agg(
            F.count(F.lit(1)).alias("n")
        )
        plan = formatted_plan(j)
        assert "might_contain" in plan, "bloom filter not injected"
        # and the result is identical with the filter in place
        n_bloom = j.collect()[0]["n"]
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_scan,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
    n_plain = (
        li.join(F.broadcast(orders), F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()[0]["n"]
    )
    assert n_bloom == n_plain


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ewma_plan_single_exchange(spark, sf_dir):
    """The EWMA window must cost exactly one hash exchange (on user_id) —
    the bounded-frame fold is all post-shuffle expression work."""
    from oe_batch_processing_spark.operators.timeseries import events_ewma_user

    plan = _executed_plan(events_ewma_user(spark, sf_dir))
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert len(exchanges) == 1
    assert "hashpartitioning(user_id" in exchanges[0]


def test_salted_join_plan_joins_on_salt(spark, sf_dir):
    """The salted skew join must plan a SortMergeJoin keyed on
    (custkey, salt) — proof the salt actually spreads the hot key across
    tasks rather than being optimized away or bypassed by a broadcast."""
    from oe_batch_processing_spark.operators.skew import (
        join_salted_orders_segment,
    )

    plan = _executed_plan(join_salted_orders_segment(spark, sf_dir))
    smj = [l for l in plan.splitlines() if "SortMergeJoin" in l]
    assert smj and "__salt" in smj[0] and "o_custkey" in smj[0]
    assert "BroadcastHashJoin" not in plan


def test_semdedup_cell_cap_bounds_hot_cell(spark):
    """The SemDeDup per-cell member cap (round-6 verdict: the docstring
    claimed a cap the code didn't have) must actually bound pair expansion:
    a crafted hot cell of 6 identical vectors yields 5 dropped members
    uncapped but only cap-1 dropped when cap=3 — and the kept members are
    the deterministic first-by-vec_id prefix."""
    from oe_batch_processing_spark.operators.similarity2 import (
        SEMDEDUP_CELL_CAP,
        semdedup_clusters,
    )

    vec = [0.1] * 64
    rows = [(i, vec) for i in (1, 10, 11, 12, 13, 14)]  # vec_id 1 = centroid
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    uncapped = {r["vec_id"] for r in semdedup_clusters(emb).collect()}
    assert uncapped == {10, 11, 12, 13, 14}

    capped = {
        r["vec_id"]: r["n_witnesses"]
        for r in semdedup_clusters(emb, cap=3).collect()
    }
    # kept members: vec_ids 1, 10, 11; dropped-with-witness: 10 and 11 only
    assert capped == {10: 1, 11: 2}
    assert SEMDEDUP_CELL_CAP >= 2000  # must dwarf any test-corpus cell


def test_lloyd_sample_training_engages_and_is_deterministic(spark):
    """Sample-trained Lloyd (round-11): lloyd_train_mod is 1 (an exact
    no-op — full-corpus training) up to the LLOYD_TRAIN_CAP==sf0.1 corpus
    size, and beyond it the refinement rounds train on the bounded
    vec_id % mod == 1 sample. The sampled build must stay deterministic
    (exact BIGINT means) and produce the same centroid schema."""
    import hashlib

    from oe_batch_processing_spark.operators.similarity import (
        LLOYD_TRAIN_CAP,
        _lloyd_refine,
        lloyd_train_mod,
    )

    assert lloyd_train_mod(20) == 1            # sf0.001
    assert lloyd_train_mod(200) == 1           # sf0.01
    assert lloyd_train_mod(LLOYD_TRAIN_CAP) == 1  # sf0.1 — committed max
    assert lloyd_train_mod(20_000) == 10       # 10x probe: ~2k train vecs
    assert lloyd_train_mod(60_000) == 30       # 30x probe: ~2k train vecs

    def vec(i: int) -> list[float]:
        h = hashlib.md5(f"lv:{i}".encode()).digest()
        return [b / 255.0 + 0.01 for b in h[:4]]

    n = 4400  # > CAP so sample_mod == 2 genuinely drops half the corpus
    rows = [(i, vec(i)) for i in range(1, n + 1)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    nrm = F.sqrt(F.expr(
        "aggregate(transform(embedding, x -> CAST(ROUND(x * 31623) AS "
        "BIGINT)), 0L, (acc, x) -> acc + x * x)") / F.lit(1e9))
    vecs = emb.select("vec_id", "embedding", nrm.alias("nrm")).persist()
    cents = vecs.filter(F.col("vec_id") % 500 == 1).select(
        F.col("vec_id").alias("cell_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    mod = lloyd_train_mod(n)
    assert mod == 2
    out1 = _lloyd_refine(vecs, cents, 2, mod).collect()
    out2 = _lloyd_refine(vecs, cents, 2, mod).collect()
    key = lambda r: r["cell_id"]  # noqa: E731
    assert sorted(out1, key=key) == sorted(out2, key=key)
    assert {r["cell_id"] for r in out1} <= {
        r["cell_id"] for r in cents.collect()
    }
    assert len(out1) >= 2
    vecs.unpersist()

def test_semdedup_two_level_hierarchy_matches_duckdb_mirror(spark, tmp_path):
    """Round-12: the SemDeDup two-level (coarse -> fine) routing that
    engages above SEMDEDUP_HIER_MIN_N must be exactly reproducible — a
    DuckDB mirror of the full hierarchy (fine grid, coarse sub-stride,
    per-cell routing, top-P coarse probes, restricted fine argmin, then
    the unchanged pair/summary stages) hash-matches the Spark output on a
    synthesized 3,700-vector corpus with the threshold overridden. The
    committed SFs never cross the threshold (asserted), so the registered
    flat oracle stays the exact contract there."""
    import hashlib

    import duckdb

    from oe_batch_processing_spark.operators.similarity2 import (
        CELLS_MOD,
        EMB_DIM,
        SEMDEDUP_COARSE_PROBES,
        SEMDEDUP_HIER_MIN_N,
        SEMDEDUP_T,
        semdedup_clusters,
    )
    from oe_batch_processing_spark.testing import compare

    assert SEMDEDUP_HIER_MIN_N > 4 * 2000  # every committed SF stays flat

    n = 3700  # 100 fine cells -> cf = 10 -> 10 coarse cells: real routing

    def vec(i: int) -> list[float]:
        bs = b"".join(
            hashlib.md5(f"sd:{i}:{k}".encode()).digest() for k in range(4)
        )
        # (b-127)/256: exactly-representable doubles, centered so cosines
        # straddle the 0.15 threshold (nonvacuous pair selection)
        return [(b - 127) / 256.0 for b in bs]

    rows = [(i, vec(i)) for i in range(1, n + 1)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pq = str(tmp_path / "emb_hier")
    emb.coalesce(1).write.parquet(pq)

    out = semdedup_clusters(
        spark.read.parquet(pq), hier_min_n=1000
    ).toPandas()
    assert len(out) > 0  # nonvacuous

    cf = 10  # == max(2, isqrt(n // CELLS_MOD)); pinned so the SQL is static
    l2 = (
        "CAST(LIST_SUM([({a}[i]-{b}[i])*({a}[i]-{b}[i]) "
        f"FOR i IN GENERATE_SERIES(1,{EMB_DIM})]) AS BIGINT)"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    oracle = f"""
    WITH q AS (
      SELECT vec_id,
             [CAST(ROUND(CAST(x AS DOUBLE)*1e4) AS BIGINT) FOR x IN embedding] AS qe
      FROM embeddings
    ),
    fine AS (SELECT vec_id AS cell_id, qe AS ce FROM q
             WHERE vec_id % {CELLS_MOD} = 1),
    coarse AS (SELECT vec_id AS coarse_id, qe AS ke FROM q
               WHERE vec_id % {CELLS_MOD * cf} = 1),
    f2c AS (
      SELECT cell_id, coarse_id, ce FROM (
        SELECT f.cell_id, c.coarse_id, f.ce,
               ROW_NUMBER() OVER (PARTITION BY f.cell_id
                 ORDER BY {l2.format(a='f.ce', b='c.ke')}, c.coarse_id) AS rn
        FROM fine f CROSS JOIN coarse c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id, coarse_id FROM (
        SELECT v.vec_id, c.coarse_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {l2.format(a='v.qe', b='c.ke')}, c.coarse_id) AS rn
        FROM q v CROSS JOIN coarse c
      ) WHERE rn <= {SEMDEDUP_COARSE_PROBES}
    ),
    assigned AS (
      SELECT vec_id, cell_id, qe FROM (
        SELECT v.vec_id, fc.cell_id, v.qe,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {l2.format(a='v.qe', b='fc.ce')}, fc.cell_id) AS rn
        FROM probes p JOIN q v USING (vec_id) JOIN f2c fc USING (coarse_id)
      ) WHERE rn = 1
    ),
    nrm AS (
      SELECT vec_id, cell_id, qe,
             SQRT(CAST(LIST_SUM([x*x FOR x IN qe]) AS DOUBLE)/1e8) AS nr
      FROM assigned
    ),
    pairs AS (
      SELECT b.vec_id AS id_b, b.cell_id, a.vec_id AS id_a,
             (CAST(LIST_SUM([a.qe[i]*b.qe[i]
                             FOR i IN GENERATE_SERIES(1,{EMB_DIM})])
                   AS DOUBLE)/1e8)/(a.nr*b.nr) AS cosine
      FROM nrm a JOIN nrm b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
    )
    SELECT id_b AS vec_id, cell_id, MIN(id_a) AS witness_id,
           CAST(COUNT(*) AS BIGINT) AS n_witnesses
    FROM pairs WHERE cosine >= {SEMDEDUP_T}
    GROUP BY id_b, cell_id
    """
    odf = con.execute(oracle).fetchdf()
    con.close()
    mismatch = compare(out, odf)
    assert mismatch is None, mismatch

def test_ann_fixed_qps_hook_engages_and_restores(spark, sf_dir):
    """Round-12: the fixed-QPS probe hook (similarity.QUERY_ID_CAP) must
    bound the ANN query set when set and be a provable no-op when None —
    and tools/scaleprobe.py's finally must always restore it, so assert
    the module default is None too."""
    from oe_batch_processing_spark.operators import similarity as sim

    assert sim.QUERY_ID_CAP is None  # default: committed plans untouched
    base = sim.similarity_topk_cosine(spark, "/root/testdata/sf0.01").count()
    sim.QUERY_ID_CAP = 50
    try:
        capped = sim.similarity_topk_cosine(
            spark, "/root/testdata/sf0.01"
        ).count()
    finally:
        sim.QUERY_ID_CAP = None
    assert capped < base  # the cap genuinely shrank the query set
    again = sim.similarity_topk_cosine(spark, "/root/testdata/sf0.01").count()
    assert again == base  # restored: identical plan again


@pytest.mark.parametrize("kernel", ["star_labels"])
def test_star_labels_restores_session_when_edges_checkpoint_fails(spark, monkeypatch, kernel):
    """The star loop turns AQE off and narrows the shuffle before its eager
    edges checkpoint; a failure there must leave both confs and the pairs
    cache as they were."""
    from oe_batch_processing_spark.operators import graph

    before = {k: spark.conf.get(k) for k in graph.SMALL_GRAPH_CONFS}
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")

    def failing_checkpoint(self, eager=True, storageLevel=None):
        raise RuntimeError("injected checkpoint failure")

    monkeypatch.setattr(type(pairs), "localCheckpoint", failing_checkpoint)
    with pytest.raises(RuntimeError, match="injected checkpoint failure"):
        getattr(graph, kernel)(pairs)
    assert {k: spark.conf.get(k) for k in graph.SMALL_GRAPH_CONFS} == before
    assert not pairs.storageLevel.useMemory


def test_star_labels_raises_when_rounds_run_out(spark, monkeypatch):
    """A star loop that ends without its edge-set checksum repeating must
    raise, not return a partial labeling, and still restore the session."""
    from oe_batch_processing_spark.operators import graph

    monkeypatch.setattr(graph, "_STAR_MAX_ROUNDS", 1)
    before = {k: spark.conf.get(k) for k in graph.SMALL_GRAPH_CONFS}
    pairs = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1), (1, 5)], "doc_a long, doc_b long"
    )
    with pytest.raises(ValueError, match="did not converge in 1 rounds"):
        graph.star_labels(pairs)
    assert {k: spark.conf.get(k) for k in graph.SMALL_GRAPH_CONFS} == before
    assert not pairs.storageLevel.useMemory


def test_lloyd_train_mod_scales_with_cell_count():
    """Round-13: the FIXED ~2000-point training sample starved the
    sqrt-scaled cell count at scale — 834 init cells at 30x got ~2.4
    train points each and 3 Lloyd rounds collapsed them to 142 survivors,
    bloating every probed cell to ~423 members (the real driver of the
    46x IVFPQ 30x row). The cell-aware cap trains ~LLOYD_TRAIN_PER_CELL
    points per centroid, and stays an EXACT no-op (mod == 1) at every
    committed SF."""
    from oe_batch_processing_spark.operators.similarity import (
        LLOYD_TRAIN_PER_CELL,
        adaptive_cells_mod,
        lloyd_train_mod,
    )

    # committed SFs: no-op with or without the cell geometry
    for n in (20, 200, 2000):
        assert lloyd_train_mod(n, adaptive_cells_mod(13, n)) == 1
        assert lloyd_train_mod(n, adaptive_cells_mod(37, n)) == 1
    # probe scales: the sample grows with ncells (~8 points per cell)
    for n, base in ((20_000, 13), (60_000, 13)):
        cm = adaptive_cells_mod(base, n)
        mod = lloyd_train_mod(n, cm)
        ncells = n // cm
        train = n // mod
        assert mod > 1
        assert train >= (LLOYD_TRAIN_PER_CELL - 1) * ncells, (n, train, ncells)
    # legacy one-arg form keeps the r11 fixed-cap behavior
    assert lloyd_train_mod(20_000) == 10
    assert lloyd_train_mod(60_000) == 30


def test_ivf_two_level_cell_scores_are_deterministic_and_covering(spark):
    """Round-13: the IVF/IVFPQ two-level coarse-quantizer build
    (_ivf_hier_cell_scores / _ivfpq_hier_cell_scores) engages above
    IVF_HIER_MIN_N — committed SFs stay on the flat path (asserted) — and
    must (a) be bit-deterministic run to run, (b) cover every vector with
    at least one scored cell, (c) emit unique (vec, cell) rows whose cell
    ids come from the centroid table, and (d) agree with the FLAT argmin
    assignment for the vectors whose best cell is reachable through the
    probed supers (measured: the overwhelming majority on a uniform
    corpus — pinned as a >= 60% floor)."""
    import hashlib

    from oe_batch_processing_spark.operators.similarity import (
        IVF_HIER_MIN_N,
        _ivf_hier_cell_scores,
    )
    from oe_batch_processing_spark.operators.similarity import (
        _DOT_SCALED_SQL as DOT,
    )

    assert IVF_HIER_MIN_N >= 2 * 2000  # sf0.1 corpus stays flat

    def vec(i: int) -> list[float]:
        h = hashlib.md5(f"hv:{i}".encode()).digest()
        return [b / 255.0 + 0.01 for b in h[:6]]

    n, cells_mod = 900, 30
    rows = [(i, vec(i)) for i in range(1, n + 1)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    nrm = F.sqrt(F.expr(
        "aggregate(transform(embedding, x -> CAST(ROUND(x * 31623) AS "
        "BIGINT)), 0L, (acc, x) -> acc + x * x)") / F.lit(1e9))
    vecs = emb.select("vec_id", "embedding", nrm.alias("nrm")).persist()
    cents = vecs.filter(F.col("vec_id") % cells_mod == 1).select(
        F.col("vec_id").alias("cell_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    ).persist()
    out1 = _ivf_hier_cell_scores(vecs, cents, cells_mod).collect()
    out2 = _ivf_hier_cell_scores(vecs, cents, cells_mod).collect()
    key = lambda r: (r["vec_id"], r["cell_id"])  # noqa: E731
    assert sorted(out1, key=key) == sorted(out2, key=key)  # (a)
    assert {r["vec_id"] for r in out1} == set(range(1, n + 1))  # (b)
    pairs = [key(r) for r in out1]
    assert len(pairs) == len(set(pairs))  # (c) unique
    cell_ids = {r["cell_id"] for r in cents.collect()}
    assert {r["cell_id"] for r in out1} <= cell_ids  # (c) subset
    # (d) agreement with the flat argmax on best-cell assignment
    hier_best = {}
    for r in sorted(out1, key=lambda r: (-r["cs"], r["cell_id"])):
        hier_best.setdefault(r["vec_id"], r["cell_id"])
    cs = (F.expr(DOT.format(a="embedding", b="c_emb")) / F.lit(1e9)) / (
        F.col("nrm") * F.col("c_nrm")
    )
    flat = (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", "cell_id", cs.alias("cs"))
        .groupBy("vec_id")
        .agg(F.max(F.struct("cs", (-F.col("cell_id")).alias("nc"))).alias("b"))
        .select("vec_id", (-F.col("b.nc")).alias("cell_id"))
        .collect()
    )
    agree = sum(1 for r in flat if hier_best[r["vec_id"]] == r["cell_id"])
    assert agree >= 0.6 * n, f"only {agree}/{n} agree with flat argmax"
    vecs.unpersist(); cents.unpersist()


def test_ann_rep_collapse_matches_flat(spark, tmp_path):
    """Round-13: above ANN_REP_MIN_N the LSH and PQ corpus sides run on
    content representatives (bucket keys / PQ codes / rescore scores are
    content-determined, so replica-heavy corpora pay every replica in the
    candidate scan for identical results). The collapse + top-k prune +
    membership expansion must reproduce the FLAT output bit-identically —
    both operators run both paths (threshold patched both ways, restored
    in finally) on a replica-heavy corpus whose query vectors belong to
    multi-member content classes (exercising the post-expansion
    self-exclusion and the massive score-tie ordering)."""
    import hashlib

    import pandas as pd

    from oe_batch_processing_spark.operators import similarity as sim
    from oe_batch_processing_spark.operators import similarity2 as sim2
    from oe_batch_processing_spark.operators.similarity import (
        lsh_topk,
        similarity_topk_ivf,
    )
    from oe_batch_processing_spark.operators.similarity2 import (
        similarity_topk_ivfpq,
        similarity_topk_pq,
    )

    # every committed SF (<= 2000 vectors) stays on the flat plan
    assert sim.ANN_REP_MIN_N > 2000 and sim2.ANN_REP_MIN_N > 2000

    n_base, n_rep = 250, 8  # 2000 rows, 250 distinct contents

    def vec(b: int) -> list[float]:
        bs = b"".join(
            hashlib.md5(f"rc:{b}:{k}".encode()).digest() for k in range(4)
        )
        # (x-127)/256 is float32-exact, so replicas are byte-identical
        return [(x - 127) / 256.0 for x in bs]

    rows = [
        (r * 10_000 + b, vec(b)) for r in range(n_rep) for b in range(n_base)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb.coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    sf_dir = str(tmp_path)
    # queries: vec_id % 100 == 0 -> contents {0, 100, 200} x 8 replicas

    def run(fn, threshold, hier=None):
        old_s, old_s2 = sim.ANN_REP_MIN_N, sim2.ANN_REP_MIN_N
        old_h, old_h2 = sim.IVF_HIER_MIN_N, sim2.IVF_HIER_MIN_N
        sim.ANN_REP_MIN_N = sim2.ANN_REP_MIN_N = threshold
        if hier is not None:
            sim.IVF_HIER_MIN_N = sim2.IVF_HIER_MIN_N = hier
        try:
            df = fn(spark, sf_dir)
            pdf = df.toPandas()
        finally:
            sim.ANN_REP_MIN_N, sim2.ANN_REP_MIN_N = old_s, old_s2
            sim.IVF_HIER_MIN_N, sim2.IVF_HIER_MIN_N = old_h, old_h2
            spark.catalog.clearCache()  # flat/collapsed share plan prefixes
        cols = list(pdf.columns)
        return pdf.sort_values(cols).reset_index(drop=True)

    for fn in (
        lambda sp, sd: lsh_topk(sp, sd, sim.N_PLANES, sim.N_TABLES),
        similarity_topk_pq,
        similarity_topk_ivf,
        similarity_topk_ivfpq,
    ):
        flat = run(fn, 10**12)
        collapsed = run(fn, 1)
        assert len(flat) > 0
        # replica classes guarantee score ties -> nonvacuous expansion
        pd.testing.assert_frame_equal(flat, collapsed)
    # collapse + two-level quantizer combined (the shape the 10x/30x
    # probes actually run): hier forced on for BOTH runs, identical
    # assignment rule, collapse the only variable
    for fn in (similarity_topk_ivf, similarity_topk_ivfpq):
        flat_h = run(fn, 10**12, hier=1000)
        collapsed_h = run(fn, 1, hier=1000)
        assert len(flat_h) > 0
        pd.testing.assert_frame_equal(flat_h, collapsed_h)


def test_semdedup_rep_collapse_matches_uncollapsed(spark, tmp_path):
    """Round-13: above SEMDEDUP_REP_MIN_N the SemDeDup corpus collapses to
    content representatives before assignment and the within-cell pair
    stage; the witness-set expansion (directed qualifying classes +
    computed self-cosine edges + sorted member pools) must reproduce the
    uncollapsed hierarchy output BIT-IDENTICALLY on a replica-heavy
    corpus. Both runs sit above SEMDEDUP_HIER_MIN_N so the routed
    hierarchy (full-corpus centroid strides, rep-routed side) is the
    code path under test."""
    import hashlib

    import pandas as pd

    from oe_batch_processing_spark.operators import similarity2 as sim2
    from oe_batch_processing_spark.operators.similarity2 import (
        semdedup_clusters,
    )

    # every committed SF (<= 2000 vectors) stays below both gates
    assert sim2.SEMDEDUP_REP_MIN_N > 2000

    n_base, n_rep = 1200, 8  # 9600 rows > both 8192 gates, 1200 contents

    def vec(b: int) -> list[float]:
        bs = b"".join(
            hashlib.md5(f"sc:{b}:{k}".encode()).digest() for k in range(4)
        )
        return [(x - 127) / 256.0 for x in bs]

    rows = [
        (r * 100_000 + b, vec(b))
        for r in range(n_rep)
        for b in range(1, n_base + 1)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run(rep_min_n):
        pdf = semdedup_clusters(emb, rep_min_n=rep_min_n).toPandas()
        spark.catalog.clearCache()  # both paths share plan prefixes
        cols = list(pdf.columns)
        return pdf.sort_values(cols).reset_index(drop=True)

    uncollapsed = run(10**12)
    collapsed = run(None)  # default gate: engages at 9600
    assert len(uncollapsed) > 0
    # replica classes guarantee multi-member pools and self-edges
    assert (uncollapsed["n_witnesses"] > 1).any()
    pd.testing.assert_frame_equal(uncollapsed, collapsed)

    # the FLAT-assignment + collapse combination (unreachable with the
    # default equal gates, but the route-aware flat branch must still be
    # exact): hier forced off for both runs, collapse the only variable
    def run_flat(rep_min_n):
        pdf = semdedup_clusters(
            emb, hier_min_n=10**12, rep_min_n=rep_min_n
        ).toPandas()
        spark.catalog.clearCache()
        cols = list(pdf.columns)
        return pdf.sort_values(cols).reset_index(drop=True)

    pd.testing.assert_frame_equal(run_flat(10**12), run_flat(1))


def test_ann_rep_expand_topk_matches_bruteforce_reference(spark):
    """Property test for the expansion helper itself (round-13): on
    randomized class structures — duplicate rep_cand rows (multi-table
    LSH), deliberate score ties across classes, queries inside and
    outside candidate classes, singleton query-only classes — the
    helper's output, re-ranked by the caller's window, must equal the
    brute-force top-k over the fully expanded member rows (query's own
    id excluded). Seeded loop, both orderings."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from oe_batch_processing_spark.operators.similarity import (
        ann_rep_expand_topk,
    )

    rng = random.Random(1307)
    for case in range(6):
        ascending = case % 2 == 0
        k = rng.choice([1, 3, 5])
        # disjoint member classes with interleaved ids
        n_classes = rng.randint(3, 7)
        ids = list(range(1, 60))
        rng.shuffle(ids)
        classes, i = [], 0
        for _ in range(n_classes):
            size = rng.randint(1, 5)
            classes.append(sorted(ids[i : i + size]))
            i += size
        reps = [min(c) for c in classes]
        queries = rng.sample(
            [m for c in classes for m in c], min(3, n_classes)
        )
        # rep-level candidates: a random subset of (query, class) with
        # tie-heavy scores; duplicate some rows verbatim
        rows = []
        for q in queries:
            for r_i, r in enumerate(reps):
                if rng.random() < 0.8:
                    score = float(rng.choice([0.1, 0.2, 0.3]))
                    rows.append((q, r, score))
                    if rng.random() < 0.3:
                        rows.append((q, r, score))  # multi-table dup
        if not rows:
            continue
        rep_cand = spark.createDataFrame(
            rows, "query_id long, rep_id long, score double"
        )
        groups = spark.createDataFrame(
            [(r, c) for r, c in zip(reps, classes)],
            "rep_id long, members array<long>",
        )
        got = ann_rep_expand_topk(
            rep_cand, groups, k, "score", ascending=ascending
        )
        direction = (
            F.col("score").asc() if ascending else F.col("score").desc()
        )
        w = Window.partitionBy("query_id").orderBy(direction, "neighbor_id")
        got_topk = {
            (r["query_id"], r["neighbor_id"], r["score"])
            for r in got.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .collect()
        }
        # brute force: expand EVERY candidate class fully, exclude the
        # query id, rank by (score, neighbor_id)
        expect = set()
        by_rep = dict(zip(reps, classes))
        for q in queries:
            expanded = sorted(
                {
                    (s, m)
                    for (qq, r, s) in rows
                    if qq == q
                    for m in by_rep[r]
                    if m != q
                },
                key=lambda t: (t[0] if ascending else -t[0], t[1]),
            )
            expect |= {(q, m, s) for s, m in expanded[:k]}
        assert got_topk == expect, f"case {case}: {got_topk ^ expect}"


def test_ngram_spans_rep_collapse_matches_oracle(spark, tmp_path):
    """Round-14: docs_duplicate_ngram_spans runs its gram build, the
    duplicated-gram window, and the interval-island pass on content
    representatives (always-on collapse), expanding per-rep span stats
    through the membership join. On a replica-heavy corpus the weighted
    duplicated-gram predicate ``(nd_reps >= 2) OR (group_size >= 2)``
    must reproduce the flat distinct-DOCUMENT semantics — checked
    against the registered DuckDB oracle (which IS the flat per-doc
    computation) on a corpus exercising every branch: a 3-replica class
    (gsz-only duplication, full coverage), singleton-to-singleton and
    singleton-to-replica shared grams (nd branch), a replicated
    sub-window-length text (absent despite replicas), a unique
    singleton (absent), and a doc with two disjoint islands."""
    import duckdb
    import pandas as pd

    from oe_batch_processing_spark import registry
    from oe_batch_processing_spark.operators.textops2 import (
        docs_duplicate_ngram_spans,
    )
    from oe_batch_processing_spark.testing import compare

    shared = " ".join(f"s{i}" for i in range(8))  # one exact 8-gram
    a = " ".join(f"a{i}" for i in range(20))
    b = (
        " ".join(f"b{i}" for i in range(5))
        + " " + shared + " "
        + " ".join(f"b{i}" for i in range(5, 9))
    )
    c = shared + " " + " ".join(f"c{i}" for i in range(7))
    d = " ".join(f"d{i}" for i in range(15))
    e = " ".join(f"e{i}" for i in range(6))
    f_ = (
        " ".join(f"a{i}" for i in range(8))
        + " " + " ".join(f"f{i}" for i in range(6))
    )
    g = shared + " " + " ".join(f"g{i}" for i in range(9)) + " " + shared
    rows = [
        (1, a), (2, a), (3, a),          # 3-replica class, 20 tokens
        (4, b), (5, c),                  # singletons sharing `shared`
        (6, d),                          # unique singleton -> absent
        (7, e), (8, e), (9, e), (10, e), # 6-token replicas -> absent
        (11, f_),                        # singleton sharing a gram with A
        (12, g),                         # two disjoint islands
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    path = tmp_path / "documents.parquet"
    pdf.to_parquet(path)

    spdf = docs_duplicate_ngram_spans(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
    )
    odf = con.execute(
        registry.ORACLE["docs_duplicate_ngram_spans"]
    ).fetchdf()
    assert compare(spdf, odf) is None
    # branch assertions: the gsz-only class is fully covered via the
    # membership expansion; short-replica and unique docs are absent
    assert set(spdf.doc_id) == {1, 2, 3, 4, 5, 11, 12}
    for did in (1, 2, 3):
        row = spdf[spdf.doc_id == did].iloc[0]
        assert row.n_spans == 1 and row.dup_fraction == 1.0
    assert int(spdf[spdf.doc_id == 12].n_spans.iloc[0]) == 2


def test_collapse_gate_contract_sweep(spark, tmp_path):
    """Round-14 (verdict item 6): ONE parameterized sweep pinning the
    ``n >= GATE`` contract for every collapse/hierarchy gate constant,
    replacing the per-operator spot assertions. For each gated operator
    on an N-row corpus:

    - gate = N+1 and gate = 10**12 build the IDENTICAL plan (normalized
      for expression ids) — sitting one below the threshold is
      bit-identical to sitting far below it, the committed-SF guarantee;
    - gate = N builds a DIFFERENT plan (the gated path engages exactly
      at n == gate, pinning >= against a future > off-by-one) whose
      OUTPUT matches the flat run exactly.

    Also pins the constants themselves at the documented 8192."""
    import hashlib
    import re

    import pandas as pd

    from oe_batch_processing_spark.operators import similarity as sim
    from oe_batch_processing_spark.operators import similarity2 as sim2
    from oe_batch_processing_spark.operators.similarity import (
        lsh_topk,
        similarity_topk_ivf,
    )
    from oe_batch_processing_spark.operators.similarity2 import (
        semdedup_clusters,
        similarity_topk_ivfpq,
        similarity_topk_pq,
    )

    assert sim.ANN_REP_MIN_N == 8192 and sim2.ANN_REP_MIN_N == 8192
    assert sim.IVF_HIER_MIN_N == 8192 and sim2.IVF_HIER_MIN_N == 8192
    assert sim2.SEMDEDUP_REP_MIN_N == 8192

    n_base, n_rep = 30, 4
    n = n_base * n_rep

    def vec(b: int) -> list[float]:
        bs = b"".join(
            hashlib.md5(f"gc:{b}:{k}".encode()).digest() for k in range(4)
        )
        return [(x - 127) / 256.0 for x in bs]

    rows = [
        (r * 10_000 + b, vec(b)) for r in range(n_rep) for b in range(n_base)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb.coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    sf_dir = str(tmp_path)

    def norm_plan(df) -> str:
        s = df._jdf.queryExecution().optimizedPlan().toString()
        s = re.sub(r"#\d+", "#x", s)
        return re.sub(r"plan_id=\d+", "plan_id=x", s)

    def run(fn, attrs, gate):
        saved = [(m, a, getattr(m, a)) for m, a in attrs]
        for m, a in attrs:
            setattr(m, a, gate)
        try:
            df = fn(spark, sf_dir)
            plan = norm_plan(df)
            pdf = df.toPandas()
        finally:
            for m, a, v in saved:
                setattr(m, a, v)
            spark.catalog.clearCache()
        cols = list(pdf.columns)
        return plan, pdf.sort_values(cols).reset_index(drop=True)

    ANN = [(sim, "ANN_REP_MIN_N"), (sim2, "ANN_REP_MIN_N")]
    HIER = [(sim, "IVF_HIER_MIN_N"), (sim2, "IVF_HIER_MIN_N")]
    cases = [
        ("lsh/rep", lambda sp, sd: lsh_topk(sp, sd, sim.N_PLANES, sim.N_TABLES), ANN),
        ("pq/rep", similarity_topk_pq, ANN),
        ("ivf/rep", similarity_topk_ivf, ANN),
        ("ivfpq/rep", similarity_topk_ivfpq, ANN),
        ("ivf/hier", similarity_topk_ivf, HIER),
        ("ivfpq/hier", similarity_topk_ivfpq, HIER),
    ]
    for label, fn, attrs in cases:
        plan_below, out_below = run(fn, attrs, n + 1)
        plan_far, out_far = run(fn, attrs, 10**12)
        assert plan_below == plan_far, f"{label}: n+1 plan != far-below plan"
        pd.testing.assert_frame_equal(out_below, out_far)
        plan_at, out_at = run(fn, attrs, n)
        assert plan_at != plan_below, (
            f"{label}: gate == n did not engage the gated path (>= broken?)"
        )
        assert len(out_below) > 0
        pd.testing.assert_frame_equal(out_below, out_at, obj=label)

    # semdedup gates are call parameters backed by the module constants
    demb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    for label, kw in (
        ("semdedup/rep", "rep_min_n"),
        ("semdedup/hier", "hier_min_n"),
    ):
        def sd(gate, kw=kw):
            spark.catalog.clearCache()
            df = semdedup_clusters(demb, **{kw: gate})
            plan = norm_plan(df)
            pdf = df.toPandas()
            spark.catalog.clearCache()
            cols = list(pdf.columns)
            return plan, pdf.sort_values(cols).reset_index(drop=True)

        plan_below, out_below = sd(n + 1)
        plan_far, out_far = sd(10**12)
        assert plan_below == plan_far, f"{label}: n+1 plan != far-below plan"
        pd.testing.assert_frame_equal(out_below, out_far)
        plan_at, out_at = sd(n)
        assert plan_at != plan_below, f"{label}: gate == n did not engage"
        assert len(out_below) > 0
        pd.testing.assert_frame_equal(out_below, out_at, obj=label)


def test_pca_weighted_collapse_matches_oracle(spark, tmp_path):
    """Round-14: embedding_pca_power_iteration folds the corpus to
    (distinct qe, cnt) and weights every per-dimension sum by cnt — an
    exact regrouping of the flat BIGINT sums. Checked against the
    registered DuckDB oracle (which computes the flat per-row form) on a
    replica-heavy corpus with UNEVEN class sizes (1, 2, 7, 30 copies),
    where any weighting bug (dropped cnt, cnt on the wrong factor)
    changes the integers."""
    import duckdb
    import hashlib
    import pandas as pd

    from oe_batch_processing_spark import registry
    from oe_batch_processing_spark.operators.similarity2 import (
        embedding_pca_power_iteration,
    )
    from oe_batch_processing_spark.testing import compare

    def vec(b: int) -> list[float]:
        bs = b"".join(
            hashlib.md5(f"pw:{b}:{k}".encode()).digest() for k in range(4)
        )
        return [(x - 127) / 256.0 for x in bs]

    rows, nid = [], 0
    for b, copies in enumerate([1, 2, 7, 30] * 10):
        for _ in range(copies):
            rows.append((nid, vec(b)))
            nid += 1
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    path = tmp_path / "embeddings.parquet"
    pdf.to_parquet(path)

    spdf = embedding_pca_power_iteration(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')"
    )
    odf = con.execute(
        registry.ORACLE["embedding_pca_power_iteration"]
    ).fetchdf()
    assert compare(spdf, odf) is None
    assert len(spdf) == 64


def test_dsir_importance_matches_oracle_and_semantics(spark, tmp_path):
    """Round-14 addition: pipeline_dsir_importance (hashed-ngram importance
    selection) checked against its registered DuckDB oracle on a corpus
    engineered so the decision is vocabulary-driven: target ('en') docs
    speak vocab A, raw docs speak vocab B, and two probe docs cross over
    (a non-en doc in pure vocab A must be selected; an en doc in pure
    vocab B must not). Edge rows: empty text (0 features, not selected),
    a single-word doc (no bigram leg), and exact-duplicate contents."""
    import duckdb
    import pandas as pd

    from oe_batch_processing_spark import registry
    from oe_batch_processing_spark.operators.pipeline import (
        pipeline_dsir_importance,
    )
    from oe_batch_processing_spark.testing import compare

    voc_a = ["alpha", "bravo", "carbon", "delta", "ember"]
    voc_b = ["zinc", "yarrow", "xenon", "willow", "vortex"]

    def sent(voc, seed, n=12):
        return " ".join(voc[(seed * 7 + k) % len(voc)] for k in range(n))

    rows = []
    for i in range(8):  # target slice: vocab A
        rows.append((i, sent(voc_a, i), "en", "web", 0))
    for i in range(8, 16):  # raw slice: vocab B
        rows.append((i, sent(voc_b, i), "de", "web", 0))
    rows.append((16, sent(voc_a, 3), "fr", "web", 0))   # probe: A-vocab, non-en
    rows.append((17, sent(voc_b, 5), "en", "web", 0))   # probe: B-vocab, en
    rows.append((18, "", "de", "web", 0))               # empty text
    rows.append((19, "alpha", "de", "web", 0))          # single word
    rows.append((20, sent(voc_a, 0), "en", "web", 0))   # dup of doc 0's text
    # replica classes CROSSING the target/raw boundary — the regime the
    # weighted collapse must weight correctly (same content counted into
    # ct through its en members AND into cr through its de members)
    rows.append((21, sent(voc_a, 0), "de", "web", 0))
    rows.append((22, sent(voc_a, 0), "de", "web", 0))
    rows.append((23, sent(voc_b, 8), "en", "web", 0))
    rows.append((24, "", "en", "web", 0))               # dup empty, en side
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    path = tmp_path / "documents.parquet"
    pdf.to_parquet(path)

    spdf = pipeline_dsir_importance(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
    )
    odf = con.execute(registry.ORACLE["pipeline_dsir_importance"]).fetchdf()
    assert compare(spdf, odf) is None

    # the weighted representative collapse (rep_min_n=1 forces it) must
    # reproduce the flat relation bit-identically, and the oracle agrees
    collapsed = pipeline_dsir_importance(
        spark, str(tmp_path), rep_min_n=1
    ).toPandas()
    assert compare(collapsed, odf) is None

    # gate contract: constant pinned, plan-identity below, >= at n
    import re as _re

    from oe_batch_processing_spark.operators import pipeline as pl

    assert pl.DSIR_REP_MIN_N == 8192

    def norm_plan(df) -> str:
        s = df._jdf.queryExecution().optimizedPlan().toString()
        s = _re.sub(r"#\d+", "#x", s)
        return _re.sub(r"plan_id=\d+", "plan_id=x", s)

    n = len(pdf)
    plan_below = norm_plan(
        pipeline_dsir_importance(spark, str(tmp_path), rep_min_n=n + 1)
    )
    plan_far = norm_plan(
        pipeline_dsir_importance(spark, str(tmp_path), rep_min_n=10**12)
    )
    assert plan_below == plan_far
    plan_at = norm_plan(
        pipeline_dsir_importance(spark, str(tmp_path), rep_min_n=n)
    )
    assert plan_at != plan_below, "gate == n did not engage (>= broken?)"

    by_id = spdf.set_index("doc_id")
    assert by_id.loc[16, "selected"] == 1, "A-vocab non-en probe not selected"
    assert by_id.loc[17, "selected"] == 0, "B-vocab en probe selected"
    assert by_id.loc[18, "n_features"] == 0
    assert by_id.loc[18, "selected"] == 0
    # single word => 1 unigram, 0 bigrams
    assert by_id.loc[19, "n_features"] == 1
    # 12 words => 12 unigrams + 11 bigrams
    assert by_id.loc[0, "n_features"] == 23
    # identical text => identical dot products (content-determined)
    assert (
        by_id.loc[20, ["n_features", "dot_target", "dot_raw"]].tolist()
        == by_id.loc[0, ["n_features", "dot_target", "dot_raw"]].tolist()
    )
    # every en-slice doc beats every raw-slice doc on the decision
    assert by_id.loc[range(0, 8), "selected"].all()
    assert not by_id.loc[range(8, 16), "selected"].any()


def test_split_leakage_report_collapse_matches_oracle(spark, tmp_path):
    """Round-14: pipeline_split_leakage_report collapsed onto content
    representatives (the r14 30x probe read 41.95x on the pre-collapse
    form). Checked against the registered DuckDB oracle (which computes
    the flat doc-level pair form) on a replica-heavy corpus whose
    duplicate classes CROSS the md5(doc_id) split — the exact regime
    where partner_train(b) * n_s(b) counting must reproduce the pair
    explosion: replica classes of sizes 1/2/7/30, a near-dup (J >= 0.8)
    content pair, a below-threshold pair, and sub-trigram texts that
    must never leak."""
    import duckdb
    import pandas as pd

    from oe_batch_processing_spark import registry
    from oe_batch_processing_spark.operators.pipeline import (
        pipeline_split_leakage_report,
    )
    from oe_batch_processing_spark.testing import compare

    base = ["w%d" % k for k in range(30)]
    near = base[:-1] + ["zz"]          # shares most trigrams with base
    far = ["q%d" % k for k in range(30)]  # disjoint vocabulary
    contents = [
        (" ".join(base), 30),   # big replica class
        (" ".join(near), 7),    # near-dup of base, J >= 0.8
        (" ".join(far), 2),     # unrelated class
        ("one two", 5),         # < 3 words: no shingles, never leaks
        (" ".join(base[5:25]), 1),  # singleton, below 0.8 vs base
    ]
    rows, nid = [], 0
    for text, copies in contents:
        for _ in range(copies):
            rows.append((nid, text, "en", "web", len(text)))
            nid += 1
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    path = tmp_path / "documents.parquet"
    pdf.to_parquet(path)

    # rep_min_n=1 forces the COLLAPSED path (the corpus is far below the
    # production gate); rep_min_n far above n forces the FLAT path — the
    # oracle must match both, and both must match each other
    collapsed = pipeline_split_leakage_report(
        spark, str(tmp_path), rep_min_n=1
    ).toPandas()
    flat = pipeline_split_leakage_report(
        spark, str(tmp_path), rep_min_n=10**12
    ).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
    )
    odf = con.execute(
        registry.ORACLE["pipeline_split_leakage_report"]
    ).fetchdf()
    assert compare(collapsed, odf) is None
    assert compare(flat, odf) is None
    # the corpus is engineered to actually leak: the 30-copy class plus
    # its J >= 0.8 partner must put multi-pair counts in the report
    assert len(collapsed) >= 1
    assert collapsed["n_leak_pairs"].sum() > collapsed["n_leaked_docs"].sum()

    # gate contract (the collapse family's convention): the constant is
    # 8192; gate = n+1 and gate = far-below build the identical plan;
    # gate = n engages the collapsed path (pins >= against off-by-one)
    import re as _re

    from oe_batch_processing_spark.operators import pipeline as pl

    assert pl.LEAKAGE_REP_MIN_N == 8192

    def norm_plan(df) -> str:
        s = df._jdf.queryExecution().optimizedPlan().toString()
        s = _re.sub(r"#\d+", "#x", s)
        return _re.sub(r"plan_id=\d+", "plan_id=x", s)

    n = len(pdf)
    plan_below = norm_plan(
        pipeline_split_leakage_report(spark, str(tmp_path), rep_min_n=n + 1)
    )
    plan_far = norm_plan(
        pipeline_split_leakage_report(spark, str(tmp_path), rep_min_n=10**12)
    )
    assert plan_below == plan_far
    plan_at = norm_plan(
        pipeline_split_leakage_report(spark, str(tmp_path), rep_min_n=n)
    )
    assert plan_at != plan_below, "gate == n did not engage (>= broken?)"
    out_at = (
        pipeline_split_leakage_report(spark, str(tmp_path), rep_min_n=n)
        .toPandas()
        .sort_values("held_split")
        .reset_index(drop=True)
    )
    import pandas as _pd

    _pd.testing.assert_frame_equal(
        out_at, flat.sort_values("held_split").reset_index(drop=True)
    )


def test_contamination_screen_cross_split_semantics(spark, tmp_path):
    """Round-15: pipeline_contamination_screen's always-on content
    collapse must reproduce the flat per-doc semantics the registered
    DuckDB oracle computes, on a corpus exercising the interesting
    branches: a replica class whose members CROSS the bench/corpus
    boundary (doc 16 is test-split, docs 1-2 are its byte-identical
    train twins -> fully contaminated), a train doc sharing one interior
    8-gram with a bench doc (partial island), a train doc with two
    disjoint contaminated islands, bench-only contents (never emitted),
    an uncontaminated train doc, and a sub-window-length train replica
    of a bench text (absent: no 8-gram exists). md5-split bucket-9 ids
    (9, 16, 32) are the bench slice."""
    import duckdb
    import pandas as pd

    from oe_batch_processing_spark import registry
    from oe_batch_processing_spark.operators.pipeline import (
        pipeline_contamination_screen,
    )
    from oe_batch_processing_spark.testing import compare

    bench_core = " ".join(f"q{i}" for i in range(8))  # one exact 8-gram
    twin = " ".join(f"t{i}" for i in range(20))
    partial = (
        " ".join(f"p{i}" for i in range(5))
        + " " + bench_core + " "
        + " ".join(f"p{i}" for i in range(5, 9))
    )
    two_islands = (
        bench_core + " " + " ".join(f"z{i}" for i in range(9))
        + " " + bench_core
    )
    clean = " ".join(f"c{i}" for i in range(15))
    short = " ".join(f"s{i}" for i in range(6))
    rows = [
        (16, twin),          # bench member of the cross-split class
        (1, twin), (2, twin),  # its train twins -> fraction 1.0
        (9, bench_core + " " + " ".join(f"b{i}" for i in range(6))),
        (32, short),         # bench: sub-window text, contributes no gram
        (3, partial),        # train: one interior island
        (4, two_islands),    # train: two disjoint islands
        (5, clean),          # train: uncontaminated -> absent
        (6, short),          # train twin of bench short text -> absent
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    path = tmp_path / "documents.parquet"
    pdf.to_parquet(path)

    spdf = pipeline_contamination_screen(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
    )
    odf = con.execute(
        registry.ORACLE["pipeline_contamination_screen"]
    ).fetchdf()
    assert compare(spdf, odf) is None
    assert set(spdf.doc_id) == {1, 2, 3, 4}
    for did in (1, 2):  # exact cross-split duplicates: fully contaminated
        row = spdf[spdf.doc_id == did].iloc[0]
        assert row.n_spans == 1 and row.contamination_fraction == 1.0
    assert int(spdf[spdf.doc_id == 3].n_spans.iloc[0]) == 1
    assert int(spdf[spdf.doc_id == 3].covered_tokens.iloc[0]) == 8
    assert int(spdf[spdf.doc_id == 4].n_spans.iloc[0]) == 2


def test_bm25_rep_collapse_matches_flat_and_oracle(spark, tmp_path):
    """Round-15: text_bm25_shingle_retrieval's gated content collapse
    must reproduce the flat member-level semantics the registered DuckDB
    oracle computes, on a corpus exercising the adversarial branches: a
    query content whose replica class CROSSES the split boundary (test
    docs 9/16/32 and train doc 1 share one text -> doc 1 is the full-
    overlap top hit and all three queries get identical ranked lists), a
    single-member train content (doc 7) with a rarer shared gram
    (higher idf -> rank 2), and TWO DISTINCT train contents C={6,10} /
    D={3,8} with IDENTICAL per-term milli (same tf/dl/df) whose members
    interleave by doc_id in the flat ranking — stage 1's
    (milli, best-member) prune must keep D (best 3) and may drop C
    (best 6) without changing the exact top-3. Also pins the gate
    contract: one-below == far-below plan identity, engagement at n."""
    import re

    import duckdb
    import pandas as pd

    from oe_batch_processing_spark import registry
    from oe_batch_processing_spark.operators import llmops2 as L
    from oe_batch_processing_spark.operators.llmops2 import (
        text_bm25_shingle_retrieval,
    )
    from oe_batch_processing_spark.testing import compare

    assert L.BM25_REP_MIN_N == 8192

    ta = "qa qb qc qd qe x1 x2 x3 x4 x5"     # the query/replica text
    tb = "qc qd qe b1 b2 b3 b4 b5 b6 b7"     # shares gram 'qc qd qe' (df 2)
    tc = "qa qb qc c1 c2 c3 c4 c5 c6 c7"     # shares 'qa qb qc' (df 3)
    td = "qb qc qd d1 d2 d3 d4 d5 d6 d7"     # shares 'qb qc qd' (df 3)
    tf_ = "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10"   # train filler (keeps N > 2*df)
    rows = [
        (16, ta), (9, ta), (32, ta),  # test-split members of content A
        (1, ta),                      # train twin -> full-overlap top hit
        (7, tb),                      # single-member content B
        (6, tc), (10, tc),            # content C
        (3, td), (8, td),             # content D (ties C; best member 3)
        (2, tf_),                     # filler
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    path = tmp_path / "documents.parquet"
    pdf.to_parquet(path)
    n = len(rows)

    def norm_plan(df) -> str:
        s = df._jdf.queryExecution().optimizedPlan().toString()
        s = re.sub(r"#\d+", "#x", s)
        return re.sub(r"plan_id=\d+", "plan_id=x", s)

    flat_df = text_bm25_shingle_retrieval(spark, str(tmp_path), rep_min_n=10**12)
    below_df = text_bm25_shingle_retrieval(spark, str(tmp_path), rep_min_n=n + 1)
    at_df = text_bm25_shingle_retrieval(spark, str(tmp_path), rep_min_n=n)
    assert norm_plan(flat_df) == norm_plan(below_df)
    assert norm_plan(at_df) != norm_plan(flat_df), "gate did not engage at n"

    key = ["query_doc", "rnk"]
    flat = flat_df.toPandas().sort_values(key).reset_index(drop=True)
    col = at_df.toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(flat, col)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
    )
    odf = con.execute(registry.ORACLE["text_bm25_shingle_retrieval"]).fetchdf()
    assert compare(col, odf) is None

    # branch assertions: three identical query rows, exact top-3 order
    for q in (9, 16, 32):
        got = col[col.query_doc == q].sort_values("rnk")
        assert list(got.train_doc) == [1, 7, 3], (q, list(got.train_doc))
    # the tie pair C/D produced identical milli (the interleave case)
    m3 = int(col[(col.query_doc == 16) & (col.rnk == 3)].bm25_milli.iloc[0])
    # doc 6 (content C) would carry the same milli; it was pruned at
    # stage 1 (best 6 > best 3) — recompute flat to see both rows tie
    mem = flat[(flat.query_doc == 16) & (flat.rnk == 3)]
    assert int(mem.bm25_milli.iloc[0]) == m3


def test_quality_classifier_rep_collapse_matches_flat_and_oracle(
    spark, tmp_path
):
    """Round-16: pipeline_quality_classifier's gated content collapse
    must reproduce the flat per-doc semantics the registered DuckDB
    oracle computes, on a corpus exercising the adversarial branches: a
    replica class whose members CROSS splits and carry DIFFERENT labels
    (docs 1 'en' / 6 'fr' / 2 NULL / 9 test — the doc-weighted per-class
    masses must split the one content three ways), an exact class tie
    ('pa' and 'pb' each trained on one copy of the same text — every
    scored doc ties them, tie-break 'pa', margin 0), an empty-text train
    doc carrying an otherwise-absent class ('zz' must still enter the
    class list with uniform smoothed weights: the classes-from-docs
    branch), and zero-feature scored docs taking the deterministic
    default class. Also pins the gate contract (plan identity one-below
    vs far-below, engagement at n) and the oracle on the same corpus."""
    import re

    import duckdb
    import pandas as pd

    from oe_batch_processing_spark import registry
    from oe_batch_processing_spark.operators import pipeline as P
    from oe_batch_processing_spark.operators.pipeline import (
        pipeline_quality_classifier,
    )
    from oe_batch_processing_spark.testing import compare

    assert P.QC_REP_MIN_N == 8192

    t_main = "w1 w2 w3 w1 w2"
    t_tie = "t1 t2 t3 t4"
    rows = [
        (1, t_main, "en"),    # train
        (2, t_main, None),    # train, NULL label: outside every class
        (9, t_main, "en"),    # test member of the mixed-label content
        (6, t_main, "fr"),    # train, same content, different class
        (11, "w1 w2 w4", "en"),  # train: breaks the en/fr symmetry
        (3, t_tie, "pa"),     # train
        (8, t_tie, "pb"),     # train, identical text -> exact class tie
        (16, t_tie, "pb"),    # test: pred 'pa' by tie-break, margin 0
        (7, "", "zz"),        # train, empty text: class exists, no mass
        (32, "", "en"),       # test, zero features -> default class
        (4, "t1 t2 zq", "pa"),  # val doc (scored like every doc)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    path = tmp_path / "documents.parquet"
    pdf.to_parquet(path)
    n = len(rows)

    def norm_plan(df) -> str:
        s = df._jdf.queryExecution().optimizedPlan().toString()
        s = re.sub(r"#\d+", "#x", s)
        return re.sub(r"plan_id=\d+", "plan_id=x", s)

    flat_df = pipeline_quality_classifier(
        spark, str(tmp_path), rep_min_n=10**12
    )
    below_df = pipeline_quality_classifier(
        spark, str(tmp_path), rep_min_n=n + 1
    )
    at_df = pipeline_quality_classifier(spark, str(tmp_path), rep_min_n=n)
    assert norm_plan(flat_df) == norm_plan(below_df)
    assert norm_plan(at_df) != norm_plan(flat_df), "gate did not engage at n"

    flat = flat_df.toPandas().sort_values("doc_id").reset_index(drop=True)
    col = at_df.toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(flat, col)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
    )
    odf = con.execute(
        registry.ORACLE["pipeline_quality_classifier"]
    ).fetchdf()
    assert compare(col, odf) is None

    by_id = col.set_index("doc_id")
    # exact class tie: 'pa' wins by tie-break with zero margin
    assert by_id.loc[16, "pred_lang"] == "pa"
    assert by_id.loc[16, "margin"] == 0
    assert by_id.loc[16, "is_correct"] == 0  # actual label is 'pb'
    # zero-feature docs: deterministic default class ('en' = min class)
    for d in (7, 32):
        assert by_id.loc[d, "pred_lang"] == "en"
        assert by_id.loc[d, "score"] == 0
        assert by_id.loc[d, "n_features"] == 0
    assert by_id.loc[32, "is_correct"] == 1
    assert by_id.loc[7, "is_correct"] == 0  # 'zz' doc took the default
    # NULL-label doc is scored but never correct
    assert by_id.loc[2, "is_correct"] == 0
    # every doc got scored exactly once
    assert len(col) == n


def test_perplexity_buckets_match_python_definition(spark, tmp_path):
    """Round-16: pipeline_perplexity_buckets against an INDEPENDENT pure-
    Python recomputation of the pinned metric (quantized KN probability ->
    fixed-point shift-and-square log2 -> Q20 cross-entropy -> coarse
    tertile thresholds) — this pins the DEFINITION, not just cross-engine
    agreement (the registered DuckDB oracle covers that). Corpus branches:
    a train-replica doc (low entropy), an all-OOV doc (every quantized p
    floors at 1 -> h_q20 == L2_SCALE exactly), and enough spread that all
    three buckets are populated. Also pins the boundary convention (ties
    to the lower bucket)."""
    import pandas as pd

    from oe_batch_processing_spark.operators import langmodel as L
    from oe_batch_processing_spark.operators.langmodel import (
        _LM_SCALE,
        _PPX_COARSE,
        _PPX_L2_SCALE,
        _log2_q20_py,
        pipeline_perplexity_buckets,
    )

    t_rep = "a b a b a b a b"
    rows = [
        (0, t_rep), (1, t_rep), (2, t_rep),      # train replicas
        (3, "a b c d a b"), (4, "c d c d e f"),  # train variety
        (5, "e f g h a b"), (6, "g h g h c d"),  # train variety
        (7, t_rep),                              # train twin again
        (19, t_rep),                             # held-out replica -> head
        (18, "zz1 zz2 zz3 zz4"),                 # held-out all-OOV -> tail
        (12, "a b e f g h"), (13, "c d g h e f"),
        (14, "q r a b"), (15, "e f q r"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    (tmp_path / "d").mkdir()
    pdf.to_parquet(tmp_path / "d" / "documents.parquet")

    got = (
        pipeline_perplexity_buckets(spark, str(tmp_path / "d"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )

    # --- independent Python recomputation --------------------------------
    from collections import Counter, defaultdict

    def bigrams_of(text):
        w = text.split(" ")
        return list(zip(w[:-1], w[1:])) if len(w) >= 2 else []

    train_bi = Counter()
    for d, t in rows:
        if d % 10 < 8:
            train_bi.update(bigrams_of(t))
    cu1, n1post, n1pre = Counter(), Counter(), Counter()
    for (w1, w2), c in train_bi.items():
        cu1[w1] += c
        n1post[w1] += 1
        n1pre[w2] += 1
    nt = len(train_bi)

    def p_q(w1, w2):
        if w1 not in cu1:
            p = (_LM_SCALE * n1pre.get(w2, 0)) // nt
        else:
            p = (_LM_SCALE * max(4 * train_bi.get((w1, w2), 0) - 3, 0)) // (
                4 * cu1[w1]
            ) + (
                3 * n1post[w1] * ((_LM_SCALE * n1pre.get(w2, 0)) // nt)
            ) // (4 * cu1[w1])
        return max(p, 1)

    per_doc = {}
    for d, t in rows:
        bs = bigrams_of(t)
        if not bs:
            continue
        s = sum(_log2_q20_py(p_q(w1, w2)) for w1, w2 in bs)
        per_doc[d] = (len(bs), (len(bs) * _PPX_L2_SCALE - s) // len(bs))
    hcnt = Counter(h // _PPX_COARSE for _n, h in per_doc.values())
    n = len(per_doc)
    csum, cum = 0, {}
    for hc in sorted(hcnt):
        csum += hcnt[hc]
        cum[hc] = csum
    t1 = min(hc for hc in cum if 3 * cum[hc] >= n)
    t2 = min(hc for hc in cum if 3 * cum[hc] >= 2 * n)

    def bucket(h):
        hc = h // _PPX_COARSE
        return "head" if hc <= t1 else ("middle" if hc <= t2 else "tail")

    want = pd.DataFrame(
        [
            (d, nb, h, bucket(h))
            for d, (nb, h) in sorted(per_doc.items())
        ],
        columns=["doc_id", "n_bigrams", "h_q20", "bucket"],
    )
    pd.testing.assert_frame_equal(
        got.astype({"doc_id": "int64", "n_bigrams": "int64", "h_q20": "int64"}),
        want.astype({"doc_id": "int64", "n_bigrams": "int64", "h_q20": "int64"}),
    )
    by_id = got.set_index("doc_id")
    assert by_id.loc[18, "h_q20"] == _PPX_L2_SCALE  # all-OOV exact ceiling
    assert by_id.loc[18, "bucket"] == "tail"
    assert by_id.loc[19, "bucket"] == "head"        # held-out train replica
    assert set(got.bucket) == {"head", "middle", "tail"}
    assert L._PPX_QBITS == 20 and L._PPX_NORM == 1 << 29


def test_winnowing_matches_reference_algorithm(spark, tmp_path):
    """Round-16: text_winnowing_fingerprints against an independent
    pure-Python implementation of canonical winnowing (Schleimer et al.
    2003: per window of W gram hashes select the minimum, ties to the
    RIGHTMOST position, dedupe consecutive reselections) — pinning the
    definition, not just cross-engine agreement. Also asserts the
    algorithm's guarantees on the crafted corpus: every window contains
    a selected position (coverage), and two documents sharing a
    K+W-1-token run share at least one selected fingerprint hash."""
    import hashlib

    import pandas as pd

    from oe_batch_processing_spark.operators.textops2 import (
        WINNOW_K,
        WINNOW_W,
        _WINNOW_MOD,
        text_winnowing_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = K+W-1 run
    rows = [
        (1, "a b c d e f g h i j k l"),
        (2, f"p q r {shared} s t u v"),
        (3, f"{shared} x y z w v u t"),
        (4, "one two three four five six"),   # exactly K+W-1 tokens
        (5, "too short"),                      # below the gram+window floor
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    (tmp_path / "d").mkdir()
    pdf.to_parquet(tmp_path / "d" / "documents.parquet")

    got = (
        text_winnowing_fingerprints(spark, str(tmp_path / "d"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )

    def winnow(text):
        tk = text.lower().split(" ")
        grams = [
            " ".join(tk[i : i + WINNOW_K])
            for i in range(len(tk) - WINNOW_K + 1)
        ]
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams
        ]
        fps = set()
        for i in range(len(hs) - WINNOW_W + 1):
            win = hs[i : i + WINNOW_W]
            mn = min(win)
            j = max(p for p in range(WINNOW_W) if win[p] == mn) + i
            fps.add((j, hs[j]))
        return grams, hs, fps

    expect = []
    for d, t in rows:
        tk = t.split(" ")
        if len(tk) < WINNOW_K + WINNOW_W - 1:
            continue
        grams, hs, fps = winnow(t)
        g = len(grams)
        nw = g - WINNOW_W + 1
        expect.append(
            (
                d,
                g,
                nw,
                len(fps),
                (1_000_000 * len(fps)) // nw,
                sum(h % _WINNOW_MOD for _p, h in fps),
                min(h for _p, h in fps),
            )
        )
        # coverage guarantee: every window [i, i+W-1] holds a selection
        pos = {p for p, _h in fps}
        for i in range(nw):
            assert pos & set(range(i, i + WINNOW_W)), (d, i)
    want = pd.DataFrame(
        expect,
        columns=[
            "doc_id", "n_grams", "n_windows", "n_fingerprints",
            "density_ppm", "fp_mod_sum", "min_fp",
        ],
    )
    pd.testing.assert_frame_equal(
        got.astype("int64"), want.astype("int64")
    )
    # match guarantee: docs 2 and 3 share the 6-token run -> >= 1 shared
    # selected hash
    _g2, _h2, f2 = winnow(rows[1][1])
    _g3, _h3, f3 = winnow(rows[2][1])
    assert {h for _p, h in f2} & {h for _p, h in f3}
    # doc 5 (below the floor) is absent
    assert 5 not in set(got.doc_id)
