"""foreachBatch incremental-upsert sink — the production streaming-write
pattern Structured Streaming itself doesn't provide as a one-liner: each
micro-batch is aggregated and MERGED into a keyed target table, so the
target always holds the running per-key state (count, exact decimal sum,
latest event by event time).

The reference's closest shape is the BatchRun counts ledger finalized per
run (lib/batchProcessing.js:600-700); here the ledger is keyed, versioned,
and maintained incrementally under streaming semantics.

Honest multi-batch execution: the source table is pre-split into four
files and streamed with ``maxFilesPerTrigger=1``, so the upsert genuinely
runs four times and the final state is the four-way MERGE of partial
aggregates — order-independent because every merged quantity is
associative-commutative (counts add, decimal sums add, "latest" is a max
over a (ts, event_id) struct). The DuckDB oracle computes the same state
in one batch pass; a hash match proves the incremental path is lossless —
the same partial-state contract as ``mv_incremental_hourly``, but driven
through the real streaming engine with a real sink callback.

Scale: each micro-batch shuffles only its own rows into |users|-sized
partial aggregates; the target merge is a keyed full-outer join of
|users| rows. On a cluster the target would be Delta/Iceberg ``MERGE
INTO`` (same frame, same keys — see ``merge_upsert_customer_balance``);
the versioned-directory swap here is the dependency-free equivalent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oe_batch_processing_spark.registry import query
from oe_batch_processing_spark.session import conf_overrides, scratch_dir
from oe_batch_processing_spark.tables import load_table


@query(
    "stream_foreachbatch_upsert",
    oracle="""
    WITH ranked AS (
      SELECT user_id, value,
             CAST(round(value * 100) AS BIGINT) AS cents,
             event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           MIN(CASE WHEN rk = 1 THEN event_id END) AS last_event_id,
           MIN(CASE WHEN rk = 1 THEN cents END) AS last_cents
    FROM ranked GROUP BY user_id
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running state maintained by a foreachBatch MERGE across
    four real micro-batches (see module docstring)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    # source files, target versions and the stream checkpoint share one
    # scratch root
    with scratch_dir("oebp-feb-") as root:
        src = os.path.join(root, "src")
        # four files => four micro-batches at maxFilesPerTrigger=1. Round-robin
        # split (r17): repartitionByRange paid a SECOND full evaluation of the
        # source frame for its range-boundary sampling job; the merge is
        # associative-commutative over ANY disjoint 4-way split, so the batch
        # composition is free to be round-robin and the sampling pass is gone.
        ev.repartition(4).write.mode("overwrite").parquet(src)

        state = {"path": None, "version": 0}

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            # "latest event" merges as a max over a lexicographic struct —
            # associative, so batch arrival order cannot matter.
            agg = batch_df.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_dec"),
                F.max(
                    F.struct(
                        "ts_us",
                        "event_id",
                        F.round(F.col("value") * 100).cast("long").alias("cents"),
                    )
                ).alias("last"),
            )
            if state["path"] is None:
                merged = agg
            else:
                tgt = batch_df.sparkSession.read.parquet(state["path"])
                a, t = agg.alias("a"), tgt.alias("t")
                merged = (
                    a.join(t, "user_id", "full_outer")
                    .select(
                        "user_id",
                        (
                            F.coalesce(F.col("a.n_events"), F.lit(0))
                            + F.coalesce(F.col("t.n_events"), F.lit(0))
                        ).alias("n_events"),
                        (
                            F.coalesce(
                                F.col("a.sum_dec"), F.lit(0).cast("decimal(18,6)")
                            )
                            + F.coalesce(
                                F.col("t.sum_dec"), F.lit(0).cast("decimal(18,6)")
                            )
                        ).cast("decimal(18,6)").alias("sum_dec"),
                        F.greatest(
                            F.col("a.last"),
                            F.col("t.last"),
                        ).alias("last"),
                    )
                )
            state["version"] += 1
            new_path = os.path.join(root, f"target_v{state['version']}")
            merged.write.mode("overwrite").parquet(new_path)
            state["path"] = new_path

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert state["version"] >= 4, "expected at least four micro-batches"

        final = spark.read.parquet(state["path"]).select(
            "user_id",
            "n_events",
            F.col("sum_dec").cast("double").alias("total_value"),
            F.col("last.event_id").alias("last_event_id"),
            F.col("last.cents").alias("last_cents"),
        )
        # materialize before cleanup (the returned frame must not depend on
        # the scratch root once the caller executes it)
        return spark.createDataFrame(final.collect(), final.schema)


# --- streaming split-leakage gate (the batch audit, incrementally) -----------

_GATE_BLOOM_K = 3        # md5 16-bit slices reduced mod m, as in dedup bloom
_GATE_BLOOM_M = 1 << 16  # sized UP vs the dedup demo: shingle domain is big


from oe_batch_processing_spark import registry as _registry  # noqa: E402


@query(
    "stream_split_leakage_gate",
    # SHARES the batch audit's oracle verbatim: the incremental gate must
    # produce the identical report (same cross-validating-pair pattern as
    # star-CC/LPA sharing one transitive-closure oracle).
    oracle=_registry.ORACLE["pipeline_split_leakage_report"],
)
def stream_split_leakage_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eleventh batch/stream twin: ``pipeline_split_leakage_report`` as
    an INCREMENTAL foreachBatch gate — how a production pipeline actually
    runs the leakage audit: held-out docs arrive in micro-batches and are
    checked against the frozen train corpus at ingest time, not in a
    one-shot scan after the fact.

    Per micro-batch (four real ones, maxFilesPerTrigger=1 over range-split
    files): shingle the arriving docs, screen each distinct shingle
    against a Bloom bit-table of the TRAIN shingle universe (k=3 md5
    slices mod m — <= k*m rows to broadcast REGARDLESS of history size,
    and no false negatives, so the screen is exactness-preserving), join
    survivors to the static train inverted index, exact-Jaccard verify
    (>= 0.8), and append the confirmed leak pairs. Pairs from different
    batches are disjoint (each held doc lives in exactly one batch), so
    append-only accumulation IS the merge. The final report aggregates
    the accumulated pairs — hash-identical to the one-shot batch audit.

    Scale: the train-side structures are the streaming state of a real
    deployment — the inverted index partitioned by shingle (shuffled
    once, reused every batch) and the broadcast Bloom table; each batch
    shuffles only its own shingles. At 100 TB swap the exact index join
    for MinHash band candidates + exact verify, same as the batch op's
    documented path; the gate contract is unchanged.
    """
    from oe_batch_processing_spark.operators.dedup import word_shingles
    from oe_batch_processing_spark.operators.pipeline import _SPLIT_BYTE

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_SPLIT_BYTE) % 10
    tagged = docs.select(
        "doc_id",
        "text",
        F.when(bucket < 8, "train")
        .when(bucket == 8, "val")
        .otherwise("test")
        .alias("split"),
    )
    train = tagged.filter(F.col("split") == "train")
    held = tagged.filter(F.col("split") != "train")

    # Local-runner tunings (irrelevant at cluster scale): micro-batches
    # are FILE-sized (1/4 of the held split), so PER-BATCH shuffles at the
    # session-wide partition count pay ~4x task-dispatch overhead for no
    # parallelism — the STREAMING phase runs at a batch-sized partition
    # count, from just before start() through the final collect; the
    # static index build keeps the session width — its per-doc shingle
    # transform is the one stage here that wants all cores. Scratch
    # (checkpoint + source files) is a scratch_dir: the availableNow demo
    # doesn't need durable checkpoints, a production gate would point this
    # at object storage.
    # frozen history structures, built once and persisted across batches
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    tsh = (
        # r17: the per-doc distinct-shingle count (nt) rides the index
        # as a carried column, so the separate tcounts aggregate (and
        # its per-batch re-attach join) is gone — see rep_jaccard_pairs
        word_shingles(train, 3, count_col="nt")
        .withColumnRenamed("doc_id", "train_doc")
        # pre-partitioned on the join key BEFORE caching: the in-memory
        # scan then reports hashpartitioning(sh) and every micro-batch's
        # index join shuffles only the batch side — the history never
        # moves again (the streaming-state property a real gate needs)
        .repartition(n_part, "sh")
        .persist()
    )
    pos16 = (
        f"cast(conv(substr(md5(sh), j * 4 + 1, 4), 16, 10) as int) "
        f"% {_GATE_BLOOM_M}"
    )
    bloom_bits = (
        tsh.select("sh").distinct()
        .select(F.explode(F.expr(f"sequence(0, {_GATE_BLOOM_K - 1})")).alias("j"), "sh")
        .select(F.col("j").alias("k_idx"), F.expr(pos16).alias("pos"))
        .distinct()
        .persist()
    )
    try:
        with scratch_dir("oebp-leakgate-") as root:
            bloom_bits.count()  # materialize history state before the stream starts
            src = os.path.join(root, "held")
            # round-robin 4-way split (r17, see stream_foreachbatch_upsert):
            # leak pairs are disjoint per held doc under ANY split, so the
            # range-boundary sampling pass bought nothing.
            held.repartition(4).write.mode("overwrite").parquet(src)
            pairs_path = os.path.join(root, "leak_pairs")
            empty = spark.createDataFrame(
                [], "train_doc long, held_doc long, held_split string"
            )
            empty.write.mode("overwrite").parquet(pairs_path)  # schema anchor

            screened = {"shingles": 0, "survivors": 0, "batches": 0}

            def gate(batch_df: DataFrame, batch_id: int) -> None:
                # two consumers below (hits screen, cross join) — persist or
                # the batch gets re-shingled per consumer. The split tag AND
                # the per-doc count (nh) ride THROUGH the shingle explode
                # (r17 carry/count columns) instead of a per-batch re-attach
                # join and a per-batch count aggregate.
                bsh = word_shingles(
                    batch_df, 3, carry=("split",), count_col="nh"
                ).persist()
                hits = (
                    bsh.select("sh").distinct()
                    .select(
                        "sh",
                        F.explode(F.expr(f"sequence(0, {_GATE_BLOOM_K - 1})")).alias("j"),
                    )
                    .select("sh", F.col("j").alias("k_idx"), F.expr(pos16).alias("pos"))
                    .join(
                        F.broadcast(bloom_bits.withColumn("hit", F.lit(1))),
                        ["k_idx", "pos"],
                        "left",
                    )
                    .groupBy("sh")
                    .agg(F.sum("hit").alias("nhit"))
                )
                # audit metrics ride the write action itself (zero extra jobs):
                # an Observation on the hits stage fires when the leaks write runs
                from pyspark.sql import Observation

                obs = Observation()
                hits = hits.observe(
                    obs,
                    F.count(F.lit(1)).alias("n_sh"),
                    F.sum((F.col("nhit") == _GATE_BLOOM_K).cast("long")).alias("n_surv"),
                )
                survivors = hits.filter(F.col("nhit") == _GATE_BLOOM_K).select("sh")
                cross = (
                    bsh.join(survivors, "sh")
                    .join(tsh, "sh")
                    .groupBy(
                        "train_doc",
                        F.col("doc_id").alias("held_doc"),
                        F.col("split").alias("held_split"),
                        "nt",  # carried, functionally dependent on train_doc
                        "nh",  # carried, functionally dependent on held_doc
                    )
                    .agg(F.count(F.lit(1)).alias("n_common"))
                )
                jac = F.col("n_common").cast("double") / (
                    F.col("nt") + F.col("nh") - F.col("n_common")
                )
                leaks = (
                    cross.filter(jac >= 0.8)
                    .select("train_doc", "held_doc", "held_split")
                )
                leaks.write.mode("append").parquet(pairs_path)
                m = obs.get
                screened["shingles"] += int(m["n_sh"])
                screened["survivors"] += int(m["n_surv"] or 0)
                screened["batches"] += 1
                bsh.unpersist()

            stream = (
                spark.readStream.schema(held.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            # batch-sized shuffle width for the micro-batch jobs only (the
            # tsh join still aligns to the index's cached partitioning)
            with conf_overrides(spark, {"spark.sql.shuffle.partitions": "8"}):
                q = (
                    stream.writeStream.foreachBatch(gate)
                    .option("checkpointLocation", os.path.join(root, "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                assert screened["batches"] >= 4, "expected at least four micro-batches"

                final = (
                    spark.read.parquet(pairs_path)
                    .groupBy("held_split")
                    .agg(
                        F.count_distinct("held_doc").alias("n_leaked_docs"),
                        F.count(F.lit(1)).alias("n_leak_pairs"),
                        F.min("held_doc").alias("first_leaked_doc"),
                    )
                )
                rows = final.collect()
                # the Bloom screen must have done real work (non-vacuous prefilter):
                # shingles unique to the held splits get dropped before the index
                # join. EXCEPT on a fully-leaked corpus (the 10x scale probe's
                # key-shifted replicas put every held doc's exact text in train):
                # there, passing every shingle is the CORRECT screen output, so the
                # vacuity tripwire only applies when some held doc is clean.
                if screened["survivors"] >= screened["shingles"]:
                    # only a fully-leaked corpus may legitimately pass every
                    # shingle (the held count costs a job, so check lazily)
                    n_leaked = sum(r["n_leaked_docs"] for r in rows)
                    n_held = held.select("doc_id").distinct().count()
                    assert n_leaked == n_held, (
                        "bloom screen passed every shingle on a partially-clean "
                        "corpus"
                    )
                return spark.createDataFrame(rows, final.schema)
    finally:
        for frame in (tsh, bloom_bits):
            frame.unpersist()


@query(
    "stream_quality_classifier",
    # SHARES the batch classifier's oracle verbatim: the frozen-model
    # scoring stream must emit the identical relation (the same
    # cross-validating-twin pattern as the leakage gate / batch audit).
    oracle=_registry.ORACLE["pipeline_quality_classifier"],
)
def stream_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The twelfth batch/stream twin: ``pipeline_quality_classifier`` as a
    FROZEN-MODEL scoring stream — the shape a production quality pass
    actually runs: the linear model is trained once on the static train
    split, then documents arrive in micro-batches and are scored AT
    INGEST against the broadcast weight matrix, predictions appended as
    they land (CCNet scores its crawl shard-by-shard the same way).

    Per micro-batch (four real ones, maxFilesPerTrigger=1 over
    range-split files): hash the arriving docs' unigram+bigram features
    into the shared {DSIR_BUCKETS}-bucket space, dot-product against the
    PERSISTED |classes| x buckets fixed-point weight matrix (broadcast
    into the scoring join — the batch plan's own shape, now per batch),
    argmax with margin, default zero-feature docs, append. Batches
    partition the corpus by doc_id, so append-only accumulation IS the
    merge, and the final relation is row-for-row the batch operator's —
    the shared DuckDB hash oracle proves the incremental path lossless.
    The scoring helpers (_qc_weights/_qc_top/_qc_project) are the batch
    operator's own functions: one source of truth, zero twin drift.

    Scale: the weight matrix and class list are the streaming state — a
    few KB regardless of corpus size, persisted once before the stream
    starts (a real deployment broadcasts them cluster-wide and re-trains
    offline); each micro-batch shuffles only its own (doc, bucket)
    counts. The checkpoint/scratch dir is /dev/shm-backed for the
    availableNow demo; a production gate points it at object storage.
    """
    from oe_batch_processing_spark.operators.pipeline import (
        _DSIR_FEATS_EXPR,
        _DSIR_WS_EXPR,
        _SPLIT_BYTE,
        _qc_project,
        _qc_top,
        _qc_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_SPLIT_BYTE) % 10
    # --- frozen model, built once and persisted across batches ---
    train_words = docs.select(
        "doc_id", "lang", bucket.alias("bkt"),
        F.expr(_DSIR_WS_EXPR).alias("ws"),
    ).filter((F.col("bkt") < 8) & F.col("lang").isNotNull())
    ctb = (
        train_words.select(
            "lang", F.explode(F.expr(_DSIR_FEATS_EXPR)).alias("f")
        )
        .select(
            "lang",
            F.conv(F.substring(F.md5("f"), 1, 2), 16, 10)
            .cast("int")
            .alias("b"),
        )
        .groupBy("lang", "b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    classes = train_words.select("lang").distinct().persist()
    wts = _qc_weights(spark, classes, ctb).persist()
    try:
        with scratch_dir("oebp-qcstream-") as root:
            wts.count()  # materialize the frozen model before the stream starts
            src = os.path.join(root, "docs")
            # round-robin 4-way split (r17): per-doc scores are independent of
            # batch composition; the range sampling pass bought nothing.
            docs.select("doc_id", "lang", "text").repartition(4).write.mode(
                "overwrite"
            ).parquet(src)
            out_path = os.path.join(root, "preds")
            spark.createDataFrame(
                [],
                "doc_id long, pred_lang string, score long, margin long, "
                "n_features long, is_correct int",
            ).write.mode("overwrite").parquet(out_path)  # schema anchor

            seen = {"batches": 0, "rows": 0}
            # Per-batch content collapse GATED at the batch twin's QC_REP_MIN_N
            # (r16 — it was always-on): class scores read only the text, so on
            # replica-heavy corpora (the 30x probe's key-shifted duplicates)
            # the collapse turns per-doc tokenize/hash cost into per-content
            # cost — a strict regrouping. But below the gate (every committed
            # SF, near-dup-free) the collapse is pure overhead: a text-keyed
            # shuffle + collect_list + membership-expand join PER MICRO-BATCH
            # for no dedup gain (measured ~-1 s of the 4-batch stream section
            # at sf0.1). The same metadata-only footer gate as the batch twin
            # picks the path once, before the stream starts; the shared DuckDB
            # oracle checks the flat path directly at the committed SFs and
            # the collapsed path rides the probe corpora — the family
            # convention (DSIR/leakage/BM25) exactly.
            from oe_batch_processing_spark.operators.pipeline import QC_REP_MIN_N
            from oe_batch_processing_spark.tables import table_row_count

            collapse = table_row_count(sf_dir, "documents") >= QC_REP_MIN_N

            def _bucket_counts(frame: DataFrame, key: str) -> DataFrame:
                return (
                    frame.select(key, F.expr(_DSIR_WS_EXPR).alias("ws"))
                    .select(key, F.explode(F.expr(_DSIR_FEATS_EXPR)).alias("f"))
                    .select(
                        key,
                        F.conv(F.substring(F.md5("f"), 1, 2), 16, 10)
                        .cast("int")
                        .alias("b"),
                    )
                    .groupBy(key, "b")
                    .agg(F.count(F.lit(1)).alias("c"))
                )

            def score(batch_df: DataFrame, batch_id: int) -> None:
                b = batch_df.persist()  # >= 2 consumers: bucket counts, project
                if collapse:
                    reps = b.groupBy("text").agg(
                        F.min("doc_id").alias("rep_id"),
                        F.collect_list("doc_id").alias("members"),
                    ).persist()
                    db = _bucket_counts(reps, "rep_id")
                    top = (
                        reps.select("rep_id", F.explode("members").alias("doc_id"))
                        .join(_qc_top(db, wts, "rep_id"), "rep_id")
                        .drop("rep_id")
                    )
                else:
                    reps = None
                    top = _qc_top(_bucket_counts(b, "doc_id"), wts, "doc_id")
                out = _qc_project(b, top, classes)
                out.write.mode("append").parquet(out_path)
                seen["batches"] += 1
                if reps is not None:
                    reps.unpersist()
                b.unpersist()

            stream = (
                spark.readStream.schema(
                    "doc_id long, lang string, text string"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            # batch-sized shuffle width for the micro-batch jobs only
            with conf_overrides(spark, {"spark.sql.shuffle.partitions": "8"}):
                q = (
                    stream.writeStream.foreachBatch(score)
                    .option("checkpointLocation", os.path.join(root, "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                assert seen["batches"] >= 4, "expected at least four micro-batches"

                final = spark.read.parquet(out_path)
                rows = final.collect()
                # Loss tripwire from parquet FOOTER metadata instead of a per-batch
                # b.count() driver job (r16: 4 fewer jobs per run; also strictly
                # stronger — it catches a skipped source file, which summing the
                # batches that DID run could not).
                from oe_batch_processing_spark.tables import _footer_row_count

                n_src = _footer_row_count(os.path.realpath(src), os.stat(src).st_mtime_ns)
                assert len(rows) == n_src, "append accumulation lost rows"
                return spark.createDataFrame(rows, final.schema)
    finally:
        classes.unpersist()
        wts.unpersist()


stream_quality_classifier.__doc__ = stream_quality_classifier.__doc__.format(
    DSIR_BUCKETS=256
)
