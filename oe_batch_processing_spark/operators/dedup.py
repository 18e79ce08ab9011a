"""Deduplication operators for LLM training-data pipelines (north-star scope,
BASELINE.json: not in the reference, first-class here).

Family:
  - exact dedup (hash groupBy) — ``dedup_exact_documents``
  - normalized exact dedup via document fingerprint (md5 of normalized text)
    — ``text_fingerprint_dedup`` (fingerprint op itself in textops.py)
  - n-gram Jaccard near-dedup (exact, inverted-index self-join)
    — ``dedup_jaccard_shingles``
  - MinHash + LSH near-dedup (sketch + banding, the 100 TB path)
    — ``dedup_minhash_lsh``
  - SimHash near-dedup (64-bit fingerprint + hamming distance)
    — ``dedup_simhash``

Scale design: the exact-jaccard join is quadratic in the worst case and
exists as the small-SF oracle-checkable ground truth. MinHash-LSH is the
production path: per-doc work is O(#shingles × #hashes), the only shuffle is
groupBy(band-signature), and candidate verification re-computes true Jaccard
only within buckets. Skew (a hot bucket) is handled by AQE skew-split; band
count trades recall vs cost (N_BANDS bands × ROWS_PER_BAND rows; at 16 × 4,
P(candidate | J=0.8) = 1 - (1 - 0.8^4)^16 ≈ 0.9998).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oe_batch_processing_spark.registry import query
from oe_batch_processing_spark.session import conf_overrides
from oe_batch_processing_spark.tables import load_table, persist_once

# --- shared shingling ------------------------------------------------------

def shingle_arrays(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, shingles sorted-distinct array): the words array is
    materialized once per row and shingles are built with JVM array
    expressions. Split on single space to match the oracle's string_split.

    The leading round-robin repartition exists for SMALL-FILE inputs: the
    test corpora are single-row-group parquet files, so the scan yields ONE
    partition and the (expensive, ~1 ms/doc) per-row shingle transform
    would otherwise run on one core (measured 5.7 s of the old 7-10 s
    jaccard wall at sf0.1). Shuffling the raw docs costs MBs; running the
    transform 32-wide repays it immediately. On a production multi-file
    100 TB corpus the scan is already thousands of splits and Spark's
    round-robin of an already-parallel input is a near-no-op per partition.
    """
    n_part = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    return (
        df.repartition(n_part)
        .withColumn("words", F.split(F.col(text_col), " "))
        .filter(F.size("words") >= n)
        .select(
            "doc_id",
            *carry,  # r17: pass-through columns (e.g. the split tag) so
            # callers stop re-joining the source frame just to re-attach
            # a column the explode dropped
            F.sort_array(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(0, size(words) - {n}), "
                        f"i -> concat_ws(' ', slice(words, i + 1, {n})))"
                    )
                )
            ).alias("shingles"),
        )
    )


def word_shingles(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    carry: tuple[str, ...] = (),
    count_col: str | None = None,
) -> DataFrame:
    """Distinct word n-gram shingles per doc_id, exploded (inverted-index
    form used by the exact-Jaccard join).

    ``count_col`` (r17): also emit the per-doc DISTINCT shingle count as a
    column — by construction it equals ``size(shingles)`` (the explode
    emits exactly one row per distinct shingle), i.e. exactly what the
    family's ``groupBy(doc_id).count()`` branches recomputed downstream.
    Carrying it lets the Jaccard/containment consumers fold their per-doc
    count aggregate + two re-attach joins into the pair groupBy's keys
    (functionally dependent on doc_id, so the groups are unchanged)."""
    arr = shingle_arrays(df, n, text_col, carry)
    cols = ["doc_id", *carry]
    if count_col is not None:
        # cast to long: the count() aggregates this replaces were BIGINT
        arr = arr.withColumn(count_col, F.size("shingles").cast("long"))
        cols.append(count_col)
    return arr.select(*cols, F.explode("shingles").alias("sh"))


def content_rep_groups(docs: DataFrame) -> DataFrame:
    """Exact-content groups for the representative collapse (round 12/13):
    (rep_id = min doc_id per distinct text, members). The aggregate plan
    is IDENTICAL across every caller (jaccard, containment, MinHash-LSH,
    SimHash, prefix-filter), so persist_once shares one cache entry per
    sweep. Group sizes are replica counts (bounded), so collect_list stays
    rows-per-content-sized, never corpus-sized; at 100 TB key the groupBy
    on xxhash64(text)/md5 instead of full text (the dedup_exact_documents
    idiom)."""
    return persist_once(
        docs.groupBy("text").agg(
            F.min("doc_id").alias("rep_id"),
            F.collect_list("doc_id").alias("members"),
        )
    )


def expand_rep_pairs(
    groups: DataFrame,
    rep_pairs: DataFrame,
    payload: str,
    within_payload,
    min_tokens: int = 3,
) -> DataFrame:
    """Membership expansion of a content-representative SYMMETRIC pair
    relation back to the per-doc relation — the shared second half of the
    collapse rewrites (the asymmetric containment expansion stays local
    to dedup_shingle_containment):

    1. cross-group: every member of rep_a's group pairs with every member
       of rep_b's group; the payload is content-determined, so the
       rep-level value carries over verbatim (symmetric — reordering each
       emitted pair to (min, max) is safe since group doc_ids interleave);
    2. within-group: identical texts pair at ``within_payload`` (jaccard
       exactly 1.0 / hamming exactly 0), admitted iff the text has at
       least ``min_tokens`` words (the caller's gram/window floor: the
       default 3 is the shingle relation's trigram floor; the winnowing
       pair op passes its K+W-1 selection floor — shorter texts never
       enter the respective index and pair with nothing).

    ``rep_pairs``: (rep_a, rep_b, <payload>).
    """
    membership = groups.select(
        F.col("rep_id"), F.explode("members").alias("doc_id")
    )
    ma = membership.select(
        F.col("rep_id").alias("rep_a"), F.col("doc_id").alias("da")
    )
    mb = membership.select(
        F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("db")
    )
    cross = (
        rep_pairs.join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            payload,
        )
    )
    within = (
        groups.filter(
            (F.size("members") >= 2)
            & (F.size(F.split("text", " ")) >= min_tokens)
        )
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(members, "
                    "x -> transform(members, y -> struct(x, y)))), "
                    "p -> p.x < p.y)"
                )
            ).alias("p")
        )
        .select(
            F.col("p.x").alias("doc_a"),
            F.col("p.y").alias("doc_b"),
            within_payload.alias(payload),
        )
    )
    return cross.unionByName(within)


# --- exact dedup -----------------------------------------------------------

@query(
    "dedup_exact_documents",
    oracle="""
    SELECT MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS n_copies,
           ANY_VALUE(n_chars) AS n_chars
    FROM documents
    GROUP BY text
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one canonical row (min doc_id) per distinct text.

    Scale: single hash-shuffle on the text hash; at 100 TB, group on
    ``xxhash64(text)`` instead of the full text to keep shuffle rows small
    (collision check within group), or on the md5 fingerprint column.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.any_value("n_chars").alias("n_chars"),
    ).drop("text").select("canonical_doc_id", "n_copies", "n_chars")


# Exact word-trigram Jaccard pairs at J >= 0.8 — the ground truth shared by
# the exact inverted-index query AND the MinHash-LSH query: LSH output is
# candidate pairs re-verified by TRUE Jaccard, so with the shipped band
# configuration (recall 1.0 at every tested SF, miss probability per true
# pair ~2e-4) both queries produce the identical relation.
_JACCARD_ORACLE = """
    WITH shingles AS (
      SELECT DISTINCT doc_id, words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] AS sh
      FROM (
        SELECT doc_id, string_split(text, ' ') AS words
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
      ), UNNEST(range(len(words) - 2)) AS t(i)
    ),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
    FROM common
    JOIN counts na ON na.doc_id = doc_a
    JOIN counts nb ON nb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) >= 0.8
    """


@query("dedup_jaccard_shingles", oracle=_JACCARD_ORACLE)
def dedup_jaccard_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (word trigram) Jaccard near-dup pairs, J >= 0.8.

    Inverted-index self-join over CONTENT REPRESENTATIVES: docs are first
    collapsed by identical text (rep = min doc_id per distinct text, an
    exact-dedup groupBy), the quadratic posting-list join runs on the
    distinct contents only, and rep-level pairs expand back to doc-level
    pairs through two membership joins (plus the within-group identical
    pairs at jaccard exactly 1.0). This is an EXACT algebraic rewrite —
    jaccard depends only on content, so the emitted relation is
    bit-identical to the per-doc self-join at every SF — but the
    intermediate (doc_a, doc_b) aggregate now scales with DISTINCT
    contents squared, not corpus squared: on a replica-heavy corpus (the
    30x scale probe: ~1.5e9 intermediate rows, OOMing an 8 GB heap) the
    aggregate stays at the distinct-content level and only the final
    expansion — sized like the OUTPUT — fans out. This is the ground truth
    the MinHash-LSH variant approximates; at 100 TB use the LSH path and
    keep this for bucket-level verification.
    """
    docs = load_table(spark, sf_dir, "documents")
    groups = content_rep_groups(docs)
    rep_pairs = rep_jaccard_pairs(spark, groups, 0.8)
    return expand_rep_pairs(groups, rep_pairs, "jaccard", F.lit(1.0))


def rep_jaccard_pairs(
    spark: SparkSession, groups: DataFrame, threshold: float
) -> DataFrame:
    """Rep-level exact word-trigram Jaccard pairs >= threshold over
    content representatives — the shared quadratic half of the collapse
    rewrites (dedup_jaccard_shingles, pipeline_split_leakage_report).
    Returns (rep_a, rep_b, jaccard) with rep_a < rep_b."""
    rep_docs = groups.select(F.col("rep_id").alias("doc_id"), "text")
    # Pin the self-join's partition count: the shuffle INPUT is a few MB (so
    # AQE would coalesce it to ~1 partition) but the join OUTPUT fans out
    # quadratically per shingle bucket — the cost AQE's input-size heuristic
    # can't see. An explicit keyed repartition keeps the join spread over
    # the cluster; same-key partitioning on both sides means no extra
    # exchange beyond the one the join needed anyway. The shuffle_hash hint
    # (vs the default broadcast) keeps both join sides on the SAME
    # Exchange(sh) subplan; the PERSIST (r16, the winnowing-pairs finding)
    # guarantees the shingle explode runs once for both join sides.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # r17: the per-doc distinct-shingle count rides the index as a carried
    # column (== size(shingles), exactly the old groupBy(doc_id).count());
    # the pair aggregate adds (na, nb) to its keys — functionally
    # dependent on the doc ids, so the groups are unchanged — and the
    # count branch plus both re-attach joins disappear from the plan.
    sh_keyed = (
        word_shingles(rep_docs, 3, count_col="n")
        .repartition(n_part, "sh")
        .persist()
    )
    a = sh_keyed.alias("a")
    b = sh_keyed.hint("shuffle_hash").alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.select(
            F.col("doc_a").alias("rep_a"),
            F.col("doc_b").alias("rep_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- MinHash + LSH ---------------------------------------------------------

N_HASHES = 64
N_BANDS = 16  # 16 bands x 4 rows: P(candidate | J=0.8) ~ 0.9998
ROWS_PER_BAND = N_HASHES // N_BANDS


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expanded (member-level) MinHash-LSH pair relation — rep-level
    verified pairs (:func:`minhash_rep_pairs`) through the standard
    membership expansion."""
    groups, rep_pairs = minhash_rep_pairs(spark, sf_dir)
    return expand_rep_pairs(groups, rep_pairs, "jaccard", F.lit(1.0))


def minhash_rep_pairs(spark: SparkSession, sf_dir: str):
    """MinHash-LSH near-dup candidate pairs verified by true Jaccard >= 0.8.

    Pipeline (all signature math is JVM array expressions — no explode
    shuffle): per-doc shingle array → 64-wide minhash signature via nested
    ``transform``/``array_min`` folds → 16 band keys (xxhash64 of each
    4-slice) → explode only the 16 band keys → groupBy(band, key) buckets →
    in-bucket pair expansion → exact Jaccard verification via
    ``array_intersect`` on the (small) candidate set. Output schema matches
    ``dedup_jaccard_shingles`` — and because candidates are re-verified by
    TRUE Jaccard and band recall is ~1-2e-4 per pair, the output equals the
    exact relation: this query shares the exact-Jaccard ORACLE (the
    strongest check an approximate-candidate operator can carry).

    Scale: shuffled bytes are docs × 16 band keys + candidate pairs — never
    shingles × hashes. A hot bucket (boilerplate docs) is the skew risk: AQE
    skew-split handles the groupBy; cap pair expansion per bucket if a
    corpus has giant duplicate classes.

    Content-representative collapse (round-13, the jaccard/containment/
    cosine/simhash recipe): the signature, the band keys, and the verified
    jaccard all depend only on text, so identical texts land in identical
    buckets and every duplicate class of size k contributes k(k-1)/2
    within-bucket candidates PER BAND — the 30x probe measured 15.7x
    (pairs) / 20.15x (clusters) from exactly this term. Docs collapse to
    min-doc_id reps before the signature stage; rep-level verified pairs
    expand back through two membership joins (jaccard is content-determined,
    so the rep value carries verbatim), and within-group pairs are jaccard
    exactly 1.0, admitted iff the text has at least one trigram. Exact
    algebraic rewrite — same relation at every SF, same exact-Jaccard
    oracle — but buckets now hold DISTINCT contents, so in-bucket expansion
    scales with distinct near-dup classes, not replica counts.
    """
    docs = load_table(spark, sf_dir, "documents")
    groups = content_rep_groups(docs)
    rep_docs = groups.select(F.col("rep_id").alias("doc_id"), "text")
    # shingle_arrays already round-robins the single-row-group test scan to
    # shuffle-partition width so the CPU-heavy signature stage runs 32-wide
    # (a second caller-side repartition here was redundant — one exchange,
    # removed). At 100 TB natural input splits provide this parallelism.
    sh_arrays = persist_once(shingle_arrays(rep_docs, 3))
    # Each shingle STRING is hashed once; the 64 signature slots re-hash the
    # resulting 8-byte int with per-slot seeds — a true independent family
    # (unlike an affine multiply-mix over one hash, which was tried and
    # dropped for correlated minima/recall loss), at ~1/64th of the string
    # hashing cost. Recall is guarded by the exact-Jaccard oracle: any
    # candidate the bands miss fails the hash-match.
    sig = sh_arrays.select(
        "doc_id",
        F.expr("transform(shingles, x -> xxhash64(x))").alias("hs"),
    ).select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, {N_HASHES - 1}), "
            f"s -> array_min(transform(hs, h -> xxhash64(h, s))))"
        ).alias("sig"),
    )
    band_keys = sig.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {N_BANDS - 1}), "
                f"b -> xxhash64(slice(sig, b * {ROWS_PER_BAND} + 1, {ROWS_PER_BAND})))"
            )
        ).alias("band", "band_key"),
    )
    # Pair expansion is quadratic in bucket size; cap each bucket so one
    # giant duplicate class (boilerplate docs) can't produce O(n^2) pairs in
    # a single task. 1000 is a no-op at test SF; at 100 TB a capped bucket
    # still links its members transitively through other bands/buckets.
    max_bucket = 1000
    buckets = (
        band_keys.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") > 1)
        .withColumn("docs", F.slice("docs", 1, max_bucket))
    )
    candidates = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(docs, (x, i) -> "
                    "transform(slice(docs, i + 2, size(docs) - i - 1), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # exact verification on candidates only, via array intersection
    sa = sh_arrays.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = sh_arrays.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_common.cast("double") / (F.size("sh_a") + F.size("sh_b") - n_common)
    rep_pairs = (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.col("doc_a").alias("rep_a"),
            F.col("doc_b").alias("rep_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )
    return groups, rep_pairs


@query("dedup_minhash_lsh", oracle=_JACCARD_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH near-dup PAIR relation (``lsh_dedup`` with emit='pairs');
    pipeline and oracle rationale in :func:`minhash_lsh_pairs`."""
    return lsh_dedup(spark, sf_dir, emit="pairs")


LSH_CLUSTER_SAMPLE_K = 5  # member ids quoted per cluster summary row


def lsh_dedup(
    spark: SparkSession, sf_dir: str, emit: str = "pairs"
) -> DataFrame:
    """LSH dedup with a choice of output shape.

    ``emit='pairs'`` — the verified near-dup pair relation (doc_a, doc_b,
    jaccard). ``emit='clusters'`` — one summary row per duplicate CLUSTER
    (connected component of the pair graph): (representative = min doc_id,
    member_count, sample_members = first {LSH_CLUSTER_SAMPLE_K} member ids).

    Why clusters mode exists (round-10 scale probe): pair output grows with
    the SQUARE of duplicate-cluster size — the probe measured 978.9x pair
    rows for 10x input on a replica-heavy corpus. That's fine as a relation
    to verify against, ruinous as the thing a 100 TB dedup job WRITES. The
    cluster summary is linear in the corpus (one row per cluster, counts
    instead of pair enumerations) and is what downstream keep/drop logic
    consumes anyway. Cost: one label-propagation pass over the pair graph
    (O(diameter) rounds of join + groupBy on the pairs — tiny relative to
    the corpus) after the same LSH candidate generation.
    """
    if emit == "pairs":
        return minhash_lsh_pairs(spark, sf_dir)
    if emit != "clusters":
        raise ValueError(f"emit must be 'pairs' or 'clusters', got {emit!r}")
    # clusters mode never builds the member-level pair relation: CC runs on
    # the rep graph and membership expands once, after labeling (r16 —
    # see rep_cluster_summaries for the equivalence argument).
    groups, rep_pairs = minhash_rep_pairs(spark, sf_dir)
    return rep_cluster_summaries(groups, rep_pairs, trigram_clique_reps(groups))


def cluster_summaries(pairs: DataFrame) -> DataFrame:
    """One summary row per connected component of any (doc_a, doc_b) pair
    relation: (representative = min member, member_count, sample_members =
    first {LSH_CLUSTER_SAMPLE_K} ids). The generic clusters half of the
    emit='pairs'|'clusters' contract — shared by the MinHash-LSH and
    SimHash cluster queries.

    CC kernel: LPA (cc_labels). The r15 bench decomposition also tried
    the star kernel here: it wins on the 10x probe graphs (cosine
    clusters scaled wall 11.5 -> 7.9 s) but LOSES at the committed SFs —
    the lsh/simhash cluster graphs are near-cliques that LPA settles in
    2-3 rounds while the star loop's preamble + fixpoint probes cost
    ~+1.4 s per row; the committed rows stay LPA and the adjudication
    lives in BENCH_NOTES (both kernels are checked against the same
    transitive-closure oracle, so either labeling is hash-exact)."""
    labels = cc_labels(pairs.select("doc_a", "doc_b"))
    return labels.groupBy(F.col("lbl").alias("representative")).agg(
        F.count(F.lit(1)).alias("member_count"),
        F.expr(
            f"array_join(transform(slice(array_sort(collect_list(doc)), 1, "
            f"{LSH_CLUSTER_SAMPLE_K}), x -> CAST(x AS STRING)), ',')"
        ).alias("sample_members"),
    )


_CC_DRIVER_EDGES = 100_000  # rep-level edge count below which the component
# labeling solves driver-side: union-find over <= ~1.6 MB of id pairs in one
# bounded collect (the limit() probe caps what can ever reach the driver),
# replacing O(diameter) LPA rounds of real Spark jobs on a graph whose total
# work is microseconds. Above the cap the distributed cc_labels loop runs
# unchanged — the 100 TB path. Same size-adaptive pattern as cc_labels'
# 1-partition/no-AQE small-graph mode, taken to its conclusion.


def _cc_labels_adaptive(pairs: DataFrame) -> DataFrame:
    """(doc, lbl = min id in component) over an undirected pair relation,
    choosing the kernel by graph size: a driver union-find below
    ``_CC_DRIVER_EDGES`` edges (one bounded collect, zero iterative jobs),
    the distributed min-label-propagation loop (:func:`cc_labels`) above.
    Both kernels produce the identical labeling (min member id per
    component), checked by the same transitive-closure oracles."""
    spark = pairs.sparkSession
    # Materialize the pair relation with a fully-parallel count before
    # deciding the kernel (a limit().collect() probe would evaluate the
    # expensive upstream's final stage in sequential CollectLimit waves —
    # the first wave is ONE task). The collect below reads the cache.
    pairs = pairs.persist()
    n_pairs = pairs.count()
    if n_pairs > _CC_DRIVER_EDGES:
        return cc_labels(pairs)  # cc_labels re-uses the cache and releases it
    probe = pairs.collect()
    pairs.unpersist()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for r in probe:
        a, b = r[0], r[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union-by-min: every tree root is the minimum id ever merged
            # into it, so after the pass find(x) IS the component minimum.
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    rows = [(x, find(x)) for x in parent]
    return spark.createDataFrame(rows, "doc long, lbl long")


def rep_cluster_summaries(
    groups: DataFrame, rep_pairs: DataFrame, clique_reps: DataFrame
) -> DataFrame:
    """Cluster summaries computed at the CONTENT-REPRESENTATIVE level — an
    exact rewrite of ``cluster_summaries(<expanded member-level pairs>)``
    that never materializes the member-level pair relation (r16).

    Equivalence: the expanded pair graph is the rep graph with every
    content group blown up into a clique (within-group pairs) and complete
    bipartite links between adjacent groups (cross-group expansion emits
    every (member_a, member_b) combination). Contracting each clique back
    to its representative is therefore a bijection on connected
    components; the member-level component minimum equals the rep-level
    component minimum because each group's representative IS its minimum
    member id. So: run CC over the (tiny) rep pair graph, add the gated
    size>=2 groups that pair only within themselves (``clique_reps``) as
    singleton components, and expand membership once, after labeling.
    The summary row (representative = min member, member_count,
    sample_members over ALL members) is then identical row-for-row.

    What this removes at scale: the CC input was OUTPUT-sized — on
    replica-heavy corpora the within-group pair lists grow with the
    SQUARE of duplicate-class size (the same term the round-13 content
    collapse removed from the pair aggregates, still present in the
    clusters consumers' CC stage until now). The rep graph scales with
    distinct near-dup classes instead.

    ``clique_reps``: (rep_id) rows for size>=2 groups passing the
    family's within-pair gate (trigram floor / >=10 shingles / self-
    cosine threshold) — their members pair pairwise even when the rep has
    no cross-group pair, so they must appear as components.
    """
    edges = rep_pairs.select(
        F.col("rep_a").alias("doc_a"), F.col("rep_b").alias("doc_b")
    )
    labels = _cc_labels_adaptive(edges)
    iso = clique_reps.join(
        labels, clique_reps["rep_id"] == labels["doc"], "left_anti"
    ).select(F.col("rep_id").alias("doc"), F.col("rep_id").alias("lbl"))
    all_lbl = labels.unionByName(iso)
    members = groups.join(all_lbl, groups["rep_id"] == all_lbl["doc"]).select(
        "lbl", F.explode("members").alias("doc")
    )
    return members.groupBy(F.col("lbl").alias("representative")).agg(
        F.count(F.lit(1)).alias("member_count"),
        F.expr(
            f"array_join(transform(slice(array_sort(collect_list(doc)), 1, "
            f"{LSH_CLUSTER_SAMPLE_K}), x -> CAST(x AS STRING)), ',')"
        ).alias("sample_members"),
    )


def trigram_clique_reps(groups: DataFrame) -> DataFrame:
    """The jaccard-family within-pair gate at rep level: size>=2 groups
    whose text has at least one word trigram (``expand_rep_pairs``'s
    default ``min_tokens=3``)."""
    return groups.filter(
        (F.size("members") >= 2) & (F.size(F.split("text", " ")) >= 3)
    ).select("rep_id")


def clusters_oracle(pairs_sql: str) -> str:
    """Recursive transitive-closure CTE over ANY pair-relation SQL, grouped
    per component — the DuckDB mirror of :func:`cluster_summaries` (DuckDB
    supports a WITH inside the subquery, so callers pass their pair oracle
    verbatim)."""
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({pairs_sql})
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS doc FROM edges),
    reach(src, dst) AS (
      SELECT doc, doc FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    labels AS (
      SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
    )
    SELECT cluster_id AS representative,
           COUNT(*) AS member_count,
           array_to_string(
             (list_sort(list(doc_id)))[1:{LSH_CLUSTER_SAMPLE_K}], ','
           ) AS sample_members
    FROM labels GROUP BY cluster_id
    """


# --- SimHash ---------------------------------------------------------------

# SimHash feature bits come from md5 (identical hex output in Spark and
# DuckDB) instead of xxhash64 (Spark-only), so the WHOLE pipeline —
# fingerprint, chunking, hamming filter — is differential-checked, not
# rows-only. 64 bits = first 16 hex chars = 8 chunks × 8 bits; the chunk
# candidate join is exact for hd <= 7 by pigeonhole (<= 6 differing bits
# cannot touch all 8 chunks), so filtering hd <= 6 afterwards loses nothing.
_SIMHASH_ORACLE = """
    WITH shingles AS (
      SELECT DISTINCT doc_id, words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] AS sh
      FROM (
        SELECT doc_id, string_split(text, ' ') AS words
        FROM documents WHERE len(string_split(text, ' ')) >= 3
      ), UNNEST(range(len(words) - 2)) AS t(i)
    ),
    hx AS (SELECT doc_id, substr(md5(sh), 1, 16) AS m FROM shingles),
    chunks AS (
      SELECT doc_id, c,
             (instr('0123456789abcdef', substr(m, c*2+1, 1)) - 1) * 16 +
             (instr('0123456789abcdef', substr(m, c*2+2, 1)) - 1) AS h
      FROM hx, UNNEST(range(8)) AS tc(c)
    ),
    votes AS (
      SELECT doc_id, c, b,
             CASE WHEN SUM(((h >> b) & 1) * 2 - 1) > 0 THEN 1 ELSE 0 END AS bit
      FROM chunks, UNNEST(range(8)) AS tb(b)
      GROUP BY doc_id, c, b
    ),
    fp AS (
      SELECT doc_id, c, CAST(SUM(bit << b) AS INT) AS v
      FROM votes GROUP BY doc_id, c
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(bit_count(xor(a.v, b.v))) AS INT) AS hamming
      FROM fp a JOIN fp b ON a.c = b.c AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ) WHERE hamming <= 6
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expanded (member-level) SimHash pair relation — rep-level
    verified pairs (:func:`simhash_rep_pairs`) through the standard
    membership expansion."""
    groups, rep_pairs = simhash_rep_pairs(spark, sf_dir)
    return expand_rep_pairs(
        groups, rep_pairs, "hamming", F.lit(0).cast("int")
    )


def simhash_rep_pairs(spark: SparkSession, sf_dir: str):
    """SimHash near-dup pairs: 64-bit weighted-majority fingerprint over
    md5-derived shingle-feature bits; pairs with hamming distance <= 6.

    Scale: the fingerprint is pure per-row JVM array folds (zero shuffles
    before the candidate join); the pair search joins on 8 8-bit chunks —
    any equal chunk => candidate, which by pigeonhole is EXACT recall for
    hd <= 7 — then verifies true hamming on the packed 64-bit fingerprint.
    The md5 feature hash makes the fingerprints engine-reproducible, so the
    oracle checks the full relation (not just row counts).
    """
    docs = load_table(spark, sf_dir, "documents")
    # Content-representative collapse (round-13, the jaccard/containment/
    # cosine recipe — the r13 30x probe measured this query's clusters
    # consumer at 109x: identical texts share all 8 fingerprint chunks,
    # so per-chunk-bucket candidates grow QUADRATICALLY with duplicate-
    # class size). The fingerprint, the candidate chunks, and the emitted
    # hamming all depend only on text, so the per-doc relation expands
    # exactly from the rep-level one: cross-group pairs carry the rep
    # hamming verbatim (symmetric — reordering to (min, max) is safe),
    # within-group pairs are hamming exactly 0, admitted iff the text has
    # at least one trigram (< 3 words never produces a fingerprint row).
    groups = content_rep_groups(docs)
    # single-row-group scan => repartition before the CPU-heavy fingerprint
    # fold (see dedup_minhash_lsh note)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    docs = groups.select(F.col("rep_id").alias("doc_id"), "text").repartition(
        n_part
    )
    # The whole fingerprint is ONE single-pass fold so every expensive piece
    # is evaluated exactly once at runtime: md5 once per shingle (the inner
    # aggregate-over-singleton binds the hex string to a lambda variable —
    # projection collapse would otherwise inline a column reference and
    # re-evaluate the decode once per bit), 64 vote counters accumulated via
    # zip_with, and chunk packing in the finish lambda over the materialized
    # vote array.
    fp = shingle_arrays(docs, 3).select(
        "doc_id",
        F.expr(
            "aggregate("
            "  shingles,"
            "  array_repeat(0, 64),"
            "  (acc, x) -> aggregate("
            "    array(substr(md5(x), 1, 16)),"
            "    acc,"
            "    (acc2, m) -> zip_with(acc2,"
            "      flatten(transform("
            "        transform(sequence(0, 7), c ->"
            "          cast(conv(substr(m, c*2+1, 2), 16, 10) as int)),"
            "        h -> transform(sequence(0, 7), b ->"
            "          (shiftright(h, b) & 1) * 2 - 1))),"
            "      (u, v) -> u + v)),"
            "  acc -> transform(sequence(0, 7), c ->"
            "    aggregate(sequence(0, 7), 0, (a2, b) ->"
            "      a2 + IF(acc[c * 8 + b] > 0, shiftleft(1, b), 0))))"
        ).alias("chunks"),
    )
    # SLIM candidate join (r6 rework, measured 3.5-5x at sf0.1: 7 s -> 1.3-2 s
    # warm): the fingerprint frame is persisted once and the chunk join
    # carries ONLY (doc_id, chunk_idx, chunk_val) — joining with the 8-int
    # fingerprint arrays as passthrough columns re-evaluated the upstream
    # fold on both join inputs and dragged the arrays through the pair
    # distinct. Candidates dedup as bare id pairs; the hamming verify
    # re-joins the (tiny, cached) fingerprint frame per side.
    fp = persist_once(fp)
    slim = fp.select(
        "doc_id", F.posexplode("chunks").alias("chunk_idx", "chunk_val")
    )
    a = slim.alias("a")
    b = slim.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("chunks").alias("ch_a"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("chunks").alias("ch_b"))
    # true hamming = per-chunk popcount sum (stays within 8-bit ints on both
    # engines — no 64-bit sign-bit hazards in cross-engine shift semantics)
    hd = F.expr(
        "aggregate(zip_with(ch_a, ch_b, (x, y) -> bit_count(x ^ y)), "
        "0, (acc, v) -> acc + v)"
    )
    rep_pairs = (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            F.col("doc_a").alias("rep_a"),
            F.col("doc_b").alias("rep_b"),
            hd.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
    )
    return groups, rep_pairs


@query("dedup_simhash_clusters", oracle=clusters_oracle(_SIMHASH_ORACLE))
def dedup_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster summaries over the SimHash near-dup relation —
    the second pair-emitting dedup operator to get the linear-output
    clusters mode (r10 verdict item 6): (representative, member_count,
    sample_members) per connected component of the hamming<=6 pair graph,
    via the shared :func:`cc_labels` + :func:`cluster_summaries` halves.
    The oracle is the recursive transitive-closure CTE wrapped around the
    FULL SimHash pair SQL by :func:`clusters_oracle` — a single wrong
    fingerprint BIT anywhere changes some pair, hence some component,
    hence the hash. CC runs on the rep graph (r16); the within-pair gate
    at rep level is the trigram floor — identical texts share every
    fingerprint chunk, so hamming 0 <= 6 admits every size>=2 group that
    produces a fingerprint at all."""
    groups, rep_pairs = simhash_rep_pairs(spark, sf_dir)
    return rep_cluster_summaries(groups, rep_pairs, trigram_clique_reps(groups))


# True-components oracle: recursive-CTE transitive closure over the
# near-dup pair graph; shared with graph_connected_components_star
# (operators/graph.py), which must produce the identical labeling via the
# large-star/small-star algorithm, and (grouped) with the LSH cluster
# summary below.
_CC_REACH_CTES = """
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM (
        WITH shingles AS (
          SELECT DISTINCT doc_id, words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] AS sh
          FROM (
            SELECT doc_id, string_split(text, ' ') AS words
            FROM documents WHERE len(string_split(text, ' ')) >= 3
          ), UNNEST(range(len(words) - 2)) AS t(i)
        ),
        counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
          FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b
        FROM common JOIN counts na ON na.doc_id = doc_a
                    JOIN counts nb ON nb.doc_id = doc_b
        WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.8
      )
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS doc FROM edges),
    reach(src, dst) AS (
      SELECT doc, doc FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    """

CC_TRANSITIVE_ORACLE = _CC_REACH_CTES + """
    SELECT src AS doc_id, MIN(dst) AS cluster_id
    FROM reach GROUP BY src
    """

# Cluster SUMMARY over the same closure: one row per component — the shape
# a 100 TB dedup job writes (pair enumerations grow quadratically with
# duplicate-class size; summaries are linear in the corpus).
_LSH_CLUSTERS_ORACLE = clusters_oracle(_JACCARD_ORACLE)


@query("dedup_minhash_lsh_clusters", oracle=_LSH_CLUSTERS_ORACLE)
def dedup_minhash_lsh_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster summaries from the MinHash-LSH near-dup relation:
    ``lsh_dedup`` with emit='clusters' — (representative, member_count,
    sample_members) per connected component of the verified pair graph.

    Oracle: the LSH pair relation equals the exact-Jaccard relation at the
    shipped band configuration (see dedup_minhash_lsh), so the recursive
    transitive-closure CTE over the exact pairs, grouped per component,
    hash-checks this end to end — candidate generation, verification,
    label propagation, and the summary aggregation."""
    return lsh_dedup(spark, sf_dir, emit="clusters")


@query("dedup_connected_components", oracle=CC_TRANSITIVE_ORACLE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the near-dup
    pair graph (J >= 0.8), labels = min doc_id per component — the step that
    turns pairwise dedup output into keep/drop decisions.

    Implementation: iterative label propagation (driver loop, converges in
    O(graph diameter) rounds — 2-3 for near-dup clusters). The oracle is a
    recursive-SQL transitive closure, so this "iterative algorithm" entry is
    still exactly differential-checked. Scale: each round is one join +
    groupBy on the (tiny relative to corpus) pair graph; large-diameter
    graphs would switch to the large-star/small-star algorithm — same
    primitive ops.
    """
    pairs = dedup_jaccard_shingles(spark, sf_dir).select("doc_a", "doc_b")
    labels = cc_labels(pairs)
    return labels.select(
        F.col("doc").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


_CC_SMALL_EDGES = 100_000  # below this, the loop runs 1-partition/no-AQE
SMALL_GRAPH_CONFS = {  # the small-graph mode of cc_labels and star_labels
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "1",
}
_CC_PLAIN_PERSIST_ROUNDS = 6  # small-graph rounds that may keep plain
# persists before falling back to lineage-truncating checkpoints
# (4^6 ≈ 4k logical-plan nodes — far below the canonicalization cliff)


def cc_labels(pairs: DataFrame) -> DataFrame:
    """Min-label propagation over an undirected pair relation (doc_a,
    doc_b) -> (doc, lbl) with lbl = min doc_id in the connected component.
    Converges in O(graph diameter) driver-loop rounds; each round is one
    join + groupBy on the pair graph only (tiny relative to the corpus).
    Shared by dedup_connected_components and the LSH cluster summary.

    Size-adaptive execution (the star-CC recipe, graph.py): a SMALL
    materialized edge set pays more in per-round AQE re-planning and
    32-way shuffles than in actual work, so below _CC_SMALL_EDGES the
    loop drops to one partition with AQE off (``SMALL_GRAPH_CONFS``,
    scoped by ``conf_overrides``). A large edge set — the 10x/30x probes' 0.25M/2.4M-pair
    graphs and any real corpus — keeps AQE and the full shuffle width;
    the plan shape is identical, only the knobs move.

    Lineage discipline is size-adaptive too: LARGE graphs localCheckpoint
    every round (plain persist leaves ~4^rounds LOGICAL-plan growth —
    CacheManager substitutes caches only at physical planning — which
    OOM'd plan canonicalization on the 364k-edge 10x cosine graph in
    round 12), but each eager checkpoint is a real distributed job worth
    ~0.1-0.2 s, so SMALL graphs keep plain per-round persists (their
    near-clique components converge in 2-4 rounds, far from plan
    explosion) and fall back to checkpointing only past
    _CC_PLAIN_PERSIST_ROUNDS, where 4^rounds stops being hypothetical."""
    spark = pairs.sparkSession
    # Materialize the pair relation ONCE before the symmetric-closure
    # union: the union's two branches are separate subtrees, so without
    # the persist+count their tasks race to evaluate the full upstream
    # pair pipeline TWICE (measured: the r13 containment rewrite made
    # that pipeline ~3 s at sf0.1 and its clusters consumer paid ~6 s).
    # The edge count is 2x the pair count — no second action needed.
    pairs = persist_once(pairs)
    pinned: list[DataFrame] = []  # plain persists to release before return

    def _pin(df: DataFrame, rnd: int) -> DataFrame:
        if small_graph and rnd <= _CC_PLAIN_PERSIST_ROUNDS:
            df = df.persist()
            pinned.append(df)
            return df
        # LAZY checkpoint (r15): the changed-count action each round
        # materializes it in the same job and truncates lineage exactly
        # as the eager form did — but the eager form was a SECOND driver
        # action per round, and on a small chain graph (the cosine pair
        # relation needs ~15 one-hop rounds) the loop is action-latency
        # bound, so this halves its real cost.
        return df.localCheckpoint(eager=False)

    try:
        n_edges = 2 * pairs.count()
        edges = pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        small_graph = n_edges < _CC_SMALL_EDGES
        # The eager edges checkpoint runs a real distributed job inside
        # the overrides. Both checkpoint branches read the materialized
        # pairs cache (each union branch a cache scan), never rebuild the
        # upstream pipeline; the pairs cache is released right after, and
        # again in the finally when anything here fails.
        with conf_overrides(spark, SMALL_GRAPH_CONFS if small_graph else {}):
            if small_graph:
                edges = edges.coalesce(1)
            # edges becomes a leaf for every round below
            edges = edges.localCheckpoint(eager=True)
            pairs.unpersist()
            labels = _pin(
                edges.select(F.col("doc_a").alias("doc"))
                .distinct()
                .withColumn("lbl", F.col("doc")),
                0,
            )
            rnd = 0
            while True:
                rnd += 1
                neigh_min = (
                    edges.join(labels, edges["doc_b"] == labels["doc"])
                    .groupBy(F.col("doc_a").alias("doc"))
                    .agg(F.min("lbl").alias("nl"))
                )
                new_labels = _pin(
                    labels.join(neigh_min, "doc", "left")
                    .select(
                        "doc",
                        F.least(
                            F.col("lbl"), F.coalesce(F.col("nl"), F.col("lbl"))
                        ).alias("lbl"),
                    ),
                    rnd,
                )
                changed = (
                    new_labels.alias("n")
                    .join(labels.alias("o"), "doc")
                    .filter(F.col("n.lbl") < F.col("o.lbl"))
                    .count()
                )
                labels = new_labels
                if changed == 0:
                    break
            # labels is pinned (checkpoint blocks or a materialized persist the
            # changed-count above forced) — the caller's downstream plan reads
            # it instead of replaying the loop; blocks are freed on GC. The
            # FINAL round's persist must survive the return, so only the
            # superseded rounds release here.
            for df in pinned:
                if df is not labels:
                    df.unpersist()
            return labels
    finally:
        pairs.unpersist()


# --- embedding-cosine near-dedup -------------------------------------------

EMB_DUP_THRESHOLD = 0.4  # testdata vectors are uniform-random (max pairwise
# cosine ~0.51); real embedding corpora use ~0.9+. The threshold is the only
# data-dependent knob — the plan is identical at any value.
EMB_GRID = 8  # G×G block-join grid: each vector shuffles G copies, every
# pair meets in exactly one of the G^2 blocks. G scales with the cluster.

_EMB_COSINE_ORACLE = f"""
    WITH q AS (
      SELECT vec_id,
             [CAST(ROUND(CAST(x AS DOUBLE) * 1e4) AS BIGINT)
              FOR x IN embedding] AS qe
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, qe,
             SQRT(LIST_SUM([x * x FOR x IN qe]) / 1e8) AS nrm
      FROM q
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             (LIST_SUM([a.qe[i] * b.qe[i] FOR i IN GENERATE_SERIES(1, 64)]) / 1e8)
               / (a.nrm * b.nrm) AS cosine
      FROM norms a
      JOIN norms b ON a.vec_id < b.vec_id
    )
    SELECT CASE WHEN db.n_chars > da.n_chars THEN id_b ELSE id_a END AS doc_keep,
           CASE WHEN db.n_chars > da.n_chars THEN id_a ELSE id_b END AS doc_drop,
           cosine
    FROM pairs
    JOIN documents da ON da.doc_id = id_a
    JOIN documents db ON db.doc_id = id_b
    WHERE cosine >= {EMB_DUP_THRESHOLD}
"""


def cosine_rep_pairs(spark: SparkSession, sf_dir: str):
    """Rep-level embedding-cosine pairs — the grid-block-join half of
    ``dedup_embedding_cosine``. Returns ``(groups, rep_pairs, clique)``:
    vec groups keyed on the quantized array (rep = min vec_id),
    rep pairs (rep_a, rep_b, cosine >= threshold), and the size>=2
    groups whose SELF-cosine passes the threshold — (rep_id, members,
    cos_self), the within-pair admission set. The self cosine is the
    pair path's exact IEEE expression (sumsq/1e8 divided by nrm*nrm —
    sqrt(s)^2 is not always s in float64, so a 1.0 literal would NOT be
    bit-identical; an all-zero vector folds to NULL, never 1.0)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qe = F.expr("transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1e4) AS BIGINT))")
    sumsq = F.expr("aggregate(qe, 0L, (acc, x) -> acc + x * x)")
    nrm = F.sqrt(sumsq / F.lit(1e8))
    groups = persist_once(
        emb.select("vec_id", qe.alias("qe"))
        .groupBy("qe")
        .agg(
            F.min("vec_id").alias("rep_id"),
            F.collect_list("vec_id").alias("members"),
        )
    )
    vecs = groups.select(F.col("rep_id").alias("vec_id"), "qe").select(
        "vec_id", "qe", nrm.alias("nrm"), (F.col("vec_id") % EMB_GRID).alias("g")
    )
    # A meets every B-block j; B meets every A-block i; cell key = i*G + j.
    a = vecs.select(
        F.col("vec_id").alias("id_a"),
        F.col("qe").alias("qe_a"),
        F.col("nrm").alias("nrm_a"),
        F.explode(
            F.expr(f"transform(sequence(0, {EMB_GRID - 1}), j -> g * {EMB_GRID} + j)")
        ).alias("cell"),
    )
    b = vecs.select(
        F.col("vec_id").alias("id_b"),
        F.col("qe").alias("qe_b"),
        F.col("nrm").alias("nrm_b"),
        F.explode(
            F.expr(f"transform(sequence(0, {EMB_GRID - 1}), i -> i * {EMB_GRID} + g)")
        ).alias("cell"),
    )
    # HOF fold over the primitive int64 arrays. Measured at sf0.1 (2M pairs):
    # this runs ~7× faster than a flat 64-term element_at chain — zip_with/
    # aggregate stream the primitive arrays in one pass, while the flat chain
    # pays per-term eval overhead. Integer adds are order-free, so the fold
    # is bit-identical to the oracle's LIST_SUM.
    dot = "aggregate(zip_with(qe_a, qe_b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    # Explicit repartition on the probe side: the parquet scan is a single
    # (tiny) partition and the B side broadcasts, so without this the whole
    # O(N²/G) pair stream would run in ONE task — AQE can't split it because
    # the explosion happens join-side, invisible to input-size heuristics.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    rep_pairs = (
        a.repartition(n_part, "cell")
        .join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.col("id_a").alias("rep_a"),
            F.col("id_b").alias("rep_b"),
            ((F.expr(dot) / F.lit(1e8)) / (F.col("nrm_a") * F.col("nrm_b"))).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= EMB_DUP_THRESHOLD)
    )
    cos_self = (sumsq / F.lit(1e8)) / (nrm * nrm)
    clique = (
        groups.filter(F.size("members") >= 2)
        .select("rep_id", "members", cos_self.alias("cos_self"))
        .filter(F.col("cos_self") >= EMB_DUP_THRESHOLD)
    )
    return groups, rep_pairs, clique


@query("dedup_embedding_cosine", oracle=_EMB_COSINE_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dedup: semantic duplicate pairs (cosine >=
    threshold over the documents' embedding vectors) with a canonical
    keep/drop decision — keep the LONGER document (n_chars), ties to the
    smaller doc_id (the pair is ordered id_a < id_b, so `ELSE id_a` is the
    tie branch in both engines).

    Exactness: vectors are quantized ONCE per row to 1e-4-resolution BIGINT
    arrays (identical ROUND in both engines); every pair dot product is then
    a pure int64 sum — exact and order-free — so both engines produce
    bit-identical cosines and the threshold selects identical pairs.

    Scale shape: the all-pairs ground truth runs as a GRID BLOCK JOIN over
    CONTENT REPRESENTATIVES, not a nested-loop: vectors first collapse by
    identical quantized array (rep = min vec_id per distinct ``qe`` — an
    exact-dedup groupBy; cosine depends only on the two quantized arrays,
    so the rep-level value carries to every member pair verbatim), then
    each rep side explodes G block keys so every rep pair meets exactly
    once in one of G² hash-join cells. Rep pairs expand back to vec-level
    pairs through two membership joins, plus the within-group pairs of
    identical vectors (cosine = sumsq/1e8 / nrm², the SAME IEEE expression
    the pair path evaluates — not a 1.0 literal — so the emitted doubles
    are bit-identical). The grid join keeps the per-pair dot product (a
    flat 64-term int multiply-add) inside whole-stage codegen — a
    BroadcastNestedLoopJoin variant ran ~10× slower because nothing
    downstream of BNLJ is code-generated — and spreads the O(D²/2) work
    (D = distinct contents) across G² tasks instead of one; on a
    replica-heavy corpus the quadratic term scales with distinct vectors,
    not corpus size. The keep/drop decision is per-DOCUMENT (n_chars
    differs inside a content group), so it applies after expansion, on the
    member-level pairs. At 100 TB the candidate generator swaps for the
    LSH bucketer (similarity_topk_lsh) or IVF cells with THIS exact
    rescore + keep-rule applied only inside buckets; pairs then feed
    dedup_connected_components for cluster-level canonicalization.
    """
    groups, rep_pairs, _clique = cosine_rep_pairs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # Expansion 1/2 — cross-group: cosine is content-determined, so the
    # rep-level value carries to every (member_a, member_b) pair verbatim;
    # reorder to (min, max) since group vec_ids interleave. (Swapping the
    # pair is IEEE-safe: the dot products are the same elementwise
    # multiplies in the same fold order, and nrm_a*nrm_b commutes.)
    membership = groups.select(
        F.col("rep_id"), F.explode("members").alias("vec_id")
    )
    ma = membership.select(
        F.col("rep_id").alias("rep_a"), F.col("vec_id").alias("va")
    )
    mb = membership.select(
        F.col("rep_id").alias("rep_b"), F.col("vec_id").alias("vb")
    )
    cross = (
        rep_pairs.join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("va", "vb").alias("id_a"),
            F.greatest("va", "vb").alias("id_b"),
            "cosine",
        )
    )
    # Expansion 2/2 — within-group: identical quantized vectors, at the
    # self-cosine the rep function computed with the pair path's exact
    # IEEE expression (see cosine_rep_pairs — a 1.0 literal would NOT be
    # bit-identical; zero vectors fold to NULL and fail the threshold).
    within = (
        _clique
        .select(F.col("cos_self").alias("cosine"), "members")
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(members, "
                    "x -> transform(members, y -> struct(x, y)))), "
                    "p -> p.x < p.y)"
                )
            ).alias("p"),
            "cosine",
        )
        .select(
            F.col("p.x").alias("id_a"),
            F.col("p.y").alias("id_b"),
            "cosine",
        )
    )
    pairs = cross.unionByName(within)
    da = docs.select(F.col("doc_id").alias("id_a"), F.col("n_chars").alias("chars_a"))
    db = docs.select(F.col("doc_id").alias("id_b"), F.col("n_chars").alias("chars_b"))
    longer_b = F.col("chars_b") > F.col("chars_a")
    return (
        pairs.join(F.broadcast(da), "id_a")
        .join(F.broadcast(db), "id_b")
        .select(
            F.when(longer_b, F.col("id_b")).otherwise(F.col("id_a")).alias("doc_keep"),
            F.when(longer_b, F.col("id_a")).otherwise(F.col("id_b")).alias("doc_drop"),
            "cosine",
        )
    )


@query(
    "dedup_embedding_cosine_clusters",
    oracle=clusters_oracle(
        f"SELECT doc_keep AS doc_a, doc_drop AS doc_b "
        f"FROM ({_EMB_COSINE_ORACLE})"
    ),
)
def dedup_embedding_cosine_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-summary emit mode over the SEMANTIC (embedding-cosine)
    near-dup relation: one row per connected component of the cosine pair
    graph — (representative = min member, member_count, sample_members).
    The round-11 ``emit='clusters'`` shape (``cluster_summaries`` +
    ``clusters_oracle``) instantiated for the embedding family: pair
    output grows with the SQUARE of semantic-duplicate cluster size, the
    summary is linear in the corpus — the thing a 100 TB semantic-dedup
    job actually writes. Oracle: the same transitive-closure-per-component
    CTE wrapped around the cosine pair oracle verbatim.

    CC runs on the rep graph (r16 — rep_cluster_summaries): the pair
    query's keep/drop reorder and n_chars join are irrelevant to the
    component structure (undirected graph, vec_id == doc_id one-to-one
    by the corpus contract — the same totality the oracle's inner doc
    join relies on), so the member-level pair relation never needs to
    exist here; the clique admission set is the size>=2 groups whose
    self-cosine passes the threshold."""
    groups, rep_pairs, clique = cosine_rep_pairs(spark, sf_dir)
    return rep_cluster_summaries(groups, rep_pairs, clique)


# Containment (asymmetric Jaccard): |A ∩ B| / |A|. Near-SUBSET duplication —
# a doc whose shingles are swallowed by a larger doc (boilerplate inclusion,
# quoted reposts, template wrapping) scores low on symmetric Jaccard (the
# union is dominated by the big doc) but ~1.0 on containment, which is why
# corpus curation runs both. Same inverted-index candidate generation as
# the Jaccard query; ppm floor-division keeps the ratio engine-exact.
_CONTAINMENT_ORACLE = """
    WITH shingles AS (
      SELECT DISTINCT doc_id, words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] AS sh
      FROM (
        SELECT doc_id, string_split(text, ' ') AS words
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
      ), UNNEST(range(len(words) - 2)) AS t(i)
    ),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           (1000000 * n_common) // na.n AS cont_a_in_b_ppm,
           (1000000 * n_common) // nb.n AS cont_b_in_a_ppm
    FROM common
    JOIN counts na ON na.doc_id = doc_a
    JOIN counts nb ON nb.doc_id = doc_b
    WHERE LEAST(na.n, nb.n) >= 10
      AND (1000000 * n_common) // LEAST(na.n, nb.n) >= 800000
    """


@query("dedup_shingle_containment", oracle=_CONTAINMENT_ORACLE)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-subset duplicate pairs by shingle CONTAINMENT >= 0.8 (of the
    smaller side, which is the one that can be swallowed), min 10 shingles.

    Asymmetric Jaccard is the boilerplate-inclusion detector symmetric
    Jaccard structurally misses: if |A|=20 and A ⊂ B with |B|=200,
    J = 20/200 = 0.1 (invisible at any sane threshold) while
    containment(A,B) = 1.0. Both direction ratios are emitted so the
    keep/drop policy downstream can distinguish "A is a fragment of B"
    from mutual near-equality.

    Scale: same content-representative rewrite as ``dedup_jaccard_shingles``
    — docs collapse to one representative per distinct text (shingle sets,
    and therefore both containment ratios, depend only on content), the
    quadratic inverted-index self-join runs over distinct contents only,
    and rep-level pairs expand back through two membership joins. The
    expansion is ASYMMETRIC: the emitted pair is reordered to
    (min doc_id, max doc_id), and whenever that reorder flips which side
    came from rep_a's content group the two direction ratios swap with it.
    Within-group pairs (identical texts) are containment exactly
    1,000,000 ppm both ways, admitted iff the shared content has >= 10
    distinct shingles (the same min-10 filter, applied once per content).
    Exact algebraic rewrite — the emitted relation is bit-identical at
    every SF, but the intermediate (doc_a, doc_b) aggregate scales with
    distinct contents squared instead of corpus squared. The LSH scale
    path applies unchanged (MinHash estimates containment via J and the
    two set sizes, both already in the signature join).
    """
    groups, rep_pairs, _clique = containment_rep_pairs(spark, sf_dir)
    membership = groups.select(
        F.col("rep_id"), F.explode("members").alias("doc_id")
    )
    ma = membership.select(
        F.col("rep_id").alias("rep_a"), F.col("doc_id").alias("da")
    )
    mb = membership.select(
        F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("db")
    )
    # Reorder each expanded pair to (min, max); the direction ratios are
    # role-bound (numerator side), so they swap exactly when the reorder
    # swaps which member carries rep_a's content.
    flip = F.col("da") > F.col("db")
    cross = (
        rep_pairs.join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            F.when(flip, F.col("ppm_b")).otherwise(F.col("ppm_a")).alias("cont_a_in_b_ppm"),
            F.when(flip, F.col("ppm_a")).otherwise(F.col("ppm_b")).alias("cont_b_in_a_ppm"),
        )
    )
    # Within-group: identical texts share the shingle set, so n_common =
    # na = nb and both ratios floor-divide to exactly 1,000,000 ppm — iff
    # the content clears the min-10 distinct-shingle gate (texts under 3
    # words have no counts row and are dropped by the inner join, exactly
    # as they never enter the shingle relation in the per-doc form).
    within = (
        groups.join(_clique, "rep_id")
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(members, "
                    "x -> transform(members, y -> struct(x, y)))), "
                    "p -> p.x < p.y)"
                )
            ).alias("p")
        )
        .select(
            F.col("p.x").alias("doc_a"),
            F.col("p.y").alias("doc_b"),
            F.lit(1000000).cast("long").alias("cont_a_in_b_ppm"),
            F.lit(1000000).cast("long").alias("cont_b_in_a_ppm"),
        )
    )
    return cross.unionByName(within)


def containment_rep_pairs(spark: SparkSession, sf_dir: str):
    """Rep-level containment pairs — the shared quadratic half of
    ``dedup_shingle_containment``. Returns ``(groups, rep_pairs,
    clique_reps)``: content groups, rep pairs (rep_a, rep_b, ppm_a,
    ppm_b) passing the min-10 / 0.8 gates, and the size>=2 groups whose
    content clears the min-10 distinct-shingle gate (the within-pair
    admission set)."""
    docs = load_table(spark, sf_dir, "documents")
    groups = content_rep_groups(docs)
    rep_docs = groups.select(F.col("rep_id").alias("doc_id"), "text")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # persist: the keyed shingle index feeds the self-join sides and the
    # clique_reps gate (the winnowing-pairs r16 finding). The per-doc
    # count branch is gone (r17): n rides the index as a carried column
    # (== size(shingles)) and the pair aggregate keys on (na, nb) —
    # functionally dependent on the doc ids, so the groups are unchanged
    # — deleting the count aggregate and both re-attach joins; the
    # clique gate reads per-doc n as a distinct projection of the index.
    sh_keyed = (
        word_shingles(rep_docs, 3, count_col="n")
        .repartition(n_part, "sh")
        .persist()
    )
    a = sh_keyed.alias("a")
    b = sh_keyed.hint("shuffle_hash").alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    rep_pairs = (
        common.filter(
            (F.least("na", "nb") >= 10)
            & (F.expr("(1000000 * n_common) div least(na, nb)") >= 800000)
        )
        .select(
            F.col("doc_a").alias("rep_a"),
            F.col("doc_b").alias("rep_b"),
            F.expr("(1000000 * n_common) div na").alias("ppm_a"),
            F.expr("(1000000 * n_common) div nb").alias("ppm_b"),
        )
    )
    clique_reps = (
        groups.filter(F.size("members") >= 2)
        .join(
            sh_keyed.select("doc_id", "n").distinct()
            .filter(F.col("n") >= 10)
            .withColumnRenamed("doc_id", "rep_id"),
            "rep_id",
        )
        .select("rep_id")
    )
    return groups, rep_pairs, clique_reps


@query(
    "dedup_shingle_containment_clusters",
    oracle=clusters_oracle(_CONTAINMENT_ORACLE),
)
def dedup_shingle_containment_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-summary emit mode over the CONTAINMENT (near-subset) pair
    relation: one row per connected component of the containment graph —
    boilerplate/template families collapse into single summary rows
    (representative = min member, member_count, sample_members) instead
    of a pair list that grows quadratically with family size. Fourth
    instantiation of the clusters emit mode; the containment pair oracle
    passes through verbatim since it already emits doc_a/doc_b. CC runs
    on the rep graph with the min-10-shingle within-gate as the clique
    admission set (r16 — see rep_cluster_summaries)."""
    groups, rep_pairs, clique_reps = containment_rep_pairs(spark, sf_dir)
    return rep_cluster_summaries(groups, rep_pairs, clique_reps)


@query(
    "dedup_cluster_canonical",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM (
        WITH shingles AS (
          SELECT DISTINCT doc_id, words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] AS sh
          FROM (
            SELECT doc_id, string_split(text, ' ') AS words
            FROM documents WHERE len(string_split(text, ' ')) >= 3
          ), UNNEST(range(len(words) - 2)) AS t(i)
        ),
        counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
          FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b
        FROM common JOIN counts na ON na.doc_id = doc_a
                    JOIN counts nb ON nb.doc_id = doc_b
        WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.8
      )
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS doc FROM edges),
    reach(src, dst) AS (
      SELECT doc, doc FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    labels AS (
      SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
    ),
    ranked AS (
      SELECT l.cluster_id, l.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                                ORDER BY d.n_chars DESC, l.doc_id) AS rk
      FROM labels l JOIN documents d ON d.doc_id = l.doc_id
    )
    SELECT cluster_id,
           COUNT(*) AS n_members,
           MIN(CASE WHEN rk = 1 THEN doc_id END) AS keep_doc_id,
           MIN(CASE WHEN rk = 1 THEN n_chars END) AS keep_n_chars,
           COUNT(*) - 1 AS n_dropped
    FROM ranked GROUP BY cluster_id
    """,
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop DECISION layer of near-dup dedup: connected
    components over the J >= 0.8 pair graph, then one canonical document
    per cluster — longest text wins, ties to the smallest doc_id — with
    member/drop counts. This is the step that turns pairwise similarity
    output into the actual training-corpus delete list (the reference's
    pipelines stop at pairs; curation needs the verdict).

    Scale: the pair graph and its components are tiny relative to the
    corpus (only docs with a near-dup appear); the quality join pulls
    n_chars for member docs only, and the per-cluster pick is a
    WindowGroupLimit-able top-1. Deterministic tie-breaks make the
    keep-set re-ingestion-stable — same corpus, same survivors, any
    cluster size, any partitioning.
    """
    labels = dedup_connected_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    from pyspark.sql.window import Window

    members = labels.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ranked = members.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("keep_doc_id"),
        F.min(F.when(F.col("rk") == 1, F.col("n_chars"))).alias("keep_n_chars"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
    )


@query("dedup_jaccard_prefix_filter", oracle=_JACCARD_ORACLE)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs (J >= 0.8) via PPJoin-style PREFIX FILTERING —
    same relation as ``dedup_jaccard_shingles`` (same oracle!), far
    smaller candidate join. Each doc's shingles are ordered by GLOBAL
    rarity (ascending document frequency, ties by shingle); only the
    first ``|d| - ceil(0.8·|d|) + 1`` shingles are indexed. Soundness:
    J(x,y) >= t implies overlap >= ceil(t·max(|x|,|y|)) (from the size
    filter |y| >= t·|x|), and two sets whose overlap is >= a must
    collide within their (len - a + 1)-prefixes under any shared total
    order — so every qualifying pair survives, which the shared exact
    oracle enforces every round. Rarity ordering makes surviving prefix
    collisions RARE shingles, collapsing the quadratic bucket fan-out
    the full inverted index pays on common shingles.

    Scale: one extra vocabulary-sized aggregate (DF counts) and an
    explode bounded at ~20% of the shingle stream; candidate
    verification re-checks true Jaccard on the full sorted arrays via a
    JVM array intersect. The shared order is the (dfreq, shingle) SORT
    KEY itself — deliberately NOT a materialized row_number rank, which
    would be a single-partition sort of the vocabulary. Measured at
    sf0.1 (uniform-random synthetic text, no hot shingles): parity with
    the full inverted index (~1.9 s vs ~1.6 s warm) — the win appears on
    real corpora where boilerplate shingles make bucket fan-out
    quadratic, exactly what the prefix excludes. This is the production
    exact-join path when LSH recall guarantees aren't acceptable.

    Content-representative collapse (round-13, shared recipe): prefix
    filtering is defenseless against EXACT replicas — identical texts
    share their whole (rarity-ordered) prefix, so every duplicate class
    of size k contributes k(k-1)/2 candidates per prefix shingle. Docs
    collapse to reps before the DF counts and the prefix join (the
    rep-level (dfreq, shingle) order is still a shared total order —
    soundness only needs SOME shared order — and the true-Jaccard
    verification makes the emitted relation independent of the candidate
    set), then the standard membership expansion rebuilds the per-doc
    relation exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    groups = content_rep_groups(docs)
    rep_docs = groups.select(F.col("rep_id").alias("doc_id"), "text")
    arrs = persist_once(shingle_arrays(rep_docs, 3))
    exploded = arrs.select("doc_id", F.explode("shingles").alias("sh"))
    # document frequency per shingle; (dfreq, sh) IS the shared total
    # order — no materialized global rank (a row_number over the whole
    # vocabulary would be a single-partition sort, the exact bottleneck
    # this operator exists to avoid)
    df_counts = exploded.groupBy("sh").agg(F.count(F.lit(1)).alias("dfreq"))
    # per-doc shingle list re-sorted by rarity; keep the prefix
    by_rarity = (
        exploded.join(df_counts, "sh")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dfreq", "sh"))
            ).alias("rs")
        )
        .select(
            "doc_id",
            F.expr("transform(rs, x -> x.sh)").alias("by_rarity"),
            F.size("rs").alias("n"),
        )
        .select(
            "doc_id",
            F.expr(
                "slice(by_rarity, 1, n - cast(ceil(0.8 * n) as int) + 1)"
            ).alias("prefix"),
        )
        # persist (r16): both sides of the candidate self-join consume
        # this frame — without the cache the DF join + rarity-sort
        # aggregate ran twice (the winnowing-pairs finding)
        .persist()
    )
    cand = (
        by_rarity.select("doc_id", F.explode("prefix").alias("sh"))
        .alias("a")
        .join(
            by_rarity.select("doc_id", F.explode("prefix").alias("sh")).alias(
                "b"
            ),
            F.expr("a.sh = b.sh AND a.doc_id < b.doc_id"),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = arrs.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = arrs.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.col("doc_a").alias("rep_a"),
            F.col("doc_b").alias("rep_b"),
            F.expr(
                "size(array_intersect(sh_a, sh_b)) / "
                "(size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b)))"
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )
    return expand_rep_pairs(groups, verified, "jaccard", F.lit(1.0))


@query(
    "dedup_pipeline_tiered",
    oracle="""
    WITH base AS (SELECT COUNT(*) AS n_docs FROM documents),
    exact_survivors AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
    ),
    shingles AS (
      SELECT DISTINCT d.doc_id,
             words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] AS sh
      FROM (
        SELECT doc_id, string_split(text, ' ') AS words
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
          AND doc_id IN (SELECT doc_id FROM exact_survivors)
      ) d, UNNEST(range(len(words) - 2)) AS t(i)
    ),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    near_pairs AS (
      SELECT doc_a, doc_b
      FROM common
      JOIN counts na ON na.doc_id = doc_a
      JOIN counts nb ON nb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) >= 0.8
    ),
    near_dropped AS (SELECT DISTINCT doc_b AS doc_id FROM near_pairs)
    SELECT (SELECT n_docs FROM base) AS n_input,
           (SELECT n_docs FROM base)
             - (SELECT COUNT(*) FROM exact_survivors) AS n_exact_dropped,
           (SELECT COUNT(*) FROM near_dropped) AS n_near_dropped,
           (SELECT COUNT(*) FROM exact_survivors)
             - (SELECT COUNT(*) FROM near_dropped) AS n_survivors
    """,
)
def dedup_pipeline_tiered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE dedup pipeline as one operator, cheap tier first:
    (1) exact dedup (hash groupBy — removes byte-identical copies at
    hash-shuffle cost), then (2) near-dedup at J >= 0.8 ONLY over the
    exact survivors (greedy keep-lowest-id: any doc near-equal to a
    lower-id survivor drops). Emits the funnel accounting — input,
    dropped per tier, survivors — the numbers a corpus curation run
    reports. Tier ordering is the scale story: exact dedup costs one
    shuffle and shrinks the expensive near-dup candidate space before
    shingling ever runs (on crawl corpora exact copies are the bulk of
    duplication).

    Scale: tier 1 is ``dedup_exact_documents``'s plan; tier 2 is the
    inverted-index join over survivors only (swap in the LSH or
    prefix-filter path unchanged at 100 TB — same relation, cheaper
    candidates).
    """
    docs = load_table(spark, sf_dir, "documents")
    n_input = docs.count()
    exact_survivors = docs.groupBy("text").agg(
        F.min("doc_id").alias("doc_id")
    )
    n_exact_survivors = exact_survivors.count()
    surv_docs = docs.join(
        exact_survivors.select("doc_id"), "doc_id", "left_semi"
    )
    sh = word_shingles(surv_docs, 3)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # persist: same four-branch re-evaluation as rep_jaccard_pairs (r16)
    sh_keyed = sh.repartition(n_part, "sh").persist()
    counts = sh_keyed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh_keyed.alias("a")
    b = sh_keyed.hint("shuffle_hash").alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = counts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na")
    nb = counts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb")
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    near_dropped = (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(jac >= 0.8)
        .select("doc_b")
        .distinct()
    )
    n_near_dropped = near_dropped.count()
    sh_keyed.unpersist()  # the returned frame is a literal — cache done
    return spark.createDataFrame(
        [
            (
                n_input,
                n_input - n_exact_survivors,
                n_near_dropped,
                n_exact_survivors - n_near_dropped,
            )
        ],
        "n_input long, n_exact_dropped long, n_near_dropped long, "
        "n_survivors long",
    )


@query(
    "dedup_incremental_vs_history",
    oracle="""
    WITH hist AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    inc AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    exact AS (
      SELECT i.doc_id, MIN(h.doc_id) AS match_doc
      FROM inc i JOIN hist h ON h.text = i.text
      GROUP BY i.doc_id
    ),
    hsh AS (
      SELECT DISTINCT doc_id, words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] AS sh
      FROM (
        SELECT doc_id, string_split(text, ' ') AS words
        FROM hist WHERE len(string_split(text, ' ')) >= 3
      ), UNNEST(range(len(words) - 2)) AS t(i)
    ),
    ish AS (
      SELECT DISTINCT doc_id, words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] AS sh
      FROM (
        SELECT doc_id, string_split(text, ' ') AS words
        FROM inc WHERE len(string_split(text, ' ')) >= 3
          AND doc_id NOT IN (SELECT doc_id FROM exact)
      ), UNNEST(range(len(words) - 2)) AS t(i)
    ),
    hc AS (SELECT doc_id, COUNT(*) AS n FROM hsh GROUP BY doc_id),
    ic AS (SELECT doc_id, COUNT(*) AS n FROM ish GROUP BY doc_id),
    common AS (
      SELECT i.doc_id AS inc_doc, h.doc_id AS hist_doc, COUNT(*) AS c
      FROM ish i JOIN hsh h ON h.sh = i.sh
      GROUP BY 1, 2
    ),
    near AS (
      SELECT inc_doc AS doc_id, MIN(hist_doc) AS match_doc
      FROM common
      JOIN ic ON ic.doc_id = inc_doc
      JOIN hc ON hc.doc_id = hist_doc
      WHERE CAST(c AS DOUBLE) / (ic.n + hc.n - c) >= 0.8
      GROUP BY inc_doc
    )
    SELECT i.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
                WHEN n.doc_id IS NOT NULL THEN 'near'
                ELSE 'novel' END AS verdict,
           COALESCE(e.match_doc, n.match_doc) AS match_doc
    FROM inc i
    LEFT JOIN exact e ON e.doc_id = i.doc_id
    LEFT JOIN near n ON n.doc_id = i.doc_id
    """,
)
def dedup_incremental_vs_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the shape production ingestion actually runs:
    a new batch (odd doc_ids) is checked against the EXISTING corpus
    (even doc_ids), never against itself in O(new²): exact text match
    first (removing those docs from the expensive tier), then bipartite
    near-dup (J >= 0.8) of the remainder against history via the
    inverted-index join. Verdict per incoming doc: exact / near / novel,
    with the matched history doc (min id). New-batch-internal duplicates
    are the NEXT run's history problem — the incremental contract that
    keeps each ingestion run O(new × candidates), not O(corpus²).

    Scale: history's shingle index is built ONCE and reused across
    ingestion runs (persist or a materialized index table); each run
    shuffles only the new batch's shingles into it. The bipartite join
    prunes candidates exactly like the self-join but with the new side
    orders of magnitude smaller; swap in MinHash-LSH unchanged when
    history is 100 TB (signatures are additive — new docs append).
    """
    docs = load_table(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    inc = docs.filter(F.col("doc_id") % 2 == 1)
    # persist (r16): exact feeds THREE consumers (the anti-join under
    # both ish branches and the final verdict join) — each re-ran the
    # corpus-wide text equi-join. The match table itself is tiny
    # (matched incoming docs only), so it is the one frame worth
    # pinning; persisting the hsh/ish shingle streams as well was
    # measured SLOWER at sf0.1 (0.61 -> 1.13 s): their double
    # evaluation is map-side explode work that runs concurrently
    # across branches, while a cache fill serializes it and writes
    # corpus-sized blocks.
    exact = (
        inc.alias("i")
        .join(hist.alias("h"), F.col("h.text") == F.col("i.text"))
        .groupBy(F.col("i.doc_id").alias("doc_id"))
        .agg(F.min(F.col("h.doc_id")).alias("match_doc"))
        .persist()
    )
    inc_rest = inc.join(exact.select("doc_id"), "doc_id", "left_anti")
    hsh = word_shingles(hist, 3)
    ish = word_shingles(inc_rest, 3)
    hc = hsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("hn"))
    ic = ish.groupBy("doc_id").agg(F.count(F.lit(1)).alias("inn"))
    common = (
        ish.alias("i")
        .join(hsh.alias("h"), F.col("h.sh") == F.col("i.sh"))
        .groupBy(
            F.col("i.doc_id").alias("inc_doc"),
            F.col("h.doc_id").alias("hist_doc"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c").cast("double") / (
        F.col("inn") + F.col("hn") - F.col("c")
    )
    near = (
        common.join(ic.withColumnRenamed("doc_id", "inc_doc"), "inc_doc")
        .join(hc.withColumnRenamed("doc_id", "hist_doc"), "hist_doc")
        .filter(jac >= 0.8)
        .groupBy(F.col("inc_doc").alias("doc_id"))
        .agg(F.min("hist_doc").alias("match_doc"))
    )
    e = exact.withColumnRenamed("match_doc", "e_match")
    n = near.withColumnRenamed("match_doc", "n_match")
    return (
        inc.select("doc_id")
        .join(e, "doc_id", "left")
        .join(n, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("e_match").isNotNull(), "exact")
            .when(F.col("n_match").isNotNull(), "near")
            .otherwise("novel")
            .alias("verdict"),
            F.coalesce("e_match", "n_match").alias("match_doc"),
        )
    )


# --- Bloom-filter prefilter for incremental dedup (bloom-as-relation) -------
#
# At 100 TB the history side of incremental dedup is the whole corpus; the
# classic trick is a Bloom filter of history fingerprints small enough to
# broadcast. Expressed RELATIONALLY it stays engine-exact and hash-
# oracle-able: k=3 bit positions per fingerprint (16-bit slices of the
# md5, reduced mod m), the history "filter" is just the DISTINCT
# bit-position table (<= k*m rows REGARDLESS of history size — that bound
# is the whole point), and membership = all 3 of a new doc's positions
# present. Candidates then verify by exact fingerprint semi-join, so the
# output also exhibits the filter's false positives — the measurable
# quantity a real deployment tunes m/k against.
#
# m is deliberately sized DOWN (1024) for the test corpus so the
# false-positive branch is actually exercised at the correctness-contract
# scale: at m=2^16 the sf0.01 output was EMPTY on both engines and the
# oracle check was vacuous (round-6 verdict). Production sizes m to the
# history cardinality (m ≈ 1.44·k·n bits for a target FP); the relational
# shape is identical at any m.

_BLOOM_K = 3  # positions per fingerprint, 16-bit md5 slices reduced mod m
_BLOOM_M = 1024  # filter bits per k-slice (kept small: see note above)


@query(
    "dedup_incremental_bloom_prefilter",
    oracle=f"""
    WITH hist AS (
      SELECT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0
    ),
    inc AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 1
    ),
    bits AS (
      SELECT DISTINCT j.j AS k_idx,
             ((instr('0123456789abcdef', substr(fp, j.j*4+1, 1)) - 1) * 4096
            + (instr('0123456789abcdef', substr(fp, j.j*4+2, 1)) - 1) * 256
            + (instr('0123456789abcdef', substr(fp, j.j*4+3, 1)) - 1) * 16
            + (instr('0123456789abcdef', substr(fp, j.j*4+4, 1)) - 1))
             % {_BLOOM_M} AS pos
      FROM hist, (SELECT UNNEST(range({_BLOOM_K})) AS j) j
    ),
    probes AS (
      SELECT i.doc_id, i.fp, j.j AS k_idx,
             ((instr('0123456789abcdef', substr(i.fp, j.j*4+1, 1)) - 1) * 4096
            + (instr('0123456789abcdef', substr(i.fp, j.j*4+2, 1)) - 1) * 256
            + (instr('0123456789abcdef', substr(i.fp, j.j*4+3, 1)) - 1) * 16
            + (instr('0123456789abcdef', substr(i.fp, j.j*4+4, 1)) - 1))
             % {_BLOOM_M} AS pos
      FROM inc i, (SELECT UNNEST(range({_BLOOM_K})) AS j) j
    ),
    candidates AS (
      SELECT p.doc_id, p.fp
      FROM probes p JOIN bits b ON b.k_idx = p.k_idx AND b.pos = p.pos
      GROUP BY p.doc_id, p.fp
      HAVING COUNT(*) = {_BLOOM_K}
    )
    SELECT c.doc_id,
           (EXISTS (SELECT 1 FROM hist h WHERE h.fp = c.fp)) AS true_dup
    FROM candidates c
    """,
)
def dedup_incremental_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter prefilter for incremental exact dedup, expressed as
    relations: the history corpus (even doc_ids) collapses to its DISTINCT
    (k_idx, bit-position) table — bounded by k·m rows NO MATTER how big
    history grows, which is what makes it broadcastable at 100 TB — and a
    new batch doc (odd ids) is a candidate iff all {_BLOOM_K} of its
    md5-sliced positions hit. Candidates re-verify against the true
    fingerprint set, so the emitted ``true_dup`` flag exposes the filter's
    false-positive rate (the m/k tuning signal; FP ≈ (1−e^{{-kn/m}})^k).
    m={_BLOOM_M} is sized so that rate is nonzero on the test corpus — the
    round-6 m=2^16 filter passed its oracle vacuously (0 rows both
    engines); a correctness check must exercise both branches.

    Per-partition practice would use an actual bitset UDAF; the relational
    spelling is semantically identical, engine-exact (same md5 nibble
    arithmetic both sides), and keeps every step hash-oracle-checked —
    including the false positives themselves, which are deterministic
    functions of the corpus.

    Plan: history → one distinct aggregate (≤ 3·65536 rows) broadcast into
    the probe join; the only corpus-sized work is the two fingerprint
    scans. The exact-verify semi-join touches only bloom candidates.
    """
    docs = load_table(spark, sf_dir, "documents")
    return bloom_prefilter(docs)


def bloom_prefilter(docs: DataFrame) -> DataFrame:
    """Core of ``dedup_incremental_bloom_prefilter`` over any frame with
    ``doc_id`` (even = history, odd = incoming batch) and ``text`` —
    factored out so unit tests can drive it with a crafted corpus that
    contains both a true duplicate and an engineered mod-m collision
    (``tests/test_dedup_bloom.py``)."""
    hist = docs.filter(F.col("doc_id") % 2 == 0).select(F.md5("text").alias("fp"))
    inc = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.md5("text").alias("fp")
    )
    pos16 = (
        f"cast(conv(substr(fp, j * 4 + 1, 4), 16, 10) as int) % {_BLOOM_M}"
    )
    bits = (
        hist.select(F.explode(F.expr(f"sequence(0, {_BLOOM_K - 1})")).alias("j"), "fp")
        .select(F.col("j").alias("k_idx"), F.expr(pos16).alias("pos"))
        .distinct()
    )
    probes = inc.select(
        "doc_id", "fp",
        F.explode(F.expr(f"sequence(0, {_BLOOM_K - 1})")).alias("j"),
    ).select("doc_id", "fp", F.col("j").alias("k_idx"), F.expr(pos16).alias("pos"))
    candidates = (
        probes.join(F.broadcast(bits), ["k_idx", "pos"])
        .groupBy("doc_id", "fp")
        .agg(F.count(F.lit(1)).alias("nhit"))
        .filter(F.col("nhit") == _BLOOM_K)
    )
    return (
        candidates.join(
            hist.distinct().withColumnRenamed("fp", "hfp"),
            candidates["fp"] == F.col("hfp"),
            "left",
        )
        .select("doc_id", F.col("hfp").isNotNull().alias("true_dup"))
    )


# --- MinHash estimation-error profile (sketch-quality audit) ----------------
#
# The LSH query proves the minhash CANDIDATES recover the exact relation;
# this one measures the SKETCH itself: per overlapping pair, the minhash
# Jaccard estimate (fraction of agreeing signature slots) against the true
# Jaccard, both in exact quantized-integer ppm. Because these signatures use
# md5 (shared by DuckDB) instead of the production xxhash64 family, every
# slot minimum is engine-reproducible and the ESTIMATE carries a full hash
# oracle — the error of an approximate structure, measured exactly. This is
# the audit a production pipeline runs on a sample before trusting a sketch
# configuration at 100 TB (E[err] ~ sqrt(J(1-J)/k) at k slots; k=32 gives
# ~0.09 worst-case sigma, visible in the profile).

MINHASH_PROFILE_SLOTS = 32  # 8 md5s x 4 8-hex-char slices per shingle
_MHP_SEEDS = 8
_MHP_MIN_COMMON = 2  # profile every pair sharing >= 2 shingles


def _mhp_hcat_sql(engine: str) -> str:
    """Concatenated per-shingle hash string: md5('0:'||sh) || ... ||
    md5('7:'||sh) — 256 lowercase-hex chars, 32 slots of 8. Identical text
    in both engines; lexicographic MIN of fixed-length lowercase hex equals
    numeric MIN, so slot minima need no integer conversion."""
    if engine == "spark":
        return "concat(" + ", ".join(
            f"md5(concat('{k}:', x))" for k in range(_MHP_SEEDS)
        ) + ")"
    return " || ".join(f"md5('{k}:' || sh)" for k in range(_MHP_SEEDS))


_MHP_ORACLE = f"""
    WITH shingles AS (
      SELECT DISTINCT doc_id,
             words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] AS sh
      FROM (
        SELECT doc_id, string_split(text, ' ') AS words
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
      ), UNNEST(range(len(words) - 2)) AS t(i)
    ),
    hs AS (SELECT doc_id, {_mhp_hcat_sql('duckdb')} AS h FROM shingles),
    sigs AS (
      SELECT doc_id,
             [LIST_MIN([substr(h, s*8 + 1, 8) FOR h IN hl])
              FOR s IN range({MINHASH_PROFILE_SLOTS})] AS sg
      FROM (SELECT doc_id, LIST(h) AS hl FROM hs GROUP BY doc_id)
    ),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= {_MHP_MIN_COMMON}
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(na.n + nb.n - n_common AS BIGINT) AS n_union,
           CAST(LIST_SUM([CASE WHEN sa.sg[s+1] = sb.sg[s+1] THEN 1 ELSE 0 END
                          FOR s IN range({MINHASH_PROFILE_SLOTS})])
                AS INTEGER) AS n_slots_agree,
           CAST((1000000 * LIST_SUM([CASE WHEN sa.sg[s+1] = sb.sg[s+1]
                                          THEN 1 ELSE 0 END
                                     FOR s IN range({MINHASH_PROFILE_SLOTS})]))
                // {MINHASH_PROFILE_SLOTS} AS BIGINT) AS est_ppm,
           CAST((1000000 * n_common) // (na.n + nb.n - n_common) AS BIGINT)
             AS jac_ppm
    FROM common
    JOIN counts na ON na.doc_id = doc_a
    JOIN counts nb ON nb.doc_id = doc_b
    JOIN sigs sa ON sa.doc_id = doc_a
    JOIN sigs sb ON sb.doc_id = doc_b
    """


@query("dedup_minhash_error_profile", oracle=_MHP_ORACLE)
def dedup_minhash_error_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-measured MinHash sketch error: for every document pair
    sharing >= {_MHP_MIN_COMMON} word trigrams, emit the true Jaccard and
    the {MINHASH_PROFILE_SLOTS}-slot minhash estimate as exact ppm integers
    (quantized-integer division — no float fuzz), plus the raw agreeing-
    slot count. md5-derived slot hashes make the signature itself
    engine-reproducible, so unlike the rows-only ANN family this
    approximate structure's QUALITY is full hash-oracled.

    Scale: signatures are one JVM fold pass per doc (8 md5s per distinct
    shingle, slot minima over fixed-length hex slices — lexicographic MIN
    == numeric MIN, no conversions); the pair stream is inverted-index
    bounded exactly like ``dedup_jaccard_shingles``; the profile joins
    signatures only for surviving pairs. At 100 TB run it on a stratified
    sample of pairs per Jaccard band — the math is per-pair independent.
    """
    docs = load_table(spark, sf_dir, "documents")
    arrs = persist_once(shingle_arrays(docs, 3))
    counts = arrs.select("doc_id", F.size("shingles").alias("n"))
    sigs = arrs.select(
        "doc_id",
        F.expr(f"transform(shingles, x -> {_mhp_hcat_sql('spark')})").alias("hl"),
    ).select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, {MINHASH_PROFILE_SLOTS - 1}), "
            f"s -> array_min(transform(hl, h -> substring(h, s*8 + 1, 8))))"
        ).alias("sg"),
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    sh = arrs.select("doc_id", F.explode("shingles").alias("sh")).repartition(
        n_part, "sh"
    )
    a, b = sh.alias("a"), sh.hint("shuffle_hash").alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= _MHP_MIN_COMMON)
    )
    na = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sg").alias("sga"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sg").alias("sgb"))
    agree = F.expr(
        "aggregate(zip_with(sga, sgb, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), "
        "0, (acc, v) -> acc + v)"
    )
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("long").alias("n_common"),
            (F.col("na") + F.col("nb") - F.col("n_common"))
            .cast("long")
            .alias("n_union"),
            agree.cast("int").alias("n_slots_agree"),
            F.expr(
                f"CAST((1000000 * aggregate(zip_with(sga, sgb, "
                f"(x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), "
                f"0, (acc, v) -> acc + v)) div {MINHASH_PROFILE_SLOTS} AS BIGINT)"
            ).alias("est_ppm"),
            F.expr("CAST((1000000 * n_common) div (na + nb - n_common) AS BIGINT)")
            .alias("jac_ppm"),
        )
    )
