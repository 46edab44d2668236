"""Similarity search over the ``embeddings`` table (north-star extension):
exact brute-force cosine top-k (correctness baseline) and IVF-style
partition-pruned approximate top-k (the 100 TB scale path).

Cross-engine float discipline: inputs are float32; both engines widen to
double and fold products left-to-right, so cosines are bit-identical; ranks
are therefore stable, and displayed similarity is rounded to 6dp.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from us_equity_datalake_spark.functions.vector import cosine_sql
from us_equity_datalake_spark.operators import similarity
from us_equity_datalake_spark.sources.registry import load_table
from .base import register, scratch_dir

_K = 5
_NPROBE = 2
_COS_QC = cosine_sql("q.qv", "c.embedding")


@register(
    "emb_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, {_COS_QC} AS cos
      FROM embeddings c JOIN q ON c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {_K}
    """,
    doc="Brute-force cosine top-k: broadcast the query set, scan the corpus "
    "once, per-query k-heap (window rank). Exact baseline for ANN.  Since r5 "
    "the default scoring path is the Arrow/BLAS kernel (matmul selection + "
    "exact left-to-right rescore of survivors — bit-identical to the HOF "
    "twin, which tests keep as the parity reference).",
)
def cosine_topk_q(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk(emb, queries, id_col="vec_id", vec_col="embedding", query_id="query_id", k=_K)
    return out.select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long"))


@register(
    "emb_cosine_topk_arrow",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, {_COS_QC} AS cos
      FROM embeddings c JOIN q ON c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {_K}
    """,
    doc="The Arrow/numpy scoring kernel named in BENCH_TRIAGE as the 100 TB "
    "path: one BLAS matmul per Arrow batch selects per-batch local top-2k, "
    "the survivors are rescored with the exact left-to-right cumsum fold, "
    "global top-k over O(batches*2k) candidate rows.  Same oracle as the "
    "exact baseline and BIT-IDENTICAL to it (r5: every graded cosine is the "
    "exact fold — BLAS blocked summation is used only to pick candidates, "
    "so no near-tie/rounding-edge flakiness; ADVICE r4 resolved).",
)
def cosine_topk_arrow_q(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk_arrow(
        emb, queries, id_col="vec_id", vec_col="embedding", query_id="query_id", k=_K
    )
    return out.select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long"))


_COS_VC = cosine_sql("v.embedding", "c.cv")
_COS_QCENT = cosine_sql("q.qv", "c.cv")
_COS_QV = cosine_sql("q.qv", "a.embedding")


@register(
    "emb_ivf_topk",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id % 100 = 0
    ),
    assigned AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT v.vec_id, v.embedding, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {_COS_VC} DESC, c.centroid_id ASC) AS rn
        FROM embeddings v CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    probes AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT q.query_id, q.qv, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY {_COS_QCENT} DESC, c.centroid_id ASC) AS rn
        FROM q CROSS JOIN cent c
      ) WHERE rn <= {_NPROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {cosine_sql('p.qv', 'a.embedding')} AS cos
      FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
      WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {_K}
    """,
    doc="IVF-style ANN: assign vectors to nearest of deterministic seed "
    "centroids (vec_id % 100 == 0), probe only nprobe=2 buckets per query — "
    "the partition-pruned scan that scales; recall < 1 by construction.",
)
def ivf_topk_q(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    centroids = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_topk(
        emb, queries, centroids, id_col="vec_id", vec_col="embedding", query_id="query_id", k=_K, nprobe=_NPROBE
    )
    return out.select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long"))


@register(
    "emb_ivf_persisted_topk",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id % 100 = 0
    ),
    assigned AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT v.vec_id, v.embedding, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {_COS_VC} DESC, c.centroid_id ASC) AS rn
        FROM embeddings v CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 97 = 3),
    probes AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT q.query_id, q.qv, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY {_COS_QCENT} DESC, c.centroid_id ASC) AS rn
        FROM q CROSS JOIN cent c
      ) WHERE rn <= {_NPROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {cosine_sql('p.qv', 'a.embedding')} AS cos
      FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
      WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {_K}
    """,
    doc="The vector index AS A LAKE TABLE: the IVF build pass (nearest-"
    "centroid assignment) is written to parquet PARTITIONED BY centroid_id "
    "plus a centroid dimension table, then a fresh query set is answered by "
    "reading the index back and probing nprobe buckets — no re-assignment, "
    "and against the partitioned layout the probe is a pruned scan of "
    "nprobe/|C| of the corpus.  The write/read round-trip is the graded "
    "behavior (same persisted-index pattern as the MinHash signature store); "
    "floats survive parquet bit-exactly, so the oracle replays the whole "
    "build+probe in SQL.",
)
def ivf_persisted_topk_q(spark, sf_dir):
    import os

    emb = load_table(spark, "embeddings", sf_dir)
    centroids = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    root = scratch_dir("ivfidx", sf_dir)
    # build once: cluster the corpus by nearest centroid, lay it out
    # bucket-per-partition (the 100 TB layout: a probe touches nprobe dirs).
    # The pre-write hash distribution by the partition column is the
    # write.distribution-mode=hash discipline (guide §6): each bucket's rows
    # land in ONE task, so the build writes one file per bucket instead of
    # (tasks x buckets) fragments the probe would re-pay on every query.
    similarity.assign_to_centroids(emb, centroids).repartition(
        "centroid_id"
    ).write.partitionBy("centroid_id").parquet(os.path.join(root, "index"))
    centroids.write.parquet(os.path.join(root, "centroids"))
    # query time: read the index back; partition column returns as int32
    idx = spark.read.parquet(os.path.join(root, "index")).withColumn(
        "centroid_id", F.col("centroid_id").cast("long")
    )
    cents = spark.read.parquet(os.path.join(root, "centroids"))
    queries = emb.filter(F.col("vec_id") % 97 == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_probe(
        idx, cents, queries, id_col="vec_id", vec_col="embedding",
        query_id="query_id", k=_K, nprobe=_NPROBE,
    )
    return out.select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long"))


@register(
    "emb_ivf_incremental_topk",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id % 100 = 0
    ),
    assigned AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT v.vec_id, v.embedding, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {_COS_VC} DESC, c.centroid_id ASC) AS rn
        FROM embeddings v CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 97 = 3),
    probes AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT q.query_id, q.qv, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY {_COS_QCENT} DESC, c.centroid_id ASC) AS rn
        FROM q CROSS JOIN cent c
      ) WHERE rn <= {_NPROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {cosine_sql('p.qv', 'a.embedding')} AS cos
      FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
      WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {_K}
    """,
    doc="INCREMENTAL maintenance of the persisted IVF index (the production "
    "vector-index lifecycle: segments append, centroids are retrained "
    "rarely): the index is BUILT on 80% of the corpus, then the remaining "
    "20% arrives as a delta — assigned against the FROZEN centroids and "
    "landed as a partitioned APPEND into the same bucket directories, no "
    "rebuild, no re-assignment of existing rows.  Because per-row "
    "assignment is independent of arrival batch, the appended index must "
    "equal a fresh full build — which is exactly what the oracle computes, "
    "so any append-path row loss/dup/misbucketing breaks the probe's hash. "
    "Same persisted-index discipline as the MinHash signature store and "
    "the snapshot log's append commits.",
)
def ivf_incremental_topk_q(spark, sf_dir):
    import os

    emb = load_table(spark, "embeddings", sf_dir)
    centroids = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    root = scratch_dir("ivfinc", sf_dir)
    idx_path = os.path.join(root, "index")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    # build on the base slice; centroids are a fixed parameter table.
    # Hash-distribute by the partition column before each partitionBy write
    # (guide §6 write.distribution-mode=hash): one file per bucket per
    # commit at ANY upstream width, instead of (tasks x buckets) fragments.
    similarity.assign_to_centroids(base, centroids).repartition(
        "centroid_id"
    ).write.partitionBy("centroid_id").parquet(idx_path)
    # the delta assigns against the FROZEN centroids and APPENDS in place
    similarity.assign_to_centroids(delta, centroids).repartition(
        "centroid_id"
    ).write.mode("append").partitionBy("centroid_id").parquet(idx_path)
    idx = spark.read.parquet(idx_path).withColumn(
        "centroid_id", F.col("centroid_id").cast("long")
    )
    queries = emb.filter(F.col("vec_id") % 97 == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_probe(
        idx, centroids, queries, id_col="vec_id", vec_col="embedding",
        query_id="query_id", k=_K, nprobe=_NPROBE,
    )
    return out.select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long"))


from us_equity_datalake_spark.functions.vector import hyperplanes, lsh_bucket_sql  # noqa: E402

_N_PLANES, _LSH_SEED = 6, 11
_PLANES = hyperplanes(_N_PLANES, 64, _LSH_SEED)


@register(
    "emb_lsh_topk",
    oracle=f"""
    WITH c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv,
             {lsh_bucket_sql('embedding', _PLANES)} AS bkt
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv,
             {lsh_bucket_sql('embedding', _PLANES)} AS bkt
      FROM embeddings WHERE vec_id < 10
    ),
    scored AS (
      SELECT q.query_id, c.neighbor_id, {cosine_sql('q.qv', 'c.cv')} AS cos
      FROM c JOIN q ON c.bkt = q.bkt AND c.neighbor_id <> q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {_K}
    """,
    doc="LSH-bucketed ANN: 6 deterministic random-hyperplane sign bits → "
    "64 buckets; a query probes only its bucket (1/64 of the corpus), exact "
    "cosine ranks candidates. The bucket id is the partition/cluster key at "
    "scale — the probe becomes a pruned scan, not a full pass.",
)
def lsh_topk_q(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", query_id="query_id",
        k=_K, n_planes=_N_PLANES, seed=_LSH_SEED, dim=64,
    ).select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long"))


# synthetic embeddings are near-orthogonal (max same-bucket cosine ~0.47),
# so the dedup threshold is set low enough to produce a non-trivial result;
# production near-dup thresholds are ~0.95
_DUP_T = 0.35


@register(
    "emb_near_dup_pairs",
    oracle=f"""
    WITH t AS (
      SELECT vec_id AS id, embedding AS v,
             {lsh_bucket_sql('embedding', _PLANES)} AS bkt
      FROM embeddings
    )
    SELECT a.id AS id_a, b.id AS id_b,
           ROUND({cosine_sql('a.v', 'b.v')}, 6) AS cosine
    FROM t a JOIN t b ON a.bkt = b.bkt AND a.id < b.id
    WHERE ROUND({cosine_sql('a.v', 'b.v')}, 6) >= {_DUP_T}
    """,
    doc="Embedding-cosine near-dup pairs: LSH sign-bucket blocking (same-"
    "bucket candidates only, 1/64 of all-pairs) + exact cosine threshold — "
    "the vector-space member of the dedup family alongside MinHash/SimHash.",
)
def near_dup_pairs_q(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.cosine_near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding",
        threshold=_DUP_T, n_planes=_N_PLANES, seed=_LSH_SEED, dim=64,
    )


_KM_K = 8
_KM_ITERS = 2
_KM_DIM = 64  # embeddings fixture dim (TESTDATA); len() would also work


def _km_oracle() -> str:
    """Two unrolled Lloyd iterations as CTE chains — the SQL replay of
    operators/similarity.kmeans_assign (same init, same fold order, same
    decimal means, same tiebreak)."""
    dist = (
        "list_sum(list_transform(list_zip(pts.e, {c}.c), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    sql = f"""
    WITH pts AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, e AS c FROM pts WHERE vec_id < {_KM_K})"""
    prev = "c0"
    for it in range(_KM_ITERS):
        sql += f""",
    a{it} AS (
      SELECT vec_id, cid FROM (
        SELECT pts.vec_id, {prev}.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY pts.vec_id
                 ORDER BY {dist.format(c=prev)}, {prev}.cid
               ) AS rn
        FROM pts CROSS JOIN {prev}
      ) WHERE rn = 1
    ),
    u{it} AS (
      SELECT a{it}.cid, t.i AS pos,
             CAST(SUM(CAST(pts.e[t.i] AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS comp
      FROM a{it} JOIN pts USING (vec_id)
      CROSS JOIN generate_series(1, {_KM_DIM}) AS t(i)
      GROUP BY a{it}.cid, t.i
    ),
    c{it + 1} AS (SELECT cid, list(comp ORDER BY pos) AS c FROM u{it} GROUP BY cid)"""
        prev = f"c{it + 1}"
    sql += f"""
    SELECT vec_id, cid AS cluster_id FROM (
      SELECT pts.vec_id, {prev}.cid,
             ROW_NUMBER() OVER (
               PARTITION BY pts.vec_id
               ORDER BY {dist.format(c=prev)}, {prev}.cid
             ) AS rn
      FROM pts CROSS JOIN {prev}
    ) WHERE rn = 1
    """
    return sql


@register(
    "emb_kmeans_assign",
    oracle=_km_oracle(),
    doc=f"Semantic clustering: deterministic mini k-means (k={_KM_K}, "
    f"{_KM_ITERS} Lloyd iterations, first-k init, decimal centroid means) — "
    "the diversity-sampling / corpus-mapping step of a training-data "
    "pipeline.  Per iteration: one broadcast cross join vs k centroids + one "
    "k x dim update aggregate; the corpus never self-joins.  Full per-vector "
    "assignment is compared cross-engine (operators/similarity.py "
    "kmeans_assign).",
)
def kmeans_q(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.kmeans_assign(
        emb, id_col="vec_id", vec_col="embedding", k=_KM_K, iters=_KM_ITERS
    )


@register(
    "emb_int8_quantize_report",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    scaled AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      FROM v
    ),
    err AS (
      SELECT vec_id, scale,
             CASE WHEN scale > 0 THEN
               list_sum(list_transform(e, x ->
                 (x - FLOOR(x / scale + 0.5) * scale) * (x - FLOOR(x / scale + 0.5) * scale)))
             ELSE 0.0 END AS sse,
             len(e) AS dim
      FROM scaled
    )
    SELECT vec_id,
           FLOOR(scale * 1000000 + 0.5) / 1000000 AS scale,
           FLOOR(sqrt(sse / dim) * 100000000 + 0.5) / 100000000 AS rmse
    FROM err
    """,
    doc="Int8 symmetric quantization report (the embedding-storage path for "
    "billion-vector ANN): per-vector scale = max|x|/127, quantize via the "
    "engine-portable floor(x/s + 0.5) round-half-up, reconstruction RMSE "
    "per vector.  Pure higher-order array ops, no shuffle at all — the "
    "at-scale form maps each parquet row-group once and writes the int8 "
    "column alongside.",
)
def quantize_q(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(e, F.abs)) / 127.0
    # the raw scale column must NOT share a name with the rounded output:
    # Spark's lateral column alias resolution would bind the lambda's
    # F.col("scale") to the ROUNDED alias in the same select (measured: rmse
    # then quantizes against the rounded scale and diverges from the oracle)
    df = emb.select("vec_id", e.alias("e"), scale.alias("s_raw"))
    deq_err = lambda x: (x - F.floor(x / F.col("s_raw") + 0.5) * F.col("s_raw"))  # noqa: E731
    sse = F.when(
        F.col("s_raw") > 0,
        F.aggregate(
            F.transform(F.col("e"), lambda x: deq_err(x) * deq_err(x)),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    ).otherwise(F.lit(0.0))
    return df.select(
        "vec_id",
        (F.floor(F.col("s_raw") * 1e6 + 0.5) / 1e6).alias("scale"),
        (F.floor(F.sqrt(sse / F.size(F.col("e"))) * 1e8 + 0.5) / 1e8).alias("rmse"),
    )


@register(
    "emb_semdedup_report",
    oracle=f"""
    WITH t AS (
      SELECT a.vec_id AS id, a.cluster_id, e.embedding AS v
      FROM ({_km_oracle()}) a JOIN embeddings e ON a.vec_id = e.vec_id
    ),
    p AS (
      SELECT b.id AS id, MIN(a.id) AS dup_of
      FROM t a JOIN t b ON a.cluster_id = b.cluster_id AND a.id < b.id
      WHERE ROUND({cosine_sql('a.v', 'b.v')}, 6) >= {_DUP_T}
      GROUP BY b.id
    )
    SELECT t.id AS vec_id, t.cluster_id, p.dup_of, p.dup_of IS NULL AS is_kept
    FROM t LEFT JOIN p ON t.id = p.id
    """,
    doc="SemDeDup (Abbas et al. 2023): k-means clusters bound the candidate "
    "set, exact cosine runs only within clusters, keep-lowest-id survivor "
    "rule — the semantic member of the dedup family (MinHash=lexical, "
    "SimHash=token-weighted, this=embedding-space).  One row per vector "
    "with its cluster, its dup_of (smallest same-cluster near-duplicate), "
    "and is_kept.  The oracle replays the full pipeline: the unrolled-Lloyd "
    "kmeans CTE feeds the same within-cluster pair predicate.",
)
def semdedup_report_q(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.semdedup(
        emb, id_col="vec_id", vec_col="embedding",
        k=_KM_K, iters=_KM_ITERS, threshold=_DUP_T,
    )


_PQ_M = 8          # subspaces (dim 64 -> 8-dim subvectors)
_PQ_SUB = _KM_DIM // _PQ_M
_PQ_CODES = 16     # codewords per subspace codebook
_PQ_ITERS = 2
_PQ_NQ = 4         # query vectors: vec_id < 4
_PQ_CAND = 50
_PQ_K = 10


def _pq_oracle() -> str:
    """SQL replay of operators/similarity.pq_topk: per-subspace unrolled
    Lloyd codebooks (same discipline as ``_km_oracle``), argmin encoding,
    per-query ADC tables, a left-to-right list_sum fold for the approximate
    distance (bit-matching Spark's ``F.aggregate``), candidate top-C on the
    rounded ADC, exact-cosine refine, top-K."""
    d2 = "list_sum(list_transform(list_zip({a}, {b}), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    parts = [
        """
    WITH pts AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    )"""
    ]
    for mi in range(_PQ_M):
        lo, hi = mi * _PQ_SUB + 1, (mi + 1) * _PQ_SUB
        parts.append(f""",
    pm{mi} AS (SELECT vec_id, e[{lo}:{hi}] AS es FROM pts),
    b{mi}c0 AS (SELECT vec_id AS cid, es AS c FROM pm{mi} WHERE vec_id < {_PQ_CODES})""")
        prev = f"b{mi}c0"
        for it in range(_PQ_ITERS):
            dd = d2.format(a=f"pm{mi}.es", b=f"{prev}.c")
            parts.append(f""",
    b{mi}a{it} AS (
      SELECT vec_id, cid FROM (
        SELECT pm{mi}.vec_id, {prev}.cid,
               ROW_NUMBER() OVER (PARTITION BY pm{mi}.vec_id
                                  ORDER BY {dd}, {prev}.cid) AS rn
        FROM pm{mi} CROSS JOIN {prev}
      ) WHERE rn = 1
    ),
    b{mi}u{it} AS (
      SELECT b{mi}a{it}.cid, t.i AS pos,
             CAST(SUM(CAST(pm{mi}.es[t.i] AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS comp
      FROM b{mi}a{it} JOIN pm{mi} USING (vec_id)
      CROSS JOIN generate_series(1, {_PQ_SUB}) AS t(i)
      GROUP BY 1, 2
    ),
    b{mi}c{it + 1} AS (
      -- retain the previous centroid when a cid loses all members (Spark twin
      -- keeps the book dense 0..k-1 so positional ADC lookups stay aligned)
      SELECT p.cid, COALESCE(u.c, p.c) AS c
      FROM {prev} p LEFT JOIN (
        SELECT cid, list(comp ORDER BY pos) AS c FROM b{mi}u{it} GROUP BY cid
      ) u ON p.cid = u.cid
    )""")
            prev = f"b{mi}c{it + 1}"
    book_union = "\n      UNION ALL ".join(
        f"SELECT {mi} AS m, cid, c FROM b{mi}c{_PQ_ITERS}" for mi in range(_PQ_M)
    )
    subs_union = "\n      UNION ALL ".join(
        f"SELECT vec_id, {mi} AS m, e[{mi * _PQ_SUB + 1}:{(mi + 1) * _PQ_SUB}] AS es FROM pts"
        for mi in range(_PQ_M)
    )
    qsubs_union = "\n      UNION ALL ".join(
        f"SELECT query_id, {mi} AS m, qe[{mi * _PQ_SUB + 1}:{(mi + 1) * _PQ_SUB}] AS qs FROM q"
        for mi in range(_PQ_M)
    )
    d2_enc = d2.format(a="s.es", b="b.c")
    d2_q = d2.format(a="qs.qs", b="b.c")
    cos = cosine_sql("qv.qe", "p.e")
    parts.append(f""",
    book AS ({book_union}),
    subs AS ({subs_union}),
    codes AS (
      SELECT vec_id, m, cid AS code FROM (
        SELECT s.vec_id, s.m, b.cid,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {d2_enc}, b.cid) AS rn
        FROM subs s JOIN book b ON s.m = b.m
      ) WHERE rn = 1
    ),
    codes_arr AS (SELECT vec_id, list(code ORDER BY m) AS codes FROM codes GROUP BY vec_id),
    q AS (SELECT vec_id AS query_id, e AS qe FROM pts WHERE vec_id < {_PQ_NQ}),
    qsubs AS ({qsubs_union}),
    dt AS (
      SELECT qs.query_id, qs.m, b.cid, {d2_q} AS d2
      FROM qsubs qs JOIN book b ON qs.m = b.m
    ),
    qrow AS (SELECT query_id, m, list(d2 ORDER BY cid) AS r FROM dt GROUP BY query_id, m),
    qtab AS (SELECT query_id, list(r ORDER BY m) AS qt FROM qrow GROUP BY query_id),
    adc AS (
      SELECT qtab.query_id, ca.vec_id,
             list_sum(list_transform(list_zip(ca.codes, qtab.qt),
                                     p -> p[2][p[1] + 1])) AS adc_d2
      FROM codes_arr ca CROSS JOIN qtab
    ),
    cand AS (
      SELECT query_id, vec_id, adc_d2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY ROUND(adc_d2, 6), vec_id) AS rn
        FROM adc
      ) WHERE rn <= {_PQ_CAND}
    )
    SELECT query_id, neighbor_id, adc_d2, cosine, rank FROM (
      SELECT c.query_id, c.vec_id AS neighbor_id, ROUND(c.adc_d2, 6) AS adc_d2,
             ROUND({cos}, 6) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY c.query_id
                                ORDER BY ROUND({cos}, 6) DESC, c.vec_id) AS rank
      FROM cand c
      JOIN pts p ON c.vec_id = p.vec_id
      JOIN q qv ON c.query_id = qv.query_id
    ) WHERE rank <= {_PQ_K}
    """)
    return "".join(parts)


@register(
    "emb_pq_topk",
    oracle=_pq_oracle(),
    doc=f"Product-quantization ANN (Jégou et al. 2011, the PQ/ADC half of "
    f"IVF-PQ): {_PQ_M} subspaces x {_PQ_CODES}-codeword deterministic-Lloyd "
    "codebooks, 8-byte codes (32x vector-memory compression), per-query "
    "asymmetric-distance tables with a left-to-right lookup fold (no "
    "groupBy-SUM float-order ambiguity), ADC top-candidates refined by "
    "exact cosine.  Completes the ANN family: brute-force (exact), IVF "
    "(partition pruning), LSH (hash pruning), PQ (memory compression).  The "
    "oracle replays the entire pipeline — all 8 unrolled subspace "
    "codebooks, encoding argmins, ADC folds, and the refine ranking.",
)
def pq_topk_q(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < _PQ_NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.pq_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", query_id="query_id",
        dim=_KM_DIM, m=_PQ_M, k_codes=_PQ_CODES, iters=_PQ_ITERS,
        n_candidates=_PQ_CAND, k=_PQ_K,
    )


from us_equity_datalake_spark.functions.vector import sign_bits_sql  # noqa: E402

_BQ_CAND = 64


@register(
    "emb_binary_quant_topk",
    oracle=f"""
    WITH c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv,
             {sign_bits_sql('embedding', 0)} AS c_w0,
             {sign_bits_sql('embedding', 32)} AS c_w1
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv,
             {sign_bits_sql('embedding', 0)} AS q_w0,
             {sign_bits_sql('embedding', 32)} AS q_w1
      FROM embeddings WHERE vec_id < 20
    ),
    ham AS (
      SELECT q.query_id, c.neighbor_id, q.qv, c.cv,
             bit_count(xor(c.c_w0, q.q_w0)) + bit_count(xor(c.c_w1, q.q_w1)) AS hamming
      FROM c JOIN q ON c.neighbor_id <> q.query_id
    ),
    cand AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC) AS crank
      FROM ham
    ),
    scored AS (
      SELECT query_id, neighbor_id, hamming, {cosine_sql('qv', 'cv')} AS cos
      FROM cand WHERE crank <= {_BQ_CAND}
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine,
           CAST(hamming AS BIGINT) AS hamming, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {_K}
    """,
    doc="1-bit (sign) binary-quantization ANN: signs packed into two BIGINT "
    "words per vector (16 bytes vs 256 float32 — the memory representation "
    "billion-vector search actually ships), Hamming pre-rank via "
    "xor+popcount (integer-exact, codegen'd, no floats until the rescore), "
    "exact cosine rescore of the 64 survivors.  Select-then-verify like "
    "the PQ/LSH paths; recall measured against the exact top-k in pytest.  "
    "The query set is FIXED (vec_id < 20) so the graded plan is linear in "
    "the corpus: one packed-word scan per query batch.",
)
def binary_quant_topk_q(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.binary_sign_topk(
        emb, queries, id_col="vec_id", vec_col="embedding",
        query_id="query_id", k=_K, n_candidates=_BQ_CAND,
    )
    return out
