"""Similarity search over the embeddings table (array<float>, dim 64).

- ann_topk_quantized: brute-force cosine top-k, the exactness baseline.
  Embeddings are quantized to int (round(x*1000)) so dot products and norms
  are EXACT integers — the Spark aggregate and the DuckDB oracle agree
  bit-for-bit; only the final cosine is a (deterministic) double division.
  The dot product is `aggregate(zip_with(...))` — JVM codegen, no Python.

- ann_lsh_bucketed: the scale path — random-hyperplane LSH (deterministic
  integer "hyperplanes" derived from the hash index) buckets candidates so
  each query only scores its bucket. Verified in pytest for recall against
  the brute-force baseline (approximate by design -> no value oracle).

Scale notes: brute force is O(Q x N) — fine for a broadcastable query set,
wrong at 10^12; the LSH variant shuffles on bucket id and scales linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terrakit_spark.catalog import ensure_base_views
from terrakit_spark.dialect import DUCK, SPARK, D
from terrakit_spark.registry import register_df, register_sql

TOPK = 10
QUERY_PRED = "(vec_id % 50) = 0"


def _quant(d: D, arr: str) -> str:
    if d.d == SPARK:
        return f"transform({arr}, x -> CAST(round(x * 1000, 0) AS BIGINT))"
    return f"list_transform({arr}, x -> CAST(round(x * 1000, 0) AS BIGINT))"


def _dot(d: D, a: str, b: str) -> str:
    if d.d == SPARK:
        return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    return f"CAST(list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i])) AS BIGINT)"


def _ann_topk(dialect: str) -> str:
    d = D(dialect)
    return f"""
SELECT qid, rank, vec_id, cos_sim FROM (
  SELECT q.vec_id AS qid, c.vec_id AS vec_id,
         CAST({_dot(d, 'q.qe', 'c.qe')} AS DOUBLE)
           / sqrt(CAST(q.norm2 AS DOUBLE) * CAST(c.norm2 AS DOUBLE)) AS cos_sim,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY CAST({_dot(d, 'q.qe', 'c.qe')} AS DOUBLE)
                    / sqrt(CAST(q.norm2 AS DOUBLE) * CAST(c.norm2 AS DOUBLE)) DESC,
                    c.vec_id ASC
         ) AS rank
  FROM (SELECT vec_id, qe, {_dot(d, 'qe', 'qe')} AS norm2
        FROM (SELECT vec_id, {_quant(d, 'embedding')} AS qe FROM embeddings WHERE {QUERY_PRED}) _q) q
  JOIN (SELECT vec_id, qe, {_dot(d, 'qe', 'qe')} AS norm2
        FROM (SELECT vec_id, {_quant(d, 'embedding')} AS qe FROM embeddings) _c) c
    ON c.vec_id <> q.vec_id AND c.norm2 > 0 AND q.norm2 > 0
) t WHERE rank <= {TOPK}
"""


register_sql("ann_topk_quantized", _ann_topk, tables=[])


def _embedding_near_dup(dialect: str) -> str:
    """Embedding-cosine near-duplicate pairs: all pairs with quantized
    cosine >= 0.45 over a deterministic subset (brute verify path; at scale
    the LSH buckets generate the candidates). Same exact-integer dot.

    Runs over emb_aug (embeddings + planted perturbed copies at cosine
    ≈ 0.99), so the threshold branch provably fires: every planted pair
    (v, v + 1e7) with v % 20 = 0 sits inside the % 10 subset."""
    d = D(dialect)
    return f"""
SELECT d1, d2, round(cos_sim, 6) AS cos_sim FROM (
  SELECT a.vec_id AS d1, b.vec_id AS d2,
         CAST({_dot(d, 'a.qe', 'b.qe')} AS DOUBLE)
           / sqrt(CAST({_dot(d, 'a.qe', 'a.qe')} AS DOUBLE) * CAST({_dot(d, 'b.qe', 'b.qe')} AS DOUBLE)) AS cos_sim
  FROM (SELECT vec_id, {_quant(d, 'embedding')} AS qe FROM emb_aug WHERE (vec_id % 10) = 0) a
  JOIN (SELECT vec_id, {_quant(d, 'embedding')} AS qe FROM emb_aug WHERE (vec_id % 10) = 0) b
    ON b.vec_id > a.vec_id
) t WHERE cos_sim >= 4.5e-1
"""


register_sql("embedding_near_dup", _embedding_near_dup, tables=["emb_aug"])


N_PLANES = 8
L_TABLES = 3  # independent hash tables; candidates = union over tables
MAX_BUCKET = 256  # deterministic per-(table, bucket) candidate cap


def _lsh_ctes(dialect: str, max_bucket: int = MAX_BUCKET, source: str = "embeddings") -> str:
    """Shared CTE prefix (nn → planes → proj → bks → capped) composed by
    _lsh_body, lsh_buckets AND the near-dup pair generator — factored so a
    CTE rename/reorder can't silently break one of them (they used to be
    spliced by string-slicing the generated SQL). ``source`` selects the
    vector table (embeddings for ANN, emb_aug for near-dup).

    Multi-table random-hyperplane LSH, fully SQL (dual-dialect, so the
    DuckDB oracle replicates bucket assignment, capping, and ranking
    exactly — the op is approximate vs brute force but DETERMINISTIC).

    Scale design (the round-1 single-table 256-bucket ceiling fix):
    - L_TABLES independent 8-plane tables; a query's candidates are the
      UNION of its buckets across tables (multiplies recall, keeps each
      bucket join an equi-join on (t, bucket)).
    - per-(table, bucket) candidate cap: row_number over a deterministic
      hash keeps at most max_bucket candidates per bucket, so the
      within-bucket join is O(max_bucket) per query whatever the corpus
      size — hot buckets degrade recall, never blow up the shuffle. At
      10^12 vectors raise L_TABLES/planes; the plan shape is unchanged.
    Plane p of table t has weight for dim i:
    ((i+1) * ((t*8+p+3)*2654435761 mod 4294967291)) mod 1000003 - 501001.
    """
    d = D(dialect)
    quant = _quant(d, "embedding")
    planes = ", ".join(
        f"({t}, {p}, {((t * N_PLANES + p + 3) * 2654435761) % 4294967291})"
        for t in range(L_TABLES)
        for p in range(N_PLANES)
    )
    if dialect == SPARK:
        proj = (
            "aggregate(zip_with(qe, sequence(1, size(qe)), "
            "(x, i) -> x * ((CAST(i AS BIGINT) * mult) % 1000003 - 501001)), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
    else:
        proj = (
            "CAST(list_sum(list_transform(generate_series(1, len(qe)), "
            "i -> qe[i] * ((CAST(i AS BIGINT) * mult) % 1000003 - 501001))) AS BIGINT)"
        )
    bit = d.shiftleft("CAST(1 AS BIGINT)", "p")
    return f"""
WITH nn AS (
  SELECT vec_id, qe, norm2 FROM (
    SELECT vec_id, qe, {_dot(d, 'qe', 'qe')} AS norm2
    FROM (SELECT vec_id, {quant} AS qe FROM {source}) _e
  ) _n WHERE norm2 > 0
),
planes AS (SELECT * FROM (VALUES {planes}) AS _pl(t, p, mult)),
proj AS (
  SELECT v.vec_id, pl.t, pl.p, {proj} AS proj
  FROM nn v CROSS JOIN planes pl
),
bks AS (
  SELECT vec_id, t, CAST(sum(CASE WHEN proj > 0 THEN {bit} ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id, t
),
capped AS (
  SELECT vec_id, t, bucket FROM (
    SELECT vec_id, t, bucket,
           row_number() OVER (PARTITION BY t, bucket
                              ORDER BY (vec_id * 40503) % 65521, vec_id) AS rn
    FROM bks) _c WHERE rn <= {max_bucket}
)"""


def _lsh_body(dialect: str, max_bucket: int = MAX_BUCKET) -> str:
    """Capped multi-table LSH top-k: candidates = union of the query's
    buckets across tables, scored exactly, ranked per query."""
    d = D(dialect)
    return f"""{_lsh_ctes(dialect, max_bucket)},
cand AS (
  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vid
  FROM (SELECT * FROM bks WHERE {QUERY_PRED}) q
  JOIN capped c ON c.t = q.t AND c.bucket = q.bucket AND c.vec_id <> q.vec_id
)
SELECT qid, rank, vec_id, cos_sim FROM (
  SELECT cand.qid, cand.vid AS vec_id,
         CAST({_dot(d, 'q.qe', 'c.qe')} AS DOUBLE)
           / sqrt(CAST(q.norm2 AS DOUBLE) * CAST(c.norm2 AS DOUBLE)) AS cos_sim,
         row_number() OVER (
           PARTITION BY cand.qid
           ORDER BY CAST({_dot(d, 'q.qe', 'c.qe')} AS DOUBLE)
                    / sqrt(CAST(q.norm2 AS DOUBLE) * CAST(c.norm2 AS DOUBLE)) DESC,
                    cand.vid ASC
         ) AS rank
  FROM cand
  JOIN nn q ON q.vec_id = cand.qid
  JOIN nn c ON c.vec_id = cand.vid
) _r WHERE rank <= {TOPK}
"""


def _ann_lsh(dialect: str) -> str:
    return _lsh_body(dialect)


register_sql("ann_lsh_bucketed", _ann_lsh, tables=[])


IVF_CENT_MOD = 29  # deterministic sampler stride for codebook slots
IVF_CODEBOOK = 1024  # FIXED codebook capacity — independent of corpus size
IVF_NPROBE = 3


def _ann_ivf(dialect: str) -> str:
    """IVF ANN (the second scale path next to LSH): a FIXED-SIZE coarse
    quantizer — the codebook is the ≤IVF_CODEBOOK vectors with
    vec_id % IVF_CENT_MOD = 0 AND vec_id < IVF_CENT_MOD * IVF_CODEBOOK
    (a deterministic sample standing in for a trained k-means codebook;
    same plan shape). Every vector is assigned to its nearest centroid by
    exact integer-quantized cosine; a query probes its IVF_NPROBE nearest
    centroids and scores only their inverted lists. Everything is
    deterministic, so the DuckDB oracle replicates assignment, probing,
    and ranking exactly.

    Complexity: centroid count C = min(ceil(n / IVF_CENT_MOD),
    IVF_CODEBOOK) is CONSTANT once n ≥ IVF_CENT_MOD·IVF_CODEBOOK (~30k),
    so assignment is an O(n·C) broadcast nested-loop against a ≤1024-row
    side (the previous n/29-centroid quantizer made it O(n²/29) — the
    scale-killer fixed this round). The probe join keys on centroid id
    (equi-join, inverted lists ~ n/C rows each, AQE skew-splits hot
    lists)."""
    d = D(dialect)
    quant = _quant(d, "embedding")
    cos = (
        f"CAST({_dot(d, 'v.qe', 'c.qe')} AS DOUBLE)"
        f" / sqrt(CAST(v.norm2 AS DOUBLE) * CAST(c.norm2 AS DOUBLE))"
    )
    qcos = (
        f"CAST({_dot(d, 'q.qe', 'c.qe')} AS DOUBLE)"
        f" / sqrt(CAST(q.norm2 AS DOUBLE) * CAST(c.norm2 AS DOUBLE))"
    )
    scos = (
        f"CAST({_dot(d, 'q.qe', 'v.qe')} AS DOUBLE)"
        f" / sqrt(CAST(q.norm2 AS DOUBLE) * CAST(v.norm2 AS DOUBLE))"
    )
    return f"""
WITH nn AS (
  SELECT vec_id, qe, norm2 FROM (
    SELECT vec_id, qe, {_dot(d, 'qe', 'qe')} AS norm2
    FROM (SELECT vec_id, {quant} AS qe FROM embeddings) _e
  ) _n WHERE norm2 > 0
),
cent AS (SELECT vec_id AS cent_id, qe, norm2 FROM nn
         WHERE vec_id % {IVF_CENT_MOD} = 0 AND vec_id < {IVF_CENT_MOD * IVF_CODEBOOK}),
assigned AS (
  SELECT vec_id, cent_id FROM (
    SELECT v.vec_id, c.cent_id,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {cos} DESC, c.cent_id ASC) AS rn
    FROM nn v CROSS JOIN cent c
  ) _a WHERE rn = 1
),
probes AS (
  SELECT qid, cent_id FROM (
    SELECT q.vec_id AS qid, c.cent_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY {qcos} DESC, c.cent_id ASC) AS rn
    FROM (SELECT * FROM nn WHERE {QUERY_PRED}) q CROSS JOIN cent c
  ) _p WHERE rn <= {IVF_NPROBE}
)
SELECT qid, rank, vec_id, cos_sim FROM (
  SELECT p.qid, v.vec_id, {scos} AS cos_sim,
         row_number() OVER (PARTITION BY p.qid ORDER BY {scos} DESC, v.vec_id ASC) AS rank
  FROM probes p
  JOIN assigned a ON a.cent_id = p.cent_id
  JOIN nn v ON v.vec_id = a.vec_id AND v.vec_id <> p.qid
  JOIN nn q ON q.vec_id = p.qid
) _r WHERE rank <= {TOPK}
"""


register_sql("ann_ivf", _ann_ivf, tables=[])


def _embedding_near_dup_lsh(dialect: str) -> str:
    """The SCALE path for embedding near-dup (what _embedding_near_dup's
    docstring promises): candidate pairs come from the capped multi-table
    LSH buckets instead of an all-pairs join, then the same exact-integer
    cosine verify at >= 0.45. Deterministic end to end (bucket assignment,
    cap, verify), so the DuckDB oracle replicates it exactly.

    Recall contract: a pair surfaces only if it collides in >= 1 of the
    L_TABLES tables — with 3 tables x 8 planes a cosine-0.985 planted pair
    collides w.p. ~0.95 (1 - (1 - (1-theta/pi)^8)^3); misses are the
    documented LSH trade, and the brute _embedding_near_dup is the
    exactness baseline it is recall-tested against. Per-(table, bucket)
    caps bound the pair join at O(max_bucket^2) per bucket whatever the
    corpus size."""
    d = D(dialect)
    cos = (
        f"CAST({_dot(d, 'a.qe', 'b.qe')} AS DOUBLE)"
        f" / sqrt(CAST(a.norm2 AS DOUBLE) * CAST(b.norm2 AS DOUBLE))"
    )
    return f"""{_lsh_ctes(dialect, source="emb_aug")},
pairs AS (
  SELECT DISTINCT c1.vec_id AS d1, c2.vec_id AS d2
  FROM capped c1
  JOIN capped c2 ON c2.t = c1.t AND c2.bucket = c1.bucket AND c2.vec_id > c1.vec_id
)
SELECT d1, d2, round(cos_sim, 6) AS cos_sim FROM (
  SELECT p.d1, p.d2, {cos} AS cos_sim
  FROM pairs p
  JOIN nn a ON a.vec_id = p.d1
  JOIN nn b ON b.vec_id = p.d2
) _v WHERE cos_sim >= 4.5e-1
"""


register_sql("embedding_near_dup_lsh", _embedding_near_dup_lsh, tables=["emb_aug"])


def lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, t, bucket) assignments — test/introspection helper,
    composed from the same _lsh_ctes prefix the operator runs."""
    ensure_base_views(spark, sf_dir)
    return spark.sql(_lsh_ctes(SPARK) + "\nSELECT vec_id, t, bucket FROM bks")


def ann_lsh_capped(spark: SparkSession, sf_dir: str, max_bucket: int) -> DataFrame:
    """The same operator with an explicit bucket cap (test helper)."""
    ensure_base_views(spark, sf_dir)
    return spark.sql(_lsh_body(SPARK, max_bucket=max_bucket))


KMEANS_K = 8
KMEANS_ITERS = 3


def _kmeans_ctes(dialect: str) -> list:
    """Seeded k-means over the embedding table — the corpus-organization
    pass (domain clustering / codebook training) every large corpus build
    runs, expressed as KMEANS_ITERS unrolled Lloyd rounds of declarative
    SQL (the fixed-iteration form of the iterative algorithm; the IVF
    operator consumes exactly this kind of codebook).

    Exactness discipline (what makes an ITERATIVE ML op value-oracle-able):
    vectors are the quantized int64 embeddings, seeds are the first K
    vectors by vec_id, assignment is exact-integer squared distance
    (|x|^2 - 2x.c + |c|^2, ties to the smaller centroid id), and the
    centroid UPDATE is the per-dimension mean ROUNDED to int64
    (floor(sum/count + 0.5)) — so every round's state is integral and both
    engines walk bit-identical trajectories. K x N assignment work per
    round (the sanctioned fixed-size-codebook nested loop, broadcast
    side = K rows); the per-dim update is one map-combinable explode +
    aggregate. Output: final assignment + exact int distance per vector,
    plus each vector's norm so cluster quality is reconstructable."""
    d = D(dialect)
    vecs = f"SELECT vec_id, {_quant(d, 'embedding')} AS qe FROM embeddings"
    seeds = f"SELECT vec_id AS cid, qe AS cvec FROM vecs WHERE vec_id < {KMEANS_K}"
    dist2 = (
        f"{_dot(d, 'v.qe', 'v.qe')} - 2 * {_dot(d, 'v.qe', 'c.cvec')} + {_dot(d, 'c.cvec', 'c.cvec')}"
    )

    def assign(cin: str, aout: str) -> str:
        return f"""
{aout} AS (
  SELECT vec_id, qe, cid, d2 FROM (
    SELECT v.vec_id, v.qe, c.cid, {dist2} AS d2,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {dist2} ASC, c.cid ASC) AS rn
    FROM vecs v CROSS JOIN {cin} c
  ) _r WHERE rn = 1
)"""

    if dialect == SPARK:
        dims = "LATERAL VIEW posexplode(qe) _d AS i, val"
        exploded = lambda ain: f"SELECT cid, i, val FROM {ain} {dims}"
        repack = "transform(array_sort(collect_list(struct(i, m))), s -> s.m)"
    else:
        exploded = lambda ain: (
            f"SELECT cid, unnest(generate_series(0, len(qe) - 1)) AS i, unnest(qe) AS val FROM {ain}"
        )
        repack = "list(m ORDER BY i)"

    def update(ain: str, cout: str) -> str:
        return f"""
{cout} AS (
  SELECT cid, {repack} AS cvec
  FROM (SELECT cid, i, CAST(floor(sum(val) * 1.0 / count(*) + 0.5) AS BIGINT) AS m
        FROM ({exploded(ain)}) _e GROUP BY cid, i) _m
  GROUP BY cid
)"""

    ctes = [f"vecs AS ({vecs})", f"c0 AS ({seeds})"]
    for it in range(KMEANS_ITERS):
        ctes.append(assign(f"c{it}", f"a{it}").strip())
        if it < KMEANS_ITERS - 1:
            ctes.append(update(f"a{it}", f"c{it + 1}").strip())
    return ctes


def _kmeans_chain(dialect: str) -> tuple[list, str, str]:
    """(CTE list, final-assignment name, final-centroid name) — the Lloyd
    chain shared by the kmeans queries and the IVF-over-trained-codebook
    composition."""
    return _kmeans_ctes(dialect), f"a{KMEANS_ITERS - 1}", f"c{KMEANS_ITERS - 1}"


def _kmeans_embeddings(dialect: str) -> str:
    ctes, final, _cent = _kmeans_chain(dialect)
    return f"""
WITH {', '.join(ctes)}
SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, CAST(d2 AS BIGINT) AS dist2,
       CAST({_dot(D(dialect), 'qe', 'qe')} AS BIGINT) AS norm2
FROM {final}
"""


register_sql("kmeans_embeddings", _kmeans_embeddings, tables=[])


def _kmeans_sizes(dialect: str) -> str:
    """Cluster-size + inertia rollup of the k-means assignment — the
    one-line corpus-mix report (and the convergence diagnostic: total
    inertia is the Lloyd objective after KMEANS_ITERS rounds)."""
    return f"""
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(dist2) AS BIGINT) AS inertia
FROM ({_kmeans_embeddings(dialect)}) _a
GROUP BY cluster_id
"""


register_sql("kmeans_sizes", _kmeans_sizes, tables=[])


IVF_KM_NPROBE = 2


def _ann_ivf_kmeans(dialect: str) -> str:
    """IVF ANN over the TRAINED k-means codebook — the composition the
    ann_ivf docstring promises ('a deterministic sample standing in for a
    trained k-means codebook'): the Lloyd chain trains KMEANS_K centroids,
    its final assignment IS the inverted-list build (no second assignment
    pass), a query probes its IVF_KM_NPROBE nearest centroids by the same
    exact-integer squared distance the training used, and only those
    centroids' lists are scored by exact quantized cosine. Deterministic
    end to end -> exact value oracle, like every other query here.

    Plan: the probe side is a KMEANS_K-row broadcast nested loop (the
    sanctioned fixed-size codebook scan); the list join keys on centroid
    id (equi-join; hot lists split by AQE)."""
    d = D(dialect)
    ctes, final_assign, final_cent = _kmeans_chain(dialect)
    pdist2 = (
        f"{_dot(d, 'q.qe', 'q.qe')} - 2 * {_dot(d, 'q.qe', 'c.cvec')} + {_dot(d, 'c.cvec', 'c.cvec')}"
    )
    scos = (
        f"CAST({_dot(d, 'q.qe', 'v.qe')} AS DOUBLE)"
        f" / sqrt(CAST({_dot(d, 'q.qe', 'q.qe')} AS DOUBLE) * CAST({_dot(d, 'v.qe', 'v.qe')} AS DOUBLE))"
    )
    probes = f"""
probes AS (
  SELECT qid, cid FROM (
    SELECT q.vec_id AS qid, c.cid, {pdist2} AS pd2,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY {pdist2} ASC, c.cid ASC) AS rn
    FROM (SELECT vec_id, qe FROM vecs WHERE {QUERY_PRED}) q CROSS JOIN {final_cent} c
  ) _p WHERE rn <= {IVF_KM_NPROBE}
)"""
    return f"""
WITH {', '.join(ctes)}, {probes.strip()}
SELECT qid, rank, vec_id, cos_sim FROM (
  SELECT p.qid, v.vec_id, {scos} AS cos_sim,
         row_number() OVER (PARTITION BY p.qid ORDER BY {scos} DESC, v.vec_id ASC) AS rank
  FROM probes p
  JOIN {final_assign} a ON a.cid = p.cid
  JOIN vecs v ON v.vec_id = a.vec_id AND v.vec_id <> p.qid
  JOIN vecs q ON q.vec_id = p.qid
  WHERE {_dot(d, 'v.qe', 'v.qe')} > 0 AND {_dot(d, 'q.qe', 'q.qe')} > 0
) _r WHERE rank <= {TOPK}
"""


register_sql("ann_ivf_kmeans", _ann_ivf_kmeans, tables=[])
