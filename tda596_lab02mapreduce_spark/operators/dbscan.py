"""Grid-blocked distributed DBSCAN over the embedding 2-D projection —
the DENSITY member of the clustering family (k-means = centroidal,
LPA = graph community, connected components = transitive closure).

Distributed DBSCAN's whole difficulty is candidate generation: the
naive eps-neighborhood is an O(n²) self-join.  The standard scalable
scheme (MR-DBSCAN / the cell-based partitioning in the parallel-DBSCAN
literature) blocks points into a grid of cell size exactly eps: any
two points within eps in the plane necessarily land in the same or
adjacent cells, so candidates = each point joined to its 3×3 cell
neighborhood — an EQUI-join on cell keys (each point explodes into 9
neighbor keys on one side only; 9 rows per point, never 9× the pairs).
Everything downstream is keyed aggregates:

- exact BIGINT squared distances on the quantized coordinates
  (xq = floor(x * 2^20), the kmeans/PCA quantization family) — the
  eps test is an integer comparison, no float compare anywhere;
- neighbor counts (including self — the DBSCAN |N_eps(p)| convention)
  → core iff count >= minPts;
- clusters = connected components over core-core eps-edges
  (operators/components.py, Kiveris star — O(log n) rounds, safe for
  snake-shaped density clusters);
- border points take the MINIMUM cluster label among their core
  neighbors — the deterministic convention parallel DBSCAN uses where
  sequential DBSCAN is order-dependent;
- everything else is noise (cluster_id = -1).

At 100 TB: the grid join shuffles cell keys, not pairs; a pathological
dense cell (C points → C² candidates) is the documented adversary —
the mitigation is the same as any skewed equi-join (salt the hot cell
/ AQE skew split), and the minPts gate keeps the downstream component
graph sparse.  Geometric degeneracy note: the synthetic fixture is a
single isotropic blob, so the clusters found are genuine local density
fluctuations (22/16/5 clusters with 100+ noise points at
sf0.001/0.01/0.1) — as with logistic_gd_priority, the gate checks the
ALGORITHM's algebra, not the fixture's geometry.

Reference parity: the reference engine (mr/ MapReduce) has no
clustering; extends SURVEY.md §2C's clustering band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark.operators.components import connected_components

Q_SCALE = 1 << 20
EPS_Q = 20971  # floor(0.02 * 2^20) — frozen; eps = 0.02 in vector units
MINPTS = 5


def _points(emb: DataFrame) -> DataFrame:
    return emb.select(
        F.col("vec_id").alias("pid"),
        F.floor(F.col("embedding").getItem(0).cast("double") * Q_SCALE)
        .cast("long")
        .alias("xq"),
        F.floor(F.col("embedding").getItem(1).cast("double") * Q_SCALE)
        .cast("long")
        .alias("yq"),
    )


def _with_cell(pts: DataFrame) -> DataFrame:
    # |xq| <= 2^20 — exact in double, so floor(x/eps) is the true
    # floor division in both engines (negatives included)
    return pts.withColumn(
        "cx", F.floor(F.col("xq") / F.lit(EPS_Q)).cast("long")
    ).withColumn("cy", F.floor(F.col("yq") / F.lit(EPS_Q)).cast("long"))


def eps_neighbor_pairs(pts: DataFrame) -> DataFrame:
    """All directed pairs (a, b) with dist(a, b) <= eps, including
    a = b — via the 3×3 grid equi-join, never a full cross join."""
    cells = _with_cell(pts)
    b = cells.select(
        F.col("pid").alias("b_id"),
        F.col("xq").alias("bx"),
        F.col("yq").alias("by"),
        "cx",
        "cy",
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    a = (
        cells.select("pid", "xq", "yq", "cx", "cy", F.explode(offsets).alias("o"))
        .select(
            F.col("pid").alias("a_id"),
            F.col("xq").alias("ax"),
            F.col("yq").alias("ay"),
            (F.col("cx") + F.col("o.dx")).alias("jx"),
            (F.col("cy") + F.col("o.dy")).alias("jy"),
        )
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        a.join(b, (F.col("jx") == F.col("cx")) & (F.col("jy") == F.col("cy")))
        .filter(d2 <= F.lit(EPS_Q * EPS_Q))
        .select("a_id", "b_id")
    )


def dbscan_roles(emb: DataFrame) -> DataFrame:
    """Full DBSCAN labelling: one row per point with
    (pid, role in {core, border, noise}, cluster_id; noise = -1).
    Cluster id = the minimum core-point id of the density-connected
    component (total order — deterministic in both engines)."""
    pts = _points(emb)
    pairs = eps_neighbor_pairs(pts).localCheckpoint(eager=False)
    core = (
        pairs.groupBy("a_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= MINPTS)
        .select(F.col("a_id").alias("id"))
    )
    core_pairs = (
        pairs.join(core.withColumnRenamed("id", "a_id"), "a_id")
        .join(core.withColumnRenamed("id", "b_id"), "b_id")
        .filter(F.col("a_id") < F.col("b_id"))
    )
    comp = connected_components(
        core_pairs, "a_id", "b_id", id_out="id", comp_out="cluster", algorithm="star"
    )
    # isolated cores (>= minPts neighbors but none of them core) are
    # singleton clusters labelled by their own id
    core_lab = core.join(comp, "id", "left").select(
        "id", F.coalesce("cluster", F.col("id")).alias("cluster")
    )
    core_rows = core_lab.select(
        F.col("id").alias("pid"), F.lit("core").alias("role"),
        F.col("cluster").cast("bigint").alias("cluster_id"),
    )
    border_rows = (
        pairs.join(core_lab.withColumnRenamed("id", "b_id"), "b_id")
        .join(core.withColumnRenamed("id", "a_id"), "a_id", "left_anti")
        .groupBy("a_id")
        .agg(F.min("cluster").cast("bigint").alias("cluster_id"))
        .select(F.col("a_id").alias("pid"), F.lit("border").alias("role"), "cluster_id")
    )
    labelled = core_rows.unionByName(border_rows)
    noise_rows = (
        pts.join(labelled.select("pid"), "pid", "left_anti")
        .select("pid", F.lit("noise").alias("role"),
                F.lit(-1).cast("bigint").alias("cluster_id"))
    )
    return labelled.unionByName(noise_rows).withColumnRenamed("pid", "vec_id")


DBSCAN_ORACLE = f"""
WITH RECURSIVE pts AS (
  SELECT vec_id,
         CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * {Q_SCALE}) AS BIGINT) AS xq,
         CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * {Q_SCALE}) AS BIGINT) AS yq
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS ai, b.vec_id AS bi
  FROM pts a JOIN pts b
    ON (a.xq - b.xq) * (a.xq - b.xq)
     + (a.yq - b.yq) * (a.yq - b.yq) <= {EPS_Q * EPS_Q}
),
core AS (
  SELECT ai AS id FROM pairs GROUP BY ai HAVING count(*) >= {MINPTS}
),
edges AS (
  SELECT p.ai AS src, p.bi AS dst
  FROM pairs p JOIN core c1 ON c1.id = p.ai JOIN core c2 ON c2.id = p.bi
  WHERE p.ai <> p.bi
),
reach(id, r) AS (
  SELECT id, id FROM core
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
),
comp AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
border AS (
  SELECT p.ai AS id, MIN(c.cluster) AS cluster
  FROM pairs p
  JOIN comp c ON c.id = p.bi
  WHERE p.ai NOT IN (SELECT id FROM core)
  GROUP BY p.ai
)
SELECT comp.id AS vec_id, 'core' AS role,
       CAST(comp.cluster AS BIGINT) AS cluster_id
FROM comp
UNION ALL
SELECT border.id, 'border', CAST(border.cluster AS BIGINT) FROM border
UNION ALL
SELECT pts.vec_id, 'noise', CAST(-1 AS BIGINT)
FROM pts
WHERE pts.vec_id NOT IN (SELECT id FROM comp)
  AND pts.vec_id NOT IN (SELECT id FROM border)
"""
