package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): k-means-cluster the embedding space, then hunt
  * near-duplicates only *within* each cluster — the pairwise work drops
  * from O(n²) to Σ_c |c|², and the cluster id is a shuffle key, so the
  * quadratic part is per-partition and embarrassingly parallel.
  *
  * The reference has no embedding operators at all (its surface is the five
  * LSH scalars, SURVEY.md §2); this is one of the engine's
  * training-data-pipeline additions, sharing the ANN module's trained
  * quantizer so a corpus that already fitted an IVF index
  * ([[Ann.fitIvf]]) reuses the same centroids for dedup.
  *
  * Scale shape:
  *  - centroid training reads a seeded-hash sample once
  *    ([[Ann.trainQuantizer]]: TakeOrderedAndProject, no full sort);
  *  - assignment is one codegen'd projection over a broadcast centroid
  *    table (`NearestCell`) — zero shuffle;
  *  - the only shuffle is the self-join on `cluster`, whose per-key volume
  *    is the cluster size — pick `nClusters` so n/nClusters vectors fit a
  *    partition (SemDeDup used 11k clusters for 100M+ points). A corpus
  *    with a pathological mega-cluster has the same remedy as a hot LSH
  *    bucket: raise `nClusters`, or grid-block the hot key
  *    (see [[BandedLsh]]'s hot-bucket sidecar pattern).
  */
object SemanticDedup {

  /** Input vectors with their k-means cell: (idCol, vecCol, cluster).
    * Deterministic for a given (nClusters, seed, iters, sampleSize) —
    * centroid init and the Lloyd's accumulation order are part of the
    * engine's bit-exact contract (mirrored by the Python oracle).
    */
  private[api] def assignClusters(df: DataFrame, nClusters: Int, seed: Long,
                                  iters: Int = 5, sampleSize: Int = 10000,
                                  idCol: String = "vec_id",
                                  vecCol: String = "embedding"): DataFrame = {
    val base = df.select(col(idCol).cast("long").as(idCol),
      col(vecCol).cast("array<double>").as(vecCol))
    val centroids = Ann.trainQuantizer(base, nClusters, seed, iters, sampleSize,
      idCol, vecCol, initFromSample = true)
    assignToCentroids(base, centroids, vecCol)
  }

  /** Assignment under caller-supplied centroids — e.g. the trained
    * quantizer of an existing [[Ann.IvfIndex]] (`index.centroids`), so a
    * corpus that already fitted an ANN index dedups in its cells without a
    * second training pass. */
  private[api] def assignToCentroids(df: DataFrame, centroids: Array[Array[Double]],
                                     vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graft.{CentroidModel, NearestCell}
    require(centroids.nonEmpty, "at least one centroid required")
    val model = new CentroidModel(df.sparkSession.sparkContext.broadcast(centroids))
    df.withColumn("cluster",
      ColumnShim.column(NearestCell(ColumnShim.expression(col(vecCol)), model)))
  }

  /** Per-vector dedup verdict: (idCol, cluster, kept). A vector is dropped
    * (kept = false) iff some *lower-id* member of its cluster has cosine
    * similarity >= `tau` with it — the deterministic "keep the earliest
    * representative" rule (SemDeDup keeps one arbitrary member per similar
    * group; lowest-id is that choice made reproducible). The rule is
    * single-pass pairwise, not transitive: a dropped vector still shadows
    * later near-copies of itself, so each similarity chain keeps exactly
    * its first element.
    *
    * Only ids and the verdict flow out; join the result back on `idCol` to
    * materialize the surviving rows.
    */
  def semanticDedup(df: DataFrame, nClusters: Int, tau: Double, seed: Long,
                    iters: Int = 5, sampleSize: Int = 10000,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val assigned =
      assignClusters(df, nClusters, seed, iters, sampleSize, idCol, vecCol)
    // Zero-norm vectors have no direction, so their cosine is undefined
    // (ANSI DIVIDE_BY_ZERO, or NaN which ranks above every tau): they never
    // drop and never shadow — excluded from the pair join, kept in the
    // output (same guard as cosineLshPairs). A live vector is non-null, so
    // its cell is too: saying so keeps Catalyst from inferring
    // isnotnull(cluster) from the cluster join and pushing that filter
    // below the projection, where it evaluated the assignment a second
    // time per vector.
    val live = assigned.filter(Ann.normSq(col(vecCol)) > 0.0)
      .withColumn("cluster", ColumnShim.column(
        KnownNotNull(ColumnShim.expression(col("cluster")))))
    // the shared self band-join on the cluster key: both sides read one
    // repartition of (id, vector, cluster), so the assignment runs once
    // for the pair join (each side needs the vector for the verify)
    val dropped = BandedLsh.selfBandJoin(live, idCol, Seq(vecCol -> "v"), Seq("cluster"))
      .filter(Ann.cosine(col("v_a"), col("v_b")) >= lit(tau))
      .select(col("id_b").as(idCol))
      .distinct()
    assigned.select(col(idCol), col("cluster"))
      .join(dropped.withColumn("__dropped", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cluster"), col("__dropped").isNull.as("kept"))
  }

  /** Prototype / coreset selection (the SSL-prototypes companion of
    * SemDeDup — Sorscher et al. 2022, "Beyond neural scaling laws"): the
    * `k` most CENTRAL vectors of each k-means cell, ranked by squared L2
    * to the cell centroid (ties by id — total order, reproducible).
    * Central prototypes summarize a cell for data pruning; conversely the
    * rows this does NOT keep are each cell's outskirts, which that line of
    * work keeps for hard-example selection — filter against the returned
    * ids for either recipe.
    *
    * Scale shape: assignment + distance are one codegen'd projection over
    * broadcast centroids (zero shuffle); the only shuffle is the rank
    * window's partition-by-cell, and what shuffles is (id, cell, dist) —
    * never the vectors. */
  def clusterPrototypes(df: DataFrame, nClusters: Int, k: Int, seed: Long,
                        iters: Int = 5, sampleSize: Int = 10000,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.{CentroidModel, NearestCell, NearestCellDist}
    require(k >= 1, s"k must be >= 1, got $k")
    val base = df.select(col(idCol).cast("long").as(idCol),
      col(vecCol).cast("array<double>").as(vecCol))
    val centroids = Ann.trainQuantizer(base, nClusters, seed, iters, sampleSize,
      idCol, vecCol, initFromSample = true)
    val model = new CentroidModel(df.sparkSession.sparkContext.broadcast(centroids))
    val scored = base.select(col(idCol),
      ColumnShim.column(NearestCell(ColumnShim.expression(col(vecCol)), model))
        .as("cluster"),
      ColumnShim.column(NearestCellDist(ColumnShim.expression(col(vecCol)), model))
        .as("center_dist"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("center_dist").asc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("cluster"), col("rank"), col("center_dist"))
  }

}
