package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation by key salting — the manual counterpart to AQE's
  * skew-join splitting, for the joins AQE cannot reach (a dim too big to
  * broadcast, or any join AQE won't rewrite because the skew is in the map-side stats, not
  * the shuffle files).
  */
object Skew {

  /** Equi-join resistant to fact-side key skew: every fact row scatters
    * into one of `n` salt buckets by hashing `scatter` (deterministic and
    * layout-independent — NOT rand(), whose draws depend on partition
    * layout and task retries), and the dim side replicates each row across
    * all `n` buckets, so one hot key's rows land on `n` reducers instead of
    * one. Replication multiplies dim-side shuffle bytes by `n`: use when
    * the dim is too big to broadcast but cheap to replicate n-fold, and
    * pick `scatter` columns with per-row entropy (a row id, not the hot key
    * itself — hashing only the join key would re-converge every hot row to
    * one bucket).
    *
    * Result = fact.join(dim, factKey === dimKey, joinType) column-for-column
    * (salt columns are internal); spec-pinned equal to the unsalted join.
    *
    * Fact-side-preserving join types only (inner / cross / left_outer /
    * left_semi / left_anti): the equivalence holds because every output row
    * is driven by exactly one fact row, which lives in exactly one salt
    * bucket. right/full outer would emit one null-padded row per UNMATCHED
    * (dim row, salt bucket) pair — up to n−1 spurious rows per dim key — so
    * they are rejected up front. (Skew on the preserved dim side of a right
    * join = this function with the arguments swapped.) */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
                 scatter: Seq[Column], n: Int, joinType: String = "inner"): DataFrame = {
    require(n >= 1, s"salt fan-out must be >= 1, got $n")
    val normalized = joinType.toLowerCase.replaceAll("[ _]", "")
    require(Set("inner", "cross", "left", "leftouter",
        "leftsemi", "semi", "leftanti", "anti")
      .contains(normalized),
      s"saltedJoin supports fact-side-preserving join types only " +
        s"(inner/cross/left_outer/left_semi/left_anti); for '$joinType' the " +
        s"n-fold dim replication would emit spurious null-padded rows")
    val fs = fact.withColumn("__salt",
      pmod(xxhash64(scatter: _*), lit(n.toLong)).cast("int"))
    val ds = dim.withColumn("__salt",
      explode(array((0 until n).map(lit(_)): _*)))
    fs.join(ds, fs(factKey) === ds(dimKey) && fs("__salt") === ds("__salt"), joinType)
      .drop("__salt")
  }
}
