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
    * Result = the inner join fact.join(dim, factKey === dimKey)
    * column-for-column (salt columns are internal); spec-pinned equal to
    * the unsalted join: every output row is driven by exactly one fact
    * row, which lives in exactly one salt bucket. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
                 scatter: Seq[Column], n: Int): DataFrame = {
    require(n >= 1, s"salt fan-out must be >= 1, got $n")
    val fs = fact.withColumn("__salt",
      pmod(xxhash64(scatter: _*), lit(n.toLong)).cast("int"))
    val ds = dim.withColumn("__salt",
      explode(array((0 until n).map(lit(_)): _*)))
    fs.join(ds, fs(factKey) === ds(dimKey) && fs("__salt") === ds("__salt"), "inner")
      .drop("__salt")
  }
}
