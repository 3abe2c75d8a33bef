package graft.api

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew.saltedJoin: result equality with the unsalted plan is
  * the whole contract — salting must change the shuffle layout, never the
  * answer. */
class SkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // a deliberately hot key: 900 of 1000 fact rows share key 7
  private lazy val fact = (0 until 1000).map { i =>
    (if (i < 900) 7L else i.toLong % 50, i.toLong, i * 2.0)
  }.toDF("k", "row_id", "v")
  private lazy val dim = (0 until 50).map(i => (i.toLong, s"name$i")).toDF("dk", "name")

  test("saltedJoin equals the plain inner join") {
    val plain = fact.join(dim, fact("k") === dim("dk"))
      .select("k", "row_id", "v", "dk", "name")
      .collect().map(_.toString).sorted.toSeq
    val salted = Skew.saltedJoin(fact, dim, "k", "dk", Seq($"row_id"), 8)
      .select("k", "row_id", "v", "dk", "name")
      .collect().map(_.toString).sorted.toSeq
    assert(salted == plain)
  }

  test("saltedJoin scatters the hot key across salt buckets in the plan") {
    val df = Skew.saltedJoin(fact, dim, "k", "dk", Seq($"row_id"), 8)
    val exchanges = df.queryExecution.executedPlan.toString
    // the join's shuffle keys must include the salt, not just the key
    assert(exchanges.contains("__salt"),
      s"salt column should reach the exchange:\n$exchanges")
    // and the hot key's rows really spread: >1 distinct salt for key 7
    val spread = fact.withColumn("__salt",
        pmod(xxhash64($"row_id"), lit(8L)).cast("int"))
      .filter($"k" === 7).select("__salt").distinct().count()
    assert(spread > 4, s"hot key should scatter over most buckets, got $spread")
  }
}
