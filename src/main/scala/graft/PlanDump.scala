package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Plan-evidence dev tool (like [[Scratch]], NOT part of the driver
  * contract): prints `explain("formatted")` for the INTERNAL frames the
  * optimization rounds changed, so the committed `plans/` dumps can show
  * shapes that never appear in a declared query's returned plan (side
  * actions — index appends, staged writes).
  *
  * Usage: runMain graft.PlanDump append_gram_flags
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse-plandump")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import spark.implicits._

    args.headOption.getOrElse("append_gram_flags") match {
      case "append_gram_flags" =>
        // the day-2 gram append's flag frame: build a day-1 index on the
        // docs fixture, mine a fresh-id batch, and dump the frame the
        // append localCheckpoints — the claim under evidence is the
        // number of `Scan parquet <table>` (triple-table) nodes in it
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        val t = "graft_plandump_grams"
        api.Dedup.saveGramIndex(docs, t, 8, "doc_id", "text", width = 8)
        val batch = docs.select((col("doc_id") + 1000000L).as("doc_id"),
          col("text"))
        val bg = api.Dedup.gramHashes(batch, "doc_id", "text", 8, true,
          api.Tokenizers.asciiWords)
        val (hits, newFlags) = api.Dedup.appendFlagsFrames(bg, t, 8)
        newFlags.explain("formatted")
        hits.unpersist()
      case other => sys.error(s"unknown mode '$other'")
    }
    spark.stop()
  }
}
