package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The one parquet writer for query dumps and fixture tables. */
  private[graft] def writeTable(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** Usage: `graft.Verify <sfDir> <outDir> [fixtureDir]`. With the optional
    * fixtureDir, every SparkEntry.fixtures table is also written there as
    * `<fixtureDir>/<name>` — the inputs tools/gen_oracles.py reads. */
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, fixtureDir) = args match {
      case Array(sf, out) => (sf, out, None)
      case Array(sf, out, fix) => (sf, out, Some(fix))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bucketed-index tables (Ann.saveBucketedCorpus) land in the
      // warehouse; keep it out of the repo checkout
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse-verify")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev loop: SPARK_GRAFT_ONLY=q1_agg,corpus_shuffle runs a subset (the
    // driver never sets it, so the driver path always dumps everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try writeTable(fn(spark, sfDir), s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      // non-ASCII → \u escapes: the JSON stays pure ASCII, so no encoding
      // step between here and DuckDB can mangle multilingual oracle SQL
      // (surrogate halves escape individually — valid JSON pair form)
      case c if c > '~' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // a fixture that fails to build fails the run: gen_oracles.py must
    // never see a partial fixture directory
    fixtureDir.foreach { dir =>
      SparkEntry.fixtures.foreach { case (name, build) =>
        writeTable(build(spark, sfDir), s"$dir/$name")
      }
    }
    spark.stop()
  }
}
