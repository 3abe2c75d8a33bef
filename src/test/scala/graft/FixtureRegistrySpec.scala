package graft

import org.scalatest.funsuite.AnyFunSuite

/** The planted-fixture registry ([[SparkEntry.fixtures]]) is the one owner
  * of every planted input: `graft.Verify` writes each table and
  * tools/gen_oracles.py reads them back. A fixture that fails to build or
  * round-trip, or a name or column the generator reads that the registry
  * no longer has, fails here instead of at the next oracle regeneration.
  */
class FixtureRegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** (fixture name, columns read) for every `load_fixture("name", (cols))`
    * call in tools/gen_oracles.py. */
  private lazy val generatorLoads: Seq[(String, Seq[String])] = {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/gen_oracles.py")), "UTF-8")
    """load_fixture\(\s*"([a-z0-9_]+)",\s*\(([^)]*)\)""".r
      .findAllMatchIn(src)
      .map(m => m.group(1) ->
        "\"([a-z0-9_]+)\"".r.findAllMatchIn(m.group(2)).map(_.group(1)).toSeq)
      .toSeq
  }

  test("every registered fixture round-trips through Verify's writer") {
    val out = java.nio.file.Files.createTempDirectory("graft-fixtures")
    try SparkEntry.fixtures.foreach { case (name, build) =>
      val df = build(spark, dir)
      Verify.writeTable(df, s"$out/$name")
      val back = spark.read.parquet(s"$out/$name")
      // parquet reads every column back nullable: compare names and types
      assert(back.schema.map(f => f.name -> f.dataType) ==
        df.schema.map(f => f.name -> f.dataType), name)
      val n = df.count()
      assert(n > 0, s"$name is empty")
      assert(back.count() == n, name)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(out.toFile)
  }

  test("gen_oracles.py loads only registered fixtures and columns, and every fixture") {
    val fixtures = SparkEntry.fixtures
    assert(generatorLoads.nonEmpty, "no load_fixture call parsed")
    generatorLoads.foreach { case (name, cols) =>
      assert(fixtures.contains(name), s"gen_oracles.py loads unregistered $name")
      assert(cols.nonEmpty, s"no columns parsed for $name")
      val have = fixtures(name)(spark, dir).columns.toSet
      assert(cols.forall(have), s"$name lacks ${cols.filterNot(have)}")
    }
    assert(fixtures.keySet == generatorLoads.map(_._1).toSet,
      "registered fixtures gen_oracles.py never reads: " +
        (fixtures.keySet -- generatorLoads.map(_._1)))
  }
}
