package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTableType

/** Catalog surgery used to SIMULATE a JVM restart under the local
  * in-memory catalog: a real restart leaves every warehouse directory
  * intact but loses every registration. `DROP TABLE` on a MANAGED table
  * deletes its data — the opposite of what a crash does — so the
  * simulation first flips the entry to EXTERNAL (a metadata-only
  * change) and then drops it, leaving the parquet files exactly where a
  * dead JVM would have left them. Drives the cross-session
  * [[graft.api.StagedPipeline]] resume gate and spec. [[registerManaged]]
  * is the way back, used by `BucketedWrite.refuseLeftover` on a scratch
  * directory a restart left unregistered. Lives in the
  * spark.sql package tree because it manipulates catalyst catalog
  * internals (`CatalogTableType`, `alterTable` on raw metadata) that
  * have no stable public surface — `sessionState` itself is public
  * (`@Unstable`) and callable from anywhere. */
object CatalogOps {

  /** Remove `table`'s catalog entry WITHOUT touching its files. No-op
    * if the table is not registered. */
  def deregisterKeepingFiles(spark: SparkSession, table: String): Unit = {
    val cat = spark.sessionState.catalog
    val id = TableIdentifier(table.toLowerCase)
    if (cat.tableExists(id)) {
      val meta = cat.getTableMetadata(id)
      if (meta.tableType == CatalogTableType.MANAGED)
        cat.alterTable(meta.copy(tableType = CatalogTableType.EXTERNAL))
      cat.dropTable(id, ignoreIfNotExists = true, purge = false)
    }
  }

  /** Register the parquet directory `dir` as MANAGED table `table` — the
    * inverse of [[deregisterKeepingFiles]], for a directory that is
    * `table`'s own default location. Registered as external first (the
    * public call infers the schema), then flipped: a managed entry owns its
    * files, so DROP deletes them and RENAME moves them with the name. */
  def registerManaged(spark: SparkSession, table: String, dir: org.apache.hadoop.fs.Path): Unit = {
    spark.catalog.createTable(table, dir.toString, "parquet")
    val cat = spark.sessionState.catalog
    val meta = cat.getTableMetadata(TableIdentifier(table.toLowerCase))
    cat.alterTable(meta.copy(tableType = CatalogTableType.MANAGED))
  }
}
