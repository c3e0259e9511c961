package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Paths

/** S6: wildcard table expansion — the reference resolves regex table names
  * against `information_schema.tables` with RLIKE
  * (reference: service/transfer_service.go:213-237,
  * stock_service.go:299-323). Here the "catalog" is either the Spark session
  * catalog or a directory of parquet tables; a bare catch-all pattern is
  * rejected exactly like the reference's lone-`*` guard
  * (transfer_service.go:209-211).
  */
object Tables {

  private def guard(pattern: String): Unit =
    require(pattern != "*" && pattern != ".*",
      "wildcard pattern must constrain the table name (reference: lone * is illegal)")

  /** Expand against the session catalog (current database). */
  def expandCatalog(spark: SparkSession, pattern: String): Seq[String] = {
    guard(pattern)
    spark.catalog.listTables().collect().map(_.name).filter(_.matches(pattern)).toSeq.sorted
  }

  /** Expand against a directory of `<name>.parquet` tables (the sandbox's
    * information_schema).
    */
  def expandDir(dir: String, pattern: String): Seq[String] = {
    guard(pattern)
    graft.changelog.ChangelogGenerator.children(Paths.get(dir))
      .map(_.getFileName.toString)
      .collect { case n if n.endsWith(".parquet") => n.stripSuffix(".parquet") }
      .filter(_.matches(pattern)).sorted
  }

  /** Read every matching table, tagged with its name — the multi-table
    * bootstrap shape (each table then routes to its own rule/pipeline).
    */
  def readMatching(spark: SparkSession, dir: String, pattern: String): Seq[(String, DataFrame)] =
    expandDir(dir, pattern).map(t => t -> spark.read.parquet(s"$dir/$t.parquet"))
}
