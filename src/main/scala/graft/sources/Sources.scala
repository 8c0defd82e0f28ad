package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.model.Model

/** The reference's source/sink inventory (SURVEY.md §2.1) as thin,
  * schema-explicit readers/writers. Spark pushes filters and prunes
  * columns into every one of these natively — the reference's manual
  * `usecols=['equipment']` and WHERE-in-SQL-text optimizations
  * (scrape.py:59, clean_data.py:168-175) fall out of Catalyst for free.
  */
object Sources {

  /** S3 — equipment dimension from CSV (equipamentos.csv layout). Explicit
    * schema: no inference pass over the data at scale. */
  def equipmentCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(Model.equipmentSchema)
      .csv(path)

  /** S4 — equipment dimension from the Portuguese-keyed JSON variant
    * (equipamentos.json, load_equipments.py:32); pair with
    * RadarOps.loadEquipments for the rename/cast normalization. */
  def equipmentJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** S6 — JDBC scan (database.py + the reflected radars schema).
    * `partitionColumn`+bounds shard the read across executors; Catalyst
    * pushes filters/prunes columns into the generated SQL. Exercised
    * end-to-end against embedded Derby (JdbcRoundTripSpec) — the same
    * connector path a deployment points at Postgres. */
  def jdbcTable(
      spark: SparkSession, url: String, table: String,
      partitionColumn: Option[(String, Long, Long, Int)] = None): DataFrame = {
    var r = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
    partitionColumn.foreach { case (colName, lo, hi, n) =>
      r = r.option("partitionColumn", colName)
        .option("lowerBound", lo).option("upperBound", hi)
        .option("numPartitions", n)
    }
    r.load()
  }

  /** S9 — JDBC append sink (df.to_sql(..., if_exists="append")). Pair with
    * RadarOps.idempotentNewRows for the reference's insert guard. */
  def jdbcAppend(df: DataFrame, url: String, table: String): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .mode(SaveMode.Append)
      .save()

  /** S7 — cleaned-flows CSV sink in the reference's processed-bucket
    * layout (one directory per equipment/date is replaced by columnar
    * partitioning — same pruning, no tiny-file explosion). */
  def flowsCsv(df: DataFrame, path: String): Unit =
    df.write
      .partitionBy("pubdate")
      .option("header", "true")
      .mode(SaveMode.Append)
      .csv(path)

  /** ORC lake variant (alongside the parquet-primary layout): same
    * pubdate partitioning, Spark-native vectorized ORC with predicate
    * pushdown/column pruning — for consumers standardized on ORC. */
  def flowsOrc(df: DataFrame, path: String): Unit =
    df.write
      .partitionBy("pubdate")
      .mode(SaveMode.Append)
      .orc(path)

  def orcTable(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
