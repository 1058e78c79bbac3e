package graft.io

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{EngineConf, KEntry, SegmentResult}

/** The k-store: persisted optimal-k per segment, replacing the reference's
  * Mongo `kCollection` (S6 read `cluster.py:19-41`, S8 upsert
  * `optimal_k.py:195-283`). JSON directory partitioned by the task key —
  * each upsert overwrites exactly its own partition, which removes the
  * reference's 12-thread upsert race (SURVEY.md §7.4) by construction.
  */
object KStore {

  /** Flatten an engine run into k-store records. */
  def fromResults(results: Dataset[SegmentResult], conf: EngineConf,
      date: String): DataFrame =
    results.select(
      col("algorithm"),
      lit(conf.macroCol).as("macro"),
      lit(conf.microCol).as("micro"),
      lit(conf.xCol).as("firstColumn"),
      lit(conf.yCol).as("secondColumn"),
      col("macroId"), col("microId"), col("k"), col("silhouette"),
      lit(date).as("date"))

  /** Upsert: replaces only the task-key partitions present in
    * `records` (dynamic partition overwrite, scoped to this writer), so
    * other task keys already in the store survive. */
  def write(records: DataFrame, path: String): Unit =
    records.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("algorithm", "macro", "micro", "firstColumn",
        "secondColumn")
      .json(path)

  /** Load the cached (k, silhouette) map for one task key. The collect is
    * segment-count rows (k-store metadata, not data); for runs with
    * millions of segments prefer joining `readDf` into the pipeline
    * instead of broadcasting this map. */
  def read(spark: SparkSession, path: String,
      conf: EngineConf): Map[(String, String), KEntry] =
    readDf(spark, path, conf)
      .select(col("macroId"), col("microId"), col("k"), col("silhouette"))
      .collect()
      .map(r => (r.getAs[String]("macroId"), r.getAs[String]("microId")) ->
        KEntry(r.getAs[Long]("k").toInt, r.getAs[Double]("silhouette")))
      .toMap

  /** The record schema, given to the reader so a read is one scan of
    * its own task key's partition (pruned by `readDf`'s filter) instead
    * of a schema-inference pass over every key in the store. */
  private val Schema = "macroId STRING, microId STRING, k BIGINT, " +
    "silhouette DOUBLE, date STRING, algorithm STRING, macro STRING, " +
    "micro STRING, firstColumn STRING, secondColumn STRING"

  def readDf(spark: SparkSession, path: String,
      conf: EngineConf): DataFrame =
    spark.read.schema(Schema).json(path)
      .filter(col("algorithm") === conf.algorithm &&
        col("macro") === conf.macroCol && col("micro") === conf.microCol &&
        col("firstColumn") === conf.xCol && col("secondColumn") === conf.yCol)
}
