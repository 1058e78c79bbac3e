package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Shared scaffold for file-arrival ingest streams ([[DocIngest]],
  * [[VecIngest]]): schema inference from the files already present,
  * optional file-granularity micro-batches, AvailableNow draining, and
  * the empty-batch guard. Keeping it in one place means a fix to the
  * source setup or trigger policy applies to every ingest loop. */
private[graft] object FileIngest {

  /** Start a foreachBatch query over the parquet files in `srcDir`;
    * `body` runs once per non-empty micro-batch. */
  def stream(spark: SparkSession, srcDir: String, checkpointDir: String,
      oneFilePerBatch: Boolean)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val schema = spark.read.parquet(srcDir).schema
    val reader = spark.readStream.schema(schema)
    val src =
      (if (oneFilePerBatch) reader.option("maxFilesPerTrigger", 1)
       else reader)
        .parquet(srcDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) body(batch, batchId)
      }
      .start()
  }

  /** Drain the backlog and stop — the replay/backfill harness. */
  def drain(q: StreamingQuery): Unit =
    try q.awaitTermination() finally if (q.isActive) q.stop()

  /** The replay runners' default `shufflePartitions`. It must stay ≤
    * [[graft.Sessions.bypassMergeThreshold]] so their micro-batch
    * shuffles keep the bypass writer (`StreamWidthSpec`). */
  val DefaultWidth: Option[Int] = Some(2)

  /** Scoped stateful/batch-body shuffle-partition override — the
    * [[EventStream]] runner contract applied to the foreachBatch
    * family (r16 optimization round, guide §2.2): each micro-batch
    * body plans its joins/aggregations at the LIVE session partition
    * count, so a 100 k-row replay batch at the bench's 32 partitions
    * pays 32 tasks + 32 shuffle files per exchange per batch. The
    * replay runners default to a small count sized to the replay
    * corpus; a production ingest sizes it to its own volume (pass
    * None to inherit the session default). Partition count never
    * changes emitted rows — the registry's blanket 3-vs-8
    * partition-invariance gate is exactly this contract. */
  def withPartitions[A](spark: SparkSession, n: Option[Int])(
      body: => A): A = n match {
    case None => body
    case Some(parts) =>
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, parts.toString)
      try body finally spark.conf.set(key, prev)
  }

  /** Exactly-once batch output for foreachBatch sinks: foreachBatch is
    * only at-least-once (a crash between the sink write and the
    * checkpoint offset commit replays the batch), so a blind append
    * duplicates rows on restart. Writing each batch to its own
    * `batch_id=<id>` partition directory with OVERWRITE makes the
    * replay land on top of its previous output instead — the same
    * contract [[graft.operators.Sketches.upsertHllBatch]] and the
    * other sketch upserts key their artifacts by. */
  def writeBatchExactlyOnce(batch: DataFrame, outDir: String,
      batchId: Long): Unit = {
    // a data column named like the partition-layout column would be
    // silently shadowed and then dropped by readBatchedOutput —
    // refuse loudly instead (rename it before the sink)
    require(!batch.columns.contains("batch_id"),
      "writeBatchExactlyOnce uses batch_id=<id> partition directories " +
        "as its exactly-once key; the batch DataFrame must not carry " +
        "its own batch_id column (rename it before the sink)")
    batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
  }

  /** Read an output directory written by [[writeBatchExactlyOnce]],
    * dropping the partition-layout column so consumers see exactly the
    * per-batch schema. A directory that mixes the PRE-batchId flat
    * layout (top-level part files from the old blind-append sink) with
    * `batch_id=` partition dirs fails loudly with migration guidance —
    * Spark's partition discovery would otherwise either throw a
    * conflicting-structure error or silently double-count the legacy
    * rows next to their replayed batches (the [[graft.operators
    * .Sketches]] artifact-migration contract). */
  def readBatchedOutput(spark: SparkSession, outDir: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    val hasBatchDirs = entries.exists(_.startsWith("batch_id="))
    val flat = entries.filterNot(_.startsWith("batch_id="))
    require(!hasBatchDirs || flat.isEmpty,
      s"$outDir mixes flat output files (${flat.take(3).mkString(", ")}" +
        s"${if (flat.length > 3) ", ..." else ""}) from the pre-batchId " +
        "append sink with batch_id=<id> partition dirs — move the flat " +
        "files into their own batch_id=<id> directory (or re-drain into " +
        "a fresh outDir) before reading, or the legacy rows would " +
        "double-count next to their replayed batches.")
    spark.read.parquet(outDir).drop("batch_id")
  }
}
