package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every graft entry point (CLI, Verify,
  * Bench, Smoke, the probes, the test suite) builds its session here,
  * so a session-wide setting is changed in one place. Callers choose
  * only the master and the shuffle width; `extra` carries per-caller
  * confs (e.g. the test suite's warehouse dir).
  *
  * Catalyst extensions are NOT installed here: `GraftExprBridge.ensure*`
  * registers them lazily on whichever session a query runs on, which
  * stays the single registration path (foreign sessions included) and
  * keeps the fusion rules off plans that never asked for them. */
object Sessions {

  val AppName = "graft"

  /** `spark.shuffle.sort.bypassMergeThreshold`: an exchange with at
    * most this many reduce partitions takes Spark's bypass writer, a
    * wider one the serialized sort writer.
    *
    * The bypass writer writes one file per reduce partition per map
    * task and then concatenates them with `FileChannel.transferTo`,
    * which on tmpfs scratch falls back to an mmap copy; at many
    * partitions × many concurrent map tasks the map/unmap churn
    * contends the address-space lock and collapses wide-core runs
    * (measured in OPTIMIZATION_r17.md). The serialized writer is also
    * what a cluster exchange of > 200 partitions always uses, so local
    * runs exercise the same path.
    *
    * It is 4, not 0, because the stateful streaming runners shuffle at
    * 2 partitions (`FileIngest.DefaultWidth`), where a 2-file concat
    * is cheaper than the serialized writer's per-task setup; that
    * width must stay ≤ this threshold (`StreamWidthSpec`).
    * `SPARK_GRAFT_BYPASS_MERGE` overrides it for A/B runs (`200`
    * restores Spark's default). */
  lazy val bypassMergeThreshold: Int =
    sys.env.getOrElse("SPARK_GRAFT_BYPASS_MERGE", "4").toInt

  def build(master: String, shufflePartitions: Int,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName(AppName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // shuffle/spill scratch under the self-cleaning Scratch root
      .config("spark.local.dir", Scratch.sparkLocalDir)
      .config("spark.shuffle.sort.bypassMergeThreshold",
        bypassMergeThreshold.toLong)
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
