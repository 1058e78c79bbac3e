package pipebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: session set-up, then closed-loop cycles
  * of one workload, each cycle calling the program's public functions in
  * the order `graft.Main`'s verbs call them, from this one thread.
  *
  *   PipeBench --workload <w> --inputs <dir> --work <dir> --seconds <s>
  *             --trace <0|1> --out <result.json>
  *
  * A cycle is a batch pass, then arriving batches, each followed by a few
  * lookups. Every cycle starts from empty output state, so each does the
  * same work; cycles repeat while the next one is expected to end within
  * the time. A traced run does the same with a tracer attached; its
  * end-to-end figures, set against an untraced run's, give the tracing
  * overhead. */
object PipeBench {

  /** The run's clock: body time excludes the benchmark's own checks. */
  final class Body(tracer: Option[Tracer], gc: GcWatch) {
    private var untimedMs = 0L
    val heapAfterMb = mutable.ArrayBuffer.empty[Double]
    val startMs: Long = System.currentTimeMillis()
    def span[A](name: String)(f: => A): A = tracer match {
      case Some(t) => t.span(name)(f)
      case None => f
    }
    /** Time a call the end-to-end metrics report. Two full collections
      * follow it, untimed, the second after Spark's cleaner and listener
      * threads have had a moment to drop what the call released: its
      * post-GC heap is the call's live heap, and the next call starts
      * from the same clean heap in every run. */
    def timed[A](f: => A): (A, Double) = {
      val (t0, u0) = (System.nanoTime(), untimedMs)
      val r = f
      val s = (System.nanoTime() - t0) / 1e9 - (untimedMs - u0) / 1e3
      untimed {
        System.gc()
        Thread.sleep(50)
        System.gc()
        heapAfterMb += gc.lastHeapAfterMb()
      }
      (r, s)
    }
    def untimed[A](f: => A): A = {
      val t0 = System.currentTimeMillis()
      try f finally untimedMs += System.currentTimeMillis() - t0
    }
    def wallMs: Long = System.currentTimeMillis() - startMs - untimedMs
  }

  /** What one cycle measured and checked. */
  final case class Cycle(rows: Long, batchS: Double, appendS: Seq[Double],
      lookupMs: Seq[Double], quality: Double, outRatio: Double,
      failures: Seq[String], attempted: Int, digest: String,
      extra: Map[String, Double] = Map.empty)

  trait Workload {
    def cycle(spark: SparkSession, b: Body, dir: String): Cycle
  }

  // ------------------------------------------------------------ helpers

  def digestOf(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.toSeq.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  def listFiles(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.toString).toSeq.sorted finally s.close()
  }

  def readJson(path: String): org.json4s.JValue =
    org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(path)))

  /** Median of the samples; NaN when there are none. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ------------------------------------------------------------ main

  def session(): SparkSession = {
    val spark = graft.Main.session()
    spark.range(10).selectExpr("sum(id)").collect()
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val gc = new GcWatch
    // The set-up a user waits for: process start to the end of the first
    // session and tiny query, with class loading and first compilation.
    val spark = session()
    val setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val cores = spark.sparkContext.defaultParallelism
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val inputs = opts("inputs")
    val work = opts("work")
    val wl: Workload = opts("workload") match {
      case "cluster-ksearch" => new ClusterKSearch(inputs)
      case "corpus-curate" => new CorpusCurate(inputs)
    }

    def phase(label: String, budget: Double,
        tracer: Option[Tracer]): (Map[String, Any], Seq[Cycle]) = {
      val b = new Body(tracer, gc)
      val cycles = mutable.ArrayBuffer.empty[Cycle]
      def elapsed = (System.currentTimeMillis() - b.startMs) / 1e3
      while (cycles.isEmpty || elapsed * (cycles.size + 1) / cycles.size <= budget) {
        val dir = s"$work/$label-${cycles.size}"
        cycles += (try wl.cycle(spark, b, dir)
          catch { case e: Exception =>
            e.printStackTrace()
            Cycle(0, Double.NaN, Nil, Nil, Double.NaN, Double.NaN,
              Seq(s"cycle threw ${e.getClass.getSimpleName}: ${e.getMessage}"),
              1, "")
          })
        b.untimed(deleteTree(dir))
      }
      val ok = cycles.filter(_.failures.isEmpty)
      val appends = cycles.flatMap(_.appendS)
      val lookups = cycles.flatMap(_.lookupMs).sorted
      // highest percentile with at least ten samples beyond it
      val tailIdx = lookups.size - 11
      val m = mutable.LinkedHashMap[String, Any](
        "rows_per_s" -> median(ok.map(c => c.rows / c.batchS).toSeq),
        "append_p50_s" -> median(appends.toSeq),
        "serve_p50_ms" -> median(lookups.toSeq),
        "quality_share" -> median(ok.map(_.quality).toSeq),
        "live_heap_mb" -> (if (b.heapAfterMb.isEmpty) Double.NaN else b.heapAfterMb.max),
        "out_bytes_ratio" -> median(ok.map(_.outRatio).toSeq),
        "cycles" -> cycles.size,
        "body_s" -> b.wallMs / 1e3,
        "attempted" -> cycles.map(_.attempted).sum,
        "failed" -> cycles.map(_.failures.size).sum,
        "failures" -> cycles.flatMap(_.failures).distinct.take(20),
        "output_digest" -> cycles.headOption.map(_.digest).getOrElse(""),
        "cycle_digests_agree" -> (cycles.map(_.digest).distinct.size == 1))
      val detail = mutable.LinkedHashMap[String, Any](
        "serve_samples" -> lookups.size, "append_samples" -> appends.size)
      m("samples") = Map("batch_s" -> cycles.map(_.batchS), "append_s" -> appends,
        "lookup_ms" -> cycles.flatMap(_.lookupMs),
        "heap_after_gc_mb" -> b.heapAfterMb)
      if (tailIdx > lookups.size / 2) {
        detail("serve_tail_ms") = lookups(tailIdx)
        detail("serve_tail_pct") = 100.0 * (tailIdx + 1) / lookups.size
      }
      ok.headOption.foreach(_.extra.keys.foreach { k =>
        detail(k) = median(ok.flatMap(_.extra.get(k)).toSeq) })
      m("detail") = detail.toMap
      (m.toMap, cycles.toSeq)
    }

    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "cores" -> cores)
    if (!trace) {
      val (m, _) = phase("untraced", seconds, None)
      result("untraced") = m
    } else {
      val tracer = new Tracer(spark.sparkContext, cores, gc)
      spark.sparkContext.addSparkListener(tracer)
      val b0 = System.currentTimeMillis()
      val (traced, cycles) = phase("traced", seconds, Some(tracer))
      tracer.drain()
      spark.sparkContext.removeSparkListener(tracer)
      val calls = tracer.spanCalls
      val spanWall = calls.map(c => c.endMs - c.startMs).sum / 1e3
      result("traced") = traced
      val perLayer = tracer.metrics(cycles.size)
      val bodyS = traced("body_s").asInstanceOf[Double]
      result("per_layer") = perLayer
      result("span_coverage") = spanWall / bodyS
      // Where the body's time went: per span, its calls' total wall time
      // as a share of the body, and how much of it was driver time and
      // task CPU (per_layer holds means per call).
      result("span_totals") = calls.groupBy(_.span).map { case (name, cs) =>
        val n = cs.size
        name -> Map("calls" -> n,
          "wall_share" -> perLayer(s"$name.wall_s") * n / bodyS,
          "driver_s" -> perLayer(s"$name.driver_s") * n,
          "task_cpu_s" -> perLayer(s"$name.task_cpu_s") * n)
      }
      result("jobs_outside_spans") = tracer.unattributedJobs
      result("spans") = calls.map(c =>
        Map("span" -> c.span, "start_ms" -> (c.startMs - b0), "end_ms" -> (c.endMs - b0)))
    }
    Files.writeString(Paths.get(opts("out")), Json.render(result.toMap))
    spark.stop()
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => render(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
