package graft

/** Dev-only probe: per-micro-batch duration breakdown for the streaming
  * replay queries (the r16 optimization round's biggest cost family,
  * 65.4 s of the 237.3 s r16 capture). Runs a query once, then prints
  * every StreamingQueryProgress the run produced — `durationMs` names
  * where each trigger spent its time (addBatch / queryPlanning /
  * walCommit / commitOffsets / getBatch / latestOffset), which is the
  * guide §1 "measure first" step the family never had: the bench only
  * sees the end-to-end seconds.
  *
  * Not part of the driver contract. Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.StreamProbe q233_stream_join_late_oracled"
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // --conf k=v pairs apply as session confs before the queries run
    val (confArgs, nameArgs) = args.partition(_.startsWith("--conf="))
    val confs = confArgs.map(_.stripPrefix("--conf=").split("=", 2))
      .map(a => a(0) -> a(1))
    val names = if (nameArgs.nonEmpty) nameArgs.toSeq
      else Seq("q233_stream_join_late_oracled")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.build(s"local[$cpus]", cpus.toInt)
    confs.foreach { case (k, v) =>
      spark.conf.set(k, v); println(s"[probe-conf] $k=$v") }
    spark.range(1000000).selectExpr("sum(id)").collect() // warm-up

    // capture every progress event; the per-query memory-sink run stops
    // its query before returning, so listen globally
    val progresses =
      new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.streaming.StreamingQueryProgress]()
    // stage-level attribution: where addBatch actually goes
    final case class StageRow(id: Int, name: String, tasks: Int,
        wallMs: Long, runMs: Long, cpuMs: Long, deserMs: Long,
        gcMs: Long, schedDelayMs: Long)
    val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        private val taskAgg = new java.util.concurrent.ConcurrentHashMap[
          Int, (Long, Long, Long, Long, Long, Int)]()
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) taskAgg.merge(te.stageId,
            (m.executorRunTime, m.executorCpuTime / 1000000,
              m.executorDeserializeTime, m.jvmGCTime,
              te.taskInfo.launchTime, 1),
            (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3,
              a._4 + b._4, math.min(a._5, b._5), a._6 + b._6))
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val si = sc.stageInfo
          val wall = (for {s <- si.submissionTime; c <- si.completionTime}
            yield c - s).getOrElse(-1L)
          val (run, cpu, deser, gc, _, n) = taskAgg.getOrDefault(
            si.stageId, (0L, 0L, 0L, 0L, 0L, 0))
          stages.add(StageRow(si.stageId,
            si.name.takeWhile(_ != '\n').take(60), n, wall, run, cpu,
            deser, gc, math.max(0L, wall * n - run - deser)))
        }
      })
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryProgressEvent): Unit = progresses.add(e.progress)
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryTerminatedEvent): Unit = ()
      })

    // in-JVM sampling profiler over the executor task threads: every
    // ~40 ms, record the top interesting frames of every RUNNING task
    // thread (park/idle samples are skipped) — names what addBatch
    // blocks on without racing an external jstack against the run
    val frameCounts = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]()
    val samplerOn = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sampler = new Thread(() => {
      while (true) {
        if (samplerOn.get) {
          val all = Thread.getAllStackTraces
          all.forEach { (t, frames) =>
            if (t.getName.startsWith("Executor task launch") &&
                frames.nonEmpty &&
                !frames.head.toString.contains("Unsafe.park")) {
              val sig = frames.take(14).map(_.toString)
                .filter(f => f.startsWith("org.apache.spark") ||
                  f.startsWith("graft") || f.startsWith("java.io") ||
                  f.startsWith("java.util.zip") ||
                  f.startsWith("sun.nio") || f.startsWith("java.net"))
                .take(5).mkString(" <- ")
              val key = if (sig.isEmpty) frames.head.toString else sig
              frameCounts.computeIfAbsent(key,
                _ => new java.util.concurrent.atomic.AtomicLong())
                .incrementAndGet()
            }
          }
        }
        Thread.sleep(40)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    names.foreach { n =>
      progresses.clear()
      stages.clear()
      frameCounts.clear()
      val fn = SparkEntry.queries(n)
      samplerOn.set(true)
      val t0 = System.nanoTime()
      val rows = fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      samplerOn.set(false)
      // the listener bus is async — give it a moment to drain
      Thread.sleep(1500)
      println(f"%n========== $n rows=$rows total=$sec%.2f s ==========")
      import scala.jdk.CollectionConverters._
      val ps = progresses.asScala.toSeq.sortBy(_.timestamp)
      var batchSum = 0L
      ps.foreach { p =>
        val d = p.durationMs.asScala.map { case (k, v) =>
          k -> v.longValue() }.toMap
        batchSum += d.getOrElse("triggerExecution", 0L)
        println(s"batch=${p.batchId} rows=${p.numInputRows} " +
          "durationMs=" + d.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(","))
        val ss = p.stateOperators
        if (ss.nonEmpty)
          println("  state: " + ss.map(s =>
            s"op=${s.operatorName} commitMs=${s.commitTimeMs} " +
              s"rowsTotal=${s.numRowsTotal} mem=${s.memoryUsedBytes}")
            .mkString(" | "))
      }
      println(f"[probe] $n batches=${ps.size} " +
        f"triggerSum=${batchSum / 1000.0}%.2f s of $sec%.2f s total")
      import scala.jdk.CollectionConverters._
      val st = stages.asScala.toSeq
      println(f"[probe-stages] n=${st.size} wallSum=${st.map(_.wallMs).sum}" +
        f" runSum=${st.map(_.runMs).sum} cpuSum=${st.map(_.cpuMs).sum}" +
        f" deserSum=${st.map(_.deserMs).sum} gcSum=${st.map(_.gcMs).sum}")
      st.sortBy(-_.wallMs).take(12).foreach { s =>
        println(s"  stage=${s.id} tasks=${s.tasks} wall=${s.wallMs} " +
          s"run=${s.runMs} cpu=${s.cpuMs} deser=${s.deserMs} " +
          s"gc=${s.gcMs} [${s.name}]")
      }
      val fc = frameCounts.asScala.toSeq
        .map { case (k, v) => (v.get, k) }.sortBy(-_._1)
      println(s"[probe-samples] total=${fc.map(_._1).sum}")
      fc.take(10).foreach { case (cnt, sig) =>
        println(s"  $cnt × $sig")
      }
    }
    spark.stop()
  }
}
