package pipebench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.config.{GraftConfig, IntervalArgs}
import graft.engine.{ClusterEngine, EngineConf, ResultDocs, SegmentResult}
import graft.io.{KStore, Sinks, Sources}
import graft.operators.{Curation, Dedup}
import graft.streaming.NearDupStream

import PipeBench._

/** Checks and op counts of one cycle. */
final class Tally {
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += what
  }
  /** A timed call: a throw is a failed operation, not a crashed cycle. */
  def op[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f) catch { case e: Exception =>
      e.printStackTrace()
      failures += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"
      None
    }
  }
}

/** `optimal-k` over the whole window, then `cluster` over it with the
  * k-store, for the KMeans / BisectingKMeans / GaussianMixture grid; then
  * arriving days, each one `cluster` pass that reads the k-store, followed
  * by k-store lookups. Mirrors `graft.Main.run`. */
final class ClusterKSearch(inputs: String) extends Workload {
  private implicit val formats: Formats = DefaultFormats
  val Algorithms = Seq("KMeans", "BisectingKMeans", "GaussianMixture")
  val gc = GraftConfig(algorithms = Algorithms, threadNum = 1,
    args = Map("daily" -> IntervalArgs(10000000L),
      "monthly" -> IntervalArgs(100000000L)))
  val Date = "2026-01-01"
  val Arrivals = 3
  val LookupsPerArrival = 3
  val window = s"$inputs/metrics.csv"
  val days: Seq[String] = listFiles(s"$inputs/days")
  val planted: Map[String, Int] = readJson(s"$inputs/truth.json")
    .extract[Map[String, Int]]
  val inputBytes: Long = Files.size(Paths.get(window))
  private val segStats = mutable.HashMap.empty[String, Map[(String, String), (Long, Long)]]
  // Share of segments a cluster pass found in the k-store. Not a check:
  // KStore.write overwrites the whole store, not only its task's
  // partition, so the store keeps the grid's last algorithm only.
  private var kstoreHits = 0L
  private var kstoreAsks = 0L

  def conf(task: (String, String, String, String, String)): EngineConf = {
    val (macroCol, microCol, xCol, yCol, alg) = task
    EngineConf(macroCol = macroCol, microCol = microCol, xCol = xCol,
      yCol = yCol, algorithm = alg, startK = gc.startK, stopK = gc.stopK,
      iterNum = gc.iterNum, thresholdedIterNum = gc.thresholdedIterNum,
      silhouetteThreshold = gc.silhouetteThreshold,
      oldSilhouetteThreshold = gc.oldSilhouetteThreshold,
      d3NormalizeMax = gc.d3NormalizeMax, dontScale = gc.dontScale)
  }

  def tag(c: EngineConf): String =
    s"${c.algorithm}-${c.macroCol}-${c.microCol}-${c.xCol}-${c.yCol}"

  /** (rows, distinct points) per segment of an input file. */
  def stats(spark: SparkSession, path: String): Map[(String, String), (Long, Long)] =
    segStats.getOrElseUpdate(path, Sources.readCsv(spark, path)
      .groupBy(col("customer_id"), col("application_id"))
      .agg(count(lit(1)), countDistinct(col("cpu_percent"), col("ram_usage")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap)

  /** One verb run, as `graft.Main.run` does it; returns result rows. */
  def verb(spark: SparkSession, b: Body, t: Tally, interval: String,
      input: String, outDir: String,
      searchK: Boolean): Seq[(String, Seq[SegmentResult])] = {
    val df = b.span("io.source") {
      val raw = Sources.readCsv(spark, input)
      val limit = gc.args.get(interval).map(_.limit)
        .getOrElse(gc.args(gc.optimalKarg).limit)
      Sources.downsample(raw, limit, seed = 42L)
    }
    val kStorePath = s"$outDir/kstore"
    gc.taskGrid.map { task =>
      val c = conf(task)
      def collectFor(r: Dataset[SegmentResult]) =
        b.untimed(r.collect().toSeq)
      val rows = if (searchK) {
        val results = b.span("engine.ksearch") {
          val r = ClusterEngine.run(df, c).persist(); r.count(); r }
        val rows = collectFor(results)
        b.span("io.kstore_write") {
          KStore.write(KStore.fromResults(results, c, Date), kStorePath)
          results.unpersist()
        }
        rows
      } else {
        val cached = b.span("io.kstore_read") {
          try KStore.read(spark, kStorePath, c)
          catch { case _: Exception => Map.empty[(String, String), graft.engine.KEntry] }
        }
        kstoreHits += cached.size
        kstoreAsks += b.untimed(stats(spark, input)).count(_._2._2 >= 2)
        val results = b.span("engine.cluster") {
          val r = ClusterEngine.run(df, c, cached).persist(); r.count(); r }
        val rows = collectFor(results)
        b.span("engine.docs") {
          Sinks.writeJson(ResultDocs.original(results, c, Date),
            s"$outDir/${interval}_originalCollection/${tag(c)}")
          Sinks.writeJson(ResultDocs.d3(results, c, Date),
            s"$outDir/${interval}_d3Collection/${tag(c)}")
          results.unpersist()
        }
        rows
      }
      c.algorithm -> rows
    }
  }

  /** Every segment with >= 2 distinct points yields one result with
    * 2 <= k <= 10 whose cluster sizes sum to the capped segment size. */
  def checkResults(t: Tally, what: String,
      st: Map[(String, String), (Long, Long)],
      byAlg: Seq[(String, Seq[SegmentResult])]): Seq[String] =
    byAlg.flatMap { case (alg, rows) =>
      val bySeg = rows.groupBy(r => (r.macroId, r.microId))
      st.foreach { case (seg, (n, distinct)) =>
        val got = bySeg.getOrElse(seg, Nil)
        if (distinct >= 2) {
          t.check(got.size == 1, s"$what $alg $seg: ${got.size} results")
          got.headOption.foreach { r =>
            t.check(r.k >= 2 && r.k <= 10, s"$what $alg $seg: k=${r.k}")
            t.check(r.clusters.map(_.clusterSize).sum == math.min(n, 100000L),
              s"$what $alg $seg: sizes ${r.clusters.map(_.clusterSize).sum} != $n")
          }
        } else t.check(got.isEmpty, s"$what $alg $seg: degenerate segment kept")
      }
      rows.map(r => s"$what|$alg|${r.macroId}|${r.microId}|${r.k}|" +
        r.clusters.map(_.clusterSize).sorted.mkString(","))
    }

  def cycle(spark: SparkSession, b: Body, dir: String): Cycle = {
    val t = new Tally
    kstoreHits = 0L; kstoreAsks = 0L
    val out = s"$dir/out"
    val digest = mutable.ArrayBuffer.empty[String]
    val (batch, batchS) = b.timed(t.op("batch pass") {
      val ks = verb(spark, b, t, gc.optimalKarg, window, out, searchK = true)
      val cl = verb(spark, b, t, "monthly", window, out, searchK = false)
      (ks, cl)
    })
    var quality = Double.NaN
    batch.foreach { case (ks, cl) => b.untimed {
      val st = stats(spark, window)
      digest ++= checkResults(t, "optimal-k", st, ks)
      digest ++= checkResults(t, "cluster", st, cl)
      val matches = ks.flatMap(_._2).map(r =>
        planted.get(s"${r.macroId}|${r.microId}").contains(r.k))
      quality = matches.count(identity).toDouble / math.max(1, matches.size)
    }}
    val appends = mutable.ArrayBuffer.empty[Double]
    val lookups = mutable.ArrayBuffer.empty[Double]
    val grid = gc.taskGrid.map(conf)
    for (a <- 0 until Arrivals) {
      val day = days(a % days.size)
      val (res, s) = b.timed(t.op(s"day $a")(
        verb(spark, b, t, "daily", day, out, searchK = false)))
      res.foreach { r =>
        appends += s
        b.untimed(digest ++= checkResults(t, s"day$a", stats(spark, day), r))
      }
      for (l <- 0 until LookupsPerArrival) {
        val c = grid(l % grid.size)
        val (m, ms) = b.timed(t.op("k-store lookup")(
          b.span("io.kstore_read")(KStore.read(spark, s"$out/kstore", c))))
        m.foreach(_ => lookups += ms * 1e3)
      }
    }
    Cycle(rows = stats(spark, window).values.map(_._1).sum, batchS = batchS,
      appendS = appends.toSeq, lookupMs = lookups.toSeq, quality = quality,
      outRatio = b.untimed(dirBytes(out)).toDouble / inputBytes,
      failures = t.failures.toSeq, attempted = t.attempted, digest = digestOf(digest),
      extra = Map("k_match_share" -> quality,
        "kstore_hit_share" -> kstoreHits.toDouble / math.max(1L, kstoreAsks)))
  }
}

/** `curate`, then the `dedup` verb's chain and `neardup-index` over the
  * same documents; then a series of arriving batches, each `curate
  * --append` and one `neardup-stream` drain against the index (the
  * stream's state persists from one batch to the next), followed by
  * near-dup lookups of small probe sets against the persisted index. */
final class CorpusCurate(inputs: String) extends Workload {
  private implicit val formats: Formats = DefaultFormats
  val gc = GraftConfig()
  val RowsPerShard = 2000L
  val Arrivals = 3
  val LookupsPerArrival = 2
  val docsPath = s"$inputs/docs.parquet"
  val arrivals: Seq[String] = listFiles(s"$inputs/arrivals")
  val probes: Seq[String] = listFiles(s"$inputs/probes")
  private val truth = readJson(s"$inputs/truth.json")
  val planted: Set[Long] = ((truth \ "exact_copies").extract[Seq[Long]] ++
    (truth \ "near_copies").extract[Seq[Long]]).toSet
  val exactCopies: Set[Long] = (truth \ "exact_copies").extract[Seq[Long]].toSet
  val inputBytes: Long = Files.size(Paths.get(docsPath))

  def shipped(spark: SparkSession, dir: String): Seq[(Long, String)] =
    spark.read.parquet(Seq("train", "val", "test").map(s => s"$dir/split=$s")
        .filter(p => Files.exists(Paths.get(p))): _*)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq

  /** Manifest row counts per split equal the card's curated split counts. */
  def checkManifests(spark: SparkSession, t: Tally, dir: String): Unit = {
    val card = readJson(s"$dir/card.json") \ "curated_profile" \ "splits"
    for (sp <- Seq("train", "val", "test")
        if Files.exists(Paths.get(s"$dir/manifest_$sp"))) {
      val manifest = spark.read.parquet(s"$dir/manifest_$sp")
        .agg(sum(col("n_rows"))).head().getLong(0)
      val carded = (card \ sp).extractOpt[Long].getOrElse(-1L)
      t.check(manifest == carded, s"$dir split $sp: manifest $manifest != card $carded")
    }
  }

  def cycle(spark: SparkSession, b: Body, dir: String): Cycle = {
    val t = new Tally
    val curated = s"$dir/curated"
    val index = s"$dir/index"
    val docs = spark.read.parquet(docsPath)
    val nDocs = b.untimed(docs.count())
    val digest = mutable.ArrayBuffer.empty[String]
    val (batch, batchS) = b.timed(t.op("batch pass") {
      b.span("operators.curate")(
        Curation.curate(spark, docs, curated, RowsPerShard))
      val pairs = b.span("operators.neardup") {
        val p = Dedup.minhashNearDups(docs, "doc_id", "text",
          numHashes = gc.minhashNumHashes, bands = gc.minhashBands,
          threshold = gc.dedupThreshold, shingleN = gc.shingleN,
          maxBucket = gc.maxBucket).persist()
        Sinks.writeParquet(p, s"$dir/dedup/pairs")
        p
      }
      b.span("operators.components")(Sinks.writeParquet(
        Dedup.connectedComponents(pairs).groupBy(col("component"))
          .agg(count(lit(1)).as("family_size")), s"$dir/dedup/families"))
      b.span("operators.keep") {
        Sinks.writeParquet(Dedup.keepCanonical(docs, "doc_id", pairs),
          s"$dir/dedup/kept")
        pairs.unpersist()
      }
      b.span("operators.neardup_index")(
        Dedup.writeReplayableIndex(docs, "doc_id", "text", index))
    })
    var quality = Double.NaN
    batch.foreach { _ => b.untimed {
      val ship = shipped(spark, curated)
      t.check(ship.map(_._2).distinct.size == ship.size, "curate: shipped texts repeat")
      t.check(!ship.exists(d => exactCopies(d._1)), "curate: a planted exact copy shipped")
      checkManifests(spark, t, curated)
      val kept = spark.read.parquet(s"$dir/dedup/kept")
        .select(col("doc_id"), col("text")).collect()
        .map(r => r.getLong(0) -> r.getString(1))
      t.check(kept.map(_._2).distinct.length == kept.length, "dedup: kept texts repeat")
      val keptIds = kept.map(_._1).toSet
      quality = planted.count(id => !keptIds(id)).toDouble / math.max(1, planted.size)
      digest ++= ship.map(d => s"curate|${d._1}") ++ kept.map(d => s"kept|${d._1}")
    }}
    val appends = mutable.ArrayBuffer.empty[Double]
    val lookups = mutable.ArrayBuffer.empty[Double]
    // the stream's source directory: benchmark input, not program output
    val src = s"$dir/arrivals"
    val matches = s"$dir/matches"
    val outputs = Seq(curated, s"$dir/dedup", index, matches, s"$dir/checkpoint")
    Files.createDirectories(Paths.get(src))
    var probe = 0
    for (a <- 0 until Arrivals) {
      val file = arrivals(a % arrivals.size)
      val (ok, s) = b.timed(t.op(s"arrival $a") {
        b.span("operators.curate_append")(Curation.curateAppend(spark,
          spark.read.parquet(file), curated, RowsPerShard))
        b.untimed(Files.copy(Paths.get(file), Paths.get(s"$src/batch_$a.parquet"),
          StandardCopyOption.REPLACE_EXISTING))
        b.span("streaming.neardup")(NearDupStream.runToCompletion(spark, src,
          index, matches, s"$dir/checkpoint", threshold = gc.dedupThreshold))
      })
      ok.foreach(_ => appends += s)
      for (_ <- 0 until LookupsPerArrival) {
        val p = probes(probe % probes.size)
        probe += 1
        val (hits, ms) = b.timed(t.op("near-dup lookup")(
          b.span("operators.neardup_screen") {
            val meta = spark.read.parquet(s"$index/meta").head()
            Dedup.minhashScreenReplayable(spark.read.parquet(s"$index/bands"),
              spark.read.parquet(s"$index/sh"), spark.read.parquet(p),
              "doc_id", "text", meta.getInt(0), meta.getInt(1),
              gc.dedupThreshold, meta.getInt(2)).collect()
          }))
        hits.foreach { h =>
          lookups += ms * 1e3
          digest ++= h.map(r =>
            s"lookup|${Paths.get(p).getFileName}|${r.mkString("|")}")
        }
      }
    }
    b.untimed {
      val ship = shipped(spark, curated)
      t.check(ship.map(_._2).distinct.size == ship.size, "append: shipped texts repeat")
      checkManifests(spark, t, curated)
      val m = NearDupStream.readOutput(spark, matches).collect()
      t.check(m.nonEmpty, "stream: no near-dup matches for planted copies")
      digest ++= m.map(r => s"stream|${r.mkString("|")}")
      digest ++= ship.map(d => s"grown|${d._1}")
    }
    Cycle(rows = nDocs, batchS = batchS, appendS = appends.toSeq,
      lookupMs = lookups.toSeq, quality = quality,
      outRatio = b.untimed(outputs.map(dirBytes).sum).toDouble / inputBytes,
      failures = t.failures.toSeq, attempted = t.attempted, digest = digestOf(digest),
      extra = Map("dedup_recall" -> quality))
  }
}
