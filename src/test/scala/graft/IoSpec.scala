package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{ClusterEngine, EngineConf}
import graft.io.{KStore, Sources}

/** Dirty-data CSV semantics (SURVEY.md §5.2: BOM header, shifted rows,
  * scientific-notation customer) + k-store round-trip + CLI run. The CSV
  * fixture is generated here with the reference data's wart *shapes* —
  * no reference bytes are copied. */
class SqlSurfaceSpec extends GraftSuite {

  test("createViews exposes every table and native function to spark.sql") {
    Tables.createViews(spark, sf)
    Tables.names.foreach { n =>
      assert(spark.sql(s"SELECT count(*) FROM $n").head().getLong(0) > 0,
        s"view $n empty")
    }
    // events view carries the converted timestamp
    assert(spark.sql("SELECT ts FROM events LIMIT 1").schema.head
      .dataType.typeName === "timestamp")
    // the native codegen expression works inside plain SQL
    val c = spark.sql(
      "SELECT array_cosine(cast(embedding AS array<double>), " +
        "cast(embedding AS array<double>)) AS c FROM embeddings LIMIT 1")
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-9)
  }
}

class IoSpec extends GraftSuite {

  private def writeFixture(dir: Path): String = {
    val rows = new StringBuilder
    rows.append("﻿") // UTF-8 BOM, like the reference's daily_data.csv
    rows.append("ram_usage,cpu_percent,customer_id,application_id,ram_limit,time\n")
    for (i <- 1 to 40) {
      val cust = if (i % 10 == 0) "14E+31" else s"cust${i % 3}"
      rows.append(s"${i * 10.0},${i % 100}.5,$cust,app${i % 2},400.0,${1000000L + i}\n")
    }
    // two shifted rows (an extra 7th field) — PERMISSIVE must not throw
    rows.append("10.0,1.5,custX,app1,400.0,Teknosa,99\n")
    rows.append("11.0,2.5,custX,app1,400.0,Teknosa,98\n")
    val f = dir.resolve("dirty.csv")
    Files.write(f, rows.toString.getBytes(StandardCharsets.UTF_8))
    f.toString
  }

  private lazy val fixtureDir = Files.createTempDirectory("graft_io")

  test("PERMISSIVE CSV scan survives BOM, shifted rows, 14E+31 customer") {
    val path = writeFixture(fixtureDir)
    val schema = StructType(Seq(
      StructField("ram_usage", DoubleType),
      StructField("cpu_percent", DoubleType),
      StructField("customer_id", StringType),
      StructField("application_id", StringType),
      StructField("ram_limit", DoubleType),
      StructField("time", LongType),
      StructField(Sources.CorruptRecordCol, StringType)))
    val df = Sources.readCsv(spark, path, Some(schema)).cache()
    assert(df.count() === 42)
    // BOM must not corrupt the first column name's data
    assert(df.filter(col("ram_usage") === 10.0).count() >= 1)
    // shifted rows land in the quarantine column, not silently truncated
    assert(df.filter(col(Sources.CorruptRecordCol).isNotNull).count() === 2)
    // the Excel-mangled customer flows through as a plain string
    assert(df.filter(col("customer_id") === "14E+31").count() === 4)
    // inferSchema path also parses (header without BOM garbage)
    val inferred = Sources.readCsv(spark, path)
    assert(inferred.columns.take(2).toSeq === Seq("ram_usage", "cpu_percent"))
  }

  test("ORC round trip preserves rows and pushes filter + projection " +
      "into the scan") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_orc").toString
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    docs.write.mode("overwrite").orc(s"$root/orc")
    val back = Sources.readOrc(spark, s"$root/orc")
      .filter($"n_chars" >= 200)
      .select($"doc_id", $"lang", $"n_chars")
    // the predicate must reach the ORC scan, and the scan must read
    // only the 3 projected columns (not text/source)
    val physical = back.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") &&
      physical.contains("GreaterThanOrEqual(n_chars"),
      s"filter did not reach the ORC scan:\n$physical")
    val scanSchema = "ReadSchema:.*".r.findFirstIn(physical).getOrElse("")
    assert(!scanSchema.contains("text") && !scanSchema.contains("source"),
      s"projection not pruned at the ORC scan: $scanSchema")
    // and the data round-trips exactly
    val expected = docs.filter($"n_chars" >= 200)
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    assert(back.orderBy($"doc_id").collect().map(_.toSeq).toSeq === expected)
  }

  test("downsample keeps small inputs and samples large ones with a seed") {
    val df = Tables.lineitem(spark, sf)
    assert(Sources.downsample(df, 1000000L, 1L).count() === df.count())
    val sampled = Sources.downsample(df, 100L, 1L).count()
    // Bernoulli sampling: expected 100, loosely bounded
    assert(sampled > 30 && sampled < 300)
    assert(Sources.downsample(df, 100L, 1L).count() === sampled) // seeded
  }

  test("k-store round-trip: write from results, read as broadcastable map") {
    val conf = EngineConf("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", fixedK = Some(3), iterNum = 1)
    val results = ClusterEngine.run(Tables.lineitem(spark, sf), conf)
    val path = fixtureDir.resolve("kstore").toString
    KStore.write(KStore.fromResults(results, conf, "2026-08-12"), path)
    val loaded = KStore.read(spark, path, conf)
    assert(loaded.size === 6)
    assert(loaded.values.forall(e => e.k === 3 &&
      e.silhouette >= -1.0 && e.silhouette <= 1.0))
    // wrong task key reads nothing
    val bisect = conf.copy(algorithm = "BisectingKMeans")
    val other = KStore.read(spark, path, bisect)
    assert(other.isEmpty)
    // a second task key upserts beside the first, and rewriting a key
    // replaces its own partition without duplicating or dropping others
    val bisectRecords = KStore.fromResults(results, conf, "2026-08-13")
      .withColumn("algorithm", lit(bisect.algorithm))
    KStore.write(bisectRecords, path)
    KStore.write(KStore.fromResults(results, conf, "2026-08-14"), path)
    assert(KStore.readDf(spark, path, conf).count() === 6)
    assert(KStore.read(spark, path, bisect) === loaded)
    assert(KStore.readDf(spark, path, conf).select("date").distinct()
      .collect().map(_.get(0).toString).toSeq === Seq("2026-08-14"))
  }

  test("M11 re-cluster path: degraded cached silhouette triggers k re-search") {
    val conf = EngineConf("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", startK = 2, stopK = 4, iterNum = 1,
      thresholdedIterNum = 2)
    // cached entry claims an unattainable silhouette 0.99 with k=2 →
    // thresholded search fails the 0.8·0.99 bar → engine re-derives k
    val cached = Map(("A", "F") -> graft.engine.KEntry(2, 0.99))
    val res = ClusterEngine.run(Tables.lineitem(spark, sf), conf, cached)
      .collect().find(r => r.macroId == "A" && r.microId == "F").get
    assert(res.k >= 2 && res.k <= 4)
    // and with an easily-satisfied cache the cached k sticks
    val easy = Map(("A", "F") -> graft.engine.KEntry(2, -1.0))
    val res2 = ClusterEngine.run(Tables.lineitem(spark, sf), conf, easy)
      .collect().find(r => r.macroId == "A" && r.microId == "F").get
    assert(res2.k === 2)
  }

  test("JSONL scan quarantines malformed lines with the raw line " +
      "preserved; splitQuarantine separates clean from evidence") {
    import org.apache.spark.sql.types.{LongType, StringType}
    val dir = Files.createTempDirectory("graft_jsonl")
    val content =
      """{"doc_id": 1, "text": "clean one"}
        |{"doc_id": 2, "text": "clean two"}
        |{"doc_id": 3, "text": "broken
        |not json at all
        |{"doc_id": 4, "text": "clean four"}
        |""".stripMargin
    val f = dir.resolve("docs.jsonl")
    Files.write(f, content.getBytes(StandardCharsets.UTF_8))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val df = Sources.readJsonl(spark, f.toString, Some(schema)).cache()
    val (clean, bad) = Sources.splitQuarantine(df)
    assert(clean.columns.toSeq === Seq("doc_id", "text"))
    assert(clean.collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 4L))
    // both malformed lines preserved verbatim for the audit trail
    val quarantined = bad.collect()
      .map(_.getAs[String](Sources.CorruptRecordCol)).sorted
    assert(quarantined.length === 2)
    assert(quarantined.exists(_.contains("not json at all")))
    // schema-less read still works (no quarantine column, nothing lost
    // silently beyond Spark's inference semantics)
    val inferred = Sources.readJsonl(spark, f.toString)
    assert(inferred.count() >= 3)
    // a frame WITHOUT the quarantine column splits to (all, empty)
    val (c2, b2) = Sources.splitQuarantine(clean)
    assert(c2.count() === 3 && b2.count() === 0)
  }

}

class JsonlEdgeSpec extends GraftSuite {
  import java.nio.file.Files
  import java.nio.charset.StandardCharsets
  import graft.io.Sources

  test("an all-corrupt JSONL file quarantines every line and yields " +
      "zero clean rows instead of failing the read") {
    val dir = Files.createTempDirectory("graft_jsonl_bad")
    val f = dir.resolve("junk.jsonl")
    Files.write(f, "not json\nstill not json\n<xml even/>\n"
      .getBytes(StandardCharsets.UTF_8))
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // the documented recipe: cache the parsed frame BEFORE quarantine-
    // side actions — Spark refuses corrupt-column-only queries off the
    // raw file (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val parsed = Sources.readJsonl(spark, f.toString, Some(schema)).cache()
    val (clean, bad) = Sources.splitQuarantine(parsed)
    assert(clean.count() === 0)
    assert(bad.count() === 3)
    parsed.unpersist()
  }

  test("screening against an EMPTY eval index reports nothing and " +
      "does not fail") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_empty_idx").toString
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    graft.operators.Decontaminate.writeEvalIndex(empty, "doc_id",
      "text", s"$root/idx", w = 4)
    val train = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    assert(graft.operators.Decontaminate.overlapAgainstIndex(spark,
      s"$root/idx", train, "doc_id", "text").count() === 0)
  }
}
