package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.streaming.FileIngest

/** The session factory is the one place session-wide settings live:
  * a factory-built session carries them, and no other source file
  * builds a session of its own. */
class SessionsSpec extends GraftSuite {

  test("factory session: scratch local dir, bypass threshold, UTC, AQE") {
    val conf = spark.sparkContext.getConf
    val local = Paths.get(conf.get("spark.local.dir")).toAbsolutePath.normalize
    val sibling = Paths.get(Scratch.dir("sessions_spec_")).toAbsolutePath
      .normalize
    assert(local.getParent === sibling.getParent,
      s"spark.local.dir $local is outside the Scratch root")
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") ===
      Sessions.bypassMergeThreshold.toString)
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") === "true")
    assert(conf.get("spark.app.name") === Sessions.AppName)
  }

  test("Sessions.scala holds the only SparkSession builder in src/") {
    val needle = "SparkSession" + ".builder()"
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the project root, not $src")
    val files = Files.walk(src).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    def hits(p: Path): Int = java.util.regex.Pattern.quote(needle).r
      .findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")).size
    val builders = files.filter(hits(_) > 0).map(_.getFileName.toString)
    assert(builders === List("Sessions.scala"))
    assert(files.filter(_.getFileName.toString == "Sessions.scala")
      .map(hits).sum === 1)
  }
}

/** `FileIngest.withPartitions` scopes a shuffle width to one runner
  * body, and the runners' default width keeps their small stateful
  * shuffles on the bypass writer. */
class StreamWidthSpec extends GraftSuite {

  test("withPartitions restores the previous width when the body throws") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val err = intercept[IllegalStateException] {
      FileIngest.withPartitions(spark, Some(3)) {
        assert(spark.conf.get(key) === "3")
        throw new IllegalStateException("body failed")
      }
    }
    assert(err.getMessage === "body failed")
    assert(spark.conf.get(key) === before)
    // None inherits the live width untouched
    FileIngest.withPartitions(spark, None) {
      assert(spark.conf.get(key) === before)
    }
  }

  test("runner default width stays within the bypass-merge threshold") {
    // None would inherit the session width, which may exceed it
    assert(FileIngest.DefaultWidth.exists(_ <= Sessions.bypassMergeThreshold))
  }
}
