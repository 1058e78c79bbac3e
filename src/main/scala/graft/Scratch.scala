package graft

/** Scratch directories for queries that materialize artifacts
  * (persisted indexes, streaming sources/checkpoints, register
  * artifacts) and for `spark.local.dir`: everything lives under ONE
  * per-JVM root that a shutdown hook deletes recursively, so repeated
  * runs never accumulate dead copies of the corpus. Deletion is
  * best-effort — a failure at exit must never mask the run's outcome.
  *
  * Placement: `$SPARK_GRAFT_SCRATCH_DIR` when set (`off` forces the
  * system temp dir), else `/dev/shm` when writable AND the host has
  * headroom ([[tmpfsHeadroomOk]]), else the system temp dir. tmpfs
  * makes shuffle and artifact file creation far cheaper than a disk
  * temp dir (measured in OPTIMIZATION_r17.md), but spill exists because
  * memory ran out, so a RAM-backed tier is only used when the host has
  * RAM to spare. Placement changes WHERE bytes land, never what any
  * query computes. */
object Scratch {

  /** tmpfs is chosen only when available RAM ≥ this × max heap: the
    * scratch tier must never compete with the heap (or the page
    * cache) for memory the workload itself needs. 4× the heap leaves
    * room for the heap itself, the shuffle/artifact bytes, and OS
    * cache — conservative by design (the fallback is merely disk). */
  val TmpfsHeadroomFactor: Long = 4L

  /** MemAvailable from /proc/meminfo in bytes (-1 off Linux / on
    * read failure — which fails the gate, the conservative side). */
  def memAvailableBytes(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines()
        .find(_.startsWith("MemAvailable:"))
        .map(_.split("\\s+")(1).toLong * 1024L)
        .getOrElse(-1L)
      finally src.close()
    } catch { case _: Exception => -1L }

  /** The headroom gate, parameterized for the spec: does a host with
    * `availBytes` of reclaimable RAM have room for a tmpfs scratch
    * tier next to a `maxHeapBytes` JVM? */
  def tmpfsHeadroomOk(availBytes: Long, maxHeapBytes: Long): Boolean =
    availBytes >= TmpfsHeadroomFactor * maxHeapBytes

  private lazy val root: java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    val base = sys.env.get("SPARK_GRAFT_SCRATCH_DIR") match {
      case Some("off") => None
      case Some(dir) => Some(Paths.get(dir))
      case None =>
        Some(Paths.get("/dev/shm")).filter(p =>
          Files.isDirectory(p) && Files.isWritable(p) &&
            tmpfsHeadroomOk(memAvailableBytes(),
              Runtime.getRuntime.maxMemory))
    }
    val r = base match {
      case Some(b) => Files.createTempDirectory(b, "graft_scratch_")
      case None => Files.createTempDirectory("graft_scratch_")
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(r)))
    r
  }

  /** Per-JVM `spark.local.dir` under the self-cleaning root, so a
    * killed run's block-manager dirs cannot outlive the root. Resolved
    * at the first session build; stable for the JVM's lifetime. */
  lazy val sparkLocalDir: String = dir("spark_local_")

  /** A fresh directory under the self-cleaning root. */
  def dir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(root, prefix).toString

  private def delete(p: java.nio.file.Path): Unit =
    try {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => try Files.deleteIfExists(f) catch {
          case _: java.io.IOException => ()
        })
    } catch { case scala.util.control.NonFatal(_) => () }
}
