package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.FileSystem

/** One timed call into the engine. Its phases are `build`, the public
  * call that returns a DataFrame (or performs a commit), `plan`, which
  * forces the physical plan (traced runs only), and `execute`, which
  * materializes the result. Each phase is timed from its own start;
  * inputs are prepared and outputs checked outside the operation, so
  * the phases should add up to its wall time.
  */
final class Op(val name: String, val kind: String, val pass: Int) {
  var startNs = 0L
  var endNs = 0L
  var error: Option[String] = None
  val phases = ArrayBuffer.empty[(String, Long, Long)]
  var fsRead = 0L
  var fsWritten = 0L
  /** Layer numbers the traced run attaches (Spark jobs, lake listings). */
  val layer = mutable.LinkedHashMap.empty[String, Any]

  def ok: Boolean = error.isEmpty
  def ms: Double = (endNs - startNs) / 1e6

  def toMap: Map[String, Any] = Map(
    "name" -> name, "kind" -> kind, "pass" -> pass, "ms" -> ms,
    "start_ms" -> Clock.relMs(startNs), "error" -> error,
    "phases" -> phases.map { case (n, s, e) => Map(
      "name" -> n, "start_ms" -> Clock.relMs(s), "ms" -> (e - s) / 1e6) },
    "fs_bytes_read" -> fsRead, "fs_bytes_written" -> fsWritten,
    "layer" -> layer)
}

/** Wall clock shared by operations and Spark listener events: nanoTime
  * for durations, mapped onto epoch milliseconds (the listener's
  * clock) through one anchor; reported times are relative to JVM start.
  */
object Clock {
  val jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6
  def relMs(ns: Long): Double = epochMs(ns) - jvmStartMs
}

/** Hadoop `file`-scheme byte counters; the local FS keeps its read and
  * write operation counters at zero, so bytes are all it offers.
  */
object FsCounters {
  def apply(): (Long, Long) =
    Option(FileSystem.getGlobalStorageStatistics.get("file")).map { s =>
      (Option(s.getLong("bytesRead")).map(_.longValue).getOrElse(0L),
        Option(s.getLong("bytesWritten")).map(_.longValue).getOrElse(0L))
    }.getOrElse((0L, 0L))
}

/** Runs operations in a closed loop (one client: the next call starts
  * when the previous one returned) and keeps every record in memory.
  */
final class Recorder(val traced: Boolean) {
  val ops = ArrayBuffer.empty[Op]
  private var current: Op = _

  def run(name: String, kind: String, pass: Int)(body: => Unit): Op = {
    val op = new Op(name, kind, pass)
    val (r0, w0) = FsCounters()
    current = op
    op.startNs = System.nanoTime()
    try body
    catch { case e: Throwable =>
      op.error = Some(s"${e.getClass.getSimpleName}: ${
        Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
    }
    op.endNs = System.nanoTime()
    current = null
    val (r1, w1) = FsCounters()
    op.fsRead = r1 - r0
    op.fsWritten = w1 - w0
    ops += op
    op
  }

  /** Times one phase of the operation in progress. */
  def phase[T](name: String)(body: => T): T = {
    val op = current
    val t0 = System.nanoTime()
    try body
    finally op.phases += ((name, t0, System.nanoTime()))
  }
}

/** Live heap after a full collection, taken between operations. */
object Heap {
  def liveMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }
}

/** Named steps of the set-up, each timed from the previous mark (the
  * first from JVM start), reported next to `setup_s`.
  */
object Setup {
  val parts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var last = Clock.jvmStartMs.toDouble
  def mark(name: String): Unit = {
    val now = System.currentTimeMillis().toDouble
    parts(name) = (now - last) / 1000.0
    last = now
  }
}
