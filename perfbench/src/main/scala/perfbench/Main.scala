package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark harness: drives the engine through its public functions
  * only, times every call from outside, and writes a raw record
  * (every operation, its phases and, when traced, its Spark jobs) for
  * `run.py` to check and summarize.
  *
  * {{{
  * perfbench.Main --workload dml|reads|churn --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE [--inject NAME]
  * }}}
  */
object Main {
  /** One client thread; Spark gets the 4 cores of the reference box. */
  val Slots = 4
  /** Timed passes of a query workload, or rounds of churn, at the least. */
  val MinPasses = 2
  /** Untimed passes of a query workload after its check pass. */
  val WarmPasses = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val dataDir = opt("data")
    val workDir = opt("work")

    val spark = SparkSession.builder()
      .master(s"local[$Slots]")
      .config("spark.sql.shuffle.partitions", Slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Setup.mark("session")
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    val rec = new Recorder(traced)
    val heap = scala.collection.mutable.ArrayBuffer.empty[Double]
    var setupS = 0.0
    def startTimed(): Unit = {
      heap += Heap.liveMb()
      setupS = (System.currentTimeMillis() - Clock.jvmStartMs) / 1000.0
    }
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    workload match {
      case "dml" | "reads" =>
        val names = if (workload == "dml") Workloads.dml else Workloads.reads
        val w = new QueryWorkload(spark, dataDir, workDir, rec, names, seed, opt.get("inject"))
        w.checkPass()
        Setup.mark("check_pass")
        (1 - WarmPasses to 0).foreach(w.pass)
        Setup.mark("warm_passes")
        startTimed()
        val t0 = System.nanoTime()
        var p = 0
        while (p < MinPasses || System.nanoTime() - t0 < seconds * 1e9) {
          p += 1
          w.pass(p)
          heap += Heap.liveMb()
        }
        out ++= Seq("check_dir" -> w.checkDir, "oracles" -> w.oracles)
      case "churn" =>
        val w = new Churn(spark, dataDir, workDir, rec, seed)
        w.setup()
        startTimed()
        w.loop(seconds, MinPasses)
        heap += Heap.liveMb()
        w.finish()
        w.failures.foreach { case (_, why) => failures += (("check", why)) }
        w.finalFailure.foreach(why => failures += (("final", why)))
        out ++= Seq("churn" -> w.extra, "check_failures" -> w.failures.map(_._1))
    }

    val spans = tracer.map { t =>
      val jobs = t.attribute(rec.ops.toSeq)
      out("unattributed_jobs") = t.unattributed
      Tracer.spans(workload, rec.ops.toSeq) ++ jobs
    }
    out ++= Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "setup_s" -> setupS, "setup_parts" -> Setup.parts, "heap_live_mb" -> heap,
      "env" -> Map("nproc" -> Runtime.getRuntime.availableProcessors,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm" -> sys.props("java.runtime.version"), "spark" -> spark.version,
        "slots" -> Slots),
      "failures" -> failures.map { case (k, w) => Map("kind" -> k, "why" -> w) },
      "ops" -> rec.ops.map(_.toMap),
      "spans" -> spans)
    Files.writeString(Paths.get(opt("out")), Json.render(out))
    spark.stop()
  }
}
