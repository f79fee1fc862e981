package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The `dml` and `reads` workloads: declared queries called through
  * `SparkEntry.queries`, each result fully materialized through a
  * `noop` write (a count would let Catalyst prune the projections).
  */
final class QueryWorkload(spark: SparkSession, dataDir: String, workDir: String,
    rec: Recorder, names: Seq[String], seed: Long, inject: Option[String]) {

  private val fns: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries ++ inject.map(n =>
      n -> ((_: SparkSession, _: String) => throw new IllegalStateException("injected failure")))
  private val all = names ++ inject

  val checkDir = s"$workDir/check"
  val tmpDir: String = sys.props("java.io.tmpdir")

  /** Oracle SQL of the workload's queries that have one. */
  def oracles: Map[String, String] = SparkEntry.oracleSql.filter(kv => all.contains(kv._1))

  /** Set-up pass: every query once, its result written as parquet for
    * the output check (oracle or schema), which also warms the JIT,
    * codegen and the engine's first-call index builds.
    */
  def checkPass(): Unit = all.foreach { n =>
    rec.run(n, "query", 0) {
      fns(n)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n")
    }
    spark.catalog.clearCache()
  }

  /** One pass over every query, in an order drawn from the seed;
    * passes up to 0 are untimed warm-up passes.
    */
  def pass(p: Int): Unit =
    new Random(seed * 1000003L + p).shuffle(all).foreach { n =>
      val before = if (rec.traced && p > 0) Listing(tmpDir) else Map.empty[String, Long]
      val op = rec.run(n, "query", p) {
        val df = rec.phase("build")(fns(n)(spark, dataDir))
        if (rec.traced) rec.phase("plan")(df.queryExecution.executedPlan)
        rec.phase("execute")(df.write.format("noop").mode("overwrite").save())
      }
      if (rec.traced && p > 0) {
        val added = Listing(tmpDir).filter { case (f, b) => !before.get(f).contains(b) }
        op.layer ++= Seq("lake.files_written" -> added.size,
          "lake.bytes_written" -> added.values.sum)
      }
      spark.catalog.clearCache()
    }
}
