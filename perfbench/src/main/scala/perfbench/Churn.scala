package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime
import java.util.zip.CRC32

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.lake.ManifestTable

/** One order row of the churn table, as the reference model holds it. */
final case class Order(key: Long, cust: Long, status: String, price: Double,
    date: LocalDateTime, prio: String) {
  def row: Row = Row(key, cust, status, price, date, prio)
  def cents: Long = math.round(price * 100)
  /** Same bytes as [[Churn.fingerprintCol]] hashes on the Spark side. */
  def crc: Long = {
    val c = new CRC32
    c.update(s"$key|$cust|$status|$cents|${date.toLocalDate.toEpochDay}|$prio".getBytes(UTF_8))
    c.getValue
  }
}

/** Reference state of the table, kept independently of ManifestTable:
  * additive fingerprints (row count and CRC sum overall, row count and
  * cents per priority) of the whole table, plus the rows of the keys
  * the loop can touch, so every read can be checked without another
  * Spark job.
  */
final class Model(var count: Long, var crcSum: Long,
    val byPrio: mutable.HashMap[String, (Long, Long)], hot: Iterable[Order]) {
  val rows = mutable.HashMap.empty[Long, Order]
  hot.foreach(o => rows(o.key) = o)

  def put(o: Order): Unit = {
    remove(o.key)
    rows(o.key) = o
    count += 1; crcSum += o.crc
    val (n, c) = byPrio.getOrElse(o.prio, (0L, 0L))
    byPrio(o.prio) = (n + 1, c + o.cents)
  }

  def remove(k: Long): Unit = rows.remove(k).foreach { o =>
    count -= 1; crcSum -= o.crc
    val (n, c) = byPrio(o.prio)
    byPrio(o.prio) = (n - 1, c - o.cents)
  }

  def fingerprint: (Long, Long) = (count, crcSum)
}

/** The `churn` workload: one long-lived ManifestTable over `orders`,
  * hidden-partitioned by key range like a CDC target, and a seeded
  * closed loop of small commits. Each commit is followed by three
  * reads: an aggregate over the latest version, a bloom-pruned point
  * read, and a time-travel read of an earlier version.
  */
final class Churn(spark: SparkSession, dataDir: String, workDir: String,
    rec: Recorder, seed: Long) {
  import Churn._

  private val rng = new Random(seed)
  private val root = s"$workDir/churn_table"
  private var table: ManifestTable = _
  private var model: Model = _
  private var schema: StructType = _
  private var nextKey = 0L
  private val versionFp = mutable.HashMap.empty[Int, (Long, Long)]
  private val submitted = ArrayBuffer.empty[Order]
  /** (operation index, expected, observed) for every checked read. */
  private val checks = ArrayBuffer.empty[(Int, String, String)]
  private var finalCheck: Option[String] = None
  val extra = mutable.LinkedHashMap.empty[String, Any]

  private def open(path: String): ManifestTable = new ManifestTable(spark, path,
    statsCols = Seq("o_orderkey"), bloomCol = Some("o_orderkey"),
    partitionSpec = Seq(s"truncate($KeyRange, o_orderkey)"))

  /** Input preparation: the reference model from plain DataFrame
    * reads of the source parquet (aggregates of every row, the rows
    * themselves for the keys the loop may touch) and the base table;
    * then an untimed warm-up round: one commit of each kind, then the
    * three reads.
    */
  def setup(): Unit = {
    val orders = spark.read.parquet(s"$dataDir/orders.parquet")
    schema = orders.schema
    val groups = orders.groupBy("o_orderpriority").agg(count(lit(1)),
      sum(round(col("o_totalprice") * 100).cast("long")), sum(fingerprintCol),
      max("o_orderkey")).collect()
    nextKey = groups.map(_.getLong(4)).max + 1
    val hot = orders.filter(col("o_orderkey") >= nextKey - HotKeys).collect().map(toOrder)
    model = new Model(groups.map(_.getLong(1)).sum, groups.map(_.getLong(3)).sum,
      mutable.HashMap(groups.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toSeq: _*),
      hot)
    Setup.mark("model")
    table = open(root)
    versionFp(table.write(orders, "overwrite")) = model.fingerprint
    Setup.mark("base_table")
    Kinds.foreach(commit(_, pass = 0))
    reads(pass = 0)
    submitted.clear() // write_amp counts the timed loop only
    Setup.mark("warm")
  }

  /** The timed loop: rounds of one commit of each row-level kind in a
    * seeded order, then a small-file compaction, each commit followed
    * by its reads, until `seconds` have passed (whole rounds, at least
    * `minRounds`); then a vacuum.
    */
  def loop(seconds: Double, minRounds: Int): Unit = {
    val t0 = System.nanoTime()
    var round = 0
    while (round < minRounds || System.nanoTime() - t0 < seconds * 1e9) {
      round += 1
      (rng.shuffle(Kinds.init) :+ Kinds.last).foreach { kind =>
        commit(kind, pass = round)
        reads(pass = round)
      }
    }
    commit("vacuum", pass = round)
  }

  /** End of the hot keys: the [[HotKeys]] keys just below the partition
    * that appends fill. Row-level commits stay inside one partition
    * and away from the appended files, so every seed rewrites the same
    * amount of data and every compaction finds the same small files.
    */
  private def hotEnd: Long = nextKey / KeyRange * KeyRange

  /** A live hot key. */
  private def hotKey(): Long = {
    var k = -1L
    while (!model.rows.contains(k)) k = hotEnd - 1 - rng.nextInt(HotKeys)
    k
  }

  /** `n` distinct live keys inside one seeded window of [[Window]] hot
    * keys: a CDC batch touches orders placed close together.
    */
  private def hotKeys(n: Int): Seq[Long] = {
    val lo = windowStart(Window)
    val live = (lo until lo + Window).filter(model.rows.contains)
    rng.shuffle(live).take(n)
  }

  private def windowStart(width: Int): Long = hotEnd - HotKeys + rng.nextInt(HotKeys - width)

  private def fresh(n: Int): Seq[Order] = (0 until n).map { _ =>
    val k = nextKey; nextKey += 1
    randomOrder(k)
  }

  private def randomOrder(k: Long): Order = Order(k, rng.nextInt(15000).toLong,
    Seq("F", "O", "P")(rng.nextInt(3)), (100000 + rng.nextInt(49900000)) / 100.0,
    LocalDateTime.of(1995, 1, 1, 0, 0).plusDays(rng.nextInt(2404).toLong),
    Prios(rng.nextInt(Prios.size)))

  private def frame(rows: Seq[Order]): DataFrame =
    spark.createDataFrame(rows.map(_.row).asJava, schema)

  /** One commit. Its input rows, and the model update that follows a
    * successful commit, are prepared outside the timed operation.
    */
  private def commit(kind: String, pass: Int): Unit = {
    val (call, after): (() => Int, () => Unit) = kind match {
      case "append" =>
        val rows = fresh(AppendRows)
        val df = frame(rows)
        (() => table.write(df, "append"), () => { rows.foreach(model.put); submitted ++= rows })
      case "merge" =>
        val rows = hotKeys(MergeRows).map(k => randomOrder(k))
        val df = frame(rows)
        (() => table.merge(df, Seq("o_orderkey")), () => { rows.foreach(model.put); submitted ++= rows })
      case "delete" =>
        val ks = hotKeys(DeleteKeys)
        (() => table.deleteKeys("o_orderkey", ks.map(_.toString)), () => ks.foreach(model.remove))
      case "update" =>
        val lo = windowStart(UpdateRange)
        val hi = lo + UpdateRange - 1
        val prio = Prios(rng.nextInt(Prios.size))
        (() => table.updateWhere(col("o_orderkey").between(lo, hi),
            Map("o_orderpriority" -> lit(prio), "o_totalprice" -> (col("o_totalprice") + lit(1.0)))),
          () => (lo to hi).flatMap(model.rows.get).foreach { o =>
            val u = o.copy(price = o.price + 1.0, prio = prio)
            model.put(u); submitted += u
          })
      case "compact" =>
        (() => table.compactSmall(SmallFileBytes, CompactTargetBytes), () => ())
      case "vacuum" =>
        (() => { table.vacuum(retain = 1, minAgeMs = 0); table.latestVersion.get }, () => ())
    }
    val before = if (rec.traced && pass > 0) Listing(root) else Map.empty[String, Long]
    var v = -1
    val op = rec.run(kind, if (kind == "vacuum") "vacuum" else "commit", pass) {
      v = rec.phase("build")(call())
    }
    if (op.ok) {
      after()
      versionFp(v) = model.fingerprint
    }
    if (rec.traced && pass > 0) {
      val now = Listing(root)
      val added = now.filter { case (p, n) => !before.get(p).contains(n) }
      op.layer ++= Seq("lake.files_written" -> added.size,
        "lake.bytes_written" -> added.values.sum)
      if (op.ok) {
        val t0 = System.nanoTime()
        table.filesOf(table.latestVersion.get)
        op.layer("lake.resolve_ms") = (System.nanoTime() - t0) / 1e6
      }
    }
  }

  /** The three reads after a commit; each result is compared with the
    * model outside the timed operation.
    */
  private def reads(pass: Int): Unit = {
    val opIndex = () => rec.ops.size - 1
    val expLatest = model.byPrio.toSeq.filter(_._2._1 > 0).sortBy(_._1)
    var rows = Array.empty[Row]
    rec.run("read_latest", "read", pass) {
      val agg = rec.phase("build")(table.read().groupBy("o_orderpriority")
        .agg(count(lit(1)), sum(round(col("o_totalprice") * 100).cast("long"))))
      if (rec.traced) rec.phase("plan")(agg.queryExecution.executedPlan)
      rows = rec.phase("execute")(agg.collect())
    }
    checks += ((opIndex(), expLatest.mkString(","),
      rows.map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).sortBy(_._1).mkString(",")))

    val k = if (rng.nextInt(10) == 0) nextKey + 1000 else hotKey()
    val expPoint = model.rows.get(k).map(_.toString).getOrElse("none")
    rows = Array.empty[Row]
    val op = rec.run("read_point", "read", pass) {
      val df = rec.phase("build")(table.readEq("o_orderkey", k.toString))
      if (rec.traced) rec.phase("plan")(df.queryExecution.executedPlan)
      rows = rec.phase("execute")(df.collect())
    }
    checks += ((opIndex(), expPoint, rows.map(toOrder).map(_.toString).headOption.getOrElse("none")))
    if (rec.traced && pass > 0) {
      val live = table.filesOf(table.latestVersion.get).size
      op.layer("lake.point_prune_ratio") =
        table.prunedFilesEq("o_orderkey", k.toString).size.toDouble / math.max(1, live)
    }

    val vs = versionFp.keys.toSeq.sorted
    val v = vs(math.max(0, vs.size - 2 - rng.nextInt(AsOfDepth)))
    rows = Array.empty[Row]
    rec.run("read_asof", "read", pass) {
      val agg = rec.phase("build")(table.read(Some(v)).agg(count(lit(1)), sum(fingerprintCol)))
      if (rec.traced) rec.phase("plan")(agg.queryExecution.executedPlan)
      rows = rec.phase("execute")(agg.collect())
    }
    checks += ((opIndex(), versionFp(v).toString, rows.headOption.map(r =>
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)).toString).getOrElse("none")))
  }

  /** Output checks and space accounting, after the timed loop. */
  def finish(): Unit = {
    val r = table.read().agg(count(lit(1)), sum(fingerprintCol)).collect().head
    val fp = (r.getLong(0), r.getLong(1))
    if (fp != model.fingerprint)
      finalCheck = Some(s"final snapshot $fp != reference ${model.fingerprint}")
    val loopOps = rec.ops.filter(_.pass > 0)
    val written = loopOps.map(_.fsWritten).sum
    val submittedBytes = plainParquetBytes(frame(submitted.toSeq), "submitted")
    val snapshotBytes = plainParquetBytes(table.read(), "snapshot")
    val tableBytes = Listing(root).values.sum
    extra ++= Seq(
      "write_amp" -> written.toDouble / submittedBytes,
      "space_amp" -> tableBytes.toDouble / snapshotBytes,
      "fs_bytes_written" -> written, "submitted_bytes" -> submittedBytes,
      "submitted_rows" -> submitted.size,
      "table_bytes" -> tableBytes, "snapshot_bytes" -> snapshotBytes,
      "lake.versions" -> (table.latestVersion.get + 1),
      "lake.files_live" -> table.filesOf(table.latestVersion.get).size,
      "lake.log_bytes" -> Listing(s"$root/_graft_log").values.sum)
  }

  /** Names of operations whose output check failed, with the reason. */
  def failures: Seq[(Int, String)] =
    checks.collect { case (i, e, g) if e != g && rec.ops(i).ok =>
      (i, s"${rec.ops(i).name}: expected $e, got $g") }.toSeq

  def finalFailure: Option[String] = finalCheck

  private def plainParquetBytes(df: DataFrame, name: String): Long = {
    val out = s"$workDir/plain_$name"
    df.coalesce(1).write.mode("overwrite").parquet(out)
    val n = Listing(out).filter(_._1.endsWith(".parquet")).values.sum
    deleteTree(new java.io.File(out))
    n
  }
}

object Churn {
  /** The commit kinds of a round; compaction comes last. */
  val Kinds = Seq("append", "merge", "delete", "update", "compact")
  val KeyRange = 10000
  val HotKeys = 5000
  val Window = 1000
  val AppendRows = 500
  val MergeRows = 200
  val DeleteKeys = 50
  val UpdateRange = 300
  /** Time-travel reads go back one to this many versions. */
  val AsOfDepth = 3
  val SmallFileBytes: Long = 128L << 10
  val CompactTargetBytes: Long = 4L << 20
  val Prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Per-row CRC32 over the columns in a fixed text form; summed over a
    * snapshot, it is compared with [[Model.fingerprint]].
    */
  val fingerprintCol: Column = crc32(concat_ws("|",
    col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
    col("o_orderstatus"), round(col("o_totalprice") * 100).cast("long").cast("string"),
    expr("unix_date(cast(o_orderdate as date))").cast("string"),
    col("o_orderpriority")).cast("binary"))

  def toOrder(r: Row): Order = Order(r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"),
    r.getAs[String]("o_orderstatus"), r.getAs[Double]("o_totalprice"),
    r.getAs[LocalDateTime]("o_orderdate"), r.getAs[String]("o_orderpriority"))

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Regular files under a directory, by path, with their sizes. */
object Listing {
  def apply(dir: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val s = java.nio.file.Files.walk(p)
    try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
    finally s.close()
  }
}
