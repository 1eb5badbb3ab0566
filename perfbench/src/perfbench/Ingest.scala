package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.clean.Cleaning
import graft.dq.{AuditRunner, MandatoryColumnConfig, ValidityConfig}
import graft.gold.Kpi
import graft.ingest.{DeltaLakeCdf, DeltaLakeDml, DeltaLakeMaintain,
  DeltaLakeRead, DeltaLakeWrite, VersionedTableIO}
import graft.stream.StreamCdcApply
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `lakehouse_ingest`: day after day of bronze → silver MERGE → gold →
  * DQ → report → CDF, with compaction, checkpoint and vacuum every
  * second day.
  *
  * Silver is seeded from GenScale's `lineitem` at sf0.01 plus a dense
  * unique key `l_id`. Each day lands a seeded bronze batch: new rows,
  * corrections to existing keys (recent keys favoured, some corrected
  * twice in one batch) and a list of cancelled keys. The day then runs
  * latest-wins cleaning, the MERGE, the DELETE, the streaming CDC apply
  * of the day's change file into a mirror table, gold KPIs over the
  * snapshot, the DQ audit, an analyst's star join over today's snapshot
  * and yesterday's version, and the change feed since yesterday's
  * version. */
final class Ingest(spark: SparkSession, trace: Trace, seed: Long, tiny: Boolean)
    extends Workload {
  import Ingest._

  private val mult = if (tiny) 0.01 else 0.1
  private val perDay = if (tiny) (60, 40, 6) else (600, 400, 60)
  // GenScale's key ranges at this multiplier, so new rows join the dims
  private val nOrders = math.max(1, math.round(150000 * mult).toInt)
  private val nParts = math.max(1, math.round(20000 * mult).toInt)
  private val nSuppliers = math.max(1, math.round(1000 * mult).toInt)
  private val maintainEvery = 2

  private var dir: File = _
  private var nextId = 0L
  private var seq = 0L
  private var day = 0
  private var lastVersion = -1L
  private var io: VersionedTableIO = _
  private val dayLog = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val seen = mutable.Map.empty[String, Long]
  private var bytesWritten = 0L
  private var bronzeBytes = 0L
  private var silverCommits = 0L
  private var timedDays = 0
  private var lastDq: Seq[(Long, Long)] = Nil
  private var readVersion = -1L

  private def path(p: String) = new File(dir, p).getAbsolutePath
  private def silver = path("silver")
  private def gold = path("gold")
  private def dqTable = path("dq_results")
  private def upserts = path("bronze/upserts")
  private def cancels = path("bronze/cancels")
  private def out = path("out")

  def setup(d: File): Unit = {
    dir = d
    dir.mkdirs()
    graft.GenScale.generate(spark, path("gen"), mult, 1,
      Some(Set("lineitem", "orders", "customer", "nation", "region")))
    for (t <- Seq("orders", "customer", "nation", "region"))
      spark.read.parquet(path(s"gen/$t.parquet")).createOrReplaceTempView(t)
    val gen = spark.read.parquet(path("gen/lineitem.parquet"))
      .withColumn("l_shipdate", col("l_shipdate").cast("date"))
    val seedDf = gen.withColumn("l_id",
        row_number().over(Window.orderBy(gen.columns.map(col): _*)) - 1L)
      .select(Columns.map(col): _*)
    seedDf.write.parquet(path("seed.parquet"))
    val seedRead = spark.read.parquet(path("seed.parquet"))
    nextId = seedRead.agg(max("l_id")).head().getLong(0) + 1
    DeltaLakeWrite.append(seedRead.repartition(8), silver,
      tableConfig = Map("delta.enableChangeDataFeed" -> "true"))
    lastVersion = DeltaLakeRead.latestVersion(silver)
    io = new VersionedTableIO(path("mirror"))
  }

  override def prepare(i: Int): Unit = {
    if (i == 0) {
      silverCommits = -DeltaLakeRead.latestVersion(silver)
      tablesWritten()
    }
    landDay()
  }

  def op(i: Int): Long = {
    val items = runDay(day)
    bytesWritten += tablesWritten()
    timedDays += 1
    items
  }

  /** Generate and land the next day's bronze batch. */
  private def landDay(): Unit = {
    day += 1
    val rnd = new scala.util.Random(seed * 1000003L + day)
    val (nNew, nCorr, nDel) = perDay
    val rows = mutable.ArrayBuffer.empty[Row]
    def gen(id: Long): Row = {
      seq += 1
      val bad = rnd.nextDouble() < 0.02
      Row(rnd.nextInt(nOrders).toLong, rnd.nextInt(nParts).toLong,
        rnd.nextInt(nSuppliers).toLong, rnd.nextInt(7) + 1,
        (rnd.nextInt(50) + 1).toDouble,
        BigDecimal(rnd.nextInt(10000000) + 1, 2).toDouble,
        if (bad) 0.2 else rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        Flags(rnd.nextInt(3)), Status(rnd.nextInt(2)),
        java.sql.Date.valueOf(java.time.LocalDate.of(1992, 1, 1)
          .plusDays(rnd.nextInt(3653).toLong)),
        id, seq)
    }
    (0 until nNew).foreach(k => rows += gen(nextId + k))
    (0 until nCorr).foreach { _ =>
      val u = rnd.nextDouble()
      val id = nextId - 1 - (nextId * u * u * u).toLong
      rows += gen(id)
      if (rnd.nextDouble() < 0.1) rows += gen(id)
    }
    nextId += nNew
    val del = (0 until nDel).map(_ => (rnd.nextDouble() * nextId).toLong).distinct
    writeOne(spark.createDataFrame(rows.asJava, BronzeSchema), upserts, day)
    writeOne(spark.createDataFrame(del.map(Row(_)).asJava,
      StructType(Seq(StructField("l_id", LongType)))), cancels, day)
    bronzeBytes += new File(upserts, dayFile(day)).length() +
      new File(cancels, dayFile(day)).length()
    dayLog += Map("day" -> day, "rows" -> rows.size, "cancels" -> del.size)
  }

  private def writeOne(df: DataFrame, target: String, d: Int): Unit = {
    val tmp = path(s"bronze/_tmp_$d")
    df.coalesce(1).write.parquet(tmp)
    val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    new File(target).mkdirs()
    java.nio.file.Files.move(part.toPath, new File(target, dayFile(d)).toPath)
    Main.deleteTree(new File(tmp))
  }

  /** One day of the DAG; returns the bronze rows applied. */
  private def runDay(d: Int): Long = {
    val nRows = dayLog.last("rows").asInstanceOf[Int].toLong
    val bronze = spark.read.parquet(s"$upserts/${dayFile(d)}")
    val (latest, cancelled) = trace.span("clean") {
      (Cleaning.dedupLatestWins(bronze, Seq("l_id"), Seq(col("seq").desc))
        .drop("seq").localCheckpoint(),
        spark.read.parquet(s"$cancels/${dayFile(d)}").collect().map(_.getLong(0)))
    }
    trace.span("ingest.dml") {
      DeltaLakeDml.upsert(spark, silver, latest, Seq("l_id"))
    }
    if (cancelled.nonEmpty) trace.span("ingest.dml") {
      DeltaLakeDml.delete(spark, silver, s"l_id IN (${cancelled.mkString(",")})")
    }
    trace.span("stream") {
      StreamCdcApply.run(spark, upserts, path("mirror_ckpt"), io, "silver",
        Seq("l_id"), "seq", BronzeSchema, maxFilesPerTrigger = Some(1))
    }
    trace.span("gold") {
      val snap = trace.span("ingest.read")(DeltaLakeRead.snapshot(spark, silver))
      val kpis = Kpi.dailyKpis(snap).collect()
      trace.returned("ingest.read", kpis.map(_.getAs[Long]("n_rows")).sum)
      val schema = kpis.headOption.map(_.schema).getOrElse(sys.error("no KPIs"))
        .add("day", IntegerType)
      trace.span("ingest.write") {
        DeltaLakeWrite.append(spark.createDataFrame(
          kpis.map(r => Row.fromSeq(r.toSeq :+ d)).toSeq.asJava, schema), gold)
      }
    }
    trace.span("dq") {
      val snap = trace.span("ingest.read")(DeltaLakeRead.snapshot(spark, silver))
      val res = AuditRunner.runAll((_, _) => snap, DqRules,
        f"2024-01-01 00:00:${d % 60}%02d").collect()
      lastDq = res.toSeq.map(r => (r.getAs[Long]("cd_configuration"),
        NViol.findFirstMatchIn(r.getAs[String]("ds_checked_value"))
          .map(_.group(1).toLong).getOrElse(-1L)))
      trace.span("ingest.write") {
        DeltaLakeWrite.append(spark.createDataFrame(res.toSeq.asJava,
          res.head.schema), dqTable)
      }
    }
    trace.span("sql") {
      trace.span("ingest.read")(DeltaLakeRead.snapshot(spark, silver))
        .createOrReplaceTempView("silver_now")
      trace.span("ingest.read")(DeltaLakeRead.snapshot(spark, silver,
        Some(lastVersion))).createOrReplaceTempView("silver_prev")
      val report = spark.sql(ReportSql).collect()
      spark.createDataFrame(report.toSeq.asJava, report.head.schema)
        .coalesce(1).write.parquet(s"$out/report/day=$d")
    }
    trace.span("ingest.cdf") {
      DeltaLakeCdf.changes(spark, silver, lastVersion + 1)
        .write.parquet(s"$out/cdf/day=$d")
      lastVersion = DeltaLakeRead.latestVersion(silver)
    }
    // the version the day's reads saw, before any maintenance; its
    // state is measured in finish(), outside the timed op
    readVersion = lastVersion
    if (d % maintainEvery == 1) trace.span("ingest.maintain") {
      DeltaLakeMaintain.compact(spark, silver)
      val v = DeltaLakeRead.latestVersion(silver)
      DeltaLakeWrite.checkpoint(spark, silver, v)
      DeltaLakeMaintain.vacuum(spark, silver, retentionMs = Some(0L))
      lastVersion = v
    }
    nRows
  }

  /** Bytes of files new or rewritten under the table and checkpoint
    * directories since the previous call. */
  private def tablesWritten(): Long =
    Seq(silver, gold, dqTable, path("mirror"), path("mirror_ckpt"))
      .flatMap(p => Main.treeFiles(new File(p))).map { case (f, n) =>
        val fresh = !seen.get(f).contains(n)
        seen(f) = n
        if (fresh) n else 0L
      }.sum

  /** Silver as the last day's reads saw it: live and DV-bearing files
    * and the bytes of its log up to that version. */
  private def tableState(): Map[String, Any] = {
    val st = DeltaLakeRead.state(spark, silver, Some(readVersion))
    val logBytes = Option(new File(silver, "_delta_log").listFiles()).toSeq.flatten
      .filter(f => LogVersion.findPrefixMatchOf(f.getName)
        .exists(_.group(1).toLong <= readVersion))
      .map(_.length()).sum
    Map("files_live" -> st.files.size,
      "dv_files" -> st.files.count(_.dv.isDefined),
      "log_mb" -> logBytes / 1048576.0)
  }

  def finish(): Map[String, Any] = {
    silverCommits += DeltaLakeRead.latestVersion(silver)
    val state = tableState()
    DeltaLakeRead.snapshot(spark, silver).coalesce(1)
      .write.parquet(s"$out/silver")
    DeltaLakeRead.snapshot(spark, gold).write.parquet(s"$out/gold")
    io.read(spark, "silver").write.parquet(s"$out/mirror")
    DeltaLakeMaintain.vacuum(spark, silver, retentionMs = Some(0L))
    val spaceAmp = Main.treeBytes(new File(silver)).toDouble /
      Main.treeBytes(new File(s"$out/silver"))
    Map("dir" -> dir.getAbsolutePath, "days" -> dayLog.toSeq,
      "timed_days" -> timedDays,
      "write_amp" -> bytesWritten.toDouble / math.max(1L, bronzeBytes),
      "space_amp" -> spaceAmp, "table_state" -> state,
      "commits_per_day" -> silverCommits.toDouble / math.max(1, timedDays),
      "dq_last" -> lastDq.map { case (c, n) => Map("config" -> c, "n" -> n) })
  }
}

object Ingest {
  val Flags = Array("N", "A", "R")
  val Status = Array("O", "F")
  val Columns = Seq("l_id", "l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")
  val BronzeSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType), StructField("l_id", LongType),
    StructField("seq", LongType)))
  val DqRules = Seq(
    MandatoryColumnConfig(1L, "silver", "lineitem",
      Seq("l_returnflag", "l_linestatus", "l_shipdate"), Seq("l_id")),
    ValidityConfig(2L, "silver", "lineitem",
      "l_discount > 0.1 OR l_quantity <= 0", Seq("l_id")),
    ValidityConfig(3L, "silver", "lineitem", "l_extendedprice <= 0", Seq("l_id")))
  val NViol = "\"n_violations\":(-?\\d+)".r
  /** A log file's version: the 20-digit prefix of its name. */
  val LogVersion = "^(\\d{20})\\.".r
  /** The analyst's daily star join: revenue by region and segment over
    * today's silver, and how many of its rows are new since yesterday's
    * version (a time-travel read). */
  val ReportSql: String =
    """SELECT r.r_name AS region, c.c_mktsegment AS segment,
      |  count(*) AS n_items,
      |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
      |  CAST(sum(CASE WHEN p.l_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      |FROM silver_now l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |LEFT JOIN silver_prev p ON p.l_id = l.l_id
      |GROUP BY r.r_name, c.c_mktsegment""".stripMargin
  def dayFile(d: Int): String = f"day$d%05d.parquet"
}
