package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload: `setup` builds its inputs under a fresh directory;
  * `op` is one closed-loop unit of work (a day, a curation pass)
  * returning the input items it processed; `finish` writes what the
  * output checks need and returns workload-level gauges. */
trait Workload {
  def setup(dir: File): Unit
  /** Untimed preparation of op `i` (e.g. landing its input files). */
  def prepare(i: Int): Unit = ()
  def op(i: Int): Long
  def finish(): Map[String, Any]
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR --out FILE [--scale tiny|full]`.
  * Prints nothing on stdout; the result is a JSON object in `--out`. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = new File(args("work"))
    val tiny = args.getOrElse("scale", "full") == "tiny"
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = graft.core.SessionFactory.build(master = s"local[$cpus]",
      shufflePartitions = Some(cpus), appName = "perfbench")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val trace = new Trace(spark, traced)
    val wl: Workload = workload match {
      case "lakehouse_ingest" => new Ingest(spark, trace, seed, tiny)
      case "corpus_curation" => new Corpus(spark, trace, seed, tiny)
      case other => sys.error(s"unknown workload $other")
    }

    val setupT0 = System.nanoTime()
    wl.setup(new File(work, "setup"))
    val setupS = (System.nanoTime() - setupT0) / 1e9

    val gc0 = gcSeconds()
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val opWalls = mutable.ArrayBuffer.empty[(Double, Double)]
    var heapMb = 0.0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    val runT0 = System.nanoTime()
    while (System.nanoTime() < deadline) {
      trace.active = traced
      val (items, err, t0, a) =
        try { wl.prepare(i); val a = trace.nowMs; val t0 = System.nanoTime()
          (wl.op(i), null, t0, a) }
        catch { case e: Exception =>
          System.err.println(s"op $i failed: $e"); e.printStackTrace()
          (0L, e.toString, System.nanoTime(), trace.nowMs) }
      val lat = (System.nanoTime() - t0) / 1e9
      val b = trace.nowMs
      trace.active = false
      if (traced) opWalls += ((a, b))
      // a full collection at each op boundary, outside the op's latency,
      // makes the old generation's post-GC occupancy the live heap
      System.gc()
      heapMb = math.max(heapMb, oldGenAfterGcMb())
      ops += Map("lat_s" -> lat, "items" -> items,
        "error" -> Option(err).getOrElse(""))
      i += 1
    }
    val windowS = (System.nanoTime() - runT0) / 1e9
    val gcS = gcSeconds() - gc0
    val summary = if (traced) Some(trace.summary(opWalls.toSeq)) else None
    val extra = wl.finish()

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "cpus" -> cpus, "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION, "session_s" -> sessionS,
      "setup_s" -> setupS,
      "window_s" -> windowS, "gc_s" -> gcS, "live_heap_mb" -> heapMb,
      "ops" -> ops.toSeq, "workload_stats" -> extra)
    summary.foreach { s =>
      out("layers") = s.layers.map { case (k, l) => k -> Map(
        "calls" -> l.calls, "failed" -> l.failed, "wall_s" -> l.wallS,
        "self_s" -> l.selfS, "driver_s" -> l.driverS, "jobs" -> l.jobs,
        "cpu_s" -> l.cpuS, "shuffle_mb" -> l.shuffleMb,
        "spill_mb" -> l.spillMb, "plan_s" -> l.planS,
        "input_records" -> l.inputRecords) }
      out("rows_returned") = s.rowsOut
      out("stream") = Map("batches" -> s.streamBatches,
        "batch_p50_s" -> s.streamBatchP50S, "overhead_s" -> s.streamOverheadS)
      out("unattributed_s") = s.unattributedS
    }
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(args("out")), out)
    spark.stop()
    System.exit(0)
  }

  /** Largest old-generation occupancy measured after a collection, in MB. */
  def oldGenAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed / 1048576.0)
      .maxOption.getOrElse(0.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Bytes of every regular file under `f`. */
  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else if (f.isFile) f.length() else 0L

  /** Every regular file under `f` with its size. */
  def treeFiles(f: File): Seq[(String, Long)] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(treeFiles)
    else if (f.isFile) Seq(f.getPath -> f.length()) else Nil
}
