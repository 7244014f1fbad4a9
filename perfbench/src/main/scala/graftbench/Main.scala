package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Run options, as `perfbench/run.py` passes them. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, traceDir: String) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

/** Metrics and correctness tallies of one run. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** An end-to-end metric. */
  def put(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is not a number: $value")
    metrics(name) = (value, unit)
  }
  /** A per-layer metric (traced run only). */
  def layer(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is not a number: $value")
    require(Layers.Units.get(name).contains(unit), s"undeclared layer metric $name [$unit]")
    layers(name) = (value, unit)
  }
  /** Record `n` attempted operations of which `bad` failed. */
  def check(what: String, n: Long, bad: Long): Unit = {
    attempted += n
    failed += bad
    if (bad != 0) problems += s"$what: $bad of $n wrong"
  }
  def expect(what: String, ok: Boolean): Unit = check(what, 1, if (ok) 0 else 1)
}

/** The largest heap in use right after a collection, over a measured
  * window. Every young, mixed and full collection in the window reports
  * the heap it left in use; the window opens and closes with forced full
  * collections ([[Main.heapLiveMb]]), so the resting live set at both
  * ends counts too. After a young collection the figure also holds old
  * objects that died since the last marking, so it is an upper bound on
  * the live set at that moment.
  */
final class HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect { case e: NotificationEmitter => e }
  @volatile private var peakB = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapPeak.this.synchronized { peakB = math.max(peakB, used) }
      }
  }

  /** Open the window: a forced full collection, then watch every collection. */
  def start(): HeapPeak = {
    val rest = (Main.heapLiveMb() * 1048576).toLong
    synchronized { peakB = math.max(peakB, rest) }
    emitters.foreach(_.addNotificationListener(listener, null, null))
    this
  }

  /** Close the window with a forced full collection; the peak in MiB. */
  def stopMb(): Double = {
    val rest = (Main.heapLiveMb() * 1048576).toLong
    emitters.foreach(_.removeNotificationListener(listener))
    val peak: Long = synchronized { math.max(peakB, rest) }
    peak / 1048576.0
  }
}

object Main {
  val Workloads: Seq[String] = Seq("cdc_stream", "train_build")
  val EndToEnd: Seq[String] = Seq("setup_s", "p50_ms", "rate_per_s", "heap_live_peak_mb")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w'; expected one of ${Workloads.mkString(", ")}")
    val t = need("trace")
    require(t == "0" || t == "1", s"--trace must be 0 or 1, got '$t'")
    val secs = need("seconds").toInt
    require(secs >= 1, "--seconds must be at least 1")
    Opts(w, need("seed").toLong, secs, t == "1", need("work"), need("trace-dir"))
  }

  def session(o: Opts, master: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val t0 = System.nanoTime()
  /** Progress note on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s: $msg")

  /** Heap still live after a full collection, in MiB. The second
    * collection frees what Spark's cleaner released after the first
    * (broadcast and checkpoint blocks of dead datasets).
    */
  def heapLiveMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val o = parse(args)
    new File(o.work).mkdirs()
    val tracer = new Tracer(s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}")
    val r = new Result
    o.workload match {
      case "cdc_stream" => CdcStream.run(o, tracer, r)
      case "train_build" => TrainBuild.run(o, tracer, r)
    }
    SparkSession.getActiveSession.foreach(_.stop())
    if (o.trace) {
      new File(o.traceDir).mkdirs()
      val f = new File(o.traceDir, s"${o.workload}-seed${o.seed}.jsonl")
      java.nio.file.Files.write(f.toPath, tracer.dump().mkString("", "\n", "\n").getBytes("UTF-8"))
      println(s"spans written to ${o.traceDir}/${f.getName}")
    }
    val missing = EndToEnd.filterNot(r.metrics.contains)
    require(missing.isEmpty, s"end-to-end metrics not measured: ${missing.mkString(", ")}")
    if (o.trace) Layers.Units.keys.toSeq.sorted.filterNot(r.layers.contains)
      .foreach(k => r.layer(k, 0.0, Layers.Units(k)))
    def show(m: Iterable[(String, (Double, String))]): Unit =
      m.foreach { case (k, (v, u)) => println(f"$k%-32s $v%16.4f $u") }
    show(r.metrics)
    if (o.trace) show(r.layers.toSeq.sortBy(_._1))
    println(s"fail_ratio ${r.failed.toDouble / math.max(1L, r.attempted)} " +
      s"(${r.failed} of ${r.attempted} checked operations wrong)")
    r.problems.foreach(p => println(s"MISMATCH $p"))
    val ms = (if (o.trace) r.layers.toSeq.sortBy(_._1) else r.metrics.toSeq).map { case (k, (v, u)) =>
      s""""$k": {"value": ${jsonNum(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${r.failed == 0 && r.attempted > 0}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": {${ms.mkString(", ")}}}""")
  }

  private def jsonNum(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
}
