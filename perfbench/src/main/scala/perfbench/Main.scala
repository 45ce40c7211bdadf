package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark JVM: runs one workload against the engine's public entry
  * points and prints one JSON line with the metrics, the check results and
  * the raw samples. `perfbench/run.py` builds, generates the inputs, starts
  * this JVM and turns that line into the benchmark's result.
  *
  *   perfbench.Main --workload W --data DIR --work DIR --seconds N
  *                  --trace 0|1 --seed N --cores N --geo CSV --trace-out FILE
  */
object Main {

  final case class Args(workload: String, data: File, work: File, seconds: Int,
      trace: Boolean, seed: Long, cores: Int, geo: String, traceOut: File)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), new File(m("data")), new File(m("work")), m("seconds").toInt,
      m("trace") == "1", m("seed").toLong, m("cores").toInt, m("geo"), new File(m("trace-out")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    a.work.mkdirs()
    val b = GraftSession.builder(master = s"local[${a.cores}]", shufflePartitions = Some(a.cores))
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
    if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ctx = new Ctx(spark, a)
    ctx.phase("session")
    val failure = try {
      a.workload match {
        case "raw_to_enriched" => RawToEnriched.run(ctx)
        case "daily_export" => DailyExport.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      None
    } catch { case e: Throwable => Some(e) }
    failure.foreach { e =>
      e.printStackTrace()
      ctx.fail("workload", s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    ctx.phase("measured")
    ctx.tracer.foreach(_.write(a.traceOut))

    val setupJvmS = (ctx.setupEndMs - jvmStartMs) / 1000.0
    val rt = Runtime.getRuntime
    val env = Map(
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "heap_max_mb" -> rt.maxMemory() / (1 << 20),
      "cores" -> a.cores)
    println(Json.obj(Seq(
      "correct" -> ctx.checks.forall(_._2),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> ctx.metrics.toMap,
      "jvm_start_epoch_ms" -> jvmStartMs,
      "setup_jvm_s" -> setupJvmS,
      "peak_rss_mb" -> peakRssMb(),
      "env" -> env,
      "checks" -> ctx.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "samples" -> ctx.samples.toMap)))
    spark.stop()
    ctx.phase("stop")
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

/** What a workload reads and reports. */
final class Ctx(val spark: SparkSession, val args: Main.Args) {
  val tracer: Option[Tracer] =
    if (args.trace) Some(new Tracer(spark, args.cores, s"${args.workload}-${System.currentTimeMillis()}")) else None
  val truth: Map[String, String] = {
    val src = scala.io.Source.fromFile(new File(args.data, "truth.json"), "UTF-8")
    val text = try src.mkString finally src.close()
    // flat "key": value pairs are all the checks need
    "\"(\\w+)\":\\s*(\"[^\"]*\"|[-0-9.]+)".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\"")).toMap
  }
  def truthLong(k: String): Long = truth(k).toLong

  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L
  var setupEndMs = 0L

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"CHECK FAILED $name: $detail")
  }

  def fail(name: String, detail: String): Unit = check(name, ok = false, detail)

  /** Counts one timed operation; a thrown exception is a failed op. */
  def op[T](body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case e: Exception =>
        failed += 1
        checks += ((s"op", false, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        e.printStackTrace()
        None
    }
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  def heapAfterGcMb(): Double = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  def markSetupDone(): Unit = setupEndMs = System.currentTimeMillis()

  private var phaseMs = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Logs the wall time since the previous phase ended (to the JVM log). */
  def phase(name: String): Unit = {
    val now = System.currentTimeMillis()
    System.err.println(f"perfbench phase $name%-24s ${(now - phaseMs) / 1000.0}%.2f s")
    phaseMs = now
  }
}
