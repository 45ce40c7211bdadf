package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Per-span Spark counters, summed over the tasks of the jobs a span ran. */
final class SparkCounts {
  val jobs = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

/** Benchmark-owned listener. Jobs are keyed by the job group the tracer
  * sets around each span; jobs started by other threads (the streaming
  * query's micro-batch thread sets its own group) go to the span open when
  * they start — the benchmark drives one span at a time. */
final class SpanListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, SparkCounts]()
  private val stageGroup = new ConcurrentHashMap[Int, SparkCounts]()
  @volatile var open: Option[(String, SparkCounts)] = None

  def register(group: String): SparkCounts = {
    val c = new SparkCounts
    byGroup.put(group, c)
    c
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val counts = g.flatMap(k => Option(byGroup.get(k))).orElse(open.map(_._2))
    counts.foreach { c =>
      c.jobs.incrementAndGet()
      e.stageIds.foreach(s => stageGroup.put(s, c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (c <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics)) {
      c.taskMs.addAndGet(m.executorRunTime)
      c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
}

/** Local filesystem that counts the files the program creates through
  * Hadoop's FileSystem API. Installed as `fs.file.impl` in traced runs
  * only; streaming checkpoint and commit logs go through FileContext and
  * are not counted. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingLocalFileSystem.creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingLocalFileSystem {
  val creates = new AtomicLong
}

/** One recorded span: name, start, end, parent, run id, plus counts. */
final case class Span(id: Int, name: String, parent: Option[Int], runId: String,
    startMs: Long, endMs: Long, spark: SparkCounts, filesCreated: Long,
    bytesWritten: Long, extra: mutable.Map[String, Double] = mutable.Map.empty) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Spans kept in memory and written out once, at exit. */
final class Tracer(spark: SparkSession, val cores: Int, val runId: String) {
  val listener = new SpanListener
  spark.sparkContext.addSparkListener(listener)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  private def hadoopBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Runs `body` inside span `name`. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption
    val group = s"$runId-$id"
    val counts = listener.register(group)
    val prevOpen = listener.open
    listener.open = Some(group -> counts)
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    stack = id :: stack
    val files0 = CountingLocalFileSystem.creates.get
    val bw0 = hadoopBytesWritten()
    val t0 = System.currentTimeMillis()
    val out = try body finally {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      stack = stack.tail
      listener.open = prevOpen
      prevOpen match {
        case Some((g, _)) => sc.setJobGroup(g, "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
    val t1 = System.currentTimeMillis()
    spans += Span(id, name, parent, runId, t0, t1, counts,
      CountingLocalFileSystem.creates.get - files0, hadoopBytesWritten() - bw0)
    out
  }

  /** Attaches span-specific metrics to the last closed span. */
  def annotate(kv: (String, Double)*): Unit = spans.last.extra ++= kv

  def selfS(s: Span): Double =
    s.wallS - spans.filter(_.parent.contains(s.id)).map(_.wallS).sum

  def write(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent.getOrElse(-1),
        "run_id" -> s.runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_s" -> selfS(s), "task_s" -> s.spark.taskMs.get / 1000.0,
        "jobs" -> s.spark.jobs.get, "shuffle_write_bytes" -> s.spark.shuffleWriteBytes.get,
        "spill_bytes" -> s.spark.spillBytes.get,
        "files_written" -> s.filesCreated, "bytes_written" -> s.bytesWritten) ++ s.extra.toSeq))
    } finally w.close()
  }
}

object Trace {
  /** Materializes a layer's output so the next layer starts from it. A
    * local checkpoint, not a cache entry: a later write to a path the plan
    * reads (the history append) would invalidate a cache entry and
    * recompute it over the grown input. */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Frees the blocks of a materialized layer output. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = true)
    case _ =>
  }

  /** The nodes of a DataFrame's executed plan, through adaptive query
    * stages; a reused exchange is not walked twice. */
  def planNodes(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => Nil
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Rows the file scans under `root` returned when `df` was executed. */
  def scanRows(df: DataFrame, root: String): Double = {
    val dir = new Path(root).toUri.getPath
    planNodes(df).collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(dir)) =>
        s.metrics("numOutputRows").value
    }.sum.toDouble
  }

  /** Per-layer metrics of a traced run. The overhead is the traced pass's
    * wall time over the untraced warm passes' median, both measured in
    * this run. */
  def report(c: Ctx, t: Tracer, untracedS: Double, tracedS: Double, gcS: Double): Unit = {
    c.samples("traced_s") = Seq(tracedS)
    c.metrics ++= Layers.metrics(t)
    c.metrics ++= Seq(
      "jvm.gc_s" -> gcS,
      "jvm.heap_after_pass_mb" -> c.heapAfterGcMb(),
      "run.trace_overhead_ratio" -> tracedS / untracedS)
  }
}
