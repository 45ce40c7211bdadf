package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.enrich.{GeoIp, UserAgent}
import graft.ingest.Ingest
import graft.jobs.StreamingIngestJob

/** Stages 2–3: raw Firehose records → enriched, date-partitioned parquet.
  * Each pass runs `StreamingIngestJob.start(..., availableNow = true)` into
  * fresh output and checkpoint directories. */
object RawToEnriched {

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val raw = new File(c.args.data, "raw").getAbsolutePath
    val records = c.truthLong("records")
    var passNo = 0

    def pass(): (File, Double) = {
      passNo += 1
      val dir = new File(c.args.work, s"pass-$passNo")
      val (_, s) = c.seconds {
        val q = StreamingIngestJob.start(spark, raw, c.args.geo,
          new File(dir, "out").getAbsolutePath, new File(dir, "ckpt").getAbsolutePath,
          availableNow = true)
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      }
      (dir, s)
    }
    def output(dir: File): DataFrame = spark.read.parquet(new File(dir, "out").getAbsolutePath)

    // The cold pass: the first in this JVM, as a deployed job runs it once a
    // day. Its output is checked against the generator's truth.
    c.markSetupDone()
    val (coldDir, coldS) = c.op(pass()).get
    c.phase("timed_pass")
    val coldOut = output(coldDir)
    val coldPrint = Fingerprint.of(coldOut)
    c.check("rows_out_equals_records_in", coldPrint._1 == records, s"${coldPrint._1} != $records")
    val counts = coldOut.agg(
      count(when(col("device_is_bot"), 1)),
      count(when(col("geo_country") === "(not set)", 1)),
      count(when(col("message_id").isNull, 1))).head()
    c.check("bots_equal_truth", counts.getLong(0) == c.truthLong("bots"),
      s"${counts.getLong(0)} != ${c.truth("bots")}")
    c.check("geo_misses_equal_truth", counts.getLong(1) == c.truthLong("geo_miss"),
      s"${counts.getLong(1)} != ${c.truth("geo_miss")}")
    c.check("malformed_equal_truth", counts.getLong(2) == c.truthLong("malformed"),
      s"${counts.getLong(2)} != ${c.truth("malformed")}")
    val outBytes = Files.bytesUnder(coldDir).toDouble
    def samePrint(name: String, dir: File): Unit = {
      val p = Fingerprint.of(output(dir))
      c.check(name, p == coldPrint, s"${Fingerprint.show(p)} != ${Fingerprint.show(coldPrint)}")
    }

    c.phase("checks")

    // Warm passes until their wall times add up to --seconds, at least one;
    // the first is checked against the cold pass, and all of them count in
    // the median.
    val gc0 = c.gcSeconds()
    val walls = mutable.ArrayBuffer.empty[Double]
    var ok = true
    while (ok && (walls.isEmpty || walls.sum < c.args.seconds))
      ok = c.op(pass()).map { case (dir, s) =>
        if (walls.isEmpty) samePrint("passes_hash_equal", dir)
        walls += s
        Files.delete(dir)
      }.isDefined
    c.samples("pass_s") = coldS +: walls.toSeq

    c.tracer match {
      case None =>
        c.metrics ++= Seq(
          "hits_per_s" -> records / Stats.median(walls.toSeq),
          "cold_pass_s" -> coldS,
          "out_bytes_per_hit" -> outBytes / records)
      case Some(t) =>
        val (dir, tracedS) = c.op(tracedPass(c, t, raw)).get
        samePrint("traced_hash_equals_untraced", dir)
        Files.delete(dir)
        Trace.report(c, t, Stats.median(walls.toSeq), tracedS, c.gcSeconds() - gc0)
    }
    Files.delete(coldDir)
  }

  /** The same three layers and sink as `StreamingIngestJob.start`, each
    * layer's output materialized before the next, each call in its span. */
  def tracedPass(c: Ctx, t: Tracer, raw: String): (File, Double) = {
    val spark = c.spark
    val dir = new File(c.args.work, s"traced-${System.nanoTime()}")
    val staging = new File(dir, "staging").getAbsolutePath
    val (_, wall) = c.seconds {
      t.span("pass") {
        val input = spark.read.schema(StreamingIngestJob.rawSchema).json(raw)
        val decoded = t.span("ingest.decode") { Trace.materialize(Ingest.fromFirehose(input)) }
        val rows = decoded.count().toDouble
        t.annotate("rows_out" -> rows,
          "decode_ok_ratio" -> decoded.filter(col("message_id").isNotNull).count() / rows)
        val device = t.span("enrich.ua") {
          Trace.materialize(UserAgent.withDeviceColumns(decoded, col("user_agent")))
        }
        t.annotate("bot_ratio" -> device.filter(col("device_is_bot")).count() / rows)
        val geoPlan = GeoIp.withGeoColumns(device, GeoIp.loadRanges(spark, c.args.geo),
          col("ip"), col("device_is_bot"))
        val geo = t.span("enrich.geo") { Trace.materialize(geoPlan) }
        val humans = geo.filter(!col("device_is_bot"))
        t.annotate(
          "geo_hit_ratio" -> humans.filter(col("geo_country") =!= "(not set)").count() /
            math.max(1L, humans.count()).toDouble,
          "broadcast_bytes" -> broadcastBytes(geoPlan))
        geo.write.parquet(staging)
        Seq(decoded, device, geo).foreach(Trace.release)
        t.span("jobs.ingest_sink") {
          // StreamingIngestJob's sink: date partitions from the receive
          // time, parquet, checkpointed, availableNow
          val ts = Ingest.receivedAtTs(col("received_at_apig"))
          val q = spark.readStream.schema(spark.read.parquet(staging).schema).parquet(staging)
            .withColumns(Map(
              "year" -> date_format(ts, "yyyy"),
              "month" -> date_format(ts, "MM"),
              "day" -> date_format(ts, "dd")))
            .writeStream.format("parquet")
            .option("path", new File(dir, "out").getAbsolutePath)
            .option("checkpointLocation", new File(dir, "ckpt").getAbsolutePath)
            .partitionBy("year", "month", "day")
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          q.exception.foreach(e => throw e)
        }
      }
    }
    (dir, wall)
  }

  /** Bytes the broadcast side of the geo join held, from the executed plan. */
  def broadcastBytes(df: DataFrame): Double =
    Trace.planNodes(df).collect { case b: BroadcastExchangeExec => b.metrics("dataSize").value }
      .sum.toDouble
}
