package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GaFunctions
import graft.ingest.Ingest
import graft.jobs.{DailyJob, GaCatalog, GaPipeline}
import graft.operators.Ecommerce

/** Stage 4: the nightly export. Each pass runs `DailyJob.run` with its
  * defaults on one enriched day and a fresh copy of a 30-day history. */
object DailyExport {

  val Tables: Seq[String] = Seq("sessions", "pageviews", "events", "products", "transactions", "items")

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val jobDate = c.truth("job_date")
    val hits = c.truthLong("hits")
    val enrichedRoot = new File(c.args.data, "enriched").getAbsolutePath
    val historySeed = new File(c.args.work, "history-seed")
    spark.read.schema(GaPipeline.touchpointSessionSchema)
      .json(new File(c.args.data, "history.json").getAbsolutePath)
      .write.parquet(historySeed.getAbsolutePath)
    val historyRows = spark.read.parquet(historySeed.getAbsolutePath).count()
    c.check("history_rows_equal_truth", historyRows == c.truthLong("history_rows"),
      s"$historyRows != ${c.truth("history_rows")}")
    val seedBytes = Files.bytesUnder(historySeed)
    var passNo = 0

    /** A fresh output root holding a copy of the history. */
    def freshRoot(prefix: String): DailyJob.Paths = {
      passNo += 1
      val out = new File(c.args.work, s"$prefix-$passNo")
      Files.copyTree(historySeed, new File(out, "history/sessions"))
      spark.catalog.clearCache()
      DailyJob.Paths(enrichedRoot, out.getAbsolutePath, jobDate)
    }
    def pass(): (DailyJob.Paths, Double) = {
      val paths = freshRoot("pass")
      val (_, s) = c.seconds { DailyJob.run(spark, paths) }
      (paths, s)
    }
    def prints(p: DailyJob.Paths): Seq[(Long, BigDecimal)] =
      Tables.map(t => Fingerprint.of(spark.read.parquet(p.daily(t)))) :+
        Fingerprint.of(spark.read.parquet(p.historyPath))
    def drop(p: DailyJob.Paths): Unit = Files.delete(new File(p.outRoot))

    c.markSetupDone()
    val (coldPaths, coldS) = c.op(pass()).get
    c.phase("timed_pass")
    val coldPrints = prints(coldPaths)
    val sessions = coldPrints.head._1
    c.check("sessions_equal_truth", sessions == c.truthLong("sessions"),
      s"$sessions != ${c.truth("sessions")}")
    c.check("history_appended_sessions", coldPrints.last._1 == historyRows + sessions,
      s"${coldPrints.last._1} != $historyRows + $sessions")
    Tables.zip(coldPrints).foreach { case (t, p) =>
      c.check(s"${t}_not_empty", p._1 > 0, s"$t is empty")
    }
    val outBytes = (Files.bytesUnder(new File(coldPaths.outRoot)) - seedBytes).toDouble
    def samePrints(name: String, p: DailyJob.Paths): Unit = {
      val now = prints(p)
      c.check(name, now == coldPrints,
        Tables.:+("history").zip(now.zip(coldPrints)).filter(x => x._2._1 != x._2._2)
          .map(x => s"${x._1}: ${Fingerprint.show(x._2._1)} != ${Fingerprint.show(x._2._2)}")
          .mkString("; "))
    }

    c.phase("checks")

    // Warm passes until their wall times add up to --seconds, at least one;
    // the first is checked against the cold pass, and all of them count in
    // the median.
    val gc0 = c.gcSeconds()
    val walls = mutable.ArrayBuffer.empty[Double]
    var ok = true
    while (ok && (walls.isEmpty || walls.sum < c.args.seconds))
      ok = c.op(pass()).map { case (p, s) =>
        if (walls.isEmpty) samePrints("passes_hash_equal", p)
        walls += s
        drop(p)
      }.isDefined
    c.samples("pass_s") = coldS +: walls.toSeq

    c.tracer match {
      case None =>
        c.metrics ++= Seq(
          "hits_per_s" -> hits / Stats.median(walls.toSeq),
          "cold_pass_s" -> coldS,
          "out_bytes_per_hit" -> outBytes / hits)
      case Some(t) =>
        val paths = freshRoot("traced")
        val (_, tracedS) = c.op(c.seconds(tracedPass(c, t, paths))).get
        samePrints("traced_hash_equals_untraced", paths)
        drop(paths)
        Trace.report(c, t, Stats.median(walls.toSeq), tracedS, c.gcSeconds() - gc0)
    }
    drop(coldPaths)
  }

  /** The public calls `DailyJob.run` makes, in its order and with its
    * arguments, each layer's output materialized before the next one. */
  def tracedPass(c: Ctx, t: Tracer, paths: DailyJob.Paths): Unit = t.span("pass") {
    val spark = c.spark
    val input = Ingest.readEnrichedHits(spark, paths.enrichedDay)
    val history = GaPipeline.loadHistory(spark, paths.historyPath)
    t.span("jobs.plan_build") {
      GaPipeline.run(input, history, paths.jobDate, "sha1", incrementalTouchpoints = true)
    }
    // plan_build registered its export for caching; drop it so the layers
    // below compute from their own materialized inputs
    spark.catalog.clearCache()
    val hits = t.span("ingest.read_enriched") { Trace.materialize(input) }
    t.annotate("rows_out" -> hits.count().toDouble)
    val sess = t.span("operators.sessionize") { Trace.materialize(GaPipeline.sessionized(hits, "sha1")) }
    t.annotate("hits_per_session" -> sess.count().toDouble /
      math.max(1L, sess.filter(col("is_new_session") === 1).count()))
    val derived = t.span("operators.attribution") {
      Trace.materialize(GaPipeline.withDerivedColumns(sess))
    }
    val export = t.span("operators.ecommerce_export") {
      val exploded = Ecommerce.explodeProducts(derived)
        .withColumn("product_revenue",
          GaFunctions.productRevenue(col("prqt"), col("prpr"), col("action_type")))
      Trace.materialize(GaPipeline.exportTable(exploded))
    }
    t.annotate("rows_out" -> export.count().toDouble)
    def dayOnly(df: DataFrame): DataFrame =
      df.filter(to_date(col("timestamp")) === lit(paths.jobDate)).coalesce(1)
    val (merged, sessions) = t.span("jobs.touchpoints") {
      // GaPipeline.run's incremental touchpoints, then DailyJob's day filter
      val tpCols = Seq("touchpoints", "touchpoints_wo_direct", "first_touchpoint", "last_touchpoint")
      val today = GaPipeline.newSessions(GaPipeline.exportSessions(export), paths.jobDate)
      val todayIds = today.select(col("fullVisitorId")).distinct()
      val touched = history.join(todayIds, Seq("fullVisitorId"), "left_semi")
      val untouched = history.join(todayIds, Seq("fullVisitorId"), "left_anti")
      val merged = untouched.unionByName(
        GaPipeline.withTouchpoints(touched.unionByName(today).drop(tpCols: _*)))
        .filter(to_date(col("timestamp")) === lit(paths.jobDate))
      (merged, Trace.materialize(merged))
    }
    t.annotate("history_rows_read" -> Trace.scanRows(merged, paths.historyPath))
    t.span("jobs.history_append") {
      sessions.coalesce(1).write.mode("append").parquet(paths.historyPath)
    }
    t.span("jobs.daily_write") {
      Seq(
        "sessions" -> sessions, "pageviews" -> GaPipeline.hitsPageviews(export),
        "events" -> GaPipeline.hitsEvents(export), "products" -> GaPipeline.hitsProducts(export),
        "transactions" -> GaPipeline.hitsTransactions(export), "items" -> GaPipeline.hitsItems(export)
      ).foreach { case (tpe, df) =>
        dayOnly(df).write.mode("overwrite").parquet(paths.daily(tpe))
      }
    }
    t.span("jobs.catalog_sync") { GaCatalog.register(spark, paths.outRoot, "ga") }
    Seq(hits, sess, derived, export, sessions).foreach(Trace.release)
  }
}
