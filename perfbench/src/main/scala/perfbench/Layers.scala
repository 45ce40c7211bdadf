package perfbench

/** The per-layer metrics a traced run reports: each span name with the
  * metrics every span has plus its own. A span the workload never enters
  * reports zeros, which is the prediction for the layers a workload does
  * not exercise. `perfbench/run.py` checks these names against
  * BENCHMARK.json. */
object Layers {
  val common: Seq[String] =
    Seq("self_s", "task_s", "idle_core_s", "jobs", "shuffle_write_bytes", "spill_bytes")

  private val written = Seq("files_written", "bytes_written")

  val spans: Seq[(String, Seq[String])] = Seq(
    "ingest.decode" -> Seq("rows_out", "decode_ok_ratio"),
    "enrich.ua" -> Seq("bot_ratio"),
    "enrich.geo" -> Seq("geo_hit_ratio", "broadcast_bytes"),
    "jobs.ingest_sink" -> written,
    "ingest.read_enriched" -> Seq("rows_out"),
    "jobs.plan_build" -> Nil,
    "operators.sessionize" -> Seq("hits_per_session"),
    "operators.attribution" -> Nil,
    "operators.ecommerce_export" -> Seq("rows_out"),
    "jobs.touchpoints" -> Seq("history_rows_read"),
    "jobs.history_append" -> written,
    "jobs.daily_write" -> written,
    "jobs.catalog_sync" -> written)

  val runLevel: Seq[String] =
    Seq("jvm.gc_s", "jvm.heap_after_pass_mb", "run.failed_ratio", "run.trace_overhead_ratio")

  val names: Seq[String] =
    spans.flatMap { case (s, extra) => (common ++ extra).map(m => s"$s.$m") } ++ runLevel

  /** Values every span can derive from its own counters. */
  private def derived(t: Tracer, s: Span): Map[String, Double] =
    Map(
      "self_s" -> t.selfS(s),
      "task_s" -> s.spark.taskMs.get / 1000.0,
      "idle_core_s" -> (s.wallS * t.cores - s.spark.taskMs.get / 1000.0),
      "jobs" -> s.spark.jobs.get.toDouble,
      "shuffle_write_bytes" -> s.spark.shuffleWriteBytes.get.toDouble,
      "spill_bytes" -> s.spark.spillBytes.get.toDouble,
      "files_written" -> s.filesCreated.toDouble,
      "bytes_written" -> s.bytesWritten.toDouble)

  /** Per-layer metrics: for each span name, the median over its instances
    * (one per traced pass). */
  def metrics(t: Tracer): Map[String, Double] = {
    val zero = names.map(_ -> 0.0).toMap
    zero ++ spans.flatMap { case (name, extra) =>
      val inst = t.spans.filter(_.name == name).toSeq
      if (inst.isEmpty) Nil
      else (common ++ extra).map { m =>
        s"$name.$m" -> Stats.median(inst.map(s => s.extra.getOrElse(m, derived(t, s)(m))))
      }
    }
  }
}
