package perfbench

/** Per-layer metrics of a traced run, named `<stage>.<counter>`.
  *
  * Request- and batch-shaped stages (`search.*`, `curation.admission`)
  * report the median over their spans; the other stages report their
  * total per pass (one ETL pass, one funnel pass). Every stage of
  * every workload is reported, so an idle layer reads 0.
  */
object Layers {
  val AllStages: Seq[String] = Seq(
    "etl.ingest", "etl.transform", "etl.assay", "etl.store",
    "search.simple", "search.join", "search.count", "search.text",
    "curation.quality", "curation.exact", "curation.lsh",
    "curation.semdedup", "curation.admission")

  val Counters: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "plan_ms" -> "ms", "jobs" -> "count", "tasks" -> "count",
    "cpu_s" -> "s", "input_bytes" -> "bytes", "shuffle_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "idle_gap_s" -> "s")

  val Extra: Seq[(String, String)] = Seq(
    "search.frontend_ms" -> "ms",
    "search.rows_read_per_row_returned" -> "ratio",
    "curation.lsh.pairs_per_candidate" -> "ratio",
    "curation.admission.jobs_per_batch" -> "count",
    "jvm.gc_s" -> "s")

  private def perMedian(stage: String) =
    stage.startsWith("search.") || stage == "curation.admission"

  def report(ctx: Ctx, passes: Int, gcS: Double,
      detail: Map[String, Any]): scala.collection.Map[String, Any] = {
    val (spans, counters) = Trace.finish()
    writeSpans(s"${ctx.work}/spans.jsonl", spans)
    val empty = new Trace.Counters
    def values(s: Trace.Span): Map[String, Double] = {
      val c = counters.getOrElse(s.id, empty)
      Map("wall_s" -> s.wallNs / 1e9, "plan_ms" -> c.planMs,
        "jobs" -> c.jobs.toDouble, "tasks" -> c.tasks.toDouble,
        "cpu_s" -> c.cpuNs / 1e9, "input_bytes" -> c.inputBytes.toDouble,
        "shuffle_bytes" -> c.shuffleBytes.toDouble,
        "spill_bytes" -> c.spillBytes.toDouble,
        "idle_gap_s" -> Trace.idleGapNs(s, c) / 1e9)
    }
    val out = scala.collection.mutable.LinkedHashMap[String, Any]()
    AllStages.foreach { st =>
      val mine = spans.filter(_.name == st)
      Counters.foreach { case (k, unit) =>
        val xs = mine.map(s => values(s)(k))
        val v =
          if (xs.isEmpty) 0.0
          else if (perMedian(st)) Stats.median(xs)
          else xs.sum / math.max(1, passes)
        out(s"$st.$k") = Map("value" -> v, "unit" -> unit)
      }
    }
    val searches = spans.filter(_.name.startsWith("search."))
    val frontend = searches.filter(_.frontendNs >= 0).map(_.frontendNs / 1e6)
    val ratio = searches.filter(_.rowsReturned >= 0).map { s =>
      counters.getOrElse(s.id, empty).inputRecords.toDouble / math.max(1L, s.rowsReturned)
    }
    val admission = spans.filter(_.name == "curation.admission")
      .map(s => counters.getOrElse(s.id, empty).jobs.toDouble)
    val extra = Map(
      "search.frontend_ms" -> (if (frontend.isEmpty) 0.0 else Stats.median(frontend)),
      "search.rows_read_per_row_returned" -> (if (ratio.isEmpty) 0.0 else Stats.median(ratio)),
      "curation.lsh.pairs_per_candidate" ->
        detail.get("curation.lsh.pairs_per_candidate").map(_.asInstanceOf[Double]).getOrElse(0.0),
      "curation.admission.jobs_per_batch" ->
        (if (admission.isEmpty) 0.0 else Stats.median(admission)),
      "jvm.gc_s" -> gcS)
    Extra.foreach { case (k, unit) => out(k) = Map("value" -> extra(k), "unit" -> unit) }
    out
  }

  private def writeSpans(path: String, spans: Seq[Trace.Span]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.write(Map("run" -> Trace.runId, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end)))
    } finally w.close()
  }
}
