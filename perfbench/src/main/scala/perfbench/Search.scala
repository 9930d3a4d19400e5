package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.fhir.FhirSearch

/** The search half of `fhir_pipeline`: a closed loop of a fixed request
  * mix (the manifest's) over the generated store (the
  * `FhirSearch.overFixtures` layout). First one client runs whole rounds
  * of the mix (at least two) for half the run; then `cores` clients share
  * one round. Each request's result is compared with DuckDB's answer
  * (expect.py).
  */
final class Search(ctx: Ctx) {
  import Search._
  private val spark = ctx.spark
  private val sc = spark.sparkContext
  private val engine = FhirSearch.overFixtures(spark, s"${ctx.inputs}/store")

  private final case class Req(cls: String, request: String, kind: String)
  private final case class Want(rows: Long, md5: String, total: Long)

  private val mix: Seq[Req] = ctx.manifest.get("search").elements().asScala.map { e =>
    Req(e.get("class").asText, e.get("request").asText, e.get("kind").asText)
  }.toSeq

  /** DuckDB's answer per request; read once the expected results exist. */
  private lazy val want: Map[String, Want] =
    ctx.expected.get("search").elements().asScala.map { e =>
      e.get("request").asText -> Want(
        Option(e.get("rows")).map(_.asLong).getOrElse(-1L),
        Option(e.get("md5")).map(_.asText).getOrElse(""),
        Option(e.get("total")).map(_.asLong).getOrElse(-1L))
    }.toMap

  /** Run one request; returns its latency in seconds. The warm-up runs
    * requests unchecked (`ops` = None).
    */
  private def one(ops: Option[Ops], r: Req): Double = {
    var secs = Double.NaN
    def call(body: => Option[String]): Unit = ops match {
      case Some(o) => o.run(s"search ${r.request}")(body)
      case None => body; ()
    }
    call {
      val t0 = System.nanoTime()
      val rows = Trace.span(sc, s"search.${r.cls}") {
        val df = engine.search(r.request)
        val s = Trace.currentSpan
        if (s != null) s.frontendNs = System.nanoTime() - s.start
        val out = result(df, r.kind)
        if (s != null) s.rowsReturned = out.size.toLong
        out
      }
      secs = (System.nanoTime() - t0) / 1e9
      if (ops.isEmpty) None else check(r, rows)
    }
    secs
  }

  private def result(df: DataFrame, kind: String): Seq[String] = kind match {
    case "total" => Seq(df.select(col("total")).head().getLong(0).toString)
    case "rows" =>
      df.select(concat_ws("|", col("resourceType"), col("id"), col("mode")))
        .collect().map(_.getString(0)).toSeq
    case _ => df.select(col("id")).collect().map(_.getString(0)).toSeq
  }

  private def check(r: Req, rows: Seq[String]): Option[String] = {
    val w = want(r.request)
    r.kind match {
      case "total" =>
        if (rows.head.toLong == w.total) None
        else Some(s"total ${rows.head}, expected ${w.total}")
      case kind =>
        val canon = if (kind == "ids_ordered") rows else rows.sorted
        if (canon.size == w.rows && Stats.md5(canon.mkString("\n")) == w.md5) None
        else Some(s"${canon.size} rows differ from the ${w.rows} DuckDB returns")
    }
  }

  def warmup(): Unit = Parallel.run(ctx.cores, mix.map(r => () => { one(None, r); () }))

  /** The one-client phase, then the `cores`-client phase. */
  def timed(ops: Ops, seconds: Double): Figures = {
    // phase 1: one client, whole rounds of the mix (at least two) for
    // half the run
    val single = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    var rounds = 0
    while (rounds < 2 || (System.nanoTime() - t0) / 1e9 < seconds / 2) {
      mix.foreach(r => single += one(Some(ops), r))
      rounds += 1
    }
    // phase 2: `cores` clients in a closed loop, each taking the next
    // request of `MultiRounds` whole rounds as soon as its last one returns
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[Req](
      Seq.fill(MultiRounds)(mix).flatten.asJava)
    val t1 = System.nanoTime()
    Parallel.run(ctx.cores, Seq.fill(ctx.cores)(() => {
      var r = queue.poll()
      while (r != null) { one(Some(ops), r); r = queue.poll() }
    }))
    val multiWall = (System.nanoTime() - t1) / 1e9
    val lat = single.toSeq.map(_ * 1000.0)
    val tail = Stats.tailPercentile(lat.size)
    val rps = MultiRounds * mix.size / multiWall
    // each request's fastest round (one stalled round does not count),
    // summarised by the geometric mean over the mix, so that no single
    // request class dominates (the mix spans 0.1 s reads to 1 s+ sweeps)
    val bestOfRounds = lat.grouped(mix.size).toSeq.transpose.map(_.min)
    val latency = math.exp(bestOfRounds.map(math.log).sum / bestOfRounds.size)
    Figures(latency, Map(
      "search_best_of_rounds_geomean_ms" -> latency,
      "search_mean_ms" -> lat.sum / lat.size,
      "search_p50_ms" -> Stats.median(lat),
      s"search_p${tail}_ms" -> Stats.quantile(lat, tail / 100.0),
      "search_one_client_samples" -> lat.size,
      "search_rps" -> rps,
      "search_clients" -> ctx.cores,
      "search_multi_client_requests" -> MultiRounds * mix.size))
  }
}

object Search {
  final case class Figures(latencyMs: Double, detail: Map[String, Any])

  private val MultiRounds = 1
}
