package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: warm up, measure for `--seconds`,
  * check every operation, write `--out` (a JSON object) and exit.
  *
  * Arguments (all required): --workload fhir_pipeline|llm_curation
  * --seconds S --trace 0|1 --inputs DIR --expected FILE --work DIR
  * --out FILE --t0-ms EPOCH_MS --cores N. The inputs (with their
  * `manifest.json`) come from gen.py and are complete once
  * `<work>/inputs.ready` exists; the expected file comes from expect.py
  * while this JVM warms up, and is complete once `<work>/expected.ready`
  * exists. The work dir is emptied by the caller.
  */
object Main {

  def main(args: Array[String]): Unit =
    try run(args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap)
    catch {
      case t: Throwable =>
        System.err.println("[fatal] the run stopped:")
        t.printStackTrace()
        System.err.flush()
        sys.exit(3)
    }

  private def run(opt: Map[String, String]): Unit = {
    val t0 = opt("t0-ms").toLong
    def sinceT0(ms: Long): Double = (ms - t0) / 1000.0
    val cores = opt("cores").toInt
    Trace.enabled = opt("trace") == "1"
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.local.dir", s"${opt("work")}/spark-local")
    val spark = graft.GraftSession.configure(b, shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (Trace.enabled) spark.sparkContext.addSparkListener(Trace.Listener)
    val sessionMs = System.currentTimeMillis()
    System.err.println(f"[phase] session ready ${sinceT0(sessionMs)}%.3f s")
    // the caller generates the inputs while this JVM starts
    awaitFile(s"${opt("work")}/inputs.ready")
    val ctx = new Ctx(spark, opt("inputs"), opt("work"), cores)
    val wl: Workload = opt("workload") match {
      case "fhir_pipeline" => new Pipeline(new Etl(ctx), new Search(ctx))
      case "llm_curation" => new Curation(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    wl.warmup()
    // set-up ends with the warm-up; the wait for the checker's expected
    // results that may follow it is not set-up work of the engine
    val warmedMs = System.currentTimeMillis()
    System.err.println(f"[phase] warm-up done ${sinceT0(warmedMs)}%.3f s")
    awaitFile(s"${opt("work")}/expected.ready")
    ctx.expected = Json.read(opt("expected"))
    Trace.recording = true
    val timedStart = System.currentTimeMillis()
    val gc0 = gcMs()
    val res = wl.timed(opt("seconds").toDouble)
    val gcS = (gcMs() - gc0) / 1000.0
    Trace.recording = false
    val metrics = mutable.LinkedHashMap[String, Any]("setup_s" -> sinceT0(warmedMs)) ++
      res.metrics
    val layers =
      if (Trace.enabled) Layers.report(ctx, res.passes, gcS, res.detail) else Map.empty
    Json.writeFile(opt("out"), Map(
      "attempted" -> res.ops.attempted, "failed" -> res.ops.failed,
      "failures" -> res.ops.failures,
      "metrics" -> metrics,
      "detail" -> (res.detail ++ Map(
        "session_ready_s" -> sinceT0(sessionMs),
        "warmup_s" -> (warmedMs - sessionMs) / 1000.0,
        "expected_wait_s" -> (timedStart - warmedMs) / 1000.0,
        "gc_s" -> gcS,
        "peak_rss_mb" -> peakRssMb())),
      "layers" -> layers,
      "checks" -> res.checks))
    spark.stop()
  }

  private def awaitFile(path: String): Unit = {
    val f = new java.io.File(path)
    val deadline = System.nanoTime() + 150_000_000_000L
    while (!f.exists()) {
      require(System.nanoTime() < deadline, s"$path did not appear in time")
      Thread.sleep(20)
    }
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** VmHWM of this JVM: the peak resident set, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  }
}

/** What the workloads share: the session, the input directory and its
  * manifest (the type list and the search mix), the work directory, and
  * the expected results, which [[Main]] sets after the warm-up.
  */
final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
    val cores: Int) {
  val manifest: JsonNode = Json.read(s"$inputs/manifest.json")
  @volatile var expected: JsonNode = _
}

/** Attempted/failed bookkeeping: an operation fails if it throws or its
  * check returns a failure message.
  */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  def run(name: String)(body: => Option[String]): Unit = {
    val t0 = System.nanoTime()
    val verdict =
      try body
      catch { case e: Throwable => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    System.err.println(f"[op] $name%-40s ${(System.nanoTime() - t0) / 1e6}%9.1f ms " +
      verdict.getOrElse("ok"))
    synchronized {
      attempted += 1
      verdict.foreach { m => failed += 1; failures += s"$name: $m" }
    }
  }
}

/** `passes`: the ETL or funnel passes the per-layer totals are averaged over. */
final case class Result(ops: Ops, passes: Int, metrics: Map[String, Any],
    detail: Map[String, Any], checks: Seq[Map[String, Any]] = Seq.empty)

trait Workload {
  /** One untimed round on the same inputs (JIT, codegen, file caches). */
  def warmup(): Unit
  /** Whole rounds until `seconds` have passed. */
  def timed(seconds: Double): Result
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples beyond it. */
  def tailPercentile(n: Int): Int =
    (99 to 50 by -1).find(p => n * (100 - p) / 100.0 >= 10).getOrElse(50)

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
