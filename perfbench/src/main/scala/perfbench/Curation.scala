package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.{Dedup, Similarity, Sketches, TextOps}
import graft.streaming.FilePipelines

/** `llm_curation`: per round, `FunnelPasses` passes of the batch funnel
  * (quality → exact dedup → MinHash-LSH → SemDeDup) over the seeded
  * documents and embeddings, then
  * the online admission stream over a fixed history and fixed segments:
  * each micro-batch probes the persisted LSH index and the Bloom state
  * and appends what it admits.
  *
  * Every stage writes its output as parquet; the JVM checks row counts,
  * and checks.py checks the content (recomputed Jaccard, numpy cosine,
  * exact-text history) after the run.
  */
final class Curation(ctx: Ctx) extends Workload {
  import Curation._
  private val spark = ctx.spark
  private val sc = spark.sparkContext
  private val docs = spark.read.parquet(s"${ctx.inputs}/documents.parquet")
  private val vecs = spark.read.parquet(s"${ctx.inputs}/embeddings.parquet")
  private val nDocs = docs.count()
  private var round = 0

  private final case class Progress(batchId: Long, startMs: Long,
      durationMs: Long, rows: Long)
  private val progress = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.ConcurrentLinkedQueue[Progress]]()

  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        progress.computeIfAbsent(p.runId.toString,
          _ => new java.util.concurrent.ConcurrentLinkedQueue[Progress]())
          .add(Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
            p.durationMs.get("triggerExecution"), p.numInputRows))
    }
  })

  /** Funnel and admission stream warm up side by side (they share no
    * state); the timed rounds run them one after the other. The funnel
    * warms up on the inputs it is timed on, so the same plans are compiled
    * at the same sizes. The admission stream warms up on a small stream
    * of two segments: its first micro-batch and a later one.
    */
  def warmup(): Unit = {
    val dir = s"${ctx.work}/curation/warmup"
    Parallel.run(2, Seq(
      () => { funnel(new Ops, mutable.ArrayBuffer(), dir, "warmup"); () },
      () => {
        admission(s"${ctx.inputs}/warmup/admission", new Ops, mutable.ArrayBuffer(),
          s"$dir/admission"); ()
      }))
  }

  def timed(seconds: Double): Result = {
    val ops = new Ops
    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    val rates = mutable.ArrayBuffer[Double]()
    val batchS = mutable.ArrayBuffer[Double]()   // steady-state batches
    val firstS = mutable.ArrayBuffer[Double]()   // each stream's batch 0
    val t0 = System.nanoTime()
    var rounds = 0
    var last: RoundOut = null
    while (rounds == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      last = oneRound(ops, checks)
      rates ++= last.funnels.map { case (rows, secs) => rows / secs }
      // a stream's first micro-batch also creates its checkpoint and
      // plans the query for the first time: it is reported on its own
      firstS += last.batchS.head
      batchS ++= last.batchS.tail
      rounds += 1
    }
    // wasted LSH verification: verified pairs per candidate pair of the
    // last round's LSH input (traced runs only; outside every span)
    val pairsPerCandidate =
      if (!Trace.enabled) Map.empty
      else {
        val cands = Dedup.lshCandidates(spark.read.parquet(s"${last.dir}/exact")).count()
        val pairs = spark.read.parquet(s"${last.dir}/lsh").count()
        graft.util.Scratch.release(spark)
        Map("curation.lsh.pairs_per_candidate" ->
          (if (cands == 0) 0.0 else pairs.toDouble / cands))
      }
    Result(ops, rates.size,
      metrics = Map(
        "throughput_per_s" -> Stats.median(rates.toSeq),
        "latency_ms" -> Stats.median(batchS.toSeq) * 1000.0),
      detail = Map(
        "rounds" -> rounds,
        "funnel_passes" -> rates.size,
        "funnel_rates_per_s" -> rates.toSeq,
        "curation_rows_per_s" -> Stats.median(rates.toSeq),
        "admission_batch_s" -> Stats.median(batchS.toSeq),
        "admission_first_batch_s" -> Stats.median(firstS.toSeq),
        "admission_batches" -> (batchS.size + firstS.size),
        "admission_batch_durations_s" -> batchS.toSeq) ++ pairsPerCandidate,
      checks = checks.toSeq)
  }

  /** `dir` holds the last funnel pass's outputs; `funnels` gives each
    * pass's (rows, engine seconds).
    */
  private final case class RoundOut(dir: String, funnels: Seq[(Long, Double)],
      batchS: Seq[Double])

  /** `FunnelPasses` funnel passes over the same inputs, then one admission
    * stream. The first timed pass still runs about a quarter slower than
    * the second; the median of the two rates was steadier over seeds than
    * either pass alone.
    */
  private def oneRound(ops: Ops, checks: mutable.ArrayBuffer[Map[String, Any]]): RoundOut = {
    round += 1
    val dir = s"${ctx.work}/curation/round-$round"
    val funnels = (1 to FunnelPasses).map(p => funnel(ops, checks, s"$dir/pass-$p",
      s"$round.$p"))
    RoundOut(s"$dir/pass-$FunnelPasses", funnels,
      admission(s"${ctx.inputs}/admission", ops, checks, s"$dir/admission"))
  }

  /** One funnel pass; returns the rows it consumed (documents + vectors)
    * and the seconds its engine calls took (the checks not counted). Its
    * check entries carry `key`.
    */
  private def funnel(ops: Ops, checks: mutable.ArrayBuffer[Map[String, Any]], dir: String,
      key: String): (Long, Double) = {
    var engineNs = 0L
    def stage(name: String, out: String, expectRows: Option[Long])(
        body: => DataFrame): Unit = {
      var rows = -1L
      ops.run(name) {
        val t0 = System.nanoTime()
        try Trace.span(sc, name) { body.write.parquet(s"$dir/$out") }
        finally {
          graft.util.Scratch.release(spark)
          engineNs += System.nanoTime() - t0
        }
        rows = spark.read.parquet(s"$dir/$out").count()
        expectRows.filter(_ != rows).map(e => s"$rows rows, expected $e")
      }
      checks += Map("stage" -> name, "round" -> key, "path" -> s"$dir/$out",
        "jvm_ok" -> expectRows.forall(_ == rows))
    }
    stage("curation.quality", "quality", Some(nDocs)) {
      docs.select(col("doc_id"), TextOps.qualityCol(col("text")).as("quality"))
    }
    val kept = docs.join(spark.read.parquet(s"$dir/quality")
      .filter(col("quality") >= QualityMin).select("doc_id"), "doc_id")
    stage("curation.exact", "exact", None) {
      Dedup.exactSurvivors(kept, col("text"), col("doc_id")).select("doc_id", "text")
    }
    val survivors = spark.read.parquet(s"$dir/exact")
    stage("curation.lsh", "lsh", None) {
      Dedup.lshNearDups(survivors, n = 3, threshold = LshThreshold)
    }
    val after = survivors.join(spark.read.parquet(s"$dir/lsh")
      .select(col("db").as("doc_id")), Seq("doc_id"), "left_anti")
    val semIn = vecs.join(after.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    stage("curation.semdedup", "semdedup", None) {
      Similarity.semDeDup(semIn, SemThreshold, ncells = SemCells)
    }
    (nDocs + spark.read.parquet(s"$dir/semdedup").count(), engineNs / 1e9)
  }

  /** The admission stream over fresh state: history seeded into the LSH
    * index and a Bloom epoch below every batch id, then one micro-batch
    * per segment.
    */
  private def admission(in: String, ops: Ops,
      checks: mutable.ArrayBuffer[Map[String, Any]], dir: String): Seq[Double] = {
    val segments = new java.io.File(in).list().filter(_.startsWith("segment-")).sorted.toSeq
    val history = spark.read.schema(FilePipelines.docSchema).json(s"$in/history.ndjson")
    Dedup.writeLshIndex(history, s"$dir/index")
    val noPrior = spark.createDataFrame(java.util.List.of[Row](),
      StructType(Seq(StructField("word", LongType), StructField("bits", LongType))))
    Sketches.bloomMerge(noPrior, history, col("text"))
      .write.json(s"$dir/state/epoch=-1")
    // one file per segment, oldest first: maxFilesPerTrigger=1 makes each
    // segment one micro-batch, in order
    val stream = new java.io.File(s"$dir/in")
    stream.mkdirs()
    segments.zipWithIndex.foreach { case (f, k) =>
      val dst = new java.io.File(stream, f)
      java.nio.file.Files.copy(new java.io.File(s"$in/$f").toPath, dst.toPath)
      dst.setLastModified(1700000000000L + k * 1000L)
    }
    val q = FilePipelines.ingestAdmissionStream(spark, stream.getPath,
      s"$dir/index", s"$dir/state", s"$dir/out", s"$dir/checkpoint")
    q.awaitTermination()
    val runId = q.runId.toString
    val deadline = System.nanoTime() + 10_000_000_000L
    def got = Option(progress.get(runId)).map(_.size).getOrElse(0)
    while (got < segments.size && System.nanoTime() < deadline) Thread.sleep(20)
    val ps = Option(progress.get(runId)).map(_.toArray(Array.empty[Progress]).toSeq)
      .getOrElse(Seq.empty).sortBy(_.batchId)
    segments.indices.map { b =>
      val p = ps.find(_.batchId == b)
      p.foreach(x => Trace.batchSpan("curation.admission", runId, b, x.startMs, x.durationMs))
      val verdicts = s"$dir/out/batch=$b"
      var ok = false
      ops.run("curation.admission") {
        val rows = spark.read.parquet(verdicts).count()
        ok = p.isDefined && rows == p.get.rows
        if (ok) None else Some(s"batch $b: $rows verdicts, progress ${p.map(_.rows)}")
      }
      checks += Map("stage" -> "curation.admission", "round" -> round.toString,
        "batch" -> b, "path" -> verdicts, "jvm_ok" -> ok)
      p.map(_.durationMs / 1000.0).getOrElse(Double.NaN)
    }
  }
}

object Curation {
  val QualityMin = 0.35
  val LshThreshold = 0.5
  val SemThreshold = 0.95
  val SemCells = 16
  val FunnelPasses = 2
}
