package perfbench

/** `fhir_pipeline`: the reference pipeline (ETL, [[Etl]]) and then its
  * query surface (search, [[Search]]) in one run. The two warm up side
  * by side; the timed part runs one ETL pass, then the search phases.
  * End-to-end figures: ETL resources/s as the throughput, the one-client
  * search latency (geometric mean over the mix of each request's faster
  * round) as the latency.
  */
final class Pipeline(etl: Etl, search: Search) extends Workload {
  def warmup(): Unit = Parallel.run(2, Seq(() => etl.warmup(), () => search.warmup()))

  def timed(seconds: Double): Result = {
    val ops = new Ops
    val e = etl.timed(ops, seconds)
    val s = search.timed(ops, seconds)
    Result(ops, e.passes,
      metrics = Map("throughput_per_s" -> e.resourcesPerS, "latency_ms" -> s.latencyMs),
      detail = e.detail ++ s.detail)
  }
}
