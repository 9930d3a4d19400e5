package perfbench

import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

/** Runs independent calls on a fixed pool and rethrows the first failure.
  * The warm-ups use it: compiling and JIT-warming many independent plans
  * overlaps across cores instead of queueing on one thread.
  */
object Parallel {
  def run(threads: Int, calls: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val tasks = calls.map(c => new Callable[Unit] { def call(): Unit = c() })
      pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES); ()
    }
  }
}
