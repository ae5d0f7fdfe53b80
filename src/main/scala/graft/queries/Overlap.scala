package graft.queries

import java.util.concurrent.{Callable, ExecutionException,
  ExecutorCompletionService, Executors, Future, TimeUnit}

import org.apache.spark.sql.graft.JobTags

/** Overlap independent driver-orchestrated legs (guide §2.6 "overlap
  * independent jobs"): Spark's scheduler happily runs several jobs at
  * once inside one application — actions are only sequential because
  * driver code awaits them sequentially, so a study built from k
  * independent bounded collects otherwise pays k full job latencies in
  * series. Job descriptions/groups are thread-local, so UI labels stay
  * correct per leg. Legs must not mutate shared session state (conf,
  * temp views) — conf-mutating serving legs stay sequential.
  */
private[queries] object Overlap {

  /** Unwrap ExecutionException so a leg's real failure class (what the
    * bench/Verify artifacts record) survives the thread hop. */
  private def awaitGet[T](f: Future[T]): T =
    try f.get()
    catch { case e: ExecutionException => throw e.getCause }

  /** Run `legs` concurrently on a bounded pool (2-3 in flight is plenty
    * — enough to fill each job's tail, not so many that they fight for
    * executors), returning results in input order. The first leg to
    * fail stops the rest: queued legs never start, running ones are
    * interrupted, and their Spark jobs (tagged per call) are cancelled
    * before that leg's own exception is rethrown. */
  def all[T](legs: Seq[() => T], parallelism: Int = 3): Seq[T] = {
    if (legs.size <= 1) return legs.map(_())
    val tag = s"graft-overlap-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(math.min(parallelism, legs.size))
    val done = new ExecutorCompletionService[T](pool)
    val fs = legs.map(l => done.submit(new Callable[T] {
      def call(): T = JobTags.tagged(tag)(l())
    }))
    try {
      legs.foreach(_ => awaitGet(done.take()))
      fs.map(_.get())
    } catch {
      case e: Throwable =>
        fs.foreach(_.cancel(true))
        pool.shutdownNow()
        pool.awaitTermination(60, TimeUnit.SECONDS)
        JobTags.cancel(tag, "an overlapped sibling leg failed")
        throw e
    } finally pool.shutdown()
  }

  def par2[A, B](a: => A, b: => B): (A, B) = {
    val r = all[Any](Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  def par3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val r = all[Any](Seq(() => a, () => b, () => c))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }
}
