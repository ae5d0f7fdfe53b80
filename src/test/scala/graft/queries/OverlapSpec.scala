package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.VolumeWitness
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** A failed [[Overlap]] leg stops its siblings: `all` rethrows that leg's
  * own exception as soon as it fails, not after the legs listed before
  * it, and no sibling Spark job is still running once it returns. */
class OverlapSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("a failing leg cancels a long sibling job and rethrows its own " +
      "exception") {
    val s = spark
    import s.implicits._
    val started = new ConcurrentHashMap[Int, java.lang.Long]
    val ended = new ConcurrentHashMap[Int, java.lang.Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.put(e.jobId, e.time)
    }
    VolumeWitness.sync(s)
    s.sparkContext.addSparkListener(listener)
    try {
      // the sibling's natural runtime: every task sleeps this long unless
      // its job is cancelled (a killed task sees isInterrupted)
      val naturalMs = 30000L
      val sibling = () => s.range(0, 4, 1, 4).as[Long].map { x =>
        val ctx = TaskContext.get()
        val until = System.currentTimeMillis() + naturalMs
        while (System.currentTimeMillis() < until && !ctx.isInterrupted())
          Thread.sleep(20)
        x
      }.count()
      @volatile var failedAt = 0L
      val failing = () => {
        // fail once the sibling's job is running
        val deadline = System.currentTimeMillis() + naturalMs / 2
        while (started.isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        failedAt = System.currentTimeMillis()
        throw new IllegalStateException("leg failed")
      }
      val t0 = System.currentTimeMillis()
      val e = intercept[IllegalStateException](
        Overlap.all(Seq(sibling, failing)))
      val returned = System.currentTimeMillis()
      assert(e.getMessage == "leg failed")
      assert(returned - failedAt < 5000 && returned - t0 < naturalMs * 2 / 3,
        s"all returned ${returned - failedAt} ms after the failure: it " +
          "waited for the sibling")
      VolumeWitness.sync(s)
      assert(!started.isEmpty, "the sibling never started a job")
      started.forEach { (job, _) =>
        val end = Option(ended.get(job))
        assert(end.exists(_ <= returned),
          s"sibling job $job was still running when all returned")
      }
    } finally s.sparkContext.removeSparkListener(listener)
  }
}
