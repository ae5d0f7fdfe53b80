package graft.queries

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{Callable, CountDownLatch, Executors,
  TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** [[StageCache.memo]]'s one invalidation rule and its single-flight
  * build: an entry is served only while its sources' (path, length,
  * mtime) stamp is unchanged, `release` drops every entry and closes the
  * closeable ones, and one cold key is computed once however many
  * threads ask. Also: `getOrCache(materialize = true)` computes a
  * shared stage before overlapped legs read it. */
class StageCacheMemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) {
      StageCache.release(spark)
      spark.stop()
    }
  }

  private def withTempDir(body: Path => Unit): Unit = {
    val d = Files.createTempDirectory("memo-spec")
    try body(d) finally graft.ingest.TableSwap.rmTreeAt(d.toString)
  }

  /** Rewrite `f` with `text` and push its mtime `ms` past `from`. */
  private def rewrite(f: Path, text: String, from: FileTime, ms: Long) = {
    Files.write(f, text.getBytes("UTF-8"))
    Files.setLastModifiedTime(f, FileTime.fromMillis(from.toMillis + ms))
  }

  test("a same-length rewrite with a later mtime recomputes") {
    withTempDir { d =>
      val f = d.resolve("part-0.txt")
      Files.write(f, "aaaa".getBytes("UTF-8"))
      val computes = new AtomicInteger
      def read(): String = StageCache.memo("spec:content", Seq(d.toString)) {
        computes.incrementAndGet()
        new String(Files.readAllBytes(f), "UTF-8")
      }
      assert(read() == "aaaa" && read() == "aaaa")
      assert(computes.get == 1, "an unchanged source must be served")
      rewrite(f, "bbbb", Files.getLastModifiedTime(f), 5000)
      assert(read() == "bbbb", "a same-size rewrite served the stale value")
      assert(computes.get == 2)
    }
  }

  test("a source that is itself a file is stamped whatever its name") {
    withTempDir { d =>
      val f = d.resolve("_sidecar.txt")
      Files.write(f, "v1".getBytes("UTF-8"))
      def read(): String = StageCache.memo("spec:sidecar", Seq(f.toString)) {
        new String(Files.readAllBytes(f), "UTF-8")
      }
      assert(read() == "v1")
      rewrite(f, "v2", Files.getLastModifiedTime(f), 5000)
      assert(read() == "v2")
    }
  }

  test("release drops entries and closes AutoCloseable values; a " +
      "replaced value is closed too") {
    val closed = new AtomicInteger
    final class Res extends AutoCloseable {
      def close(): Unit = closed.incrementAndGet()
    }
    val r = StageCache.memo("spec:res", Nil)(new Res)
    assert(StageCache.memo("spec:res", Nil)(new Res) eq r)
    StageCache.release(spark)
    assert(closed.get == 1, "release must close the dropped value")
    val r2 = StageCache.memo("spec:res", Nil)(new Res)
    assert(r2 ne r, "release must drop the entry")
    withTempDir { d =>
      val f = d.resolve("src.txt")
      Files.write(f, "x".getBytes("UTF-8"))
      StageCache.memo("spec:replaced", Seq(f.toString))(new Res)
      rewrite(f, "y", Files.getLastModifiedTime(f), 5000)
      StageCache.memo("spec:replaced", Seq(f.toString))(new Res)
      assert(closed.get == 2, "a replaced value must be closed")
    }
    StageCache.release(spark)
    assert(closed.get == 4)
  }

  test("two threads asking for one cold key run compute once; nested " +
      "builds of other keys are allowed") {
    val computes = new AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fs = (1 to 2).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          go.await()
          StageCache.memo("spec:cold", Nil) {
            computes.incrementAndGet()
            Thread.sleep(300)
            StageCache.memo("spec:cold-dep", Nil)(new Object).toString
          }
        }
      }))
      go.countDown()
      val got = fs.map(_.get(30, TimeUnit.SECONDS))
      assert(computes.get == 1, s"compute ran ${computes.get} times")
      assert(got(0) eq got(1))
    } finally pool.shutdownNow()
  }

  test("a materialized stage is computed once under overlapped actions") {
    val s = spark
    import s.implicits._
    val rows = s.sparkContext.longAccumulator("memo-spec-rows")
    val n = 2000L
    val df = StageCache.getOrCache(s, "spec:acc_stage", materialize = true) {
      s.range(0, n, 1, 4).as[Long].map { x => rows.add(1); x }.toDF("x")
    }
    assert(rows.value == n, "materialize must compute the stage's blocks")
    val got = Overlap.all(Seq(() => df.count(),
      () => df.agg(org.apache.spark.sql.functions.sum("x")).head().getLong(0)))
    assert(got == Seq(n, n * (n - 1) / 2))
    assert(rows.value == n, s"stage rows computed ${rows.value} times for $n")
    StageCache.release(s)
  }
}
