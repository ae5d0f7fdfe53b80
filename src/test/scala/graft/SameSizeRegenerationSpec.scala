package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.StageCache

/** No in-process memo may serve a stale answer after its source is
  * rewritten at the same byte size: x22's BM25 stats row over a
  * `documents.parquet` regenerated with equal-length texts (uncompressed,
  * so the file size cannot move) must match a fresh run over the new
  * data. Spark's cached blocks are cleared and a new session is used, so
  * only the process-wide memos can carry state across the rewrite. */
class SameSizeRegenerationSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  /** 40 docs of identical length; `stream(i)` puts the query term
    * "stream" (6 letters) in doc i, else the filler "filler". */
  private def writeDocs(dir: Path, stream: Int => Boolean): Unit = {
    val s = spark
    import s.implicits._
    val rows = (0 until 40).map { i =>
      val text = Seq(f"d$i%03d", if (stream(i)) "stream" else "filler",
        if (i % 3 == 0) "vector" else "lorems",
        if (i % 5 == 0) "window" else "ipsums", "spark", "corpus")
        .mkString(" ")
      (i.toLong, text, "en", "web", text.length.toLong)
    }
    val out = Files.createTempDirectory("regen-write")
    try {
      rows.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
        .write.mode("overwrite").option("compression", "none")
        .parquet(out.resolve("t").toString)
      val part = out.resolve("t").toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve("documents.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    } finally graft.ingest.TableSwap.rmTreeAt(out.toString)
  }

  private def x22(s: SparkSession, dir: Path): Seq[String] =
    SparkEntry.queries("x22_bm25")(s, dir.toString).collect()
      .map(_.toString).toSeq

  test("x22 answers fresh after documents.parquet is regenerated at the " +
      "same size") {
    val old = (i: Int) => i % 4 == 0
    val now = (i: Int) => i % 2 == 0
    val a = Files.createTempDirectory("regen-a")
    val b = Files.createTempDirectory("regen-b")
    val sessions = Seq(spark.newSession(), spark.newSession())
    try {
      writeDocs(a, old)
      val f = a.resolve("documents.parquet")
      val (size0, mtime0) = (Files.size(f), Files.getLastModifiedTime(f))
      val before = x22(spark, a)
      writeDocs(a, now)
      Files.setLastModifiedTime(f, FileTime.fromMillis(mtime0.toMillis + 5000))
      assert(Files.size(f) == size0,
        "fixture must regenerate documents.parquet at the same byte size")
      // drop Spark's cached stage blocks (shared across sessions); the
      // process-wide memos are untouched
      spark.catalog.clearCache()
      val after = x22(sessions(0), a)
      writeDocs(b, now)
      val fresh = x22(sessions(1), b)
      assert(fresh != before, "the regeneration must change the answer")
      assert(after == fresh, "a memo served the pre-regeneration stats")
    } finally {
      (spark +: sessions).foreach(StageCache.release)
      Seq(a, b).foreach(d => graft.ingest.TableSwap.rmTreeAt(d.toString))
    }
  }
}
