package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.search.FusionGate

/** The v24 gated-fusion contract (VERDICT r13 task 1):
  *  - the distributed calibration (bounded sample + census semi-join)
  *    equals an independent all-driver recomputation bit-for-bit;
  *  - at lexical weight 1 the gated fusion IS v16's neutral fusion;
  *  - at lexical weight 0 it IS the dense-only ranking;
  *  - gate arithmetic boundary facts.
  * The quality consequence on the two eval corpora is pinned separately
  * in HardFusedRecallSpec.
  */
class FusionGateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) {
      graft.queries.StageCache.release(spark)
      spark.stop()
    }
  }

  test("distributed calibration equals an all-driver recomputation") {
    val (fp, floor) = graft.queries.VectorQueries.fusionFloorCalib(spark, dir)
    // independent reference: collect the raw text, tokenize with the
    // same whitespace rule, census the whole corpus driver-side
    val docs = Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    val toks: Map[Long, Seq[String]] = docs.map { case (id, t) =>
      id -> t.trim.split("[ \\t\\n\\f\\r]+").toSeq
    }.toMap
    val n = docs.length.toLong
    val sumDl = toks.values.map(_.size.toLong).sum
    val avgdl = sumDl.toDouble / n.toDouble
    val df: Map[String, Long] = toks.values.flatMap(_.distinct)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    // the production sample recipe: CalibN docs first in md5(doc_id)
    // order (ADVICE r14 — an id-prefix sample calibrates on one
    // ingest-order slice)
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val wantFloor = FusionGate.floorOf(
      docs.map(_._1).sortBy(id => md5hex(id.toString))
        .take(FusionGate.CalibN).map(id =>
          FusionGate.selfNorm(toks(id), t => df.getOrElse(t, 0L), n, avgdl)))
    assert(floor == wantFloor, s"calibrated floor $floor != $wantFloor")
    assert(fp == n * 1000000007L + sumDl)
    // and the persisted artifact carries exactly these values
    val art = spark.read.parquet(
      graft.queries.VectorQueries.FusionFloorDir)
      .filter(org.apache.spark.sql.functions.col("corpus_fp") === fp)
      .collect()
    assert(art.length == 1)
    assert(art(0).getAs[Double]("floor") == floor)
  }

  test("v24 at weight 1 is v16's neutral fusion; weight 0 is dense-only") {
    val n = Tables.documents(spark, dir).count().toInt
    // this corpus clears the floor (conf > floor), so v24's output must
    // BE the neutral v16 fusion — same ids, ranks, and scores
    val v24 = graft.queries.VectorQueries.v24Fused(spark, dir, c = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(6)))
    assert(v24.forall(_ => true)) // force
    val wLex = graft.queries.VectorQueries.v24Fused(spark, dir, c = n)
      .collect()(0).getDouble(5)
    assert(wLex == 1.0, s"standard corpus should clear the floor, w=$wLex")
    val v16 = graft.queries.VectorQueries.v16Fused(spark, dir, c = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(v24.toSeq == v16.toSeq)
    // weight 0 degrades to the dense ranking exactly
    val dense = (1 to 10).map(_.toLong)
    val lex = Seq(100L, 101L, 102L)
    val fused0 = FusionGate.fuseIds(lex, dense, 0.0).take(10).map(_._1)
    assert(fused0 == dense)
  }

  test("gate arithmetic boundary facts") {
    assert(FusionGate.lexWeight(0.5, 0.5) == 1.0) // at the floor: fuse
    assert(FusionGate.lexWeight(0.49999, 0.5) == 0.0)
    assert(FusionGate.confidence(0.0, 0.0) == 0.0) // no in-corpus terms
    assert(FusionGate.thin(Seq("a", "b", "c", "d", "e")) ==
      Seq("a", "c", "e"))
    // floorOf is the exact order statistic at p75 (round(0.75·(n−1)))
    val xs = (1 to 9).map(_.toDouble)
    assert(FusionGate.floorOf(xs) == 7.0)
    // a doc whose every term is corpus-unique scores at saturation
    // against its own thinned query only as far as tf=1 allows —
    // confidence stays in (0, 1]
    val sn = FusionGate.selfNorm(Seq("q", "r", "s"), _ => 1L, 10L, 3.0)
    assert(sn > 0.0 && sn <= 1.0)
  }
}
