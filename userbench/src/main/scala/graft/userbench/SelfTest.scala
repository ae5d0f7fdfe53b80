package graft.userbench

import java.nio.file.Path

import graft.Cli
import graft.api.Engine

/** The benchmark's own tests: the generator is a pure function of the
  * seed, every traced job lands on a program module, and each output
  * check rejects a planted wrong answer.
  */
object SelfTest {

  private var failed = 0
  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $what")
    if (!ok) failed += 1
  }

  def run(root: Path): Unit = {
    generator(root)
    checks()
    attribution(root)
    println("selftest: " +
      (if (failed == 0) "all passed" else s"$failed failed"))
    if (failed > 0) sys.exit(1)
  }

  private val tiny = Corpus.Shape(markdown = 3, text = 1, pdfs = 4,
    scans = 4, scanPages = 1, scanSide = 64)

  def generator(root: Path): Unit = {
    def digest(seed: Long, dir: String) = {
      Corpus.write(root.resolve(dir), seed, tiny, new Corpus.Vocab(seed))
      Corpus.digest(root.resolve(dir))
    }
    val a = digest(1, "gen1a")
    expect(a == digest(1, "gen1b"),
      "generator: one seed, byte-identical corpora")
    expect(a != digest(2, "gen2"), "generator: another seed, another corpus")
  }

  def checks(): Unit = {
    import UserPaths.Checks._
    val hit = Engine.SearchHitRow("f1", "p1", "text", None, "c", 1.0, None)
    expect(knnTop1(Seq(hit), "f1").isEmpty, "knn check: right top-1 passes")
    expect(knnTop1(Seq(hit.copy(fragment_id = "f2"), hit), "f1").nonEmpty,
      "knn check: planted top-1 mismatch fails")
    expect(fresh(Seq("new", "a"), "new", Set("old")).isEmpty,
      "freshness check: clean post-write hits pass")
    expect(fresh(Seq("new", "old"), "new", Set("old")).nonEmpty,
      "freshness check: planted removed fragment id fails")
    expect(fresh(Seq("a", "new"), "new", Set("old")).nonEmpty,
      "freshness check: planted stale top-1 fails")
    val r = Cli.HybridResult(0.5, 0.25, 0.7, Nil)
    expect(gateFacts(r, r.copy()).isEmpty, "gate check: equal facts pass")
    expect(gateFacts(r, r.copy(conf = Math.nextUp(0.5))).nonEmpty,
      "gate check: planted one-ulp conf drift fails")
    expect(Trace.attribute(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
        "graft.search.LexIndex$.scoreTopC(LexIndex.scala:600)\n" +
        "graft.Cli$.hybridSearchCommand(Cli.scala:605)") == "search.lex",
      "attribution: innermost program frame wins")
    expect(Trace.attribute("graft.userbench.Main$.main(Main.scala:1)") ==
      "bench", "attribution: benchmark-only call sites are marked")
  }

  /** A tiny traced ingest and KNN search: every job must carry a module. */
  def attribution(root: Path): Unit = {
    val ctx = new Ctx(Main.Args("selftest", 1, 1, trace = true,
      root.resolve("attr"), None))
    val w = Corpus.write(root.resolve("attr/in"), 3, tiny, new Corpus.Vocab(3))
    ctx.startSession()
    try {
      val engine =
        new Engine(ctx.spark, new graft.embedding.OfflineEmbedder(64))
      val td = root.resolve("attr/tables").toString
      ctx.op("ingest")(UserPaths.ingest(ctx, engine, w.files, td))
      ctx.op("knn")(UserPaths.knn(ctx, engine, td, "anything"))
    } finally ctx.spark.stop()
    val jobs = ctx.trace.listener.all.filter(_.op.isDefined)
    val bad = jobs.filterNot(j => Trace.Modules.contains(j.module))
    println(f"attribution: ${jobs.size} jobs, unattributed share " +
      f"${if (jobs.isEmpty) 0.0 else bad.size.toDouble / jobs.size}%.3f " +
      bad.map(_.module).distinct.mkString("(", ",", ")"))
    bad.take(5).foreach(j => println(s"  unattributed job ${j.id}: ${j.site}"))
    expect(jobs.nonEmpty && bad.isEmpty,
      "attribution: every traced job is attributed to a module")
  }
}
