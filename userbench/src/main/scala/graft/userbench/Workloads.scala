package graft.userbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.Cli
import graft.api.Engine
import graft.domain.Model.{EmbeddingRow, ParentRow}
import graft.embedding.OfflineEmbedder
import graft.search.{FusionFloor, HnswMaintenance, Ivf, LexIndex}

/** The user paths both workloads run, each step a span. */
object UserPaths {

  val Tables: Seq[(String, String)] = Seq("documents" -> "id",
    "concepts" -> "document_id", "fragments" -> "document_id",
    "parents" -> "document_id", "embeddings" -> "document_id")

  /** The `Cli ingest` path: read the files as the CLI reads them, fold,
    * then the five table writes.
    */
  def ingest(ctx: Ctx, engine: Engine, files: Seq[Path], td: String): Unit = {
    val docs = Cli.readDocFiles(ctx.spark, files.map(_.toString).toList)
    val r = engine.ingest(docs)
    try Tables.foreach { case (t, key) =>
      val df = t match {
        case "documents" => r.documents.toDF()
        case "concepts" => r.concepts.toDF()
        case "fragments" => r.fragments.toDF()
        case "parents" => r.parents.toDF()
        case _ => r.embeddings.toDF()
      }
      ctx.trace.call(ctx.spark.sparkContext, s"write.$t", "ingest")(
        graft.ingest.IngestPipeline.writeTable(df, s"$td/$t", key))
    } finally r.release()
  }

  val Cells = 8
  val Replicas = 3

  /** The three serving artifacts, as the `lex-index`,
    * `hnsw-index-routed` and `fusion-calibrate` verbs build them.
    */
  def build(ctx: Ctx, td: String): LexIndex.Stats = {
    val spark = ctx.spark
    import spark.implicits._
    val sc = spark.sparkContext
    val st =
      ctx.trace.call(sc, "lex", "search.lex")(LexIndex.build(spark, td))
    val e = spark.read.parquet(s"$td/embeddings").drop("doc_bucket")
    val router = ctx.trace.span("router") {
      val sample = e.orderBy(md5(col("fragment_id")))
        .limit(math.max(8192, 32 * Cells))
        .select(col("vector")).as[Seq[Float]].collect().map(_.toArray)
      Ivf.train(sample, Cells)
    }
    ctx.trace.call(sc, "hnsw", "search.hnsw")(
      HnswMaintenance.writeIndexRouted(e, s"$td/embeddings_hnsw_routed",
        router, replicas = Replicas, docCol = Some("document_id")))
    ctx.trace.call(sc, "floor", "search.fusion")(floor(ctx, td))
    st
  }

  /** The `fusion-calibrate` verb. */
  def floor(ctx: Ctx, td: String): Unit = {
    val a = FusionFloor.calibrate(ctx.spark.read.parquet(s"$td/fragments"),
      "id", "content", tableDir = Some(s"$td/fragments"))
    FusionFloor.save(a, s"$td/fusion_floor.txt")
  }

  /** The `hybrid-search` verb's serving path. */
  def hybridSearch(ctx: Ctx, td: String, query: String,
      view: Option[String] = None, lang: Option[String] = None)
      : Cli.HybridResult =
    ctx.trace.call(ctx.spark.sparkContext, "hybridSearchCommand", "cli")(
      Cli.hybridSearchCommand(ctx.spark, td, query, 10, view = view,
        lang = lang))

  /** The `search` verb: tables read as it reads them, then
    * `Engine.search` (filtered exact KNN + parent expansion).
    */
  def knn(ctx: Ctx, engine: Engine, td: String, query: String)
      : Seq[Engine.SearchHitRow] = {
    val spark = ctx.spark
    import spark.implicits._
    val emb = spark.read.parquet(s"$td/embeddings").as[EmbeddingRow]
    val par = spark.read.parquet(s"$td/parents").as[ParentRow]
    ctx.trace.call(spark.sparkContext, "engine.search", "api")(
      engine.search(emb, par, query, 10))
  }

  final case class Frag(id: String, docId: String, content: String,
      view: String, lang: Option[String])

  def fragments(ctx: Ctx, td: String): Seq[Frag] =
    ctx.spark.read.parquet(s"$td/fragments")
      .select(col("id"), col("document_id"), col("content"), col("view"),
        col("language"))
      .collect().toSeq
      .map(r => Frag(r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), Option(r.getString(4))))
      .sortBy(_.id)

  /** Fragments that answer their own content as a query on both channels:
    * unique content, and the self-query hints extracted from it agree
    * with the fragment's own view and language.
    */
  def identityCandidates(frags: Seq[Frag], maxLen: Int = Int.MaxValue)
      : Seq[Frag] = {
    val counts = frags.groupBy(_.content).map { case (c, fs) => c -> fs.size }
    frags.filter { f =>
      val h = graft.api.RuleBasedSelfQuery.extract(f.content)
      counts(f.content) == 1 && f.content.length >= 24 &&
        f.content.length <= maxLen &&
        h.view.forall(_ == f.view) && h.lang.forall(l => f.lang.contains(l))
    }
  }

  /** Parquet files the five table writes left under a tables dir. */
  def filesWritten(td: String): Double = Tables.map(x =>
    Stats.filesUnder(java.nio.file.Paths.get(s"$td/${x._1}")).size).sum

  def pick[A](xs: Seq[A], r: java.util.SplittableRandom): A =
    xs(r.nextInt(xs.length))

  /** Checks shared by the workloads (also driven by the self-test with
    * planted wrong answers).
    */
  object Checks {
    def knnTop1(hits: Seq[Engine.SearchHitRow], expected: String)
        : Option[String] =
      if (hits.headOption.map(_.fragment_id).contains(expected)) None
      else Some(s"knn top-1 ${hits.headOption.map(_.fragment_id)} != " +
        expected)

    def fresh(hits: Seq[String], expectedTop1: String,
        removed: Set[String]): Option[String] =
      if (!hits.headOption.contains(expectedTop1))
        Some(s"post-write top-1 ${hits.headOption} != $expectedTop1")
      else if (hits.exists(removed.contains))
        Some(s"post-write hit names removed fragment(s) " +
          hits.filter(removed.contains).mkString(","))
      else None

    def gateFacts(idx: Cli.HybridResult, scan: Cli.HybridResult)
        : Option[String] =
      if (idx.conf == scan.conf && idx.floor == scan.floor &&
          idx.wLex == scan.wLex) None
      else Some(s"gate facts differ from the all-scan fallback: " +
        s"(${idx.conf},${idx.floor},${idx.wLex}) vs " +
        s"(${scan.conf},${scan.floor},${scan.wLex})")
  }
}

/** `ingest`: the batch side on a mixed corpus — Markdown and text,
  * born-digital PDFs, scanned PDFs with page-size rasters in the four scan
  * codecs. One cycle, from a cold session like a CLI invocation: ingest
  * all files, calibrate the fusion floor (the one artifact hybrid serving
  * requires), then serve the fresh tables on the indexless paths — three
  * hybrid queries (scan BM25 + exact KNN) and four `search` calls, each
  * an identity probe.
  */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import UserPaths._
  val shape = Corpus.Shape(markdown = 32, text = 4, pdfs = 12, scans = 8)
  val vocab = new Corpus.Vocab(ctx.a.seed)
  var main: Corpus.Written = _
  lazy val engine = new Engine(ctx.spark, new OfflineEmbedder(64))
  def td(i: Int): String = ctx.root.resolve(s"tables$i").toString
  val extras = mutable.LinkedHashMap.empty[String, Double]

  def generate(): Unit = ctx.generating {
    main = Corpus.write(ctx.root.resolve("in"), ctx.a.seed, shape, vocab)
    extras("docs") = main.files.size
  }

  def setup(): Unit = ()

  def measure(): Unit = ctx.cyclesFor { i =>
    val t = td(i)
    ctx.op("ingest")(ingest(ctx, engine, main.files, t))
    if (i == 0) extras("bytes_stored_per_input_byte") =
      Stats.bytesUnder(java.nio.file.Paths.get(t)).toDouble / main.bytes
    ctx.op("floor")(floor(ctx, t))
    val frags = fragments(ctx, t)
    val r = Corpus.rngFor(ctx.a.seed, "probe", i)
    val ids = identityCandidates(frags)
    (0 until 3).foreach { _ =>
      val probe = pick(ids, r)
      val h = ctx.op("hybrid")(hybridSearch(ctx, t, probe.content))
      ctx.check(h.hits.headOption.map(_._1).contains(probe.id),
        s"hybrid identity probe lost its top-1: ${h.hits.take(2)} vs " +
          probe.id)
    }
    (0 until 4).foreach { _ =>
      val f = pick(ids, r)
      Checks.knnTop1(ctx.op("knn")(knn(ctx, engine, t, f.content)), f.id)
        .foreach(m => ctx.check(false, m))
    }
  }

  def check(): Unit = {
    val t = td(0)
    val spark = ctx.spark
    import spark.implicits._
    val floor = FusionFloor.load(s"$t/fusion_floor.txt")
    ctx.check(scala.util.Try(FusionFloor.requireFreshAt(floor,
      s"$t/fragments", s"$t/fusion_floor.txt")(
      FusionFloor.currentFp(spark.read.parquet(s"$t/fragments"),
        "id", "content"))).isSuccess, "fusion floor not fresh")
    val emb = spark.read.parquet(s"$t/embeddings").as[EmbeddingRow]
    val m = engine.metrics(emb)
    ctx.check(m.nMissingDocId + m.nMissingParentId + m.nMissingFragmentId +
      m.nDuplicateDocIds == 0, s"Engine.metrics reports missing or " +
      s"duplicate ids: $m")
    // 45 self-retrieval golden queries in one batch job (the `quality`
    // verb): a fragment's content must retrieve its parent
    val r = Corpus.rngFor(ctx.a.seed, "golden", 0)
    val frags = fragments(ctx, t)
    val cands = identityCandidates(frags)
    val chosen = (0 until 45).map(_ => pick(cands, r)).distinct
    val parents = emb.select(col("fragment_id"), col("parent_id"))
      .as[(String, String)].collect().toMap
    val golden = chosen.zipWithIndex.map { case (f, k) =>
      Engine.GoldenQuery(s"q$k", f.content, Some(f.view), f.lang, 10,
        parents.get(f.id).toSeq, Nil)
    }
    val res = engine.evalGolden(emb,
      spark.read.parquet(s"$t/parents").as[ParentRow], golden)
    ctx.check(res.nonEmpty && res.forall(_.passed),
      s"golden: ${res.count(_.passed)}/${res.size} passed")
    // every scan decoded: its pages' image labels carry the codec's
    // decoded-pixel fields
    val scanDocs = main.scans.map { case (p, c) =>
      graft.functions.Hashing.documentId(p.toString) -> c }.toMap
    main.scans.map(_._2).distinct.foreach { c =>
      val label = Map("jpx" -> " jpx s", "jbig2" -> " jbig2 b",
        "g4" -> " g4 b", "jpeg" -> " jpeg c")(c)
      ctx.check(frags.exists(f => scanDocs.get(f.docId).contains(c) &&
        f.content.contains(label)), s"no decoded $c page in the scans")
    }
  }

  def traceExtras(): Unit = {
    val spark = ctx.spark
    extras("ingest.files_written") = filesWritten(td(0))
    // layer splits, each a separate pass outside the measured phase
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val pdfs = (main.pdfs ++ main.scans.map(_._1)).map(_.toString)
    extras("sources.decode_s") = timed {
      spark.sparkContext.parallelize(pdfs, pdfs.size)
        .map(p => graft.sources.RealPdfExtractor.extract(p,
          Files.readAllBytes(java.nio.file.Paths.get(p))).size.toLong)
        .sum()
      ()
    }
    val docs = Cli.readDocFiles(spark, main.files.map(_.toString).toList)
    val processed = graft.ingest.IngestPipeline.process(docs).cache()
    val foldS = timed { processed.count(); () }
    extras("ingest.fold_s") = math.max(0.0, foldS - extras("sources.decode_s"))
    extras("embedding.embed_s") = timed {
      graft.ingest.IngestPipeline.embeddings(
        graft.ingest.IngestPipeline.fragments(processed),
        new OfflineEmbedder(64)).toDF().write.format("noop").mode("overwrite")
        .save()
    }
    processed.unpersist()
  }

  def layerExtras: Map[String, Double] = extras.toMap
}

/** `serve`: the interactive path on a Markdown-only corpus (so `sources`
  * does no work). Set-up ingests the files by path and builds the three
  * artifacts; the measured phase is a closed loop, one caller and no think
  * time, over a fixed mix of four hybrid query classes, each followed by
  * an exact KNN search. Traced runs then replace five documents through
  * `reingest` and probe the new content.
  */
final class ServeWorkload(ctx: Ctx) extends Workload {
  import UserPaths._
  val shape = Corpus.Shape(markdown = 60, text = 0, pdfs = 0, scans = 0)
  val vocab = new Corpus.Vocab(ctx.a.seed)
  var main: Corpus.Written = _
  lazy val engine = new Engine(ctx.spark, new OfflineEmbedder(64))
  def td: String = ctx.root.resolve("tables").toString
  var frags: Seq[Frag] = Nil
  val extras = mutable.LinkedHashMap.empty[String, Double]
  /** Every hybrid query the measured phase ran, with its result. */
  val served = mutable.ArrayBuffer.empty[(Query, Cli.HybridResult)]

  final case class Query(cls: String, text: String, view: Option[String],
      lang: Option[String], identity: Option[String])

  /** The hybrid classes, in the order one cycle runs them. */
  val Classes = Seq("words", "prefix", "scoped", "oov")

  def generate(): Unit = ctx.generating {
    main = Corpus.write(ctx.root.resolve("in"), ctx.a.seed, shape, vocab)
    extras("docs") = main.files.size
  }

  def setup(): Unit = {
    ctx.setupOp("ingest")(ingest(ctx, engine, main.files, td))
    extras("ingest.files_written") = filesWritten(td)
    ctx.setupOp("build")(build(ctx, td))
    extras("bytes_stored_per_input_byte") =
      Stats.bytesUnder(java.nio.file.Paths.get(td)).toDouble / main.bytes
    frags = fragments(ctx, td)
    // one query from a disjoint set (words the corpus never uses) takes
    // the serving path's first-call costs out of the measured cycle
    ctx.setupOp("warmup")(hybridSearch(ctx, td,
      oovWords(Corpus.rngFor(ctx.a.seed, "warmup", 0))))
  }

  private def oovWords(r: java.util.SplittableRandom): String =
    (0 until 2).map(_ => "xq" + Integer.toString(r.nextInt(1 << 20), 36))
      .mkString(" ")

  /** Whole words of a fragment under the lexical channel's whitespace
    * rule, so every one is an in-corpus term.
    */
  private def wordsOf(f: Frag): Seq[String] =
    f.content.split("[ \\t\\n\\f\\r]+").toSeq
      .filter(w => w.length > 3 && w.forall(c => c.isLetter || c == '_'))

  /** Fragment frequency of every whole word, for drawing query terms from
    * fixed frequency bands: a class's lexical route then does not depend
    * on the draw.
    */
  lazy val df: Map[String, Int] =
    frags.flatMap(f => wordsOf(f).distinct).groupBy(identity)
      .map { case (w, ws) => w -> ws.size }

  /** Words in more than 5% of fragments (LexIndex's stop-word band). */
  private def common(w: String) = df(w) > frags.size / 20

  def query(cls: String, r: java.util.SplittableRandom): Query = {
    def mid(f: Frag) = wordsOf(f).filter(w => df(w) >= 2 && !common(w))
    cls match {
      case "words" => // one common word and two rarer ones
        val f = pick(frags.filter(f => f.view == "text" && mid(f).size >= 2), r)
        val c = pick(df.keys.filter(common).toSeq.sorted, r)
        val ws = mid(f)
        val a = pick(ws, r)
        val b = pick(ws.filterNot(_ == a), r)
        Query(cls, Seq(c, a, b).mkString(" "), None, None, None)
      case "prefix" => // the reference's golden shape: an 80-char prefix
        val short = identityCandidates(frags, maxLen = 80)
        val f = pick(if (short.nonEmpty) short else frags, r)
        Query(cls, f.content.take(80), None, None,
          if (f.content.length <= 80) Some(f.id) else None)
      case "scoped" => // two keywords of a code fragment, view given
        val f = pick(frags.filter(f => f.view == "code" && mid(f).size >= 2), r)
        val ws = mid(f)
        val a = pick(ws, r)
        Query(cls, s"$a ${pick(ws.filterNot(_ == a), r)}", Some(f.view),
          None, None)
      case _ => Query(cls, oovWords(r), None, None, None)
    }
  }

  def hybrid(q: Query): Cli.HybridResult =
    hybridSearch(ctx, td, q.text, q.view, q.lang)

  def measure(): Unit = {
    val ids = identityCandidates(frags)
    ctx.cyclesFor { i =>
      val r = Corpus.rngFor(ctx.a.seed, "serve", i)
      Classes.foreach { cls =>
        val q = query(cls, r)
        served += q -> ctx.op("hybrid")(hybrid(q))
        val f = pick(ids, r)
        val hits = ctx.op("knn")(knn(ctx, engine, td, f.content))
        Checks.knnTop1(hits, f.id).foreach(m => ctx.check(false, m))
      }
    }
  }

  /** Identity queries put their fragment first; the gate facts of the
    * indexed serve equal the all-scan fallback's, bit for bit (the
    * fallback runs outside the measured phase, indexes moved aside).
    */
  def check(): Unit = {
    served.foreach { case (q, res) =>
      q.identity.foreach(id => ctx.check(
        res.hits.headOption.map(_._1).contains(id),
        s"identity query lost its top-1: ${res.hits.take(2)} vs $id"))
    }
    val lex = LexIndex.indexPath(td)
    val routed = s"$td/embeddings_hnsw_routed"
    def mv(a: String, b: String): Unit = {
      Files.move(java.nio.file.Paths.get(a), java.nio.file.Paths.get(b)); ()
    }
    mv(lex, s"$lex.off"); mv(routed, s"$routed.off")
    // the first `prefix` query is re-served (many terms, and an identity)
    try served.find(_._1.cls == "prefix").foreach { case (q, res) =>
      val scan = hybrid(q)
      Checks.gateFacts(res, scan).foreach(m => ctx.check(false, m))
      q.identity.foreach(id => ctx.check(
        scan.hits.headOption.map(_._1).contains(id),
        s"all-scan fallback lost the identity top-1 for $id"))
    } finally { mv(s"$lex.off", lex); mv(s"$routed.off", routed) }
  }

  def traceExtras(): Unit = {
    val spark = ctx.spark
    val qs = served.map(_._1).toSeq
    def terms(q: Query) = q.text.trim.split("[ \\t\\n\\f\\r]+")
      .filter(_.nonEmpty).distinct.toSeq
    val lexRows = spark.read.parquet(LexIndex.indexPath(td)).count().toDouble
    extras("hybrid.lex.probed_frac") = qs.map(q =>
      LexIndex.prunedPostings(spark, td, terms(q)).count() / lexRows).sum /
      qs.size
    val routed = s"$td/embeddings_hnsw_routed"
    val router = Ivf.load(s"$routed.router.txt")
    val index = spark.read.parquet(routed)
    val rows = index.count().toDouble
    val f = graft.search.Hnsw.RoutedSubFactor
    val probe = org.apache.spark.sql.graft.HnswIndexRewrite.DefaultProbeCells
    extras("hybrid.hnsw.probed_frac") = qs.map { q =>
      val cells = Ivf.nearestLists(
        new OfflineEmbedder(router.dim).embedQuery(q.text), router, probe)
      index.filter(cells.map(c => col("shard_id") >= c * f &&
        col("shard_id") < (c + 1) * f).reduce(_ || _)).count() / rows
    }.sum / qs.size
    update()
  }

  /** The write beside the reads: five documents get new content under
    * their old paths, `reingest` replaces them (same md5(path) ids), and
    * a hybrid probe built from new content must return its new fragment
    * first and no fragment the write removed.
    */
  private def update(): Unit = {
    val r = Corpus.rngFor(ctx.a.seed, "replace", 0)
    val replaced = r.ints(0, main.markdown.size).distinct().limit(5)
      .toArray.toSeq.sorted.map(main.markdown(_))
    replaced.foreach { p =>
      Files.write(p, Corpus.markdown(vocab, ctx.a.seed,
        main.markdown.indexOf(p), version = 1).getBytes(UTF_8))
    }
    val shardsBefore = shardFiles(td)
    ctx.setupOp("reingest")(ctx.trace.call(ctx.spark.sparkContext,
      "reingestCommand", "cli")(Cli.reingestCommand(ctx.spark, engine, td,
        replaced.map(_.toString).toList)))
    val after = fragments(ctx, td)
    val removed = frags.map(_.id).toSet -- after.map(_.id)
    val docIds = replaced.map(p =>
      graft.functions.Hashing.documentId(p.toString)).toSet
    val before = frags.map(_.id).toSet
    val fresh = identityCandidates(after).filter(f =>
      docIds.contains(f.docId) && !before.contains(f.id))
    ctx.check(fresh.nonEmpty, "no new fragment to probe after reingest")
    fresh.headOption.foreach { probe =>
      val h = ctx.setupOp("probe")(hybridSearch(ctx, td, probe.content))
      Checks.fresh(h.hits.map(_._1), probe.id, removed)
        .foreach(m => ctx.check(false, m))
    }
    val shardsAfter = shardFiles(td)
    val shards = shardsBefore.keySet ++ shardsAfter.keySet
    extras("reingest.hnsw_shards") = shardsAfter.size
    extras("reingest.hnsw_shards_rewritten") =
      shards.count(s => shardsBefore.get(s) != shardsAfter.get(s))
    extras("reingest.lex_delta_batches") = {
      val d = java.nio.file.Paths.get(LexIndex.deltaPath(td))
      if (!Files.isDirectory(d)) 0.0
      else {
        val ls = Files.list(d)
        try ls.filter(_.getFileName.toString.startsWith("batch=")).count()
        finally ls.close()
      }
    }
    // bytes of the replaced documents' new rows, written on their own
    val alone = ctx.root.resolve("replaced_alone").toString
    ingest(ctx, engine, replaced, alone)
    extras("reingest.new_row_bytes") =
      Stats.bytesUnder(java.nio.file.Paths.get(alone)).toDouble
  }

  /** Shard directories of the routed index and their (file, size) sets. */
  private def shardFiles(t: String): Map[String, Set[(String, Long)]] = {
    val dir = java.nio.file.Paths.get(s"$t/embeddings_hnsw_routed")
    Stats.filesUnder(dir).groupBy(p => dir.relativize(p).getName(0).toString)
      .collect { case (s, fs) if s.startsWith("shard_id=") =>
        s -> fs.map(f => f.getFileName.toString -> Files.size(f)).toSet }
  }

  def layerExtras: Map[String, Double] = extras.toMap
}
