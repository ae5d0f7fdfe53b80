package graft.userbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** The benchmark's tracing: spans recorded around every call it makes into
  * a layer, plus a listener that attributes every Spark job to the op that
  * ran it and to the program module on its call site. Everything is kept
  * in memory and summarised when the run ends. With tracing off, no
  * listener is registered and spans only time ops.
  */
final class Trace {
  import Trace._

  private val t0 = System.nanoTime()
  private def now(): Double = (System.nanoTime() - t0) / 1e9

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextOp = 0
  private var nextSpan = 0

  /** Run `body` as a measured op of type `kind`; returns its result and
    * wall seconds. Jobs started inside carry the op id (a local property
    * Spark copies into every job it starts from this thread).
    */
  def op[A](sc: org.apache.spark.SparkContext, kind: String)(body: => A)
      : (A, Double) = {
    nextOp += 1
    val id = nextOp
    sc.setLocalProperty(OpProperty, s"$id:$kind")
    try {
      val t = System.nanoTime()
      val r = span(kind, Some(id))(body)
      (r, (System.nanoTime() - t) / 1e9)
    } finally sc.setLocalProperty(OpProperty, null)
  }

  /** A call into a program layer: a child span whose jobs, when Spark
    * starts them on its own threads with no program frame on the call
    * site (broadcasts, adaptive query stages), count for `module`. The
    * property rides into those threads with the other local properties.
    */
  def call[A](sc: org.apache.spark.SparkContext, name: String,
      module: String)(body: => A): A = {
    val prev = sc.getLocalProperty(ModuleProperty)
    sc.setLocalProperty(ModuleProperty, module)
    try span(name)(body) finally sc.setLocalProperty(ModuleProperty, prev)
  }

  /** A child span inside the current op (a writeTable, a builder call). */
  def span[A](name: String, opId: Option[Int] = None)(body: => A): A = {
    val parent = stack.headOption
    nextSpan += 1
    val s = Span(name, now(), Double.NaN, parent.map(_.name),
      opId.orElse(parent.flatMap(_.opId)), nextSpan, parent.map(_.index))
    stack = s :: stack
    try body
    finally {
      stack = stack.tail
      spans += s.copy(end = now())
    }
  }

  val listener: JobListener = new JobListener(t0)

  /** Self time per span name (of the spans `keep` selects): duration
    * minus the union of the intervals its children cover.
    */
  def selfTimes(keep: Span => Boolean = _ => true): Map[String, Double] = {
    val children = spans.groupBy(_.parentIndex)
    spans.filter(keep).groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(Some(s.index), Nil)
          .map(k => (k.start, k.end))
        (s.end - s.start) - unionLength(kids.toSeq)
      }.sum
    }
  }
}

object Trace {
  val OpProperty = "userbench.op"
  val ModuleProperty = "userbench.module"

  final case class Span(name: String, start: Double, end: Double,
      parent: Option[String], opId: Option[Int], index: Int,
      parentIndex: Option[Int])

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** The program modules jobs are attributed to, by innermost frame, plus
    * `bench`: the benchmark's own table reads standing in for the `search`
    * verb's (the verb itself is a `main` and cannot be called).
    */
  val Modules: Seq[String] = Seq("cli", "api", "ingest", "embedding",
    "sources", "search.lex", "search.hnsw", "search.ivf", "search.fusion",
    "search.knn", "queries", "bench")

  /** Module of one call-site frame (`graft.search.LexIndex$.build(...)`),
    * or None for frames outside the program (the benchmark's own included).
    */
  def moduleOf(frame: String): Option[String] = {
    val f = frame.trim
    if (!f.startsWith("graft.") || f.startsWith("graft.userbench.")) None
    else {
      val cls = f.takeWhile(c => c != '(').split('.').dropRight(1)
      val pkg = cls.drop(1)
      Some(pkg.toList match {
        case "search" :: c :: _ if c.startsWith("LexIndex") => "search.lex"
        case "search" :: c :: _ if c.startsWith("Hnsw") => "search.hnsw"
        case "search" :: c :: _
            if c.startsWith("Ivf") || c.startsWith("Pq") ||
              c.startsWith("Sq") || c.startsWith("Ann") ||
              c.startsWith("IndexMaintenance") => "search.ivf"
        case "search" :: c :: _ if c.startsWith("Fusion") => "search.fusion"
        case "search" :: _ => "search.knn"
        case c :: Nil if c.startsWith("Cli") => "cli"
        case c :: Nil => c.takeWhile(_ != '$').toLowerCase
        case p :: _ => p
        case Nil => "graft"
      })
    }
  }

  /** Innermost program module in a job's call-site long form; else the
    * module of the layer call the job was started under; else "bench"
    * when only the benchmark's own frames are there.
    */
  def attribute(callSite: String, calledModule: Option[String] = None)
      : String =
    callSite.split('\n').iterator.flatMap(moduleOf).nextOption()
      .orElse(calledModule.filterNot(_ =>
        callSite.contains("graft.userbench.")))
      .getOrElse(
        if (callSite.contains("graft.userbench.")) "bench" else "unattributed")

  final case class Job(id: Int, op: Option[String], var module: String,
      listing: Boolean, site: String, start: Double,
      var end: Double = Double.NaN,
      var stages: Int = 0, var tasks: Int = 0, var taskS: Double = 0,
      var cpuS: Double = 0, var gcS: Double = 0, var readB: Long = 0,
      var writeB: Long = 0, var shuffleB: Long = 0)

  /** Per-job engine totals, attributed to op and module. */
  final class JobListener(t0: Long) extends SparkListener {
    private def now(): Double = (System.nanoTime() - t0) / 1e9
    private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    private val stageJob =
      new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val order = new ConcurrentLinkedQueue[Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val desc = props.flatMap(p =>
        Option(p.getProperty("spark.job.description"))).getOrElse("")
      val op = props.flatMap(p => Option(p.getProperty(OpProperty)))
      // the call site of the job's final stage is the user frame that
      // triggered it; earlier stages share it
      val site = e.stageInfos.sortBy(_.stageId).lastOption
        .map(_.details).getOrElse("")
      val called = props.flatMap(p => Option(p.getProperty(ModuleProperty)))
      val j = Job(e.jobId, op, attribute(site, called),
        desc.startsWith("Listing leaf files and directories"),
        site.linesIterator.take(3).mkString(" | "), now())
      j.stages = e.stageInfos.size
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, j)
      order.add(e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = now())

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for {
        jid <- Option(stageJob.get(e.stageId))
        j <- Option(jobs.get(jid))
        m <- Option(e.taskMetrics)
      } j.synchronized {
        j.tasks += 1
        j.taskS += m.executorRunTime / 1e3
        j.cpuS += m.executorCpuTime / 1e9
        j.gcS += m.jvmGCTime / 1e3
        j.readB += m.inputMetrics.bytesRead
        j.writeB += m.outputMetrics.bytesWritten
        j.shuffleB += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
      }

    /** Every job, in start order. Jobs Spark starts on its own threads
      * (broadcasts, subqueries) carry no program frame; they belong to the
      * op's next attributed job, which waits on them (else its previous).
      */
    def all: Seq[Job] = {
      val js = order.asScala.toSeq.flatMap(i => Option(jobs.get(i)))
      js.zipWithIndex.filter(_._1.module == "unattributed").foreach {
        case (j, i) =>
          val sameOp = (x: Job) => x.op == j.op && x.module != "unattributed"
          js.drop(i + 1).find(sameOp)
            .orElse(js.take(i).reverse.find(sameOp))
            .foreach(x => j.module = x.module)
      }
      js
    }
  }
}
