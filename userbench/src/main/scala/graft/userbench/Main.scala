package graft.userbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The user-path benchmark's entry point (see userbench/README.md).
  *
  *   Main --workload ingest|serve --seed N --seconds S --trace 0|1
  *        --root <fresh run dir> --out <record.json>
  *   Main --selftest --root <dir>
  *
  * It times calls into the program's public entry points (and the
  * package-private CLI paths `Cli.readDocFiles`, `Cli.hybridSearchCommand`,
  * `Cli.reingestCommand`), checks every answer, writes the full record to
  * `--out` and prints the summary as the last stdout line.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, root: Path, out: Option[Path])

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong,
      kv.getOrElse("--seconds", "20").toInt,
      kv.getOrElse("--trace", "0") == "1",
      Paths.get(need("--root")).toAbsolutePath,
      kv.get("--out").map(Paths.get(_).toAbsolutePath))
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--selftest")) {
      SelfTest.run(Paths.get(argv(2)).toAbsolutePath)
      return
    }
    val a = parse(argv)
    val ctx = new Ctx(a)
    val workload: Workload = a.workload match {
      case "ingest" => new IngestWorkload(ctx)
      case "serve" => new ServeWorkload(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val phase = ctx.phase _
    phase("generate")(workload.generate())
    phase("session")(ctx.startSession())
    try {
      phase("setup")(workload.setup())
      phase("measure")(workload.measure())
      ctx.liveHeapMb = ctx.liveHeap()
      phase("check")(workload.check())
      if (a.trace) phase("trace_extras")(workload.traceExtras())
    } finally phase("stop")(ctx.spark.stop())
    val summary = ctx.summary(workload)
    a.out.foreach { p =>
      Files.createDirectories(p.getParent)
      Files.write(p,
        Json.render(ctx.record(workload, summary)).getBytes("UTF-8"))
    }
    println(Json.render(summary))
    if (!ctx.correct) sys.exit(1)
  }
}

/** A workload: seeded inputs, set-up, a measured phase, output checks and
  * (traced runs only) extra passes that split layers apart.
  */
trait Workload {
  def generate(): Unit
  def setup(): Unit
  def measure(): Unit
  def check(): Unit
  def traceExtras(): Unit
  /** Per-workload extra per-layer metrics (traced runs). */
  def layerExtras: Map[String, Double]
}

/** Shared run state: session, trace, measured op timings, checks. */
final class Ctx(val a: Main.Args) {
  val trace = new Trace
  var spark: SparkSession = _
  val jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  var genS = 0.0
  var firstOpMs: Long = -1
  var setupS: Double = Double.NaN
  /** (kind, seconds) of every measured op, in order. */
  val measured = mutable.ArrayBuffer.empty[(String, Double)]
  val cycles = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var liveHeapMb: Double = Double.NaN
  val host: Map[String, Any] = Host.stamp()

  val phases = mutable.LinkedHashMap.empty[String, Double]

  /** Time one phase of the run (for the record and the log). */
  def phase(name: String)(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body
    finally {
      phases(name) = (System.nanoTime() - t) / 1e9
      System.err.println(f"[userbench] $name ${phases(name)}%.2f s")
    }
  }

  def root: Path = a.root
  def correct: Boolean = failures.isEmpty

  def generating[A](body: => A): A = {
    val t = System.nanoTime()
    try body finally genS += (System.nanoTime() - t) / 1e9
  }

  def startSession(): Unit = {
    spark = graft.GraftSession.local()
    if (a.trace) spark.sparkContext.addSparkListener(trace.listener)
  }

  /** A set-up op: traced like any op, but not a measured sample. */
  def setupOp[A](kind: String)(body: => A): A =
    trace.op(spark.sparkContext, kind)(body)._1

  /** A measured op. The first one closes the set-up window. */
  def op[A](kind: String)(body: => A): A = {
    if (firstOpMs < 0) {
      firstOpMs = System.currentTimeMillis()
      setupS = (firstOpMs - jvmStartMs) / 1e3 - genS
    }
    attempted += 1
    val (r, s) = trace.op(spark.sparkContext, kind)(body)
    measured += kind -> s
    r
  }

  /** Measured cycles: at least one, then whole cycles until `seconds`
    * of measuring have passed.
    */
  def cyclesFor(body: Int => Unit): Unit = {
    val start = System.nanoTime()
    var i = 0
    do {
      val t = System.nanoTime()
      body(i)
      cycles += (System.nanoTime() - t) / 1e9
      i += 1
    } while ((System.nanoTime() - start) / 1e9 < a.seconds)
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      failures += what
      System.err.println(s"[userbench] CHECK FAILED: $what")
    }

  def liveHeap(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def samples(kind: String): Seq[Double] =
    measured.collect { case (k, s) if k == kind => s }.toSeq

  def summary(w: Workload): collection.Map[String, Any] = {
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("cycle_s", Stats.median(cycles.toSeq), "s"),
        ("hybrid_p50_s", Stats.median(samples("hybrid")), "s"),
        ("live_heap_mb", liveHeapMb, "MB"))
      else Layers.metrics(this, w)
    mutable.LinkedHashMap[String, Any](
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u)
      }: _*))
  }

  def record(w: Workload, summary: collection.Map[String, Any])
      : collection.Map[String, Any] =
    mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "host" -> (host + ("loadavg_end" -> Host.loadavg())),
      "generation_s" -> genS, "setup_s" -> setupS, "phases_s" -> phases,
      "cycles_s" -> cycles, "ops" -> measured.map { case (k, s) =>
        mutable.LinkedHashMap("kind" -> k, "s" -> s) },
      "samples" -> mutable.LinkedHashMap(
        "hybrid" -> samples("hybrid").size, "knn" -> samples("knn").size),
      "failures" -> failures,
      "summary" -> summary,
      "spans" -> (if (a.trace) trace.spans.map(s => mutable.LinkedHashMap(
        "name" -> s.name, "start" -> s.start, "end" -> s.end,
        "parent" -> s.parent, "op" -> s.opId)) else Nil),
      "self_s" -> (if (a.trace) trace.selfTimes() else Map.empty),
      "jobs" -> (if (a.trace) trace.listener.all.map(j =>
        mutable.LinkedHashMap("id" -> j.id, "op" -> j.op,
          "module" -> j.module, "listing" -> j.listing, "start" -> j.start,
          "end" -> j.end, "tasks" -> j.tasks, "task_s" -> j.taskS,
          "site" -> j.site)) else Nil))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Bytes of every regular file under `dir`. */
  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Parquet files under `dir`. */
  def filesUnder(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .toArray.map(_.asInstanceOf[Path]).toSeq
      finally s.close()
    }
}
