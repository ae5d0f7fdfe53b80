package graft.userbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for the run record (numbers, strings, booleans,
  * sequences and ordered maps only).
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Where and on what the run happened: core count, load before and after,
  * other live JVMs (contention sources) and the JVM and Spark versions.
  */
object Host {
  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .trim.split(" ").take(3).mkString(",")
    catch { case _: java.io.IOException => "?" }

  /** Java processes outside this process's own ancestry. */
  def otherJvms(): Seq[String] = {
    val own = scala.collection.mutable.Set.empty[Long]
    var cur = java.util.Optional.of(ProcessHandle.current())
    while (cur.isPresent) { own += cur.get.pid; cur = cur.get.parent() }
    ProcessHandle.allProcesses().iterator().asScala
      .filter { p =>
        val cmd = p.info().command().orElse("")
        (cmd.endsWith("/java") || cmd == "java") && !own.contains(p.pid)
      }
      .map(p => s"pid=${p.pid} " +
        p.info().commandLine().orElse("?").take(120))
      .toSeq
  }

  def stamp(): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
    "loadavg_start" -> loadavg(),
    "other_jvms" -> otherJvms(),
    "jvm" -> (System.getProperty("java.vm.name") + " " +
      System.getProperty("java.version")),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "scala" -> scala.util.Properties.versionNumberString,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))
}
