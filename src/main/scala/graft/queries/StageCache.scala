package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The process's one memo, for cached shared query stages and for
  * plain values derived from source files.
  *
  *  - [[getOrCache]]: `persist()`ed stages (MEMORY_AND_DISK) keyed by
  *    (session, key), shared across catalog queries (d2/d3 share one
  *    MinHash pass) until [[release]] for that session — called by
  *    Verify / Bench / Cli, and on application end.
  *  - [[memo]]: values keyed by name (a stats row, a query literal, a
  *    trained quantizer, a temp index dir), served only while the
  *    (relative path, length, mtime) stamp of their source files is the
  *    one they were built under. [[release]] drops them all.
  *
  * Both use one single-flight get-or-build: look up, take the key's
  * lock, look up again, build outside any map operation (builders nest
  * lookups: doc_bigrams → doc_words), then publish. A dropped value is
  * unpersisted or, if [[AutoCloseable]], closed — also at JVM exit.
  */
object StageCache {

  /** One key's value with the stamp it was built under; its monitor is
    * the key's build lock. */
  private final class Slot { @volatile var entry: (String, AnyRef) = _ }

  /** (session, stage key) → stage; memo key (a String) → value. */
  private val slots = new ConcurrentHashMap[Any, Slot]

  private val hooked = ConcurrentHashMap.newKeySet[SparkSession]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    slots.forEach((k, sl) => if (k.isInstanceOf[String]) dispose(sl.entry))))

  private def dispose(e: (String, AnyRef)): Unit =
    try e match {
      case (_, c: AutoCloseable) => c.close()
      case (_, df: Dataset[_]) => df.unpersist()
      case _ => ()
    } catch { case _: Throwable => () }

  private def singleFlight(key: Any, stamp: String)(build: => AnyRef)
      : AnyRef = {
    val slot = slots.computeIfAbsent(key, _ => new Slot)
    def current: AnyRef = slot.entry match {
      case (st, v) if st == stamp => v
      case _ => null
    }
    val hit = current
    if (hit != null) hit
    else slot.synchronized {
      val again = current
      if (again != null) again
      // released while this caller waited: build into the live slot
      else if (slots.get(key) ne slot) singleFlight(key, stamp)(build)
      else {
        val v = build
        val old = slot.entry
        slot.entry = (stamp, v)
        if (old != null) dispose(old)
        v
      }
    }
  }

  /** `compute` for `key`, recomputed whenever a file under `sources`
    * changes path, length or mtime. The stamp is in-process only:
    * persisted artifacts keep the [[sourceFingerprint]] contract. */
  def memo[T <: AnyRef](key: String, sources: Seq[String])(
      compute: => T): T =
    singleFlight(key, sources.map(d => walk(new java.io.File(d), "",
      f => s"${f.length}:${f.lastModified}").sorted.mkString(","))
      .mkString("|"))(compute).asInstanceOf[T]

  /** `rel:stat` for every file under `f` (`f` itself when it is a file,
    * whatever its name), skipping `_`-prefixed metadata children. */
  private def walk(f: java.io.File, rel: String,
      stat: java.io.File => String): Seq[String] =
    if (f.isFile) Seq(s"$rel:${stat(f)}")
    else Option(f.listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith("_"))
      .flatMap(c => walk(c, if (rel.isEmpty) c.getName
                            else s"$rel/${c.getName}", stat))

  /** Conf key for the write-time table root. When set and
    * `<root>/<sanitized key>` holds a committed parquet table (the
    * `index-sketches` CLI verb writes them), [[getOrCache]] and
    * [[readThroughOrBuild]] READ it instead of recomputing the stage —
    * the local realization of "at 100 TB this is a write-time column":
    * sketches/grams are computed once when the corpus is written, and
    * every query against them is a parquet scan with pushdown, not a
    * recompute. Only stages whose values are partitioning-independent
    * may be persisted (sketch signatures, digest splits, gram pairs —
    * NOT the Misra-Gries input stages, whose merge order is part of the
    * pinned result).
    */
  val PathConf = "spark.graft.stageCache.path"

  private def sanitize(key: String): String =
    key.replaceAll("[^A-Za-z0-9._-]", "_")

  /** A fingerprint of a source table directory: sorted (name, size) of
    * its data files — the persisted-table and artifact freshness
    * contract. Cheap (pure filesystem stat) and catches a regeneration
    * that changes a file's name or size, but NOT a same-size rewrite;
    * in-process values use [[memo]]'s mtime stamp instead. Callers
    * include their derivation constants (shingle n, k, …) so a
    * parameter change also invalidates.
    */
  def sourceFingerprint(dirs: Seq[String], params: String): String = {
    val files = dirs.flatMap { d =>
      val f = new java.io.File(d)
      val children =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.toSeq
        else if (f.isFile) Seq(f)
        else Nil
      children.filterNot(_.getName.startsWith("_"))
        .map(c => s"${c.getName}:${c.length}")
    }.sorted
    s"$params|${files.mkString(",")}"
  }

  /** Like [[sourceFingerprint]] but RECURSIVE (relative-path:length over
    * the whole tree): required for doc_bucket/term_bucket-partitioned
    * tables, where a flat listing sees only the partition DIRECTORIES
    * and is blind to rewrites inside them. Metadata-only — a file-tree
    * walk, zero data read. */
  def treeFingerprint(dir: String, params: String): String =
    s"$params|${walk(new java.io.File(dir), "", _.length.toString)
      .sorted.mkString(",")}"

  private def metaFile(dir: java.io.File) =
    new java.io.File(dir, "_graft_fingerprint")

  /** The ONE reader of the freshness protocol (committed marker +
    * recorded fingerprint): every staleness decision — tables or
    * artifacts — goes through this, so the contract cannot diverge. */
  private def recordedFingerprint(dir: java.io.File): Option[String] =
    if (!new java.io.File(dir, "_SUCCESS").isFile) None
    else {
      try Some(new String(java.nio.file.Files.readAllBytes(
        metaFile(dir).toPath), "UTF-8"))
      catch { case _: Throwable => None }
    }

  /** The persisted table for `key` — ONLY if it is committed AND its
    * recorded fingerprint matches the caller's expectation. A stale
    * table (source regenerated, constants changed) is ignored with a
    * log line rather than silently served: golden-pinned consumers
    * (d13) and bench runs have no oracle to catch it downstream.
    */
  private def persistedTable(s: SparkSession, key: String,
      fingerprint: Option[String]): Option[DataFrame] =
    s.conf.getOption(PathConf).flatMap { root =>
      val dir = new java.io.File(root, sanitize(key))
      recordedFingerprint(dir) match {
        case None => None
        case Some(have) =>
          fingerprint match {
            case Some(want) if want != have =>
              // scalastyle:off println
              println(s"[StageCache] persisted stage '$key' is STALE " +
                "(source fingerprint changed) — recomputing")
              // scalastyle:on println
              None
            case _ => Some(s.read.parquet(dir.toString))
          }
      }
    }

  /** True iff a committed persisted table for `key` exists under `root`
    * AND its recorded fingerprint matches — i.e. [[getOrCache]] with
    * `PathConf = root` would serve it. Lets batch builders
    * ([[WriteTimeTables.persistAll]]) skip stages that are already
    * current instead of rewriting identical bytes.
    */
  def isFresh(key: String, root: String,
      fingerprint: Option[String]): Boolean = {
    val dir = new java.io.File(root, sanitize(key))
    (fingerprint, recordedFingerprint(dir)) match {
      case (_, None) => false
      case (Some(want), Some(have)) => want == have
      case (None, Some(_)) => true
    }
  }

  /** Stage columns that are partition LAYOUT, not data: a stage carrying
    * one persists as a partitioned table, so read-through consumers get
    * PartitionFilters pruning on it (the lex_inverted postings read only
    * the query terms' term_bucket cells). */
  val PartitionColumns: Seq[String] = Seq("term_bucket")

  /** Write a stage's rows as the persisted table [[getOrCache]] will
    * read through to, alongside the source fingerprint that guards
    * against serving it stale. Returns the table path.
    */
  def persistStage(s: SparkSession, key: String, df: DataFrame,
      root: String, fingerprint: Option[String] = None): String = {
    val dir = new java.io.File(root, sanitize(key))
    val partCols = PartitionColumns.filter(df.columns.contains)
    val w = df.write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .parquet(dir.toString)
    fingerprint.foreach { fp =>
      java.nio.file.Files.write(metaFile(dir).toPath, fp.getBytes("UTF-8"))
    }
    dir.toString
  }

  /** Freshness check for a NON-TABULAR write-time artifact (a
    * persisted ANN index directory, not a parquet table): committed
    * and fingerprint-matched, the same contract [[isFresh]] gives
    * tables. The artifact's own writer calls [[commitArtifact]]. */
  def artifactFresh(dir: java.io.File, fingerprint: String): Boolean =
    recordedFingerprint(dir).contains(fingerprint)

  /** Commit a non-tabular artifact directory: record the fingerprint,
    * then the _SUCCESS marker LAST so a crash mid-write never leaves a
    * committed-looking stale artifact. */
  def commitArtifact(dir: java.io.File, fingerprint: String): Unit = {
    java.nio.file.Files.write(metaFile(dir).toPath,
      fingerprint.getBytes("UTF-8"))
    java.nio.file.Files.write(
      new java.io.File(dir, "_SUCCESS").toPath, Array.empty[Byte])
  }

  /** Read-through WITHOUT in-memory caching: the persisted table if one
    * exists (and matches `fingerprint`), else the built plan as-is. For
    * stages measured to be cheaper recomputed than cached (d9/d12's
    * gram pairs — a columnar cache of ~n_grams rows costs more than the
    * second computation), but which still profit from a write-time
    * table when one was persisted.
    */
  def readThroughOrBuild(s: SparkSession, key: String,
      fingerprint: Option[String] = None)(build: => DataFrame): DataFrame =
    persistedTable(s, key, fingerprint).getOrElse(build)

  /** The cached stage for `key`: the fresh persisted table under
    * [[PathConf]] if any (still persisted, so consumers share one IO
    * pass), else `build`. With `materialize`, the call that registers it
    * also computes its blocks: legs that fork over a shared stage need
    * this first, or each cold concurrent job computes them (a cold v16
    * read 1012 corpus rows instead of 516). */
  def getOrCache(s: SparkSession, key: String,
      fingerprint: Option[String] = None, materialize: Boolean = false)(
      build: => DataFrame): DataFrame = {
    if (hooked.add(s)) {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          release(s)
      })
    }
    singleFlight((s, key), "") {
      val df = persistedTable(s, key, fingerprint).getOrElse(build)
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (materialize)
        try df.write.mode("overwrite").format("noop").save()
        catch { case e: Throwable => df.unpersist(); throw e }
      df
    }.asInstanceOf[DataFrame]
  }

  /** Bytes (memory + disk) currently held by cached RDDs in `s`'s
    * context — the stage cache's residency plus any other caching the
    * session did. Feeds the bench record's peak-storage stamp and the
    * release log line.
    */
  def storageBytes(s: SparkSession): Long =
    try s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    catch { case _: Throwable => -1L }

  /** Unpersist and forget every cached stage owned by `s`, and drop
    * every [[memo]] entry. Logs the released residency so a long-lived
    * JVM's cache growth is observable instead of inferred (the r7
    * bench-inflation question).
    */
  def release(s: SparkSession): Unit = {
    val before = storageBytes(s)
    var n = 0
    slots.forEach { (k, slot) =>
      val stage = k.isInstanceOf[(_, _)]
      val mine = k match { case (o: SparkSession, _) => o eq s; case _ => true }
      if (mine && slots.remove(k, slot)) slot.synchronized {
        if (slot.entry != null) {
          dispose(slot.entry); slot.entry = null
          if (stage) n += 1
        }
      }
    }
    hooked.remove(s)
    if (n > 0) {
      // -1 = sample unavailable (release() via the application-end
      // listener runs while the context is tearing down)
      val bytes = if (before < 0) "n/a (context stopping)" else s"$before bytes"
      // scalastyle:off println
      println(s"[StageCache] released $n stages, storage before release: $bytes")
      // scalastyle:on println
    }
  }
}
