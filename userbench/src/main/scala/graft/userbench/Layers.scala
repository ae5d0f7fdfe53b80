package graft.userbench

/** Per-layer metrics of a traced run, from the listener's jobs, the spans
  * and the workload's traced-only passes. Every workload reports the same
  * names; a layer a workload does not exercise reads 0.
  */
object Layers {

  val Kinds: Seq[String] = Seq("ingest", "build", "reingest", "hybrid", "knn")

  /** Modules jobs land on in these workloads. The catalog modules
    * (`queries` …) never run here, and `embedding`, `sources`,
    * `search.ivf` and `search.knn` never trigger a job themselves: their
    * work runs inside `ingest`, `bench` and `api` jobs and is split out by
    * the traced-only passes instead.
    */
  val Modules: Seq[String] = Seq("cli", "api", "ingest", "search.lex",
    "search.hnsw", "search.fusion", "bench")

  private val MB = 1024.0 * 1024.0

  def metrics(ctx: Ctx, w: Workload): Seq[(String, Double, String)] = {
    val tr = ctx.trace
    // op spans: top-level spans carrying an op id
    val opSpans =
      tr.spans.filter(s => s.parentIndex.isEmpty && s.opId.isDefined)
    val opKind = opSpans.map(s => s.opId.get -> s.name).toMap
    val allJobs = tr.listener.all
    val jobs = allJobs.map { j =>
      // jobs started on a thread the op property did not reach belong to
      // the op whose span covers their start
      val op = j.op.map(_.takeWhile(_ != ':').toInt).orElse(opSpans
        .find(s => s.start <= j.start && j.start <= s.end).flatMap(_.opId))
      op -> j
    }.collect { case (Some(op), j) if !opKind.get(op).contains("warmup") =>
      op -> j }
    def ofKind(k: String) =
      jobs.collect { case (op, j) if opKind.get(op).contains(k) => j }
    def ofOp(op: Int) = jobs.collect { case (o, j) if o == op => j }
    def jobSpan(j: Trace.Job) =
      (j.start, if (j.end.isNaN) j.start else j.end)
    def gap(spans: Seq[Trace.Span]): Double = spans.map { s =>
      val iv = ofOp(s.opId.get).map(jobSpan)
        .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
        .filter { case (a, b) => b > a }
      (s.end - s.start) - Trace.unionLength(iv)
    }.sum

    val out = Seq.newBuilder[(String, Double, String)]
    def put(n: String, v: Double, u: String): Unit =
      out += ((n, if (v.isNaN) 0.0 else v, u))
    def totals(prefix: String, js: Seq[Trace.Job]): Unit = {
      put(s"${prefix}spark.jobs", js.size, "count")
      put(s"${prefix}spark.task_s", js.map(_.taskS).sum, "s")
      put(s"${prefix}spark.cpu_s", js.map(_.cpuS).sum, "s")
      put(s"${prefix}spark.read_mb", js.map(_.readB).sum / MB, "MB")
      put(s"${prefix}spark.write_mb", js.map(_.writeB).sum / MB, "MB")
      put(s"${prefix}spark.listing_jobs", js.count(_.listing), "count")
    }
    val measuredJobs = jobs.map(_._2)
    totals("", measuredJobs)
    put("spark.stages", measuredJobs.map(_.stages).sum, "count")
    put("spark.tasks", measuredJobs.map(_.tasks).sum, "count")
    put("spark.gc_s", measuredJobs.map(_.gcS).sum, "s")
    put("spark.shuffle_mb", measuredJobs.map(_.shuffleB).sum / MB, "MB")
    put("driver_gap_s", gap(opSpans.filterNot(_.name == "warmup").toSeq),
      "s")

    Kinds.foreach { k =>
      val spans = opSpans.filter(_.name == k).toSeq
      totals(s"$k.", ofKind(k))
      put(s"$k.driver_gap_s", gap(spans), "s")
      put(s"$k.wall_s", spans.map(s => s.end - s.start).sum, "s")
    }

    // per module, over every op
    Modules.foreach { m =>
      val js = measuredJobs.filter(_.module == m)
      put(s"$m.jobs", js.size, "count")
      put(s"$m.job_s", Trace.unionLength(js.map(jobSpan)), "s")
      put(s"$m.task_s", js.map(_.taskS).sum, "s")
    }
    def modJobS(k: String, m: String) = Trace.unionLength(
      ofKind(k).filter(_.module == m).map(jobSpan))
    Seq("cli", "search.lex", "search.hnsw", "search.fusion").foreach(m =>
      put(s"hybrid.$m.job_s", modJobS("hybrid", m), "s"))
    put("knn.api.task_s", ofKind("knn").filter(_.module == "api")
      .map(_.taskS).sum, "s")
    Seq("ingest", "search.hnsw", "search.lex", "search.fusion").foreach(m =>
      put(s"reingest.$m.job_s", modJobS("reingest", m), "s"))

    // span splits and self times
    val spanS = tr.spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.end - s.start).sum }
    val self = tr.selfTimes(s =>
      s.opId.flatMap(opKind.get).exists(Kinds.contains))
    val ex = w.layerExtras
    put("ingest.write_s", spanS.collect {
      case (n, s) if n.startsWith("write.") => s }.sum, "s")
    Seq("lex", "router", "hnsw", "floor").foreach(n =>
      put(s"build.${n}_s", spanS.getOrElse(n, 0.0), "s"))
    // self time of each layer call (op spans minus their layer calls are
    // the benchmark's own part: the `search` verb's table reads)
    Seq("ingest" -> "ingest", "hybrid" -> "hybridSearchCommand",
      "search" -> "engine.search", "search_reads" -> "knn",
      "reingest" -> "reingestCommand").foreach { case (n, span) =>
      put(s"self_s.$n", self.getOrElse(span, 0.0), "s")
    }
    put("sources.decode_s", ex.getOrElse("sources.decode_s", 0.0), "s")
    put("ingest.fold_s", ex.getOrElse("ingest.fold_s", 0.0), "s")
    put("embedding.embed_s", ex.getOrElse("embedding.embed_s", 0.0), "s")
    put("ingest.files_written", ex.getOrElse("ingest.files_written", 0.0),
      "count")

    // per-query and per-op counts
    val nHybrid = ctx.samples("hybrid").size.max(1)
    val nKnn = ctx.samples("knn").size.max(1)
    put("hybrid.jobs_per_query", ofKind("hybrid").size.toDouble / nHybrid,
      "count")
    put("hybrid.listing_jobs_per_query",
      ofKind("hybrid").count(_.listing).toDouble / nHybrid, "count")
    put("hybrid.lex.probed_frac", ex.getOrElse("hybrid.lex.probed_frac", 0.0),
      "ratio")
    put("hybrid.hnsw.probed_frac",
      ex.getOrElse("hybrid.hnsw.probed_frac", 0.0), "ratio")
    put("knn.read_mb_per_query",
      ofKind("knn").map(_.readB).sum / MB / nKnn, "MB")
    val newRowBytes = ex.getOrElse("reingest.new_row_bytes", 0.0)
    put("reingest.write_amp",
      if (newRowBytes > 0) ofKind("reingest").map(_.writeB).sum / newRowBytes
      else 0.0, "ratio")
    Seq("hnsw_shards_rewritten", "hnsw_shards", "lex_delta_batches")
      .foreach(n => put(s"reingest.$n", ex.getOrElse(s"reingest.$n", 0.0),
        "count"))

    // op-level figures under tracing
    def opWalls(k: String) =
      opSpans.filter(_.name == k).map(s => s.end - s.start).toSeq
    val ingestS = opWalls("ingest")
    put("ingest_docs_per_s",
      if (ingestS.isEmpty) 0.0 else ex.getOrElse("docs", 0.0) /
        Stats.median(ingestS), "docs/s")
    put("index_build_s", Stats.median(opWalls("build")), "s")
    put("reingest_s", Stats.median(opWalls("reingest")), "s")
    put("bytes_stored_per_input_byte",
      ex.getOrElse("bytes_stored_per_input_byte", 0.0), "ratio")
    put("traced.cycle_s", Stats.median(ctx.cycles.toSeq), "s")
    put("traced.hybrid_p50_s", Stats.median(ctx.samples("hybrid")), "s")
    put("traced.knn_p50_s", Stats.median(ctx.samples("knn")), "s")
    put("unattributed_job_frac",
      if (measuredJobs.isEmpty) 0.0
      else measuredJobs.count(_.module == "unattributed").toDouble /
        measuredJobs.size, "ratio")
    out.result()
  }
}
