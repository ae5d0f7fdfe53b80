package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextSketch
import graft.functions.TextSketch.duck

/** Deduplication operator suite over the `documents` table — the
  * training-data-pipeline operators: exact hash dedup, MinHash signatures +
  * LSH banding, SimHash, n-gram Jaccard verification, char fingerprints.
  * Every query has an exact DuckDB oracle (all hashes derive from md5).
  *
  * 100 TB shapes:
  *  - exact dedup = one hash-partitioned groupBy on a 128-bit digest —
  *    shuffles digests, not documents;
  *  - MinHash/SimHash sketches are narrow per-row map work computed once at
  *    write time; candidate pairs come from equi-joins on band hashes
  *    (shuffle keyed on 16-byte bands), never from O(n²) comparisons;
  *  - Jaccard verification runs only within candidate buckets.
  */
object DedupQueries {

  type Q = (SparkSession, String) => DataFrame

  private val MinhashK = 8
  private val BandRows = 2 // 4 bands × 2 rows
  private val SimhashBits = 16
  private val ShingleN = 3

  // D1 — exact-duplicate census: total docs, distinct digests, dup groups.
  private val d1Exact: Q = (s, dir) =>
    Tables.documents(s, dir)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dup_rows"))

  private val d1Sql =
    """SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique,
      |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_rows
      |FROM documents""".stripMargin

  // D2 — MinHash signatures (k=8 over word 3-gram shingles) via
  // Kirsch-Mitzenmacher double hashing: ONE md5 per shingle, components
  // derived as a + i·b. The hash-pair stage materializes first (cache — at
  // scale, a write-time column) so the md5 pass runs once, not once per
  // component (Catalyst's project collapsing would otherwise inline it 8×).
  // memoized per (session, dir) via StageCache: d2 and d3 share ONE cached
  // sketch stage instead of caching two identical plans, and the cache is
  // released on session end (or explicitly by Verify/Bench/Cli) instead of
  // pinning executor storage for the JVM lifetime. The stage holds the
  // finished k-long signature per row (native one-pass tokenize → shingle →
  // md5 → KM fold; values identical to kmHashes+kmComponent and the
  // oracle) — k longs cached per doc instead of every shingle's hash pair.
  /** Staleness guard for the persisted write-time tables: the documents
    * table's file footprint plus every constant the stage derivation
    * depends on. A regenerated corpus or a changed sketch parameter
    * makes the persisted copy invisible instead of silently wrong.
    */
  private def stageFingerprint(dir: String): Option[String] =
    Some(StageCache.sourceFingerprint(Seq(s"$dir/documents.parquet"),
      s"shingle=$ShingleN,k=$MinhashK,cross=$CrossN,salt=d10"))

  private def sigStage(s: SparkSession, dir: String): DataFrame =
    StageCache.getOrCache(s, s"minhash_sigs:$dir", stageFingerprint(dir)) {
      Tables.spread(s, Tables.documents(s, dir))
        .select(col("doc_id"),
          org.apache.spark.sql.graft.SketchExpressions
            .minhashSignature(col("text"), ShingleN, MinhashK).as("sig"))
    }

  private val d2MinhashSig: Q = (s, dir) =>
    sigStage(s, dir)
      .select(col("doc_id") +:
        (0 until MinhashK).map(i => element_at(col("sig"), i + 1).as(s"s$i")): _*)
      .orderBy(col("doc_id"))

  private def duckSigCte: String = {
    val sh = duck.shingles(duck.words("text"), ShingleN)
    s"""hashes AS (SELECT doc_id, ${duck.kmA(sh)} AS ha, ${duck.kmB(sh)} AS hb FROM documents),
       |sigs AS (SELECT doc_id, ${(0 until MinhashK).map(i =>
        s"${duck.kmComponent("ha", "hb", i)} AS s$i").mkString(", ")} FROM hashes)""".stripMargin
  }

  private val d2Sql =
    s"""WITH $duckSigCte
       |SELECT * FROM sigs ORDER BY doc_id""".stripMargin

  // Hot-band guard: a band bucket with b members emits C(b,2) pairs, so a
  // boilerplate band shared by 10⁵ docs would emit 5·10⁹ pairs from one
  // key — the classic LSH skew blow-up. Buckets above the cap are dropped
  // from pair generation (their members are near-certain duplicates that
  // production routes to the exact-dedup path). Buckets at every sf ≤ 0.1
  // stay far below the cap (max 16), so the guard is semantics-neutral
  // there and the oracle applies the identical QUALIFY.
  //
  // r9: tightened 100 → 40 from the soak instrumentation — at sf1
  // (10×-replicated content, max bucket 159) raw candidate pairs were
  // 3.06M at cap 100 vs 0.99M at cap 40 vs 0.49M at cap 20; the 23×
  // d7/d8 soak growth was this quadratic bucket inflation, and 40 keeps
  // the guard semantics-neutral on every oracled sf while cutting the
  // hot-corpus pair volume 3.1× (before/after timings in SCALE.md).
  // Buckets of 41+ docs sharing one 2-row minhash band are boilerplate
  // shells, the content the hot-band policy exists to exclude.
  private val BandSizeCap = 40

  /** Banded signature rows (doc_id, <extra>, sig, band, band_hash, __bsz)
    * — the ONE band construction every banded consumer (d3, d7, d10)
    * derives from, so band count/rows/hash format cannot drift between
    * them or their oracles. `__bsz` is the bucket population.
    *
    * r15: `__bsz` comes from a groupBy census joined back on the bucket
    * key instead of a count-over-window — the census partial-aggregates
    * map-side (one row per distinct bucket per partition) and the
    * join-back needs no sort, where the window sorted every banded row
    * inside the same exchange (guide §2.3). The join-back's output stays
    * hash-partitioned by (band, band_hash), exactly what the downstream
    * candidate self-joins shuffle on. Callers that reference the result
    * more than once materialize it ONCE via StageCache (the physical
    * planner does not dedupe the banding subtree across self-join sides
    * — the r15 before-plan shows the explode+exchange duplicated per
    * side); __bsz is an exact count, so the stage is
    * partitioning-independent and safe to cache.
    */
  private def bandsWithSize(docs: DataFrame, extra: Seq[String]): DataFrame = {
    val bands0 = docs.select(Seq(col("doc_id"), col("sig")) ++ extra.map(col) :+
        explode(array((0 until MinhashK / BandRows).map { b =>
          struct(lit(b).as("band"),
            TextSketch.bandHash(col("sig"), b * BandRows, (b + 1) * BandRows)
              .as("band_hash"))
        }: _*)).as("bh"): _*)
      .select(Seq(col("doc_id"), col("sig")) ++ extra.map(col) ++
        Seq(col("bh.band"), col("bh.band_hash")): _*)
    val census = bands0.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("__bsz"))
    bands0.join(census, Seq("band", "band_hash"))
  }

  /** The matching DuckDB band structs over sig columns s0..s{k-1}. */
  private val duckBandStructs: String = (0 until MinhashK / BandRows).map { bd =>
    val parts = (bd * BandRows until (bd + 1) * BandRows)
      .map(i => s"CAST(s$i AS VARCHAR)").mkString(" || ',' || ")
    s"{'band': $bd, 'band_hash': md5($parts)}"
  }.mkString(", ")

  // D3 — LSH candidate pairs: 4 bands of 2 signature rows; docs sharing any
  // band hash become candidates; estimated similarity = matching signature
  // fraction. The join key is the band hash — this is the scalable
  // candidate generation (no cross join anywhere).
  private def candidatePairs(s: SparkSession, dir: String): DataFrame =
    pairsFromBands(bandedSigs(s, dir))

  /** The banded+sized signature rows, materialized ONCE per (session,
    * dir): both self-join sides and d7's reuse read the cached stage
    * (partitioning (band, band_hash) preserved by the cache) instead of
    * re-running the explode + census per reference.
    */
  private def bandedSigs(s: SparkSession, dir: String): DataFrame =
    StageCache.getOrCache(s, s"sig_bands:$dir") {
      bandsWithSize(sigStage(s, dir), Nil)
    }

  private def pairsFromBands(bandsSized: DataFrame): DataFrame = {
    // Signatures arrive materialized ([[sigStage]]) — Catalyst's project
    // collapsing would otherwise inline the full sketch expression into
    // every band hash and both self-join sides (~30× recompute). At scale
    // the sketch is a write-time table column; cache() is its local stand-in.
    // hot-band cap: drop over-populated buckets from pair generation
    val bands = bandsSized
      .filter(col("__bsz") <= BandSizeCap).drop("__bsz")
    val a = bands.select(col("band"), col("band_hash"),
      col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val b = bands.select(col("band"), col("band_hash"),
      col("doc_id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        // POSITIONAL agreement (the MinHash estimator) — set intersection
        // would misestimate when signatures repeat values
        (aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, m) => acc + m).cast("double") /
          lit(MinhashK.toDouble)).as("est_sim"))
      .distinct()
  }

  private val d3LshPairs: Q = (s, dir) =>
    candidatePairs(s, dir).orderBy(col("id_a"), col("id_b"))

  /** DuckDB oracle for d3 built with a per-row band unnest. */
  private val d3OracleSql: String = {
    val bandStructs = duckBandStructs
    s"""WITH $duckSigCte,
       |bands AS (
       |  SELECT doc_id, [s0,s1,s2,s3,s4,s5,s6,s7] AS sig,
       |    u.b['band'] AS band, u.b['band_hash'] AS band_hash
       |  FROM sigs, UNNEST([$bandStructs]) u(b)
       |  QUALIFY COUNT(*) OVER (PARTITION BY u.b['band'], u.b['band_hash']) <= $BandSizeCap
       |)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  list_reduce(list_prepend(0, list_transform(range(1, $MinhashK + 1),
       |    i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)), (acc, m) -> acc + m)::DOUBLE / $MinhashK AS est_sim
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin
  }

  // D7 — duplicate CLUSTERS: connected components over the strong LSH
  // pairs (est_sim ≥ 0.5), cluster id = min doc_id in the component — the
  // keep-one-per-cluster step production dedup runs after candidate
  // generation. Algorithm: [[graft.dedup.ConnectedComponents]] (min-label
  // propagation + pointer jumping, O(log diameter) rounds).
  //
  // r9 instrumentation finding (the r8 soak's 23× d7/d8 growth): the
  // cause is measured PAIR EXPLOSION, not CC-round overhead — strong
  // pairs grew 10,400 → ~1.05M (≈100× for 10× data) because the sf1
  // corpus replicates content 10×, inflating every near-dup bucket
  // quadratically; the CC path choice is immaterial at that size
  // (driver union-find at a forced 4M threshold measured WITHIN NOISE of
  // the 5-round distributed loop — the 1M default cutoff is well
  // placed). Exact-dedup-first was evaluated and REJECTED by
  // measurement: the replicas are near-identical, not bit-identical
  // (49,920 distinct digests / 50,000 docs), so digest collapsing
  // bought nothing and cost 3×. The lever that does work is the
  // hot-band cap (see [[BandSizeCap]]).
  // labels memoized per (session, dir): d7 and d8 share one component run
  // (the result is tiny — one row per clustered doc)
  private def clusterLabels(s: SparkSession, dir: String): DataFrame =
    StageCache.getOrCache(s, s"dup_clusters:$dir") {
      val (labels, stats) = graft.dedup.ConnectedComponents
        .labelWithStats(candidatePairs(s, dir).filter(col("est_sim") >= 0.5))
      ccStatsByDir.put(dir, stats)
      labels
    }

  /** Per-dir record of what the last d7/d8 component run actually did
    * (pair volume, driver-vs-distributed path, rounds) — the soak stamps
    * it into SOAK_r{N} so superlinear d7/d8 growth is attributable to
    * measured pair explosion vs iteration overhead, not guessed. A
    * diagnostic record, not a memo: reading it skips no work, so it
    * stays a plain map outside [[StageCache]].
    */
  private val ccStatsByDir =
    new java.util.concurrent.ConcurrentHashMap[
      String, graft.dedup.ConnectedComponents.CcStats]

  def ccStats(dir: String): Option[graft.dedup.ConnectedComponents.CcStats] =
    Option(ccStatsByDir.get(dir))

  private val d7Clusters: Q = (s, dir) =>
    clusterLabels(s, dir)
      .select(col("node").as("doc_id"), col("cluster").as("cluster_id"))
      .orderBy(col("doc_id"))

  private val d7Sql = {
    // the same pair generation, then a recursive reachability closure;
    // cluster id = min node reachable from each member
    val bandStructs = duckBandStructs
    s"""WITH RECURSIVE $duckSigCte,
       |bands AS (
       |  SELECT doc_id, [s0,s1,s2,s3,s4,s5,s6,s7] AS sig,
       |    u.b['band'] AS band, u.b['band_hash'] AS band_hash
       |  FROM sigs, UNNEST([$bandStructs]) u(b)
       |  QUALIFY COUNT(*) OVER (PARTITION BY u.b['band'], u.b['band_hash']) <= $BandSizeCap
       |),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    list_reduce(list_prepend(0, list_transform(range(1, $MinhashK + 1),
       |      i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)), (acc, m) -> acc + m)::DOUBLE / $MinhashK AS est_sim
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
       |),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs WHERE est_sim >= 0.5
       |  UNION
       |  SELECT id_b, id_a FROM pairs WHERE est_sim >= 0.5
       |),
       |reach(node, r) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
       |)
       |SELECT node AS doc_id, MIN(r) AS cluster_id
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin
  }

  // D8 — the deduplicated corpus: drop every cluster member except the
  // cluster minimum (the keep-one rule), keep all unclustered docs.
  // A broadcast anti-join of the (tiny) drop set against the corpus —
  // the drop set is bounded by the number of near-dups, never corpus-sized.
  // Per-language kept/dropped tallies; oracle = the same recursive-CTE
  // components with the identical keep rule.
  private val d8DedupKeep: Q = (s, dir) => {
    val drops = clusterLabels(s, dir)
      .filter(col("node") =!= col("cluster"))
      .select(col("node").as("doc_id"))
    Tables.documents(s, dir)
      .join(broadcast(drops), Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"))
      .join(Tables.documents(s, dir).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs")), Seq("lang"))
      .select(col("lang"), col("n_docs"), (col("n_docs") - col("n_kept")).as("n_dropped"),
        col("n_kept"))
      .orderBy(col("lang"))
  }

  private val d8Sql = {
    val inner = d7Sql.replace("ORDER BY doc_id", "")
    s"""WITH cc AS ($inner),
       |drops AS (SELECT doc_id FROM cc WHERE doc_id <> cluster_id),
       |kept AS (
       |  SELECT lang, COUNT(*) AS n_kept FROM documents
       |  WHERE doc_id NOT IN (SELECT doc_id FROM drops) GROUP BY lang)
       |SELECT d.lang, COUNT(*) AS n_docs,
       |  COUNT(*) - ANY_VALUE(k.n_kept) AS n_dropped,
       |  ANY_VALUE(k.n_kept) AS n_kept
       |FROM documents d JOIN kept k ON d.lang = k.lang
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin
  }

  // D4 — SimHash signatures (16-bit) via the native one-pass expression
  // (tokenize → md5 per word → fold bit votes in one loop; identical
  // values to TextSketch.simhash and the oracle — the built-in form pays
  // 16 interpreted aggregate() passes, each re-inlined by project
  // collapsing).
  private val d4Simhash: Q = (s, dir) =>
    Tables.spread(s, Tables.documents(s, dir))
      .select(col("doc_id"),
        org.apache.spark.sql.graft.SketchExpressions
          .simhash(col("text"), SimhashBits).as("simhash"))
      .orderBy(col("doc_id"))

  private val d4Sql = {
    val hw = s"list_transform(${duck.words("text")}, w -> ${duck.hexInt("w")})"
    s"""WITH hashes AS (SELECT doc_id, $hw AS hw FROM documents)
       |SELECT doc_id, ${duck.simhashFromHashes("hw", SimhashBits)} AS simhash
       |FROM hashes ORDER BY doc_id""".stripMargin
  }

  // D5 — n-gram Jaccard verification on a bounded candidate set (doc_id
  // < 40): the "verify within bucket" stage. Word-level sets (the corpus
  // shares vocabulary, so overlaps are non-trivial).
  private val d5Jaccard: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 40)
      .select(col("doc_id"), col("text"))
    val a = docs.select(col("doc_id").as("id_a"),
      TextSketch.words(col("text")).as("w_a"))
    val b = docs.select(col("doc_id").as("id_b"),
      TextSketch.words(col("text")).as("w_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("jac", TextSketch.jaccard(col("w_a"), col("w_b")))
      .filter(col("jac") >= 0.5)
      .select(col("id_a"), col("id_b"), col("jac"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val d5Sql = {
    val wa = duck.words("a.text")
    val wb = duck.words("b.text")
    val jac =
      s"""(CASE WHEN len(list_distinct(list_concat($wa, $wb))) = 0 THEN 0.0
         | ELSE len(list_intersect(list_distinct($wa), list_distinct($wb)))::DOUBLE
         |   / len(list_distinct(list_concat($wa, $wb)))::DOUBLE END)""".stripMargin.replaceAll("\n", " ")
    s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jac AS jac
       |FROM documents a JOIN documents b ON a.doc_id < b.doc_id
       |WHERE a.doc_id < 40 AND b.doc_id < 40 AND $jac >= 0.5
       |ORDER BY id_a, id_b""".stripMargin
  }

  // D6 — char-16-gram rolling fingerprint per document (native one-pass
  // expression; same values as TextSketch.charFingerprint and the oracle).
  private val d6Fingerprint: Q = (s, dir) =>
    Tables.spread(s, Tables.documents(s, dir))
      .select(col("doc_id"),
        org.apache.spark.sql.graft.SketchExpressions
          .charFingerprint(col("text"), 16).as("fingerprint"))
      .orderBy(col("doc_id"))

  private val d6Sql =
    s"""SELECT doc_id, ${duck.charFingerprint("text", 16)} AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin

  // D9 — cross-document duplicated-text fraction (the CCNet/RefinedWeb
  // shard-dedup measure): for every document, the fraction of its
  // distinct word 4-grams that also appear in at least one OTHER
  // document, plus the drop decision at the 30% threshold. Unlike x8
  // (repetition WITHIN a doc) and x10 (overlap against a small benchmark
  // set), the gram census here is corpus×corpus, so nothing broadcasts:
  // the plan is distinct (doc, gram) pairs [one shuffle on (doc, gram),
  // pre-deduped map-side], a gram-keyed census reusing a gram shuffle,
  // a join back on the SAME gram partitioning, and a per-doc agg — the
  // sharded-hash-partition recipe CCNet runs at web scale. Census rows
  // are vocabulary-sized; boilerplate grams are the skew unit and AQE
  // skew-split handles the join. The fraction divides two exact longs
  // once (IEEE-identical on both engines).
  private val CrossN = 4

  /** Distinct (doc_id, 60-bit gram key) pairs — the shared subtree of
    * d9/d12. Grams reduce to md5-prefix longs BEFORE the first shuffle:
    * every downstream stage (distinct, census, join) moves 8-byte longs
    * instead of ~25-byte gram strings, and because BOTH engines compute
    * the identical md5, even a (≈2⁻³⁸ at 10⁶ grams) collision changes
    * both sides the same way — the compare never flaps.
    *
    * r15: in-memory cached again. The old no-cache measurement (cache 3×
    * slower end-to-end at sf0.1) was taken when the stage ended in a
    * corpus-sized DISTINCT whose canonical exchange each plan reused;
    * with the distinct folded into the per-row [[GramSet]] expression
    * the rebuild cost is a full md5 pass over every gram, paid once per
    * consumer REFERENCE (d9 and d12 reference it twice each), while the
    * cache is two long columns. The stage is a deterministic row set
    * (partitioning-independent), and at 100 TB it is a write-time table
    * — which stays literal: a persisted `index-sketches` copy under
    * `spark.graft.stageCache.path` is read through instead of built.
    */
  private[graft] def gramPairs(s: SparkSession, dir: String): DataFrame =
    StageCache.getOrCache(s, s"gram_pairs:$dir", stageFingerprint(dir)) {
      // r15 optimization: the corpus-wide DISTINCT (doc_id, g) is exactly
      // the union of per-ROW gram sets (each document is one row), so the
      // dedup happens inside the one-pass native expression and the
      // distinct's corpus-sized Exchange disappears (guide §2.4). Rows are
      // identical to the old explode→hexInt→distinct formulation
      // (GramSetSpec pins set equality), so the persisted write-time table
      // and both DuckDB oracles are unchanged.
      Tables.spread(s, Tables.documents(s, dir))
        .select(col("doc_id"),
          explode(org.apache.spark.sql.graft.SketchExpressions
            .gramSet(col("text"), CrossN)).as("g"))
    }

  private val d9CrossdocGrams: Q = (s, dir) => {
    // r15 optimization (guide §2.3 "aggregate before you shuffle"): the
    // old plan joined the corpus-sized pair set back to the census and
    // re-aggregated the join output per doc. But a gram with nd = 1
    // belongs to exactly ONE document (its census min), so
    //   n_shared(doc) = n_grams(doc) − #{census rows: nd = 1, min = doc}
    // — the join-back collapses to two decomposed aggregates joined at
    // DOCUMENT size (vocabulary-sized census → doc-sized counts), and no
    // corpus-sized row ever crosses a join. Skew story unchanged: the
    // census partial-aggregates map-side (one row per distinct gram per
    // partition), never a window over gram partitions.
    val dg = gramPairs(s, dir)
    val perDoc = dg.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    val uniqueByDoc = dg.groupBy(col("g"))
      .agg(count(lit(1)).as("nd"), min(col("doc_id")).as("d0"))
      .filter(col("nd") === 1)
      .groupBy(col("d0").as("doc_id"))
      .agg(count(lit(1)).as("n_unique"))
    perDoc.join(uniqueByDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        (col("n_grams") - coalesce(col("n_unique"), lit(0L))).as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_grams").cast("double"))
          .as("shared_fraction"),
        (col("n_shared") * 10 >= col("n_grams") * 3).as("would_drop"))
      .orderBy(col("doc_id"))
  }

  private val d9Sql = {
    val sh = TextSketch.duck.shingles(TextSketch.duck.words("text"), CrossN)
    s"""WITH dg AS (
       |  SELECT DISTINCT doc_id, ${TextSketch.duck.hexInt("g")} AS g
       |  FROM (SELECT doc_id, unnest($sh) AS g FROM documents)),
       |census AS (SELECT g, COUNT(*) AS nd FROM dg GROUP BY 1)
       |SELECT doc_id, COUNT(*) AS n_grams,
       |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(COUNT(*) AS DOUBLE) AS shared_fraction,
       |  SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 10 >= COUNT(*) * 3
       |    AS would_drop
       |FROM dg JOIN census USING (g)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // D10 — incremental dedup: a NEW shard (the ~10% hash slice arriving
  // docs land in) deduplicated against the HISTORICAL corpus (the other
  // 90%) — the production pattern for a continuously growing corpus,
  // where re-running whole-corpus dedup per arrival is off the table. Two
  // passes, both equi-joins:
  //  1. exact — the new shard's content digests semi-joined against the
  //     history digest set (shuffle carries 128-bit digests, not text; at
  //     100 TB the history digest set is a bloom filter pushed into the
  //     scan, with the semi-join confirming survivors);
  //  2. near — the d3 band join restricted to new×history (new-shard
  //     bands never pair with each other — within-shard dedup is d3/d7's
  //     job), positional signature agreement ≥ k/2 confirming. The
  //     band/sig stage is the SAME cached sketch d2/d3 use: an arriving
  //     shard computes sketches once at write time, history bands are
  //     already materialized.
  // Output: per-language census of the new shard (exact ints).
  /** Salted new/history digest split shared by d10 and d13 (cached: both
    * queries and several branches within each consume it). The "d10:"
    * salt keeps the simulated arriving shard independent of the g1
    * train/val/test assignment — same convention as g5's "unimax:" salt.
    */
  private def digestSplit(s: SparkSession, dir: String): DataFrame =
    StageCache.getOrCache(s, s"digest_split:$dir", stageFingerprint(dir)) {
      val isNew = pmod(TextSketch.hexInt(
        concat(lit("d10:"), col("doc_id").cast("string"))), lit(100L)) >= 90
      Tables.spread(s, Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"), md5(col("text")).as("digest"),
          isNew.as("is_new"))
    }

  private val d10Incremental: Q = (s, dir) => {
    val withSig = StageCache.getOrCache(s, s"d10_base:$dir") {
      digestSplit(s, dir).join(sigStage(s, dir), Seq("doc_id"))
    }
    // materialized once: cold self-join sides + both hot-path references
    // all read this cache (see [[bandsWithSize]] — the planner would
    // otherwise re-run the explode + census per reference)
    val bands = StageCache.getOrCache(s, s"d10_bands:$dir") {
      bandsWithSize(withSig, Seq("is_new"))
    }
    val cold = bands.filter(col("__bsz") <= BandSizeCap)
    val exactIds = withSig.filter(col("is_new"))
      .select(col("doc_id"), col("digest"))
      .join(withSig.filter(!col("is_new")).select(col("digest")).distinct(),
        Seq("digest"), "left_semi")
      .select(col("doc_id"))
    val pairNearIds = cold.filter(col("is_new"))
      .select(col("band"), col("band_hash"), col("doc_id"),
        col("sig").as("sig_n"))
      .join(cold.filter(!col("is_new"))
        .select(col("band"), col("band_hash"), col("sig").as("sig_h")),
        Seq("band", "band_hash"))
      .filter(aggregate(
        zip_with(col("sig_n"), col("sig_h"),
          (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, m) => acc + m) >= lit(MinhashK / 2))
      .select(col("doc_id"))
    // A hot band (> cap members) is a boilerplate duplicate cluster. d3
    // drops such buckets from PAIR generation (the pairs are the blow-up);
    // here dropping would misreport the new doc as CLEAN — the exact
    // opposite of the truth. A new doc sharing a hot bucket with at least
    // one history doc is a near-duplicate of history by the cap's own
    // rationale; record it directly, pair-free (still no quadratic term —
    // one row per hot band member). Hot buckets with no history member
    // stay out: within-shard dedup is d3/d7's job on the shard alone.
    // r15: "bucket has a history member" via a left-semi join of hot new
    // rows against hot history rows on the bucket key — the same answer
    // the old max-over-window gave, without a second windowed pass over
    // all banded rows (both sides are filters of the cached stage and
    // hot buckets are few by the cap's rationale)
    val hotNearIds = bands
      .filter(col("__bsz") > BandSizeCap && col("is_new"))
      .join(bands.filter(col("__bsz") > BandSizeCap && !col("is_new"))
          .select(col("band"), col("band_hash")),
        Seq("band", "band_hash"), "left_semi")
      .select(col("doc_id"))
    val nearIds = pairNearIds.union(hotNearIds).distinct()
    withSig.filter(col("is_new")).select(col("doc_id"), col("lang"))
      .join(exactIds.withColumn("__e", lit(1)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("__nr", lit(1)), Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_new"),
        sum(coalesce(col("__e"), lit(0))).cast("long").as("n_exact_dup"),
        sum(coalesce(col("__nr"), lit(0))).cast("long").as("n_near_dup"),
        sum(when(col("__e").isNull && col("__nr").isNull, 1L).otherwise(0L))
          .as("n_clean"))
      .orderBy(col("lang"))
  }

  private val d10Sql: String = {
    val sh = duck.shingles(duck.words("text"), ShingleN)
    val sigCols = (0 until MinhashK)
      .map(i => s"${duck.kmComponent("ha", "hb", i)} AS s$i").mkString(", ")
    s"""WITH hashes AS (
       |  SELECT doc_id, lang, md5(text) AS digest,
       |    ${duck.kmA(sh)} AS ha, ${duck.kmB(sh)} AS hb
       |  FROM documents),
       |split AS (
       |  SELECT doc_id, lang, digest, $sigCols,
       |    (CAST('0x' || substr(md5('d10:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
       |       % 100) >= 90 AS is_new
       |  FROM hashes),
       |bands AS (
       |  SELECT doc_id, is_new,
       |    [${(0 until MinhashK).map(i => s"s$i").mkString(",")}] AS sig,
       |    u.b['band'] AS band, u.b['band_hash'] AS band_hash,
       |    COUNT(*) OVER (PARTITION BY u.b['band'], u.b['band_hash']) AS bsz
       |  FROM split, UNNEST([$duckBandStructs]) u(b)),
       |exact_ids AS (
       |  SELECT DISTINCT n.doc_id FROM split n JOIN split h
       |    ON n.is_new AND NOT h.is_new AND n.digest = h.digest),
       |near_ids AS (
       |  SELECT DISTINCT n.doc_id FROM bands n JOIN bands h
       |    ON n.is_new AND NOT h.is_new
       |      AND n.band = h.band AND n.band_hash = h.band_hash
       |  WHERE n.bsz <= $BandSizeCap AND h.bsz <= $BandSizeCap
       |    AND list_reduce(list_prepend(0, list_transform(range(1, ${MinhashK + 1}),
       |      i -> CASE WHEN n.sig[i] = h.sig[i] THEN 1 ELSE 0 END)),
       |      (acc, m) -> acc + m) >= ${MinhashK / 2}
       |  UNION
       |  SELECT DISTINCT n.doc_id FROM bands n
       |  WHERE n.is_new AND n.bsz > $BandSizeCap
       |    AND EXISTS (SELECT 1 FROM bands h
       |      WHERE h.band = n.band AND h.band_hash = n.band_hash
       |        AND NOT h.is_new))
       |SELECT lang, COUNT(*) AS n_new,
       |  CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
       |  CAST(SUM(CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
       |  CAST(SUM(CASE WHEN e.doc_id IS NULL AND nr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
       |FROM split s
       |LEFT JOIN exact_ids e USING (doc_id)
       |LEFT JOIN near_ids nr ON s.doc_id = nr.doc_id
       |WHERE s.is_new GROUP BY lang ORDER BY lang""".stripMargin
  }

  // D11 — segment-level (line) dedup with the keep-first-occurrence rule:
  // the CCNet/RefinedWeb *removal* stage, where d9 was the *measure*. The
  // removal unit is the line; this corpus has no newlines, so the line
  // stand-in is the non-overlapping 4-word segment (incl. the trailing
  // partial — short boilerplate tails dedup like real boilerplate lines).
  // Every segment INSTANCE (not distinct per doc — within-doc repeats are
  // removed too) hashes to a 60-bit md5-prefix key; the corpus-wide rule is
  // "the globally first occurrence (doc_id, pos) survives, every later
  // instance is removed". First occurrence is computed as min(packed
  // doc_id·2²⁰+pos) inside the census aggregate, NOT as a rank-1 window
  // over segment partitions: a hot boilerplate segment would serialize its
  // whole window onto one task, while min() partial-aggregates map-side and
  // ships one row per distinct segment. Plan: one shuffle on the segment
  // key for the census, join back on the SAME partitioning (AQE skew-splits
  // hot segments), one per-doc agg. Nothing broadcasts a corpus-sized set.
  // The fraction divides two exact longs once.
  private val SegWords = 4
  private val PosBits = 20 // pos < 2^20: packed = doc_id·2²⁰ + pos is unique

  /** The d11 segment-instance stage (doc_id, h, packed), materialized
    * once per session (r16 — its two consumers, the segment census and
    * the per-doc count, otherwise each re-run the scan + explode):
    * every segment INSTANCE with its 60-bit md5-prefix key and the
    * packed (doc_id·2²⁰ + pos) first-occurrence order. A deterministic
    * row set — partitioning-independent, persistable as a write-time
    * table. */
  private[graft] def d11Segs(s: SparkSession, dir: String): DataFrame =
    StageCache.getOrCache(s, s"d11_segs:$dir", stageFingerprint(dir)) {
      val w = col("__w")
      val nseg =
        floor((size(w) + lit(SegWords - 1)) / lit(SegWords)).cast("int")
      val segs = transform(sequence(lit(0), nseg - 1), i =>
        struct(i.as("pos"),
          concat_ws(" ", slice(w, i * SegWords + lit(1), lit(SegWords)))
            .as("seg")))
      Tables.spread(s, Tables.documents(s, dir))
        .select(col("doc_id"), TextSketch.words(col("text")).as("__w"))
        // zero-word docs emit NO instances (the oracle's range(0, 0) —
        // without the guard sequence(0, -1) counts DOWN and would emit
        // two phantom rows; the old per-doc expression filtered such
        // docs with `n_segments >= 1`, which this reproduces)
        .filter(size(w) >= 1)
        .select(col("doc_id"), explode(segs).as("u"))
        .select(col("doc_id"),
          TextSketch.hexInt(col("u.seg")).as("h"),
          (col("doc_id") * lit(1L << PosBits) + col("u.pos")).as("packed"))
    }

  private val d11SegmentDedup: Q = (s, dir) => {
    // r15 optimization (same aggregate decomposition as d9/d12): `packed`
    // is unique per instance, so exactly ONE instance per segment key
    // matches first_packed — the survivor — and the surviving instance's
    // doc_id is recoverable from the packed value itself (packed div 2²⁰).
    //   n_removed(doc) = n_segments(doc) − #{census rows: first div 2²⁰ = doc}
    // n_segments is a pure per-row expression (the segment count of one
    // document's text), so the instance-sized join-back AND the second
    // explode pass both disappear; the only corpus-sized work left is the
    // census shuffle (min partial-aggregates map-side, one row per
    // distinct segment — the hot-boilerplate-segment skew story is
    // unchanged).
    // r16 (VERDICT r15 task 2): the r15 decomposition left TWO corpus
    // scans — one for the segment instances, one re-tokenizing for the
    // per-doc segment count (volume-gate flag: rows 5000→10000). The
    // instance stage now materializes ONCE (StageCache — the gramPairs
    // recipe; deterministic (doc_id, h, packed) rows, partitioning-
    // independent, persisted as a write-time table) and the per-doc
    // count is a doc-sized aggregate OF it: count per doc over instances
    // ≡ the ceil(len/4) expression (explode emits exactly nseg rows per
    // doc and drops only nseg = 0 docs, which the old `n_segments >= 1`
    // filter dropped too).
    val inst = d11Segs(s, dir)
    val firstByDoc = inst.groupBy(col("h"))
      .agg(min(col("packed")).as("first_packed"))
      .groupBy(shiftright(col("first_packed"), PosBits).as("doc_id"))
      .agg(count(lit(1)).as("n_first"))
    val perDoc = inst.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"))
    perDoc.join(firstByDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segments"),
        (col("n_segments") - coalesce(col("n_first"), lit(0L)))
          .as("n_removed"))
      .select(col("doc_id"), col("n_segments"), col("n_removed"),
        (col("n_removed").cast("double") / col("n_segments").cast("double"))
          .as("removed_fraction"),
        (col("n_removed") * 10 >= col("n_segments") * 3).as("would_drop"))
      .orderBy(col("doc_id"))
  }

  private val d11Sql = {
    val w = duck.words("text")
    val seg = s"array_to_string((w)[$SegWords*i+1 : $SegWords*i+$SegWords], ' ')"
    s"""WITH inst AS (
       |  SELECT doc_id, ${duck.hexInt("u.seg")} AS h,
       |    doc_id * ${1L << PosBits} + u.pos AS packed
       |  FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      range(0, (len(w) + ${SegWords - 1}) // $SegWords),
       |      i -> {'pos': i, 'seg': $seg})) AS u
       |    FROM (SELECT doc_id, $w AS w FROM documents))),
       |census AS (SELECT h, MIN(packed) AS first_packed FROM inst GROUP BY h)
       |SELECT doc_id, COUNT(*) AS n_segments,
       |  CAST(SUM(CASE WHEN packed <> first_packed THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_removed,
       |  CAST(SUM(CASE WHEN packed <> first_packed THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS removed_fraction,
       |  SUM(CASE WHEN packed <> first_packed THEN 1 ELSE 0 END) * 10
       |    >= COUNT(*) * 3 AS would_drop
       |FROM inst JOIN census USING (h)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // D12 — per-document novelty against corpus order: the fraction of a
  // document's DISTINCT 4-grams whose first corpus occurrence (global min
  // doc_id) is this document — the dataset-growth diagnostic a collection
  // pipeline runs per crawl ("how much genuinely new content did this
  // shard add?"; near-zero novelty tails are re-crawls and scrape loops).
  // Same plumbing family as d9, one stage cheaper: distinct (doc, gram)
  // pairs on 60-bit keys, a gram-keyed census aggregating min(doc_id) —
  // partial-aggregatable map-side, one row per distinct gram to the
  // shuffle, no window over gram partitions (a boilerplate gram would
  // serialize onto one task) — join back on the same gram partitioning,
  // per-doc agg. At 100 TB the census IS the running first-seen table the
  // incremental variant (d10's shape) maintains at write time. The
  // fraction divides two exact longs once.
  private val d12Novelty: Q = (s, dir) => {
    // r15 optimization, same decomposition as d9: "how many of this doc's
    // grams are first-seen here" = "how many census rows carry this doc as
    // their min" — a doc-sized aggregate of the vocabulary-sized census,
    // so the old corpus-sized join-back (+ its per-doc re-aggregation of
    // join output) disappears. Census shape unchanged (min partial-
    // aggregates map-side; no gram-partition window, hot grams stay
    // skew-safe).
    val dg = gramPairs(s, dir)
    val perDoc = dg.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_grams"))
    val firstByDoc = dg.groupBy(col("g"))
      .agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_first"))
    perDoc.join(firstByDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_distinct_grams"),
        coalesce(col("n_first"), lit(0L)).as("n_first_here"))
      .select(col("doc_id"), col("n_distinct_grams"), col("n_first_here"),
        (col("n_first_here").cast("double") /
          col("n_distinct_grams").cast("double")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  private val d12Sql = {
    val sh = duck.shingles(duck.words("text"), CrossN)
    s"""WITH dg AS (
       |  SELECT DISTINCT doc_id, ${duck.hexInt("g")} AS g
       |  FROM (SELECT doc_id, unnest($sh) AS g FROM documents)),
       |census AS (SELECT g, MIN(doc_id) AS first_doc FROM dg GROUP BY 1)
       |SELECT doc_id, COUNT(*) AS n_distinct_grams,
       |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_first_here,
       |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS novelty
       |FROM dg JOIN census USING (g)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // D13 — the 100 TB refinement d10's scaladoc promised: the history
  // digest set as a BLOOM FILTER prefilter on the arriving shard, with
  // the exact semi-join confirming only bloom survivors. Build and probe
  // ride Spark's own runtime-filter expressions
  // ([[org.apache.spark.sql.graft.BloomProbe]] — XxHash64 +
  // BloomFilterAggregate/MightContain, codegen'd, no UDF): per-partition
  // bitsets OR-merge in one distributed aggregate (the mergeable-
  // summaries shape), the serialized filter ships once, and the probe is
  // map-side work on the new shard — the confirming join's probe side
  // shrinks from the whole shard to its bloom-hit fraction. Size budget:
  // ~10 bits/item ⇒ 125 MB at 10⁸ history digests — the practical
  // broadcast ceiling; beyond that, partition the history and bloom per
  // partition, or stay on d10's plain semi-join (Spark's own runtime
  // filter caps itself the same way). Output self-audits the structure:
  // n_false_negatives MUST be 0 (bloom guarantee — a missed duplicate
  // would be corpus corruption), n_false_positives only costs confirm
  // work. Deterministic (fixed hash seed, OR-merge order-free) ⇒
  // golden-pinnable.
  private val BloomEstItems = 1L << 17
  private val BloomNumBits = 1L << 20

  private val d13BloomIncremental: Q = (s, dir) => {
    import org.apache.spark.sql.graft.BloomProbe
    // the shared CACHED split: the bloom build plus the three consumer
    // branches below would otherwise rescan + re-md5 the corpus 4×
    val base = digestSplit(s, dir)
    // write-time in production (the filter persists beside the digest
    // table); the 1-row collect is the sketch itself, KB-MB bounded.
    // NOTE: this runs a (cached-scan) job at CONSTRUCTION time — a
    // documented deviation from the lazy Q contract, like v12's pool
    // collect: the probe literal cannot exist before the filter is built.
    val bloomBytes = base.filter(!col("is_new"))
      .select(BloomProbe.bloomAgg(col("digest"), BloomEstItems, BloomNumBits)
        .as("bf"))
      .head.getAs[Array[Byte]](0)
    val hist = base.filter(!col("is_new")).select(col("digest")).distinct()
    // Empty history ⇒ BloomFilterAggregate returns null; MightContain(null, x)
    // would then null out every probe and the self-audit would report the
    // vanished rows as false negatives ("corpus corruption") instead of the
    // real cause. An empty filter contains nothing: probe = constant false.
    val probeExpr =
      if (bloomBytes == null) lit(false)
      else BloomProbe.mightContain(bloomBytes, col("digest"))
    val probed = base.filter(col("is_new"))
      .withColumn("bloom_hit", probeExpr)
    // r15: ONE history semi-join instead of two. The old plan probed
    // history once for "bloom-hit AND in history" (confirmed) and again
    // for "in history" (truth); but confirmed ≡ truth ∧ bloom_hit, and
    // bloom_hit is already a per-row column of `probed` — so join the
    // truth flag once and derive confirmed in the aggregate. Counts
    // identical by that identity (the audit still MEASURES false
    // negatives rather than assuming zero: n_false_negatives counts
    // truth rows whose bloom_hit is false).
    val truth = base.filter(col("is_new"))
      .join(hist, Seq("digest"), "left_semi")
      .select(col("doc_id"), lit(1L).as("__t"))
    probed.join(truth, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_new"),
        sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hits"),
        sum(when(col("bloom_hit") && col("__t").isNotNull, 1L).otherwise(0L))
          .as("n_confirmed_dup"),
        sum(coalesce(col("__t"), lit(0L))).as("n_true_dup"),
        (sum(coalesce(col("__t"), lit(0L))) -
          sum(when(col("bloom_hit") && col("__t").isNotNull, 1L)
            .otherwise(0L))).as("n_false_negatives"),
        sum(when(col("bloom_hit") && col("__t").isNull, 1L).otherwise(0L))
          .as("n_false_positives"))
      .orderBy(col("lang"))
  }

  /** The write-time tables the dedup scaladocs promise, under their exact
    * StageCache keys — what `index-sketches` persists so d2/d3/d9/d10/
    * d12/d13 run against materialized stages instead of recomputing
    * sketches per query. All three are partitioning-independent row sets
    * (safe to persist; see [[StageCache.PathConf]]).
    */
  def writeTimeStages(s: SparkSession, dir: String): Map[String, DataFrame] =
    Map(
      s"minhash_sigs:$dir" -> sigStage(s, dir),
      s"digest_split:$dir" -> digestSplit(s, dir),
      s"gram_pairs:$dir" -> gramPairs(s, dir),
      // r16: the d11 segment-instance stage — deterministic 3-long rows
      s"d11_segs:$dir" -> d11Segs(s, dir))

  /** The fingerprint [[graft.Cli]]'s `index-sketches` records beside each
    * persisted stage — must be the SAME derivation the read side checks.
    */
  def writeTimeFingerprint(dir: String): Option[String] = stageFingerprint(dir)

  // ---- d14: exact-substring dedup via content-defined chunking ----
  // The dedup family the gram census (d9/d12) does not cover: EXACT
  // duplicated character runs at arbitrary positions (boilerplate
  // headers, license blocks, lifted passages — the Lee et al.
  // "Deduplicating Training Data" target). Content-defined chunking
  // makes detection position-independent: a boundary falls wherever the
  // polynomial hash of the trailing W-char window lands on 0 mod 32
  // (~32-char chunks), so identical text yields identical chunk
  // boundaries REGARDLESS of where it sits in a document, and
  // duplicated runs surface as equal chunk digests — no alignment
  // search, no all-pairs. The boundary hash is exact BIGINT arithmetic
  // (fold of acc*31 + codepoint mod 1000003) identical in both engines
  // — an md5-per-position rule measured 10× slower; md5 prices only
  // per CHUNK, for the digest.
  //
  // 100 TB shape: chunking + digesting is per-row map work inside
  // codegen'd higher-order functions (no explode until digests); the
  // census is a count-over-digest WINDOW (one shuffle, one chunking
  // pass — a groupBy+join-back census scans the corpus twice), spans
  // merge under a doc-partitioned window.
  private[graft] val CdcW = 12
  private[graft] val CdcMod = 1000003L // prime; acc*31 + cp stays far under 2^63

  /** Built-in-functions formulation, kept as the PARITY REFERENCE for
    * the native [[org.apache.spark.sql.graft.CdcChunks]] expression the
    * queries actually run (CdcChunksSpec pins equality over corpus +
    * crafted + null text). Everything is ONE expression with the
    * codepoint array and cut list bound exactly once through the
    * `transform(array(X), v -> …)[0]` let-trick, encoding two hard-won
    * Spark lessons (both measured at sf0.1): per-position
    * `substring(text, i, …)` walks UTF8 bytes from the string START —
    * O(position) per probe, quadratic per document (60 s) — so probe a
    * materialized codepoint array instead; and intermediate COLUMNS
    * don't materialize — Catalyst's project collapsing inlines a
    * column's defining expression into every reference (the split()
    * ran once per position: 110 s), and lambda variables are the only
    * per-row let-binding Spark SQL has. Even fixed, the interpreted
    * HOF stack prices ~6 s vs ~1 s native. NULL text reads as ''
    * (one empty chunk) on every path, matching the oracle COALESCE. */
  private[graft] def cdcChunksExpr(withDigest: Boolean): String = {
    val chunk =
      if (withDigest)
        "struct(e - s + 1 AS clen, md5(substring(t, s, e - s + 1)) AS digest)"
      else "substring(t, s, e - s + 1)"
    s"""transform(array(coalesce(text, '')), t ->
       |transform(array(transform(split(t, ''),
       |    ch -> CAST(ascii(ch) AS BIGINT))), cp ->
       |  transform(array(filter(
       |      sequence(1, greatest(length(t) - ${CdcW - 1}, 1)), i ->
       |        i > 1 AND i <= length(t) - ${CdcW - 1} AND
       |        aggregate(slice(cp, i, $CdcW), CAST(0 AS BIGINT),
       |          (acc, x) -> (acc * 31 + x) % $CdcMod) % 32 = 0)), cuts ->
       |    zip_with(concat(array(1), cuts),
       |      concat(transform(cuts, c -> c - 1), array(length(t))),
       |      (s, e) -> $chunk))))[0][0][0]""".stripMargin
  }

  private val d14CdcDedup: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.spread(s, Tables.documents(s, dir))
      .select(col("doc_id"), col("text"))
    val chunked = docs
      .withColumn("chunks", org.apache.spark.sql.graft.CdcExpressions
        .cdcChunks(col("text"), CdcW, CdcMod, 32, withDigest = true))
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("idx", "c")))
      .select(col("doc_id"), col("idx"),
        col("c.digest").as("digest"), col("c.clen").as("clen"))
    val wDigest = Window.partitionBy(col("digest"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
    chunked
      .withColumn("dup", (count(lit(1)).over(wDigest) > 1).cast("int"))
      .withColumn("prev_dup", lag(col("dup"), 1, 0).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(col("dup")).cast("long").as("n_dup_chunks"),
        sum(when(col("dup") === 1, col("clen")).otherwise(0))
          .cast("long").as("dup_chars"),
        sum(when(col("dup") === 1 && col("prev_dup") === 0, 1)
          .otherwise(0)).cast("long").as("dup_spans"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB-side identical window hash (list_reduce = Spark aggregate). */
  private def duckCdcHash: String =
    s"""list_reduce(list_prepend(0::BIGINT,
       |      list_transform(range(0, $CdcW), j ->
       |        unicode(substring(text, (i + j)::INT, 1))::BIGINT)),
       |      (acc, x) -> (acc * 31 + x) % $CdcMod) % 32 = 0""".stripMargin

  /** The shared d/cuts/bounds/chunks CTE block both CDC oracles build
    * on — ONE copy of the boundary arithmetic, like [[duckCdcHash]];
    * COALESCE mirrors the native expression's null-as-'' contract. */
  private def duckCdcChunksCte: String =
    s"""d AS (SELECT doc_id, COALESCE(text, '') AS text,
       |    LENGTH(COALESCE(text, '')) AS n FROM documents),
       |cuts AS (
       |  SELECT doc_id, u.i FROM d,
       |    UNNEST(range(2, GREATEST(n - ${CdcW - 2}, 2))) AS u(i)
       |  WHERE $duckCdcHash),
       |bounds AS (
       |  SELECT d.doc_id, d.n, d.text,
       |    list_prepend(1, COALESCE(list(c.i::INT ORDER BY c.i)
       |      FILTER (WHERE c.i IS NOT NULL), [])) AS starts,
       |    list_append(COALESCE(list(c.i::INT - 1 ORDER BY c.i)
       |      FILTER (WHERE c.i IS NOT NULL), []), d.n) AS ends
       |  FROM d LEFT JOIN cuts c USING (doc_id)
       |  GROUP BY d.doc_id, d.n, d.text),
       |chunks AS (
       |  SELECT doc_id, u.k AS idx,
       |    ends[u.k] - starts[u.k] + 1 AS clen,
       |    substring(text, starts[u.k],
       |      ends[u.k] - starts[u.k] + 1) AS chunk
       |  FROM bounds, UNNEST(range(1, len(starts) + 1)) AS u(k))"""
      .stripMargin

  private val d14Sql =
    s"""WITH $duckCdcChunksCte,
       |census AS (SELECT md5(chunk) AS digest, COUNT(*) AS occ
       |  FROM chunks GROUP BY 1),
       |flagged AS (
       |  SELECT c.doc_id, c.idx, c.clen,
       |    CASE WHEN s.occ > 1 THEN 1 ELSE 0 END AS dup
       |  FROM chunks c JOIN census s ON md5(c.chunk) = s.digest),
       |runs AS (
       |  SELECT doc_id, clen, dup,
       |    COALESCE(LAG(dup) OVER (PARTITION BY doc_id ORDER BY idx), 0)
       |      AS prev_dup
       |  FROM flagged)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(dup) AS BIGINT) AS n_dup_chunks,
       |  CAST(SUM(CASE WHEN dup = 1 THEN clen ELSE 0 END) AS BIGINT)
       |    AS dup_chars,
       |  CAST(SUM(CASE WHEN dup = 1 AND prev_dup = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS dup_spans
       |FROM runs GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d15 — the materialization of d14 (the d7→d8 pattern): every
    * duplicated chunk keeps its FIRST corpus-wide occurrence (rank by
    * (doc_id, idx) within a digest — deterministic, no tie) and later
    * occurrences are cut; each document's cleaned text reassembles from
    * its surviving chunks in position order. Output pins the cleaned
    * text by md5 + length, so a hash match proves byte-exact span
    * removal. Same shuffle keys as d14 (digest rank window, per-doc
    * reassembly); the reassembly aggregation sorts by chunk index
    * explicitly — never an order-dependent collect. */
  private val d15CdcMaterialize: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.spread(s, Tables.documents(s, dir))
      .select(col("doc_id"), col("text"))
    val chunked = docs
      .withColumn("chunks", org.apache.spark.sql.graft.CdcExpressions
        .cdcChunks(col("text"), CdcW, CdcMod, 32, withDigest = false))
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("idx", "chunk")))
      .withColumn("digest", md5(col("chunk")))
    val w = Window.partitionBy(col("digest"))
      .orderBy(col("doc_id"), col("idx"))
    chunked
      .withColumn("rank", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        concat_ws("", sort_array(collect_list(struct(col("idx"),
          when(col("rank") === 1, col("chunk")).otherwise(lit(""))
            .as("kept")))).getField("kept")).as("cleaned"),
        count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("rank") > 1, 1).otherwise(0)).cast("long")
          .as("cut_chunks"))
      .select(col("doc_id"), md5(col("cleaned")).as("cleaned_md5"),
        length(col("cleaned")).cast("long").as("cleaned_len"),
        col("n_chunks"), col("cut_chunks"))
      .orderBy(col("doc_id"))
  }

  private val d15Sql =
    s"""WITH $duckCdcChunksCte,
       |ranked AS (
       |  SELECT doc_id, idx, chunk,
       |    ROW_NUMBER() OVER (PARTITION BY md5(chunk)
       |      ORDER BY doc_id, idx) AS rank
       |  FROM chunks)
       |SELECT doc_id,
       |  md5(STRING_AGG(CASE WHEN rank = 1 THEN chunk ELSE '' END, ''
       |    ORDER BY idx)) AS cleaned_md5,
       |  CAST(SUM(CASE WHEN rank = 1 THEN LENGTH(chunk) ELSE 0 END)
       |    AS BIGINT) AS cleaned_len,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(CASE WHEN rank > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS cut_chunks
       |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val defs: Map[String, Q] = Map(
    "d15_cdc_materialize" -> d15CdcMaterialize,
    "d14_cdc_substring_dedup" -> d14CdcDedup,
    "d13_bloom_incremental" -> d13BloomIncremental,
    "d12_novelty" -> d12Novelty,
    "d11_segment_dedup" -> d11SegmentDedup,
    "d10_incremental_dedup" -> d10Incremental,
    "d9_crossdoc_grams" -> d9CrossdocGrams,
    "d1_exact_dedup" -> d1Exact,
    "d2_minhash_sig" -> d2MinhashSig,
    "d3_minhash_lsh_pairs" -> d3LshPairs,
    "d4_simhash" -> d4Simhash,
    "d5_jaccard_pairs" -> d5Jaccard,
    "d6_char_fingerprint" -> d6Fingerprint,
    "d7_dup_clusters" -> d7Clusters,
    "d8_dedup_keep" -> d8DedupKeep)

  val oracles: Map[String, String] = Map(
    "d15_cdc_materialize" -> d15Sql,
    "d14_cdc_substring_dedup" -> d14Sql,
    "d12_novelty" -> d12Sql,
    "d11_segment_dedup" -> d11Sql,
    "d10_incremental_dedup" -> d10Sql,
    "d9_crossdoc_grams" -> d9Sql,
    "d7_dup_clusters" -> d7Sql,
    "d8_dedup_keep" -> d8Sql,
    "d1_exact_dedup" -> d1Sql,
    "d2_minhash_sig" -> d2Sql,
    "d3_minhash_lsh_pairs" -> d3OracleSql,
    "d4_simhash" -> d4Sql,
    "d5_jaccard_pairs" -> d5Sql,
    "d6_char_fingerprint" -> d6Sql)
}
