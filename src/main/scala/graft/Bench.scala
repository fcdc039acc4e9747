package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Scored-artifact routing: ONLY the canonical sf0.1 dir (exact
    * basename — `endsWith("sf0.1")` also matched the zsf0.1 anchor
    * dir, the precise clobbering class this routing exists to close)
    * at the canonical 32-core count writes `bench.json`; an sf0.1 run
    * at any other core count (the driver's scaling pass) lands in
    * `bench_c<cpus>.json` — in r16 the c8 scaling run clobbered the
    * scored c32 artifact because routing keyed on sfDir alone. Every
    * other scale lands in `bench_adhoc.json`.
    */
  private[graft] def artifactFor(sfDir: String, cpus: String): String =
    if (new java.io.File(sfDir.stripSuffix("/")).getName == "sf0.1") {
      if (cpus == "32") "bench.json" else s"bench_c$cpus.json"
    } else "bench_adhoc.json"

  /** Time one registered row: build it and drain its physical plan.
    * FULL-evaluation count (round 11): Dataset.count() lets Catalyst
    * prune every column — a pure projection/window query collapses to
    * a bare scan count, so such rows timed the SCAN, not their work.
    * toRdd executes the real physical plan (all output columns) and
    * the RDD count just drains it. A row that throws (while building
    * or while running) is an error, never a timing: Left carries its
    * exception class.
    */
  private[graft] def timeRow(fn: (SparkSession, String) => DataFrame,
      spark: SparkSession, sfDir: String): Either[String, Double] = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).queryExecution.toRdd.count()
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => Left(e.getClass.getName) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // contended-box marker: a bench sharing the machine with sbt test
    // once clobbered the scored artifact with +28% noise — record the
    // 1-min load average at start so a contaminated run is self-labeling
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // dimension tables stay broadcast-side past the 10x anchor
      // (orders at zsf1 is 25 MB — a trivial broadcast on any real
      // executor, but over the 10 MB default, which flipped q3/q5
      // to full shuffle joins); split single-file twin tables into
      // enough scan partitions to feed the cores
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JIT + codegen + parquet footer caches, so the first
    // timed query isn't charged for session start. The doc/embedding
    // subsets drive every hot kernel family (md5 minhash, xxhash sort,
    // hyperplane signatures, dot products) past the C2 compile
    // threshold — without it, whichever heavy query runs first absorbs
    // seconds of JIT, which showed up as ±15% run-to-run totals.
    try {
      SparkEntry.queries("lag_null_fill")(spark, sfDir).count()
      val docs = graft.sources.Tables.documents(spark, sfDir).limit(600)
      graft.dedup.Dedup.minhashLsh(docs, "doc_id", "text").count()
      graft.dedup.Dedup.ngramJaccardSortedPrefix(docs, "doc_id", "text").count()
      // simhash drives kernels nothing else does (SimHashAgg + conv token
      // hashing); without this its timed row absorbed ~2.5s of JIT
      graft.dedup.Dedup.simhashPairs(docs, "doc_id", "text").count()
      graft.textops.TextOps.winnowing(docs, "doc_id", "text").count()
      val emb = graft.sources.Tables.embeddings(spark, sfDir).limit(600)
      graft.simops.Similarity.nearDupPairsBanded(
        emb, "vec_id", "embedding", 0.9, numPlanes = 64, bands = 4).count()
      // vocabulary + span + semantic families added in round 4: their
      // first use otherwise lands on whichever of them the timed loop
      // hits first (concat_ws/transform lambdas, centroid-sims kernel,
      // within-list join shapes)
      graft.textops.Vocab.topNgrams(docs, "text", n = 2, k = 10).count()
      graft.textops.Vocab.tfidfTerms(docs, "doc_id", "text", k = 2).count()
      graft.dedup.Dedup.spanPairs(docs, "doc_id", "text").count()
      graft.simops.Embed.semanticDedup(emb.limit(300), "vec_id",
        "embedding", threshold = 0.4, nlist = 4).count()
      graft.simops.Embed.pqTopK(emb.limit(20), emb.limit(300), "vec_id",
        "embedding", kNN = 3, m = 8, k = 8).count()
      // narrow per-row projection family: these queries are sub-half-
      // second, so whichever ran first in the timed loop used to absorb
      // its kernels' first-use JIT and read 2× its steady-state time
      // (r3: doc_fingerprint/quality_score doubled from ordering alone)
      for (q <- Seq("text_stats", "quality_score", "lang_id",
          "doc_fingerprint", "rep_stats", "pii_scrub",
          "embedding_quantize", "multimodal_meta"))
        SparkEntry.queries(q)(spark, sfDir).count()
    } catch { case _: Throwable => }
    // TWO timed passes per query, min reported (the ScaleBench /
    // BASELINE.md convention): the generic warmup above covers the hot
    // kernel families but not each query's own composed-plan codegen,
    // so in a single pass whichever query first exercises a plan shape
    // absorbs its JIT — r4's dedup_exact read 1.63s in the suite vs
    // 0.72s warmed (plan unchanged). The min of two full passes charges
    // every query its steady-state cost.
    def pass(): Map[String, Either[String, Double]] = SparkEntry.queries.map { case (name, fn) =>
      // drain PREVIOUS queries' suite state outside the timed window:
      // localCheckpoint blocks have no auto-unpersist hook and
      // accumulate in the one-JVM MemoryStore across the suite — by
      // the alphabetical dedup_* block they cost later rows up to 10×
      // (r9: dedup_resolve_best 121s in-suite vs 12s isolated, driver
      // gc_sec near zero — NOT collector time, block-eviction
      // pressure). Dropping leftover blocks + a full GC makes each
      // row's in-suite seconds match its isolated seconds.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // broadcast blocks are NOT RDDs: their cleanup rides the async
      // ContextCleaner, and after ~160 queries the accumulated blocks
      // inflated the heavy dedup rows 1.4-4x vs isolated (r9-r11
      // adjudications). Drop them synchronously so in-suite == isolated.
      try org.apache.spark.graftbench.BroadcastDrain.drain(spark.sparkContext)
      catch { case _: Throwable => }
      System.gc()
      name -> timeRow(fn, spark, sfDir)
    }
    val first = pass()
    val second = pass()
    // a row that threw in either pass is an error, not a timing
    val errors = first.keys.flatMap(k =>
      first(k).left.toOption.orElse(second(k).left.toOption).map(k -> _)).toMap
    val results =
      for ((k, Right(a)) <- first; b <- second(k).toOption) yield k -> math.min(a, b)
    def jsonMap(m: Map[String, String]): String =
      m.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val qs = jsonMap(results.map { case (k, v) => k -> v.toString })
    val errs = jsonMap(errors.map { case (k, v) => k -> s"\"$v\"" })
    val total = results.values.sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","loadavg_start":$loadAvg}"""
    println(line)
    // also persist the full line as an artifact: the driver's log capture
    // keeps only the stdout tail, which truncated 24 per-query rows from
    // BENCH_r05 — the file is the durable copy of the same JSON.
    // bench.json is the SCORED artifact (solo sf0.1): an ad-hoc run at
    // any other scale lands in bench_adhoc.json unless the caller
    // explicitly routes it — an sf0.01 debug run and an interleaved
    // re-run have each clobbered the scored file in past rounds
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .getOrElse(artifactFor(sfDir, cpus))
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}") }
    // compact summary as the FINAL stdout line: at 199 queries the full
    // contract line above is ~7 kB and the driver keeps only a ~2 kB
    // stdout tail, so its start (the {"metric"... prefix) was truncated
    // away and PERF had no parseable bench for two rounds. This line is
    // ~200 bytes — it always survives the tail — and names the artifact
    // that holds the full per-query map.
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"sf":"$sfDir","cpus":$cpus,"loadavg_start":$loadAvg,"artifact":"$out"}"""
    println(summary)
    spark.stop()
  }
}
