package perfbench

import scala.collection.mutable

import graft.dedup.{Dedup, SignatureStore}
import graft.lagops._
import graft.simops.{Similarity, VectorIndexStore}
import graft.textops.TextOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One named workload: seeded inputs, a pipeline pass run identically
  * again and again, and the output checks run once after the timed passes.
  */
trait Workload {
  /** Write the seeded inputs. Set-up repeats this; it must overwrite. */
  def generate(): Unit
  /** Untimed passes before the timed ones. A fixed count, set from where
    * measured pass times level off (perfbench/METRICS.md).
    */
  def warmupPasses: Int
  /** One-off work between generation and the first pass. */
  def prepare(ops: Ops): Unit = ()
  /** Untimed per-pass input preparation. */
  def beforePass(pass: Int): Unit = ()
  /** One pipeline pass; returns the input rows it processed. */
  def pass(pass: Int, ops: Ops): Long
  /** Run the output checks; returns the measured quality numbers. */
  def checks(ops: Ops): Map[String, Double]
  /** Facts about the generated inputs, printed with the metrics. */
  def inputs(): Map[String, Any]
  /** Ratios reported with the per-layer metrics of a traced run. */
  def ratios(): Map[String, Double] = Map.empty
}

object Workload {
  val Layers: Seq[String] = Seq("lagops", "textops", "dedup", "simops")

  def apply(name: String, spark: SparkSession, gen: Gen, dir: String,
            seed: Long): Workload = name match {
    case "lag_features" => new LagFeatures(spark, gen, dir, seed)
    case "ingest_update" => new IngestUpdate(spark, gen, dir, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Order-independent digest of a frame: row count and a sum of row hashes. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.select(count(lit(1)),
      sum(pmod(xxhash64(cols.map(col): _*), lit(1L << 31)))).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Distinct word 3-grams, as the dedup operators shingle. */
  def shingles(text: String): Set[String] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < 3) Set(toks.mkString(" "))
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size
}

/** The paper's own surface: lag matrices and window features over a
  * Zipfian multi-series event stream, plus the global-order distributed lag.
  */
final class LagFeatures(spark: SparkSession, gen: Gen, dir: String, seed: Long)
    extends Workload {
  val nEvents = 100000L
  val nSeries = 5000L
  val nullPct = 5
  private val lags = 0 to 8
  private val path = s"$dir/events"
  private val spec2d = LagSpec(orderCols = Seq("ts", "event_id"),
    seriesCols = Seq("series_id"), lags = lags, fill = Some(0.0))
  private val spec1d = spec2d.copy(seriesCols = Nil)
  private def events = spark.read.parquet(path)
  val warmupPasses = 3

  def generate(): Unit =
    gen.events(nEvents, nSeries, nullPct).write.mode("overwrite").parquet(path)

  def pass(p: Int, ops: Ops): Long = {
    val ev = events
    ops.run("lagops", "LagMatrix.wide")(LagMatrix.wide(ev, "value", spec2d))
    ops.run("lagops", "Rolling.over")(Rolling.over(ev, "value", spec2d, 8))
    ops.run("lagops", "Ffill.over")(Ffill.over(ev, "value", spec2d))
    ops.run("lagops", "DistributedLag.wide")(
      DistributedLag.wide(ev, "value", spec1d))
    nEvents
  }

  def checks(ops: Ops): Map[String, Double] = {
    val ev = events
    ops.check("value_lag_k") {
      // independent reference: row_number per series, self-joined k back
      val sampled = pmod(xxhash64(lit("sample"), lit(seed), col("series_id")),
        lit(500)) === 0 || col("series_id") === 1
      val rn = ev.filter(sampled).withColumn("rn", row_number().over(
        Window.partitionBy("series_id").orderBy("ts", "event_id")))
      val want = rn.select(col("series_id"), col("event_id"), col("rn"))
        .crossJoin(spark.range(0, lags.size).select(col("id").cast("int").as("k")))
        .join(rn.select(col("series_id").as("s2"), col("rn").as("rn2"),
          col("value").as("v2")),
          col("s2") === col("series_id") && col("rn2") === col("rn") - col("k"),
          "left")
        .select(col("event_id"), col("k"),
          when(col("rn") - col("k") < 1, lit(0.0)).otherwise(col("v2")).as("want"))
      val got = LagMatrix.wide(ev, "value", spec2d).filter(sampled)
        .select(col("event_id"), explode(array(lags.map(k => struct(
          lit(k).as("k"), col(LagMatrix.lagName("value", k)).as("got"))): _*))
          .as("e"))
        .select(col("event_id"), col("e.k").as("k"), col("e.got").as("got"))
      val n = want.count()
      val bad = want.join(got, Seq("event_id", "k"), "full_outer")
        .filter(!(col("want") <=> col("got"))).count()
      (bad == 0 && n > 0, s"$bad of $n sampled (event, lag) cells differ")
    }
    ops.check("distributed_lag_equals_single_partition") {
      val cols = Seq("ts", "event_id") ++ lags.map(LagMatrix.lagName("value", _))
      val d = Workload.digest(DistributedLag.wide(ev, "value", spec1d), cols)
      val s = Workload.digest(LagMatrix.wide(ev, "value", spec1d), cols)
      (d == s && d._1 == nEvents, s"distributed $d vs single-partition $s")
    }
    // Ewma.over is left out of the workload: on a series whose first value
    // is null its weight sum is 0, and the unguarded division throws
    // DIVIDE_BY_ZERO under ANSI mode. This probe is not an op of the
    // workload; it reports whether the defect still stands (1 = throws),
    // so that Ewma.over can join the pass once the library is fixed.
    val ewmaThrows =
      try { Ewma.over(ev, "value", spec2d, 0.3, 12).queryExecution.toRdd.count(); 0.0 }
      catch { case _: ArithmeticException => 1.0 }
    Map("known_defect.ewma_over_throws" -> ewmaThrows)
  }

  def inputs(): Map[String, Any] = {
    val perSeries = events.groupBy("series_id").count()
    val r = perSeries.agg(count(lit(1)), max("count")).head
    val nulls = events.filter(col("value").isNull).count()
    Json.obj("events" -> nEvents, "series_drawn_from" -> nSeries,
      "series_present" -> r.getLong(0),
      "hot_series_share" -> r.getLong(1).toDouble / nEvents,
      "null_value_share" -> nulls.toDouble / nEvents, "lags" -> "0..8")
  }
}

/** One ingest step of a document pipeline, repeated per increment: a
  * quality gate and in-batch dedup of the increment (textops, dedup
  * kernels, LSH band shuffles), then dedup against a persisted signature
  * store and top-k against a persisted ANN store, both read back from
  * parquet, with the accepted rows appended to a per-pass delta directory
  * (writes beside reads, bound by per-job latency and store I/O).
  */
final class IngestUpdate(spark: SparkSession, gen: Gen, dir: String, seed: Long)
    extends Workload {
  import spark.implicits._

  val nBase = 5000L
  val nVec = 1500L
  val incDocs = 2000L
  val incVecs = 1000L
  val kNN = 10
  val threshold = 0.5
  val warmupPasses = 2
  /** The stored probe's tested recall floor (EmbedStoreSpec, recall@5). */
  val annRecallFloor = 0.2
  private val sigDir = s"$dir/stores/signatures"
  private val vecDir = s"$dir/stores/vectors"
  private def incDir(p: Int) = s"$dir/inc/$p"
  private def deltaDir(p: Int) = s"$dir/delta/$p"
  private def baseDocs = spark.read.parquet(s"$dir/base_docs")
  private def baseVecs = spark.read.parquet(s"$dir/base_vecs")
  private def increment(p: Int) =
    spark.read.parquet(s"${incDir(p)}/docs").select("doc_id", "text")
  /** (probed docs, accepted docs, probed vectors, accepted vectors) per pass */
  private val counts = mutable.Map[Int, (Long, Long, Long, Long)]()
  /** The last pass's id, store decisions and top-k frame, for the checks. */
  private var last: Option[(Int, Array[Row], DataFrame)] = None

  private def minhash(d: DataFrame) =
    Dedup.minhashLsh(d, "doc_id", "text", threshold = threshold)
  private def ngram(d: DataFrame) =
    Dedup.ngramJaccardSortedPrefix(d, "doc_id", "text", threshold = threshold)

  def generate(): Unit = {
    gen.corpus(nBase).write.mode("overwrite").parquet(s"$dir/base_docs")
    gen.vectors(nVec).write.mode("overwrite").parquet(s"$dir/base_vecs")
  }

  override def prepare(ops: Ops): Unit = {
    val sig = ops.call("dedup", "SignatureStore.build")(
      SignatureStore.build(baseDocs, "doc_id", "text"))
    ops.write("dedup", "SignatureStore.write")(SignatureStore.write(sig, sigDir))
    val vix = ops.call("simops", "VectorIndexStore.build")(
      VectorIndexStore.build(baseVecs, "vec_id", "embedding"))
    ops.write("simops", "VectorIndexStore.write")(VectorIndexStore.write(vix, vecDir))
  }

  override def beforePass(p: Int): Unit = {
    val inc = gen.increment(nBase, nVec, p, incDocs)
    inc.write.mode("overwrite").parquet(s"${incDir(p)}/docs")
    gen.incrementVectors(inc, nBase, p, incVecs)
      .write.mode("overwrite").parquet(s"${incDir(p)}/vecs")
  }

  def pass(p: Int, ops: Ops): Long = {
    val inc = increment(p)
    // quality gate and in-batch dedup; each step reads the whole increment
    ops.run("textops", "TextOps.textStats")(TextOps.textStats(inc, "doc_id", "text"))
    ops.run("textops", "TextOps.qualityFilter")(
      TextOps.qualityFilter(inc, "doc_id", "text"))
    ops.run("dedup", "Dedup.exact")(Dedup.exact(inc, "doc_id", "text"))
    val pairs = ops.call("dedup", "Dedup.minhashLsh")(minhash(inc))
    ops.drain("dedup", "Dedup.minhashLsh", pairs)
    ops.run("dedup", "Dedup.ngramJaccardSortedPrefix")(ngram(inc))
    ops.run("dedup", "Dedup.clusters")(Dedup.clusters(pairs))

    // dedup against the persisted corpus, append the accepted docs
    val sig = ops.call("dedup", "SignatureStore.read")(
      SignatureStore.read(spark, sigDir))
    val decided = ops.collect("dedup", "Dedup.minhashIncrementalStored",
      ops.call("dedup", "Dedup.minhashIncrementalStored")(
        Dedup.minhashIncrementalStored(inc, sig, "doc_id", "text")))
    val accepted = decided.filter(_.getAs[Boolean]("is_new"))
      .map(_.getAs[Long]("doc_id"))
    val accIds = accepted.toSeq.toDF("doc_id")
    val incStore = ops.call("dedup", "SignatureStore.build")(
      SignatureStore.build(inc.join(broadcast(accIds), "doc_id"), "doc_id", "text"))
    ops.write("dedup", "SignatureStore.appendWrite")(
      SignatureStore.appendWrite(incStore, s"${deltaDir(p)}/signatures"))

    // serve top-k for the increment's vectors, append the accepted ones
    val vix = ops.call("simops", "VectorIndexStore.read")(
      VectorIndexStore.read(spark, vecDir))
    val queries = spark.read.parquet(s"${incDir(p)}/vecs")
    val nn = ops.call("simops", "VectorIndexStore.topK")(
      VectorIndexStore.topK(queries, vix, "vec_id", "embedding", kNN))
    ops.drain("simops", "VectorIndexStore.topK", nn)
    val accVecs = queries.join(
      broadcast(accIds.withColumnRenamed("doc_id", "vec_id")), "vec_id")
    val encoded = ops.call("simops", "VectorIndexStore.encode")(
      VectorIndexStore.encode(accVecs, "vec_id", "embedding", vix))
    ops.write("simops", "VectorIndexStore.appendWrite")(
      VectorIndexStore.appendWrite(encoded, s"${deltaDir(p)}/vectors"))

    val vecEnd = Gen.incrementStart(nBase, p) + incVecs
    counts(p) = (decided.length.toLong, accepted.length.toLong, incVecs,
      accepted.count(_ < vecEnd).toLong)
    last = Some((p, decided, nn))
    incDocs + incVecs
  }

  /** Checks run on the increment and outputs of the last timed pass. */
  def checks(ops: Ops): Map[String, Double] = {
    val quality = mutable.Map[String, Double]()
    val (p, decided, nn) = last.getOrElse((-1, Array.empty[Row], null))
    val truth = if (p < 0) Array.empty[Row]
      else spark.read.parquet(s"${incDir(p)}/docs")
        .select("doc_id", "src", "peer", "peer_kind").collect()
    val peers = truth.filterNot(_.isNullAt(2))
      .map(r => ((r.getLong(0), r.getLong(2)), r.getString(3)))
    val peerPairs = peers.map(_._1).toSet
    val inc = increment(p)

    ops.check("exact_copies_found") {
      val dupKeeps = Dedup.exact(inc, "doc_id", "text")
        .filter(col("dup_count") >= 2).select("keep_id").as[Long].collect().toSet
      val exact = peers.filter(_._2 == "exact")
      val missing = exact.count(e => !dupKeeps(e._1._1))
      (exact.nonEmpty && missing == 0,
        s"$missing of ${exact.length} planted exact copies missing from the duplicate set")
    }
    val found = Seq("minhashLsh" -> minhash(inc), "ngramJaccardSortedPrefix" -> ngram(inc))
      .map { case (op, df) =>
        op -> df.select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
          .collect().map(r => (r._1, r._2) -> r._3).toMap
      }.toMap
    // Planted pairs share >= 18/19 of their shingles. The n-gram join is
    // exact, so it must find all of them. LSH is approximate: the library
    // sizes its bands for >= 90% recall of a pair AT the threshold
    // (DedupSpec, scaledBandGeometry), which bounds recall above it too.
    val floors = Map("minhashLsh" -> 0.9, "ngramJaccardSortedPrefix" -> 1.0)
    for ((op, pairs) <- found) ops.check(s"dup_recall.$op") {
      val hit = (peerPairs intersect pairs.keySet).size
      val recall = if (peerPairs.isEmpty) 0.0 else hit.toDouble / peerPairs.size
      quality(s"dup_recall.$op") = recall
      (recall >= floors(op), s"$hit of ${peerPairs.size} planted pairs found")
    }
    ops.check("reported_pairs_meet_threshold") {
      val ids = found.values.flatMap(_.keys).flatMap(q => Seq(q._1, q._2)).toSeq.distinct
      val sh = inc.join(ids.toDF("doc_id"), "doc_id").as[(Long, String)].collect()
        .map(r => r._1 -> Workload.shingles(r._2)).toMap
      val bad = for ((op, pairs) <- found.toSeq; ((a, b), j) <- pairs
                     if { val t = Workload.jaccard(sh(a), sh(b))
                          t < threshold - 1e-9 || math.abs(t - j) > 1e-5 })
        yield s"$op($a,$b)=$j"
      (bad.isEmpty, s"${bad.size} of ${found.values.map(_.size).sum} reported " +
        s"pairs below threshold or mis-scored ${bad.take(3).mkString(" ")}")
    }
    ops.check("clusters_join_pair_members") {
      val pairs = found("minhashLsh").keys.toSeq
      val cl = Dedup.clusters(pairs.toDF("doc_a", "doc_b"))
        .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
      val split = pairs.count { case (a, b) => cl.get(a).isEmpty || cl.get(a) != cl.get(b) }
      (split == 0, s"$split minhash pairs whose members sit in different clusters")
    }

    val isNew = decided.map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_new")).toMap
    val copies = truth.filterNot(_.isNullAt(1)).map(_.getLong(0))
    val rejected = copies.count(id => !isNew.getOrElse(id, true))
    quality("dup_recall.minhashIncrementalStored") =
      if (copies.isEmpty) 0.0 else rejected.toDouble / copies.length
    ops.check("base_near_copies_rejected") {
      // the same LSH recall contract as above
      (copies.nonEmpty && rejected >= 0.9 * copies.length,
        s"$rejected of ${copies.length} planted copies of base docs rejected")
    }
    ops.check("fresh_docs_accepted") {
      // in-batch copies included: the stored probe compares against the
      // store, not within the increment
      val fresh = truth.filter(_.isNullAt(1)).map(_.getLong(0))
      val dropped = fresh.count(id => !isNew.getOrElse(id, false))
      (fresh.nonEmpty && dropped == 0, s"$dropped of ${fresh.length} fresh docs rejected")
    }
    ops.check("delta_holds_accepted_rows") {
      val (_, accDocs, _, accV) = counts(p)
      val sigRows = SignatureStore.read(spark, s"${deltaDir(p)}/signatures")
        .shingleHashes.select("doc_id").distinct().count()
      val vecRows = spark.read.parquet(s"${deltaDir(p)}/vectors/codes").count()
      (sigRows == accDocs && vecRows == accV,
        s"delta: $sigRows signature docs for $accDocs accepted, $vecRows codes for $accV")
    }
    ops.check("ann_recall") {
      // exact reference on a hash-sampled fifth of the query vectors
      val probe = spark.read.parquet(s"${incDir(p)}/vecs")
        .filter(pmod(xxhash64(lit("probe"), lit(seed), col("vec_id")), lit(5)) === 0)
      val exact = Similarity.bruteForceTopK(probe, baseVecs, "vec_id", "embedding", kNN)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val queries = exact.map(_._1)
      val approx = nn.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .filter(q => queries(q._1)).toSet
      val recall = (exact intersect approx).size.toDouble / (queries.size * kNN)
      quality("ann_recall") = recall
      (queries.nonEmpty && recall >= annRecallFloor,
        f"recall@$kNN $recall%.4f over ${queries.size} probe queries, floor $annRecallFloor")
    }
    // fixed by the planted copies, not by speed: reported, not gated
    val timed = counts.filter(_._1 > 0).values
    def ratio(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
    quality("dedup.accept_ratio") = ratio(timed.map(_._2).sum, timed.map(_._1).sum)
    quality("simops.accept_ratio") = ratio(timed.map(_._4).sum, timed.map(_._3).sum)
    quality.toMap
  }

  def inputs(): Map[String, Any] = Json.obj("base_docs" -> nBase,
    "base_vectors" -> nVec, "increment_docs" -> incDocs,
    "increment_vectors" -> incVecs, "knn" -> kNN, "jaccard_threshold" -> threshold,
    "planted_pairs_in_base" -> gen.corpusPairs(nBase).count(),
    "planted_per_increment" -> last.map { case (p, _, _) =>
      spark.read.parquet(s"${incDir(p)}/docs")
        .select(count(col("src")).as("base_copies"),
          count(when(col("peer_kind") === "near", 1)).as("near_peer_copies"),
          count(when(col("peer_kind") === "exact", 1)).as("exact_peer_copies"))
        .as[(Long, Long, Long)].head
    }.map(t => Json.obj("base_copies" -> t._1, "near_peer_copies" -> t._2,
      "exact_peer_copies" -> t._3)).getOrElse(Json.obj()))

  override def ratios(): Map[String, Double] = {
    val audit = Dedup.lshCapAudit(baseDocs, "doc_id", "text")
      .agg(sum("keys_dropped")).head
    Map(
      // banded keys = docs x 8 bands at the default geometry
      "dedup.lsh_keys_dropped" ->
        (if (audit.isNullAt(0)) 0.0 else audit.getLong(0).toDouble / (nBase * 8)))
  }
}
