package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every draw is `xxhash64(salt, seed, row id, ...)`,
  * so a table is a pure function of (seed, row id): the same seed gives the
  * same rows at any partitioning, and generation runs as ordinary Spark
  * projections over `spark.range`.
  *
  * Planted structure (the ground truth the output checks compare against)
  * comes out of the same column expressions as the rows themselves, so the
  * checks and the data can never disagree about what was planted.
  */
final class Gen(spark: SparkSession, seed: Long, parts: Int) {
  import Gen._

  private def h(salt: String, cs: Column*): Column =
    xxhash64((lit(salt) +: lit(seed) +: cs): _*)
  /** Uniform draw in [0, 1). */
  private def unif(salt: String, cs: Column*): Column =
    pmod(h(salt, cs: _*), lit(1L << 30)) / (1L << 30).toDouble
  private def below(salt: String, mod: Long, cs: Column*): Column =
    pmod(h(salt, cs: _*), lit(mod))
  /** Zipf(s=1) rank in [1, n]: floor((n+1)^u), P(r) ∝ ln((r+1)/r). */
  private def zipfRank(n: Long, salt: String, cs: Column*): Column =
    floor(pow(lit((n + 1).toDouble), unif(salt, cs: _*))).cast("long")

  // ---- events (lag_features) ----------------------------------------

  /** `(series_id, ts, event_id, value)`: Zipfian series sizes (series 1 is
    * the hot one), unique µs timestamps (an odd-multiplier bijection of the
    * row id mod 2^41), and `nullPct`% null values so forward-fill has gaps
    * to fill. The timestamps do not depend on the seed: their order drives
    * the cost of the global sort, and a seed should change the data, not
    * the work.
    */
  def events(n: Long, nSeries: Long, nullPct: Int): DataFrame = {
    val slot = (col("id") * lit(2654435761L)).bitwiseAND(lit(TsMask))
    spark.range(0, n, 1, parts).select(
      zipfRank(nSeries, "series", col("id")).as("series_id"),
      (lit(BaseTsUs) + slot).as("ts"),
      col("id").as("event_id"),
      when(below("null", 100, col("id")) < nullPct, lit(null).cast("double"))
        .otherwise(below("value", 100000, col("id")) / 1000.0).as("value"))
  }

  // ---- documents (ingest_update) ------------------------------------

  /** Token-soup text of 20–75 Zipfian tokens drawn from `tseed`: ranks
    * 1–10 are English stopwords (so the quality filter's stopword rule
    * has signal), deeper ranks are `tok<rank>` up to rank 4000.
    */
  private def text(tseed: Column, extra: Column, more: Column): Column = {
    val toks = transform(
      sequence(lit(1), (below("len", 56, tseed) + 20).cast("int")),
      i => {
        val r = zipfRank(Vocab - 1, "tok", tseed, i)
        when(r <= Head.length, element_at(HeadLit, r.cast("int")))
          .otherwise(concat(lit("tok"), r.cast("string")))
      })
    concat(array_join(toks, " "),
      when(extra, lit(" extra")).otherwise(lit("")),
      when(more, lit(" more")).otherwise(lit("")))
  }

  /** Base-corpus planting, as in ScaleGen: a near-copy site (every 97th id)
    * takes its right neighbour's tokens plus one token; an exact-copy site
    * (every 131st id) takes the tokens of id+2. A site whose source is
    * itself a site is left fresh, so every planted pair has an unplanted
    * source and the pair is exact by construction.
    */
  private def site(id: Column): Column =
    pmod(id, lit(NearEvery)) === 0 || pmod(id, lit(ExactEvery)) === 0
  private def nearSite(id: Column, n: Long): Column =
    pmod(id, lit(NearEvery)) === 0 && !site(id + 1) && id + 1 < n
  private def exactSite(id: Column, n: Long): Column =
    pmod(id, lit(ExactEvery)) === 0 && pmod(id, lit(NearEvery)) =!= 0 &&
      !site(id + 2) && id + 2 < n
  /** Token seed of base doc `id` (its source's id at a planted site). */
  private def baseSeed(id: Column, n: Long): Column =
    when(nearSite(id, n), id + 1).when(exactSite(id, n), id + 2).otherwise(id)

  /** Base corpus `(doc_id, text)` of ids [0, n). */
  def corpus(n: Long): DataFrame =
    spark.range(0, n, 1, parts).select(col("id").as("doc_id"),
      text(baseSeed(col("id"), n), nearSite(col("id"), n), lit(false))
        .as("text"))

  /** Planted pairs `(doc_a, doc_b, kind)` of [[corpus]], doc_a < doc_b. */
  def corpusPairs(n: Long): DataFrame =
    spark.range(0, n, 1, parts)
      .filter(nearSite(col("id"), n) || exactSite(col("id"), n))
      .select(col("id").as("doc_a"), baseSeed(col("id"), n).as("doc_b"),
        when(nearSite(col("id"), n), "near").otherwise("exact").as("kind"))

  /** Increment `pass` of an ingest stream over a base corpus of `nBase`
    * docs: `size` ids from `incrementStart(nBase, pass)`. Row j is
    *  - a near-copy of a base doc among the first `nSrc` (the base text plus
    *    one token) when j % 10 == 0,
    *  - a near-copy of row j+1 (plus one token) when j % 20 == 5,
    *  - an exact copy of row j+2 when j % 31 == 7,
    * and fresh otherwise. A peer copy whose source is itself planted is left
    * fresh. Columns: `(doc_id, text, src, peer, peer_kind)`; `src` is the
    * copied base id and `peer` the copied increment id, or null.
    */
  def increment(nBase: Long, nSrc: Long, pass: Int, size: Long): DataFrame = {
    val start = incrementStart(nBase, pass)
    val id = col("id")
    def j(x: Column) = x - start
    def baseCopy(x: Column) = pmod(j(x), lit(10)) === 0
    def site(x: Column) = baseCopy(x) || pmod(j(x), lit(20)) === 5 ||
      pmod(j(x), lit(31)) === 7
    val near = pmod(j(id), lit(20)) === 5 && !site(id + 1) && j(id) + 1 < size
    val exact = pmod(j(id), lit(31)) === 7 && !baseCopy(id) &&
      pmod(j(id), lit(20)) =!= 5 && !site(id + 2) && j(id) + 2 < size
    val src = below("src", nSrc, id)
    spark.range(start, start + size, 1, parts).select(
      id.as("doc_id"),
      when(baseCopy(id), text(baseSeed(src, nBase), nearSite(src, nBase), lit(true)))
        .when(near, text(id + 1, lit(false), lit(true)))
        .when(exact, text(id + 2, lit(false), lit(false)))
        .otherwise(text(id, lit(false), lit(false))).as("text"),
      when(baseCopy(id), src).as("src"),
      when(near, id + 1).when(exact, id + 2).as("peer"),
      when(near, "near").when(exact, "exact").as("peer_kind"))
  }

  // ---- embeddings (ingest_update) -----------------------------------

  /** Raw vector in `Dim` dims near one of `Clusters` hash-placed centres. */
  private def clustered(id: Column): Column = {
    val c = below("cluster", Clusters, id)
    transform(sequence(lit(0), lit(Dim - 1)), d =>
      (unif("centre", c, d) * 2.0 - 1.0) +
        (unif("noise", id, d) * 2.0 - 1.0) * 0.5)
  }

  /** Scale the `_raw` array column of `df` to unit length as `embedding`.
    * The norm is its own column: a lambda does no common-subexpression
    * elimination, so an inline norm would be recomputed per element.
    */
  private def unitRows(df: DataFrame, idCol: String): DataFrame =
    df.withColumn("_norm", sqrt(aggregate(col("_raw"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(col(idCol), transform(col("_raw"), x => x / col("_norm"))
        .as("embedding"))

  /** Base vectors `(vec_id, embedding)`, ids [0, n): vector i embeds base
    * doc i.
    */
  def vectors(n: Long): DataFrame =
    unitRows(spark.range(0, n, 1, parts).select(col("id").as("vec_id"),
      clustered(col("id")).as("_raw")), "vec_id")

  /** The increment's vectors: the first `size` rows of an [[increment]]
    * frame, re-keyed as `vec_id`. A base-copy doc's vector is its source's
    * raw vector plus 2% jitter; every other row gets a fresh vector.
    */
  def incrementVectors(inc: DataFrame, nBase: Long, pass: Int,
                       size: Long): DataFrame =
    unitRows(inc.filter(col("doc_id") < incrementStart(nBase, pass) + size)
      .select(col("doc_id").as("vec_id"),
        when(col("src").isNotNull, zip_with(clustered(col("src")),
            transform(sequence(lit(0), lit(Dim - 1)),
              d => (unif("jitter", col("doc_id"), d) * 2.0 - 1.0) * 0.02),
            (a, b) => a + b))
          .otherwise(clustered(col("doc_id"))).as("_raw")), "vec_id")
}

object Gen {
  val BaseTsUs: Long = 1704067200000000L // 2024-01-01T00:00:00Z
  val TsMask: Long = (1L << 41) - 1
  val Vocab: Long = 4000L
  val Head: Seq[String] =
    Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was")
  private val HeadLit = array(Head.map(lit): _*)
  val NearEvery = 97
  val ExactEvery = 131
  val Dim = 64
  val Clusters = 32L

  /** First id of pass `pass`'s increment: above any base id, 2^20 apart. */
  def incrementStart(nBase: Long, pass: Int): Long = {
    require(nBase < (1L << 40), s"base corpus of $nBase docs")
    (1L << 40) + pass.toLong * (1L << 20)
  }
}
