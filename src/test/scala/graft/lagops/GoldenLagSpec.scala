package graft.lagops

import graft.TestSpark
import graft.TestSpark.{INF, seriesDf, seriesDf2}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Golden ports of the reference's unit tests (FIXTURES.md §A), re-expressed
  * over DataFrames. The reference emits a lag-major matrix; our wide format
  * is its transpose (rows = time, cols = lags) — each fixture's literal
  * matrix below is the reference matrix read column-wise.
  *
  * Stride fixtures (G3/G4, reference src/lib.rs:867-923) only differ in
  * physical padding, which has no logical meaning in a DataFrame
  * (SURVEY.md §2.2); the G3/G4 test below ports their literal strided
  * buffers anyway and pins that the NON-PAD cells equal our wide output
  * under the documented mapping (strip each stride-row's pad tail,
  * transpose lag-major → time-major) — for every stride.
  */
class GoldenLagSpec extends AnyFunSuite {
  private def collectWide(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy("t").collect().toSeq.map(_.toSeq)

  // G1: reference src/lib.rs:810-838 — [42,40,38,36], lags 0..=3, fill INF
  test("G1 packed 1-D lag matrix, fill = +inf") {
    val out = LagMatrix.wide(seriesDf(Seq(42, 40, 38, 36)), "value",
      LagSpec(Seq("t"), Nil, Seq(0, 1, 2, 3), Some(INF)))
    assert(out.columns.toSeq ==
      Seq("t", "value", "value_lag_1", "value_lag_2", "value_lag_3"))
    assert(collectWide(out) == Seq(
      Seq(0L, 42.0, INF, INF, INF),
      Seq(1L, 40.0, 42.0, INF, INF),
      Seq(2L, 38.0, 40.0, 42.0, INF),
      Seq(3L, 36.0, 38.0, 40.0, 42.0)))
  }

  // G2: reference src/lib.rs:840-865 — arbitrary lag order [1,3,2]
  test("G2 arbitrary lag order preserved in column order") {
    val out = LagMatrix.wide(seriesDf(Seq(42, 40, 38, 36)), "value",
      LagSpec(Seq("t"), Nil, Seq(1, 3, 2), Some(INF)))
    assert(out.columns.toSeq ==
      Seq("t", "value_lag_1", "value_lag_3", "value_lag_2"))
    assert(collectWide(out) == Seq(
      Seq(0L, INF, INF, INF),
      Seq(1L, 42.0, INF, INF),
      Seq(2L, 40.0, INF, 42.0),
      Seq(3L, 38.0, 42.0, 40.0)))
  }

  // G3/G4: reference src/lib.rs:867-894 (stride 5) and :896-923
  // (stride 8) — the reference's strided output buffers, embedded
  // literally (pad = INF like the fill, exactly as the reference writes
  // them). Stride only inserts physical pad cells, so stripping each
  // stride-row to its num_cols logical cells must yield the SAME matrix
  // for every stride, and that matrix (transposed: the reference is
  // lag-major, our wide rows are time-major) must equal our wide output.
  test("G3/G4 strided buffers reduce to the wide output for every stride") {
    val lag = INF; val padding = INF
    val strided = Seq(
      5 -> Seq(
        42.0, 40.0, 38.0, 36.0, padding,
        lag, 42.0, 40.0, 38.0, padding,
        lag, lag, 42.0, 40.0, padding,
        lag, lag, lag, 42.0, padding),
      8 -> Seq(
        42.0, 40.0, 38.0, 36.0, padding, padding, padding, padding,
        lag, 42.0, 40.0, 38.0, padding, padding, padding, padding,
        lag, lag, 42.0, 40.0, padding, padding, padding, padding,
        lag, lag, lag, 42.0, padding, padding, padding, padding))
    val out = LagMatrix.wide(seriesDf(Seq(42, 40, 38, 36)), "value",
      LagSpec(Seq("t"), Nil, Seq(0, 1, 2, 3), Some(INF)))
    val ours = collectWide(out).map(_.drop(1)) // drop the t key
    for ((stride, buf) <- strided) {
      val logical = buf.grouped(stride).map(_.take(4)).toSeq
      assert(logical.transpose == ours, s"stride=$stride")
    }
  }

  // G9: reference doctest src/lib.rs:24-39 — [1,2,3,4], lags 0..=3
  test("G9 doctest series") {
    val out = LagMatrix.wide(seriesDf(Seq(1, 2, 3, 4)), "value",
      LagSpec(Seq("t"), Nil, Seq(0, 1, 2, 3), Some(INF)))
    assert(collectWide(out) == Seq(
      Seq(0L, 1.0, INF, INF, INF),
      Seq(1L, 2.0, 1.0, INF, INF),
      Seq(2L, 3.0, 2.0, 1.0, INF),
      Seq(3L, 4.0, 3.0, 2.0, 1.0)))
  }

  // G5/G7: reference src/lib.rs:925-961 (row-major) and :999-1039
  // (column-major) — both layouts normalize to the same long-format input
  // (SURVEY.md §1.1), so one fixture pins both.
  test("G5/G7 two-series lag matrix, partition isolation") {
    val df = seriesDf2(Map(
      "s0" -> Seq(1, 2, 3, 4), "s1" -> Seq(-1, -2, -3, -4)))
    val out = LagMatrix.wide(df, "value",
      LagSpec(Seq("t"), Seq("series_id"), Seq(0, 1, 2, 3), Some(INF)))
    val rows = out.orderBy("series_id", "t").collect().toSeq.map(_.toSeq)
    assert(rows == Seq(
      Seq("s0", 0L, 1.0, INF, INF, INF),
      Seq("s0", 1L, 2.0, 1.0, INF, INF),
      Seq("s0", 2L, 3.0, 2.0, 1.0, INF),
      Seq("s0", 3L, 4.0, 3.0, 2.0, 1.0),
      Seq("s1", 0L, -1.0, INF, INF, INF),
      Seq("s1", 1L, -2.0, -1.0, INF, INF),
      Seq("s1", 2L, -3.0, -2.0, -1.0, INF),
      Seq("s1", 3L, -4.0, -3.0, -2.0, -1.0)))
  }

  // G6/G8: arbitrary order in 2-D (reference src/lib.rs:963-997, :1041-1075)
  test("G6/G8 two-series arbitrary lag order [1,3,2]") {
    val df = seriesDf2(Map(
      "s0" -> Seq(1, 2, 3, 4), "s1" -> Seq(-1, -2, -3, -4)))
    val out = LagMatrix.wide(df, "value",
      LagSpec(Seq("t"), Seq("series_id"), Seq(1, 3, 2), Some(INF)))
    assert(out.columns.toSeq ==
      Seq("series_id", "t", "value_lag_1", "value_lag_3", "value_lag_2"))
    val s1 = out.filter(out("series_id") === "s1")
      .orderBy("t").collect().toSeq.map(_.toSeq)
    assert(s1 == Seq(
      Seq("s1", 0L, INF, INF, INF),
      Seq("s1", 1L, -1.0, INF, INF),
      Seq("s1", 2L, -2.0, INF, -1.0),
      Seq("s1", 3L, -3.0, -1.0, -2.0)))
  }

  // Reference row ordering: 2-D RowMajor output is lag-major then series
  // (src/lib.rs:699-710). Long format + ORDER BY (lag, series_id, t)
  // reproduces that exact traversal.
  test("long format reproduces reference lag-major row order") {
    val df = seriesDf2(Map("s0" -> Seq(1, 2), "s1" -> Seq(-1, -2)))
    val out = LagMatrix.long(df, "value",
      LagSpec(Seq("t"), Seq("series_id"), Seq(0, 1), Some(INF)))
    val flat = out.orderBy("lag", "series_id", "t")
      .select("value").collect().toSeq.map(_.getDouble(0))
    // (lag0,s0)=1,2 (lag0,s1)=-1,-2 (lag1,s0)=INF,1 (lag1,s1)=INF,-1
    assert(flat == Seq(1.0, 2.0, -1.0, -2.0, INF, 1.0, INF, -1.0))
  }

  // Reference preserves caller lag order INCLUDING duplicates
  // (src/lib.rs:518 `lags.into_iter().enumerate()`, order pinned by
  // test_lag_2 src/lib.rs:840-865). Wide format dedupes by necessity
  // (duplicate column names); long format carries them, disambiguated
  // by the caller-position column.
  test("long format preserves duplicate lags in caller order") {
    val out = LagMatrix.long(seriesDf(Seq(42, 40, 38, 36)), "value",
      LagSpec(Seq("t"), Nil, Seq(1, 3, 2, 1), Some(INF)), posCol = Some("pos"))
    val flat = out.orderBy("pos", "t")
      .select("pos", "lag", "value").collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val lag1 = Seq(INF, 42.0, 40.0, 38.0)
    val lag3 = Seq(INF, INF, INF, 42.0)
    val lag2 = Seq(INF, INF, 42.0, 40.0)
    val expect =
      lag1.zipWithIndex.map { case (v, _) => (0, 1, v) } ++
      lag3.map(v => (1, 3, v)) ++
      lag2.map(v => (2, 2, v)) ++
      lag1.map(v => (3, 1, v))
    assert(flat == expect)
  }

  test("NULL fill twin: heads are SQL NULL") {
    val out = LagMatrix.wide(seriesDf(Seq(42, 40, 38, 36)), "value",
      LagSpec(Seq("t"), Nil, Seq(2), None))
    val rows = out.orderBy("t").collect().toSeq
    assert(rows.take(2).forall(_.isNullAt(1)))
    assert(rows(2).getDouble(1) == 42.0 && rows(3).getDouble(1) == 40.0)
  }

  test("lead mirrors lag (negative-lag gap, SURVEY §7.3)") {
    val out = Lead.wide(seriesDf(Seq(1, 2, 3, 4)), "value",
      LagSpec(Seq("t"), Nil, Seq(1), None))
    val vals = out.orderBy("t").collect().toSeq
      .map(r => if (r.isNullAt(1)) null else r.getDouble(1))
    assert(vals == Seq(2.0, 3.0, 4.0, null))
  }

  test("rolling agg over window machinery") {
    val out = Rolling.over(seriesDf(Seq(1, 2, 3, 4)), "value",
      LagSpec(Seq("t"), Nil, Seq(1)), 2)
    val sums = out.orderBy("t").select("value_roll_sum_2")
      .collect().toSeq.map(_.getDouble(0))
    assert(sums == Seq(1.0, 3.0, 5.0, 7.0))
  }

  test("ewma: adjust-normalized weighted lags, by hand, one Window pass") {
    // alpha=0.5, W=3 over [1,2,4]: weights 1, .5, .25
    //   t0: 1
    //   t1: (2 + .5*1)        / 1.5  = 5/3
    //   t2: (4 + .5*2 + .25*1)/ 1.75 = 3
    val df = seriesDf(Seq(1, 2, 4))
    // window=3 at alpha=0.5 drops 12.5% tail mass — deliberately
    // aggressive truncation for a hand-checkable fixture, so the
    // tail-mass guard is raised explicitly
    val out = Ewma.over(df, "value",
      LagSpec(Seq("t"), Nil, Seq(1), None), alpha = 0.5, window = 3,
      maxTailMass = 0.2)
    val vals = out.orderBy("t").select("value_ewma")
      .collect().toSeq.map(_.getDouble(0))
    assert(vals == Seq(1.0, BigDecimal(5.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 3.0))
    // the lag-matrix planner property: all W weighted lag terms
    // collapse into ONE Window operator
    val p = out.queryExecution.executedPlan.toString
    assert(p.linesIterator.count(
      _.matches(".*(\\*\\(\\d+\\) )?Window( |\\[).*")) == 1, p)

    // a leading null: no term exists at t0 (zero denominator) ⇒ NULL,
    // the oracle's x / 0.0; alpha=0.5, W=3 over [null, 2, 4]:
    //   t0: null   t1: 2 / 1 = 2   t2: (4 + .5*2) / 1.5 = 10/3
    val s = TestSpark.spark
    import s.implicits._
    val gapped = Seq((0L, None), (1L, Some(2.0)), (2L, Some(4.0)))
      .toDF("t", "value")
    val gappedVals = Ewma.over(gapped, "value",
        LagSpec(Seq("t"), Nil, Seq(1), None), alpha = 0.5, window = 3,
        maxTailMass = 0.2)
      .orderBy("t").select("value_ewma").collect().toSeq
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(gappedVals == Seq(None, Some(2.0), Some(BigDecimal(10.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("ewma: rejects a window that drops non-negligible tail mass") {
    // W=4 at alpha=0.05 keeps only ~19% of the exponential mass —
    // the silently-wrong parameterization the guard exists to catch
    val ex = intercept[IllegalArgumentException] {
      Ewma.over(seriesDf(Seq(1, 2, 3)), "value",
        LagSpec(Seq("t"), Nil, Seq(1), None), alpha = 0.05, window = 4)
    }
    assert(ex.getMessage.contains("exponential mass"), ex.getMessage)
    // the same parameters pass when the caller raises the ceiling
    Ewma.over(seriesDf(Seq(1, 2, 3)), "value",
      LagSpec(Seq("t"), Nil, Seq(1), None), alpha = 0.05, window = 4,
      maxTailMass = 1.0).collect()
  }

  test("ffill: interior gaps take the last observation, leading gaps stay null") {
    val s = TestSpark.spark
    import s.implicits._
    // t: 0    1     2     3     4
    // v: null 1.0   null  null  4.0
    val df = Seq((0L, None), (1L, Some(1.0)), (2L, None), (3L, None),
      (4L, Some(4.0))).toDF("t", "value")
    val out = Ffill.over(df, "value", LagSpec(Seq("t"), Nil, Seq(1), None))
      .orderBy("t").select("value_ffill")
      .collect().toSeq.map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out == Seq(None, Some(1.0), Some(1.0), Some(1.0), Some(4.0)))
  }
}
