package graft

import graft.ops.{Report1, Report1SourceCols, Report1TargetCols}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Golden-output test: the reference's canonical 9-row minute-bar fixture →
  * 3-row daily report (FIXTURES.md §1-2; reference
  * `tests/transformers/test_xetra_transformer.py:113-256`). These three rows
  * pin every quirky semantic: lag-of-opening-price under the "closing" name,
  * banker's rounding, integral volume sums, string-date filter.
  */
class Report1Spec extends SparkSpec {
  import spark.implicits._

  private val fixture = Seq(
    ("AT0000A0E9W5", "SANT", "2021-04-15", "12:00", 20.19, 18.45, 18.20, 20.33, 877L),
    ("AT0000A0E9W5", "SANT", "2021-04-16", "15:00", 18.27, 21.19, 18.27, 21.34, 987L),
    ("AT0000A0E9W5", "SANT", "2021-04-17", "13:00", 20.21, 18.27, 18.21, 20.42, 633L),
    ("AT0000A0E9W5", "SANT", "2021-04-17", "14:00", 18.27, 21.19, 18.27, 21.34, 455L),
    ("AT0000A0E9W5", "SANT", "2021-04-18", "07:00", 20.58, 19.27, 18.89, 20.58, 9066L),
    ("AT0000A0E9W5", "SANT", "2021-04-18", "08:00", 19.27, 21.14, 19.27, 21.14, 1220L),
    ("AT0000A0E9W5", "SANT", "2021-04-19", "07:00", 23.58, 23.58, 23.58, 23.58, 1035L),
    ("AT0000A0E9W5", "SANT", "2021-04-19", "08:00", 23.58, 24.22, 23.31, 24.34, 1028L),
    ("AT0000A0E9W5", "SANT", "2021-04-19", "09:00", 24.22, 22.21, 22.21, 25.01, 1523L)
  ).toDF("ISIN", "Mnemonic", "Date", "Time", "StartPrice", "EndPrice",
    "MinPrice", "MaxPrice", "TradedVolume")

  private val golden = Seq(
    Row("AT0000A0E9W5", "2021-04-17", 20.21, 18.27, 18.21, 21.34, 1088L, 10.62),
    Row("AT0000A0E9W5", "2021-04-18", 20.58, 19.27, 18.89, 21.14, 10286L, 1.83),
    Row("AT0000A0E9W5", "2021-04-19", 23.58, 24.22, 22.21, 25.01, 3586L, 14.58))

  test("9-row fixture produces the 3 golden report rows") {
    val got = Report1.transform(fixture, extractDate = "2021-04-17")
      .orderBy("ISIN", "Date").collect().toSeq
    assert(got.map(_.toSeq) == golden.map(_.toSeq))
  }

  test("output schema: names, string dates, long volume") {
    val out = Report1.transform(fixture, extractDate = "2021-04-17")
    assert(out.columns.toSeq == Seq("ISIN", "Date", "opening_price_eur",
      "closing_price_eur", "minimum_price_eur", "maximum_price_eur",
      "daily_traded_volume", "change_prev_closing_%"))
    val types = out.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("Date") == "string")
    assert(types("daily_traded_volume") == "bigint")
    assert(types("change_prev_closing_%") == "double")
  }

  test("first date per ISIN has null pct change when not filtered away") {
    val out = Report1.transform(fixture, extractDate = "2021-04-15")
    val first = out.orderBy("Date").select("change_prev_closing_%").head()
    assert(first.isNullAt(0))
  }

  test("empty input yields empty report with full schema") {
    val out = Report1.transform(fixture.limit(0), extractDate = "2021-04-17")
    assert(out.isEmpty)
    assert(out.columns.length == 8)
    def namesAndTypes(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType).toSeq
    assert(namesAndTypes(out) == namesAndTypes(
      Report1.transform(fixture, extractDate = "2021-04-17")))
  }

  test("rows with any null are dropped before aggregation") {
    val withNull = fixture.unionByName(
      Seq(("AT0000A0E9W5", null.asInstanceOf[String], "2021-04-19", "10:00",
        99999.0, 1.0, 1.0, 99999.0, 7L))
        .toDF("ISIN", "Mnemonic", "Date", "Time", "StartPrice", "EndPrice",
          "MinPrice", "MaxPrice", "TradedVolume"))
    val got = Report1.transform(withNull, extractDate = "2021-04-17")
      .orderBy("ISIN", "Date").collect().toSeq
    assert(got.map(_.toSeq) == golden.map(_.toSeq))
  }

  /** The definitional twin of the report: the reference's W1/W2 as
    * full-frame first/last windows over (ISIN, Date) by Time, then `min` of
    * those group constants in A1 — the form `Report1.transform` folds into
    * `min_by`/`max_by` inside the group-by.
    */
  private def windowForm(bars: DataFrame, extractDate: String): DataFrame = {
    val src = Report1SourceCols(); val trg = Report1TargetCols()
    val grp = Window.partitionBy(col(src.isin), col(src.date))
      .orderBy(col(src.time))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byDate = Window.partitionBy(col(src.isin)).orderBy(col(src.date))
    val daily = bars
      .select(src.columns.map(col): _*)
      .na.drop("any")
      .withColumn(trg.openingPrice, first(col(src.startPrice)).over(grp))
      .withColumn(trg.closingPrice, last(col(src.startPrice)).over(grp))
      .withColumnsRenamed(Map(src.minPrice -> trg.minPrice,
        src.maxPrice -> trg.maxPrice,
        src.tradedVolume -> trg.dailyTradedVolume))
      .groupBy(col(src.isin), col(src.date))
      .agg(min(trg.openingPrice).as(trg.openingPrice),
        min(trg.closingPrice).as(trg.closingPrice),
        min(trg.minPrice).as(trg.minPrice),
        max(trg.maxPrice).as(trg.maxPrice),
        sum(trg.dailyTradedVolume).as(trg.dailyTradedVolume))
      .withColumn("__prev", lag(col(trg.openingPrice), 1).over(byDate))
      .withColumn(trg.changePrevClosing,
        Report1.pctChange(col(trg.openingPrice), col("__prev")))
      .drop("__prev")
    daily.select(daily.schema.fields.map { f =>
      if (f.dataType == DoubleType) bround(col(f.name), 2).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*).filter(col(src.date) >= lit(extractDate))
  }

  test("aggregate form equals the window form on seeded random bars") {
    val dates = (1 to 6).map(d => f"2021-05-0$d")
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // unique (ISIN, Date, Time): each day's minutes are drawn without
      // replacement, so neither form meets a tie on Time
      val bars = for {
        isin <- Seq("DE01", "DE02", "DE03", "DE04")
        date <- dates if rnd.nextDouble() < 0.8
        n = if (rnd.nextDouble() < 0.3) 1 else 2 + rnd.nextInt(20) // single-bar days
        minute <- rnd.shuffle((0 until 540).toList).take(n)
      } yield {
        def px(): Double = (100 + rnd.nextInt(9900)) / 100.0
        val row = Array[Any](isin, "MNEM", date,
          f"${8 + minute / 60}%02d:${minute % 60}%02d", px(), px(), px(),
          px(), rnd.nextInt(10000).toLong)
        // null rows: one null cell in any column, dropped by P2
        if (rnd.nextDouble() < 0.05) row(rnd.nextInt(row.length)) = null
        Row.fromSeq(row.toSeq)
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(bars, 3),
        graft.sources.XetraBarsTable.Schema)
      val kept = bars.filterNot(_.anyNull)
      assert(kept.length < bars.length, "no null rows drawn")
      assert(kept.groupBy(r => (r.get(0), r.get(2))).values.exists(_.length == 1),
        "no single-bar day drawn")
      Seq(dates.head, dates(2), dates.last, "2021-05-07").foreach { d =>
        val got = Report1.transform(df, extractDate = d)
          .orderBy("ISIN", "Date").collect().toSeq
        val want = windowForm(df, d).orderBy("ISIN", "Date").collect().toSeq
        assert(got == want, s"seed $seed, extract date $d")
        if (d != "2021-05-07") assert(got.nonEmpty)
      }
    }
  }
}
