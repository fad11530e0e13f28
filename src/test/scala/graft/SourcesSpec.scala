package graft

import java.nio.file.{Files, Path}

import graft.io.Connector
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.spark.sql.functions._

/** The local file system under the `xetratest` scheme, which no Hadoop
  * default names: a path with that scheme resolves only where a
  * configuration carries `fs.xetratest.impl`.
  */
class XetraTestFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("xetratest:///")
}

/** The DSv2 connector for the date-prefixed bar layout: date predicates
  * must prune whole directories at planning time, column pruning must reach
  * the reader, and results must match the generic CSV path exactly.
  */
class SourcesSpec extends SparkSpec {

  private val header =
    "ISIN,Mnemonic,Date,Time,StartPrice,EndPrice,MinPrice,MaxPrice,TradedVolume"

  /** date -> rows-per-hour layout, one file per (date, hour). */
  private def stage(root: Path, files: Map[(String, String), Seq[String]]): Unit =
    files.foreach { case ((date, hour), rows) =>
      val dir = root.resolve(date)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"${date}_BINS_XETR$hour.csv"),
        header + "\n" + rows.mkString("\n") + "\n")
    }

  private lazy val root: Path = {
    val r = Files.createTempDirectory("xetra_dsv2")
    stage(r, Map(
      ("2021-04-15", "12") -> Seq("AT1,SANT,2021-04-15,12:00,20.19,18.45,18.20,20.33,877"),
      ("2021-04-16", "15") -> Seq("AT1,SANT,2021-04-16,15:00,18.27,21.19,18.27,21.34,987"),
      ("2021-04-17", "13") -> Seq("AT1,SANT,2021-04-17,13:00,20.21,18.27,18.21,20.42,633"),
      ("2021-04-17", "14") -> Seq("AT1,SANT,2021-04-17,14:00,18.27,21.19,18.27,21.34,455"),
      ("2021-04-18", "07") -> Seq("AT1,SANT,2021-04-18,07:00,20.58,19.27,18.89,20.58,9066"),
      ("2021-04-18", "08") -> Seq("AT1,SANT,2021-04-18,08:00,19.27,21.14,19.27,21.14,1220")))
    r
  }

  private def dsv2 = spark.read
    .format("graft.sources.XetraBarsProvider")
    .load(root.toString)

  test("short name 'xetra-bars' resolves via DataSourceRegister") {
    val viaShortName = spark.read.format("xetra-bars").load(root.toString)
    assert(viaShortName.count() == dsv2.count())
  }

  test("dsv2 full scan equals the generic csv connector") {
    val c = new Connector(spark, root.toUri.toString)
    val files = Seq("2021-04-15", "2021-04-16", "2021-04-17", "2021-04-18")
      .flatMap(c.listPrefix)
    val expected = c.readCsv(files, graft.sources.XetraBarsTable.Schema)
      .orderBy("Date", "Time").collect().map(_.toSeq).toSeq
    val got = dsv2.orderBy("Date", "Time").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == expected)
  }

  test("date predicates prune whole directories at planning time") {
    val filtered = dsv2.filter(col("Date") >= "2021-04-17")
    // 3 files survive (17×2, 18×2 → wait: 17 has 2, 18 has 2) = 4 partitions
    assert(filtered.rdd.getNumPartitions == 4,
      s"expected 4 surviving files, got ${filtered.rdd.getNumPartitions}")
    assert(filtered.count() == 4)
    // unpruned scan plans one partition per staged file
    assert(dsv2.rdd.getNumPartitions == 6)
    // the pushed predicate is visible in the scan description
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("prunedBy=[") &&
      plan.contains("GreaterThanOrEqual(Date"), plan.take(1200))
  }

  test("column pruning reaches the reader") {
    // pure projection: only the 2 selected columns are read
    val slim = dsv2.select("ISIN", "TradedVolume")
    assert(slim.queryExecution.executedPlan.toString
      .contains("columns=[ISIN,TradedVolume]"))
    // with a residual Date filter, Date is (correctly) also required —
    // pruning still drops the other 6 columns
    val filtered = dsv2.filter(col("Date") === "2021-04-18")
      .select("ISIN", "TradedVolume")
    assert(filtered.queryExecution.executedPlan.toString
      .contains("columns=[ISIN,Date,TradedVolume]"))
    assert(filtered.collect().map(_.getLong(1)).sorted.toSeq ==
      Seq(1220L, 9066L))
  }

  test("the daily report runs directly off the dsv2 source (declarative extract)") {
    // the whole extract step becomes `read.format("xetra-bars") + filter`:
    // date pruning replaces the hand-driven per-date listing loop, and the
    // result must equal the connector-path transform exactly
    import graft.ops.{Report1, Report1SourceCols, Report1TargetCols}
    val src = Report1SourceCols(
      isin = "ISIN", date = "Date", time = "Time", startPrice = "StartPrice",
      minPrice = "MinPrice", maxPrice = "MaxPrice",
      tradedVolume = "TradedVolume",
      columns = graft.sources.XetraBarsTable.Schema.fieldNames.toSeq)
    val trg = Report1TargetCols(
      openingPrice = "open", closingPrice = "close", minPrice = "min_p",
      maxPrice = "max_p", dailyTradedVolume = "vol",
      changePrevClosing = "chg")
    val viaDsv2 = Report1.transform(
        dsv2.filter(col("Date") >= "2021-04-16"), src, trg, "2021-04-17")
      .orderBy("ISIN", "Date").collect().map(_.toSeq).toSeq
    val c = new Connector(spark, root.toUri.toString)
    val files = Seq("2021-04-16", "2021-04-17", "2021-04-18").flatMap(c.listPrefix)
    val viaConnector = Report1.transform(
        c.readCsv(files, graft.sources.XetraBarsTable.Schema), src, trg,
        "2021-04-17")
      .orderBy("ISIN", "Date").collect().map(_.toSeq).toSeq
    assert(viaDsv2.nonEmpty && viaDsv2 == viaConnector)
  }

  test("pruning is conservative: residual row filters still apply") {
    // Time predicate can't prune directories but must still filter rows
    val got = dsv2.filter(col("Date") >= "2021-04-17" && col("Time") < "14:00")
      .select("TradedVolume").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(633L, 1220L, 9066L))
  }

  // ---------------------------------------------------- aggregate pushdown

  private def dsv2Trusted = spark.read
    .format("graft.sources.XetraBarsProvider")
    .option("trustLayout", true)
    .load(root.toString)

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("count(*) pushes down as per-file line counts, no parse") {
    val counted = dsv2.groupBy().count()
    assert(planOf(counted).contains("PushedAggregates=[CountAll"),
      s"count(*) did not reach the scan:\n${planOf(counted).take(1500)}")
    assert(counted.collect().head.getLong(0) == 6L)
    // soundness does not depend on cell contents: a garbage row is still
    // one line, exactly as the row reader would have emitted one row
    val r = Files.createTempDirectory("xetra_garbage")
    stage(r, Map(("2021-05-01", "09") ->
      Seq("not,even,close,to,valid,,,,", "",
        "AT1,SANT,2021-05-01,09:00,1,2,1,2,5")))
    val g = spark.read.format("xetra-bars").load(r.toString)
    // pin the equivalence against the actual ROW SCAN (collect has no
    // aggregate, so it cannot push): the pushed line count must equal the
    // number of rows the reader emits, garbage and blank lines included —
    // comparing two pushed counts to each other would test nothing
    assert(g.collect().length == 3)
    assert(g.groupBy().count().collect().head.getLong(0) == 3L)
    assert(g.count() == 3L)
  }

  test("min/max(Date) under trustLayout is a metadata-only complete pushdown") {
    val mm = dsv2Trusted.agg(min("Date"), max("Date"))
    assert(planOf(mm).contains("PushedAggregates=[MinDate, MaxDate]"),
      s"min/max did not reach the scan:\n${planOf(mm).take(1500)}")
    // ONE partition however many files: the answer is the directory
    // listing, no file is opened (6 csv files → 6 row-scan partitions)
    assert(mm.queryExecution.executedPlan.execute().getNumPartitions == 1)
    val row = mm.collect().head
    assert(row.getString(0) == "2021-04-15" && row.getString(1) == "2021-04-18")
    // empty layout → the single final row must carry SQL nulls (count 0)
    val empty = Files.createTempDirectory("xetra_empty")
    val e = spark.read.format("xetra-bars").option("trustLayout", true)
      .load(empty.toString)
    val er = e.agg(min("Date"), max("Date")).collect().head
    assert(er.isNullAt(0) && er.isNullAt(1))
    assert(e.count() == 0L)
  }

  test("combined count+min+max pushes as partials that Spark merges") {
    val comb = dsv2Trusted.agg(count(lit(1)), min("Date"), max("Date"))
    assert(planOf(comb).contains("PushedAggregates=[CountAll, MinDate, MaxDate]"))
    val row = comb.collect().head
    assert(row.getLong(0) == 6L && row.getString(1) == "2021-04-15" &&
      row.getString(2) == "2021-04-18")
  }

  test("aggregate pushdown declines: untrusted min/max, grouping, other aggs") {
    // min/max without the explicit trustLayout opt-in must fall back to
    // the row scan (the metadata answer is a layout CONTRACT, not a fact)
    val mm = dsv2.agg(min("Date"), max("Date"))
    assert(!planOf(mm).contains("PushedAggregates"),
      "min/max pushed without trustLayout")
    assert(mm.collect().head.getString(0) == "2021-04-15")
    // grouping is not supported → ordinary scan, correct per-date counts
    val gb = dsv2.groupBy("Date").count().orderBy("Date")
    assert(!planOf(gb).contains("PushedAggregates"))
    assert(gb.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq("2021-04-15" -> 1L, "2021-04-16" -> 1L, "2021-04-17" -> 2L,
        "2021-04-18" -> 2L))
    // an unsupported aggregate in the mix vetoes the whole pushdown
    val sums = dsv2Trusted.agg(count(lit(1)), sum("TradedVolume"))
    assert(!planOf(sums).contains("PushedAggregates"))
    assert(sums.collect().head.getLong(1) == 877L + 987 + 633 + 455 + 9066 + 1220)
  }

  test("residual filters block aggregate pushdown (Spark's own rule)") {
    // every filter here stays residual, so an aggregate above a filtered
    // scan must NOT push — otherwise pre-aggregated rows would skip the
    // row-level re-check and the count would silently include pruned rows
    val fc = dsv2.filter(col("Time") < "14:00").groupBy().count()
    assert(!planOf(fc).contains("PushedAggregates"))
    assert(fc.collect().head.getLong(0) == 4L)
  }

  test("runtime (DPP) filtering prunes date directories at execution") {
    import spark.implicits._
    // a selective dimension joined on Date: Spark's dynamic partition
    // pruning collects the build side's surviving dates and delivers them
    // to the scan AFTER planning (SupportsRuntimeFiltering.filter) — the
    // re-planned scan must open only the matching date's files
    // two traps this test must dodge: the dim must live on disk (a
    // filtered LocalRelation constant-folds away, leaving no selective
    // predicate for DPP to key on), and the dim filter must be on a
    // NON-join column — filtering `d` itself constant-propagates across
    // the equi-join into a STATIC Date pushdown, which is correct but
    // exercises the compile-time path, not the runtime one
    val dimDir = Files.createTempDirectory("xetra_dpp_dim")
    Seq(("2021-04-15", 0), ("2021-04-16", 0), ("2021-04-17", 1),
      ("2021-04-18", 0))
      .toDF("d", "keep").write.mode("overwrite").parquet(dimDir.toString)
    val dim = spark.read.parquet(dimDir.toString).filter(col("keep") === 1)
    val joined = dsv2.join(broadcast(dim), col("Date") === col("d"))
    val rows = joined.collect()
    assert(rows.length == 2, s"wrong join result: ${rows.length}")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no DPP subquery planted on the scan:\n${plan.take(2000)}")
    // the Scan instance is shared between the pre-AQE sparkPlan and the
    // adaptively-executed stages (AdaptiveSparkPlanExec is a leaf to
    // collect), so read the runtime-filter state through the former
    val scan = joined.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.scan.isInstanceOf[graft.sources.XetraBarsScan] =>
        b.scan.asInstanceOf[graft.sources.XetraBarsScan]
    }.head
    assert(scan.runtimeFilters.nonEmpty,
      "the runtime date filter never reached the scan")
    // 2021-04-17 has exactly two files; the static layout has six — the
    // final partition plan must reflect the runtime pruning
    assert(scan.lastPlannedPartitions == 2,
      s"expected 2 runtime-pruned partitions, planned " +
        s"${scan.lastPlannedPartitions}")
  }

  test("listing and readers use the session's Hadoop configuration") {
    val base = new org.apache.hadoop.fs.Path(s"xetratest://${root.toUri.getPath}")
    intercept[UnsupportedFileSystemException](
      base.getFileSystem(new Configuration()))
    // set on the session only; no FileSystem cache, so every open resolves
    // the scheme from the configuration it was given
    val keys = Map(
      "fs.xetratest.impl" -> classOf[XetraTestFileSystem].getName,
      "fs.xetratest.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val viaSession = spark.read.format("xetra-bars").load(base.toString)
      // the row reader, the pushed per-file count and the listing
      assert(viaSession.orderBy("Date", "Time").collect().map(_.toSeq).toSeq ==
        dsv2.orderBy("Date", "Time").collect().map(_.toSeq).toSeq)
      assert(viaSession.groupBy().count().collect().head.getLong(0) == 6L)
    } finally keys.keys.foreach(spark.conf.unset)
  }
}
