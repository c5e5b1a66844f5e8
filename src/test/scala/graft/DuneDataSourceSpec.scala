package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

class DuneDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = tmpDir("dune_src")
    val lines = (1 to 500).map { i =>
      val date = f"2025-01-${i % 28 + 1}%02d"
      s"""{"date":"$date", "price":${90000 + i}.5, "n":$i}"""
    }
    Files.write(Paths.get(s"$d/5816212.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    d
  }

  private def dune = spark.read.format("dune")
    .option("path", dir).option("queryId", "5816212").load()

  test("reads the payload identically to spark.read.json") {
    val got = dune.orderBy("n").collect()
    val want = spark.read.json(s"$dir/5816212.json").select("date", "price", "n")
      .select(dune.columns.map(col).toSeq: _*).orderBy("n").collect()
    assert(got.length == 500)
    assert(got.sameElements(want))
  }

  test("watermark predicate is pushed into the scan and applied there") {
    val df = dune.filter($"date" > "2025-01-25")
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }
    assert(scans.nonEmpty, "expected a BatchScanExec leaf")
    val desc = scans.head.scan.description()
    assert(desc.contains("GreaterThan(date,2025-01-25)"),
      s"filter not pushed; scan: $desc")
    // and the answer is right: days 26,27,28 of each 28-day cycle
    val want = (1 to 500).count(i => f"2025-01-${i % 28 + 1}%02d" > "2025-01-25")
    assert(df.count() == want)
  }

  test("column pruning reaches the scan") {
    val df = dune.select("price")
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head.scan
    assert(scan.readSchema().fieldNames.toSeq == Seq("price"),
      s"scan read ${scan.readSchema().simpleString}")
    assert(df.agg(round(sum("price"), 1)).head.getDouble(0) ==
      (1 to 500).map(90000.5 + _).sum)
  }

  test("a payload larger than one split parses across multiple partitions") {
    // ~12 MiB of lines → ≥2 byte-range partitions at the 4 MiB floor
    val d = tmpDir("dune_big")
    val pad = "x" * 120
    val lines = (1 to 80000).map(i => s"""{"k":$i, "pad":"$pad"}""")
    Files.write(Paths.get(s"$d/42.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    val df = spark.read.format("dune")
      .option("path", d).option("queryId", "42").load()
    assert(df.rdd.getNumPartitions >= 2,
      s"expected multiple splits, got ${df.rdd.getNumPartitions}")
    // no line lost or doubled at split boundaries
    assert(df.count() == 80000)
    assert(df.agg(sum("k")).head.getLong(0) == (1 to 80000).map(_.toLong).sum)
  }

  test("CRLF terminators and multi-byte text survive split boundaries") {
    val d = tmpDir("dune_crlf")
    // é = 2 bytes in UTF-8, so byte boundaries regularly land mid-char;
    // \r\n terminators exercise the 2-byte-EOL accounting
    val pad = "é" * 60
    val lines = (1 to 80000).map(i => s"""{"k":$i, "pad":"$pad"}""")
    Files.write(Paths.get(s"$d/7.json"),
      lines.mkString("\r\n").getBytes("UTF-8"))
    val df = spark.read.format("dune")
      .option("path", d).option("queryId", "7").load()
    assert(df.rdd.getNumPartitions >= 2)
    assert(df.count() == 80000)
    assert(df.agg(sum("k")).head.getLong(0) == (1 to 80000).map(_.toLong).sum)
    assert(df.filter(length(col("pad")) === 60).count() == 80000)
  }

  test("pushed equality on longs above 2^53 compares exactly") {
    val d = tmpDir("dune_bigint")
    val a = 9007199254740993L // 2^53 + 1: collapses onto 2^53 as double
    val b = 9007199254740992L
    Files.write(Paths.get(s"$d/8.json"),
      s"""{"id":$a}\n{"id":$b}""".getBytes("UTF-8"))
    val df = spark.read.format("dune")
      .option("path", d).option("queryId", "8").load()
    assert(df.filter($"id" === b).collect().map(_.getLong(0)).toSeq == Seq(b))
    assert(df.filter($"id" > b).collect().map(_.getLong(0)).toSeq == Seq(a))
  }

  test("pipeline runs end-to-end on the v2 source, incremental included") {
    import graft.model.{BitcoinWarehouse, EtlJob}
    import graft.operators.Transaction
    import graft.runner.AtomicPipeline
    import graft.sources.DuneV2Source
    val base = tmpDir("dune_pipe")
    val spec = BitcoinWarehouse.pricesUsd
    Files.write(Paths.get(s"$base/${spec.queryId}.json"),
      Seq("""{"date": "2025-01-01", "price": 95000.0}""",
        """{"date": "2025-01-02", "price": 96000.0}""")
        .mkString("\n").getBytes("UTF-8"))
    val root = s"$base/tx"
    val pipe = new AtomicPipeline(spark, new DuneV2Source(base), root)
    pipe.seed(Seq(EtlJob(spec.jobName, spec.queryId, spec.targetTable,
      spec.pKeys.mkString(","), None, 1, None, None, None, None)))
    assert(pipe.run(Seq(spec)).head.rows == 2L)
    // delta round: stale repeat + one new date; watermark keeps the stale out
    Files.write(Paths.get(s"$base/${spec.queryId}.json"),
      Seq("""{"date": "2025-01-02", "price": 1.0}""",
        """{"date": "2025-01-03", "price": 97000.0}""")
        .mkString("\n").getBytes("UTF-8"))
    val r2 = pipe.run(Seq(spec)).head
    assert(!r2.fullRefresh && r2.rows == 3L)
    val prices = Transaction.read(spark, root, spec.targetTable)
      .select("date", "price_in_dollar").as[(String, Double)]
      .collect().sortBy(_._1).toSeq
    assert(prices == Seq(("2025-01-01", 95000.0), ("2025-01-02", 96000.0),
      ("2025-01-03", 97000.0)))
  }

  test("timestamp-valued filters are rejected at pushdown, never string-compared") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}
    val d = tmpDir("dune_ts")
    Files.write(Paths.get(s"$d/9.json"),
      Seq("""{"k":1, "ts":"2025-01-01T00:00:00"}""",
        """{"k":2, "ts":"2025-06-01T00:00:00"}""")
        .mkString("\n").getBytes("UTF-8"))
    // declared-schema path (supportsExternalMetadata) can legally hand
    // the scan a TimestampType column; comparing its filter value as a
    // string against raw JSON text would silently return wrong rows
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("ts", TimestampType)))
    val df = spark.read.format("dune").schema(schema)
      .option("path", d).option("queryId", "9").load()
      .filter($"ts" > java.sql.Timestamp.valueOf("2025-03-01 00:00:00"))
      .select("k")
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head.scan
    assert(!scan.description().contains("GreaterThan(ts"),
      s"timestamp filter was pushed: ${scan.description()}")
    // Catalyst keeps the filter, which forces ts into the read schema —
    // and materializing a non-primitive column fails LOUDLY (the
    // reader's declared type surface) instead of dropping rows silently
    val e = intercept[Exception](df.collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("primitive types")),
      s"unexpected failure: ${chain(e).mkString(" | ")}")
  }

  test("declared schema skips the O(payload) inference pre-pass") {
    import graft.model.BitcoinWarehouse
    import graft.sources.{DuneDataSource, DuneV2Source}
    val base = tmpDir("dune_schema")
    Files.write(Paths.get(s"$base/5816212.json"),
      Seq("""{"date":"2025-01-01", "price":95000.0}""",
        """{"date":"2025-01-02", "price":96000.0}""")
        .mkString("\n").getBytes("UTF-8"))
    val src = new DuneV2Source(base)
    val spec = BitcoinWarehouse.pricesUsd
    assert(spec.sourceSchema.isDefined, "warehouse specs declare schemas")

    val before = DuneDataSource.inferenceRuns.get()
    val df = src.fetch(spark, spec, None)
    assert(df.schema == spec.sourceSchema.get)
    assert(df.count() == 2)
    assert(DuneDataSource.inferenceRuns.get() == before,
      "declared-schema fetch still ran the driver-side inference pass")

    // without a declared schema the provider's inference pass DOES run —
    // the counter is live, not vacuously zero
    assert(src.fetch(spark, spec.copy(sourceSchema = None), None).count() == 2)
    assert(DuneDataSource.inferenceRuns.get() > before)
  }

  test("rejected filter shapes stay above the scan and still apply") {
    val df = dune.filter($"date".endsWith("5")) // StringEndsWith: not pushed
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head.scan
    assert(!scan.description().contains("EndsWith"))
    val want = (1 to 500).count(i => f"2025-01-${i % 28 + 1}%02d".endsWith("5"))
    assert(df.count() == want)
  }

  test("aggregate pushdown: max/count computed in the scan, edges included") {
    // happy path: plan shows a pushed aggregate, values match plain json
    val agg = dune.filter(col("n") > 100)
      .agg(max("price").as("mx"), count(lit(1)).as("n_rows"))
    val phys = agg.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = phys.collectFirst {
      case b: BatchScanExec => b.scan.description() }
    assert(scan.exists(_.contains("PushedAggregates=[MAX(price), COUNT(*)]")),
      s"expected pushed aggregates: $scan")
    val want = spark.read.json(s"$dir/5816212.json").filter(col("n") > 100)
      .agg(max("price"), count(lit(1))).head
    assert(agg.head == want)

    // empty-after-filter: ONE row, null max, zero count (global-agg law)
    val empty = dune.filter(col("n") > 100000)
      .agg(max("price").as("mx"), count(lit(1)).as("n_rows")).collect()
    assert(empty.length == 1 && empty.head.isNullAt(0) &&
      empty.head.getLong(1) == 0L)

    // count(col) skips nulls where count(*) does not
    val d2 = tmpDir("dune_agg_nulls")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$d2/7.json"),
      Seq("""{"a":1, "b":"x"}""", """{"a":2}""", """{"a":3, "b":null}""")
        .mkString("\n").getBytes("UTF-8"))
    val withNulls = spark.read.format("dune")
      .option("path", d2).option("queryId", "7").load()
      .agg(count(col("b")).as("nb"), count(lit(1)).as("all")).head
    assert(withNulls.getLong(0) == 1L && withNulls.getLong(1) == 3L)

    // grouped aggregation is NOT pushed (stays above the scan)
    val grouped = dune.groupBy("date").agg(count(lit(1)))
    val gplan = grouped.queryExecution.executedPlan.toString()
    assert(gplan.contains("HashAggregate"),
      s"grouped agg must stay above the scan:\n$gplan")
  }

  test("runtime (DPP-style) In filter lands in the scan and drops rows " +
      "at parse time") {
    // a selective dim whose key set is only known at execution: Spark's
    // PartitionPruning targets v2 scans implementing
    // SupportsRuntimeFiltering when the build side broadcasts
    val dim = spark.range(1, 1000).select($"id".as("n"),
      lit("keep").as("tag")).filter($"n" < 6) // selective build-side
    val joined = dune.join(broadcast(dim), "n")
    val rows = joined.collect()
    assert(rows.length == 5, s"join result wrong: ${rows.length}")
    // the scan node must carry the runtime filter group (visible as
    // dynamicpruning in its string form) when the rule fires; at
    // minimum the result must be correct with the filter applied, and
    // driving the scan API directly must prove exact In evaluation
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
        : org.apache.spark.sql.execution.SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val finalPlan = unwrap(joined.queryExecution.executedPlan)
    val planStr = finalPlan.toString()
    assert(planStr.toLowerCase.contains("runtimefilters: [dynamic"),
      s"expected a dynamicpruning runtime filter in the dune scan:\n" +
        planStr.linesIterator.take(12).mkString("\n"))
    // direct API check: the scan advertises its filterable columns
    // (from a bare scan plan — the joined one hides inside AQE stages)
    val sc = dune.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head.scan
    sc match {
      case rf: org.apache.spark.sql.connector.read.SupportsRuntimeFiltering =>
        assert(rf.filterAttributes().map(_.describe()).contains("n"))
      case other => fail(s"scan must support runtime filtering: $other")
    }
  }

  test("scan.filter(In) drives row drops through the reader exactly") {
    import org.apache.spark.sql.sources.{Filter, In}
    val df = dune.filter($"n" <= 100) // pushed filter stays too
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head.scan
    val rf = scan.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    rf.filter(Array[Filter](In("n", Array[Any](3L, 7L, 999L))))
    // re-execute through a fresh reader factory: only n ∈ {3,7} survive
    // (999 is beyond the pushed n <= 100)
    val factory = scan.toBatch.createReaderFactory()
    val parts = scan.toBatch.planInputPartitions()
    val got = parts.flatMap { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer[Long]()
      while (r.next()) buf += r.get().getLong(
        scan.readSchema().fieldIndex("n"))
      r.close()
      buf
    }.sorted.toSeq
    assert(got == Seq(3L, 7L), s"runtime In must drop rows exactly: $got")
  }

  test("limit pushdown stops the reader; statistics report payload bytes") {
    val limited = dune.limit(3)
    val desc = limited.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.description() }
    assert(desc.exists(_.contains("PushedLimit=3")),
      s"expected a pushed limit: $desc")
    assert(limited.count() == 3)
    // limit composes with a pushed filter: 3 rows SATISFYING it
    val both = dune.filter(col("n") > 400).limit(3)
      .select("n").as[Long].collect()
    assert(both.length == 3 && both.forall(_ > 400))
    // the scan reports payload bytes so the planner can size the source
    val stats = limited.queryExecution.optimizedPlan.stats
    val fileLen = java.nio.file.Files.size(
      java.nio.file.Paths.get(s"$dir/5816212.json"))
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes <= fileLen * 2,
      s"stats ${stats.sizeInBytes} should track the $fileLen-byte payload")
  }
}
