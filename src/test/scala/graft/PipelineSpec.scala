package graft

import java.nio.file.{Files, Paths}

import graft.model._
import graft.operators.Transaction
import graft.runner.AtomicPipeline
import graft.sources.FixtureSource

/** End-to-end pipeline test over synthesized bitcoin-shaped JSON fixtures
  * (SURVEY §5 test 4): full run, then an incremental run that must apply
  * only the delta past the watermark.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixture(dir: String, queryId: Long, lines: Seq[String]): Unit =
    Files.write(Paths.get(s"$dir/$queryId.json"),
      lines.mkString("\n").getBytes("UTF-8"))

  /** An atomic pipeline over `fixtures` with `specs` seeded, the ones
    * named in `active` active.
    */
  private def pipeOf(fixtures: String, root: String, specs: Seq[TableSpec],
      active: Set[String]): AtomicPipeline = {
    val pipe = new AtomicPipeline(spark, new FixtureSource(fixtures), root)
    pipe.seed(specs.map(s => EtlJob(s.jobName, s.queryId, s.targetTable,
      s.pKeys.mkString(","), None, if (active(s.jobName)) 1 else 0,
      None, None, None, None)))
    pipe
  }

  /** An atomic pipeline over `fixtures` with `spec` seeded active. */
  private def atomicPipe(fixtures: String, root: String,
      spec: TableSpec): AtomicPipeline =
    pipeOf(fixtures, root, Seq(spec), Set(spec.jobName))

  test("full + incremental run over prices_usd fixture") {
    val base = tmpDir("pipe")
    val fixtures = s"$base/fixtures"; Files.createDirectories(Paths.get(fixtures))
    val spec = BitcoinWarehouse.pricesUsd
    writeFixture(fixtures, spec.queryId, Seq(
      """{"date": "2025-01-01", "price": 95000.0}""",
      """{"date": "2025-01-02", "price": 96000.0}"""))
    val root = s"$base/tx"
    val pipe = atomicPipe(fixtures, root, spec)

    val r1 = pipe.run(Seq(spec))
    assert(r1.map(r => (r.jobName, r.rows, r.fullRefresh, r.error)) ==
      Seq((spec.jobName, 2L, true, None)))
    val t1 = Transaction.read(spark, root, spec.targetTable)
    assert(t1.columns.sorted.toSeq ==
      Seq("date", "etl_updated_ts", "price_in_dollar"))

    // job state: done
    val job = pipe.state.filter($"job_name" === spec.jobName).head
    assert(job.getAs[Int]("status") == EtlJob.Done)
    assert(job.getAs[java.sql.Timestamp]("end_ts") != null)

    // incremental: one new date + a stale repeat of an old one; only the
    // new row (past the watermark) must land
    writeFixture(fixtures, spec.queryId, Seq(
      """{"date": "2025-01-02", "price": 1.0}""",
      """{"date": "2025-01-03", "price": 97000.0}"""))
    val r2 = pipe.run(Seq(spec))
    assert(r2.head.fullRefresh == false)
    assert(r2.head.rows == 3)
    val prices = Transaction.read(spark, root, spec.targetTable)
      .select("date", "price_in_dollar").as[(String, Double)]
      .collect().sortBy(_._1).toSeq
    assert(prices == Seq(("2025-01-01", 95000.0), ("2025-01-02", 96000.0),
      ("2025-01-03", 97000.0)))
  }

  test("bitcoin_transactions: the block_time watermark keeps a stale " +
      "repeat out, and block_date lands as a derived column") {
    val base = tmpDir("pipe_tx")
    val fixtures = s"$base/fixtures"; Files.createDirectories(Paths.get(fixtures))
    val spec = BitcoinWarehouse.transactions
    writeFixture(fixtures, spec.queryId, Seq(
      """{"block_time":"2025-01-01T00:01:00","fee":0.01,"id":"t1","input_value":0.5,"output_value":0.49}""",
      """{"block_time":"2025-01-02T00:01:00","fee":0.02,"id":"t2","input_value":1.0,"output_value":0.98}"""))
    val root = s"$base/tx"
    val pipe = atomicPipe(fixtures, root, spec)
    val r1 = pipe.run(Seq(spec)).head
    assert(r1.error.isEmpty && r1.fullRefresh && r1.rows == 2L)
    // delta: a restated t1 at its old block_time and t3 on a new day;
    // the timestamp watermark keeps the t1 repeat out
    writeFixture(fixtures, spec.queryId, Seq(
      """{"block_time":"2025-01-01T00:01:00","fee":9.9,"id":"t1","input_value":9.9,"output_value":9.9}""",
      """{"block_time":"2025-01-03T00:01:00","fee":0.03,"id":"t3","input_value":2.0,"output_value":1.96}"""))
    val r2 = pipe.run(Seq(spec)).head
    assert(r2.error.isEmpty && !r2.fullRefresh && r2.rows == 3L)
    val got = Transaction.read(spark, root, spec.targetTable)
      .select($"transaction_id", $"dimension_attribute_record_id",
        $"block_date".cast("string"))
      .as[(String, Double, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("t1", 0.01, "2025-01-01"), ("t2", 0.02, "2025-01-02"),
      ("t3", 0.03, "2025-01-03")),
      "stale pre-watermark repeat must not apply")
  }

  test("per-job error isolation: a broken job does not stop the loop") {
    val base = tmpDir("iso")
    val fixtures = s"$base/fixtures"; Files.createDirectories(Paths.get(fixtures))
    val good = BitcoinWarehouse.inputs
    val bad = BitcoinWarehouse.outputs // no fixture written → fetch fails
    writeFixture(fixtures, good.queryId, Seq(
      """{"address": "addr1", "tx_id": "t1", "value": 0.5}"""))
    val root = s"$base/tx"
    val pipe = pipeOf(fixtures, root, Seq(bad, good),
      Set(bad.jobName, good.jobName))

    val results = pipe.run(Seq(bad, good))
    assert(results.find(_.jobName == bad.jobName).get.error.isDefined)
    val goodResult = results.find(_.jobName == good.jobName).get
    assert(goodResult.error.isEmpty && goodResult.rows == 1)

    val statuses = pipe.state.select("job_name", "status")
      .as[(String, Option[Int])].collect().toMap
    assert(statuses(bad.jobName).contains(EtlJob.Failed))
    assert(statuses(good.jobName).contains(EtlJob.Done))

    // derived UPPER transform landed
    val row = Transaction.read(spark, root, good.targetTable).head
    assert(row.getAs[String]("dimension_attribute_name") == "ADDR1")
  }

  test("CLI options: --select narrows the run, --full-refresh forces a " +
    "reload, --incremental-value overrides the watermark") {
    val base = tmpDir("cli")
    val fixtures = s"$base/fixtures"; Files.createDirectories(Paths.get(fixtures))
    val prices = BitcoinWarehouse.pricesUsd
    val block = BitcoinWarehouse.block
    writeFixture(fixtures, prices.queryId, Seq(
      """{"date": "2025-01-01", "price": 95000.0}""",
      """{"date": "2025-01-02", "price": 96000.0}"""))
    val root = s"$base/tx"
    val pipe = pipeOf(fixtures, root, Seq(prices, block),
      Set(prices.jobName, block.jobName))
    def pricesTable = Transaction.read(spark, root, prices.targetTable)

    // --select: only prices runs even though block is active (and its
    // missing fixture would otherwise record a failure)
    val opts1 = graft.runner.RunOptions.parse(
      Seq("--select", prices.jobName))
    val r1 = pipe.run(Seq(prices, block), opts1)
    assert(r1.map(_.jobName) == Seq(prices.jobName))
    assert(r1.head.rows == 2L && r1.head.fullRefresh)

    // --incremental-value: explicit watermark replaces the target MAX —
    // '2024-12-31' re-admits BOTH fixture rows (the stored max
    // 2025-01-02 would admit neither), so a changed 01-02 price lands
    writeFixture(fixtures, prices.queryId, Seq(
      """{"date": "2025-01-01", "price": 95000.0}""",
      """{"date": "2025-01-02", "price": 1.0}"""))
    val r2 = pipe.run(Seq(prices), graft.runner.RunOptions.parse(
      Seq("--select", prices.jobName, "--incremental-value", "2024-12-31")))
    assert(!r2.head.fullRefresh && r2.head.rows == 2L)
    val p0102 = pricesTable
      .filter($"date" === "2025-01-02")
      .select("price_in_dollar").as[Double].head()
    assert(p0102 == 1.0,
      "the overridden watermark must re-admit the changed row")

    // --full-refresh: watermark skipped entirely, target rebuilt from
    // the (now 1-row) fixture
    writeFixture(fixtures, prices.queryId, Seq(
      """{"date": "2025-02-01", "price": 99000.0}"""))
    val r3 = pipe.run(Seq(prices), graft.runner.RunOptions.parse(
      Seq("--full-refresh")))
    assert(r3.head.fullRefresh && r3.head.rows == 1L)
    assert(pricesTable.count() == 1L)

    // parse errors are loud
    intercept[RuntimeException] {
      graft.runner.RunOptions.parse(Seq("--ful-refresh"))
    }
    intercept[RuntimeException] {
      graft.runner.RunOptions.parse(Seq("--incremental-value"))
    }
    intercept[RuntimeException] {
      graft.runner.RunOptions.parse(Seq("--select", "--full-refresh"))
    }
  }

  test("inactive jobs are skipped (metadata scan WHERE active=1)") {
    val base = tmpDir("inact")
    val fixtures = s"$base/fixtures"; Files.createDirectories(Paths.get(fixtures))
    val spec = BitcoinWarehouse.block
    val root = s"$base/tx"
    val pipe = pipeOf(fixtures, root, Seq(spec), Set.empty)
    assert(pipe.run(Seq(spec)).isEmpty)
    // not even a running marker: the seed is the only commit
    assert(Transaction.committedTxs(spark, root) == Seq(0L))
  }

  test("seedFromCsv: an etl_job.csv-shaped file seeds the control table " +
      "with the seed schema, and only its active job runs") {
    val base = tmpDir("csv")
    val fixtures = s"$base/fixtures"; Files.createDirectories(Paths.get(fixtures))
    val prices = BitcoinWarehouse.pricesUsd
    val block = BitcoinWarehouse.block // inactive, and has no fixture
    writeFixture(fixtures, prices.queryId, Seq(
      """{"date": "2025-01-01", "price": 95000.0}""",
      """{"date": "2025-01-02", "price": 96000.0}"""))
    // the reference's header shape, in mixed case, with empty cells
    val csv = s"$base/etl_job.csv"
    Files.write(Paths.get(csv), Seq(
      "Job_Name,QUERY_ID,Target_Table,P_KEY,Status,ACTIVE,Start_TS,END_TS," +
        "Error_Message,LAST_UPDATED_TS",
      "prices_usd,5816212,bitcoin.price_usd,date,,1,,,,",
      "bitcoin_block,2177266,bitcoin.block,hash,,0,,,,")
      .mkString("\n").getBytes("UTF-8"))
    val root = s"$base/tx"
    val pipe = new AtomicPipeline(spark, new FixtureSource(fixtures), root)
    pipe.seedFromCsv(csv)

    val active = pipe.activeJobs
    assert(active.map(_.copy(last_updated_ts = None)) == Seq(EtlJob(
      prices.jobName, prices.queryId, prices.targetTable, "date", None, 1,
      None, None, None, None)))
    assert(active.head.last_updated_ts.isDefined)
    assert(pipe.state.count() == 2L)
    // the same etl_job schema `seed` writes
    val seeded = pipeOf(fixtures, s"$base/tx2", Seq(prices), Set.empty)
    assert(pipe.state.schema == seeded.state.schema)

    val results = pipe.run(Seq(prices, block))
    assert(results.map(r => (r.jobName, r.rows, r.error)) ==
      Seq((prices.jobName, 2L, None)))
    val statuses = pipe.state.select("job_name", "status")
      .as[(String, Option[Int])].collect().toMap
    assert(statuses == Map(prices.jobName -> Some(EtlJob.Done),
      block.jobName -> None))
    assert(pipe.state.schema == seeded.state.schema)
  }

  test("the FIVE-table warehouse runs atomically end-to-end: every " +
      "job's (data, done-state) pair commits as one transaction, and " +
      "every table of the same tx id reads consistently") {
    val base = tmpDir("atomic5")
    val fixtures = s"$base/fixtures"
    BitcoinFixtures.write(fixtures)
    val specs = BitcoinWarehouse.all
    val root = s"$base/tx"
    val pipe = new AtomicPipeline(spark, new FixtureSource(fixtures), root)
    pipe.seed(specs.map(s => EtlJob(s.jobName, s.queryId, s.targetTable,
      s.pKeys.mkString(","), None, 1, None, None, None, None)))
    val results = pipe.run(specs)
    assert(results.size === 5)
    assert(results.forall(_.error.isEmpty), results.mkString("; "))
    assert(results.forall(_.rows === 1L))
    // all five jobs read Done in the control table
    val statuses = pipe.state.select("job_name", "status")
      .as[(String, Option[Int])].collect().toMap
    assert(specs.forall(s => statuses(s.jobName).contains(EtlJob.Done)))
    // snapshot consistency: at the LATEST committed tx, every table
    // the manifest lists resolves, and each job's data/state pair
    // belongs to the same tx by construction (one publish each)
    val last = Transaction.committedTxs(spark, root).last
    val m = Transaction.manifest(spark, root, last)
    specs.foreach { s =>
      assert(m.contains(s.targetTable), s"${s.targetTable} not in tx")
      assert(Transaction.read(spark, root, s.targetTable).count() === 1L)
    }
    // the derived UPPER transform still lands through the atomic path
    assert(Transaction.read(spark, root, "bitcoin.input")
      .select("dimension_attribute_name").as[String].head() === "BC1QA")
  }

  test("atomic (data + job-state) publish: a crash at the commit " +
      "point can never leave state and table contents disagreeing") {
    val base = tmpDir("atomic")
    val fixtures = s"$base/fixtures"
    Files.createDirectories(Paths.get(fixtures))
    val spec = BitcoinWarehouse.pricesUsd
    writeFixture(fixtures, spec.queryId, Seq(
      """{"date": "2025-01-01", "price": 95000.0}""",
      """{"date": "2025-01-02", "price": 96000.0}"""))
    val root = s"$base/tx"
    val pipe = atomicPipe(fixtures, root, spec)

    // baseline: one job = one atomic commit of (table, done-state)
    val r1 = pipe.runJob(spec)
    assert(r1.error.isEmpty && r1.rows === 2L)
    def status(): Int = pipe.state
      .filter($"job_name" === spec.jobName).head.getAs[Int]("status")
    def tableRows(): Seq[(String, Double)] =
      Transaction.read(spark, root, spec.targetTable)
        .select("date", "price_in_dollar").as[(String, Double)]
        .collect().sortBy(_._1).toSeq
    assert(status() === EtlJob.Done)
    val before = tableRows()
    assert(before.map(_._1) === Seq("2025-01-01", "2025-01-02"))

    // incremental delta staged; CRASH injected at the commit point of
    // the (data + state) publish — data dirs staged, manifest absent
    writeFixture(fixtures, spec.queryId, Seq(
      """{"date": "2025-01-02", "price": 1.0}""",
      """{"date": "2025-01-03", "price": 97000.0}"""))
    var calls = 0
    Transaction.commitBarrier = () => {
      calls += 1
      // call 1 = the running marker; call 2 = the atomic data+state
      // commit — the exact window the reference tears in
      if (calls == 2) sys.error("injected crash at the commit point")
    }
    val crashed =
      try pipe.runJob(spec)
      finally Transaction.commitBarrier = () => ()
    // the numbering holds: marker, crashed commit, failure record — no
    // other publish rides a job
    assert(calls === 3)
    // runner-level recovery view: the failure record committed ALONE,
    // the data never did — (failed, old contents) is a truthful pair
    assert(crashed.error.exists(_.contains("injected crash")))
    assert(status() === EtlJob.Failed)
    assert(tableRows() === before,
      "a crashed commit must leave the table at its previous contents")

    // raw process-death view (no recovery code runs): the same torn
    // publish, observed directly — BOTH tables still read old
    Transaction.commitBarrier =
      () => sys.error("injected crash at the commit point")
    intercept[RuntimeException] {
      Transaction.publish(spark, root, Map(
        spec.targetTable -> Transaction.read(spark, root, spec.targetTable)
          .limit(1),
        pipe.StateTable -> pipe.state))
    }
    Transaction.commitBarrier = () => ()
    assert(tableRows() === before)
    assert(status() === EtlJob.Failed)

    // recovery: a plain re-run flips data and state TOGETHER; the
    // watermark keeps the stale 01-02 repeat out
    val r2 = pipe.runJob(spec)
    assert(r2.error.isEmpty && r2.rows === 3L)
    assert(status() === EtlJob.Done)
    assert(tableRows() === Seq(("2025-01-01", 95000.0),
      ("2025-01-02", 96000.0), ("2025-01-03", 97000.0)))
  }

  test("Spark job budget of one runJob on the prices_usd fixture: a " +
      "full refresh takes at most 2 jobs, an incremental job at most 6") {
    import org.apache.spark.graft.SparkJobs
    val base = tmpDir("jobs")
    val fixtures = s"$base/fixtures"
    Files.createDirectories(Paths.get(fixtures))
    val spec = BitcoinWarehouse.pricesUsd
    writeFixture(fixtures, spec.queryId, Seq(
      """{"date": "2025-01-01", "price": 95000.0}""",
      """{"date": "2025-01-02", "price": 96000.0}"""))
    val pipe = atomicPipe(fixtures, s"$base/tx", spec)
    val sc = spark.sparkContext
    val (first, firstJobs) = SparkJobs.count(sc)(pipe.runJob(spec))
    assert(first.error.isEmpty && first.fullRefresh && first.rows === 2L)
    assert(firstJobs <= 2, s"first (full) load took $firstJobs Spark jobs")
    writeFixture(fixtures, spec.queryId, Seq(
      """{"date": "2025-01-02", "price": 1.0}""",
      """{"date": "2025-01-03", "price": 97000.0}"""))
    val (incr, incrJobs) = SparkJobs.count(sc)(pipe.runJob(spec))
    assert(incr.error.isEmpty && !incr.fullRefresh && incr.rows === 3L)
    // the merge dedups the batch in one window: one shuffle of it
    assert(incrJobs <= 6, s"incremental job took $incrJobs Spark jobs")
    val (full, fullJobs) = SparkJobs.count(sc)(
      pipe.runJob(spec, graft.runner.RunOptions(fullRefresh = true)))
    assert(full.error.isEmpty && full.fullRefresh && full.rows === 2L)
    assert(fullJobs <= 2, s"forced full refresh took $fullJobs Spark jobs")
  }

  test("degenerate inputs through the atomic runner: a zero-row delta, " +
      "a zero-row full refresh, and an incremental spec over an empty " +
      "target") {
    val base = tmpDir("degenerate")
    val fixtures = s"$base/fixtures"
    Files.createDirectories(Paths.get(fixtures))
    val spec = BitcoinWarehouse.pricesUsd
    val root = s"$base/tx"
    def rows() = Transaction.read(spark, root, spec.targetTable).count()

    // a full refresh that fetches zero rows: rows = 0, the empty table
    // reads back with its schema, and deep fsck is clean
    Seq.empty[(String, Double)].toDF("date", "price")
      .write.parquet(s"$fixtures/${spec.queryId}.parquet")
    val pipe = atomicPipe(fixtures, root, spec)
    val empty = pipe.runJob(spec)
    assert(empty.error.isEmpty && empty.fullRefresh && empty.rows === 0L)
    val t = Transaction.read(spark, root, spec.targetTable)
    assert(t.columns.sorted.toSeq ===
      Seq("date", "etl_updated_ts", "price_in_dollar"))
    assert(rows() === 0L)
    val fsck = Transaction.fsck(spark, root, deep = true)
    assert(fsck.deepVerified, s"zero-row table must deep-verify: $fsck")

    // an incremental spec whose target exists but is empty has no
    // watermark, so it runs a full refresh
    writeFixture(fixtures, spec.queryId, Seq(
      """{"date": "2025-01-01", "price": 95000.0}""",
      """{"date": "2025-01-02", "price": 96000.0}"""))
    val seeded = pipe.runJob(spec)
    assert(seeded.error.isEmpty && seeded.fullRefresh && seeded.rows === 2L)

    // a zero-row delta: everything fetched is at or below the
    // watermark, the merge adds nothing, and the observed count still
    // equals the committed table's
    val none = pipe.runJob(spec)
    assert(none.error.isEmpty && !none.fullRefresh)
    assert(none.rows === rows() && none.rows === 2L)
  }

  test("the running marker and the failure record launch no Spark job") {
    import org.apache.spark.graft.SparkJobs
    val base = tmpDir("marker_jobs")
    val fixtures = s"$base/fixtures"
    Files.createDirectories(Paths.get(fixtures))
    val spec = BitcoinWarehouse.pricesUsd // no fixture: the fetch fails
    val root = s"$base/tx"
    val pipe = atomicPipe(fixtures, root, spec)
    val sc = spark.sparkContext
    // the marker alone: the job stops at its commit point
    Transaction.commitBarrier =
      () => sys.error("injected crash at the marker's commit point")
    val (_, markerJobs) =
      try SparkJobs.count(sc)(intercept[RuntimeException](pipe.runJob(spec)))
      finally Transaction.commitBarrier = () => ()
    assert(markerJobs === 0, s"the running marker took $markerJobs jobs")
    assert(Transaction.committedTxs(spark, root) === Seq(0L))
    // marker, a fetch that fails before any job, then the failure record
    val (failed, jobs) = SparkJobs.count(sc)(pipe.runJob(spec))
    assert(failed.error.isDefined)
    assert(jobs === 0, s"marker + failure record took $jobs jobs")
    assert(Transaction.committedTxs(spark, root) === Seq(0L, 1L, 2L))
    val row = pipe.state.filter($"job_name" === spec.jobName).head
    assert(row.getAs[Int]("status") === EtlJob.Failed)
    assert(row.getAs[String]("error_message") === failed.error.get.take(2000))
  }

  test("an etl_job row another pipeline object commits between two " +
      "runJobs survives the next job's commits") {
    val base = tmpDir("concurrent")
    val fixtures = s"$base/fixtures"
    Files.createDirectories(Paths.get(fixtures))
    val prices = BitcoinWarehouse.pricesUsd
    val inputs = BitcoinWarehouse.inputs
    writeFixture(fixtures, prices.queryId, Seq(
      """{"date": "2025-01-01", "price": 95000.0}"""))
    writeFixture(fixtures, inputs.queryId, Seq(
      """{"address": "addr1", "tx_id": "t1", "value": 0.5}"""))
    val root = s"$base/tx"
    val a = pipeOf(fixtures, root, Seq(prices, inputs),
      Set(prices.jobName, inputs.jobName))
    val b = new AtomicPipeline(spark, new FixtureSource(fixtures), root)
    assert(a.runJob(prices).error.isEmpty)
    // another writer's update of a row `a` holds
    assert(b.runJob(inputs).error.isEmpty)
    def rowOf(job: String) = b.state.filter($"job_name" === job)
      .as[EtlJob].collect().toSeq
    val byB = rowOf(inputs.jobName)
    assert(byB.map(_.status) === Seq(Some(EtlJob.Done)))
    assert(a.runJob(prices).error.isEmpty)
    assert(rowOf(inputs.jobName) === byB,
      "a held etl_job must not overwrite a row committed since")
    assert(rowOf(prices.jobName).map(_.status) === Seq(Some(EtlJob.Done)))
    assert(a.activeJobs.map(_.job_name) === Seq(prices.jobName, inputs.jobName))
  }

  test("a job with no etl_job row fails naming the row and commits " +
      "nothing; a row with a null job_name is kept") {
    val base = tmpDir("norow")
    val fixtures = s"$base/fixtures"
    BitcoinFixtures.write(fixtures) // the block job would run and land
    val prices = BitcoinWarehouse.pricesUsd
    val block = BitcoinWarehouse.block
    val root = s"$base/tx"
    val unnamed = EtlJob(null, 1L, "t", "k", None, 0, None, None, None, None)
    val pipe = new AtomicPipeline(spark, new FixtureSource(fixtures), root)
    pipe.seed(Seq(unnamed, EtlJob(prices.jobName, prices.queryId,
      prices.targetTable, "date", None, 1, None, None, None, None)))
    val before = Transaction.committedTxs(spark, root)
    val r = pipe.runJob(block)
    assert(r.error.exists(e => e.contains("etl_job") &&
      e.contains(block.jobName)), s"$r")
    assert(r.rows === 0L && !r.fullRefresh)
    assert(Transaction.committedTxs(spark, root) === before)
    assert(!Transaction.manifest(spark, root, before.last)
      .contains(block.targetTable))
    assert(pipe.runJob(prices).error.isEmpty)
    val rows = pipe.state.as[EtlJob].collect().toSeq
    assert(rows.map(_.job_name) === Seq(null, prices.jobName),
      "rows keep their seeded order")
    assert(rows.head === unnamed)
  }

  test("a root whose etl_job is a multi-file Spark write with _SUCCESS " +
      "runs, and leaves a one-file etl_job") {
    val base = tmpDir("legacy_state")
    val fixtures = s"$base/fixtures"
    Files.createDirectories(Paths.get(fixtures))
    val prices = BitcoinWarehouse.pricesUsd
    val inputs = BitcoinWarehouse.inputs
    writeFixture(fixtures, prices.queryId, Seq(
      """{"date": "2025-01-01", "price": 95000.0}"""))
    writeFixture(fixtures, inputs.queryId, Seq(
      """{"address": "addr1", "tx_id": "t1", "value": 0.5}"""))
    val root = s"$base/tx"
    val jobs = Seq(prices, inputs).map(s => EtlJob(s.jobName, s.queryId,
      s.targetTable, s.pKeys.mkString(","), None, 1, None, None, None, None))
    import org.apache.hadoop.fs.Path
    Transaction.publish(spark, root,
      Map("etl_job" -> jobs.toDS().toDF().repartition(2)))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stateDir = new Path(root, s"etl_job/t${Transaction.manifest(spark,
      root, Transaction.committedTxs(spark, root).last)("etl_job")}")
    assert(graft.sources.Integrity.payload(fs, stateDir).size === 2)
    assert(fs.exists(new Path(stateDir, "_SUCCESS")))
    val pipe = new AtomicPipeline(spark, new FixtureSource(fixtures), root)
    val results = pipe.run(Seq(prices, inputs))
    assert(results.forall(r => r.error.isEmpty && r.rows === 1L),
      results.mkString("; "))
    assert(graft.sources.Integrity.payload(fs, stateDir).size === 1)
    val statuses = pipe.state.select("job_name", "status")
      .as[(String, Option[Int])].collect().toMap
    assert(statuses === Map(prices.jobName -> Some(EtlJob.Done),
      inputs.jobName -> Some(EtlJob.Done)))
    assert(Transaction.fsck(spark, root, deep = true).deepVerified)
  }
}
