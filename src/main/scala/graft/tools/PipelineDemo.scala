package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.model.{BitcoinWarehouse, EtlJob}
import graft.operators.Transaction
import graft.runner.AtomicPipeline
import graft.sources.FixtureSource

/** Smoke entry: runs the full metadata-driven pipeline over synthesized
  * bitcoin-shaped fixtures — full refresh, then an incremental delta,
  * then a round with one broken job to show per-job error isolation,
  * then a crash injected AT the commit point to show the atomic
  * (data + job-state) publish.
  * `sbt "runMain graft.tools.PipelineDemo [workDir] [options]"`
  *
  * Every round runs on [[graft.runner.AtomicPipeline]]: each job's
  * merged table and its done-state row flip in ONE manifest rename —
  * no observable (new data, stale state) or (done state, old data)
  * pair exists at any crash point.
  *
  * Options mirror the reference CLI (`arguments.py:1-41`): when any of
  * `--select job...` / `--full-refresh` / `--incremental-value v` is
  * given, a fourth round re-runs the sync under those options after
  * the demo rounds, printing what the flags changed.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.filterNot(_.startsWith("--")).getOrElse(
      Files.createTempDirectory("graft_demo").toString)
    val opts = graft.runner.RunOptions.parse(
      args.dropWhile(!_.startsWith("--")).toSeq)
    val spark = graft.queries.Tables.configure(SparkSession.builder()
      .master("local[4]")
      .appName("graft-pipeline-demo")
      .config("spark.sql.shuffle.partitions", "4"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val fixtures = s"$base/fixtures"
    Files.createDirectories(Paths.get(fixtures))
    def fix(queryId: Long, lines: String*): Unit =
      Files.write(Paths.get(s"$fixtures/$queryId.json"),
        lines.mkString("\n").getBytes("UTF-8"))

    val specs = BitcoinWarehouse.all
    fix(2177353L,
      """{"address":"bc1qa", "tx_id":"t1", "value":0.5}""",
      """{"address":"bc1qb", "tx_id":"t2", "value":1.25}""")
    fix(2177447L,
      """{"address":"bc1qc", "tx_id":"t1", "value":0.49}""")
    fix(5816212L,
      """{"date":"2025-01-01", "price":95000.0}""",
      """{"date":"2025-01-02", "price":96000.0}""")
    fix(2177280L,
      """{"block_time":"2025-01-01T00:01:00", "fee":0.01, "id":"t1", "input_value":0.5, "output_value":0.49}""")
    fix(2177266L,
      """{"coinbase":"cb", "difficulty":1.0, "hash":"h1", "height":1, "mint_reward":3.125, "nonce":42, "previous_block_hash":"h0", "size":100, "total_fees":0.01, "total_reward":3.135, "transaction_count":1, "weight":400}""")

    val pipe = new AtomicPipeline(spark, new FixtureSource(fixtures),
      s"$base/warehouse")
    pipe.seed(specs.map(s => EtlJob(s.jobName, s.queryId, s.targetTable,
      s.pKeys.mkString(","), None, 1, None, None, None, None)))

    println(s"== work dir: $base")
    println("== round 1: initial sync (all full refresh, atomic commits)")
    pipe.run(specs).foreach(r => println(s"   $r"))

    println("== round 2: incremental — prices delta (1 new date, 1 stale)")
    fix(5816212L,
      """{"date":"2025-01-02", "price":1.0}""",
      """{"date":"2025-01-03", "price":97000.0}""")
    pipe.run(Seq(BitcoinWarehouse.pricesUsd)).foreach(r => println(s"   $r"))
    println("   bitcoin.price_usd contents:")
    Transaction.read(spark, s"$base/warehouse",
        BitcoinWarehouse.pricesUsd.targetTable)
      .orderBy("date").show(false)

    println("== round 3: broken job (fixture deleted) + healthy job")
    Files.delete(Paths.get(s"$fixtures/2177353.json"))
    pipe.run(Seq(BitcoinWarehouse.inputs, BitcoinWarehouse.block))
      .foreach(r => println(s"   $r"))

    if (!opts.isDefault) {
      println(s"== round 4: CLI-driven run: $opts")
      pipe.run(specs, opts).foreach(r => println(s"   $r"))
    }

    println("== final etl_job control table:")
    pipe.state.orderBy("job_name").show(false)

    // ---- crash injection: the atomicity the runner exists for ----
    println("== atomic round: crash injected AT the commit point — " +
      "state and table must stay consistent")
    fix(5816212L,
      """{"date":"2025-01-01", "price":95000.0}""",
      """{"date":"2025-01-02", "price":96000.0}""")
    val pspec = BitcoinWarehouse.pricesUsd
    println(s"   baseline: ${pipe.runJob(pspec)}")
    fix(5816212L, """{"date":"2025-01-03", "price":97000.0}""")
    var calls = 0
    Transaction.commitBarrier = () => {
      calls += 1
      if (calls == 2) sys.error("injected crash at the commit point")
    }
    val crashed = try pipe.runJob(pspec)
    finally Transaction.commitBarrier = () => ()
    println(s"   crashed run: $crashed")
    println("   post-crash: table rows = " +
      Transaction.read(spark, s"$base/warehouse", pspec.targetTable)
        .count() + " (unchanged), state:")
    pipe.state.select("job_name", "status", "error_message").show(false)
    println(s"   recovery re-run: ${pipe.runJob(pspec)}")
    println("   recovered table:")
    Transaction.read(spark, s"$base/warehouse", pspec.targetTable)
      .orderBy("date").show(false)
    spark.stop()
  }
}
