package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{BitcoinWarehouse, EtlJob}
import graft.operators.Transaction
import graft.runner.AtomicPipeline

/** The benchmark's own checks: the generator is deterministic, the
  * expected checksum is Spark's, and the correctness check fails on a
  * deliberately damaged copy of a warehouse it passes.
  */
class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = Files.createTempDirectory(
    Files.createDirectories(Paths.get("target", "test-tmp")), "spec")
  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }

  private def lines(seed: Long): Seq[String] = {
    val w = Workload("small_sync", seed)
    val out = Seq.newBuilder[String]
    val d = new Delivery {
      def source = null
      def serve(tag: String,
          tables: Seq[(graft.model.TableSpec, (String => Unit) => Unit)]) = {
        tables.foreach { case (_, gen) => gen(out += _) }
        Served(tag, 0, 0)
      }
    }
    w.seed(d)
    (0 until 3).foreach(w.round(d, _))
    out.result()
  }

  test("the same seed gives byte-identical payloads; another seed does not") {
    assert(lines(7) == lines(7))
    assert(lines(7) != lines(8))
  }

  test("the expected checksum equals Spark's xxhash64 sum on every table") {
    val w = Workload("small_sync", 3)
    val byTable = scala.collection.mutable.Map.empty[String, Seq[String]]
    val d = new Delivery {
      def source = null
      def serve(tag: String,
          tables: Seq[(graft.model.TableSpec, (String => Unit) => Unit)]) = {
        tables.foreach { case (spec, gen) =>
          val b = Seq.newBuilder[String]; gen(b += _)
          byTable(spec.targetTable) = b.result()
        }
        Served(tag, 0, 0)
      }
    }
    w.seed(d)
    import spark.implicits._
    w.expects.foreach { case (c, e) =>
      val df = spark.read.schema(c.spec.sourceSchema.get)
        .json(byTable(c.spec.targetTable).toDS())
      val sum = df.select(xxhash64(c.spec.renames.map(r => col(r._1)): _*)
        .cast(DecimalType(38, 0)).as("h")).agg(org.apache.spark.sql.functions.sum("h"))
        .head().getDecimal(0).toBigInteger
      assert(BigInt(sum) == e.checksum, c.spec.targetTable)
    }
  }

  test("the stub counts requests and refuses a wrong key") {
    val s = new DuneStub
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      val req = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"${s.baseUrl}/api/v1/query/1/execute"))
        .header("X-Dune-API-Key", "wrong")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString("{}")).build()
      val resp = http.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 401)
      assert(s.requests.get() == 1)
    } finally s.stop()
  }

  test("the tail is the highest percentile with ten samples above it") {
    val xs = (1 to 30).map(_.toDouble)
    assert(Stats.tail(xs) == ((20.0, 100.0 * 20 / 30)))
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((3.0, 100.0)))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Replaces the data files of `table`'s latest version in `root` with
    * `f` applied to its rows (sidecar and manifest left as they were).
    */
  private def tamper(root: String, table: String)(
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val v = Transaction.manifest(spark, root,
      Transaction.committedTxs(spark, root).last)(table)
    val member = Paths.get(s"$root/$table/t$v")
    val tmp = dir.resolve(s"tamper-${System.nanoTime()}")
    f(spark.read.parquet(member.toString)).coalesce(1).write.parquet(tmp.toString)
    Files.list(member).iterator().asScala.toList
      .filterNot(_.getFileName.toString == "_checksums").foreach(Files.delete)
    Files.list(tmp).iterator().asScala.foreach(p =>
      Files.move(p, member.resolve(p.getFileName)))
  }

  test("the check passes on a synced warehouse and fails on damaged copies") {
    val w = Workload("small_sync", 11)
    val delivery = new StubDelivery
    try {
      val root = dir.resolve("wh").toString
      val pipe = new AtomicPipeline(spark,
        new TracedSource(new Tracer(false, spark.sparkContext), delivery), root)
      pipe.seed(BitcoinWarehouse.all.map(s => EtlJob(s.jobName, s.queryId,
        s.targetTable, s.pKeys.mkString(","), None, 1, None, None, None, None)))
      w.seed(delivery)
      assert(pipe.run(BitcoinWarehouse.all).forall(_.error.isEmpty))
      w.round(delivery, 0)
      assert(pipe.run(BitcoinWarehouse.all, w.roundOpts).forall(_.error.isEmpty))
      def verdict(r: String) =
        Check.tables(spark, r, w.expects) ++
          Check.jobsDone(spark, r, BitcoinWarehouse.all.map(_.jobName).toSet) ++ Check.fsck(spark, r)
      assert(verdict(root).isEmpty)

      val txTable = BitcoinWarehouse.transactions.targetTable
      val feeName = "dimension_attribute_record_id"
      // one fee off by a satoshi: same rows, same keys, other checksum
      val valueCopy = dir.resolve("value").toString
      copyTree(Paths.get(root), Paths.get(valueCopy))
      tamper(valueCopy, txTable) { df =>
        val first = df.orderBy("transaction_id").head().getAs[String]("transaction_id")
        df.withColumn(feeName, when(col("transaction_id") === first,
          col(feeName) + 1e-8).otherwise(col(feeName)))
      }
      val v = verdict(valueCopy)
      assert(v.exists(_.startsWith(s"$txTable: expected")), v)
      assert(v.exists(_.startsWith("fsck:")), v)

      // a row lost from the outputs table
      val rowCopy = dir.resolve("row").toString
      copyTree(Paths.get(root), Paths.get(rowCopy))
      tamper(rowCopy, BitcoinWarehouse.outputs.targetTable)(_.limit(10))
      assert(verdict(rowCopy).exists(_.startsWith("bitcoin.output: expected")))

      // a job left marked failed
      val stateCopy = dir.resolve("state").toString
      copyTree(Paths.get(root), Paths.get(stateCopy))
      Transaction.publish(spark, stateCopy, Map("etl_job" ->
        Transaction.read(spark, stateCopy, "etl_job")
          .withColumn("status", lit(EtlJob.Failed))))
      assert(verdict(stateCopy).exists(_.contains("status Some(2)")))
      assert(verdict(root).isEmpty, "the original must stay intact")
    } finally delivery.close()
  }
}
