package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.model.{BitcoinWarehouse, EtlJob}
import graft.operators.Transaction

/** The benchmark's correctness checks against the generator's
  * expectations. Each returns the list of mismatches (empty = correct).
  */
object Check {
  /** Row count, distinct keys and checksum of each table's latest
    * committed version, in one query.
    */
  private def actual(spark: SparkSession, root: String,
      tables: Seq[Columns]): Map[String, Expect] = {
    val parts = tables.map { c =>
      Transaction.read(spark, root, c.spec.targetTable).select(
        lit(c.spec.targetTable).as("t"), col(c.key).cast("string").as("k"),
        xxhash64(c.targets.map(col): _*).cast(DecimalType(38, 0)).as("h"))
    }
    parts.reduce(_ unionByName _).groupBy("t")
      .agg(count(lit(1)), count_distinct(col("k")), sum(col("h")))
      .collect().map { r =>
        r.getString(0) -> Expect(r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) BigInt(0) else BigInt(r.getDecimal(3).toBigInteger))
      }.toMap
  }

  def tables(spark: SparkSession, root: String,
      want: Seq[(Columns, Expect)]): Seq[String] = {
    val got = actual(spark, root, want.map(_._1))
    want.flatMap { case (c, e) =>
      val t = c.spec.targetTable
      val g = got.getOrElse(t, Expect(0, 0, BigInt(0)))
      if (g == e) Nil else Seq(s"$t: expected $e, found $g")
    }
  }

  /** Every named job's `etl_job` row must read status 1 (done). */
  def jobsDone(spark: SparkSession, root: String,
      jobs: Set[String]): Seq[String] = {
    import spark.implicits._
    val rows = Transaction.read(spark, root, "etl_job").as[EtlJob].collect()
      .filter(j => jobs(j.job_name))
    val missing = jobs -- rows.map(_.job_name)
    missing.toSeq.map(j => s"etl_job: no row for $j") ++
      rows.filterNot(_.status.contains(EtlJob.Done))
        .map(j => s"etl_job: ${j.job_name} status ${j.status}")
  }

  def fsck(spark: SparkSession, root: String): Seq[String] = {
    val r = Transaction.fsck(spark, root, deep = true)
    if (r.clean) Nil else Seq(s"fsck: $r")
  }
}

/** The analyst read set run after each round: daily USD volume
  * (transactions joined to the day's price), the latest day's fee
  * statistics, and the ten addresses that received the most outputs.
  */
object Reads {
  val Names: Seq[String] = Seq("daily_volume", "latest_fees", "top_addresses")

  final case class Result(name: String, seconds: Double, filesScanned: Long,
      mismatches: Seq[String])

  private object Plans extends AdaptiveSparkPlanHelper {
    def filesScanned(df: DataFrame): Long =
      collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value)
          .getOrElse(0L)
      }.sum
  }

  /** Times resolving, planning and collecting one query. */
  private def timed(name: String)(query: => DataFrame)(
      check: Array[org.apache.spark.sql.Row] => Seq[String]): Result = {
    val t = System.nanoTime()
    val df = query
    val rows = df.collect()
    val s = (System.nanoTime() - t) / 1e9
    Result(name, s, Plans.filesScanned(df), check(rows))
  }

  def run(spark: SparkSession, root: String, want: ReadExpect,
      tracer: Tracer): Seq[Result] = {
    def read(spec: graft.model.TableSpec) =
      Transaction.read(spark, root, spec.targetTable)
    def q(name: String)(f: => Result) = tracer.span(s"read.$name")(f)
    val volume = q("daily_volume") {
      timed("daily_volume") {
        val tx = read(BitcoinWarehouse.transactions)
        val px = read(BitcoinWarehouse.pricesUsd)
        tx.join(px, tx("block_date") === to_date(px("date")))
          .groupBy(tx("block_date"))
          .agg(sum(tx("output_value") * px("price_in_dollar")).as("usd"))
      } { rs =>
        if (rs.length == want.days) Nil
        else Seq(s"daily_volume: ${rs.length} days, expected ${want.days}")
      }
    }
    val fees = q("latest_fees") {
      timed("latest_fees") {
        val tx = read(BitcoinWarehouse.transactions)
        val fee = col("dimension_attribute_record_id")
        tx.join(tx.agg(max("block_date").as("latest")),
            col("block_date") === col("latest"))
          .agg(count(lit(1)), avg(fee), max(fee))
      } { rs =>
        val r = rs.head
        if (r.getLong(0) == want.latestRows && r.getDouble(2) == want.latestMaxFee) Nil
        else Seq(s"latest_fees: (${r.getLong(0)}, ${r.get(2)}), expected " +
          s"(${want.latestRows}, ${want.latestMaxFee})")
      }
    }
    val top = q("top_addresses") {
      timed("top_addresses") {
        read(BitcoinWarehouse.outputs).groupBy("address").count()
          .orderBy(desc("count"), asc("address")).limit(10)
      } { rs =>
        val got = rs.map(r => (r.getString(0), r.getLong(1))).toSeq
        if (got == want.topAddresses) Nil
        else Seq(s"top_addresses: $got, expected ${want.topAddresses}")
      }
    }
    Seq(volume, fees, top)
  }
}
