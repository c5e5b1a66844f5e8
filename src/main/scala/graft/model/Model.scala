package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}

/** One row of the `etl.etl_job` control table.
  *
  * Mirrors the reference's control schema (reference:
  * `etl_system/etl_job.csv:1`, columns lowercased at load as in
  * `etl_system/load_metadata.ipynb:75`). Status codes preserved from
  * `data_integration/pull_raw/utils.py:80-85,120-125`: -1 = running,
  * 1 = done; this rebuild adds 2 = failed (the reference records
  * `error_message` but never writes a terminal failed status).
  */
case class EtlJob(
    job_name: String,
    query_id: Long,
    target_table: String,
    p_key: String,
    status: Option[Int],
    active: Int,
    start_ts: Option[Timestamp],
    end_ts: Option[Timestamp],
    error_message: Option[String],
    last_updated_ts: Option[Timestamp])

object EtlJob {
  val Running = -1
  val Done = 1
  val Failed = 2
}

/** A derived column declared as a Spark SQL expression string —
  * the rebuild's form of the reference's declarative
  * `transform: dimension_attribute_name: UPPER([entity])` entries
  * (reference: `data_integration/pull_raw/column_transform.yaml:8,16,23,33,49-50`).
  */
case class DerivedColumn(name: String, sqlExpr: String)

/** Declarative per-table sync spec: the reference's
  * `column_transform.yaml` + `etl_job.csv` joined into one config
  * object (reference: `etl_system/etl_job.csv:2-6`,
  * `data_integration/pull_raw/column_transform.yaml:2-48`).
  *
  * @param renames ordered source→target column map; also the projection
  *                (columns not listed are dropped — column pruning).
  * @param watermarkCol target-side column whose MAX drives the
  *                     incremental fetch parameter (reference
  *                     `pull_raw/__main__.py:102`); None syncs by
  *                     full refresh every run (the reference's
  *                     `sync_type` full_refresh, `__main__.py:152-169`).
  * @param sourceSchema declared SOURCE-side schema (pre-rename column
  *                     names). When set, schema-aware sources skip
  *                     their O(payload) inference pre-pass — the
  *                     rebuild's declared-StructType policy (SURVEY §7
  *                     schema-drift note) over the reference's pandas
  *                     dtype inference (`pg_loader.py:49-68`). None
  *                     falls back to inference.
  */
case class TableSpec(
    jobName: String,
    queryId: Long,
    targetTable: String,
    pKeys: Seq[String],
    renames: Seq[(String, String)],
    derived: Seq[DerivedColumn] = Nil,
    watermarkCol: Option[String] = None,
    sourceSchema: Option[StructType] = None)

/** The five-table Bitcoin warehouse the reference syncs
  * (reference: `etl_system/etl_job.csv:2-6` and
  * `data_integration/pull_raw/column_transform.yaml`).
  */
object BitcoinWarehouse {
  val upperEntity = DerivedColumn("dimension_attribute_name", "upper(address)")

  private def declared(fields: (String, DataType)*): Option[StructType] =
    Some(StructType(fields.map { case (n, t) => StructField(n, t) }))

  /** Source schemas follow the reference's observed payload shapes and
    * its five-type system (`pg_loader.py:49-68`): JSON numbers that can
    * be fractional → double, counters → long, the rest → string
    * (timestamps arrive as ISO strings and are typed downstream).
    */
  private val inOutSchema = declared(
    "address" -> StringType, "tx_id" -> StringType, "value" -> DoubleType)

  val inputs = TableSpec(
    jobName = "bitcoin_inputs", queryId = 2177353L,
    targetTable = "bitcoin.input", pKeys = Seq("transaction_id"),
    renames = Seq("address" -> "address", "tx_id" -> "transaction_id",
      "value" -> "bitcoin_amount"),
    derived = Seq(upperEntity),
    sourceSchema = inOutSchema)

  val outputs = TableSpec(
    jobName = "bitcoin_output", queryId = 2177447L,
    targetTable = "bitcoin.output", pKeys = Seq("transaction_id"),
    renames = Seq("address" -> "address", "tx_id" -> "transaction_id",
      "value" -> "bitcoin_amount"),
    derived = Seq(upperEntity),
    sourceSchema = inOutSchema)

  val pricesUsd = TableSpec(
    jobName = "prices_usd", queryId = 5816212L,
    targetTable = "bitcoin.price_usd", pKeys = Seq("date"),
    renames = Seq("date" -> "date", "price" -> "price_in_dollar"),
    watermarkCol = Some("date"),
    sourceSchema = declared("date" -> StringType, "price" -> DoubleType))

  /** The block_time watermark relies on the domain invariant that a
    * confirmed transaction's block_time is immutable. A chain reorg
    * that moves transactions between blocks is a correction event
    * outside incremental semantics — reload the affected range with a
    * full refresh.
    */
  val transactions = TableSpec(
    jobName = "bitcoin_transactions", queryId = 2177280L,
    targetTable = "bitcoin.transactions", pKeys = Seq("transaction_id"),
    renames = Seq("block_time" -> "block_time",
      "fee" -> "dimension_attribute_record_id", "id" -> "transaction_id",
      "input_value" -> "input_value", "output_value" -> "output_value"),
    derived = Seq(DerivedColumn("block_date", "date(block_time)")),
    watermarkCol = Some("block_time"),
    sourceSchema = declared("block_time" -> StringType, "fee" -> DoubleType,
      "id" -> StringType, "input_value" -> DoubleType,
      "output_value" -> DoubleType))

  val block = TableSpec(
    jobName = "bitcoin_block", queryId = 2177266L,
    targetTable = "bitcoin.block", pKeys = Seq("hash"),
    renames = Seq("coinbase", "difficulty", "hash", "height", "mint_reward",
      "nonce", "previous_block_hash", "size", "total_fees", "total_reward",
      "transaction_count", "weight").map(c => c -> c),
    derived = Seq(DerivedColumn("height_bucket", "floor(height / 1000)")),
    sourceSchema = declared("coinbase" -> StringType,
      "difficulty" -> DoubleType, "hash" -> StringType,
      "height" -> LongType, "mint_reward" -> DoubleType,
      "nonce" -> LongType, "previous_block_hash" -> StringType,
      "size" -> LongType, "total_fees" -> DoubleType,
      "total_reward" -> DoubleType, "transaction_count" -> LongType,
      "weight" -> LongType))

  val all: Seq[TableSpec] = Seq(inputs, outputs, pricesUsd, transactions, block)
}
