package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: a Spark plan builder over a testdata dir and,
  * when SQL-expressible, the equivalent ANSI SQL for the DuckDB oracle
  * (driver contract — see SparkEntry). Column names and row order are
  * part of the contract: both sides alias identically and end with the
  * same ORDER BY; double aggregates are rounded on both sides so
  * summation-order ULP noise cannot flip the hash compare.
  *
  * Rounding caveat: engines disagree on round-to-decimal exactly at
  * half boundaries (observed: DuckDB 0.43475 → 0.4348 vs JVM
  * BigDecimal-of-nearest-double → 0.4347). When a derived ratio can
  * land on a boundary, truncate instead — `floor(x * 1e4) / 1e4` is
  * pure IEEE and bit-identical everywhere (see
  * `TextAnalysis.qualityScore`). Sums of input data rarely hit
  * boundaries, but any new FAIL that differs in the last rounded digit
  * should reach for the floor-scaled form on both sides.
  */
case class NamedQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** All testdata tables are single parquet files: `$dir/$name.parquet`. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Register every testdata table as a temp view so the full surface
    * is reachable from `spark.sql(...)` — with [[configure]]'s
    * extensions the custom functions (fnv1a64, cosine_sim, …) are
    * callable there too.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(t => apply(spark, dir, t).createOrReplaceTempView(t))

  /** Event-time normalizer for the `events` table, adaptive to how the
    * generator wrote `ts` — the column has shipped as parquet
    * TIMESTAMP(NANOS) (read as nanos LongType under `nanosAsLong`) and
    * as plain TIMESTAMP micros (read as TIMESTAMP_NTZ, no UTC
    * adjustment flag). Every consumer normalizes to session-zone
    * TimestampType (session pinned UTC), so windows/watermarks and the
    * DuckDB oracle — which reads the same file natively — see the same
    * instants whichever physical type the file carries.
    */
  def eventTime(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions
          .expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions
          .col("ts").cast("timestamp"))
      case _ => df
    }

  private val FileImpl = "spark.hadoop.fs.file.impl"

  /** The `file:` class a [[configure]]d session runs on: the one `jvm`
    * (the JVM's system properties) names, else
    * [[graft.sources.PosixLocalFileSystem]].
    */
  private[graft] def fileImpl(jvm: scala.collection.Map[String, String]): String =
    jvm.getOrElse(FileImpl, classOf[graft.sources.PosixLocalFileSystem].getName)

  /** Session config every graft entry point uses. `nanosAsLong` is
    * kept for the TIMESTAMP(NANOS) variant of the `events` table
    * (Spark has no nanosecond timestamp type and otherwise refuses the
    * file); `ts` then arrives as nanos-since-epoch LongType and
    * [[eventTime]] converts. Harmless for the micros variant.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new graft.functions.GraftExtensions)
    // `file:` without a `chmod` fork per created file, on the driver
    // and in every task; a class the JVM names is kept
    .config(FileImpl, fileImpl(sys.props))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    // r15: spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold is
    // back at Spark's default (0 = never convert SMJ to SHJ). The r14
    // `128m` won focused single-query A/Bs (q2 -22%, q9 -19%) but LOST
    // the full bench at 32 cores — OPTIMIZATION_r15.md's A/B: 128m
    // 121.9 s vs off 114.5 s (geomean 1.074 across all 257 queries),
    // and the driver's r14 run showed the same shape at 136 s. The
    // mechanism is §5 memory discipline: SHJ build maps are per-task
    // and unspillable, and ~250 queries' worth of conversions in one
    // shared 8 GB local-mode heap churns the old gen — the tax lands
    // broadly (the text-kernel family, no joins at all, regressed
    // worst). On a cluster with per-task heap headroom the 128m bound
    // IS scale-safe by construction (runtime per-partition byte
    // check); enable it per deployment with a full-workload A/B, never
    // here in the shared session builder. Shuffle codec stays lz4:
    // zstd was A/B-measured +10-25% slower at bench scale (CPU-bound
    // shuffles).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // recursive CTEs (q_recursive_cte): the default 1M-row guard trips
    // at sf0.1 already (|orders| × log2(maxKey) rows pass through the
    // loop); 50M covers sf1 with the same headroom while still
    // guarding against a genuinely non-terminating recursion
    .config("spark.sql.cteRecursionRowLimit", "50000000")
    .config("spark.ui.enabled", "false")
}
