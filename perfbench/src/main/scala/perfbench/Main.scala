package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints notes as `#` lines, then one JSON result line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"--$k is required"))
    val workload = opt("workload")
    Workload(workload, 0L) // rejects an unknown name before Spark starts
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()
    val t = System.nanoTime()
    val spark = graft.queries.Tables.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionSeconds = (System.nanoTime() - t) / 1e9
    try {
      val out = new Bench(spark, workload, opt("seed").toLong,
        opt("seconds").toInt, opt("trace") == "1", work, sessionSeconds).run()
      print(out)
      println()
    } finally spark.stop()
  }
}
