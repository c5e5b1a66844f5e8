package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max}

import graft.model.{BitcoinWarehouse, EtlJob, TableSpec}
import graft.operators.{Ops, Transaction}
import graft.runner.{AtomicPipeline, JobResult, RunOptions}
import graft.sources.{DuneDataSource, Source}

/** The Source handed to `AtomicPipeline`: the workload's real source,
  * with a span around every fetch.
  */
final class TracedSource(tracer: Tracer, delivery: Delivery) extends Source {
  override def fetch(spark: SparkSession, spec: TableSpec,
      watermark: Option[Any]) =
    tracer.span("sources.fetch")(delivery.source.fetch(spark, spec, watermark))
}

/** What one timed round measured. */
final case class RoundStats(tag: String, seconds: Double, served: Served,
    bytesWritten: Long, filesWritten: Long, commits: Int, jobs: Int,
    rowsLanded: Long, readSeconds: Double, readFiles: Long,
    httpRequests: Long)

/** One benchmark run: set up (several times, median reported), then
  * timed sync rounds for `seconds`, checking the warehouse after each.
  */
final class Bench(spark: SparkSession, workloadName: String, seed: Long,
    seconds: Int, trace: Boolean, work: Path, sessionSeconds: Double) {
  val setupReps = 2
  val warmRounds = 1
  private val cores = spark.sparkContext.defaultParallelism
  private val tracer = new Tracer(trace, spark.sparkContext)
  private val fs = new HPath(work.toString)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  private def now = System.nanoTime()
  private def since(t: Long) = (now - t) / 1e9

  private def delete(p: Path): Unit =
    fs.delete(new HPath(p.toString), true)

  /** Records `n` attempted operations and whichever of them failed. */
  private def tally(n: Int, bad: Seq[String]): Unit = {
    attempted += n
    failures ++= bad
  }

  /** The program's own pipeline, with spans around the calls `run`
    * makes into it; with tracing off the spans record nothing.
    */
  private def pipeline(source: Source, root: String): AtomicPipeline =
    new AtomicPipeline(spark, source, root) {
      override def activeJobs: Seq[EtlJob] =
        tracer.span("runner.active_jobs")(super.activeJobs)
      override def runJob(s: TableSpec, o: RunOptions): JobResult =
        tracer.span(s"runner.job.${s.jobName}")(super.runJob(s, o))
    }

  private def runRound(pipe: AtomicPipeline, opts: RunOptions): Seq[JobResult] =
    tracer.span("runner.round")(pipe.run(BitcoinWarehouse.all, opts))

  /** Checks one round's outcome: job errors, table contents, etl_job. */
  private def check(root: String, w: Workload, results: Seq[JobResult]): Unit = {
    val bad = results.flatMap(r => r.error.map(e => s"${r.jobName}: $e")) ++
      Check.tables(spark, root, w.expects) ++
      Check.jobsDone(spark, root, results.map(_.jobName).toSet)
    tally(results.size, bad)
  }

  /** Bytes and data files of every member directory and manifest first
    * committed after transaction `after`.
    */
  private def written(root: String, after: Long): (Long, Long, Int) = {
    val txs = Transaction.committedTxs(spark, root).filter(_ > after)
    var bytes, files = 0L
    txs.foreach { tx =>
      bytes += fs.getFileStatus(new HPath(s"$root/_commits/tx$tx.json")).getLen
      Transaction.manifest(spark, root, tx).foreach { case (t, v) =>
        if (v == tx) {
          val it = fs.listFiles(new HPath(s"$root/$t/t$v"), true)
          while (it.hasNext) {
            val f = it.next()
            bytes += f.getLen
            if (f.getPath.getName.endsWith(".parquet")) files += 1
          }
        }
      }
    }
    (bytes, files, txs.size)
  }

  private def lastTx(root: String): Long =
    Transaction.committedTxs(spark, root).lastOption.getOrElse(-1L)

  def run(): String = {
    val delivery = Workload(workloadName, seed).delivery(work)
    try measure(delivery) finally delivery.close()
  }

  private def measure(delivery: Delivery): String = {
    val source = new TracedSource(tracer, delivery)
    // set-up, repeated on fresh warehouses: payload generation, the
    // etl_job seed and the initial full sync
    var w: Workload = null
    var root: String = null
    var pipe: AtomicPipeline = null
    val seedTimes = (0 until setupReps).map { rep =>
      if (root != null) delete(Paths.get(root))
      root = work.resolve(s"warehouse$rep").toString
      tracer.round = s"seed$rep"
      val t = now
      w = Workload(workloadName, seed)
      w.seed(delivery)
      pipe = pipeline(source, root)
      pipe.seed(BitcoinWarehouse.all.map(s => EtlJob(s.jobName, s.queryId,
        s.targetTable, s.pKeys.mkString(","), None, 1, None, None, None, None)))
      val results = runRound(pipe, RunOptions())
      (since(t), results)
    }
    // only the warehouse the timed rounds continue from is checked
    tracer.round = "seed.check"
    check(root, w, seedTimes.last._2)
    // the repeated seed syncs warm the JIT on the write path; a round of
    // the timed kind, read set included, warms the incremental and read
    // paths
    val tWarm = now
    (0 until warmRounds).foreach { k =>
      tracer.round = s"warm$k"
      w.warm(delivery, k)
      val results = runRound(pipe, w.warmOpts)
      tracer.round = s"warm$k.check"
      check(root, w, results)
      val reads = Reads.run(spark, root, w.reads, tracer)
      tally(reads.size, reads.flatMap(_.mismatches))
    }
    val warmSeconds = since(tWarm)
    val setupSeconds = sessionSeconds + median(seedTimes.map(_._1)) + warmSeconds

    val rounds = mutable.ArrayBuffer.empty[RoundStats]
    val inference0 = DuneDataSource.inferenceRuns.get()
    val stub = delivery match { case s: StubDelivery => Some(s.stub); case _ => None }
    // a fixed number of rounds, so every run of a seed lands the same
    // inputs: two, and one more for every 5 s of --seconds beyond 10
    val timedRounds = math.max(2, seconds / 5)
    var k = warmRounds
    while (rounds.size < timedRounds) {
      val tag = s"r$k"
      tracer.round = tag
      val served = w.round(delivery, k)
      val before = lastTx(root)
      val http0 = stub.map(_.requests.get()).getOrElse(0L)
      val t = now
      val results = runRound(pipe, w.roundOpts)
      val roundSeconds = since(t)
      val http = stub.map(_.requests.get()).getOrElse(0L) - http0
      tracer.round = s"$tag.check"
      val (bytes, files, commits) = written(root, before)
      check(root, w, results)
      tracer.round = s"$tag.read"
      val reads = Reads.run(spark, root, w.reads, tracer)
      tally(reads.size, reads.flatMap(_.mismatches))
      rounds += RoundStats(tag, roundSeconds, served, bytes, files, commits,
        results.size, results.map(_.rows).sum, reads.map(_.seconds).sum,
        reads.map(_.filesScanned).sum, http)
      k += 1
    }
    val inferenceRuns = DuneDataSource.inferenceRuns.get() - inference0

    val tEnd = now
    val (liveBytes, liveRows) = live(root)
    val probes = if (trace) probe(root, pipe, delivery) else Map.empty[String, Double]
    tally(1, Check.fsck(spark, root))
    val endSeconds = since(tEnd)

    val roundTimes = rounds.map(_.seconds).toSeq
    val readTimes = rounds.map(_.readSeconds).toSeq
    val (roundTail, roundPct) = tail(roundTimes)
    val (readTail, readPct) = tail(readTimes)
    val notes = Seq(
      f"rounds=${rounds.size} round_tail_s=p$roundPct%.0f of ${roundTimes.size}" +
        f" read_tail_s=p$readPct%.0f of ${readTimes.size}",
      f"setup: session=$sessionSeconds%.3fs seed_syncs=${seedTimes.map(s => f"${s._1}%.3f").mkString("/")}s" +
        f" warm=${warmSeconds}%.3fs over $warmRounds rounds; end checks $endSeconds%.3fs",
      "rounds_s=" + roundTimes.map(x => f"$x%.3f").mkString(","),
      "reads_s=" + readTimes.map(x => f"$x%.3f").mkString(","),
      s"attempted=$attempted failed=${failures.size}") ++
      failures.take(20).map("FAILED " + _)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupSeconds, "s"),
        ("round_p50_s", median(roundTimes), "s"),
        ("round_tail_s", roundTail, "s"),
        ("rows_per_s", rounds.map(_.served.rows).sum / roundTimes.sum, "rows/s"),
        ("write_amp", rounds.map(_.bytesWritten).sum.toDouble /
          rounds.map(_.served.bytes).sum, "ratio"),
        ("live_bytes_per_row", liveBytes.toDouble / liveRows, "B/row"),
        ("read_p50_s", median(readTimes), "s"),
        ("read_tail_s", readTail, "s"))
      else layers(rounds.toSeq, inferenceRuns) ++
        probes.toSeq.sortBy(_._1).map { case (n, v) =>
          (n, v, if (n.endsWith("_s")) "s" else "count") }

    if (trace) tracer.writeJson(work.getParent.resolve("traces")
      .resolve(s"$workloadName-seed$seed.json"))
    val out = new StringBuilder
    notes.foreach(n => out.append(s"# $n\n"))
    if (trace) out.append(report(rounds.toSeq))
    out.append(Result.json(failures.isEmpty, attempted, failures.size, metrics))
    out.toString
  }

  /** Bytes of the latest committed version of every table, and its rows. */
  private def live(root: String): (Long, Long) = {
    val m = Transaction.manifest(spark, root, lastTx(root))
    m.foldLeft((0L, 0L)) { case ((b, r), (t, v)) =>
      (b + fs.getContentSummary(new HPath(s"$root/$t/t$v")).getLength,
        r + Transaction.read(spark, root, t).count())
    }
  }

  // ---- traced run: per-layer numbers ---------------------------------

  private def layers(rounds: Seq[RoundStats],
      inferenceRuns: Long): Seq[(String, Double, String)] = {
    tracer.drain()
    val all = tracer.spans
    val byRound = rounds.map(r => r -> all.filter(_.round == r.tag))
    def med(f: (RoundStats, Seq[Span]) => Double) = median(byRound.map(f.tupled))
    def spanSum(ss: Seq[Span], name: String) =
      ss.filter(_.name == name).map(_.ms).sum / 1e3
    val jobNames = BitcoinWarehouse.all.map(_.jobName)
    // a job no timed round runs reports its seed-sync time
    val jobTimes = jobNames.map { j =>
      val name = s"runner.job.$j"
      val timed = byRound.flatMap(_._2.filter(_.name == name)).map(_.ms / 1e3)
      val t = if (timed.nonEmpty) median(timed)
        else median(all.filter(s => s.name == name &&
          s.round == s"seed${setupReps - 1}").map(_.ms / 1e3))
      (s"runner.job_s.$j", t, "s")
    }
    def unattributed(ss: Seq[Span]) =
      ss.filter(_.name.startsWith("runner.job.")).map(tracer.selfMs(_, all)).sum / 1e3
    val counters = byRound.map { case (r, _) =>
      r -> tracer.listener.sum(r.tag, tracer.listener.spansOf(r.tag)) }
    def cmed(f: (RoundStats, Counters) => Double) = median(counters.map(f.tupled))
    val readCounters = rounds.map(r =>
      tracer.listener.sum(s"${r.tag}.read", tracer.listener.spansOf(s"${r.tag}.read")))
    val readQueries = Reads.Names.map { n =>
      (s"read.query_s.$n", median(all.filter(s => s.name == s"read.$n" &&
        rounds.exists(r => s.round == s"${r.tag}.read")).map(_.ms / 1e3)), "s")
    }
    jobTimes ++ Seq(
      ("runner.unattributed_s", med((_, ss) => unattributed(ss)), "s"),
      ("runner.unattributed_share", med((_, ss) => unattributed(ss) /
        (ss.filter(_.name.startsWith("runner.job.")).map(_.ms).sum / 1e3)), "ratio"),
      ("runner.active_jobs_s", med((_, ss) => spanSum(ss, "runner.active_jobs")), "s"),
      ("runner.commits_per_job", med((r, _) => r.commits.toDouble / r.jobs), "count"),
      ("sources.fetch_s", med((_, ss) => spanSum(ss, "sources.fetch")), "s"),
      ("sources.payload_bytes", med((r, _) => r.served.bytes.toDouble), "bytes"),
      ("sources.rows_served", med((r, _) => r.served.rows.toDouble), "rows"),
      ("sources.http_requests", med((r, _) => r.httpRequests.toDouble), "count"),
      ("sources.inference_runs", inferenceRuns.toDouble, "count"),
      ("transaction.bytes_written", med((r, _) => r.bytesWritten.toDouble), "bytes"),
      ("transaction.files_written", med((r, _) => r.filesWritten.toDouble), "count"),
      ("transaction.useful_write_ratio", med((r, _) =>
        r.served.rows.toDouble / r.rowsLanded), "ratio"),
      ("spark.jobs", cmed((_, c) => c.jobs.toDouble), "count"),
      ("spark.stages", cmed((_, c) => c.stages.toDouble), "count"),
      ("spark.tasks", cmed((_, c) => c.tasks.toDouble), "count"),
      ("spark.executor_run_ms", cmed((_, c) => c.runMs.toDouble), "ms"),
      ("spark.executor_cpu_ms", cmed((_, c) => c.cpuMs.toDouble), "ms"),
      ("spark.gc_ms", cmed((_, c) => c.gcMs.toDouble), "ms"),
      ("spark.busy_ratio", cmed((r, c) =>
        c.runMs / (r.seconds * 1e3 * cores)), "ratio"),
      ("spark.shuffle_write_bytes", cmed((_, c) => c.shuffleWrite.toDouble), "bytes"),
      ("spark.shuffle_read_bytes", cmed((_, c) => c.shuffleRead.toDouble), "bytes"),
      ("spark.spill_bytes", cmed((_, c) => c.spill.toDouble), "bytes"),
      ("spark.input_bytes", cmed((_, c) => c.input.toDouble), "bytes"),
      ("spark.output_bytes", cmed((_, c) => c.output.toDouble), "bytes"),
      ("spark.output_records", cmed((_, c) => c.outputRecords.toDouble), "count"),
      ("read.files_scanned", median(rounds.map(_.readFiles.toDouble)), "count"),
      ("read.input_bytes", median(readCounters.map(_.input.toDouble)), "bytes"),
      ("trace.round_p50_s", median(rounds.map(_.seconds)), "s")) ++ readQueries
  }

  /** Isolated probes of single layers against the final warehouse
    * state; each runs three times and reports its median.
    */
  private def probe(root: String, pipe: AtomicPipeline,
      delivery: Delivery): Map[String, Double] = {
    tracer.round = "probe"
    val spec = BitcoinWarehouse.transactions
    val table = spec.targetTable
    def timed(body: => Any): Double = { val t = now; body; since(t) }
    def med3(body: => Any): Double = median((0 until 3).map(_ => timed(body)))
    val probeRoot = work.resolve("probe").toString
    // the last round's delta, fetched and shaped once and held locally,
    // so the merge and publish probes time no Source work
    val shaped = Ops.auditStamp(Ops.applyDerived(Ops.renameProject(
      delivery.source.fetch(spark, spec, None), spec.renames), spec.derived))
    val delta = spark.createDataFrame(shaped.collectAsList(), shaped.schema)
    def merged = Ops.mergeUpsertDf(
      Some(Transaction.read(spark, root, table)), delta, spec.pKeys)
    val out = Map(
      "transaction.resolve_s" -> med3 {
        Transaction.manifest(spark, root, Transaction.committedTxs(spark, root).last)
      },
      "transaction.watermark_probe_s" -> med3 {
        val t = Transaction.read(spark, root, table)
        if (!t.isEmpty) t.agg(max(col(spec.watermarkCol.get))).head()
      },
      "transaction.count_probe_s" -> med3 {
        Transaction.read(spark, root, table).count()
      },
      "ops.merge_s" -> med3 {
        merged.write.format("noop").mode("overwrite").save()
      },
      "ops.target_rows_scanned" ->
        Transaction.read(spark, root, table).count().toDouble,
      "transaction.publish_s" -> med3 {
        Transaction.publish(spark, probeRoot, Map(table -> merged))
      },
      "transaction.state_publish_s" -> med3 {
        Transaction.publish(spark, probeRoot, Map(pipe.StateTable -> pipe.state))
      })
    delete(Paths.get(probeRoot))
    out
  }

  /** Self time and unattributed remainder of each `runner.job`. */
  private def report(rounds: Seq[RoundStats]): String = {
    val all = tracer.spans
    val sb = new StringBuilder
    BitcoinWarehouse.all.map(_.jobName).foreach { j =>
      val js = all.filter(s => s.name == s"runner.job.$j" &&
        rounds.exists(_.tag == s.round))
      if (js.nonEmpty) {
        val total = js.map(_.ms).sum
        val kids = all.filter(s => js.exists(_.id == s.parent))
        val fetch = kids.filter(_.name == "sources.fetch").map(_.ms).sum
        val self = js.map(tracer.selfMs(_, all)).sum
        sb.append(f"# runner.job.$j: ${js.size} runs, ${total / js.size}%.1f ms/run;" +
          f" fetch ${fetch / total * 100}%.1f%%, spark jobs" +
          f" ${(total - fetch - self) / total * 100}%.1f%%," +
          f" unattributed ${self / total * 100}%.1f%%\n")
      }
    }
    sb.toString
  }

  private def median(xs: Seq[Double]): Double = Stats.median(xs)
  private def tail(xs: Seq[Double]): (Double, Double) = Stats.tail(xs)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it (the
    * maximum when there are fewer than eleven samples), and which
    * percentile that is.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
}

object Result {
  def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
}
