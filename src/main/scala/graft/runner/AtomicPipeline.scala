package graft.runner

import java.sql.Timestamp
import java.time.Instant
import java.time.temporal.ChronoUnit

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, GraftSqlInternal, Observation, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._

import graft.model.{EtlJob, TableSpec}
import graft.operators.{Ops, Transaction}
import graft.sources.Source

/** One job's outcome — per-job error isolation is a semantic requirement
  * (the reference continues the loop on failure,
  * `pull_raw/__main__.py:173-177`).
  */
case class JobResult(jobName: String, rows: Long, fullRefresh: Boolean,
    error: Option[String])

/** The E2 pipeline loop (reference `pull_raw/__main__.py:132-184`),
  * Spark-native, with an ATOMIC (data + job-state) commit:
  *
  *  - metadata scan → active specs (S3/P5)
  *  - per job: start → fetch (watermark pushed to the source, P7) →
  *    rename/project (P1/P2) → derived transforms (F1) → audit stamp
  *    (P3) → load (S6 full refresh | S7 merge-upsert) → end
  *  - incremental decision tree: missing target or no watermark value ⇒
  *    full refresh (reference `__main__.py:102-115`)
  *  - any failure: record and continue with the next job.
  *
  * The reference has a torn window: the target table lands, and the
  * `etl_job` status update is a SECOND write (`pull_raw/utils.py:120-125`
  * runs after the loader returns), so a crash between the two leaves
  * status=-1 with data already landed — an operator reading the
  * control table cannot tell a dead run from a live one, and cannot
  * tell whether the data is old or new.
  *
  * Here both tables live under ONE [[Transaction]] root and each job's
  * completion is ONE cross-table publish:
  *
  * {{{
  * Transaction.publish(root, Map(
  *   "bitcoin.price_usd" -> mergedRelation,
  *   "etl_job"           -> stateWithJobDone))
  * }}}
  *
  * The manifest rename is the only commit point, so every observable
  * state is consistent BY CONSTRUCTION:
  *  - before the publish: old data + old state (running/-1 at most —
  *    a legal "in flight" pair);
  *  - crash INSIDE the publish (data staged, manifest absent): readers
  *    resolve the previous manifest — still old data + old state; the
  *    next run at the same txId deletes the orphan staging;
  *  - after the publish: new data + status=1, together.
  * The status=-1 "running" marker and the status=2 failure record are
  * deliberately their OWN transactions: (running, old data) and
  * (failed, old data) are true statements, and the reference's error
  * isolation (failed job recorded, loop continues) needs the failure
  * to commit even though the data never did.
  *
  * Scale: the merge relation is [[Ops.mergeUpsertDf]] (anti-join +
  * union); the transaction adds one manifest rename per job and
  * carries unchanged tables forward by reference, so a 100-table
  * warehouse pays O(1) metadata per job commit.
  *
  * Spark jobs: only the watermark max, the fetch, the data write, the
  * stamp of a large data dir (more than a few small files, see
  * [[graft.sources.Integrity.stamp]]) and a read of `etl_job` (once per
  * [[run]], in [[activeJobs]], and on a version change) launch any.
  * The object holds the `etl_job` rows with the member version
  * (the manifest entry's txId) it last read or committed them as, and
  * every state update is the reference's single-row UPDATE on those
  * rows, in place and in seeded order, with one driver `Instant` per
  * commit for its timestamps; before each update the latest manifest's
  * `etl_job` entry is compared with the held version, and only a
  * different one (another writer committed state) is re-read, with one
  * collect — a concurrent edit is never overwritten. The rows publish
  * as a driver-resident member ([[Transaction.publish]]): one parquet
  * file written and stamped on this thread, so the running marker and
  * the failure record launch no job at all. Their `LocalRelation` is
  * serialized by one `EtlJob` encoder held for the pipeline's
  * lifetime, so no commit derives, binds or compiles it again. Every
  * [[Transaction.read]] (the current table, a re-read) takes its
  * schema from a parquet footer on this thread; a full refresh never
  * reads the current table; and the committed row count is an
  * `Observation` on the data write.
  */
class AtomicPipeline(spark: SparkSession, source: Source, root: String) {

  val StateTable = "etl_job"

  /** The `etl_job` row encoder and its serializer (not thread-safe,
    * like the rest of this object's state).
    */
  private val jobEncoder = ExpressionEncoder[EtlJob]()
  private val toRow = jobEncoder.createSerializer()

  /** The `etl_job` rows as last read or committed here, with the member
    * version they are; see [[rows]].
    */
  private var held: Option[(Long, Seq[EtlJob])] = None

  def seed(jobs: Seq[EtlJob]): Unit = commit(Map.empty, jobs)

  /** Seed from a CSV shaped like the reference's
    * `etl_system/etl_job.csv` (S4): header names are lowercased
    * (reference `load_metadata.ipynb:66-84`), each column is cast to
    * its [[EtlJob]] type, and `last_updated_ts` is the load time.
    */
  def seedFromCsv(csvPath: String): Unit = {
    val raw = Ops.normalizeNames(
      spark.read.option("header", "true").csv(csvPath))
      .withColumn("last_updated_ts", current_timestamp())
    seed(raw.select(jobEncoder.schema.map(f =>
      col(f.name).cast(f.dataType)): _*).as(jobEncoder).collect().toSeq)
  }

  def state: DataFrame = Transaction.read(spark, root, StateTable)

  /** The run's metadata scan (the reference's `WHERE active = 1`): one
    * read of the committed `etl_job` whatever is held, so each run
    * starts from the table as it is on disk; the run's jobs then update
    * the rows it read.
    */
  def activeJobs: Seq[EtlJob] = {
    held = None
    rows.filter(_.active == 1)
  }

  /** The committed `etl_job` rows: the held ones while the latest
    * manifest's `etl_job` entry is still the version they were read or
    * committed as, else that version read once (one Spark collect) and
    * held.
    */
  private def rows: Seq[EtlJob] = {
    val last = Transaction.committedTxs(spark, root).lastOption
    val version = last.flatMap(Transaction.manifest(spark, root, _).get(StateTable))
    held match {
      case Some((v, rs)) if version.contains(v) => rs
      case _ =>
        val rs = Transaction.read(spark, root, StateTable, last)
          .as(jobEncoder).collect().toSeq
        held = version.map(_ -> rs)
        rs
    }
  }

  /** `cur` with one job's row transformed in place — the reference's
    * single-row `UPDATE ... WHERE job_name = %s`
    * (`pull_raw/utils.py:80-85`), minus the write (the caller owns the
    * commit). Rows with a null `job_name` are kept as they are.
    */
  private def stateWith(cur: Seq[EtlJob], jobName: String)(
      set: EtlJob => EtlJob): Seq[EtlJob] =
    cur.map(r => if (r.job_name == jobName) set(r) else r)

  /** Publish `data` and `state` (the `etl_job` member) as one
    * transaction, and hold `state` at the committed version.
    */
  private def commit(data: Map[String, DataFrame],
      state: Seq[EtlJob]): Unit = {
    // the plan `state.toDS()` builds, serialized by the held encoder
    val relation = LocalRelation(
      DataTypeUtils.toAttributes(jobEncoder.schema), state.map(toRow(_).copy()))
    val tx = Transaction.publish(spark, root,
      data + (StateTable -> GraftSqlInternal.ofRows(spark, relation)))
    held = Some((tx, state))
  }

  /** One commit's `current_timestamp()`, at the precision Spark keeps. */
  private def now(): Option[Timestamp] =
    Some(Timestamp.from(Instant.now().truncatedTo(ChronoUnit.MICROS)))

  private def tableNames: Set[String] =
    Transaction.committedTxs(spark, root).lastOption
      .map(Transaction.manifest(spark, root, _).keySet)
      .getOrElse(Set.empty)

  def runJob(spec: TableSpec): JobResult = runJob(spec, RunOptions())

  def runJob(spec: TableSpec, opts: RunOptions): JobResult = {
    val current = rows
    // no control row: nowhere to record the run, so nothing runs and
    // nothing commits
    if (!current.exists(_.job_name == spec.jobName))
      return JobResult(spec.jobName, 0L, fullRefresh = false,
        Some(s"no $StateTable row for job '${spec.jobName}' under $root"))
    // running marker: its own commit — "started, not finished" must be
    // visible before the work, and is a consistent pair with old data
    val started = now()
    commit(Map.empty, stateWith(current, spec.jobName)(_.copy(
      status = Some(EtlJob.Running), start_ts = started,
      error_message = None, last_updated_ts = started)))
    val attempt = Try {
      val table = spec.targetTable
      val forcedFull = opts.fullRefresh
      // a full refresh never looks at the current table
      val existing =
        if (!forcedFull && tableNames.contains(table))
          Some(Transaction.read(spark, root, table))
        else None
      // the max over an empty table is null, so an empty target reads
      // as no watermark — a full refresh
      val watermark = spec.watermarkCol match {
        case Some(c) if !forcedFull => opts.incrementalValue.orElse(
          existing.flatMap(Ops.maxWatermark(_, c)))
        case _ => None
      }
      val doFull = forcedFull || watermark.isEmpty
      val fetched = source.fetch(spark, spec, watermark)
      val shaped = Ops.auditStamp(
        Ops.applyDerived(
          Ops.renameProject(fetched, spec.renames), spec.derived))
      val merged =
        if (doFull) shaped
        else Ops.mergeUpsertDf(existing, shaped, spec.pKeys)
      // the committed row count rides the data write itself
      val observed = new Observation()
      val ended = now()
      // THE commit: data and job state flip in one manifest rename
      commit(Map(table -> merged.observe(observed, count(lit(1)).as("rows"))),
        stateWith(rows, spec.jobName)(_.copy(status = Some(EtlJob.Done),
          end_ts = ended, last_updated_ts = ended)))
      (observed, doFull)
    }
    attempt match {
      case Success((observed, doFull)) =>
        // no read follows the commit point: the count was observed on
        // the write that landed, so nothing after the commit can fail
        // and publish status=Failed over data that DID land (the
        // (failed, new-data) pair this class exists to make impossible)
        JobResult(spec.jobName, observed.get("rows").asInstanceOf[Long],
          doFull, None)
      case Failure(e) =>
        // error isolation: the failure record commits alone — the data
        // never did, so (failed, old data) is the truthful pair
        val failed = now()
        commit(Map.empty, stateWith(rows, spec.jobName)(_.copy(
          status = Some(EtlJob.Failed), end_ts = failed,
          error_message = Some(e.toString.take(2000)),
          last_updated_ts = failed)))
        JobResult(spec.jobName, 0L, fullRefresh = false,
          Some(e.toString))
    }
  }

  /** Run every spec whose job is active in the control table, in order,
    * isolating failures per job. `--select` narrows to the named jobs
    * but never overrides the control table's active flag: an operator
    * can point a run at one table, not resurrect a disabled job from
    * the command line (reference CLI surface `arguments.py:26-33`).
    */
  def run(specs: Seq[TableSpec],
      opts: RunOptions = RunOptions()): Seq[JobResult] = {
    val active = activeJobs.map(_.job_name).toSet
    specs.filter(s => active(s.jobName))
      .filter(s => opts.select.forall(_.contains(s.jobName)))
      .map(runJob(_, opts))
  }
}
