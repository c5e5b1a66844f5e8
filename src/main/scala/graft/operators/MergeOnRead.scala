package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Integrity

/** Merge-on-read deletes — equality-delete tombstones, the
  * Iceberg/Delta "deletion vector" trade re-expressed at the parquet
  * layout level. [[Ops.deleteWhere]] is copy-on-write: each delete
  * rewrites the table, O(table) per delete. At 100 TB a daily
  * right-to-be-forgotten batch cannot pay that; merge-on-read flips
  * the cost: a delete APPENDS a small tombstone file of matching keys
  * (O(matches)), the read path subtracts tombstones with one ANTI
  * join (broadcast while the tombstone set is small — the common
  * case), and a periodic [[compact]] folds tombstones into a single
  * rewrite, amortizing N deletes into one table pass.
  *
  * Both claims are MEASURED (tools.MorDecade → SCALE.md round-10
  * decade): the anti join broadcasts at 3 MB of tombstones and flips
  * to a full-base SortMergeJoin past `autoBroadcastJoinThreshold`
  * (30 MB at 10× — reads degrade ~15× over the plain scan until
  * compaction), which yields the compaction-cadence rule: compact
  * before accumulated tombstone bytes approach the broadcast
  * threshold (~150 k sha-256 keys / ~1.3 M bigint keys at the 10 MB
  * default). The amortization row pins N=100 tombstone batches + one
  * compact at 2.0× cheaper than 100 copy-on-write deletes on a table
  * only 150 k rows deep, with the gap growing linearly in table size.
  *
  * Layout:
  * {{{
  * root/data/...parquet        immutable base rows
  * root/deletes/d<uuid>/...    one dir per delete batch: key tombstones
  * }}}
  *
  * CONTENT INTEGRITY: every written dir gets an
  * [[graft.sources.Integrity]] sidecar, [[fsck]] is the probe
  * (deep = cluster-fanned content re-hash), and both
  * compaction paths VERIFY every input byte against the sidecars
  * before folding — a fold re-lands rows under a fresh sidecar, so an
  * unverified fold would launder bit rot into "verified" base forever.
  *
  * Deletes are KEYED (equality deletes): a tombstone kills every base
  * row with that key, including keys tombstoned twice (idempotent by
  * construction — the anti join does not care). Readers that can
  * tolerate deleted rows briefly (pure analytics over append-mostly
  * data) may scan `data/` directly and skip the join; [[readCurrent]]
  * is the correct view.
  */
object MergeOnRead {

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataDir(root: String) = s"$root/data"
  private def deletesDir(root: String) = s"$root/deletes"

  /** The sidecar-listed files of `dirs` as check entries (content
    * re-hashed when `deep`), plus the count of payload files no sidecar
    * vouches for — dirs without one, or files a sidecar does not list.
    * The unvouched files are readable by the views, so they are warned
    * about loudly, never passed as verified.
    */
  private def sidecarEntries(spark: SparkSession, dirs: Seq[String],
      deep: Boolean, op: String): (Seq[Integrity.Entry], Int) = {
    var unverified = 0
    val entries = dirs.flatMap { d =>
      val p = new Path(d)
      Integrity.vouch(fsOf(spark, p), p).toSeq.flatMap { v =>
        val unlisted = v.unlisted.size
        if (unlisted > 0) {
          unverified += unlisted
          Integrity.warnUnverified(s"merge-on-read $op: " +
            s"$unlisted file(s) of $d " +
            (if (v.side.isEmpty) "(no checksum sidecar)"
            else "outside its checksum sidecar") +
            " are UNVERIFIED (legacy write or crashed sidecar stamp); " +
            "re-write the batch to regain content integrity")
        }
        v.entries(d, deep)
      }
    }
    (entries, unverified)
  }

  /** VERIFY BEFORE FOLD — the verify-before-retire rule compaction
    * must run under: the fold reads its inputs through the parquet
    * parser and re-lands them as a FRESH base with a fresh sidecar,
    * so corrupt input bytes would be re-blessed as verified forever.
    * Re-hash every sidecar-listed file of `dirs` cluster-fanned and
    * refuse loudly on any damage; unvouched files fold with a LOUD
    * unverified count (returned), never silently.
    */
  private def verifyFolding(spark: SparkSession, dirs: Seq[String],
      op: String): Int = {
    val (entries, unverified) =
      sidecarEntries(spark, dirs, deep = true, op)
    Integrity.refuseDamaged(spark, entries, bad => s"merge-on-read $op: " +
      s"$bad — refusing to fold (and re-bless) corrupt input; restore " +
      "it from a replica or backup first")
    unverified
  }

  /** @param checksumMismatches files whose re-hashed content no longer
    *        matches the sidecar (deep only) — the silent-bit-rot catch.
    * @param unverifiedFiles payload files no sidecar vouches for
    *        (legacy writes, crash-window dirs) — DECLINED loudly,
    *        never passed as verified.
    */
  final case class MorFsckReport(
      dirsChecked: Int,
      filesChecked: Int,
      missingFiles: Seq[String],
      sizeMismatches: Seq[String],
      checksumMismatches: Seq[String],
      unverifiedFiles: Int,
      deep: Boolean) {
    def clean: Boolean = missingFiles.isEmpty &&
      sizeMismatches.isEmpty && checksumMismatches.isEmpty
    /** Every payload byte re-hashed and matched. */
    def deepVerified: Boolean = clean && deep && unverifiedFiles == 0
  }

  /** MOR-root integrity probe — the [[graft.sources.GraftSink.fsck]]
    * contract at the tombstone layout: every sidecar-listed file of
    * the base and every live tombstone/update dir must exist at its
    * recorded size (`deep = true` additionally re-hashes content
    * cluster-fanned — the only probe that catches same-size bit rot in
    * a replica that sits between compactions for days). Violations
    * collect O(damage); read-only.
    */
  def fsck(spark: SparkSession, root: String,
      deep: Boolean = false): MorFsckReport = {
    val fs = fsOf(spark, new Path(root))
    def children(dir: String): Seq[String] = {
      val p = new Path(dir)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).filter(_.isDirectory)
        .map(_.getPath.toString).toSeq
    }
    val dirs = Seq(dataDir(root)).filter(d =>
      fs.exists(new Path(d))) ++
      children(deletesDir(root)) ++ children(updatesDir(root))
    val (entries, unverified) = sidecarEntries(spark, dirs, deep, "fsck")
    val a = Integrity.audit(spark, entries, deep, identity, _ => "")
    MorFsckReport(dirs.size, entries.size, a.missing, a.sizes, a.sums,
      unverified, deep)
  }

  /** `__seq` is RESERVED for the sequence-aware path: base rows are
    * implicitly stamped 0 and appended rows get the apply sequence, so
    * a user column of that name would be silently overwritten on write
    * and dropped by [[readCurrentSeq]] — corrupted round trips with no
    * error. Same fail-loud discipline as [[requireSingleMode]]: reject
    * at the entry point where the collision is introduced.
    */
  private def requireNoSeqColumn(df: DataFrame, op: String): Unit =
    require(!df.columns.contains("__seq"),
      s"merge-on-read $op: column name '__seq' is reserved for apply " +
        "sequence stamping — rename it before writing")

  /** Create the table from `df`. */
  def init(df: DataFrame, root: String): Unit = {
    requireNoSeqColumn(df, "init")
    df.write.mode("overwrite").parquet(dataDir(root))
    Integrity.stamp(df.sparkSession, dataDir(root))
  }

  /** Append a tombstone batch: the keys of CURRENT rows matching
    * `predicate`. Returns the number of keys tombstoned. Base data is
    * never touched — cost is one current-view scan + an O(matches)
    * append.
    */
  def deleteWhere(spark: SparkSession, root: String, keyCol: String,
      predicate: Column): Long = {
    // mode guard runs inside readCurrent (the first data access)
    val victims = readCurrent(spark, root, keyCol)
      .filter(predicate).select(keyCol).distinct()
    // ONE pass computes and lands the tombstone batch (r15, guide §1):
    // the previous count()-then-write ran the current-view scan + anti
    // join TWICE per delete; the observe metric rides the write job,
    // so the count is exact and free. An empty batch briefly leaves an
    // empty dir that is removed before return — a crash inside that
    // window leaves an empty, maskless tombstone dir the fsck flags as
    // sidecar-less (the documented crash-window contract).
    val dest = s"${deletesDir(root)}/d" +
      java.util.UUID.randomUUID().toString.take(8)
    val obs = new org.apache.spark.sql.Observation()
    victims.observe(obs, count(lit(1)).as("n"))
      .write.mode("errorifexists").parquet(dest)
    val n = obs.get("n").asInstanceOf[Long]
    if (n > 0) Integrity.stamp(spark, dest)
    else {
      val p = new Path(dest)
      fsOf(spark, p).delete(p, true)
    }
    n
  }

  /** Append an EXPLICIT tombstone batch — the CDC-APPLY shape: the
    * doomed keys arrive in the feed itself, so unlike [[deleteWhere]]
    * no current-view scan is needed. Cost is O(keys): one small
    * append, zero base reads — the delete half of a change-stream
    * apply stays per-trigger-bounded however large the replica grows
    * (the StreamingDecade `cdc_apply` pair measures this against the
    * copy-on-write apply's O(replica) rewrite). NOTE tombstones mask
    * the key EVERYWHERE in the base, including rows appended later —
    * an upsert of a tombstoned key needs compaction first (or the
    * graftsink MERGE path, which rewrites at file granularity).
    */
  def deleteKeys(spark: SparkSession, root: String,
      keys: DataFrame): Unit = {
    requireSingleMode(spark, root, seqMode = false)
    val dest = s"${deletesDir(root)}/d" +
      java.util.UUID.randomUUID().toString.take(8)
    keys.distinct().write.mode("errorifexists").parquet(dest)
    Integrity.stamp(spark, dest)
  }

  /** The live view: base rows minus tombstoned keys. One LEFT ANTI
    * join; Catalyst broadcasts the tombstone side while it is small
    * (the usual case between compactions).
    */
  def readCurrent(spark: SparkSession, root: String,
      keyCol: String): DataFrame = {
    requireSingleMode(spark, root, seqMode = false)
    val base = spark.read.parquet(dataDir(root))
    batches(spark, deletesDir(root), "d").fold(base) { glob =>
      base.join(spark.read.parquet(glob).distinct(), Seq(keyCol),
        "left_anti")
    }
  }

  /** The glob over `dir`'s `<prefix>*` batch dirs, or None when there
    * is none — an empty `deletes/` (a first delete that matched
    * nothing, or a crash before its batch landed) must read as "no
    * tombstones", not fail the glob read with PATH_NOT_FOUND.
    */
  private def batches(spark: SparkSession, dir: String,
      prefix: String): Option[String] = {
    val glob = s"$dir/$prefix*"
    val p = new Path(glob)
    Option(fsOf(spark, p).globStatus(p))
      .filter(_.exists(_.isDirectory)).map(_ => glob)
  }

  // ------------------------------------------------------------------
  // Sequence-aware apply — the full merge-on-read CDC consumer
  // (equality deletes with sequence numbers, the Iceberg v2 design):
  // plain tombstones above mask a key EVERYWHERE, so an upsert
  // (delete old + append new in one batch) is inexpressible; stamping
  // every appended row and tombstone with its apply SEQUENCE makes it
  // one rule — a tombstone at seq s masks rows with __seq < s, never
  // the row its own batch appends at s. Per batch the apply cost is
  // one O(keys) tombstone append plus one O(rows) data append, ZERO
  // base reads (StreamsSpec gates that with an input-records counter);
  // the read view pays one broadcast join against the small tombstone
  // relation until [[compactSeq]] folds everything back to a plain
  // scan. Batch dirs are NAMED BY SEQUENCE and written with overwrite,
  // so a checkpoint replay of a batch rewrites the same content —
  // apply is idempotent by construction, matching the copy-on-write
  // twin's replay law.
  //
  // Layout (beside the plain-tombstone dirs):
  // {{{
  // root/data/...parquet      immutable base rows (implicit __seq 0)
  // root/updates/u<seq>/      appended rows, stamped __seq
  // root/deletes/t<seq>/      (key, __seq) equality tombstones
  // }}}

  private def updatesDir(root: String) = s"$root/updates"

  /** Append one apply batch's I/U rows at sequence `seq` (seq ≥ 1;
    * base rows sit at 0). O(rows), zero base reads, replay-idempotent
    * (the seq-named dir is overwritten with identical content).
    */
  def appendRowsAt(spark: SparkSession, root: String, rows: DataFrame,
      seq: Long): Unit = {
    require(seq >= 1, s"seq must be >= 1 (base is 0), got $seq")
    requireNoSeqColumn(rows, "appendRowsAt")
    requireSingleMode(spark, root, seqMode = true)
    rows.withColumn("__seq", lit(seq))
      .write.mode("overwrite").parquet(s"${updatesDir(root)}/u$seq")
    Integrity.stamp(spark, s"${updatesDir(root)}/u$seq")
  }

  /** Append one apply batch's equality tombstones at sequence `seq`:
    * masks every version of each key BELOW `seq` (the batch's own
    * [[appendRowsAt]] rows survive). O(keys), zero base reads,
    * replay-idempotent.
    */
  def deleteKeysAt(spark: SparkSession, root: String, keys: DataFrame,
      seq: Long): Unit = {
    require(seq >= 1, s"seq must be >= 1 (base is 0), got $seq")
    requireNoSeqColumn(keys, "deleteKeysAt")
    requireSingleMode(spark, root, seqMode = true)
    keys.distinct().withColumn("__seq", lit(seq))
      .write.mode("overwrite").parquet(s"${deletesDir(root)}/t$seq")
    Integrity.stamp(spark, s"${deletesDir(root)}/t$seq")
  }

  /** The sequence-aware live view: base (seq 0) ∪ appended versions,
    * minus every row masked by a later tombstone of its key. One left
    * join against max-tombstone-seq per key — Catalyst broadcasts
    * that side while it is small (the usual case between
    * compactions) and falls back to a shuffle join when a long
    * uncompacted tombstone history outgrows the threshold, so the
    * view never force-broadcasts itself into an OOM. A key's
    * surviving versions then reduce to the latest (each upsert
    * tombstones its predecessors, so at most the rows of one seq
    * survive per key — no window needed).
    */
  def readCurrentSeq(spark: SparkSession, root: String,
      keyCol: String): DataFrame = {
    requireSingleMode(spark, root, seqMode = true)
    seqView(spark, root, keyCol,
      batches(spark, updatesDir(root), "u").toSeq,
      batches(spark, deletesDir(root), "t").toSeq)
  }

  /** The sequence-aware view over the base and the given update and
    * tombstone paths (globs or dirs; none reads as none): base rows at
    * seq 0 ∪ the updates, left-joined to each key's max tombstone seq,
    * keeping the rows no later tombstone masks.
    */
  private def seqView(spark: SparkSession, root: String, keyCol: String,
      updates: Seq[String], tombstones: Seq[String]): DataFrame = {
    val base = spark.read.parquet(dataDir(root))
      .withColumn("__seq", lit(0L))
    val all = if (updates.isEmpty) base
    else base.unionByName(spark.read.parquet(updates: _*)
      .withColumn("__seq", col("__seq").cast("long")))
    val view = if (tombstones.isEmpty) all
    else {
      val tomb = spark.read.parquet(tombstones: _*)
        .groupBy(keyCol).agg(max("__seq").as("__tseq"))
      all.join(tomb, Seq(keyCol), "left")
        .filter(col("__tseq").isNull || col("__seq") >= col("__tseq"))
        .drop("__tseq")
    }
    view.drop("__seq")
  }

  /** Fold appended versions and tombstones into a new base: one
    * staged rewrite of the sequence-aware view, then the side dirs
    * drop and reads are a plain scan again — the periodic batch job
    * that bounds read-side join cost at 100 TB.
    *
    * HORIZON DISCIPLINE: compact only sequences at or below the
    * consuming stream's COMMITTED checkpoint — `horizonSeq` IS that
    * boundary, enforced in code, not by caller convention. Replay of
    * a batch is idempotent because its seq-named dirs are overwritten
    * with the same content — but compaction deletes those dirs, so a
    * fold that swallowed a NOT-yet-checkpointed batch's dirs would
    * see the replay re-apply it on top of the folded base: insert-only
    * rows (no tombstone of their own) land twice, once at seq 0 in
    * the base and once at the re-applied seq. Dirs at seq >
    * `horizonSeq` therefore survive the fold untouched; the partial
    * fold is exact because a surviving tombstone at seq s masks
    * `__seq < s` and every folded row re-enters the base at seq 0 < s,
    * while a folded tombstone (seq ≤ horizon) can never have masked a
    * surviving row (those all sit at seq > horizon ≥ its seq). The
    * default folds everything — correct only on a quiesced root.
    */
  def compactSeq(spark: SparkSession, root: String, keyCol: String,
      horizonSeq: Long = Long.MaxValue): Unit = {
    requireSingleMode(spark, root, seqMode = true)
    val fs = fsOf(spark, new Path(root))
    def seqDirs(dir: String, prefix: String): Seq[(Long, Path)] = {
      val p = new Path(dir)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath)
        .flatMap(d => d.getName.stripPrefix(prefix).toLongOption
          .filter(_ => d.getName.startsWith(prefix)).map(_ -> d))
    }
    val (upIn, upOut) = seqDirs(updatesDir(root), "u")
      .partition(_._1 <= horizonSeq)
    val (tIn, tOut) = seqDirs(deletesDir(root), "t")
      .partition(_._1 <= horizonSeq)
    if (upIn.isEmpty && tIn.isEmpty) return
    // verify-before-RETIRE, overlapped with the fold (see [[compact]];
    // dirs past the horizon are not folded — their replay overwrites
    // them, nothing to prove there)
    foldWithVerify(spark, dataDir(root) +:
      (upIn ++ tIn).map(_._2.toString), "compactSeq",
      () => seqView(spark, root, keyCol, upIn.map(_._2.toString),
        tIn.map(_._2.toString)), dataDir(root))
    // the folded base is the new integrity reference — stamp it before
    // the inputs drop (a crash between the two leaves BOTH the new
    // sidecar and the old dirs: re-running the fold is idempotent)
    Integrity.stamp(spark, dataDir(root))
    // delete ONLY the folded dirs; anything past the horizon (an
    // uncommitted trigger's rewrite-idempotent dirs) stays for its
    // replay to overwrite
    (upIn ++ tIn).foreach { case (_, d) => fs.delete(d, true) }
    if (upOut.isEmpty) fs.delete(new Path(updatesDir(root)), true)
    if (tOut.isEmpty) fs.delete(new Path(deletesDir(root)), true)
    ()
  }

  /** The two tombstone flavors share `root/deletes` but are read by
    * DIFFERENT view/compaction paths (plain: `d*` dirs, no versions;
    * sequence-aware: `t*` dirs + `updates/`). A mixed root is wrong
    * long before compaction destroys anything: each mode's VIEW
    * silently ignores the other's tombstones (wrong query results
    * with no error), and compacting would then delete the unapplied
    * batches — resurrecting deleted rows. So EVERY entry point
    * (writes, reads, compactions) checks the root is single-mode and
    * fails loudly at the point the mix would first be introduced or
    * consumed. Cost: one directory listing per call, beside IO that
    * already lists or writes the same directory.
    */
  private def requireSingleMode(spark: SparkSession, root: String,
      seqMode: Boolean): Unit = {
    val del = new Path(deletesDir(root))
    val fs = fsOf(spark, del)
    val foreign =
      (if (fs.exists(del))
        fs.listStatus(del).map(_.getPath.getName)
          .filter(n => if (seqMode) n.startsWith("d") else n.startsWith("t"))
          .toSeq
      else Seq.empty) ++
        (if (!seqMode && fs.exists(new Path(updatesDir(root))))
          Seq("updates/") else Seq.empty)
    require(foreign.isEmpty,
      s"merge-on-read root $root mixes tombstone modes: the " +
        s"${if (seqMode) "sequence-aware" else "plain"} path would " +
        s"ignore/destroy ${foreign.take(3).mkString(", ")}" +
        (if (foreign.size > 3) s" (+${foreign.size - 3} more)" else "") +
        " — use one mode per table")
  }

  /** THE MEASURED CADENCE RULE, AS CODE (round-10 MorDecade,
    * SCALE.md): the read-side anti join broadcasts the tombstone
    * relation while it is small and flips to a full-base
    * SortMergeJoin once accumulated tombstone bytes outgrow
    * `spark.sql.autoBroadcastJoinThreshold` — reads then degrade
    * ~15× until someone compacts. Round 10 derived the rule
    * ("compact before tombstone bytes approach the broadcast
    * threshold") but nothing enforced it; at 100 TB a
    * right-to-be-forgotten backlog would silently flip EVERY reader
    * to a full-base shuffle. This is the enforcement: called between
    * apply triggers (the `st_cdc_apply_mor` loop does), it measures
    * the backlog with one directory summary (O(tombstone files), no
    * data read) and folds it back into the base only when the
    * MEASURED flip point nears — default fire point 3/4 of the
    * session's broadcast threshold, override for a custom cadence.
    * Detects the root's tombstone mode itself (plain `d*` vs
    * sequence-aware `t*`/`updates`); the compaction it triggers runs
    * the mode's own guarded path. Returns whether it compacted.
    *
    * HORIZON (sequence-aware roots): pass `horizonSeq` = the highest
    * COMMITTED sequence — from a foreachBatch loop applying at
    * `seq = batchId + 1`, that is `batchId` (batches below the
    * replaying one are checkpointed; the current one is not). The
    * fold then provably skips a crashed attempt's already-on-disk
    * t/u dirs at the replaying batch's own seq: calling "before
    * applying the next batch" is NOT enough on crash-replay — the
    * crashed attempt wrote its dirs, the checkpoint never committed,
    * and an unbounded fold would swallow them so the replay's
    * rewrite duplicates every insert-only row (no tombstone guards
    * an 'I' op). The default folds everything — only safe on a
    * quiesced root with no consumer to replay.
    */
  def autoCompact(spark: SparkSession, root: String, keyCol: String,
      thresholdBytes: Long = -1L,
      horizonSeq: Long = Long.MaxValue): Boolean = {
    val del = new Path(deletesDir(root))
    val fs = fsOf(spark, del)
    if (!fs.exists(del)) return false
    val backlog = fs.getContentSummary(del).getLength
    val thr =
      if (thresholdBytes > 0) thresholdBytes
      else {
        val b = org.apache.spark.network.util.JavaUtils
          .byteStringAsBytes(spark.conf
            .get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
        // threshold -1 = broadcast disabled: every tombstone join
        // already shuffles, but unbounded backlog still bloats every
        // read — fall back to the 10MB default's cadence
        (if (b > 0) b else 10L << 20) * 3 / 4
      }
    if (backlog < thr) return false
    val seqMode = fs.exists(new Path(updatesDir(root))) ||
      fs.listStatus(del).exists(_.getPath.getName.startsWith("t"))
    if (seqMode) compactSeq(spark, root, keyCol, horizonSeq)
    else { compact(spark, root, keyCol); () }
    true
  }

  /** Fold every tombstone into the base: one staged rewrite of the
    * current view, then the tombstone dirs drop. After compaction the
    * read path is a plain scan again. Returns the number of tombstone
    * batches folded.
    */
  def compact(spark: SparkSession, root: String, keyCol: String): Int = {
    // mode guard runs inside readCurrent below, before the rewrite;
    // the early no-tombstone return touches nothing
    val del = new Path(deletesDir(root))
    val fs = fsOf(spark, del)
    if (!fs.exists(del)) return 0
    val batches = fs.listStatus(del).count(_.isDirectory)
    if (batches == 0) return 0
    // verify-before-RETIRE, overlapped (r15, guide §2.6): the raw-byte
    // re-hash and the fold's parquet read are independent jobs over
    // the same immutable inputs, so they run concurrently; the fold's
    // output stays in STAGING until the verify pass joins clean (the
    // beforeSwap gate), so corrupt bytes are still never re-blessed —
    // the law is verify-before-retire, and nothing retires before the
    // join. A corrupt file may crash the fold read first; the catch
    // below still surfaces the verify pass's refusal (the actionable
    // message) ahead of the parquet decode error.
    foldWithVerify(spark,
      dataDir(root) +: fs.listStatus(del).filter(_.isDirectory)
        .map(_.getPath.toString).toSeq, "compact",
      () => readCurrent(spark, root, keyCol), dataDir(root))
    Integrity.stamp(spark, dataDir(root))
    fs.delete(del, true)
    batches
  }

  /** Shared fold engine: kick the [[verifyFolding]] re-hash off on a
    * second thread, stage the fold with [[ParquetIO.overwriteSafe]],
    * and JOIN the verify before the staged base swaps in. `view` is a
    * THUNK: corrupt bytes can crash even the parquet footer read while
    * the view is being CONSTRUCTED, so the whole fold — plan building
    * included — runs inside the guarded region, and a verify refusal
    * wins over any concurrent fold-read failure: planted corruption is
    * always reported as the refusal it is.
    */
  private def foldWithVerify(spark: SparkSession, dirs: Seq[String],
      op: String, view: () => DataFrame, dest: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val verify = Future(verifyFolding(spark, dirs, op))
    def join(): Unit = { Await.result(verify, Duration.Inf); () }
    try ParquetIO.overwriteSafe(view(), dest, beforeSwap = () => join())
    catch {
      case e: Throwable =>
        try join() catch { case refusal: Throwable => throw refusal }
        throw e
    }
  }
}
