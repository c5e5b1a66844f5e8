package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{GraftSink, Integrity}

/** Multi-table atomic publish — the cross-table half of
  * [[Ops.snapshotWrite]]'s single-table versioning, the Iceberg-lite
  * commit protocol every warehouse needs once two tables must move
  * together (facts + their dimension, a table + its index, orders +
  * lineitem): readers either see ALL tables at transaction N or all at
  * N−1, never a torn mix.
  *
  * Layout:
  * {{{
  * root/<table>/t<txId>/...parquet     data, immutable once committed
  * root/<table>/t<txId>/_checksums     the [[Integrity]] sidecar
  * root/_commits/tx<txId>.json         manifest: table -> txId written
  * root/_promoted                      failover fence (see [[promote]])
  * }}}
  *
  * The ONLY atomic primitive used is single-path filesystem rename, on
  * the manifest file: data dirs stage under `__staging_*` and rename
  * into place FIRST (invisible to readers — readers resolve paths only
  * through committed manifests), then the manifest itself stages and
  * renames into `_commits/` — that rename IS the commit point. A crash
  * anywhere before it leaves orphan `t<txId>` dirs that no manifest
  * references; the next publish at the same txId deletes and re-stages
  * them (they are uncommitted by construction — their txId is absent
  * from `_commits`).
  *
  * Unchanged tables are NOT rewritten: the new manifest carries the
  * previous table→version entries forward, so a 100-table warehouse
  * publishing one changed table pays one table write + one tiny
  * manifest, and time travel ([[read]] with `tx`) still resolves every
  * table of the historical snapshot. Single-committer semantics, like
  * every staged swap in [[ParquetIO]] — a real deployment puts a lock
  * (or a CAS-capable store) under `_commits/`.
  *
  * CONTENT INTEGRITY: every version dir carries an [[Integrity]]
  * sidecar, written into the staging dir BEFORE the rename, so the
  * sidecar is atomic with the data it describes and immutable with
  * it. [[syncTo]] verifies
  * every byte it copies against the sidecar in-stream (the copy
  * already touches every byte — verification is free) and REFUSES to
  * propagate corruption; [[fsck]] re-walks committed members against
  * their sidecars, `deep = true` re-hashing content cluster-fanned —
  * the same single-table guarantees graftsink's manifest checksums +
  * `copyVerified` + `fsck(deep)` give, one layer up.
  */
object Transaction {

  /** Test seam: runs immediately before the manifest rename — the
    * commit point — with every data dir already staged. A spec can
    * crash a publish HERE to prove a torn (data-landed, manifest-less)
    * publish is invisible: readers resolve only committed manifests,
    * so state and data can never disagree. No-op in production.
    */
  private[graft] var commitBarrier: () => Unit = () => ()

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitsDir(root: String) = new Path(root, "_commits")

  /** Committed transaction ids, ascending; empty before first publish. */
  def committedTxs(spark: SparkSession, root: String): Seq[Long] = {
    val dir = commitsDir(root)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName).toSeq
      .collect { case n if n.startsWith("tx") && n.endsWith(".json") =>
        n.stripPrefix("tx").stripSuffix(".json").toLong }
      .sorted
  }

  private def readSmall(spark: SparkSession, p: Path): Array[Byte] = {
    val fs = fsOf(spark, p)
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
      out.toByteArray
    } finally in.close()
  }

  private def manifestBytes(spark: SparkSession, root: String,
      tx: Long): Array[Byte] = {
    val p = new Path(commitsDir(root), s"tx$tx.json")
    require(fsOf(spark, p).exists(p),
      s"transaction $tx not committed under $root")
    readSmall(spark, p)
  }

  private val manifestMemoMax = 4096
  private val manifestMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Map[String, Long]]()

  /** The table→version map of transaction `tx`. Committed manifests
    * are immutable, so the parse is memoized — [[fsck]] and [[vacuum]]
    * walk EVERY committed tx per invocation, and at decade scale
    * (64 tables × deep history, scheduled cadence) re-reading and
    * re-parsing each manifest every pass is O(txs) driver I/O for
    * bytes that cannot have changed. The memo keys on (path, length,
    * mtime) — one `getFileStatus` instead of a read — so the one
    * mutation path that DOES replace a manifest file (a force sync
    * discarding a divergent replica commit, then re-landing the
    * source's) never serves stale entries. Bounded, droppable.
    */
  def manifest(spark: SparkSession, root: String,
      tx: Long): Map[String, Long] = {
    val p = new Path(commitsDir(root), s"tx$tx.json")
    val fs = fsOf(spark, p)
    val st =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException =>
        // the require() contract callers (and specs) rely on
        throw new IllegalArgumentException(
          s"requirement failed: transaction $tx not committed under $root")
      }
    val key = (p.toString, st.getLen, st.getModificationTime)
    val got = manifestMemo.get(key)
    if (got != null) return got
    val s = new String(readSmall(spark, p), StandardCharsets.UTF_8)
    val parsed = "\"([^\"]+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    if (manifestMemo.size >= manifestMemoMax) manifestMemo.clear()
    manifestMemo.put(key, parsed)
    parsed
  }

  /** Version-floor markers in `_commits/` — the anti-recycling
    * discipline the sink's vacuum floor pins (`floorMarkerName`):
    * deleting a committed manifest VACATES its txId, and the next
    * publish computes `last + 1`, which would re-mint the vacated
    * number for DIFFERENT content — a reader or version-keyed cache
    * that resolved the retracted id in the race window would conflate
    * the two. A marker `__floor_tx<N>` (value in the NAME, exclusive
    * create, zero reads) burns ids ≤ N; [[publish]] claims
    * `max(last, floor) + 1`.
    */
  private def floorMarker(root: String, tx: Long) =
    new Path(commitsDir(root), s"__floor_tx$tx")

  /** Highest PLAUSIBLE burned txId (the sink's claimFloor
    * discipline): a floor is only ever burned for a retracted id that
    * was ≤ the then-newest committed tx, so a marker above
    * `lastCommitted + 1` is corrupt or crafted — honoring it would
    * permanently renumber every future publish off one bogus file.
    * Non-numeric suffixes (`__floor_txabc`) are listing noise, not
    * law — ignored, never a crash that wedges publish and vacuum.
    */
  private def floorOf(spark: SparkSession, root: String,
      lastCommitted: Long): Long = {
    val dir = commitsDir(root)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) -1L
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("__floor_tx") =>
        n.stripPrefix("__floor_tx").toLongOption }
      .flatten
      .filter(_ <= lastCommitted + 1L)
      .foldLeft(-1L)(math.max)
  }

  /** Atomically publish `tables` as one transaction; any table NOT in
    * the map carries forward from the previous transaction. Returns
    * the committed txId. Every staged version dir is stamped with its
    * [[Integrity]] sidecar before its rename, so replication and
    * [[fsck]] can verify the member's content forever after.
    */
  def publish(spark: SparkSession, root: String,
      tables: Map[String, DataFrame]): Long = {
    require(tables.nonEmpty, "publish: no tables")
    val committed = committedTxs(spark, root)
    val last = committed.lastOption.getOrElse(-1L)
    val txId = math.max(last, floorOf(spark, root, last)) + 1L
    val prev = committed.lastOption
      .map(manifest(spark, root, _)).getOrElse(Map.empty[String, Long])
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    // data first, invisible until the manifest commits
    tables.foreach { case (name, df) =>
      val dest = new Path(new Path(rootP, name), s"t$txId")
      // leftover from a crashed publish at this txId is uncommitted by
      // construction (txId is not in _commits) — safe to drop
      if (fs.exists(dest)) fs.delete(dest, true)
      val tmp = new Path(rootP,
        "__staging_" + java.util.UUID.randomUUID().toString.take(8))
      try {
        df.write.mode("overwrite").parquet(tmp.toString)
        // the sidecar lands INSIDE the staged dir — atomic with the data
        Integrity.stamp(spark, tmp.toString)
      } catch { case e: Throwable => fs.delete(tmp, true); throw e }
      fs.mkdirs(dest.getParent)
      if (!fs.rename(tmp, dest)) {
        fs.delete(tmp, true)
        throw new java.io.IOException(
          s"publish: rename $tmp -> $dest failed")
      }
    }
    // commit point: one manifest rename
    val entries = prev ++ tables.keys.map(_ -> txId)
    val json = entries.toSeq.sortBy(_._1)
      .map { case (t, v) => s"${graft.Json.quote(t)}: $v" }
      .mkString("{", ", ", "}")
    val dir = commitsDir(root)
    fs.mkdirs(dir)
    val mTmp = new Path(dir,
      "__staging_" + java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(mTmp, false)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    commitBarrier()
    val mDest = new Path(dir, s"tx$txId.json")
    if (!fs.rename(mTmp, mDest)) {
      fs.delete(mTmp, false)
      throw new java.io.IOException(
        s"publish: commit rename $mTmp -> $mDest failed " +
          "(concurrent committer?)")
    }
    txId
  }

  /** Read `table` at transaction `tx` (latest committed when None) —
    * always through a committed manifest, so concurrent publishes and
    * torn crashes are invisible.
    */
  def read(spark: SparkSession, root: String, table: String,
      tx: Option[Long] = None): DataFrame = {
    val committed = committedTxs(spark, root)
    require(committed.nonEmpty, s"no committed transactions under $root")
    val id = tx.getOrElse(committed.last)
    val m = manifest(spark, root, id)
    require(m.contains(table),
      s"table '$table' not in transaction $id (${m.keys.mkString(", ")})")
    spark.read.parquet(s"$root/$table/t${m(table)}")
  }

  // ---- failover fencing (the sink's promote/cloneSync contract, at
  // ---- the transaction root) --------------------------------------

  private def promotedMarker(root: String) = new Path(root, "_promoted")

  /** Whether `root` is a PROMOTED former replica — [[syncTo]] refuses
    * such targets (see [[promote]]).
    */
  def isPromoted(spark: SparkSession, root: String): Boolean =
    fsOf(spark, promotedMarker(root)).exists(promotedMarker(root))

  /** FAILOVER — make a multi-table replica root a first-class
    * warehouse after source loss. Drops the `_promoted` fence marker
    * (exclusive create: two racing promotes get one winner), after
    * which every [[syncTo]] from the resurrected old source REFUSES
    * loudly instead of silently clobbering post-failover transactions
    * — the same resurrected-old-source hazard [[GraftSink.promote]]
    * closes per table, closed for the whole root. Local
    * [[publish]]es may take the root the moment promote returns
    * (txIds continue above the synced history).
    *
    * FENCING CONTRACT: [[syncTo]] checks the marker at entry,
    * immediately before its manifest rename, and — the commit-time
    * conviction — immediately AFTER it: a sync PAUSED between its
    * last advisory check and its rename for the whole promotion (the
    * classic gap of marker-based protocols) finds the fence after
    * linking, retracts its own manifest while it is provably still
    * the newest committed tx (burning the vacated id with a floor
    * marker so a local publish can never re-mint it for different
    * content), and fails naming the promotion — it can never
    * silently ack.
    *
    * Re-replication of a promoted root is deliberately NOT a sync:
    * take fresh [[syncTo]]s to a NEW directory. `force = true` on
    * syncTo remains the explicit escape hatch — it discards the
    * promoted root's post-failover transactions from the commit set
    * and clears the fence, re-subjugating the root.
    */
  def promote(spark: SparkSession, root: String): Unit = {
    require(committedTxs(spark, root).nonEmpty,
      s"transaction: nothing to promote at $root — no committed txs")
    val marker = promotedMarker(root)
    val fs = fsOf(spark, marker)
    val out =
      try fs.create(marker, false)
      catch { case _: java.io.IOException =>
        sys.error(s"transaction: $root is already promoted")
      }
    try out.write(s"promotedAtMs=${System.currentTimeMillis()}\n"
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Test seam: runs immediately before [[syncTo]]'s manifest rename —
    * the replica's commit point — with every member table's version
    * dirs already copied. The race spec holds a sync open HERE while a
    * replica reader proves it still resolves only the PREVIOUS
    * transaction's pairs; the promotion spec lands the fence HERE to
    * prove the commit-time conviction. No-op in production.
    */
  private[graft] var syncBarrier: () => Unit = () => ()

  /** Per-dir count of data files syncTo copied WITHOUT content
    * verification (legacy source dirs lacking a sidecar) on
    * the most recent call — reported loudly on stderr as well; the
    * spec gates the count (a TEST SEAM only: the watermark decision
    * inside [[syncTo]] reads its own call-local count, so two
    * concurrent syncs in one JVM can never stamp each other's
    * replicas verified off interleaved global state).
    */
  @volatile private[graft] var lastSyncUnverified: Int = 0

  /** TRANSACTION-CONSISTENT REPLICATION — sync a whole transaction to
    * a DR replica root as ONE atomic step. Per-table replication of a
    * multi-table commit re-creates exactly the torn state the
    * transaction layer exists to prevent: a replica serving facts
    * from tx2 beside a summary from tx1. Here every member table's
    * pinned version dir copies FIRST (distributed, one task per file;
    * dirs stage and rename whole, so a crash mid-copy never leaves a
    * half dir that a retry would skip as present), and the
    * transaction manifest publishes LAST as the single commit point —
    * a replica reader resolves only committed manifests, so it sees
    * all tables at tx N or all at the previous sync, never a blend.
    *
    * VERIFIED BYTES: each copied data file folds XXH64 over the same
    * buffers the copy streams and is checked against the source dir's
    * sidecar ([[Integrity.copyVerified]]) — a mismatch FAILS the copy
    * loudly
    * (replication must never propagate silent source-side corruption;
    * deep-fsck and restore the source object first). Legacy source
    * dirs without a sidecar copy UNVERIFIED, counted in
    * [[lastSyncUnverified]] and named on stderr — never silently
    * passed as verified.
    *
    * DIVERGENCE GUARD: the replica's newest committed tx must be
    * byte-identical to the source's same-id manifest — anything else
    * means local transactions landed at the replica (a promoted root,
    * or an unsanctioned writer), and this sync would interleave two
    * histories. Refused loudly; `force = true` discards the divergent
    * replica commits (manifests leave the commit set; their data dirs
    * stay for GC) and re-subjugates a promoted root (clears the
    * fence). The check is O(1) manifest reads however many tables.
    *
    * Incremental by construction: a version dir the replica already
    * holds is a COMMITTED whole (rename-atomic), so it never
    * re-copies — syncing tx N after tx N−1 copies only the tables
    * tx N actually rewrote (carry-forward entries are already
    * there). Re-syncing an already-synced tx is a no-op. Returns the
    * number of (table, version) dirs copied.
    */
  def syncTo(spark: SparkSession, srcRoot: String, dstRoot: String,
      tx: Option[Long] = None, force: Boolean = false): Int = {
    // call-local unverified tally: the watermark decision below must
    // read THIS sync's count — the JVM-global seam exists for specs,
    // and two concurrent syncs (even to different roots) interleaving
    // its reset/increments must not leak verified stamps across calls
    var syncUnverified = 0
    lastSyncUnverified = 0
    // PROMOTION FENCE at entry (see [[promote]]): a promoted replica
    // took local transactions — a sync from the resurrected old
    // source would clobber them. Refuse, naming the state; force
    // re-subjugates (clears the fence; the divergence guard below
    // then discards the post-failover commits).
    def fenceCheck(): Unit =
      if (isPromoted(spark, dstRoot)) sys.error(
        s"transaction: replica root $dstRoot was PROMOTED — it owns " +
          "its transactions now, and a sync from the old source would " +
          "clobber post-failover commits. Re-replicate with fresh " +
          "syncTo calls to a NEW directory, or pass force=true to " +
          "re-subjugate (discards the promoted root's local commits)")
    if (force) {
      if (isPromoted(spark, dstRoot)) {
        fsOf(spark, promotedMarker(dstRoot))
          .delete(promotedMarker(dstRoot), false)
        System.err.println("transaction: force sync re-subjugates " +
          s"promoted root $dstRoot — its post-failover commits leave " +
          "the commit set (data dirs remain until vacuum)")
      }
    } else fenceCheck()
    val committed = committedTxs(spark, srcRoot)
    require(committed.nonEmpty, s"no committed transactions under $srcRoot")
    val id = tx.getOrElse(committed.last)
    require(committed.contains(id),
      s"transaction $id not committed under $srcRoot")
    val m = manifest(spark, srcRoot, id)
    val dstP = new Path(dstRoot)
    val fs = fsOf(spark, dstP)
    fs.mkdirs(dstP)
    // DIVERGENCE GUARD: O(1) — replicated manifests are byte-verbatim
    // copies, and the only writer of anything else is a local publish,
    // which always claims a NEW max id. So a replica whose newest
    // committed tx is absent from the source, or byte-different from
    // the source's same id, has taken local history.
    val srcSet = committed.toSet
    val dstLastDivergent = committedTxs(spark, dstRoot).lastOption
      .filter { last =>
        !srcSet(last) || !java.util.Arrays.equals(
          manifestBytes(spark, srcRoot, last),
          manifestBytes(spark, dstRoot, last))
      }
    dstLastDivergent.foreach { last =>
      if (!force) sys.error(
        s"transaction: replica $dstRoot committed tx $last, which " +
          "does not match the source's history — local transactions " +
          "landed there (a promoted root?). Refusing to interleave " +
          "two histories; force=true discards the replica's divergent " +
          "commits, or re-replicate to a fresh directory")
      // force: drop every replica commit the source can't vouch for
      // (absent id, or byte-different manifest), loudly
      committedTxs(spark, dstRoot).foreach { t =>
        val same = srcSet(t) && java.util.Arrays.equals(
          manifestBytes(spark, srcRoot, t),
          manifestBytes(spark, dstRoot, t))
        if (!same) {
          fs.delete(new Path(commitsDir(dstRoot), s"tx$t.json"), false)
          System.err.println(s"transaction: force sync discarded the " +
            s"replica's divergent tx $t at $dstRoot")
        }
      }
    }
    // MEMBER-CONTENT DIVERGENCE — the manifest guard above cannot see
    // everything: a local publish at a just-promoted root claiming the
    // same txId over the same table set writes a BYTE-IDENTICAL
    // manifest that points at different data. The sidecars prove
    // content identity in one tiny read per existing member dir: a dst
    // dir wearing a synced (table, version) name must hold the synced
    // bytes. Both-sides-legacy (no sidecars anywhere) trusts the name,
    // the pre-sidecar behavior.
    def sidecar(r: String, t: String, v: Long) = {
      val d = new Path(r, s"$t/t$v")
      Integrity.readSidecar(fsOf(spark, d), d)
    }
    val divergentDirs = m.toSeq.sortBy(_._1).filter { case (t, v) =>
      fs.exists(new Path(dstRoot, s"$t/t$v")) &&
        sidecar(srcRoot, t, v) != sidecar(dstRoot, t, v)
    }
    if (divergentDirs.nonEmpty) {
      if (!force) sys.error(
        s"transaction: replica $dstRoot holds " +
          divergentDirs.map { case (t, v) => s"$t/t$v" }.mkString(", ") +
          " with content that diverges from the source (local " +
          "transactions at a promoted root?). Refusing to blend " +
          "histories; force=true discards the divergent members, or " +
          "re-replicate to a fresh directory")
      divergentDirs.foreach { case (t, v) =>
        fs.delete(new Path(dstRoot, s"$t/t$v"), true)
        System.err.println(s"transaction: force sync re-copies $t/t$v " +
          s"at $dstRoot — its content diverged from the source")
      }
    }
    val already = new Path(commitsDir(dstRoot), s"tx$id.json")
    // the replica's newest committed tx BEFORE this sync — the
    // watermark-chain anchor for the verified-by-replication stamp
    val dstPrevLast = committedTxs(spark, dstRoot).lastOption
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // (table, version) dirs the replica lacks (divergent ones were
    // just deleted under force) — each stages under a sync-scoped
    // dir, files fan out cluster-wide, then ONE rename per dir makes
    // it whole-or-absent
    val needed = m.toSeq.sortBy(_._1).filter { case (t, v) =>
      !fs.exists(new Path(dstRoot, s"$t/t$v")) }
    if (needed.isEmpty && fs.exists(already)) {
      // idempotent re-sync: data settled, manifest committed — but a
      // ref re-point still carries
      carryRefs(spark, srcRoot, dstRoot)
      return 0
    }
    if (needed.nonEmpty) {
      val stagingRoot = new Path(dstRoot,
        "__staging_sync_" + java.util.UUID.randomUUID().toString.take(8))
      // one job per file: (from, to, expected xxh64 or "" = legacy
      // unverified). The sidecar itself and other bookkeeping files
      // copy with no expectation — their integrity is re-derivable.
      val files: Seq[(String, String, String)] = needed.flatMap {
        case (t, v) =>
          val from = new Path(srcRoot, s"$t/t$v")
          val sfs = fsOf(spark, from)
          val side = sidecar(srcRoot, t, v)
          val names = sfs.listStatus(from).filter(_.isFile)
            .map(_.getPath.getName).toSeq
          val unverified = names.count(n =>
            !n.startsWith("_") && !n.startsWith(".") &&
              !side.exists(_.contains(n)))
          if (unverified > 0) {
            syncUnverified += unverified
            lastSyncUnverified += unverified
            Integrity.warnUnverified(s"transaction: $t/t$v at $srcRoot has " +
              s"no ${if (side.isEmpty) "checksum sidecar" else
                s"checksums for $unverified file(s)"} (legacy publish) " +
              s"— $unverified file(s) replicate UNVERIFIED; republish " +
              "or accept the weaker existence-only integrity")
          }
          names.map { n =>
            (new Path(from, n).toString,
              new Path(stagingRoot, s"$t/t$v/$n").toString,
              side.flatMap(_.get(n)).map(_._2).getOrElse(""))
          }
      }
      spark.sparkContext
        .parallelize(files, Integrity.slices(spark, files.size))
        .foreach { case (from, to, expect) =>
          Integrity.copyVerified(conf.value, new Path(from), new Path(to),
            expect, "transaction")
        }
      needed.foreach { case (t, v) =>
        val dest = new Path(dstRoot, s"$t/t$v")
        fs.mkdirs(dest.getParent)
        if (!fs.rename(new Path(stagingRoot, s"$t/t$v"), dest) &&
            !fs.exists(dest)) {
          // a racing sync of the same/later tx placing the SAME
          // immutable (table, version) content loses the rename
          // benignly — only a rename that leaves the dest ABSENT is
          // a real failure
          fs.delete(stagingRoot, true)
          throw new java.io.IOException(
            s"syncTo: rename of $t/t$v into $dstRoot failed")
        }
      }
      fs.delete(stagingRoot, true)
    }
    // fence AGAIN at the last step before the commit rename: shrinks
    // the promote-races-an-in-flight-sync window from the whole copy
    // duration to the rename itself
    if (!force) fenceCheck()
    // commit point: the tx manifest lands LAST, atomically — the same
    // staged-rename discipline as publish()
    val dir = commitsDir(dstRoot)
    fs.mkdirs(dir)
    val mTmp = new Path(dir,
      "__staging_" + java.util.UUID.randomUUID().toString.take(8))
    val bytes = manifestBytes(spark, srcRoot, id)
    val out = fs.create(mTmp, false)
    try out.write(bytes) finally out.close()
    syncBarrier()
    if (!fs.rename(mTmp, already)) {
      fs.delete(mTmp, false)
      // two syncs of the same tx write byte-identical manifests, so
      // losing the commit rename to a racer is success — but ONLY
      // when what landed is byte-identical: a local publish at a
      // just-promoted root claiming the same id is different content,
      // and acking it would blend histories
      val landed = fs.exists(already) && java.util.Arrays.equals(
        manifestBytes(spark, dstRoot, id), bytes)
      if (!landed)
        throw new java.io.IOException(
          s"syncTo: commit rename to $already failed" +
            (if (fs.exists(already))
              " (a DIFFERENT tx manifest holds the id — promoted root?)"
            else ""))
    }
    // COMMIT-TIME CONVICTION — the residual the two advisory checks
    // leave open is a sync PAUSED between its last fence check and
    // its manifest rename while the whole promotion (and possibly a
    // post-failover local publish) completes. Re-check AFTER the
    // rename: if the fence landed, this sync's commit must not stand.
    // Retract it while it is provably still the newest committed tx
    // (nothing can have built on it), burning the vacated id with a
    // floor marker FIRST so a local publish can never re-mint the
    // number for different content; if something already committed
    // above, the tx stays in history (deleting it would tear
    // carry-forward resolution for the stacker's readers). Either way
    // the sync FAILS loudly naming the promotion — never a silent ack.
    if (!force && isPromoted(spark, dstRoot)) {
      val stillNewest =
        try committedTxs(spark, dstRoot).lastOption.contains(id)
        catch { case scala.util.control.NonFatal(_) => false }
      var retracted = false
      if (stillNewest) {
        // floor FIRST (durable before any retraction is visible), then
        // RE-VERIFY newest immediately before the delete: between the
        // listing above and here a post-failover local publish can
        // commit id+1 on top of id, and deleting id then would tear a
        // hole in committed history (time-travel of id fails while
        // newer manifests carry its members forward). If anything
        // stacked, the tx stays in history — the documented branch.
        try fs.create(floorMarker(dstRoot, id), false).close()
        catch { case _: java.io.IOException => () } // raced: theirs is fine
        val stillNewestNow =
          try committedTxs(spark, dstRoot).lastOption.contains(id)
          catch { case scala.util.control.NonFatal(_) => false }
        if (stillNewestNow) { fs.delete(already, false); retracted = true }
      }
      sys.error(s"transaction: replica root $dstRoot was PROMOTED " +
        s"while this sync was in flight — the sync's tx $id was " +
        (if (retracted) "retracted"
        else "already built upon and stays in history") +
        "; the promoted root owns its transactions (replicate to a " +
        "fresh directory, or force=true to re-subjugate)")
    }
    // VERIFIED-BY-REPLICATION watermark carry (the sink cloneSync
    // contract at the tx root): the copied members were end-to-end
    // verified in flight and everything already present was covered
    // by the replica's existing watermark (== its pre-sync newest tx,
    // by induction from the first sync), so the synced tx is
    // proven-verified without a drill. Declines on a broken chain —
    // force, legacy unverified files, a lagging watermark, or a
    // pinned backfill below the replica's newest tx.
    if (!force && syncUnverified == 0 &&
        dstPrevLast.forall(_ <= id) &&
        dstPrevLast.forall(p => deepVerifiedThrough(spark, dstRoot) == p))
      writeDeepVerifiedThrough(spark, dstRoot, id)
    carryRefs(spark, srcRoot, dstRoot)
    needed.size
  }

  /** Replicate source REFS (the vacuum-exempt GC roots) onto the
    * replica — the same contract as graftsink's tag carry-over:
    * without it a REPLICA [[vacuum]] can drop a transaction the
    * source still pins, silently breaking "the corpus run X trained
    * on stays reproducible at the DR site". txIds ARE comparable
    * across the two roots (syncTo copies manifests verbatim), so a
    * ref carries whenever the replica has that tx committed; a ref
    * pinning a tx the replica never synced is skipped (it cannot pin
    * what it does not hold). Re-points follow the source (tag() is
    * an atomic rename); carry failures warn loudly naming the ref.
    */
  private def carryRefs(spark: SparkSession, srcRoot: String,
      dstRoot: String): Unit = {
    val srcRefDir = refsDir(srcRoot)
    val sfs = fsOf(spark, srcRefDir)
    if (!sfs.exists(srcRefDir)) return
    val dstTxs = committedTxs(spark, dstRoot).toSet
    sfs.listStatus(srcRefDir).map(_.getPath.getName)
      .filterNot(_.startsWith("__")).foreach { name =>
        try {
          val tx = refTx(spark, srcRoot, name)
          if (dstTxs(tx) &&
              (try refTx(spark, dstRoot, name) != tx
              catch { case _: IllegalArgumentException => true }))
            tag(spark, dstRoot, name, tx)
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"transaction: ref '$name' could not be " +
            s"carried to $dstRoot (${e.getMessage}) — the replica is " +
            "missing this GC root until a later sync re-carries it")
        }
      }
  }

  private def refsDir(root: String) = new Path(root, "_refs")

  /** Pin a human name to a committed transaction (Iceberg "tag"): the
    * release a model trained on, the audited month-end, the state a
    * backfill should reproduce. A ref is one tiny file whose content
    * is the txId; re-tagging moves the name atomically (staged write +
    * rename). Refs also act as GC roots for [[vacuum]].
    */
  def tag(spark: SparkSession, root: String, name: String,
      tx: Long): Unit = {
    require(name.nonEmpty && !name.contains('/') && !name.startsWith("__"),
      s"bad ref name '$name'")
    require(committedTxs(spark, root).contains(tx),
      s"cannot tag uncommitted transaction $tx")
    val dir = refsDir(root)
    val fs = fsOf(spark, dir)
    fs.mkdirs(dir)
    val tmp = new Path(dir,
      "__staging_" + java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, false)
    try out.write(tx.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val dest = new Path(dir, name)
    fs.delete(dest, false) // re-tag: move the name
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"tag: rename to $dest failed")
    }
  }

  /** Resolve a ref name to its txId. */
  def refTx(spark: SparkSession, root: String, name: String): Long = {
    val p = new Path(refsDir(root), name)
    val fs = fsOf(spark, p)
    require(fs.exists(p), s"no ref '$name' under $root")
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
      new String(out.toByteArray, StandardCharsets.UTF_8).trim.toLong
    } finally in.close()
  }

  /** Read `table` as of the tagged transaction. */
  def readRef(spark: SparkSession, root: String, table: String,
      name: String): DataFrame =
    read(spark, root, table, Some(refTx(spark, root, name)))

  /** Drop history: keep the newest `keep` transactions plus everything
    * a ref pins, delete the manifests of the rest, and remove every
    * table-version dir no surviving manifest references. Returns the
    * dropped txIds. The reachability walk is the law that makes this
    * safe: a version dir carried forward by a NEWER kept manifest
    * survives even when the transaction that wrote it is dropped.
    *
    * Also sweeps CRASHED-WRITER DEBRIS beyond `graceMs` (the same
    * aged-only contract the sink vacuum runs under — a YOUNG staging
    * dir may belong to a publish/sync in flight right now): stale
    * `__staging*` dirs at the root and under `_commits/`, and
    * superseded floor markers (the max governs; lower ones are
    * listing noise). Without this, every crashed publish leaks a
    * whole staged table copy forever — [[fsck]] counts them, vacuum
    * owns them.
    */
  def vacuum(spark: SparkSession, root: String, keep: Int,
      graceMs: Long = 3600000L): Seq[Long] = {
    require(keep >= 1, "vacuum: keep must be >= 1")
    val committed = committedTxs(spark, root)
    val refDir = refsDir(root)
    val fs = fsOf(spark, refDir)
    val cutoff = System.currentTimeMillis() - graceMs
    // stale staging + superseded floors sweep EVEN when no tx expires
    def sweepStaging(dir: Path): Unit = {
      if (!fs.exists(dir)) return
      fs.listStatus(dir).foreach { st =>
        if (st.getPath.getName.startsWith("__staging") &&
            st.getModificationTime < cutoff)
          fs.delete(st.getPath, true)
      }
    }
    sweepStaging(new Path(root))
    sweepStaging(commitsDir(root))
    val cd = commitsDir(root)
    if (fs.exists(cd)) {
      // parse-guarded like floorOf: a corrupt non-numeric marker must
      // not crash vacuum (it is ignored noise, left for manual GC)
      val floors = fs.listStatus(cd).map(_.getPath.getName)
        .filter(_.startsWith("__floor_tx"))
        .flatMap(n => n.stripPrefix("__floor_tx").toLongOption)
      if (floors.nonEmpty)
        floors.filter(_ < floors.max).foreach(v =>
          fs.delete(new Path(cd, s"__floor_tx$v"), false))
    }
    val pinned: Set[Long] =
      if (!fs.exists(refDir)) Set.empty
      else fs.listStatus(refDir).map(_.getPath.getName).toSeq
        .filterNot(_.startsWith("__"))
        .map(refTx(spark, root, _)).toSet
    val keptTxs = (committed.takeRight(keep).toSet ++ pinned).toSeq.sorted
    val dropTxs = committed.filterNot(keptTxs.contains)
    if (dropTxs.isEmpty) return Seq.empty
    // reachable (table, version) pairs under the kept manifests
    val live: Set[(String, Long)] = keptTxs
      .flatMap(tx => manifest(spark, root, tx).toSeq).toSet
    dropTxs.foreach { tx =>
      fs.delete(new Path(commitsDir(root), s"tx$tx.json"), false)
    }
    val rootP = new Path(root)
    fs.listStatus(rootP).filter(s => s.isDirectory &&
        !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("__")).foreach { t =>
      val table = t.getPath.getName
      fs.listStatus(t.getPath).filter(_.isDirectory).foreach { v =>
        val name = v.getPath.getName
        if (name.startsWith("t") && name.drop(1).forall(_.isDigit) &&
            !live.contains((table, name.drop(1).toLong)))
          fs.delete(v.getPath, true)
      }
    }
    dropTxs
  }

  /** @param deep whether member CONTENT was re-hashed (vs existence +
    *             size only).
    * @param unverifiedMembers committed member version dirs with no
    *             sidecar (legacy publishes) — DECLINED,
    *             loudly, never silently passed: [[TxFsckReport.clean]]
    *             can hold while [[TxFsckReport.deepVerified]] does not.
    * @param orphanVersionDirs `t<id>` dirs no committed manifest
    *             references — NOT corruption (crashed-publish
    *             leftovers, vacuumed history); [[vacuum]] owns them.
    * @param staleStaging `__staging*` leftovers under the root and
    *             `_commits/` — crashed publishes/syncs awaiting GC.
    * @param contentHashed deep only: sidecar entries this run
    *             actually re-hashed (the incremental pass's work
    *             list; a full pass hashes everything).
    * @param skippedVerified deep + `sinceVerified` only: entries the
    *             persisted watermark already covers (first referenced
    *             by a tx ≤ the deep-verified-through id) — immutable
    *             since an earlier pass re-hashed them.
    * @param verifiedThrough the watermark AFTER this run (−1 = none).
    */
  final case class TxFsckReport(
      txsChecked: Int,
      unreadableTxs: Seq[Long],
      membersChecked: Int,
      missingMembers: Seq[String],
      filesChecked: Int,
      missingFiles: Seq[String],
      sizeMismatches: Seq[String],
      checksumMismatches: Seq[String],
      unverifiedMembers: Int,
      orphanVersionDirs: Int,
      staleStaging: Int,
      deep: Boolean,
      contentHashed: Int = 0,
      skippedVerified: Int = 0,
      verifiedThrough: Long = -1L) {
    /** No corruption DETECTED (relative to what the probe could
      * check: a shallow probe never reads content, and sidecar-less
      * legacy members are counted, not verified).
      */
    def clean: Boolean = unreadableTxs.isEmpty &&
      missingMembers.isEmpty && missingFiles.isEmpty &&
      sizeMismatches.isEmpty && checksumMismatches.isEmpty
    /** Every committed member's every byte re-hashed and matched. */
    def deepVerified: Boolean = clean && deep && unverifiedMembers == 0
  }

  /** TRANSACTION-ROOT INTEGRITY PROBE — the [[GraftSink.fsck]]
    * contract one layer up: does every committed tx manifest parse,
    * does every member (table, version) dir it references exist with
    * every sidecar-listed file AT ITS RECORDED SIZE (`deep = true`
    * additionally re-hashes content cluster-fanned against the
    * sidecar XXH64 — the only probe that catches same-size bit rot),
    * and how much unreferenced debris (orphan version dirs, stale
    * staging) awaits GC? Detects external damage the protocol can't
    * prevent — a lifecycle rule deleting "cold" member dirs, a
    * partial restore, manual rm — BEFORE a replica reader trips on
    * it, and distinguishes it from benign pre-vacuum orphans.
    *
    * Scale: manifest resolution is O(committed txs) driver metadata;
    * the per-file existence/size/content checks fan out cluster-wide
    * (one task per file), only violations return to the driver — the
    * collect is O(damage), not O(files). Read-only: fsck never
    * repairs (restore the member from the source or a backup; the
    * report names what to look at).
    */
  def fsck(spark: SparkSession, root: String, deep: Boolean = false,
      sinceVerified: Boolean = false): TxFsckReport = {
    val committed = committedTxs(spark, root)
    // incremental deep verification — the sink's `_deep_verified`
    // watermark chain, at the tx root: members first referenced by a
    // tx ≤ k were re-hashed by an earlier deepVerified pass and are
    // immutable, so a scheduled pass re-hashes only newer members
    // (O(new data) per cadence; the FULL drill catches rot landing in
    // already-verified bytes)
    val watermark: Long =
      if (deep && sinceVerified) deepVerifiedThrough(spark, root)
      else -1L
    val unreadable = Seq.newBuilder[Long]
    val members = scala.collection.mutable.LinkedHashMap
      .empty[(String, Long), Boolean] // -> covered by the watermark
    committed.foreach { tx =>
      try manifest(spark, root, tx).foreach { kv =>
        if (!members.contains(kv)) members(kv) = tx <= watermark
        else if (tx <= watermark) members(kv) = true
      }
      catch { case scala.util.control.NonFatal(_) => unreadable += tx }
    }
    val fs = fsOf(spark, new Path(root))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val rootStr = root
    // MEMBER METADATA PASS, cluster-fanned (one task per member dir:
    // existence probe + one tiny sidecar read): the per-file checks
    // below already fan out, and at decade scale (64 tables × deep
    // history on a scheduled cadence) a driver-sequential sidecar
    // walk is O(members) blocking round-trips for no reason.
    val memberSeq = members.toSeq
    // (member, covered by the watermark, dir exists, its sidecar)
    val sides: Seq[(String, Boolean, Boolean,
        Option[Map[String, (Long, String)]])] =
      if (memberSeq.isEmpty) Seq.empty
      else spark.sparkContext
        .parallelize(memberSeq, Integrity.slices(spark, memberSeq.size))
        .map { case ((t, v), covered) =>
          val dir = new Path(rootStr, s"$t/t$v")
          val f = dir.getFileSystem(conf.value)
          val exists = f.exists(dir)
          (s"$t/t$v", covered, exists,
            if (exists) Integrity.readSidecar(f, dir) else None)
        }.collect().toSeq
    var unverifiedMembers = 0
    // existence+size always, content re-hash when deep and uncovered
    val entries = sides.flatMap {
      case (_, _, false, _) => Nil
      case (member, covered, _, None) =>
        if (!covered) {
          unverifiedMembers += 1
          Integrity.warnUnverified(s"transaction: fsck cannot verify " +
            s"$member under $root — no checksum sidecar (legacy " +
            "publish); republish to regain content integrity")
        }
        Nil
      case (member, covered, _, Some(side)) =>
        side.toSeq.sortBy(_._1).map { case (n, (b, sum)) =>
          Integrity.Entry(s"$rootStr/$member/$n", b, sum, deep && !covered)
        }
    }
    val (missingFiles, sizeMismatches, checksumMismatches) =
      Integrity.byKind(Integrity.check(spark, entries),
        _.stripPrefix(s"$rootStr/"))
    // orphan member dirs (no committed manifest references them) and
    // stale staging leftovers — benign GC debris, tallied not flagged
    var orphans = 0
    var staging = 0
    if (fs.exists(new Path(root))) {
      fs.listStatus(new Path(root)).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith("__staging")) staging += 1
        else if (st.isDirectory && !n.startsWith("_")) {
          val it = fs.listStatusIterator(st.getPath)
          while (it.hasNext) {
            val v = it.next().getPath.getName
            if (v.startsWith("t") && v.drop(1).forall(_.isDigit) &&
                !members.contains((n, v.drop(1).toLong)))
              orphans += 1
          }
        }
      }
    }
    val cd = commitsDir(root)
    if (fs.exists(cd)) {
      val it = fs.listStatusIterator(cd)
      while (it.hasNext)
        if (it.next().getPath.getName.startsWith("__staging")) staging += 1
    }
    val report = TxFsckReport(committed.size, unreadable.result(),
      members.size, sides.collect { case (m, _, false, _) => m },
      entries.size, missingFiles, sizeMismatches, checksumMismatches,
      unverifiedMembers, orphans, staging, deep,
      contentHashed = entries.count(_.hashContent),
      skippedVerified = if (deep) entries.count(!_.hashContent) else 0)
    val advanced =
      if (report.deepVerified && committed.nonEmpty &&
          committed.last > watermark) {
        writeDeepVerifiedThrough(spark, root, committed.last)
        committed.last
      } else math.max(watermark, deepVerifiedThrough(spark, root))
    report.copy(verifiedThrough = advanced)
  }

  /** The persisted deep-verification watermark (`_deep_verified`,
    * "deep-verified through tx k"): monotone, advanced only by
    * [[fsck]] passes that end [[TxFsckReport.deepVerified]].
    */
  private def deepVerifiedThrough(spark: SparkSession,
      root: String): Long = {
    val r = new Path(root)
    Integrity.readWatermark(fsOf(spark, r), r, "tx")
  }

  private def writeDeepVerifiedThrough(spark: SparkSession,
      root: String, tx: Long): Unit = {
    val r = new Path(root)
    Integrity.writeWatermark(fsOf(spark, r), r, new Path(r,
      "__staging_" + java.util.UUID.randomUUID().toString.take(8)), "tx", tx)
  }
}
