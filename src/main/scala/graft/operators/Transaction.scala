package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlInternal, SparkSession}

import graft.sources.{Commit, GraftSink, Integrity}

/** Versioned tables with a multi-table atomic publish — the
  * Iceberg-lite commit protocol every warehouse needs once two tables
  * must move together (facts + their dimension, a table + its index,
  * orders + lineitem): readers either see ALL tables at transaction N
  * or all at N−1, never a torn mix. A one-table root is plain
  * whole-table versioning: every publish is a new immutable version,
  * and [[read]] with `tx` is time travel.
  *
  * Layout:
  * {{{
  * root/<table>/t<txId>/...parquet     data, immutable once committed
  * root/<table>/t<txId>/_checksums     the [[Integrity]] sidecar
  * root/_commits/tx<txId>.json         manifest: table -> txId written
  * root/_commits/<floor marker>       highest burned txId ([[Commit.Tx]])
  * }}}
  * plus the root's promote fence marker (see [[promote]]).
  *
  * The commit point is the manifest's exclusive publish
  * ([[Commit.place]]): data dirs stage under `__staging_*` and take
  * their `t<txId>` names FIRST through [[Commit.placeDir]], which
  * never lands inside a dir already there (invisible to readers —
  * readers resolve paths only through committed manifests), then the
  * manifest itself stages and is placed in `_commits/` only if its id
  * is free. A crash anywhere before it leaves orphan `t<txId>` dirs
  * that no manifest references. A publish whose placement meets one
  * drops it and places once more (it is uncommitted by construction —
  * its txId is absent from `_commits`); [[syncTo]] instead accepts
  * only a dir holding the bytes it syncs.
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
  * sidecar, written into the staging dir BEFORE its placement, so the
  * sidecar is atomic with the data it describes and immutable with
  * it. [[syncTo]] verifies
  * every byte it copies against the sidecar in-stream (the copy
  * already touches every byte — verification is free) and REFUSES to
  * propagate corruption; [[fsck]] re-walks committed members against
  * their sidecars, `deep = true` re-hashing content cluster-fanned —
  * the same single-table guarantees graftsink's manifest checksums,
  * verified replication and `fsck(deep)` give, one layer up.
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

  /** The entry names of `dir`, one listing; none when it does not
    * exist (`_commits/` before the first publish, `_refs/` before the
    * first [[tag]]).
    */
  private def listNames(spark: SparkSession, dir: Path): Seq[String] =
    try fsOf(spark, dir).listStatus(dir).toSeq.map(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  private def commitNames(spark: SparkSession, root: String) =
    listNames(spark, commitsDir(root))

  /** The committed ids among `_commits/` names, ascending. */
  private def txIds(names: Seq[String]): Seq[Long] = names
    .collect { case n if n.startsWith("tx") && n.endsWith(".json") =>
      n.stripPrefix("tx").stripSuffix(".json").toLong }
    .sorted

  /** Committed transaction ids, ascending; empty before first publish. */
  def committedTxs(spark: SparkSession, root: String): Seq[Long] =
    txIds(commitNames(spark, root))

  private def manifestPath(root: String, tx: Long) =
    new Path(commitsDir(root), s"tx$tx.json")

  // the require() contract callers (and specs) rely on
  private def notCommitted(root: String, tx: Long) =
    new IllegalArgumentException(
      s"requirement failed: transaction $tx not committed under $root")

  /** The bytes of transaction `tx`'s manifest. */
  private def manifestBytes(spark: SparkSession, root: String,
      tx: Long): Array[Byte] = {
    val p = manifestPath(root, tx)
    try Integrity.readSmall(fsOf(spark, p), p)
    catch {
      case _: java.io.FileNotFoundException => throw notCommitted(root, tx)
    }
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
    val p = manifestPath(root, tx)
    val st =
      try fsOf(spark, p).getFileStatus(p)
      catch {
        case _: java.io.FileNotFoundException => throw notCommitted(root, tx)
      }
    val key = (p.toString, st.getLen, st.getModificationTime)
    val got = manifestMemo.get(key)
    if (got != null) return got
    val s = new String(manifestBytes(spark, root, tx), StandardCharsets.UTF_8)
    val parsed = "\"([^\"]+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    if (manifestMemo.size >= manifestMemoMax) manifestMemo.clear()
    manifestMemo.put(key, parsed)
    parsed
  }

  /** A member's name under its root, `<table>/t<version>`: the one
    * place the layout names a version dir — its path ([[memberDir]])
    * and every message that names it.
    */
  private def member(table: String, v: Long): String = s"$table/t$v"

  private def memberDir(root: String, table: String, v: Long): Path =
    new Path(s"$root/${member(table, v)}")

  /** Each table's member dir at committed transaction `tx`: the dirs
    * [[read]] reads.
    */
  def tableDirs(spark: SparkSession, root: String,
      tx: Long): Map[String, Path] =
    manifest(spark, root, tx).map { case (t, v) => t -> memberDir(root, t, v) }

  /** Atomically publish `tables` as one transaction; any table NOT in
    * the map carries forward from the previous transaction. Returns
    * the committed txId. Every staged version dir is stamped with its
    * [[Integrity]] sidecar before its placement, so replication and
    * [[fsck]] can verify the member's content forever after.
    *
    * A table name is a directory under the root and a manifest key, so
    * a name that is empty, contains `/`, `"` or `\`, or starts with
    * `_` (the root's own `_commits`, `_refs`, fence marker and
    * `__staging*`) or `.` is refused before anything is staged.
    *
    * DRIVER-RESIDENT MEMBERS: a member whose optimized plan is a
    * `LocalRelation` (the runner's `etl_job` rows, any frame built from
    * a `Seq`) launches no Spark job — it is written on the calling
    * thread as one parquet file by Spark's own parquet writer
    * ([[GraftSqlInternal.writeLocalParquet]]), then stamped inline and
    * placed like any other member, so the layout, sidecar and commit
    * protocol are the same; only the `_SUCCESS` marker is absent. Every
    * other member is a `df.write`.
    */
  def publish(spark: SparkSession, root: String,
      tables: Map[String, DataFrame]): Long = {
    require(tables.nonEmpty, "publish: no tables")
    tables.keys.foreach(n => require(n.nonEmpty &&
      !n.exists("/\"\\".contains(_)) && !n.startsWith("_") &&
      !n.startsWith("."), s"publish: bad table name '$n'"))
    // one `_commits/` listing gives the committed ids and the floor:
    // a floor marker names the highest burned id ([[Commit]] version
    // floors) — only ever a retracted id at most `last + 1` — so the
    // claim is `max(last, floor) + 1`
    val names = commitNames(spark, root)
    val committed = txIds(names)
    val last = committed.lastOption.getOrElse(-1L)
    val txId = math.max(last,
      Commit.floor(Commit.floors(Commit.Tx, names), last + 1L)) + 1L
    val prev = committed.lastOption
      .map(manifest(spark, root, _)).getOrElse(Map.empty[String, Long])
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    // data first, invisible until the manifest commits
    tables.foreach { case (name, df) =>
      val dest = memberDir(root, name, txId)
      val tmp = Commit.Tx.staging(rootP)
      try {
        // a driver-resident member is one file written on this thread
        if (!GraftSqlInternal.writeLocalParquet(df, tmp))
          df.write.mode("overwrite").parquet(tmp.toString)
        // the sidecar lands INSIDE the staged dir — atomic with the data
        Integrity.stamp(spark, tmp.toString)
        // a dir already at t<txId> is uncommitted by construction (txId
        // is not in _commits): a crashed publish's or a fenced sync's
        // leftover. Dropped, and placed once more; a second refusal
        // fails the publish.
        if (!Commit.placeDir(fs, tmp, dest) &&
            { fs.delete(dest, true); !Commit.placeDir(fs, tmp, dest) })
          throw new java.io.IOException(s"publish: rename $tmp -> $dest " +
            "failed (a dir took the name again)")
      } catch { case e: Throwable => fs.delete(tmp, true); throw e }
    }
    // commit point: the manifest's exclusive publish
    val entries = prev ++ tables.keys.map(_ -> txId)
    val json = entries.toSeq.sortBy(_._1)
      .map { case (t, v) => s"${graft.Json.quote(t)}: $v" }
      .mkString("{", ", ", "}")
    val mDest = manifestPath(root, txId)
    val mTmp = Commit.stage(fs, Commit.Tx, mDest,
      json.getBytes(StandardCharsets.UTF_8))
    commitBarrier()
    if (!Commit.place(fs, mTmp, mDest))
      throw new java.io.IOException(
        s"publish: commit rename $mTmp -> $mDest failed " +
          "(concurrent committer?)")
    txId
  }

  /** Read `table` at transaction `tx` (latest committed when None) —
    * always through a committed manifest, so concurrent publishes and
    * torn crashes are invisible.
    *
    * SCHEMA: taken from the footer of the member dir's first payload
    * file (by name, the [[Integrity.payload]] listing), read on the
    * calling thread through Spark's own footer→schema conversion —
    * the schema parquet inference would derive, nullability included,
    * without the Spark job inference launches. Every file of a member
    * comes from one write, so any one footer speaks for all. The
    * footer is read on every call; nothing is cached in the JVM. A
    * member dir with no payload file (or no dir at all) falls through
    * to Spark's inference, which fails loudly.
    */
  def read(spark: SparkSession, root: String, table: String,
      tx: Option[Long] = None): DataFrame = {
    // an explicit `tx` needs no listing: [[manifest]] refuses an id
    // that is not committed
    val id = tx.getOrElse {
      val committed = committedTxs(spark, root)
      require(committed.nonEmpty, s"no committed transactions under $root")
      committed.last
    }
    val dirs = tableDirs(spark, root, id)
    require(dirs.contains(table),
      s"table '$table' not in transaction $id (${dirs.keys.mkString(", ")})")
    val dir = dirs(table)
    val first =
      try Integrity.payload(fsOf(spark, dir), dir).headOption
      catch { case _: java.io.FileNotFoundException => None }
    first match {
      case Some(f) => spark.read
        .schema(GraftSqlInternal.parquetFooterSchema(spark, new Path(dir, f)))
        .parquet(dir.toString)
      case None => spark.read.parquet(dir.toString)
    }
  }

  // ---- failover fencing (the sink's promote/cloneSync contract, at
  // ---- the transaction root) --------------------------------------

  /** Whether `root` is a PROMOTED former replica — [[syncTo]] refuses
    * such targets (see [[promote]]).
    */
  def isPromoted(spark: SparkSession, root: String): Boolean =
    Commit.raised(fsOf(spark, new Path(root)), new Path(root))

  /** FAILOVER — make a multi-table replica root a first-class
    * warehouse after source loss. Raises the root's [[Commit]] promote
    * fence (two racing promotes get one winner; the loser errors),
    * after which every [[syncTo]] from the resurrected old source
    * REFUSES loudly instead of silently clobbering post-failover
    * transactions — the same resurrected-old-source hazard
    * [[GraftSink.promote]] closes per table, closed for the whole
    * root. Local [[publish]]es may take the root the moment promote
    * returns (txIds continue above the synced history). [[syncTo]]
    * checks the fence through [[Commit.sync]]: at entry, before
    * placing the member dirs it copied, and after its manifest publish
    * (the commit-time conviction: the burned id is the retracted txId
    * itself).
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
    val r = new Path(root)
    if (!Commit.raise(fsOf(spark, r), Commit.Tx, r,
        s"promotedAtMs=${System.currentTimeMillis()}\n"))
      sys.error(s"transaction: $root is already promoted")
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
    * dirs stage and are placed whole, so a crash mid-copy never leaves
    * a half dir that a retry would skip as present), and the
    * transaction manifest publishes LAST as the single commit point —
    * a replica reader resolves only committed manifests, so it sees
    * all tables at tx N or all at the previous sync, never a blend.
    *
    * The shared steps are the kernels': the promote fence around the
    * copy and the commit, with its commit-time conviction, is
    * [[Commit.sync]]'s; the verified copy, which refuses to propagate
    * a byte that does not match the source dir's sidecar and counts
    * files without one UNVERIFIED ([[lastSyncUnverified]]), is
    * [[Integrity.replicate]]'s; the verified-by-replication watermark
    * carry is [[Integrity.Chain.carry]]'s (declined on `force`,
    * unverified files, or a pinned backfill below the replica's
    * newest tx).
    *
    * DIVERGENCE GUARD: the replica's newest committed tx must be
    * byte-identical to the source's same-id manifest — anything else
    * means local transactions landed at the replica (a promoted root,
    * or an unsanctioned writer), and this sync would interleave two
    * histories. Refused loudly; `force = true` discards the divergent
    * replica commits (manifests leave the commit set; their data dirs
    * stay for GC) and re-subjugates a promoted root (clears the
    * fence). The check is O(1) manifest reads however many tables.
    * A replica member dir must also hold what the source's does: the
    * same sidecar and the same payload files outside it.
    *
    * Incremental by construction: a version dir the replica already
    * holds is a COMMITTED whole (placed atomically), so it never
    * re-copies — syncing tx N after tx N−1 copies only the tables
    * tx N actually rewrote (carry-forward entries are already
    * there). Re-syncing an already-synced tx is a no-op. Returns the
    * number of (table, version) dirs copied.
    */
  def syncTo(spark: SparkSession, srcRoot: String, dstRoot: String,
      tx: Option[Long] = None, force: Boolean = false): Int = {
    lastSyncUnverified = 0
    val dstP = new Path(dstRoot)
    val fs = fsOf(spark, dstP)
    Commit.sync(fs, dstRoot, "transaction", force) { () =>
      val committed = committedTxs(spark, srcRoot)
      require(committed.nonEmpty, s"no committed transactions under $srcRoot")
      val id = tx.getOrElse(committed.last)
      require(committed.contains(id),
        s"transaction $id not committed under $srcRoot")
      val m = manifest(spark, srcRoot, id).toSeq.sortBy(_._1)
      fs.mkdirs(dstP)
      // DIVERGENCE GUARD: O(1) — replicated manifests are byte-verbatim
      // copies, and the only writer of anything else is a local publish,
      // which always claims a NEW max id. So a replica whose newest
      // committed tx is absent from the source, or byte-different from
      // the source's same id, has taken local history.
      val srcSet = committed.toSet
      def divergent(t: Long) = !srcSet(t) || !java.util.Arrays.equals(
        manifestBytes(spark, srcRoot, t), manifestBytes(spark, dstRoot, t))
      val dstListed = committedTxs(spark, dstRoot)
      // force: drop every replica commit the source can't vouch for
      // (absent id, or byte-different manifest), loudly
      val discarded = dstListed.lastOption.filter(divergent).toSeq.flatMap {
        last =>
          if (!force) sys.error(
            s"transaction: replica $dstRoot committed tx $last, which " +
              "does not match the source's history — local transactions " +
              "landed there (a promoted root?). Refusing to interleave " +
              "two histories; force=true discards the replica's divergent " +
              "commits, or re-replicate to a fresh directory")
          dstListed.filter(divergent)
      }
      discarded.foreach { t =>
        fs.delete(manifestPath(dstRoot, t), false)
        System.err.println(s"transaction: force sync discarded the " +
          s"replica's divergent tx $t at $dstRoot")
      }
      // the replica's committed txs before this sync — its newest is the
      // watermark-chain anchor for the verified-by-replication stamp
      val dstTxs = dstListed.filterNot(discarded.contains)
      // MEMBER-CONTENT DIVERGENCE — the manifest guard above cannot see
      // everything: a local publish at a just-promoted root claiming the
      // same txId over the same table set writes a BYTE-IDENTICAL
      // manifest that points at different data. One listing and one
      // tiny sidecar read per existing member dir prove that a dst dir
      // wearing a synced (table, version) name holds what a reader of
      // the source's reads: the same sidecar and the same payload files
      // outside it (none, unless both sides are legacy).
      def vouch(r: String, t: String, v: Long) = {
        val d = memberDir(r, t, v)
        Integrity.vouch(fsOf(spark, d), d)
      }
      def content(r: String, t: String, v: Long) =
        vouch(r, t, v).map(d => (d.side, d.unlisted))
      def diverges(t: String, v: Long) =
        content(srcRoot, t, v) != content(dstRoot, t, v)
      def refuseDivergent(dirs: Seq[(String, Long)]): Nothing = sys.error(
        s"transaction: replica $dstRoot holds " +
          dirs.map { case (t, v) => member(t, v) }.mkString(", ") +
          " with content that diverges from the source (local " +
          "transactions at a promoted root?). Refusing to blend " +
          "histories; force=true discards the divergent members, or " +
          "re-replicate to a fresh directory")
      val (present, absent) = m.partition { case (t, v) =>
        fs.exists(memberDir(dstRoot, t, v)) }
      val divergentDirs = present.filter { case (t, v) => diverges(t, v) }
      if (divergentDirs.nonEmpty && !force) refuseDivergent(divergentDirs)
      divergentDirs.foreach { case (t, v) =>
        fs.delete(memberDir(dstRoot, t, v), true)
        System.err.println(s"transaction: force sync re-copies " +
          s"${member(t, v)} at $dstRoot — its content diverged from the source")
      }
      // (table, version) dirs the replica lacks — each stages under a
      // sync-scoped dir, files fan out cluster-wide, then ONE placement
      // per dir makes it whole-or-absent
      val needed = (absent ++ divergentDirs).sortBy(_._1)
      if (needed.isEmpty && dstTxs.contains(id)) {
        // idempotent re-sync: data settled, manifest committed — but a
        // ref re-point still carries
        carryRefs(spark, srcRoot, dstRoot, dstTxs.toSet)
        None
      } else {
        val stagingRoot = new Path(dstRoot,
          "__staging_sync_" + java.util.UUID.randomUUID().toString.take(8))
        // (from, to, expected xxh64 or "" = none recorded) for every file
        // of each needed dir; the sidecar itself and other bookkeeping
        // files copy with no expectation — their integrity is
        // re-derivable
        val unverified = Integrity.replicate(spark, needed.flatMap {
          case (t, v) =>
            val from = memberDir(srcRoot, t, v)
            val vouched = vouch(srcRoot, t, v).getOrElse(throw
              new java.io.FileNotFoundException(s"File $from does not exist"))
            vouched.files.map { n =>
              (new Path(from, n).toString,
                new Path(stagingRoot, s"${member(t, v)}/$n").toString,
                vouched.side.flatMap(_.get(n)).map(_._2).getOrElse(""))
            }
        }, "transaction", dstRoot)
        lastSyncUnverified = unverified
        Some(Commit.Staged(abandon = () => fs.delete(stagingRoot, true),
          commit = () => {
            // a refused placement is benign only when the dir at the name
            // holds the synced content — what a racing sync of the same
            // (table, version) leaves; anything else is another history's
            // member
            try needed.foreach { case (t, v) =>
              if (!Commit.placeDir(fs, new Path(stagingRoot, member(t, v)),
                  memberDir(dstRoot, t, v)) && diverges(t, v))
                refuseDivergent(Seq(t -> v))
            } finally fs.delete(stagingRoot, true)
            // commit point: the tx manifest lands LAST, through the same
            // exclusive publish as publish()
            val already = manifestPath(dstRoot, id)
            val bytes = manifestBytes(spark, srcRoot, id)
            val mTmp = Commit.stage(fs, Commit.Tx, already, bytes)
            syncBarrier()
            val placed = Commit.place(fs, mTmp, already)
            // two syncs of the same tx write byte-identical manifests, so
            // losing the commit rename to a racer is success — but ONLY
            // when what landed is byte-identical: a local publish at a
            // just-promoted root claiming the same id is different
            // content, and acking it would blend histories
            if (!placed && !(fs.exists(already) && java.util.Arrays.equals(
                manifestBytes(spark, dstRoot, id), bytes)))
              throw new java.io.IOException(
                s"syncTo: commit rename to $already failed" +
                  (if (fs.exists(already))
                    " (a DIFFERENT tx manifest holds the id — promoted root?)"
                  else ""))
            // a convicted commit is retracted only when THIS sync placed
            // it — one it lost to may be a post-failover local publish
            // that forged the same bytes — and only while it is the
            // newest tx (the burned floor is the id itself)
            Commit.Landed(s"tx $id",
              newest = () => placed &&
                committedTxs(spark, dstRoot).lastOption.contains(id),
              burn = () => Commit.burn(fs, Commit.Tx, commitsDir(dstRoot), id),
              retract = () => fs.delete(already, false),
              stands = () => {
                Verified.carry(fs, dstP, !force && unverified == 0 &&
                  dstTxs.lastOption.forall(_ <= id), dstTxs.lastOption, id)
                carryRefs(spark, srcRoot, dstRoot, dstTxs.toSet + id)
                needed.size
              })
          }))
      }
    }.getOrElse(0)
  }

  /** Replicate source REFS (the vacuum-exempt GC roots) onto the
    * replica — the same contract as graftsink's tag carry-over:
    * without it a REPLICA [[vacuum]] can drop a transaction the
    * source still pins, silently breaking "the corpus run X trained
    * on stays reproducible at the DR site". txIds ARE comparable
    * across the two roots (syncTo copies manifests verbatim), so a
    * ref carries whenever the replica has that tx committed
    * (`dstTxs`); a ref pinning a tx the replica never synced is
    * skipped (it cannot pin what it does not hold). Re-points follow
    * the source (tag() is an atomic replace); carry failures warn
    * loudly naming the ref.
    */
  private def carryRefs(spark: SparkSession, srcRoot: String,
      dstRoot: String, dstTxs: Set[Long]): Unit =
    refNames(spark, srcRoot).foreach { name =>
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

  private def refsDir(root: String) = new Path(root, "_refs")

  /** A ref is a file under `_refs`, so a name that is empty, contains
    * `/`, or starts with `.` (`.` is `_refs` itself, `..` the root) or
    * `__` (a staged tag) is no ref.
    */
  private def isRefName(n: String): Boolean = n.nonEmpty &&
    !n.contains('/') && !n.startsWith(".") && !n.startsWith("__")

  private def refNames(spark: SparkSession, root: String) =
    listNames(spark, refsDir(root)).filter(isRefName)

  /** Pin a human name to a committed transaction (Iceberg "tag"): the
    * release a model trained on, the audited month-end, the state a
    * backfill should reproduce. A ref is one tiny file whose content
    * is the txId; re-tagging moves the name atomically (staged write +
    * [[Commit.replace]]), so a reader — [[vacuum]] listing its GC roots
    * among them — resolves the old tx or the new one, never none. A
    * name that is no ref name (see [[isRefName]]) is refused before
    * anything is staged.
    */
  def tag(spark: SparkSession, root: String, name: String,
      tx: Long): Unit = {
    require(isRefName(name), s"bad ref name '$name'")
    require(committedTxs(spark, root).contains(tx),
      s"cannot tag uncommitted transaction $tx")
    val dest = new Path(refsDir(root), name)
    val fs = fsOf(spark, dest)
    val tmp = Commit.stage(fs, Commit.Tx, dest,
      tx.toString.getBytes(StandardCharsets.UTF_8))
    if (!Commit.replace(fs, tmp, dest))
      throw new java.io.IOException(s"tag: rename to $dest failed")
  }

  /** Resolve a ref name to its txId. */
  def refTx(spark: SparkSession, root: String, name: String): Long = {
    val p = new Path(refsDir(root), name)
    val fs = fsOf(spark, p)
    require(fs.exists(p), s"no ref '$name' under $root")
    new String(Integrity.readSmall(fs, p), StandardCharsets.UTF_8).trim.toLong
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
    * A dir only dropped transactions reference goes at once. One that
    * no committed manifest references at all is CRASHED-WRITER DEBRIS
    * or a publish in flight — [[publish]] places its member dirs
    * before its manifest — so, like the rest of the debris, it goes
    * only once it is older than `graceMs` (the same aged-only contract
    * the sink vacuum runs under, [[Commit.sweepAged]]). The rest of
    * the debris sweeps even when no tx expires: stale `__staging*`
    * entries at the root and under `_commits/`, and superseded floor
    * markers (the max governs; lower ones are listing noise). Without
    * this, every crashed publish leaks a whole staged table copy
    * forever — [[fsck]] counts them, vacuum owns them.
    */
  def vacuum(spark: SparkSession, root: String, keep: Int,
      graceMs: Long = 3600000L): Seq[Long] = {
    require(keep >= 1, "vacuum: keep must be >= 1")
    val committed = committedTxs(spark, root)
    val fs = fsOf(spark, new Path(root))
    val cutoff = System.currentTimeMillis() - graceMs
    // stale staging + superseded floors sweep EVEN when no tx expires
    stagingSpots(root).foreach(Commit.sweepAged(fs, _, cutoff,
      recurse = true)(isStaging))
    Commit.sweep(fs, Commit.Tx, commitsDir(root),
      committed.lastOption.getOrElse(-1L) + 1L)
    val pinned = refNames(spark, root).map(refTx(spark, root, _)).toSet
    val keptTxs = (committed.takeRight(keep).toSet ++ pinned).toSeq.sorted
    val dropTxs = committed.filterNot(keptTxs.contains)
    if (dropTxs.isEmpty) return Seq.empty
    def members(txs: Seq[Long]) = txs.flatMap(tx =>
      manifest(spark, root, tx).map { case (t, v) => member(t, v) }).toSet
    // reachable members under the kept manifests
    val live = members(keptTxs)
    val dropped = members(dropTxs) -- live
    dropTxs.foreach(tx => fs.delete(manifestPath(root, tx), false))
    dropped.foreach(m => fs.delete(new Path(s"$root/$m"), true))
    tablesUnder(fs, root).foreach(Commit.sweepAged(fs, _, cutoff,
      recurse = true)(versionOf(_).exists(!live(_))))
    dropTxs
  }

  /** The spots crashed publishes and syncs leave `__staging*` debris
    * in: the root and its `_commits/`.
    */
  private def stagingSpots(root: String) = Seq(new Path(root), commitsDir(root))

  private def isStaging(st: FileStatus) =
    st.getPath.getName.startsWith("__staging")

  /** The table dirs under `root`: its dirs not named `_*`. */
  private def tablesUnder(fs: FileSystem, root: String): Seq[Path] =
    (try fs.listStatus(new Path(root)).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty })
      .filter(t => t.isDirectory && !t.getPath.getName.startsWith("_"))
      .map(_.getPath)

  /** The member a version dir `t<id>` under a table dir names. */
  private def versionOf(st: FileStatus): Option[String] = {
    val n = st.getPath.getName
    if (st.isDirectory && n.startsWith("t") && n.drop(1).forall(_.isDigit))
      n.drop(1).toLongOption.map(member(st.getPath.getParent.getName, _))
    else None
  }

  /** @param deep whether member CONTENT was re-hashed (vs existence +
    *             size only).
    * @param unverifiedMembers committed member version dirs with no
    *             sidecar (legacy publishes), or with a payload file
    *             their sidecar does not list ([[read]] reads every
    *             payload file of the dir) — DECLINED, loudly, never
    *             silently passed, watermark-covered or not:
    *             [[TxFsckReport.clean]] can hold while
    *             [[TxFsckReport.deepVerified]] does not.
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
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    // incremental deep verification — the sink's `_deep_verified`
    // watermark chain, at the tx root: members first referenced by a
    // tx ≤ k were re-hashed by an earlier deepVerified pass and are
    // immutable, so a scheduled pass re-hashes only newer members
    // (O(new data) per cadence; the FULL drill catches rot landing in
    // already-verified bytes). The walk yields each member once, as
    // an entry named `<table>/t<version>` whose `hashContent` says
    // whether its files re-hash.
    val (report, through) = Verified.walk(fs, rootP, deep, sinceVerified,
        committedTxs(spark, root), _ => false) { tx =>
      Some(manifest(spark, root, tx).iterator.map { case (t, v) =>
        Integrity.Entry(member(t, v), -1L, "", hashContent = false) })
    } { h =>
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val rootStr = root
      // MEMBER METADATA PASS, cluster-fanned (one task per member dir:
      // one listing + one tiny sidecar read): the per-file checks below
      // already fan out, and at decade scale (64 tables × deep history
      // on a scheduled cadence) a driver-sequential sidecar walk is
      // O(members) blocking round-trips for no reason.
      // (member, None when its dir is missing, else its vouch)
      val sides =
        if (h.refs.isEmpty) Seq.empty
        else spark.sparkContext
          .parallelize(h.refs, Integrity.slices(spark, h.refs.size))
          .map { m =>
            val dir = new Path(s"$rootStr/${m.path}")
            m -> Integrity.vouch(dir.getFileSystem(conf.value), dir)
          }.collect().toSeq
      var unverifiedMembers = 0
      // existence+size always, content re-hash when deep and uncovered;
      // a file the sidecar leaves out is unverified however the member
      // is covered — that takes a listing, not a re-hash
      val entries = sides.flatMap { case (m, vouched) =>
        vouched.toSeq.flatMap { v =>
          val unlisted = v.unlisted.size
          if (v.side.isEmpty || unlisted > 0) {
            unverifiedMembers += 1
            Integrity.warnUnverified(s"transaction: fsck cannot verify " +
              s"${m.path} under $root — " + (if (v.side.isEmpty)
                "no checksum sidecar (legacy publish)"
              else s"$unlisted file(s) outside its checksum sidecar") +
              "; republish to regain content integrity")
          }
          v.entries(s"$rootStr/${m.path}", m.hashContent)
        }
      }
      val a = Integrity.audit(spark, entries, deep,
        _.stripPrefix(s"$rootStr/"), _ => "")
      // orphan member dirs (no committed manifest references them) and
      // stale staging leftovers — benign GC debris, tallied not flagged
      val walked = h.refs.map(_.path).toSet
      val report = TxFsckReport(h.checked, h.unreadable, h.refs.size,
        sides.collect { case (m, None) => m.path },
        entries.size, a.missing, a.sizes, a.sums, unverifiedMembers,
        tablesUnder(fs, root).map(Commit.tally(fs, _)(
          versionOf(_).exists(!walked(_)))).sum,
        stagingSpots(root).map(Commit.tally(fs, _)(isStaging)).sum, deep,
        contentHashed = a.hashed, skippedVerified = a.skipped)
      (report, report.deepVerified)
    }
    report.copy(verifiedThrough = through)
  }

  /** The root's deep-verification chain (`_deep_verified`,
    * "deep-verified through tx k"): monotone, advanced only by
    * [[fsck]] passes that end [[TxFsckReport.deepVerified]] and by
    * [[syncTo]]'s verified-by-replication carry.
    */
  private val Verified = Integrity.Chain("tx", Commit.Tx)
}
