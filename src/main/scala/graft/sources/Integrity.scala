package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The content-integrity kernel shared by the three versioned-table
  * layers — graftsink ([[GraftSink]]), `operators.Transaction` and
  * `operators.MergeOnRead`. Each layer keeps its own layout, its
  * listing, its reports and its texts; these live here once:
  *  - the hashing, the sidecar and what it vouches for ([[vouch]]);
  *  - the fsck audit ([[audit]]: the fan-out file check, the damage
  *    split by kind, the hashed/skipped/declined tally) and the
  *    verify-before-rewrite refusal built on the same check
  *    ([[refuseDamaged]]);
  *  - the deep-verification chain ([[Chain]]) with the one walk of a
  *    layer's committed history an fsck pass runs ([[Chain.walk]]:
  *    start the watermark, mark what it covers, record what does not
  *    read, leave the watermark);
  *  - the two steps a replica sync shares: the verified copy fan-out
  *    ([[replicate]]) and the chain carry ([[Chain.carry]]).
  * The aged debris sweep and the streamed tally are [[Commit]]'s.
  *
  * CHECKSUM: XXH64 (seed 0, lz4-java — already on Spark's classpath)
  * over a file's full content, rendered as 16 lowercase hex chars.
  * The streaming form is chunk-boundary-invariant, so a writer folding
  * row payloads as it streams and a re-hash folding 64 KB read buffers
  * agree on the same bytes.
  *
  * SIDECAR (`_checksums`, Transaction version dirs and MergeOnRead
  * base/batch dirs; graftsink records the same checksum per file in
  * its manifest instead): one line per payload file,
  * `name<TAB>bytes<TAB>xxh64`, sorted by name, each line ending in
  * `\n`; a dir with no payload holds `\n` alone. Payload = the dir's
  * plain files whose names start with neither `_` nor `.` (Hadoop
  * bookkeeping and the sidecar itself are never listed).
  *
  * VOUCH ([[vouch]]): a payload file its dir's sidecar does not list —
  * every payload file of a dir without one — is UNVERIFIED, in every
  * layer that keeps sidecars: their readers read every payload file of
  * a dir, so such a file is counted and warned about via
  * [[warnUnverified]], never passed as verified.
  */
private[graft] object Integrity {

  private val Sidecar = "_checksums"

  /** The persisted deep-verification watermark file (see [[Chain]]). */
  private val DeepVerified = "_deep_verified"

  def newHash(): net.jpountz.xxhash.StreamingXXHash64 =
    net.jpountz.xxhash.XXHashFactory.fastestInstance()
      .newStreamingHash64(0L)

  def hex(v: Long): String = f"$v%016x"

  /** Chunked whole-file XXH64. */
  def hashFile(fs: FileSystem, p: Path): String = {
    val h = newHash()
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) h.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    hex(h.getValue)
  }

  /** The payload file names of `dir`, sorted. */
  def payload(fs: FileSystem, dir: Path): Seq[String] =
    payloadFiles(fs, dir).map(_.getPath.getName)

  /** The payload files of `dir`, sorted by name. */
  private def payloadFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).filter(f => f.isFile && isPayload(f.getPath.getName))
      .sortBy(_.getPath.getName).toSeq

  private def isPayload(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Slice count for every per-file fan-out (stamp, check, verified
    * copy): one file per task up to twice the cluster width, so uneven
    * file sizes rebalance, floored at 64 so a small cluster still fans
    * a many-file dir out. Scales with the cluster, not a constant (the
    * CloneDecade row pins near-linear task scaling in file count).
    */
  def slices(spark: SparkSession, n: Int): Int =
    math.min(n, math.max(64, spark.sparkContext.defaultParallelism * 2))
      .max(1)

  /** A payload of at most this many files and bytes is hashed on the
    * calling thread: a few milliseconds of reads, where the fan-out job
    * costs a job launch plus, in every task, a deserialized copy of
    * the whole Hadoop `Configuration` (megabytes of garbage each).
    */
  private val InlineFiles = 16
  private val InlineBytes = 4L << 20

  /** Write `dir`'s sidecar: a large payload is hashed by one
    * cluster-fanned job (one task per file); one file, or a few small
    * ones ([[InlineFiles]], [[InlineBytes]]), are hashed on the calling
    * thread — the same [[hashFile]] either way, so the bytes are
    * identical and a small dir launches no job. A dir with no payload
    * runs no job and gets `\n`. Overwrites an existing sidecar, so a
    * replayed dir write re-stamps. A missing dir is left alone.
    */
  def stamp(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val files = payloadFiles(fs, p)
    val lines =
      if (files.size <= 1 || (files.size <= InlineFiles &&
          files.map(_.getLen).sum <= InlineBytes))
        files.map(f => sidecarLine(fs, f.getPath))
      else {
        val conf = new SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        spark.sparkContext
          .parallelize(files.map(_.getPath.toString),
            slices(spark, files.size))
          .map { s =>
            val fp = new Path(s)
            sidecarLine(fp.getFileSystem(conf.value), fp)
          }.collect().toSeq.sorted
      }
    val out = fs.create(new Path(p, Sidecar), true)
    try out.write((lines.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def sidecarLine(fs: FileSystem, p: Path): String =
    s"${p.getName}\t${fs.getFileStatus(p).getLen}\t${hashFile(fs, p)}"

  /** What one listing of a dir says about its content: `files` are its
    * plain file names, sorted, bookkeeping included; `side` its sidecar
    * as file name → (bytes, xxh64), None when it has none.
    */
  final case class Vouch(files: Seq[String],
      side: Option[Map[String, (Long, String)]]) {
    /** The payload files the sidecar does not list: UNVERIFIED. */
    def unlisted: Seq[String] =
      files.filter(n => isPayload(n) && !side.exists(_.contains(n)))

    /** The sidecar-listed files, by name, as [[check]] entries of the
      * dir at `dir`: a listed file that vanished is damage.
      */
    def entries(dir: String, hashContent: Boolean): Seq[Entry] =
      side.getOrElse(Map.empty).toSeq.sortBy(_._1).map {
        case (n, (b, sum)) => Entry(s"$dir/$n", b, sum, hashContent)
      }
  }

  /** `dir`'s [[Vouch]]: one listing, plus one read of the sidecar when
    * the listing holds one; None when the dir does not exist. Plain
    * FileSystem IO: runs on the driver and inside executor tasks alike.
    */
  def vouch(fs: FileSystem, dir: Path): Option[Vouch] = {
    val listed =
      try fs.listStatus(dir)
      catch { case _: java.io.FileNotFoundException => return None }
    val files = listed.filter(_.isFile).map(_.getPath.getName).sorted.toSeq
    Some(Vouch(files,
      if (files.contains(Sidecar)) Some(readSidecar(fs, dir)) else None))
  }

  private def readSidecar(fs: FileSystem,
      dir: Path): Map[String, (Long, String)] =
    readText(fs, new Path(dir, Sidecar)).split("\n").iterator
      .filter(_.nonEmpty).map { l =>
        val a = l.split("\t", -1)
        a(0) -> ((a(1).toLong, a(2)))
      }.toMap

  /** The whole content of small file `p`. */
  def readSmall(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val o = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, o, 4096, false)
      o.toByteArray
    } finally in.close()
  }

  private def readText(fs: FileSystem, p: Path): String =
    new String(readSmall(fs, p), StandardCharsets.UTF_8)

  /** Executor-side VERIFIED byte copy for replication: streams src→dst
    * folding XXH64 over the same buffers, then re-hashes the LANDED
    * bytes. With a recorded checksum (`expect` non-empty), a mismatch
    * of either FAILS the copy loudly — replication must never
    * propagate silent source-side corruption, and a destination write
    * path that corrupted the bytes must never produce a replica its
    * own deep fsck would fail (the read-back is what lets replication
    * feed the replica's deep-verification watermark). `expect` empty =
    * legacy, copied unverified. The staging name is UNIQUE PER ATTEMPT,
    * so a speculative or retried task never truncates another attempt's
    * in-progress bytes out from under its verification; losers are
    * `.`-hidden for vacuum, and the final step replaces
    * ([[Commit.replace]]): a racing copy of the same immutable file
    * landing before or after is benign. `label` prefixes every error
    * (`graftsink`, `transaction`).
    */
  private def copyVerified(conf: Configuration, from: Path, to: Path,
      expect: String, label: String): Unit = {
    val sf = from.getFileSystem(conf)
    val df = to.getFileSystem(conf)
    val h = newHash()
    df.mkdirs(to.getParent)
    val tmp = new Path(to.getParent, s".${to.getName}.inflight-" +
      java.util.UUID.randomUUID().toString.take(8))
    val in = sf.open(from)
    try {
      val out = df.create(tmp, false)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) {
          if (n > 0) { out.write(buf, 0, n); h.update(buf, 0, n) }
          n = in.read(buf)
        }
      } finally out.close()
    } finally in.close()
    if (expect.nonEmpty) {
      val actual = hex(h.getValue)
      if (actual != expect) {
        df.delete(tmp, false)
        sys.error(s"$label: replication copy of $from reads xxh64 " +
          s"$actual but $expect is recorded — refusing to propagate " +
          "corruption (deep-fsck and restore the source object first)")
      }
      val landed = hashFile(df, tmp)
      if (landed != expect) {
        df.delete(tmp, false)
        sys.error(s"$label: replication copy to $to LANDED with xxh64 " +
          s"$landed but $expect is recorded — the destination storage " +
          "corrupted the write; retry, and check the destination volume")
      }
    }
    // a re-copy replaces
    if (!Commit.replace(df, tmp, to) && !df.exists(to))
      sys.error(s"$label: replication copy rename to $to failed")
  }

  /** The verified copy of a replication: one task per (from, to,
    * expected xxh64) triple (see [[slices]]), each through
    * [[copyVerified]]; no job for no files. A payload file with no
    * expected checksum ("", a legacy commit) copies UNVERIFIED: such
    * files are counted and warned about once per call, naming `label`,
    * the replica `dest` and the count. A bookkeeping file (`_` or `.`
    * name: a sidecar, a `_SUCCESS`) copies with no expectation and is
    * not counted — its integrity is re-derivable. Returns the
    * unverified count.
    */
  def replicate(spark: SparkSession, files: Seq[(String, String, String)],
      label: String, dest: String): Int = {
    if (files.nonEmpty) {
      val conf = new SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      spark.sparkContext.parallelize(files, slices(spark, files.size))
        .foreach { case (from, to, expect) =>
          copyVerified(conf.value, new Path(from), new Path(to), expect, label)
        }
    }
    val unverified = files.collect {
      case (from, _, "") if isPayload(new Path(from).getName) => from
    }
    if (unverified.nonEmpty)
      warnUnverified(s"$label: ${unverified.size} file(s) replicated to " +
        s"$dest UNVERIFIED — no checksum recorded at the source (legacy " +
        "commit): " + unverified.take(3).mkString(", ") +
        (if (unverified.size > 3) s" (+${unverified.size - 3} more)" else "") +
        "; re-commit the source, or accept existence-only integrity")
    unverified.size
  }

  /** One file to check: its recorded size (−1 = unknown, skip the size
    * test) and checksum ("" = none recorded), and whether to re-hash
    * its content.
    */
  final case class Entry(path: String, bytes: Long, sum: String,
      hashContent: Boolean)

  /** `kind` is `missing`, `size` or `checksum`; `path` is the entry's
    * path string exactly as given.
    */
  final case class Damage(path: String, kind: String, detail: String)

  /** The fan-out file check behind [[audit]] and [[refuseDamaged]]:
    * one task per file (see [[slices]]) tests existence, then the
    * recorded size, then — when `hashContent` and a checksum is
    * recorded — the content hash. Only damage returns to the driver,
    * so the collect is O(damage), not O(files). No job for no entries.
    */
  private def check(spark: SparkSession, entries: Seq[Entry]): Seq[Damage] =
    if (entries.isEmpty) Seq.empty
    else {
      val conf = new SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      spark.sparkContext.parallelize(entries, slices(spark, entries.size))
        .flatMap { e =>
          val p = new Path(e.path)
          try {
            val f = p.getFileSystem(conf.value)
            val len = f.getFileStatus(p).getLen
            if (e.bytes >= 0 && len != e.bytes)
              Some(Damage(e.path, "size", s"size $len != recorded ${e.bytes}"))
            else if (e.hashContent && e.sum.nonEmpty) {
              val actual = hashFile(f, p)
              if (actual != e.sum) Some(Damage(e.path, "checksum",
                s"content xxh64 $actual != recorded ${e.sum}"))
              else None
            } else None
          } catch { case _: java.io.FileNotFoundException =>
            Some(Damage(e.path, "missing", "missing"))
          }
        }.collect().toSeq
    }

  /** What one [[audit]] found: the missing files' names, then
    * `name (detail)` for size and for checksum mismatches, and the work
    * list's tally — entries whose content was re-hashed, and on a deep
    * pass the entries a watermark covers (`skipped`) and those declined
    * for want of a recorded checksum (`declined`).
    */
  final case class Audit(missing: Seq[String], sizes: Seq[String],
      sums: Seq[String], hashed: Int, skipped: Int, declined: Int)

  /** THE FSCK AUDIT every layer's report is built from: [[check]] the
    * entries, then split the damage by kind. `name` renders a damaged
    * path in the report, and `what` names what kind of file it is in
    * front of its detail ("" for a payload file).
    */
  def audit(spark: SparkSession, entries: Seq[Entry], deep: Boolean,
      name: String => String, what: String => String): Audit = {
    val damage = check(spark, entries)
    def of(kind: String) = damage.filter(_.kind == kind)
    def shown(d: Damage) = s"${name(d.path)} (${what(d.path)}${d.detail})"
    Audit(of("missing").map(d => name(d.path)), of("size").map(shown),
      of("checksum").map(shown),
      entries.count(e => e.hashContent && e.sum.nonEmpty),
      if (deep) entries.count(!_.hashContent) else 0,
      if (deep) entries.count(e => e.hashContent && e.sum.isEmpty) else 0)
  }

  /** VERIFY BEFORE REWRITE, for a rewrite that re-lands bytes under a
    * fresh checksum (graftsink's cluster, `MergeOnRead`'s folds):
    * [[check]] the entries and, on any damage, refuse with the layer's
    * `refusal` of the first three damaged paths with their details and
    * a count of the rest.
    */
  def refuseDamaged(spark: SparkSession, entries: Seq[Entry],
      refusal: String => String): Unit = {
    val bad = check(spark, entries)
    if (bad.nonEmpty) sys.error(refusal(
      bad.take(3).map(d => s"${d.path} (${d.detail})").mkString("; ") +
        (if (bad.size > 3) s" (+${bad.size - 3} more)" else "")))
  }

  /** Every warning about content copied, folded, rewritten or checked
    * without a recorded checksum goes through here.
    */
  def warnUnverified(text: String): Unit = System.err.println(text)

  /** What [[Chain.walk]] found in a layer's committed history: each
    * referenced path once, as an [[Entry]] whose `hashContent` says
    * whether a deep pass re-hashes it (no id at or below the starting
    * watermark refers to it); how many ids were checked; and the ids
    * whose references failed to read.
    */
  final case class History(refs: Seq[Entry], checked: Int,
      unreadable: Seq[Long])

  /** One layer's deep-verification chain. Its [[DeepVerified]] file in
    * the layer's dir holds `<key>=<id>` then `atMs=<stamp>`, one per
    * line (`tx` at a Transaction root, `version` at a graftsink table):
    * every payload byte first referenced by an id ≤ the watermark was
    * re-hashed by a pass that ended deep-verified, and is immutable
    * since. A stamp stages through `layer`'s staging spot.
    */
  final case class Chain(key: String, layer: Commit.Layer) {

    /** The stored watermark; −1 when absent or unreadable. */
    def read(fs: FileSystem, dir: Path): Long = {
      val p = new Path(dir, DeepVerified)
      if (!fs.exists(p)) -1L
      else try readText(fs, p).split("\n").collectFirst {
          case l if l.startsWith(s"$key=") =>
            l.stripPrefix(s"$key=").trim.toLong
        }.getOrElse(-1L)
      catch { case scala.util.control.NonFatal(_) => -1L }
    }

    /** Stamp the watermark at `id`: staged, then put in place of the
      * old stamp in one step ([[Commit.replace]]), so a reader always
      * finds a stamp. A racing stamp landing last is fine.
      */
    def write(fs: FileSystem, dir: Path, id: Long): Unit = {
      val tmp = layer.staging(dir)
      fs.mkdirs(tmp.getParent)
      val out = fs.create(tmp, true)
      try out.write(s"$key=$id\natMs=${System.currentTimeMillis()}\n"
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
      Commit.replace(fs, tmp, new Path(dir, DeepVerified))
    }

    /** The verified-by-replication carry: a sync whose copied bytes
      * were all verified in flight ([[replicate]] hashes what it reads
      * AND what it lands) stamps `id`, the replica's new head, while
      * the stored watermark equals `head`, the replica's head before
      * the sync — everything the sync did not copy is then covered, by
      * induction from the first sync or the clone's birth. An empty
      * replica (`head` None) owes nothing. `verified` false is the
      * layer's decline (force, unverified or checksum-less entries, a
      * pinned backfill), and a lagging watermark declines too: a drill
      * or an incremental fsck pass re-establishes the chain.
      */
    def carry(fs: FileSystem, dir: Path, verified: Boolean,
        head: Option[Long], id: Long): Unit =
      if (verified && head.forall(_ == read(fs, dir))) write(fs, dir, id)

    /** The watermark a pass starts from: the stored one for an
      * incremental deep pass (`sinceVerified`), which skips re-hashing
      * what it covers; −1 for any other pass, which covers nothing.
      */
    private def start(fs: FileSystem, dir: Path, deep: Boolean,
        sinceVerified: Boolean): Long =
      if (deep && sinceVerified) read(fs, dir) else -1L

    /** The watermark a pass leaves: a `deepVerified` pass stamps the
      * newest id it walked when that is past `start` (full passes
      * establish the chain, incremental ones extend it); anything short
      * of that — damage found, bytes declined unverified — leaves the
      * stored one, reported as the larger of it and `start`.
      */
    private def leave(fs: FileSystem, dir: Path, start: Long,
        deepVerified: Boolean, newest: Option[Long]): Long =
      newest.filter(n => deepVerified && n > start) match {
        case Some(n) => write(fs, dir, n); n
        case None => math.max(start, read(fs, dir))
      }

    /** THE COMMITTED-HISTORY WALK of an fsck pass: start from the
      * watermark ([[start]]), read each of `ids` in the layer's order
      * through `refs`, hand the [[History]] to `report` — which builds
      * the layer's report and says whether the pass ended
      * deep-verified — and [[leave]] the watermark at the newest id
      * checked. Returns the report and the watermark left.
      *
      * `refs` gives None for an id that is no committed one (skipped,
      * not checked); a throw, at the call or mid-iteration, marks the
      * id unreadable, and what it yielded before the throw stands. The
      * first record of a path stands, except on the paths `sumWins`
      * picks: there a record with a checksum replaces a checksum-less
      * one (a reference to an immutable file, recorded again once
      * checksums were).
      */
    def walk[R](fs: FileSystem, dir: Path, deep: Boolean,
        sinceVerified: Boolean, ids: Seq[Long], sumWins: String => Boolean)(
        refs: Long => Option[Iterator[Entry]])(
        report: History => (R, Boolean)): (R, Long) = {
      val from = start(fs, dir, deep, sinceVerified)
      val found = scala.collection.mutable.LinkedHashMap.empty[String, Entry]
      val covered = scala.collection.mutable.Set.empty[String]
      val unreadable = Seq.newBuilder[Long]
      val checked = ids.filter { id =>
        try refs(id).map(_.foreach { e =>
          if (found.get(e.path).forall(f =>
              sumWins(e.path) && f.sum.isEmpty && e.sum.nonEmpty))
            found(e.path) = e
          if (id <= from) covered += e.path
        }).isDefined
        catch { case scala.util.control.NonFatal(_) => unreadable += id; true }
      }
      val (r, deepVerified) = report(History(found.values.map(e =>
        e.copy(hashContent = deep && !covered(e.path))).toSeq,
        checked.size, unreadable.result()))
      (r, leave(fs, dir, from, deepVerified, checked.maxOption))
    }
  }
}
