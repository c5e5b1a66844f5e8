package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}

/** The commit kernel shared by the two versioned layers with a commit
  * point of their own — graftsink ([[GraftSink]], one manifest per
  * table version) and `operators.Transaction` (one manifest per
  * multi-table transaction). Each layer keeps its own layout, its
  * claim arithmetic and the refusal texts of its own guards; the
  * exclusive publish of a small file, the version-floor markers, the
  * promote fence, and a replica sync's three fence checks with their
  * refusal texts ([[sync]]) live here once.
  *
  * PLACEMENT: everything staged takes its final name here. On `file:`
  * no placement uses Hadoop's `rename`: `LocalFileSystem` replaces an
  * existing target file and moves a directory INSIDE an existing one
  * (its copy fallback), reporting success either way.
  *  - A FILE ([[stage]] then [[place]]): the bytes are written whole
  *    to a staging file in the layer's staging spot, then placed at
  *    the final name only if that name does not exist — a hard link on
  *    `file:` (kernel EEXIST: exactly one winner, and the content is
  *    complete the instant the name exists) and a no-overwrite rename
  *    elsewhere. `create(overwrite = false)` is not exclusive either
  *    (exists-check then open on a local filesystem: two racers can
  *    both win). A crashed publisher leaves only a staging file for
  *    the layer's vacuum.
  *  - A DIRECTORY ([[placeDir]]): takes its final name only if that
  *    name holds nothing, and never lands inside an existing dir —
  *    rename(2) on `file:` (refuses a non-empty target, replaces an
  *    empty one), a no-overwrite `FileContext` rename elsewhere. The
  *    caller decides what a refusal means.
  *  - A REPLACEMENT ([[replace]]): a staged file takes a name that
  *    may exist in one atomic step, so a reader sees the old bytes or
  *    the new ones and never neither.
  * A Hadoop `.crc` written beside a staged file follows it to the
  * final name (a replacement drops the old one first), so a
  * checksummed filesystem keeps checking every later read and never
  * pairs new bytes with an old checksum.
  *
  * VERSION FLOORS: deleting a committed manifest vacates its id, and
  * the next claim computed from the remaining head would re-mint it
  * for different content — a reader or version-keyed cache that
  * resolved the vacated id in the race window would conflate the two.
  * A floor marker burns ids: its value rides in its NAME (exclusive
  * create, zero reads). What the value means is the layer's (graftsink:
  * the lowest version a commit may claim; Transaction: the highest
  * burned id). A marker is only ever burned at or below the newest
  * committed id + 1 in the layer's own terms, so the governing floor
  * is the max over the markers that parse and lie at or below the
  * layer's plausibility `limit`: a corrupt or crafted marker above it,
  * or a name that does not parse, is ignored — it can neither renumber
  * the table nor wedge a commit or a vacuum.
  *
  * PROMOTE FENCE: a marker at the root makes a replica's old source
  * refuse to sync ([[raised]], [[raise]]). Every sync runs through
  * [[sync]], which checks it at entry and again once the copy is done,
  * and re-checks it AFTER the commit point — the commit-time
  * [[convict]]ion: a sync paused past its last check for the whole
  * promotion finds the fence after committing and retracts its own
  * commit while it is provably still the newest, burning the vacated
  * id first.
  *
  * DEBRIS: what a crashed writer leaves under a layer's names — a
  * staging file or dir, a placed dir no commit references yet, an
  * aside-swap leftover — may equally belong to a writer in flight
  * right now, so every vacuum removes it only once it is older than
  * the caller's grace ([[sweepAged]]: graftsink's orphan data files,
  * segments and staging; `Transaction`'s staging and orphan member
  * dirs; `ParquetIO.gcStaged`'s swap artifacts). An fsck counts the
  * same entries ([[tally]]). Both stream the listing, so the driver
  * holds O(1) however many entries a flat dir has.
  */
private[graft] object Commit {

  /** One layer's commit-file names: the floor-marker prefix and
    * rendering, and a fresh staging file in a directory (each layer's
    * vacuum sweeps its own staging spot).
    */
  final case class Layer(floorPrefix: String, floorName: Long => String,
      staging: Path => Path)

  /** Test seam: runs right before the move of a [[placeDir]] or a
    * [[replace]], with the staged path and its final name. A spec
    * plants a racer at the final name HERE. No-op in production.
    */
  private[graft] var placeBarrier: (Path, Path) => Unit = (_, _) => ()

  private def uuid(n: Int) = java.util.UUID.randomUUID().toString.take(n)

  /** graftsink: `_floor-v%06d` in the table dir, staging under
    * `_staging/`.
    */
  val Sink = Layer("_floor-v", v => f"_floor-v$v%06d",
    dir => new Path(dir, s"_staging/tmp-${uuid(12)}"))

  /** Transaction: `__floor_tx<N>` in `_commits/`, `__staging_*`
    * siblings.
    */
  val Tx = Layer("__floor_tx", v => s"__floor_tx$v",
    dir => new Path(dir, s"__staging_${uuid(8)}"))

  // ---- exclusive publish --------------------------------------------

  /** Write `bytes` whole to a fresh staging file beside `dst`; returns
    * it for [[place]].
    */
  def stage(fs: FileSystem, layer: Layer, dst: Path,
      bytes: Array[Byte]): Path = {
    val tmp = layer.staging(dst.getParent)
    val out = fs.create(tmp, false)
    try out.write(bytes) finally out.close()
    tmp
  }

  private def isLocal(fs: FileSystem) =
    "file".equalsIgnoreCase(fs.getUri.getScheme)

  private def local(fs: FileSystem, p: Path) =
    Paths.get(fs.makeQualified(p).toUri.getPath)

  /** The Hadoop checksum file beside `p`, on `file:`. */
  private def crc(fs: FileSystem, p: Path) =
    local(fs, new Path(p.getParent, s".${p.getName}.crc"))

  /** Move `tmp`'s `.crc`, if any, to `dst`'s. */
  private def carryCrc(fs: FileSystem, tmp: Path, dst: Path): Unit =
    if (Files.exists(crc(fs, tmp)))
      Files.move(crc(fs, tmp), crc(fs, dst), StandardCopyOption.REPLACE_EXISTING)

  /** Give staged `tmp` the name `dst` unless `dst` exists. True: this
    * call placed it; false: `dst` was already there. `tmp` is gone
    * either way.
    */
  def place(fs: FileSystem, tmp: Path, dst: Path): Boolean = {
    val won =
      if (isLocal(fs))
        try {
          Files.createLink(local(fs, dst), local(fs, tmp))
          carryCrc(fs, tmp, dst)
          true
        } catch { case _: FileAlreadyExistsException => false }
      else
        try fs.rename(tmp, dst)
        catch { case _: java.io.IOException => false }
    fs.delete(tmp, false)
    won
  }

  /** One atomic move of `from` to `to`: rename(2) on `file:` (it
    * replaces a file or an empty dir and refuses a non-empty dir), a
    * `FileContext` rename that may or may not `overwrite` elsewhere.
    */
  private def move(fs: FileSystem, from: Path, to: Path,
      overwrite: Boolean): Unit = {
    placeBarrier(from, to)
    if (isLocal(fs))
      Files.move(local(fs, from), local(fs, to), StandardCopyOption.ATOMIC_MOVE)
    else FileContext.getFileContext(fs.getUri, fs.getConf).rename(from, to,
      if (overwrite) Options.Rename.OVERWRITE else Options.Rename.NONE)
  }

  /** Give staged directory `staged` the name `dest` only if that name
    * holds nothing (on `file:` an empty dir there is replaced), never
    * moving it INSIDE an existing dir; `dest`'s parent is created.
    * True: placed. False: `dest` holds something, and `staged` stays
    * where it is. Any other failure throws.
    */
  def placeDir(fs: FileSystem, staged: Path, dest: Path): Boolean = {
    fs.mkdirs(dest.getParent)
    try { move(fs, staged, dest, overwrite = false); true }
    catch { case e: java.io.IOException =>
      if (fs.exists(dest)) false else throw e }
  }

  /** Give staged file `tmp` the name `dst` in one atomic step, whether
    * or not `dst` exists. True: `dst` holds `tmp`'s bytes; false: the
    * move failed. `tmp` is gone either way.
    */
  def replace(fs: FileSystem, tmp: Path, dst: Path): Boolean = {
    val moved =
      try {
        if (isLocal(fs)) Files.deleteIfExists(crc(fs, dst))
        move(fs, tmp, dst, overwrite = true)
        if (isLocal(fs)) carryCrc(fs, tmp, dst)
        true
      } catch { case _: java.io.IOException => false }
    if (!moved) fs.delete(tmp, false)
    moved
  }

  /** [[stage]] then [[place]]. */
  private def create(fs: FileSystem, layer: Layer, dst: Path,
      bytes: Array[Byte]): Boolean =
    place(fs, stage(fs, layer, dst, bytes), dst)

  // ---- version floors -----------------------------------------------

  /** Every floor marker value in `dir`; names that do not parse are
    * skipped, and a missing dir has none.
    */
  def floors(fs: FileSystem, layer: Layer, dir: Path): Seq[Long] =
    try floors(layer, fs.listStatus(dir).toSeq.map(_.getPath.getName))
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** The floor marker values among the file `names` of a listing that
    * the caller already holds.
    */
  def floors(layer: Layer, names: Seq[String]): Seq[Long] =
    names.filter(_.startsWith(layer.floorPrefix))
      .flatMap(_.stripPrefix(layer.floorPrefix).toLongOption)

  /** The governing floor: the max of `floors` at or below `limit`;
    * −1 when none is.
    */
  def floor(floors: Seq[Long], limit: Long): Long =
    floors.filter(_ <= limit).foldLeft(-1L)(math.max)

  /** Burn `value` with an exclusive create; losing to a racing burn of
    * the same value is fine.
    */
  def burn(fs: FileSystem, layer: Layer, dir: Path, value: Long): Unit =
    create(fs, layer, new Path(dir, layer.floorName(value)), Array.empty)

  /** Delete the markers below the governing floor at `limit` (the max
    * governs, lower ones are listing noise); markers above `limit` are
    * left as they are.
    */
  def sweep(fs: FileSystem, layer: Layer, dir: Path, limit: Long): Unit = {
    val all = floors(fs, layer, dir)
    val keep = floor(all, limit)
    all.filter(_ < keep).foreach(v =>
      fs.delete(new Path(dir, layer.floorName(v)), false))
  }

  // ---- debris -------------------------------------------------------

  /** Each entry of `dir`, from one streamed listing; none when it does
    * not exist.
    */
  private def streamed(fs: FileSystem, dir: Path): Iterator[FileStatus] =
    if (!fs.exists(dir)) Iterator.empty
    else {
      val it = fs.listStatusIterator(dir)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
    }

  /** Delete each entry of `dir` last modified before `cutoff` that
    * `doomed` picks (`recurse` into a dir), as the listing streams;
    * returns the deleted paths.
    */
  def sweepAged(fs: FileSystem, dir: Path, cutoff: Long, recurse: Boolean)(
      doomed: FileStatus => Boolean): Seq[Path] =
    streamed(fs, dir)
      .filter(st => st.getModificationTime < cutoff && doomed(st))
      .map { st => fs.delete(st.getPath, recurse); st.getPath }.toSeq

  /** How many entries of `dir` `counted` picks, streamed. */
  def tally(fs: FileSystem, dir: Path)(counted: FileStatus => Boolean): Int =
    streamed(fs, dir).count(counted)

  // ---- promote fence ------------------------------------------------

  private def fenceMarker(root: Path): Path = new Path(root, "_promoted")

  /** Whether `root`'s fence is up. */
  def raised(fs: FileSystem, root: Path): Boolean =
    fs.exists(fenceMarker(root))

  /** Raise the fence with `body` as the marker's content; true when
    * this call raised it, false when it was already up.
    */
  def raise(fs: FileSystem, layer: Layer, root: Path,
      body: String): Boolean =
    create(fs, layer, fenceMarker(root),
      body.getBytes(StandardCharsets.UTF_8))

  /** Take the fence down (a force sync re-subjugating a promoted
    * replica); true when it was up.
    */
  private def lower(fs: FileSystem, root: Path): Boolean =
    fs.delete(fenceMarker(root), false)

  /** The commit-time conviction of a commit that landed under a raised
    * fence: when `newest` holds, `burn` the commit's id, check `newest`
    * AGAIN — a post-failover commit may have stacked on it in between,
    * and deleting it then would tear a hole in the history the
    * stacker builds on — and only then `retract` it. Returns whether
    * the commit was retracted; a failing `newest` reads as false, so
    * the commit stays in history.
    */
  private def convict(newest: () => Boolean, burn: () => Unit,
      retract: () => Unit): Boolean = {
    def isNewest =
      try newest() catch { case scala.util.control.NonFatal(_) => false }
    isNewest && { burn(); isNewest && { retract(); true } }
  }

  // ---- replica sync -------------------------------------------------

  /** What a layer's copy leaves for [[sync]]: `abandon` drops what it
    * staged, `commit` runs the layer's commit point.
    */
  final case class Staged[C](abandon: () => Unit, commit: () => Landed[C])

  /** How a layer's sync commit landed: `name` names it in a refusal
    * (`tx 3`, `head v7`), `newest`, `burn` and `retract` are its
    * [[convict]]ion, and `stands` runs once no fence convicts it (the
    * chain and tag carries) and gives what the sync returns.
    */
  final case class Landed[C](name: String, newest: () => Boolean,
      burn: () => Unit, retract: () => Unit, stands: () => C)

  /** One replica sync's fence discipline, for graftsink's `cloneSync`
    * and `Transaction.syncTo`: the layer's steps run between three
    * checks of the fence at `replica`, and every refusal text starts
    * with the layer's `label`.
    *  1. At entry `force` lowers a raised fence and says so on stderr;
    *     otherwise a raised fence refuses.
    *  2. `copy` runs the layer's divergence guard and verified copy,
    *     and returns what it [[Staged]] — or None when the replica
    *     already holds the snapshot: nothing commits, and `sync`
    *     returns None.
    *  3. Just before the commit point a raised fence refuses again,
    *     after the staged copy is abandoned: a promotion racing an
    *     in-flight sync meets it here unless it lands during the
    *     commit itself, and a sync refused here leaves nothing under
    *     the replica's own names.
    *  4. The layer commits.
    *  5. After the commit point a raised fence convicts the commit and
    *     refuses, naming whether it was retracted or stays in history.
    * A force sync owns the replica, so it skips checks 3 and 5.
    */
  def sync[C](fs: FileSystem, replica: String, label: String,
      force: Boolean)(copy: () => Option[Staged[C]]): Option[C] = {
    val root = new Path(replica)
    def refuse(): Nothing = sys.error(s"$label: replica $replica was " +
      "PROMOTED — it owns its commits now, and a sync from the old " +
      "source would clobber post-failover commits. Re-replicate to a " +
      "NEW directory, or pass force=true to re-subjugate (discards the " +
      "replica's commits since the promotion)")
    if (force) {
      if (lower(fs, root))
        System.err.println(s"$label: force sync re-subjugates promoted " +
          s"replica $replica — its post-failover commits are discarded " +
          "(their data remains until vacuum)")
    } else if (raised(fs, root)) refuse()
    copy().map { staged =>
      if (!force && raised(fs, root)) { staged.abandon(); refuse() }
      val landed = staged.commit()
      if (!force && raised(fs, root)) {
        val retracted = convict(landed.newest, landed.burn, landed.retract)
        sys.error(s"$label: replica $replica was PROMOTED while this " +
          s"sync was in flight — the sync's ${landed.name} was " +
          (if (retracted) "retracted"
          else "already built upon and stays in history") +
          "; the promoted replica owns its commits (re-replicate to a " +
          "fresh directory, or force=true to re-subjugate)")
      }
      landed.stands()
    }
  }
}
