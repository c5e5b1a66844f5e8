package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The content-integrity kernel shared by the three versioned-table
  * layers — graftsink ([[GraftSink]]), `operators.Transaction` and
  * `operators.MergeOnRead`. Each layer keeps its own layout, reports
  * and refusal texts; the hashing, the sidecar, the verified copy, the
  * fan-out file check and the deep-verification watermark live here
  * once.
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
  * bookkeeping and the sidecar itself are never listed). A payload dir
  * without a sidecar is UNVERIFIED — counted and warned about via
  * [[warnUnverified]], never passed as verified.
  */
private[graft] object Integrity {

  private val Sidecar = "_checksums"

  /** The persisted deep-verification watermark file: `<key>=<id>` then
    * `atMs=<stamp>`, one per line. The key is the layer's (`tx` at a
    * Transaction root, `version` at a graftsink table).
    */
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
    fs.listStatus(dir).filter(_.isFile).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted.toSeq

  /** Slice count for every per-file fan-out (stamp, check, verified
    * copy): one file per task up to twice the cluster width, so uneven
    * file sizes rebalance, floored at 64 so a small cluster still fans
    * a many-file dir out. Scales with the cluster, not a constant (the
    * CloneDecade row pins near-linear task scaling in file count).
    */
  def slices(spark: SparkSession, n: Int): Int =
    math.min(n, math.max(64, spark.sparkContext.defaultParallelism * 2))
      .max(1)

  /** Write `dir`'s sidecar: the payload is hashed by one cluster-fanned
    * job (one task per file); a dir with no payload runs no job and
    * gets `\n`. Overwrites an existing sidecar, so a replayed dir write
    * re-stamps. A missing dir is left alone.
    */
  def stamp(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val names = payload(fs, p)
    val lines =
      if (names.isEmpty) Seq.empty[String]
      else {
        val conf = new SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        spark.sparkContext
          .parallelize(names.map(n => s"$dir/$n"), slices(spark, names.size))
          .map { s =>
            val fp = new Path(s)
            val f = fp.getFileSystem(conf.value)
            s"${fp.getName}\t${f.getFileStatus(fp).getLen}\t${hashFile(f, fp)}"
          }.collect().toSeq.sorted
      }
    val out = fs.create(new Path(p, Sidecar), true)
    try out.write((lines.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** `dir`'s sidecar as file name → (bytes, xxh64), or None when the
    * dir has none. Plain FileSystem IO: runs on the driver and inside
    * executor tasks alike.
    */
  def readSidecar(fs: FileSystem,
      dir: Path): Option[Map[String, (Long, String)]] = {
    val p = new Path(dir, Sidecar)
    if (!fs.exists(p)) None
    else Some(readSmall(fs, p).split("\n").iterator.filter(_.nonEmpty)
      .map { l =>
        val a = l.split("\t", -1)
        a(0) -> ((a(1).toLong, a(2)))
      }.toMap)
  }

  private def readSmall(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val o = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, o, 4096, false)
      new String(o.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

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
    * `.`-hidden for vacuum, and losing the final rename to a racing
    * copy of the same immutable file is benign when the destination
    * exists. `label` prefixes every error (`graftsink`, `transaction`).
    */
  def copyVerified(conf: Configuration, from: Path, to: Path,
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
    if (df.exists(to)) df.delete(to, false) // re-copy: overwrite
    if (!df.rename(tmp, to)) {
      df.delete(tmp, false)
      if (!df.exists(to))
        sys.error(s"$label: replication copy rename to $to failed")
    }
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

  /** The fan-out file check behind every fsck and verify-before-rewrite:
    * one task per file (see [[slices]]) tests existence, then the
    * recorded size, then — when `hashContent` and a checksum is
    * recorded — the content hash. Only damage returns to the driver,
    * so the collect is O(damage), not O(files). No job for no entries.
    */
  def check(spark: SparkSession, entries: Seq[Entry]): Seq[Damage] =
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

  /** Damage split by kind for a report: the missing files' names, then
    * `name (detail)` for size and for checksum mismatches.
    */
  def byKind(damage: Seq[Damage], name: String => String)
      : (Seq[String], Seq[String], Seq[String]) = {
    def of(kind: String) = damage.filter(_.kind == kind)
    (of("missing").map(d => name(d.path)),
      of("size").map(d => s"${name(d.path)} (${d.detail})"),
      of("checksum").map(d => s"${name(d.path)} (${d.detail})"))
  }

  /** Damage as one line for a refusal: the first three, then a count. */
  def describe(damage: Seq[Damage]): String =
    damage.take(3).map(d => s"${d.path} (${d.detail})").mkString("; ") +
      (if (damage.size > 3) s" (+${damage.size - 3} more)" else "")

  /** Every warning about content copied, folded, rewritten or checked
    * without a recorded checksum goes through here.
    */
  def warnUnverified(text: String): Unit = System.err.println(text)

  /** The watermark id under `key` in `dir`'s [[DeepVerified]] file;
    * −1 when absent or unreadable.
    */
  def readWatermark(fs: FileSystem, dir: Path, key: String): Long = {
    val p = new Path(dir, DeepVerified)
    if (!fs.exists(p)) -1L
    else try readSmall(fs, p).split("\n").collectFirst {
        case l if l.startsWith(s"$key=") =>
          l.stripPrefix(s"$key=").trim.toLong
      }.getOrElse(-1L)
    catch { case scala.util.control.NonFatal(_) => -1L }
  }

  /** Stamp `dir`'s watermark at `id`: written to `tmp` (the layer's
    * staging spot), then renamed over the old stamp. A racing stamp
    * winning the rename is fine.
    */
  def writeWatermark(fs: FileSystem, dir: Path, tmp: Path, key: String,
      id: Long): Unit = {
    fs.mkdirs(tmp.getParent)
    val out = fs.create(tmp, true)
    try out.write(s"$key=$id\natMs=${System.currentTimeMillis()}\n"
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(dir, DeepVerified)
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) fs.delete(tmp, false)
  }
}
