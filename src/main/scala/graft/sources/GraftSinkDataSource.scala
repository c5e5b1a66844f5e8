package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{And, DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Or, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Transactional DSv2 SINK — the write-side completion of the
  * connector story (the Dune source covers the read tiers). The
  * engine drives the full V2 write protocol:
  *
  *  - every task writes to `_staging/<writeId>/part-<pid>-<tid>` and
  *    returns a [[GraftCommitMessage]] naming its file — a SPECULATIVE
  *    or retried attempt leaves a stray staged file that no message
  *    names, so it can never become data (exactly-once per partition
  *    by construction, the property file-sink speculation breaks);
  *  - `BatchWrite.commit` renames ONLY message-named files into
  *    `data/` and then publishes ONE manifest (`manifest-v{k}`) via
  *    staged-write + atomic rename — the manifest is the commit
  *    point: a version is absent or complete, never partial (the
  *    `operators.Transaction` discipline, here reached through the
  *    engine's own write path);
  *  - `abort` deletes the staging directory — a failed job leaves the
  *    table at its previous version;
  *  - reads resolve the LATEST manifest and scan only its files, so
  *    an in-flight or torn write is invisible, and append vs truncate
  *    is a property of what the new manifest lists (SupportsTruncate —
  *    `.mode("overwrite")` publishes a manifest with only the new
  *    files; `.mode("append")` carries the previous file set forward
  *    without touching it).
  *
  * Row format: one line per row, the sink's own canonical JSON with
  * values in INTERNAL representation (timestamp = epoch micros, date
  * = epoch days, strings escaped by the one escaper `graft.Json`), so
  * the reader reconstructs InternalRows without any parse/format
  * round-trip through session-zone or locale. Supported field types:
  * long, int, double, boolean, string, timestamp (tz and ntz),
  * date — declared
  * loudly otherwise.
  *
  * At scale: tasks write in parallel straight to the target
  * filesystem, the driver does O(#tasks) renames plus one manifest
  * rename; readers list one manifest, not directories.
  */
class GraftSinkDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftsink"

  private def root(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      sys.error("graftsink requires .option(\"path\", dir) / save(dir)"))

  /** Reads resolve the schema from the manifest they will scan: a
    * pinned `version` option resolves ITS manifest, so time travel
    * across a truncate-with-new-schema parses the old files with the
    * old schema, not the latest one (each file is parsed under its own
    * recorded schema and reconciled by name — see the reader). A
    * change-feed read (`changesFrom`) presents its TARGET version's
    * schema, like any snapshot read of that version.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val version = Option(options.get("version"))
      .map(GraftSink.resolveVersion(spark, root(options), _))
    GraftSink.manifestAt(spark, root(options), version)
      .map(m => StructType.fromDDL(m.schemaDdl))
      .getOrElse(sys.error(
        s"graftsink: no committed manifest under ${root(options)}" +
          version.fold("")(v => s" (version $v)")))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftSinkTable(schema,
      root(new CaseInsensitiveStringMap(properties)))

  override def supportsExternalMetadata(): Boolean = true
}

/** Driver-side manifest helpers (shared with specs/queries). */
object GraftSink {
  /** One committed data file, the schema its lines were written under
    * (files written before a schema evolution keep their original
    * shape, reconciled BY NAME at read time), its exact row/byte
    * counts — the writer knows both at commit, so table statistics and
    * COUNT(*) become manifest metadata instead of file scans — and the
    * per-column [lo, hi] bounds of its numeric fields (`statsJson`,
    * `{"col":["lo","hi"(,"nulls")],...}` with values rendered in
    * INTERNAL form), which turn comparison predicates into file
    * skipping at planning time. `rows`/`bytes` = -1 and empty stats
    * for files recorded by pre-statistics manifests (readers fall
    * back to scanning).
    *
    * STRING columns carry Iceberg-style TRUNCATED bounds: lo is the
    * min truncated to [[GraftSink.StringBoundLen]] chars (a prefix
    * sorts <= the full string, so still a lower bound); hi is the max
    * truncated then its last char incremented when truncation lost
    * tail chars (every string with that prefix sorts strictly below
    * the incremented form, so still an upper bound). Bounds stay
    * over-approximate — skipping can never drop a row — and manifest
    * lines stay O(16 chars) per column no matter how long the values
    * (the reference's `block.hash` keys are 64-char hex). A string
    * column whose lo == hi therefore provably holds EXACTLY that one
    * value in every row (an incremented hi can never equal lo).
    *
    * The optional third element is the column's exact NULL count
    * (absent in pre-round-6 manifests → unknown). min/max never need
    * it (they ignore nulls); the grouped metadata aggregate does — a
    * file clusters cleanly on a grouping column only when that
    * column's null count is known zero.
    */
  /** @param rewrite true for files that REORGANIZE existing rows
    *                (compaction) rather than adding data — the Delta
    *                `dataChange=false` idea: snapshot reads include
    *                them, change-feed diffs and the streaming tail
    *                EXCLUDE them (their rows were consumed from the
    *                files they replaced).
    * @param checksum the file's [[Integrity]] content checksum,
    *                folded stream-wise AS THE WRITER STREAMS the bytes
    *                (near-free: zero extra reads) — what
    *                `fsck(deep = true)` re-hashes against, catching
    *                same-size corruption (bit rot, partial overwrite,
    *                an object restored from the wrong region) that the
    *                existence+size probe passes. Empty = recorded by a
    *                pre-checksum manifest: deep fsck counts such
    *                entries UNVERIFIED, loudly, never silently clean.
    */
  final case class ManifestFile(name: String, schemaDdl: String,
      rows: Long = -1L, bytes: Long = -1L, statsJson: String = "",
      rewrite: Boolean = false, checksum: String = "") {
    /** Typed bounds per column, resolved against the FILE's schema
      * (long-backed fields parse as Long, double as Double). Empty for
      * stat-less files — every predicate keeps them.
      */
    lazy val bounds: Map[String, (Any, Any)] =
      if (statsJson.isEmpty) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        val types = StructType.fromDDL(schemaDdl)
          .fields.map(f => f.name -> f.dataType).toMap
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(statsJson)
        node.properties().asScala.flatMap { e =>
          val arr = e.getValue
          types.get(e.getKey).flatMap {
            case LongType | TimestampType | TimestampNTZType =>
              Some(e.getKey -> ((arr.get(0).asText.toLong: Any),
                (arr.get(1).asText.toLong: Any)))
            case IntegerType | DateType =>
              Some(e.getKey -> ((arr.get(0).asText.toInt: Any),
                (arr.get(1).asText.toInt: Any)))
            case DoubleType =>
              Some(e.getKey -> ((arr.get(0).asText.toDouble: Any),
                (arr.get(1).asText.toDouble: Any)))
            case StringType =>
              Some(e.getKey -> ((arr.get(0).asText: Any),
                (arr.get(1).asText: Any)))
            case _ => None
          }
        }.toMap
      }

    /** Exact per-column null counts, where recorded (the statsJson
      * third element); a missing entry means UNKNOWN (older manifest
      * or stat-less column), never zero.
      */
    lazy val nullCounts: Map[String, Long] =
      if (statsJson.isEmpty) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(statsJson)
        node.properties().asScala.flatMap { e =>
          val arr = e.getValue
          if (arr.size() >= 3) Some(e.getKey -> arr.get(2).asText.toLong)
          else None
        }.toMap
      }

    /** Per-column NDV sketch encodings (the statsJson 4th element);
      * a missing entry means UNKNOWN (pre-round-13 manifest), never
      * zero — plan-time merging then declines the whole column.
      */
    lazy val ndvSketches: Map[String, String] =
      if (statsJson.isEmpty) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(statsJson)
        node.properties().asScala.flatMap { e =>
          val arr = e.getValue
          if (arr.size() >= 4) Some(e.getKey -> arr.get(3).asText)
          else None
        }.toMap
      }
  }

  /** @param epoch the streaming epoch that committed this version
    *              (None for batch commits) — the exactly-once guard: a
    *              replayed epoch finds its id already published and
    *              publishes nothing.
    * @param epochWriter the streaming QUERY id that published the
    *              epoch (`LogicalWriteInfo.queryId` — stable across
    *              restarts because it lives in the checkpoint, unlike
    *              the per-instance write UUID). Lets the replay guard
    *              match epochs to THEIR stream when several streams
    *              share one table, and lets it scan PAST interleaved
    *              batch/maintenance commits. None on legacy manifests.
    */
  /** Reference to one immutable SEGMENT file under `_segments/` — the
    * manifest-list shape (Iceberg's manifest/manifest-list split) that
    * makes an append's metadata O(delta) instead of O(total files):
    * the version file lists segment NAMES plus a small inline tail;
    * the per-file entries live in shared, content-addressed-by-UUID
    * segment files that successive versions reference without
    * rewriting. `count`/`rows`/`bytes` are the segment's entry count
    * and summed stats (-1 = some member unknown), recorded so history
    * and planning can size work without opening the segment.
    */
  /** @param statsJson interval UNION of the member files' column
    *               bounds (same rendering as a file entry's stats) —
    *               the Iceberg manifest-list-summary idea: a selective
    *               predicate that excludes the union excludes every
    *               member, so the scan skips the WHOLE segment without
    *               reading it. Empty = unknown (legacy ref), always
    *               kept.
    */
  /** @param checksum the [[Integrity]] checksum of the SEGMENT FILE,
    *               recorded when the segment is written (the payload
    *               is in hand — hashing is free). `fsck(deep)`
    *               re-hashes against it: a same-size bit flip inside
    *               a segment silently alters recorded stats/bounds —
    *               i.e. UNSOUND FILE SKIPPING — which no row-level
    *               check can catch. Empty = legacy ref (deep fsck
    *               counts it unverified, loudly).
    */
  final case class SegmentRef(name: String, count: Int, rows: Long,
      bytes: Long, statsJson: String = "", checksum: String = "")

  /** @param refs   segment references, in commit order (older first);
    *               `files` = their entries (in order) ++ `inline`.
    * @param inline file entries carried directly in the version file —
    *               the small "loose" tail (≤ [[InlineThreshold]]) that
    *               keeps single-file commits to ONE metadata write.
    * @param resolver segment name → entries, bound at parse time.
    *               `files` resolves LAZILY through it: parsing a
    *               manifest costs O(its own lines), and callers that
    *               never touch the file list — the epoch replay
    *               guard's restart walk (up to 256 versions),
    *               completeness probes, `versionAtTimestamp` — never
    *               pay a segment read. Callers that do (scan planning,
    *               publish carry logic) hit the immutable-segment
    *               cache.
    */
  final case class Manifest(version: Int, schemaDdl: String,
      epoch: Option[Long] = None,
      epochWriter: Option[String] = None,
      refs: Seq[SegmentRef] = Nil,
      inline: Seq[ManifestFile] = Nil,
      private val resolver: String => Seq[ManifestFile] =
        _ => Seq.empty,
      committedAtMs: Option[Long] = None) {
    lazy val files: Seq[ManifestFile] =
      refs.flatMap(r => resolver(r.name)) ++ inline

    /** The file entries with whole segments PRUNED at the ref level:
      * a segment whose union bounds can't match the pushed filters is
      * never resolved (never read on a cold driver) — plan metadata
      * cost is O(matching segments), not O(table files). `_file`
      * predicates pass (they address files, not segments), and the
      * per-file skip downstream re-applies every filter, so this is
      * purely an additional over-approximate cut.
      */
    private[sources] def filesPruned(filters: Seq[Filter])
        : Seq[ManifestFile] =
      if (filters.isEmpty) files
      else refs.filter { r =>
        r.statsJson.isEmpty || {
          val pseudo = ManifestFile(r.name, schemaDdl, r.rows, r.bytes,
            r.statsJson)
          filters.forall(f => segMayMatch(pseudo, f))
        }
      }.flatMap(r => resolver(r.name)) ++ inline

    /** One segment's entries through this manifest's resolver (the
      * change-feed ref diff resolves only CHANGED segments).
      */
    private[sources] def resolve(name: String): Seq[ManifestFile] =
      resolver(name)

    /** Entry count without resolving segments (ref counts + inline). */
    def fileCount: Int = refs.map(_.count).sum + inline.size

    /** Exact total rows from ref sums + inline, or None when any
      * member is unknown (legacy stat-less entries) — callers fall
      * back to resolving `files`.
      */
    def rowCount: Option[Long] =
      if (refs.exists(_.rows < 0) || inline.exists(_.rows < 0)) None
      else Some(refs.map(_.rows).sum + inline.map(_.rows).sum)
  }

  /** [[mayMatch]] lifted to a segment's union bounds: `_file`
    * equality/IN address individual FILES, which a segment-level test
    * must never exclude (the pseudo-entry's name is the segment's).
    */
  private def segMayMatch(pseudo: ManifestFile, filter: Filter): Boolean =
    filter match {
      case EqualTo("_file", _) => true
      case In("_file", _) => true
      case And(l, r) => segMayMatch(pseudo, l) && segMayMatch(pseudo, r)
      case Or(l, r) => segMayMatch(pseudo, l) || segMayMatch(pseudo, r)
      case other => mayMatch(pseudo, other)
    }

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[sources] def manifestName(v: Int) = f"manifest-v$v%06d"

  // ---- SEGMENTS: immutable per-file-entry lists shared across
  // versions (the O(delta)-commit machinery; see [[SegmentRef]]) ----

  /** Max loose file entries a version file carries INLINE before they
    * roll into a segment. Below it a commit is one metadata write
    * (today's behavior for small tables); above it the entries move to
    * an immutable segment that later versions reference by name.
    */
  private[sources] val InlineThreshold = 32

  /** Max entries one segment may grow to under geometric merging
    * (Iceberg's target-manifest-size idea). Uncapped, the oldest
    * segment absorbs most of the table and a selective scan that
    * matches it pays O(table) to resolve it; capped, the list is
    * O(n/cap + log cap) refs — ~20 at 10⁵ files — and ANY matching
    * segment costs at most `cap` entry parses. Write amplification
    * also settles: an entry merges O(log cap) times, then its segment
    * never merges again.
    */
  private[sources] val MaxSegmentEntries = 8192

  /** Version-file line `#seg<TAB>name<TAB>count<TAB>rows<TAB>bytes`. */
  private[sources] val SegMarker = "#seg"

  /** Segment file: line 1 = the base schema DDL that empty per-line
    * DDLs refer to (frozen at segment-write time — segments outlive
    * schema evolutions, so the reference must not float with the
    * table schema), then one file entry per line in the manifest's
    * 6-field form, then the `#eof` completeness marker.
    */
  private def segmentPath(dir: String, name: String) =
    new Path(dir, s"_segments/$name")

  /** Parsed segments, cached by (dir, name): segment names are
    * UUID-random and their content immutable, so a hit can never be
    * stale. Bounds re-parse work at plan time — resolving a head whose
    * history is long touches only the segments not seen before.
    *
    * Sized by TOTAL CACHED FILE ENTRIES, not map size: segments range
    * from 33 entries (just over the inline threshold) to 8192 (the
    * cap), so a fixed entry-count-of-maps bound would let 64 full
    * segments pin ~0.5M parsed entries while a multi-table session
    * (the bench touches dozens of sinks) evicts a big table's
    * segments after 64 SMALL ones from its neighbors. The 65536-entry
    * budget (~8 full segments or ~2000 small ones, tens of MB at
    * worst) is shared LRU across tables; eviction drops whole
    * segments, oldest-accessed first.
    */
  private val SegCacheEntryBudget = 65536
  private object segCache {
    private var entries = 0L
    private val map = new java.util.LinkedHashMap[String,
      Seq[ManifestFile]](128, 0.75f, true)
    def get(key: String): Seq[ManifestFile] =
      synchronized(map.get(key))
    def put(key: String, v: Seq[ManifestFile]): Unit = synchronized {
      val prev = map.put(key, v)
      entries += v.size - (if (prev == null) 0 else prev.size)
      val it = map.entrySet().iterator()
      while (entries > SegCacheEntryBudget && map.size() > 1
          && it.hasNext) {
        entries -= it.next().getValue.size
        it.remove()
      }
    }
    def clear(): Unit = synchronized { map.clear(); entries = 0L }
  }

  /** Bench/spec seam: drop the parsed-segment cache so a cold plan
    * (fresh driver) can be measured honestly.
    */
  private[graft] def clearSegmentCache(): Unit =
    { segCache.clear(); bloomCache.clear() }

  /** Spec seams: on-disk version list (complete manifests only,
    * ascending) and a disk-backed segment resolve — the race spec
    * audits exactly what SURVIVES vacuum, so it must walk the
    * filesystem truth, not any in-memory view.
    */
  private[graft] def versionsOnDisk(spark: SparkSession,
      dir: String): Seq[Int] =
    fsVersionsDesc(spark, dir).reverse
      .filter(v => try manifestAt(spark, dir, Some(v)).isDefined
        catch { case _: Throwable => false })
  private[graft] def readSegmentForSpec(conf: SerializableConfiguration,
      dir: String, name: String): Seq[ManifestFile] =
    readSegment(conf, dir, name)

  /** Spec seam: rewrite a manifest's [[CommitTimeMarker]] stamp in
    * place — how retention/time-travel specs simulate a version that
    * COMMITTED long ago (back-dating the FS mtime no longer ages a
    * stamped manifest; that immunity is the point, and has its own
    * spec).
    */
  private[graft] def restampForSpec(spark: SparkSession, dir: String,
      version: Int, ms: Long): Unit = {
    val f = fs(spark, dir)
    val p = new Path(dir, manifestName(version))
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val updated = text.split("\n").map(l =>
      if (l.startsWith(s"$CommitTimeMarker\t"))
        s"$CommitTimeMarker\t$ms"
      else l).mkString("\n")
    val out = f.create(p, true)
    try out.write(updated.getBytes("UTF-8")) finally out.close()
  }

  private[sources] def writeSegment(conf: SerializableConfiguration,
      dir: String, files: Seq[ManifestFile]): SegmentRef = {
    require(files.nonEmpty, "graftsink: empty segment")
    val name = "seg-" + java.util.UUID.randomUUID().toString.take(12)
    val base = files.head.schemaDdl
    val lines = files.map { mf =>
      val ddl = if (mf.schemaDdl == base) "" else mf.schemaDdl
      val flags = if (mf.rewrite) "r" else ""
      s"${mf.name}\t$ddl\t${mf.rows}\t${mf.bytes}\t${mf.statsJson}\t" +
        s"$flags\t${mf.checksum}"
    }
    val payload = ((base +: lines) :+ EofMarker).mkString("\n")
      .getBytes("UTF-8")
    // content checksum of the segment FILE, recorded in every ref
    // that names it (the payload is in hand — hashing costs nothing);
    // fsck(deep) re-hashes to catch in-place stats/bounds corruption
    val sum = {
      val h = Integrity.newHash()
      h.update(payload, 0, payload.length)
      Integrity.hex(h.getValue)
    }
    val f = new Path(dir).getFileSystem(conf.value)
    val out = f.create(segmentPath(dir, name), false)
    try out.write(payload) finally out.close()
    // the sidecar is a pure OPTIMIZATION with an exact-read fallback
    // (a missing bloom just means the replace path parses this
    // segment) — an IO failure writing it must degrade to the legacy
    // no-bloom path, never fail the segment commit itself
    try writeSegmentBloom(conf, dir, name, files.map(_.name))
    catch { case e: java.io.IOException =>
      System.err.println(s"graftsink: bloom sidecar write failed for " +
        s"$name (exact-read fallback applies): ${e.getMessage}")
    }
    segCache.put(s"$dir/$name", files.toVector)
    SegmentRef(name, files.size,
      if (files.exists(_.rows < 0)) -1L else files.map(_.rows).sum,
      if (files.exists(_.bytes < 0)) -1L else files.map(_.bytes).sum,
      unionStats(files), sum)
  }

  // ---- per-segment member-name BLOOM sidecars: the replace path's
  // skip index. A DELETE/compact/cluster on a cold driver must not
  // parse EVERY segment to find the one holding its replaced files —
  // at 10⁶ files that is ~130 full segment reads for a one-segment
  // edit. The sidecar (`_segments/<name>.bloom`, ~10 bits/member,
  // k=7 → <1% false positives) is written once with its immutable
  // segment and answers "can this segment contain any of these
  // names?" from ~10 KB instead of a full parse; a false positive or
  // a missing sidecar (legacy segment) just falls back to the exact
  // read. The sidecar is NOT in the version file, so commit metadata
  // stays O(delta); vacuum collects it with its segment. ----

  private[sources] val BloomHashes = 7

  private def bloomPath(dir: String, name: String) =
    new Path(dir, s"_segments/$name.bloom")

  /** Bit positions of `s` in an m-bit filter: double hashing from two
    * murmur3 seeds (Kirsch–Mitzenmacher), the standard k-from-2 trick.
    */
  private def bloomBits(s: String, m: Int): Seq[Int] = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x85ebca6b)
    (0 until BloomHashes).map(i =>
      math.floorMod(h1.toLong + i.toLong * h2.toLong, m.toLong).toInt)
  }

  private def writeSegmentBloom(conf: SerializableConfiguration,
      dir: String, name: String, members: Seq[String]): Unit = {
    val m = (((10L * members.size) + 63) / 64 * 64).toInt max 64
    val words = new Array[Long](m / 64)
    for (s <- members; b <- bloomBits(s, m))
      words(b >> 6) |= 1L << (b & 63)
    val bytes = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(bytes.putLong)
    val payload = (s"gbloom\tk=$BloomHashes\tm=$m\n" +
      java.util.Base64.getEncoder.encodeToString(bytes.array()))
      .getBytes("UTF-8")
    val f = new Path(dir).getFileSystem(conf.value)
    val out = f.create(bloomPath(dir, name), false)
    try out.write(payload) finally out.close()
    bloomCache.put(s"$dir/$name", Some((m, words)))
  }

  /** Parsed bloom sidecars, cached like segments (immutable content,
    * random names). `Some(None)` is NOT cached: a missing sidecar may
    * be a legacy segment forever (cheap to re-miss) and caching
    * absence would wrongly survive a later backfill.
    */
  private val bloomCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Option[(Int, Array[Long])]](
          128, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Option[(Int, Array[Long])]])
            : Boolean = size() > 4096
      })

  private def readSegmentBloom(conf: SerializableConfiguration,
      dir: String, name: String): Option[(Int, Array[Long])] = {
    val key = s"$dir/$name"
    val hit = bloomCache.get(key)
    if (hit != null) return hit
    val parsed = try {
      val f = new Path(dir).getFileSystem(conf.value)
      val in = f.open(bloomPath(dir, name))
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val Array(header, body) = text.split("\n", 2)
      val fields = header.split("\t")
      require(fields(0) == "gbloom" && fields(1) == s"k=$BloomHashes")
      val m = fields(2).stripPrefix("m=").toInt
      val bb = java.nio.ByteBuffer.wrap(
        java.util.Base64.getDecoder.decode(body.trim))
      val words = Array.fill(m / 64)(bb.getLong)
      Some((m, words))
    } catch { case _: Throwable => None } // legacy/corrupt: exact read
    if (parsed.isDefined) bloomCache.put(key, parsed)
    parsed
  }

  /** Conservative membership: false ONLY when the sidecar proves no
    * replace name is in the segment; true on any possible hit or when
    * no sidecar exists (the caller then does the exact read).
    */
  private[sources] def segmentMightContainAny(
      conf: SerializableConfiguration, dir: String, name: String,
      names: Set[String]): Boolean =
    readSegmentBloom(conf, dir, name) match {
      case None => true
      case Some((m, words)) => names.exists(s =>
        bloomBits(s, m).forall(b => (words(b >> 6) & (1L << (b & 63))) != 0))
    }

  /** Cache-MISS segment reads since JVM start — segment-level pruning
    * is spec-observable as this counter not moving for skipped
    * segments (the readersCreated discipline, one level up).
    */
  val segmentReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A referenced segment exists and is complete BY CONSTRUCTION (it
    * is fully written before any manifest names it, and vacuum deletes
    * manifests before segments) — missing or torn here means vacuumed
    * history or corruption, and the error must be loud, never a silent
    * smaller file list.
    */
  private[sources] def readSegment(conf: SerializableConfiguration,
      dir: String, name: String): Seq[ManifestFile] = {
    val key = s"$dir/$name"
    val hit = segCache.get(key)
    if (hit != null) return hit
    segmentReads.incrementAndGet()
    val f = new Path(dir).getFileSystem(conf.value)
    val in = f.open(segmentPath(dir, name))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    if (!lines.lastOption.contains(EofMarker)) sys.error(
      s"graftsink: segment $name at $dir is torn or corrupt")
    val base = lines.head
    val files = lines.tail.dropRight(1).map(parseFileLine(_, base)).toVector
    segCache.put(key, files)
    files
  }

  /** One file entry in the shared 6-field line form (`baseDdl`
    * substitutes for an empty per-line DDL; shorter forms are older
    * inline manifests).
    */
  private def parseFileLine(l: String, baseDdl: String): ManifestFile =
    l.split("\t", -1) match {
      case Array(name, ddl, rows, bytes, stats, flags, sum) =>
        ManifestFile(name, if (ddl.isEmpty) baseDdl else ddl,
          rows.toLong, bytes.toLong, stats, flags.contains('r'), sum)
      case Array(name, ddl, rows, bytes, stats, flags) =>
        ManifestFile(name, if (ddl.isEmpty) baseDdl else ddl,
          rows.toLong, bytes.toLong, stats, flags.contains('r'))
      case Array(name, ddl, rows, bytes, stats) => ManifestFile(name,
        if (ddl.isEmpty) baseDdl else ddl, rows.toLong, bytes.toLong,
        stats)
      case Array(name, ddl, rows, bytes) => ManifestFile(name,
        if (ddl.isEmpty) baseDdl else ddl, rows.toLong, bytes.toLong)
      case Array(name, ddl) =>
        ManifestFile(name, if (ddl.isEmpty) baseDdl else ddl)
      case Array(name) => ManifestFile(name, baseDdl)
      case _ => sys.error(s"graftsink: unparseable manifest line '$l'")
    }

  /** Segment list for the NEXT version: untouched previous segments
    * carry BY REFERENCE (zero bytes rewritten); a segment containing a
    * `replace`d file is rewritten minus those entries (O(that
    * segment)); the loose pool (previous inline entries + `newFiles`)
    * stays inline below [[InlineThreshold]] or rolls into new
    * segment(s) of at most [[MaxSegmentEntries]] each. Appending then
    * merges the trailing run while each merge keeps 2× dominance AND
    * stays under the cap — a CAPPED-geometric ladder: below the cap
    * the list is O(log n) refs with each segment ≥ 2× its successor;
    * past it, full ~cap-sized segments accumulate and the list is
    * O(n/cap + log cap) refs (~20 at 10⁵ files). Amortized entries
    * rewritten per commit: O(log cap) — an entry merges at most
    * log₂(cap) times and then its segment never merges again, so
    * cumulative metadata over an append history is O(n log cap), and
    * a selective scan's matching segment costs at most `cap` entry
    * parses to resolve. (A legacy over-cap segment from before the
    * cap splits only when a rewrite touches it.)
    */
  private[sources] def composeSegments(conf: SerializableConfiguration,
      dir: String, prev: Option[Manifest], replace: Set[String],
      newFiles: Seq[ManifestFile])
      : (Seq[SegmentRef], Seq[ManifestFile], Set[String]) = {
    // `found` = the replace names actually present (segments + inline):
    // the caller's rewrite-conflict gate compares it to the requested
    // set, so conflict detection needs NO extra segment resolution —
    // blooms keep even the gated replace path O(delta)
    val found = Set.newBuilder[String]
    // pure appends (the overwhelming cadence) must not read a single
    // segment: refs carry by name untouched — a cold writer's commit
    // is O(delta), not O(total files) re-parsed through the cache.
    // The REPLACE path is O(delta) too: each ref's bloom sidecar
    // ([[segmentMightContainAny]], ~10 KB) rules it out before any
    // full segment parse, so a one-segment DELETE on a cold driver
    // reads ~#refs sidecars + the touched segment, not O(table).
    val kept =
      if (replace.isEmpty) prev.map(_.refs).getOrElse(Nil)
      else prev.map(_.refs).getOrElse(Nil).flatMap { r =>
        if (!segmentMightContainAny(conf, dir, r.name, replace)) Some(r)
        else {
          val members = readSegment(conf, dir, r.name)
          val hit = members.filter(f => replace(f.name))
          if (hit.isEmpty) Some(r)
          else {
            found ++= hit.map(_.name)
            val rem = members.filterNot(f => replace(f.name))
            if (rem.isEmpty) None else Some(writeSegment(conf, dir, rem))
          }
        }
      }
    val prevInline = prev.map(_.inline).getOrElse(Nil)
    found ++= prevInline.map(_.name).filter(replace)
    val loose = prevInline.filterNot(f => replace(f.name)) ++ newFiles
    if (loose.size <= InlineThreshold) (kept, loose, found.result())
    else {
      // an over-cap loose pool (bulk initial commit) rolls into
      // several capped segments, never one table-sized one
      var refs = kept.toVector ++ loose.grouped(MaxSegmentEntries)
        .map(writeSegment(conf, dir, _))
      while (refs.length >= 2 &&
          refs(refs.length - 2).count < 2 * refs.last.count &&
          refs(refs.length - 2).count + refs.last.count
            <= MaxSegmentEntries) {
        val merged = readSegment(conf, dir, refs(refs.length - 2).name) ++
          readSegment(conf, dir, refs.last.name)
        refs = refs.dropRight(2) :+ writeSegment(conf, dir, merged)
      }
      (refs, Nil, found.result())
    }
  }

  /** Entry layout for a version whose per-file entries were REWRITTEN
    * wholesale (column rename re-records every DDL/stats key): fresh
    * CAPPED segments above the inline threshold (a 10⁵-file rename
    * must not produce one table-sized segment that every later
    * selective scan pays O(table) to resolve), plain inline below.
    */
  private def freshEntries(conf: SerializableConfiguration, dir: String,
      files: Seq[ManifestFile]): (Seq[SegmentRef], Seq[ManifestFile]) =
    if (files.size <= InlineThreshold) (Nil, files)
    else (files.grouped(MaxSegmentEntries)
      .map(writeSegment(conf, dir, _)).toSeq, Nil)

  /** Field names of the most recent scan's pruned read schema —
    * makes column pruning spec-observable (the DuneDataSource
    * inferenceRuns-counter discipline).
    */
  val lastScanFields =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)

  /** Data-file readers constructed since JVM start — a metadata-served
    * COUNT(*) is spec-observable as this counter NOT moving.
    */
  val readersCreated = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Rewrite conflicts compact()/cluster() detected and recovered from
    * (stale merged output dropped, recomputed from a fresh snapshot) —
    * spec-observable, the readersCreated discipline.
    */
  val rewriteConflicts = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Test seam: run by compact()/cluster() after the snapshot read and
    * output materialization, immediately before the publish loop — a
    * spec can commit a conflicting rewrite INTO that window
    * deterministically instead of racing threads. No-op in production.
    */
  private[graft] var maintenanceBarrier: () => Unit = () => ()

  /** Exact comparison in the bound's own domain; None = incomparable
    * (type mismatch, e.g. a timestamp filter against long-micros
    * bounds) — callers must treat None as "may match". Shared by the
    * advisory skip ([[mayMatch]]) and the scan builder's
    * range-exactness classifier.
    */
  private[sources] def cmpOpt(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long)   => Some(java.lang.Long.compare(x, y))
    case (x: Long, y: Int)    => Some(java.lang.Long.compare(x, y.toLong))
    case (x: Int, y: Long)    => Some(java.lang.Long.compare(x.toLong, y))
    case (x: Int, y: Int)     => Some(java.lang.Integer.compare(x, y))
    // NaN on either side: no sound interval decision exists —
    // Double.compare places NaN above +Inf, but Spark's predicate
    // semantics for NaN differ per operator, and a legacy manifest
    // written before NaN-stats suppression may carry NaN bounds.
    // None = "may match", never an unsound skip.
    case (x: Double, y: Double) =>
      if (x.isNaN || y.isNaN) None
      // + 0.0 collapses the signed zeros: Spark's comparisons treat
      // -0.0 == 0.0, while Double.compare orders -0.0 below 0.0 —
      // under raw compare a file whose bound is -0.0 could be
      // "proven" outside a >= 0.0 probe that Spark says every row
      // matches (an unsound skip, and an unsound exactness claim)
      else Some(java.lang.Double.compare(x + 0.0, y + 0.0))
    // V1 Filter values surface string literals as java.lang.String.
    // Compared in UTF-8 BYTE order (= code-point order) — the order
    // Spark's UTF8String evaluates string predicates in. Plain
    // String.compareTo (UTF-16 code-unit order) disagrees for
    // astral-plane chars vs [0xE000, 0xFFFF]: under it a file of
    // emoji values could be "proven" below a BMP probe that Spark's
    // comparison puts it above — an unsound skip. Writer tracking,
    // bound merging, and this interval test all use the same UTF-8
    // order, so the three stay consistent with the engine.
    case (x: String, y: String) => Some(cmpUtf8(x, y))
    case _ => None
  }

  /** UTF-16 strings compared as their UTF-8 bytes would: at the first
    * differing code unit, surrogate units (astral chars) shift above
    * the BMP. Valid for well-formed strings — the bound writers below
    * never emit a lone surrogate.
    */
  private[graft] def cmpUtf8(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      var ca = a.charAt(i).toInt
      var cb = b.charAt(i).toInt
      if (ca != cb) {
        if (ca >= 0xD800 && ca <= 0xDFFF) ca += 0x800000
        if (cb >= 0xD800 && cb <= 0xDFFF) cb += 0x800000
        return ca - cb
      }
      i += 1
    }
    a.length - b.length
  }

  /** Max UTF-16 units a string bound keeps in the manifest (Iceberg's
    * write.metadata.metrics truncate(16) default) — bounds stay tiny
    * for 64-char block hashes while still splitting the keyspace.
    */
  private[sources] val StringBoundLen = 16

  /** Truncates at a CODE POINT boundary: a cut through a surrogate
    * pair would leave a lone surrogate, which `getBytes("UTF-8")`
    * mangles to '?' and code-point ordering can't place. A prefix cut
    * at a code-point boundary sorts <= the full string in UTF-8 order,
    * so the truncation stays a lower bound.
    */
  private[graft] def truncBound(s: String): String =
    if (s.length <= StringBoundLen) s
    else if (Character.isHighSurrogate(s.charAt(StringBoundLen - 1)))
      s.substring(0, StringBoundLen - 1)
    else s.substring(0, StringBoundLen)

  /** Smallest well-formed string strictly greater (in UTF-8 order)
    * than every string having `s` as a prefix: increment the last
    * CODE POINT, skipping the surrogate code-point gap (0xD7FF + 1 →
    * 0xE000) and dropping trailing U+10FFFF points. None when every
    * point is U+10FFFF (no finite upper bound exists).
    */
  private[graft] def incrementLast(s: String): Option[String] = {
    val cps = s.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) == 0x10FFFF) i -= 1
    if (i < 0) None
    else {
      val bumped = cps(i) + 1
      val next =
        if (bumped >= 0xD800 && bumped <= 0xDFFF) 0xE000 else bumped
      Some(new String(cps.take(i) :+ next, 0, i + 1))
    }
  }

  /** Interval test: can `filter` match any row of file `f`, judged by
    * the file's recorded column bounds? Over-approximate by design —
    * unknown columns, unknown shapes, and incomparable values all KEEP
    * the file; Spark re-applies every filter above the scan, so
    * skipping is purely an optimization and can never drop a row.
    */
  private[graft] def mayMatch(f: ManifestFile, filter: Filter): Boolean = {
    def ge(a: Any, b: Any) = cmpOpt(a, b).forall(_ >= 0)
    def le(a: Any, b: Any) = cmpOpt(a, b).forall(_ <= 0)
    def gt(a: Any, b: Any) = cmpOpt(a, b).forall(_ > 0)
    def lt(a: Any, b: Any) = cmpOpt(a, b).forall(_ < 0)
    def inRange(c: String, v: Any)(test: ((Any, Any)) => Boolean) =
      f.bounds.get(c).forall(test)
    filter match {
      // the `_file` metadata column IS the file identity — an
      // equality/IN probe on it prunes exactly (file-addressed reads:
      // incremental maintenance rewrites, debugging a single file)
      case EqualTo("_file", v) => f.name == v
      case In("_file", vs) => vs.contains(f.name: Any)
      case EqualTo(c, v) => inRange(c, v) { case (lo, hi) =>
        le(lo, v) && le(v, hi) }
      case GreaterThan(c, v) => inRange(c, v) { case (_, hi) => gt(hi, v) }
      case GreaterThanOrEqual(c, v) => inRange(c, v) { case (_, hi) =>
        ge(hi, v) }
      case LessThan(c, v) => inRange(c, v) { case (lo, _) => lt(lo, v) }
      case LessThanOrEqual(c, v) => inRange(c, v) { case (lo, _) =>
        le(lo, v) }
      case In(c, vs) => f.bounds.get(c).forall { case (lo, hi) =>
        vs.exists(v => le(lo, v) && le(v, hi)) }
      // every string with prefix p lies in [p, incrementLast(p)): the
      // file may match iff its [lo, hi] intersects that band — the
      // block-hash prefix probe ("hash LIKE '0000abc%'") prunes to
      // the band files like an equality would
      case StringStartsWith(c, p) => f.bounds.get(c).forall {
        case (lo, hi) =>
          ge(hi, p) && incrementLast(p).forall(succ => lt(lo, succ))
      }
      case org.apache.spark.sql.sources.AlwaysFalse() => false
      case And(l, r) => mayMatch(f, l) && mayMatch(f, r)
      case Or(l, r)  => mayMatch(f, l) || mayMatch(f, r)
      case _ => true
    }
  }

  /** [[mayMatch]]'s dual: does EVERY row of file `f` provably satisfy
    * `filter`, judged by the manifest's bounds and null counts?
    * Under-approximate by design — unknown columns/shapes/stats answer
    * false, never an unsound claim. Null semantics carry the proof
    * burden: a NULL operand evaluates a comparison/equality/IN to NULL
    * (not TRUE), so every value-predicate proof additionally requires
    * the file's recorded null count to be ZERO; [[mayMatch]]'s
    * no-match direction needs no null knowledge (null rows don't match
    * either way). String bounds are TRUNCATED (lo under-approximates
    * the true min, hi over-approximates the true max — the
    * incremented-prefix discipline), which keeps exactly these
    * directions sound: `lo > v` still proves every true value > v, and
    * `hi < v` every true value < v. Equality proofs use the lo == hi
    * collapse — a truncated/incremented hi can never equal lo, so
    * lo == hi certifies the file holds exactly that value.
    *
    * Together the pair classifies a file three ways for a DELETE
    * predicate: allMatch → the file drops WHOLE (metadata-only, no
    * rewrite); !mayMatch → the file carries untouched; otherwise the
    * file straddles and only a row-level rewrite can split it.
    */
  private[graft] def allMatch(f: ManifestFile, filter: Filter): Boolean = {
    def zeroNulls(c: String) = f.nullCounts.get(c).contains(0L)
    def eq(a: Any, b: Any) = cmpOpt(a, b).contains(0)
    filter match {
      case EqualTo("_file", v) => f.name == v
      case In("_file", vs) => vs.contains(f.name: Any)
      case EqualTo(c, v) => v != null && zeroNulls(c) &&
        f.bounds.get(c).exists { case (lo, hi) =>
          eq(lo, hi) && eq(lo, v) }
      // null IN-list elements evaluate the membership to NULL only
      // when nothing matched; a proven match ignores them
      case In(c, vs) => zeroNulls(c) &&
        f.bounds.get(c).exists { case (lo, hi) =>
          eq(lo, hi) && vs.exists(v => v != null && eq(lo, v)) }
      case GreaterThan(c, v) => zeroNulls(c) &&
        f.bounds.get(c).exists { case (lo, _) =>
          cmpOpt(lo, v).exists(_ > 0) }
      case GreaterThanOrEqual(c, v) => zeroNulls(c) &&
        f.bounds.get(c).exists { case (lo, _) =>
          cmpOpt(lo, v).exists(_ >= 0) }
      case LessThan(c, v) => zeroNulls(c) &&
        f.bounds.get(c).exists { case (_, hi) =>
          cmpOpt(hi, v).exists(_ < 0) }
      case LessThanOrEqual(c, v) => zeroNulls(c) &&
        f.bounds.get(c).exists { case (_, hi) =>
          cmpOpt(hi, v).exists(_ <= 0) }
      case org.apache.spark.sql.sources.IsNull(c) =>
        f.rows > 0 && f.nullCounts.get(c).contains(f.rows)
      case org.apache.spark.sql.sources.IsNotNull(c) => zeroNulls(c)
      // every value with prefix p lies in [p, incrementLast(p)); both
      // containment directions survive truncation: recorded lo ≤ true
      // min, so lo ≥ p proves min ≥ p; recorded hi ≥ true max, so
      // hi < succ proves max < succ. An un-incrementable p (all
      // U+10FFFF) has no finite band end — decline.
      case StringStartsWith(c, p) => zeroNulls(c) &&
        f.bounds.get(c).exists { case (lo, hi) =>
          cmpOpt(lo, p).exists(_ >= 0) && incrementLast(p).exists(
            succ => cmpOpt(hi, succ).exists(_ < 0)) }
      case org.apache.spark.sql.sources.AlwaysTrue() => true
      case And(l, r) => allMatch(f, l) && allMatch(f, r)
      case Or(l, r)  => allMatch(f, l) || allMatch(f, r)
      case _ => false
    }
  }

  /** The filter shapes [[mayMatch]] can act on (explain-visibility). */
  private[sources] def prunableShape(filter: Filter): Boolean = filter match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In |
         _: StringStartsWith => true
    case And(l, r) => prunableShape(l) && prunableShape(r)
    case Or(l, r)  => prunableShape(l) && prunableShape(r)
    case _ => false
  }

  /** Change-feed delta as a LOG WALK: the union over versions
    * `(fromExclusive, toInclusive]` of each version's newly-added
    * non-rewrite files, diffed against its predecessor. A single
    * end-vs-base manifest diff would be wrong twice over — a
    * compaction absorbs un-consumed appends into a rewrite file (their
    * rows would vanish from the diff), and the rewrite file itself
    * re-lists consumed rows (they would duplicate). Walking the chain
    * delivers every committed append exactly once, even when a later
    * version within the window compacted or overwrote it; torn
    * versions never became visible and contribute nothing. Requires
    * the walked manifests to still exist — consuming across a vacuumed
    * window is refused loudly rather than guessed at.
    */
  private[sources] def addedFiles(spark: SparkSession, dir: String,
      fromExclusive: Int, toInclusive: Int): Seq[ManifestFile] = {
    val out = Seq.newBuilder[ManifestFile]
    val seen = collection.mutable.Set.empty[String]
    // REF-LEVEL diff (round 7): segments are immutable and carried by
    // NAME, so a ref present in both versions can contain no new
    // files — only segments that APPEARED (new appends, merge
    // products, replace rewrites) and, to subtract their
    // carried-forward members, segments that DISAPPEARED (merge/
    // rewrite inputs) are resolved, plus both inline tails. Per
    // version the walk costs O(changed segments) = O(delta +
    // amortized merge), never O(table files) — the property that
    // keeps the streaming tail's DRIVER cost flat on a 10⁵-file
    // table. Soundness: an appeared segment's non-new members came
    // either from disappeared segments (merge inputs) or the
    // previous inline tail — both are in `oldNames`; a same-named
    // ref's members are bit-identical by immutability.
    var prev: Option[Manifest] =
      if (fromExclusive < 0) None
      else readManifestOrRefuse(spark, dir, fromExclusive)
    for (v <- (fromExclusive.max(-1) + 1) to toInclusive) {
      readManifestOrRefuse(spark, dir, v).foreach { m =>
        val prevRefNames = prev.fold(Set.empty[String])(
          _.refs.map(_.name).toSet)
        val curRefNames = m.refs.map(_.name).toSet
        val appeared = m.refs.filterNot(r => prevRefNames(r.name))
        val disappeared = prev.fold(Seq.empty[SegmentRef])(
          _.refs.filterNot(r => curRefNames(r.name)))
        val oldNames = disappeared
          .flatMap(r => prev.get.resolve(r.name)).map(_.name).toSet ++
          prev.fold(Seq.empty[String])(_.inline.map(_.name))
        (appeared.flatMap(r => m.resolve(r.name)) ++ m.inline)
          .foreach { f =>
            if (!oldNames(f.name) && !f.rewrite && seen.add(f.name))
              out += f
          }
        prev = Some(m)
      }
    }
    out.result()
  }

  /** None for a TORN version (never visible); loud error for a MISSING
    * one (vacuumed mid-window — the walk cannot be trusted).
    */
  private def readManifestOrRefuse(spark: SparkSession, dir: String,
      v: Int): Option[Manifest] =
    try manifestAt(spark, dir, Some(v))
    catch {
      case e: Throwable if e.getMessage != null &&
          e.getMessage.contains("torn") => None
      case _: java.io.FileNotFoundException => sys.error(
        s"graftsink: change-feed window crosses vacuumed version v$v; " +
          "restart the consumer from a live snapshot")
    }

  /** The file set a read of (version, changesFrom) scans: the target
    * manifest's files; under the change-feed option, the log-walked
    * per-version adds (see [[addedFiles]]). Shared by the row scan,
    * the metadata COUNT, and the statistics report so all three
    * describe the same relation.
    */
  private[sources] def scanFiles(spark: SparkSession, dir: String,
      version: Option[Int], changesFrom: Option[Int],
      filters: Seq[Filter] = Nil): Seq[ManifestFile] = {
    val m = manifestAt(spark, dir, version)
      .getOrElse(sys.error(s"graftsink: no committed manifest at $dir" +
        version.fold("")(v => s" (version $v)")))
    scanFilesOf(spark, dir, m, changesFrom, filters)
  }

  /** The same file-set resolution from a PRE-RESOLVED manifest — the
    * scan builder reuses its one parse for the aggregate fast path,
    * its fallback, and the file list (one definition, so the builder's
    * set can never silently diverge from the executed scan's).
    */
  private[sources] def scanFilesOf(spark: SparkSession, dir: String,
      m: Manifest, changesFrom: Option[Int],
      filters: Seq[Filter]): Seq[ManifestFile] =
    changesFrom match {
      // snapshot reads prune whole SEGMENTS on their union bounds
      // before resolving them (plan metadata = O(matching segments));
      // the change-feed log walk diffs at ref level per version and
      // needs no snapshot pruning (per-file skipping applies
      // downstream)
      case None => m.filesPruned(filters)
      case Some(base) => addedFiles(spark, dir, base, m.version)
    }

  def latestVersion(spark: SparkSession, dir: String): Option[Int] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) None
    else f.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("manifest-v"))
      .map(_.stripPrefix("manifest-v").toInt)
      .sorted.lastOption
  }


  /** Terminator line: a manifest is COMPLETE only when it ends with
    * this marker. A writer that dies mid-manifest leaves a detectable
    * torn file instead of a silently truncated file list.
    */
  private[sources] val EofMarker = "#eof"

  /** Header line `#epoch<TAB>id` recording the streaming epoch that
    * published a version (see [[Manifest.epoch]]).
    */
  private[sources] val EpochMarker = "#epoch"

  /** Header line `#commit<TAB>epochMillis` — the commit time, stamped
    * IN the manifest at publish. `history`, `TIMESTAMP AS OF`, and
    * vacuum's `retainMs` window all prefer it over the file's FS
    * mtime: mtime is an artifact of WHERE the bytes currently sit — a
    * migration, a `FileUtil.copy`, or an object-store lifecycle
    * transition rewrites it and would silently shift the entire
    * time-travel history and the retention window. The stamp rides
    * with the content instead (clone/cloneSync carry it verbatim, so
    * a replica's history shows the SOURCE's commit times). Legacy
    * manifests without the line fall back to mtime — the old
    * behavior exactly.
    */
  private[sources] val CommitTimeMarker = "#commit"

  /** A concurrent committer claimed this version first — the caller
    * must re-read the latest state and retry at the next version.
    */
  final class ManifestCollisionException(val version: Int,
      cause: Throwable)
    extends RuntimeException(
      s"graftsink: manifest v$version already exists (concurrent writer)",
      cause)

  /** A rewrite (row-level DML, compact, cluster) lost a conflict: a
    * file it read and planned to replace was itself replaced by a
    * concurrent commit. Publishing anyway would duplicate or resurrect
    * that file's rows, so the loser aborts; maintenance ops retry from
    * a fresh snapshot, DML surfaces the error to the caller.
    */
  final class ConcurrentRewriteException(msg: String)
    extends RuntimeException(msg)

  /** Manifest-history depth the replay guard will walk on stream
    * (re)start. Each step is one small-manifest read; the walk ends at
    * this stream's previous epoch, which in practice is at most a few
    * maintenance/batch commits down. Generous bound, paid once per
    * restart, never in steady state.
    */
  private val EpochScanDepth = 256

  /** The most recent epoch id this WRITER published, scanning at most
    * `depth` manifests down from the head. Manifests stamped by a
    * DIFFERENT writer are stepped over (another stream sharing the
    * table); legacy epoch lines without a writer stamp match any
    * writer (the pre-stamp single-stream assumption). None: no epoch
    * of ours within `depth` (or history vacuumed away) — publish.
    */
  private def epochFrontier(spark: SparkSession, dir: String,
      latest: Option[Manifest], writer: Option[String],
      depth: Int): Option[Long] = {
    def matches(m: Manifest): Boolean = m.epoch.isDefined &&
      (m.epochWriter.isEmpty || writer.isEmpty ||
        m.epochWriter == writer)
    var step = 0
    var cur = latest
    while (true) {
      cur match {
        case None => return None
        case Some(m) if matches(m) => return m.epoch
        case Some(m) =>
          step += 1
          if (step >= depth || m.version == 0) return None
          cur = try manifestAt(spark, dir, Some(m.version - 1))
          catch { case _: Throwable => None } // vacuumed / torn: stop
      }
    }
    None
  }

  /** VERSION FLOORS ([[Commit]], layer [[Commit.Sink]]) — the
    * anti-zombie half of the commit protocol. A graftsink marker names
    * the LOWEST version a commit may claim. Vacuum VACATES manifest
    * names, and an exclusive publish into a vacated name SUCCEEDS: a
    * writer that resolved the head, spent a while composing segments,
    * and linked its manifest only after vacuum expired that very
    * version number would "win" a version BELOW the real head — a
    * zombie commit no reader ever resolves (latest takes the max),
    * silently losing the write. So:
    *  - vacuum, BEFORE deleting any manifest, burns (max doomed
    *    version + 1) <= head; cloneSync's conviction burns (retracted
    *    head + 1) <= head + 2 — the plausibility limit;
    *  - [[commitLoop]] claims at or above the governing floor, and
    *    AFTER its link [[zombieFloor]] lists the markers: a claim below
    *    one proves the name was vacated, so the zombie is deleted and
    *    the loop retries from the fresh head;
    *  - a GENUINE head claim can never trip the check: with
    *    keepVersions >= 1, floor <= (some past head) - keep + 1 <=
    *    current head < claimed head+1.
    * Cost: one extra directory listing per SUCCESSFUL commit, zero
    * reads.
    */
  private def floorsOnDisk(spark: SparkSession, dir: String): Seq[Long] =
    Commit.floors(fs(spark, dir), Commit.Sink, new Path(dir))

  /** Post-link zombie gate of [[commitLoop]]: None = the commit
    * stands; Some(floor) = the claimed version sits below the vacuum
    * floor (its name had been vacated mid-compose), the zombie
    * manifest has been deleted here, and the caller must treat the
    * attempt as a collision and retry from a fresh head.
    */
  private def zombieFloor(spark: SparkSession, dir: String,
      version: Int): Option[Long] = {
    val fl = floorsOnDisk(spark, dir).foldLeft(-1L)(math.max)
    if (version >= fl) None
    else {
      // DEFENSE IN DEPTH (round 9): a TRUE zombie is never the max —
      // it claimed a vacated name BELOW the live head, so a manifest
      // NAME above it always exists. If the directory listing shows
      // no manifest name above the claimed version, this commit IS
      // the head regardless of what a floor marker says — a
      // corrupt/orphaned/crafted marker must not convict the only
      // live head and strand the table in a claim-convict-retry loop.
      // The check is the raw NAME listing, deliberately NOT head
      // resolution: resolution skips a transiently-unreadable head as
      // torn and could walk down to the zombie's own complete
      // manifest, "proving" it is the head and silently acking a lost
      // write. Names cannot lie that way — a real head's name is
      // listed even when its bytes are momentarily unreadable. Torn
      // names above also convict (conservative; the retry loop steps
      // over corpses via collisionFloor and terminates at a claim
      // above every listed name). Any listing failure falls through
      // to conviction — the old, safe behavior (NonFatal only: an OOM
      // or interrupt must propagate, not convert into a retry). The
      // vacuum-side floor derivation keeps this branch unreachable in
      // normal operation.
      // the listing must POSITIVELY contain our own claim: an empty
      // or claim-less listing (a racing vacuum, a transiently-false
      // exists on the table dir) is absence of evidence, and forall
      // on it would be vacuously true — standing on that would ack a
      // commit whose manifest may already be gone
      val provablyHead =
        try {
          val names = fsVersionsDesc(spark, dir)
          names.contains(version) && names.forall(_ <= version)
        } catch { case scala.util.control.NonFatal(_) => false }
      if (provablyHead) None
      else {
        fs(spark, dir).delete(new Path(dir, manifestName(version)), false)
        Some(fl)
      }
    }
  }

  /** Collision handling of [[commitLoop]]: a
    * collision with a COMPLETE manifest needs only a head re-read (the
    * next iteration carries it); a collision with a TORN one is a
    * corpse — a crashed pre-atomic-publish writer or a crafted legacy
    * file, never an in-flight commit (atomic link/rename makes listed
    * manifests complete by construction) — and must be STEPPED OVER,
    * or the retry would collide with it forever. Returns the minimum
    * version the next attempt may claim.
    */
  private def collisionFloor(spark: SparkSession, dir: String,
      e: ManifestCollisionException): Int =
    if (manifestIsComplete(spark, dir, e.version)) 0
    else e.version + 1

  /** [[publish]]'s default retry budget, and every other
    * [[commitLoop]] caller's.
    */
  private val CommitRetries = 20

  /** One commit attempt's manifest — everything but its version, which
    * [[commitLoop]] claims; `done` turns the version into the caller's
    * result.
    */
  private final case class Draft[A](ddl: String, refs: Seq[SegmentRef],
      inline: Seq[ManifestFile], epoch: Option[Long],
      epochWriter: Option[String], committedAtMs: Option[Long],
      done: Int => A)

  /** THE commit loop behind [[publish]], [[publishSchemaRewrite]],
    * [[compact]], [[cluster]] and [[restore]]. Each attempt resolves
    * the head and asks `attempt` for an early result (Left: a replayed
    * epoch, a rewrite conflict) or a [[Draft]], links the draft at the
    * claimed version, runs the [[zombieFloor]] gate, and on a collision
    * or a conviction retries from a fresh head — at most `maxRetries`
    * times.
    *
    * The claim is the resolved head + 1, NEVER a separate listing:
    * reading the head and the version counter in two steps lets a
    * racer number itself PAST a commit it did not carry (observed as a
    * lost append in the threaded spec), while deriving the number from
    * the carried manifest makes a missed commit a guaranteed
    * COLLISION, which the retry re-reads. Claims must also start ABOVE
    * any PLAUSIBLY-burned number: vacuum floors convict zombies
    * post-link, but a RETRACTED HEAD's number (cloneSync's commit-time
    * conviction) has nothing above it, so the provablyHead defense
    * would let a re-mint stand — skipping burned names at claim time
    * closes that recycle. The markers are listed once per op, and only
    * those at or below head + 2 govern the claim ([[Commit.floor]]): a
    * higher one is corrupt or crafted — the table must not renumber
    * itself around vandalism — and is defused post-link by the
    * provablyHead branch.
    */
  private def commitLoop[A](spark: SparkSession,
      conf: SerializableConfiguration, dir: String, maxRetries: Int)(
      attempt: Option[Manifest] => Either[A, Draft[A]]): A = {
    val burned = floorsOnDisk(spark, dir)
    @scala.annotation.tailrec
    def go(floor: Long, failures: Int): A = {
      val latest = latestManifest(spark, dir)
      attempt(latest) match {
        case Left(early) => early
        case Right(d) =>
          val headNext = latest.fold(0)(_.version + 1)
          val claim = Seq(headNext.toLong, floor,
            Commit.floor(burned, headNext + 1L)).max
          require(claim <= Int.MaxValue,
            s"graftsink: a floor marker at $dir puts the next claim at " +
              s"v$claim, past the version range")
          val version = claim.toInt
          // the zombie gate runs AFTER the link on purpose: a pre-link
          // check would race the very vacuum it guards against
          val retry =
            try {
              writeManifest(conf, dir, version, d.ddl, d.refs, d.inline,
                d.epoch, d.epochWriter, d.committedAtMs)
              zombieFloor(spark, dir, version).map(fl =>
                (new ManifestCollisionException(version,
                  new java.io.IOException(
                    s"claimed v$version below vacuum floor $fl")), fl))
            } catch { case e: ManifestCollisionException =>
              Some((e, collisionFloor(spark, dir, e).toLong))
            }
          retry match {
            case None => d.done(version)
            case Some((e, next)) =>
              if (failures >= maxRetries) throw e
              go(math.max(floor, next), failures + 1)
          }
      }
    }
    go(-1L, 0)
  }

  /** The manifest is plain text: line 1 = the TABLE schema DDL, every
    * further line = one committed data file as `name<TAB>fileDdl`
    * (a bare name means the file was written under the table schema),
    * final line = the `#eof` completeness marker. No JSON parse on the
    * read path.
    */
  def latestManifest(spark: SparkSession, dir: String): Option[Manifest] =
    manifestAt(spark, dir, None)

  /** Time-travel resolution: a pinned `version` reads that manifest
    * (absent or torn ⇒ error surfaces at planInputPartitions); None =
    * the latest COMPLETE manifest — a torn leftover from a crashed
    * committer is skipped, the table stays readable at its previous
    * version.
    */
  def manifestAt(spark: SparkSession, dir: String,
      version: Option[Int]): Option[Manifest] = {
    val f = fs(spark, dir)
    /** A manifest caught MID-PUBLISH reads as garbage on filesystems
      * that can't serve a consistent prefix (LocalFileSystem races the
      * .crc sidecar → ChecksumException; a partial block → EOF).
      * That's the same observable state as a torn write, but it's
      * usually TRANSIENT — the writer finishes milliseconds later. One
      * short-backoff retry distinguishes the cases: still unreadable ⇒
      * treat as torn (skip for latest-resolution, loud for pinned),
      * never crash the racing reader.
      */
    def readBytes(v: Int): Option[String] = {
      def attempt(): String = {
        val in = f.open(new Path(dir, manifestName(v)))
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      try Some(attempt())
      catch {
        case _: java.io.FileNotFoundException => throw
          new java.io.FileNotFoundException(
            s"$dir/${manifestName(v)} does not exist")
        case _: java.io.IOException =>
          Thread.sleep(50)
          try Some(attempt())
          catch {
            case _: java.io.FileNotFoundException => throw
              new java.io.FileNotFoundException(
                s"$dir/${manifestName(v)} does not exist")
            case _: java.io.IOException => None
          }
      }
    }
    def read(v: Int): Option[Manifest] = {
      val text = readBytes(v) match {
        case Some(t) => t
        case None => return None // unreadable after retry: torn
      }
      val lines = text.split("\n").toSeq.filter(_.nonEmpty)
      if (lines.lastOption.contains(EofMarker)) {
        val tableDdl = lines.head
        val body = lines.tail.dropRight(1)
        val epochLines = body.filter(_.startsWith(s"$EpochMarker\t"))
        val segLines = body.filter(_.startsWith(s"$SegMarker\t"))
        val commitLines = body.filter(
          _.startsWith(s"$CommitTimeMarker\t"))
        val fileLines = body.filterNot(l =>
          l.startsWith(s"$EpochMarker\t") || l.startsWith(s"$SegMarker\t")
            || l.startsWith(s"$CommitTimeMarker\t"))
        val committedAt = commitLines.headOption
          .flatMap(_.stripPrefix(s"$CommitTimeMarker\t").toLongOption)
        // 2-field legacy `#epoch<TAB>id` or 3-field `#epoch<TAB>id
        // <TAB>queryId` current form
        val epochFields = epochLines.headOption
          .map(_.stripPrefix(s"$EpochMarker\t").split("\t", -1))
        val epoch = epochFields.map(_(0).toLong)
        val epochWriter = epochFields.collect {
          case a if a.length > 1 && a(1).nonEmpty => a(1) }
        val refs = segLines.map { l =>
          l.split("\t", -1) match {
            case Array(_, name, count, rows, bytes, stats, sum) =>
              SegmentRef(name, count.toInt, rows.toLong, bytes.toLong,
                stats, sum)
            case Array(_, name, count, rows, bytes, stats) =>
              SegmentRef(name, count.toInt, rows.toLong, bytes.toLong,
                stats)
            case Array(_, name, count, rows, bytes) =>
              SegmentRef(name, count.toInt, rows.toLong, bytes.toLong)
            case _ => sys.error(
              s"graftsink: unparseable segment reference '$l'")
          }
        }
        // per-line DDL "" in the VERSION file refers to ITS table
        // schema (inline entries are rewritten each publish, so the
        // reference is always current); inside a segment it refers to
        // the segment's own frozen base line
        val inline = fileLines.map(parseFileLine(_, tableDdl))
        val conf = new SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        Some(Manifest(v, tableDdl, epoch, epochWriter, refs, inline,
          resolver = name => readSegment(conf, dir, name),
          committedAtMs = committedAt))
      } else None // torn: writer died mid-manifest
    }
    version match {
      case Some(v) => Some(read(v).getOrElse(sys.error(
        s"graftsink: manifest v$v at $dir is incomplete (torn write)")))
      case None =>
        // newest complete manifest wins; torn tails are skipped
        fsVersionsDesc(spark, dir).iterator.map(read)
          .collectFirst { case Some(m) => m }
    }
  }

  /** Commit time of a COMPLETE version: the manifest's own
    * [[CommitTimeMarker]] stamp when present, else the file's FS
    * mtime (legacy manifests) — the ONE clock `history`,
    * `TIMESTAMP AS OF`, and vacuum's `retainMs` all resolve by, so a
    * migration that rewrites mtimes cannot shift the time-travel
    * story of stamped history.
    */
  private def commitTimeOf(spark: SparkSession, dir: String,
      m: Manifest): Long = {
    val t = m.committedAtMs.getOrElse(
      try fs(spark, dir)
        .getFileStatus(new Path(dir, manifestName(m.version)))
        .getModificationTime
      catch { case _: java.io.FileNotFoundException => -1L })
    // a STAMPED commit time is immutable — cache it so time-travel
    // resolution (`versionAtTimestamp` walks versions newest-first)
    // costs one manifest parse per version EVER, not per resolve.
    // mtime fallbacks are NOT cached (a migration can rewrite them).
    if (m.committedAtMs.isDefined) {
      if (commitStampCache.size > 8192) commitStampCache.clear()
      commitStampCache.put(s"$dir#${m.version}", t)
    }
    t
  }

  /** (dir, version) → the manifest's own commit stamp; populated by
    * [[commitTimeOf]]. Safe because a COMPLETE manifest's stamp never
    * changes and vacated version names are never re-minted (the floor
    * discipline), so a cached entry can only describe the manifest
    * that was read.
    */
  private val commitStampCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Newest COMPLETE version committed at or before `tsMs` (the
    * manifest's own commit stamp; FS mtime only for legacy,
    * stamp-less manifests); None when the table had no complete
    * version yet.
    */
  def versionAtTimestamp(spark: SparkSession, dir: String,
      tsMs: Long): Option[Int] = {
    fsVersionsDesc(spark, dir).find { v =>
      val cached = commitStampCache.get(s"$dir#$v")
      val t =
        if (cached != null) cached.longValue()
        else (try manifestAt(spark, dir, Some(v))
        catch { case _: Throwable => None })
          .map(m => commitTimeOf(spark, dir, m)).getOrElse(-1L)
      t >= 0 && t <= tsMs
    }
  }

  /** (version, fileCount, rowCount, epoch, committedAtMs) per COMPLETE
    * version, newest first — the `history` metadata table's rows.
    */
  def history(spark: SparkSession, dir: String)
      : Seq[(Int, Int, Long, Option[Long], Long)] = {
    fsVersionsDesc(spark, dir).flatMap { v =>
      (try manifestAt(spark, dir, Some(v)) catch
        { case _: Throwable => None })
        .map(m => (v, m.fileCount,
          // ref sums serve the common case without resolving a single
          // segment; legacy stat-less entries fall back to the files
          m.rowCount.getOrElse(
            m.files.map(_.rows).filter(_ >= 0).sum),
          m.epoch, commitTimeOf(spark, dir, m)))
    }
  }

  private def fsVersionsDesc(spark: SparkSession, dir: String): Seq[Int] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("manifest-v"))
      .map(_.stripPrefix("manifest-v").toInt)
      .sorted(Ordering.Int.reverse).toSeq
  }

  /** Publish one version: the [[Commit]] exclusive publish of the
    * manifest file, so a version collision between two concurrent
    * committers surfaces as [[ManifestCollisionException]] instead of
    * one writer's rename silently replacing the other's manifest.
    * Content ends with [[EofMarker]]; readers treat a marker-less file
    * as torn and skip it.
    */
  private[sources] def writeManifest(conf: SerializableConfiguration,
      dir: String, version: Int, schemaDdl: String,
      files: Seq[ManifestFile], epoch: Option[Long] = None,
      epochWriter: Option[String] = None): Unit =
    writeManifest(conf, dir, version, schemaDdl, Nil, files, epoch,
      epochWriter, None)

  /** Segmented form: `refs` carry by name, `inline` entries are
    * written into the version file itself. Commit cost is O(refs +
    * inline), independent of how many files the referenced segments
    * hold. `committedAtMs` None stamps NOW (every normal commit);
    * replication passes the SOURCE's stamp so the replica's
    * time-travel history shows source commit times
    * ([[CommitTimeMarker]]).
    */
  private[sources] def writeManifest(conf: SerializableConfiguration,
      dir: String, version: Int, schemaDdl: String,
      refs: Seq[SegmentRef], inline: Seq[ManifestFile],
      epoch: Option[Long], epochWriter: Option[String],
      committedAtMs: Option[Long]): Unit = {
    val f = new Path(dir).getFileSystem(conf.value)
    val dst = new Path(dir, manifestName(version))
    val segLines = refs.map(r =>
      s"$SegMarker\t${r.name}\t${r.count}\t${r.rows}\t${r.bytes}\t" +
        s"${r.statsJson}\t${r.checksum}")
    val fileLines = inline.map { mf =>
      val ddl = if (mf.schemaDdl == schemaDdl) "" else mf.schemaDdl
      val flags = if (mf.rewrite) "r" else ""
      s"${mf.name}\t$ddl\t${mf.rows}\t${mf.bytes}\t${mf.statsJson}\t" +
        s"$flags\t${mf.checksum}"
    }
    val stamp = committedAtMs.getOrElse(System.currentTimeMillis())
    val header = Seq(schemaDdl, s"$CommitTimeMarker\t$stamp") ++
      epoch.toSeq.map(e =>
        (s"$EpochMarker\t$e" +: epochWriter.toSeq).mkString("\t"))
    val payload = ((header ++ segLines ++ fileLines) :+ EofMarker)
      .mkString("\n").getBytes("UTF-8")
    // EXCLUSIVE and ALL-OR-NOTHING in one primitive
    // ([[Commit.place]]): writing into the final name leaves a window
    // where the manifest is LISTED but not yet complete — a racing
    // committer then counts it for version numbering while
    // latest-resolution skips it as torn (observed: the threaded
    // appenders spec lost 2/20 commits that way). A listed manifest is
    // complete BY CONSTRUCTION.
    if (!Commit.place(f, Commit.stage(f, Commit.Sink, dst, payload), dst))
      throw new ManifestCollisionException(version,
        new java.io.IOException(s"$dst already exists"))
  }

  /** The published table schema for an append: unchanged when the
    * write matches; under `evolve`, the union (existing columns first,
    * genuinely new columns appended) — legal only if every SHARED
    * column keeps its exact type, because each file is parsed under
    * its own recorded schema and reconciled by name, never re-typed.
    */
  /** Name+type equality, nullability ignored: a catalog table created
    * with nullable columns must accept INSERT VALUES whose literals
    * plan as NOT NULL — the positional line format never encodes
    * nullability, only field order and type.
    */
  private def sameShape(a: String, b: String): Boolean = {
    def norm(ddl: String) = StructType.fromDDL(ddl)
      .fields.map(f => (f.name, f.dataType)).toSeq
    norm(a) == norm(b)
  }

  private[sources] def evolvedDdl(prevDdl: String, writeDdl: String,
      evolve: Boolean): String = {
    if (sameShape(prevDdl, writeDdl)) prevDdl
    else if (!evolve) sys.error(
      "graftsink: append schema does not match the table schema " +
        s"(table: $prevDdl; write: $writeDdl). Use mode(\"overwrite\") " +
        "to replace the table shape, or .option(\"evolveSchema\", true) " +
        "to add new columns.")
    else {
      val prev = StructType.fromDDL(prevDdl)
      val incoming = StructType.fromDDL(writeDdl)
      val prevByName = prev.fields.map(f => f.name -> f).toMap
      incoming.fields.foreach { f =>
        prevByName.get(f.name).foreach { p =>
          if (p.dataType != f.dataType) sys.error(
            s"graftsink: evolveSchema cannot re-type column ${f.name} " +
              s"(table: ${p.dataType.sql}; write: ${f.dataType.sql})")
        }
      }
      // added columns are ALWAYS nullable in the table schema: every
      // pre-evolution file lacks them, so readers must be allowed to
      // produce null (a non-nullable read schema would make codegen
      // skip the null check and fabricate zeros)
      val added = incoming.fields.filterNot(f => prevByName.contains(f.name))
        .map(_.copy(nullable = true))
      StructType(prev.fields ++ added).toDDL
    }
  }

  /** The commit point's read-modify-write, made collision-safe: read
    * the latest complete manifest, gate (or evolve) the schema on
    * append — each file is parsed under its own recorded schema, so an
    * un-gated shape change would corrupt reads of the carried-forward
    * files — attempt the next version exclusively, and on collision
    * re-read and retry so the surviving manifest contains BOTH
    * writers' files. Returns the published version.
    */
  private[graft] def publish(spark: SparkSession,
      conf: SerializableConfiguration, dir: String, schemaDdl: String,
      newFiles: Seq[ManifestFile], truncate: Boolean,
      evolve: Boolean = false, epoch: Option[Long] = None,
      replace: Option[Set[String]] = None,
      maxRetries: Int = CommitRetries, epochWriter: Option[String] = None,
      replayScan: Boolean = false,
      committedAtMs: Option[Long] = None): Int =
    commitLoop(spark, conf, dir, maxRetries) { latest =>
      // streaming exactly-once: a recovery-replayed epoch finds its id
      // already published and publishes nothing. Spark replays at most
      // the last un-checkpointed batch PER STREAM, but other commits
      // (a batch append, compact(), a schema change) can land BETWEEN
      // that epoch's publish and the crash — so the replayed id may
      // sit any number of versions below the head. On the FIRST commit
      // after a (re)start (`replayScan`) the guard walks the manifest
      // history down to this stream's previous epoch; steady-state
      // commits check only the head (the in-process publishedThrough
      // watermark in GraftStreamingWrite already proves the prior
      // epoch landed this run, so the walk would find nothing new).
      val replayed = epoch.exists { e =>
        epochFrontier(spark, dir, latest, epochWriter,
          if (replayScan) EpochScanDepth else 1).exists(_ >= e)
      }
      if (replayed) Left(latest.map(_.version).getOrElse(0))
      else {
        // a truncate still stacks on the head: the loop claims above
        // `latest`, not `prev`
        val prev = if (truncate) None else latest
        val tableDdl = prev.fold(schemaDdl)(m =>
          evolvedDdl(m.schemaDdl, schemaDdl, evolve))
        // evolution can only add GENUINELY new names: a column dropped
        // earlier whose bytes still live in a file would be resurrected
        // by the by-name reconciliation (the same gate guards catalog
        // ADD COLUMN)
        if (evolve) prev.foreach { pm =>
          val before = StructType.fromDDL(pm.schemaDdl).fieldNames.toSet
          val fresh = StructType.fromDDL(tableDdl).fieldNames.toSeq
            .filterNot(before)
          if (fresh.nonEmpty) assertNotHaunted(pm, fresh)
        }
        // row-level rewrite: the scanned files leave the manifest, their
        // replacement rows arrive as newFiles; untouched files carry.
        // O(delta) metadata: untouched segments carry by reference;
        // only segments holding a `replace`d file and the loose pool
        // (previous inline + newFiles) are (re)written
        val (refs, inline, foundReplace) = composeSegments(conf, dir,
          prev, replace.getOrElse(Set.empty), newFiles)
        // row-level rewrite CONFLICT GATE, fed by the compose itself:
        // every file this rewrite scanned must still be listed at the
        // head. If a concurrent compact/cluster/DELETE replaced one,
        // carrying ITS replacement alongside our newFiles would
        // duplicate (or resurrect) that file's rows — the classic
        // rewrite-vs-rewrite conflict; the losing writer must abort
        // (Delta's ConcurrentDeleteReadException discipline), not merge.
        // composeSegments reports exactly which names it found (blooms
        // have no false negatives, so a live name is always found), so
        // the gate costs no extra segment resolution; segments a doomed
        // attempt already wrote are vacuum-collectable orphans.
        replace.foreach { r =>
          val gone = r.diff(foundReplace)
          if (gone.nonEmpty) throw new ConcurrentRewriteException(
            s"graftsink: row-level rewrite at $dir scanned file(s) " +
              s"${gone.toSeq.sorted.take(3).mkString(", ")}" +
              s"${if (gone.size > 3) ", …" else ""} that a concurrent " +
              "commit has since rewritten or removed; re-run the " +
              "operation against the new table state")
        }
        Right(Draft(tableDdl, refs, inline, epoch, epochWriter,
          committedAtMs, identity))
      }
    }

  /** Newest version with a COMPLETE manifest (torn tails skipped)
    * WITHOUT parsing any manifest: per candidate name, read only the
    * final bytes and check the `#eof` terminator. The cheap primitive
    * for callers that need the version NUMBER, not the file list
    * (ResultCache's snapshot salt) — [[latestVersion]] is wrong for
    * them (it counts torn names, so a crashed publish would alias two
    * snapshots onto one salt), and resolution-by-parse would read a
    * legacy inline manifest (~100 MB at 10⁶ entries) for one int.
    */
  def latestCompleteVersion(spark: SparkSession, dir: String): Option[Int] = {
    val f = fs(spark, dir)
    // completeness = the last NON-EMPTY line equals the marker — the
    // resolver's EXACT normalization (read(): split('\n'),
    // filter(_.nonEmpty), lastOption.contains), byte for byte. No
    // trim: a manifest ending "#eof " or "#eof\r" (CRLF/external
    // tooling) is torn to the resolver, so a trimming tail check
    // would point the ResultCache salt or a streaming offset at a
    // version readers skip. A suffix match would be wrong the other
    // way (a torn line merely ENDING in #eof). The window is 64
    // bytes: a real terminator line always fits, and a window-cut
    // fragment of a longer line can never EQUAL the 4-byte marker.
    def tailIsEof(v: Int): Boolean = {
      def attempt(): Boolean = {
        val p = new Path(dir, manifestName(v))
        val len = f.getFileStatus(p).getLen
        val tail = math.min(len, 64L).toInt
        val in = f.open(p)
        try {
          in.seek(len - tail)
          val buf = new Array[Byte](tail)
          in.readFully(buf)
          new String(buf, "UTF-8").split('\n').toSeq
            .filter(_.nonEmpty).lastOption.contains(EofMarker)
        } finally in.close()
      }
      // same one-retry discipline as manifestAt's readBytes: a file
      // caught MID-PUBLISH reads as transient garbage (LocalFileSystem
      // races the .crc sidecar); without the retry one hiccup resolves
      // the head a version low — a stale ResultCache salt, a streaming
      // offset below the live head
      try attempt()
      catch {
        case _: java.io.FileNotFoundException => false
        case scala.util.control.NonFatal(_) =>
          Thread.sleep(50)
          try attempt()
          catch { case scala.util.control.NonFatal(_) => false }
      }
    }
    fsVersionsDesc(spark, dir).find(tailIsEof)
  }

  /** Schema-change publish that may also rewrite the CARRIED file
    * entries (recorded per-file DDLs, stats keys). `change` recomputes
    * from a fresh head on every collision retry, so a concurrent
    * append's files receive the same treatment. `change` returning
    * None for the entry list means "entries untouched" — the publish
    * carries the head's segments BY REFERENCE (a schema-only ADD/DROP
    * stays O(manifest list) no matter the file count); Some(files)
    * re-records every entry (rename rewrites DDLs/stats keys) into
    * fresh segments.
    */
  private def publishSchemaRewrite(spark: SparkSession,
      conf: SerializableConfiguration, dir: String)(
      change: Manifest => (String, Option[Seq[ManifestFile]])): Int =
    commitLoop(spark, conf, dir, CommitRetries) { latest =>
      val head = latest.getOrElse(
        sys.error(s"graftsink: no committed manifest at $dir"))
      val (ddl, changed) = change(head)
      val (refs, inline) = changed match {
        case None => (head.refs, head.inline)
        case Some(files) => freshEntries(conf, dir, files)
      }
      Right(Draft(ddl, refs, inline, None, None, None, identity))
    }

  /** RENAME COLUMN without touching a byte of data. The line parser
    * identifies fields POSITIONALLY by each file's recorded schema
    * (the embedded JSON keys are skipped, never matched — see
    * GraftSinkReader.parse), so renaming the recorded DDLs in the
    * manifest — table schema, every file entry holding the column,
    * and the per-file stats keys — IS the rename: O(manifest), data
    * files immutable, bounds skipping and metadata aggregates keep
    * working under the new name, and prior versions still time-travel
    * to the old one. Rejected when `to` already exists in the table
    * OR in any live file's recorded schema: a same-named column
    * DROPPED earlier whose bytes still live would be silently
    * resurrected into the renamed column (rewrite via a full
    * cluster() first — fresh files carry only current columns).
    */
  def renameColumn(spark: SparkSession, dir: String,
      from: String, to: String): Int = {
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    publishSchemaRewrite(spark, conf, dir) { head =>
      val table = StructType.fromDDL(head.schemaDdl)
      require(table.fieldNames.contains(from),
        s"graftsink: no column $from to rename")
      require(!table.fieldNames.contains(to),
        s"graftsink: rename target $to already exists")
      val haunted = head.files.count(f =>
        f.schemaDdl != head.schemaDdl &&
          StructType.fromDDL(f.schemaDdl).fieldNames.contains(to))
      require(haunted == 0,
        s"graftsink: rename target $to is still recorded in $haunted " +
          "live file(s) (a dropped column's bytes); run a full " +
          "cluster() rewrite first")
      def ren(ddl: String): String = {
        val st = StructType.fromDDL(ddl)
        StructType(st.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f)).toDDL
      }
      (ren(head.schemaDdl), Some(head.files.map { f =>
        if (!StructType.fromDDL(f.schemaDdl).fieldNames.contains(from)) f
        else f.copy(schemaDdl = ren(f.schemaDdl),
          statsJson = renameStatsKey(f.statsJson, from, to))
      }))
    }
  }

  /** DROP COLUMN as a metadata-only publish: the column leaves the
    * TABLE schema only. Files keep their recorded shape — the
    * positional parser needs it to walk the bytes — and the reader
    * prunes the field like any unselected column. Re-ADDING a name
    * whose bytes still live in any file is rejected (here, by the
    * append-evolution gate, and by the catalog) until a full
    * cluster() rewrite lays fresh files without it.
    */
  def dropColumn(spark: SparkSession, dir: String, name: String): Int = {
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    publishSchemaRewrite(spark, conf, dir) { head =>
      val table = StructType.fromDDL(head.schemaDdl)
      require(table.fieldNames.contains(name),
        s"graftsink: no column $name to drop")
      require(table.fields.length > 1,
        "graftsink: cannot drop the table's last column")
      (StructType(table.fields.filterNot(_.name == name)).toDDL,
        None) // entries untouched: segments carry by reference
    }
  }

  /** ADD COLUMN(s) as a schema-only publish, guarded against
    * resurrection: a name whose bytes still live in some file's
    * recorded schema (dropped earlier, never rewritten) would have
    * its old values silently read back into the "new" column by the
    * by-name reconciliation.
    */
  def addColumns(spark: SparkSession, dir: String,
      added: Seq[StructField]): Int = {
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    publishSchemaRewrite(spark, conf, dir) { head =>
      val table = StructType.fromDDL(head.schemaDdl)
      added.foreach { f =>
        require(!table.fieldNames.contains(f.name),
          s"column ${f.name} already exists")
        assertNotHaunted(head, Seq(f.name))
      }
      val evolved = StructType(table.fields ++
        added.map(_.copy(nullable = true)))
      checkSupported(evolved)
      (evolved.toDDL, None) // entries untouched: segments carry by ref
    }
  }

  /** Fails when any of `names` still lives in a file's recorded
    * schema. Only files whose shape differs from the table's are
    * parsed (same-shaped files can't hold a non-table column).
    */
  private def assertNotHaunted(head: Manifest, names: Seq[String]): Unit = {
    val haunted = names.filter(n => head.files.exists(f =>
      f.schemaDdl != head.schemaDdl &&
        StructType.fromDDL(f.schemaDdl).fieldNames.contains(n)))
    if (haunted.nonEmpty) sys.error(
      s"graftsink: column(s) ${haunted.mkString(", ")} were dropped " +
        "but their bytes still live in existing files — a re-add " +
        "would resurrect the old values; run a full cluster() " +
        "rewrite first")
  }

  private def renameStatsKey(statsJson: String, from: String,
      to: String): String =
    if (statsJson.isEmpty) statsJson
    else {
      import scala.jdk.CollectionConverters._
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(statsJson)
      node.properties().asScala.map { e =>
        val k = if (e.getKey == from) to else e.getKey
        val arr = (0 until e.getValue.size).map(i =>
          graft.Json.quote(e.getValue.get(i).asText))
        s"${graft.Json.quote(k)}:[${arr.mkString(",")}]"
      }.mkString("{", ",", "}")
    }

  final case class CompactStats(groupsMerged: Int, filesBefore: Int,
      filesAfter: Int)

  /** Small-file compaction — the lakehouse maintenance pass that keeps
    * a high-frequency append cadence from degrading reads into
    * thousands of tiny-file opens. Files under `smallBytes` sharing a
    * schema are binned into ~`targetBytes` groups; each group merges
    * into ONE new data file by straight byte concatenation (the line
    * format is self-delimited text, so concatenation IS the merged
    * file — no parse, no shuffle), executed as one Spark job with a
    * task per group. The new manifest version lists merged files with
    * summed rows/bytes and interval-UNIONED column bounds; content is
    * bit-identical row-wise, so readers, COUNT(*), and file skipping
    * carry over, and prior versions still time-travel to the original
    * small files until vacuumed.
    */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      smallBytes: Long = 32L * 1024 * 1024,
      rewriteRetries: Int = 3): CompactStats = {
    val m = latestManifest(spark, dir).getOrElse(
      sys.error(s"graftsink: nothing to compact at $dir"))
    require(m.files.forall(f => f.rows >= 0 && f.bytes >= 0),
      "graftsink: compaction needs per-file statistics " +
        "(pre-statistics manifest)")
    val (small, big) = m.files.partition(_.bytes < smallBytes)
    // bin per schema (concatenation requires one line format) into
    // ~targetBytes groups, in name order for determinism
    val groups = small.groupBy(_.schemaDdl).toSeq.flatMap { case (_, fs) =>
      val bins = Seq.newBuilder[Seq[ManifestFile]]
      var cur = Vector.empty[ManifestFile]; var bytes = 0L
      fs.sortBy(_.name).foreach { f =>
        if (cur.nonEmpty && bytes + f.bytes > targetBytes) {
          bins += cur; cur = Vector(f); bytes = f.bytes
        } else { cur = cur :+ f; bytes += f.bytes }
      }
      if (cur.nonEmpty) bins += cur
      bins.result()
    }.filter(_.size > 1)
    if (groups.isEmpty) return CompactStats(0, m.files.size, m.files.size)

    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val compactId = java.util.UUID.randomUUID().toString.take(8)
    // one task per group: stream-concatenate the group's files into a
    // fresh data file (executor-side IO, driver sees only metadata)
    val mergedRaw = spark.sparkContext
      .parallelize(groups.zipWithIndex, groups.size.max(1))
      .map { case (group, gi) =>
        val name = s"compact-$compactId-$gi"
        val dst = new Path(dir, s"data/$name")
        val f = dst.getFileSystem(conf.value)
        // checksum folds over the SAME buffers the concat streams —
        // the merged file's content hash costs no extra read
        val h = Integrity.newHash()
        var legacy = 0
        val out = f.create(dst, false)
        try group.foreach { mf =>
          // VERIFY BEFORE RETIRE: a second fold, per SOURCE file, over
          // the same buffers — free, like the write-side hash. Without
          // it, compaction LAUNDERS corruption: a bit-rotted member is
          // concatenated into a fresh file whose new checksum blesses
          // the corrupt bytes, the honest old checksum leaves the
          // manifest with the retired file, and from then on
          // fsck(deep) — including the FULL drill — attests the
          // corruption as authentic while copyVerified replication
          // propagates it. Refuse loudly instead; checksum-less legacy
          // members compact with a LOUD unverified count, never
          // silently (the copyVerified message discipline).
          val hf = Integrity.newHash()
          val in = f.open(new Path(dir, s"data/${mf.name}"))
          try {
            val buf = new Array[Byte](1 << 16)
            var n = in.read(buf)
            while (n >= 0) {
              if (n > 0) {
                out.write(buf, 0, n); h.update(buf, 0, n)
                hf.update(buf, 0, n)
              }
              n = in.read(buf)
            }
          } finally in.close()
          if (mf.checksum.nonEmpty) {
            val actual = Integrity.hex(hf.getValue)
            if (actual != mf.checksum) {
              out.close()
              f.delete(dst, false)
              sys.error(s"graftsink: compaction read ${mf.name} with " +
                s"xxh64 $actual but the manifest records " +
                s"${mf.checksum} — refusing to retire (and re-bless) " +
                "corrupt bytes; deep-fsck and restore the object first")
            }
          } else legacy += 1
        } finally out.close()
        (gi, (name, Integrity.hex(h.getValue), legacy))
      }.collect()
    val merged = mergedRaw.map { case (gi, (n, sum, _)) =>
      gi -> ((n, sum)) }.toMap
    val legacyCompacted = mergedRaw.map(_._2._3).sum
    if (legacyCompacted > 0)
      Integrity.warnUnverified(s"graftsink: compaction at $dir retired " +
        s"$legacyCompacted checksum-less legacy file(s) UNVERIFIED " +
        "(pre-checksum manifest) — their bytes fold into checksummed " +
        "merged files without content proof; deep-fsck cannot vouch " +
        "for history written before checksums")

    val mergedEntries = groups.zipWithIndex.map { case (group, gi) =>
      ManifestFile(merged(gi)._1, group.head.schemaDdl,
        group.map(_.rows).sum, group.map(_.bytes).sum,
        unionStats(group), rewrite = true, checksum = merged(gi)._2)
    }
    val compacted = Set(groups.flatten.map(_.name): _*)
    maintenanceBarrier()
    commitLoop(spark, conf, dir, CommitRetries) { latest =>
      // re-read on every attempt: a concurrent append between reads
      // must keep its files in the surviving manifest (the publish
      // retry discipline) — compaction only REPLACES its own group
      // members, whatever else the head now lists
      val head = latest.getOrElse(m)
      // REWRITE CONFLICT: if any group member vanished from the head
      // (a concurrent copy-on-write DELETE/UPDATE/cluster replaced
      // it), the merged bytes hold that member's PRE-rewrite rows —
      // publishing them would resurrect deleted data. Drop the stale
      // merged files and recompute from a fresh snapshot (compaction
      // is idempotent maintenance; the rewriter won the conflict).
      val headNames = head.files.map(_.name).toSet
      if (!compacted.forall(headNames)) {
        rewriteConflicts.incrementAndGet()
        val f = fs(spark, dir)
        mergedEntries.foreach(me =>
          f.delete(new Path(dir, s"data/${me.name}"), false))
        if (rewriteRetries <= 0) throw new ConcurrentRewriteException(
          s"graftsink: compaction at $dir kept losing to concurrent " +
            "rewrites; re-run when row-level DML traffic quiets")
        Left(compact(spark, dir, targetBytes, smallBytes,
          rewriteRetries - 1))
      } else {
        // segment-aware: only segments holding a compacted member are
        // rewritten; everything else carries by reference
        val (refs, inline, _) = composeSegments(conf, dir, Some(head),
          compacted, mergedEntries)
        val filesAfter = head.files.size - compacted.size +
          mergedEntries.size
        Right(Draft(head.schemaDdl, refs, inline, None, None, None,
          _ => CompactStats(groups.size, m.files.size, filesAfter)))
      }
    }
  }

  /** Min of two recorded bounds of the same internal type. NaN lo =
    * "member had no finite values" — it never lowers a union's min
    * (NaN sorts ABOVE all doubles in Spark's order). String bounds
    * stay (possibly truncated) prefix forms, merged in the same UTF-8
    * order they were tracked in.
    */
  private[sources] def boundLo(a: Any, b: Any): Any = (a, b) match {
    case (x: Long, y: Long) => x.min(y)
    case (x: Int, y: Int) => x.min(y)
    case (x: Double, y: Double) =>
      if (x.isNaN) y else if (y.isNaN) x else x.min(y)
    case (x: String, y: String) => if (cmpUtf8(x, y) <= 0) x else y
    case _ => sys.error("graftsink: mixed-type bounds in one group")
  }

  /** Max of two recorded bounds; any NaN hi dominates (NaN is Spark's
    * max), and the max of upper bounds (some possibly incremented
    * string forms) is still an upper bound over the union.
    */
  private[sources] def boundHi(a: Any, b: Any): Any = (a, b) match {
    case (x: Long, y: Long) => x.max(y)
    case (x: Int, y: Int) => x.max(y)
    case (x: Double, y: Double) =>
      if (x.isNaN || y.isNaN) Double.NaN else x.max(y)
    case (x: String, y: String) => if (cmpUtf8(x, y) >= 0) x else y
    case _ => sys.error("graftsink: mixed-type bounds in one group")
  }

  /** Whether intervals [aLo, aHi] and [bLo, bHi] (recorded bounds of
    * one column) intersect. NaN answers true — bounds involving NaN
    * cannot prove disjointness, and the callers use overlap
    * conservatively (an overlap=true only costs a rewrite, never
    * correctness).
    */
  private[sources] def boundsOverlap(aLo: Any, aHi: Any, bLo: Any,
      bHi: Any): Boolean = {
    def le(x: Any, y: Any): Boolean = (x, y) match {
      case (a: Long, b: Long) => a <= b
      case (a: Int, b: Int) => a <= b
      case (a: Double, b: Double) =>
        a.isNaN || b.isNaN || a <= b
      case (a: String, b: String) => cmpUtf8(a, b) <= 0
      case _ => true // mixed/unknown: cannot prove disjoint
    }
    le(aLo, bHi) && le(bLo, aHi)
  }

  /** Interval union of a group's column bounds, re-rendered in the
    * manifest's internal-string form; a column missing stats in ANY
    * member is dropped (its merged interval would be a lie).
    */
  private[sources] def unionStats(group: Seq[ManifestFile]): String = {
    val all = group.map(_.bounds)
    val shared = all.map(_.keySet).reduce(_ intersect _)
    if (shared.isEmpty) return ""
    shared.toSeq.sorted.map { c =>
      val los = all.map(_(c)._1).reduce(boundLo)
      val his = all.map(_(c)._2).reduce(boundHi)
      // null counts sum exactly when EVERY member recorded one;
      // otherwise the merged entry omits it (unknown, never guessed)
      val nulls = group.map(_.nullCounts.get(c))
      val tail =
        if (nulls.forall(_.isDefined))
          s",${graft.Json.quote(nulls.flatten.sum.toString)}"
        else ""
      // NDV sketches union losslessly (sparse = exact set union,
      // dense = register max), so a compacted file / a segment ref
      // carries the same table-level NDV its members did; omitted
      // (unknown) when any member lacks one — same rule as bounds
      val ndvTail =
        if (tail.isEmpty) "" // the 4th element requires the 3rd
        else Ndv.mergeEncoded(group.map(_.ndvSketches.getOrElse(c, "")))
          .fold("")(e => s",${graft.Json.quote(e)}")
      s"${graft.Json.quote(c)}:[${graft.Json.quote(los.toString)}," +
        s"${graft.Json.quote(his.toString)}$tail$ndvTail]"
    }.mkString("{", ",", "}")
  }

  /** Table-level (ndv, exact?, nullCount) per column, merged from the
    * per-file sketches of `files` — the statistics the scan reports
    * to CBO and the `.stats` metadata table serves. Answers ONLY for
    * columns whose type the writer tracks ("no stats entry ⇒ zero
    * non-null values" holds for exactly those): BooleanType never
    * emits an entry, so a boolean column here would read as
    * all-null/ndv-0 even when fully non-null — declined instead. A
    * STRING entry can also be legitimately dropped for an
    * un-incrementable upper bound, so string columns decline whenever
    * any stats-bearing file lacks an entry (the COUNT-pushdown
    * isString rule); for tracked numeric types, absence proves
    * all-null and contributes 0 distinct. Declines (absent from the
    * result) rather than guess when any stat-bearing file carries a
    * pre-NDV entry; empty when any file predates statistics entirely.
    */
  private[sources] def mergedColumnStats(files: Seq[ManifestFile],
      schema: StructType,
      cols: Seq[String]): Map[String, (Long, Boolean, Long)] = {
    if (files.isEmpty || files.exists(f =>
        f.statsJson.isEmpty || f.rows < 0)) return Map.empty
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    cols.flatMap { c =>
      val isString = types.get(c).contains(StringType)
      val tracked = types.get(c).exists {
        case LongType | IntegerType | DoubleType | TimestampType |
             TimestampNTZType | DateType | StringType => true
        case _ => false
      }
      if (!tracked) None
      else {
        val withEntry = files.filter(f =>
          f.nullCounts.contains(c) || f.bounds.contains(c) ||
            f.ndvSketches.contains(c))
        if (isString && withEntry.size != files.size) None
        else if (withEntry.exists(f => !f.ndvSketches.contains(c) ||
            !f.nullCounts.contains(c))) None // pre-NDV entry: unknown
        else {
          val est =
            if (withEntry.isEmpty) Some((0L, true))
            else Ndv.mergeEstimate(withEntry.map(_.ndvSketches(c)))
          est.map { case (ndv, exact) =>
            val nulls = files.map(f =>
              f.nullCounts.getOrElse(c, f.rows)).sum
            c -> ((ndv, exact, nulls))
          }
        }
      }
    }.toMap
  }

  /** Interval-union bounds of `files` in decoded form, keyed by
    * column — the table-level min/max the CBO feed and the `.stats`
    * metadata table render.
    */
  private[sources] def unionBoundsOf(files: Seq[ManifestFile],
      schemaDdl: String): Map[String, (Any, Any)] =
    if (files.isEmpty) Map.empty
    else ManifestFile("(union)", schemaDdl,
      statsJson = unionStats(files)).bounds

  private val statsMemoMax = 256
  // keyed (dir, version, commit stamp): version alone is NOT an
  // identity — a table dropped and re-created at the same path
  // restarts at version 0 in the same driver JVM, and a bare
  // (dir, version) key would keep serving the DEAD table's stats to
  // CBO and the `.stats` metadata table. The manifest's committedAtMs
  // stamp differs across incarnations (−1 for pre-stamp legacy
  // manifests, which no current writer produces).
  private val statsMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Long),
    (Map[String, (Long, Boolean, Long)], Map[String, (Any, Any)])]()

  /** Plan-time column statistics of one COMMITTED version — the
    * merged table-level (ndv, exact, nulls) and interval-union bounds
    * over the manifest's FULL file list, for every column of its
    * schema — memoized per (table dir, version). A committed
    * version's stats are immutable, so the decode+merge runs ONCE per
    * driver JVM and every later CBO-planned scan or `.stats` read of
    * that version is an O(1) map hit instead of O(files × cols)
    * base64 decode + sketch merge: at the repo's own 128 MB–1 GB file
    * discipline 100 TB is 1e5–1e6 manifest entries, and re-merging
    * them on EVERY plan would tax exactly the recurring workload CBO
    * stats exist to serve. The memo is a droppable cache (bounded at
    * [[statsMemoMax]] versions, cleared wholesale when full — new
    * versions re-fold on first touch).
    */
  private[graft] def versionColumnStats(dir: String, m: Manifest)
      : (Map[String, (Long, Boolean, Long)], Map[String, (Any, Any)]) = {
    val key = (dir, m.version, m.committedAtMs.getOrElse(-1L))
    val got = statsMemo.get(key)
    if (got != null) return got
    val schema = StructType.fromDDL(m.schemaDdl)
    val v = (mergedColumnStats(m.files, schema,
      schema.fieldNames.toSeq),
      unionBoundsOf(m.files, m.schemaDdl))
    if (statsMemo.size >= statsMemoMax) statsMemo.clear()
    statsMemo.put(key, v)
    v
  }

  /** VERIFY BEFORE RETIRE for Spark-read rewrites ([[cluster]]): the
    * rewrite parses its input through the scan path, so unlike
    * [[compact]]'s byte concat there are no raw buffers to fold a
    * verification hash over for free — corrupt input bytes would parse
    * into wrong rows and be re-written under a FRESH (honest-looking)
    * checksum, permanently laundering the damage past fsck(deep), the
    * `_deep_verified` watermark, and copyVerified replication. So the
    * files about to be retired are re-hashed FIRST, cluster-fanned,
    * O(rewritten) — the rewrite reads those same bytes anyway, this
    * prices one extra sequential pass — and a mismatch refuses loudly.
    * Checksum-less legacy entries rewrite with a LOUD unverified
    * count, never silently.
    */
  private[sources] def verifyRetiring(spark: SparkSession, dir: String,
      files: Seq[ManifestFile], op: String): Unit = {
    val legacy = files.count(_.checksum.isEmpty)
    if (legacy > 0)
      Integrity.warnUnverified(s"graftsink: $op at $dir rewrites $legacy " +
        "checksum-less legacy file(s) UNVERIFIED (pre-checksum " +
        "manifest) — their rows re-land under fresh checksums with no " +
        "content proof for the originals")
    Integrity.refuseDamaged(spark, files.filter(_.checksum.nonEmpty)
      .map(f => Integrity.Entry(s"$dir/data/${f.name}",
        if (f.bytes > 0) f.bytes else -1L, f.checksum, hashContent = true)),
      bad => s"graftsink: $op would retire $bad — refusing to launder " +
        "corruption into a fresh checksum; deep-fsck and restore the " +
        "object first")
  }

  final case class ClusterStats(filesBefore: Int, filesAfter: Int,
      rows: Long)

  /** OPTIMIZE-style re-clustering — rewrites the table's files
    * range-clustered on `cols`, so manifest-bounds skipping bites on a
    * table that was WRITTEN unclustered (the append-as-it-arrives
    * cadence). After clustering, an equality/range/prefix probe on the
    * cluster key opens O(1) of the ~targetBytes-sized files instead of
    * all of them. The mechanics reuse the engine's own paths end to
    * end: a pinned snapshot read (by-name schema reconciliation —
    * evolution collapses into the current table shape), a normal
    * graftsink write into a staging-scoped scratch table (its manifest
    * carries the new files' exact rows/bytes/bounds), a rename of each
    * data file into `data/`, and one manifest publish that lists the
    * new files as `rewrite = true` — snapshot reads include them, the
    * change feed and streaming tail EXCLUDE them (their rows were
    * consumed from the files they replace), and prior versions still
    * time-travel to the unclustered layout until vacuumed.
    *
    * Concurrency: like [[compact]], the publish retry replaces ONLY
    * the snapshot's files, so a concurrent append's files survive in
    * the new version untouched. Maintenance ops assume a single
    * maintenance writer (the lakehouse convention); a concurrent
    * TRUNCATE between snapshot and publish is the documented hazard.
    *
    * At 100 TB: the rewrite is one shuffle of the table (the price of
    * any re-sort, paid once, amortized over every subsequent pruned
    * read); the driver handles O(#files) metadata only.
    */
  /** @param zorder true = multi-dimensional Morton-curve layout
    *               ([[graft.operators.ZOrder]] — the `OPTIMIZE ZORDER
    *               BY` capability): rows close in EVERY clustered
    *               column land together, so the per-file bounds stay
    *               tight in ALL dimensions at once and a probe on ANY
    *               of them prunes ~box-fraction of the files. A
    *               lexicographic layout (the default) prunes only on
    *               the leading column — a trailing-column probe opens
    *               every file. Z-order columns may be numeric/date/
    *               timestamp or STRING (rank-bucketed via one
    *               approxQuantile stats pass — strings through their
    *               order-preserving 7-byte UTF-8 prefix key, the same
    *               truncation discipline as the manifest's string
    *               bounds — then bit-interleaved in codegen). The
    *               reference's natural keys (`block.hash`, addresses)
    *               are strings; they cluster first-class.
    */
  /** @param onlyNew INCREMENTAL maintenance (the LSM discipline):
    *                rewrite only the files a previous cluster pass did
    *                NOT produce — the unsorted tail the append cadence
    *                keeps growing. Each pass costs O(new data); the
    *                table converges to one sorted run per pass, probes
    *                open O(#runs) band files, and a periodic FULL
    *                cluster (onlyNew = false) merges the runs back to
    *                one. At 100 TB this is the difference between a
    *                nightly O(table) re-sort and a nightly O(day's
    *                ingest) one. The tail read prunes via the `_file`
    *                identity filter, so old sorted runs aren't even
    *                opened.
    */
  /** @param incremental MERGING incremental maintenance — the middle
    *                ground between `onlyNew` (cheapest, but leaves one
    *                extra sorted run per pass) and a FULL rewrite
    *                (one run, O(table) every time): rewrite the
    *                unsorted tail TOGETHER WITH just the
    *                previously-clustered files whose recorded bounds
    *                overlap the tail's key range, leaving every other
    *                clustered file byte-identical (same name, same
    *                bytes, vacuum-safe, replica-sync no-op). The table
    *                stays effectively one clustered run, and the pass
    *                costs O(tail + overlap) — for the common
    *                roughly-key-ordered append cadence (time-keyed
    *                ingest clustered on date) the overlap is the last
    *                few boundary files, so nightly maintenance tracks
    *                the day's ingest, not the table. A tail spanning
    *                the whole key space degrades honestly to the full
    *                rewrite (every file overlaps). Overlap is judged
    *                per cluster column from the manifest bounds (a
    *                file missing bounds for any cluster column is
    *                conservatively treated as overlapping).
    */
  def cluster(spark: SparkSession, dir: String, cols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024,
      zorder: Boolean = false, zBits: Int = 8,
      onlyNew: Boolean = false, rewriteRetries: Int = 3,
      incremental: Boolean = false): ClusterStats = {
    require(cols.nonEmpty, "cluster needs at least one column")
    require(!(onlyNew && incremental),
      "cluster: onlyNew and incremental are alternative tail " +
        "disciplines — pick one")
    val m = latestManifest(spark, dir).getOrElse(
      sys.error(s"graftsink: nothing to cluster at $dir"))
    if (m.files.isEmpty) return ClusterStats(0, 0, 0L)
    require(m.files.forall(f => f.rows >= 0 && f.bytes >= 0),
      "graftsink: clustering needs per-file statistics")
    val schema = StructType.fromDDL(m.schemaDdl)
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"cluster column $c not in table schema"))
    if (zorder) cols.foreach(c => require(
      schema(c).dataType match {
        case LongType | IntegerType | DoubleType | TimestampType |
             TimestampNTZType | DateType | StringType => true
        case _ => false
      }, s"graftsink: zorder column $c must be numeric/date/timestamp/" +
        "string (strings rank via their UTF-8 prefix key)"))
    val targetFiles =
      if (onlyNew) m.files.filterNot(_.name.startsWith("cluster-"))
      else if (incremental) {
        val (sorted, tail) =
          m.files.partition(_.name.startsWith("cluster-"))
        if (tail.isEmpty) Seq.empty
        else {
          // the tail's per-column key envelope, from manifest bounds;
          // a tail file missing bounds for a cluster column makes that
          // column's envelope unknown -> every sorted file overlaps on
          // it (conservative, degrades toward the full rewrite)
          val envelope: Map[String, Option[(Any, Any)]] = cols.map { c =>
            val bs = tail.map(_.bounds.get(c))
            c -> (if (bs.exists(_.isEmpty)) None
            else Some((bs.flatten.map(_._1).reduce(boundLo),
              bs.flatten.map(_._2).reduce(boundHi))))
          }.toMap
          val overlapping = sorted.filter(f => cols.forall { c =>
            envelope(c).forall { case (tlo, thi) =>
              f.bounds.get(c).forall { case (flo, fhi) =>
                boundsOverlap(flo, fhi, tlo, thi) } }
          })
          tail ++ overlapping
        }
      } else m.files
    if (targetFiles.isEmpty)
      return ClusterStats(m.files.size, m.files.size, 0L)
    // VERIFY BEFORE RETIRE (see [[verifyRetiring]]): the re-sort reads
    // these files through the parser and re-lands their rows under
    // fresh checksums — prove the bytes first, or bit rot is laundered
    // into "verified" history forever
    verifyRetiring(spark, dir, targetFiles, "clustering")
    val totalBytes = targetFiles.map(_.bytes).sum
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
      .min(Int.MaxValue.toLong).toInt
    val clusterId = java.util.UUID.randomUUID().toString.take(8)
    // scratch lives under _staging so an abandoned run is collected by
    // vacuum's staging GC after the grace window
    val scratch = s"$dir/_staging/cluster-$clusterId/t"
    val full = spark.read.format("graftsink")
      .option("version", m.version).load(dir)
    val snapshot =
      if (!onlyNew && !incremental) full
      // file-addressed victim read (onlyNew: the tail; incremental:
      // tail + overlapping run files): the _file filter prunes at the
      // manifest, so non-victim sorted files are not opened
      else full.filter(
        col("_file").isin(targetFiles.map(_.name: Any): _*))
        .drop("_file")
    val laid =
      if (!zorder) snapshot.repartitionByRange(nFiles, cols.map(col): _*)
      else snapshot
        .withColumn("__z",
          graft.operators.ZOrder.zkey(snapshot, cols, zBits))
        .repartitionByRange(nFiles, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    laid.write.format("graftsink").mode("overwrite").save(scratch)
    val sm = latestManifest(spark, scratch).getOrElse(
      sys.error("graftsink: cluster scratch write published nothing"))
    val f = fs(spark, dir)
    f.mkdirs(new Path(dir, "data"))
    val moved = sm.files.map { mf =>
      val newName = s"cluster-$clusterId-${mf.name}"
      val ok = f.rename(new Path(scratch, s"data/${mf.name}"),
        new Path(dir, s"data/$newName"))
      require(ok, s"graftsink: cluster rename of ${mf.name} failed")
      mf.copy(name = newName, rewrite = true)
    }
    val replaced = targetFiles.map(_.name).toSet
    maintenanceBarrier()
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    commitLoop(spark, conf, dir, CommitRetries) { latest =>
      val head = latest.getOrElse(m)
      // same rewrite-conflict gate as compact(): a replaced source
      // file gone from the head means a concurrent rewrite beat us —
      // our re-sorted copies hold its PRE-rewrite rows. Drop them and
      // recompute from a fresh snapshot.
      val headNames = head.files.map(_.name).toSet
      if (!replaced.forall(headNames)) {
        rewriteConflicts.incrementAndGet()
        moved.foreach(mf =>
          f.delete(new Path(dir, s"data/${mf.name}"), false))
        f.delete(new Path(s"$dir/_staging/cluster-$clusterId"), true)
        if (rewriteRetries <= 0) throw new ConcurrentRewriteException(
          s"graftsink: clustering at $dir kept losing to concurrent " +
            "rewrites; re-run when row-level DML traffic quiets")
        Left(cluster(spark, dir, cols, targetBytes, zorder, zBits,
          onlyNew, rewriteRetries - 1, incremental))
      } else {
        val (refs, inline, _) = composeSegments(conf, dir, Some(head),
          replaced, moved)
        val filesAfter = head.files.size - replaced.size + moved.size
        Right(Draft(head.schemaDdl, refs, inline, None, None, None, _ => {
          f.delete(new Path(s"$dir/_staging/cluster-$clusterId"), true)
          ClusterStats(m.files.size, filesAfter, moved.map(_.rows).sum)
        }))
      }
    }
  }

  /** RESTORE — time travel made writable: publish a NEW version whose
    * file list and schema are the pinned version's. Nothing is copied
    * or deleted (the restored files are carried by name, so they're
    * vacuum-protected the moment the new head references them); the
    * rolled-back-over versions remain in history, still travelable,
    * until retention expires them. A restore across a vacuumed version
    * fails loudly at the manifest read — it can never resurrect a
    * partial file set. Returns the new head version.
    *
    * INTEGRITY AUDIT (the verify-before-retire rule [[compact]] /
    * [[cluster]] enforce): restore is exempt BY CONSTRUCTION — it
    * reads no data bytes, retires no files, and mints no checksums.
    * The pinned version's entries (names, sizes, stats, recorded
    * XXH64s) carry VERBATIM into the new manifest, so a bit-rotted
    * file restored into the head still wears its honest original
    * checksum and the next fsck(deep) names it — restore can move the
    * head onto damage, never launder it.
    */
  def restore(spark: SparkSession, dir: String, version: Int): Int = {
    val m = (try manifestAt(spark, dir, Some(version))
    catch { case _: Throwable => None }).getOrElse(
      sys.error(s"graftsink: cannot restore version $version at $dir " +
        "— no complete manifest (vacuumed or never existed)"))
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // restore is O(manifest list): the pinned version's segments
    // carry by reference, nothing is re-listed file by file
    commitLoop(spark, conf, dir, CommitRetries) { _ =>
      Right(Draft(m.schemaDdl, m.refs, m.inline, None, None, None,
        identity))
    }
  }

  /** The epoch-writer identity replication stamps on every manifest
    * it publishes at a replica ([[cloneSnapshot]], [[cloneSync]]).
    * REPLICATION OWNS THE REPLICA HEAD: a sync publishes
    * `truncate = true` with the source's file set, so any local
    * commit at the replica (an accidental append, a well-meant
    * replica-side compact) would be silently dropped from the head by
    * the next sync with no error anywhere. The marker makes that
    * detectable in O(1): cloneSync refuses when the replica head was
    * not published by replication, unless `force = true` acknowledges
    * the local state is disposable. Epoch values are
    * `head version + 1` — strictly above every prior sync's epoch, so
    * the publish-level epoch dedupe never mistakes a pinned re-sync
    * to an OLDER source version for a replayed commit.
    */
  private val ReplicaWriter = "graft-replica-sync"

  /** The epoch-writer identity [[promote]] stamps on the promotion
    * commit — the head is then provably NOT replication-owned, and
    * the [[Commit]] promote fence keeps the old source's syncs off it.
    */
  private val PromotedWriter = "graft-promoted"

  /** Whether `dir` is a PROMOTED former replica (its [[Commit]]
    * promote fence is up) — [[cloneSync]] refuses such targets.
    */
  def isPromoted(spark: SparkSession, dir: String): Boolean =
    Commit.raised(fs(spark, dir), new Path(dir))

  /** FAILOVER — `CALL system.promote(table)`: make a replica a
    * first-class table after source loss. Clears replication's
    * ownership of the head (a promotion commit stamped
    * [[PromotedWriter]] — the divergence guard then reads the head as
    * locally owned) and raises the promote fence, which
    * makes every future [[cloneSync]] from the old source REFUSE
    * loudly instead of silently clobbering post-failover writes — the
    * resurrected-old-source hazard every DR story must close. Local
    * writers may take the head the moment promote returns.
    *
    * FENCING CONTRACT ([[Commit]]): the fence is raised BEFORE the
    * promotion commit, and cloneSync checks it at entry, immediately
    * before its head publish, and after its manifest link — the
    * commit-time conviction retracts a straggler's head while it is
    * still the head and replication-stamped (CloneSpec holds exactly
    * this window open with the syncPublishBarrier seam). The
    * promotion commit itself retries past any sync that links first
    * (each retry stacks above; the straggler's NEXT attempt hits the
    * fence).
    *
    * Re-replication of a promoted table is deliberately NOT a sync:
    * take a fresh [[cloneSnapshot]] to a NEW directory (clone refuses
    * non-empty destinations, so the promoted head can never be
    * half-merged back into replication). `force = true` on cloneSync
    * remains the explicit escape hatch — it discards the promoted
    * head state AND clears the fence, re-subjugating the table.
    *
    * Only a replication-owned head may promote (promoting a normal
    * table is meaningless); promoting twice errors. Returns the
    * promotion commit's version.
    */
  def promote(spark: SparkSession, dir: String): Int = {
    val head = latestManifest(spark, dir).getOrElse(
      sys.error(s"graftsink: nothing to promote at $dir — no table"))
    if (!head.epochWriter.contains(ReplicaWriter))
      sys.error(s"graftsink: $dir head v${head.version} is not " +
        "replication-owned — only a replica can be promoted" +
        (if (isPromoted(spark, dir)) " (already promoted)" else ""))
    // the fence, exclusive publish: two racing promotes get one winner.
    // RE-RUNNABLE AFTER PARTIAL FAILURE: a marker that already exists
    // while the head is still replication-stamped (the entry check
    // above passed) is a promotion that fenced but never landed its
    // commit — a crash, or the commit exhausting its retries against
    // a sync storm. Erroring "already promoted" here would WEDGE the
    // table (fenced, so every sync refuses; un-promotable, so no local
    // owner) with the error's own advice — quiesce and re-run —
    // impossible to follow. Instead the re-run RESUMES the promotion
    // commit; a racing pair of promotes both resuming is idempotent
    // (two locally-owned stamps stack, both harmless).
    if (!Commit.raise(fs(spark, dir), Commit.Sink, new Path(dir),
        s"promotedAtMs=${System.currentTimeMillis()}\n" +
          s"fromVersion=${head.version}\n"))
      System.err.println(s"graftsink: $dir is already fenced but its " +
        "head is still replication-owned — resuming the interrupted " +
        "promotion commit")
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // promotion commit: same files, locally-owned stamp. Retry until
    // OUR stamp is the head — an in-flight sync that links first gets
    // stacked over, and its successor attempts refuse at the fence.
    var attempt = 0
    while (attempt < 20) {
      val epoch = latestManifest(spark, dir)
        .map(_.version + 1L).getOrElse(1L)
      publish(spark, conf, dir, head.schemaDdl, Seq.empty,
        truncate = false, epoch = Some(epoch),
        epochWriter = Some(PromotedWriter))
      val now = latestManifest(spark, dir)
      if (now.exists(_.epochWriter.contains(PromotedWriter)))
        return now.get.version
      attempt += 1
    }
    sys.error(s"graftsink: promotion commit at $dir kept losing to " +
      "concurrent replication publishes — quiesce the old source's " +
      "sync loop and re-run")
  }

  /** SNAPSHOT EXPORT — deep clone of one table VERSION into a fresh
    * table directory. Data files copy byte-for-byte through a
    * DISTRIBUTED copy job (one Spark task per file — at 100 TB the
    * copy runs cluster-wide, never a driver loop), then ONE manifest
    * publishes at `dst` carrying the SAME per-file schema DDLs,
    * row/byte counts, and column-bounds stats — zero recompute, zero
    * parquet parses: the clone skips, prunes, and serves metadata
    * aggregates exactly like the source version did (CloneSpec pins
    * bounds equality and the zero-reader COUNT). This is the
    * reproducible-corpus export: "ship training run X's exact
    * snapshot to another team/bucket" as an O(files) metadata publish
    * plus an embarrassingly parallel byte copy.
    *
    * The clone is INDEPENDENT by design. A by-reference (shallow)
    * clone is deliberately NOT offered: readers resolve file names
    * table-relative (`dir/data/<name>`), and a shallow clone's
    * correctness would hang off the source's vacuum cadence — the
    * documented Delta shallow-clone hazard where vacuuming the source
    * breaks every clone. Source-side vacuum, DML, or deletion after
    * the clone cannot affect it (spec-gated).
    *
    * `version` None = the source head. The destination must not
    * already hold a table (clone creates tables, never merges).
    * Source tags whose content matches the cloned snapshot carry over
    * at birth (`syncTags`, the [[cloneSync]] contract), so a clone of
    * a tagged corpus version is GC-protected from its first vacuum.
    * Returns the number of files exported.
    */
  def cloneSnapshot(spark: SparkSession, src: String, dst: String,
      version: Option[Int] = None, syncTags: Boolean = true): Int = {
    // manifestAt errors PROPAGATE: a transient IO failure, a
    // permission error, or a corrupt manifest must stay
    // distinguishable from a genuinely empty source — "nothing to
    // clone" is reserved for a clean None (no complete manifest).
    val m = manifestAt(spark, src, version).getOrElse(
      sys.error(s"graftsink: nothing to clone at $src" +
        version.fold("")(v => s" v$v") + " — no complete manifest"))
    require(latestVersion(spark, dst).isEmpty,
      s"graftsink: clone destination $dst already holds a table")
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val files = m.files
    Integrity.replicate(spark, files.map(f =>
      (s"$src/data/${f.name}", s"$dst/data/${f.name}", f.checksum)),
      "graftsink", dst)
    // the source's commit stamp carries VERBATIM: the replica's
    // time-travel history shows when the SOURCE committed, not when
    // the copy ran (legacy unstamped sources fall back to stamp-now)
    val born = publish(spark, conf, dst, m.schemaDdl, files,
      truncate = false, epoch = Some(1L),
      epochWriter = Some(ReplicaWriter),
      committedAtMs = m.committedAtMs)
    // PROVEN-VERIFIED AT BIRTH ([[Integrity.Chain.carry]] onto an empty
    // replica): a DR replica owes no full drill for bytes replication
    // already proved. Declined when any source entry lacks a checksum
    // (nothing was proved for it). Segments composed at the
    // destination carry write-time checksums, the same trust every
    // local commit's records get; the FULL drill stays the independent
    // read-back for both.
    Verified.carry(fs(spark, dst), new Path(dst),
      files.forall(_.checksum.nonEmpty), None, born)
    // tag carry at birth (same contract as cloneSync's, see there):
    // a source tag pinning exactly the cloned snapshot transfers, so
    // a clone taken AT a tagged corpus version is GC-protected on the
    // clone from its first vacuum onward
    if (syncTags) carryTags(spark, src, dst)
    files.size
  }

  /** INCREMENTAL REPLICATION — re-sync an existing clone to a source
    * snapshot (`version` None = the current head; a pinned version
    * re-syncs a DR replica to an exact historical/tagged snapshot):
    * copies ONLY the file delta (entries whose (name, bytes, stats)
    * triple is absent from the destination head — the name+size rule
    * replication tools use, strengthened by the recorded stats; a
    * same-name-different-bytes entry re-copies with overwrite), then
    * publishes ONE manifest at the destination whose head equals the
    * source snapshot exactly. Per sync the cost is
    * O(changed files) copy + O(manifest) publish however large the
    * table — the cross-region/DR pattern: an append syncs as its
    * delta, a compaction syncs as its merged outputs, an untouched
    * source syncs as ZERO copies and NO new replica version (the
    * replication head already holds the head snapshot: same file
    * identities, schema and source commit stamp; tags still carry;
    * CloneSpec-gated). A pinned or `force` sync always publishes. Files
    * the source dropped leave the destination HEAD immediately and
    * stay on its disk only until the destination's own vacuum
    * collects them. The destination must already be a table (created
    * by [[cloneSnapshot]]). Returns the number of files copied.
    *
    * TAG CARRY-OVER (`syncTags`, default on): source tags are the GC
    * roots protecting reproducible corpora, so replication must carry
    * them or a REPLICA vacuum can collect a snapshot the source still
    * tags (the replica's copy of that corpus would silently stop
    * being reproducible). After the publish, every source tag whose
    * pinned manifest matches a complete replica version (by file
    * identity set) is tagged there under the same name; a source
    * re-point (untag + tag) re-points the replica too. A tag pinning
    * content the replica never synced is skipped — the replica cannot
    * pin bytes it does not hold.
    *
    * DIVERGENCE GUARD (`force`, default off): replication owns the
    * replica head ([[ReplicaWriter]]) — if anything else published
    * the current head (a local append, a replica-side compact), this
    * sync's truncate-publish would silently drop that local state
    * from the head, so the sync REFUSES with a loud error instead.
    * `force = true` proceeds and discards the local head state (it
    * remains in replica history until the replica's vacuum).
    *
    * The promote fence around the copy and the publish, with its
    * commit-time conviction, is [[Commit.sync]]'s; the
    * verified-by-replication watermark carry is
    * [[Integrity.Chain.carry]]'s (declined on `force` or a
    * checksum-less source entry).
    */
  def cloneSync(spark: SparkSession, src: String, dst: String,
      version: Option[Int] = None, syncTags: Boolean = true,
      force: Boolean = false): Int = {
    val dstFs = fs(spark, dst)
    Commit.sync(dstFs, dst, "graftsink", force) { () =>
      val m = manifestAt(spark, src, version).getOrElse(
        sys.error(s"graftsink: nothing to sync from $src" +
          version.fold("")(v => s" v$v") + " — no complete manifest"))
      val dstHead = latestManifest(spark, dst).getOrElse(
        sys.error(s"graftsink: sync destination $dst is not a table — " +
          "cloneSnapshot first"))
      // DIVERGENCE GUARD (see [[ReplicaWriter]]): a head replication
      // did not publish means local commits landed at the replica since
      // the last sync — this truncate-publish would silently drop them
      // from the head. Refuse loudly; `force` acknowledges the local
      // state is disposable (it stays in replica history until vacuum).
      if (!force && !dstHead.epochWriter.contains(ReplicaWriter))
        sys.error(s"graftsink: replica $dst head v${dstHead.version} was " +
          "not published by replication — local writes or replica-side " +
          "maintenance would be silently clobbered by this sync. " +
          "Re-point writers at the source (replication owns the replica " +
          "head), or pass force=true to discard the local head state")
      // name+size+stats is the classic replication identity rule; the
      // recorded content checksum strengthens it — a same-name,
      // same-size entry whose CONTENT hash changed re-copies
      def identities(mf: Manifest) =
        mf.files.map(f => (f.name, f.bytes, f.statsJson, f.checksum))
      val have = identities(dstHead).toSet
      val delta = m.files.filterNot(f =>
        have((f.name, f.bytes, f.statsJson, f.checksum)))
      Integrity.replicate(spark, delta.map(f =>
        (s"$src/data/${f.name}", s"$dst/data/${f.name}", f.checksum)),
        "graftsink", dst)
      // IDLE: a replication head that already holds the head snapshot
      // (same file identities, schema and source commit stamp) takes
      // no new version and no re-stamp — a tag added since still
      // carries. A pinned or forced sync always publishes.
      if (version.isEmpty && !force &&
          dstHead.epochWriter.contains(ReplicaWriter) &&
          dstHead.schemaDdl == m.schemaDdl &&
          dstHead.committedAtMs == m.committedAtMs &&
          identities(m).toSet == have) {
        if (syncTags) carryTags(spark, src, dst)
        None
      } else Some(Commit.Staged(abandon = () => (), commit = () => {
        // strictly above the head's replication epoch (the publish-level
        // dedupe skips any epoch <= the frontier — a same-value epoch
        // would silently no-op this sync); version+1 floors the force
        // path, where the head carries no replication epoch
        val nextEpoch = math.max(dstHead.version.toLong,
          if (dstHead.epochWriter.contains(ReplicaWriter))
            dstHead.epoch.getOrElse(0L)
          else 0L) + 1L
        syncPublishBarrier()
        val published = publish(spark, new SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration), dst, m.schemaDdl,
          m.files, truncate = true, epoch = Some(nextEpoch),
          epochWriter = Some(ReplicaWriter),
          committedAtMs = m.committedAtMs) // source stamp, verbatim
        // a convicted head is retracted only while it is still the head
        // — the MAX listed name (the raw NAME-listing test zombie
        // conviction uses) AND replication-stamped (publish's epoch
        // dedupe can return an EXISTING head's number — never delete a
        // promotion commit or a local write by mistake) — burning
        // published + 1 first, so every commit loop claims above the
        // vacated number
        Commit.Landed(s"head v$published",
          newest = () => fsVersionsDesc(spark, dst).headOption
            .contains(published) && manifestAt(spark, dst, Some(published))
            .exists(_.epochWriter.contains(ReplicaWriter)),
          burn = () => Commit.burn(dstFs, Commit.Sink, new Path(dst),
            published + 1L),
          retract = () => dstFs.delete(new Path(dst, manifestName(published)),
            false),
          stands = () => {
            // the chain declines on a force sync or a checksum-less
            // source entry
            Verified.carry(dstFs, new Path(dst),
              !force && m.files.forall(_.checksum.nonEmpty),
              Some(dstHead.version.toLong), published)
            if (syncTags) carryTags(spark, src, dst)
            delta.size
          })
      }))
    }.getOrElse(0)
  }

  /** Test seam: runs between cloneSync's final fence check and its
    * head publish — the exact paused-straggler window the
    * commit-time conviction above closes. No-op in production.
    */
  private[graft] var syncPublishBarrier: () => Unit = () => ()

  /** Replicate source tags onto the destination (see [[cloneSync]]).
    * Versions are NOT comparable across the two tables (each side
    * numbers its own commits), so a tag maps by CONTENT: the replica
    * version pinned is the one whose manifest holds the same file
    * identity set ((name, bytes, stats) — names are writer-owned
    * UUIDs, so set equality is snapshot equality). Cost is O(source
    * tags × replica versions-until-match) manifest reads, all
    * driver-side metadata; tags are few by design (they are GC roots).
    */
  private def carryTags(spark: SparkSession, src: String,
      dst: String): Unit = {
    val srcTags = tags(spark, src)
    if (srcTags.isEmpty) return
    // complete replica versions, newest first (a just-synced tag
    // target is the head — found immediately)
    lazy val dstVersions: Seq[Int] = fsVersionsDesc(spark, dst)
    def fileSet(mf: Manifest): Set[(String, Long, String, String)] =
      mf.files.map(f => (f.name, f.bytes, f.statsJson, f.checksum)).toSet
    val dstManifests = scala.collection.mutable.Map
      .empty[Int, Option[Set[(String, Long, String, String)]]]
    def dstSet(v: Int): Option[Set[(String, Long, String, String)]] =
      dstManifests.getOrElseUpdate(v,
        try manifestAt(spark, dst, Some(v)).map(fileSet)
        catch { case scala.util.control.NonFatal(_) => None })
    val dstTags = tags(spark, dst)
    srcTags.foreach { case (name, sv) =>
      // a source tag always pins a COMPLETE manifest (tag() checks)
      // and vacuum keeps tagged versions alive, so this resolves
      // unless the source itself is broken — then skip this tag, not
      // the sync (the error names the tag on stderr)
      val want =
        try manifestAt(spark, src, Some(sv)).map(fileSet)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"graftsink: tag '$name' at $src pins " +
            s"v$sv but its manifest is unreadable (${e.getMessage}) — " +
            "not carried"); None }
      want.foreach { w =>
        // STEADY-STATE SHORT CIRCUIT: a tag already carried with the
        // right content costs ONE manifest read per sync (the common
        // case — every sync after the carry), never a version walk
        dstTags.get(name) match {
          case Some(cur) if dstSet(cur).contains(w) => ()
          case existing =>
            dstVersions.find(v => dstSet(v).contains(w)) match {
              case None => () // replica never held this snapshot
              case Some(dv) =>
                // the re-point is untag-then-tag (non-atomic): a
                // failure after the untag would silently drop the GC
                // root at the replica until a later sync re-carries
                // it — a replica vacuum could then collect a snapshot
                // the source still tags, the exact hazard carry-over
                // closes. So ONLY the benign race is swallowed (two
                // syncs of the same pair compute the SAME
                // content-matched target, so losing the
                // exclusive-create leaves the right tag in place);
                // anything else retries once and then warns loudly,
                // naming the tag (same discipline as the
                // unreadable-manifest path above).
                if (existing.isDefined) untag(spark, dst, name)
                def tryTag(): Option[Throwable] =
                  try { tag(spark, dst, name, Some(dv)); None }
                  catch { case scala.util.control.NonFatal(e) => Some(e) }
                tryTag().foreach { first =>
                  val racedRight = tags(spark, dst).get(name)
                    .exists(v => dstSet(v).contains(w))
                  if (!racedRight) {
                    untag(spark, dst, name) // clear any stale pin
                    tryTag().foreach { second =>
                      System.err.println(s"graftsink: tag '$name' " +
                        s"could not be carried to $dst after a retry " +
                        s"(${first.getMessage}; then " +
                        s"${second.getMessage}) — the replica is " +
                        "missing this GC root until a later sync " +
                        "re-carries it; a replica vacuum before then " +
                        "can collect the tagged snapshot")
                    }
                  }
                }
            }
        }
      }
    }
  }

  final case class VacuumStats(expiredVersions: Seq[Int],
      deletedDataFiles: Int, deletedStagingDirs: Int)

  /** Retention: expire all but the newest `keepVersions` COMPLETE
    * manifests, delete data files no surviving manifest references,
    * and clear crashed writers' staging leftovers older than
    * `graceMs`. The grace window protects EVERY artifact a concurrent
    * in-flight commit may have materialized but not yet published:
    * staged task files, data files already renamed into `data/` whose
    * manifest hasn't landed, and a mid-write manifest that parses as
    * torn — all are skipped until they age past `graceMs` (an
    * abandoned file only gets older; an in-flight one publishes long
    * before a sane window elapses). Without it, a vacuum racing a
    * commit between its data-file renames and its manifest publish
    * would delete files the about-to-land manifest references.
    * Ordering is crash-safe: expired manifests are removed FIRST, so
    * a vacuum that dies mid-delete leaves unreferenced-but-present
    * files (re-vacuum collects them), never a referenced-but-deleted
    * file. The latest version is never expirable (`keepVersions`
    * min 1).
    */
  // ---- TAGS: named, GC-protected version pins ----

  /** Pin `version` (default: the head) under an immutable name. A tag
    * makes a snapshot REPRODUCIBLE: vacuum keeps a tagged version's
    * manifest and files alive regardless of `keepVersions`, so "the
    * exact corpus training run X saw" stays readable as
    * `VERSION AS OF 'name'` until the tag is dropped. Names are
    * exclusive-create (re-point by untag + tag) and must not look
    * like a number — numeric strings resolve as raw versions.
    */
  def tag(spark: SparkSession, dir: String, name: String,
      version: Option[Int] = None): Int = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
      c == '-' || c == '_' || c == '.'),
      s"graftsink: tag name '$name' may use letters/digits/-_. only")
    require(name.toIntOption.isEmpty,
      s"graftsink: tag name '$name' would shadow a numeric version")
    val v = version.orElse(latestCompleteVersion(spark, dir)).getOrElse(
      sys.error(s"graftsink: nothing to tag at $dir"))
    manifestAt(spark, dir, Some(v)) // loud if vacuumed/torn: a tag may
                                    // only pin a COMPLETE snapshot
    val f = fs(spark, dir)
    f.mkdirs(new Path(dir, "_tags"))
    val p = new Path(dir, s"_tags/$name")
    val out =
      try f.create(p, false)
      catch { case _: java.io.IOException =>
        sys.error(s"graftsink: tag $name already exists at $dir " +
          "(untag first to re-point)")
      }
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    v
  }

  /** All tags as name → pinned version (unparseable entries skipped). */
  def tags(spark: SparkSession, dir: String): Map[String, Int] = {
    val f = fs(spark, dir)
    val root = new Path(dir, "_tags")
    if (!f.exists(root)) Map.empty
    else f.listStatus(root).flatMap { st =>
      val in = f.open(st.getPath)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim finally in.close()
      text.toIntOption.map(st.getPath.getName -> _)
    }.toMap
  }

  /** Drop a tag; the pinned version re-enters normal retention on the
    * next vacuum. Returns whether the tag existed.
    */
  def untag(spark: SparkSession, dir: String, name: String): Boolean =
    fs(spark, dir).delete(new Path(dir, s"_tags/$name"), false)

  /** `VERSION AS OF` argument → version: a number resolves directly,
    * anything else as a tag (loud when unknown).
    */
  def resolveVersion(spark: SparkSession, dir: String,
      spec: String): Int =
    spec.toIntOption.getOrElse(tags(spark, dir).getOrElse(spec,
      sys.error(s"graftsink: no tag '$spec' at $dir")))

  /** (table directory, `VERSION AS OF` pin) of a graftsink `Table`
    * object, None for any other connector. The STRUCTURED accessor for
    * callers that key on the snapshot (ResultCache's salt): parsing
    * the display name (`graftsink:<dir>[@v<n>]`) is ambiguous when the
    * directory itself contains '@' — a path like `.../user@host/tbl`
    * would truncate to a nonexistent dir whose head probe returns a
    * CONSTANT -1, silently freezing the cache key of a mutable table.
    */
  def tableDirAndPin(t: org.apache.spark.sql.connector.catalog.Table)
      : Option[(String, Option[Int])] = t match {
    case g: GraftSinkTable => Some((g.tableDir, g.tablePin))
    case _ => None
  }

  /** `retainMs` adds TIME-BASED retention (the production-default
    * policy: "keep a week of history for TIMESTAMP AS OF, whatever
    * the commit rate"): every complete version COMMITTED within the
    * window survives on top of the newest-`keepVersions` count floor,
    * so the time-travel horizon is a wall-clock guarantee instead of
    * a commit-rate-dependent accident (100 commits/hour vs 1/day give
    * the same `keepVersions` wildly different windows). −1 (default)
    * = count-based only, the prior behavior exactly.
    */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int,
      graceMs: Long = 3600000L, retainMs: Long = -1L): VacuumStats = {
    require(keepVersions >= 1, "vacuum must keep at least the latest version")
    val f = fs(spark, dir)
    val cutoff = System.currentTimeMillis() - graceMs
    def aged(p: Path): Boolean =
      try f.getFileStatus(p).getModificationTime < cutoff
      catch { case _: java.io.FileNotFoundException => false }
    // ONE manifest read per listed version (ADVICE r12: the old
    // inWindow re-read a FULL manifest per beyond-retention candidate
    // on every vacuum — O(versions) extra parses on long histories):
    // resolve each version once into `resolved`; completeness, the
    // retention-window stamp, and the live-file walk all consult it.
    // Memory is the same envelope the live walk already materialized.
    val listed = fsVersionsDesc(spark, dir)
    val resolved: Map[Int, Manifest] = listed.flatMap { v =>
      (try manifestAt(spark, dir, Some(v))
      catch { case _: Throwable => None }).map(v -> _)
    }.toMap
    val complete = listed.filter(resolved.contains)
    // tagged versions are GC-EXEMPT: a tag is a promise that the
    // snapshot stays reproducible — its manifest survives expiry and
    // its files count as referenced
    val pinned = tags(spark, dir).values.toSet
    // time window: committed-at = the manifest's OWN stamp, mtime
    // only for legacy stamp-less manifests (`history` reports the
    // same field, and TIMESTAMP AS OF resolves by it — one clock for
    // the whole time-travel story, immune to mtime-rewriting
    // migrations). A vanished manifest reads as outside the window
    // (it is being expired concurrently).
    val retainCutoff =
      if (retainMs < 0) Long.MaxValue
      else System.currentTimeMillis() - retainMs
    def inWindow(v: Int): Boolean = retainMs >= 0 &&
      resolved.get(v).exists(m => commitTimeOf(spark, dir, m) >= retainCutoff)
    val (liveByCount, beyond) = complete.splitAt(keepVersions)
    val live = liveByCount ++ beyond.filter(v => pinned(v) || inWindow(v))
    val expired = beyond.filterNot(v => pinned(v) || inWindow(v))
    // a "torn" manifest older than the grace window is a crashed
    // publish; a YOUNG one may be a rename racing this very listing
    val torn = listed.filterNot(complete.contains)
      .filter(v => aged(new Path(dir, manifestName(v))))
    val liveManifests = live.flatMap(resolved.get)
    val keepFiles = liveManifests.flatMap(_.files.map(_.name)).toSet
    // segments any surviving manifest references stay; the rest —
    // expired history's exclusive segments, collision-loser orphans —
    // age out like data files
    val keepSegs = liveManifests.flatMap(_.refs.map(_.name)).toSet
    // 1. drop dead manifests (commit point of the expiry) — but FIRST
    // publish the version floor: deleting a manifest VACATES its name,
    // and a slow concurrent committer holding a stale head could
    // exclusive-create into the vacated number, "winning" a version
    // below the real head that no reader ever resolves (a zombie
    // commit = a silently lost write). The floor marker must be
    // durable BEFORE any name is vacated so the committer's post-link
    // check can always convict the zombie (floor-marker contract at
    // [[floorsOnDisk]]).
    val doomed = expired ++ torn
    // The floor convicts ZOMBIES — commits that land BELOW the live
    // head, where resolution (max complete version) never sees them.
    // Derive it ONLY from doomed versions below the live complete
    // head: a torn manifest ABOVE the head (a crashed publish at
    // head+1) vacates without raising the floor, because the next
    // exclusive-create at head+1 is a GENUINE head claim — a committer
    // that read the current head and is linking the successor. Folding
    // such torn names into the floor would set it to head+2 and make
    // zombieFloor convict (self-delete) that legitimate commit: a
    // reader between link and delete would see the head go backward,
    // and the convicted writer's retry would re-commit the same
    // newFiles a concurrent winner may have carried forward —
    // duplicated rows. (Expired versions are always below the head by
    // construction — keepVersions >= 1 retains it — so this filter
    // only ever excludes torn-above-head names.)
    val liveHead = complete.headOption.getOrElse(-1)
    val floorable = doomed.filter(_ < liveHead)
    val limit = liveHead + 2L // the claim-time plausibility limit
    if (floorable.nonEmpty) {
      val newFloor = floorable.max + 1L
      if (newFloor > Commit.floor(floorsOnDisk(spark, dir), limit))
        Commit.burn(f, Commit.Sink, new Path(dir), newFloor)
    }
    doomed.foreach(v => f.delete(new Path(dir, manifestName(v)), false))
    // retire superseded floor markers (the value rides in the NAME, so
    // stale lower markers are only listing noise)
    Commit.sweep(f, Commit.Sink, new Path(dir), limit)
    // 2. then data files nothing surviving references — aged only: a
    // fresh unreferenced file may belong to a commit that renamed it
    // into data/ but hasn't published its manifest yet. The sweep
    // STREAMS the listing and deletes as it goes: driver memory stays
    // O(1) however many files the flat dir holds — the 10^5-10^7
    // decade (tools.ListingDecade, SCALE.md) pins the wall cost as pure
    // listing throughput, and GC work is O(orphans)
    def sweep(sub: String, recurse: Boolean)(doomed: String => Boolean) =
      Commit.sweepAged(f, new Path(dir, sub), cutoff, recurse)(st =>
        doomed(st.getPath.getName)).size
    val orphans = sweep("data", recurse = false)(n => !keepFiles(n))
    // 2b. unreferenced segment files, same aged-only discipline (a
    // fresh one may belong to a commit whose manifest hasn't landed).
    // A `.bloom` sidecar lives and dies with its segment: the suffix
    // strip keeps a LIVE segment's sidecar (it is never referenced by
    // name itself) and collects a dead segment's alongside it.
    sweep("_segments", recurse = false)(n => !keepSegs(n.stripSuffix(".bloom")))
    // 3. stale staging dirs beyond the in-flight grace window
    val staleStaging = sweep("_staging", recurse = true)(_ => true)
    VacuumStats(expired, orphans, staleStaging)
  }

  private def manifestIsComplete(spark: SparkSession, dir: String,
      v: Int): Boolean =
    try manifestAt(spark, dir, Some(v)).isDefined
    catch { case _: Throwable => false }

  /** @param deep whether this probe re-hashed file CONTENT (the
    *              `fsck(deep = true)` pass) — shallow probes verify
    *              existence + size only.
    * @param checksumMismatches referenced files whose re-hashed
    *              content differs from the manifest's recorded XXH64 —
    *              same-size corruption a shallow probe passes.
    * @param unverifiedFiles deep only: referenced entries with NO
    *              recorded checksum (pre-checksum manifests). They are
    *              DECLINED, loudly, never silently passed: a deep run
    *              that could not verify everything reports it here,
    *              and [[deepVerified]] is false.
    * @param contentHashed deep only: entries whose content this run
    *              actually re-hashed (the incremental pass's work
    *              list; a full pass hashes every checksummed entry).
    * @param skippedVerified deep + `sinceVerified` only: entries
    *              skipped because the persisted verification
    *              watermark already covers them (first referenced by
    *              a manifest ≤ the deep-verified-through version) —
    *              their bytes were re-hashed by an earlier deep pass
    *              and are immutable since.
    * @param verifiedThrough the watermark AFTER this run (−1 = none):
    *              every file first referenced by a complete manifest
    *              ≤ this version has been content-verified by the
    *              chain of deep passes.
    */
  final case class FsckReport(
      versionsChecked: Int,
      unreadableVersions: Seq[Int],
      filesChecked: Int,
      missingFiles: Seq[String],
      sizeMismatches: Seq[String],
      unreferencedDataFiles: Int,
      unreferencedSegments: Int,
      deep: Boolean = false,
      checksumMismatches: Seq[String] = Nil,
      unverifiedFiles: Int = 0,
      contentHashed: Int = 0,
      skippedVerified: Int = 0,
      verifiedThrough: Int = -1) {
    /** No corruption DETECTED. Unreferenced files are NOT corruption —
      * they are pre-vacuum leftovers (expired history, collision
      * losers, not-yet-published commits) the vacuum lifecycle owns.
      * NOTE "clean" is relative to what the probe could check: a
      * shallow probe never reads content, and a deep probe skips
      * checksum-less legacy entries (counted in [[unverifiedFiles]]) —
      * [[deepVerified]] is the every-byte-accounted-for claim.
      */
    def clean: Boolean = unreadableVersions.isEmpty &&
      missingFiles.isEmpty && sizeMismatches.isEmpty &&
      checksumMismatches.isEmpty
    /** Every referenced byte re-hashed and matched: clean AND the run
      * was deep AND nothing was declined for lack of a recorded
      * checksum. The soak's quiesce gate asserts THIS, not `clean`.
      */
    def deepVerified: Boolean = clean && deep && unverifiedFiles == 0
  }

  /** TABLE INTEGRITY PROBE (`CALL system.fsck`) — the operational
    * check every table format ships: does every surviving manifest
    * still resolve, does every referenced data file exist AT ITS
    * RECORDED SIZE, and how much unreferenced debris awaits vacuum?
    * Detects external damage the protocol itself can't prevent — a
    * bucket lifecycle rule deleting "cold" objects a manifest still
    * references, a partial restore from backup, manual rm — BEFORE a
    * reader trips on it mid-query, and distinguishes it from benign
    * pre-vacuum orphans (which are NOT corruption; [[vacuum]] owns
    * their lifecycle).
    *
    * Scale: manifest resolution is the same O(versions) driver
    * metadata walk vacuum performs (manifest envelope decade-pinned
    * to 10^6-10^7 entries); the existence+size check fans out
    * cluster-wide via [[Integrity.audit]] — one `getFileStatus` per
    * referenced file, only violations return to the driver, so the
    * collect is O(damage), not O(files). Read-only: fsck never
    * repairs (a missing referenced file has no safe automatic fix —
    * restore the object or restore/expire the version; the report
    * names what to look at).
    *
    * `deep = true` additionally RE-HASHES every referenced file's
    * content against the manifest's recorded XXH64 — the only probe
    * that catches same-size corruption. Cost is one cluster-fanned
    * full read of the referenced bytes (the same fan-out, the same
    * O(damage) collect); entries recorded by pre-checksum manifests
    * cannot be content-verified and are counted in
    * [[FsckReport.unverifiedFiles]] instead of silently passing.
    */
  def fsck(spark: SparkSession, dir: String, deep: Boolean = false,
      sinceVerified: Boolean = false): FsckReport = {
    val f = fs(spark, dir)
    val dataAt = s"$dir/data/"
    val segAt = s"$dir/_segments/"
    // INCREMENTAL DEEP VERIFICATION (`sinceVerified`): a full deep
    // pass is a whole-table read — right for a DR drill, unaffordable
    // as cadence (SCALE.md prices it in fabric-hours at 100 TB). The
    // persisted watermark ("deep-verified through version k", written
    // by any deep pass that ends [[FsckReport.deepVerified]]) makes a
    // SCHEDULED deep pass O(new data): files and segments first
    // referenced by a complete manifest ≤ k were content-verified by
    // an earlier pass and are IMMUTABLE-once-committed, so only
    // entries newer than k re-hash. The chain is inductive — each
    // clean incremental pass advances k to the head it walked.
    // Deliberate residual (the same one st_resume accepts for
    // ingest): bit rot landing in an already-verified file is invisible
    // to incremental passes and caught by the next FULL drill.
    // Each listed version's manifest is read once: one that does not
    // resolve is no complete version (a torn or vacuumed one is not
    // damage); one whose segment list then fails to read is unreadable.
    // The newest record of a data file stands; a checksummed ref wins
    // over a legacy "" ref to the SAME immutable segment (older
    // manifests may predate recording).
    val (report, through) = Verified.walk(f, new Path(dir), deep,
        sinceVerified, fsVersionsDesc(spark, dir).map(_.toLong),
        _.startsWith(segAt)) { v =>
      (try manifestAt(spark, dir, Some(v.toInt))
      catch { case _: Throwable => None }).map { m =>
        m.refs.iterator.map(r =>
          Integrity.Entry(segAt + r.name, -1L, r.checksum,
            hashContent = false)) ++
          m.files.iterator.map(mf => Integrity.Entry(dataAt + mf.name,
            if (mf.bytes > 0) mf.bytes else -1L, mf.checksum,
            hashContent = false))
      }
    } { h =>
      // one cluster-fanned pass over DATA files and (deep only)
      // SEGMENT files: existence + size always; content re-hash when
      // deep, a checksum is recorded, and the verification watermark
      // does not already cover the entry. Segment refs carry no file
      // size (their `bytes` sums member DATA bytes), so segments get
      // existence + content only — and a corrupt segment is worse than
      // a corrupt data file: its stats drive file skipping, so the
      // damage is silently wrong ANSWERS, not a read error.
      val (segs, data) = h.refs.partition(_.path.startsWith(segAt))
      val entries = if (deep) data ++ segs else data
      // unverified = checksum-less entries IN THE WORK LIST: a
      // watermark-covered entry was verified (a pass that declined
      // anything never wrote the watermark), never silently passed
      val a = Integrity.audit(spark, entries, deep, new Path(_).getName,
        p => if (p.startsWith(segAt)) "segment " else "")
      // orphan tallies stream the listing ([[Commit.tally]]): at the
      // 10^6-10^7-entry decade scale the probe's driver footprint stays
      // O(damage), matching the violations collect
      def unreferenced(sub: String, of: Seq[Integrity.Entry],
          name: String => String) = {
        val live = of.map(_.path.stripPrefix(s"$dir/$sub/")).toSet
        Commit.tally(f, new Path(dir, sub))(st =>
          !live(name(st.getPath.getName)))
      }
      val report = FsckReport(h.checked, h.unreadable.map(_.toInt),
        data.size, a.missing, a.sizes,
        unreferenced("data", data, identity),
        unreferenced("_segments", segs, _.stripSuffix(".bloom")), deep,
        a.sums, a.declined, a.hashed, a.skipped)
      (report, report.deepVerified)
    }
    report.copy(verifiedThrough = through.toInt)
  }

  /** The table's deep-verification chain: `_deep_verified` holds the
    * version through which a chain of deepVerified passes has
    * re-hashed every referenced byte (−1 = never); monotone (only
    * [[fsck]] and the replication carries advance it).
    */
  private val Verified = Integrity.Chain("version", Commit.Sink)

  private[sources] def checkSupported(schema: StructType): Unit =
    schema.fields.foreach { fld =>
      fld.dataType match {
        case LongType | IntegerType | DoubleType | BooleanType |
             StringType | TimestampType | TimestampNTZType | DateType => ()
        case dt => sys.error(
          s"graftsink: unsupported field type ${dt.sql} for ${fld.name}")
      }
    }
}

/** The sink's one metadata column: `_file`, each row's manifest file
  * name — selectable like any column, and the GROUP identity for
  * row-level operations (copy-on-write granularity = file).
  */
private[sources] object GraftFileMetadataColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  override def name(): String = "_file"
  override def dataType(): DataType = StringType
  override def isNullable: Boolean = false
}

private[sources] class GraftSinkTable(tableSchema: StructType,
    path: String, pinnedVersion: Option[Int] = None)
    extends Table with SupportsWrite with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftFileMetadataColumn)
  override def name(): String = s"graftsink:$path" +
    pinnedVersion.fold("")(v => s"@v$v")
  // structured (dir, pin) for snapshot-keyed callers — see
  // GraftSink.tableDirAndPin: the display name is not parseable when
  // the path contains '@'
  private[graft] def tableDir: String = path
  private[graft] def tablePin: Option[Int] = pinnedVersion
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(info, path)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftSinkScanBuilder(tableSchema, path,
      // a number pins a raw version; anything else resolves as a TAG
      Option(options.get("version"))
        .map(GraftSink.resolveVersion(SparkSession.active, path, _))
        .orElse(pinnedVersion),
      Option(options.get("changesFrom")).map(_.toInt),
      options.getInt("startingVersion", 0),
      rateLimit = (options.getInt("maxFilesPerTrigger", -1),
        options.getLong("maxRowsPerTrigger", -1L),
        options.getLong("maxBytesPerTrigger", -1L)))

  /** SQL `DELETE FROM ... WHERE` — METADATA-ONLY, never a rewrite:
    * accepted only when the manifest's bounds + null counts classify
    * EVERY head file all-or-nothing under the predicate
    * ([[GraftSink.allMatch]] / [[GraftSink.mayMatch]]) — then the
    * delete is one manifest publish that drops the all-match files
    * whole, no data file read or written, O(#files) driver metadata at
    * any table size (the Iceberg metadata-delete model; prior versions
    * still time-travel to the rows until vacuumed). A `DELETE WHERE
    * day < cutoff` on a day-clustered 100 TB table is a metadata edit,
    * not an O(table) job. Any file the bounds can't classify (a
    * straddling range, a truncated-string ambiguity, missing stats)
    * rejects the whole predicate here, and Spark re-plans the delete
    * as the GROUP-BASED row-level rewrite below — which prunes to the
    * files that might hold matches and rewrites ONLY those, O(touched)
    * never O(table). Between them a graftsink DELETE never rewrites an
    * untouched file.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    GraftSink.latestManifest(SparkSession.active, path).exists(
      _.files.forall(f => GraftSinkTable.deleteVerdict(f, filters)
        .isDefined))

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val m = GraftSink.latestManifest(spark, path).getOrElse(return)
    // re-classify against the head AT EXECUTION: a commit between
    // canDeleteWhere's analysis-time proof and this call can add
    // files the bounds no longer classify — half-applying would
    // silently keep rows the predicate doomed, so refuse whole
    val verdicts = m.files.map(f =>
      f -> GraftSinkTable.deleteVerdict(f, filters))
    verdicts.collectFirst { case (f, None) => f }.foreach(f =>
      throw new GraftSink.ConcurrentRewriteException(
        s"graftsink: DELETE at $path was accepted metadata-only but " +
          s"a concurrent commit added ${f.name} whose bounds cannot " +
          "classify the predicate; re-run the DELETE against the new " +
          "table state"))
    val doomed = verdicts.collect { case (f, Some(true)) => f.name }
    // provably-no-op delete: no version bump, zero file opens
    if (doomed.isEmpty) return
    GraftSink.publish(spark,
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration),
      path, m.schemaDdl, Nil, truncate = false,
      replace = Some(doomed.toSet))
  }

  /** SQL `UPDATE` and `MERGE INTO` (and DELETEs whose predicates the
    * filter translation can't express): the GROUP-BASED copy-on-write
    * rewrite at FILE granularity — the Iceberg model. The operation's
    * scan treats the command's condition as a GROUP filter: it prunes
    * to files that might hold matches (manifest bounds), claims the
    * filters handled, and returns EVERY row of the surviving files —
    * Spark's rewrite projection updates matching rows and carries the
    * rest, the writer receives rows projected back to the table
    * schema (the `__row_operation` protocol), and commit publishes
    * one version = head minus exactly the scanned files plus the
    * replacements. Untouched files are never rewritten; collision
    * retries re-read the head so concurrent appends survive.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new GraftRowLevelOperation(tableSchema, path, info.command())
}

private class GraftRowLevelOperation(tableSchema: StructType, path: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  /** Files the group scan planned — the exact set commit replaces. */
  private[sources] val scannedFiles =
    new java.util.concurrent.atomic.AtomicReference[Set[String]](Set.empty)

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftFileMetadataColumn.name()))

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftSinkScanBuilder(tableSchema, path, None, None, 0,
      groupScan = Some(scannedFiles))

  override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(winfo, path,
      replaceFiles = Some(() => scannedFiles.get()))
}

private[sources] object GraftSinkTable {
  /** Three-way file classification of a DELETE's implicit filter
    * conjunction, from manifest metadata alone: Some(true) = every
    * row provably matches (the file drops whole), Some(false) = no
    * row can match (the file carries untouched), None = unprovable
    * either way (only a row-level rewrite can split it). Both
    * directions come from the [[GraftSink.allMatch]]/
    * [[GraftSink.mayMatch]] pair; an empty conjunction is an
    * unconditional DELETE — every file drops (a metadata truncate).
    */
  def deleteVerdict(f: GraftSink.ManifestFile,
      filters: Array[Filter]): Option[Boolean] =
    if (filters.exists(!GraftSink.mayMatch(f, _))) Some(false)
    else if (filters.forall(GraftSink.allMatch(f, _))) Some(true)
    else None
}

private class GraftWriteBuilder(info: LogicalWriteInfo, path: String,
    replaceFiles: Option[() => Set[String]] = None)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  /** CLUSTER-ON-WRITE (`.option("clusterBy", "k1,k2")`): the write
    * declares a required distribution+ordering and SPARK plans the
    * range exchange + local sort in front of it
    * (RequiresDistributionAndOrdering — the engine-native form of
    * "repartitionByRange before every insert"). Files then land with
    * disjoint key bands, so manifest-bounds skipping prunes probes
    * from the FIRST write, no OPTIMIZE pass needed. Ordered
    * distribution (not merely clustered): range partitioning bounds
    * every file's interval width, which is what makes the per-file
    * [lo, hi] selective.
    */
  private def clusterCols: Seq[String] =
    Option(info.options().get("clusterBy")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  private abstract class GraftWriteBase extends Write {
    protected def conf = new SerializableConfiguration(SparkSession.active
      .sparkContext.hadoopConfiguration)
    override def toBatch: BatchWrite = {
      GraftSink.checkSupported(info.schema())
      new GraftBatchWrite(info.schema(), path, truncateFirst,
        info.options().getBoolean("evolveSchema", false), conf,
        replaceFiles)
    }
    override def toStreaming: org.apache.spark.sql.connector.write
        .streaming.StreamingWrite = {
      GraftSink.checkSupported(info.schema())
      new GraftStreamingWrite(info.schema(), path, truncateFirst,
        info.options().getBoolean("evolveSchema", false), conf,
        info.queryId())
    }
  }

  override def build(): Write =
    if (clusterCols.isEmpty) new GraftWriteBase {}
    else {
      import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      val cols = clusterCols
      cols.foreach(c =>
        require(info.schema().fieldNames.contains(c),
          s"graftsink: clusterBy column $c not in write schema"))
      new GraftWriteBase with org.apache.spark.sql.connector.write
        .RequiresDistributionAndOrdering {
        private val order: Array[SortOrder] = cols.map(c =>
          Expressions.sort(Expressions.column(c),
            SortDirection.ASCENDING)).toArray
        override def requiredDistribution(): Distribution =
          Distributions.ordered(order)
        override def requiredOrdering(): Array[SortOrder] = order
        // 0 (default) lets Spark/AQE size the exchange — target-byte
        // file sizing at scale; `.option("clusterPartitions", n)`
        // pins an exact band count when the caller wants one
        override def requiredNumPartitions(): Int =
          info.options().getInt("clusterPartitions", 0)
      }
    }
}

private case class GraftCommitMessage(stagedFile: String, rows: Long,
    bytes: Long, statsJson: String, checksum: String = "")
    extends WriterCommitMessage

/** The shared commit point: rename only message-named files out of the
  * write's staging dir (stray speculative/retry attempts stay behind
  * and die with the dir), publish ONE manifest, drop staging. Batch
  * and streaming epochs both land here; epochs add the exactly-once
  * replay guard inside [[GraftSink.publish]].
  */
private object GraftCommit {
  def apply(conf: SerializableConfiguration, path: String,
      schema: StructType, writeId: String,
      messages: Array[WriterCommitMessage], truncate: Boolean,
      evolve: Boolean, epoch: Option[Long],
      replace: Option[Set[String]] = None,
      epochWriter: Option[String] = None,
      replayScan: Boolean = false): Unit = {
    val f = new Path(path).getFileSystem(conf.value)
    val staging = new Path(path, s"_staging/$writeId")
    val dataDir = new Path(path, "data")
    f.mkdirs(dataDir)
    // GLOBALLY UNIQUE final names: the task-local name (part-<p>-<t>)
    // repeats across Spark APPLICATIONS (taskId restarts at 0 per app)
    // and across crash-REPLAYED streaming epochs (fresh instance =
    // fresh writeId, same task names). Renaming onto an existing name
    // silently OVERWRITES on POSIX local filesystems (File.renameTo
    // replaces the inode — a second application's append corrupting a
    // file other manifests reference) and FAILS the commit on
    // HDFS-contract ones (a replayed epoch would crash-loop here,
    // before the publish-level epoch dedupe could no-op it). The
    // writeId prefix makes every final name single-writer-owned —
    // the same discipline compact-/cluster- outputs already follow.
    // The FULL UUID is kept (not a truncation): single-partition
    // commits share the task-local suffix (part-0-0), so the prefix
    // alone carries uniqueness across applications — 32 bits would
    // birthday-collide at ~100k distinct writers of one table,
    // reproducing the silent-overwrite hazard this name exists to
    // close.
    val committed = messages.collect { case m: GraftCommitMessage
        if m.rows > 0 =>
      m.stagedFile ->
        GraftSink.ManifestFile(s"w$writeId-${m.stagedFile}",
          schema.toDDL, m.rows, m.bytes, m.statsJson,
          checksum = m.checksum) }
    // VERIFY BEFORE RETIRE, row-level DML ([[GraftSink.verifyRetiring]]):
    // an UPDATE/MERGE/group-DELETE read its scanned files through the
    // parquet decode and is about to retire them — bit-rotted input
    // would re-land under these fresh (honest-looking) checksums,
    // laundering the damage past fsck(deep), the `_deep_verified`
    // watermark, and copyVerified replication, exactly the compact()
    // hole one layer up. Re-hash the retiring files FIRST (cluster-
    // fanned, O(touched) — the rewrite read those bytes anyway) and
    // refuse loudly on mismatch. A name a concurrent rewrite already
    // replaced is skipped here; publish's conflict gate aborts that
    // commit regardless.
    replace.filter(_.nonEmpty).foreach { r =>
      val spark = SparkSession.active
      val retiring = GraftSink.latestManifest(spark, path)
        .map(_.files.filter(mf => r.contains(mf.name)))
        .getOrElse(Nil)
      GraftSink.verifyRetiring(spark, path, retiring, "row-level rewrite")
    }
    committed.foreach { case (staged, mf) =>
      if (!f.rename(new Path(staging, staged), new Path(dataDir, mf.name)))
        sys.error(s"graftsink: staging->data rename failed for $staged")
    }
    GraftSink.publish(SparkSession.active, conf, path, schema.toDDL,
      committed.map(_._2).toSeq, truncate, evolve, epoch, replace,
      epochWriter = epochWriter, replayScan = replayScan)
    f.delete(staging, true)
  }

  def abort(conf: SerializableConfiguration, path: String,
      writeId: String): Unit = {
    val f = new Path(path).getFileSystem(conf.value)
    f.delete(new Path(path, s"_staging/$writeId"), true)
  }
}

private class GraftBatchWrite(schema: StructType, path: String,
    truncateFirst: Boolean, evolveSchema: Boolean,
    conf: SerializableConfiguration,
    replaceFiles: Option[() => Set[String]] = None)
    extends BatchWrite {
  private val writeId = java.util.UUID.randomUUID().toString

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(schema, path, writeId, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    GraftCommit(conf, path, schema, writeId, messages, truncateFirst,
      evolveSchema, None, replaceFiles.map(_.apply()))

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftCommit.abort(conf, path, writeId)
}

/** Streaming face of the sink: each micro-batch epoch stages its task
  * files under an epoch-scoped staging dir and commits ONE manifest
  * version carrying the epoch id. Exactly-once across failure
  * recovery: Spark replays at most the last un-checkpointed batch, and
  * a replayed epoch finds its id on the head manifest and publishes
  * nothing — duplicate rows are structurally impossible, not merely
  * unlikely. `complete` output mode maps to truncate-per-epoch (the
  * table is the continuously-refreshed aggregate, history
  * time-travelable version by version).
  */
private class GraftStreamingWrite(schema: StructType, path: String,
    truncateEach: Boolean, evolveSchema: Boolean,
    conf: SerializableConfiguration, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  private val writeId = java.util.UUID.randomUUID().toString
  private def epochWriteId(epochId: Long) = s"$writeId-e$epochId"
  // highest epoch proven published BY THIS INSTANCE. Long.MinValue =
  // nothing yet ⇒ the next commit is the first since (re)start and
  // must run the deep replay scan; after that, the previous epoch's
  // publish happened in-process and a head check suffices.
  @volatile private var publishedThrough = Long.MinValue

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write
      .streaming.StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(schema, path, writeId, conf)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    if (epochId <= publishedThrough) return // same-instance re-offer
    GraftCommit(conf, path, schema, epochWriteId(epochId), messages,
      truncateEach, evolveSchema, Some(epochId),
      epochWriter = Some(queryId),
      replayScan = publishedThrough == Long.MinValue)
    publishedThrough = epochId
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftCommit.abort(conf, path, epochWriteId(epochId))
}

private class GraftStreamingWriterFactory(schema: StructType,
    path: String, writeId: String, conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.streaming
    .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(schema, path, s"$writeId-e$epochId", partitionId,
      taskId, conf)
}

private class GraftWriterFactory(schema: StructType, path: String,
    writeId: String, conf: SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(schema, path, writeId, partitionId, taskId, conf)
}

private class GraftDataWriter(schema: StructType, path: String,
    writeId: String, partitionId: Int, taskId: Long,
    conf: SerializableConfiguration) extends DataWriter[InternalRow] {
  // task attempt id in the name: a retry writes its OWN file; only
  // the attempt whose message reaches commit() is ever renamed
  private val fileName = s"part-$partitionId-$taskId"
  private val staged = new Path(path, s"_staging/$writeId/$fileName")
  private lazy val out = {
    val f = staged.getFileSystem(conf.value)
    f.mkdirs(staged.getParent)
    f.create(staged, true)
  }
  private val sb = new java.lang.StringBuilder
  private var rows = 0L
  private var bytes = 0L
  // content checksum folded AS the bytes stream — recording it is
  // near-free (no re-read); fsck(deep) re-hashes against it
  private val contentHash = Integrity.newHash()
  // per-field [lo, hi] for the numeric-internal types (long-backed,
  // int-backed, double) and TRUNCATED string prefixes — nulls skipped
  // but counted exactly; folded into the manifest line at commit so
  // comparison predicates can skip this file unopened
  private val statLo = new Array[Long](schema.length)
  private val statHi = new Array[Long](schema.length)
  private val statLoD = new Array[Double](schema.length)
  private val statHiD = new Array[Double](schema.length)
  private val statLoS = new Array[String](schema.length)
  private val statHiS = new Array[String](schema.length)
  // true when a string LONGER than its truncation set/retained the
  // current hi — render must increment to stay an upper bound
  private val statHiTrunc = new Array[Boolean](schema.length)
  private val statNulls = new Array[Long](schema.length)
  private val statSeen = new Array[Boolean](schema.length)
  // Spark orders NaN ABOVE every double (above +Inf), so a NaN-bearing
  // file's sound interval is [finite min, NaN] — naive comparison
  // tracking instead freezes at [NaN,NaN] after a leading NaN (every
  // later `<`/`>` against NaN is false) or records a finite hi BELOW
  // the NaN a trailing one contributes, making `c > lit` pruning and
  // metadata-served MAX silently drop rows. So finite values track
  // lo/hi normally and NaN raises only this flag: emission renders
  // hi = NaN when set (and lo = NaN for an all-NaN file). Consumers
  // stay sound: cmpOpt answers None on NaN (never an unsound skip) and
  // a metadata MAX answering NaN IS Spark's max over a NaN-bearing
  // column.
  private val statNaN = new Array[Boolean](schema.length)
  // per-column NDV sketch (sparse-exact then 64-register HLL, see
  // [[Ndv]]): folded per row like the bounds, emitted as the
  // statsJson 4th element, merged at plan time into the DSv2
  // column statistics CBO's join reorder consumes
  private val statNdv = Array.fill(schema.length)(new NdvSketch)
  private def trackLong(i: Int, v: Long): Unit = {
    if (!statSeen(i)) { statLo(i) = v; statHi(i) = v; statSeen(i) = true }
    else { if (v < statLo(i)) statLo(i) = v
      if (v > statHi(i)) statHi(i) = v }
  }
  private def trackDouble(i: Int, v: Double): Unit = {
    if (java.lang.Double.isNaN(v)) { statNaN(i) = true; return }
    if (!statSeen(i)) { statLoD(i) = v; statHiD(i) = v; statSeen(i) = true }
    else { if (v < statLoD(i)) statLoD(i) = v
      if (v > statHiD(i)) statHiD(i) = v }
  }
  // tracks the TRUNCATED form only (bounded memory per column no
  // matter the value lengths); truncation at a code-point boundary is
  // monotone under UTF-8 order, so min/max of truncations =
  // truncation of min/max — and the order here MUST be GraftSink
  // .cmpUtf8, the order the scan-time interval test and Spark's own
  // string predicates use
  private def trackString(i: Int, v: String): Unit = {
    val t = GraftSink.truncBound(v)
    val cut = t.length < v.length
    if (!statSeen(i)) {
      statLoS(i) = t; statHiS(i) = t; statHiTrunc(i) = cut
      statSeen(i) = true
    } else {
      if (GraftSink.cmpUtf8(t, statLoS(i)) < 0) statLoS(i) = t
      val c = GraftSink.cmpUtf8(t, statHiS(i))
      if (c > 0) { statHiS(i) = t; statHiTrunc(i) = cut }
      else if (c == 0 && cut) statHiTrunc(i) = true
    }
  }
  private def statsJson: String = {
    def entry(i: Int, lo: String, hi: String) = {
      // 4th element: the NDV sketch (requires the 3rd — older readers
      // index positionally and tolerate extra elements)
      val ndv = if (statNdv(i).isEmpty) ""
        else s",${graft.Json.quote(statNdv(i).encode)}"
      s"${graft.Json.quote(schema(i).name)}:" +
        s"[${graft.Json.quote(lo)},${graft.Json.quote(hi)}," +
        s"${graft.Json.quote(statNulls(i).toString)}$ndv]"
    }
    val parts = (0 until schema.length).flatMap { i =>
      // statNaN without statSeen = an all-NaN file: still emitted
      // (bounds [NaN,NaN]) so "no stats entry ⇒ zero non-null values"
      // — the invariant COUNT(col) metadata answers lean on — holds
      if (!statSeen(i) && !statNaN(i)) None
      else schema(i).dataType match {
        case LongType | TimestampType | TimestampNTZType |
             IntegerType | DateType =>
          Some(entry(i, statLo(i).toString, statHi(i).toString))
        case DoubleType =>
          val lo = if (statSeen(i)) statLoD(i).toString else "NaN"
          val hi = if (statNaN(i)) "NaN" else statHiD(i).toString
          Some(entry(i, lo, hi))
        case StringType =>
          val hi = if (!statHiTrunc(i)) Some(statHiS(i))
            else GraftSink.incrementLast(statHiS(i))
          // un-incrementable hi (all ￿ chars): drop the column's
          // stats — no finite upper bound exists
          hi.map(h => entry(i, statLoS(i), h))
        case _ => None
      }
    }
    if (parts.isEmpty) "" else parts.mkString("{", ",", "}")
  }

  /** Row-level rewrites deliver (metadata, data) pairs — the metadata
    * (`_file` lineage) is already consumed by the commit's file-set
    * replacement, so the writer lands only the data row.
    */
  override def write(metadata: InternalRow, row: InternalRow): Unit =
    write(row)

  override def write(row: InternalRow): Unit = {
    sb.setLength(0)
    sb.append('{')
    var i = 0
    while (i < schema.length) {
      if (i > 0) sb.append(',')
      val fld = schema(i)
      sb.append(graft.Json.quote(fld.name)).append(':')
      if (row.isNullAt(i)) { statNulls(i) += 1L; sb.append("null") }
      else fld.dataType match {
        case LongType | TimestampType | TimestampNTZType =>
          val v = row.getLong(i); trackLong(i, v)
          statNdv(i).add(Ndv.mix64(v))
          sb.append(v)
        case IntegerType | DateType =>
          val v = row.getInt(i); trackLong(i, v.toLong)
          statNdv(i).add(Ndv.mix64(v.toLong))
          sb.append(v)
        case DoubleType =>
          val v = row.getDouble(i); trackDouble(i, v)
          statNdv(i).add(Ndv.mix64(java.lang.Double.doubleToLongBits(v)))
          sb.append(v)
        case BooleanType => sb.append(row.getBoolean(i))
        case StringType =>
          val u = row.getUTF8String(i)
          statNdv(i).add(Ndv.mix64(graft.expressions.Kernels.fnv1a64(u)))
          val v = u.toString
          trackString(i, v)
          sb.append(graft.Json.quote(v))
        case dt => sys.error(s"graftsink: unsupported ${dt.sql}")
      }
      i += 1
    }
    sb.append('}').append('\n')
    val payload = sb.toString.getBytes("UTF-8")
    out.write(payload)
    contentHash.update(payload, 0, payload.length)
    rows += 1L
    bytes += payload.length
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    GraftCommitMessage(fileName, rows, bytes, statsJson,
      Integrity.hex(contentHash.getValue))
  }

  override def abort(): Unit = {
    out.close()
    staged.getFileSystem(conf.value).delete(staged, false)
  }

  override def close(): Unit = ()
}

// ---- read path: latest manifest -> its files, one split per file ----

private class GraftSinkScanBuilder(schema: StructType, path: String,
    version: Option[Int], changesFrom: Option[Int],
    startingVersion: Int,
    groupScan: Option[java.util.concurrent.atomic
      .AtomicReference[Set[String]]] = None,
    rateLimit: (Int, Long, Long) = (-1, -1L, -1L)) extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
  // column pruning: the reader walks every field positionally (the
  // line format is schema-ordered) but only MATERIALIZES required
  // ones — unneeded strings are skipped without unescaping
  private var required: StructType = schema
  private var pruning: Array[Filter] = Array.empty
  private var limit: Int = -1

  /** PARTIAL limit pushdown: the manifest's exact per-file row counts
    * let the scan plan just enough files to cover `n` rows (Spark
    * re-applies the global limit above). Declined when filters are
    * present (a surviving file may contribute fewer matching rows
    * than its count), for group scans (a rewrite must read whole
    * groups), or when any file lacks statistics. A preview query over
    * a million-file table opens one file.
    */
  override def pushLimit(n: Int): Boolean = {
    if (pruning.nonEmpty || groupScan.isDefined ||
      files.exists(_.rows < 0L)) false
    else { limit = n; true }
  }

  /** Two pushdown disciplines:
    *
    * NORMAL scans — ADVISORY, the parquet model: comparison shapes
    * are remembered for manifest-bounds file skipping and EVERY
    * filter is returned for Spark to re-apply above the scan — the
    * bounds over-approximate, so skipping can only reduce file opens.
    *
    * GROUP scans (row-level rewrites) — the condition is a GROUP
    * filter, the Iceberg model: prunable shapes narrow the FILE set,
    * ALL filters are claimed handled, and the scan returns every row
    * of the surviving files. Spark's rewrite projection re-evaluates
    * the condition per row; re-applying it as a row filter here would
    * drop the carried rows the replacement must preserve.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pruning = filters.filter(GraftSink.prunableShape)
    if (groupScan.isDefined) Array.empty
    // FILE-EXACT filters are claimed HANDLED, not residual: when every
    // scanned file is value-clustered on the filtered column
    // (single-point bounds, recorded zero nulls), an EqualTo/In either
    // matches ALL of a file's rows or NONE of them — file pruning IS
    // the row filter, bit-exact. Claiming them (a) spares the re-apply
    // and (b) empties the post-scan filter list, which is what lets
    // Spark push an aggregation below a WHERE: the incremental loop's
    // `MAX(ts) WHERE p_key = X` answers from manifest rows with zero
    // file opens. Everything else stays ADVISORY (returned residual,
    // Spark re-applies above).
    else filters.filterNot(fileExactFilter)
  }
  override def pushedFilters(): Array[Filter] = pruning

  /** All-or-nothing at file granularity, provable from the manifest:
    * the column's bounds collapse to one value in EVERY scanned file
    * and its null count is recorded zero (a null row matches no
    * equality, so an "all rows match" file must hold none).
    */
  private def fileExactFilter(f: Filter): Boolean = {
    def clusteredOn(c: String): Boolean =
      files.nonEmpty && files.forall(mf =>
        mf.bounds.get(c).exists(b => b._1 == b._2) &&
          mf.nullCounts.get(c).contains(0L))
    // RANGE exactness: a comparison is all-or-nothing at file
    // granularity when NO scanned file's [lo, hi] straddles the probe
    // value — every file either matches entirely (then its null count
    // must be recorded ZERO: null rows fail any comparison, so an
    // all-match file may hold none) or not at all. This is the
    // incremental loop's `WHERE ts >= watermark` over a time-banded
    // layout answered from manifest rows. Sound under TRUNCATED string
    // bounds: lo under-approximates and hi over-approximates, so an
    // "all match" / "none match" verdict from recorded bounds implies
    // the same verdict on true values; borderline files classify as
    // straddling and decline. NaN/incomparable bounds decline
    // (cmpBound None).
    def rangeExact(c: String,
        verdict: ((Any, Any)) => Option[Boolean]): Boolean =
      files.nonEmpty && files.forall { mf =>
        mf.bounds.get(c) match {
          case Some(b) => verdict(b) match {
            case Some(true) => mf.nullCounts.get(c).contains(0L)
            case Some(false) => true // no row matches; nulls irrelevant
            case None => false       // straddles or incomparable
          }
          case None => false
        }
      }
    f match {
      case EqualTo(c, v) => v != null && clusteredOn(c)
      // a NULL in the IN list evaluates to null (not false) per row
      // while the file classifier can't see it — never claim, Spark
      // re-applies the residual
      case In(c, vs) => !vs.contains(null) && clusteredOn(c)
      case GreaterThan(c, v) => rangeExact(c, { case (lo, hi) =>
        if (GraftSink.cmpOpt(lo, v).exists(_ > 0)) Some(true)
        else if (GraftSink.cmpOpt(hi, v).exists(_ <= 0)) Some(false)
        else None })
      case GreaterThanOrEqual(c, v) => rangeExact(c, { case (lo, hi) =>
        if (GraftSink.cmpOpt(lo, v).exists(_ >= 0)) Some(true)
        else if (GraftSink.cmpOpt(hi, v).exists(_ < 0)) Some(false)
        else None })
      case LessThan(c, v) => rangeExact(c, { case (lo, hi) =>
        if (GraftSink.cmpOpt(hi, v).exists(_ < 0)) Some(true)
        else if (GraftSink.cmpOpt(lo, v).exists(_ >= 0)) Some(false)
        else None })
      case LessThanOrEqual(c, v) => rangeExact(c, { case (lo, hi) =>
        if (GraftSink.cmpOpt(hi, v).exists(_ <= 0)) Some(true)
        else if (GraftSink.cmpOpt(lo, v).exists(_ > 0)) Some(false)
        else None })
      // the IsNotNull Spark pairs with every equality: with a
      // recorded zero null count in every file it matches ALL rows —
      // trivially all-or-nothing
      case org.apache.spark.sql.sources.IsNotNull(c) =>
        files.nonEmpty &&
          files.forall(_.nullCounts.get(c).contains(0L))
      // conjunction/disjunction of all-or-nothing conjuncts is
      // all-or-nothing
      case And(l, r) => fileExactFilter(l) && fileExactFilter(r)
      case Or(l, r) => fileExactFilter(l) && fileExactFilter(r)
      case _ => false
    }
  }

  /** Ungrouped COUNT(*) / MIN / MAX are COMPLETE metadata: the
    * manifest records each file's exact row count and its numeric
    * columns' exact [lo, hi] (min/max ignore nulls, and a stats-
    * carrying file that omits a column provably held no non-null
    * value of it — all-null, or the column postdates the file's
    * schema — so it contributes nothing). Accepted only when every
    * scanned file carries statistics; a pre-statistics manifest line
    * falls the whole aggregation back to the row scan. All-null
    * columns answer NULL, like the scan would.
    */
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}

  private var metaAgg: Option[(StructType, Seq[Seq[Any]])] = None

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    planMetaAgg(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean =
    planMetaAgg(agg) match {
      case some @ Some(_) => metaAgg = some; true
      case None => false
    }

  private def colNameOf(
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case nr: org.apache.spark.sql.connector.expressions.NamedReference
        if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
    case _ => None
  }

  /** GROUPED metadata aggregation folds from per-file bounds when the
    * table is value-clustered on the grouping columns — every file's
    * [lo, hi] for each grouping column collapses to a single point
    * (lo == hi) with a RECORDED null count of zero. Then each file
    * belongs wholly to one group: per-group COUNT(*) sums file row
    * counts, per-group MIN/MAX folds file bounds, and the group keys
    * themselves come off the manifest. That is the incremental loop's
    * per-partition watermark probe (`MAX(ts) GROUP BY p_key` over a
    * p_key-clustered target) answered with ZERO file opens. Any file
    * breaking the clustering invariant — multi-value range, unknown
    * or non-zero null count (a NULL group would need row access) —
    * declines the whole pushdown; the row scan stays correct.
    */
  private def planMetaAgg(agg: Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    // REF-LEVEL fast path first (round 7): for an unfiltered,
    // ungrouped snapshot aggregate — the A1/A2 watermark COUNT/MAX
    // probes — the segment refs' own (rows, union-bounds, summed
    // nulls) ARE the fold inputs: per-file bounds are exact, so their
    // interval union is the exact segment min/max and the null sums
    // are exact. The probe answers from O(refs + inline) without
    // resolving a single segment — at 10⁵ files, from a handful of
    // ref lines. Falls back to the per-file fold (which itself may
    // decline to the row scan) whenever a ref lacks stats or a
    // COUNT(col) column is absent from a union (ambiguous at segment
    // granularity: SOME member may still hold values).
    val segFast =
      if (pruning.isEmpty && changesFrom.isEmpty &&
        agg.groupByExpressions.isEmpty)
        manifestOpt
          .filter(_.refs.nonEmpty)
          .map(m => m.refs.map(r => GraftSink.ManifestFile(
            r.name, m.schemaDdl, r.rows, r.bytes, r.statsJson)) ++
            m.inline)
      else None
    segFast.flatMap(foldMetaAgg(agg, _, segLevel = true))
      .orElse {
        val scanned = files.filter(f =>
          pruning.forall(GraftSink.mayMatch(f, _)))
        foldMetaAgg(agg, scanned, segLevel = false)
      }
  }

  /** The metadata fold over `scanned` entries — real files, or
    * segment refs posing as entries (`segLevel`, where an ABSENT
    * stats column must decline COUNT(col) instead of reading as
    * provably-all-null).
    */
  private def foldMetaAgg(agg: Aggregation,
      scanned: Seq[GraftSink.ManifestFile], segLevel: Boolean)
      : Option[(StructType, Seq[Seq[Any]])] = {
    if (scanned.isEmpty && agg.groupByExpressions.nonEmpty) return None
    if (scanned.exists(f => f.rows < 0L || f.statsJson.isEmpty))
      return None
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    // double picks are NaN-aware under SPARK's ordering (NaN above
    // +Inf): a file lo of NaN means "no finite values" and never
    // lowers a min; any NaN hi dominates a max — which is exactly
    // what Spark's max over a NaN-bearing column returns
    def lo(a: Any, b: Any): Any = (a, b) match {
      case (x: Long, y: Long) => x.min(y)
      case (x: Int, y: Int) => x.min(y)
      case (x: Double, y: Double) =>
        if (x.isNaN) y else if (y.isNaN) x else x.min(y)
    }
    def hi(a: Any, b: Any): Any = (a, b) match {
      case (x: Long, y: Long) => x.max(y)
      case (x: Int, y: Int) => x.max(y)
      case (x: Double, y: Double) =>
        if (x.isNaN || y.isNaN) Double.NaN else x.max(y)
    }
    val groupCols = agg.groupByExpressions.toSeq.map(colNameOf)
    if (groupCols.exists(_.isEmpty)) return None
    val gcols = groupCols.flatten
    // clustering check: single-point bounds + known-zero nulls.
    // Strings qualify: a truncated/incremented hi can never equal lo,
    // so lo == hi proves the file holds exactly that string value.
    val clustered = gcols.forall(g => scanned.forall(f =>
      f.bounds.get(g).exists(b => b._1 == b._2) &&
        f.nullCounts.get(g).contains(0L)))
    if (!clustered) return None
    val groups: Seq[(Seq[Any], Seq[GraftSink.ManifestFile])] =
      if (gcols.isEmpty) Seq((Nil, scanned))
      else scanned.groupBy(f => gcols.map(g => f.bounds(g)._1)).toSeq
        .sortBy(_._1.mkString("\u0000"))
    def bound(fs: Seq[GraftSink.ManifestFile], c: String,
        side: ((Any, Any)) => Any,
        pick: (Any, Any) => Any): Option[Any] =
      types.get(c).filter {
        case LongType | IntegerType | DoubleType | TimestampType |
             TimestampNTZType | DateType => true
        case _ => false
      }.map { _ =>
        fs.flatMap(_.bounds.get(c)).map(side)
          .reduceOption(pick).orNull
      }
    val gFields = gcols.map(g => StructField(g, types(g)))
    val planned = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some((
        StructField("count(*)", LongType, nullable = false),
        (fs: Seq[GraftSink.ManifestFile]) =>
          fs.map(_.rows).foldLeft(0L)(_ + _): Any))
      // COUNT(col) = rows − nulls, from the recorded per-file null
      // counts. A numeric column with NO stats entry provably held no
      // non-null values (all-null or evolution-born) → contributes 0;
      // a STRING column's entry can also be dropped for an
      // un-incrementable upper bound, so absence is ambiguous there —
      // decline. Any file with an entry but no recorded null count
      // (pre-round-6 manifest) declines the whole pushdown.
      case c: Count if !c.isDistinct => colNameOf(c.column).flatMap { col =>
        val isString = types.get(col).contains(StringType)
        val perFile = scanned.map { f =>
          (f.bounds.contains(col), f.nullCounts.get(col)) match {
            case (true, Some(n)) => Some(f.rows - n)
            case (true, None) => None
            // a segment-level union drops a column when ANY member
            // lacks it, so absence is ambiguous there — only a real
            // FILE's absence proves all-null
            case (false, _) =>
              if (isString || segLevel) None else Some(0L)
          }
        }
        if (perFile.exists(_.isEmpty) || !types.contains(col)) None
        else {
          val byName = scanned.zip(perFile.map(_.get)).toMap
          Some((StructField(s"count($col)", LongType, nullable = false),
            (fs: Seq[GraftSink.ManifestFile]) =>
              fs.map(byName).foldLeft(0L)(_ + _): Any))
        }
      }
      // at segment level, a union that DROPPED the column (any member
      // lacked it — evolution-born mixes merged into one segment) is
      // ambiguous: skipping that pseudo-entry would silently understate
      // the min/max, so the whole fast path declines and the per-file
      // fold (where absence provably means all-null) answers instead
      case m: Min => colNameOf(m.column).flatMap(c =>
        if (types.get(c).exists {
          case LongType | IntegerType | DoubleType | TimestampType |
               TimestampNTZType | DateType => true
          case _ => false
        } && !(segLevel && scanned.exists(!_.bounds.contains(c))))
          Some((StructField(s"min($c)", types(c)),
            (fs: Seq[GraftSink.ManifestFile]) =>
              bound(fs, c, _._1, lo).orNull))
        else None)
      case m: Max => colNameOf(m.column).flatMap(c =>
        if (types.get(c).exists {
          case LongType | IntegerType | DoubleType | TimestampType |
               TimestampNTZType | DateType => true
          case _ => false
        } && !(segLevel && scanned.exists(!_.bounds.contains(c))))
          Some((StructField(s"max($c)", types(c)),
            (fs: Seq[GraftSink.ManifestFile]) =>
              bound(fs, c, _._2, hi).orNull))
        else None)
      case _ => None
    }
    if (planned.exists(_.isEmpty)) None
    else {
      val defs = planned.map(_.get)
      val rows = groups.map { case (keys, fs) =>
        keys ++ defs.map(_._2(fs))
      }
      Some((StructType(gFields ++ defs.map(_._1)), rows))
    }
  }

  /** Head manifest resolved ONCE per builder: the ref-level aggregate
    * fast path, its per-file fallback, and the scan's file list all
    * derive from the same parse — no repeated directory listings.
    */
  private lazy val manifestOpt =
    GraftSink.manifestAt(SparkSession.active, path, version)

  private lazy val files: Seq[GraftSink.ManifestFile] =
    GraftSink.scanFilesOf(SparkSession.active, path,
      manifestOpt.getOrElse(sys.error(
        s"graftsink: no committed manifest at $path" +
          version.fold("")(v => s" (version $v)"))),
      changesFrom, pruning.toSeq)

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (metaAgg.isEmpty) required = requiredSchema

  override def build(): Scan = metaAgg match {
    case Some((aggSchema, values)) =>
      new GraftSinkMetaAggScan(path, aggSchema, values)
    case None =>
      // execution scans the SAME manifest the builder proved its
      // filter claims against: pin the planned version, so a commit
      // landing between pushdown and planInputPartitions (or between
      // two collects of one plan) can never add a file the claimed
      // filters were not classified over — claimed-exact filters stay
      // row-exact, and a plan is a stable snapshot
      new GraftSinkScan(schema, required, path,
        manifestOpt.map(_.version).orElse(version), changesFrom,
        startingVersion, pruning, groupScan, limit, rateLimit)
  }
}

/** A completely-pushed metadata aggregation: one row per group (one
  * total for the ungrouped case) straight from the manifest, zero
  * data files opened (the reader-counter spec observes exactly that).
  */
private class GraftSinkMetaAggScan(path: String, aggSchema: StructType,
    rows: Seq[Seq[Any]]) extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"GraftSinkMetaAggScan path=$path, " +
      s"PushedAggregates=[${aggSchema.fieldNames.mkString(", ")}]"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftMetaAggPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftMetaAggReaderFactory
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(
          16L * aggSchema.length.max(1) * rows.size.max(1))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows.size.toLong)
    }
}

private case class GraftMetaAggPartition(rows: Seq[Seq[Any]])
  extends InputPartition

private class GraftMetaAggReaderFactory extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it =
        partition.asInstanceOf[GraftMetaAggPartition].rows.iterator
      private var cur: Seq[Any] = _
      override def next(): Boolean = it.hasNext && { cur = it.next(); true }
      override def get(): InternalRow =
        new GenericInternalRow(cur.map {
          case s: String => UTF8String.fromString(s)
          case v => v
        }.toArray)
      override def close(): Unit = ()
    }
}

private class GraftSinkScan(fullSchema: StructType,
    scanSchema: StructType, path: String,
    version: Option[Int], changesFrom: Option[Int],
    startingVersion: Int, pruning: Array[Filter] = Array.empty,
    groupScan: Option[java.util.concurrent.atomic
      .AtomicReference[Set[String]]] = None, limit: Int = -1,
    rateLimit: (Int, Long, Long) = (-1, -1L, -1L))
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  /** Runtime GROUP filtering for row-level rewrites: Spark plans a
    * `SELECT DISTINCT _file WHERE <cond>` subquery over this same
    * table and hands the matched file names down as an In filter —
    * so a MERGE whose ON keys touch one file of a thousand rewrites
    * ONE file, even though its condition is never statically
    * pushable. Dropping the filter is always safe (more files
    * scanned = more files carried through the rewrite); accepting it
    * narrows both the scan and the commit's replaced set, which stay
    * consistent because both read the same planned list.
    */
  @volatile private var runtimeFiles: Option[Set[String]] = None
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (groupScan.isDefined)
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(GraftFileMetadataColumn.name()))
    else Array.empty
  override def filter(filters: Array[Filter]): Unit =
    filters.foreach {
      case In(c, vs) if c == GraftFileMetadataColumn.name() =>
        runtimeFiles = Some(vs.collect {
          case s: String => s
          case u: UTF8String => u.toString
        }.toSet)
      case _ => ()
    }
  override def readSchema(): StructType = scanSchema
  override def description(): String =
    s"GraftSinkScan path=$path" + (if (pruning.isEmpty) ""
      else s", PushedFilters=[${pruning.mkString(", ")}]")
  override def toBatch: Batch = this
  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream =
    new GraftSinkMicroBatchStream(scanSchema, path, startingVersion,
      conf, rateLimit._1, rateLimit._2, rateLimit._3)
  private val conf = new SerializableConfiguration(
    SparkSession.active.sparkContext.hadoopConfiguration)

  /** The scanned file set: the target manifest's files; under the
    * change-feed option (`changesFrom` = base version, exclusive; the
    * target is `version` or latest) only files NOT YET PRESENT in the
    * base manifest — for the append-only cadence exactly the new rows,
    * with no rescan of carried-forward data. File-level diff: an
    * overwrite in between surfaces the overwriting version's full
    * content (its files are all new), matching snapshot semantics.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    // segment-level prune first (whole refs skipped unresolved), then
    // manifest-bounds file skipping: a file survives only if EVERY
    // pruned predicate can match its recorded [lo, hi] interval —
    // then the runtime group filter (matched _file names) if present
    val files = GraftSink.scanFiles(SparkSession.active, path, version,
      changesFrom, pruning.toSeq)
    val kept = files.filter(f =>
      pruning.forall(p => GraftSink.mayMatch(f, p)) &&
        runtimeFiles.forall(_.contains(f.name)))
    // a row-level rewrite replaces EXACTLY the files it scanned —
    // record them for the paired write's commit
    groupScan.foreach(_.set(kept.map(_.name).toSet))
    // pushed limit: a PREFIX of files whose exact row counts cover n
    // (Spark re-applies the global limit above)
    val limited =
      if (limit < 0) kept
      else {
        var need = limit.toLong
        kept.takeWhile { f =>
          val more = need > 0; need -= f.rows; more
        }
      }
    GraftSink.lastScanFields.set(scanSchema.fieldNames.toSeq)
    limited.map(f => GraftFilePartition(s"$path/data/${f.name}",
      f.schemaDdl): InputPartition).toArray
  }

  /** Exact when every manifest line carries statistics (the planner
    * can size the table for broadcast decisions from metadata alone);
    * silent absence otherwise — never a guess.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    // V2 statistics are reported POST-pushdown: the pruned file set
    // (segment- then file-level) is what the scan will actually read,
    // and its exact rows/bytes are what broadcast sizing should see —
    // a selective probe on a clustered table reports one file's size,
    // not the table's
    val files = scala.util.Try(GraftSink.scanFiles(SparkSession.active,
      path, version, changesFrom, pruning.toSeq)
      .filter(f => pruning.forall(p => GraftSink.mayMatch(f, p))))
      .getOrElse(Seq.empty)
    val known = files.nonEmpty && files.forall(f =>
      f.rows >= 0L && f.bytes >= 0L)
    // COLUMN statistics (NDV + null count, merged from the per-file
    // sketches) feed Catalyst's CBO: with them a catalog graftsink
    // table joins through stats-driven reorder and 1/ndv equality
    // selectivity exactly like an ANALYZEd parquet table — no scan,
    // no ANALYZE. Computed ONLY when CBO is on: the default planner
    // never reads them, so the default plan path pays nothing (and
    // PLANS.lock shapes cannot move). The unpruned-scan shape (the
    // recurring-workload common case) serves from the per-version
    // memo — O(1) after the version's first plan, never O(files) per
    // query; only a genuinely pruned scan folds its (already-small)
    // surviving subset.
    val colStats: java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      if (!known ||
          !SparkSession.active.sessionState.conf.cboEnabled)
        java.util.Collections.emptyMap()
      else {
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        // table-level min/max from the interval union of the per-file
        // bounds — range-predicate selectivity (`c <= lit`) then
        // estimates from real value ranges, not defaults. NUMERIC
        // internal types only: string bounds are truncated prefixes
        // (sound for skipping, misleading as point estimates), and
        // NaN-bearing double unions decline (no finite hi exists).
        val headOpt = scala.util.Try(GraftSink.manifestAt(
          SparkSession.active, path, version)).toOption.flatten
        // pruned-subset fold budget: a weakly-selective filter at a
        // 1e5–1e6-file table would otherwise re-fold nearly the whole
        // manifest on EVERY plan — the same O(files)-per-plan shape
        // the per-version memo closed for unpruned scans. Past the
        // budget the scan serves the memoized TABLE-level stats
        // instead: an over-approximation (table NDV ≥ subset NDV),
        // which is CBO-sound the same way serving unfiltered relation
        // stats is, and what file-source relations report anyway. A
        // genuinely selective prune (≤ budget files) keeps the exact
        // subset fold.
        val foldMax = scala.util.Try(SparkSession.active.conf
          .get("spark.graft.stats.prunedFoldMax", "1024").toInt)
          .getOrElse(1024)
        val (mergedAll, unionBounds) = headOpt match {
          case Some(head) if changesFrom.isEmpty &&
              files.size == head.files.size =>
            GraftSink.versionColumnStats(path, head)
          case Some(head) if files.size > foldMax =>
            GraftSink.versionColumnStats(path, head)
          case _ =>
            (GraftSink.mergedColumnStats(files, fullSchema,
              scanSchema.fieldNames.toSeq),
              GraftSink.unionBoundsOf(files, fullSchema.toDDL))
        }
        def finite(v: Any): Boolean = v match {
          case d: Double => !d.isNaN
          case _: Long | _: Int => true
          case _ => false
        }
        val scanCols = scanSchema.fieldNames.toSet
        mergedAll.view.filterKeys(scanCols)
          .foreach { case (c, (ndv, _, nulls)) =>
            val b = unionBounds.get(c)
              .filter(x => finite(x._1) && finite(x._2))
            m.put(org.apache.spark.sql.connector.expressions.Expressions
              .column(c),
              new org.apache.spark.sql.connector.read.colstats
                .ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(math.max(1L, ndv))
                override def nullCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(nulls)
                override def min(): java.util.Optional[Object] =
                  b.map(x => java.util.Optional.of(
                    x._1.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
                override def max(): java.util.Optional[Object] =
                  b.map(x => java.util.Optional.of(
                    x._2.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
              })
          }
        m
      }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        if (known) java.util.OptionalLong.of(files.map(_.bytes).sum)
        else java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        if (known) java.util.OptionalLong.of(files.map(_.rows).sum)
        else java.util.OptionalLong.empty()
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftSinkReaderFactory(scanSchema, conf)
}

private case class GraftFilePartition(file: String, fileSchemaDdl: String)
  extends InputPartition

/** Streaming tail of the sink: the change feed as a Structured
  * Streaming source. Offsets are MANIFEST VERSIONS (an offset = the
  * last consumed version), so each micro-batch reads exactly the files
  * committed after the previous offset — the same driver-side manifest
  * diff as `changesFrom`, applied per trigger. Exactly-once falls out
  * of the commit protocol: a version is absent or complete, files
  * never move between manifest entries, and the checkpoint replays a
  * batch as the identical file-set diff.
  *
  * `startingVersion` (default 0) is the first version consumed: the
  * initial batch is the table as of the stream start, subsequent
  * batches are pure appends. Overwrites surface their full new content
  * (their files are all new — snapshot semantics, as in the batch
  * change feed).
  */
private class GraftSinkMicroBatchStream(required: StructType,
    path: String, startingVersion: Int,
    conf: SerializableConfiguration,
    maxFilesPerTrigger: Int = -1, maxRowsPerTrigger: Long = -1L,
    maxBytesPerTrigger: Long = -1L)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
    .SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming
    .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{
    CompositeReadLimit, ReadAllAvailable, ReadLimit, ReadMaxFiles,
    ReadMaxRows}
  private def spark = SparkSession.active

  // Trigger.AvailableNow: the run's fixed endpoint, captured once at
  // start — batches respect the read limit but never pass this head,
  // so the query drains-and-terminates deterministically even while
  // writers keep committing
  @volatile private var availableNowCap: Option[GraftStreamOffset] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(
      GraftStreamOffset(GraftSink.latestCompleteVersion(spark, path)
        .getOrElse(startingVersion - 1), -1, snap = false))

  override def initialOffset(): Offset =
    GraftStreamOffset(startingVersion - 1, -1, snap = false)

  /** Legacy entry point — Spark drives admission-control sources
    * through `latestOffset(start, limit)`; kept for completeness as
    * the unbounded head.
    */
  override def latestOffset(): Offset = reportLatestOffset()

  override def reportLatestOffset(): Offset =
    GraftStreamOffset(GraftSink.latestCompleteVersion(spark, path)
      .getOrElse(startingVersion - 1), -1, snap = false)

  /** ADMISSION CONTROL (`maxFilesPerTrigger` / `maxRowsPerTrigger`):
    * without it, the first trigger of a stream over a big table is
    * the ENTIRE snapshot in one micro-batch — at 100 TB that is one
    * unschedulable job and an hours-long commit the checkpoint can't
    * subdivide. Offsets therefore address INTO a version's stable
    * file list ((version, fileIdx) — `v:idx`, plus `:s` while the
    * initial snapshot is being drained), so the backfill proceeds as
    * bounded batches, each committed exactly-once, rows admitted
    * file-whole (at least one file per trigger, the Delta
    * discipline). Plain `v` offsets remain the steady-state/legacy
    * form — old checkpoints resume unchanged.
    */
  override def getDefaultReadLimit: ReadLimit = {
    val lims = Seq(
      if (maxFilesPerTrigger > 0)
        Some(ReadLimit.maxFiles(maxFilesPerTrigger)) else None,
      if (maxRowsPerTrigger > 0)
        Some(ReadLimit.maxRows(maxRowsPerTrigger)) else None).flatten
    if (lims.isEmpty) ReadLimit.allAvailable()
    else if (lims.size == 1) lims.head
    else ReadLimit.compositeLimit(lims.toArray)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    var maxF = Long.MaxValue
    var maxR = Long.MaxValue
    def digest(l: ReadLimit): Unit = l match {
      case f: ReadMaxFiles => maxF = f.maxFiles().toLong
      case r: ReadMaxRows => maxR = r.maxRows()
      case c: CompositeReadLimit => c.getReadLimits.foreach(digest)
      case _: ReadAllAvailable => ()
      case _ => ()
    }
    digest(limit)
    // bytes have no ReadLimit form: the option applies directly as a
    // third budget (manifests record exact per-file bytes)
    val maxB =
      if (maxBytesPerTrigger > 0) maxBytesPerTrigger else Long.MaxValue
    walk(pos(start), availableNowCap, maxF, maxR, maxB)._1
  }

  override def deserializeOffset(json: String): Offset = {
    val t = json.trim.split(":")
    if (t.length == 1) GraftStreamOffset(t(0).toInt, -1, snap = false)
    else GraftStreamOffset(t(0).toInt, t(1).toInt,
      snap = t.length > 2 && t(2) == "s")
  }

  private def pos(o: Offset) = o.asInstanceOf[GraftStreamOffset]

  /** The one segment walker behind both offset selection and
    * partition planning, so the two always agree on file identity and
    * order. Segments are: the initial snapshot's manifest file list
    * (only for startingVersion 0, pinned at the version the first
    * trigger observed — manifests are immutable, so the `idx` cursor
    * is stable across restarts), then each version's log-walked delta
    * (`GraftSink.addedFiles` one version at a time: exactly-once
    * across compaction/overwrite, loud refusal across a vacuumed
    * window). Budget admits file-whole with at least one file per
    * call; `cap` bounds a planning walk at the chosen end offset.
    */
  private def walk(start: GraftStreamOffset,
      cap: Option[GraftStreamOffset], maxFiles: Long, maxRows: Long,
      maxBytes: Long = Long.MaxValue)
      : (GraftStreamOffset, Seq[GraftSink.ManifestFile]) = {
    val head = cap.map(_.v)
      .orElse(GraftSink.latestCompleteVersion(spark, path))
      .getOrElse(start.v)
    val out = Seq.newBuilder[GraftSink.ManifestFile]
    var nF = 0L
    var nR = 0L
    var nB = 0L
    var cur = start
    var walking = true
    while (walking) {
      // resolve the active segment: resume a partial one, open the
      // initial snapshot, advance to the next version's delta, or stop
      val seg =
        if (cur.idx >= 0) Some((cur.v, cur.snap, cur.idx))
        else if (cur.v >= head) None
        else if (cur.v == startingVersion - 1 && startingVersion == 0)
          Some((head, true, 0))
        else Some((cur.v + 1, false, 0))
      seg match {
        case None => walking = false
        case Some((v, snap, from)) =>
          val list =
            if (snap) GraftSink.manifestAt(spark, path, Some(v))
              .toSeq.flatMap(_.files)
            else GraftSink.addedFiles(spark, path, v - 1, v)
          var i = from
          var stopped = false
          while (i < list.size && !stopped) {
            if (cap.exists(c => c.v == v && c.idx >= 0 && i >= c.idx))
              stopped = true
            else if ((nF >= maxFiles || nR >= maxRows ||
                nB >= maxBytes) && nF > 0)
              stopped = true
            else {
              out += list(i)
              nF += 1
              nR += math.max(list(i).rows, 0L)
              nB += math.max(list(i).bytes, 0L)
              i += 1
            }
          }
          if (stopped) {
            cur = GraftStreamOffset(v, i, snap)
            walking = false
          } else {
            cur = GraftStreamOffset(v, -1, snap = false)
            if (nF >= maxFiles || nR >= maxRows || nB >= maxBytes)
              walking = false
          }
      }
    }
    (cur, out.result())
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] =
    walk(pos(start), Some(pos(end)), Long.MaxValue, Long.MaxValue)._2
      .map(f => GraftFilePartition(s"$path/data/${f.name}",
        f.schemaDdl): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftSinkReaderFactory(required, conf)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `v` = version fully consumed (the legacy/steady-state form — old
  * checkpoints parse and resume unchanged); `v:idx` = idx files of
  * version v's delta consumed; `v:idx:s` = idx files of the initial
  * SNAPSHOT at version v consumed (admission-controlled backfill in
  * progress).
  */
private case class GraftStreamOffset(v: Int, idx: Int, snap: Boolean)
    extends Offset {
  override def json: String =
    if (idx < 0) v.toString
    else if (snap) s"$v:$idx:s"
    else s"$v:$idx"
}

private class GraftSinkReaderFactory(required: StructType,
    conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftFilePartition]
    GraftSink.readersCreated.incrementAndGet()
    new GraftSinkReader(StructType.fromDDL(p.fileSchemaDdl), required,
      p.file, conf)
  }
}

/** Parses the sink's OWN canonical line format back to InternalRows —
  * the exact inverse of [[GraftDataWriter.write]] (fields in schema
  * order, internal value representations, `graft.Json` escaping), so
  * the round trip is bit-exact with no timezone/locale/format hop.
  */
private class GraftSinkReader(schema: StructType, required: StructType,
    file: String, conf: SerializableConfiguration)
    extends PartitionReader[InternalRow] {
  // position in the OUTPUT row for each file field, -1 = pruned
  private val outIdx: Array[Int] =
    schema.fieldNames.map(n => required.fieldNames.indexOf(n))
  // the _file metadata column, when requested: this row's file name
  private val fileOrd = required.fieldNames
    .indexOf(GraftFileMetadataColumn.name())
  private val fileNameValue = UTF8String.fromString(
    file.substring(file.lastIndexOf('/') + 1))
  private val in = {
    val p = new Path(file)
    new java.io.BufferedReader(new java.io.InputStreamReader(
      p.getFileSystem(conf.value).open(p), "UTF-8"))
  }
  private var row: InternalRow = _

  override def next(): Boolean = {
    val line = in.readLine()
    if (line == null) false
    else { row = parse(line); true }
  }
  override def get(): InternalRow = row
  override def close(): Unit = in.close()

  private def parse(line: String): InternalRow = {
    val vals = new Array[Any](required.length)
    var pos = 1 // past '{'
    var i = 0
    while (i < schema.length) {
      pos = skipString(line, pos) // field name (writer-canonical)
      pos += 1 // ':'
      val out = outIdx(i)
      if (line.charAt(pos) == '"') {
        val end = skipString(line, pos)
        if (out >= 0)
          vals(out) = UTF8String.fromString(unescape(line, pos + 1, end - 1))
        pos = end
      } else {
        var end = pos
        while (end < line.length && line.charAt(end) != ','
          && line.charAt(end) != '}') end += 1
        if (out >= 0) {
          val tok = line.substring(pos, end)
          vals(out) =
            if (tok == "null") null
            else schema(i).dataType match {
              case LongType | TimestampType | TimestampNTZType => tok.toLong
              case IntegerType | DateType => tok.toInt
              case DoubleType => tok.toDouble
              case BooleanType => tok.toBoolean
              case dt => sys.error(s"graftsink: unsupported ${dt.sql}")
            }
        }
        pos = end
      }
      pos += 1 // ',' or '}'
      i += 1
    }
    if (fileOrd >= 0) vals(fileOrd) = fileNameValue
    new GenericInternalRow(vals)
  }

  /** Returns the index ONE PAST the closing quote of the string
    * starting at `start` (which must point at the opening quote).
    */
  private def skipString(s: String, start: Int): Int = {
    var i = start + 1
    while (s.charAt(i) != '"') {
      if (s.charAt(i) == '\\') i += 2 else i += 1
    }
    i + 1
  }

  private def unescape(s: String, from: Int, to: Int): String = {
    val b = new java.lang.StringBuilder(to - from)
    var i = from
    while (i < to) {
      val c = s.charAt(i)
      if (c == '\\') {
        s.charAt(i + 1) match {
          case '"' => b.append('"'); i += 2
          case '\\' => b.append('\\'); i += 2
          case 'n' => b.append('\n'); i += 2
          case 'r' => b.append('\r'); i += 2
          case 't' => b.append('\t'); i += 2
          case 'u' =>
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => b.append(other); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }
}
