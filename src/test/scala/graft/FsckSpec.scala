package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.GraftSink

/** Integrity-probe laws ([[GraftSink.fsck]] + `CALL system.fsck`):
  * a healthy table (including one with compaction history and tags)
  * reports clean; external damage the protocol cannot prevent —
  * deletion or truncation of a manifest-referenced object — is
  * detected and NAMED; benign pre-vacuum debris is counted as
  * unreferenced, never as corruption; and fsck itself never mutates
  * anything (read-only by contract).
  */
class FsckSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String) = tmpDir(s"graft_fsck_$tag") + "/t"

  test("healthy table with history, compaction, and tags is clean; " +
      "fsck checks every surviving version's references") {
    val dir = freshDir("ok")
    (1 to 4).foreach { i =>
      Seq((i.toLong, s"r$i")).toDF("k", "s").coalesce(1)
        .write.format("graftsink").mode("append").save(dir)
    }
    GraftSink.compact(spark, dir, smallBytes = 1L << 20)
    GraftSink.tag(spark, dir, "pin", Some(1))
    val r = GraftSink.fsck(spark, dir)
    assert(r.clean, s"healthy table flagged: $r")
    assert(r.versionsChecked >= 5, s"all surviving versions checked: $r")
    // history references the pre-compaction files AND the compacted
    // output, so more files than the head's are checked
    assert(r.filesChecked >= 5, s"historical references checked: $r")
    assert(r.missingFiles.isEmpty && r.sizeMismatches.isEmpty)
  }

  test("a deleted referenced object is MISSING (named), a truncated " +
      "one is a SIZE MISMATCH — external damage detected before a " +
      "reader trips on it") {
    val dir = freshDir("damage")
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1)
      .write.format("graftsink").mode("append").save(dir)
    Seq((3L, "c")).toDF("k", "s").coalesce(1)
      .write.format("graftsink").mode("append").save(dir)
    val files = GraftSink.latestManifest(spark, dir).get.files
    assert(files.size == 2)
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // damage 1: the bucket-lifecycle shape — object deleted
    fs.delete(new Path(dir, s"data/${files.head.name}"), false)
    // damage 2: partial restore — object exists at the wrong size
    val victim2 = new Path(dir, s"data/${files(1).name}")
    val o = fs.create(victim2, true)
    try o.write("short".getBytes("UTF-8")) finally o.close()
    val r = GraftSink.fsck(spark, dir)
    assert(!r.clean)
    assert(r.missingFiles == Seq(files.head.name),
      s"missing object must be named: $r")
    assert(r.sizeMismatches.size == 1
      && r.sizeMismatches.head.startsWith(files(1).name),
      s"truncated object must be named with both sizes: $r")
  }

  test("pre-vacuum debris is unreferenced, NOT corruption; fsck " +
      "mutates nothing") {
    val dir = freshDir("orphan")
    Seq((1L, "a")).toDF("k", "s").coalesce(1)
      .write.format("graftsink").mode("append").save(dir)
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a foreign/abandoned object in data/ (crashed writer shape)
    val stray = new Path(dir, "data/wdeadbeef-stray")
    val o = fs.create(stray, false)
    try o.write("junk".getBytes("UTF-8")) finally o.close()
    val r = GraftSink.fsck(spark, dir)
    assert(r.clean, s"an orphan must not read as corruption: $r")
    assert(r.unreferencedDataFiles == 1)
    assert(fs.exists(stray), "fsck is read-only: the orphan survives " +
      "until vacuum's grace-aged collection")
    // and the table still reads exactly
    assert(spark.read.format("graftsink").load(dir).count() == 1L)
  }

  test("CALL system.fsck reports through SQL: clean row for a healthy " +
      "table, counts + detail after damage") {
    val r = tmpDir("graft_fsck_cat")
    spark.conf.set("spark.sql.catalog.gfsck", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gfsck.root", r)
    spark.sql("CREATE NAMESPACE gfsck.m")
    spark.sql("CREATE TABLE gfsck.m.t (k BIGINT, s STRING)")
    spark.sql("INSERT INTO gfsck.m.t VALUES (1, 'a'), (2, 'b')")
    val ok = spark.sql("CALL gfsck.system.fsck(table => 'm.t')")
      .collect().head
    assert(ok.getBoolean(0), s"healthy: $ok")
    assert(ok.getInt(2) >= 1) // files_checked
    // damage: delete the one referenced file
    val dir = s"$r/m/t"
    val name = GraftSink.latestManifest(spark, dir).get.files.head.name
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(dir, s"data/$name"), false)
    val bad = spark.sql("CALL gfsck.system.fsck(table => 'm.t')")
      .collect().head
    assert(!bad.getBoolean(0))
    assert(bad.getInt(3) == 1, s"missing_files: $bad")
    assert(bad.getString(13).contains(name), s"detail names it: $bad")
  }

  test("deep fsck catches same-size corruption the shallow probe " +
      "passes: a flipped byte is found and NAMED by the content " +
      "re-hash; a healthy table deep-verifies completely") {
    val dir = freshDir("deepflip")
    Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("k", "s")
      .coalesce(1).write.format("graftsink").mode("append").save(dir)
    val files = GraftSink.latestManifest(spark, dir).get.files
    assert(files.size == 1)
    assert(files.head.checksum.length == 16,
      s"every write records a content checksum: ${files.head}")
    val healthy = GraftSink.fsck(spark, dir, deep = true)
    assert(healthy.deepVerified,
      s"healthy table must deep-verify fully: $healthy")
    // same-size damage: flip ONE bit in the middle of the file (bit
    // rot / partial overwrite / wrong-region restore shape)
    val victim = new Path(dir, s"data/${files.head.name}")
    val fs = victim.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(victim).getLen
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(victim)
    try in.readFully(buf) finally in.close()
    buf(len.toInt / 2) = (buf(len.toInt / 2) ^ 0x01).toByte
    val out = fs.create(victim, true)
    try out.write(buf) finally out.close()
    assert(fs.getFileStatus(victim).getLen == len, "flip kept the size")
    val shallow = GraftSink.fsck(spark, dir)
    assert(shallow.clean,
      s"the existence+size probe cannot see same-size damage: $shallow")
    val deep = GraftSink.fsck(spark, dir, deep = true)
    assert(!deep.clean && deep.checksumMismatches.size == 1 &&
      deep.checksumMismatches.head.startsWith(files.head.name),
      s"deep fsck must name exactly the flipped file: $deep")
    assert(deep.missingFiles.isEmpty && deep.sizeMismatches.isEmpty)
  }

  test("deep fsck re-hashes SEGMENT files too: a flipped byte inside " +
      "a segment — silently corrupt stats/bounds, i.e. unsound file " +
      "skipping — is caught and named; shallow cannot see it") {
    val dir = freshDir("segflip")
    // 40 small files in one commit (200 rows round-robined so every
    // partition lands non-empty): over the 32-entry inline threshold,
    // so the manifest rolls them into a segment
    spark.range(200L).selectExpr("id AS k", "CAST(id AS STRING) AS s")
      .repartition(40)
      .write.format("graftsink").mode("append").save(dir)
    val head = GraftSink.latestManifest(spark, dir).get
    assert(head.refs.size == 1, s"expected one segment: ${head.refs}")
    assert(head.refs.head.checksum.length == 16,
      s"segment refs must record a content checksum: ${head.refs}")
    assert(GraftSink.fsck(spark, dir, deep = true).deepVerified)
    // same-size damage INSIDE the segment file
    val seg = new Path(dir, s"_segments/${head.refs.head.name}")
    val fs = seg.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(seg).getLen
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(seg)
    try in.readFully(buf) finally in.close()
    // flip an ALPHANUMERIC byte in the segment's FIRST line (the
    // frozen base DDL): the damage corrupts a recorded VALUE every
    // reader trusts, while the line structure, the member names, and
    // the sizes all stay intact — exactly the silent-skipping hazard
    // this test pins (a flipped tab/newline would be the loud-torn
    // case instead, and a flipped member NAME would surface as a
    // missing file even shallow)
    var i = 0
    while (!java.lang.Character.isLetterOrDigit(buf(i).toChar)) i += 1
    buf(i) = (buf(i) ^ 0x01).toByte
    val out = fs.create(seg, true)
    try out.write(buf) finally out.close()
    assert(GraftSink.fsck(spark, dir).clean,
      "shallow fsck cannot see in-segment corruption")
    val deep = GraftSink.fsck(spark, dir, deep = true)
    assert(!deep.clean && deep.checksumMismatches.size == 1 &&
      deep.checksumMismatches.head.startsWith(head.refs.head.name) &&
      deep.checksumMismatches.head.contains("segment"),
      s"deep fsck must name the flipped segment: $deep")
  }

  test("incremental deep verification (sinceVerified): a chain of " +
      "deepVerified passes re-hashes only bytes never verified " +
      "before — O(new data) per cadence — while a planted " +
      "post-verification flip in an OLD file is still caught by the " +
      "next FULL drill") {
    val dir = freshDir("incrdeep")
    Seq((1L, "alpha"), (2L, "beta")).toDF("k", "s")
      .coalesce(1).write.format("graftsink").mode("append").save(dir)
    // FULL deep pass establishes the watermark
    val full = GraftSink.fsck(spark, dir, deep = true)
    assert(full.deepVerified && full.contentHashed == 1 &&
      full.skippedVerified == 0, s"$full")
    assert(full.verifiedThrough ==
      GraftSink.latestManifest(spark, dir).get.version,
      s"deepVerified must persist the watermark: $full")
    // new data lands; the scheduled incremental pass re-hashes ONLY it
    Seq((3L, "gamma")).toDF("k", "s")
      .coalesce(1).write.format("graftsink").mode("append").save(dir)
    val incr = GraftSink.fsck(spark, dir, deep = true,
      sinceVerified = true)
    assert(incr.deepVerified && incr.contentHashed == 1 &&
      incr.skippedVerified == 1,
      s"incremental must re-hash only the new file: $incr")
    // the chain advanced: a second incremental pass has NOTHING to hash
    val again = GraftSink.fsck(spark, dir, deep = true,
      sinceVerified = true)
    assert(again.deepVerified && again.contentHashed == 0 &&
      again.skippedVerified == 2,
      s"a re-run re-hashes only files the first didn't: $again")
    // the deliberate residual: bit rot in an ALREADY-VERIFIED file is
    // invisible to the incremental cadence…
    val oldFile = GraftSink.manifestAt(spark, dir, Some(0)).get
      .files.head.name
    val victim = new Path(dir, s"data/$oldFile")
    val fs = victim.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(victim).getLen
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(victim)
    try in.readFully(buf) finally in.close()
    buf(len.toInt / 2) = (buf(len.toInt / 2) ^ 0x01).toByte
    val out = fs.create(victim, true)
    try out.write(buf) finally out.close()
    val blind = GraftSink.fsck(spark, dir, deep = true,
      sinceVerified = true)
    assert(blind.deepVerified,
      s"post-verification rot is the incremental pass's documented " +
        s"blind spot: $blind")
    // …and caught by the next FULL drill, which ignores the watermark
    val drill = GraftSink.fsck(spark, dir, deep = true)
    assert(!drill.clean && drill.checksumMismatches.size == 1 &&
      drill.checksumMismatches.head.startsWith(oldFile),
      s"the FULL drill must catch what the cadence can't: $drill")
    // a failed drill never regresses or advances the watermark chain
    assert(drill.verifiedThrough == blind.verifiedThrough, s"$drill")
    // a flip in a NEW file IS caught by the cadence: restore the old
    // byte, land a fresh commit, corrupt it, incremental names it
    val restore = fs.create(victim, true)
    try { buf(len.toInt / 2) = (buf(len.toInt / 2) ^ 0x01).toByte
      restore.write(buf) } finally restore.close()
    val preAppend = GraftSink.latestManifest(spark, dir).get
      .files.map(_.name).toSet
    Seq((4L, "delta")).toDF("k", "s")
      .coalesce(1).write.format("graftsink").mode("append").save(dir)
    val fresh = GraftSink.latestManifest(spark, dir).get.files
      .map(_.name).filterNot(preAppend).head
    val victim2 = new Path(dir, s"data/$fresh")
    val len2 = fs.getFileStatus(victim2).getLen
    val buf2 = new Array[Byte](len2.toInt)
    val in2 = fs.open(victim2)
    try in2.readFully(buf2) finally in2.close()
    buf2(len2.toInt / 2) = (buf2(len2.toInt / 2) ^ 0x01).toByte
    val out2 = fs.create(victim2, true)
    try out2.write(buf2) finally out2.close()
    val caught = GraftSink.fsck(spark, dir, deep = true,
      sinceVerified = true)
    assert(!caught.clean && caught.checksumMismatches.size == 1 &&
      caught.checksumMismatches.head.startsWith(fresh),
      s"the cadence must catch corruption in UNVERIFIED files: $caught")
  }

  test("legacy checksum-less manifests DECLINE deep verification " +
      "loudly: unverified_files counts them, deepVerified is false, " +
      "CALL's detail says so — never a silent pass") {
    val r = tmpDir("graft_fsck_legacy")
    spark.conf.set("spark.sql.catalog.gleg", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gleg.root", r)
    spark.sql("CREATE NAMESPACE gleg.m")
    spark.sql("CREATE TABLE gleg.m.t (k BIGINT, s STRING)")
    spark.sql("INSERT INTO gleg.m.t VALUES (1, 'a')")
    val dir = s"$r/m/t"
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a pre-checksum manifest: re-publish the head with the
    // trailing checksum field stripped from every file line
    val hv = GraftSink.latestManifest(spark, dir).get.version
    val head = new Path(dir, f"manifest-v$hv%06d")
    val in = fs.open(head)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    val stripped = lines.map { l =>
      if (l == lines.head || l.startsWith("#")) l
      else l.split("\t", -1).dropRight(1).mkString("\t")
    }
    val out = fs.create(new Path(dir, f"manifest-v${hv + 1}%06d"), false)
    try out.write(stripped.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val d = GraftSink.fsck(spark, dir, deep = true)
    assert(d.clean, s"a missing checksum is not corruption: $d")
    assert(d.unverifiedFiles == 1 && !d.deepVerified,
      s"the unverifiable entry must be counted, loudly: $d")
    val row = spark.sql(
      "CALL gleg.system.fsck(table => 'm.t', deep => true)")
      .collect().head
    assert(row.getInt(6) == 1, s"unverified_files column: $row")
    assert(row.getString(13).contains("no recorded checksum"),
      s"detail must say WHY content went unverified: $row")
  }

  test("the _deep_verified chain stays SOUND across maintenance: " +
      "compaction/clustering outputs enter the chain by being " +
      "RE-HASHED on the next incremental pass (never blindly " +
      "skipped), and a flip planted in a maintenance output before " +
      "its first verification is caught by the cadence") {
    val dir = freshDir("maintchain")
    (1 to 4).foreach { i =>
      Seq((i.toLong, s"row$i")).toDF("k", "s").coalesce(1)
        .write.format("graftsink").mode("append").save(dir)
    }
    val full = GraftSink.fsck(spark, dir, deep = true)
    assert(full.deepVerified && full.contentHashed == 4, s"$full")
    // compaction folds the four verified files into one NEW file: its
    // bytes were verified in-stream (verify-before-retire), but the
    // WATERMARK chain treats it as a new, unverified entry — the
    // incremental pass must re-hash it, proving maintenance can never
    // smuggle a file past the chain
    GraftSink.compact(spark, dir, smallBytes = 1L << 20)
    val incr = GraftSink.fsck(spark, dir, deep = true,
      sinceVerified = true)
    assert(incr.deepVerified && incr.contentHashed == 1,
      s"the compacted output must be re-hashed, not skipped: $incr")
    // clustering rewrites again; corrupt its output BEFORE any
    // verified pass covers it — the cadence must name it
    GraftSink.cluster(spark, dir, Seq("k"))
    val clustered = GraftSink.latestManifest(spark, dir).get.files
    assert(clustered.forall(_.name.startsWith("cluster-")))
    val victim = new Path(dir, s"data/${clustered.head.name}")
    val fs = victim.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(victim).getLen
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(victim)
    try in.readFully(buf) finally in.close()
    buf(len.toInt / 2) = (buf(len.toInt / 2) ^ 0x01).toByte
    val out = fs.create(victim, true)
    try out.write(buf) finally out.close()
    val caught = GraftSink.fsck(spark, dir, deep = true,
      sinceVerified = true)
    assert(!caught.clean && caught.checksumMismatches.size == 1 &&
      caught.checksumMismatches.head.startsWith(clustered.head.name),
      s"pre-verification rot in a maintenance output must be caught " +
        s"by the cadence: $caught")
    // the failed pass never advanced the watermark over the damage
    val restore = fs.create(victim, true)
    try { buf(len.toInt / 2) = (buf(len.toInt / 2) ^ 0x01).toByte
      restore.write(buf) } finally restore.close()
    val healed = GraftSink.fsck(spark, dir, deep = true,
      sinceVerified = true)
    assert(healed.deepVerified &&
      healed.contentHashed >= clustered.size,
      s"after restore the cadence re-hashes the cluster outputs and " +
        s"the chain closes over them: $healed")
    assert(healed.verifiedThrough ==
      GraftSink.latestManifest(spark, dir).get.version, s"$healed")
  }

  // ---- the shared integrity kernel: one sidecar format, one damage
  // ---- vocabulary across graftsink, Transaction and MergeOnRead

  private def hfs = new Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def put(p: Path, bytes: Array[Byte]): Unit = {
    val out = hfs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  private def slurp(p: Path): Array[Byte] = {
    val buf = new Array[Byte](hfs.getFileStatus(p).getLen.toInt)
    val in = hfs.open(p)
    try in.readFully(buf) finally in.close()
    buf
  }

  private def firstPayload(dir: Path): Path =
    hfs.listStatus(dir).map(_.getPath)
      .filter(q => !q.getName.startsWith("_") && !q.getName.startsWith("."))
      .minBy(_.getName)

  /** One layer under test: `plant` builds a fresh healthy root and
    * returns it with the payload file to damage, `unvouch` drops the
    * record that vouches for that file's content, `kinds` runs the
    * layer's deep fsck and names the damage kinds it reports.
    */
  private case class Layer(name: String, plant: String => (String, Path),
      unvouch: (String, Path) => Unit, kinds: String => Set[String])

  private def kindsOf(missing: Seq[String], size: Seq[String],
      sum: Seq[String], unverified: Int): Set[String] =
    Map("missing" -> missing.nonEmpty, "size" -> size.nonEmpty,
      "checksum" -> sum.nonEmpty, "unverified" -> (unverified > 0))
      .collect { case (k, true) => k }.toSet

  private val layers = Seq(
    Layer("transaction member",
      tag => {
        val root = tmpDir(s"graft_integrity_tx_$tag")
        graft.operators.Transaction.publish(spark, root, Map("a" ->
          Seq((1L, "alpha"), (2L, "beta")).toDF("k", "s").coalesce(1)))
        (root, firstPayload(new Path(root, "a/t0")))
      },
      (_, victim) => { hfs.delete(new Path(victim.getParent, "_checksums"),
        false); () },
      root => {
        val r = graft.operators.Transaction.fsck(spark, root, deep = true)
        kindsOf(r.missingFiles, r.sizeMismatches, r.checksumMismatches,
          r.unverifiedMembers)
      }),
    Layer("merge-on-read tombstone dir",
      tag => {
        val root = tmpDir(s"graft_integrity_mor_$tag")
        graft.operators.MergeOnRead.init(
          Seq((1L, "alpha"), (2L, "beta")).toDF("k", "s"), root)
        graft.operators.MergeOnRead.deleteKeys(spark, root,
          Seq(1L).toDF("k").coalesce(1))
        val batch = hfs.listStatus(new Path(root, "deletes")).head.getPath
        (root, firstPayload(batch))
      },
      (_, victim) => { hfs.delete(new Path(victim.getParent, "_checksums"),
        false); () },
      root => {
        val r = graft.operators.MergeOnRead.fsck(spark, root, deep = true)
        kindsOf(r.missingFiles, r.sizeMismatches, r.checksumMismatches,
          r.unverifiedFiles)
      }),
    Layer("graftsink table",
      tag => {
        val dir = freshDir(s"integrity_$tag")
        Seq((1L, "alpha"), (2L, "beta")).toDF("k", "s").coalesce(1)
          .write.format("graftsink").mode("append").save(dir)
        (dir, firstPayload(new Path(dir, "data")))
      },
      (dir, _) => {
        // the pre-checksum manifest shape: re-publish the head with the
        // trailing checksum field stripped from every file line
        val hv = GraftSink.latestManifest(spark, dir).get.version
        val lines = new String(slurp(new Path(dir, f"manifest-v$hv%06d")),
          "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
        val stripped = lines.map { l =>
          if (l == lines.head || l.startsWith("#")) l
          else l.split("\t", -1).dropRight(1).mkString("\t")
        }
        put(new Path(dir, f"manifest-v${hv + 1}%06d"),
          stripped.mkString("\n").getBytes("UTF-8"))
      },
      dir => {
        val r = GraftSink.fsck(spark, dir, deep = true)
        kindsOf(r.missingFiles, r.sizeMismatches, r.checksumMismatches,
          r.unverifiedFiles)
      }))

  test("Integrity.stamp writes the pinned _checksums bytes, and every " +
      "layer's deep fsck reports the same planted damage with the same " +
      "kind: missing, size, checksum or unverified") {
    // FORMAT PIN: sorted `name<TAB>bytes<TAB>xxh64` lines, each ending
    // in a newline; bookkeeping names never listed; an empty payload
    // is a lone newline. (XXH64 seed 0: "" = ef46db3751d8e999,
    // "abc" = 44bc2cf5ad770999.)
    val dir = new Path(tmpDir("graft_integrity_pin"))
    put(new Path(dir, "b.parquet"), "abc".getBytes("UTF-8"))
    put(new Path(dir, "a.parquet"), Array.emptyByteArray)
    put(new Path(dir, "_SUCCESS"), Array.emptyByteArray)
    graft.sources.Integrity.stamp(spark, dir.toString)
    assert(new String(slurp(new Path(dir, "_checksums")), "UTF-8") ==
      "a.parquet\t0\tef46db3751d8e999\nb.parquet\t3\t44bc2cf5ad770999\n")
    val empty = new Path(tmpDir("graft_integrity_pin_empty"))
    put(new Path(empty, "_SUCCESS"), Array.emptyByteArray)
    graft.sources.Integrity.stamp(spark, empty.toString)
    assert(new String(slurp(new Path(empty, "_checksums")), "UTF-8") == "\n")

    // DAMAGE AGREEMENT: the same four plants, one fresh root each
    val damages: Seq[(String, (Layer, String, Path) => Unit)] = Seq(
      "missing" -> ((_, _, v) => { hfs.delete(v, false); () }),
      "size" -> ((_, _, v) => put(v, "short".getBytes("UTF-8"))),
      "checksum" -> ((_, _, v) => {
        val buf = slurp(v)
        buf(buf.length / 2) = (buf(buf.length / 2) ^ 0x01).toByte
        put(v, buf)
      }),
      "unverified" -> ((layer, root, v) => layer.unvouch(root, v)))
    for (layer <- layers; (kind, plantDamage) <- damages) {
      val (root, victim) = layer.plant(kind)
      assert(layer.kinds(root).isEmpty, s"${layer.name}: healthy root " +
        "must deep-verify before the plant")
      plantDamage(layer, root, victim)
      assert(layer.kinds(root) == Set(kind),
        s"${layer.name}: planted $kind damage reported as " +
          s"${layer.kinds(root)}")
    }
  }
}
