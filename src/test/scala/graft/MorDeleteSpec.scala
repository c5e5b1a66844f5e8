package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.MergeOnRead

/** Laws of merge-on-read deletes: appends never touch base data,
  * re-deletes are idempotent, compaction preserves the view and
  * returns the read path to a plain scan.
  */
class MorDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def dataFiles(root: String): Set[(String, Long)] = {
    val p = new Path(s"$root/data")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(s => (s.getPath.getName, s.getLen)).toSet
  }

  test("delete appends a tombstone; base data files are untouched") {
    val root = tmpDir("graft_mor")
    MergeOnRead.init(Seq((1, "a"), (7, "b"), (14, "c"), (3, "d"))
      .toDF("k", "v"), root)
    val before = dataFiles(root)
    val n = MergeOnRead.deleteWhere(spark, root, "k", col("k") % 7 === 0)
    assert(n == 2)
    assert(dataFiles(root) == before, "base data must not be rewritten")
    val got = MergeOnRead.readCurrent(spark, root, "k")
      .orderBy("k").as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "a"), (3, "d")))
  }

  test("a first-ever delete that matches nothing leaves the root " +
      "readable: every row reads, compact folds nothing, deep fsck is " +
      "clean") {
    val root = tmpDir("graft_mor_nomatch")
    MergeOnRead.init(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), root)
    assert(MergeOnRead.deleteWhere(spark, root, "k", col("k") === 99) == 0)
    assert(MergeOnRead.readCurrent(spark, root, "k")
      .orderBy("k").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c")))
    assert(MergeOnRead.compact(spark, root, "k") == 0)
    val f = MergeOnRead.fsck(spark, root, deep = true)
    assert(f.deepVerified, s"a no-match delete is not damage: $f")
  }

  test("re-deleting already-tombstoned keys is a no-op (idempotent)") {
    val root = tmpDir("graft_mor")
    MergeOnRead.init(Seq((7, "x"), (2, "y")).toDF("k", "v"), root)
    assert(MergeOnRead.deleteWhere(spark, root, "k",
      col("k") === 7) == 1)
    assert(MergeOnRead.deleteWhere(spark, root, "k",
      col("k") === 7) == 0, "victims come from the CURRENT view")
    assert(MergeOnRead.readCurrent(spark, root, "k").count() == 1)
  }

  test("property: any interleaving of deletes and compactions equals " +
      "the running batch filter") {
    // deterministic pseudo-random predicates from a seeded sequence;
    // compact after every 3rd delete — the view must equal filtering
    // the base by the conjunction of all predicates so far, at every
    // step
    val root = tmpDir("graft_mor_prop")
    val base = (1 to 500).map(i => (i, (i * 2654435761L % 97).toInt))
      .toDF("k", "v")
    MergeOnRead.init(base, root)
    var kept = base
    for (step <- 1 to 7) {
      val m = 3 + (step * 7919) % 11 // modulus 3..13, deterministic
      val r = (step * 104729) % m
      val pred = col("k") % m === r
      MergeOnRead.deleteWhere(spark, root, "k", pred)
      kept = kept.filter(!(col("k") % m === r))
      if (step % 3 == 0) MergeOnRead.compact(spark, root, "k")
      val got = MergeOnRead.readCurrent(spark, root, "k")
        .as[(Int, Int)].collect().toSeq.sorted
      val want = kept.as[(Int, Int)].collect().toSeq.sorted
      assert(got == want, s"diverged at step $step (m=$m r=$r)")
    }
    assert(MergeOnRead.readCurrent(spark, root, "k").count() > 0)
  }

  test("compaction preserves the view exactly and clears tombstones; " +
      "the read plan is a plain scan afterwards") {
    val root = tmpDir("graft_mor")
    MergeOnRead.init((1 to 100).map(i => (i, i * 10)).toDF("k", "n"), root)
    MergeOnRead.deleteWhere(spark, root, "k", col("k") % 3 === 0)
    MergeOnRead.deleteWhere(spark, root, "k", col("k") > 90)
    val before = MergeOnRead.readCurrent(spark, root, "k")
      .orderBy("k").as[(Int, Int)].collect().toSeq
    assert(MergeOnRead.compact(spark, root, "k") == 2)
    val after = MergeOnRead.readCurrent(spark, root, "k")
      .orderBy("k").as[(Int, Int)].collect().toSeq
    assert(after == before)
    // tombstones folded: no join left on the read path
    val plan = MergeOnRead.readCurrent(spark, root, "k")
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"post-compaction read must be a scan:\n$plan")
    // compacting again is a no-op
    assert(MergeOnRead.compact(spark, root, "k") == 0)
  }

  test("'__seq' is reserved: init/appendRowsAt/deleteKeysAt reject a " +
      "frame that already carries the column instead of silently " +
      "overwriting it") {
    // ADVICE r9: withColumn would overwrite the user's __seq and
    // readCurrentSeq would drop it — corrupted round trips, no error
    val root = tmpDir("graft_mor_seqcol")
    val withSeq = Seq((1, "a", 9L)).toDF("k", "v", "__seq")
    val e1 = intercept[IllegalArgumentException] {
      MergeOnRead.init(withSeq, root)
    }
    assert(e1.getMessage.contains("__seq"))
    MergeOnRead.init(Seq((1, "a")).toDF("k", "v"), root)
    val e2 = intercept[IllegalArgumentException] {
      MergeOnRead.appendRowsAt(spark, root, withSeq, seq = 1L)
    }
    assert(e2.getMessage.contains("__seq"))
    val e3 = intercept[IllegalArgumentException] {
      MergeOnRead.deleteKeysAt(spark, root,
        Seq((1, 9L)).toDF("k", "__seq"), seq = 1L)
    }
    assert(e3.getMessage.contains("__seq"))
    // the guards fired BEFORE any write: the root is still clean for
    // normal sequence-aware use
    MergeOnRead.appendRowsAt(spark, root,
      Seq((2, "b")).toDF("k", "v"), seq = 1L)
    assert(MergeOnRead.readCurrentSeq(spark, root, "k").count() == 2)
  }

  test("mixed tombstone modes refuse at EVERY entry point: writes " +
      "reject introducing the mix, reads and compactions reject " +
      "consuming one planted out-of-band") {
    import org.apache.spark.sql.functions.col
    def mixError(body: => Any): Unit =
      assert(intercept[IllegalArgumentException](body)
        .getMessage.contains("mixes tombstone modes"))
    // write-time: the mix is refused where it would be INTRODUCED
    val r1 = tmpDir("graft_mor_mixed1")
    MergeOnRead.init(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), r1)
    assert(MergeOnRead.deleteWhere(spark, r1, "k", col("k") === 1L) == 1)
    mixError(MergeOnRead.deleteKeysAt(spark, r1, Seq(2L).toDF("k"), 1L))
    mixError(MergeOnRead.appendRowsAt(spark, r1,
      Seq((3L, "c")).toDF("k", "v"), 1L))
    val r2 = tmpDir("graft_mor_mixed2")
    MergeOnRead.init(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), r2)
    MergeOnRead.deleteKeysAt(spark, r2, Seq(1L).toDF("k"), 1L)
    mixError(MergeOnRead.deleteWhere(spark, r2, "k", col("k") === 2L))
    mixError(MergeOnRead.deleteKeys(spark, r2, Seq(2L).toDF("k")))
    // a mix planted OUT OF BAND (simulating a rogue writer bypassing
    // the API) is refused by reads and both compactions — the view
    // must never silently ignore the other mode's tombstones, and
    // compaction must never destroy them
    Seq(9L).toDF("k").write.parquet(s"$r2/deletes/d_rogue")
    mixError(MergeOnRead.readCurrent(spark, r2, "k"))
    mixError(MergeOnRead.readCurrentSeq(spark, r2, "k"))
    mixError(MergeOnRead.compact(spark, r2, "k"))
    mixError(MergeOnRead.compactSeq(spark, r2, "k"))
    // single-mode roots still compact fine
    val r3 = tmpDir("graft_mor_mixed3")
    MergeOnRead.init(Seq((1L, "a")).toDF("k", "v"), r3)
    MergeOnRead.deleteKeysAt(spark, r3, Seq(1L).toDF("k"), 1L)
    MergeOnRead.compactSeq(spark, r3, "k")
    assert(MergeOnRead.readCurrentSeq(spark, r3, "k").count() == 0)
  }

  test("model property: random sequence-aware op interleavings " +
      "(append / tombstone / upsert / replay / compact) equal an " +
      "in-memory model at every step") {
    // Model: rows = multiset of (key, value, seq); tombs = key -> max
    // tombstone seq. View keeps a row iff no tombstone of its key sits
    // STRICTLY above its seq (a batch's own appends at the tombstone's
    // seq survive). compactSeq folds the view to seq 0 and clears
    // tombs. The on-disk implementation must match this model after
    // EVERY operation, across seeded random interleavings — the same
    // discipline GraftSinkModelSpec applies to the sink.
    for (seed <- Seq(11L, 42L, 1337L)) {
      val rnd = new scala.util.Random(seed)
      val root = tmpDir(s"graft_mor_model_$seed")
      var rows = (1L to 40L).map(k => (k, k * 1.0, 0L))
      var tombs = Map.empty[Long, Long]
      MergeOnRead.init(rows.map { case (k, v, _) => (k, v) }
        .toDF("k", "v"), root)
      def modelView: Map[(Long, Double), Int] = rows
        .filter { case (k, _, s) => tombs.get(k).forall(s >= _) }
        .map { case (k, v, _) => (k, v) }
        .groupBy(identity).view.mapValues(_.size).toMap
      def diskView: Map[(Long, Double), Int] =
        MergeOnRead.readCurrentSeq(spark, root, "k")
          .as[(Long, Double)].collect().toSeq
          .groupBy(identity).view.mapValues(_.size).toMap
      var seq = 0L
      var lastBatch: Option[(Seq[Long], Seq[(Long, Double)], Long)] = None
      for (step <- 1 to 10) {
        rnd.nextInt(5) match {
          case 0 => // pure delete batch
            seq += 1
            val dels = (1 to 1 + rnd.nextInt(4))
              .map(_ => 1L + rnd.nextInt(45)).distinct
            MergeOnRead.deleteKeysAt(spark, root, dels.toDF("k"), seq)
            tombs ++= dels.map(_ -> seq)
            lastBatch = Some((dels, Seq.empty, seq))
          case 1 => // pure insert batch (possibly duplicating a key —
            // legal MOR semantics: both versions stay visible)
            seq += 1
            val ins = (1 to 1 + rnd.nextInt(3))
              .map(_ => (40L + rnd.nextInt(20), rnd.nextInt(100) * 1.0))
              .distinctBy(_._1)
            MergeOnRead.appendRowsAt(spark, root, ins.toDF("k", "v"), seq)
            rows ++= ins.map { case (k, v) => (k, v, seq) }
            lastBatch = Some((Seq.empty, ins, seq))
          case 2 => // upsert batch: tombstone + append at one seq
            seq += 1
            val ups = (1 to 1 + rnd.nextInt(4))
              .map(_ => (1L + rnd.nextInt(50), rnd.nextInt(100) * 1.0))
              .distinctBy(_._1)
            MergeOnRead.deleteKeysAt(spark, root,
              ups.map(_._1).toDF("k"), seq)
            MergeOnRead.appendRowsAt(spark, root, ups.toDF("k", "v"), seq)
            tombs ++= ups.map(_._1 -> seq)
            rows ++= ups.map { case (k, v) => (k, v, seq) }
            lastBatch = Some((ups.map(_._1), ups, seq))
          case 3 => // checkpoint REPLAY of the last batch: the SAME
            // writes into the same seq-named dirs — view unchanged
            lastBatch.foreach { case (dels, ups, s) =>
              if (dels.nonEmpty)
                MergeOnRead.deleteKeysAt(spark, root, dels.toDF("k"), s)
              if (ups.nonEmpty)
                MergeOnRead.appendRowsAt(spark, root,
                  ups.toDF("k", "v"), s)
            }
          case 4 =>
            MergeOnRead.compactSeq(spark, root, "k")
            rows = rows
              .filter { case (k, _, s) => tombs.get(k).forall(s >= _) }
              .map { case (k, v, _) => (k, v, 0L) }
            tombs = Map.empty
            // compaction folds batch dirs away: replaying a
            // PRE-compaction batch afterwards would re-apply it (the
            // documented horizon discipline — compact only below the
            // stream's committed checkpoint), so the walk stops
            // offering that replay
            lastBatch = None
        }
        assert(diskView == modelView,
          s"seed=$seed step=$step: disk view diverged from model")
      }
    }
  }

  test("autoCompact horizon: a crash-replayed batch's on-disk dirs " +
      "survive the fold, so the replay cannot duplicate insert-only " +
      "rows") {
    // The crash window: foreachBatch N+1 wrote its t/u dirs, then the
    // process died BEFORE the checkpoint committed. On restart the
    // replayed foreachBatch calls autoCompact FIRST (the
    // st_cdc_apply_mor wiring) — an unbounded fold would swallow the
    // crashed attempt's dirs into the base, and the replay's rewrite
    // would then land its insert-only rows a SECOND time (a 'D'/'U'
    // op re-writes its own tombstone; an 'I' op has nothing masking
    // the folded copy). horizonSeq = the replaying batchId keeps the
    // uncommitted seq out of the fold.
    def seed(root: String): Unit = {
      MergeOnRead.init((0L until 10L).map(k => (k, k * 1.0))
        .toDF("k", "v"), root)
      // batch 0 (seq 1): COMMITTED upsert of keys 0-4
      MergeOnRead.deleteKeysAt(spark, root, (0L until 5L).toDF("k"), 1L)
      MergeOnRead.appendRowsAt(spark, root,
        (0L until 5L).map(k => (k, k * 10.0)).toDF("k", "v"), 1L)
      // batch 1 (seq 2): crashed after writing dirs, checkpoint NOT
      // committed — insert-only keys 100-104 plus one update of key 7
      MergeOnRead.deleteKeysAt(spark, root, Seq(7L).toDF("k"), 2L)
      MergeOnRead.appendRowsAt(spark, root,
        ((100L until 105L).map(k => (k, k * 1.0)) :+ (7L, 70.0))
          .toDF("k", "v"), 2L)
    }
    def replay(root: String): Unit = { // batch 1 re-applies (batchId=1)
      MergeOnRead.deleteKeysAt(spark, root, Seq(7L).toDF("k"), 2L)
      MergeOnRead.appendRowsAt(spark, root,
        ((100L until 105L).map(k => (k, k * 1.0)) :+ (7L, 70.0))
          .toDF("k", "v"), 2L)
    }
    val expected = ((0L until 5L).map(k => (k, k * 10.0)) ++
      Seq((5L, 5.0), (6L, 6.0), (7L, 70.0), (8L, 8.0), (9L, 9.0)) ++
      (100L until 105L).map(k => (k, k * 1.0))).sorted

    // guarded path: replay of batch 1 → horizonSeq = batchId = 1
    val good = tmpDir("graft_mor_horizon_good")
    seed(good)
    assert(MergeOnRead.autoCompact(spark, good, "k",
      thresholdBytes = 1L, horizonSeq = 1L),
      "the 1-byte threshold must fire the fold")
    // the uncommitted seq-2 dirs must still be on disk for the replay
    val fs = new Path(good).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(s"$good/updates/u2")) &&
      fs.exists(new Path(s"$good/deletes/t2")),
      "the fold must not swallow the uncommitted seq-2 dirs")
    assert(!fs.exists(new Path(s"$good/updates/u1")) &&
      !fs.exists(new Path(s"$good/deletes/t1")),
      "committed seq-1 dirs fold into the base")
    replay(good)
    val got = MergeOnRead.readCurrentSeq(spark, good, "k")
      .as[(Long, Double)].collect().toSeq.sorted
    assert(got == expected,
      s"horizon-guarded replay must be exactly-once, got $got")

    // control: the unbounded fold reproduces the duplication hazard
    // the horizon exists to close (documents WHY the guard is
    // load-bearing, not a tautology)
    val bad = tmpDir("graft_mor_horizon_bad")
    seed(bad)
    MergeOnRead.compactSeq(spark, bad, "k") // folds seq 2 too
    replay(bad)
    val dupes = MergeOnRead.readCurrentSeq(spark, bad, "k")
      .filter(col("k") >= 100L).count()
    assert(dupes == 10L,
      s"unbounded fold + replay should duplicate the 5 insert-only " +
        s"rows (saw $dupes of the expected 10) — if this stops " +
        "failing, the control no longer documents the hazard")
  }

  private def flipByte(root: String, p: Path): Array[Byte] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(p).getLen
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(buf) finally in.close()
    val orig = buf.clone()
    buf(len.toInt / 2) = (buf(len.toInt / 2) ^ 0x01).toByte
    val out = fs.create(p, true)
    try out.write(buf) finally out.close()
    assert(fs.getFileStatus(p).getLen == len, "flip kept the size")
    orig
  }

  private def msgChain(t: Throwable): Seq[String] =
    if (t == null) Seq.empty
    else Option(t.getMessage).toSeq ++ msgChain(t.getCause)

  test("MOR content integrity: every write stamps a _checksums " +
      "sidecar, deep fsck catches a planted same-size flip the " +
      "shallow probe provably cannot, and compaction REFUSES to fold " +
      "corrupt input instead of laundering it into a fresh " +
      "'verified' base") {
    val root = tmpDir("graft_mor_integrity")
    MergeOnRead.init(Seq((1, "alpha"), (7, "beta"), (14, "gamma"),
      (3, "delta")).toDF("k", "v"), root)
    MergeOnRead.deleteWhere(spark, root, "k", col("k") % 7 === 0)
    val healthy = MergeOnRead.fsck(spark, root, deep = true)
    assert(healthy.deepVerified && healthy.dirsChecked == 2 &&
      healthy.filesChecked >= 2,
      s"healthy root must deep-verify (base + tombstone dirs): $healthy")
    // same-size bit rot in a base payload file
    val p = new Path(s"$root/data")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = fs.listStatus(p).map(_.getPath)
      .filter(q => !q.getName.startsWith("_") &&
        !q.getName.startsWith(".") && fs.getFileStatus(q).getLen > 8)
      .minBy(_.getName.toString)
    val orig = flipByte(root, victim)
    assert(MergeOnRead.fsck(spark, root).clean,
      "the existence+size probe cannot see same-size damage")
    val deep = MergeOnRead.fsck(spark, root, deep = true)
    assert(!deep.clean && deep.checksumMismatches.size == 1 &&
      deep.checksumMismatches.head.contains(victim.getName),
      s"deep fsck must name exactly the flipped file: $deep")
    // the fold must refuse — folding would re-land the damage under a
    // fresh sidecar and every later probe would attest it as truth
    val e = intercept[Exception] {
      MergeOnRead.compact(spark, root, "k")
    }
    assert(msgChain(e).exists(m => m.contains(victim.getName) &&
      m.contains("refusing to fold")),
      s"compaction must refuse naming the file: ${msgChain(e)}")
    // nothing was folded: tombstones still on disk, view still served
    assert(fs.exists(new Path(s"$root/deletes")),
      "a refused fold must not drop the tombstone dirs")
    // restore -> fold succeeds and the fresh base deep-verifies
    val out = fs.create(victim, true)
    try out.write(orig) finally out.close()
    assert(MergeOnRead.compact(spark, root, "k") == 1)
    val after = MergeOnRead.fsck(spark, root, deep = true)
    assert(after.deepVerified,
      s"the folded base must be re-stamped and verified: $after")
    assert(MergeOnRead.readCurrent(spark, root, "k")
      .orderBy("k").as[(Int, String)].collect().toSeq ==
      Seq((1, "alpha"), (3, "delta")))
  }

  test("sequence-aware fold verifies too: a flip in an UPDATE batch " +
      "refuses compactSeq; the horizon-surviving dirs it never folds " +
      "are not even read") {
    val root = tmpDir("graft_mor_integrity_seq")
    MergeOnRead.init(Seq((1L, 1.0), (2L, 1.0)).toDF("k", "v"), root)
    MergeOnRead.appendRowsAt(spark, root,
      Seq((3L, 2.0)).toDF("k", "v"), 1L)
    MergeOnRead.deleteKeysAt(spark, root, Seq(2L).toDF("k"), 1L)
    MergeOnRead.appendRowsAt(spark, root,
      Seq((4L, 3.0)).toDF("k", "v"), 2L)
    val up1 = new Path(s"$root/updates/u1")
    val fs = up1.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = fs.listStatus(up1).map(_.getPath)
      .filter(q => !q.getName.startsWith("_") &&
        !q.getName.startsWith(".") && fs.getFileStatus(q).getLen > 8)
      .minBy(_.getName.toString)
    val orig = flipByte(root, victim)
    // u2 is PAST the horizon: corrupting it must not block a fold
    // that never touches it — only folded inputs are verified
    val e = intercept[Exception] {
      MergeOnRead.compactSeq(spark, root, "k", horizonSeq = 1L)
    }
    assert(msgChain(e).exists(m => m.contains(victim.getName) &&
      m.contains("refusing to fold")), s"${msgChain(e)}")
    val out = fs.create(victim, true)
    try out.write(orig) finally out.close()
    MergeOnRead.compactSeq(spark, root, "k", horizonSeq = 1L)
    assert(MergeOnRead.fsck(spark, root, deep = true).deepVerified)
    assert(MergeOnRead.readCurrentSeq(spark, root, "k")
      .as[(Long, Double)].collect().toSet ==
      Set((1L, 1.0), (3L, 2.0), (4L, 3.0)))
  }
}
