package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.Transaction
import graft.sources.Commit

/** Laws of the multi-table atomic publish: manifest-resolved reads,
  * carry-forward of unchanged tables, torn-publish invisibility, and
  * crash-leftover recovery.
  */
class TransactionSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String = tmpDir("graft_txspec")

  test("publish/read round trip; unchanged table carries forward") {
    val root = freshRoot()
    val a0 = Seq((1, "x"), (2, "y")).toDF("k", "v")
    val b0 = Seq((1, 10), (2, 20)).toDF("k", "n")
    assert(Transaction.publish(spark, root, Map("a" -> a0, "b" -> b0)) == 0L)
    val a1 = Seq((1, "x2"), (2, "y2")).toDF("k", "v")
    assert(Transaction.publish(spark, root, Map("a" -> a1)) == 1L)
    // tx1 manifest: a rewritten at 1, b carried forward at 0
    assert(Transaction.manifest(spark, root, 1L) ==
      Map("a" -> 1L, "b" -> 0L))
    // latest read pairs new a with carried b
    val got = Transaction.read(spark, root, "a")
      .join(Transaction.read(spark, root, "b"), "k")
      .orderBy("k").as[(Int, String, Int)].collect().toSeq
    assert(got == Seq((1, "x2", 10), (2, "y2", 20)))
    // time travel to tx0 sees the original pair
    val old = Transaction.read(spark, root, "a", Some(0L))
      .orderBy("k").as[(Int, String)].collect().toSeq
    assert(old == Seq((1, "x"), (2, "y")))
  }

  test("torn publish (data staged, no manifest) is invisible; the next " +
      "publish recovers the leftover and commits") {
    val root = freshRoot()
    val a0 = Seq((1, 100)).toDF("k", "n")
    Transaction.publish(spark, root, Map("a" -> a0))
    // simulate a crash: tx1 data lands but the commit rename never ran
    Seq((1, 999)).toDF("k", "n")
      .write.parquet(s"$root/a/t1")
    // readers still resolve through the last committed manifest
    assert(Transaction.committedTxs(spark, root) == Seq(0L))
    assert(Transaction.read(spark, root, "a")
      .as[(Int, Int)].collect().toSeq == Seq((1, 100)))
    // a retried publish at the same txId replaces the orphan and commits
    val tx = Transaction.publish(spark, root,
      Map("a" -> Seq((1, 200)).toDF("k", "n")))
    assert(tx == 1L)
    assert(Transaction.read(spark, root, "a")
      .as[(Int, Int)].collect().toSeq == Seq((1, 200)))
  }

  test("cross-table consistency: every committed tx satisfies the " +
      "invariant even when tables change together") {
    val root = freshRoot()
    // invariant: sum(b.n) == count(a) * 10 in every transaction
    Transaction.publish(spark, root, Map(
      "a" -> Seq(1, 2).toDF("k"),
      "b" -> Seq((1, 10), (2, 10)).toDF("k", "n")))
    Transaction.publish(spark, root, Map(
      "a" -> Seq(1, 2, 3).toDF("k"),
      "b" -> Seq((1, 10), (2, 10), (3, 10)).toDF("k", "n")))
    for (tx <- Transaction.committedTxs(spark, root)) {
      val nA = Transaction.read(spark, root, "a", Some(tx)).count()
      val sumB = Transaction.read(spark, root, "b", Some(tx))
        .agg(sum("n")).as[Long].head()
      assert(sumB == nA * 10, s"tx $tx torn: count(a)=$nA sum(b)=$sumB")
    }
  }

  test("tags pin transactions; vacuum keeps refs and carried-forward " +
      "versions reachable, drops the rest") {
    val root = freshRoot()
    // tx0: a+b; tx1: only a changes (b carries forward at version 0);
    // tx2, tx3: only a changes again
    Transaction.publish(spark, root, Map(
      "a" -> Seq((1, 0)).toDF("k", "n"), "b" -> Seq(10).toDF("m")))
    Transaction.publish(spark, root, Map("a" -> Seq((1, 1)).toDF("k", "n")))
    Transaction.publish(spark, root, Map("a" -> Seq((1, 2)).toDF("k", "n")))
    Transaction.tag(spark, root, "release", 1L)
    Transaction.publish(spark, root, Map("a" -> Seq((1, 3)).toDF("k", "n")))
    // keep=1 would keep only tx3, but the tag pins tx1
    val dropped = Transaction.vacuum(spark, root, keep = 1)
    assert(dropped == Seq(0L, 2L))
    // tagged read still works end-to-end
    assert(Transaction.readRef(spark, root, "a", "release")
      .as[(Int, Int)].head() == ((1, 1)))
    // b's ONLY version (t0, written in dropped tx0) survives because
    // kept manifests still reference it — the reachability law
    assert(Transaction.read(spark, root, "b").as[Int].head() == 10)
    // dropped tx manifests are gone; kept ones resolve
    assert(Transaction.committedTxs(spark, root) == Seq(1L, 3L))
    intercept[IllegalArgumentException] {
      Transaction.read(spark, root, "a", Some(2L))
    }
    // a's unreachable version dirs were deleted, reachable kept
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val aVersions = fs.listStatus(new Path(root, "a"))
      .map(_.getPath.getName).toSet
    assert(aVersions == Set("t1", "t3"))
    // nothing left to drop: a second vacuum drops nothing
    assert(Transaction.vacuum(spark, root, keep = 1).isEmpty)
    assert(Transaction.committedTxs(spark, root) == Seq(1L, 3L))
    // ids keep ascending past a vacuum: never a vacated id
    assert(Transaction.publish(spark, root,
      Map("a" -> Seq((1, 4)).toDF("k", "n"))) == 4L)
  }

  test("vacuum racing a publish keeps the member dir the publish just " +
      "placed; an aged crashed-publish orphan still goes") {
    val root = freshRoot()
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    Transaction.publish(spark, root, Map("a" -> Seq(0).toDF("k")))
    Transaction.publish(spark, root, Map("a" -> Seq(1).toDF("k")))
    // the vacuum runs after tx2 placed a/t2 and before its manifest
    // lands: a/t2 is referenced by no committed manifest yet
    Transaction.commitBarrier =
      () => { Transaction.vacuum(spark, root, keep = 1); () }
    val tx =
      try Transaction.publish(spark, root, Map("a" -> Seq(1, 2).toDF("k")))
      finally Transaction.commitBarrier = () => ()
    assert(tx == 2L)
    assert(Transaction.read(spark, root, "a").as[Int].collect()
      .sorted.toSeq == Seq(1, 2))
    val report = Transaction.fsck(spark, root, deep = true)
    assert(report.clean && report.deepVerified, report.toString)
    // a crashed publish's member dir, older than any grace: an orphan
    // the next vacuum removes with the member of the dropped tx1
    val orphan = new Path(root, "a/t9")
    Seq(9).toDF("k").write.parquet(orphan.toString)
    fs.setTimes(orphan, System.currentTimeMillis() - 60000L, -1L)
    assert(Transaction.fsck(spark, root).orphanVersionDirs == 1)
    assert(Transaction.vacuum(spark, root, keep = 1, graceMs = 0L) ==
      Seq(1L))
    assert(fs.listStatus(new Path(root, "a")).map(_.getPath.getName)
      .toSet == Set("t2"))
    assert(Transaction.fsck(spark, root, deep = true).deepVerified)
  }

  test("publish refuses a table name the root or its manifest cannot " +
      "hold, before anything is staged") {
    val root = freshRoot()
    Transaction.publish(spark, root, Map("a" -> Seq(1).toDF("k")))
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def listing(p: Path = new Path(root)): Seq[String] =
      fs.listStatus(p).toSeq.flatMap(st =>
        st.getPath.toString +: (if (st.isDirectory) listing(st.getPath)
          else Nil))
    val before = listing()
    // `_promoted` would fence the root, `_refs` would break vacuum's
    // ref walk, `__staging_x` is swept by vacuum, and a `"` mis-parses
    // in the manifest
    for (bad <- Seq("", "_promoted", "_refs", "_commits", "__staging_x",
        ".hidden", "a/b", "x\"y", "x\\y")) {
      val e = intercept[IllegalArgumentException] {
        Transaction.publish(spark, root,
          Map("a" -> Seq(2).toDF("k"), bad -> Seq(3).toDF("k")))
      }
      assert(e.getMessage.contains("bad table name"), s"'$bad': $e")
      assert(Transaction.committedTxs(spark, root) == Seq(0L), bad)
      assert(listing() == before, s"'$bad' staged something")
    }
    assert(!Transaction.isPromoted(spark, root))
    // the names in use pass
    assert(Transaction.publish(spark, root, Map("b" -> Seq(1).toDF("k"),
      "orders" -> Seq(1).toDF("k"), "etl_job" -> Seq(1).toDF("k"),
      "bitcoin.price_usd" -> Seq(1).toDF("k"))) == 1L)
    assert(Transaction.manifest(spark, root, 1L).keySet ==
      Set("a", "b", "orders", "etl_job", "bitcoin.price_usd"))
  }

  test("re-tagging moves the name; tagging uncommitted tx fails") {
    val root = freshRoot()
    Transaction.publish(spark, root, Map("a" -> Seq(1).toDF("k")))
    Transaction.publish(spark, root, Map("a" -> Seq(2).toDF("k")))
    Transaction.tag(spark, root, "prod", 0L)
    Transaction.tag(spark, root, "prod", 1L)
    assert(Transaction.refTx(spark, root, "prod") == 1L)
    intercept[IllegalArgumentException] {
      Transaction.tag(spark, root, "prod", 99L)
    }
  }

  test("tag refuses '.' and '..' before staging anything; the root's " +
      "refs and vacuum keep working") {
    val root = freshRoot()
    Transaction.publish(spark, root, Map("a" -> Seq(1).toDF("k")))
    Transaction.publish(spark, root, Map("a" -> Seq(2).toDF("k")))
    // `.` resolves to `_refs` itself and `..` to the root
    Seq(".", "..", ".hidden", "__x", "a/b", "").foreach { name =>
      val e = intercept[IllegalArgumentException] {
        Transaction.tag(spark, root, name, 0L)
      }
      assert(e.getMessage.contains(s"bad ref name '$name'"), e.getMessage)
    }
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.isFile(new Path(root, "_refs")), "_refs must never become a file")
    Transaction.tag(spark, root, "v1", 0L)
    assert(Transaction.refTx(spark, root, "v1") == 0L)
    assert(Transaction.vacuum(spark, root, keep = 1).isEmpty,
      "tx0 is pinned, tx1 is the newest: nothing drops")
    assert(Transaction.readRef(spark, root, "a", "v1").as[Int].collect()
      .toSeq == Seq(1))
  }

  test("streaming publish: EVERY committed tx pairs its summary with " +
      "exactly its deltas (cross-table atomicity under micro-batches)") {
    import org.apache.spark.sql.functions._
    val txRoot = graft.streaming.Streams
      .txPublishViaStream(spark, "/root/testdata/sf0.001")
    val txs = Transaction.committedTxs(spark, txRoot)
    assert(txs.size >= 2, s"expected several micro-batch txs, got $txs")
    for (tx <- txs) {
      // re-fold the deltas of tx 0..tx: every committed snapshot must
      // be internally consistent, not just the last one
      val deltas = txs.filter(_ <= tx).map(t =>
        Transaction.read(spark, txRoot, "delta", Some(t)))
        .reduce(_ unionByName _)
      val refold = deltas.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("total_cents"))
        .orderBy("event_type")
        .as[(String, Long, Long)].collect().toSeq
      val summary = Transaction.read(spark, txRoot, "summary", Some(tx))
        .orderBy("event_type")
        .as[(String, Long, Long)].collect().toSeq
      assert(summary == refold, s"tx $tx summary out of step with deltas")
    }
  }

  test("reading a table absent from the manifest fails loudly") {
    val root = freshRoot()
    Transaction.publish(spark, root, Map("a" -> Seq(1).toDF("k")))
    val e = intercept[IllegalArgumentException] {
      Transaction.read(spark, root, "missing")
    }
    assert(e.getMessage.contains("missing"))
  }

  test("read takes its schema from a member footer: the pipeline's six " +
      "tables, a zero-row member and a multi-file member read exactly " +
      "as Spark's inference reads them, with no Spark job; a member " +
      "with no payload file still fails loudly") {
    import org.apache.spark.graft.SparkJobs
    import graft.model.{BitcoinWarehouse, EtlJob}
    val base = freshRoot()
    val fixtures = s"$base/fixtures"
    BitcoinFixtures.write(fixtures)
    val root = s"$base/tx"
    val specs = BitcoinWarehouse.all
    val pipe = new graft.runner.AtomicPipeline(spark,
      new graft.sources.FixtureSource(fixtures), root)
    pipe.seed(specs.map(s => EtlJob(s.jobName, s.queryId, s.targetTable,
      s.pKeys.mkString(","), None, 1, None, None, None, None)))
    assert(pipe.run(specs).forall(_.error.isEmpty))
    Transaction.publish(spark, root, Map(
      "empty" -> Seq.empty[(Long, String)].toDF("k", "s"),
      "multi" -> (1 to 30).map(i => (i.toLong, s"r$i")).toDF("k", "s")
        .repartition(3)))
    val m = Transaction.manifest(spark, root,
      Transaction.committedTxs(spark, root).last)
    val dirOf = (t: String) => s"$root/$t/t${m(t)}"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.sources.Integrity.payload(fs, new Path(dirOf("multi")))
      .size === 3)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    (specs.map(_.targetTable) ++ Seq(pipe.StateTable, "empty", "multi"))
      .foreach { t =>
        val (got, jobs) = SparkJobs.count(spark.sparkContext)(
          Transaction.read(spark, root, t))
        assert(jobs === 0, s"$t: resolving the read launched $jobs jobs")
        val inferred = spark.read.parquet(dirOf(t))
        assert(got.schema === inferred.schema, s"$t: schema differs")
        assert(rowsOf(got) === rowsOf(inferred), s"$t: rows differ")
      }
    assert(Transaction.read(spark, root, "empty").count() === 0L)
    // no payload file: Spark's inference has nothing to read and says so
    graft.sources.Integrity.payload(fs, new Path(dirOf("multi")))
      .foreach(n => fs.delete(new Path(dirOf("multi"), n), false))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Transaction.read(spark, root, "multi")
    }
    assert(e.getMessage.toLowerCase.contains("infer schema"), e.getMessage)
  }

  test("syncTo replicates a WHOLE transaction atomically: a replica " +
      "reader racing the per-table copies resolves only same-tx " +
      "(facts, summary) pairs — mid-sync it still serves the previous " +
      "tx; the manifest rename is the only switch point") {
    val src = freshRoot()
    val dst = freshRoot()
    // every tx writes a CONSISTENT pair: facts tagged `tx`, summary =
    // (tx, count). A reader that ever pairs facts from one tx with a
    // summary from another is torn — exactly what per-table
    // replication produces and syncTo must not.
    def pair(tx: Long, n: Int) = Map(
      "facts" -> (1 to n).map(i => (i.toLong, tx)).toDF("k", "tx"),
      "summary" -> Seq((tx, n.toLong)).toDF("tx", "n"))
    Transaction.publish(spark, src, pair(0L, 3))
    assert(Transaction.syncTo(spark, src, dst) == 2) // both tables copy
    def replicaPair(): (Long, Long, Long, Long) = {
      val f = Transaction.read(spark, dst, "facts")
        .agg(min("tx"), max("tx"), count(lit(1))).collect().head
      val s = Transaction.read(spark, dst, "summary").collect().head
      (f.getLong(0), f.getLong(1), f.getLong(2), s.getLong(0))
    }
    assert(replicaPair() == (0L, 0L, 3L, 0L))
    // tx1 rewrites BOTH tables at the source
    Transaction.publish(spark, src, pair(1L, 5))
    // hold the next sync open at its commit point: data dirs for tx1
    // are fully copied, manifest not yet renamed — the reader races
    // exactly the window where per-table replication serves a blend
    val atBarrier = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    Transaction.syncBarrier = () => { atBarrier.countDown(); release.await() }
    val copied = new java.util.concurrent.atomic.AtomicInteger(-1)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() => {
      try copied.set(Transaction.syncTo(spark, src, dst))
      catch { case e: Throwable => failure.set(e) }
    }, "tx-sync")
    t.start()
    try {
      assert(atBarrier.await(60, java.util.concurrent.TimeUnit.SECONDS))
      // MID-SYNC: tx1's bytes are all on the replica's disk, but the
      // reader must still resolve the COMMITTED pair — tx0/tx0
      for (_ <- 1 to 3) {
        val (lo, hi, n, s) = replicaPair()
        assert(lo == 0L && hi == 0L && n == 3L && s == 0L,
          s"mid-sync read must be the previous tx's pair, got " +
            s"facts tx in [$lo,$hi] n=$n summary tx=$s")
      }
    } finally {
      release.countDown()
      Transaction.syncBarrier = () => ()
      t.join(60000)
    }
    assert(failure.get() == null, s"sync failed: ${failure.get()}")
    assert(copied.get() == 2, "tx1 rewrote both tables -> both copy")
    // AFTER the manifest rename: the new pair, atomically
    assert(replicaPair() == (1L, 1L, 5L, 1L))
    // incremental: tx2 rewrites only facts — summary carries forward
    // and its version dir must NOT re-copy
    Transaction.publish(spark, src,
      Map("facts" -> (1 to 7).map(i => (i.toLong, 2L)).toDF("k", "tx")))
    assert(Transaction.syncTo(spark, src, dst) == 1,
      "carry-forward table must not re-copy")
    val f2 = Transaction.read(spark, dst, "facts")
      .agg(max("tx"), count(lit(1))).collect().head
    assert((f2.getLong(0), f2.getLong(1)) == (2L, 7L))
    // the carried summary still resolves (tx1's version dir serves it)
    assert(Transaction.read(spark, dst, "summary")
      .collect().head.getLong(0) == 1L)
    // idempotent re-sync: nothing to copy, nothing rewritten
    assert(Transaction.syncTo(spark, src, dst) == 0)
  }

  // ---- content integrity (round 13): sidecars, verified sync ------

  private def flipByte(path: org.apache.hadoop.fs.Path): Unit = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(path).getLen
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(path)
    try in.readFully(buf) finally in.close()
    buf(len.toInt / 2) = (buf(len.toInt / 2) ^ 0x01).toByte
    val out = fs.create(path, true)
    try out.write(buf) finally out.close()
    assert(fs.getFileStatus(path).getLen == len,
      "the corruption must keep the recorded size")
  }

  private def fsOf(root: String) = new Path(root).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def firstDataFile(root: String, table: String,
      v: Long): Path = {
    val dir = new Path(root, s"$table/t$v")
    val fs = fsOf(root)
    fs.listStatus(dir).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .minBy(_.getName.toString)
  }

  test("syncTo verifies every copied byte against the _checksums " +
      "sidecar: a flipped source byte REFUSES loudly instead of " +
      "propagating; the replica never commits the torn tx") {
    val src = freshRoot()
    val dst = freshRoot()
    Transaction.publish(spark, src, Map(
      "a" -> (1 to 50).map(i => (i, s"v$i")).toDF("k", "v"),
      "b" -> Seq((1, 10)).toDF("k", "n")))
    // same-size corruption in a data file AFTER publish recorded its
    // checksum — exactly what bit rot / a wrong-region restore does
    flipByte(firstDataFile(src, "a", 0L))
    val e = intercept[Exception] {
      Transaction.syncTo(spark, src, dst)
    }
    assert(e.getMessage != null &&
      e.getMessage.contains("refusing to propagate corruption") ||
      Option(e.getCause).exists(_.getMessage
        .contains("refusing to propagate corruption")),
      s"sync must refuse naming the corruption, got: $e")
    // the commit point never ran: the replica holds NO committed tx
    assert(Transaction.committedTxs(spark, dst).isEmpty,
      "a refused sync must not commit a manifest")
  }

  test("legacy sidecar-less version dirs sync UNVERIFIED with a loud " +
      "count, never silently as verified; a re-published table " +
      "regains full verification") {
    val src = freshRoot()
    val dst = freshRoot()
    Transaction.publish(spark, src, Map(
      "a" -> Seq((1, "x")).toDF("k", "v")))
    // simulate a legacy publish: drop the sidecar
    val fs = fsOf(src)
    fs.delete(new Path(src, "a/t0/_checksums"), false)
    assert(Transaction.syncTo(spark, src, dst) == 1)
    assert(Transaction.lastSyncUnverified > 0,
      "sidecar-less files must be counted unverified, loudly")
    assert(Transaction.read(spark, dst, "a")
      .as[(Int, String)].head() == ((1, "x")))
    // the next (sidecar-bearing) tx syncs fully verified again
    Transaction.publish(spark, src, Map(
      "a" -> Seq((2, "y")).toDF("k", "v")))
    assert(Transaction.syncTo(spark, src, dst) == 1)
    assert(Transaction.lastSyncUnverified == 0)
  }

  // ---- failover: promote + fencing (round 13) ----------------------

  test("failover sequence: promote -> local tx OK -> old-source " +
      "syncTo refused naming the promotion -> force re-subjugates, " +
      "discarding the divergent local history") {
    val src = freshRoot()
    val dst = freshRoot()
    Transaction.publish(spark, src, Map(
      "a" -> Seq((1, 0L)).toDF("k", "tx")))
    Transaction.publish(spark, src, Map(
      "a" -> Seq((1, 1L)).toDF("k", "tx")))
    Transaction.syncTo(spark, src, dst)
    Transaction.promote(spark, dst)
    // promoting twice errors
    val twice = intercept[Exception] { Transaction.promote(spark, dst) }
    assert(twice.getMessage.contains("already promoted"))
    // post-failover LOCAL transaction at the promoted root
    val localTx = Transaction.publish(spark, dst, Map(
      "a" -> Seq((1, 99L)).toDF("k", "tx")))
    assert(localTx == 2L, "local txIds continue above synced history")
    assert(Transaction.read(spark, dst, "a")
      .collect().head.getLong(1) == 99L)
    // the resurrected old source keeps publishing, then tries to sync
    Transaction.publish(spark, src, Map(
      "a" -> Seq((1, 2L)).toDF("k", "tx")))
    val fenced = intercept[Exception] {
      Transaction.syncTo(spark, src, dst)
    }
    assert(fenced.getMessage.contains("PROMOTED"),
      s"old-source sync must refuse naming the promotion: $fenced")
    // the local commit survived the refused sync
    assert(Transaction.read(spark, dst, "a")
      .collect().head.getLong(1) == 99L)
    // force = the explicit discard-and-resubjugate escape: the fence
    // clears, the divergent local tx leaves the commit set, and the
    // replica follows the source again — byte-verified
    assert(Transaction.syncTo(spark, src, dst, force = true) >= 1)
    assert(!Transaction.isPromoted(spark, dst))
    assert(Transaction.committedTxs(spark, dst).max == 2L)
    assert(Transaction.read(spark, dst, "a")
      .collect().head.getLong(1) == 2L,
      "after force the replica must serve the SOURCE's tx2, not the " +
        "discarded local one")
    // ...and normal syncs work again
    Transaction.publish(spark, src, Map(
      "a" -> Seq((1, 3L)).toDF("k", "tx")))
    assert(Transaction.syncTo(spark, src, dst) == 1)
  }

  test("commit-time conviction: a sync paused between its last fence " +
      "check and its manifest rename for the WHOLE promotion retracts " +
      "its own commit, burns the vacated txId with a floor marker, " +
      "and fails naming the promotion — never a silent ack") {
    val src = freshRoot()
    val dst = freshRoot()
    Transaction.publish(spark, src, Map("a" -> Seq((1, 0L)).toDF("k", "tx")))
    Transaction.syncTo(spark, src, dst)
    Transaction.publish(spark, src, Map("a" -> Seq((1, 1L)).toDF("k", "tx")))
    val atBarrier = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    Transaction.syncBarrier = () => { atBarrier.countDown(); release.await() }
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() => {
      try { Transaction.syncTo(spark, src, dst); () }
      catch { case e: Throwable => failure.set(e) }
    }, "tx-convict-sync")
    t.start()
    try {
      assert(atBarrier.await(60, java.util.concurrent.TimeUnit.SECONDS))
      // the WHOLE promotion completes inside the straggler's window
      Transaction.promote(spark, dst)
    } finally {
      release.countDown()
      Transaction.syncBarrier = () => ()
      t.join(60000)
    }
    val e = failure.get()
    assert(e != null && e.getMessage.contains("PROMOTED") &&
      e.getMessage.contains("retracted"),
      s"the straggler must convict itself naming the promotion: $e")
    // its commit was retracted: the replica still serves tx0
    assert(Transaction.committedTxs(spark, dst) == Seq(0L))
    assert(Transaction.read(spark, dst, "a")
      .collect().head.getLong(1) == 0L)
    // the vacated id is BURNED: the next local publish at the
    // promoted root claims a fresh number, so no reader that resolved
    // the retracted tx1 in the race window can conflate it with
    // different later content at the same id
    val next = Transaction.publish(spark, dst, Map(
      "a" -> Seq((1, 50L)).toDF("k", "tx")))
    assert(next == 2L,
      s"txId 1 was vacated by the conviction and must never be " +
        s"re-minted, got $next")
  }

  // `file:` resolves to Hive's ProxyLocalFileSystem when hive-exec is
  // on the classpath, and to Hadoop's LocalFileSystem otherwise; the
  // latter's rename REPLACES an existing target. A local publish of a
  // new table writes a different manifest; one rewriting the synced
  // table writes the very bytes the sync was about to place.
  for (impl <- Seq("org.apache.hadoop.fs.LocalFileSystem",
      "org.apache.hadoop.fs.ProxyLocalFileSystem");
      (local, refusal) <- Seq("b" -> "DIFFERENT tx manifest",
        "a" -> "PROMOTED"))
    test("a sync losing its commit to a local publish at a just-" +
        "promoted root fails loudly and the local tx stands " +
        s"($impl, local table $local)") {
      val conf = spark.sparkContext.hadoopConfiguration
      val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
      val saved = keys.map(k => k -> Option(conf.get(k)))
      conf.set("fs.file.impl", impl)
      conf.set("fs.file.impl.disable.cache", "true")
      try {
        assert(new Path("file:///").getFileSystem(conf).getClass.getName ==
          impl)
        val src = freshRoot()
        val dst = freshRoot()
        Transaction.publish(spark, src, Map("a" -> Seq((1, 0L)).toDF("k", "n")))
        Transaction.syncTo(spark, src, dst)
        Transaction.publish(spark, src, Map("a" -> Seq((1, 1L)).toDF("k", "n")))
        // the whole promotion and a local publish (claiming tx 1) land
        // inside the sync's window before its commit point
        Transaction.syncBarrier = () => {
          Transaction.promote(spark, dst)
          assert(Transaction.publish(spark, dst,
            Map(local -> Seq((7, 70L)).toDF("k", "n"))) == 1L)
        }
        val e = intercept[Exception] {
          Transaction.syncTo(spark, src, dst)
        }
        assert(e.getMessage.contains(refusal), s"$e")
        assert(Transaction.committedTxs(spark, dst) == Seq(0L, 1L))
        assert(Transaction.read(spark, dst, local).as[(Int, Long)]
          .collect().toSeq == Seq((7, 70L)))
      } finally {
        Transaction.syncBarrier = () => ()
        saved.foreach {
          case (k, Some(v)) => conf.set(k, v)
          case (k, None) => conf.unset(k)
        }
      }
    }

  // ---- placement: a racer at the final name -------------------------

  /** Run `body` with `plant` at [[Commit.placeBarrier]], which gets
    * each placement's staged path and final name right before the move.
    */
  private def planting[A](plant: (Path, Path) => Unit)(body: => A): A = {
    Commit.placeBarrier = plant
    try body finally Commit.placeBarrier = (_, _) => ()
  }

  private def localFs = new Path("file:///")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A non-empty member-like dir with rows of its own at `dest`. */
  private def plantRows(dest: Path, n: Int): Unit =
    Seq((1, n), (2, n)).toDF("k", "n").write.parquet(dest.toString)

  test("publish drops a dir planted at its member's name right before " +
      "placement and commits its own rows") {
    val root = freshRoot()
    Transaction.publish(spark, root, Map("a" -> Seq((1, 100)).toDF("k", "n")))
    var planted = 0
    val tx = planting { (_, dest) =>
      if (dest.getName == "t1" && planted == 0) {
        planted += 1
        plantRows(dest, 999)
      }
    } {
      Transaction.publish(spark, root, Map("a" -> Seq((1, 200)).toDF("k", "n")))
    }
    assert(planted == 1 && tx == 1L)
    assert(Transaction.read(spark, root, "a").as[(Int, Int)]
      .collect().toSeq == Seq((1, 200)))
    assert(Transaction.fsck(spark, root, deep = true).deepVerified)
  }

  test("publish fails loudly, committing nothing, when a dir is planted " +
      "at its member's name before every placement") {
    val root = freshRoot()
    Transaction.publish(spark, root, Map("a" -> Seq((1, 100)).toDF("k", "n")))
    var planted = 0
    val e = intercept[java.io.IOException](planting { (_, dest) =>
      if (dest.getName == "t1" && !localFs.exists(dest)) {
        planted += 1
        plantRows(dest, 999)
      }
    } {
      Transaction.publish(spark, root, Map("a" -> Seq((1, 200)).toDF("k", "n")))
    })
    assert(planted == 2, s"placed once more after the first refusal: $e")
    assert(e.getMessage.contains("a/t1"), s"$e")
    assert(Transaction.committedTxs(spark, root) == Seq(0L))
    assert(Transaction.read(spark, root, "a").as[(Int, Int)]
      .collect().toSeq == Seq((1, 100)))
  }

  test("syncTo refuses a dir with other rows planted at a member's name, " +
      "naming the member, and accepts a byte copy of the source member") {
    val src = freshRoot()
    Transaction.publish(spark, src, Map("a" -> Seq((1, 10)).toDF("k", "n")))
    val srcMember = new Path(src, "a/t0")
    val dst = freshRoot()
    val e = intercept[Exception](planting { (_, dest) =>
      if (dest.getName == "t0") plantRows(dest, 99)
    } {
      Transaction.syncTo(spark, src, dst)
    })
    assert(e.getMessage.contains("a/t0") &&
      e.getMessage.contains("diverges from the source"), s"$e")
    assert(Transaction.committedTxs(spark, dst).isEmpty)
    // what a racing sync of the same tx leaves at the name
    val twin = freshRoot()
    val fs = localFs
    planting { (_, dest) =>
      if (dest.getName == "t0") org.apache.hadoop.fs.FileUtil.copy(
        fs, srcMember, fs, dest, false, fs.getConf)
    } {
      assert(Transaction.syncTo(spark, src, twin) == 1)
    }
    assert(Transaction.committedTxs(spark, twin) == Seq(0L))
    assert(Transaction.read(spark, twin, "a").as[(Int, Int)]
      .collect().toSeq == Seq((1, 10)))
    // a byte copy of the source member plus one more payload file holds
    // the synced sidecar but not the synced rows
    val other = new Path(freshRoot(), "rows")
    plantRows(other, 99)
    val extraFile = graft.sources.Integrity.payload(fs, other).head
    def pad(member: Path): Unit = org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(other, extraFile), fs, new Path(member, "part-extra.parquet"),
      false, fs.getConf)
    def refused(e: Exception): Unit = assert(e.getMessage.contains("a/t0") &&
      e.getMessage.contains("diverges from the source"), s"$e")
    def readsSource(dst: String): Unit = {
      assert(Transaction.read(spark, dst, "a").as[(Int, Int)]
        .collect().toSeq == Seq((1, 10)))
      assert(Transaction.read(spark, dst, "b").as[(Int, Int)]
        .collect().toSeq == Seq((2, 20)))
    }
    // (a) at the replica when a later sync carries the member forward
    pad(new Path(twin, "a/t0"))
    Transaction.publish(spark, src, Map("b" -> Seq((2, 20)).toDF("k", "n")))
    refused(intercept[Exception](Transaction.syncTo(spark, src, twin)))
    assert(Transaction.committedTxs(spark, twin) == Seq(0L))
    assert(Transaction.syncTo(spark, src, twin, force = true) == 2)
    readsSource(twin)
    // (b) planted at the member's name right before placement
    val padded = freshRoot()
    refused(intercept[Exception](planting { (_, dest) =>
      if (dest.getName == "t0") {
        org.apache.hadoop.fs.FileUtil.copy(fs, srcMember, fs, dest, false,
          fs.getConf)
        pad(dest)
      }
    } {
      Transaction.syncTo(spark, src, padded)
    }))
    assert(Transaction.committedTxs(spark, padded).isEmpty)
    assert(Transaction.syncTo(spark, src, padded, force = true) == 2)
    readsSource(padded)
  }

  test("a re-pointed ref stays resolvable throughout: a refTx racing the " +
      "re-point reads the old tx") {
    val root = freshRoot()
    Transaction.publish(spark, root, Map("a" -> Seq(1).toDF("k")))
    Transaction.publish(spark, root, Map("a" -> Seq(2).toDF("k")))
    Transaction.tag(spark, root, "r", 0L)
    var seen = Option.empty[Long]
    planting { (_, dest) =>
      if (dest.getName == "r") seen = Some(Transaction.refTx(spark, root, "r"))
    } {
      Transaction.tag(spark, root, "r", 1L)
    }
    assert(seen.contains(0L))
    assert(Transaction.refTx(spark, root, "r") == 1L)
  }

  // ---- tx-root fsck (round 13) --------------------------------------

  test("fsck walks committed members: healthy root deep-verifies; " +
      "orphans and stale staging tally as GC debris, not damage; a " +
      "vanished member dir and a same-size byte flip are named") {
    val root = freshRoot()
    Transaction.publish(spark, root, Map(
      "a" -> (1 to 40).map(i => (i, s"v$i")).toDF("k", "v"),
      "b" -> Seq((1, 10)).toDF("k", "n")))
    Transaction.publish(spark, root, Map(
      "a" -> (1 to 40).map(i => (i, s"w$i")).toDF("k", "v")))
    val healthy = Transaction.fsck(spark, root, deep = true)
    assert(healthy.deepVerified && healthy.txsChecked == 2 &&
      healthy.membersChecked == 3 && healthy.filesChecked > 0,
      s"healthy root must deep-verify: $healthy")
    // GC debris: an uncommitted version dir + a stale staging dir —
    // clean, tallied
    val fs = fsOf(root)
    fs.mkdirs(new Path(root, "a/t99"))
    fs.mkdirs(new Path(root, "__staging_deadbeef"))
    val debris = Transaction.fsck(spark, root, deep = true)
    assert(debris.deepVerified && debris.orphanVersionDirs == 1 &&
      debris.staleStaging == 1, s"debris is not damage: $debris")
    // vacuum OWNS the staging debris: beyond the grace window it
    // sweeps crashed-writer leftovers even when no transaction
    // expires (the orphan version dir waits for an expiry's
    // reachability walk — the existing vacuum law)
    assert(Transaction.vacuum(spark, root, keep = 2, graceMs = 0L).isEmpty)
    val swept = Transaction.fsck(spark, root, deep = true)
    assert(swept.deepVerified && swept.staleStaging == 0 &&
      swept.orphanVersionDirs == 1, s"staging swept, orphan kept: $swept")
    // same-size flip in a member referenced by committed history:
    // shallow stays clean (it cannot see content), deep names it
    val victim = firstDataFile(root, "a", 0L)
    flipByte(victim)
    val shallow = Transaction.fsck(spark, root)
    assert(shallow.clean, s"shallow cannot see same-size damage: $shallow")
    val deep = Transaction.fsck(spark, root, deep = true)
    assert(!deep.clean && deep.checksumMismatches.size == 1 &&
      deep.checksumMismatches.head.contains(victim.getName) &&
      deep.unverifiedMembers == 0,
      s"deep fsck must name exactly the flipped file: $deep")
    // a vanished member dir is MISSING (damage), not an orphan
    fs.delete(new Path(root, "b/t0"), true)
    val gone = Transaction.fsck(spark, root)
    assert(gone.missingMembers == Seq("b/t0"), s"$gone")
    // a sidecar-less legacy member is DECLINED loudly, never verified
    val root2 = freshRoot()
    Transaction.publish(spark, root2, Map("a" -> Seq(1).toDF("k")))
    fsOf(root2).delete(new Path(root2, "a/t0/_checksums"), false)
    val legacy = Transaction.fsck(spark, root2, deep = true)
    assert(legacy.clean && !legacy.deepVerified &&
      legacy.unverifiedMembers == 1,
      s"legacy members count unverified, loudly: $legacy")
  }

  test("incremental deep fsck at the tx root (sinceVerified): the " +
      "watermark chain re-hashes only members first referenced after " +
      "the last deepVerified pass; the FULL drill stays the " +
      "catch-everything check") {
    val root = freshRoot()
    Transaction.publish(spark, root, Map(
      "a" -> (1 to 30).map(i => (i, s"v$i")).toDF("k", "v"),
      "b" -> Seq((1, 10)).toDF("k", "n")))
    val full = Transaction.fsck(spark, root, deep = true)
    assert(full.deepVerified && full.contentHashed > 0 &&
      full.verifiedThrough == 0L, s"$full")
    // a new tx rewrites only `a`: the cadence pass re-hashes exactly
    // a/t1's files, skipping everything tx0 referenced
    Transaction.publish(spark, root, Map(
      "a" -> (1 to 30).map(i => (i, s"w$i")).toDF("k", "v")))
    val incr = Transaction.fsck(spark, root, deep = true,
      sinceVerified = true)
    assert(incr.deepVerified && incr.verifiedThrough == 1L &&
      incr.skippedVerified > 0 && incr.contentHashed > 0 &&
      incr.contentHashed + incr.skippedVerified == incr.filesChecked,
      s"cadence pass must re-hash only the new member: $incr")
    // nothing new: zero re-hashes
    val again = Transaction.fsck(spark, root, deep = true,
      sinceVerified = true)
    assert(again.deepVerified && again.contentHashed == 0, s"$again")
    // rot in an ALREADY-VERIFIED member is the cadence's documented
    // blind spot — and the FULL drill's catch
    flipByte(firstDataFile(root, "a", 0L))
    assert(Transaction.fsck(spark, root, deep = true,
      sinceVerified = true).deepVerified)
    val drill = Transaction.fsck(spark, root, deep = true)
    assert(!drill.clean && drill.checksumMismatches.size == 1, s"$drill")
  }

  test("a tx replica is PROVEN-VERIFIED by replication: syncTo's " +
      "end-to-end hashing feeds the watermark chain, so the " +
      "incremental deep fsck on the replica has nothing left to hash") {
    val src = freshRoot()
    val dst = freshRoot()
    Transaction.publish(spark, src, Map(
      "a" -> Seq((1, 0L)).toDF("k", "tx"),
      "b" -> Seq((1, 10)).toDF("k", "n")))
    Transaction.syncTo(spark, src, dst)
    val born = Transaction.fsck(spark, dst, deep = true,
      sinceVerified = true)
    assert(born.deepVerified && born.contentHashed == 0 &&
      born.skippedVerified > 0,
      s"first sync must leave the replica proven-verified: $born")
    // chained syncs extend the proof
    Transaction.publish(spark, src, Map(
      "a" -> Seq((1, 1L)).toDF("k", "tx")))
    Transaction.syncTo(spark, src, dst)
    val synced = Transaction.fsck(spark, dst, deep = true,
      sinceVerified = true)
    assert(synced.deepVerified && synced.contentHashed == 0, s"$synced")
  }

  test("syncTo carries source REFS: the replica's vacuum keeps what " +
      "the source pins, re-points follow, unsynced pins are skipped") {
    val src = freshRoot()
    val dst = freshRoot()
    Transaction.publish(spark, src, Map("a" -> Seq((1, 0)).toDF("k", "tx")))
    Transaction.tag(spark, src, "release", 0L)
    assert(Transaction.syncTo(spark, src, dst) == 1)
    assert(Transaction.refTx(spark, dst, "release") == 0L,
      "the GC root must carry with the sync")
    // pile on txs, vacuum the REPLICA aggressively: the carried ref
    // must keep tx0 readable there (the reproducible-corpus contract)
    (1 to 3).foreach { i =>
      Transaction.publish(spark, src,
        Map("a" -> Seq((i, i)).toDF("k", "tx")))
      Transaction.syncTo(spark, src, dst)
    }
    Transaction.vacuum(spark, dst, keep = 1)
    assert(Transaction.readRef(spark, dst, "a", "release")
      .collect().head.getInt(1) == 0,
      "replica vacuum dropped the source-pinned transaction")
    // source re-points the ref to tx2 — which the replica's OWN
    // vacuum just dropped (keep=1 kept tx3 + the pinned tx0), so the
    // carry must SKIP it (a replica cannot pin what it doesn't hold,
    // and tagging an uncommitted tx is rejected)…
    Transaction.tag(spark, src, "release", 2L)
    assert(Transaction.syncTo(spark, src, dst) == 0) // idempotent sync
    assert(Transaction.refTx(spark, dst, "release") == 0L,
      "an unsatisfiable re-point must not clobber the existing pin")
    // …and a pinned re-sync of tx2 restores the snapshot AND carries
    // the re-point with it
    assert(Transaction.syncTo(spark, src, dst, Some(2L)) == 1,
      "the replica vacuum dropped a/t2, so the pinned re-sync re-copies it")
    assert(Transaction.refTx(spark, dst, "release") == 2L,
      "the re-point follows once the replica holds the pinned tx")
    // a ref pinning a tx the replica never synced is skipped, loudly
    // but non-fatally (sync itself succeeds)
    val src2 = freshRoot()
    val dst2 = freshRoot()
    Transaction.publish(spark, src2, Map("a" -> Seq(1).toDF("k"))) // tx0
    Transaction.publish(spark, src2, Map("a" -> Seq(2).toDF("k"))) // tx1
    Transaction.tag(spark, src2, "old", 0L)
    assert(Transaction.syncTo(spark, src2, dst2, Some(1L)) == 1)
    intercept[IllegalArgumentException] {
      Transaction.refTx(spark, dst2, "old") // tx0 never synced: no pin
    }
  }

  test("vacuum vs the verified watermark: dropping the txs whose " +
      "manifests EVIDENCED a verified pass only loses coverage — a " +
      "later sinceVerified pass re-hashes, it never skips a file " +
      "whose verifying evidence was vacuumed") {
    val root = freshRoot()
    // tx0 writes a+b; tx1..tx2 rewrite only a (b carries forward at
    // version 0 — its ONLY reference below the watermark is tx0's)
    Transaction.publish(spark, root, Map(
      "a" -> Seq((1, 0)).toDF("k", "n"), "b" -> Seq(10).toDF("m")))
    Transaction.publish(spark, root, Map("a" -> Seq((1, 1)).toDF("k", "n")))
    val full = Transaction.fsck(spark, root, deep = true)
    assert(full.deepVerified && full.verifiedThrough == 1L, s"$full")
    Transaction.publish(spark, root, Map("a" -> Seq((1, 2)).toDF("k", "n")))
    // vacuum drops tx0 — the manifest that FIRST referenced (b, 0)
    // and anchored its coverage. (b, 0) itself survives: tx1/tx2
    // carry it forward.
    assert(Transaction.vacuum(spark, root, keep = 2,
      graceMs = 0L) == Seq(0L))
    // the incremental pass after the vacuum: (b, 0) is still covered
    // through SURVIVING tx1 <= watermark (sound — the verifying pass
    // hashed it and its bytes are immutable), and tx2's new (a, 2)
    // re-hashes. Nothing is skipped without a surviving tx <= k
    // referencing it.
    val incr = Transaction.fsck(spark, root, deep = true,
      sinceVerified = true)
    assert(incr.deepVerified && incr.skippedVerified >= 1, s"$incr")
    assert(incr.contentHashed >= 1 && incr.verifiedThrough == 2L,
      s"tx2's members must re-hash and the chain advance: $incr")
    // LOST-EVIDENCE branch (fresh root, watermark NOT advanced past
    // the surviving txs): vacuum drops every tx <= watermark while a
    // newer tx carries their members forward — coverage is lost with
    // the evidence, so the next sinceVerified pass must RE-HASH
    // everything rather than trust manifests that no longer exist:
    // strictly MORE hashing, never an unsound skip.
    val root2 = freshRoot()
    Transaction.publish(spark, root2, Map(
      "a" -> Seq((1, 0)).toDF("k", "n"), "b" -> Seq(10).toDF("m")))
    Transaction.publish(spark, root2,
      Map("a" -> Seq((1, 1)).toDF("k", "n")))
    assert(Transaction.fsck(spark, root2,
      deep = true).verifiedThrough == 1L)
    Transaction.publish(spark, root2,
      Map("a" -> Seq((1, 2)).toDF("k", "n")))
    assert(Transaction.vacuum(spark, root2, keep = 1,
      graceMs = 0L) == Seq(0L, 1L))
    val after = Transaction.fsck(spark, root2, deep = true,
      sinceVerified = true)
    assert(after.deepVerified && after.skippedVerified == 0 &&
      after.contentHashed == after.filesChecked &&
      after.filesChecked >= 2,
      s"lost evidence must mean re-hash, never skip: $after")
    assert(after.verifiedThrough == 2L, s"$after")
    // and the watermark file itself never dangles unusably: a flip in
    // any live member is still caught by the next cadence/drill
    val bDir = new Path(root, "b/t0")
    val fs = bDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = fs.listStatus(bDir).map(_.getPath)
      .filter(q => !q.getName.startsWith("_") &&
        !q.getName.startsWith(".")).minBy(_.getName.toString)
    val len = fs.getFileStatus(victim).getLen
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(victim)
    try in.readFully(buf) finally in.close()
    buf(len.toInt / 2) = (buf(len.toInt / 2) ^ 0x01).toByte
    val out = fs.create(victim, true)
    try out.write(buf) finally out.close()
    val drill = Transaction.fsck(spark, root, deep = true)
    assert(!drill.clean && drill.checksumMismatches.size == 1 &&
      drill.checksumMismatches.head.contains(victim.getName),
      s"post-vacuum damage stays detectable: $drill")
  }

  test("a bogus far-above __floor_tx marker cannot renumber the " +
      "root, and a non-numeric one is ignored noise — publish and " +
      "vacuum survive both (the sink's claimFloor plausibility cap)") {
    val root = freshRoot()
    Transaction.publish(spark, root, Map("a" -> Seq(1).toDF("k")))
    val commits = new Path(root, "_commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(commits, "__floor_tx999999"), false).close()
    fs.create(new Path(commits, "__floor_txabc"), false).close()
    // implausible (>> last+1) and unparseable markers are both ignored
    assert(Transaction.publish(spark, root,
      Map("a" -> Seq(2).toDF("k"))) == 1L,
      "a crafted far-above floor must not renumber the root")
    // a PLAUSIBLE floor (== last + 1, the retracted-head shape) binds
    fs.create(new Path(commits, "__floor_tx2"), false).close()
    assert(Transaction.publish(spark, root,
      Map("a" -> Seq(3).toDF("k"))) == 3L,
      "a plausible floor burns its id: the next claim skips it")
    // vacuum sweeps superseded parseable floors and tolerates the
    // noise markers without crashing
    Transaction.vacuum(spark, root, keep = 1, graceMs = 0L)
    assert(Transaction.committedTxs(spark, root) == Seq(3L))
  }

  // ---- driver-resident members ---------------------------------------

  test("a driver-resident member (its optimized plan a LocalRelation) " +
      "publishes with no Spark job as one payload file plus _checksums, " +
      "reads back exactly as the same frame written by Spark, deep-" +
      "verifies, and replicates verified") {
    import java.sql.{Date, Timestamp}
    import org.apache.spark.graft.SparkJobs
    import org.apache.spark.sql.GraftSqlInternal
    import graft.model.EtlJob
    val ts = Timestamp.valueOf("2025-01-02 03:04:05.123456")
    val frames = Seq(
      "etl_job" -> Seq(
        EtlJob("prices_usd", 5816212L, "bitcoin.price_usd", "date",
          Some(EtlJob.Done), 1, Some(ts), Some(ts), None, Some(ts)),
        EtlJob(null, 1L, "t", "k", None, 0, None, None, Some("x"), None))
        .toDS.toDF,
      "empty" -> Seq.empty[(Long, String)].toDF("k", "s"),
      "mixed" -> Seq(
        ("a", 1L, 2, 3.5, Some(ts), Some(Date.valueOf("2025-01-02"))),
        (null, -7L, 0, -0.25, None, None))
        .toDF("s", "l", "i", "d", "ts", "dt"))
    val root = freshRoot()
    val fs = fsOf(root)
    def dirOf(t: String) = new Path(root, s"$t/t${Transaction.manifest(
      spark, root, Transaction.committedTxs(spark, root).last)(t)}")
    frames.foreach { case (name, df) =>
      val (_, jobs) = SparkJobs.count(spark.sparkContext)(
        Transaction.publish(spark, root, Map(name -> df)))
      assert(jobs === 0, s"$name: the publish launched $jobs Spark jobs")
      val visible = fs.listStatus(dirOf(name)).map(_.getPath.getName)
        .filterNot(_.startsWith(".")).sorted.toSeq
      assert(visible.size === 2 && visible.head === "_checksums" &&
        visible(1).endsWith(".parquet"), s"$name: $visible")
      Transaction.publish(spark, root,
        Map(s"${name}_spark" -> df.repartition(1)))
      def footer(t: String) = GraftSqlInternal.parquetFooterSchema(spark,
        new Path(dirOf(t), graft.sources.Integrity.payload(fs, dirOf(t)).head))
      assert(footer(name) === footer(s"${name}_spark"), s"$name: footer")
      val got = Transaction.read(spark, root, name)
      val want = Transaction.read(spark, root, s"${name}_spark")
      assert(got.schema === want.schema, s"$name: schema differs")
      val rows = got.collect().toSeq
      assert(rows === want.collect().toSeq, s"$name: rows differ")
      assert(rows === df.collect().toSeq, s"$name: rows differ from the frame")
    }
    val fsck = Transaction.fsck(spark, root, deep = true)
    assert(fsck.clean && fsck.deepVerified, s"$fsck")
    val dst = freshRoot()
    assert(Transaction.syncTo(spark, root, dst) ===
      Transaction.committedTxs(spark, root).size)
    assert(Transaction.lastSyncUnverified === 0)
    val replica = Transaction.fsck(spark, dst, deep = true,
      sinceVerified = true)
    assert(replica.deepVerified && replica.contentHashed === 0, s"$replica")
    frames.foreach { case (name, df) =>
      assert(Transaction.read(spark, dst, name).collect().toSeq ===
        df.collect().toSeq, s"$name: replica rows differ")
    }
  }
}
