package graft

import org.apache.spark.sql.functions._

import graft.sources.GraftSink

class GraftSinkSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir = tmpDir("graft_sink") + "/t"

  private def sample = Seq(
    (1L, 10.5, "plain", true),
    (2L, -0.25, "esc\"ape\\\n\ttab", false),
    (3L, 0.1 + 0.2, null.asInstanceOf[String], true))
    .toDF("k", "v", "s", "b")

  test("write/read round trip is exact, including escapes and nulls") {
    val dir = freshDir
    sample.write.format("graftsink").mode("append").save(dir)
    val back = spark.read.format("graftsink").load(dir)
    assert(back.schema === sample.schema)
    assert(back.count() === 3)
    assert(back.except(sample).isEmpty && sample.except(back).isEmpty)
    // the awkward double survives bit-exactly (internal repr on disk)
    val v3 = back.filter($"k" === 3L).select("v").as[Double].head()
    assert(v3 === 0.1 + 0.2)
  }

  test("timestamp/date round trip via internal micros/days") {
    val dir = freshDir
    val df = Seq(1L).toDF("k")
      .withColumn("ts", expr("timestamp_micros(1500000123456789)"))
      .withColumn("d", expr("DATE '2024-02-29'"))
    df.write.format("graftsink").mode("append").save(dir)
    val back = spark.read.format("graftsink").load(dir)
    assert(back.select(expr("unix_micros(ts)")).as[Long].head()
      === 1500000123456789L)
    assert(back.select(expr("CAST(d AS STRING)")).as[String].head()
      === "2024-02-29")
  }

  test("append carries prior files forward; overwrite truncates") {
    val dir = freshDir
    Seq((1L, "a")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    Seq((2L, "b")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    assert(GraftSink.latestVersion(spark, dir) === Some(1))
    assert(spark.read.format("graftsink").load(dir).count() === 2)
    Seq((9L, "z")).toDF("k", "s").write.format("graftsink")
      .mode("overwrite").save(dir)
    assert(GraftSink.latestVersion(spark, dir) === Some(2))
    val after = spark.read.format("graftsink").load(dir)
    assert(after.count() === 1)
    assert(after.select("k").as[Long].head() === 9L)
    // truncate is manifest-level: the old version's files still exist
    // on disk (time-travel-able), just unreferenced by v2
    val v1 = GraftSink.latestManifest(spark, dir).get
    assert(v1.files.size === 1)
  }

  test("a torn write is invisible: stray staging and unmanifested " +
    "data files never surface") {
    val dir = freshDir
    Seq((1L, "a")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    // a crashed writer's leftovers: a staged attempt AND a data file
    // that made it past rename but whose commit never published
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def plant(rel: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir, rel)
      fs.mkdirs(p.getParent)
      val o = fs.create(p, true)
      o.write("{\"k\":999,\"s\":\"ghost\"}\n".getBytes("UTF-8"))
      o.close()
    }
    plant("_staging/dead-write/part-0-99")
    plant("data/dead-write-0")
    val back = spark.read.format("graftsink").load(dir)
    assert(back.count() === 1)
    assert(back.filter($"k" === 999L).isEmpty)
  }

  test("empty-partition tasks publish no files") {
    val dir = freshDir
    // 8 partitions, 3 rows: most tasks commit zero rows
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
      .repartition(8).write.format("graftsink").mode("append").save(dir)
    val m = GraftSink.latestManifest(spark, dir).get
    assert(m.files.size <= 3, s"empty tasks leaked files: ${m.files}")
    assert(spark.read.format("graftsink").load(dir).count() === 3)
  }

  test("schema round-trips through the manifest for schemaless reads") {
    val dir = freshDir
    sample.write.format("graftsink").mode("append").save(dir)
    val m = GraftSink.latestManifest(spark, dir).get
    assert(org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      === sample.schema)
  }

  test("time travel: a pinned version reads its own manifest") {
    val dir = freshDir
    Seq((1L, "a")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    Seq((2L, "b")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    Seq((9L, "z")).toDF("k", "s").write.format("graftsink")
      .mode("overwrite").save(dir)
    def at(v: Int) = spark.read.format("graftsink")
      .option("version", v).load(dir).select("k").as[Long]
      .collect().toSet
    assert(at(0) === Set(1L))
    assert(at(1) === Set(1L, 2L))
    assert(at(2) === Set(9L))
    // unpinned read = latest
    assert(spark.read.format("graftsink").load(dir)
      .select("k").as[Long].collect().toSet === Set(9L))
  }

  test("column pruning reaches the scan: a projection reads only its " +
    "fields") {
    val dir = freshDir
    sample.write.format("graftsink").mode("append").save(dir)
    val got = spark.read.format("graftsink").load(dir)
      .select("k").as[Long].collect().toSet
    assert(got === Set(1L, 2L, 3L))
    assert(GraftSink.lastScanFields.get() === Seq("k"),
      s"pruned read schema was ${GraftSink.lastScanFields.get()}")
    // full-width read restores the full schema
    spark.read.format("graftsink").load(dir).collect()
    assert(GraftSink.lastScanFields.get().toSet ===
      Set("k", "v", "s", "b"))
  }

  test("append with a different schema is rejected before publishing") {
    val dir = freshDir
    Seq((1L, "a")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    // same arity, different name+type: positional parse would silently
    // mis-type the carried-forward files — must fail loudly instead
    val e = intercept[Exception] {
      Seq((2L, 0.5)).toDF("k", "ratio").write.format("graftsink")
        .mode("append").save(dir)
    }
    assert(e.getMessage.contains("schema") ||
      Option(e.getCause).exists(_.getMessage.contains("schema")))
    // the table is untouched: still v0 with one row
    assert(GraftSink.latestVersion(spark, dir) === Some(0))
    assert(spark.read.format("graftsink").load(dir).count() === 1)
    // overwrite with the new shape IS allowed
    Seq((2L, 0.5)).toDF("k", "ratio").write.format("graftsink")
      .mode("overwrite").save(dir)
    assert(spark.read.format("graftsink").load(dir)
      .columns.toSeq === Seq("k", "ratio"))
  }

  test("time travel across a schema change uses the pinned version's " +
    "schema") {
    val dir = freshDir
    Seq((1L, "a")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    Seq((0.5, 7L)).toDF("ratio", "n").write.format("graftsink")
      .mode("overwrite").save(dir)
    val v0 = spark.read.format("graftsink").option("version", 0).load(dir)
    assert(v0.columns.toSeq === Seq("k", "s"))
    assert(v0.select("s").as[String].head() === "a")
    val v1 = spark.read.format("graftsink").load(dir)
    assert(v1.columns.toSeq === Seq("ratio", "n"))
  }

  test("a torn (marker-less) manifest is skipped; the table stays " +
    "readable at its previous version") {
    val dir = freshDir
    Seq((1L, "a")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    // a committer that died mid-manifest: v1 exists but has no #eof
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = new org.apache.hadoop.fs.Path(dir, "manifest-v000001")
    val o = fs.create(torn, true)
    o.write("k BIGINT,s STRING\nsome-file".getBytes("UTF-8"))
    o.close()
    val back = spark.read.format("graftsink").load(dir)
    assert(back.count() === 1)
    // the NEXT commit must not collide forever: it claims v2
    Seq((2L, "b")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    assert(GraftSink.latestVersion(spark, dir) === Some(2))
    assert(spark.read.format("graftsink").load(dir).count() === 2)
  }

  test("vacuum of a torn manifest ABOVE the live head vacates the name " +
      "without raising the floor; the next genuine head claim survives") {
    val dir = freshDir
    (1 to 3).foreach { i =>
      Seq((i.toLong, "x")).toDF("k", "s").write.format("graftsink")
        .mode("append").save(dir)
    }
    assert(GraftSink.latestVersion(spark, dir) === Some(2))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed publish AT head+1: torn manifest v3, aged past grace
    val torn = new org.apache.hadoop.fs.Path(dir, "manifest-v000003")
    val o = fs.create(torn, false)
    o.write("k BIGINT,s STRING\nsome-file".getBytes("UTF-8"))
    o.close()
    Thread.sleep(30)
    GraftSink.vacuum(spark, dir, keepVersions = 2, graceMs = 1L)
    // the torn name is vacated...
    assert(!fs.exists(torn), "vacuum must collect the aged torn manifest")
    // ...but the floor derives only from doomed versions BELOW the
    // live head (v0 expired -> floor 1). Folding the torn v3 in would
    // set floor = 4 and the genuine successor's claim of v3 would be
    // self-convicted as a zombie — retrying forever against an
    // unchanged head (the regression ADVICE r8 flagged)
    val floorMax = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("_floor-v"))
      .map(_.stripPrefix("_floor-v").toInt).foldLeft(0)(math.max)
    assert(floorMax <= 2,
      s"floor $floorMax rose past the live head; a genuine head+1 " +
        "claim would convict itself")
    // the next commit claims v3 — the vacated torn name — and stands
    Seq((4L, "y")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    assert(GraftSink.latestVersion(spark, dir) === Some(3),
      "the genuine head claim into the vacated name must survive")
    assert(spark.read.format("graftsink").load(dir).count() === 4)
  }

  test("latestCompleteVersion: the tail check skips torn names, finds " +
      "the newest #eof-terminated manifest, and never parses") {
    val dir = freshDir
    (1 to 2).foreach { i =>
      Seq((i.toLong, "x")).toDF("k", "s").write.format("graftsink")
        .mode("append").save(dir)
    }
    assert(GraftSink.latestCompleteVersion(spark, dir) === Some(1))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a torn v2 (no #eof): name-counting latestVersion sees it, the
    // completeness probe must not
    val torn = new org.apache.hadoop.fs.Path(dir, "manifest-v000002")
    val o = fs.create(torn, false)
    o.write("k BIGINT,s STRING\nsome-file".getBytes("UTF-8"))
    o.close()
    assert(GraftSink.latestVersion(spark, dir) === Some(2))
    assert(GraftSink.latestCompleteVersion(spark, dir) === Some(1),
      "a torn name must not salt/resolve as the head")
    // a manifest SHORTER than the probe window (an empty-ish torn
    // stub) must not crash the tail seek
    val stub = new org.apache.hadoop.fs.Path(dir, "manifest-v000003")
    val o2 = fs.create(stub, false)
    o2.write("x".getBytes("UTF-8"))
    o2.close()
    assert(GraftSink.latestCompleteVersion(spark, dir) === Some(1))
    // a new genuine commit steps over the corpses and becomes both
    // the name max and the complete max
    Seq((3L, "y")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    assert(GraftSink.latestCompleteVersion(spark, dir) === Some(4))
  }

  test("final data-file names are single-writer-owned: every commit's " +
      "files carry its own writeId prefix, so task-local names can " +
      "never collide across applications or replayed epochs") {
    // task-local names (part-<p>-<taskId>) repeat across Spark
    // APPLICATIONS (taskId restarts per app) and across crash-replayed
    // streaming epochs (fresh writeId, same task names); a rename onto
    // an existing name silently overwrites on POSIX local filesystems
    // and fails the commit on HDFS-contract ones. The w<uuid>- prefix
    // is the ownership mechanism — same discipline as compact-/cluster-
    // output names. The FULL 36-char UUID is required (ADVICE r10): a
    // truncated 32-bit prefix birthday-collides at ~100k distinct
    // writers of one table, reproducing the exact overwrite hazard.
    val dir = freshDir
    Seq((1L, "a")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    Seq((2L, "b")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    val names = GraftSink.latestManifest(spark, dir).get.files.map(_.name)
    val uuid = "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"
    assert(names.forall(_.matches(s"w$uuid-part-\\d+-\\d+")),
      s"unexpected name shape: $names")
    assert(names.map(_.take(37)).distinct.size == 2,
      s"each commit must carry its own writer prefix: $names")
  }

  test("tail check applies the resolver's EXACT terminator rule: " +
      "'#eof ' / '#eof\\r' is torn to BOTH, a trailing newline is " +
      "complete to both") {
    // ADVICE r9: the tail check trimmed the last line while the
    // resolver compares untrimmed — a manifest rewritten by external
    // tooling (CRLF, trailing blank) read complete to the tail check
    // yet torn to the resolver, pointing the ResultCache salt or a
    // streaming offset at a version readers skip.
    val dir = freshDir
    Seq((1L, "a")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeV1(tail: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir, "manifest-v000001")
      fs.delete(p, false)
      val o = fs.create(p, true)
      o.write(s"k BIGINT,s STRING\nsome-file\n#eof$tail".getBytes("UTF-8"))
      o.close()
    }
    writeV1(" ") // trailing space: torn to the resolver -> torn here
    assert(GraftSink.latestCompleteVersion(spark, dir) === Some(0),
      "'#eof ' must NOT resolve as complete (the resolver rejects it)")
    writeV1("\r") // CRLF re-write: same
    assert(GraftSink.latestCompleteVersion(spark, dir) === Some(0),
      "'#eof\\r' must NOT resolve as complete")
    writeV1("\n") // a trailing NEWLINE is complete to the resolver
                  // (empty lines are filtered) — tail check must agree
    assert(GraftSink.latestCompleteVersion(spark, dir) === Some(1),
      "'#eof\\n' IS complete to the resolver and must be here too")
  }

  test("a bogus floor marker above the head cannot brick the table: " +
      "a head claim with no complete manifest above it stands") {
    val dir = freshDir
    Seq((1L, "a")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    assert(GraftSink.latestVersion(spark, dir) === Some(0))
    // a corrupt/orphaned marker far above the live head (manual
    // surgery, a floor bug, a crafted file) — every subsequent claim
    // sits below it
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(dir, "_floor-v000005"),
      false).close()
    // a TRUE zombie is never the max: with no complete manifest above
    // the claimed v1, the commit is the head and must stand — the old
    // behavior self-deleted and retried v1 against an unchanged head
    // forever
    Seq((2L, "b")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    assert(GraftSink.latestVersion(spark, dir) === Some(1),
      "the genuine head claim below a bogus floor must survive")
    assert(spark.read.format("graftsink").load(dir).count() === 2)
    def tableWith(markers: String*): String = {
      val d = freshDir
      Seq((1L, "a")).toDF("k", "s").write.format("graftsink")
        .mode("append").save(d)
      markers.foreach(m =>
        fs.create(new org.apache.hadoop.fs.Path(d, m), false).close())
      Seq((2L, "b")).toDF("k", "s").write.format("graftsink")
        .mode("append").save(d)
      d
    }
    // a marker name that does not parse — junk, or a number past the
    // version range — is listing noise: the next append lands and
    // vacuum runs
    for (bogus <- Seq("_floor-vjunk", "_floor-v99999999999")) {
      val d = tableWith(bogus)
      assert(GraftSink.latestVersion(spark, d) === Some(1), bogus)
      GraftSink.vacuum(spark, d, keepVersions = 1)
      assert(spark.read.format("graftsink").load(d).count() === 2, bogus)
    }
    // the claim honors the max over the PLAUSIBLE markers: the mark a
    // retracted v1 leaves (v2) still binds beside a bogus v999, so the
    // burned v1 is never re-minted
    val d = tableWith("_floor-v000999", "_floor-v000002")
    assert(GraftSink.latestVersion(spark, d) === Some(2),
      "a bogus marker must not hide a plausible one")
    assert(spark.read.format("graftsink").load(d).count() === 2)
  }

  test("evolveSchema append: new columns land, old files read as null " +
    "for them, shared columns keep their type") {
    val dir = freshDir
    Seq((1L, "a")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    // widen with a new column — allowed only under the option
    Seq((2L, "b", 0.5)).toDF("k", "s", "score").write.format("graftsink")
      .option("evolveSchema", true).mode("append").save(dir)
    val back = spark.read.format("graftsink").load(dir)
    assert(back.columns.toSeq === Seq("k", "s", "score"))
    val got = back.select("k", "score").as[(Long, Option[Double])]
      .collect().toMap
    assert(got === Map(1L -> None, 2L -> Some(0.5)))
    // a narrower append (no score) is also fine post-evolution
    Seq((3L, "c")).toDF("k", "s").write.format("graftsink")
      .option("evolveSchema", true).mode("append").save(dir)
    assert(spark.read.format("graftsink").load(dir)
      .filter($"k" === 3L).select("score").as[Option[Double]]
      .head() === None)
    // re-typing a shared column stays forbidden even under the option
    val e = intercept[Exception] {
      Seq((4L, 9)).toDF("k", "s").write.format("graftsink")
        .option("evolveSchema", true).mode("append").save(dir)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("re-type")))
  }

  test("changesFrom reads only the files added after the base version") {
    val dir = freshDir
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)                       // v0
    Seq((3L, "c")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)                       // v1
    Seq((4L, "d")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)                       // v2
    def changes(from: Int, to: Option[Int] = None) = {
      val r = spark.read.format("graftsink").option("changesFrom", from)
      to.fold(r)(v => r.option("version", v)).load(dir)
        .select("k").as[Long].collect().toSet
    }
    assert(changes(0) === Set(3L, 4L))
    assert(changes(1) === Set(4L))
    assert(changes(0, to = Some(1)) === Set(3L))
    assert(changes(2) === Set.empty[Long])
    // snapshot semantics across an overwrite: all of v3's files are new
    Seq((9L, "z")).toDF("k", "s").write.format("graftsink")
      .mode("overwrite").save(dir)                    // v3
    assert(changes(2) === Set(9L))
  }

  test("COUNT(*) is served from manifest metadata: zero data-file " +
    "readers open") {
    val dir = freshDir
    sample.write.format("graftsink").mode("append").save(dir)
    Seq((4L, 1.0, "x", true)).toDF("k", "v", "s", "b")
      .write.format("graftsink").mode("append").save(dir)
    val before = GraftSink.readersCreated.get()
    assert(spark.read.format("graftsink").load(dir).count() === 4L)
    assert(GraftSink.readersCreated.get() === before,
      "a pushed COUNT(*) must not open any data file")
    // the pushed aggregate is visible in the physical plan
    val plan = spark.read.format("graftsink").load(dir)
      .groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("GraftSinkMetaAggScan"), plan)
    // version-pinned and change-feed counts ride the same metadata
    assert(spark.read.format("graftsink").option("version", 0).load(dir)
      .count() === 3L)
    assert(spark.read.format("graftsink").option("changesFrom", 0)
      .load(dir).count() === 1L)
    assert(GraftSink.readersCreated.get() === before)
    // a real row read DOES open readers, with correct results
    assert(spark.read.format("graftsink").load(dir)
      .select("k").as[Long].collect().toSet === Set(1L, 2L, 3L, 4L))
    assert(GraftSink.readersCreated.get() > before)
  }

  test("MIN/MAX ride manifest bounds: zero readers, nulls ignored, " +
    "evolution-born columns answered from the files that hold them") {
    val dir = freshDir
    spark.range(1000)
      .select(col("id").as("k"), (col("id") * 1.5).as("score"),
        when(col("id") % 2 === 0, col("id") * 10).as("sparse"))
      .repartition(4)
      .write.format("graftsink").mode("append").save(dir)
    val before = GraftSink.readersCreated.get()
    val row = spark.read.format("graftsink").load(dir)
      .agg(count(lit(1)), min("k"), max("k"), min("score"), max("score"),
        min("sparse"), max("sparse")).head()
    assert(row.getLong(0) === 1000L)
    assert(row.getLong(1) === 0L && row.getLong(2) === 999L)
    assert(row.getDouble(3) === 0.0 && row.getDouble(4) === 1498.5)
    // nulls never enter bounds: sparse min/max come from even ids only
    assert(row.getLong(5) === 0L && row.getLong(6) === 9980L)
    assert(GraftSink.readersCreated.get() === before,
      "metadata MIN/MAX must not open data files")
    // a column added by evolution: old files contribute nothing, the
    // answer comes from the files that HAVE it — still metadata
    Seq((2000L, 0.5, 7L, 42L)).toDF("k", "score", "sparse", "late")
      .write.format("graftsink").option("evolveSchema", true)
      .mode("append").save(dir)
    val b2 = GraftSink.readersCreated.get()
    val r2 = spark.read.format("graftsink").load(dir)
      .agg(min("late"), max("late"), max("k")).head()
    assert(r2.getLong(0) === 42L && r2.getLong(1) === 42L)
    assert(r2.getLong(2) === 2000L)
    assert(GraftSink.readersCreated.get() === b2)
    // an all-null column answers NULL, like the scan would
    val dir2 = freshDir
    spark.range(10).select(col("id").as("k"),
      lit(null).cast("double").as("v"))
      .write.format("graftsink").mode("append").save(dir2)
    val r3 = spark.read.format("graftsink").load(dir2)
      .agg(min("v"), max("v")).head()
    assert(r3.isNullAt(0) && r3.isNullAt(1))
    // a STRING min declines the pushdown and still answers exactly
    val b4 = GraftSink.readersCreated.get()
    assert(spark.read.format("graftsink").load(dir)
      .agg(max("k"), min("score")).head().getLong(0) === 2000L)
    assert(GraftSink.readersCreated.get() === b4)
    sample.write.format("graftsink").mode("overwrite").save(dir2)
    assert(spark.read.format("graftsink").load(dir2)
      .agg(min("s")).head().getString(0) === "esc\"ape\\\n\ttab")
    assert(GraftSink.readersCreated.get() > b4,
      "string MIN must fall back to the row scan")
  }

  test("pushed LIMIT plans a row-count-covering file prefix: a " +
    "preview opens one file of many") {
    val dir = freshDir
    spark.range(8000).select(col("id").as("k"))
      .repartition(8).write.format("graftsink").mode("append").save(dir)
    val before = GraftSink.readersCreated.get()
    assert(spark.read.format("graftsink").load(dir).limit(5)
      .count() === 5L)
    val opened = GraftSink.readersCreated.get() - before
    assert(opened === 1L, s"a LIMIT 5 preview opened $opened files")
    // a limit larger than the table still answers fully
    assert(spark.read.format("graftsink").load(dir).limit(9999)
      .collect().length === 8000)
    // under a filter the limit must NOT prune files by raw row counts
    assert(spark.read.format("graftsink").load(dir)
      .filter(col("k") >= 7995L).limit(5)
      .collect().map(_.getLong(0)).toSet
      === Set(7995L, 7996L, 7997L, 7998L, 7999L))
  }

  test("a pre-statistics manifest falls back to the row scan for " +
    "COUNT(*) and still counts right") {
    val dir = freshDir
    sample.write.format("graftsink").mode("append").save(dir)
    // rewrite the manifest in the legacy 1-field-line form (no stats)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = GraftSink.latestManifest(spark, dir).get
    val legacy = new org.apache.hadoop.fs.Path(dir, "manifest-v000001")
    val o = fs.create(legacy, true)
    o.write(((m.schemaDdl +: m.files.map(_.name)) :+ "#eof")
      .mkString("\n").getBytes("UTF-8"))
    o.close()
    val before = GraftSink.readersCreated.get()
    assert(spark.read.format("graftsink").load(dir).count() === 3L)
    assert(GraftSink.readersCreated.get() > before,
      "without per-file stats the count must come from scanning")
  }

  test("scan statistics report exact rows/bytes from the manifest") {
    val dir = freshDir
    sample.write.format("graftsink").mode("append").save(dir)
    val m = GraftSink.latestManifest(spark, dir).get
    assert(m.files.map(_.rows).sum === 3L)
    assert(m.files.forall(_.bytes > 0L))
    val rel = spark.read.format("graftsink").load(dir)
    val stats = rel.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(3)),
      s"planner must see the exact metadata row count, got $stats")
  }

  test("manifest-bounds file skipping: a selective predicate on a " +
    "clustered layout opens only its files, exactly") {
    val dir = freshDir
    // 8 files range-clustered on k: each file covers a disjoint k band
    spark.range(8000)
      .select(col("id").as("k"), (col("id") % 97).cast("double").as("v"))
      .repartitionByRange(8, col("k"))
      .write.format("graftsink").mode("append").save(dir)
    val m = GraftSink.latestManifest(spark, dir).get
    assert(m.files.size === 8)
    assert(m.files.forall(_.bounds.contains("k")))

    val before = GraftSink.readersCreated.get()
    val one = spark.read.format("graftsink").load(dir)
      .filter(col("k") === 4242L)
    assert(one.select("k").as[Long].collect().toSeq === Seq(4242L))
    val opened = GraftSink.readersCreated.get() - before
    assert(opened === 1L,
      s"an equality probe must open exactly its file, opened $opened")
    // the pruned predicate is visible in the plan
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan)

    // range predicate: only the tail files open, result exact
    val b2 = GraftSink.readersCreated.get()
    val tail = spark.read.format("graftsink").load(dir)
      .filter(col("k") >= 7000L)
    assert(tail.count() === 1000L)
    assert(GraftSink.readersCreated.get() - b2 < 8L)

    // a predicate excluded by every file's interval opens nothing
    val b3 = GraftSink.readersCreated.get()
    assert(spark.read.format("graftsink").load(dir)
      .filter(col("k") === 999999L).count() === 0L)
    assert(GraftSink.readersCreated.get() === b3)
  }

  test("file skipping never drops rows: double bounds, IN lists, and " +
    "stat-less files all stay exact") {
    val dir = freshDir
    spark.range(1000)
      .select(col("id").as("k"), (col("id") / 10.0).as("score"))
      .repartitionByRange(4, col("score"))
      .write.format("graftsink").mode("append").save(dir)
    // double range
    assert(spark.read.format("graftsink").load(dir)
      .filter(col("score") >= 90.0).count() === 100L)
    // IN list spanning two bands
    assert(spark.read.format("graftsink").load(dir)
      .filter(col("k").isin(5L, 995L)).select("k").as[Long]
      .collect().toSet === Set(5L, 995L))
    // legacy manifest without stats: same results, zero pruning
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = GraftSink.latestManifest(spark, dir).get
    val o = fs.create(new org.apache.hadoop.fs.Path(dir,
      "manifest-v000001"), true)
    o.write(((m.schemaDdl +: m.files.map(_.name)) :+ "#eof")
      .mkString("\n").getBytes("UTF-8"))
    o.close()
    val before = GraftSink.readersCreated.get()
    assert(spark.read.format("graftsink").load(dir)
      .filter(col("k") === 5L).count() === 1L)
    assert(GraftSink.readersCreated.get() - before === 4L,
      "without bounds every file must be read")
  }

  test("compaction: small files merge by concatenation; reads, " +
    "metadata COUNT, stats, and time travel carry over") {
    val dir = freshDir
    for (i <- 0 until 6)
      Seq((i.toLong * 10, s"s$i")).toDF("k", "s").write
        .format("graftsink").mode("append").save(dir)
    assert(GraftSink.latestManifest(spark, dir).get.files.size === 6)
    val st = GraftSink.compact(spark, dir)
    assert(st.groupsMerged === 1 && st.filesBefore === 6 &&
      st.filesAfter === 1)
    val m = GraftSink.latestManifest(spark, dir).get
    assert(m.files.size === 1 && m.files.head.rewrite)
    assert(m.files.head.rows === 6L)
    // interval union of the six single-row bounds
    assert(m.files.head.bounds("k") === ((0L, 50L)))
    // identical content through one file
    assert(spark.read.format("graftsink").load(dir)
      .select("k").as[Long].collect().toSet ===
      (0 until 6).map(_.toLong * 10).toSet)
    // metadata COUNT still zero-reader
    val before = GraftSink.readersCreated.get()
    assert(spark.read.format("graftsink").load(dir).count() === 6L)
    assert(GraftSink.readersCreated.get() === before)
    // pre-compaction version still time-travels to the original files
    assert(spark.read.format("graftsink").option("version", 3).load(dir)
      .count() === 4L)
    // nothing small left: re-compaction is a no-op
    assert(GraftSink.compact(spark, dir).groupsMerged === 0)
  }

  test("change feed stays exactly-once across compaction: absorbed " +
    "appends still arrive, consumed rows never repeat") {
    val dir = freshDir
    Seq((1L, "a")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)                       // v0 (consumed base)
    Seq((2L, "b")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)                       // v1 (not consumed)
    GraftSink.compact(spark, dir)                     // v2: both -> M
    assert(GraftSink.latestManifest(spark, dir).get.files.size === 1)
    // the naive end-minus-base diff would return NOTHING here (v1's
    // file was absorbed) or EVERYTHING (the rewrite file); the log
    // walk returns exactly the unconsumed append
    assert(spark.read.format("graftsink").option("changesFrom", 0)
      .load(dir).select("k").as[Long].collect().toSeq === Seq(2L))
    Seq((3L, "c")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)                       // v3
    assert(spark.read.format("graftsink").option("changesFrom", 0)
      .load(dir).select("k").as[Long].collect().sorted.toSeq === Seq(2L, 3L))
    assert(spark.read.format("graftsink").option("changesFrom", 2)
      .load(dir).select("k").as[Long].collect().toSeq === Seq(3L))
  }

  test("streaming tail across a mid-stream compaction: no duplicates, " +
    "no losses") {
    val dir = freshDir
    Seq((1L, "a")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    val name = "sink_tail_compact"
    val q = spark.readStream.format("graftsink")
      .option("startingVersion", 0).load(dir)
      .writeStream.format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      Seq((2L, "b")).toDF("k", "s").write.format("graftsink")
        .mode("append").save(dir)
      GraftSink.compact(spark, dir)
      Seq((3L, "c")).toDF("k", "s").write.format("graftsink")
        .mode("append").save(dir)
      q.processAllAvailable()
      val got = spark.table(name).select("k").as[Long].collect().toSeq
      assert(got.sorted === Seq(1L, 2L, 3L),
        s"tail must deliver the absorbed append once, got $got")
    } finally q.stop()
  }

  test("vacuum: expired versions' manifests and orphaned data files go; " +
    "surviving versions read byte-identically") {
    val dir = freshDir
    Seq((1L, "a")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)                       // v0: fileA
    Seq((2L, "b")).toDF("k", "s").write.format("graftsink")
      .mode("overwrite").save(dir)                    // v1: fileB only
    Seq((3L, "c")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)                       // v2: fileB+fileC
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles = fs.listStatus(
      new org.apache.hadoop.fs.Path(dir, "data")).length
    assert(dataFiles === 3)
    // default grace: the manifest expires but the FRESH orphan data
    // file survives — it could be a racing commit's renamed-but-not-
    // yet-published file (the expiry is re-collectable, the file is
    // not restorable)
    val guarded = GraftSink.vacuum(spark, dir, keepVersions = 2)
    assert(guarded.expiredVersions === Seq(0))
    assert(guarded.deletedDataFiles === 0 && dataFiles === 3)
    val stats = GraftSink.vacuum(spark, dir, keepVersions = 2,
      graceMs = 0L)
    assert(stats.expiredVersions.isEmpty) // already expired above
    // v0's file was referenced ONLY by v0 -> collected
    assert(stats.deletedDataFiles === 1 && dataFiles === 2)
    // the expired version is gone for pinned readers...
    intercept[Exception] {
      spark.read.format("graftsink").option("version", 0).load(dir).count()
    }
    // ...while both survivors stay exact
    assert(spark.read.format("graftsink").option("version", 1).load(dir)
      .select("k").as[Long].collect().toSet === Set(2L))
    assert(spark.read.format("graftsink").load(dir)
      .select("k").as[Long].collect().toSet === Set(2L, 3L))
    // idempotent: nothing left to collect
    val again = GraftSink.vacuum(spark, dir, keepVersions = 2,
      graceMs = 0L)
    assert(again.expiredVersions.isEmpty && again.deletedDataFiles === 0)
    intercept[IllegalArgumentException] {
      GraftSink.vacuum(spark, dir, keepVersions = 0)
    }
  }

  test("vacuum: time-based retention (retainMs) keeps every version " +
      "committed inside the window on top of the count floor — the " +
      "wall-clock TIMESTAMP AS OF guarantee") {
    val dir = freshDir
    (1 to 5).foreach { i =>
      Seq((i.toLong, s"r$i")).toDF("k", "s").write.format("graftsink")
        .mode("append").save(dir) // v0..v4
    }
    // age v0..v1 far outside the window by re-stamping their COMMIT
    // time (the clock retention actually reads); v2..v4 stay fresh
    val old = System.currentTimeMillis() - 10L * 3600 * 1000
    (0 to 1).foreach(v => GraftSink.restampForSpec(spark, dir, v, old))
    // count floor 1 + a 5h window: v2..v4 survive BY TIME (a pure
    // keepVersions=1 vacuum would expire v0..v3)
    val stats = GraftSink.vacuum(spark, dir, keepVersions = 1,
      graceMs = 0L, retainMs = 5L * 3600 * 1000)
    assert(stats.expiredVersions === Seq(1, 0),
      s"only the out-of-window versions expire: $stats")
    (2 to 4).foreach { v =>
      assert(spark.read.format("graftsink").option("version", v)
        .load(dir).count() === (v + 1).toLong, s"v$v must stay readable")
    }
    intercept[Exception] {
      spark.read.format("graftsink").option("version", 0).load(dir).count()
    }
    // a TAG still trumps the window: tag v2, age it out, vacuum again
    GraftSink.tag(spark, dir, "keep", Some(2))
    GraftSink.restampForSpec(spark, dir, 2, old)
    GraftSink.restampForSpec(spark, dir, 3, old)
    val s2 = GraftSink.vacuum(spark, dir, keepVersions = 1,
      graceMs = 0L, retainMs = 5L * 3600 * 1000)
    assert(s2.expiredVersions === Seq(3),
      s"the tagged aged version survives, the untagged one expires: $s2")
    assert(spark.read.format("graftsink").option("version", "keep")
      .load(dir).count() === 3L)
    // default retainMs (-1) = count-based only, prior behavior
    // exactly: v2 is tagged and v4 is the head — nothing to expire
    val s3 = GraftSink.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    assert(s3.expiredVersions.isEmpty, s"tag + head survive: $s3")
  }

  test("commit time lives IN the manifest: back-dating FS mtimes " +
      "moves neither history, TIMESTAMP AS OF, nor the retainMs " +
      "window; clone/cloneSync carry the stamp verbatim") {
    val dir = freshDir
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"r$i")).toDF("k", "s").write.format("graftsink")
        .mode("append").save(dir) // v0..v2
    }
    val stamps = GraftSink.history(spark, dir).map(h => h._1 -> h._5)
      .toMap
    assert(stamps.values.forall(_ > 0))
    val tsNow = System.currentTimeMillis()
    assert(GraftSink.versionAtTimestamp(spark, dir, tsNow) === Some(2))
    // THE MIGRATION SHAPE: something rewrites every manifest's mtime
    // (FileUtil.copy, an object-store lifecycle transition, rsync
    // without -t) to deep past AND deep future
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setTimes(new org.apache.hadoop.fs.Path(dir, "manifest-v000000"),
      tsNow - 365L * 24 * 3600 * 1000, -1)
    fs.setTimes(new org.apache.hadoop.fs.Path(dir, "manifest-v000001"),
      tsNow + 365L * 24 * 3600 * 1000, -1)
    // history reports the STAMPED times, unmoved
    assert(GraftSink.history(spark, dir).map(h => h._1 -> h._5).toMap
      === stamps, "history must read the in-manifest stamp, not mtime")
    // TIMESTAMP AS OF is unmoved (mtime-resolved, the future-dated v1
    // would vanish from 'now' and the year-old v0 would alias old
    // reads)
    assert(GraftSink.versionAtTimestamp(spark, dir, tsNow) === Some(2))
    assert(GraftSink.versionAtTimestamp(spark, dir,
      stamps(0) - 1) === None)
    // the retainMs window is unmoved: a generous window keeps ALL
    // versions even though two mtimes sit a year outside it
    val stats = GraftSink.vacuum(spark, dir, keepVersions = 1,
      graceMs = 3600000L, retainMs = 24L * 3600 * 1000)
    assert(stats.expiredVersions.isEmpty,
      s"stamped in-window versions must survive mtime rewrites: $stats")
    // clone + sync carry the stamp VERBATIM: the replica's history
    // shows when the SOURCE committed, not when the copy ran
    val replica = freshDir
    GraftSink.cloneSnapshot(spark, dir, replica)
    assert(GraftSink.latestManifest(spark, replica).get.committedAtMs
      === Some(stamps(2)), "clone must carry the source commit stamp")
    Seq((4L, "r4")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir) // v3
    val v3Stamp = GraftSink.history(spark, dir)
      .find(_._1 == 3).get._5
    GraftSink.cloneSync(spark, dir, replica)
    assert(GraftSink.latestManifest(spark, replica).get.committedAtMs
      === Some(v3Stamp), "sync must carry the source commit stamp")
  }

  test("vacuum: stale staging dirs die after the grace window, " +
    "in-flight ones survive it") {
    val dir = freshDir
    Seq((1L, "a")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stray = new org.apache.hadoop.fs.Path(dir, "_staging/dead-writer")
    fs.mkdirs(stray)
    // a generous grace keeps it (could be an in-flight writer)...
    assert(GraftSink.vacuum(spark, dir, 1, graceMs = 3600000L)
      .deletedStagingDirs === 0)
    assert(fs.exists(stray))
    // ...zero grace collects it
    assert(GraftSink.vacuum(spark, dir, 1, graceMs = 0L)
      .deletedStagingDirs === 1)
    assert(!fs.exists(stray))
  }

  test("unsupported field types are rejected loudly") {
    val dir = freshDir
    val bad = Seq((1L, Array(1f, 2f))).toDF("k", "emb")
    val e = intercept[Exception] {
      bad.write.format("graftsink").mode("append").save(dir)
    }
    assert(e.getMessage != null)
  }

  test("string bounds: truncated manifest prefixes prune equality, " +
    "range, and prefix probes on long hash keys, exactly") {
    val dir = freshDir
    // 64-char hex "block hashes" (the reference's string p_keys),
    // range-clustered so each of the 8 files covers a hash band —
    // bounds in the manifest must be 16-char truncations, never the
    // full keys
    val hashed = spark.range(4000)
      .select(sha2(col("id").cast("string"), 256).as("h"),
        col("id").as("k"))
      .repartitionByRange(8, col("h"))
    hashed.write.format("graftsink").mode("append").save(dir)
    val m = GraftSink.latestManifest(spark, dir).get
    assert(m.files.size === 8)
    m.files.foreach { f =>
      val (lo, hi) = f.bounds("h")
      assert(lo.asInstanceOf[String].length <= 16 &&
        hi.asInstanceOf[String].length <= 16,
        s"string bounds must be truncated, got ($lo, $hi)")
      assert(f.nullCounts.get("h").contains(0L))
    }
    val probe = hashed.select("h").as[String].head()

    // equality on the full 64-char key: exactly one band file opens
    val before = GraftSink.readersCreated.get()
    val got = spark.read.format("graftsink").load(dir)
      .filter(col("h") === probe).select("k").as[Long].collect().toSeq
    assert(got.size === 1)
    assert(GraftSink.readersCreated.get() - before === 1L,
      "a string equality probe must open exactly its band file")

    // prefix probe (startsWith → StringStartsWith): only bands whose
    // [lo, hi] intersects [p, succ(p)) open; result stays exact vs
    // the unpruned recompute
    val expectPrefix = hashed.filter(col("h").startsWith("00"))
      .select("k").as[Long].collect().toSet
    val b2 = GraftSink.readersCreated.get()
    val gotPrefix = spark.read.format("graftsink").load(dir)
      .filter(col("h").startsWith("00")).select("k").as[Long]
      .collect().toSet
    assert(gotPrefix === expectPrefix)
    assert(GraftSink.readersCreated.get() - b2 < 8L,
      "a selective prefix probe must not open every band")

    // a probe below every band's lo opens nothing
    val b3 = GraftSink.readersCreated.get()
    assert(spark.read.format("graftsink").load(dir)
      .filter(col("h") === "!no-such-hash").count() === 0L)
    assert(GraftSink.readersCreated.get() === b3)
  }

  test("string bounds never drop rows: values sharing a 16-char " +
    "prefix stay findable through the incremented upper bound") {
    val dir = freshDir
    // every value shares the same 16-char prefix, so each file's hi
    // must be the INCREMENTED truncation, not the truncation itself —
    // an un-incremented hi would wrongly exclude suffixes above it
    val df = spark.range(200)
      .select(concat(lit("shared-prefix-16" + "-suffix-"),
        lpad(col("id").cast("string"), 4, "0")).as("s"),
        col("id").as("k"))
    df.repartitionByRange(4, col("s"))
      .write.format("graftsink").mode("append").save(dir)
    val m = GraftSink.latestManifest(spark, dir).get
    m.files.foreach { f =>
      val (lo, hi) = f.bounds("s")
      assert(lo.asInstanceOf[String].compareTo(
        hi.asInstanceOf[String]) <= 0)
    }
    // every row remains reachable by exact equality
    val all = df.select("s").as[String].collect()
    val probes = Seq(all.min, all.max, all(57))
    probes.foreach { p =>
      assert(spark.read.format("graftsink").load(dir)
        .filter(col("s") === p).count() === 1L, s"lost $p")
    }
    // and a range over the shared prefix returns everything
    assert(spark.read.format("graftsink").load(dir)
      .filter(col("s") >= "shared-prefix-16").count() === 200L)
  }

  test("grouped MAX/MIN/COUNT answer from the manifest when files " +
    "cluster one group value each: zero data-file readers") {
    val dir = freshDir
    // one file per group value: range-partition the write on g with
    // as many partitions as distinct values
    val df = spark.range(900)
      .select((col("id") % 3).cast("string").as("g"),
        col("id").as("ts"), (col("id") % 7).as("v"))
    df.repartitionByRange(3, col("g"))
      .write.format("graftsink").mode("append").save(dir)
    val m = GraftSink.latestManifest(spark, dir).get
    assert(m.files.forall(f =>
      f.bounds.get("g").exists(b => b._1 == b._2)),
      "hash-partitioned by g: every file must hold one g value")

    val before = GraftSink.readersCreated.get()
    val got = spark.read.format("graftsink").load(dir)
      .groupBy("g")
      .agg(max("ts").as("max_ts"), min("ts").as("min_ts"),
        count(lit(1)).as("n"))
      .orderBy("g")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val expect = df.groupBy("g")
      .agg(max("ts").as("max_ts"), min("ts").as("min_ts"),
        count(lit(1)).as("n"))
      .orderBy("g")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got === expect)
    assert(GraftSink.readersCreated.get() === before,
      "a clustered grouped MAX must answer from manifest rows")

    // the plan says so
    val plan = spark.read.format("graftsink").load(dir)
      .groupBy("g").agg(max("ts"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("GraftSinkMetaAggScan"), plan)
  }

  test("string bounds property: NO false negatives under UTF-8 order " +
    "across BMP/astral boundaries, truncation, and prefix probes") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, StringStartsWith}
    import org.apache.spark.unsafe.types.UTF8String
    val dir = freshDir
    // the adversarial alphabet: chars straddling every seam where
    // UTF-16 code-unit order and UTF-8 byte order DISAGREE (astral
    // pairs sort between 0xD7FF and 0xE000 in unit order but above
    // 0xFFFF in byte order), plus pair-splitting truncation bait
    val alphabet = Seq("a", "z", "é", "ࠀ", "퟿",
      "", "￮", "😀" /* U+1F600 */,
      "𝕏" /* U+1D54F */)
    val rnd = new scala.util.Random(42)
    def randStr() =
      (0 until rnd.nextInt(20)).map(_ =>
        alphabet(rnd.nextInt(alphabet.size))).mkString
    val fileRows: Seq[Seq[String]] =
      (0 until 6).map(_ => (0 until 8).map(_ => randStr()))
    fileRows.foreach { rows =>
      rows.toDF("s").coalesce(1)
        .write.format("graftsink").mode("append").save(dir)
    }
    val m = GraftSink.latestManifest(spark, dir).get
    // recover each manifest file's actual rows via the _file column
    val byFile = spark.read.format("graftsink").load(dir)
      .select(col("_file"), col("s")).as[(String, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    def utf8(a: String, b: String): Int =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    // every row value, random non-values, and short prefixes probe
    val values = fileRows.flatten.distinct
    val probes = (values ++ (0 until 60).map(_ => randStr())).distinct
    var checked = 0
    m.files.foreach { f =>
      val rows = byFile.getOrElse(f.name, Nil)
      probes.foreach { v =>
        def need(cond: Boolean,
            fl: org.apache.spark.sql.sources.Filter): Unit =
          if (cond) {
            assert(GraftSink.mayMatch(f, fl),
              s"FALSE NEGATIVE: $fl vs bounds ${f.bounds.get("s")} " +
                s"rows=${rows.map(r => r.codePoints.toArray.toSeq)}")
            checked += 1
          }
        need(rows.contains(v), EqualTo("s", v))
        need(rows.exists(utf8(_, v) > 0), GreaterThan("s", v))
        need(rows.exists(utf8(_, v) >= 0), GreaterThanOrEqual("s", v))
        need(rows.exists(utf8(_, v) < 0), LessThan("s", v))
        need(rows.exists(utf8(_, v) <= 0), LessThanOrEqual("s", v))
        val p = if (v.isEmpty) v else GraftSink.truncBound(v)
        need(rows.exists(_.startsWith(p)), StringStartsWith("s", p))
      }
    }
    assert(checked > 2000, s"property exercised only $checked cases")
    // bounds are also well-formed: no lone surrogates survive the
    // manifest round-trip (getBytes would have mangled them)
    m.files.flatMap(_.bounds.get("s")).foreach { case (lo, hi) =>
      Seq(lo, hi).foreach { b =>
        val str = b.asInstanceOf[String]
        assert(str.codePoints.toArray.forall(cp =>
          cp < 0xD800 || cp > 0xDFFF), s"lone surrogate in bound $str")
      }
    }
    // and end-to-end: an astral-range predicate over the pruned scan
    // equals the in-memory recompute
    val x = ""
    val expect = fileRows.flatten.count(utf8(_, x) > 0).toLong
    assert(spark.read.format("graftsink").load(dir)
      .filter(col("s") > x).count() === expect)
  }

  test("cmpUtf8 sign-matches true UTF-8 byte comparison on random " +
    "well-formed strings") {
    val rnd = new scala.util.Random(7)
    def randCp(): Int = {
      val r = rnd.nextInt(4)
      val cp = r match {
        case 0 => rnd.nextInt(0x80)            // ASCII
        case 1 => 0x80 + rnd.nextInt(0x800)    // 2-byte
        case 2 => 0x800 + rnd.nextInt(0xF800)  // 3-byte
        case _ => 0x10000 + rnd.nextInt(0x4000) // astral (4-byte)
      }
      if (cp >= 0xD800 && cp <= 0xDFFF) 0xE000 else cp
    }
    def randStr(): String = {
      val cps = Array.fill(rnd.nextInt(8))(randCp())
      new String(cps, 0, cps.length)
    }
    def byteCmp(a: String, b: String): Int = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      java.util.Arrays.compareUnsigned(x, y)
    }
    (0 until 20000).foreach { _ =>
      val (a, b) = (randStr(), randStr())
      assert(Integer.signum(GraftSink.cmpUtf8(a, b))
        === Integer.signum(byteCmp(a, b)),
        s"order disagreement on ${a.codePoints.toArray.toSeq} vs " +
          s"${b.codePoints.toArray.toSeq}")
    }
  }

  test("cluster: an unclustered table rewrites range-clustered; " +
    "probes prune after, history and change feed stay exact") {
    val dir = freshDir
    // round-robin layout: every file spans the whole key range, so an
    // equality probe opens ALL files
    spark.range(8000)
      .select(col("id").as("k"), (col("id") % 97).as("v"))
      .repartition(8)
      .write.format("graftsink").mode("append").save(dir)
    val preVersion = GraftSink.latestVersion(spark, dir).get
    val before = GraftSink.readersCreated.get()
    assert(spark.read.format("graftsink").load(dir)
      .filter(col("k") === 4242L).count() === 1L)
    assert(GraftSink.readersCreated.get() - before === 8L,
      "unclustered: every file must open")

    val totalBytes = GraftSink.latestManifest(spark, dir).get
      .files.map(_.bytes).sum
    val stats = GraftSink.cluster(spark, dir, Seq("k"),
      targetBytes = totalBytes / 8)
    assert(stats.filesBefore === 8 && stats.rows === 8000L)

    // the same probe now opens exactly one file
    val b2 = GraftSink.readersCreated.get()
    assert(spark.read.format("graftsink").load(dir)
      .filter(col("k") === 4242L).count() === 1L)
    assert(GraftSink.readersCreated.get() - b2 === 1L,
      "clustered: the probe must open exactly its band file")
    // content identical
    assert(spark.read.format("graftsink").load(dir).count() === 8000L)
    assert(spark.read.format("graftsink").load(dir)
      .agg(sum("v")).head.getLong(0) ===
      spark.range(8000).select((col("id") % 97).as("v"))
        .agg(sum("v")).head.getLong(0))
    // pre-cluster version still time-travels to the old layout
    assert(spark.read.format("graftsink")
      .option("version", preVersion).load(dir).count() === 8000L)
    // the rewrite is invisible to the change feed (rewrite files are
    // reorganization, not data): nothing added since preVersion
    assert(spark.read.format("graftsink")
      .option("changesFrom", preVersion).load(dir).count() === 0L)
    // a later append over the clustered layout flows through the feed
    Seq((9999L, 1L)).toDF("k", "v").write.format("graftsink")
      .mode("append").save(dir)
    assert(spark.read.format("graftsink")
      .option("changesFrom", preVersion).load(dir).count() === 1L)
    // scratch staging cleaned up
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(dir, "_staging")
    assert(!fs.exists(staging) || fs.listStatus(staging).isEmpty)
  }

  test("concurrent appenders: racing commits all land, none lost — " +
    "the exclusive-create manifest protocol under real threads") {
    val dir = freshDir
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = (0 until 4).map { t =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try (0 until 5).foreach { i =>
            Seq((t * 100L + i, s"w$t-$i")).toDF("k", "s")
              .coalesce(1)
              .write.format("graftsink").mode("append").save(dir)
          } catch { case e: Throwable =>
            failures.incrementAndGet(); throw e
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    assert(failures.get() === 0, "no appender may lose its commit")
    // every one of the 20 racing single-row appends is present
    val got = spark.read.format("graftsink").load(dir)
      .select("k").as[Long].collect().toSet
    val expect = (for (t <- 0 until 4; i <- 0 until 5)
      yield t * 100L + i).toSet
    assert(got === expect,
      s"lost commits: ${expect -- got}; phantom: ${got -- expect}")
    // version chain is dense: 20 appends -> versions 0..19, each one
    // carrying exactly one more file than its predecessor
    val head = GraftSink.latestVersion(spark, dir).get
    assert(head === 19, s"20 appends must publish 20 versions, got $head")
    val sizes = (0 to head).map(v =>
      GraftSink.manifestAt(spark, dir, Some(v)).get.files.size)
    assert(sizes === (1 to 20), s"file counts must grow by one: $sizes")
    // segment hygiene after the race: collision-losing attempts may
    // have written segments their retry re-wrote — orphans. Vacuum to
    // the head alone collects every segment no survivor references,
    // and the table still reads exactly
    GraftSink.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    val headRefs = GraftSink.latestManifest(spark, dir).get
      .refs.map(_.name).toSet
    val segDir = java.nio.file.Paths.get(dir, "_segments")
    if (java.nio.file.Files.exists(segDir)) {
      val onDisk = {
        val s = java.nio.file.Files.list(segDir)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filterNot(_.startsWith(".")).toSet
        } finally s.close()
      }
      // .bloom sidecars live and die with their segment
      val (blooms, segs) = onDisk.partition(_.endsWith(".bloom"))
      assert(segs === headRefs,
        s"orphan segments survive vacuum: ${segs -- headRefs}")
      assert(blooms.map(_.stripSuffix(".bloom")).subsetOf(headRefs),
        s"orphan bloom sidecars survive vacuum: " +
          s"${blooms.map(_.stripSuffix(".bloom")) -- headRefs}")
    }
    assert(spark.read.format("graftsink").load(dir)
      .select("k").as[Long].collect().toSet === expect)
  }

  test("maintenance races appends: compaction and clustering replace " +
    "only their snapshots' files — every concurrent append survives") {
    val dir = freshDir
    Seq((-1L, "seed")).toDF("k", "s").write.format("graftsink")
      .mode("append").save(dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val maintErr =
      new java.util.concurrent.atomic.AtomicReference[Throwable]()
    // maintenance loop: compact + cluster + guarded vacuum, over and
    // over, while the appender runs
    val maint = pool.submit(new Runnable {
      override def run(): Unit =
        try while (!stop.get()) {
          GraftSink.compact(spark, dir,
            targetBytes = 1L << 20, smallBytes = 1L << 20)
          GraftSink.cluster(spark, dir, Seq("k"),
            targetBytes = 1L << 20)
          GraftSink.vacuum(spark, dir, keepVersions = 2) // default grace
        } catch { case t: Throwable =>
          if (!stop.get()) maintErr.set(t)
        }
    })
    val appender = pool.submit(new Runnable {
      override def run(): Unit =
        (0 until 15).foreach { i =>
          Seq((i.toLong, s"row$i")).toDF("k", "s").coalesce(1)
            .write.format("graftsink").mode("append").save(dir)
        }
    })
    appender.get()
    stop.set(true)
    maint.get()
    pool.shutdown()
    assert(maintErr.get() == null,
      s"maintenance must survive the race: ${maintErr.get()}")
    val got = spark.read.format("graftsink").load(dir)
      .select("k").as[Long].collect().toSet
    assert(got === ((-1L until 15L).toSet),
      s"lost rows: ${(-1L until 15L).toSet -- got}")
  }

  test("incremental cluster (onlyNew): the unsorted tail rewrites in " +
    "O(new data) — prior sorted runs survive by name, unopened") {
    val dir = freshDir
    spark.range(4000).select(col("id").as("k"), lit(1L).as("v"))
      .repartition(4)
      .write.format("graftsink").mode("append").save(dir)
    val bytes0 = GraftSink.latestManifest(spark, dir).get
      .files.map(_.bytes).sum
    GraftSink.cluster(spark, dir, Seq("k"), targetBytes = bytes0 / 8)
    val run1 = GraftSink.latestManifest(spark, dir).get.files
      .map(_.name).toSet
    assert(run1.forall(_.startsWith("cluster-")))
    // the append cadence resumes: 3 scrambled tail files
    spark.range(4000, 5200).select(col("id").as("k"), lit(2L).as("v"))
      .repartition(3)
      .write.format("graftsink").mode("append").save(dir)
    // incremental pass: ONLY the tail is read and rewritten
    val before = GraftSink.readersCreated.get()
    val stats = GraftSink.cluster(spark, dir, Seq("k"),
      targetBytes = 1L << 20, onlyNew = true)
    assert(stats.rows === 1200L, s"only the tail rewrites: $stats")
    assert(GraftSink.readersCreated.get() - before === 3L,
      "the tail read must not open the prior sorted run's files")
    val after = GraftSink.latestManifest(spark, dir).get.files
      .map(_.name).toSet
    assert(run1.subsetOf(after),
      "prior sorted-run files survive by name")
    // content exact; a point probe in the old run opens 1 old file
    // (+0 tail files, the tail band is disjoint)
    assert(spark.read.format("graftsink").load(dir).count() === 5200L)
    val b2 = GraftSink.readersCreated.get()
    assert(spark.read.format("graftsink").load(dir)
      .filter(col("k") === 77L).count() === 1L)
    assert(GraftSink.readersCreated.get() - b2 <= 2L,
      "probes open at most one band file per sorted run")
    // a second onlyNew with no new files is a no-op
    val again = GraftSink.cluster(spark, dir, Seq("k"), onlyNew = true)
    assert(again.rows === 0L)
  }

  test("zorder cluster: probes on EITHER dimension prune; the " +
    "lexicographic layout prunes only the leading column") {
    def seed(): String = {
      val dir = freshDir
      // 4096 rows over a 64x64 (a, b) grid, scrambled layout
      spark.range(4096)
        .select((col("id") % 64).as("a"), (col("id") / 64).as("b"))
        .repartition(7)
        .write.format("graftsink").mode("append").save(dir)
      dir
    }
    def opened(dir: String, c: String): Long = {
      val before = GraftSink.readersCreated.get()
      spark.read.format("graftsink").load(dir)
        .filter(col(c) === 13L).count()
      GraftSink.readersCreated.get() - before
    }
    val bytes = (d: String) => GraftSink.latestManifest(spark, d).get
      .files.map(_.bytes).sum

    // lexicographic on (a, b): a-probes prune, b-probes open all
    val lex = seed()
    GraftSink.cluster(spark, lex, Seq("a", "b"),
      targetBytes = bytes(lex) / 16)
    val lexFiles = GraftSink.latestManifest(spark, lex).get.files.size
    assert(opened(lex, "a") < lexFiles.toLong)
    assert(opened(lex, "b") === lexFiles.toLong,
      "lexicographic: a trailing-column probe must open every file")

    // z-order on (a, b): BOTH probes prune to ~box fraction
    val zo = seed()
    GraftSink.cluster(spark, zo, Seq("a", "b"),
      targetBytes = bytes(zo) / 16, zorder = true)
    val zoFiles = GraftSink.latestManifest(spark, zo).get.files.size
    val (oa, ob) = (opened(zo, "a"), opened(zo, "b"))
    assert(oa < zoFiles.toLong && ob < zoFiles.toLong,
      s"zorder: both dims must prune, opened a=$oa b=$ob of $zoFiles")
    // and the content is intact
    assert(spark.read.format("graftsink").load(zo).count() === 4096L)
    // unsupported dimension types are still refused, loudly
    val sdir = freshDir
    Seq((true, 1L)).toDF("flag", "k").write.format("graftsink")
      .mode("append").save(sdir)
    intercept[Exception] {
      GraftSink.cluster(spark, sdir, Seq("flag"), zorder = true)
    }
  }

  test("zorder over a STRING dimension: a box probe on (string, " +
    "numeric) opens a fraction of the files; lexicographic opens " +
    "all on the trailing string") {
    def seed(): String = {
      val dir = freshDir
      // 4096 rows over 64 hash-like string keys x 64 numeric values,
      // scrambled layout — the reference's natural keys (block.hash,
      // addresses) are exactly this shape
      spark.range(4096).select(
        concat(lit("h"), lpad((col("id") % 64).cast("string"), 4, "0"),
          lit("f9c2d4e6a8b0")).as("h"),
        (col("id") / 64).as("t"))
        .repartition(7)
        .write.format("graftsink").mode("append").save(dir)
      dir
    }
    val probeH = "h0013f9c2d4e6a8b0"
    def opened(dir: String)(probe: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Long = {
      val before = GraftSink.readersCreated.get()
      probe(spark.read.format("graftsink").load(dir)).count()
      GraftSink.readersCreated.get() - before
    }
    val bytes = (d: String) => GraftSink.latestManifest(spark, d).get
      .files.map(_.bytes).sum

    // lexicographic on (t, h): the trailing STRING probe opens all
    val lex = seed()
    GraftSink.cluster(spark, lex, Seq("t", "h"),
      targetBytes = bytes(lex) / 16)
    val lexFiles = GraftSink.latestManifest(spark, lex).get.files.size
    assert(opened(lex)(_.filter(col("h") === probeH)) === lexFiles.toLong,
      "lexicographic: a trailing string probe must open every file")

    // z-order on (t, h): the string probe alone prunes; the (string,
    // numeric) BOX probe prunes at least as hard
    val zo = seed()
    GraftSink.cluster(spark, zo, Seq("t", "h"),
      targetBytes = bytes(zo) / 16, zorder = true)
    val zoFiles = GraftSink.latestManifest(spark, zo).get.files.size
    val oh = opened(zo)(_.filter(col("h") === probeH))
    val oBox = opened(zo)(_.filter(col("h") === probeH &&
      col("t").between(10L, 20L)))
    assert(oh < zoFiles.toLong,
      s"zorder: string probe must prune, opened $oh of $zoFiles")
    assert(oBox <= oh && oBox < zoFiles.toLong,
      s"zorder: box probe opened $oBox of $zoFiles")
    // correctness: the box probe returns exactly its rows (t = id/64
    // is FRACTIONAL k + 13/64, so k = 10..19 fall in [10, 20])
    assert(spark.read.format("graftsink").load(zo)
      .filter(col("h") === probeH && col("t").between(10L, 20L))
      .count() === 10L)
    assert(spark.read.format("graftsink").load(zo).count() === 4096L)
  }

  test("cluster-on-write: .option(clusterBy) makes SPARK plan the " +
    "range exchange — files land banded, probes prune immediately") {
    val dir = freshDir
    // deliberately scrambled input partitioning; NO manual
    // repartition — the write itself must request the distribution
    spark.range(8000)
      .select(col("id").as("k"), (col("id") % 97).as("v"))
      .repartition(8)
      .write.format("graftsink").option("clusterBy", "k")
      .option("clusterPartitions", 8)
      .mode("append").save(dir)
    val m = GraftSink.latestManifest(spark, dir).get
    assert(m.files.size === 8)
    // bands are disjoint: sorted by lo, each file's hi < next file's lo
    val bands = m.files.map(_.bounds("k"))
      .map { case (lo, hi) => (lo.asInstanceOf[Long], hi.asInstanceOf[Long]) }
      .sortBy(_._1)
    bands.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"overlapping bands: $bands")
      case _ => ()
    }
    val before = GraftSink.readersCreated.get()
    assert(spark.read.format("graftsink").load(dir)
      .filter(col("k") === 4242L).count() === 1L)
    assert(GraftSink.readersCreated.get() - before === 1L,
      "clustered-on-write: the probe must open exactly one file")
    // unknown clusterBy column is refused loudly
    intercept[Exception] {
      spark.range(5).select(col("id").as("k"))
        .write.format("graftsink").option("clusterBy", "nope")
        .mode("append").save(freshDir)
    }
  }

  test("COUNT(col) answers from recorded null counts: zero readers, " +
    "nulls subtracted, all-null files contribute zero") {
    val dir = freshDir
    // file 1: 3 non-null + 2 null v; file 2: all-null v
    Seq((1L, Some(1.0)), (2L, Some(2.0)), (3L, Some(3.0)),
      (4L, None), (5L, None))
      .toDF("k", "v").coalesce(1)
      .write.format("graftsink").mode("append").save(dir)
    Seq((6L, None: Option[Double]), (7L, None: Option[Double]))
      .toDF("k", "v").coalesce(1)
      .write.format("graftsink").mode("append").save(dir)
    val before = GraftSink.readersCreated.get()
    val got = spark.read.format("graftsink").load(dir)
      .agg(count(col("v")).as("nv"), count(col("k")).as("nk"),
        count(lit(1)).as("n")).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2))
      === ((3L, 7L, 7L)))
    assert(GraftSink.readersCreated.get() === before,
      "COUNT(col) must answer from manifest null counts")
    // grouped variant over a value-clustered layout
    val dir2 = freshDir
    Seq(("a", Some(1.0)), ("a", None)).toDF("g", "v").coalesce(1)
      .write.format("graftsink").mode("append").save(dir2)
    Seq(("b", Some(2.0)), ("b", Some(3.0))).toDF("g", "v").coalesce(1)
      .write.format("graftsink").mode("append").save(dir2)
    val b2 = GraftSink.readersCreated.get()
    val rows = spark.read.format("graftsink").load(dir2)
      .groupBy("g").agg(count(col("v")).as("nv")).orderBy("g")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("a", 1L), ("b", 2L)))
    assert(GraftSink.readersCreated.get() === b2)
  }

  test("filtered metadata agg: a file-exact WHERE is claimed handled " +
    "and MAX answers from manifest rows with zero readers") {
    val dir = freshDir
    // value-clustered on status: each file holds one status
    val df = spark.range(600)
      .select((col("id") % 3).cast("string").as("st"), col("id").as("ts"))
    df.repartitionByRange(3, col("st"))
      .write.format("graftsink").mode("append").save(dir)
    val before = GraftSink.readersCreated.get()
    // the incremental loop's per-partition watermark probe
    val got = spark.read.format("graftsink").load(dir)
      .filter(col("st") === "1")
      .agg(max("ts").as("wm"), count(lit(1)).as("n"))
      .collect().head
    assert((got.getLong(0), got.getLong(1)) === ((598L, 200L)))
    assert(GraftSink.readersCreated.get() === before,
      "file-exact WHERE + MAX must answer from the manifest")
    // a filter that matches NO file returns the empty aggregate
    val g2 = spark.read.format("graftsink").load(dir)
      .filter(col("st") === "9").agg(count(lit(1))).collect().head
    assert(g2.getLong(0) === 0L)
    // a NON-file-exact filter (range over ts, which straddles files)
    // stays residual: correct rows, real scan
    val b3 = GraftSink.readersCreated.get()
    val g3 = spark.read.format("graftsink").load(dir)
      .filter(col("ts") >= 300L).agg(count(lit(1))).collect().head
    assert(g3.getLong(0) === 300L)
    assert(GraftSink.readersCreated.get() > b3,
      "a straddling filter must fall back to the row scan")
    // claimed filters also serve plain row reads exactly (pruning IS
    // the row filter for all-or-nothing files)
    assert(spark.read.format("graftsink").load(dir)
      .filter(col("st") === "2").count() === 200L)
    assert(spark.read.format("graftsink").load(dir)
      .filter(col("st").isin("0", "2")).select("ts").as[Long]
      .collect().toSet ===
      (0L until 600L).filter(i => i % 3 != 1).toSet)
  }

  test("grouped metadata agg declines when files straddle group " +
    "values or nulls lurk — the row scan stays exact") {
    val dir = freshDir
    // 2 files, each holding BOTH g values → lo != hi → decline
    spark.range(100)
      .select((col("id") % 2).cast("string").as("g"), col("id").as("ts"))
      .repartitionByRange(2, col("ts"))
      .write.format("graftsink").mode("append").save(dir)
    val before = GraftSink.readersCreated.get()
    val got = spark.read.format("graftsink").load(dir)
      .groupBy("g").agg(max("ts").as("m")).orderBy("g")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("0", 98L), ("1", 99L)))
    assert(GraftSink.readersCreated.get() > before,
      "straddling files must fall back to the row scan")

    // null group values → decline (the NULL group needs row access)
    val dir2 = freshDir
    spark.range(100)
      .select(when(col("id") < 50, col("id") % 2).cast("string")
        .as("g"), col("id").as("ts"))
      .repartition(2, col("g"))
      .write.format("graftsink").mode("append").save(dir2)
    val expect2 = Seq((null, 99L), ("0", 48L), ("1", 49L))
    val got2 = spark.read.format("graftsink").load(dir2)
      .groupBy("g").agg(max("ts").as("m")).orderBy(asc_nulls_first("g"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got2 === expect2)
  }

  // ---- manifest-list segmentation: O(delta) commit metadata ----

  private def fakeEntry(i: Int) = GraftSink.ManifestFile(
    f"fake-$i%05d", "k BIGINT,s STRING", rows = 1L, bytes = 100L,
    statsJson = s"""{"k":["$i","$i","0"]}""")

  private def hconf = new org.apache.spark.util.SerializableConfiguration(
    spark.sparkContext.hadoopConfiguration)

  private def manifestBytes(dir: String, v: Int): Long =
    java.nio.file.Files.size(java.nio.file.Paths.get(
      dir, f"manifest-v$v%06d"))

  test("append metadata is O(delta): the version file stays small and " +
      "log-bounded while the table grows to hundreds of files") {
    val dir = freshDir
    val conf = hconf
    val n = 200
    (0 until n).foreach { i =>
      GraftSink.publish(spark, conf, dir, "k BIGINT,s STRING",
        Seq(fakeEntry(i)), truncate = false)
    }
    val head = GraftSink.latestManifest(spark, dir).get
    // every entry survives, in commit order
    assert(head.files.size === n)
    assert(head.files.map(_.name) === (0 until n).map(i => f"fake-$i%05d"))
    // the loose tail stays under the inline threshold; the segment
    // list is geometric (each ref at least 2x its successor), so its
    // length is O(log n) — 200 single-file appends need only a
    // handful of refs, not 200 lines
    assert(head.inline.size <= 32, s"inline tail ${head.inline.size}")
    assert(head.refs.size <= 10, s"segment refs ${head.refs.size}")
    head.refs.sliding(2).foreach {
      case Seq(a, b) => assert(a.count >= 2 * b.count,
        s"geometric invariant broken: ${head.refs.map(_.count)}")
      case _ => ()
    }
    // O(delta) pinned in BYTES: the head version file is a fraction
    // of what carry-everything-forward wrote (n entries with stats,
    // >= ~60 bytes each), and is no bigger than the version file at a
    // QUARTER of the history — commit metadata does not grow with
    // table file count
    val headBytes = manifestBytes(dir, n - 1)
    assert(headBytes < (n * 60) / 4,
      s"head manifest $headBytes bytes suggests O(total files) carry")
    assert(headBytes <= 4 * manifestBytes(dir, n / 4),
      "version-file size grew with table size")
    // rows/bytes metadata rides the refs: history sums without
    // opening segments
    assert(head.refs.map(_.rows).sum + head.inline.map(_.rows).sum
      === n.toLong)
  }

  test("segment-level pruning: a selective probe resolves ONLY the " +
      "segments whose union bounds can match — cold-driver plan " +
      "metadata is O(matching segments)") {
    val dir = freshDir
    val conf = hconf
    (0 until 200).foreach { i =>
      GraftSink.publish(spark, conf, dir, "k BIGINT,s STRING",
        Seq(fakeEntry(i)), truncate = false)
    }
    val head = GraftSink.latestManifest(spark, dir).get
    assert(head.refs.size >= 2, "test needs several segments")
    assert(head.refs.forall(_.statsJson.nonEmpty),
      "segment refs must carry union bounds")
    // cold driver: a single-key metadata-served COUNT resolves at most
    // ONE segment (entries are disjoint single-point ranges, so only
    // one union interval can contain the probe)
    GraftSink.clearSegmentCache()
    val before = GraftSink.segmentReads.get()
    assert(spark.read.format("graftsink").load(dir)
      .filter($"k" === 5L).count() === 1L)
    val reads = GraftSink.segmentReads.get() - before
    assert(reads <= 1L, s"resolved $reads segments for a 1-key probe")
    // an unfiltered COUNT still resolves the full list and sees
    // every entry
    GraftSink.clearSegmentCache()
    assert(spark.read.format("graftsink").load(dir).count() === 200L)
  }

  test("ungrouped metadata aggregates answer from SEGMENT REFS: the " +
      "watermark probe costs O(refs), zero segments resolved, zero " +
      "data files opened") {
    val dir = freshDir
    val conf = hconf
    (0 until 200).foreach { i =>
      GraftSink.publish(spark, conf, dir, "k BIGINT,s STRING",
        Seq(fakeEntry(i)), truncate = false)
    }
    GraftSink.clearSegmentCache()
    val segBefore = GraftSink.segmentReads.get()
    val rdrBefore = GraftSink.readersCreated.get()
    val row = spark.read.format("graftsink").load(dir)
      .agg(count(lit(1)), min("k"), max("k"), count("k")).head()
    assert(row.getLong(0) === 200L)
    assert(row.getLong(1) === 0L && row.getLong(2) === 199L)
    assert(row.getLong(3) === 200L) // union null sums: 200 - 0
    assert(GraftSink.segmentReads.get() === segBefore,
      "the ref-level fold must not resolve any segment")
    assert(GraftSink.readersCreated.get() === rdrBefore,
      "metadata aggregates must not open data files")
  }

  test("RANGE-exact metadata aggregates: a file-boundary-aligned " +
      "COUNT/MAX answers from the manifest with zero readers; a " +
      "straddling range falls back to the row scan, values exact") {
    val dir = freshDir
    spark.range(8000)
      .select(col("id").as("k"), (col("id") % 13).as("v"))
      .repartitionByRange(8, col("k"))
      .write.format("graftsink").mode("append").save(dir)
    val m = GraftSink.latestManifest(spark, dir).get
    // pick a middle file's exact recorded interval
    val f3 = m.files.sortBy(_.bounds("k")._1.asInstanceOf[Long])
      .apply(3)
    val (lo, hi) = (f3.bounds("k")._1.asInstanceOf[Long],
      f3.bounds("k")._2.asInstanceOf[Long])
    val before = GraftSink.readersCreated.get()
    val row = spark.read.format("graftsink").load(dir)
      .filter(col("k") >= lo && col("k") <= hi)
      .agg(count(lit(1)), max("k"), min("k")).head()
    assert(row.getLong(0) === f3.rows)
    assert(row.getLong(1) === hi && row.getLong(2) === lo)
    assert(GraftSink.readersCreated.get() === before,
      "a boundary-aligned range must answer from manifest rows")
    // the incremental-loop shape: open-ended watermark >= a boundary
    val b2 = GraftSink.readersCreated.get()
    val n2 = spark.read.format("graftsink").load(dir)
      .filter(col("k") >= lo).count()
    assert(n2 === 8000L - m.files.map(f =>
      (f.bounds("k")._1.asInstanceOf[Long], f.rows))
      .filter(_._1 < lo).map(_._2).sum)
    assert(GraftSink.readersCreated.get() === b2)
    // a STRADDLING range is never claimed: the row scan answers, and
    // the answer is exact
    val b3 = GraftSink.readersCreated.get()
    val n3 = spark.read.format("graftsink").load(dir)
      .filter(col("k") >= lo + 1 && col("k") <= hi).count()
    assert(n3 === f3.rows - 1)
    assert(GraftSink.readersCreated.get() > b3,
      "a straddling range must take the row scan")
  }

  test("segment-level MIN/MAX declines when a union DROPPED the " +
      "column (mixed evolution segment): the per-file fold answers, " +
      "never a silent understatement") {
    val dir = freshDir
    val conf = hconf
    val ddl = "k BIGINT,v BIGINT"
    // entries 0..49 carry v stats (max lives HERE, at v=1049); 50..99
    // lack v entirely (all-null files). Merged segments mix the two,
    // so their unions drop v — a fold that silently skipped those
    // pseudo-entries would answer NULL for max(v)
    (0 until 100).foreach { i =>
      val stats =
        if (i < 50)
          s"""{"k":["$i","$i","0"],"v":["${1000 + i}","${1000 + i}","0"]}"""
        else s"""{"k":["$i","$i","0"]}"""
      GraftSink.publish(spark, conf, dir, ddl,
        Seq(GraftSink.ManifestFile(f"fake-$i%05d", ddl, 1L, 100L, stats)),
        truncate = false)
    }
    val head = GraftSink.latestManifest(spark, dir).get
    assert(head.refs.nonEmpty)
    val before = GraftSink.readersCreated.get()
    val row = spark.read.format("graftsink").load(dir)
      .agg(max("v"), min("v"), count(lit(1))).head()
    assert(row.getLong(0) === 1049L, "max(v) silently understated")
    assert(row.getLong(1) === 1000L)
    assert(row.getLong(2) === 100L)
    assert(GraftSink.readersCreated.get() === before,
      "the per-file FOLD must still answer from metadata")
  }

  test("change-feed ref diff: an inline-tail append diffs with ZERO " +
      "segment reads — per-trigger driver cost is O(changed " +
      "segments), not O(table files)") {
    val dir = freshDir
    val conf = hconf
    // 200 commits = 6 full 33-commit roll cycles + 2 inline entries,
    // so the NEXT commit grows the inline tail without rolling a
    // segment — the steady-state appended-trigger shape
    (0 until 200).foreach { i =>
      GraftSink.publish(spark, conf, dir, "k BIGINT,s STRING",
        Seq(fakeEntry(i)), truncate = false)
    }
    val base = GraftSink.latestManifest(spark, dir).get.version
    GraftSink.publish(spark, conf, dir, "k BIGINT,s STRING",
      Seq(fakeEntry(9000)), truncate = false)
    GraftSink.clearSegmentCache()
    val before = GraftSink.segmentReads.get()
    // metadata-served COUNT over the delta: 1 added entry of 1 row
    assert(spark.read.format("graftsink")
      .option("changesFrom", base).load(dir).count() === 1L)
    assert(GraftSink.segmentReads.get() - before === 0L,
      "an inline-only append must diff without resolving any segment")
  }

  test("replace rewrites ONLY the segments holding replaced entries; " +
      "untouched segments carry by reference") {
    val dir = freshDir
    val conf = hconf
    (0 until 100).foreach { i =>
      GraftSink.publish(spark, conf, dir, "k BIGINT,s STRING",
        Seq(fakeEntry(i)), truncate = false)
    }
    val before = GraftSink.latestManifest(spark, dir).get
    assert(before.refs.size >= 2, "test needs at least two segments")
    // replace one file from the LAST segment only
    val victimSeg = before.refs.last
    val lastSegFiles = before.files.slice(
      before.refs.dropRight(1).map(_.count).sum,
      before.refs.map(_.count).sum)
    val victim = lastSegFiles.head.name
    GraftSink.publish(spark, conf, dir, "k BIGINT,s STRING",
      Seq(fakeEntry(9999)), truncate = false,
      replace = Some(Set(victim)))
    val after = GraftSink.latestManifest(spark, dir).get
    assert(!after.files.exists(_.name == victim))
    assert(after.files.exists(_.name == "fake-09999"))
    assert(after.files.size === before.files.size)
    // every segment except the victim's survives under its own name
    val beforeNames = before.refs.dropRight(1).map(_.name)
    assert(beforeNames.forall(n => after.refs.exists(_.name == n)),
      s"untouched segments were rewritten: ${after.refs.map(_.name)}")
    assert(!after.refs.exists(_.name == victimSeg.name))
  }

  test("cold-driver replace resolves ONLY the touched segment: bloom " +
      "sidecars rule untouched segments out without a read") {
    val dir = freshDir
    val conf = hconf
    // 100 single-entry commits leave the ladder at [66, 33] + inline —
    // two segments (150 would have merged into one)
    (0 until 100).foreach { i =>
      GraftSink.publish(spark, conf, dir, "k BIGINT,s STRING",
        Seq(fakeEntry(i)), truncate = false)
    }
    val before = GraftSink.latestManifest(spark, dir).get
    assert(before.refs.size >= 2, "test needs at least two segments")
    // every segment carries its sidecar on disk
    before.refs.foreach { r =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        dir, "_segments", s"${r.name}.bloom")),
        s"segment ${r.name} missing its bloom sidecar")
    }
    // victim from the FIRST (largest, merged) segment — the worst
    // case for a skip-less implementation, which would parse it last
    val victim = before.files.head.name
    GraftSink.clearSegmentCache() // cold driver: nothing parsed
    val reads0 = GraftSink.segmentReads.get()
    GraftSink.publish(spark, conf, dir, "k BIGINT,s STRING",
      Seq(fakeEntry(9999)), truncate = false,
      replace = Some(Set(victim)))
    val reads = GraftSink.segmentReads.get() - reads0
    // exactly the victim's segment is parsed. This exact bound is NOT
    // flaky: blooms hash MEMBER names only (bloomBits over
    // ManifestFile.name — segment UUIDs never enter a sidecar), and
    // every member here is a fixed fakeEntry "fake-%05d" string, so
    // the probe's FP outcome is a pure function of this test's
    // constant name set (same bits every run). A failure therefore
    // means the skip logic changed, never hash luck — tighten the
    // sidecar, don't widen this.
    assert(reads === 1L,
      s"cold replace parsed $reads segments; blooms must rule out " +
        s"all but the victim's (refs: ${before.refs.size})")
    val after = GraftSink.latestManifest(spark, dir).get
    assert(!after.files.exists(_.name === victim))
    assert(after.files.size === before.files.size)
  }

  test("segment layer under racing writers + geometric merges + " +
      "vacuum: surviving manifests all resolve, ref counts exact, no " +
      "referenced segment collected") {
    // round-7 segmentation changed what vacuum and the merge ladder
    // race over (capped composeSegments merges rewrite trailing
    // segments while vacuum collects expired history), so the writer
    // race is re-proven at the final form: 4 writer threads x 50+ ops
    // (appends + replaces, both driving composeSegments rollovers and
    // merges) with a vacuum thread interleaved throughout. graceMs
    // (1500 ms) exceeds any in-flight commit here by orders of
    // magnitude — the documented safety contract — while the
    // keepVersions=4 window lets vacuum genuinely collect most of the
    // ~200-version history DURING the race.
    val dir = freshDir
    val conf = hconf
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val replaced =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val replacerAdded =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // forensic trail: every publish's claimed version, printed when
    // the content assertion fails (burials show as version gaps)
    val published = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def guard(r: => Unit): Runnable = new Runnable {
      // record, don't rethrow: the asserts below report ALL failures
      // (a rethrow would surface as an opaque ExecutionException)
      override def run(): Unit =
        try r catch { case e: Throwable => failures.add(e) }
    }
    // 3 appender threads x 50 single-entry commits: enough rollovers
    // to drive the capped-geometric merge ladder repeatedly
    val appenders = (0 until 3).map { t =>
      pool.submit(guard {
        (0 until 50).foreach { i =>
          val v = GraftSink.publish(spark, conf, dir,
            "k BIGINT,s STRING", Seq(fakeEntry(t * 1000 + i)),
            truncate = false,
            maxRetries = 500) // 4 racing writers: collision storms
          published.add(f"v$v add fake-${t * 1000 + i}%05d")
        }
      })
    }
    // replacer: 15 rounds, each picks a live file from the CURRENT
    // head and swaps it for a fresh entry — segment rewrites racing
    // the appenders' merges
    val replacer = pool.submit(guard {
      (0 until 15).foreach { j =>
        Thread.sleep(30)
        GraftSink.latestManifest(spark, dir).foreach { head =>
          head.files.map(_.name)
            .find(n => !replaced.contains(n)).foreach { victim =>
            val v = GraftSink.publish(spark, conf, dir,
              "k BIGINT,s STRING", Seq(fakeEntry(5000 + j)),
              truncate = false,
              replace = Some(Set(victim)), maxRetries = 500)
            published.add(f"v$v replace $victim with fake-${5000 + j}%05d")
            replaced.add(victim)
            replacerAdded.add(f"fake-${5000 + j}%05d")
          }
        }
      }
    })
    // vacuum thread: interleaved collection until the writers finish
    val vacuums = new java.util.concurrent.atomic.AtomicInteger(0)
    val vacThread = pool.submit(guard {
      while (!stop.get()) {
        GraftSink.vacuum(spark, dir, keepVersions = 4, graceMs = 1500L)
        vacuums.incrementAndGet()
        Thread.sleep(50)
      }
    })
    (appenders :+ replacer).foreach(_.get())
    stop.set(true)
    vacThread.get()
    pool.shutdown()
    assert(failures.isEmpty,
      s"racing op failed: ${Option(failures.peek()).map(_.toString)}")
    assert(vacuums.get() >= 3, "vacuum must actually interleave")
    // final sweep with zero grace collects everything collectable
    GraftSink.vacuum(spark, dir, keepVersions = 4, graceMs = 0L)
    GraftSink.clearSegmentCache() // resolve from DISK, not memory —
    // a collected-but-cached segment must not mask the loss
    // every SURVIVING complete manifest resolves fully (vacuum never
    // collected a segment a surviving manifest references), with
    // exact ref bookkeeping
    val survivors = GraftSink.versionsOnDisk(spark, dir)
    assert(survivors.nonEmpty)
    survivors.foreach { v =>
      val m = GraftSink.manifestAt(spark, dir, Some(v)).getOrElse(
        fail(s"surviving manifest v$v failed to resolve"))
      assert(m.refs.map(_.count).sum + m.inline.size === m.files.size,
        s"v$v ref counts disagree with the resolved file list")
      m.refs.foreach { r =>
        val members = GraftSink.readSegmentForSpec(conf, dir, r.name)
        assert(members.size === r.count,
          s"v$v segment ${r.name}: ref says ${r.count}, " +
            s"segment holds ${members.size}")
        assert(members.map(_.rows).sum === r.rows,
          s"v$v segment ${r.name}: row count drifted")
      }
    }
    // content exactness at the head: all 150 appended + 15 replacer
    // entries, minus the replaced victims
    val head = GraftSink.latestManifest(spark, dir).get
    import scala.jdk.CollectionConverters._
    val expect = ((for (t <- 0 until 3; i <- 0 until 50)
      yield f"fake-${t * 1000 + i}%05d") ++ replacerAdded.asScala)
      .toSet -- replaced.asScala
    // forensic chain dump: per surviving version, the delta vs its
    // predecessor — a buried commit shows as a successor whose delta
    // silently reverts the victim's
    val chain = survivors.flatMap { v =>
      GraftSink.manifestAt(spark, dir, Some(v)).map(m =>
        v -> m.files.map(_.name).toSet)
    }
    val chainDump = chain.sliding(2).collect {
      case Seq((v1, s1), (v2, s2)) =>
        f"v$v2: +${(s2 -- s1).mkString(",")} -${(s1 -- s2).mkString(",")}"
    }.mkString("\n")
    withClue(published.asScala.toSeq.sortBy(l =>
        l.drop(1).takeWhile(_.isDigit).toInt).mkString("\n", "\n", "\n")
        + "\nchain:\n" + chainDump + "\n") {
      assert(head.files.map(_.name).toSet === expect,
        s"lost: ${expect -- head.files.map(_.name).toSet}; phantom: " +
          s"${head.files.map(_.name).toSet -- expect}")
    }
  }

  test("data round trip across the segment boundary: appends, time " +
      "travel, and bounds skipping are unchanged by segmentation") {
    val dir = freshDir
    (0 until 40).foreach { i =>
      Seq((i.toLong, s"s$i")).toDF("k", "s").coalesce(1)
        .write.format("graftsink").mode("append").save(dir)
    }
    val head = GraftSink.latestManifest(spark, dir).get
    assert(head.refs.nonEmpty, "40 appends must have rolled a segment")
    val back = spark.read.format("graftsink").load(dir)
    assert(back.count() === 40)
    assert(back.filter($"k" === 7L).select("s").as[String].head() === "s7")
    // time travel to a pre-segmentation-rollover version
    val v9 = spark.read.format("graftsink").option("version", 9)
      .load(dir)
    assert(v9.count() === 10)
    // bounds skipping still prunes: an equality on k opens ONE file
    // (a filtered COUNT is file-exact metadata-served — zero readers —
    // so probe with a row-returning select instead)
    GraftSink.readersCreated.set(0)
    assert(back.filter($"k" === 23L).select("s").as[String].head()
      === "s23")
    assert(GraftSink.readersCreated.get() === 1,
      "segmented manifest lost per-file bounds pruning")
  }

  test("vacuum GCs segments no live manifest references, keeps the " +
      "head's, and the table still reads") {
    val dir = freshDir
    val conf = hconf
    (0 until 100).foreach { i =>
      GraftSink.publish(spark, conf, dir, "k BIGINT,s STRING",
        Seq(fakeEntry(i)), truncate = false)
    }
    val segRoot = java.nio.file.Paths.get(dir, "_segments")
    val beforeCount = java.nio.file.Files.list(segRoot).count()
    val headRefs = GraftSink.latestManifest(spark, dir).get
      .refs.map(_.name).toSet
    assert(headRefs.nonEmpty)
    GraftSink.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    val after = java.nio.file.Files.list(segRoot).iterator()
    val remaining = scala.jdk.CollectionConverters
      .IteratorHasAsScala(after).asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSet // hadoop .crc sidecars
    // exactly the head's segments survive (merge/retry leftovers and
    // expired history's exclusive segments are gone); each live
    // segment keeps its .bloom sidecar, dead segments lose theirs
    val (remBlooms, remSegs) = remaining.partition(_.endsWith(".bloom"))
    assert(remSegs === headRefs,
      s"kept $remSegs vs referenced $headRefs (of $beforeCount)")
    assert(remBlooms.map(_.stripSuffix(".bloom")) === headRefs,
      s"bloom sidecars out of step: $remBlooms vs $headRefs")
    assert(GraftSink.latestManifest(spark, dir).get.files.size === 100)
  }

  private def flipByteAt(path: org.apache.hadoop.fs.Path): Array[Byte] = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(path).getLen
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(path)
    try in.readFully(buf) finally in.close()
    val orig = buf.clone()
    buf(len.toInt / 2) = (buf(len.toInt / 2) ^ 0x01).toByte
    val out = fs.create(path, true)
    try out.write(buf) finally out.close()
    assert(fs.getFileStatus(path).getLen === len, "flip kept the size")
    orig
  }

  private def msgChain(t: Throwable): Seq[String] =
    if (t == null) Seq.empty
    else Option(t.getMessage).toSeq ++ msgChain(t.getCause)

  test("compaction VERIFIES what it retires: a bit-rotted group " +
    "member REFUSES (named) instead of being concatenated under a " +
    "fresh checksum that would bless the corruption forever; the " +
    "restored byte compacts, and the chain stays sound") {
    val dir = freshDir
    for (i <- 0 until 4)
      Seq((i.toLong, s"row-$i-payload")).toDF("k", "s").coalesce(1)
        .write.format("graftsink").mode("append").save(dir)
    val files = GraftSink.latestManifest(spark, dir).get.files
    assert(files.size === 4 && files.forall(_.checksum.length == 16))
    val victim = files.sortBy(_.name).apply(1)
    val p = new org.apache.hadoop.fs.Path(dir, s"data/${victim.name}")
    val orig = flipByteAt(p)
    val e = intercept[Exception] { GraftSink.compact(spark, dir) }
    assert(msgChain(e).exists(m => m.contains(victim.name) &&
      m.contains("refusing to retire")),
      s"compaction must refuse naming the rotted member: ${msgChain(e)}")
    // nothing retired: the head still lists the original files with
    // their HONEST checksums, so deep fsck still names the damage —
    // the laundering path is closed
    assert(GraftSink.latestManifest(spark, dir).get.files
      .map(_.name).toSet === files.map(_.name).toSet,
      "a refused compaction must leave the head untouched")
    val deep = GraftSink.fsck(spark, dir, deep = true)
    assert(!deep.clean && deep.checksumMismatches.size === 1 &&
      deep.checksumMismatches.head.startsWith(victim.name),
      s"the damage must stay visible to deep fsck: $deep")
    // restore -> the same compaction succeeds, table deep-verifies
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(orig) finally out.close()
    assert(GraftSink.compact(spark, dir).groupsMerged === 1)
    assert(GraftSink.fsck(spark, dir, deep = true).deepVerified)
    assert(spark.read.format("graftsink").load(dir).count() === 4L)
  }

  test("clustering VERIFIES what it retires: the pre-retire re-hash " +
    "refuses a bit-rotted input file by name — a re-sort would parse " +
    "corrupt bytes into wrong rows under fresh checksums") {
    val dir = freshDir
    spark.range(300).select(col("id").as("k"),
      concat(lit("v-"), col("id")).as("s"))
      .repartition(3)
      .write.format("graftsink").mode("append").save(dir)
    val files = GraftSink.latestManifest(spark, dir).get.files
    val victim = files.sortBy(_.name).head
    val p = new org.apache.hadoop.fs.Path(dir, s"data/${victim.name}")
    val orig = flipByteAt(p)
    val e = intercept[Exception] {
      GraftSink.cluster(spark, dir, Seq("k"))
    }
    assert(msgChain(e).exists(m => m.contains(victim.name) &&
      m.contains("refusing to launder")),
      s"clustering must refuse naming the rotted input: ${msgChain(e)}")
    assert(GraftSink.latestManifest(spark, dir).get.files
      .map(_.name).toSet === files.map(_.name).toSet,
      "a refused clustering must leave the head untouched")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(orig) finally out.close()
    GraftSink.cluster(spark, dir, Seq("k"))
    assert(GraftSink.fsck(spark, dir, deep = true).deepVerified)
    assert(spark.read.format("graftsink").load(dir).count() === 300L)
  }

  test("incremental cluster (bounds overlap): the tail folds into " +
    "ONLY the clustered files its key range overlaps — every other " +
    "clustered file survives byte-identical by name, and the pass " +
    "costs O(tail + overlap), not O(table)") {
    val dir = freshDir
    spark.range(4000).select(col("id").as("k"), lit(1L).as("v"))
      .repartition(4)
      .write.format("graftsink").mode("append").save(dir)
    val bytes0 = GraftSink.latestManifest(spark, dir).get
      .files.map(_.bytes).sum
    GraftSink.cluster(spark, dir, Seq("k"), targetBytes = bytes0 / 8)
    val run1 = GraftSink.latestManifest(spark, dir).get.files
    assert(run1.size >= 6, s"need a multi-file sorted run: ${run1.size}")
    // the append cadence resumes with a KEY-LOCAL tail (the
    // time-ordered-ingest shape): 3800..4599 overlaps only the top
    // of the sorted run
    spark.range(3800, 4600).select(col("id").as("k"), lit(2L).as("v"))
      .repartition(2)
      .write.format("graftsink").mode("append").save(dir)
    val expectVictims = GraftSink.latestManifest(spark, dir).get.files
      .filter(f => !f.name.startsWith("cluster-") ||
        f.bounds("k")._2.asInstanceOf[Long] >= 3800L)
    val untouched = run1.filterNot(f =>
      expectVictims.exists(_.name == f.name))
    assert(untouched.size >= 4 && expectVictims.size >= 3,
      s"seed must split cleanly: ${untouched.size} untouched, " +
        s"${expectVictims.size} victims")
    val before = GraftSink.readersCreated.get()
    val stats = GraftSink.cluster(spark, dir, Seq("k"),
      targetBytes = 1L << 20, incremental = true)
    // only the victims were read and rewritten
    assert(GraftSink.readersCreated.get() - before ===
      expectVictims.size.toLong,
      "non-overlapping clustered files must not even be opened")
    assert(stats.rows === expectVictims.map(_.rows).sum,
      s"cost must track tail + overlap: $stats")
    val after = GraftSink.latestManifest(spark, dir).get.files
    // untouched files survive BYTE-IDENTICAL: same name (files are
    // immutable once published) and same recorded checksum
    untouched.foreach { f =>
      val still = after.find(_.name == f.name)
      assert(still.exists(_.checksum == f.checksum),
        s"${f.name} must survive byte-identical")
    }
    // victims are gone from the head (retired by the fold)
    assert(after.map(_.name).toSet
      .intersect(expectVictims.map(_.name).toSet).isEmpty,
      "folded victims must leave the head")
    // content exact, duplicates where the tail re-added keys
    assert(spark.read.format("graftsink").load(dir).count() === 4800L)
    // a point probe in the untouched region opens exactly one file
    val b2 = GraftSink.readersCreated.get()
    assert(spark.read.format("graftsink").load(dir)
      .filter(col("k") === 77L).count() === 1L)
    assert(GraftSink.readersCreated.get() - b2 === 1L,
      "the untouched region must stay one-probe-one-file")
    // with no new tail, the incremental pass is a no-op
    assert(GraftSink.cluster(spark, dir, Seq("k"),
      incremental = true).rows === 0L)
  }
}
