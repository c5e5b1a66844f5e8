package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.model.DerivedColumn
import graft.operators.{Ops, ParquetIO}
import graft.sources.Commit

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("renameProject renames and prunes to the listed columns") {
    val df = Seq(("a", "t1", 1.5, "junk")).toDF("address", "tx_id", "value", "extra")
    val out = Ops.renameProject(df,
      Seq("address" -> "address", "tx_id" -> "transaction_id", "value" -> "bitcoin_amount"))
    assert(out.columns.toSeq == Seq("address", "transaction_id", "bitcoin_amount"))
    assert(out.head.getString(1) == "t1")
  }

  test("dedupLatest picks a deterministic survivor among equal versions") {
    // audit-stamped batches give every row the SAME version; survivor
    // must not depend on partitioning/arrival order
    val rows = Seq((1L, "a", 5L), (1L, "b", 5L), (1L, "c", 5L))
    def survivor(parts: Int): String =
      Ops.dedupLatest(rows.toDF("k", "v", "ts").repartition(parts),
        Seq("k"), "ts").head.getString(1)
    assert(Seq(1, 3, 7).map(survivor).distinct.size == 1)
  }

  test("applyDerived evaluates SQL-expression transforms (UPPER)") {
    val df = Seq(Tuple1("abc")).toDF("address")
    val out = Ops.applyDerived(df, Seq(DerivedColumn("dimension_attribute_name", "upper(address)")))
    assert(out.head.getString(1) == "ABC")
  }

  test("auditStamp adds a timestamp column") {
    val out = Ops.auditStamp(Seq(Tuple1(1)).toDF("x"))
    assert(out.columns.contains("etl_updated_ts"))
    assert(out.head.getTimestamp(1) != null)
  }

  test("normalizeNames lowercases column names") {
    val out = Ops.normalizeNames(Seq((1, 2)).toDF("JOB_NAME", "Query_Id"))
    assert(out.columns.toSeq == Seq("job_name", "query_id"))
  }

  test("maxWatermark: None for an empty table, Some(max) otherwise") {
    assert(Ops.maxWatermark(Seq.empty[Int].toDF("v"), "v").isEmpty)
    assert(Ops.maxWatermark(Seq(1, 5, 3).toDF("v"), "v").contains(5))
  }

  test("fullRefresh overwrites (truncate+reload semantics)") {
    val dir = tmpDir("fr") + "/t"
    Ops.fullRefresh(Seq(1, 2, 3).toDF("v"), dir)
    assert(spark.read.parquet(dir).count() == 3)
    Ops.fullRefresh(Seq(9).toDF("v"), dir)
    assert(spark.read.parquet(dir).as[Int].collect().toSeq == Seq(9))
  }

  test("mergeUpsert: insert-only, update-only, mixed, in-batch dedup") {
    val dir = tmpDir("mu") + "/t"
    def rows = spark.read.parquet(dir).as[(String, Double, Long)]
      .collect().sortBy(_._1).toSeq

    // first load (target missing → plain write)
    Ops.mergeUpsert(spark, dir,
      Seq(("k1", 1.0, 10L), ("k2", 2.0, 10L)).toDF("k", "v", "etl_updated_ts"),
      Seq("k"))
    assert(rows == Seq(("k1", 1.0, 10L), ("k2", 2.0, 10L)))

    // insert-only batch
    Ops.mergeUpsert(spark, dir,
      Seq(("k3", 3.0, 20L)).toDF("k", "v", "etl_updated_ts"), Seq("k"))
    assert(rows.map(_._1) == Seq("k1", "k2", "k3"))

    // update-only batch (k2 overwritten)
    Ops.mergeUpsert(spark, dir,
      Seq(("k2", 22.0, 30L)).toDF("k", "v", "etl_updated_ts"), Seq("k"))
    assert(rows.find(_._1 == "k2").get._2 == 22.0)
    assert(rows.size == 3)

    // mixed batch with duplicate keys: latest etl_updated_ts wins
    Ops.mergeUpsert(spark, dir,
      Seq(("k1", 100.0, 40L), ("k1", 111.0, 50L), ("k4", 4.0, 40L))
        .toDF("k", "v", "etl_updated_ts"),
      Seq("k"))
    assert(rows.find(_._1 == "k1").get._2 == 111.0)
    assert(rows.map(_._1) == Seq("k1", "k2", "k3", "k4"))
  }

  test("mergeUpsert is idempotent") {
    val dir = tmpDir("mi") + "/t"
    val batch = Seq(("a", 1.0, 1L), ("b", 2.0, 1L)).toDF("k", "v", "etl_updated_ts")
    Ops.mergeUpsert(spark, dir, batch, Seq("k"))
    val once = spark.read.parquet(dir).orderBy("k").collect().toSeq
    Ops.mergeUpsert(spark, dir, batch, Seq("k"))
    val twice = spark.read.parquet(dir).orderBy("k").collect().toSeq
    assert(once == twice)
  }

  test("mergeUpsertDf returns the rows of the batch-keyed anti-join and " +
      "runs one row_number window over the batch") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.RowNumber
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    // the formulation before the single pass: the anti-join keys came
    // from the deduped batch, a second window over it
    def twoPass(t: DataFrame, u: DataFrame, keys: Seq[String]) = {
      val b = Ops.dedupLatest(u, keys, "ts")
      t.join(b.select(keys.map(col): _*), keys, "left_anti")
        .unionByName(b, allowMissingColumns = true)
    }
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map(String.valueOf))
      .sortBy(_.mkString("|")).toSeq
    val target = Seq[(Option[Int], String, String, Long)](
      (Some(1), "a", "t1a", 0L), (Some(1), "b", "t1b", 0L),
      (Some(2), "a", "t2a", 0L), (Some(3), "a", "t3a", 0L),
      (None, "a", "tNa", 0L)).toDF("k", "j", "v", "ts")
    val batches = Seq(
      "duplicate keys" -> Seq((Some(1), "a", "x", 1L), (Some(1), "a", "y", 2L),
        (Some(4), "a", "z", 1L)),
      // an audit-stamped batch: the content hash picks the survivor
      "equal-version duplicates" -> Seq((Some(2), "a", "p", 5L),
        (Some(2), "a", "q", 5L), (Some(2), "b", "r", 5L)),
      "null keys" -> Seq((None, "a", "n1", 1L), (None, "a", "n2", 1L),
        (Some(3), "a", "u3", 1L)),
      "empty" -> Seq.empty[(Option[Int], String, String, Long)])
    val helper = new AdaptiveSparkPlanHelper {}
    for ((name, batch) <- batches; keys <- Seq(Seq("k"), Seq("k", "j"))) {
      val u = batch.toDF("k", "j", "v", "ts")
      val merged = Ops.mergeUpsertDf(Some(target), u, keys, "ts")
      val got = rows(merged)
      assert(got == rows(twoPass(target, u, keys)), s"$name, keys $keys")
      if (batch.nonEmpty)
        assert(got.size < target.count() + batch.size, s"$name, keys $keys")
      val windows = helper.collect(merged.queryExecution.executedPlan) {
        case w: WindowExec
            if w.windowExpression.exists(_.exists(_.isInstanceOf[RowNumber])) => w
      }
      // an empty batch folds the whole merge away
      assert(windows.size == (if (batch.isEmpty) 0 else 1),
        s"$name, keys $keys:\n" + merged.queryExecution.executedPlan)
    }
  }

  test("overwriteSafe: a failed write leaves the target intact and no " +
      "orphan staging/aside dirs") {
    val base = tmpDir("osf")
    val dir = base + "/t"
    Seq(1, 2, 3).toDF("v").write.parquet(dir)
    // evaluation of this frame throws mid-write (after the staging dir
    // is created), exercising the write-phase cleanup path
    val poisoned = Seq(1).toDF("v")
      .select(when(col("v") > 0, raise_error(lit("boom")))
        .otherwise(col("v").cast("string")).as("v"))
    intercept[Exception] {
      graft.operators.ParquetIO.overwriteSafe(poisoned, dir)
    }
    assert(spark.read.parquet(dir).as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 3), "target must be untouched after a failed write")
    val leftovers = new java.io.File(base).listFiles()
      .map(_.getName).filterNot(_ == "t")
    assert(leftovers.isEmpty,
      s"no staging/aside dirs may remain, got ${leftovers.toSeq}")
  }

  /** Run `body` with `plant` at [[Commit.placeBarrier]] (staged path
    * and final name, right before each move of a swap).
    */
  private def planting[A](plant: (Path, Path) => Unit)(body: => A): A = {
    Commit.placeBarrier = plant
    try body finally Commit.placeBarrier = (_, _) => ()
  }

  private def siblings(base: String) = new java.io.File(base).listFiles()
    .map(_.getName).filterNot(_ == "t").sorted.toSeq

  test("overwriteSafe: a dir planted at the target between aside and " +
      "place is never written into, and the original is restored once " +
      "the name is free") {
    val base = tmpDir("swap_plant")
    val dir = base + "/t"
    Ops.fullRefresh(Seq(1, 2).toDF("v"), dir)
    // the racer plants before the staged copy's placement and is gone
    // again before the restore
    val e = intercept[java.io.IOException](planting { (src, dst) =>
      if (src.getName.contains("__staging_"))
        Seq(7).toDF("v").write.parquet(dst.toString)
      else if (src.getName.contains("__replaced_"))
        new Path(dst.toString).getFileSystem(
          spark.sparkContext.hadoopConfiguration).delete(dst, true)
    } {
      ParquetIO.overwriteSafe(Seq(9).toDF("v"), dir)
    })
    assert(e.getMessage.contains("(original restored)"), s"$e")
    assert(spark.read.parquet(dir).as[Int].collect().sorted.toSeq ==
      Seq(1, 2))
    assert(siblings(base).isEmpty, s"left behind: ${siblings(base)}")
  }

  test("overwriteSafe: a dir that stays planted at the target keeps " +
      "both copies and names them") {
    val base = tmpDir("swap_plant2")
    val dir = base + "/t"
    Ops.fullRefresh(Seq(1, 2).toDF("v"), dir)
    val e = intercept[java.io.IOException](planting { (src, dst) =>
      if (src.getName.contains("__staging_"))
        Seq(7).toDF("v").write.parquet(dst.toString)
    } {
      ParquetIO.overwriteSafe(Seq(9).toDF("v"), dir)
    })
    val Seq(aside, staged) = siblings(base)
    assert(aside.startsWith("t__replaced_") && staged.startsWith("t__staging_"))
    assert(e.getMessage.contains("restore failed") &&
      e.getMessage.contains(aside) && e.getMessage.contains(staged), s"$e")
    def rows(p: String) = spark.read.parquet(s"$base/$p").as[Int]
      .collect().sorted.toSeq
    assert(rows(aside) == Seq(1, 2) && rows(staged) == Seq(9))
    assert(rows("t") == Seq(7), "the plant is left as it is")
  }

  test("a flat overwriteSafe launches as many Spark jobs as a plain " +
      "parquet write of the same frame") {
    import org.apache.spark.graft.SparkJobs
    val df = spark.range(0, 1000, 1, 2).selectExpr("id AS v")
    val base = tmpDir("swap_jobs")
    val (_, plain) = SparkJobs.count(spark.sparkContext)(
      df.write.parquet(s"$base/plain"))
    ParquetIO.overwriteSafe(df, s"$base/t")
    val (_, safe) = SparkJobs.count(spark.sparkContext)(
      ParquetIO.overwriteSafe(df, s"$base/t"))
    assert(safe == plain, s"overwriteSafe ran $safe jobs, the write $plain")
  }

  test("deleteWhere removes matching rows, keeps NULL-predicate rows") {
    val dir = tmpDir("dw") + "/t"
    Seq(("a", Some(1)), ("b", Some(5)), ("c", None))
      .toDF("k", "v").write.parquet(dir)
    Ops.deleteWhere(spark, dir, col("v") > 3)
    val kept = spark.read.parquet(dir).select("k").as[String].collect().sorted
    assert(kept.toSeq == Seq("a", "c"))
  }

  test("watermarkFilter keeps only rows past the watermark") {
    val df = Seq(1, 2, 3, 4).toDF("d")
    assert(Ops.watermarkFilter(df, "d", Some(2)).count() == 2)
    assert(Ops.watermarkFilter(df, "d", None).count() == 4)
  }

  test("mergeAggregate: folded deltas equal the full recompute") {
    val dir = tmpDir("magg") + "/agg"
    val all = Seq(("a", 1.0), ("a", 2.0), ("b", 10.0), ("b", 20.0),
      ("c", 5.0)).toDF("k", "v")
    // three disjoint deltas in arbitrary order
    Ops.mergeAggregate(spark, dir, all.filter(col("v") >= 10), Seq("k"), Seq("v"))
    Ops.mergeAggregate(spark, dir, all.filter(col("v") < 2), Seq("k"), Seq("v"))
    Ops.mergeAggregate(spark, dir,
      all.filter(col("v") >= 2 && col("v") < 10), Seq("k"), Seq("v"))
    val got = spark.read.parquet(dir)
      .select("k", "n_rows", "v").as[(String, Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(("a", 2L, 3.0), ("b", 2L, 30.0), ("c", 1L, 5.0)))
    // a delta containing a brand-new key inserts it
    Ops.mergeAggregate(spark, dir, Seq(("d", 7.0)).toDF("k", "v"),
      Seq("k"), Seq("v"))
    assert(spark.read.parquet(dir).filter(col("k") === "d")
      .select("n_rows", "v").as[(Long, Double)].head() == ((1L, 7.0)))
  }

  test("gcStaged removes only AGED swap artifacts of the named target") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("opsspec_gc").toString
    val target = root + "/table"
    Seq((1L, "a")).toDF("k", "v").write.parquet(target)
    // orphans of THIS target, an orphan of a sibling table, and a live
    // (recent) staging dir
    val oldStaging = root + "/table__staging_deadbeef"
    val oldAside = root + "/table__replaced_deadbeef"
    val otherTable = root + "/other__staging_deadbeef"
    Seq(oldStaging, oldAside, otherTable)
      .foreach(p => Files.createDirectory(Paths.get(p)))
    val liveStaging = root + "/table__staging_00000000"
    Files.createDirectory(Paths.get(liveStaging))
    // age the orphans; leave liveStaging at now
    Seq(oldStaging, oldAside, otherTable).foreach { p =>
      Paths.get(p).toFile.setLastModified(
        System.currentTimeMillis() - 3600_000L)
    }
    val deleted = graft.operators.ParquetIO
      .gcStaged(spark, target, olderThanMs = 60_000L)
    assert(deleted.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet ==
      Set("table__staging_deadbeef", "table__replaced_deadbeef"))
    assert(Files.exists(Paths.get(liveStaging)), "live swap dir deleted")
    assert(Files.exists(Paths.get(otherTable)),
      "sibling table's artifact deleted")
    assert(Files.exists(Paths.get(target)))
    // the target itself still reads
    assert(spark.read.parquet(target).count() == 1)
  }

  test("spreadNarrow widens a narrow input data-proportionally, " +
      "capped at the session shuffle width") {
    // a session wide enough that "below the cap" and "at the cap" are
    // different widths (the suite's default of 4 equals the floor)
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try {
      val narrow = Seq.tabulate(100)(i => (i.toLong, s"doc$i"))
        .toDF("id", "text").coalesce(1)
      val spread = Ops.spreadNarrow(narrow)
      val n = spread.rdd.getNumPartitions
      // a KB-scale input spreads to a FEW partitions (>= the floor of
      // 4, data-proportional at ~64 KiB/task), never the whole session
      // width — r15, the inverse-scaling fix for allocation-heavy
      // kernels over tiny corpora
      assert(n >= 4 && n < 64, s"width $n outside [4, 64)")
      assert(spread.count() == 100)
      // a large-estimate input still spreads to the full session cap:
      // the width is min(session, bytes/64KiB)
      val big = spark.range(0, 1L << 20, 1, 1).toDF("id")
      assert(Ops.spreadNarrow(big).rdd.getNumPartitions == 64,
        "MB-scale input must saturate the session width")
      // a wide input passes through untouched (no gratuitous shuffle)
      val wide = narrow.repartition(8)
      assert(Ops.spreadNarrow(wide).queryExecution.optimizedPlan ==
        wide.queryExecution.optimizedPlan)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }

  test("spreadNarrow blocks filter pushdown below the repartition") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, RepartitionOperation}
    // MUST be a file scan: a LocalRelation input lets
    // ConvertToLocalRelation fold projects/filters into the relation
    // and the assertion passes vacuously (which is exactly how the
    // range-folded `rand >= -1` guard slipped through in round 3)
    val dir = java.nio.file.Files
      .createTempDirectory("opsspec_spread").toString + "/docs"
    Seq.tabulate(100)(i => (i.toLong, s"doc$i")).toDF("id", "text")
      .coalesce(1).write.parquet(dir)
    val narrow = spark.read.parquet(dir)
    // an expensive deterministic gate after the spread — with a plain
    // repartition, Catalyst substitutes the alias and sinks this onto
    // the single input partition
    val gated = Ops.spreadNarrow(narrow)
      .select(col("id"), length(col("text")).as("n"))
      .filter(col("n") > 3)
    val plan = gated.queryExecution.optimizedPlan
    // every Filter must sit ABOVE the repartition: no Filter anywhere
    // in a RepartitionOperation's subtree...
    val below = plan.collect { case r: RepartitionOperation =>
      r.child.collect { case f: Filter => f }.size
    }.sum
    assert(below == 0, s"filter pushed below the spread:\n$plan")
    // ...and the guard itself must SURVIVE optimization (two filters
    // above: the user gate and the non-deterministic barrier) — if the
    // optimizer folds the guard away, pushdown resumes silently
    val above = plan.collect { case f: Filter => f }.size
    assert(above == 2, s"barrier folded away (filters=$above):\n$plan")
    assert(gated.count() == 100)
  }

  test("deleteMatching: keyed rows go, null-keyed rows survive, " +
      "key relation shape is enforced") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_delmatch").toString + "/t"
    Seq((Some(1L), "a"), (Some(2L), "b"), (None, "n"), (Some(3L), "c"))
      .toDF("k", "v").write.parquet(path)
    Ops.deleteMatching(spark, path, Seq(1L, 3L).toDF("k"), "k")
    val left = spark.read.parquet(path)
      .select(col("k"), col("v")).collect()
      .map(r => (Option(r.get(0)), r.getString(1))).toSet
    // SQL DELETE semantics: a NULL key proves nothing, so it stays
    assert(left == Set((Some(2L), "b"), (None, "n")))
    intercept[IllegalArgumentException] {
      Ops.deleteMatching(spark, path,
        Seq((1L, "x")).toDF("k", "extra"), "k")
    }
  }
}
