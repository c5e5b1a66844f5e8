package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.operators.Ops

class PartitionedMergeSpec extends SparkSpec {
  import spark.implicits._

  private def readBack(path: String) =
    spark.read.parquet(path)
      .select($"id", $"v", $"dt".cast("string").as("dt"))
      .orderBy("id").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2)))

  /** parquet part files under a hive partition dir, with mtimes. */
  private def partFiles(root: String, dt: String): Map[String, Long] = {
    val d = new File(root, s"dt=$dt")
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
  }

  test("merge touches only the batch's partitions; others stay byte-identical") {
    val path = tmpDir("pmerge") + "/t"
    val init = Seq(
      (1L, "a", "2024-01-01"), (2L, "b", "2024-01-01"),
      (3L, "c", "2024-01-02"), (4L, "d", "2024-01-03"))
      .toDF("id", "v", "dt").withColumn("etl_updated_ts", lit(1L))
    Ops.mergeUpsertPartitioned(spark, path, init, Seq("id"), "dt")

    val untouched1 = partFiles(path, "2024-01-01")
    val untouched3 = partFiles(path, "2024-01-03")
    assert(untouched1.nonEmpty && untouched3.nonEmpty)
    Thread.sleep(1100) // mtime granularity

    // update id=3 and insert id=5, both in the 01-02 partition only
    val batch = Seq((3L, "C2", "2024-01-02"), (5L, "e", "2024-01-02"))
      .toDF("id", "v", "dt").withColumn("etl_updated_ts", lit(2L))
    Ops.mergeUpsertPartitioned(spark, path, batch, Seq("id"), "dt")

    assert(readBack(path).toSeq == Seq(
      (1L, "a", "2024-01-01"), (2L, "b", "2024-01-01"),
      (3L, "C2", "2024-01-02"), (4L, "d", "2024-01-03"),
      (5L, "e", "2024-01-02")))
    assert(partFiles(path, "2024-01-01") == untouched1,
      "partition 2024-01-01 was rewritten but not touched by the batch")
    assert(partFiles(path, "2024-01-03") == untouched3,
      "partition 2024-01-03 was rewritten but not touched by the batch")
  }

  test("merge is idempotent and duplicate keys in a batch resolve latest-wins") {
    val path = tmpDir("pmerge_idem") + "/t"
    val init = Seq((1L, "a", "2024-01-01"))
      .toDF("id", "v", "dt").withColumn("etl_updated_ts", lit(1L))
    Ops.mergeUpsertPartitioned(spark, path, init, Seq("id"), "dt")
    val batch = Seq(
      (1L, "stale", "2024-01-01", 2L), (1L, "fresh", "2024-01-01", 3L),
      (2L, "new", "2024-01-02", 2L))
      .toDF("id", "v", "dt", "etl_updated_ts")
    Ops.mergeUpsertPartitioned(spark, path, batch, Seq("id"), "dt")
    val once = readBack(path).toSeq
    Ops.mergeUpsertPartitioned(spark, path, batch, Seq("id"), "dt")
    assert(readBack(path).toSeq == once)
    assert(once == Seq((1L, "fresh", "2024-01-01"), (2L, "new", "2024-01-02")))
  }

  test("a batch may move a key to a new partition value") {
    val path = tmpDir("pmerge_move") + "/t"
    val init = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02"))
      .toDF("id", "v", "dt").withColumn("etl_updated_ts", lit(1L))
    Ops.mergeUpsertPartitioned(spark, path, init, Seq("id"), "dt")
    // id=1 moves 01-01 → 01-05: batch touches BOTH partitions, so the
    // old copy is merged away, not orphaned
    val batch = Seq((1L, "a2", "2024-01-05"), (9L, "x", "2024-01-01"))
      .toDF("id", "v", "dt").withColumn("etl_updated_ts", lit(2L))
    Ops.mergeUpsertPartitioned(spark, path, batch, Seq("id"), "dt")
    assert(readBack(path).toSeq == Seq(
      (1L, "a2", "2024-01-05"), (2L, "b", "2024-01-02"),
      (9L, "x", "2024-01-01")))
  }

  test("a NULL partition value is rejected loudly, not silently dropped") {
    val path = tmpDir("pmerge_null") + "/t"
    val init = Seq((1L, "a", "2024-01-01"))
      .toDF("id", "v", "dt").withColumn("etl_updated_ts", lit(1L))
    Ops.mergeUpsertPartitioned(spark, path, init, Seq("id"), "dt")
    val bad = Seq((2L, "b", null: String))
      .toDF("id", "v", "dt").withColumn("etl_updated_ts", lit(2L))
    val e = intercept[IllegalArgumentException] {
      Ops.mergeUpsertPartitioned(spark, path, bad, Seq("id"), "dt")
    }
    assert(e.getMessage.contains("NULL"))
  }

  test("a non-empty flat target is refused, not silently corrupted") {
    val path = tmpDir("pmerge_flat") + "/t"
    Seq((1L, "a", "2024-01-01")).toDF("id", "v", "dt")
      .withColumn("etl_updated_ts", lit(1L))
      .write.parquet(path) // FLAT layout
    val batch = Seq((2L, "b", "2024-01-02")).toDF("id", "v", "dt")
      .withColumn("etl_updated_ts", lit(2L))
    val e = intercept[IllegalArgumentException] {
      Ops.mergeUpsertPartitioned(spark, path, batch, Seq("id"), "dt")
    }
    assert(e.getMessage.contains("migrate"))
  }

  test("an empty partitioned full refresh stays readable and mergeable") {
    val path = tmpDir("pmerge_empty") + "/t"
    val empty = Seq.empty[(Long, String, String)].toDF("id", "v", "dt")
      .withColumn("etl_updated_ts", lit(1L))
    Ops.fullRefresh(empty, path, Seq("dt"))
    assert(spark.read.parquet(path).count() == 0) // schema survives
    val batch = Seq((1L, "a", "2024-01-01")).toDF("id", "v", "dt")
      .withColumn("etl_updated_ts", lit(2L))
    Ops.mergeUpsertPartitioned(spark, path, batch, Seq("id"), "dt")
    assert(readBack(path).toSeq == Seq((1L, "a", "2024-01-01")))
  }

  test("flat-rewrite operators refuse a hive-partitioned target") {
    val path = tmpDir("pmerge_guard") + "/t"
    val init = Seq((1L, "a", "2024-01-01")).toDF("id", "v", "dt")
      .withColumn("etl_updated_ts", lit(1L))
    Ops.mergeUpsertPartitioned(spark, path, init, Seq("id"), "dt")
    val batch = Seq((2L, "b", "2024-01-02")).toDF("id", "v", "dt")
      .withColumn("etl_updated_ts", lit(2L))
    intercept[IllegalArgumentException] {
      Ops.mergeUpsert(spark, path, batch, Seq("id"))
    }
    intercept[IllegalArgumentException] {
      Ops.deleteWhere(spark, path, col("id") === 1L)
    }
    // the partition-aware delete keeps the layout
    Ops.deleteWhere(spark, path, col("id") === 1L, Seq("dt"))
    assert(readBack(path).isEmpty)
  }

  test("compactPartitions collapses small-file dirs, contents identical") {
    val path = tmpDir("pmerge_compact") + "/t"
    // 8-way repartition before a partitionBy write → multiple part
    // files per partition directory (the small-file long tail)
    val rows = (1L to 400L).map(i => (i, s"v$i", f"2024-01-0${i % 4 + 1}"))
    rows.toDF("id", "v", "dt").repartition(8)
      .write.partitionBy("dt").mode("overwrite").parquet(path)

    def dataFiles(dt: String): Array[File] = {
      val d = new File(path, s"dt=$dt")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
    }
    val dts = Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04")
    assert(dts.forall(dataFiles(_).length > 1),
      "fixture should start with multiple files per dir")
    val before = readBack(path).toSeq

    val compacted = Ops.compactPartitions(spark, path, "dt",
      targetFileBytes = 64L << 20)
    assert(compacted == 4, s"expected 4 dirs compacted, got $compacted")
    dts.foreach(dt => assert(dataFiles(dt).length == 1,
      s"dir dt=$dt still has ${dataFiles(dt).length} files"))
    assert(readBack(path).toSeq == before, "compaction changed contents")
    // the staged-swap machinery must clean up after itself: no
    // __staging_* / __replaced_* siblings survive a successful run
    val siblings = new File(path).getParentFile.listFiles()
      .map(_.getName).filterNot(_ == "t")
    assert(siblings.isEmpty, s"swap leftovers: ${siblings.toSeq}")
    // already-compact target: nothing to do, nothing rewritten
    assert(Ops.compactPartitions(spark, path, "dt") == 0)
    // dirs above the byte budget are not touched (their bytes are big
    // enough that rewriting them is not a small-files problem)
    rows.toDF("id", "v", "dt").repartition(8)
      .write.partitionBy("dt").mode("overwrite").parquet(path)
    assert(Ops.compactPartitions(spark, path, "dt", targetFileBytes = 1L) == 0)
    assert(dts.forall(dataFiles(_).length > 1))
  }

  test("compactPartitions refuses a non-partitioned target") {
    val path = tmpDir("pmerge_compact_flat") + "/t"
    Seq((1L, "a")).toDF("id", "v").write.parquet(path)
    val e = intercept[IllegalArgumentException] {
      Ops.compactPartitions(spark, path, "dt")
    }
    assert(e.getMessage.contains("not hive-partitioned"))
  }

  test("target read prunes to touched partitions (PartitionFilters)") {
    val path = tmpDir("pmerge_prune") + "/t"
    val init = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02"))
      .toDF("id", "v", "dt").withColumn("etl_updated_ts", lit(1L))
    Ops.mergeUpsertPartitioned(spark, path, init, Seq("id"), "dt")
    val pruned = spark.read.parquet(path)
      .filter(col("dt").cast("string").isin("2024-01-02"))
    val p = pruned.queryExecution.executedPlan.toString()
    assert(p.contains("PartitionFilters:") && !p.contains("PartitionFilters: []"),
      s"expected a non-empty PartitionFilters in:\n$p")
  }
}
