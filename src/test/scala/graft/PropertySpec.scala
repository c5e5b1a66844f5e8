package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Ops

/** Property-based laws for the load-strategy operators (SURVEY §5.3):
  * merge idempotence, full-refresh ≡ merge-from-empty, watermark
  * monotonicity, rename round-trip — over generated batches, not just
  * the hand-picked spec cases. Plain ScalaCheck `Gen` with fixed seeds
  * (the scalatest bridge artifact isn't in the offline cache), so runs
  * are deterministic.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rowGen: Gen[(Long, String, Long)] = for {
    k <- Gen.choose(0L, 15L)
    v <- Gen.alphaStr.map(_.take(5))
    ts <- Gen.choose(1L, 100L)
  } yield (k, v, ts)

  private val batchGen: Gen[List[(Long, String, Long)]] =
    Gen.listOf(rowGen)

  /** Deterministic sampler: trial i uses seed (base, i). */
  private def sample(i: Long): List[(Long, String, Long)] =
    batchGen.pureApply(Gen.Parameters.default.withSize(30), Seed(i))

  private val Trials = 8

  private def df(rows: List[(Long, String, Long)]): DataFrame =
    rows.toDF("k", "v", "etl_updated_ts")

  private def contents(path: String): Set[(Long, String)] =
    spark.read.parquet(path).select("k", "v").as[(Long, String)]
      .collect().toSet

  test("mergeUpsert is idempotent: merge(merge(t, b), b) == merge(t, b)") {
    for (i <- 1 to Trials) {
      val (t, b) = (sample(i), sample(i + 1000))
      val path = tmpDir("prop_idem") + "/t"
      Ops.mergeUpsert(spark, path, df(t), Seq("k"))
      Ops.mergeUpsert(spark, path, df(b), Seq("k"))
      val once = contents(path)
      Ops.mergeUpsert(spark, path, df(b), Seq("k"))
      assert(contents(path) == once, s"trial $i not idempotent")
    }
  }

  test("merge into empty target == full refresh of the deduped batch") {
    for (i <- 1 to Trials) {
      val b = sample(i + 2000)
      val p1 = tmpDir("prop_empty") + "/m"
      val p2 = tmpDir("prop_empty") + "/f"
      Ops.mergeUpsert(spark, p1, df(b), Seq("k"))
      Ops.fullRefresh(Ops.dedupLatest(df(b), Seq("k"), "etl_updated_ts"), p2)
      assert(contents(p1) == contents(p2), s"trial $i differs")
    }
  }

  test("merged rows win by latest etl_updated_ts per key") {
    for (i <- 1 to Trials; b = sample(i + 3000) if b.nonEmpty) {
      val path = tmpDir("prop_latest") + "/t"
      Ops.mergeUpsert(spark, path, df(b), Seq("k"))
      val got = spark.read.parquet(path)
        .select("k", "etl_updated_ts").as[(Long, Long)]
        .collect().toMap
      assert(got.keySet == b.map(_._1).toSet)
      b.groupBy(_._1).foreach { case (k, rows) =>
        assert(got(k) == rows.map(_._3).max, s"trial $i key $k stale")
      }
    }
  }

  /** Monotonicity needs the version column to be a load stamp (what
    * `auditStamp` writes): merge semantics are batch-always-wins (the
    * reference's `ON CONFLICT DO UPDATE`), so a batch carrying an
    * *older* stamp for a key legitimately lowers that key's version —
    * the first cut of this property generated independent stamps and
    * correctly failed. Later batches therefore get stamps offset past
    * the earlier batch's range, modeling wall-clock load time.
    */
  test("watermark is monotone across merges with load-time stamps") {
    for (i <- 1 to Trials; b1 = sample(i + 4000) if b1.nonEmpty) {
      val b2 = sample(i + 5000).map { case (k, v, ts) => (k, v, ts + 100) }
      val path = tmpDir("prop_wm") + "/t"
      Ops.mergeUpsert(spark, path, df(b1), Seq("k"))
      val w1 = Ops.maxWatermark(spark.read.parquet(path), "etl_updated_ts")
        .map(_.toString.toLong)
      Ops.mergeUpsert(spark, path, df(b2), Seq("k"))
      val w2 = Ops.maxWatermark(spark.read.parquet(path), "etl_updated_ts")
        .map(_.toString.toLong)
      assert(w1.nonEmpty && w2.nonEmpty && w2.get >= w1.get,
        s"trial $i watermark went backward: $w1 -> $w2")
    }
  }

  test("shardByBytes equals the naive global cumsum over generated " +
      "sparse ids and sizes") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val gen: Gen[List[(Long, Long)]] = Gen.nonEmptyListOf(for {
      id <- Gen.choose(0L, 5000L)
      bytes <- Gen.choose(1L, 4000L)
    } yield (id, bytes)).map(_.distinctBy(_._1))
    for (i <- 1 to Trials) {
      val rows = gen.pureApply(Gen.Parameters.default.withSize(60),
        Seed(i + 7000))
      val d = rows.toDF("doc_id", "bytes")
      val got = graft.operators.Curation
        .shardByBytes(d, "doc_id", col("bytes"), budget = 2048L,
          bucketSize = 128L)
        .select("doc_id", "shard_id").as[(Long, Long)].collect().toMap
      val naive = d.withColumn("start",
          coalesce(sum("bytes").over(Window.orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("doc_id"), expr("start div 2048").as("shard_id"))
        .as[(Long, Long)].collect().toMap
      assert(got == naive, s"trial $i: $got != $naive")
    }
  }

  test("collapseRepeats: idempotent and never leaves adjacent " +
      "duplicates, over generated token runs") {
    import org.apache.spark.sql.functions._
    val tokGen: Gen[List[String]] = Gen.listOf(for {
      w <- Gen.oneOf("a", "b", "c", "dd")
      rep <- Gen.choose(1, 4)
    } yield List.fill(rep)(w)).map(_.flatten)
    for (i <- 1 to Trials) {
      val toks = tokGen.pureApply(Gen.Parameters.default.withSize(20),
        Seed(i + 8000))
      val out = Seq(toks).toDF("w")
        .select(graft.functions.TextAnalysis.collapseRepeats(col("w")))
        .as[Seq[String]].collect()(0)
      assert(out.zip(out.drop(1)).forall { case (a, b) => a != b },
        s"trial $i left adjacent dups: $out")
      // idempotence + order/content preservation of run heads
      val expected = toks.foldLeft(List.empty[String]) {
        case (acc, w) if acc.headOption.contains(w) => acc
        case (acc, w) => w :: acc
      }.reverse
      assert(out == expected, s"trial $i: $out != $expected")
    }
  }

  test("incrementalDedup partitions the batch: statuses consistent " +
      "with index membership and min-id rule") {
    import org.apache.spark.sql.functions.col
    val gen: Gen[(List[String], List[(Long, String)])] = for {
      idx <- Gen.listOf(Gen.oneOf("k1", "k2", "k3", "k4"))
      batch <- Gen.listOf(for {
        id <- Gen.choose(0L, 50L)
        k <- Gen.oneOf("k1", "k2", "k5", "k6", "k7")
      } yield (id, k)).map(_.distinctBy(_._1))
    } yield (idx, batch)
    for (i <- 1 to Trials) {
      val (idx, batch) = gen.pureApply(
        Gen.Parameters.default.withSize(25), Seed(i + 9000))
      if (batch.nonEmpty) {
        val got = graft.operators.Dedup.incrementalDedup(
          batch.toDF("doc_id", "k"), "doc_id", "k",
          idx.map(Tuple1(_)).toDF("k"))
          .select("doc_id", "status").as[(Long, String)].collect().toMap
        val inIdx = idx.toSet
        val firstPer = batch.groupBy(_._2).map { case (k, rs) =>
          k -> rs.map(_._1).min }
        batch.foreach { case (id, k) =>
          val want =
            if (inIdx(k)) "dup_corpus"
            else if (firstPer(k) != id) "dup_batch"
            else "new"
          assert(got(id) == want, s"trial $i doc $id key $k: " +
            s"${got(id)} != $want")
        }
      }
    }
  }

  test("renameProject round-trips when the mapping is inverted") {
    val renames = Seq("k" -> "key", "v" -> "val", "etl_updated_ts" -> "ts")
    for (i <- 1 to Trials) {
      val b = sample(i + 6000)
      val fwd = Ops.renameProject(df(b), renames)
      assert(fwd.columns.toSeq == Seq("key", "val", "ts"))
      val back = Ops.renameProject(fwd, renames.map(_.swap))
      assert(back.columns.toSeq == Seq("k", "v", "etl_updated_ts"))
      assert(back.as[(Long, String, Long)].collect().toSet == b.toSet)
    }
  }
}
