package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.DerivedColumn
import graft.sources.Commit

/** Parquet write helpers.
  *
  * Spark cannot overwrite a path that feeds the plan being written
  * (self-referencing read→overwrite, as the merge-upsert does), so every
  * in-place rewrite stages to a sibling `__staging_*` dir and ends in
  * one aside swap ([[swapIn]]): the original moves aside to
  * `__replaced_*`, the staged copy takes its name through
  * [[graft.sources.Commit.placeDir]] (never landing inside a dir that
  * appeared there meanwhile), and only then is the original dropped.
  * Single-runner semantics — matching the reference's strictly
  * sequential job loop (`pull_raw/__main__.py:142`) — make the
  * non-transactional swap acceptable; on a real cluster the same code
  * works on HDFS/S3A (rename is cheap on HDFS, copy on S3 — a lakehouse
  * table format would replace this seam, not the operators above it).
  */
object ParquetIO {
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** True when `path` exists and is laid out hive-style on `column`
    * (contains at least one `column=value` child directory).
    */
  def isPartitionedOn(spark: SparkSession, path: String,
      column: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith(column + "="))
  }

  /** Overwrite `path` with `df`, safe even when `df` reads from `path`.
    * With `partitionCols` the layout is hive-style, clustered so each
    * partition directory gets ~1 file (see mergeUpsertPartitioned).
    * An EMPTY frame is written flat regardless — a partitioned write of
    * zero rows emits no schema-bearing file at all and the target
    * becomes unreadable (UNABLE_TO_INFER_SCHEMA); the flat empty file
    * keeps the schema, and the partitioned merge treats an empty flat
    * target as fresh.
    */
  def overwriteSafe(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil,
      beforeSwap: () => Unit = () => ()): Unit = {
    val spark = df.sparkSession
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(path + "__staging_" + suffix)
    val parts = if (partitionCols.isEmpty || df.isEmpty) Nil else partitionCols
    val clustered =
      if (parts.isEmpty) df
      else df.repartition(parts.map(org.apache.spark.sql.functions.col): _*)
    // Write phase: a failure here leaves the target untouched, so the
    // staging dir is redundant — drop it (repeated failed runs must not
    // accumulate orphan __staging_* dirs beside the target).
    // `beforeSwap` is the caller's last gate (e.g. a concurrently
    // running verify pass — MergeOnRead.compact): it runs with the
    // staged copy complete but NOTHING retired; a throw drops the
    // staging dir and leaves the target untouched, exactly like a
    // write failure.
    try {
      clustered.write.mode("overwrite")
        .partitionBy(parts: _*).parquet(tmp.toString)
      beforeSwap()
    } catch { case e: Throwable => fs.delete(tmp, true); throw e }
    val aside = new Path(path + "__replaced_" + suffix)
    swapIn(fs, tmp, aside, "new data", Seq((tmp, target, aside)))
  }

  /** The aside swap every staged rewrite ends with. For each
    * `(staged, dest, aside)` in order, skipping a `staged` the write
    * did not produce: an existing `dest` moves to `aside` — never
    * deleted before its replacement is in place, so no single failure
    * leaves zero copies — then `staged` takes the name `dest`
    * ([[graft.sources.Commit.placeDir]]), then the original is dropped.
    * A refused or failed placement moves the original back and throws
    * "(original restored)": the rewrite is re-runnable. Only the double
    * failure (placement AND restore) keeps both copies, `staging`
    * included, at the paths the exception names (`what` says what the
    * staged copy holds). `staging` is dropped in every other case, and
    * `asideRoot` once it is empty.
    */
  private[operators] def swapIn(fs: FileSystem, staging: Path,
      asideRoot: Path, what: String, moves: Seq[(Path, Path, Path)]): Unit = {
    def move(from: Path, to: Path) =
      try graft.sources.Commit.placeDir(fs, from, to)
      catch { case _: java.io.IOException => false }
    var keepStaging = false
    try moves.foreach { case (staged, dest, aside) =>
      if (fs.exists(staged)) {
        val had = fs.exists(dest)
        if (had && !move(dest, aside))
          throw new java.io.IOException(s"rename $dest -> $aside failed")
        if (!move(staged, dest)) {
          if (had && !move(aside, dest)) {
            keepStaging = true
            throw new java.io.IOException(s"rename $staged -> $dest failed " +
              s"AND restore failed: original preserved at $aside, " +
              s"$what at $staged")
          }
          throw new java.io.IOException(
            s"rename $staged -> $dest failed (original restored)")
        }
        if (had) fs.delete(aside, true)
      }
    } finally {
      if (!keepStaging) fs.delete(staging, true)
      if (fs.exists(asideRoot) && fs.listStatus(asideRoot).isEmpty)
        fs.delete(asideRoot, true)
    }
  }

  /** Garbage-collect orphaned swap artifacts beside `path`. The staged
    * writers clean up after every failure they can CATCH; what they
    * cannot clean is the process dying mid-swap (kill -9, OOM, node
    * loss), which strands `<target>__staging_<uuid>` /
    * `<target>__replaced_<uuid>` siblings. This is the maintenance
    * sweep a recurring pipeline schedules: delete swap artifacts whose
    * last modification is older than `olderThanMs` — the age guard
    * keeps it safe to run WHILE a concurrent merge is mid-swap, since
    * a live swap's artifacts are seconds old. Returns the deleted
    * paths. Artifacts from a swap-in+restore DOUBLE failure may hold
    * the only copy of merged data — they are exactly why nothing is
    * deleted eagerly — so the exception those throw names the paths,
    * and this sweep must only run once such incidents are resolved;
    * the age threshold is the operator's attestation of that.
    */
  def gcStaged(spark: SparkSession, path: String,
      olderThanMs: Long): Seq[String] = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = target.getParent
    if (parent == null) return Nil
    val prefixes =
      Seq(target.getName + "__staging_", target.getName + "__replaced_")
    Commit.sweepAged(fs, parent, System.currentTimeMillis() - olderThanMs,
      recurse = true)(st => prefixes.exists(st.getPath.getName.startsWith))
      .map(_.toString)
  }
}

/** The reference's data-shaping operators, one Spark-native function each.
  * References cite file:line in the read-only snapshot at /root/reference.
  */
object Ops {

  /** P1+P2 — rename-and-project in one `select`: only listed columns
    * survive (Catalyst prunes the parquet scan to exactly these).
    * Reference: `column_transform.yaml:2-48` applied in
    * `dune_to_pg_worker.py` intent.
    */
  def renameProject(df: DataFrame, renames: Seq[(String, String)]): DataFrame =
    df.select(renames.map { case (s, t) => col(s).as(t) }: _*)

  /** F1 — declared scalar transforms, e.g. `upper(address)`.
    * Reference: `column_transform.yaml:8,16,23,33,49-50`.
    */
  def applyDerived(df: DataFrame, derived: Seq[DerivedColumn]): DataFrame =
    derived.foldLeft(df)((d, t) => d.withColumn(t.name, expr(t.sqlExpr)))

  /** P3 — audit column. Reference: `data_integration/main.ipynb:153`
    * (`df["ETL_updated_ts"] = datetime.now()`); UTC here, rendered
    * tz-at-edge (SURVEY §7 timestamps note).
    */
  def auditStamp(df: DataFrame, colName: String = "etl_updated_ts"): DataFrame =
    df.withColumn(colName, current_timestamp())

  /** P4 — lowercase all column names.
    * Reference: `etl_system/load_metadata.ipynb:75`.
    */
  def normalizeNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase): _*)

  /** A1 — watermark read: MAX(col) of the target, None when the
    * target is empty (its max is null → caller falls back to full
    * refresh). Reference: `pg_loader.py:296-318`, fallback
    * `__main__.py:104-112`.
    */
  def maxWatermark(df: DataFrame, column: String): Option[Any] =
    Option(df.agg(max(col(column))).head.get(0))

  /** S6 — full refresh: truncate+reload collapses into one atomic(ish)
    * overwrite. Reference: `pg_loader.py:126-163`.
    */
  def fullRefresh(df: DataFrame, targetPath: String,
      partitionCols: Seq[String] = Nil): Unit =
    ParquetIO.overwriteSafe(df, targetPath, partitionCols)

  /** Batch dedup for the upsert: keep one row per key, latest
    * `versionCol` wins — mirrors `ON CONFLICT ... DO UPDATE`'s
    * last-write-wins within a statement (reference `pg_loader.py:254-261`).
    * Required before the join-based merge or the union would emit dupes
    * (SURVEY §7 hard-parts).
    */
  def dedupLatest(updates: DataFrame, keys: Seq[String],
      versionCol: String): DataFrame = {
    // Tie-break on a content hash: the reference resolves equal-version
    // duplicates by statement order (`ON CONFLICT` applies rows in
    // sequence), but a shuffled distributed batch has no row order — an
    // audit-stamped batch gives EVERY row the same version, so without
    // a tiebreak the survivor would be partition-order nondeterministic
    // across reruns. Hash the JSON rendering of the full row, not the
    // columns directly: xxhash64 rejects MapType columns, to_json
    // serializes any row shape deterministically.
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc_nulls_last,
        xxhash64(to_json(struct(updates.columns.sorted.map(col): _*))).desc)
    updates.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** S7 — keyed merge-upsert, the join-based rewrite of Postgres
    * `INSERT ... ON CONFLICT (p_key) DO UPDATE` (reference
    * `pg_loader.py:219-270`): dedup the batch per key (latest wins),
    * anti-join the target against the batch keys, union, rewrite.
    *
    * Scale note: the anti-join shuffles on the p_keys; AQE picks a
    * broadcast anti-join when the (deduped) batch is small — the common
    * incremental case. At 100 TB the target side should additionally be
    * partitioned on the watermark column so only touched partitions are
    * rewritten; see [[mergeUpsertPartitioned]] below.
    */
  /** The merge's RELATION, write-free: dedup the batch per key,
    * anti-join the target against the batch keys, union. Factored out
    * so a caller owning its OWN commit protocol (the atomic
    * data+job-state pipeline publish, [[graft.runner.AtomicPipeline]])
    * can compose the merged relation into one cross-table transaction
    * instead of the path-overwrite below.
    *
    * The anti-join takes its keys from `updates` itself: the dedup
    * keeps one row for every key, so the key set is the same, and the
    * batch's dedup window (its sort and shuffle) runs once, on the
    * union side only.
    */
  def mergeUpsertDf(target: Option[DataFrame], updates: DataFrame,
      keys: Seq[String],
      versionCol: String = "etl_updated_ts"): DataFrame = {
    val batch = dedupLatest(updates, keys, versionCol)
    target match {
      case None => batch
      case Some(t) => t
        .join(updates.select(keys.map(col): _*), keys, "left_anti")
        .unionByName(batch, allowMissingColumns = true)
    }
  }

  def mergeUpsert(spark: SparkSession, targetPath: String,
      updates: DataFrame, keys: Seq[String],
      versionCol: String = "etl_updated_ts"): Unit = {
    requireFlatLayout(spark, targetPath, "mergeUpsert")
    if (!ParquetIO.exists(spark, targetPath)) {
      mergeUpsertDf(None, updates, keys, versionCol)
        .write.mode("overwrite").parquet(targetPath)
    } else {
      val merged = mergeUpsertDf(Some(spark.read.parquet(targetPath)),
        updates, keys, versionCol)
      ParquetIO.overwriteSafe(merged, targetPath)
    }
  }

  /** The flat-rewrite operators would silently destroy a hive layout
    * (their overwrite drops the partition directories); refuse instead.
    */
  private def requireFlatLayout(spark: SparkSession, targetPath: String,
      op: String): Unit = {
    if (ParquetIO.exists(spark, targetPath)) {
      val p = new Path(targetPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hiveDir = fs.listStatus(p).find(s =>
        s.isDirectory && s.getPath.getName.contains("="))
      require(hiveDir.isEmpty,
        s"$op: $targetPath is hive-partitioned (${hiveDir.get.getPath
          .getName}); use the partition-aware variant or fullRefresh " +
          "with partitionCols to keep the layout")
    }
  }

  /** S7 at 100 TB — partition-scoped merge-upsert. The target is laid
    * out hive-style on `partitionCol` (the watermark column: `date`,
    * `date(block_time)`, …); only partitions present in the batch are
    * read (partition pruning), merged, and swapped — cost is
    * O(touched partitions), never O(table). Untouched partition
    * directories are not opened, not rewritten, not even listed past
    * pruning. This is the rebuild of "incremental upsert" that survives
    * a 1000× scale-up; plain [[mergeUpsert]] remains for small
    * unpartitioned tables (the 5-row job table, dims).
    *
    * Swap is per-partition-directory rename (see [[ParquetIO]] note on
    * single-runner semantics). Partition values must be
    * filesystem-safe (dates, numeric buckets — true for every
    * watermark column here); hive-escaping of arbitrary strings is out
    * of scope.
    *
    * CONTRACT — partition stability: only touched partitions are read,
    * so a batch that gives an existing key a NEW partition value must
    * also contain a row for (or otherwise touch) the key's OLD
    * partition, else the stale copy survives there. Use a partition
    * column that is functionally dependent on the key (the watermark
    * date of the event itself, a hash bucket of the key) and this
    * cannot arise; for key-moving corrections use [[mergeUpsert]] or
    * touch both partitions.
    */
  def mergeUpsertPartitioned(spark: SparkSession, targetPath: String,
      updates: DataFrame, keys: Seq[String], partitionCol: String,
      versionCol: String = "etl_updated_ts"): Unit = {
    val batch = dedupLatest(updates, keys, versionCol)
    // Cluster rows by partition value before a partitionBy write:
    // files-per-dir drops from (tasks × dirs) to ~1 per dir. Parallelism
    // = distinct partition values — thousands of dates at warehouse
    // scale; for a single skewed partition add a salt to the
    // repartition, at the price of more files.
    def clustered(df: DataFrame): DataFrame = df.repartition(col(partitionCol))
    // Bootstrap: no target, or an EMPTY flat target (the shape an empty
    // partitioned full-refresh leaves — see overwriteSafe). A NON-empty
    // flat target is a layout mismatch: merging partition dirs beside
    // flat part-files corrupts the table, so fail with the migration.
    val freshTarget = !ParquetIO.exists(spark, targetPath) || {
      val partitioned =
        ParquetIO.isPartitionedOn(spark, targetPath, partitionCol)
      if (!partitioned) {
        require(spark.read.parquet(targetPath).isEmpty,
          s"mergeUpsertPartitioned: $targetPath exists but is not " +
            s"hive-partitioned on $partitionCol; migrate it first with " +
            "fullRefresh(df, path, Seq(partitionCol))")
        true
      } else false
    }
    if (freshTarget) {
      ParquetIO.overwriteSafe(batch, targetPath, Seq(partitionCol))
    } else {
      // The deduped batch feeds TWO actions (the touched-partition
      // collect below and the staged merge write): persist it so the
      // dedup window's shuffle runs once, not twice (r15, guide §5 —
      // reuse only pays when recompute costs a shuffle; it does here).
      // Unpersisted before return on every path.
      batch.persist()
      try {
        // One value per touched partition — bounded and tiny by design
        // (a delta batch touches recent dates), so collect is safe.
        val touched = batch
          .select(col(partitionCol).cast("string")).distinct()
          .collect().map(_.getString(0))
        // A NULL partition value would write to __HIVE_DEFAULT_PARTITION__
        // in staging while the swap loop looked for "<col>=null" — the row
        // would vanish silently. Fail loudly instead.
        require(!touched.contains(null),
          s"mergeUpsertPartitioned: batch contains NULL $partitionCol " +
            "values; the partition column must be non-null (derive it " +
            "with a coalesce/default upstream)")
        val target = spark.read.parquet(targetPath)
          .filter(col(partitionCol).cast("string").isin(touched.toSeq: _*))
          // partition-type inference may have widened the hive dir value
          // (e.g. string date → DateType); pin to the batch's type so the
          // union below never coerces the whole column
          .withColumn(partitionCol,
            col(partitionCol).cast(batch.schema(partitionCol).dataType))
        val merged = target
          .join(batch.select(keys.map(col): _*), keys, "left_anti")
          .unionByName(batch, allowMissingColumns = true)
        stagePartitionSwap(spark, targetPath, clustered(merged), partitionCol,
          touched.map(v => s"$partitionCol=$v").toSeq)
      } finally batch.unpersist()
    }
  }

  /** Shared swap engine for the partition-scoped writers
    * ([[mergeUpsertPartitioned]], [[scd2Merge]]): stage `df`
    * hive-partitioned on `partitionCol` beside the target, then swap
    * exactly `dirNames` (e.g. `date=2024-01-01`) into place via
    * per-directory aside-rename, IN THE GIVEN ORDER — callers sequence
    * the swaps so that a partial failure always leaves a state from
    * which re-running the same merge converges.
    *
    * The swap is [[ParquetIO.swapIn]]'s: a failed partial swap leaves
    * every original intact (in place or restored); only the
    * swap-in+restore double failure preserves the staging dir, with
    * both copies' paths in the exception.
    */
  private def stagePartitionSwap(spark: SparkSession, targetPath: String,
      df: DataFrame, partitionCol: String, dirNames: Seq[String]): Unit = {
    val root = new Path(targetPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(targetPath + "__staging_" + suffix)
    // a failed write leaves the target untouched; drop the orphan staging
    try df.write.partitionBy(partitionCol).mode("overwrite")
      .parquet(tmp.toString)
    catch { case e: Throwable => fs.delete(tmp, true); throw e }
    val asideRoot = new Path(targetPath + "__replaced_" + suffix)
    ParquetIO.swapIn(fs, tmp, asideRoot, "merged data", dirNames.map(dir =>
      (new Path(tmp, dir), new Path(root, dir), new Path(asideRoot, dir))))
  }

  /** Small-file compaction for a hive-partitioned target — the
    * operations counterpart to [[mergeUpsertPartitioned]]: repeated
    * daily merges leave ~1 file per touched directory, but the long
    * tail of rarely-touched partitions accumulates small files. Every
    * partition directory whose TOTAL bytes fit within `targetFileBytes`
    * but which holds more than one data file is rewritten to a single
    * file through the same staged-swap machinery; directories already
    * compact (one file) or larger than the target are left untouched —
    * their bytes are never read. Cost is O(small-file partitions), not
    * O(table).
    *
    * Partition-value type inference is disabled for the rewrite so
    * directory names round-trip byte-identically (values stay strings;
    * partition columns live in directory names, not data files, so
    * subsequent reads re-infer types exactly as before).
    *
    * @return number of directories compacted.
    */
  def compactPartitions(spark: SparkSession, targetPath: String,
      partitionCol: String, targetFileBytes: Long = 128L << 20): Int = {
    require(ParquetIO.isPartitionedOn(spark, targetPath, partitionCol),
      s"compactPartitions: $targetPath is not hive-partitioned on $partitionCol")
    val root = new Path(targetPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val small = fs.listStatus(root).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith(partitionCol + "=")).filter { d =>
      val files = fs.listStatus(d.getPath).filter(f =>
        f.isFile && !f.getPath.getName.startsWith("_"))
      files.length > 1 && files.map(_.getLen).sum <= targetFileBytes
    }
    if (small.isEmpty) return 0
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val inferWas = spark.conf.get(inferKey)
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(targetPath + "__staging_" + suffix)
    try {
      spark.conf.set(inferKey, "false")
      val df = spark.read.option("basePath", targetPath)
        .parquet(small.map(_.getPath.toString).toSeq: _*)
      // one task per directory ⇒ one file per directory
      df.repartition(col(partitionCol)).write.partitionBy(partitionCol)
        .mode("overwrite").parquet(tmp.toString)
    } catch { case e: Throwable => fs.delete(tmp, true); throw e }
    finally spark.conf.set(inferKey, inferWas)
    // the aside root sits OUTSIDE the table root: a dir named
    // "<col>=v__old" under the root would parse as a phantom partition
    val asideRoot = new Path(targetPath + "__replaced_" + suffix)
    ParquetIO.swapIn(fs, tmp, asideRoot, "compacted data", small.toSeq.map { d =>
      val name = d.getPath.getName
      (new Path(tmp, name), d.getPath, new Path(asideRoot, name))
    })
    small.length
  }

  /** S8 — DELETE WHERE rewritten as keep-the-complement + rewrite.
    * Reference: `pg_loader.py:272-294`. Null-safe: rows where the
    * predicate is NULL are kept (SQL DELETE only removes WHERE=true).
    */
  def deleteWhere(spark: SparkSession, targetPath: String,
      predicate: Column, partitionCols: Seq[String] = Nil): Unit = {
    if (ParquetIO.exists(spark, targetPath)) {
      if (partitionCols.isEmpty)
        requireFlatLayout(spark, targetPath, "deleteWhere")
      val kept = spark.read.parquet(targetPath)
        .filter(!coalesce(predicate, lit(false)))
      ParquetIO.overwriteSafe(kept, targetPath, partitionCols)
    }
  }

  /** Keyed DELETE — S8's right-to-be-forgotten form: remove every row
    * whose `keyCol` appears in the `keys` relation (which must carry
    * exactly that column). The complement is computed with a LEFT ANTI
    * join, not an `isin` literal: the forget set of a 100 TB warehouse
    * is itself a table (millions of subjects), and an anti join
    * broadcasts or shuffles it like any other relation instead of
    * inlining it through the driver. Same staged-overwrite safety as
    * [[deleteWhere]]; null keys on the target side survive (anti join
    * null semantics — a NULL key matches nothing, and SQL DELETE only
    * removes rows the predicate proves).
    */
  def deleteMatching(spark: SparkSession, targetPath: String,
      keys: DataFrame, keyCol: String): Unit = {
    require(keys.columns.toSeq == Seq(keyCol),
      s"deleteMatching: keys must carry exactly [$keyCol], " +
        s"got [${keys.columns.mkString(",")}]")
    if (ParquetIO.exists(spark, targetPath)) {
      requireFlatLayout(spark, targetPath, "deleteMatching")
      val kept = spark.read.parquet(targetPath)
        .join(keys, Seq(keyCol), "left_anti")
      ParquetIO.overwriteSafe(kept, targetPath)
    }
  }

  /** Spread a narrow input across the session's shuffle width before
    * CPU-heavy per-row work. A single unsplittable file (one parquet
    * row group — exactly what a small dimension/corpus file looks like)
    * otherwise pins tokenization, hashing, and the map side of the
    * first shuffle to ONE task. A plain `repartition` is NOT enough:
    * Catalyst pushes deterministic filters below a repartition —
    * substituting project aliases on the way down — so an expensive
    * predicate (quality/lang gates, `size(fingerprints) > 0`) sinks
    * back onto the one input partition and runs single-threaded,
    * measured 10× slower than the spread plan. The barrier here is a
    * non-deterministic always-true guard: Catalyst only
    * reorders/pushes deterministic predicates, so nothing crosses it,
    * while the repartition stays a first-class plan node — downstream
    * expressions keep whole-stage codegen and AQE can still plan the
    * stages after the exchange (both of which the previous
    * `LogicalRDD` round-trip severed, plus its InternalRow→Row→
    * InternalRow conversion tax). The guard must hide its tautology
    * behind arithmetic: Spark 4.1 range-folds DIRECT comparisons of
    * `rand()` with literals (`rand >= -1` optimizes to nothing and the
    * whole barrier collapses — caught by a 2.4× bench regression on
    * d_clean_pipeline), but does not propagate ranges through `+`, so
    * `rand + 1 > 0` survives as a real (vacuously true, per-row-cheap)
    * Filter. OpsSpec gates the property against a parquet scan.
    * Only applied when the input is narrower than half the session
    * width — a well-partitioned 100 TB scan passes through untouched,
    * keeping scan-level pushdown where it belongs.
    */
  def spreadNarrow(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val session = spark.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    // r15 (guide §2.2/§2.5; VERDICT r14 ask #5): the spread width is
    // DATA-PROPORTIONAL, capped at the session width — not the session
    // constant itself. The kernels this feeds (regex tokenization,
    // shingling, vector math) are allocation-heavy, and fanning a
    // KB-scale corpus across every core of a big session maximizes
    // concurrent allocation/GC pressure for zero coverage gain (the
    // r14 inverse-scaling cluster: d_unigram_logprob ran 2x SLOWER at
    // 32 cores than at 8). ~64 KiB of pruned scan input per task keeps
    // small corpora on proportionally few cores; any real corpus hits
    // the session cap immediately, so cluster-scale behavior is
    // unchanged. Unknown/absurd size estimates fall back to the
    // session width (the pre-r15 behavior).
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val perTask = 64L << 10
    val target =
      if (!bytes.isValidLong) session
      else math.min(session.toLong,
        math.max(4L, (bytes.toLong + perTask - 1) / perTask)).toInt
    if (df.rdd.getNumPartitions * 2 < target)
      // Spread by hashing row CONTENT, never round-robin.
      // RoundRobinPartitioning places rows by input-split order and
      // task scheduling, so two JVMs can spread the same table
      // differently. Note the limit of the guarantee: this pins each
      // row's PARTITION, not the intra-partition arrival ORDER
      // (shuffle block fetch order varies), so nothing downstream may
      // depend on iteration order. Since round 9 nothing does: every
      // quantizer fit samples by content key (TakeOrdered on
      // xxhash64(id) — ivfFit/pqFit) and clusters with a
      // deterministic driver kernel, so fits are pure functions of
      // the data regardless of placement, and the scoring passes'
      // results are placement-invariant by construction. Content-hash
      // placement is kept because it is no costlier than round-robin
      // and keeps spread plans stable for PLANS.lock fingerprints.
      df.repartition(target, xxhash64(df.columns.map(col): _*))
        .where(rand(0x5bead) + lit(1d) > 0d)
    else df
  }

  /** SCD2 (slowly-changing-dimension type 2) merge: where
    * [[mergeUpsert]] overwrites a key's row, this keeps the full change
    * history — the warehouse pattern for dimension tables whose past
    * values must stay queryable (as-of reporting over customer tiers,
    * price books, …).
    *
    * Target schema = update schema + `valid_from` / `valid_to` (the
    * version column's type; `valid_to` null = open) + `is_current`.
    * For each (deduped, latest-wins) update row:
    *  - new key → insert an open row (`valid_from` = its version);
    *  - existing key, any non-key attribute differs (null-safe
    *    compare) → close the current row (`valid_to` = new version)
    *    and insert the new open row;
    *  - attributes identical → no-op, so re-merging the same batch is
    *    idempotent (spec law);
    *  - version at or BEFORE the open row's valid_from → no-op (late
    *    arrival already superseded by the open row — closing with it
    *    would invert the validity interval). Out-of-order history
    *    REPLAY is not supported: feed versions through in order, as
    *    the watermark pipeline does.
    *
    * Scale — partition-scoped layout: the target is laid out hive-style
    * on a derived `__scd_part` column — `open` for the current rows,
    * `c<version>` for rows closed at that version. Closed rows are
    * immutable (their `valid_to` never changes again), so each merge
    * touches exactly the `open` directory plus the `c<v>` directories
    * of the versions appearing in THIS batch; every previously-closed
    * directory is never opened, listed past pruning, or rewritten —
    * byte-identical across merges (Scd2Spec gate). Cost is
    * O(current + this batch), never O(history): the difference between
    * a minutes-long dimension load and rewriting years of closed rows
    * at 100 TB. The merge itself is two key-partitioned joins
    * (current-vs-batch each way — AQE broadcasts the batch side in the
    * common incremental case).
    *
    * Failure/idempotency: closed directories swap BEFORE the open
    * directory, and the closed-dir rebuild dedups on (keys,
    * valid_from), so a rerun after any partial failure recomputes the
    * same rows and converges — a replayed closed row dedups away, and
    * the open swap is last so the merge's inputs are intact until the
    * batch is fully applied. Version values must render filesystem-safe
    * (timestamps/dates/numbers do; the rendering sanitizes separators).
    * A pre-existing FLAT scd2 target is migrated into the partitioned
    * layout once (one full rewrite), then never again.
    */
  def scd2Merge(spark: SparkSession, targetPath: String,
      updates: DataFrame, keys: Seq[String],
      versionCol: String = "etl_updated_ts"): Unit = {
    val attrCols = updates.columns
      .filterNot(c => keys.contains(c) || c == versionCol).toSeq
    val batch = dedupLatest(updates, keys, versionCol)
    val vType = batch.schema(versionCol).dataType
    def closedPartVal(c: Column): Column =
      concat(lit("c"), regexp_replace(c.cast("string"), "[^0-9A-Za-z._-]", "_"))
    val asOpen = batch
      .withColumn("valid_from", col(versionCol))
      .withColumn("valid_to", lit(null).cast(vType))
      .withColumn("is_current", lit(true))
      .drop(versionCol)
    // Bootstrap: no target, or an empty flat target (the shape an empty
    // write leaves — see overwriteSafe). Legacy flat non-empty targets
    // are migrated into the partitioned layout once.
    val fresh = !ParquetIO.exists(spark, targetPath) || {
      if (!ParquetIO.isPartitionedOn(spark, targetPath, ScdPartCol)) {
        val flat = spark.read.parquet(targetPath)
        if (flat.isEmpty) true
        else {
          ParquetIO.overwriteSafe(flat.withColumn(ScdPartCol,
            when(col("is_current"), lit("open"))
              .otherwise(closedPartVal(col("valid_to")))),
            targetPath, Seq(ScdPartCol))
          false
        }
      } else false
    }
    if (fresh) {
      ParquetIO.overwriteSafe(asOpen.withColumn(ScdPartCol, lit("open")),
        targetPath, Seq(ScdPartCol))
      return
    }
    val table = spark.read.parquet(targetPath)
    // partition pruning: only the `open` directory is read here
    val cur = table.filter(col(ScdPartCol) === "open").drop(ScdPartCol)
    val b = batch.select(
      keys.map(col) ++
        attrCols.map(c => col(c).as(s"__new_$c")) :+
        col(versionCol).as("__new_v"): _*)
    val changed = attrCols.map(c => !(col(c) <=> col(s"__new_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val curJoined = cur.join(b, keys, "left")
    // close current rows the batch changes — but only for versions
    // NEWER than the open row's valid_from: a late batch (version at or
    // before it) is already superseded and must be a no-op, never an
    // inverted valid_from > valid_to interval
    val supersedes = col("__new_v").isNotNull && changed &&
      col("__new_v") > col("valid_from")
    val closedOrKept = curJoined.select(
      cur.columns.filterNot(Set("valid_to", "is_current")).map(col) ++ Seq(
        when(supersedes, col("__new_v"))
          .otherwise(col("valid_to")).as("valid_to"),
        (!supersedes).as("is_current")): _*)
    val kept = closedOrKept.filter(col("is_current"))
    val closedNew = closedOrKept.filter(!col("is_current"))
    // batch rows that are new keys or genuinely newer changes become
    // open rows (same late-arrival guard on the insert side)
    val curKeyed = cur.select(
      keys.map(col) ++ attrCols.map(c => col(c).as(s"__old_$c")) :+
        col("valid_from").as("__old_vf"): _*)
    val changedOld = attrCols.map(c => !(col(c) <=> col(s"__old_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val inserts = batch.join(curKeyed, keys, "left")
      .filter(col("__old_vf").isNull ||
        (changedOld && col(versionCol) > col("__old_vf")))
      .select(batch.columns.map(col): _*)
      .withColumn("valid_from", col(versionCol))
      .withColumn("valid_to", lit(null).cast(vType))
      .withColumn("is_current", lit(true))
      .drop(versionCol)
    val newOpen = kept.unionByName(
      inserts.select(kept.columns.map(col): _*))
    // Touched closed directories: one per distinct version value in the
    // batch — bounded and tiny (a load carries one stamp, rarely a few).
    val touchedClosed = closedNew
      .select(closedPartVal(col("valid_to")).as("p")).distinct()
      .collect().map(_.getString(0)).sorted
    // Rebuild = existing rows at those versions ∪ newly closed, deduped
    // on the closed row's identity (keys, valid_from): a replay after a
    // partial failure, or a second batch closing other keys at the same
    // version value, merges instead of duplicating or dropping rows.
    val closedRebuilt =
      if (touchedClosed.isEmpty) None
      else Some(table
        .filter(col(ScdPartCol).isin(touchedClosed.toSeq: _*))
        .drop(ScdPartCol)
        .unionByName(closedNew.select(kept.columns.map(col): _*))
        .dropDuplicates(keys :+ "valid_from"))
    val staged = newOpen.withColumn(ScdPartCol, lit("open"))
    val all = closedRebuilt match {
      case Some(c) => staged.unionByName(
        c.withColumn(ScdPartCol, closedPartVal(col("valid_to"))))
      case None => staged
    }
    // closed dirs swap first, open last (see failure note above)
    stagePartitionSwap(spark, targetPath,
      all.repartition(col(ScdPartCol)), ScdPartCol,
      (touchedClosed :+ "open").map(v => s"$ScdPartCol=$v").toSeq)
  }

  /** Derived partition column of the [[scd2Merge]] hive layout; data
    * columns are unaffected (readers selecting named columns see the
    * same schema as before).
    */
  val ScdPartCol = "scd_part"

  /** Incremental aggregate maintenance (materialized-view style): fold
    * a delta's PARTIAL aggregates into a persisted aggregate table
    * without touching the fact history. The target holds one row per
    * key with additively-mergeable state — counts and sums (avg is
    * derived sum/count at read time; true algebraic state covers
    * min/max too, and sketches like HLL merge the same way). Cost per
    * refresh is O(delta + |aggregate table|), never O(fact table) —
    * at 100 TB the difference between a minutes-long incremental
    * refresh and a full recompute.
    *
    * Correctness contract (oracle-checked in `q_incr_agg`): after any
    * sequence of disjoint deltas, the table equals the full recompute
    * over their union. The caller guarantees each fact row arrives in
    * exactly one delta (the watermark pipeline's append semantics).
    */
  def mergeAggregate(spark: SparkSession, targetPath: String,
      delta: DataFrame, keys: Seq[String], sumCols: Seq[String],
      countCol: String = "n_rows"): Unit = {
    val partial = delta.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(countCol),
        sumCols.map(c => sum(col(c)).as(c)): _*)
    requireFlatLayout(spark, targetPath, "mergeAggregate")
    if (!ParquetIO.exists(spark, targetPath)) {
      partial.write.mode("overwrite").parquet(targetPath)
    } else {
      val merged = spark.read.parquet(targetPath)
        .unionByName(partial)
        .groupBy(keys.map(col): _*)
        .agg(sum(col(countCol)).as(countCol),
          sumCols.map(c => sum(col(c)).as(c)): _*)
      ParquetIO.overwriteSafe(merged, targetPath)
    }
  }

  /** Incremental filter the fixture source applies server-side in the
    * reference (the Dune `date` query parameter, `dune_extractor.py:57-59`):
    * here it is an ordinary pushed-down predicate — Catalyst ships it to
    * the parquet scan (`PushedFilters`), and on a date-partitioned layout
    * it prunes partitions.
    */
  def watermarkFilter(df: DataFrame, column: String,
      watermark: Option[Any]): DataFrame =
    watermark match {
      case Some(w) => df.filter(col(column) > lit(w))
      case None    => df
    }

  /** The minimal patch reconciling `replica` to `target` on `keys`:
    * `upserts` = target rows added or changed (null-safe comparison on
    * every non-key column), `deletes` = key rows absent from target.
    * Anti-entropy repair for drifted copies — the actionable step
    * after `q_table_diff`'s drift REPORT. Each side is scanned once;
    * the full-outer key join is the only shuffle, and the patch it
    * emits is proportional to the DRIFT, not the table: shipping it
    * to the replica (or feeding [[mergeUpsert]]/[[deleteWhere]])
    * moves megabytes where a full re-copy moves the 100 TB table.
    * Law (ReconcileSpec): [[applyPatch]](replica, patch) ≡ target,
    * and unchanged rows appear in neither side of the patch.
    */
  case class Patch(upserts: DataFrame, deletes: DataFrame)

  def reconcilePatch(target: DataFrame, replica: DataFrame,
      keys: Seq[String]): Patch = {
    val dataCols = target.columns.filterNot(keys.contains)
    require(replica.columns.sorted.sameElements(target.columns.sorted),
      "target and replica must share a schema")
    val t = target.select(struct(keys.map(col): _*).as("k"),
      struct(dataCols.map(col): _*).as("tv"))
    val r = replica.select(struct(keys.map(col): _*).as("k"),
      struct(dataCols.map(col): _*).as("rv"))
    val joined = t.join(r, Seq("k"), "full_outer")
      // struct <=> struct is one null-safe comparison over every data
      // column at once — column drift, null→value, and value→null all
      // count as changed; null <=> null does not
      .withColumn("changed", !(col("tv") <=> col("rv")))
    val upserts = joined
      .filter(col("tv").isNotNull && (col("rv").isNull || col("changed")))
      .select(keys.map(k => col(s"k.$k").as(k))
        ++ dataCols.map(c => col(s"tv.$c").as(c)): _*)
    val deletes = joined
      .filter(col("tv").isNull)
      .select(keys.map(k => col(s"k.$k").as(k)): _*)
    Patch(upserts, deletes)
  }

  /** Apply a [[reconcilePatch]] patch to a replica frame: drop deleted
    * and re-upserted keys, union the upsert rows. Pure frame form of
    * what [[mergeUpsert]] + [[deleteWhere]] do against a stored table.
    */
  def applyPatch(replica: DataFrame, patch: Patch,
      keys: Seq[String]): DataFrame = {
    val gone = patch.deletes
      .unionByName(patch.upserts.select(keys.map(col): _*))
    replica.join(gone, keys, "left_anti")
      .unionByName(patch.upserts)
  }
}
