package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout operators: multi-dimensional clustering keys for
  * co-locating rows that file-level min/max pruning should keep
  * together.
  *
  * A single-column sort prunes one predicate dimension; a Z-order
  * (Morton) key interleaves the bits of several dimensions so rows
  * close in ANY dimension land close in the sort order — after
  * `repartitionByRange(zvalue).sortWithinPartitions(zvalue)`, each
  * file's min/max footer covers a narrow hyper-rectangle and a scan
  * with a predicate on any clustered dimension skips most files. This
  * is the standard layout trick behind Delta/Iceberg OPTIMIZE ZORDER —
  * here as a plain integer expression (pure bit math, codegen'd, and
  * bit-replayable by any SQL engine).
  */
object Layout {

  /** Morton/Z-value of `dims` columns at `bits` bits each: output bit
    * (b·n + i) = bit b of dims(i). Columns must already be
    * non-negative and < 2^bits (callers bucket/clamp first — the
    * expression masks to `bits` for safety). Total bits·n must fit a
    * long (≤ 62). */
  def zValue(dims: Seq[Column], bits: Int): Column = {
    val n = dims.length
    require(n >= 2, "zValue needs at least 2 dimensions")
    require(bits * n <= 62, s"bits*dims = ${bits * n} exceeds long range")
    val terms = for {
      b <- 0 until bits
      (d, i) <- dims.zipWithIndex
    } yield shiftleft(shiftright(d.cast("bigint"), b).bitwiseAND(lit(1L)),
      b * n + i)
    terms.reduce(_ bitwiseOR _)
  }

  /** Z-ordered parquet write — the layout [[zProfile]] only reports.
    * Range-partitions on the Z-value into `numFiles` output files and
    * sorts within each, so every file's parquet footer covers a narrow
    * hyper-rectangle of the clustered dimensions; a subsequent scan
    * with a predicate on ANY clustered dimension reads only the files
    * whose rectangle intersects it (row-group min/max pruning — the
    * Delta/Iceberg OPTIMIZE ZORDER effect on plain parquet). The
    * helper Z-column is dropped before the write (ProjectExec is
    * order-preserving, so the intra-file sort survives): the layout
    * benefit needs no schema change.
    *
    * At 100 TB, `numFiles` is the dataset-size / target-file-size
    * quotient (e.g. 1 GB files); `repartitionByRange` samples the
    * Z-values to place its bounds, so file sizes stay balanced even
    * under skewed dimensions. */
  def zWrite(df: DataFrame, dims: Seq[Column], bits: Int,
             numFiles: Int, path: String): Unit =
    zLayout(df, dims, bits, numFiles)
      .write.mode("overwrite").parquet(path)

  /** The clustered frame [[zWrite]] writes (range-partitioned on the
    * Z-value, sorted within partitions, helper column dropped) —
    * exposed so plan audits can inspect the layout job's shape without
    * executing a write. */
  def zLayout(df: DataFrame, dims: Seq[Column], bits: Int,
              numFiles: Int): DataFrame = {
    // the helper column is dropped on the way out, so a user column
    // with the same name would be silently clobbered AND removed from
    // the written output — refuse instead
    require(!df.columns.contains("_z"),
      "zLayout uses '_z' as its helper column; rename the input's _z column")
    df.withColumn("_z", zValue(dims, bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
  }

  /** Persist both sides of a RECURRING equi-join bucketed (+ sorted)
    * on their join keys and hand back the catalog reads: with equal
    * bucket counts the join — and any aggregate grouped on the key —
    * plans with ZERO shuffle exchanges, because matching buckets are
    * co-located by construction and the within-bucket sort feeds
    * sort-merge-join directly. This is the pay-once layout for the
    * 100 TB fact⨝dim-refresh pattern: one bucketed write amortizes the
    * shuffle across every subsequent join instead of re-exchanging
    * both sides per query. BucketingSpec pins the no-Exchange plan
    * property with broadcast disabled.
    *
    * Bucket count is a FIXED property of the table (choose
    * size/target-partition at write time — e.g. 100 TB / 256 MB ≈
    * 400k buckets); both sides must agree on it. */
  def bucketedPair(a: DataFrame, keyA: String, b: DataFrame, keyB: String,
                   buckets: Int, nameA: String, nameB: String)
      : (DataFrame, DataFrame) = {
    val spark = a.sparkSession
    // a PREVIOUS session's managed-table location can survive on disk
    // after the catalog entry is gone (fresh metastore, old warehouse):
    // drop both halves so saveAsTable never hits
    // LOCATION_ALREADY_EXISTS. Hadoop FS API, not java.nio — the
    // warehouse is HDFS/S3 on a cluster.
    Seq(nameA, nameB).foreach { name =>
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val loc = new org.apache.hadoop.fs.Path(wh, name.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    a.write.bucketBy(buckets, keyA).sortBy(keyA)
      .mode("overwrite").saveAsTable(nameA)
    b.write.bucketBy(buckets, keyB).sortBy(keyB)
      .mode("overwrite").saveAsTable(nameB)
    (spark.table(nameA), spark.table(nameB))
  }

  /** Small-file compaction plan — the metadata half of Delta/Iceberg
    * OPTIMIZE (bin-packing): assign each file of a partition to an
    * output bin so every bin's total is ~`targetBytes`, by walking the
    * files in name order and cutting a new bin each time the running
    * total crosses the target. Deterministic and engine-replayable:
    * bin = exclusive-prefix-sum(bytes) // targetBytes — one window
    * over the LISTING (metadata: millions of rows at 100 TB, never the
    * data itself), partitioned by the table partition so planning
    * parallelizes across partitions.
    *
    * Name-order packing (vs first-fit-decreasing) is what the log-
    * structured stores ship: it preserves ingestion locality and needs
    * no global sort by size. Bins can overshoot by at most one file —
    * acceptable when targetBytes >> typical file size (the compaction
    * regime by definition).
    *
    * @return one row per file: (partCol, fileCol, bytesCol, bin) */
  def compactionPlan(files: DataFrame, partCol: String, fileCol: String,
                     bytesCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    files.select(col(partCol), col(fileCol),
        col(bytesCol).cast("bigint").as(bytesCol))
      .withColumn("bin",
        expr(s"coalesce(sum($bytesCol) over (partition by $partCol " +
          s"order by $fileCol rows between unbounded preceding and " +
          s"1 preceding), 0) div $targetBytes"))
  }

  /** The per-bin summary a compactor executes from: files + bytes per
    * output bin, with the single-file bins flagged (nothing to rewrite
    * there — skipping them is the idempotence property: re-planning
    * already-compacted output yields only single-file bins). */
  def compactionSummary(plan: DataFrame, partCol: String,
                        bytesCol: String): DataFrame =
    plan.groupBy(partCol, "bin")
      .agg(count(lit(1)).as("n_files"),
        sum(col(bytesCol)).as("total_bytes"))

  /** Execute compaction over a parquet directory: files already ≥
    * `minBytes` are COMPACT — copied byte-for-byte, each its own bin
    * (CompactionExecSpec asserts bit-identity); consecutive runs of
    * smaller files bin by [[compactionPlan]]'s rule (name order,
    * exclusive-prefix-sum // target) and every multi-file bin rewrites
    * to ONE output file.
    *
    * The `minBytes` candidate threshold (Delta OPTIMIZE's minFileSize)
    * is what makes re-compaction a fixed point with REAL bytes: a
    * merged parquet file is smaller than the sum of its inputs
    * (per-file footer/dictionary overhead disappears), so pure
    * size-algebra re-planning would re-bin compacted output. Instead:
    * a non-final bin's input total exceeds target − minBytes ≥
    * minBytes (with the default minBytes = target/2), so its merged
    * output re-classifies as compact and the second run copies it
    * untouched. A pathological shrink past minBytes just re-enters the
    * file as a candidate — convergent re-merging, never oscillation.
    *
    * Scale shape — everything data-plane is DISTRIBUTED, and the job
    * count is independent of the bin count (CompactionOneJobSpec pins
    * it):
    *  1. the LISTING is a `binaryFile` file-index scan with the
    *     content column pruned — names + sizes come back as metadata
    *     rows, never file bytes; only the (name, bytes) pairs land on
    *     the driver (the same metadata-only position Delta/Iceberg
    *     OPTIMIZE's planner is in);
    *  2. ALL multi-file bins rewrite in ONE Spark job: one scan of
    *     every candidate file, each row tagged with its bin via a
    *     broadcast join against the plan, hash-repartitioned on bin
    *     and written `partitionBy(bin)` — one output file per bin by
    *     construction, 10k bins = still one job;
    *  3. single-file (compact) bins copy byte-for-byte in one more
    *     job, running ON EXECUTORS ([[graft.sinks.Sinks.copyFiles]]);
    *  4. the driver's only writes are control-plane: per-bin renames
    *     out of the staging directory and the final `_SUCCESS` marker
    *     (the store convention — readers gate on it).
    * All IO goes through the Hadoop `FileSystem` API, so the same code
    * drives local disk here and HDFS/S3A on a cluster. Crash safety:
    * the source is read-only throughout and output is staged+renamed,
    * so a crashed run re-executes from intact input (stale `bin-*`
    * outputs from a previous run are cleared first). Output names
    * carry a `bin-NNNNN-` prefix: name order == bin order.
    *
    * @return the executed summary: (bin, n_files, total_bytes,
    *         action copy|rewrite, out_file) */
  def compactFiles(spark: SparkSession, srcDir: String, targetDir: String,
                   targetBytes: Long, minBytes: Long = -1L): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    require(targetBytes > 0, "targetBytes must be positive")
    val minB = if (minBytes >= 0) minBytes else targetBytes / 2
    val srcPath = new Path(srcDir)
    val dstPath = new Path(targetDir)
    val fs = dstPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // 1. distributed listing: a binaryFile FILE-INDEX scan — selecting
    // only (path, length) prunes the content column, so executors read
    // directory metadata, not file bytes; hidden (`_`/`.`) files are
    // excluded by the file index itself
    val files: Seq[(String, Long)] = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.parquet")
      .load(srcDir)
      .select(substring_index(col("path"), "/", -1).as("name"),
        col("length"))
      .as[(String, Long)].collect().toSeq.sortBy(_._1)
    require(files.nonEmpty, s"compactFiles: no parquet files under $srcDir")

    // clear this executor's own namespace in targetDir first: a
    // previous (possibly crashed, possibly differently-binned) run's
    // bin-* outputs must not survive alongside this run's — stale bins
    // would duplicate rows on read
    if (fs.exists(dstPath)) fs.listStatus(dstPath).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("bin-") || n.startsWith(".bin-") ||
          n == StagingName || n == "_SUCCESS")
        fs.delete(st.getPath, true)
    }
    fs.mkdirs(dstPath)

    // 2. bins in name order (driver, metadata-only — (name, bytes)
    // pairs): compact files stand alone; candidate runs split by the
    // planner's exclusive-prefix-sum rule
    val bins = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Long)]]
    val run = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def flushRun(): Unit = {
      var prefix = 0L
      var curBin = -1L
      var cur = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      run.foreach { case (f, b) =>
        val bin = prefix / targetBytes
        if (bin != curBin) {
          if (cur.nonEmpty) bins += cur.toSeq
          cur = scala.collection.mutable.ArrayBuffer.empty
          curBin = bin
        }
        cur += ((f, b))
        prefix += b
      }
      if (cur.nonEmpty) bins += cur.toSeq
      run.clear()
    }
    files.foreach { case (f, b) =>
      if (b >= minB) { flushRun(); bins += Seq((f, b)) }
      else run += ((f, b))
    }
    flushRun()
    val indexed = bins.zipWithIndex.toSeq
    val copies = indexed.filter(_._1.length == 1)
    val rewrites = indexed.filter(_._1.length > 1)

    // 3. compact bins: byte-for-byte copies, ONE job, executor-side
    graft.sinks.Sinks.copyFiles(spark, copies.map { case (m, bin) =>
      (new Path(srcPath, m.head._1).toString,
        new Path(dstPath, f"bin-$bin%05d-${m.head._1}").toString)
    })

    val renamedBins = scala.collection.mutable.Set.empty[Int]

    // 4. candidate bins: ALL multi-file bins merge in ONE job — scan
    // every candidate file once, tag rows with their bin (broadcast
    // join against the plan on the scan's file name), co-locate each
    // bin into one task, write partitionBy(bin) → one file per bin
    if (rewrites.nonEmpty) {
      val staging = new Path(dstPath, StagingName)
      fs.delete(staging, true)
      val plan = rewrites.flatMap { case (m, bin) =>
        m.map { case (name, _) => (name, bin) }
      }
      val data = spark.read.parquet(
        plan.map { case (n, _) => s"$srcDir/$n" }: _*)
      Seq("_graft_name", "_graft_bin").foreach(c =>
        require(!data.columns.contains(c),
          s"compactFiles uses '$c' as a helper column; rename the input's"))
      data
        .withColumn("_graft_name",
          substring_index(input_file_name(), "/", -1))
        .join(broadcast(plan.toDF("_graft_name", "_graft_bin")),
          "_graft_name")
        .drop("_graft_name")
        .repartition(rewrites.size, col("_graft_bin"))
        .write.partitionBy("_graft_bin").parquet(staging.toString)
      // control-plane finalize: one RENAME per bin (metadata, no bytes).
      // A bin whose member files were ALL zero-row (footer-only outputs
      // of upstream writes with empty partitions) produces no staging
      // directory — partitionBy writes nothing for an empty partition —
      // so it simply contributes no output file
      rewrites.foreach { case (_, bin) =>
        val binDir = new Path(staging, s"_graft_bin=$bin")
        if (fs.exists(binDir)) {
          val part = fs.listStatus(binDir).map(_.getPath)
            .find(graft.sinks.Sinks.isPartFile)
            .getOrElse(sys.error(s"no output part file in $binDir"))
          val out = new Path(dstPath, f"bin-$bin%05d-compacted.parquet")
          require(fs.rename(part, out), s"rename failed: $part -> $out")
          renamedBins += bin
        }
      }
      fs.delete(staging, true)
      // if NOTHING produced a data file (every input was zero-row and
      // there were no singleton copies), keep the output dir readable:
      // one schema-only parquet file preserves `spark.read.parquet`'s
      // schema inference over the compacted directory
      if (renamedBins.isEmpty && copies.isEmpty) {
        data.limit(0).coalesce(1).write.parquet(staging.toString)
        val part = fs.listStatus(staging).map(_.getPath)
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no schema-only part file in $staging"))
        require(fs.rename(part, new Path(dstPath, "bin-empty-schema.parquet")),
          "rename failed for schema-only output")
        fs.delete(staging, true)
      }
    }

    // 5. completion marker, per the store convention (readers that gate
    // on _SUCCESS see compacted output as complete)
    fs.create(new Path(dstPath, "_SUCCESS"), true).close()

    // the summary names only files that EXIST: a rewrite bin whose
    // members were all zero-row produced no output file and says so
    indexed.map { case (members, bin) =>
      val bytes = members.map(_._2).sum
      if (members.length == 1)
        (bin.toLong, 1L, bytes, "copy", f"bin-$bin%05d-${members.head._1}")
      else if (renamedBins.contains(bin))
        (bin.toLong, members.length.toLong, bytes, "rewrite",
          f"bin-$bin%05d-compacted.parquet")
      else
        (bin.toLong, members.length.toLong, bytes, "rewrite-empty",
          null.asInstanceOf[String])
    }.toDF("bin", "n_files", "total_bytes", "action", "out_file")
  }

  /** Staging directory name for [[compactFiles]]' one-job merge write
    * (dot-prefixed: invisible to any file-index scan of targetDir). */
  private val StagingName = ".compact-staging"

  /** Z-layout profile: bucket rows by the TOP `bucketBits` of their
    * Z-value (the file-grain a range-partitioned write would produce)
    * and report each bucket's row count and per-dimension min/max —
    * the exact bounds a parquet footer would carry, i.e. what a
    * pruning scan has to work with. Narrow map + one
    * map-side-combined aggregate. */
  def zProfile(df: DataFrame, dims: Seq[Column], bits: Int,
               bucketBits: Int): DataFrame = {
    require(bucketBits > 0 && bucketBits <= bits * dims.length,
      s"bucketBits must be in (0, ${bits * dims.length}]")
    val named = dims.zipWithIndex.map { case (d, i) => d.as(s"d$i") }
    val z = zValue(dims.indices.map(i => col(s"d$i")), bits)
    val aggs = dims.indices.flatMap(i =>
      Seq(min(col(s"d$i")).as(s"min_d$i"), max(col(s"d$i")).as(s"max_d$i")))
    df.select(named: _*)
      .withColumn("zbucket",
        shiftright(z, bits * dims.length - bucketBits))
      .groupBy("zbucket")
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }
}
