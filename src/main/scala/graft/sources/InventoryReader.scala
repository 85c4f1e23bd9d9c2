package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Fns

/** Inventory-table scans — SURVEY.md §2.1 (S1/S2/S4/S5) re-expressed as
  * Spark readers.
  *
  * The reference streams gzip CSV line-by-line with positional quoted
  * splits (ListProducer/ListProducer.py:29-58) and pandas chunked reads
  * (AzureTaskProducer/inventory_sqs.py:119-129); here the CSV reader
  * handles quoting/compression and Spark's file splits replace the
  * chunk loops. Gzip members are non-splittable, so per-FILE parallelism
  * is the scan unit — at 100 TB the ingest step normalizes to Parquet
  * once (SURVEY §4) and every later scan is columnar + splittable.
  */
object InventoryReader {

  /** S3 inventory wire schema (ListProducer/manifest.json:6). No header;
    * every field double-quoted; malformed rows surface in
    * `_corrupt_record` instead of failing the scan (the reference
    * rejects short rows at ListProducer.py:41-42). */
  val s3InventorySchema: StructType = StructType(Seq(
    StructField("Bucket", StringType),
    StructField("Key", StringType),
    StructField("Size", LongType),
    StructField("LastModifiedDate", StringType),
    StructField("ETag", StringType),
    StructField("StorageClass", StringType),
    StructField("IsMultipartUploaded", StringType),
    StructField("ReplicationStatus", StringType),
    StructField("_corrupt_record", StringType)))

  /** S2 — gzip-CSV S3 inventory scan. Returns BOTH good and corrupt
    * rows; `goodRows`/`corruptRows` split them.
    *
    * UNCACHED: a long-lived session issuing many scans would otherwise
    * accumulate one orphaned InMemoryRelation per call. A caller that
    * reads the scan more than once caches it and owns the release
    * ([[normalizeInventory]]); so does one that projects ONLY
    * `_corrupt_record` ([[corruptRows]] alone), which Spark rejects on
    * a raw scan.
    *
    * Every row is parsed whole (the per-read `columnPruning=false`):
    * a column-pruned CSV scan tokenizes only the columns a query reads
    * and flags a SHORT row (`"bad","row"`) in `_corrupt_record` only
    * when the query reads a column the row lacks, so a count, a narrow
    * projection, an aggregate or an observation over the scan would
    * take the row as good. Whole-row parsing keeps `_corrupt_record`
    * right whatever sits above the scan. */
  def readS3Inventory(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(s3InventorySchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("quote", "\"")
      .option("columnPruning", "false")
      .csv(path)

  /** The good-row predicate: parsed cleanly and carries a key. The one
    * statement of it, for [[goodRows]]' filter and for observations
    * taken over the raw scan. */
  val isGood: Column = col("_corrupt_record").isNull && col("Key").isNotNull

  /** Decoded, typed view of the good rows: URL-decoded key (F1), boolean
    * multipart flag (P13), replicated flag, parsed timestamp. */
  def goodRows(inv: DataFrame): DataFrame =
    inv.filter(isGood)
      .drop("_corrupt_record")
      .withColumn("Key", Fns.plusDecode(col("Key")))
      .withColumn("IsMultipartUploaded", Fns.boolFlag(col("IsMultipartUploaded")))
      .withColumn("Replicated", Fns.replicatedFlag(col("ReplicationStatus")))
      .withColumn("LastModified",
        to_timestamp(col("LastModifiedDate"), "yyyy-MM-dd'T'HH:mm:ss.SSSX"))

  def corruptRows(inv: DataFrame): DataFrame =
    inv.filter(col("_corrupt_record").isNotNull).select("_corrupt_record")

  /** A3 — Azure blob inventory CSV (AzureTaskProducer/inventory_sqs.py:
    * 99-110): header row, Content-Length validated to null on garbage
    * (largeInventoryDiffToSQS.py:106-111 aborts the file; the engine
    * quarantines the row — strictly more usable, divergence noted). */
  def readAzureInventory(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .csv(path)
      .withColumn("Content-Length", Fns.safeLong(col("Content-Length")))

  /** S1/S4 — manifest JSON scan (multi-line nested document). */
  def readManifest(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** Manifest `files[]` exploded to one row per inventory data file
    * (ListProducer.py:140-143). */
  def manifestFiles(manifest: DataFrame): DataFrame =
    manifest.select(explode(col("files")).as("f"))
      .select(col("f.key").as("key"), col("f.size").as("size"),
        col("f.MD5checksum").as("md5"))

  /** S3 — data-file checksum validation. The reference declares the
    * hook and stubs it True (libs/s3_utils.py:83-87); the engine
    * implements it: join the manifest's declared MD5s (from
    * [[manifestFiles]]) against the computed md5 of each staged shard
    * (binaryFile scan), emitting a per-file `checksum_status` in
    * {ok, md5_mismatch, size_mismatch, missing_file}. Mismatched shards
    * quarantine before the scan, exactly like corrupt rows (P4). The
    * digest runs where the bytes are — one narrow distributed scan, no
    * driver I/O; gzip shards are whole-file reads anyway (non-splittable).
    * The staged-file join key is the BASENAME (flat staging, the
    * reference's download layout, s3_utils.py:89-104) — so manifests
    * whose keys collide on basename (e.g. the same part file under two
    * date prefixes) cannot be validated flat and the op FAILS FAST with
    * the colliding names rather than matching bytes to the wrong key.
    * Mirror the key paths under the staging root and join on the full
    * key to validate such manifests.
    * @param stagingRoot local/staged directory (or glob) of the shards
    *        named by the manifest keys */
  def validateChecksums(spark: SparkSession, manifest: DataFrame,
                        stagingRoot: String): DataFrame = {
    val named = manifest.withColumn("file_name", substring_index(col("key"), "/", -1))
    // a manifest lists at most thousands of files: find repeated
    // basenames on the driver, not in a shuffle
    val collisions = named.select("file_name").collect().map(_.getString(0))
      .groupBy(identity).collect { case (n, ns) if ns.length > 1 => n }.take(3)
    require(collisions.isEmpty,
      "validateChecksums: manifest keys collide on basename (" +
        collisions.mkString(", ") +
        ") — flat staging cannot distinguish them; mirror key paths instead")
    val actual = spark.read.format("binaryFile").load(stagingRoot)
      .select(
        substring_index(col("path"), "/", -1).as("file_name"),
        md5(col("content")).as("actual_md5"),
        col("length").as("actual_size"))
    named
      .join(actual, Seq("file_name"), "left")
      .withColumn("checksum_status",
        when(col("actual_md5").isNull, lit("missing_file"))
          .when(col("md5").isNull, lit("missing_checksum")) // can't verify ≠ ok
          .when(col("size").isNotNull && col("size") =!= col("actual_size"),
            lit("size_mismatch"))
          .when(lower(col("md5")) =!= col("actual_md5"), lit("md5_mismatch"))
          .otherwise(lit("ok")))
  }

  /** The shards that passed [[validateChecksums]] — scan only these. */
  def validShards(validated: DataFrame): DataFrame =
    validated.filter(col("checksum_status") === "ok")

  /** Outcome of [[normalizeInventory]]: decoded row count, quarantined
    * corrupt-row count, and the number of data files ACTUALLY written
    * (counted post-write, so it is truthful for both the round-robin
    * and the bucket-partitioned layout). */
  final case class NormalizeResult(rows: Long, corrupt: Long, shards: Int,
                                   outDir: String)

  /** Data files under a written output dir (recursive; skips _SUCCESS
    * and other metadata) — the audit-truth shard count. Listed through
    * the dir's OWN Hadoop filesystem, so s3a://, hdfs:// and file://
    * outputs all count correctly (a java.nio walk would silently
    * report 0 for any non-local URI). */
  private def countDataFiles(spark: SparkSession, dir: String): Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) 0
    else {
      val it = fs.listFiles(path, /* recursive = */ true)
      var n = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.startsWith("part-")) n += 1
      }
      n
    }
  }

  /** Ingest-normalize (SURVEY §4): decompress-once to Parquet. Gzip
    * inventory members are non-splittable (ListProducer/ListProducer
    * .py:37 streams them single-threaded) — one task per MEMBER no
    * matter how large, so a 100 TB scan is hostage to the largest
    * member. This job pays the non-splittable read exactly once and
    * rewrites the decoded good rows as Parquet in `targetShardBytes`-
    * sized shards; every downstream scan is then splittable, columnar,
    * and predicate-pushable. Corrupt rows quarantine to
    * `<outDir>.corrupt` as text (auditable, never silently dropped —
    * P4 semantics).
    *
    * Shard sizing: rows-per-shard is derived from the measured mean
    * decoded row width (one aggregate — two scalars on the driver,
    * never data), then the write round-robins into exactly that many
    * partitions. Parquet encodes/compresses below the estimate, which
    * errs toward smaller files — the safe side (splittable either way;
    * pathological 2 GB+ shards are what must never happen). */
  def normalizeInventory(spark: SparkSession, inventoryGlob: String,
                         outDir: String,
                         targetShardBytes: Long = 256L << 20,
                         format: String = "parquet",
                         bucketPartitioned: Boolean = false): NormalizeResult = {
    require(targetShardBytes > 0, "targetShardBytes must be positive")
    // cached: the one materialization serves good rows, the corrupt
    // quarantine AND the width estimate; released on EVERY path (a
    // failed write must not orphan the scan in a long-lived session).
    val raw = readS3Inventory(spark, inventoryGlob).cache()
    try {
      val good = goodRows(raw)
      val est = good.agg(
        count(lit(1)).as("n"),
        coalesce(avg(
          length(col("Bucket")) + length(col("Key")) + length(col("ETag")) +
            length(col("StorageClass")) + lit(24)), lit(64.0)).as("row_bytes"))
        .first()
      val n = est.getLong(0)
      val rowsPerShard = math.max(1L, (targetShardBytes / est.getDouble(1)).toLong)
      val targetShards = math.max(1L, (n + rowsPerShard - 1) / rowsPerShard).toInt
      if (bucketPartitioned)
        // hive-style bucket dirs (partition pruning on reads); the size
        // target caps records per file WITHIN each bucket dir
        good.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("maxRecordsPerFile", rowsPerShard)
          .partitionBy("Bucket")
          .format(format).save(outDir)
      else
        good.repartition(targetShards)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format(format).save(outDir)
      val corrupt = corruptRows(raw)
      val nCorrupt = corrupt.count()
      if (nCorrupt > 0)
        corrupt.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .text(s"$outDir.corrupt")
      else {
        // reconcile a STALE quarantine from a previous run over the
        // same outDir — the audit trail must describe THIS input;
        // deleted through its own Hadoop filesystem so a `file:`/`s3a:`
        // outDir loses it too
        val stale = new org.apache.hadoop.fs.Path(s"$outDir.corrupt")
        stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(stale, true)
      }
      // count what was actually written: the bucket-partitioned layout
      // produces per-dir file counts unrelated to the round-robin
      // estimate, and an audit must describe the real output
      NormalizeResult(n, nCorrupt, countDataFiles(spark, outDir), outDir)
    } finally { raw.unpersist(); () }
  }

  /** S2 (JSON variant) — the same inventory schema as newline-delimited
    * JSON (docs/Schema.txt:37-38 declares fileFormat "json"). Corrupt
    * lines quarantine identically; uncached, like [[readS3Inventory]]. */
  def readS3InventoryJson(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(s3InventorySchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** §4 ingest normalization, bucket-partitioned layout: one hive-style
    * dir per bucket (partition pruning on reads). A thin wrapper over
    * [[normalizeInventory]] — same single-scan lifecycle, corrupt-row
    * quarantine and cache release; returns the normalized DataFrame. */
  def normalizeToParquet(spark: SparkSession, csvGlob: String,
                         parquetDir: String): DataFrame =
    normalizeTo(spark, csvGlob, parquetDir, "parquet")

  /** Format-parameterized [[normalizeToParquet]] (parquet or orc — both
    * columnar, splittable, stats-bearing; the choice is an ecosystem
    * fit, not a capability difference). */
  def normalizeTo(spark: SparkSession, csvGlob: String,
                  outDir: String, format: String): DataFrame = {
    normalizeInventory(spark, csvGlob, outDir,
      format = format, bucketPartitioned = true)
    spark.read.format(format).load(outDir)
  }

  /** S5 — recursive discovery of inventory shards under a root. */
  def readAllCsv(spark: SparkSession, root: String, glob: String = "*.csv"): DataFrame =
    spark.read
      .option("header", "true")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .csv(root)
}
