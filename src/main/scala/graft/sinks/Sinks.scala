package graft.sinks

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sinks — SURVEY.md §2.8 (K4/K5/K6) as Spark writers plus a
  * parquet-backed upsert store standing in for the DynamoDB stat table.
  *
  * Every store path goes through the Hadoop `FileSystem` API (never
  * `java.nio` local paths), so the store can live on HDFS/S3A
  * unchanged: data moves in distributed jobs, and the driver's only
  * filesystem work is control-plane renames and marker files.
  */
object Sinks {

  private[sinks] def fsOf(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(hadoopConf), p)
  }

  private def hadoopConf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  /** Small-file write via the FS rename idiom (tmp + rename). Replace
    * writes go through `FileContext.rename(OVERWRITE)` — a single
    * atomic replace with NO window in which a concurrent reader sees
    * the marker absent (plain `FileSystem.rename` does not overwrite
    * on all filesystems, and delete-then-rename opens exactly that
    * window). Filesystems without a FileContext binding fall back to
    * the windowed delete+rename; a reader there treats a missing
    * marker as "absent" and the next writer recreates it. A FAILED
    * rename throws — Hadoop signals most rename failures by returning
    * false, and swallowing that would let a caller believe a marker
    * (or manifest) landed when nothing is on disk. */
  private[graft] def writeMarker(fs: FileSystem, target: Path, content: String,
                                 replace: Boolean): Unit = {
    if (!replace && fs.exists(target)) return
    // the tmp is WRITER-PRIVATE: two optimistic writers racing the
    // same commit-marker name must not share a tmp file — on a
    // checksummed local FS the second create clobbers the first's
    // .crc sidecar mid-rename and leaves a corrupt marker (caught by
    // ConcurrencySpec's real-racer stress); with private tmps the
    // loser's rename simply fails against the existing target
    val tmp = new Path(target.getParent,
      target.getName + ".tmp-" + java.util.UUID.randomUUID())
    localPathOf(fs, target) match {
      case Some(nioTarget) =>
        // LOCAL fast path (round-14): Hadoop's create() without the
        // native library forks a `chmod` per file (~7 ms) and
        // FileContext's checksummed replace-rename costs ~30 ms — a
        // multi-marker commit paid tenths of a second in pure fork
        // overhead. java.nio writes the same bytes in microseconds,
        // and POSIX rename(2) IS the atomic replace the FileContext
        // dance emulates. A legacy checksum sidecar from the old path
        // is removed first so a later fs.open never verifies stale
        // bytes (no sidecar = no verification; content is unchanged
        // in the crash window).
        val nioTmp = java.nio.file.Paths.get(
          fs.makeQualified(tmp).toUri.getPath)
        java.nio.file.Files.write(nioTmp,
          content.getBytes(StandardCharsets.UTF_8))
        if (replace) {
          java.nio.file.Files.deleteIfExists(nioTarget.resolveSibling(
            "." + nioTarget.getFileName.toString + ".crc"))
          java.nio.file.Files.move(nioTmp, nioTarget,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          return
        }
      case None =>
        val out = fs.create(tmp, true)
        try out.write(content.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        if (replace) {
          try {
            val fc = fileContextFor(target, fs)
            fc.rename(fc.makeQualified(tmp), fc.makeQualified(target),
              org.apache.hadoop.fs.Options.Rename.OVERWRITE)
            return
          } catch {
            case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
              fs.delete(target, false) // documented non-atomic fallback
          }
        }
    }
    // create-exclusive promotion (both paths): Hadoop rename refuses
    // an existing target, which is exactly the replace=false contract
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      sys.error(s"marker rename failed: $tmp -> $target")
    }
  }

  /** The marker path as a java.nio path when (and only when) it lives
    * on the LOCAL filesystem — the driver-side metadata fast path.
    * Scheme-qualified stores (s3a/hdfs) return None and keep the
    * Hadoop API. */
  private[graft] def localPathOf(fs: FileSystem,
                                 p: Path): Option[java.nio.file.Path] = {
    val q = fs.makeQualified(p)
    if (q.toUri.getScheme == "file")
      Some(java.nio.file.Paths.get(q.toUri.getPath))
    else None
  }

  /** Small-file overwrite-create through the fast path where local
    * (see [[localPathOf]]); Hadoop create elsewhere. For files inside
    * directories that are NOT YET VISIBLE to readers (staging, swap,
    * uncommitted generations) — atomicity is the caller's rename. */
  private[graft] def createSmallFile(fs: FileSystem, p: Path,
                                     content: Array[Byte]): Unit =
    localPathOf(fs, p) match {
      case Some(nio) => java.nio.file.Files.write(nio, content)
      case None =>
        val out = fs.create(p, true)
        try { if (content.nonEmpty) out.write(content) } finally out.close()
    }

  /** mkdirs through the fast path where local (Hadoop's forks a chmod
    * per level without the native library). */
  private[graft] def fastMkdirs(fs: FileSystem, p: Path): Unit =
    localPathOf(fs, p) match {
      case Some(nio) => java.nio.file.Files.createDirectories(nio); ()
      case None => fs.mkdirs(p); ()
    }

  /** FileContext per (scheme, authority), cached: unlike FileSystem,
    * Hadoop does NOT cache FileContext instances — constructing one
    * per replace-write costs ~30 ms of conf/AbstractFileSystem setup
    * (round-14 profile: the per-bucket `_cstats` writes alone put
    * ~0.3 s on every ledger upsert), which dwarfs the rename itself. */
  private val fcCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.hadoop.fs.FileContext]()

  private def fileContextFor(target: Path, fs: FileSystem)
      : org.apache.hadoop.fs.FileContext = {
    val uri = fs.makeQualified(target).toUri
    val key = s"${uri.getScheme}://${Option(uri.getAuthority).getOrElse("")}"
    fcCache.computeIfAbsent(key, _ =>
      org.apache.hadoop.fs.FileContext.getFileContext(uri, fs.getConf))
  }

  /** Open directly and treat absence as None — the exists() probe
    * before every open was a second metadata round-trip per marker
    * read (a HEAD request per commit-log entry on an object store;
    * round-14 fs_ops channel made the cost visible). */
  private[sinks] def readMarker(fs: FileSystem, p: Path): Option[String] = {
    val in =
      try fs.open(p)
      catch { case _: java.io.FileNotFoundException => return None }
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      Some(new String(bytes.toByteArray, StandardCharsets.UTF_8))
    } finally in.close()
  }

  /** K5 — single-document JSON write of a frame. A document is not a
    * table, so the render is a driver-side single-row `toJSON`; the
    * write is atomic via temp-file rename. */
  def writeJsonDoc(df: DataFrame, path: String): Unit =
    writeDoc(path, df.toJSON.collect() match {
      case Array(one) => one
      case rows => rows.mkString("[", ",", "]")
    })

  /** K5 readback verify (ListProducer.py:159-161). */
  def readJsonDoc(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** K5 — writes a JSON document built on the driver (the job.json
    * write-back, ListProducer.py:157; s3_utils.py:37-41) atomically,
    * with its keys in the tree's order. No Spark job. */
  def writeJsonTree(doc: com.fasterxml.jackson.databind.JsonNode, path: String): Unit =
    writeDoc(path, Json.writeValueAsString(doc))

  /** Reads one JSON document through its path's own Hadoop filesystem:
    * a manifest, or a [[writeJsonTree]] readback (ListProducer.py:
    * 159-161). Keys keep the file's order; no Spark job, no schema
    * inference. */
  def readJsonTree(path: String): com.fasterxml.jackson.databind.JsonNode = {
    val (fs, p) = fsOf(path)
    Json.readTree(readMarker(fs, p).getOrElse(
      throw new java.io.FileNotFoundException(s"no JSON document at $path")))
  }

  private def writeDoc(path: String, doc: String): Unit = {
    val (fs, p) = fsOf(path)
    if (p.getParent != null) fs.mkdirs(p.getParent)
    writeMarker(fs, p, doc, replace = true)
  }

  /** Byte-copies each (from, to) file pair ON EXECUTORS in one Spark
    * job: no row is decoded, no shuffle runs, and no byte passes the
    * driver. Paths are fully qualified; each side goes through its own
    * Hadoop filesystem. `Configuration` is not serializable, so the
    * session's Hadoop conf ships as entries and is rebuilt on the
    * executor (the pattern DSv2 writers use). */
  private[graft] def copyFiles(spark: SparkSession,
                               pairs: Seq[(String, String)]): Unit = {
    if (pairs.isEmpty) return
    val confEntries: Array[(String, String)] = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val e = it.next(); out += ((e.getKey, e.getValue)) }
      out.toArray
    }
    import spark.implicits._
    spark.createDataset(pairs)
      .repartition(math.min(pairs.size, spark.sparkContext.defaultParallelism))
      .foreachPartition { (it: Iterator[(String, String)]) =>
        val conf = new Configuration(false)
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        it.foreach { case (from, to) =>
          val (fp, tp) = (new Path(from), new Path(to))
          org.apache.hadoop.fs.FileUtil.copy(fp.getFileSystem(conf), fp,
            tp.getFileSystem(conf), tp, false, true, conf)
        }
      }
  }

  /** How long [[observed]] waits for an action's observed metrics,
    * which the listener bus delivers after the action's last job ends. */
  private val ObservedWait = scala.concurrent.duration.Duration(60, "s")

  /** The named long metrics `obs` collected over the action that carried
    * it (a null aggregate, e.g. the sum of no rows, reads 0). Empty when
    * the action's final plan lost the observed node: AQE replaces a
    * stage whose output is empty, and an observation inside it, with
    * an empty relation. Throws if the metrics do not arrive; `what`
    * names the action in that error. */
  private[graft] def observed(obs: Observation, what: String): Map[String, Long] = {
    val row =
      try scala.concurrent.Await.result(obs.future, ObservedWait)
      catch {
        case e: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException(s"no observed metrics for $what", e)
      }
    if (row.schema == null) Map.empty else longs(row)
  }

  /** A row of named long aggregates as a map; a null reads 0. */
  private[graft] def longs(row: org.apache.spark.sql.Row): Map[String, Long] =
    row.schema.fieldNames.map(n => n -> row.getAs[Long](n)).toMap

  /** Appends `df` to `dir` as `format` files in ONE write job and
    * returns what that job observed: the row count under "rows", plus
    * each of `observed` (named long aggregates) under its own name.
    *
    * The job writes into a hidden `_`-prefixed staging dir under `dir`,
    * which file-stream and batch readers skip as they skip
    * `_temporary`; a non-empty write's part files are then renamed
    * into `dir`. The staging dir is deleted on every path, so an empty
    * frame or a failed write lands no file: an empty part file in a
    * queue dir would be a new offset to the file-stream source
    * consuming it, a self-feeding loop of empty micro-batches. So no
    * caller needs an emptiness probe job before its write. Throws if
    * the write's metrics never arrive. */
  private[graft] def appendFiles(df: DataFrame, dir: String, format: String,
                                 observed: Column*): Map[String, Long] = {
    val target = new Path(dir)
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val staging = new Path(target, s"_staging-${java.util.UUID.randomUUID()}")
    val obs = Observation()
    try {
      df.observe(obs, count(lit(1)).as("rows"), observed: _*)
        .write.format(format).save(staging.toString)
      val metrics = Sinks.observed(obs, s"the write to $dir")
      if (metrics("rows") > 0)
        fs.listStatus(staging).map(_.getPath)
          .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
          .foreach { part =>
            val landed = new Path(target, part.getName)
            require(fs.rename(part, landed), s"rename failed: $part -> $landed")
          }
      metrics
    } finally fs.delete(staging, true)
  }

  /** K6 — result CSVs partitioned by outcome (AzureEtagCheck/
    * etag_app.py:258-272 writes success vs errors files). */
  def writePartitionedCsv(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partCol)
      .option("header", "true")
      .csv(path)

  /** K4/J5 — keyed upsert into a parquet-backed store: new rows REPLACE
    * existing rows with the same key (the reference's update_item PUT of
    * per-bucket sums, s3_monitor_statistic.py:47-91). Batch-idempotent:
    * re-upserting the same batch is a no-op. Used standalone or from
    * `foreachBatch` in the streaming stats job.
    *
    * Write path is swap-by-rename so readers never observe a partial
    * store, and a crash at ANY point leaves a complete copy on disk:
    * the live store is renamed aside (`.old`) before the swap is
    * promoted, never deleted first, and [[recoverStore]] restores from
    * a leftover `.old`/`.swap` on the next call. At cluster scale this
    * store is a Delta/Iceberg MERGE, which shares this exact
    * key-replace contract (and its own transaction log). */
  def upsertParquet(batch: DataFrame, keyCols: Seq[String], storeDir: String): Unit = {
    val spark = batch.sparkSession
    recoverStore(storeDir)
    val (fs, dir) = fsOf(storeDir)
    val existing =
      if (fs.exists(new Path(dir, "_SUCCESS")))
        Some(spark.read.parquet(storeDir))
      else None
    val merged = existing match {
      case Some(cur) =>
        // the anti-join keys and the union both read the batch: run it
        // once (a stateful foreachBatch frame would run its state stage
        // twice)
        val once = batch.localCheckpoint()
        cur.join(once.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
          .unionByName(once)
      case None => batch
    }
    val old = new Path(storeDir + ".old")
    val swap = new Path(storeDir + ".swap")
    // the merged plan still READS the live store — write the swap first
    merged.write.mode(SaveMode.Overwrite).parquet(swap.toString)
    fs.delete(old, true)
    if (fs.exists(dir)) require(fs.rename(dir, old), s"rename-aside failed: $dir")
    require(fs.rename(swap, dir), s"swap promote failed: $swap -> $dir")
    fs.delete(old, true)
  }

  /** If a previous upsert crashed between "live aside" and "promote
    * swap", the accumulated store survives as `.old` (or as a complete
    * `.swap`); restore it instead of silently starting over from one
    * batch. No-op when the live store is healthy. */
  def recoverStore(storeDir: String): Unit = {
    val (fs, dir) = fsOf(storeDir)
    if (!fs.exists(new Path(dir, "_SUCCESS"))) {
      val old = new Path(storeDir + ".old")
      val swap = new Path(storeDir + ".swap")
      if (fs.exists(new Path(old, "_SUCCESS"))) {
        fs.delete(dir, true)
        require(fs.rename(old, dir), s"recovery rename failed: $old")
      } else if (fs.exists(new Path(swap, "_SUCCESS"))) {
        fs.delete(dir, true)
        require(fs.rename(swap, dir), s"recovery rename failed: $swap")
      }
    }
  }

  /** A parquet output's data files: `*.parquet`, never the
    * `_SUCCESS`/`_EMPTY`/`_cstats` markers or hidden checksum sidecars. */
  private[graft] def isPartFile(p: Path): Boolean = {
    val nm = p.getName
    nm.endsWith(".parquet") && !nm.startsWith(".") && !nm.startsWith("_")
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
}
