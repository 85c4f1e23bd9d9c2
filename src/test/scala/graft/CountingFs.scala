package graft

import java.net.URI

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path,
  PositionedReadable, RawLocalFileSystem, Seekable}

/** A local filesystem registered under `probe://` that tallies every
  * metadata round-trip AND every data byte read — the instrumentation
  * the O(generations) history contract and the point-lookup I/O
  * contract are asserted with (VersionedStoreSpec, LookupProbeSpec):
  * on an object store each call is a network request and each byte is
  * transfer cost, so the specs pin COUNTS, not wall time. Counters are
  * global because Hadoop caches one FileSystem instance per scheme. */
object CountingFs {
  val statusCalls = new java.util.concurrent.atomic.AtomicInteger(0)
  val opens = new java.util.concurrent.atomic.AtomicInteger(0)
  val bytesRead = new java.util.concurrent.atomic.AtomicLong(0L)
  // write-side metadata ops (round-15): creates/mkdirs/renames/deletes
  // are each a round trip on an object store too — the commit-path
  // budget spec prices an upsert+commit in these
  val creates = new java.util.concurrent.atomic.AtomicInteger(0)
  val mkdirs = new java.util.concurrent.atomic.AtomicInteger(0)
  val renames = new java.util.concurrent.atomic.AtomicInteger(0)
  val deletes = new java.util.concurrent.atomic.AtomicInteger(0)
  // data bytes WRITTEN through create() streams (round-16): the
  // per-micro-batch ledger WRITE contract is pinned in these — a
  // merge-on-read delta commit's bytes track the batch, a
  // copy-on-write bucket rewrite's track the store
  val bytesWritten = new java.util.concurrent.atomic.AtomicLong(0L)
  // opens of DATA files only (round-16): the commit log's marker reads
  // grow O(epochs-since-checkpoint) by design (bounded by vacuum's
  // _floors truncation, priced in CommitCostSpec) — the per-batch
  // ledger-probe asymptote pins discriminate on parquet opens so
  // metadata cadence can't mask a data-path regression
  val parquetOpens = new java.util.concurrent.atomic.AtomicInteger(0)
  // existence probes: a HEAD request each on an object store.
  // RawLocalFileSystem answers `exists` from java.io.File without
  // going through getFileStatus, so they need their own counter
  val existsCalls = new java.util.concurrent.atomic.AtomicInteger(0)
  def writeOps: Int = creates.get() + mkdirs.get() + renames.get() +
    deletes.get()
  def allOps: Int = writeOps + statusCalls.get() + opens.get() +
    existsCalls.get()
  def reset(): Unit = {
    statusCalls.set(0); opens.set(0); bytesRead.set(0L); existsCalls.set(0)
    creates.set(0); mkdirs.set(0); renames.set(0); deletes.set(0)
    bytesWritten.set(0L); parquetOpens.set(0)
  }

  /** Wraps a raw stream, adding every byte served to [[bytesRead]].
    * Positioned reads (parquet's footer/page access pattern) and
    * sequential reads both count; seeks are free (object stores price
    * ranged GETs by bytes, not offsets). */
  private[graft] final class CountingStream(inner: FSDataInputStream)
      extends java.io.InputStream with Seekable with PositionedReadable {
    override def read(): Int = {
      val b = inner.read()
      if (b >= 0) CountingFs.bytesRead.incrementAndGet()
      b
    }
    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      val n = inner.read(buf, off, len)
      if (n > 0) CountingFs.bytesRead.addAndGet(n.toLong)
      n
    }
    override def read(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
      val n = inner.read(pos, buf, off, len)
      if (n > 0) CountingFs.bytesRead.addAndGet(n.toLong)
      n
    }
    override def readFully(pos: Long, buf: Array[Byte], off: Int,
                           len: Int): Unit = {
      inner.readFully(pos, buf, off, len)
      CountingFs.bytesRead.addAndGet(len.toLong)
    }
    override def readFully(pos: Long, buf: Array[Byte]): Unit =
      readFully(pos, buf, 0, buf.length)
    override def seek(pos: Long): Unit = inner.seek(pos)
    override def getPos: Long = inner.getPos
    override def seekToNewSource(targetPos: Long): Boolean =
      inner.seekToNewSource(targetPos)
    override def available(): Int = inner.available()
    override def close(): Unit = inner.close()
  }
}

class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("probe:///")

  // RawLocalFileSystem.listStatus stats every child through the
  // public getFileStatus — an implementation detail a real object
  // store doesn't share (LIST is one round trip), so child stats
  // inside a list don't count as probes
  private val inList = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  override def getFileStatus(p: Path): FileStatus = {
    if (!inList.get()) CountingFs.statusCalls.incrementAndGet()
    super.getFileStatus(p)
  }

  override def exists(p: Path): Boolean = {
    CountingFs.existsCalls.incrementAndGet()
    super.exists(p)
  }

  override def listStatus(p: Path): Array[FileStatus] = {
    CountingFs.statusCalls.incrementAndGet()
    inList.set(java.lang.Boolean.TRUE)
    try super.listStatus(p)
    finally inList.set(java.lang.Boolean.FALSE)
  }

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.opens.incrementAndGet()
    if (p.getName.endsWith(".parquet")) CountingFs.parquetOpens.incrementAndGet()
    new FSDataInputStream(
      new CountingFs.CountingStream(super.open(p, bufferSize)))
  }

  override def create(p: Path, permission: org.apache.hadoop.fs.permission
      .FsPermission, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    CountingFs.creates.incrementAndGet()
    super.create(p, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  // EVERY create path (both public overloads, createNonRecursive)
  // funnels through this protected primitive — wrap it so written
  // data bytes are tallied regardless of which API the writer used
  // (Spark's parquet committer uses the non-permission overload). The
  // `creates` op counter stays on the public overload above so the
  // round-15 commit-cost budgets keep their exact meaning.
  override protected def createOutputStreamWithMode(p: Path, append: Boolean,
      permission: org.apache.hadoop.fs.permission.FsPermission)
      : java.io.OutputStream = {
    val inner = super.createOutputStreamWithMode(p, append, permission)
    new java.io.OutputStream {
      override def write(b: Int): Unit = {
        inner.write(b); CountingFs.bytesWritten.incrementAndGet(); ()
      }
      override def write(buf: Array[Byte], off: Int, len: Int): Unit = {
        inner.write(buf, off, len)
        CountingFs.bytesWritten.addAndGet(len.toLong); ()
      }
      override def flush(): Unit = inner.flush()
      override def close(): Unit = inner.close()
    }
  }

  override def mkdirs(p: Path, permission: org.apache.hadoop.fs.permission
      .FsPermission): Boolean = {
    CountingFs.mkdirs.incrementAndGet()
    super.mkdirs(p, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    CountingFs.renames.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CountingFs.deletes.incrementAndGet()
    super.delete(p, recursive)
  }
}
