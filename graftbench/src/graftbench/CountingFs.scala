package graftbench

import java.net.URI
import java.nio.ByteBuffer
import java.util.EnumSet
import java.util.concurrent.CompletableFuture
import java.util.concurrent.atomic.LongAdder
import java.util.function.{Consumer, IntFunction}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.impl.FutureDataInputStreamBuilderImpl
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.sources.GraftLocalFileSystem

/** Filesystem counters, charged by [[CountingFs]]. Always on: each call
  * costs one `LongAdder` increment. Ops read them as before/after deltas.
  *
  * Paths are classified by name only:
  *  - `_graft_log/_head` and `_graft_log/vNNNNN.json` are the snapshot log;
  *  - any other path under `_graft_log/` (refs, expiry temp files) is log
  *    metadata;
  *  - `*.parquet` under `<tableRoot>/…/data/` is a data file;
  *  - bytes count only under the table root. */
object Io {
  val names: Array[String] = Array(
    "table.log_opens", "table.head_opens", "table.log_probes", "table.log_lists",
    "table.log_writes", "table.data_files_opened", "table.bytes_read", "table.bytes_written")
  val LogOpens = 0; val HeadOpens = 1; val LogProbes = 2; val LogLists = 3
  val LogWrites = 4; val DataOpens = 5
  val TableRead = 6; val TableWritten = 7

  private val c = Array.fill(names.length)(new LongAdder)
  /** Path prefix (no scheme) of the warehouse the workload's tables live in. */
  @volatile var tableRoot: String = "/nonexistent"

  def add(i: Int, n: Long): Unit = c(i).add(n)
  def snapshot(): Array[Long] = c.map(_.sum())

  private def str(p: Path): String = p.toUri.getPath
  private def inLog(s: String): Boolean =
    s.contains("/_graft_log/") || s.endsWith("/_graft_log")
  def underTable(p: Path): Boolean = str(p).startsWith(tableRoot)

  def onOpen(p: Path): Unit = {
    val s = str(p)
    if (inLog(s)) {
      val name = p.getName
      if (name == "_head") add(HeadOpens, 1)
      else if (name.startsWith("v") && name.endsWith(".json")) add(LogOpens, 1)
    } else if (s.startsWith(tableRoot) && s.contains("/data/") && s.endsWith(".parquet"))
      add(DataOpens, 1)
  }
  def onProbe(p: Path): Unit = if (inLog(str(p))) add(LogProbes, 1)
  def onList(p: Path): Unit = if (inLog(str(p))) add(LogLists, 1)
  def onWrite(p: Path): Unit = if (inLog(str(p))) add(LogWrites, 1)
  def onBytesRead(table: Boolean, n: Long): Unit = if (table && n > 0) add(TableRead, n)
  def onBytesWritten(table: Boolean, n: Long): Unit = if (table && n > 0) add(TableWritten, n)
}

/** The benchmark's `file://` filesystem: counts calls into [[Io]] and
  * delegates everything to the engine's own local filesystem, so the
  * engine runs exactly the code it runs without the benchmark.
  *
  * Log-slot claims (`vNNNNN.json`) are written through `java.io.File` by
  * the engine on local disks and never reach a Hadoop filesystem; they
  * are counted as `table.commits` from the log's version numbers instead. */
class CountingFs(inner: FileSystem) extends FilterFileSystem(inner) {
  def this() = this(new GraftLocalFileSystem)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    Io.onOpen(f)
    new FSDataInputStream(new CountingIn(super.open(f, bufferSize), Io.underTable(f)))
  }

  // Parquet opens through the builder API; FilterFileSystem would hand it
  // the inner filesystem's builder and bypass open(...)
  override def openFile(path: Path): FutureDataInputStreamBuilder =
    new FutureDataInputStreamBuilderImpl(this, path) {
      override def build(): CompletableFuture[FSDataInputStream] = {
        val result = new CompletableFuture[FSDataInputStream]()
        try result.complete(open(path, getBufferSize))
        catch { case e: Throwable => result.completeExceptionally(e) }
        result
      }
    }

  private def counted(f: Path, out: FSDataOutputStream): FSDataOutputStream = {
    Io.onWrite(f)
    new FSDataOutputStream(new CountingOut(out, Io.underTable(f)), null)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    counted(f, super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))

  override def create(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable, checksumOpt: Options.ChecksumOpt)
      : FSDataOutputStream =
    counted(f, super.create(f, permission, flags, bufferSize, replication,
      blockSize, progress, checksumOpt))

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    counted(f, super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean = {
    Io.onWrite(dst)
    super.rename(src, dst)
  }

  override protected def rename(src: Path, dst: Path, options: Options.Rename*): Unit = {
    Io.onWrite(dst)
    super.rename(src, dst, options: _*)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    Io.onList(f)
    super.listStatus(f)
  }

  // exists() reaches this too, so each probe counts once
  override def getFileStatus(f: Path): FileStatus = {
    Io.onProbe(f)
    super.getFileStatus(f)
  }
}

/** The `FileContext` twin (the engine renames log entries through it): the
  * same counting wrapper, over the same checksummed filesystem.
  *
  * The engine's own pairing (`GraftLocalFileSystem.sessionConfs`) binds
  * `FileContext` to the raw `GraftRawLocalFs` instead. `expireSnapshots`
  * then replaces `v00000.json` — the one log entry written through the
  * checksummed `FileSystem` — with a raw rename that leaves its `.crc`
  * stale, and the next expiry fails with a `ChecksumException`. Binding
  * both APIs to one checksummed filesystem is Hadoop's default behaviour,
  * and lets `cdc_merge` expire on every cycle. */
class CountingAfs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new CountingFs(new GraftLocalFileSystem), conf,
    "file", false)

/** Counts the bytes read through it. It offers the reads the engine's local
  * filesystem offers — no byte-buffer reads — so readers pick the same path
  * with and without it; vectored reads go to the wrapped stream's own. */
private final class CountingIn(in: FSDataInputStream, table: Boolean)
    extends java.io.InputStream with Seekable with PositionedReadable with StreamCapabilities {
  private def counted(n: Int): Int = { Io.onBytesRead(table, n); n }
  override def read(): Int = { val b = in.read(); if (b >= 0) Io.onBytesRead(table, 1); b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = counted(in.read(b, off, len))
  override def readVectored(ranges: java.util.List[_ <: FileRange],
                            allocate: IntFunction[ByteBuffer]): Unit = {
    in.readVectored(ranges, allocate)
    ranges.forEach(r => Io.onBytesRead(table, r.getLength))
  }
  override def readVectored(ranges: java.util.List[_ <: FileRange],
                            allocate: IntFunction[ByteBuffer],
                            release: Consumer[ByteBuffer]): Unit = {
    in.readVectored(ranges, allocate, release)
    ranges.forEach(r => Io.onBytesRead(table, r.getLength))
  }
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int =
    counted(in.read(pos, b, off, len))
  override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
    in.readFully(pos, b, off, len); Io.onBytesRead(table, len)
  }
  override def readFully(pos: Long, b: Array[Byte]): Unit = {
    in.readFully(pos, b); Io.onBytesRead(table, b.length)
  }
  override def skip(n: Long): Long = in.skip(n)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
  override def hasCapability(capability: String): Boolean = in.hasCapability(capability)
}

private final class CountingOut(out: FSDataOutputStream, table: Boolean)
    extends java.io.OutputStream with Syncable with StreamCapabilities {
  override def write(b: Int): Unit = { out.write(b); Io.onBytesWritten(table, 1) }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    out.write(b, off, len); Io.onBytesWritten(table, len)
  }
  override def flush(): Unit = out.flush()
  override def close(): Unit = out.close()
  override def hflush(): Unit = out.hflush()
  override def hsync(): Unit = out.hsync()
  override def hasCapability(capability: String): Boolean = out.hasCapability(capability)
}
