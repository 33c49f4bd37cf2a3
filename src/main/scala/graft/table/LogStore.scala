package graft.table

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.sketch.BloomFilter

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException}
import java.util.UUID

/** One table's `_graft_log`: its layout, and every read, probe, listing
  * and write under it.
  *
  * {{{
  *   v00000.json ...            snapshot entries, one per version
  *   _head                      best-effort hint: some committed version
  *   refs/<name>.json           tags and branches
  *   staged/<id>.json           staged (write-audit-publish) appends
  *   stats|pstats|pcolstats/<uuid>.json, blooms/<uuid>__<key>.bloom
  *                              per-data-dir sidecars, write-once
  *   scratch/                   merged-delete scratch (Spark-written)
  *   _tmp/                      temps of writes in flight
  * }}}
  *
  * Every write lands content-complete: its bytes go to a uniquely named
  * temp under `_tmp/` and are then published in one step ([[publish]],
  * [[replace]]), so a reader never sees an empty or half-written file —
  * Iceberg's `HadoopTableOperations` temp-then-rename. An empty or
  * corrupt snapshot entry is therefore a real fault and fails the first
  * read. Temp names match no reader's filter, and [[sweep]] removes the
  * temps a dead writer left. */
private[table] final class LogStore(root: Path, conf: Configuration) {
  import LogStore._

  private def fs: FileSystem = root.getFileSystem(conf)
  private def path(rel: String) = new Path(root, rel)
  private def slot(v: Int) = f"v$v%05d.json"
  private def ref(name: String) = s"refs/$name.json"
  private def stagedMarker(id: String) = s"staged/$id.json"

  private def read(rel: String): Array[Byte] = {
    val in = fs.open(path(rel))
    try in.readAllBytes() finally in.close()
  }

  /** Files and dirs directly under `sub`; empty when it does not exist. */
  private def list(sub: String): Seq[FileStatus] = {
    val f = fs
    if (!f.exists(path(sub))) Seq.empty else f.listStatus(path(sub)).toSeq
  }

  def exists: Boolean = fs.exists(root)

  // ---- writes ------------------------------------------------------------

  /** Writes `bytes` to a fresh temp, hands it to `put`, and deletes
    * whatever of it `put` left behind. */
  private def viaTemp[A](f: FileSystem, rel: String, bytes: Array[Byte])(put: Path => A): A = {
    val tmp = path(s"_tmp/${new Path(rel).getName}.${UUID.randomUUID()}.tmp")
    try {
      val os = f.create(tmp, true)
      try os.write(bytes) finally os.close()
      put(tmp)
    } finally f.delete(tmp, false)
  }

  /** Publishes `bytes` at `rel` unless something is already there; false
    * when another writer got there first. Content-complete: the temp is
    * fully written before it becomes visible. On `file:` the publish is
    * `Files.createLink` — a kernel-atomic, no-overwrite link of the temp
    * (Hadoop's `create(p, false)` is check-then-act there, and two racers
    * would both "win"). Elsewhere it is `rename`, which fails atomically
    * on an existing target on HDFS; where rename can overwrite (an
    * object store), the `exists` check in front is the same
    * check-then-act `create(p, false)` gives such stores. */
  def publish(rel: String, bytes: Array[Byte]): Boolean = {
    val f = fs
    val dst = path(rel)
    viaTemp(f, rel, bytes) { tmp =>
      if ("file".equalsIgnoreCase(f.getUri.getScheme)) {
        val d = local(f, dst)
        def link(): Boolean =
          try { Files.createLink(d, local(f, tmp)); true }
          catch { case _: FileAlreadyExistsException => false }
        try link() catch {
          case _: NoSuchFileException => Files.createDirectories(d.getParent); link()
        }
      } else if (f.exists(dst)) false
      else {
        f.mkdirs(dst.getParent)
        f.rename(tmp, dst) ||
          (if (f.exists(dst)) false else throw new java.io.IOException(s"could not publish $dst"))
      }
    }
  }

  /** Replaces `rel` with `bytes` in one step: readers see the old or the
    * new content, never a missing file. */
  def replace(rel: String, bytes: Array[Byte]): Unit = {
    val f = fs
    viaTemp(f, rel, bytes)(tmp => replaceAtomic(f, tmp, path(rel)))
  }

  /** Atomic replace of `dst` with fully-written `tmp`. FileSystem.rename
    * cannot overwrite, so the naive delete-then-rename leaves a crash
    * window where `dst` is MISSING (a vanished log entry or ref);
    * FileContext.rename(OVERWRITE) replaces in one step on every Hadoop
    * filesystem that supports it, falling back to delete+rename only
    * where it does not. A filesystem with NO AbstractFileSystem binding
    * (getFileContext throws UnsupportedFileSystemException, an
    * IOException) must also fall through — the crash window is better
    * than setRef/expireSnapshots hard-failing on such stores.
    *
    * The FileContext binding may be a raw (checksum-free) filesystem
    * under a checksummed `FileSystem` (`GraftLocalFileSystem.sessionConfs`
    * pairs them that way): its rename leaves `dst`'s `.crc` sibling
    * describing the OLD bytes, and every later checksummed read of `dst`
    * fails. So a stale `dst` checksum is dropped first and a `tmp`
    * checksum the rename left behind afterwards; `dst` then reads
    * unverified, like every published log file. */
  private def replaceAtomic(f: FileSystem, tmp: Path, dst: Path): Unit = {
    def dropCrc(p: Path): Unit = f match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem =>
        c.getRawFileSystem.delete(c.getChecksumFile(p), false)
      case _ =>
    }
    dropCrc(dst)
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
      fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException
           | _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        f.delete(dst, false); f.rename(tmp, dst)
    }
    dropCrc(tmp)
  }

  // ---- snapshot entries --------------------------------------------------

  /** Latest committed version. Normally O(1): the `_head` hint names a
    * known-committed version and the tail is found by probing forward
    * slot-by-slot — entries are never removed, so `exists(v+1)` is exact.
    * Per-epoch streaming commits make table loads hot; a full directory
    * listing of an O(100k)-snapshot log on every load would dominate. A
    * missing/corrupt/ahead-of-reality hint falls back to the listing. */
  def latest: Int = {
    val f = fs
    val hint =
      try new String(read("_head"), UTF_8).trim.toInt
      catch { case _: Exception => -1 }
    if (hint >= 0 && f.exists(path(slot(hint)))) {
      var v = hint
      while (f.exists(path(slot(v + 1)))) v += 1
      v
    } else {
      f.listStatus(root).map(_.getPath.getName).filter(_.matches("v\\d+\\.json"))
        .map(n => n.substring(1, n.length - 5).toInt).max
    }
  }

  /** Best-effort head hint; readers validate by probing, so a torn or
    * stale write is harmless and errors are swallowed. */
  def writeHead(v: Int): Unit =
    try {
      val os = fs.create(path("_head"), true)
      try os.write(v.toString.getBytes(UTF_8)) finally os.close()
    } catch { case _: Exception => }

  def entry(v: Int): Snapshot = parsedEntry(v)._2

  /** Entry `v` as JSON and as a snapshot. */
  private def parsedEntry(v: Int): (JsonNode, Snapshot) = {
    val bytes = read(slot(v))
    try {
      val n = mapper.readTree(bytes)
      (n, GraftTable.readSnapshot(n))
    } catch { case e: Exception =>
      throw new IllegalStateException(s"unreadable snapshot entry ${path(slot(v))}", e)
    }
  }

  def entryMtime(v: Int): Long = fs.getFileStatus(path(slot(v))).getModificationTime
  def publishEntry(v: Int, s: Snapshot): Boolean =
    publish(slot(v), GraftTable.writeSnapshot(s).getBytes(UTF_8))

  // ---- expiry -------------------------------------------------------------

  /** Replaces entry `v` with its expiry `marker`, which also records the
    * expiry's watermark: `kept`, the versions below its cutoff that a ref
    * kept. Written compact: nobody reads a marker by eye. */
  def expireEntry(v: Int, marker: Snapshot, kept: Seq[Int]): Unit = {
    val n = mapper.readTree(GraftTable.writeSnapshot(marker)).asInstanceOf[ObjectNode]
    val k = n.putArray(KeptField)
    kept.foreach(k.add(_))
    replace(slot(v), mapper.writeValueAsBytes(n))
  }

  /** The entries below `cutoff` that expiry has not marked, except the
    * `pinned` versions, oldest first — the order [[expireEntry]] must
    * mark them in. Reads O(newly expired) entries: the walk goes down
    * from `cutoff - 1` and stops at the newest marker. Markers are
    * written oldest first, so every entry below that one was marked
    * then, except the versions its watermark says a ref kept; of those,
    * the ones no ref pins any more are read. A marker without a
    * watermark (written before expiry kept one) sends the walk on down. */
  def unexpired(cutoff: Int, pinned: Set[Int]): Seq[(Int, Snapshot)] = {
    val found = Seq.newBuilder[(Int, Snapshot)]
    var v = cutoff - 1
    while (v >= 0) {
      if (!pinned(v)) {
        val (n, s) = parsedEntry(v)
        if (s.op != "expired") found += v -> s
        else if (n.has(KeptField)) {
          n.get(KeptField).forEach { k =>
            val kv = k.asInt()
            if (kv < v && !pinned(kv)) {
              val ks = entry(kv)
              if (ks.op != "expired") found += kv -> ks
            }
          }
          v = 0
        }
      }
      v -= 1
    }
    found.result().sortBy(_._1)
  }

  // ---- refs and staged markers ------------------------------------------

  private def refBytes(r: RefInfo) =
    s"""{"name":"${r.name}","type":"${r.refType}","version":${r.version}}""".getBytes(UTF_8)

  def refs: Seq[RefInfo] =
    list("refs").filter(st => st.isFile && st.getPath.getName.endsWith(".json")).map { st =>
      val n = mapper.readTree(read(s"refs/${st.getPath.getName}"))
      RefInfo(n.get("name").asText(), n.get("type").asText(), n.get("version").asInt())
    }.sortBy(_.name)

  def hasRef(name: String): Boolean = fs.exists(path(ref(name)))
  def publishRef(r: RefInfo): Boolean = publish(ref(r.name), refBytes(r))
  def replaceRef(r: RefInfo): Unit = replace(ref(r.name), refBytes(r))
  def dropRef(name: String): Unit = fs.delete(path(ref(name)), false)

  def stagedIds: Seq[String] =
    list("staged").map(_.getPath.getName).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json")).sorted

  /** (data dir, rows, version staged at) of a staged append. */
  def staged(id: String): (String, Long, Int) = {
    require(fs.exists(path(stagedMarker(id))), s"no staged append: $id")
    val n = mapper.readTree(read(stagedMarker(id)))
    (n.get("path").asText(), n.get("rows").asLong(), n.get("stagedAt").asInt())
  }

  def publishStaged(id: String, dataDir: String, rows: Long, stagedAt: Int): Boolean =
    publish(stagedMarker(id),
      s"""{"path":"$dataDir","rows":$rows,"stagedAt":$stagedAt}""".getBytes(UTF_8))
  def dropStaged(id: String): Unit = fs.delete(path(stagedMarker(id)), false)

  // ---- per-data-dir sidecars (kind = stats, pstats or pcolstats) ---------

  def hasSidecars(kind: String): Boolean = fs.exists(path(kind))
  def hasSidecar(kind: String, uuid: String): Boolean = fs.exists(path(s"$kind/$uuid.json"))
  def publishSidecar(kind: String, uuid: String, bytes: Array[Byte]): Boolean =
    publish(s"$kind/$uuid.json", bytes)

  /** A parsed JSON sidecar; None when it is missing or unreadable.
    * Sidecars are write-once per dir uuid, so a parsed positive is cached
    * for the session; misses are not (`captureStats` may write it later).
    * This bounds the O(dirs) metadata reads the fold and pruning paths
    * would otherwise repeat on every analyzed query: at 100 TB, thousands
    * of object-store GETs per dashboard aggregate become hash lookups. */
  def sidecar(kind: String, uuid: String): Option[JsonNode] = {
    val f = fs
    val p = path(s"$kind/$uuid.json")
    val key = f.makeQualified(p).toString
    Option(sidecarCache.get(key)).orElse {
      try {
        val node = mapper.readTree(read(s"$kind/$uuid.json"))
        if (sidecarCache.size > 65536) sidecarCache.clear() // crude bound
        sidecarCache.put(key, node)
        Some(node)
      } catch { case _: Exception => None }
    }
  }

  def publishBloom(uuid: String, key: String, bytes: Array[Byte]): Boolean =
    publish(s"blooms/${uuid}__$key.bloom", bytes)

  /** The bloom of column `key` over data dir `uuid` (None: no bloom or
    * an unreadable one — never skip on it), from one listing of the bloom
    * sidecars; None when there is none. */
  def blooms: Option[(String, String) => Option[BloomFilter]] = {
    val present = list("blooms").map(_.getPath.getName).toSet
    if (present.isEmpty) return None
    val cache = scala.collection.mutable.Map.empty[String, Option[BloomFilter]]
    Some { (uuid, key) =>
      val name = s"${uuid}__$key.bloom"
      if (!present.contains(name)) None
      else cache.getOrElseUpdate(name,
        try {
          val in = fs.open(path(s"blooms/$name"))
          try Some(BloomFilter.readFrom(in)) finally in.close()
        } catch { case _: Exception => None })
    }
  }

  // ---- garbage ------------------------------------------------------------

  /** Deletes what was last modified before `cutoff` among: the sidecars of
    * data dirs whose uuid is not in `live`, merged-delete scratch dirs
    * and temps. Returns their paths relative to the table root. */
  def sweep(cutoff: Long, live: Set[String]): Seq[String] = {
    val f = fs
    def old(sub: String)(doomed: FileStatus => Boolean): Seq[String] =
      list(sub).filter(st => st.getModificationTime < cutoff && doomed(st)).map { st =>
        f.delete(st.getPath, true); s"_graft_log/$sub/${st.getPath.getName}"
      }
    // a sidecar of a LIVE dir is never touched (uuid membership, not age);
    // the grace window spares an in-flight writer, which writes its
    // sidecars BEFORE its commit
    val sidecars = Seq("blooms", "stats", "pstats", "pcolstats").flatMap { kind =>
      old(kind) { st =>
        val n = st.getPath.getName
        st.isFile && !live.contains(
          if (kind == "blooms") n.takeWhile(_ != '_') else n.stripSuffix(".json"))
      }
    }
    sidecars ++ old("scratch")(_.isDirectory) ++ old("_tmp")(_.isFile)
  }
}

private[table] object LogStore {
  private val mapper = new ObjectMapper()
  /** An expiry marker's watermark field (see [[LogStore.expireEntry]]). */
  private val KeptField = "expiryKeptBelowCutoff"

  def apply(spark: SparkSession, tableDir: String): LogStore =
    new LogStore(new Path(tableDir, "_graft_log"), spark.sparkContext.hadoopConfiguration)

  private def local(f: FileSystem, p: Path): java.nio.file.Path =
    new java.io.File(f.makeQualified(p).toUri.getPath).toPath

  private val sidecarCache = new java.util.concurrent.ConcurrentHashMap[String, JsonNode]()
}
