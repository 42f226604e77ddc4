package graft.index

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Index-metadata IO (`_stats.json`, `_manifest.jsonl`,
  * `_segments.json`, existence probes, cleanup, and the one reader and
  * writer of the flat JSON meta files) that works on any Hadoop
  * filesystem, not just local paths.
  *
  * Scheme dispatch, deliberately:
  *   - no scheme / `file:` → java.nio directly. This is the tested path
  *     (the whole suite runs on it) and keeps local semantics
  *     byte-identical — in particular manifest APPEND, which Hadoop's
  *     checksummed LocalFileSystem refuses (`append` throws), and true
  *     ATOMIC_MOVE for the commit files.
  *   - any other scheme (hdfs://, s3a://, …) → the scheme's Hadoop
  *     `FileSystem`; atomic replace via `FileContext.rename(OVERWRITE)`
  *     (atomic on HDFS — the index-commit requirement). On stores
  *     without atomic rename (S3) the replace is best-effort
  *     last-writer-wins, and the manifest append degrades to
  *     read-concat-rewrite; an object-store-native layout (per-shard
  *     marker objects) is the documented alternative, out of scope here.
  *
  * The parquet payloads (shards, doclens, vocab) already go through
  * Spark's Hadoop readers/writers and need nothing from this object.
  */
object MetaIO {

  private def isLocal(p: String): Boolean =
    p.indexOf("://") < 0 || p.startsWith("file://")
  // `file:` URIs appear in BOTH single-slash (hadoop Path.toString) and
  // triple-slash forms — parse via URI so "file:/tmp/x" resolves to
  // /tmp/x instead of a bogus relative "./file:/tmp/x"
  private def localPath(p: String) =
    if (p.startsWith("file:"))
      try Paths.get(java.net.URI.create(p))
      catch {
        // URI-illegal characters (spaces — legal in filenames, and
        // hadoop Path.toString does not re-encode them) or a non-empty
        // authority: fall back to plain prefix stripping
        case _: IllegalArgumentException | _: java.nio.file.FileSystemNotFoundException =>
          Paths.get(p.stripPrefix("file://").stripPrefix("file:"))
      }
    else Paths.get(p)

  private def conf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def hfs(p: String) = {
    val hp = new org.apache.hadoop.fs.Path(p)
    (hp.getFileSystem(conf), hp)
  }

  def exists(p: String): Boolean =
    if (isLocal(p)) Files.exists(localPath(p))
    else { val (fs, hp) = hfs(p); fs.exists(hp) }

  def mkdirs(p: String): Unit =
    if (isLocal(p)) { Files.createDirectories(localPath(p)); () }
    else { val (fs, hp) = hfs(p); fs.mkdirs(hp); () }

  def readBytes(p: String): Array[Byte] =
    if (isLocal(p)) Files.readAllBytes(localPath(p))
    else {
      val (fs, hp) = hfs(p)
      val in = fs.open(hp)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }

  def readString(p: String): String =
    new String(readBytes(p), StandardCharsets.UTF_8)

  /** Write `bytes` to `p` atomically: sibling tmp file + rename-replace.
    * Atomic on local (ATOMIC_MOVE) and HDFS (FileContext OVERWRITE).
    */
  def writeAtomic(p: String, bytes: Array[Byte]): Unit =
    if (isLocal(p)) {
      val tmp = localPath(p + ".tmp")
      Files.write(tmp, bytes)
      Files.move(tmp, localPath(p), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } else {
      val (fs, hp) = hfs(p)
      val tmp = new org.apache.hadoop.fs.Path(p + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(hp.toUri, conf)
        .rename(tmp, hp, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }

  /** Append raw bytes to `p` (creating it if absent). Local: O_APPEND.
    * Remote: FileSystem.append where supported (HDFS), else
    * read-concat-rewrite (object stores — small metadata files only).
    */
  def append(p: String, bytes: Array[Byte]): Unit =
    if (isLocal(p)) {
      Files.write(localPath(p), bytes,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      ()
    } else {
      val (fs, hp) = hfs(p)
      if (!fs.exists(hp)) {
        val out = fs.create(hp, false)
        try out.write(bytes) finally out.close()
      } else
        try {
          val out = fs.append(hp)
          try out.write(bytes) finally out.close()
        } catch {
          case _: UnsupportedOperationException =>
            writeAtomic(p, readBytes(p) ++ bytes)
        }
    }

  def deleteIfExists(p: String, recursive: Boolean = false): Unit =
    if (isLocal(p)) {
      if (recursive)
        org.apache.commons.io.FileUtils.deleteQuietly(localPath(p).toFile)
      else { Files.deleteIfExists(localPath(p)); () }
    } else {
      val (fs, hp) = hfs(p)
      if (fs.exists(hp)) fs.delete(hp, recursive)
      ()
    }

  /** Child entry NAMES of directory `p` (empty when absent). */
  def list(p: String): Seq[String] =
    if (isLocal(p)) {
      val lp = localPath(p)
      if (!Files.isDirectory(lp)) Seq.empty
      else {
        val s = Files.list(lp)
        try {
          val it = s.iterator()
          val out = Seq.newBuilder[String]
          while (it.hasNext) out += it.next().getFileName.toString
          out.result()
        } finally s.close()
      }
    } else {
      val (fs, hp) = hfs(p)
      if (!fs.exists(hp)) Seq.empty
      else fs.listStatus(hp).toSeq.map(_.getPath.getName)
    }

  /** Total bytes of regular files under directory `p`, skipping TOP-LEVEL
    * entries whose name matches `skipTop` — the segment-size measure for
    * tiered compaction, where a root-held base segment ("." ) must not
    * count its sibling segment/tombstone subdirectories. 0 when absent.
    */
  def dirBytes(p: String, skipTop: String => Boolean = _ => false): Long =
    if (isLocal(p)) {
      val lp = localPath(p)
      if (!Files.isDirectory(lp)) {
        if (Files.isRegularFile(lp)) Files.size(lp) else 0L
      } else {
        var total = 0L
        val s = Files.list(lp)
        try {
          val it = s.iterator()
          while (it.hasNext) {
            val child = it.next()
            if (!skipTop(child.getFileName.toString)) {
              if (Files.isRegularFile(child)) total += Files.size(child)
              else if (Files.isDirectory(child)) {
                val w = Files.walk(child)
                try {
                  val wi = w.iterator()
                  while (wi.hasNext) {
                    val f = wi.next()
                    if (Files.isRegularFile(f)) total += Files.size(f)
                  }
                } finally w.close()
              }
            }
          }
        } finally s.close()
        total
      }
    } else {
      val (fs, hp) = hfs(p)
      if (!fs.exists(hp)) 0L
      else if (fs.getFileStatus(hp).isFile) fs.getFileStatus(hp).getLen
      else fs.listStatus(hp).toSeq
        .filterNot(st => skipTop(st.getPath.getName))
        .map { st =>
          if (st.isFile) st.getLen
          else fs.getContentSummary(st.getPath).getLength
        }.sum
    }

  /** Version stamped by [[writeMeta]] into every metadata file. A reader
    * refuses a file stamped with any other version; files written before
    * the stamp existed carry none and read as this version.
    */
  val FormatVersion = 1L

  /** One parsed metadata file: its integer fields and its string arrays
    * (a segment list's `segs`, a tombstone meta's `gens`).
    */
  final case class Meta(path: String, longs: Map[String, Long],
      arrays: Map[String, Seq[String]]) {
    def apply(key: String): Long =
      longs.getOrElse(key, sys.error(s"malformed $path: no \"$key\""))
    def get(key: String): Option[Long] = longs.get(key)
    def strings(key: String): Seq[String] = arrays.getOrElse(key, Nil)
  }

  private val LongField = """"(\w+)"\s*:\s*(-?\d+)""".r
  private val ArrayField = """"(\w+)"\s*:\s*\[([^\]]*)\]""".r

  /** The one reader of the flat JSON metadata files (`_segments.json` and
    * its sidecar twins, the per-segment meta files, `_tombstones.json`,
    * `_keymap.json`). Throws on a `formatVersion` other than
    * [[FormatVersion]].
    */
  def readMeta(p: String): Meta = {
    val s = readString(p)
    val m = Meta(p,
      LongField.findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toLong).toMap,
      ArrayField.findAllMatchIn(s).map(m => m.group(1) ->
        m.group(2).split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty)).toMap)
    m.get("formatVersion").filter(_ != FormatVersion).foreach { v =>
      throw new IllegalStateException(
        s"$p has formatVersion $v; this build reads $FormatVersion — rebuild the index")
    }
    m
  }

  /** The one writer of those files: `formatVersion` first, then `longs`
    * and `arrays` in the given order, replaced atomically.
    */
  def writeMeta(p: String, longs: Seq[(String, Long)],
      arrays: Seq[(String, Seq[String])]): Unit = {
    val fields = (("formatVersion" -> FormatVersion) +: longs)
      .map { case (k, v) => s""""$k":$v""" } ++
      arrays.map { case (k, vs) =>
        vs.map("\"" + _ + "\"").mkString(s""""$k":[""", ",", "]") }
    writeAtomic(p, fields.mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))
  }

  def mtimeMillis(p: String): Long =
    if (isLocal(p)) Files.getLastModifiedTime(localPath(p)).toMillis
    else { val (fs, hp) = hfs(p); fs.getFileStatus(hp).getModificationTime }
}
