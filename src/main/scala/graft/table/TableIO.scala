package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import java.nio.charset.StandardCharsets

/** Hadoop `FileSystem` IO for the table layer.
  *
  * Every metadata/data-file operation routes through this object, so
  * the SAME table code runs on local disk (`file:///`), HDFS, or any
  * Hadoop-compatible object store — the reference's table layer is
  * likewise storage-abstracted (iceberg-rust/src/catalog/bucket.rs:
  * memory/S3 object_store builders). java.nio would bind the format
  * to a single node's disk, which no 1000-executor cluster has.
  *
  * Commit atomicity: `renameNoReplace` is the optimistic-concurrency
  * commit point. On HDFS, rename-without-overwrite is atomic. On a
  * plain local FS across processes (and on S3, where rename is
  * copy+delete), the exists-check+rename window is not atomic — the
  * same caveat Iceberg's HadoopCatalog documents; production
  * multi-writer setups should front commits with a shared catalog
  * (see graft.table.Catalog / the JDBC-style CAS there).
  */
object TableIO {

  /** Cached per active session: newHadoopConf() CLONES the session
    * conf (XML-resource scale work) and TableIO calls it per file op —
    * a partitioned commit renames hundreds of files, so the clone was
    * a visible per-file tax. Caveat: spark.hadoop.* keys changed
    * MID-session are not picked up until the session changes — they
    * are builder-time configuration in every graft entry point. */
  @volatile private var cachedConf: (AnyRef, Configuration) = null
  private lazy val bareConf = new Configuration()

  /** getActiveSession is a THREAD-LOCAL: the REST server's handler
    * pool and streaming/maintenance threads see None there even while
    * a session is live, which silently dropped them to a fresh
    * `new Configuration()` per call and Hadoop's RawLocalFileSystem —
    * whose getFileStatus forks `ls` for permission info (~55 ms per
    * namespaces listing, measured on a loopback REST catalog). Falling back to
    * the GLOBAL default session routes every thread to the session's
    * conf (and FastLocalFileSystem when configured); the bare-JVM
    * fallback conf is cached — Configuration() re-parses XML resources
    * per construction. */
  def conf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession) match {
      case Some(s) =>
        val c = cachedConf
        if (c != null && (c._1 eq s)) c._2
        else {
          val nc = s.sessionState.newHadoopConf()
          cachedConf = (s, nc)
          nc
        }
      case None => bareConf
    }

  /** Broadcast of the session Hadoop conf for distributed metadata
    * jobs (footer-stat collection), cached per session: serializing a
    * full session conf is hundreds of KB of driver work — paying it
    * once per INGEST (one broadcast per commit) measurably taxed the
    * partitioned-commit keys, while one broadcast per SESSION is
    * free. Same staleness caveat as `conf` above. */
  @volatile private var cachedConfB:
      (AnyRef, org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.SerializableConfiguration]) = null

  def confBroadcast(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.SerializableConfiguration] = {
    val c = cachedConfB
    if (c != null && (c._1 eq spark)) c._2
    else {
      val b = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf()))
      cachedConfB = (spark, b)
      b
    }
  }

  def path(s: String): HPath = new HPath(s)
  def path(parent: String, child: String): HPath = new HPath(parent, child)

  def fs(p: HPath): FileSystem = p.getFileSystem(conf)

  def exists(p: HPath): Boolean = fs(p).exists(p)

  def mkdirs(p: HPath): Unit = fs(p).mkdirs(p)

  def readString(p: HPath): String = {
    val in = fs(p).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  def writeString(p: HPath, s: String, overwrite: Boolean = true): Unit = {
    val out = fs(p).create(p, overwrite)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Plain move (staged-file ingest). On object stores this is a
    * server-side copy; data files move once, at commit. */
  def rename(src: HPath, dst: HPath): Unit = {
    val f = fs(src)
    f.mkdirs(dst.getParent)
    if (!f.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")
  }

  /** Atomic rename-with-replace (FileContext honors OVERWRITE where
    * the FS supports it — POSIX rename on local, atomic on HDFS). */
  def renameOverwrite(src: HPath, dst: HPath): Unit = {
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs(src).getUri, conf)
    fc.rename(src, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private val commitLock = new Object

  /** Rename that FAILS (returns false) when the destination exists —
    * the metadata-version CAS. In-JVM races are excluded by the lock;
    * cross-process atomicity is the filesystem's rename contract. */
  def renameNoReplace(src: HPath, dst: HPath): Boolean = commitLock.synchronized {
    val f = fs(src)
    if (f.exists(dst)) { f.delete(src, false); false }
    else f.rename(src, dst)
  }

  def delete(p: HPath, recursive: Boolean = false): Boolean =
    fs(p).delete(p, recursive)

  def size(p: HPath): Long = fs(p).getFileStatus(p).getLen

  def mtime(p: HPath): Long = fs(p).getFileStatus(p).getModificationTime

  /** All regular files under `p`, recursively: (path, size, mtimeMs).
    * One listFiles call — on object stores this is a flat listing, not
    * a per-directory walk. */
  def listFilesRecursive(p: HPath): Seq[(HPath, Long, Long)] = {
    val f = fs(p)
    if (!f.exists(p)) return Seq.empty
    // Local-FS fast path: Hadoop's LocalFileSystem materializes each
    // LocatedFileStatus permission by exec'ing `ls` per file (~5 ms
    // each) — a recursive NIO walk reads the same (path, size, mtime)
    // three orders of magnitude faster. Remote schemes keep the flat
    // listFiles listing.
    val scheme = Option(p.toUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      val root = java.nio.file.Paths.get(p.toUri.getPath)
      val out = scala.collection.mutable.ArrayBuffer[(HPath, Long, Long)]()
      java.nio.file.Files.walkFileTree(root, new java.nio.file.SimpleFileVisitor[java.nio.file.Path] {
        override def visitFile(file: java.nio.file.Path,
            attrs: java.nio.file.attribute.BasicFileAttributes): java.nio.file.FileVisitResult = {
          if (attrs.isRegularFile && !file.getFileName.toString.startsWith("."))
            out += ((new HPath("file://" + file.toAbsolutePath.toString),
              attrs.size(), attrs.lastModifiedTime().toMillis))
          java.nio.file.FileVisitResult.CONTINUE
        }
      })
      return out.toSeq
    }
    val it = f.listFiles(p, true)
    val buf = scala.collection.mutable.ArrayBuffer[(HPath, Long, Long)]()
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile)
        buf += ((st.getPath, st.getLen, st.getModificationTime))
    }
    buf.toSeq
  }

  /** Immediate children of a directory (empty if it doesn't exist). */
  def listDir(p: HPath): Seq[org.apache.hadoop.fs.FileStatus] = {
    val f = fs(p)
    if (!f.exists(p)) Seq.empty else f.listStatus(p).toSeq
  }

  def isDirectory(p: HPath): Boolean = {
    val f = fs(p)
    f.exists(p) && f.getFileStatus(p).isDirectory
  }

  /** Child path relative to `base`, as a slash string (partition-dir
    * structure survives the move out of staging). */
  def relativize(base: HPath, child: HPath): String = {
    val f = fs(base)
    val b = f.makeQualified(base).toUri.getPath.stripSuffix("/") + "/"
    val c = f.makeQualified(child).toUri.getPath
    require(c.startsWith(b), s"$child is not under $base")
    c.stripPrefix(b)
  }

  /** Fully-qualified URI string for a path (what Spark's readers and
    * PartitionedFile want). */
  def qualified(p: HPath): String =
    fs(p).makeQualified(p).toUri.toString

  /** Map `xs` on a bounded driver thread pool — for per-file metadata
    * operations (renames, footer reads) whose latency is per-RPC, not
    * per-byte. */
  def parallelOnDriver[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.size <= 4) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, xs.size))
      try {
        import scala.jdk.CollectionConverters._
        val tasks = xs.map(x => new java.util.concurrent.Callable[B] {
          override def call(): B = f(x)
        })
        pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
      } finally pool.shutdown()
    }
}

/** Hive-style %XX escaping for partition-dir values (compatible with
  * what Spark's own partitionBy writes for special characters). */
object PathCodec {
  private def unsafe(c: Char): Boolean =
    !(c.isLetterOrDigit && c < 128) && c != '_' && c != '.' && c != '-'

  def escape(s: String): String = {
    val b = new StringBuilder
    s.getBytes("UTF-8").foreach { byte =>
      val c = (byte & 0xff).toChar
      if (unsafe(c)) b.append(f"%%${byte & 0xff}%02X") else b.append(c)
    }
    b.toString
  }

  def unescape(s: String): String = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
          i += 3
        } catch {
          case _: NumberFormatException => out.write(c.toInt); i += 1
        }
      } else { out.write(c.toInt); i += 1 }
    }
    new String(out.toByteArray, "UTF-8")
  }
}

