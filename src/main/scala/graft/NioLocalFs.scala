package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, FileSystems, NoSuchFileException, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's local filesystem without child processes.
  *
  * Without libhadoop (the Spark distribution does not ship it, nor
  * does the container image) `RawLocalFileSystem` shells out for
  * three kinds of call:
  *  - `setPermission` runs `chmod`, and `create` and `mkdirs` call it
  *    for every file they make (a parquet part, its `.crc`, a commit
  *    directory, a checkpoint-log temp file);
  *  - a status's permission, owner and group are read by `ls -ld`,
  *    on first use;
  *  - `getFileLinkStatus` and `getLinkTarget` run `readlink`, and
  *    FileContext's `rename` asks for the link status of source,
  *    destination and parent.
  * At one micro-batch of [[Serve.pipeline]] that came to about 100
  * forks: about 20 in each checkpoint-log commit, about 19 in each
  * parquet write.
  *
  * [[NioRawLocalFileSystem]] answers those calls from
  * `java.nio.file`: its `unix` attribute view reads and sets the
  * whole mode word (`chmod`, `stat`), so the sticky bit round-trips
  * as it does through the shell; `readSymbolicLink` is `readlink`.
  * The results match Hadoop's field for field, quirks included: a
  * file status follows links (Hadoop runs `ls -ld` on the canonical
  * path), and the link status looks the link up at `path.toString`,
  * so a qualified `file:` path never reads as a link. Setuid and
  * setgid have no place in an `FsPermission` either way. Owner and
  * group names are resolved once per uid and gid.
  *
  * The FileSystem face is [[NioLocalFileSystem]] (checksums over the
  * raw class, as `LocalFileSystem`); the FileContext face is
  * [[NioLocalFs]] over [[NioRawLocalFs]], built as Hadoop's
  * `LocalFs` over `RawLocalFs`. [[NioLocalFs.install]] puts both on
  * one session.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  private var blockSize = 0L

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    blockSize = getDefaultBlockSize(new Path(uri))
  }

  override def setPermission(p: Path, permission: FsPermission): Unit =
    notFound(p) {
      Files.setAttribute(pathToFile(p).toPath, "unix:mode",
        Int.box(permission.toShort & 0x3ff))
    }

  override def getFileStatus(f: Path): FileStatus = {
    val a = attrs(f, "mode,uid,gid,size,lastModifiedTime,lastAccessTime")
    new FileStatus(long(a, "size"), (int(a, "mode") & SIfMt) == SIfDir, 1,
      blockSize, time(a, "lastModifiedTime"), time(a, "lastAccessTime"),
      new FsPermission((int(a, "mode") & 0x3ff).toShort),
      name(a, "uid", "owner", f), name(a, "gid", "group", f),
      new Path(pathToFile(f).getPath)
        .makeQualified(getUri, getWorkingDirectory))
  }

  /** Hadoop's file case builds a status whose permission would be
    * read by `ls`; directories already list through [[getFileStatus]]. */
  override def listStatus(f: Path): Array[FileStatus] = {
    val st = getFileStatus(f)
    if (st.isDirectory) super.listStatus(f) else Array(st)
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink) st.setSymlink(
      FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** `RawLocalFileSystem`'s link status: the followed status with the
    * link's target (unqualified) and the path as given. */
  private def linkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(Paths.get(f.toString)).toString
      catch { case _: java.io.IOException |
        _: java.nio.file.InvalidPathException |
        _: UnsupportedOperationException => "" }
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication,
        st.getBlockSize, st.getModificationTime, st.getAccessTime,
        st.getPermission, st.getOwner, st.getGroup, new Path(target), f)
    } catch {
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault,
          "", "", new Path(target), f)
    }
  }

  private def attrs(f: Path, names: String): java.util.Map[String, AnyRef] =
    notFound(f) { Files.readAttributes(pathToFile(f).toPath, s"unix:$names") }

  /** Owner or group name for the id in `a`; the first sight of an id
    * reads the name through the file itself. */
  private def name(a: java.util.Map[String, AnyRef], id: String,
      attr: String, f: Path): String =
    names.computeIfAbsent(s"$id:${a.get(id)}", _ =>
      attrs(f, attr).get(attr)
        .asInstanceOf[java.security.Principal].getName)
}

private object NioRawLocalFileSystem {
  private val SIfMt = 0xf000
  private val SIfDir = 0x4000

  private val names = new ConcurrentHashMap[String, String]

  private def int(a: java.util.Map[String, AnyRef], k: String): Int =
    a.get(k).asInstanceOf[Integer].intValue
  private def long(a: java.util.Map[String, AnyRef], k: String): Long =
    a.get(k).asInstanceOf[java.lang.Long].longValue
  private def time(a: java.util.Map[String, AnyRef], k: String): Long =
    a.get(k).asInstanceOf[FileTime].toMillis

  /** Hadoop's local calls report a missing path as
    * `FileNotFoundException`; NIO's is a `NoSuchFileException`. */
  private def notFound[T](f: Path)(body: => T): T =
    try body catch {
      case _: NoSuchFileException =>
        throw new FileNotFoundException(s"File $f does not exist")
    }
}

/** FileSystem face: [[NioRawLocalFileSystem]] under Hadoop's checksum
  * layer, as `LocalFileSystem` is over `RawLocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** FileContext face of [[NioRawLocalFileSystem]], with `RawLocalFs`'s
  * overrides. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** FileContext face with checksums, as Hadoop's `LocalFs`; like it,
  * it serves `file:///` whatever URI it is created for. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))

object NioLocalFs {

  /** Resolve `file:` to the fork-free classes in `spark`'s Hadoop
    * conf (`sessionState.newHadoopConf()`, which every read, write
    * and streaming checkpoint log of the session and the streams it
    * starts builds on). Other sessions of the SparkContext keep the
    * classpath's `file` classes. The FileSystem cache is keyed by
    * scheme, not by class, and already holds the SparkContext's
    * `file` instance, so this session's lookups bypass it. A JVM
    * without the `unix` attribute view keeps the classpath's classes.
    */
  def install(spark: SparkSession): Unit =
    if (FileSystems.getDefault.supportedFileAttributeViews.contains("unix")) {
      spark.conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
      spark.conf.set("fs.AbstractFileSystem.file.impl",
        classOf[NioLocalFs].getName)
      spark.conf.set("fs.file.impl.disable.cache", "true")
    }
}
