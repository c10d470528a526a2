package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus, FileSystem, FsConstants, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioRawLocalFileSystem]] answers every call it overrides as
  * Hadoop's `RawLocalFileSystem` does (which, without libhadoop,
  * answers them through `chmod`, `ls` and `readlink` child
  * processes), and its FileContext face keeps FileContext's rename
  * contract, which Spark's checkpoint logs rely on.
  */
class LocalFsSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private def init[T <: FileSystem](fs: T): T = {
    fs.initialize(URI.create("file:///"), conf); fs
  }
  private val hadoop = init(new RawLocalFileSystem)
  private val nio = init(new NioRawLocalFileSystem)

  private def tmp(): java.nio.file.Path =
    Files.createTempDirectory("graft-localfs")

  /** Every field of a status, the symlink target when there is one. */
  private def fields(st: FileStatus): Seq[Any] =
    Seq(st.getPath, st.getLen, st.isDirectory, st.isSymlink,
      st.getReplication, st.getBlockSize, st.getModificationTime,
      st.getAccessTime, st.getPermission, st.getOwner, st.getGroup) ++
      (if (st.isSymlink) Seq(st.getSymlink) else Nil)

  test("chmod: file and directory permissions read back as Hadoop's") {
    val root = tmp()
    for ((fs, tag) <- Seq(hadoop -> "hadoop", nio -> "nio")) {
      val f = root.resolve(s"$tag-file"); Files.write(f, Array[Byte](1))
      val d = root.resolve(s"$tag-dir"); Files.createDirectory(d)
      for ((p, perm) <- Seq(f -> "rw-r-----", f -> "rwxr-x--x",
          d -> "rwxr-x---", d -> "rwx------")) {
        fs.setPermission(new Path(p.toString), FsPermission.valueOf("-" + perm))
        assert(PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p)) == perm, s"$tag $p")
      }
    }
    // the sticky bit round-trips through both
    for ((fs, tag) <- Seq(hadoop -> "hadoop", nio -> "nio")) {
      val d = new Path(root.resolve(s"$tag-dir").toString)
      fs.setPermission(d, new FsPermission(Integer.parseInt("1770", 8).toShort))
      assert(nio.getFileStatus(d).getPermission.getStickyBit, tag)
      assert(hadoop.getFileStatus(d).getPermission ==
        nio.getFileStatus(d).getPermission, tag)
    }
  }

  test("file and link status of a file, a directory and a symlink match Hadoop's") {
    val root = tmp()
    val file = root.resolve("file"); Files.write(file, "abc".getBytes)
    val dir = root.resolve("dir"); Files.createDirectory(dir)
    val link = root.resolve("link"); Files.createSymbolicLink(link, file)
    val dirLink = root.resolve("dirlink")
    Files.createSymbolicLink(dirLink, Paths.get("dir"))
    Files.setPosixFilePermissions(file,
      PosixFilePermissions.fromString("rw-r-----"))
    for (p <- Seq(file, dir, link, dirLink);
        path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(fields(nio.getFileStatus(path)) ==
        fields(hadoop.getFileStatus(path)), s"getFileStatus $path")
      assert(fields(nio.getFileLinkStatus(path)) ==
        fields(hadoop.getFileLinkStatus(path)), s"getFileLinkStatus $path")
    }
    val plain = new Path(link.toString)
    assert(nio.getFileLinkStatus(plain).isSymlink)
    assert(nio.getLinkTarget(plain) == hadoop.getLinkTarget(plain))
    // a directory lists through getFileStatus; a file lists as itself
    assert(nio.listStatus(new Path(root.toString)).map(fields).toSet ==
      hadoop.listStatus(new Path(root.toString)).map(fields).toSet)
    assert(nio.listStatus(new Path(file.toString)).map(fields).toSeq ==
      hadoop.listStatus(new Path(file.toString)).map(fields).toSeq)
  }

  test("a missing path is FileNotFoundException, a dangling link a link") {
    val root = tmp()
    val missing = new Path(root.resolve("nope").toString)
    for (fs <- Seq(hadoop, nio)) {
      intercept[FileNotFoundException](fs.getFileStatus(missing))
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fs.listStatus(missing))
    }
    val dangling = root.resolve("dangling")
    Files.createSymbolicLink(dangling, root.resolve("gone"))
    val p = new Path(dangling.toString)
    intercept[FileNotFoundException](nio.getFileStatus(p))
    assert(fields(nio.getFileLinkStatus(p)) ==
      fields(hadoop.getFileLinkStatus(p)))
  }

  test("FileContext rename: NONE refuses an existing destination, OVERWRITE replaces it") {
    val fcConf = new Configuration()
    fcConf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    val fc = FileContext.getFileContext(FsConstants.LOCAL_FS_URI, fcConf)
    val root = tmp()
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(
        org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      try out.write(s.getBytes) finally out.close()
    }
    def read(p: Path): String = {
      val in = fc.open(p)
      try new String(in.readAllBytes()) finally in.close()
    }
    val src = new Path(root.resolve("src").toUri)
    val dst = new Path(root.resolve("dst").toUri)
    write(src, "new"); write(dst, "old")
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    assert(read(dst) == "old" && fc.util.exists(src))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(read(dst) == "new" && !fc.util.exists(src))
    // the checksum file moved with the data
    assert(!Files.exists(root.resolve(".src.crc")) &&
      Files.exists(root.resolve(".dst.crc")))
    // a fresh destination renames as before
    val next = new Path(root.resolve("next").toUri)
    fc.rename(dst, next)
    assert(read(next) == "new")
  }
}
