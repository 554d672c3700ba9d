package graft.io

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The session's `file:` scheme is the fork-free one on both Hadoop APIs,
  * and it keeps the stock semantics the checkpoint log and the index
  * writes rely on: link status, permissions, `.crc` sidecars and checksum
  * verification. */
class LocalFsSpec extends graft.SparkSpec {
  private def conf = spark.sessionState.newHadoopConf()
  private def fs: FileSystem = FileSystem.get(new URI("file:///"), conf)
  private def fc: FileContext = FileContext.getFileContext(conf)

  private def tmpDir(): JPath = Files.createTempDirectory("graft_localfs")
  private def hpath(p: JPath): Path = new Path(p.toString)

  test("the session's file: scheme resolves to the graft classes on both APIs") {
    val local = fs
    assert(local.isInstanceOf[GraftLocalFileSystem], local.getClass.getName)
    assert(local.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[GraftRawLocalFileSystem])
    val afs = fc.getDefaultFileSystem
    assert(afs.getUri.getScheme == "file")
    assert(afs.isInstanceOf[GraftLocalFs], afs.getClass.getName)
  }

  test("a regular file's link status is its status") {
    val f = Files.write(tmpDir().resolve("plain.txt"), "abc".getBytes("UTF-8"))
    def same(link: FileStatus, stat: FileStatus): Unit = {
      assert(!link.isSymlink)
      assert(link.getLen == stat.getLen && link.getLen == 3)
      assert(link.isDirectory == stat.isDirectory)
      assert(link.getModificationTime == stat.getModificationTime)
    }
    same(fs.getFileLinkStatus(hpath(f)), fs.getFileStatus(hpath(f)))
    same(fc.getFileLinkStatus(hpath(f)), fc.getFileStatus(hpath(f)))
    val d = f.getParent
    assert(fs.getFileLinkStatus(hpath(d)).isDirectory)
    assert(fc.util.exists(hpath(f)) && !fc.util.exists(hpath(d.resolve("absent"))))
  }

  test("a symlink's link status reports the link and its target") {
    val dir = tmpDir()
    val target = Files.write(dir.resolve("target.txt"), "abc".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(dir.resolve("link.txt"), target)
    val st = fs.getFileLinkStatus(hpath(link))
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getPath == target.toString)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling.txt"), dir.resolve("gone"))
    assert(fs.getFileLinkStatus(hpath(dangling)).isSymlink)
  }

  test("setPermission sets the POSIX mode, with and without a sticky bit") {
    val dir = tmpDir()
    val f = Files.write(dir.resolve("perm.txt"), "abc".getBytes("UTF-8"))
    fs.setPermission(hpath(f), new FsPermission(Integer.parseInt("640", 8).toShort))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) == "rw-r-----")
    fs.setPermission(hpath(dir), new FsPermission(Integer.parseInt("1750", 8).toShort))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(dir)) == "rwxr-x---")
  }

  test("a create writes its .crc on both APIs, and a flipped byte fails the read") {
    val dir = tmpDir()
    val payload = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    val viaFs = dir.resolve("via_fs.bin")
    val out = fs.create(hpath(viaFs))
    try out.write(payload) finally out.close()
    val viaFc = dir.resolve("via_fc.bin")
    val out2 = fc.create(hpath(viaFc), EnumSet.of(CreateFlag.CREATE))
    try out2.write(payload) finally out2.close()
    for (f <- Seq(viaFs, viaFc)) {
      assert(Files.exists(dir.resolve(s".${f.getFileName}.crc")), f)
      val raf = new RandomAccessFile(f.toFile, "rw")
      try { raf.seek(100); raf.write(payload(100) ^ 0xff) } finally raf.close()
      // Read through FileContext: the FileSystem API's reader answers a
      // checksum failure by moving the file into a `bad_files` dir at the
      // top of its device, outside this spec's temp dir. Only the
      // buffer-size `open` reaches `ChecksumFs` (`FilterFs.open(Path)`
      // skips it, in the stock `LocalFs` as here).
      val in = fc.open(hpath(f), 4096)
      try intercept[ChecksumException](in.readFully(new Array[Byte](payload.length)))
      finally in.close()
    }
  }
}
