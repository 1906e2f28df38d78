package graft.fs

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag, FileContext,
  FileStatus, FileSystem, FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** `graft.fs` must answer exactly what stock `RawLocalFileSystem` answers
  * (only faster), and must be what every `file://` lookup resolves to. */
class NioLocalFileSystemSpec extends SparkSpec {

  private val root = URI.create("file:///")
  private def init[F <: FileSystem](fs: F): F = { fs.initialize(root, new Configuration()); fs }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
      s.getPermission, s.getOwner, s.getGroup, s.getModificationTime, s.getAccessTime,
      s.getReplication, s.getBlockSize)

  private def attempt[T](t: => T): Either[String, T] =
    try Right(t) catch { case e: FileNotFoundException => Left(e.getClass.getName) }

  private def mode(p: String): Int = Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  /** a file, a directory, links to both, a dangling link, a missing path */
  private def fixture(): String = {
    val dir = tmpDir("graft_niofs")
    Files.write(Paths.get(dir, "f"), "0123456789".getBytes(StandardCharsets.UTF_8))
    Files.createDirectory(Paths.get(dir, "d"))
    Files.createSymbolicLink(Paths.get(dir, "lf"), Paths.get(dir, "f"))
    Files.createSymbolicLink(Paths.get(dir, "ld"), Paths.get("d"))
    Files.createSymbolicLink(Paths.get(dir, "dangling"), Paths.get("missing"))
    dir
  }

  test("wiring: file:// resolves to graft.fs through both Hadoop APIs and the session") {
    val fs = FileSystem.get(new URI("file:///"), new Configuration())
    assert(fs.isInstanceOf[NioLocalFileSystem], s"FileSystem API got ${fs.getClass}")
    assert(fs.asInstanceOf[NioLocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    val afs = AbstractFileSystem.get(new URI("file:///"), new Configuration())
    assert(afs.isInstanceOf[NioLocalFs], s"FileContext API got ${afs.getClass}")
    val session = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(root, session).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(root, session).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("getFileStatus / getFileLinkStatus / listStatus agree with stock") {
    val dir = fixture()
    for (name <- Seq("f", "d", "lf", "ld", "dangling", "missing"); scheme <- Seq("", "file:");
         p = new Path(s"$scheme$dir/$name")) {
      // statuses before listings: listing a directory moves its atime
      def statuses(fs: FileSystem) =
        (attempt(fields(fs.getFileStatus(p))), attempt(fields(fs.getFileLinkStatus(p))))
      def listing(fs: FileSystem) = attempt(fs.listStatus(p).map(fields).toSeq.sortBy(_._1.toString))
      assert(statuses(nio) == statuses(stock), p)
      assert(listing(nio) == listing(stock), p)
    }
    // and the fixture does exercise every case
    assert(nio.getFileLinkStatus(new Path(s"$dir/lf")).isSymlink)
    assert(nio.getFileLinkStatus(new Path(s"$dir/dangling")).getLen == 0)
    intercept[FileNotFoundException](nio.getFileStatus(new Path(s"$dir/missing")))
    intercept[FileNotFoundException](nio.getFileStatus(new Path(s"$dir/dangling")))
    // the dangling link is skipped in a listing, as stock skips it
    assert(nio.listStatus(new Path(dir)).length == 4)
  }

  test("create and mkdirs leave the same mode as stock under the default umask") {
    val dir = tmpDir("graft_niofs_mode")
    for (m <- Seq(0x1a4, 0x1ed, 0x1c0)) { // 0644, 0755, 0700
      val perm = new FsPermission(m.toShort)
      for ((tag, fs) <- Seq("s" -> stock, "n" -> nio)) {
        fs.create(new Path(s"$dir/${tag}f$m"), perm, true, 4096, 1.toShort, 1L << 20, null).close()
        assert(fs.mkdirs(new Path(s"$dir/${tag}d$m"), perm))
      }
      assert(mode(s"$dir/nf$m") == mode(s"$dir/sf$m"), f"file $m%o")
      assert(mode(s"$dir/nd$m") == mode(s"$dir/sd$m"), f"dir $m%o")
      val q = new Path(s"$dir/nf$m")
      assert(nio.getFileStatus(q).getPermission == stock.getFileStatus(q).getPermission)
    }
  }

  test("a permission with bits outside rwx (sticky) falls back to the stock chmod") {
    val dir = tmpDir("graft_niofs_sticky")
    val p = new Path(s"$dir/sticky")
    assert(nio.mkdirs(p))
    nio.setPermission(p, new FsPermission(0x3ed.toShort)) // 01755
    assert(mode(s"$dir/sticky") == 0x3ed)
    val n = nio.getFileStatus(p).getPermission
    assert(n.getStickyBit && n == stock.getFileStatus(p).getPermission)
  }

  test("checksums survive: .crc written, a flipped byte raises ChecksumException") {
    val dir = tmpDir("graft_niofs_crc")
    val data = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    def flip(p: String): Unit = {
      val f = new RandomAccessFile(p, "rw")
      try { f.seek(100); val b = f.read(); f.seek(100); f.write(b ^ 0xff) } finally f.close()
    }
    def readAll(in: FSDataInputStream): Array[Byte] =
      try { val b = new Array[Byte](data.length); in.readFully(b); b } finally in.close()

    // FileSystem API; a LocalFileSystem moves a corrupt file to a `bad_files`
    // dir at the top of its mount on a checksum failure, so report nothing
    val fs = new NioLocalFileSystem {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
          sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }
    fs.initialize(root, new Configuration())
    val p = new Path(s"$dir/fs.bin")
    val out = fs.create(p)
    try out.write(data) finally out.close()
    assert(Files.exists(Paths.get(dir, ".fs.bin.crc")))
    assert(readAll(fs.open(p)).sameElements(data))
    flip(s"$dir/fs.bin")
    intercept[ChecksumException](readAll(fs.open(p)))

    // FileContext API (the streaming checkpoint manager's). Only the
    // buffer-size `open` verifies: stock FilterFs.open(path) skips ChecksumFs.
    val fc = FileContext.getFileContext(root, new Configuration())
    val q = new Path(s"$dir/fc.bin")
    val out2 = fc.create(q, EnumSet.of(CreateFlag.CREATE))
    try out2.write(data) finally out2.close()
    assert(Files.exists(Paths.get(dir, ".fc.bin.crc")))
    assert(readAll(fc.open(q, 4096)).sameElements(data))
    flip(s"$dir/fc.bin")
    intercept[ChecksumException](readAll(fc.open(q, 4096)))
  }
}
