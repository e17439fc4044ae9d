package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.util.Try

import org.apache.commons.io.IOUtils

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag, FileContext,
  FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.fs.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.sources.EmbeddedTopicLog
import graft.streaming.BucketedGold

/** graft's fork-free local filesystem (`graft.fs`): installed from the
  * classpath's `core-site.xml`, and indistinguishable from stock Hadoop's
  * `RawLocalFileSystem` in the modes it sets, the link statuses it reports
  * and the checksummed files it writes.
  */
class LocalFsSpec extends SparkSpec {

  private val local = URI.create("file:///")

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(local, new Configuration()); fs
  }

  private def nio = raw(new NioRawLocalFileSystem)
  private def stock = raw(new RawLocalFileSystem)

  /** Permission bits as the kernel holds them, sticky bit included. */
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Int] & oct("7777")

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("a plain SparkSession.builder() session resolves both file: entry points to graft's classes") {
    // no option of graft's is involved: a bare builder on the running context
    assert(spark.sparkContext.isStopped === false)
    val plain = SparkSession.builder().getOrCreate().sparkContext.hadoopConfiguration
    // the classpath's core-site.xml is a default resource of every Configuration
    Seq(plain, new Configuration()).foreach { conf =>
      val fs = FileSystem.getLocal(conf)
      assert(fs.getClass === classOf[NioLocalFileSystem])
      assert(fs.getRaw.getClass === classOf[NioRawLocalFileSystem])
      assert(new Path(tmp("lfs-resolve")).getFileSystem(conf).getClass === classOf[NioLocalFileSystem])
      assert(AbstractFileSystem.get(local, conf).getClass === classOf[NioLocalFs])
    }
  }

  test("modes after create, mkdirs and setPermission equal stock RawLocalFileSystem's") {
    val dir = tmp("lfs-modes")
    for (m <- Seq("600", "644", "700", "755")) {
      val perm = new FsPermission(oct(m).toShort)
      val got = Seq("nio" -> nio, "stock" -> stock).map { case (name, fs) =>
        val created = new Path(s"$dir/$name-create-$m")
        fs.create(created, perm, false, 4096, 1.toShort, 1L << 20, null).close()
        val made = new Path(s"$dir/$name-mkdirs-$m")
        assert(fs.mkdirs(made, perm))
        val set = new Path(s"$dir/$name-set-$m")
        fs.create(set).close()
        fs.setPermission(set, perm)
        val setDir = new Path(s"$dir/$name-setdir-$m")
        assert(fs.mkdirs(setDir))
        fs.setPermission(setDir, perm)
        Seq(created, made, set, setDir).map(mode)
      }
      assert(got(0) === got(1), s"mode $m")
      assert(got(0).forall(_ == oct(m)), s"mode $m: ${got(0).map(_.toOctalString)}")
    }
    // the defaults (no explicit permission) match too: 0644 files, 0755 dirs
    val defaults = Seq("nio" -> nio, "stock" -> stock).map { case (name, fs) =>
      val f = new Path(s"$dir/$name-default-file")
      fs.create(f).close()
      val d = new Path(s"$dir/$name-default-dir")
      fs.mkdirs(d)
      Seq(mode(f), mode(d))
    }
    assert(defaults(0) === defaults(1))
    assert(defaults(0) === Seq(oct("644"), oct("755")))
  }

  test("a sticky-bit mode falls back to the stock path, which can set it") {
    val dir = tmp("lfs-sticky")
    val sticky = new FsPermission(oct("1777").toShort)
    val got = Seq("nio" -> nio, "stock" -> stock).map { case (name, fs) =>
      val d = new Path(s"$dir/$name")
      assert(fs.mkdirs(d))
      fs.setPermission(d, sticky)
      mode(d)
    }
    assert(got === Seq(oct("1777"), oct("1777")))
  }

  test("setPermission on a missing path throws, as stock's does") {
    val missing = new Path(s"${tmp("lfs-missing")}/nope")
    val perm = new FsPermission(oct("644").toShort)
    intercept[IOException](stock.setPermission(missing, perm))
    intercept[FileNotFoundException](nio.setPermission(missing, perm))
  }

  test("getFileLinkStatus on a file, a symlink, a dangling symlink and a missing path matches stock") {
    val dir = tmp("lfs-links")
    val target = Paths.get(dir, "target")
    Files.write(target, Array.fill[Byte](123)(7))
    Files.createSymbolicLink(Paths.get(dir, "link"), target)
    Files.createSymbolicLink(Paths.get(dir, "relative"), Paths.get("target"))
    Files.createSymbolicLink(Paths.get(dir, "dangling"), Paths.get(dir, "nowhere"))
    // a status's visible fields, or the class of what was thrown
    def status(fs: RawLocalFileSystem, p: Path) = Try(fs.getFileLinkStatus(p)).map { st =>
      (st.getPath, st.isSymlink, st.isFile, st.isDirectory, st.getLen,
        if (st.isSymlink) Some(st.getSymlink) else None, st.getPermission, st.getOwner)
    }.toEither.left.map(_.getClass)
    def linkTarget(fs: RawLocalFileSystem, p: Path) =
      Try(fs.getLinkTarget(p)).toEither.left.map(_.getClass)
    val (n, s) = (nio, stock)
    for (name <- Seq("target", "link", "relative", "dangling", "missing");
         p <- Seq(new Path(s"$dir/$name"), n.makeQualified(new Path(s"$dir/$name")))) {
      assert(status(n, p) === status(s, p), s"$p")
      assert(linkTarget(n, p) === linkTarget(s, p), s"$p")
    }
    // the unqualified form is the one both read links through
    assert(n.getFileLinkStatus(new Path(s"$dir/link")).isSymlink)
    assert(n.getLinkTarget(new Path(s"$dir/relative")) === new Path("target"))
    assert(n.getFileLinkStatus(new Path(s"$dir/dangling")).getSymlink ===
      n.makeQualified(new Path(s"$dir/nowhere")))
    val missing = new Path(s"$dir/missing")
    intercept[FileNotFoundException](s.getFileLinkStatus(missing))
    intercept[FileNotFoundException](n.getFileLinkStatus(missing))
  }

  test("files and .crc sidecars written through graft's FileSystem and FileContext verify under stock") {
    val dir = tmp("lfs-crc")
    val conf = new Configuration()
    val payload = Array.tabulate[Byte](200000)(i => (i * 31 + 7).toByte)
    val viaFs = new Path(s"$dir/via-fs")
    val out = FileSystem.getLocal(conf).create(viaFs)
    out.write(payload); out.close()
    val fc = FileContext.getFileContext(local, conf)
    val staged = new Path(s"$dir/via-fc.tmp")
    val out2 = fc.create(staged, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    out2.write(payload); out2.close()
    // the checkpoint's commit: a FileContext rename over the old file
    val viaFc = new Path(s"$dir/via-fc")
    fc.create(viaFc, EnumSet.of(CreateFlag.CREATE)).close()
    fc.rename(staged, viaFc, Options.Rename.OVERWRITE)

    val verifying = new LocalFileSystem(new RawLocalFileSystem)
    verifying.initialize(local, conf)
    verifying.setVerifyChecksum(true)
    def readAll(p: Path): Array[Byte] = {
      val in = verifying.open(p)
      try IOUtils.toByteArray(in) finally in.close()
    }
    for (p <- Seq(viaFs, viaFc)) {
      assert(Files.exists(Paths.get(dir, s".${p.getName}.crc")), s"no sidecar for $p")
      assert(readAll(p).sameElements(payload), s"$p")
    }
    assert(!Files.exists(Paths.get(dir, ".via-fc.tmp.crc")), "rename left the staged sidecar")
    // the sidecars are real: a flipped byte fails stock verification
    val f = Paths.get(dir, "via-fs")
    val bytes = Files.readAllBytes(f)
    bytes(1000) = (bytes(1000) ^ 1).toByte
    Files.write(f, bytes)
    intercept[ChecksumException](readAll(viaFs))
  }

  test("a kafkalog -> BucketedGold query checkpointed under graft's classes restarts exactly-once") {
    val root = tmp("lfs-restart")
    val (logRoot, topic, gold, ckpt) = (s"$root/log", "lfs_cdc", s"$root/gold", s"$root/ckpt")
    def produce(b: Int): Unit = EmbeddedTopicLog.produce(logRoot, topic,
      BenchStream.chunk(b * 500L, 500, keySpace = 89), partitions = 3)
    def run(): Long = {
      val q = BenchStream.startGoldQuery(spark, logRoot, topic, gold, ckpt, maxPerTrigger = 400L)
      try q.processAllAvailable() finally q.stop()
      BucketedGold.awaitCompactions()
      q.recentProgress.map(_.numInputRows).sum
    }
    (0 until 2).foreach(produce)
    val first = run()
    (2 until 4).foreach(produce)
    val second = run()
    // every event is read exactly once across the kill/restart
    assert(first === 1000L && second === 1000L, s"read $first then $second")
    val raw = spark.read.format("kafkalog").option("path", logRoot).option("topic", topic).load()
    val expected = scd1Reference(BenchStream.silver(raw))
      .select(BucketedGold.stateCols.map(col): _*).collect().map(_.toSeq).toSet
    val got = BucketedGold.read(spark, gold).collect().map(_.toSeq).toSet
    assert(got === expected)
    // the checkpoint graft's FileContext wrote verifies under stock Hadoop
    val verifying = new LocalFileSystem(new RawLocalFileSystem)
    verifying.initialize(local, new Configuration())
    verifying.setVerifyChecksum(true)
    val offsets = verifying.listStatus(new Path(s"$ckpt/offsets")).map(_.getPath)
    assert(offsets.nonEmpty)
    offsets.foreach { p =>
      assert(Files.exists(Paths.get(s"$ckpt/offsets/.${p.getName}.crc")), s"no sidecar for $p")
      val in = verifying.open(p)
      try IOUtils.toByteArray(in) finally in.close()
    }
  }
}
