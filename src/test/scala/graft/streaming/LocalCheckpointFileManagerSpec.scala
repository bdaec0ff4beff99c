package graft.streaming

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

import graft.SparkSpec

/** A local filesystem under its own scheme, so a spec can reach the
  * non-`file:` branch of [[LocalCheckpointFileManager]] without a
  * network filesystem. */
class SchemeLocalFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${SchemeLocalFileSystem.Scheme}:///")
  override def getScheme: String = SchemeLocalFileSystem.Scheme
}

object SchemeLocalFileSystem {
  val Scheme = "graftlocal"
}

/** [[LocalCheckpointFileManager]] is what engine sessions resolve for
  * checkpoint paths, yields to an explicit setting and to non-`file:`
  * schemes, and leaves the same files with the same mode bits as Spark's
  * default manager. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private val key = LocalCheckpointFileManager.ConfKey

  private def withTempDir[T](body: NioPath => T): T = {
    val dir = Files.createTempDirectory("graft-cfm")
    try body(dir) finally StreamGate.deleteRecursively(dir)
  }

  private def sparkDefault(p: Path): CheckpointFileManager = {
    val conf = spark.sessionState.newHadoopConf()
    conf.unset(key)
    CheckpointFileManager.create(p, conf)
  }

  private def engine(p: Path): LocalCheckpointFileManager =
    CheckpointFileManager.create(p, spark.sessionState.newHadoopConf()) match {
      case m: LocalCheckpointFileManager => m
      case other => fail(s"engine session resolved ${other.getClass.getName}")
    }

  private def write(m: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    try out.write(text.getBytes("UTF-8")) catch {
      case t: Throwable => out.cancel(); throw t
    }
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Relative path -> rwx string for everything under `root`. */
  private def tree(root: NioPath): Map[String, String] =
    scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator.asScala.filter(_ != root).map { p =>
        root.relativize(p).toString ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap
    }

  test("an engine session resolves local checkpoint paths to the engine manager") {
    withTempDir { dir =>
      Seq(new Path(dir.toUri), new Path(dir.toString)).foreach { p =>
        val m = engine(p)
        assert(m.isLocal)
        assert(m.delegate.getClass != sparkDefault(p).getClass,
          "file: paths must not fall through to Spark's default manager")
      }
    }
  }

  test("an explicit checkpointFileManagerClass wins over the engine default") {
    withTempDir { dir =>
      spark.conf.set(key, classOf[FileContextBasedCheckpointFileManager].getName)
      try assert(CheckpointFileManager.create(new Path(dir.toUri),
          spark.sessionState.newHadoopConf())
        .isInstanceOf[FileContextBasedCheckpointFileManager])
      finally spark.conf.unset(key)
    }
    // a value already in the Hadoop conf (spark.hadoop.*) is kept too
    val conf = new Configuration(false)
    conf.set(key, "com.example.Manager")
    LocalCheckpointFileManager.install(conf)
    assert(conf.get(key) == "com.example.Manager")
  }

  test("a non-file scheme reaches Spark's default manager") {
    withTempDir { dir =>
      val conf = spark.sessionState.newHadoopConf()
      val scheme = SchemeLocalFileSystem.Scheme
      conf.set(s"fs.$scheme.impl", classOf[SchemeLocalFileSystem].getName)
      conf.setBoolean(s"fs.$scheme.impl.disable.cache", true)
      val root = new Path(s"$scheme://${dir.toUri.getPath}")
      val m = CheckpointFileManager.create(root, conf) match {
        case m: LocalCheckpointFileManager => m
        case other => fail(s"resolved ${other.getClass.getName}")
      }
      // no AbstractFileSystem is registered for the scheme, so Spark
      // falls back from FileContext to its FileSystem-based manager
      assert(m.delegate.getClass == classOf[FileSystemBasedCheckpointFileManager])
      val f = new Path(root, "offsets/0")
      m.mkdirs(f.getParent)
      write(m, f, "v1", overwrite = false)
      assert(read(m, f) == "v1")
      assert(Files.exists(dir.resolve("offsets/0")))
    }
  }

  test("the engine and Spark's default manager leave the same files and mode bits") {
    withTempDir { dir =>
      def run(root: NioPath, mk: Path => CheckpointFileManager): Map[String, String] = {
        val ckpt = new Path(root.resolve("ckpt").toUri)
        val m = mk(ckpt)
        m.createCheckpointDirectory()
        m.mkdirs(new Path(ckpt, "offsets"))
        write(m, new Path(ckpt, "offsets/0"), "o0", overwrite = false)
        write(m, new Path(ckpt, "offsets/0"), "o0'", overwrite = true)
        m.mkdirs(new Path(ckpt, "state/0/1"))
        write(m, new Path(ckpt, "state/0/1/1.delta"), "d1", overwrite = true)
        m.delete(new Path(ckpt, "state/0/1/1.delta"))
        write(m, new Path(ckpt, "state/0/1/2.delta"), "d2", overwrite = true)
        assert(read(m, new Path(ckpt, "offsets/0")) == "o0'")
        tree(root)
      }
      val a = Files.createDirectory(dir.resolve("engine"))
      val b = Files.createDirectory(dir.resolve("spark"))
      val engineTree = run(a, p => engine(p))
      val sparkTree = run(b, sparkDefault)
      assert(engineTree == sparkTree)
      assert(engineTree.keySet.contains("ckpt/offsets/.0.crc"), engineTree)
    }
  }

  test("createAtomic without overwrite raises on an existing file") {
    withTempDir { dir =>
      val p = new Path(new Path(dir.toUri), "commits/0")
      Seq(engine(p), sparkDefault(p)).foreach { m =>
        m.delete(p)
        m.mkdirs(p.getParent)
        write(m, p, "first", overwrite = false)
        intercept[FileAlreadyExistsException] {
          write(m, p, "second", overwrite = false)
        }
        assert(read(m, p) == "first", m.getClass.getName)
      }
    }
  }

  test("cancel() leaves no temp file behind") {
    withTempDir { dir =>
      val p = new Path(new Path(dir.toUri), "offsets/3")
      val m = engine(p)
      m.mkdirs(p.getParent)
      val out = m.createAtomic(p, overwriteIfPossible = false)
      out.write("partial".getBytes("UTF-8"))
      out.cancel()
      assert(!m.exists(p))
      assert(tree(dir.resolve("offsets")).isEmpty)
    }
  }
}
