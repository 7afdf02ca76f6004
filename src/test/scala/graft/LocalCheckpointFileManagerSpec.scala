package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.streaming.{LocalCheckpointFileManager, StreamingOps}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger

/** The engine's checkpoint file manager must be invisible to Spark: same
  * files, same modes, same atomicity as Spark's default `FileContext`
  * manager, and Spark's default on every scheme but `file:`. */
class LocalCheckpointFileManagerSpec extends GraftSpec {

  private val dirs = scala.collection.mutable.Buffer[JPath]()
  private def tmpDir(tag: String): JPath = {
    val d = Files.createTempDirectory(s"graft-lcfm-$tag")
    dirs += d
    d
  }
  override def afterAll(): Unit = {
    dirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    super.afterAll()
  }

  private def hadoopConf = new Configuration(spark.sparkContext.hadoopConfiguration)

  /** Built the way Spark builds it: by class name from the SQL conf. */
  private def manager(dir: JPath): LocalCheckpointFileManager = {
    val conf = hadoopConf
    conf.set(LocalCheckpointFileManager.ClassKey, classOf[LocalCheckpointFileManager].getName)
    CheckpointFileManager.create(new Path(dir.toUri), conf)
      .asInstanceOf[LocalCheckpointFileManager]
  }

  /** Relative path, kind and mode of everything under `root`, sorted. */
  private def listing(root: JPath): Seq[String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map { p =>
      val kind = if (Files.isDirectory(p)) "d" else "f"
      s"$kind ${PosixFilePermissions.toString(Files.getPosixFilePermissions(p))} " +
        root.relativize(p)
    }.toSeq.sorted
    finally s.close()
  }

  test("a stateful AvailableNow query writes the same checkpoint as Spark's default, then resumes") {
    import spark.implicits._
    val key = LocalCheckpointFileManager.ClassKey
    assert(spark.conf.getOption(key).isEmpty, s"$key set on the shared session")
    val src = tmpDir("src").resolve("in").toString
    val batch1 = (0 until 60).map(i => (i % 3).toLong)
    batch1.toDF("k").write.parquet(src)
    val schema = spark.read.parquet(src).schema

    def run(name: String, ckpt: JPath, viaEngine: Boolean): Seq[(Long, Long)] = {
      val writer = spark.readStream.schema(schema).parquet(src)
        .groupBy($"k").count()
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .trigger(Trigger.AvailableNow())
      val q = StreamingOps.withStatePartitions(spark, 2) {
        if (viaEngine) StreamingOps.startQuery(spark, writer, ckpt.toString)
        else writer.option("checkpointLocation", ckpt.toString).start()
      }
      try q.awaitTermination() finally q.stop()
      spark.table(name).as[(Long, Long)].collect().toSeq.sorted
    }

    // a umask unlike the process's own, so the modes show that Hadoop's
    // setPermission ran rather than the JVM's file-creation default
    val umask = "fs.permissions.umask-mode"
    val defaultCkpt = tmpDir("default")
    val engineCkpt = tmpDir("engine")
    val viaDefault = StreamingOps.withConf(spark, umask, "077") {
      run("graft_lcfm_default", defaultCkpt, viaEngine = false)
    }
    val viaEngine = StreamingOps.withConf(spark, umask, "077") {
      run("graft_lcfm_engine", engineCkpt, viaEngine = true)
    }
    assert(viaDefault == Seq((0L, 20L), (1L, 20L), (2L, 20L)))
    assert(viaEngine == viaDefault)
    val files = listing(engineCkpt)
    assert(files.exists(_.endsWith(".crc")), s"no .crc files in $files")
    assert(files.exists(_.contains("state/0/")), s"no state store files in $files")
    assert(files.forall(_.contains("------ ")), s"umask 077 not applied: $files")
    assert(files == listing(defaultCkpt))
    assert(spark.conf.getOption(key).isEmpty, s"$key leaked into the session")

    // resume from the engine-written checkpoint: the restored state must
    // carry batch 1's counts into batch 2's complete output
    Seq(0L, 0L, 5L).toDF("k").write.mode("append").parquet(src)
    val resumed = run("graft_lcfm_resumed", engineCkpt, viaEngine = true)
    assert(resumed == Seq((0L, 22L), (1L, 20L), (2L, 20L), (5L, 1L)))
  }

  test("createAtomic followed by cancel leaves no file behind") {
    val dir = tmpDir("cancel")
    val out = manager(dir).createAtomic(new Path(dir.resolve("0").toUri), false)
    out.write("partial".getBytes("UTF-8"))
    out.cancel()
    assert(listing(dir).isEmpty)
  }

  test("renameTempFile without overwrite onto an existing file throws FileAlreadyExistsException") {
    val dir = tmpDir("rename")
    val fm = manager(dir)
    val dst = new Path(dir.resolve("0").toUri)
    val first = fm.createAtomic(dst, false)
    first.write("first".getBytes("UTF-8"))
    first.close()
    val tmp = new Path(dir.resolve("0.tmp").toUri)
    val out = fm.impl.createTempFile(tmp)
    out.write("second".getBytes("UTF-8"))
    out.close()
    intercept[FileAlreadyExistsException](fm.impl.renameTempFile(tmp, dst, false))
    val in = fm.open(dst)
    try assert(new String(in.readAllBytes(), "UTF-8") == "first") finally in.close()
  }

  test("a path with a scheme other than file: gets Spark's default manager") {
    // viewfs mounts a local directory under a non-file scheme
    val dir = tmpDir("viewfs")
    val conf = hadoopConf
    conf.set("fs.viewfs.mounttable.graftlcfm.link./ckpt", dir.toUri.toString)
    val path = new Path("viewfs://graftlcfm/ckpt")
    val fm = new LocalCheckpointFileManager(path, conf)
    assert(fm.impl.isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(fm.impl.getClass == CheckpointFileManager.create(path, conf).getClass)
    val out = fm.createAtomic(new Path(path, "0"), false)
    out.write("x".getBytes("UTF-8"))
    out.close()
    assert(fm.list(path).map(_.getPath.getName).toSeq == Seq("0"))
    assert(Files.readString(dir.resolve("0")) == "x")
  }
}
