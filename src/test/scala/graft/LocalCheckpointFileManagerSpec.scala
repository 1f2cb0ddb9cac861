package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import graft.sources.TradeSource
import graft.streaming.{Envelope, FileStreamIO, LocalCheckpointFileManager, TradePipeline}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, LocalFileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger

/** The checkpoint file manager's routing rule and the contract Spark's
  * metadata logs rely on. Suites share one session, so every case that
  * touches the manager key restores it.
  */
class LocalCheckpointFileManagerSpec extends SparkSpec {
  import LocalCheckpointFileManagerSpec._

  private val key = LocalCheckpointFileManager.ConfKey
  private val ours = classOf[LocalCheckpointFileManager].getName

  private def tmp() = Files.createTempDirectory("graft-ckfm").toString

  /** Runs `body` with the session's manager key set to `value` (unset for
    * None), then restores the key as it was.
    */
  private def withKey[T](value: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(key)
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def hadoopConf: Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    conf.set(key, ours)
    conf
  }

  private def default(p: Path, conf: Configuration): CheckpointFileManager = {
    val c = new Configuration(conf)
    c.unset(key)
    CheckpointFileManager.create(p, c)
  }

  test("file: and scheme-less local paths get Spark's FileSystem-based manager") {
    val dir = tmp()
    for (p <- Seq(new Path(dir), new Path(s"file://$dir"), new Path("relative/ckpt"))) {
      val fm = CheckpointFileManager.create(p, hadoopConf)
      assert(fm.isInstanceOf[LocalCheckpointFileManager], s"$p: Spark did not instantiate the configured class")
      assert(fm.asInstanceOf[LocalCheckpointFileManager].delegate.isInstanceOf[FileSystemBasedCheckpointFileManager],
        s"$p: local path not routed to the FileSystem manager")
    }
  }

  test("a non-file scheme gets exactly what Spark's default would give it") {
    // FileSystem only: Spark's default falls back from FileContext to FileSystem
    val fsOnly = hadoopConf
    fsOnly.set(s"fs.$Scheme.impl", classOf[SchemeFileSystem].getName)
    // FileSystem and AbstractFileSystem: Spark's default keeps FileContext
    val both = hadoopConf
    both.set(s"fs.$Scheme.impl", classOf[SchemeFileSystem].getName)
    both.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[SchemeFs].getName)
    val p = new Path(s"$Scheme://${tmp()}/ckpt")
    for ((conf, want) <- Seq(fsOnly -> classOf[FileSystemBasedCheckpointFileManager],
        both -> classOf[FileContextBasedCheckpointFileManager])) {
      val got = new LocalCheckpointFileManager(p, conf).delegate.getClass
      assert(got == default(p, conf).getClass && got == want, s"$Scheme: got ${got.getName}")
    }
  }

  test("createAtomic without overwrite onto an existing batch file throws FileAlreadyExistsException") {
    // HDFSMetadataLog relies on this to detect a second writer of a batch
    val dir = new Path(tmp())
    for (fm <- Seq(new LocalCheckpointFileManager(dir, hadoopConf), default(dir, hadoopConf))) {
      val batch = new Path(dir, fm.getClass.getSimpleName)
      def write(b: Int): Unit = {
        val out = fm.createAtomic(batch, overwriteIfPossible = false)
        out.write(b)
        out.close()
      }
      write(1)
      intercept[FileAlreadyExistsException](write(2))
      assert(Files.readAllBytes(Paths.get(batch.toString)).toSeq == Seq(1.toByte),
        s"${fm.getClass.getSimpleName} replaced an existing batch file")
    }
  }

  test("a session that names a checkpoint file manager keeps it through TradePipeline.consume") {
    val mine = classOf[FileContextBasedCheckpointFileManager].getName
    withKey(Some(mine)) {
      val dir = tmp()
      Envelope.encode(TradeSource.trades(spark, 200, partitions = 1).toDF()).write.json(s"$dir/data")
      val q = TradePipeline.consume(spark, new FileStreamIO(s"$dir/data"), "ckfm_explicit", Trigger.AvailableNow())
      try assert(q.awaitTermination(120000), "consumer did not finish in time")
      finally q.stop()
      assert(spark.conf.get(key) == mine)
      assert(spark.table("ckfm_explicit").count() > 0)
    }
  }

  test("install names this manager once and never overrides an explicit choice") {
    withKey(None) {
      LocalCheckpointFileManager.install(spark)
      assert(spark.conf.get(key) == ours)
      LocalCheckpointFileManager.install(spark)
      assert(spark.conf.get(key) == ours)
    }
    withKey(Some("com.example.OtherManager")) {
      LocalCheckpointFileManager.install(spark)
      assert(spark.conf.get(key) == "com.example.OtherManager")
    }
  }
}

object LocalCheckpointFileManagerSpec {
  /** A scheme registered only for these tests. */
  val Scheme = "graftckpt"

  /** The local filesystem under [[Scheme]]. */
  class SchemeFileSystem extends LocalFileSystem {
    override def getScheme: String = Scheme
  }

  /** The `FileContext` binding of [[SchemeFileSystem]]. */
  class SchemeFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new SchemeFileSystem, conf, Scheme, false)
}
