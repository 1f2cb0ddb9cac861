package graft.streaming

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Stream transport abstraction (SURVEY.md §7 M2).
  *
  * The engine's pipelines are written against this trait so the same query
  * runs over: (a) an in-memory stream in tests, (b) a directory of files
  * (this zero-egress environment's stand-in for a stream), or (c) a real
  * Kinesis stream via the Structured Streaming Kinesis connector when its
  * jar is on the classpath. Swapping transports changes no operator code —
  * the reference, by contrast, reimplements its whole pipeline three times
  * for three SDK clients (KinesisSync/KinesisAsync/KinesisV1Async).
  */
trait StreamIO {
  /** Unbounded envelope-schema DataFrame (readStream). */
  def read(spark: SparkSession): DataFrame

  /** Start writing an envelope-schema stream; 2 s processing-time trigger
    * reproduces the reference's job cadence (`App.java:18`).
    */
  def write(envelope: DataFrame, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery
}

/** Directory-backed stream: each micro-batch lands as JSON files; readers
  * tail the directory. This is the CI-friendly transport — semantically a
  * single-shard, TRIM_HORIZON stream with durable replay.
  */
final class FileStreamIO(dir: String) extends StreamIO {
  import Envelope.schema

  override def read(spark: SparkSession): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 16) // per-trigger read cap, the S3/K-consumer fetch-limit analogue
      .json(dir)

  override def write(envelope: DataFrame, checkpoint: String, trigger: Trigger): StreamingQuery =
    envelope.writeStream
      .format("json")
      .option("path", dir)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
}

/** Kinesis transport configuration (reference: `Config.java:4-9` — stream
  * `java-test-stream`, region `us-east-2`, default-profile credentials).
  *
  * The Structured Streaming Kinesis connector (`spark-sql-kinesis` /
  * `aws-kinesis` data source) is not on this environment's classpath
  * (zero-egress build): [[read]]/[[write]] look the source up and turn
  * Spark's missing-source error into a descriptive one, so they run as
  * soon as the connector jar is deployed. The option mapping below is the
  * complete wiring a deployment needs. Unlike the reference's consumers, the connector reads **all**
  * shards and checkpoints offsets — both deliberate fixes of reference
  * quirks (SURVEY.md §2.1, §3.4).
  */
final case class KinesisStreamIO(
    streamName: String = "java-test-stream",
    region: String = "us-east-2",
    startingPosition: String = "TRIM_HORIZON" // reference: KinesisSync.java:96
) extends StreamIO {

  private val format = "aws-kinesis"

  def sourceOptions: Map[String, String] = Map(
    "kinesis.streamName" -> streamName,
    "kinesis.region" -> region,
    "kinesis.consumerType" -> "GetRecords",
    "kinesis.startingPosition" -> startingPosition,
    // fetch cap per poll mirrors the reference's getRecords limit(1000)
    // (KinesisSync.java:110) as a per-shard per-trigger bound:
    "kinesis.maxFetchRecordsPerShard" -> "1000"
  )

  def sinkOptions: Map[String, String] = Map(
    "kinesis.streamName" -> streamName,
    "kinesis.region" -> region,
    // partition key column = tickerSymbol (KinesisSync.java:158)
    "kinesis.partitionKey" -> "partitionKey"
  )

  /** Runs `f`, turning Spark's DATA_SOURCE_NOT_FOUND for [[format]]
    * into a descriptive refusal. */
  private def withConnector[T](f: => T): T =
    try f catch {
      case e: SparkThrowable if e.getCondition == "DATA_SOURCE_NOT_FOUND" =>
        throw new UnsupportedOperationException(
          s"Kinesis connector ('$format') jar is not on the classpath; deploy " +
            "with the Spark Structured Streaming Kinesis connector to activate " +
            "this transport. Use FileStreamIO/memory for local runs.", e)
    }

  override def read(spark: SparkSession): DataFrame = withConnector {
    spark.readStream.format(format).options(sourceOptions).load()
  }

  override def write(envelope: DataFrame, checkpoint: String, trigger: Trigger): StreamingQuery =
    withConnector {
      envelope.writeStream
        .format(format)
        .options(sinkOptions)
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .start()
    }
}

/** Control-plane verbs (L1-L4: create/validate/describe/delete) behind a
  * backend interface. The local backend realizes them over a directory —
  * enough to exercise lifecycle logic (validation failure, idempotent
  * create, teardown) in tests; a Kinesis backend implements the same verbs
  * with the AWS SDK (create with shardCount, wait for ACTIVE, delete).
  * Divergence from the reference: validation failure raises instead of
  * `System.exit(1)` (`KinesisSync.java:181`) so the engine stays testable.
  */
trait StreamAdmin {
  def create(name: String): Unit
  def validate(name: String): Boolean
  def describe(name: String): Seq[String] // shard ids
  def delete(name: String): Unit
}

final class LocalStreamAdmin(root: java.nio.file.Path, shards: Int = Envelope.DefaultShards) extends StreamAdmin {
  import java.nio.file.Files

  private def dir(name: String) = root.resolve(name)

  override def create(name: String): Unit = {
    val d = dir(name)
    Files.createDirectories(d)
    (0 until shards).foreach(i => Files.createDirectories(d.resolve(f"shardId-$i%012d")))
    Files.write(d.resolve("_STATUS"), "ACTIVE".getBytes)
  }

  override def validate(name: String): Boolean =
    Files.exists(dir(name).resolve("_STATUS")) &&
      new String(Files.readAllBytes(dir(name).resolve("_STATUS"))) == "ACTIVE"

  override def describe(name: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val d = dir(name)
    if (!Files.exists(d)) Seq.empty
    else scala.util.Using.resource(Files.list(d)) { s =>
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("shardId-")).toSeq.sorted
    }
  }

  override def delete(name: String): Unit = {
    val d = dir(name)
    if (Files.exists(d)) {
      scala.util.Using.resource(Files.walk(d)) { s =>
        s.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
    }
  }
}

/** AWS-SDK-v2-backed [[StreamAdmin]] — the deployment backend for L1–L4.
  *
  * The build environment ships no AWS SDK jars (zero egress), so the SDK
  * is reached via reflection: this class compiles and constructs without
  * the SDK on the classpath, and the first verb raises a descriptive
  * error when it's absent. Semantics mirror the reference
  * (KinesisSync.java:48-61 create with shardCount then wait for ACTIVE,
  * :63-74 delete, :171-188 validate via stream status, :79-91 shard
  * listing with hasMoreShards pagination), with two deliberate
  * divergences: validation failure surfaces as `false` instead of
  * `System.exit(1)` (KinesisSync.java:181) so the engine stays testable,
  * and create polls DescribeStream for ACTIVE instead of the reference's
  * flat 5 s sleep (KinesisSync.java:38).
  */
final class SdkStreamAdmin(
    region: String,
    shards: Int = Envelope.DefaultShards,
    pollMillis: Long = 1000L,
    maxPolls: Int = 120) extends StreamAdmin {

  private val Pkg = "software.amazon.awssdk.services.kinesis"

  private def loadClass(name: String): Class[_] =
    try Class.forName(name)
    catch {
      case _: ClassNotFoundException =>
        throw new IllegalStateException(
          s"AWS SDK v2 not on the classpath (wanted $name); SdkStreamAdmin is the " +
            "deployment backend — use LocalStreamAdmin in SDK-less environments")
    }

  /** Invoke a public method by name, arity, AND argument type — the SDK's
    * concrete builder and response classes are internal, so lookups go
    * through getMethods rather than compile-time types. Matching types
    * matters because every SDK v2 client verb has a same-arity
    * `Consumer<Builder>` overload: name+arity alone can resolve to it
    * (getMethods order is unspecified) and fail at invoke time.
    */
  private def call(target: AnyRef, method: String, args: AnyRef*): AnyRef = {
    def accepts(m: java.lang.reflect.Method): Boolean =
      m.getParameterTypes.zip(args).forall { case (p, a) =>
        a == null || p.isInstance(a) ||
          (p.isPrimitive && p == java.lang.Integer.TYPE && a.isInstanceOf[java.lang.Integer]) ||
          (p.isPrimitive && p == java.lang.Long.TYPE && a.isInstanceOf[java.lang.Long]) ||
          (p.isPrimitive && p == java.lang.Boolean.TYPE && a.isInstanceOf[java.lang.Boolean])
      }
    val m = target.getClass.getMethods
      .find(m => m.getName == method && m.getParameterCount == args.length && accepts(m))
      .getOrElse(throw new NoSuchMethodException(
        s"${target.getClass.getName}.$method/${args.length} accepting (${args.map(a => if (a == null) "null" else a.getClass.getSimpleName).mkString(", ")})"))
    m.setAccessible(true)
    m.invoke(target, args: _*)
  }

  /** `Xxx.builder().a(v).b(v).build()` for an SDK request class. */
  private def build(requestClass: String, setters: (String, AnyRef)*): AnyRef = {
    val b = loadClass(requestClass).getMethod("builder").invoke(null)
    call(setters.foldLeft(b) { case (acc, (n, v)) => call(acc, n, v) }, "build")
  }

  private lazy val client: AnyRef = {
    val regionCls = loadClass("software.amazon.awssdk.regions.Region")
    val regionObj = regionCls.getMethod("of", classOf[String]).invoke(null, region)
    val builder = loadClass(s"$Pkg.KinesisClient").getMethod("builder").invoke(null)
    call(call(builder, "region", regionObj), "build")
  }

  private def streamDescription(name: String, startAfterShard: Option[String] = None): AnyRef = {
    val setters = Seq("streamName" -> (name: AnyRef)) ++
      startAfterShard.map(sid => "exclusiveStartShardId" -> (sid: AnyRef))
    call(call(client, "describeStream",
      build(s"$Pkg.model.DescribeStreamRequest", setters: _*)), "streamDescription")
  }

  private def status(name: String): String =
    call(streamDescription(name), "streamStatus").toString

  override def create(name: String): Unit = {
    call(client, "createStream",
      build(s"$Pkg.model.CreateStreamRequest",
        "streamName" -> name, "shardCount" -> Int.box(shards)))
    var polls = 0
    while (status(name) != "ACTIVE") {
      polls += 1
      if (polls > maxPolls)
        throw new IllegalStateException(
          s"stream $name not ACTIVE after ${maxPolls * pollMillis} ms")
      Thread.sleep(pollMillis)
    }
  }

  override def validate(name: String): Boolean =
    try status(name) == "ACTIVE"
    catch { case _: java.lang.reflect.InvocationTargetException => false }

  override def describe(name: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var startAfter: Option[String] = None
    var more = true
    while (more) {
      val desc = streamDescription(name, startAfter)
      val ids = call(desc, "shards").asInstanceOf[java.util.List[AnyRef]]
        .asScala.map(sh => call(sh, "shardId").toString).toSeq
      out ++= ids
      more = call(desc, "hasMoreShards").asInstanceOf[java.lang.Boolean] && ids.nonEmpty
      startAfter = ids.lastOption
    }
    out.toSeq
  }

  override def delete(name: String): Unit =
    call(client, "deleteStream",
      build(s"$Pkg.model.DeleteStreamRequest", "streamName" -> name))
}
