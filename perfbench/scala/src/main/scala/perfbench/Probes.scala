package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.odf._
import graft.odf.server.EnginePayloadCodec

/** Spark figures attributed to whatever key the submitting thread carried in
  * the [[JobProbe.KeyProp]] local property: a request (untraced phase), a
  * span (traced phase) or a curation query. */
final class JobAgg {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0.0
  var taskMs = 0.0
  var schedulerDelayMs = 0.0
  var shuffleWriteBytes = 0L
  var recordsRead = 0L
}

final class JobProbe extends SparkListener {
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val aggs = new ConcurrentHashMap[String, JobAgg]()

  private def agg(k: String): JobAgg = aggs.computeIfAbsent(k, _ => new JobAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(JobProbe.KeyProp))).foreach { k =>
      val a = agg(k)
      a.synchronized { a.jobs += 1 }
      e.stageIds.foreach(stageKey.put(_, k))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { k =>
      val a = agg(k)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.taskMs += e.taskInfo.duration.toDouble
        if (m != null) {
          a.runMs += m.executorRunTime.toDouble
          a.schedulerDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime).toDouble
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }

  /** Complete figures per key; drains the listener bus first. */
  def snapshot(sc: SparkContext): Map[String, JobAgg] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    aggs.asScala.toMap
  }
}

object JobProbe {
  val KeyProp = "perfbench.key"

  def install(spark: SparkSession): JobProbe = {
    val p = new JobProbe
    spark.sparkContext.addSparkListener(p)
    p
  }

  /** Run `body` with this thread's Spark jobs attributed to `key`. */
  def keyed[A](sc: SparkContext, key: String)(body: => A): A = {
    val prev = sc.getLocalProperty(KeyProp)
    sc.setLocalProperty(KeyProp, key)
    try body finally sc.setLocalProperty(KeyProp, prev)
  }
}

/** Server-side timings of one request, keyed by its output path. */
final class ServerTiming {
  @volatile var decodeNs = 0L
  @volatile var decodedAt = 0L
  @volatile var engineStart = 0L
  @volatile var engineEnd = 0L
  @volatile var encodeNs = 0L
}

final class ServerProbe {
  private val timings = new ConcurrentHashMap[String, ServerTiming]()
  private val current = new ThreadLocal[String]

  def timing(key: String): ServerTiming = timings.computeIfAbsent(key, _ => new ServerTiming)
  def get(key: String): Option[ServerTiming] = Option(timings.get(key))

  /** Times one engine call; the codec's encode of its response runs next on
    * the same worker thread, so the key is kept for it. */
  def engineCall[A](sc: SparkContext, key: String)(body: => A): A = {
    val t = timing(key)
    current.set(key)
    t.engineStart = System.nanoTime()
    try JobProbe.keyed(sc, s"req:$key")(body)
    finally t.engineEnd = System.nanoTime()
  }

  def encoded(ns: Long): Unit = Option(current.get).foreach(k => timing(k).encodeNs = ns)
}

/** The shipped engine, with each call timed from outside. */
final class TimedEngine(base: SparkSession, probe: ServerProbe) extends Engine(base) {
  override def executeTransform(r: TransformRequest): Either[EngineError, TransformResponseSuccess] =
    probe.engineCall(base.sparkContext, r.newDataPath)(super.executeTransform(r))
  override def executeRawQuery(r: RawQueryRequest): Either[EngineError, RawQueryResponseSuccess] =
    probe.engineCall(base.sparkContext, r.outputDataPath)(super.executeRawQuery(r))
}

/** Wraps the server's payload codec to time request decoding and response
  * encoding. */
final class TimingCodec(inner: EnginePayloadCodec, probe: ServerProbe) extends EnginePayloadCodec {
  override def name: String = inner.name

  private def decode[A](bytes: Array[Byte])(read: Array[Byte] => A)(key: A => String): A = {
    val t0 = System.nanoTime()
    val r = read(bytes)
    val t1 = System.nanoTime()
    val t = probe.timing(key(r))
    t.decodeNs = t1 - t0
    t.decodedAt = t1
    r
  }

  private def encode(write: => Array[Byte]): Array[Byte] = {
    val t0 = System.nanoTime()
    val out = write
    probe.encoded(System.nanoTime() - t0)
    out
  }

  override def readTransformRequest(bytes: Array[Byte]): TransformRequest =
    decode(bytes)(inner.readTransformRequest)(_.newDataPath)
  override def readRawQueryRequest(bytes: Array[Byte]): RawQueryRequest =
    decode(bytes)(inner.readRawQueryRequest)(_.outputDataPath)
  override def writeTransformResponse(resp: Either[EngineError, TransformResponseSuccess]): Array[Byte] =
    encode(inner.writeTransformResponse(resp))
  override def writeRawQueryResponse(resp: Either[EngineError, RawQueryResponseSuccess]): Array[Byte] =
    encode(inner.writeRawQueryResponse(resp))
}

object Rss {
  /** Peak resident set of this JVM (VmHWM), MiB. */
  def peakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
