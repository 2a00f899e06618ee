package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import com.fasterxml.jackson.databind.JsonNode
import io.netty.channel.MultiThreadIoEventLoopGroup
import io.netty.channel.nio.NioIoHandler
import org.apache.spark.sql.SparkSession

import graft.odf.Engine
import graft.odf.server.{FlatbuffersPayloadCodec, OdfGrpcServer}

/** What one run needs: the session, its inputs and where its outputs go. */
final class Ctx(val spark: SparkSession, val manifest: JsonNode, val out: Path,
                val warmupSeconds: Double, val seconds: Double, val trace: Boolean) {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Logs a phase boundary, in seconds since JVM start, to the run's log. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s: $what")

  /** JVM start to the first answered operation: the cold set-up. */
  def setupS(rec: Recorder): Double = (rec.firstReplyMs - jvmStartMs) / 1000.0

  var attempted = 0L
  var failed = 0L
  var errors: Seq[String] = Nil

  /** Writes the request log for the checker and keeps the counts. */
  def finish(rec: Recorder): Unit = {
    val w = Files.newBufferedWriter(out.resolve("requests.jsonl"))
    try rec.records.foreach { r => w.write(Json.write(r)); w.newLine() } finally w.close()
    attempted = rec.attempted
    failed = rec.failed
    errors = rec.errors.take(20).toSeq
  }
}

object Loop {
  /** Runs `round` on each item (one thread per item when there are several)
    * until `seconds` have passed, always finishing the round in progress.
    * Returns the wall time until the last round ended, in ms. */
  def timed[A](items: Seq[A], seconds: Double)(round: A => Unit): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    parallel(items)(a => while (System.nanoTime() < deadline) round(a))
    (System.nanoTime() - t0) / 1e6
  }

  def parallel[A](items: Seq[A])(f: A => Unit): Unit =
    if (items.size == 1) f(items.head)
    else {
      val pool = Executors.newFixedThreadPool(items.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence(items.map(a => Future(f(a)))), Duration.Inf)
      finally pool.shutdown()
      ()
    }
}

object Metrics {
  /** End-to-end figures of the timed phase: the mean client round trip of
    * its operations, and its operations and input rows per second of wall
    * time. The phase runs whole rounds (ticks or passes), so every run
    * averages over the same mix of operations. */
  def endToEnd(rec: Recorder, phase: String, setupS: Double, wallMs: Double): Map[String, (Double, String)] = {
    val ok = rec.timed(phase).filter(_.ok)
    val s = wallMs / 1000
    Map(
      "setup_s" -> (setupS, "s"),
      "request_ms" -> (Stats.mean(ok.map(_.ms)), "ms"),
      "requests_per_s" -> (ok.size / s, "1/s"),
      "rows_per_s" -> (ok.map(_.rows).sum / s, "rows/s"))
  }

  /** Spark figures per request (means), from the listener. */
  def sparkPerRequest(aggs: Seq[JobAgg], requests: Int, inputRows: Long): Map[String, (Double, String)] = {
    val n = requests.max(1).toDouble
    Map(
      "spark.jobs" -> (aggs.map(_.jobs).sum / n, "count"),
      "spark.tasks" -> (aggs.map(_.tasks).sum / n, "count"),
      "spark.executor_run_ms" -> (aggs.map(_.runMs).sum / n, "ms"),
      "spark.scheduler_delay_ms" -> (aggs.map(_.schedulerDelayMs).sum / n, "ms"),
      "spark.shuffle_write_bytes" -> (aggs.map(_.shuffleWriteBytes).sum / n, "B"),
      "spark.records_read_per_interval_row" ->
        (aggs.map(_.recordsRead).sum.toDouble / math.max(1L, inputRows), "ratio"))
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val input = Path.of(opts("input")).toAbsolutePath
    val out = Path.of(opts("out")).toAbsolutePath
    Files.createDirectories(out)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, Json.read(input.resolve("manifest.json")), out,
      opts("warmup").toDouble, opts("seconds").toDouble, opts("trace") == "1")
    ctx.mark("spark session built")
    val metrics =
      try workload match {
        case "curation-batch" => Curation.run(ctx)
        case w => OdfRun.run(ctx, w)
      } finally { ctx.mark("run done"); spark.stop(); ctx.mark("spark stopped") }
    Files.writeString(out.resolve("result.json"), Json.write(Map(
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "errors" -> ctx.errors,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
    sys.exit(0)
  }
}

/** The three ODF workloads: the shipped server on an ephemeral port, one
  * gRPC client per pipeline. */
object OdfRun {
  def run(ctx: Ctx, workload: String): Map[String, (Double, String)] = {
    val spark = ctx.spark
    val rec = new Recorder
    val reqs = new Requests(rec)
    val server = if (ctx.trace) Some(new ServerProbe) else None
    val jobs = if (ctx.trace) Some(JobProbe.install(spark)) else None
    val srv = server match {
      case Some(p) => new OdfGrpcServer(new TimedEngine(spark, p), 0, new TimingCodec(FlatbuffersPayloadCodec, p))
      case None => new OdfGrpcServer(new Engine(spark), port = 0)
    }
    srv.start()
    val group = new MultiThreadIoEventLoopGroup(2, NioIoHandler.newFactory())
    val tickWorkload = workload != "odf-backfill"
    val pipelines = if (tickWorkload) ctx.manifest.get("pipelines").asInt else 1
    val clients = (0 until pipelines).map(_ => new GrpcClient(group, srv.boundPort))
    try {
      val grpc = clients.map(new GrpcExec(_))
      val runners: Seq[Odf.Rounds] =
        if (tickWorkload) (0 until pipelines).map(p => new Odf.TickPipeline(p, ctx.manifest, ctx.out, reqs, rec, grpc(p)))
        else Seq(new Odf.Backfill(ctx.manifest, ctx.out, reqs, rec, grpc.head))
      Loop.timed(runners, ctx.warmupSeconds)(_.runRound("warmup"))
      val setupS = ctx.setupS(rec)
      ctx.mark(f"warm-up done; first reply at $setupS%.2f s")
      val phaseSeconds = if (ctx.trace) ctx.seconds / 2 else ctx.seconds
      val timedMs = Loop.timed(runners, phaseSeconds)(_.runRound("timed"))
      ctx.mark("timed phase done")
      val tracer = if (ctx.trace) Some(new Tracer(spark.sparkContext)) else None
      tracer.foreach { t =>
        val traced = new TracedExec(spark, t)
        runners.foreach(_.exec = traced)
        Loop.timed(runners, phaseSeconds)(_.runRound("traced"))
        runners.zip(grpc).foreach { case (r, g) => r.exec = g }
        t.writeJsonl(ctx.out.resolve("spans.jsonl"))
      }
      // not timed: the first pipeline's A re-derived in one transform over
      // its whole root ledger
      runners.foreach {
        case p: Odf.TickPipeline if p.p == 0 => p.rederiveA("verify")
        case _ => ()
      }
      ctx.finish(rec)
      if (!ctx.trace) Metrics.endToEnd(rec, "timed", setupS, timedMs)
      else Layers.odf(ctx, rec, server.get, jobs.get, tracer.get) + ("jvm.peak_rss_mb" -> (Rss.peakMb(), "MiB"))
    } finally {
      // The server is left to end with the JVM (Main exits once the result
      // is written): its graceful stop waits out a fixed 2 s quiet period.
      clients.foreach(_.close())
      group.shutdownGracefully(0, 1, java.util.concurrent.TimeUnit.SECONDS).sync()
      ()
    }
  }
}
