package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.odf._

/** How a request reaches the engine. */
trait Exec {
  def transform(r: TransformRequest): Either[EngineError, TransformResponseSuccess]
  def rawQuery(r: RawQueryRequest): Either[EngineError, RawQueryResponseSuccess]
}

final class GrpcExec(client: GrpcClient) extends Exec {
  def transform(r: TransformRequest) = client.transform(r)
  def rawQuery(r: RawQueryRequest) = client.rawQuery(r)
}

/** In-process replay of `Engine`'s orchestration, each layer's public
  * function inside a span. The offset strategy is passed explicitly: the
  * engine's default (windowed) differs from `withSystemColumns`' own. */
final class TracedExec(base: SparkSession, tracer: Tracer) extends Exec {
  OdfSessions.configureBase(base)

  private def internal(e: Exception) =
    Left(EngineInternalError(Option(e.getMessage).getOrElse(e.getClass.getName)))

  def transform(r: TransformRequest): Either[EngineError, TransformResponseSuccess] = {
    val k = r.newDataPath
    def span[A](name: String)(body: => A): A = tracer.span(k, name)(body)
    span("engine.transform") {
      val spark = span("sessions")(OdfSessions.newRequestSession(base))
      try {
        span("inputs")(r.queryInputs.foreach(Inputs.register(spark, _)))
        for {
          raw <- span("queries")(Queries.buildOutput(spark, r.queries))
          normalized = span("normalize")(Normalize.normalizeRawResult(raw, r.vocab))
          _ <- span("validate")(Validate.validateRawResult(normalized.schema, r.vocab))
          stamped = span("system_columns")(SystemColumns.withSystemColumns(
            normalized, r.vocab, r.systemTime, r.nextOffset, SystemColumns.WindowedOffsets))
          n = span("sink")(ParquetSink.writeSingleFile(stamped, r.newDataPath))
        } yield span("watermarks")(TransformResponseSuccess(
          Watermarks.newOffsetInterval(r.nextOffset, n), Watermarks.computeNewWatermark(r.queryInputs)))
      } catch {
        case e: IllegalArgumentException => Left(InvalidQuery(e.getMessage))
        case e: Exception => internal(e)
      }
    }
  }

  def rawQuery(r: RawQueryRequest): Either[EngineError, RawQueryResponseSuccess] = {
    val k = r.outputDataPath
    def span[A](name: String)(body: => A): A = tracer.span(k, name)(body)
    span("engine.raw_query") {
      val spark = span("sessions")(OdfSessions.newRequestSession(base))
      try {
        span("inputs")(spark.read.parquet(r.inputDataPaths: _*).createOrReplaceTempView("input"))
        for {
          raw <- span("queries")(Queries.buildOutput(spark, r.queries))
          normalized = span("normalize")(Normalize.normalizeRawResult(raw, DatasetVocabulary()))
          n = span("sink")(ParquetSink.writeSingleFile(normalized, r.outputDataPath))
        } yield RawQueryResponseSuccess(n)
      } catch { case e: Exception => internal(e) }
    }
  }
}

/** One engine operation as the client saw it. */
final case class Sample(phase: String, kind: String, key: String, ms: Double, rows: Long, ok: Boolean)

/** Everything a run measures and logs, shared by client threads. */
final class Recorder {
  val samples = ArrayBuffer.empty[Sample]
  val records = ArrayBuffer.empty[Map[String, Any]]
  val errors = ArrayBuffer.empty[String]
  /** Wall-clock time of the first completed operation. */
  var firstReplyMs = 0L

  def sample(s: Sample, record: Map[String, Any], error: Option[String]): Unit = synchronized {
    if (firstReplyMs == 0L) firstReplyMs = System.currentTimeMillis()
    samples += s
    records += record
    error.foreach(e => errors += s"${s.key}: $e")
  }

  /** An operation that was not sent because one it depends on failed. */
  def skipped(phase: String, kind: String, key: String): Unit = synchronized {
    samples += Sample(phase, kind, key, 0.0, 0L, ok = false)
  }

  def timed(phase: String): Seq[Sample] = synchronized(samples.filter(_.phase == phase).toSeq)
  def attempted: Long = synchronized(samples.size.toLong)
  def failed: Long = synchronized(samples.count(!_.ok).toLong)
}

/** An ODF ledger being grown by the benchmark: its next offset and slices. */
final class Ledger(val name: String, dir: Path) {
  Files.createDirectories(dir)
  var next = 0L
  val slices = ArrayBuffer.empty[String]
  private var seq = 0
  def newPath(): String = { seq += 1; dir.resolve(f"slice$seq%04d.parquet").toString }
}

/** The SQL each derived dataset runs (engine dialect). The checker evaluates
  * its own DuckDB formulation of the same datasets. */
object OdfSql {
  def ingest(baseOffset: Long, systemTime: Instant): String =
    s"SELECT CAST(seq + $baseOffset AS BIGINT) AS offset, op, " +
      s"TIMESTAMP '${systemTime.toString.replace("T", " ").stripSuffix("Z")}' AS system_time, " +
      "ts AS event_time, user_id, kind, value, props FROM input"

  /** Dataset A: JSON extraction, filter, op propagation (two steps). */
  val a: Seq[SqlQueryStep] = Seq(
    SqlQueryStep.named("parsed",
      "SELECT op, event_time, user_id, kind, value, props->>'city' AS city, " +
        "json_get_int(props, 'score') AS score FROM root"),
    SqlQueryStep.output(
      "SELECT op, event_time, user_id, kind, value, city, score FROM parsed " +
        "WHERE value >= 0 AND kind <> 'noise'"),
  )

  /** Dataset B: A's new slice joined to the dimension (op not propagated). */
  val b: Seq[SqlQueryStep] = Seq(SqlQueryStep.output(
    "SELECT a.event_time, a.user_id, d.segment, d.region, a.value * d.weight AS weighted " +
      "FROM a JOIN dim AS d ON a.user_id = d.user_id"))

  /** Backfill transforms over the root history. */
  val t1: Seq[SqlQueryStep] = Seq(SqlQueryStep.output(
    "SELECT op, event_time, seen_at, user_id, kind, value * 2 + 1 AS v2, channel " +
      "FROM root WHERE value > 25"))
  val t2: Seq[SqlQueryStep] = Seq(SqlQueryStep.output(
    "SELECT op, event_time, user_id, json_get_str(props, 'city') AS city, " +
      "json_get_int(props, 'score') AS score FROM root WHERE kind IN ('click', 'purchase')"))
  val t3: Seq[SqlQueryStep] = Seq(SqlQueryStep.output(
    "SELECT r.event_time, r.user_id, d.segment, r.value * d.weight AS weighted " +
      "FROM root AS r JOIN dim AS d ON r.user_id = d.user_id WHERE r.kind = 'view'"))
}

/** Issues requests and logs each one for the checker. */
final class Requests(rec: Recorder) {
  private def err(e: EngineError) = s"${e.getClass.getSimpleName}: ${e.message}"

  private def inputRecord(i: TransformRequestInput, ledger: String): Map[String, Any] = Map(
    "alias" -> i.queryAlias, "ledger" -> ledger,
    "start" -> i.offsetInterval.map(_.start), "end" -> i.offsetInterval.map(_.end),
    "paths" -> i.dataPaths,
    "watermarks" -> i.explicitWatermarks.map(w => Seq(w.systemTime.toString, w.eventTime.toString)))

  def transform(exec: Exec, phase: String, step: String, ledger: Ledger,
                req: TransformRequest, inputLedgers: Seq[String], meta: Map[String, Any]): Option[TransformResponseSuccess] = {
    val rows = req.queryInputs.flatMap(_.offsetInterval).map(iv => iv.end - iv.start + 1).sum
    val t0 = System.nanoTime()
    val resp = try exec.transform(req) catch { case e: Exception => Left(EngineInternalError(e.toString)) }
    val ms = (System.nanoTime() - t0) / 1e6
    val iv = resp.toOption.flatMap(_.newOffsetInterval)
    rec.sample(
      Sample(phase, "transform", req.newDataPath, ms, rows, resp.isRight),
      meta ++ Map(
        "kind" -> "transform", "phase" -> phase, "step" -> step, "ledger" -> ledger.name,
        "path" -> req.newDataPath, "next_offset" -> req.nextOffset,
        "system_time" -> req.systemTime.toString,
        "inputs" -> req.queryInputs.zip(inputLedgers).map { case (i, l) => inputRecord(i, l) },
        "ok" -> resp.isRight, "error" -> resp.left.toOption.map(err),
        "start" -> iv.map(_.start), "end" -> iv.map(_.end),
        "watermark" -> resp.toOption.flatMap(_.newWatermark).map(_.toString), "ms" -> ms),
      resp.left.toOption.map(err))
    resp.toOption.map { r =>
      ledger.slices += req.newDataPath
      iv.foreach(i => ledger.next = i.end + 1)
      r
    }
  }

  def raw(exec: Exec, phase: String, ledger: Ledger, req: RawQueryRequest, rows: Long,
          meta: Map[String, Any]): Option[Long] = {
    val t0 = System.nanoTime()
    val resp = try exec.rawQuery(req) catch { case e: Exception => Left(EngineInternalError(e.toString)) }
    val ms = (System.nanoTime() - t0) / 1e6
    rec.sample(
      Sample(phase, "raw", req.outputDataPath, ms, rows, resp.isRight),
      meta ++ Map(
        "kind" -> "raw", "phase" -> phase, "step" -> "root", "ledger" -> ledger.name,
        "path" -> req.outputDataPath, "next_offset" -> ledger.next, "raw_inputs" -> req.inputDataPaths,
        "ok" -> resp.isRight, "error" -> resp.left.toOption.map(err),
        "num_records" -> resp.toOption.map(_.numRecords), "ms" -> ms),
      resp.left.toOption.map(err))
    resp.toOption.map { r =>
      ledger.slices += req.outputDataPath
      r.numRecords
    }
  }
}

object Odf {
  /** A client's unit of repeated work: one tick, or one backfill pass. */
  trait Rounds {
    var exec: Exec
    def runRound(phase: String): Unit
  }

  val vocab: DatasetVocabulary = DatasetVocabulary()
  val systemEpoch: Instant = Instant.parse("2030-01-01T00:00:00Z")

  private def watermarks(node: com.fasterxml.jackson.databind.JsonNode): Seq[Watermark] = {
    val out = Seq.newBuilder[Watermark]
    node.elements().forEachRemaining { w =>
      out += Watermark(Instant.parse(w.get(0).asText), Instant.parse(w.get(1).asText))
    }
    out.result()
  }

  final case class Dim(path: String, rows: Long, watermark: Watermark) {
    def input: TransformRequestInput = TransformRequestInput(
      "did:dim", "dim", "dim", vocab, Some(OffsetInterval(0, rows - 1)), Seq(path), path, Seq(watermark))
  }

  def dim(m: com.fasterxml.jackson.databind.JsonNode): Dim = {
    val d = m.get("dim")
    val w = d.get("watermark")
    Dim(d.get("path").asText, d.get("rows").asLong,
      Watermark(Instant.parse(w.get(0).asText), Instant.parse(w.get(1).asText)))
  }

  /** One client's three-dataset pipeline: raw batch → root slice → A → B. */
  final class TickPipeline(val p: Int, m: com.fasterxml.jackson.databind.JsonNode, out: Path, reqs: Requests,
                           rec: Recorder, var exec: Exec) extends Rounds {
    private val batches = m.get("batches").asInt
    private val rowsPerBatch = m.get("rows_per_batch").asLong
    private val batchWms = m.get("batch_watermarks").get(p.toString)
    private val input = Path.of(m.get("dir").asText)
    private val dimInfo = dim(m)
    val root = new Ledger(s"p$p/root", out.resolve(s"p$p/root"))
    val a = new Ledger(s"p$p/a", out.resolve(s"p$p/a"))
    val b = new Ledger(s"p$p/b", out.resolve(s"p$p/b"))
    private var tick = 0
    private var lastWms = Seq.empty[Watermark]

    def runRound(phase: String): Unit = {
      val t = tick
      tick += 1
      val batch = t % batches
      val meta = Map[String, Any]("pipeline" -> p, "tick" -> t, "batch" -> batch)
      val sys = systemEpoch.plusSeconds(t * 10L).plusMillis(p.toLong)
      val wms = watermarks(batchWms.get(batch))
      lastWms = wms
      val rawPath = input.resolve(f"raw/p$p/b$batch%03d.parquet").toString
      val base = root.next
      val rootPath = root.newPath()
      val n = reqs.raw(exec, phase, root,
        RawQueryRequest(Seq(rawPath), Seq(SqlQueryStep.output(OdfSql.ingest(base, sys))), rootPath),
        rowsPerBatch, meta)
      n match {
        case Some(n) if n > 0 =>
          root.next = base + n
          val rootIv = OffsetInterval(base, base + n - 1)
          val aPath = a.newPath()
          val aResp = reqs.transform(exec, phase, "a", a, TransformRequest(
            datasetId = s"did:a$p", datasetAlias = s"p$p.a", systemTime = sys.plusSeconds(1), vocab = vocab,
            queries = OdfSql.a,
            queryInputs = Seq(TransformRequestInput(
              s"did:root$p", s"p$p.root", "root", vocab, Some(rootIv), Seq(rootPath), rootPath, wms)),
            nextOffset = a.next, newDataPath = aPath), Seq(root.name), meta)
          aResp.flatMap(r => r.newOffsetInterval.map(_ -> r.newWatermark)) match {
            case Some((aIv, aWm)) =>
              val aInput = TransformRequestInput(s"did:a$p", s"p$p.a", "a", vocab, Some(aIv), Seq(aPath), aPath,
                aWm.map(w => Watermark(sys.plusSeconds(1), w)).toSeq)
              reqs.transform(exec, phase, "b", b, TransformRequest(
                datasetId = s"did:b$p", datasetAlias = s"p$p.b", systemTime = sys.plusSeconds(2), vocab = vocab,
                queries = OdfSql.b, queryInputs = Seq(aInput, dimInfo.input),
                nextOffset = b.next, newDataPath = b.newPath()), Seq(a.name, "dim"), meta)
            case None if aResp.isEmpty => rec.skipped(phase, "transform", s"p$p/b tick $t")
            case None => () // A derived no rows this tick: B has nothing new
          }
        case Some(_) => ()
        case None =>
          rec.skipped(phase, "transform", s"p$p/a tick $t")
          rec.skipped(phase, "transform", s"p$p/b tick $t")
      }
    }

    /** A single transform of A's SQL over every root slice so far: its
      * ledger must hold exactly the union of A's incremental slices. */
    def rederiveA(phase: String): Unit = {
      val l = new Ledger(s"p$p/a_backfill", out.resolve(s"p$p/a_backfill"))
      reqs.transform(exec, phase, "a_backfill", l, TransformRequest(
        datasetId = s"did:a$p", datasetAlias = s"p$p.a", systemTime = systemEpoch.plusSeconds(10L * tick + 5),
        vocab = vocab, queries = OdfSql.a,
        queryInputs = Seq(TransformRequestInput(s"did:root$p", s"p$p.root", "root", vocab,
          Some(OffsetInterval(0, root.next - 1)), root.slices.toSeq, root.slices.head, lastWms)),
        nextOffset = 0, newDataPath = l.newPath()), Seq(root.name), Map("pipeline" -> p))
      ()
    }
  }

  /** Large transforms over a long root history, one pass = T1, T2, T3. */
  final class Backfill(m: com.fasterxml.jackson.databind.JsonNode, out: Path, reqs: Requests, rec: Recorder,
                       var exec: Exec) extends Rounds {
    private val files: Seq[(String, Long, Long)] = {
      val b = Seq.newBuilder[(String, Long, Long)]
      m.get("history").elements().forEachRemaining { f =>
        b += ((f.get("path").asText, f.get("start").asLong, f.get("end").asLong))
      }
      b.result()
    }
    private val n = m.get("rows").asLong
    private val histWms = watermarks(m.get("history_watermarks"))
    private val dimInfo = dim(m)
    private val ledgers = Seq("t1", "t2", "t3").map(s => s -> new Ledger(s, out.resolve(s))).toMap
    private var pass = 0

    private def rootInput(start: Long, end: Long): TransformRequestInput = {
      val paths = files.collect { case (p, s, e) if e >= start && s <= end => p }
      TransformRequestInput("did:root", "root", "root", vocab, Some(OffsetInterval(start, end)),
        paths, paths.head, histWms)
    }

    def runRound(phase: String): Unit = {
      val k = pass
      pass += 1
      val sys = systemEpoch.plusSeconds(k * 10L)
      val plan = Seq(
        ("t1", OdfSql.t1, Seq(rootInput(0, n - 1))),
        ("t2", OdfSql.t2, Seq(rootInput(n / 4 + 137, n - 1))),
        ("t3", OdfSql.t3, Seq(rootInput(n / 8 + 51, 7 * n / 8 - 29), dimInfo.input)),
      )
      plan.zipWithIndex.foreach { case ((step, sql, inputs), j) =>
        val l = ledgers(step)
        reqs.transform(exec, phase, step, l, TransformRequest(
          datasetId = s"did:$step", datasetAlias = step, systemTime = sys.plusSeconds(j.toLong), vocab = vocab,
          queries = sql, queryInputs = inputs, nextOffset = l.next, newDataPath = l.newPath()),
          inputs.map(i => if (i.queryAlias == "dim") "dim" else "root"), Map("pass" -> k))
      }
    }
  }
}
