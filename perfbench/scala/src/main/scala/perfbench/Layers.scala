package perfbench

import java.nio.file.{Files, Path}

/** Per-layer figures of a traced ODF run. The untraced phase gives the
  * transport and Spark figures per request; the traced replay gives each
  * engine layer's time and Spark work. */
object Layers {
  private val layers = Seq("sessions", "inputs", "queries", "normalize", "validate", "system_columns", "sink")

  def odf(ctx: Ctx, rec: Recorder, server: ServerProbe, jobs: JobProbe, tracer: Tracer): Map[String, (Double, String)] = {
    val aggs = jobs.snapshot(ctx.spark.sparkContext)
    val timed = rec.timed("timed").filter(_.ok)
    val transforms = timed.filter(_.kind == "transform")
    val records = rec.synchronized(rec.records.toSeq)
    def transformRecords(phase: String) =
      records.filter(r => r("phase") == phase && r("kind") == "transform" && r("ok") == true)

    val outputs = transformRecords("timed").flatMap { r =>
      for (s <- r("start").asInstanceOf[Option[Long]]; e <- r("end").asInstanceOf[Option[Long]])
        yield (Files.size(Path.of(r("path").toString)), e - s + 1)
    }
    val server_ = transforms.flatMap(s => server.get(s.key).map(s -> _))
    def engineMs(t: ServerTiming) = (t.engineEnd - t.engineStart) / 1e6
    val untracedEngine = Stats.median(server_.map(x => engineMs(x._2)))

    val spans = tracer.all
    val children = spans.groupBy(_.parent)
    val engines = spans.filter(_.name == "engine.transform")
    val self = tracer.selfMs
    def child(e: Span, layer: String) = children.getOrElse(e.id, Nil).filter(_.name == layer)
    def layerMs(layer: String) = Stats.median(engines.map(e => child(e, layer).map(_.ms).sum))
    def layerAgg(layer: String)(f: JobAgg => Double) =
      Stats.mean(engines.map(e => child(e, layer).flatMap(c => aggs.get(s"span:${c.id}")).map(f).sum))
    val tracedEngine = Stats.median(engines.map(_.ms))
    val inputFiles = transformRecords("traced").map { r =>
      r("inputs").asInstanceOf[Seq[Map[String, Any]]].map(_("paths").asInstanceOf[Seq[String]].size).sum.toDouble
    }

    Map(
      "transform_ms_p50" -> (Stats.median(transforms.map(_.ms)), "ms"),
      "transform_samples" -> (transforms.size.toDouble, "count"),
      "raw_query_ms_p50" -> (Stats.median(timed.filter(_.kind == "raw").map(_.ms)), "ms"),
      "ledger_bytes_per_row" -> (outputs.map(_._1).sum.toDouble / math.max(1L, outputs.map(_._2).sum), "B/row"),
      "server.decode_us" -> (Stats.median(server_.map(_._2.decodeNs / 1e3)), "us"),
      "server.encode_us" -> (Stats.median(server_.map(_._2.encodeNs / 1e3)), "us"),
      "server.queue_wait_ms" -> (Stats.median(server_.map(x => (x._2.engineStart - x._2.decodedAt) / 1e6)), "ms"),
      "server.overhead_ms" -> (Stats.median(server_.map(x => x._1.ms - engineMs(x._2))), "ms"),
      "inputs.spark_jobs" -> (layerAgg("inputs")(_.jobs.toDouble), "count"),
      "inputs.files" -> (Stats.mean(inputFiles), "count"),
      "system_columns.spark_jobs" -> (layerAgg("system_columns")(_.jobs.toDouble), "count"),
      "sink.spark_jobs" -> (layerAgg("sink")(_.jobs.toDouble), "count"),
      "sink.tasks" -> (layerAgg("sink")(_.tasks.toDouble), "count"),
      "sink.task_ms" -> (layerAgg("sink")(_.taskMs), "ms"),
      "sink.bytes_written" -> (Stats.mean(engines.map(e => Files.size(Path.of(e.request)).toDouble)), "B"),
      "trace.engine_ms" -> (tracedEngine, "ms"),
      "trace.untraced_engine_ms" -> (untracedEngine, "ms"),
      "trace.gap_ms" -> (tracedEngine - untracedEngine, "ms"),
      "trace.unspanned_ms" -> (Stats.median(engines.map(e => self(e.id))), "ms"),
    ) ++ layers.map(l => s"$l.ms" -> (layerMs(l), "ms")) ++
      Metrics.sparkPerRequest(transforms.flatMap(s => aggs.get(s"req:${s.key}")), transforms.size,
        transforms.map(_.rows).sum)
  }
}
