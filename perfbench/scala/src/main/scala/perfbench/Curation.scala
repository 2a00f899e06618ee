package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** Repeated passes over a fixed set of the LLM-curation queries; each query
  * is one operation, collected to the driver as a caller would. */
object Curation {

  val queries: Seq[String] = Seq("q_text_perplexity", "q_bpe_encode", "q_decontaminate_fuzzy", "q_semantic_dedup")

  private val embeddingQueries = Set("q_semantic_dedup")

  def run(ctx: Ctx): Map[String, (Double, String)] = {
    val spark = ctx.spark
    val dir = ctx.manifest.get("data_dir").asText
    val inputRows = queries.map { q =>
      q -> ctx.manifest.get(if (embeddingQueries(q)) "embeddings" else "documents").asLong
    }.toMap
    val probe = if (ctx.trace) Some(JobProbe.install(spark)) else None
    val rec = new Recorder
    val first = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
    val rendered = mutable.Map.empty[String, Seq[String]]

    def runQuery(q: String, phase: String, pass: Int): Unit = {
      val t0 = System.nanoTime()
      val result =
        try {
          val df = JobProbe.keyed(spark.sparkContext, s"q:$q:$pass")(SparkEntry.queries(q)(spark, dir))
          val rows = JobProbe.keyed(spark.sparkContext, s"q:$q:$pass")(df.collect())
          Right((df.schema, rows))
        } catch { case e: Exception => Left(e.toString) }
      val ms = (System.nanoTime() - t0) / 1e6
      // every pass must return exactly what the first returned
      val error = result match {
        case Left(e) => Some(e)
        case Right((schema, rows)) =>
          val r = rows.toSeq.map(_.toString)
          if (!first.contains(q)) { first(q) = (schema, rows); rendered(q) = r; None }
          else if (rendered(q) != r) Some(s"pass $pass differs from the first pass")
          else None
      }
      rec.sample(Sample(phase, "query", q, ms, inputRows(q), error.isEmpty),
        Map("query" -> q, "phase" -> phase, "pass" -> pass, "ms" -> ms, "ok" -> error.isEmpty, "error" -> error),
        error)
    }

    var pass = 0
    def runPass(phase: String): Unit = {
      queries.foreach(runQuery(_, phase, pass))
      pass += 1
      spark.catalog.clearCache()
    }

    Loop.timed(Seq(()), ctx.warmupSeconds)(_ => runPass("warmup"))
    val setupS = ctx.setupS(rec)
    val timedStart = pass
    val timedMs = Loop.timed(Seq(()), ctx.seconds)(_ => runPass("timed"))
    val timedPasses = pass - timedStart

    // outputs for the independent checker: the first pass's rows per query
    val outDir = ctx.out.resolve("curation")
    first.foreach { case (q, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(outDir.resolve(q).toString)
    }
    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.writeString(ctx.out.resolve("oracle.json"),
      Json.write(queries.flatMap(q => oracle.get(q).map(q -> _)).toMap))
    ctx.finish(rec)

    val timed = rec.timed("timed")
    if (!ctx.trace) Metrics.endToEnd(rec, "timed", setupS, timedMs)
    else {
      val aggs = probe.get.snapshot(spark.sparkContext)
      def keys(q: String) = (timedStart until timedStart + timedPasses).map(p => s"q:$q:$p")
      val perQuery = queries.flatMap { q =>
        val as = keys(q).flatMap(aggs.get)
        val n = timedPasses.max(1).toDouble
        Seq(
          s"curation.$q.s" -> (Stats.median(timed.filter(_.key == q).map(_.ms / 1000)), "s"),
          s"curation.$q.spark_jobs" -> (as.map(_.jobs).sum / n, "count"),
          s"curation.$q.task_s" -> (as.map(_.taskMs).sum / 1000 / n, "s"),
          s"curation.$q.shuffle_bytes" -> (as.map(_.shuffleWriteBytes).sum / n, "B"))
      }
      val all = queries.flatMap(keys).flatMap(aggs.get)
      perQuery.toMap ++ Metrics.sparkPerRequest(all, all.size, inputRows = timed.map(_.rows).sum) +
        ("jvm.peak_rss_mb" -> (Rss.peakMb(), "MiB"))
    }
  }
}
