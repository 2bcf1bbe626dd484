package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.cometbft._

/** `etl_small`: `Pipeline.run` over distinct 4-node simulation dirs from
  * `Fixtures.writeScenario`, each with a seeded height count in 3..8 and
  * a fresh warehouse. The time is fixed per-job overhead, not volume. */
object Etl {
  /** Sim dirs the traced run needs; an untraced run uses the first. */
  private val Dirs = 5

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val heights = Seq.fill(Dirs)(3 + ctx.rng.nextInt(6))
    // input generation is repeated so that its median, not one sample, enters setup_s
    val dirs = (0 until 3).map { rep =>
      ctx.setup(s"inputs.$rep") {
        heights.zipWithIndex.take(if (ctx.trace.isDefined) Dirs else 1).map { case (h, i) =>
          Fixtures.writeScenario(s"${ctx.work}/logs$rep/sim$i-h$h", h)
        }
      }
    }.last
    var wh = 0
    def pipelineOp(i: Int, name: String,
                   wrap: (=> Map[String, Long]) => Map[String, Long] = body => body): Unit = {
      wh += 1
      val out = s"${ctx.work}/warehouse$wh"
      ctx.op(name, values = Map("height" -> heights(i).toDouble)) {
        wrap(Pipeline.run(spark, dirs(i), out))
      }(counts => checks(ctx, dirs(i), out, counts))
        .foreach(_ => if (name == "pipeline") ctx.record("cycle", warmup = false, ctx.lastMeasured(name)))
    }

    // The measured op is the first Pipeline.run of the JVM, as the
    // pipeline's command line runs it: one run per process, cold.
    ctx.trace match {
      case None => pipelineOp(0, "pipeline")
      case Some(t) =>
        def traced(span: String)(body: => Map[String, Long]) = {
          ctx.startTracing(); try t.span(span)(body) finally ctx.stopTracing()
        }
        pipelineOp(0, "pipeline", traced("pipeline_run"))
        // overhead: a traced warm run against the untraced warm runs around it
        pipelineOp(1, "pipeline_warm_a")
        pipelineOp(2, "pipeline_warm_traced", traced("pipeline_warm"))
        pipelineOp(3, "pipeline_warm_b")
        ctx.startTracing()
        breakdown(ctx, t, dirs(4), s"${ctx.work}/breakdown")
        ctx.stopTracing()
        layerMetrics(ctx, t, s"${ctx.work}/warehouse1")
    }
  }

  /** Output checks, run after the clock stops: the returned counts equal
    * the stored ones, per-type event counts match the fixture's closed
    * forms, no event lacks its node, and the content digest matches the
    * pinned one for this height. */
  def checks(ctx: Ctx, logDir: String, wh: String, counts: Map[String, Long]): Seq[Check] = {
    val tables = counts.keys.toSeq.sorted
    val stored = tables.map(t => t -> ctx.spark.read.parquet(s"$wh/$t").collect())
    val countChecks = stored.map { case (t, rows) => Check(s"count.$t", counts(t), Some(rows.length.toLong)) }
    val events = stored.toMap.getOrElse("events", Array.empty[org.apache.spark.sql.Row])
    val byType = events.groupBy(_.getAs[String]("event_type")).view.mapValues(_.length.toLong).toMap
    val typeChecks = Seq("entering_new_round", "committed_block", "send_vote")
      .map(e => Check(s"events.$e", byType.getOrElse(e, 0L)))
    val nullNodes = events.count(_.getAs[String]("node_id") == null).toLong
    // source-file columns hold the run's own paths: hash the file name only
    val dirName = new java.io.File(logDir).getName
    val digest = stored.map { case (t, rows) =>
      val (n, h) = Digest.ofRows(rows, s => if (s.contains(dirName)) s.substring(s.lastIndexOf('/') + 1) else s)
      s"$t:$n:$h"
    }.mkString(";")
    countChecks ++ typeChecks ++ Seq(
      Check("events.null_node_id", nullNodes, Some(0L)),
      Check("digest", f"${scala.util.hashing.MurmurHash3.stringHash(digest)}%08x"))
  }

  /** The layers one by one, the way the pipeline chains them, each in its
    * own span. Ingest and normalize outputs are cached so that each span
    * holds its own layer's work only. */
  private def breakdown(ctx: Ctx, t: Tracer, dir: String, wh: String): Unit = {
    val spark = ctx.spark
    t.span("breakdown") {
      val raw = t.span("ingest") {
        val r = LogIngest.read(spark, dir).persist(StorageLevel.MEMORY_ONLY)
        t.put("ingest.rows_out", r.count().toDouble); r
      }
      val events = t.span("normalize") {
        val e = Normalize.normalize(raw).persist(StorageLevel.MEMORY_ONLY)
        val n = e.count().toDouble
        t.put("normalize.rows_out", n)
        t.put("normalize.keep_ratio", n / t.layerMetrics("ingest.rows_out")); e
      }
      t.span("events_write") {
        events.repartition(col("event_type")).sortWithinPartitions(col("ts_ns"))
          .write.mode("overwrite").partitionBy("event_type").parquet(s"$wh/events")
      }
      events.unpersist(); raw.unpersist()
      val stored = spark.read.parquet(s"$wh/events")
      var written = Map.empty[String, DataFrame]
      Analytics.all.foreach { a =>
        t.span(s"analytic.${a.name}") {
          val tracker = new FrameTracker
          try a.runFrom(stored, written, tracker).foreach { case (table, df) =>
            t.span(s"analytic.${a.name}.sink") {
              df.write.mode("overwrite").parquet(s"$wh/$table")
            }
            written += table -> spark.read.parquet(s"$wh/$table")
          } finally tracker.release()
        }
      }
    }
  }

  private def layerMetrics(ctx: Ctx, t: Tracer, pipelineWh: String): Unit = {
    Seq("ingest", "normalize", "events_write").foreach { l =>
      t.put(s"$l.wall_s", t.durationS(l))
      t.put(s"$l.task_s", t.agg(l).taskNs / 1e9)
    }
    t.put("events_write.shuffle_mb", t.agg("events_write").shuffleBytes / Tracer.Mb)
    t.put("events_write.files", parquetFiles(s"${ctx.work}/breakdown/events").size.toDouble)
    Analytics.all.foreach { a =>
      val n = s"analytic.${a.name}"
      val g = t.agg(n)
      t.put(s"$n.wall_s", t.durationS(n)); t.put(s"$n.task_s", g.taskNs / 1e9); t.put(s"$n.jobs", g.jobs.toDouble)
    }
    val sinks = new java.io.File(pipelineWh).listFiles().filter(f => f.isDirectory && f.getName != "events")
    val sinkFiles = sinks.toSeq.flatMap(d => parquetFiles(d.getPath))
    t.put("sink.files", sinkFiles.size.toDouble)
    t.put("sink.out_mb", sinkFiles.map(_.length()).sum / Tracer.Mb)
    // layer self times against the breakdown's wall time
    val root = t.spansNamed("breakdown").head
    val layers = t.children(root)
    val self = layers.map(l => t.selfS(l) + t.children(l).map(t.selfS).sum).sum
    t.put("trace.layer_coverage_ratio", self / ((root.end - root.start) / 1e9))
    // the whole traced Pipeline.run: scheduling, with jobs attributed to a
    // table by the output path in their SQL execution's plan
    val run = t.spansNamed("pipeline_run").head
    val jobs = t.jobsIn("pipeline_run")
    val taskNs = jobs.map(_.taskNs).sum
    val wallS = (run.end - run.start) / 1e9
    t.put("pipeline.jobs", jobs.size.toDouble)
    t.put("pipeline.task_s", taskNs / 1e9)
    t.put("pipeline.core_busy_ratio", taskNs / 1e9 / (wallS * Runtime.getRuntime.availableProcessors()))
    val edges = jobs.flatMap(j => Seq((j.start, 1), (j.end, -1))).sortBy(e => (e._1, e._2))
    t.put("pipeline.max_concurrent_jobs", edges.scanLeft(0)(_ + _._2).max.toDouble)
    t.put("pipeline.tail_s", if (jobs.isEmpty) 0.0 else (run.end - jobs.map(_.end).max) / 1e9)
    val attributed = jobs.filter(j => t.planOf(j.execId).contains(pipelineWh)).map(_.taskNs).sum
    t.put("pipeline.attributed_ratio", if (taskNs == 0) 0.0 else attributed.toDouble / taskNs)
    t.put("trace_overhead.pipeline_s", ctx.lastMeasured("pipeline_warm_traced") -
      (ctx.lastMeasured("pipeline_warm_a") + ctx.lastMeasured("pipeline_warm_b")) / 2)
  }

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }
}
