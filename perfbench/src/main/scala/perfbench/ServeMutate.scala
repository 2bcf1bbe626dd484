package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import graft.sources.{Layout, Manifest}

/** `serve_mutate`: a fixed number of cycles, one after the other, each a
  * read-only serving pass over `SparkEntry.queries` entries (seeded order)
  * and a table mutation sequence on a clustered lineitem table:
  * deletion-vector delete, copy delete, keyed upsert and a box count
  * through `Manifest.read`. */
object ServeMutate extends AdaptiveSparkPlanHelper {
  /** One entry per operator family: relational aggregation, sessionize,
    * as-of join through its optimizer rewrite, text n-grams, vector ANN and
    * envelope pruning of a clustered table. */
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "q12_sessions", "q121_naive_asof_rewrite", "q114_ngram_novelty",
    "q34_ivf_ann", "q144_envelope_auto_prune")
  /** Measured time of one cycle on 4 cores; a run measures a fixed number
    * of cycles, `--seconds` divided by this, whatever the host's speed. */
  private val NominalCycleS = 13.0
  private val MutOps = Seq("delete_dv", "delete_copy", "merge")
  /** Ops whose traced and untraced times give the tracing overhead. */
  private val Timed = "serve_pass" +: MutOps :+ "snapshot_read"

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // the served tables are the engine's sf0.01 test tables, kept in perfbench/data
    val data = ctx.data
    // The mutated table is a clustered copy of lineitem with a unique row
    // key for the keyed upsert. Writing it is repeated so that its median,
    // not one sample, enters setup_s.
    val keyed = (0 until 3).map { rep =>
      val out = s"${ctx.work}/keyed$rep.parquet"
      ctx.setup(s"inputs.$rep") {
        spark.read.parquet(s"$data/lineitem.parquet").coalesce(1)
          .withColumn("l_id", monotonically_increasing_id()).write.parquet(out)
      }
      out
    }.last
    val base = spark.read.parquet(keyed)
    val Row(maxKey: Long, maxPart: Long) = base.agg(max("l_orderkey"), max("l_partkey")).head()
    var cycle = 0
    def runCycle(): Unit = {
      cycle += 1
      val times = serve(ctx, data) +: mutate(ctx, base, s"${ctx.work}/table$cycle", maxKey, maxPart)
      if (times.forall(_.isDefined)) ctx.record("cycle", warmup = false, times.flatten.sum)
    }
    // Warm-up: each served query twice and the mutation sequence once on a
    // 5% sample table of its own, several at a time. Cold, the mutation ops
    // took up to half as long again as warm ones. With one warm-up round,
    // the serving pass spread 0.16 of its median from run to run; with two,
    // 0.10 (five seeds each, 4 cores).
    ctx.setup("warmup") {
      val sample = base.filter(col("l_id") % 20 === 0)
      concurrently(
        (() => { mutate(ctx, sample, s"${ctx.work}/table0", maxKey, maxPart, warmup = true); () }) +:
          (Queries ++ Queries).map(q => () => { ctx.op(s"serve.$q", warmup = true)(runQuery(ctx, q, data))(queryChecks(q)); () }))
    }
    ctx.trace match {
      case None =>
        (1 to math.max(1, math.round(ctx.seconds / NominalCycleS).toInt)).foreach(_ => runCycle())
      case Some(_) =>
        // overhead: the traced cycle against the untraced cycles around it
        runCycle()
        val before = Timed.map(n => n -> ctx.lastMeasured(n)).toMap
        val t = ctx.startTracing()
        runCycle()
        ctx.stopTracing()
        val traced = Timed.map(n => n -> ctx.lastMeasured(n)).toMap
        runCycle()
        layerMetrics(t)
        Timed.foreach(n => t.put(s"trace_overhead.${n}_s", traced(n) - (before(n) + ctx.lastMeasured(n)) / 2))
    }
  }

  private def concurrently(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try tasks.map(f => pool.submit(new Runnable { def run(): Unit = f() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** A query's time is its preparation (the query function and physical
    * planning, including any eager jobs it runs) plus the collection of
    * its result. */
  private def runQuery(ctx: Ctx, q: String, data: String) = {
    def in[A](phase: String)(body: => A): A = ctx.traced.fold(body)(_.span(s"serve.$q.$phase")(body))
    val (df, prep) = ctx.timed(in("prepare") {
      val df = graft.SparkEntry.queries(q)(ctx.spark, data); df.queryExecution.executedPlan; df
    })
    val (rows, exec) = ctx.timed(in("exec")(df.collect()))
    (df, rows, prep, exec)
  }

  private def queryChecks(q: String)(r: (DataFrame, Array[org.apache.spark.sql.Row], Double, Double)) = {
    val (n, h) = Digest.ofRows(r._2)
    Seq(Check(s"$q.rows", n), Check(s"$q.hash", h))
  }

  /** One pass over the mix in a seeded order. */
  private def serve(ctx: Ctx, data: String): Option[Double] = {
    var pass = 0.0
    var ok = true
    RuleExecutor.resetMetrics()
    ctx.rng.shuffle(Queries).foreach { q =>
      ctx.op(s"serve.$q")(runQuery(ctx, q, data))(queryChecks(q)) match {
        case Some((df, _, prep, exec)) =>
          pass += prep + exec
          ctx.traced.foreach { t =>
            t.put(s"serve.$q.prepare_s", prep); t.put(s"serve.$q.exec_s", exec)
            t.put("serve.exchanges", t.layerMetrics.getOrElse("serve.exchanges", 0.0) +
              collectWithSubqueries(df.queryExecution.executedPlan) { case e: Exchange => e }.size)
          }
        case None => ok = false
      }
    }
    if (ok) ctx.record("serve_pass", warmup = false, pass)
    ctx.traced.foreach { t =>
      // graft's injected Catalyst rules, from the optimizer's own metering
      val rule = """^\s*(\S+)\s+(\d+) / (\d+)\s+(\d+) / (\d+)\s*$""".r
      val graftRules = RuleExecutor.dumpTimeSpent().split("\n").toSeq.collect {
        case rule(name, _, time, eff, runs) if name.startsWith("graft.") => (time.toLong, eff.toLong, runs.toLong)
      }
      t.put("plans.graft_rules_s", graftRules.map(_._1).sum / 1e9)
      val runs = graftRules.map(_._3).sum
      t.put("plans.effective_ratio", if (runs == 0) 0.0 else graftRules.map(_._2).sum.toDouble / runs)
    }
    if (ok) Some(pass) else None
  }

  private def box(ctx: Ctx, maxKey: Long, maxPart: Long): Seq[(String, Any, Any)] = {
    val k = (ctx.rng.nextDouble() * maxKey * 0.9).toLong
    val p = (ctx.rng.nextDouble() * maxPart * 0.5).toLong
    Seq(("l_orderkey", k, k + maxKey / 20), ("l_partkey", p, p + maxPart / 2))
  }

  private def inBox(b: Seq[(String, Any, Any)]) =
    b.map { case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi) }.reduce(_ && _)

  /** The mutation sequence on a fresh clustered copy of the base table.
    * Each op's check compares the snapshot count (read only through
    * `Manifest.read`) with a plain-DataFrame replay over the base rows. */
  private def mutate(ctx: Ctx, base: DataFrame, dir: String, maxKey: Long, maxPart: Long,
                     warmup: Boolean = false): Seq[Option[Double]] = {
    val spark = ctx.spark
    def in[A](name: String)(body: => A): A = ctx.traced.fold(body)(_.span(name)(body))
    val (_, clusterS) = ctx.timed(in("cluster_write") {
      Layout.clusterWrite(base, Seq("l_orderkey", "l_partkey"), 16, dir)
    })
    ctx.traced.foreach(_.put("cluster_write.wall_s", clusterS))
    val dvBox = box(ctx, maxKey, maxPart)
    val copyBox = box(ctx, maxKey, maxPart)
    val readBox = box(ctx, maxKey, maxPart)
    val salt = ctx.rng.nextLong()
    val upd = base.filter(pmod(xxhash64(lit(salt), col("l_id")), lit(100L)) === 0)
      .withColumn("l_quantity", col("l_quantity") + 1)
      .unionByName(base.filter(pmod(xxhash64(lit(salt), col("l_id")), lit(200L)) === 1)
        .withColumn("l_id", col("l_id") + (1L << 40)))
    val afterDv = base.filter(!inBox(dvBox))
    val afterCopy = afterDv.filter(!inBox(copyBox))
    val afterMerge = afterCopy.join(upd.select("l_id"), Seq("l_id"), "left_anti").unionByName(upd)
    def snapshot = Manifest.read(spark, dir)
    def stepOp(name: String, replay: DataFrame)(body: => Layout.MutationStats): Option[Double] =
      ctx.op(name, warmup)(in(s"mutate.$name")(body)) { stats =>
        ctx.traced.foreach { t =>
          val total = stats.droppedFiles + stats.rewrittenFiles + stats.untouchedFiles + stats.dvFiles
          t.put(s"mutate.$name.rewrite_ratio",
            if (total == 0) 0.0 else (stats.rewrittenFiles + stats.dvFiles).toDouble / total)
        }
        Seq(Check(s"$name.snapshot_rows", snapshot.count(), Some(replay.count())))
      }.map(_ => ctx.lastMeasured(name))
    val steps = Seq(
      stepOp("delete_dv", afterDv)(Layout.deleteWhere(spark, dir, dvBox, mode = "dv")),
      stepOp("delete_copy", afterCopy)(Layout.deleteWhere(spark, dir, copyBox, mode = "copy")),
      stepOp("merge", afterMerge)(Layout.upsertKeyed(spark, dir, upd, Seq("l_id"))))
    steps :+ ctx.op("snapshot_read", warmup, values = Map("table_mb" -> liveMb(ctx, dir))) {
      in("snapshot_read") {
        val counted = snapshot.filter(inBox(readBox)).groupBy().count()
        (counted, counted.collect().head.getLong(0))
      }
    } { case (df, n) =>
      ctx.traced.foreach { t =>
        val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
          case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.getName == new java.io.File(dir).getName) => s
        }
        val read = scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
        t.put("snapshot_read.files_read_ratio", read.toDouble / Manifest.info(spark, dir).files.size)
      }
      Seq(Check("snapshot_read.rows", n, Some(afterMerge.filter(inBox(readBox)).count())))
    }.map(_ => ctx.lastMeasured("snapshot_read"))
  }

  /** On-disk size of the files the latest snapshot references. */
  private def liveMb(ctx: Ctx, dir: String): Double = {
    val info = Manifest.info(ctx.spark, dir)
    val dv = info.dv.map(n => new java.io.File(s"$dir.dvs/$n")).filter(_.exists)
    (info.files.map(f => new java.io.File(s"$dir/$f")).map { f =>
      require(f.isFile, s"snapshot file missing: $f"); f.length()
    }.sum + dv.map(sizeOf).sum) / Tracer.Mb
  }

  private def sizeOf(f: java.io.File): Long =
    if (f.isDirectory) f.listFiles().map(sizeOf).sum else f.length()

  private def layerMetrics(t: Tracer): Unit = {
    Queries.foreach(q => t.put(s"serve.$q.task_s", t.agg(s"serve.$q").taskNs / 1e9))
    val serve = Queries.map(q => t.agg(s"serve.$q"))
    t.put("serve.shuffle_mb", serve.map(_.shuffleBytes).sum / Tracer.Mb)
    t.put("serve.spill_mb", serve.map(_.spillBytes).sum / Tracer.Mb)
    MutOps.foreach { op =>
      val g = t.agg(s"mutate.$op")
      t.put(s"mutate.$op.task_s", g.taskNs / 1e9)
      t.put(s"mutate.$op.written_mb", g.writtenBytes / Tracer.Mb)
    }
    t.put("snapshot_read.task_s", t.agg("snapshot_read").taskNs / 1e9)
  }
}
