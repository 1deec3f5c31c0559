package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.ingest.Ingest
import graft.ops.StoreLock
import graft.plans.{BandSumAgg, HistogramQuantileExpr}
import graft.stats.DashboardStats

/** Per-layer metrics of a traced run: read off the spans of the timed
  * phase, plus probes that call single layer functions directly after
  * it. Every workload reports every metric; a layer the workload does
  * not touch reads 0. */
object Layers {
  /** Every per-layer metric with its unit, in report order. */
  val All: Seq[(String, String)] = Seq(
    "ingest.csv_read.s" -> "s", "ingest.csv_read.rows_per_s" -> "1/s",
    "ingest.write_partitioned.s" -> "s", "ingest.write_partitioned.mb" -> "MB",
    "schema.normalize.s" -> "s") ++ callMetrics("stats.compute") ++ Seq(
    "stats.compute.shuffle_write_mb" -> "MB", "stats.from_base.s" -> "s",
    "plans.band_sum.rows_per_s" -> "1/s", "plans.histogram_quantile.rows_per_s" -> "1/s",
    "plans.minhash_sig.rows_per_s" -> "1/s") ++
    callMetrics("dedup.cluster_ingest") ++ callMetrics("dedup.cluster_retract") ++
    callMetrics("text.append") ++ callMetrics("similarity.ivf_append") ++
    callMetrics("text.topk") ++ callMetrics("similarity.ivf_topk") ++ Seq(
    "ops.store_read.s" -> "s", "ops.lock.s" -> "s", "ops.store_files" -> "count",
    "ops.store_bytes_per_live_byte" -> "ratio",
    "streaming.add_batch_ms" -> "ms", "streaming.overhead_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_busy_frac" -> "frac", "spark.idle_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s", "spark.persistent_rdds_max" -> "count",
    "trace.op_p50_s" -> "s", "trace.op_uncovered_s" -> "s")

  private def callMetrics(call: String): Seq[(String, String)] = Seq(
    s"$call.s" -> "s", s"$call.jobs" -> "count", s"$call.tasks" -> "count",
    s"$call.idle_s" -> "s", s"$call.task_busy_frac" -> "frac")

  /** Median per-call counters of the spans named `call` opened inside
    * a timed operation of kind `opSpan`. */
  private def calls(r: Run, call: String, opSpans: Set[Int]): Unit = {
    val t = r.tracer
    val cs = t.named(call).filter(s => ancestors(t, s.parent).exists(opSpans)).map(t.counters)
    if (cs.nonEmpty) {
      r.layer(s"$call.s", Stats.median(cs.map(_.wallS)), "s")
      r.layer(s"$call.jobs", Stats.median(cs.map(_.jobs.toDouble)), "count")
      r.layer(s"$call.tasks", Stats.median(cs.map(_.tasks.toDouble)), "count")
      r.layer(s"$call.idle_s", Stats.median(cs.map(_.idleS)), "s")
      r.layer(s"$call.task_busy_frac", Stats.median(cs.map(_.taskBusyFrac)), "frac")
    }
  }

  private def ancestors(t: Tracer, id: Int): Seq[Int] =
    Iterator.iterate(id)(i => if (i < 0) -1 else t.parentOf(i)).takeWhile(_ >= 0).toSeq

  /** Span-derived metrics every workload shares, over its primary
    * operation `op`: the spark counters per operation, the traced
    * median, and the operation time its direct child spans do not cover. */
  private def common(r: Run, op: String, opSpanNames: Seq[String]): Set[Int] = {
    val t = r.tracer
    val ops = t.named(op)
    val cs = ops.map(t.counters)
    r.layer("spark.jobs", Stats.median(cs.map(_.jobs.toDouble)), "count")
    r.layer("spark.stages", Stats.median(cs.map(_.stages.toDouble)), "count")
    r.layer("spark.tasks", Stats.median(cs.map(_.tasks.toDouble)), "count")
    r.layer("spark.task_busy_frac", Stats.median(cs.map(_.taskBusyFrac)), "frac")
    r.layer("spark.idle_s", Stats.median(cs.map(_.idleS)), "s")
    r.layer("spark.shuffle_read_mb", Stats.median(cs.map(_.shuffleReadMb)), "MB")
    r.layer("spark.shuffle_write_mb", Stats.median(cs.map(_.shuffleWriteMb)), "MB")
    r.layer("spark.spill_mb", Stats.median(cs.map(_.spillMb)), "MB")
    r.layer("spark.gc_s", Stats.median(cs.map(_.gcS)), "s")
    val timed = opSpanNames.flatMap(t.named)
    r.layer("spark.persistent_rdds_max", timed.map(s => t.counters(s).persistentRdds).max.toDouble, "count")
    r.layer("trace.op_p50_s", Stats.median(cs.map(_.wallS)), "s")
    r.layer("trace.op_uncovered_s", Stats.median(ops.map(t.uncoveredS)), "s")
    timed.map(_.id).toSet
  }

  private def finish(r: Run): Unit = {
    All.foreach { case (n, u) => if (!r.layers.contains(n)) r.layer(n, 0.0, u) }
    val ordered = All.map { case (n, _) => n -> r.layers(n) }
    r.layers.clear(); r.layers ++= ordered
  }

  /** Wall seconds of `body`, inside a span named `name`. */
  private def timed(r: Run, name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    r.tracer.span(name)(body)
    (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def dirMb(path: String): Double =
    Files.walk(Paths.get(path)).iterator.asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum / 1048576.0

  def rtt(r: Run, fact: String, rows: Long): Unit = {
    r.tracer.drain()
    val t = r.tracer
    val opSpans = common(r, "rtt.cube", Seq("rtt.cube", "rtt.refresh"))
    calls(r, "stats.compute", opSpans)
    val computes = t.named("stats.compute").filter(s => opSpans(s.parent)).map(t.counters)
    r.layer("stats.compute.shuffle_write_mb", Stats.median(computes.map(_.shuffleWriteMb)), "MB")
    // ingest: per full ingest (one per set-up), the sums of its calls
    val ingests = t.named("setup")
    def perIngest(name: String): Double =
      Stats.median(ingests.map(op => t.named(name).filter(_.parent == op.id).map(t.counters(_).wallS).sum))
    r.layer("ingest.write_partitioned.s", perIngest("ingest.write_partitioned"), "s")
    r.layer("schema.normalize.s", perIngest("schema.normalize"), "s")
    r.layer("ingest.write_partitioned.mb", dirMb(fact), "MB")

    // probes: the raw CSV parse, the stats step over a prepared base,
    // and the two plans kernels, each over the same inputs
    val spark = r.spark
    val in = r.dir.resolve("in")
    val csvs = Files.list(in).iterator.asScala.map(_.toString).filter(_.matches(".*rtt_[A-Za-z0-9]+\\.csv")).toSeq
    val readS = timed(r, "ingest.csv_read")(csvs.foreach(f => noop(Ingest.csvMangledNames(spark, f))))
    r.layer("ingest.csv_read.s", readS, "s")
    r.layer("ingest.csv_read.rows_per_s", rows / readS, "1/s")
    val f = spark.read.parquet(fact).filter(col("commissioner_code") =!= "NONC").cache()
    val factRows = f.count()
    val base = f.groupBy(col("monthyr"), col("provider").as("grp"), col("specialty"),
        col("pathway"), col("is_provider"))
      .agg(BandSumAgg.bandSum(spark, col("weeks"), 105).as("weeks"),
        coalesce(sum("unknown_start"), lit(0L)).as("unknown_start"),
        coalesce(sum("total_all"), lit(0L)).as("total_all"))
      .cache()
    base.count()
    r.layer("stats.from_base.s", timed(r, "stats.from_base")(noop(DashboardStats.statsFromBase(base))), "s")
    val bandS = timed(r, "plans.band_sum")(noop(f.groupBy(col("monthyr"), col("provider"),
      col("specialty"), col("pathway")).agg(BandSumAgg.bandSum(spark, col("weeks"), 105))))
    r.layer("plans.band_sum.rows_per_s", factRows / bandS, "1/s")
    val quantileS = timed(r, "plans.histogram_quantile")(noop(f.select(
      HistogramQuantileExpr.histogramQuantile(spark, col("weeks"), col("total_all"), lit(0.5)))))
    r.layer("plans.histogram_quantile.rows_per_s", factRows / quantileS, "1/s")
    spark.catalog.clearCache()
    finish(r)
  }

  def maintain(r: Run, s: Stores, docs: DataFrame, standing: Int): Unit = {
    r.tracer.drain()
    val opSpans = common(r, "maint.drop",
      Seq("maint.drop", "maint.stream", "maint.retract", "serve.query_batch"))
    Seq("dedup.cluster_ingest", "dedup.cluster_retract", "text.append",
      "similarity.ivf_append", "text.topk", "similarity.ivf_topk").foreach(calls(r, _, opSpans))
    val batches = r.tracer.named("streaming.cluster_ingest").flatMap(r.tracer.counters(_).batches)
    if (batches.nonEmpty) {
      r.layer("streaming.add_batch_ms", Stats.median(batches.map(_._1.toDouble)), "ms")
      r.layer("streaming.overhead_ms", Stats.median(batches.map(b => (b._2 - b._1).toDouble)), "ms")
    }
    val spark = r.spark
    r.layer("ops.store_read.s", Stats.median((1 to 3).map(_ =>
      timed(r, "ops.store_read")(Dedup.clusterTable(spark, s.dedup).count()))), "s")
    r.layer("ops.lock.s", Stats.median((1 to 5).map(_ =>
      timed(r, "ops.lock")(StoreLock.withLock(spark, s"${s.root}/lock-probe")(())))), "s")
    // live files of the table-layout stores (cluster labels, text
    // postings) by Dedup.storeHealth, and bytes on disk per live byte
    val stores = Seq(s"${s.dedup}/labels", s.text)
    val live = stores.map(p => Dedup.storeHealth(spark, p).select("n_files", "total_bytes").head())
    r.layer("ops.store_files", live.map(_.getLong(0)).sum.toDouble, "count")
    r.layer("ops.store_bytes_per_live_byte",
      stores.map(dirMb).sum * 1048576.0 / math.max(1.0, live.map(_.getLong(1)).sum.toDouble), "ratio")
    val corpus = Stores.ids(docs, 1, standing)
    val sigS = timed(r, "plans.minhash_sig")(noop(Dedup.minHashSignatures(corpus, "id", "text", 3, 64)))
    r.layer("plans.minhash_sig.rows_per_s", standing / sigS, "1/s")
    finish(r)
  }
}
