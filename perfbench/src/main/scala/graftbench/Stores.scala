package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.text.TextIndex

/** The three standing stores the corpus workloads maintain and serve —
  * cluster table (dedup), BM25 text index, IVF index — and graft's
  * public calls on them, each inside its own span. */
final class Stores(spark: SparkSession, val root: String, tracer: Tracer) {
  val dedup = s"$root/clusters"
  val text = s"$root/text"
  val ann = s"$root/ann"

  def buildClusters(docs: DataFrame): Unit =
    tracer.span("dedup.cluster_init")(Dedup.clusterTableInit(docs, "id", "text", dedup))

  /** The text and ANN indexes (the stores `corpus_serve` reads). */
  def buildIndexes(docs: DataFrame): Unit = {
    tracer.span("text.build")(TextIndex.build(docs, "id", "text", text))
    tracer.span("similarity.ivf_build")(
      Similarity.ivfIndexBuild(docs, "id", "vec", Stores.Cells, Stores.Iters, ann))
  }

  /** One drop into all three stores; returns the drop's cluster labels. */
  def drop(docs: DataFrame, texts: DataFrame): Array[(Long, Long)] = {
    val labels = tracer.span("dedup.cluster_ingest")(
      Dedup.clusterTableIngest(docs, texts, "id", "text", dedup)
        .select(col("id"), col("cluster")).collect().map(r => (r.getLong(0), r.getLong(1))))
    append(docs)
    labels
  }

  /** Text and ANN appends of docs the cluster table already holds. */
  def append(docs: DataFrame): Unit = {
    tracer.span("text.append")(TextIndex.append(docs, "id", "text", text))
    tracer.span("similarity.ivf_append")(Similarity.ivfIndexAppend(docs, "id", "vec", ann))
  }

  def retract(ids: Seq[Long], texts: DataFrame): Unit = {
    import spark.implicits._
    tracer.span("dedup.cluster_retract")(
      Dedup.clusterTableRetract(ids.toDF("id"), texts, "id", "text", dedup))
    tracer.span("text.retract")(TextIndex.retract(spark, text, ids))
    tracer.span("similarity.ann_retract")(Similarity.annIndexRetract(spark, ann, ids))
  }

  def bm25(queries: DataFrame): Array[(Long, Long, Long)] =
    tracer.span("text.topk")(TextIndex.topK(queries, "id", "text", Stores.K, text)
      .select("query_id", "rank", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))

  def annTopK(queries: DataFrame): Array[(Long, Long, Long)] =
    tracer.span("similarity.ivf_topk")(
      Similarity.ivfIndexTopK(queries, "id", "vec", Stores.K, Stores.Probes, ann)
        .select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))

  /** Cluster label of every live id. */
  def labels(): Map[Long, Seq[Long]] =
    Dedup.clusterTable(spark, dedup).select("id", "cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }

  def textLive(): Long = TextIndex.health(spark, text).select("n_docs").head().getLong(0)
  def annLive(): Long = Similarity.annIndexHealth(spark, ann).select("n_vectors").head().getLong(0)
}

object Stores {
  val Cells = 32
  val Iters = 4
  val Probes = 4
  val K = 10

  /** The generated documents, `(id, text, vec)`, cached. */
  def docs(spark: SparkSession, gen: CorpusGen): DataFrame = {
    import spark.implicits._
    val docs = (1 to gen.total).map(i => (i.toLong, gen.text(i), gen.vec(i).toSeq))
      .toDF("id", "text", "vec").repartition(4).cache()
    docs.count()
    docs
  }

  def ids(docs: DataFrame, from: Long, to: Long): DataFrame =
    docs.filter(col("id").between(from, to))

  /** Stages id ranges as one parquet file each in `dir`, with ascending
    * modification times, so a file stream reading one file per trigger
    * replays them in order. */
  def stageDrops(docs: DataFrame, ranges: Seq[(Long, Long)], dir: Path, scratch: Path): Unit = {
    Files.createDirectories(dir)
    val t0 = System.currentTimeMillis() - 60000L
    ranges.zipWithIndex.foreach { case ((a, b), i) =>
      val tmp = scratch.resolve(s"stage$i")
      ids(docs, a, b).select("id", "text").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      val dst = dir.resolve(f"drop$i%03d.parquet")
      Files.move(part, dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
      Inputs.deleteTree(tmp)
    }
  }
}
