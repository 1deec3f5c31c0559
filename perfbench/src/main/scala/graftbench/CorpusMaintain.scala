package graftbench

import graft.similarity.Similarity
import graft.streaming.PipelineStreams

/** `corpus_maintain`: the write path of the corpus stores, then their
  * read path. Bound by job count and idle time, not data; stresses
  * dedup, ops (table layout, store lock, merge), the text and ANN
  * writers and readers, streaming and the per-job floor, and bypasses
  * ingest, schema and stats.
  *
  * Set-up builds the three stores (cluster table, BM25 text index, IVF
  * index) over the standing corpus, then applies one untimed drop to
  * all three, so that the first drop's class loading, code generation
  * and JIT are paid there and op1 times warm drops. The timed phase, in
  * order:
  *   - op1: equal drops into all three stores, until [[DropShare]] of
  *     the time budget is spent and at least [[MinDrops]];
  *   - op2: one closed-loop client sending query batches — BM25 top-10
  *     and IVF top-10 for [[BatchSize]] queries each — over the
  *     maintained stores, until the whole time budget is spent and
  *     every batch of the pool was served once. Reads come after the writes,
  *     so a write-path change that costs reads (more generations, more
  *     files) shows here.
  * A traced run then also applies [[StreamBatches]] drops as
  * micro-batches of `clusterIngestStream` (followed by their text and
  * ANN appends) and one takedown batch against all three stores, for
  * the streaming and retraction layers. No end-to-end metric reads
  * them, so untraced runs skip them: each costs as much as a drop. */
object CorpusMaintain {
  val Standing = 600
  val DropSize = 30
  val MaxDrops = 4
  val MinDrops = 1
  val DropShare = 0.4
  val StreamBatches = 1
  val Batches = 4
  val BatchSize = 16

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val total = Standing + (1 + MaxDrops + StreamBatches) * DropSize
    val gen = new CorpusGen(r.seed, total)
    val docs = Stores.docs(spark, gen)
    val standing = Stores.ids(docs, 1, Standing)

    def checkLabels(labels: Array[(Long, Long)], a: Long, b: Long): Unit =
      require(labels.map(_._1).sorted.toSeq == (a to b),
        s"drop $a..$b returned labels for ${labels.length} ids")
    val warm = (Standing + 1L, Standing.toLong + DropSize)
    val stores = r.setup {
      val s = new Stores(spark, s"${r.dir}/stores", r.tracer)
      s.buildClusters(standing)
      s.buildIndexes(standing)
      checkLabels(r.tracer.span("warmup.drop")(s.drop(Stores.ids(docs, warm._1, warm._2), docs)),
        warm._1, warm._2)
      s
    }

    var live = (1L to warm._2).toSet
    val start = System.nanoTime()
    val deadline = start + (DropShare * r.seconds * 1e9).toLong
    var next = warm._2
    var drops = 0
    while (drops < MaxDrops && (drops < MinDrops || System.nanoTime() < deadline)) {
      val (a, b) = (next + 1, next + DropSize)
      r.tracer.newRequest()
      r.op("drop", "maint.drop")(stores.drop(Stores.ids(docs, a, b), docs))(checkLabels(_, a, b))
      live ++= (a to b); next = b; drops += 1
      r.sampleHeap()
    }
    next = warm._2 + MaxDrops * DropSize

    // serving: query pools drawn from live docs; exact ANN answers first
    val rnd = new java.util.Random(RttGen.mix(r.seed, 41, 0))
    val liveIds = live.toSeq.sorted
    val qid = 1000000000L
    def sources() = Seq.tabulate(Batches, BatchSize)((b, i) =>
      (qid + b * BatchSize + i, liveIds(rnd.nextInt(liveIds.size)).toInt))
    val bm25Sources = sources()
    val annSources = sources()
    val bm25Queries = bm25Sources.map(_.map { case (q, s) => (q, gen.bm25Query(s, rnd)) }
      .toDF("id", "text").cache())
    val annQueries = annSources.map(_.map { case (q, s) => (q, gen.annQuery(s, rnd).toSeq) }
      .toDF("id", "vec").cache())
    val liveDocs = docs.filter($"id".isin(liveIds: _*))
    val exact = annQueries.map(q => Similarity.bruteForceTopK(q, liveDocs, "id", "vec", Stores.K)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet })
    r.check("exact answers")(require(
      exact.forall(e => e.size == BatchSize && e.values.forall(_.size == Stores.K)),
      s"exact top-${Stores.K} incomplete"))

    type Answers = Array[(Long, Long, Long)]
    val first = new Array[(Answers, Answers)](Batches)
    var hits = 0; var hitN = 0
    var recallSum = 0.0; var recallN = 0
    def wellFormed(res: Answers, queries: Seq[(Long, Int)]): Unit = {
      require(res.map(_._1).toSet.subsetOf(queries.map(_._1).toSet), "answer for an unknown query id")
      res.groupBy(_._1).values.foreach { rows =>
        require(rows.map(_._2).sorted.toSeq == (1L to rows.length), "ranks are not 1..n")
        require(rows.length <= Stores.K, s"more than ${Stores.K} answers")
        require(rows.forall(x => live(x._3)), "answer is not a live document")
      }
    }
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val v = body; (v, (System.nanoTime() - t0) / 1e9)
    }
    val serveEnd = start + (r.seconds * 1e9).toLong
    var i = 0
    while (i < Batches || System.nanoTime() < serveEnd) {
      val b = i % Batches
      r.tracer.newRequest()
      r.op("query", "serve.query_batch") {
        (timed(stores.bm25(bm25Queries(b))), timed(stores.annTopK(annQueries(b))))
      } { case ((text, textS), (ann, annS)) =>
        wellFormed(text, bm25Sources(b))
        wellFormed(ann, annSources(b))
        if (first(b) == null) {
          first(b) = (text, ann)
          val textTop = text.groupBy(_._1).map { case (q, rows) => q -> rows.map(_._3).toSet }
          bm25Sources(b).foreach { case (q, s) =>
            hitN += 1
            if (textTop.getOrElse(q, Set.empty[Long]).contains(s.toLong)) hits += 1
          }
          val annTop = ann.groupBy(_._1).map { case (q, rows) => q -> rows.map(_._3).toSet }
          exact(b).foreach { case (q, want) =>
            recallN += 1
            recallSum += annTop.getOrElse(q, Set.empty[Long]).intersect(want).size.toDouble / want.size
          }
        } else require(text.sorted.sameElements(first(b)._1.sorted) &&
          ann.sorted.sameElements(first(b)._2.sorted), s"query batch $b answered differently on a repeat")
        r.times.getOrElseUpdate("bm25", scala.collection.mutable.ArrayBuffer.empty) += textS
        r.times.getOrElseUpdate("ann", scala.collection.mutable.ArrayBuffer.empty) += annS
      }
      r.sampleHeap()
      i += 1
    }
    r.finishHeap()

    // traced runs only: a stream micro-batch and a takedown, for the
    // streaming and retraction layers (no end-to-end metric reads them)
    var takedown = Seq.empty[Long]
    if (r.traced) {
      // micro-batches: cluster table via the stream, then the other stores
      val ranges = (0 until StreamBatches).map(i =>
        (next + i * DropSize + 1, next + (i + 1) * DropSize))
      val dropsDir = r.dir.resolve("stream/drops")
      Stores.stageDrops(docs, ranges, dropsDir, r.dir.resolve("stream"))
      r.tracer.drain()
      val batchesBefore = r.tracer.streamBatches.size
      r.tracer.newRequest()
      r.op("stream", "maint.stream") {
        r.tracer.span("streaming.cluster_ingest")(PipelineStreams.clusterIngestStream(
          spark, dropsDir.toString, docs, "id", "text", stores.dedup,
          r.dir.resolve("stream/checkpoint").toString))
        stores.append(Stores.ids(docs, ranges.head._1, ranges.last._2))
      } { _ => () }
      r.tracer.drain()
      val batches = r.tracer.streamBatches.drop(batchesBefore).toSeq
      r.check("stream batches")(require(batches.size == StreamBatches,
        s"stream ran ${batches.size} non-empty micro-batches, expected $StreamBatches"))
      r.times("stream_batch") = scala.collection.mutable.ArrayBuffer(batches.map(_._2 / 1000.0): _*)
      live ++= (ranges.head._1 to ranges.last._2)

      // takedown: a seeded mix of planted-group members and other docs
      val pick = scala.util.Random.javaRandomToRandom(new java.util.Random(RttGen.mix(r.seed, 47, 0)))
      val planted = gen.groups.toSeq.flatten.map(_.toLong).filter(live)
      val others = live.toSeq.sorted.filterNot(planted.toSet)
      takedown = (pick.shuffle(planted).take(DropSize / 3) ++
        pick.shuffle(others).take(DropSize - DropSize / 3)).sorted
      r.tracer.newRequest()
      r.op("retract", "maint.retract")(stores.retract(takedown, docs))(_ => ())
      live --= takedown
    }

    // end-state checks
    var pairRecall = 0.0
    r.check("cluster labels") {
      val labels = stores.labels()
      val multi = labels.count(_._2.size != 1)
      require(multi == 0, s"$multi ids carry more than one cluster label")
      require(labels.keySet == live, s"labelled ids differ from live ids: " +
        s"${(labels.keySet -- live).take(5)} extra, ${(live -- labels.keySet).take(5)} missing")
      val label = labels.map { case (k, v) => k -> v.head }
      val pairs = gen.plantedPairs(i => live(i.toLong))
      pairRecall = pairs.count { case (a, b) => label(a.toLong) == label(b.toLong) }.toDouble /
        math.max(1, pairs.size)
      val merged = gen.controls.filter(c => live(c.toLong)).filter { c =>
        gen.groups(gen.controlGroup(c)).exists(m => live(m.toLong) && label(m.toLong) == label(c.toLong))
      }
      require(merged.isEmpty, s"control docs ${merged.take(5)} merged into their planted group")
    }
    r.check("text index live count")(require(stores.textLive() == live.size,
      s"text index holds ${stores.textLive()} live docs, expected ${live.size}"))
    r.check("ann index live count")(require(stores.annLive() == live.size,
      s"ANN index holds ${stores.annLive()} live vectors, expected ${live.size}"))

    val hitAt10 = hits.toDouble / math.max(1, hitN)
    val recall = recallSum / math.max(1, recallN)
    r.info("inputs") = Map("sha256" -> gen.sha256, "docs" -> total, "standing" -> Standing,
      "drop_size" -> DropSize, "warmup_drops" -> 1, "stream_batches" -> StreamBatches, "takedown" -> takedown.size,
      "planted_groups" -> gen.groups.size, "controls" -> gen.controls.size,
      "vocab" -> CorpusGen.VocabSize, "dim" -> CorpusGen.Dim, "ivf_cells" -> Stores.Cells,
      "ivf_probes" -> Stores.Probes, "query_batches" -> Batches, "batch_size" -> BatchSize,
      "query_words" -> CorpusGen.QueryWords)
    r.info("maint.drops") = drops
    r.info("maint.drop_p50_s") = r.p50("drop")
    if (r.traced) {
      r.info("maint.stream_batch_p50_s") = r.p50("stream_batch")
      r.info("maint.retract_s") = r.p50("retract")
    }
    r.info("maint.pair_recall") = pairRecall
    r.info("serve.bm25_p50_s") = r.p50("bm25")
    r.info("serve.ann_p50_s") = r.p50("ann")
    r.info("serve.bm25_hit_at10") = hitAt10
    r.info("serve.ann_recall_at10") = recall
    r.p50("drop").foreach(r.metric("op1_p50_s", _, "s"))
    r.p50("query").foreach(r.metric("op2_p50_s", _, "s"))
    r.metric("quality_a", pairRecall, "frac")
    // IVF recall and BM25 hit rate share a slot: a speed-up that loses
    // either answer quality lowers it
    r.metric("quality_b", math.min(recall, hitAt10), "frac")

    r.mark("checks")
    if (r.traced) Layers.maintain(r, stores, docs, Standing)
  }
}
