package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.Ingest
import graft.schema.RttSchema
import graft.stats.DashboardStats

/** `rtt_monthly`: the paper's own pipeline. Few jobs per operation;
  * stresses ingest, schema, stats and the plans kernels, and bypasses
  * every store.
  *
  * Set-up ingests the monthly extracts: read each CSV, normalize and
  * prune its bands, append the months with the IS flag, write the
  * month-partitioned fact. The timed phase repeats one round until the
  * time budget is spent: the refresh — re-ingest the newest month
  * (alternately its revision and its original) by dynamic partition
  * overwrite, then recompute the dashboard cube by provider and by
  * commissioner. op1 is the recompute (the cube alone), op2 the whole
  * refresh; both get one sample a round. Set-up ends with one untimed
  * round, so that class loading, code generation and JIT of the first
  * refresh are paid there and the timed rounds are warm. */
object RttMonthly {
  val Groupings = Seq("provider", "commissioner_code")

  def run(r: Run): Unit = {
    val spark = r.spark
    val gen = new RttGen(r.seed)
    val in = r.dir.resolve("in")
    val rows = gen.write(in)
    r.info("inputs") = Map("sha256" -> Inputs.sha256(in), "rows" -> rows,
      "months" -> gen.months.map(_._1), "bands" -> gen.months.map(_._2),
      "live_bands" -> gen.months.map(_._3), "providers" -> RttGen.Providers,
      "commissioners" -> RttGen.Commissioners, "specialties" -> RttGen.Specialties,
      "parts" -> RttGen.Parts.size)
    val p = new Pipeline(spark, gen, in.toString, r.tracer)
    val last = gen.months.size - 1

    // set-up: ingest every monthly extract into the month-partitioned
    // fact the timed phase reads, then one warm-up refresh
    val revision = Array.fill(gen.months.size)(0)
    def revisions = revision.toSeq.zipWithIndex.map(_.swap)
    var ingestS = 0.0
    var warm = Map.empty[String, Array[Row]]
    val fact = r.setup {
      val f = r.dir.resolve("fact").toString
      val t0 = System.nanoTime()
      p.ingest(f, gen.months.indices.map(_ -> 0))
      ingestS = (System.nanoTime() - t0) / 1e9
      revision(last) = 1
      r.tracer.span("warmup.refresh")(p.ingest(f, Seq(last -> 1)))
      warm = r.tracer.span("warmup.cube")(p.cube(f))
      f
    }
    r.info("rtt.ingest_s") = ingestS
    r.info("rtt.ingest_rows_per_s") = rows / ingestS

    r.check("warm-up cube")(p.failOn(p.checkCube(warm, revisions)))
    // cube rows the next refresh must leave unchanged outside its month
    var preRows = rowSets(warm)
    val deadline = System.nanoTime() + (r.seconds * 1e9).toLong
    do {
      r.tracer.newRequest()
      revision(last) = 1 - revision(last)
      r.op("refresh", "rtt.refresh") {
        p.ingest(fact, Seq(last -> revision(last)))
        val t0 = System.nanoTime()
        val cube = r.tracer.span("rtt.cube")(p.cube(fact))
        (cube, (System.nanoTime() - t0) / 1e9)
      } { case (cube, cubeS) =>
        val rows = rowSets(cube)
        val unchanged = p.checkUnchanged(preRows, rows, gen.months(last)._1)
        preRows = rows
        p.failOn(p.checkCube(cube, revisions) ++ unchanged)
        r.times.getOrElseUpdate("cube", scala.collection.mutable.ArrayBuffer.empty) += cubeS
      }
      r.sampleHeap()
      spark.catalog.clearCache()
    } while (System.nanoTime() < deadline)
    r.finishHeap()

    r.info("rtt.cube_s") = r.p50("cube")
    r.info("rtt.refresh_s") = r.p50("refresh")
    r.p50("cube").foreach(r.metric("op1_p50_s", _, "s"))
    r.p50("refresh").foreach(r.metric("op2_p50_s", _, "s"))
    r.metric("quality_a", p.valuesMatched.toDouble / math.max(1, p.valuesChecked), "frac")
    r.metric("quality_b", p.rowsKept.toDouble / math.max(1, p.rowsCompared), "frac")

    r.mark("checks")
    if (r.traced) Layers.rtt(r, fact, rows)
  }

  /** Each grouping's cube rows, as strings, for [[Pipeline.checkUnchanged]]. */
  def rowSets(cube: Map[String, Array[Row]]): Map[String, Set[String]] =
    cube.map { case (g, rows) => g -> rows.map(_.toString).toSet }

  /** graft's public calls for the RTT pipeline, and the checks on them.
    * A check counts every value it compares, then returns what differs
    * (empty when all match). */
  final class Pipeline(spark: SparkSession, gen: RttGen, in: String, tracer: Tracer) {
    var valuesChecked = 0L
    var valuesMatched = 0L
    var rowsCompared = 0L
    var rowsKept = 0L

    private lazy val membership =
      Ingest.headerlessCsv(spark, s"$in/is_providers.csv", Map(1 -> "monthyr", 2 -> "codes"))

    /** Ingest `(month, revision)` extracts into the fact at `path`. */
    def ingest(path: String, months: Seq[(Int, Int)]): Unit = {
      val normalized = months.map { case (m, rev) =>
        val raw = tracer.span("ingest.csv_open")(
          Ingest.csvMangledNames(spark, s"$in/${gen.file(m, rev)}"))
        gen.months(m)._1 -> tracer.span("schema.normalize")(
          RttSchema.pruneDeadBands(RttSchema.normalizeWeeks(raw)))
      }
      val fact = Ingest.withIsProviderFlag(Ingest.appendMonths(normalized),
          membership, factCode = "Provider.Org.Code")
        .select(
          col("monthyr"),
          col("`Provider.Org.Code`").as("provider"),
          col("`Treatment.Function.Name`").as("specialty"),
          DashboardStats.canonicalPathway(col("`RTT.Part.Description`")).as("pathway"),
          col("IS_provider").as("is_provider"),
          col("weeks"),
          col("`Patients.with.unknown.clock.start.date`").cast("bigint").as("unknown_start"),
          col("`Total.All`").cast("bigint").as("total_all"),
          col("`Commissioner.Org.Code`").as("commissioner_code"))
      tracer.span("ingest.write_partitioned")(Ingest.writePartitioned(fact, path))
    }

    /** Both dashboard cubes over the fact at `fact`, collected (a few
      * thousand rows each), by grouping. */
    def cube(fact: String): Map[String, Array[Row]] = {
      val f = spark.read.parquet(fact)
      Groupings.map(g => g -> tracer.span("stats.compute")(DashboardStats.compute(f, g).collect())).toMap
    }

    /** Every cube row against a recomputation from the generator: the
      * row set (hence the row count), `total_patients` of every cell
      * (ENGLAND and "All" rows included) and every quantile
      * (`revisions` names the revision ingested per month). Each cell of
      * either side counts four values (its total and three quantiles)
      * in [[valuesChecked]], and those that match in [[valuesMatched]];
      * a missing or unexpected row matches none. */
    def checkCube(cube: Map[String, Array[Row]], revisions: Seq[(Int, Int)]): Seq[String] = {
      val expected = expectedCubes.getOrElseUpdate(revisions, gen.expectedCubes(revisions.toMap))
      val wrong = scala.collection.mutable.ArrayBuffer.empty[String]
      Groupings.foreach { g =>
        val want = expected(g)
        val rows = cube(g)
        val got = rows.map { row =>
          (row.getAs[String]("monthyr"), row.getAs[String]("grp"), row.getAs[String]("specialty"),
            row.getAs[String]("pathway"), row.getAs[String]("is_slice")) -> row
        }.toMap
        if (got.size != rows.length) wrong += s"cube by $g repeats ${rows.length - got.size} rows"
        (want.keySet ++ got.keySet).foreach { key =>
          valuesChecked += 4
          (want.get(key), got.get(key)) match {
            case (Some(cell), Some(row)) =>
              val total = row.getAs[Long]("total_patients")
              if (total == cell.totalPatients(key._4)) valuesMatched += 1
              else wrong += s"total_patients of $key is $total, expected ${cell.totalPatients(key._4)}"
              Seq(50, 92, 95).foreach { q =>
                val v = Option(row.getAs[java.lang.Long](s"weeks_$q")).map(_.longValue)
                val exp = cell.quantile(key._4, q / 100.0)
                if (v == exp) valuesMatched += 1
                else wrong += s"weeks_$q of $key is $v, recomputed $exp"
              }
            case (None, _) => wrong += s"unexpected cube-by-$g row $key"
            case (_, None) => wrong += s"missing cube-by-$g row $key"
          }
        }
      }
      wrong.toSeq
    }

    /** Fails with the first few of `wrong`, if any. */
    def failOn(wrong: Seq[String]): Unit =
      Predef.require(wrong.isEmpty, s"${wrong.size} checks failed, first: ${wrong.take(3).mkString("; ")}")

    private val expectedCubes = scala.collection.mutable.HashMap.empty[Seq[(Int, Int)],
      Map[String, Map[(String, String, String, String, String), Cell]]]

    /** Cube rows of every month but `refreshed` are unchanged. */
    def checkUnchanged(pre: Map[String, Set[String]], post: Map[String, Set[String]],
        refreshed: String): Seq[String] =
      Groupings.flatMap { g =>
        val keep = (r: String) => !r.startsWith(s"[$refreshed,")
        val a = pre(g).filter(keep)
        val b = post(g).filter(keep)
        rowsCompared += a.size
        rowsKept += (a intersect b).size
        if (a == b) Nil
        else Seq(s"refresh changed ${(a diff b).size} and added ${(b diff a).size} " +
          s"cube-by-$g rows of unchanged months")
      }
  }
}
