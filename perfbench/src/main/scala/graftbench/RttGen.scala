package graftbench

import java.nio.file.{Files, Path}

/** Seeded generator of reference-shaped RTT monthly full extracts.
  *
  * Each month is one wide CSV with the source system's headers
  * (`Gt 00 To 01 Weeks SUM 1` ... `Gt 104 Weeks SUM 1`, which graft's
  * reader R-mangles), one row per provider x commissioner x specialty
  * x `RTT Part Description`. The first months are in the 52-band era;
  * later months carry 105 band columns whose trailing bands are empty
  * (dead) up to a per-month live count. Some rows are private patients
  * (`NONC`). The newest month also exists as a revision, which the
  * refresh re-ingests.
  *
  * Every band value is a pure function of (seed, revision, row key),
  * so the output checks recompute any cell without keeping the rows. */
final class RttGen(seed: Long) {
  import RttGen._

  /** (monthyr tag, band columns written, live bands). */
  val months: Seq[(String, Int, Int)] = Seq(
    ("Mar21", 52, 52), ("Apr21", 105, 83), ("May21", 105, 105))
  val providers: Seq[String] = (1 to Providers).map(i => f"R$i%03d")
  val commissioners: Seq[String] = (1 to Commissioners).map(i => f"C$i%02d") :+ "NONC"
  val specialties: Seq[(String, String)] = (1 to Specialties).map(i =>
    (f"${100 + i * 10}%d", s"Specialty ${('A' + i - 1).toChar}"))

  /** The commissioners of a provider: [[CommissionersPerProvider]]
    * drawn by the seed, plus NONC for every fourth provider, so that
    * every seed gives the same number of rows. */
  def commissionersOf(p: Int): Seq[String] = {
    val r = new java.util.Random(mix(seed, 11, p))
    val cs = scala.util.Random.javaRandomToRandom(r).shuffle(commissioners.init)
      .take(CommissionersPerProvider)
    if (p % 4 == 0) cs :+ "NONC" else cs
  }
  private val provComms = providers.indices.map(commissionersOf)

  /** Independent-sector providers of a month (the IS membership list):
    * a fifth of the providers, drawn by the seed per quarter. */
  def isProviders(monthIdx: Int): Set[String] =
    scala.util.Random.javaRandomToRandom(new java.util.Random(mix(seed, 13, monthIdx / 3)))
      .shuffle(providers).take(Providers / 5).toSet

  final case class Row(provider: String, commissioner: String,
      specialty: (String, String), part: String, bands: Array[Long],
      live: Array[Boolean], unknown: Long, totalAll: Long)

  private val rowCache = scala.collection.mutable.HashMap.empty[(Int, Int), Seq[Row]]

  /** Rows of month `m` at `revision` (0 = original, 1 = revised). */
  def rows(m: Int, revision: Int): Seq[Row] = rowCache.getOrElseUpdate((m, revision), {
    val (_, nBands, live) = months(m)
    for {
      p <- providers.indices
      c <- provComms(p)
      s <- specialties.indices
      k <- Parts.indices
    } yield row(m, revision, p, c, s, k, nBands, live)
  })

  def row(m: Int, revision: Int, p: Int, c: String, s: Int, k: Int,
      nBands: Int, live: Int): Row = {
    val r = new java.util.Random(mix(seed, 17 + revision,
      ((m * 1000 + p) * 100 + c.hashCode) * 1000 + s * 10 + k))
    val part = Parts(k)
    val bands = new Array[Long](nBands)
    val present = new Array[Boolean](nBands)
    if (part != NewPeriods) {
      val scale = 5 + r.nextInt(60)
      val tau = 4.0 + r.nextDouble() * 30.0
      var b = 0
      while (b < live) {
        present(b) = r.nextInt(200) != 0 // sporadic missing cells
        bands(b) = if (present(b)) (scale * math.exp(-b / tau) * (0.5 + r.nextDouble())).toLong else 0L
        b += 1
      }
    }
    val total = bands.sum
    val unknown = if (part.startsWith("Completed")) r.nextInt(6).toLong else 0L
    val totalAll = if (part == NewPeriods) 10L + r.nextInt(400) else total + unknown
    Row(providers(p), c, specialties(s), part, bands, present, unknown, totalAll)
  }

  /** The dashboard cubes by provider and by commissioner, keyed by
    * grouping column, as the generator's rows determine them: every
    * (month, group, specialty, pathway, IS slice) cell, with the
    * ENGLAND rows and the "All" slice, NONC rows excluded. */
  def expectedCubes(revisions: Map[Int, Int])
      : Map[String, Map[(String, String, String, String, String), Cell]] = {
    val byGrouping = Seq("provider", "commissioner_code").map(g =>
      g -> scala.collection.mutable.HashMap.empty[(String, String, String, String, String), Cell]).toMap
    months.indices.foreach { m =>
      val is = isProviders(m)
      rows(m, revisions(m)).filter(_.commissioner != "NONC").foreach { r =>
        val slice = if (is(r.provider)) "IS" else "Non-IS"
        val path = Pathways(Parts.indexOf(r.part))
        byGrouping.foreach { case (grouping, cells) =>
          val grp = if (grouping == "provider") r.provider else r.commissioner
          for (g <- Seq(grp, "ENGLAND"); sl <- Seq(slice, "All"))
            cells.getOrElseUpdate((months(m)._1, g, r.specialty._2, path, sl), new Cell).add(r)
        }
      }
    }
    byGrouping.map { case (g, cells) => g -> cells.toMap }
  }

  /** Writes every month (and the newest month's revision) as CSV, plus
    * the headerless IS membership file; returns the row count of the
    * original months. */
  def write(dir: Path): Long = {
    Files.createDirectories(dir)
    var n = 0L
    months.indices.foreach { m => n += writeMonth(dir.resolve(file(m, 0)), m, 0) }
    writeMonth(dir.resolve(file(months.size - 1, 1)), months.size - 1, 1)
    val is = new StringBuilder
    months.indices.foreach(m => isProviders(m).toSeq.sorted.foreach(p =>
      is ++= s"${months(m)._1},$p\n"))
    Files.write(dir.resolve("is_providers.csv"), is.toString.getBytes("UTF-8"))
    n
  }

  def file(m: Int, revision: Int): String =
    s"rtt_${months(m)._1}" + (if (revision > 0) s"_rev$revision" else "") + ".csv"

  private def writeMonth(path: Path, m: Int, revision: Int): Long = {
    val (tag, nBands, _) = months(m)
    val w = Files.newBufferedWriter(path)
    var n = 0L
    try {
      val header = Seq("Period") ++
        (if (nBands == 105) Seq("Provider Parent Org Code") else Nil) ++
        Seq("Provider Org Code", "Commissioner Org Code", "RTT Part Description",
          "Treatment Function Code", "Treatment Function Name") ++
        (0 until nBands).map(b => bandHeader(b, nBands)) ++
        Seq("Total", "Patients with unknown clock start date", "Total All")
      w.write(header.mkString(",")); w.write('\n')
      val sb = new StringBuilder(2048)
      rows(m, revision).foreach { r =>
        sb.setLength(0)
        sb ++= "RTT-" ++= tag
        if (nBands == 105) sb ++= ",Q" ++= r.provider.takeRight(1)
        sb += ',' ++= r.provider += ',' ++= r.commissioner += ',' ++= r.part
        sb += ',' ++= r.specialty._1 += ',' ++= r.specialty._2
        var b = 0
        while (b < nBands) {
          sb += ','
          if (r.live(b)) sb.append(r.bands(b))
          b += 1
        }
        sb += ',' ++= (if (r.part == NewPeriods) "" else r.bands.sum.toString)
        sb += ','; sb.append(r.unknown)
        sb += ','; sb.append(r.totalAll)
        sb += '\n'
        w.write(sb.toString)
        n += 1
      }
    } finally w.close()
    n
  }
}

/** One dashboard cell's sums, and the statistics the cube reports. */
final class Cell {
  val hist = new Array[Long](105)
  var unknown = 0L
  var totalAll = 0L
  var nonMissing = 0L
  def add(r: RttGen#Row): Unit = {
    var b = 0
    while (b < r.bands.length) { hist(b) += r.bands(b); nonMissing += r.bands(b); b += 1 }
    unknown += r.unknown
    totalAll += r.totalAll
  }
  def totalPatients(pathway: String): Long = pathway match {
    case "completeadmitted" | "completenonadmitted" => nonMissing + unknown
    case "newRTT" => totalAll
    case _ => nonMissing
  }
  /** Number of bands whose running total stays below `q` of the
    * patients; None where the cube suppresses it. */
  def quantile(pathway: String, q: Double): Option[Long] = {
    val total = nonMissing
    if (total < 20 || pathway == "newRTT") None
    else {
      var run = 0L; var below = 0L; var b = 0
      while (b < hist.length) {
        run += hist(b)
        if (run.toDouble < total * q) below += 1
        b += 1
      }
      Some(below)
    }
  }
}

object RttGen {
  val Providers = 16
  val Commissioners = 24
  val CommissionersPerProvider = 4
  val Specialties = 15
  val NewPeriods = "New RTT Periods - All Patients"
  val Parts = Seq("Incomplete Pathways", "Incomplete Pathways with DTA",
    "Completed Pathways For Admitted Patients",
    "Completed Pathways For Non-Admitted Patients", NewPeriods)
  /** The dashboard's canonical pathway of each part, in `Parts` order. */
  val Pathways = Seq("incomplete", "incompleteDTA", "completeadmitted",
    "completenonadmitted", "newRTT")

  def bandHeader(b: Int, nBands: Int): String =
    if (b == nBands - 1) f"Gt $b%02d Weeks SUM 1"
    else f"Gt $b%02d To ${b + 1}%02d Weeks SUM 1"

  def mix(seed: Long, salt: Int, key: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + key
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
