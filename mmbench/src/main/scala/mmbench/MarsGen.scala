package mmbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.Locale

/** Seeded Mars bronze generator: the three batch envelopes of FIXTURES.md
  * §2-4 (photos, manifests, coordinates), in the shapes of
  * `tools/gen_mars_fixtures.py`.
  *
  * Every rover's manifest declares `CoveredSols + gapsPerRover` sols. The
  * partial photo batch covers the first kind only, so the gap view starts
  * with exactly `gaps` MISSING_SOL rows, and the scheduler loop needs
  * `gaps / GapScheduler.BatchSize` batches, rounded up, to close it.
  *
  * The seed moves only ids, sols, SCLKs and drive lengths. Row counts and
  * the 2-camera/1-camera rover mix are the same for every seed, so every
  * seed carries the same load. Output is a pure function of the seed: the
  * JSON is built by hand with fixed number formats.
  */
final case class MarsGen(seed: Long, gaps: Int) {
  import MarsGen._

  require(gaps >= Rovers.size && gaps % Rovers.size == 0)
  val gapsPerRover: Int = gaps / Rovers.size
  val solsPerRover: Int = CoveredSols + gapsPerRover

  /** One stream per document, so each document depends on the seed only. */
  private def rng(stream: Int) = new SplitMix(seed * 4 + stream)
  private val ids = rng(0)
  private val firstSol: Map[String, Int] =
    Rovers.map(r => r.name -> (1 + ids.nextInt(3000))).toMap
  private val idBase: Long = 100000000L + ids.nextInt(1000) * 100000L

  /** Sols of one rover in manifest order, and which of them are gaps: the
    * gaps are spread evenly among the covered sols, so batches cut across
    * both. */
  def sols(rover: String): IndexedSeq[Int] =
    (0 until solsPerRover).map(firstSol(rover) + _)

  def isGap(rover: String, sol: Int): Boolean = {
    val i = sol - firstSol(rover)
    // i * gapsPerRover / solsPerRover steps up exactly gapsPerRover times
    // over the range; the sol where it steps is a gap.
    ((i + 1).toLong * gapsPerRover / solsPerRover) != (i.toLong * gapsPerRover / solsPerRover)
  }

  def gapCount: Int = Rovers.map(r => sols(r.name).count(isGap(r.name, _))).sum
  def coveredCount(rover: String): Int = sols(rover).count(s => !isGap(rover, s))

  /** Photos in the initial batch: every camera of every covered sol. */
  def initialPhotoCount: Int =
    Rovers.map(r => coveredCount(r.name) * r.cameras.size * PhotosPerCamera).sum

  /** Photos the simulated API returns for the gaps (one per camera). */
  def ingestedPhotoCount: Int =
    Rovers.map(r => gapsPerRover * r.cameras.size).sum

  /** (rover, sol) pairs gold `daily_activity` covers once every gap is
    * closed: it is the Perseverance mart, and every declared sol then
    * has photos. */
  def dailyActivityCoverage: Int = solsPerRover

  private def sclkOf(rover: Rover, sol: Int): Long =
    rover.sclk0 + sol.toLong * 88775L

  private def photosDoc(): (String, String) = {
    val rng = this.rng(1)
    val sb = new StringBuilder
    var n = 0
    val photoSols = for (r <- Rovers; s <- sols(r.name) if !isGap(r.name, s)) yield (r, s)
    sb.append("[")
    for ((r, s) <- photoSols; (camName, camId, camFull) <- r.cameras;
         k <- 0 until PhotosPerCamera) {
      val id = idBase + n
      // A seeded SCLK: half the photos fall inside the sol's drive window
      // and half outside it, so taken_during_travel sees both values.
      val sclk = sclkOf(r, s) + (if (rng.nextInt(2) == 0) 100 + rng.nextInt(800) else 5000 + rng.nextInt(5000))
      if (n > 0) sb.append(", ")
      sb.append(s"""{"id": $id, "sol": $s, "camera": {"id": $camId, "name": "$camName", "rover_id": ${r.id}, "full_name": "$camFull"}, """)
      sb.append(s""""img_src": "https://mars.nasa.gov/${r.name}/$camName/${camName}_${fmt("%05d", s)}_${fmt("%010d", sclk)}_EDR.JPG", """)
      sb.append(s""""earth_date": "${r.earthDate(s)}", "rover": {"id": ${r.id}, "name": "${r.name}", "landing_date": "${r.landing}", "launch_date": "${r.launch}", "status": "${r.status}"}}""")
      n += 1
    }
    sb.append("]")
    val allSols = photoSols.map(_._2)
    val filename = s"mars_rover_photos_batch_sol_${allSols.min}_to_${allSols.max}_${fnTs(TPhotos)}.json"
    filename -> s"""{"filename": "$filename", "sol_start": ${allSols.min}, "sol_end": ${allSols.max}, "photo_count": $n, "photos": $sb, "ingestion_date": "$TPhotos"}"""
  }

  private def manifestsDoc(): (String, String) = {
    val ms = Rovers.map { r =>
      val perSol = sols(r.name).map { s =>
        val cams = r.cameras.map(c => "\"" + c._1 + "\"").mkString("[", ", ", "]")
        s"""{"sol": $s, "earth_date": "${r.earthDate(s)}", "total_photos": ${r.cameras.size * PhotosPerCamera}, "cameras": $cams}"""
      }.mkString("[", ", ", "]")
      val maxSol = sols(r.name).last
      s"""{"name": "${r.name}", "landing_date": "${r.landing}", "launch_date": "${r.launch}", "status": "${r.status}", "max_sol": $maxSol, "max_date": "${r.earthDate(maxSol)}", "total_photos": ${solsPerRover * r.cameras.size * PhotosPerCamera}, "photos": $perSol}"""
    }
    val filename = s"mars_rover_manifests_${fnTs(TManifests)}.json"
    filename -> s"""{"filename": "$filename", "manifests": ${ms.mkString("[", ", ", "]")}, "ingestion_date": "$TManifests"}"""
  }

  private def coordinatesDoc(): (String, String) = {
    val rng = this.rng(2)
    val fs = for (r <- Rovers; s <- sols(r.name)) yield {
      // Drive length in metres: a quarter of the sols are stationary, the
      // rest spread over the mart's Minimal/Short/Long day types.
      val length = if (rng.nextInt(4) == 0) 0.0 else rng.nextInt(6000) / 100.0
      val start = sclkOf(r, s)
      val lon = 77.0 + rng.nextInt(100000) / 1e6
      val lat = 18.0 + rng.nextInt(100000) / 1e6
      val wps = (0 until 3).map(w =>
        fmt("[%.8f, %.8f, %.6f]", lon + w * 1e-5, lat + w * 1e-5, -2350.0 + w * 0.1))
      feature("\"" + r.name + "\"", s, s"${s}_${100 + s % 900}", s"${s}_${1000 + s % 900}",
        length, start, start + 4000, wps)
    }
    // the missing-rover-metadata edge (FIXTURES.md §4)
    val edge = feature("null", firstSol(Rovers.head.name), "0_X", "0_Y", 5.5, 1, 2,
      Seq("[0.00000000, 0.00000000, 0.000000]"))
    val all = fs :+ edge
    val filename = s"mars_rover_coordinates_${fnTs(TCoords)}.json"
    filename -> s"""{"filename": "$filename", "coordinate_count": ${all.size}, "coordinates": ${all.mkString("[", ", ", "]")}, "ingestion_date": "$TCoords"}"""
  }

  private def feature(rover: String, sol: Int, from: String, to: String, length: Double,
                      s0: Long, s1: Long, wps: Seq[String]): String =
    s"""{"type": "Feature", "rover_name": $rover, "geometry": {"type": "LineString", "coordinates": ${wps.mkString("[", ", ", "]")}}, "properties": {"sol": $sol, "fromRMC": "$from", "toRMC": "$to", "length": ${fmt("%.2f", length)}, "SCLK_START": $s0, "SCLK_END": $s1}}"""

  /** Writes the three envelopes into `objectStore` under the prefixes the
    * loader routes by, and returns their object keys (manifests first, so
    * the photo load sees its manifest). */
  def write(objectStore: Path): Seq[String] = {
    Seq(manifestsDoc(), coordinatesDoc(), photosDoc()).map { case (filename, json) =>
      val prefix = graft.mars.RoverKeys.route(filename)
      val dir = objectStore.resolve(prefix)
      Files.createDirectories(dir)
      Files.write(dir.resolve(filename), (json + "\n").getBytes(StandardCharsets.UTF_8))
      s"$prefix/$filename"
    }
  }
}

object MarsGen {
  final case class Rover(name: String, id: Int, landing: String, launch: String,
                         status: String, cameras: Seq[(String, Int, String)], sclk0: Long) {
    private val landed = java.time.LocalDate.parse(landing)
    /** One sol is 1.0275 Earth days. */
    def earthDate(sol: Int): String = landed.plusDays((sol * 1.0275).toLong).toString
  }

  /** The simulated photo API's camera list per rover, so that ingested
    * photos match what each manifest declares: two 2-camera rovers and
    * two 1-camera rovers. */
  val Rovers: Seq[Rover] = Seq(
    Rover("Curiosity", 5, "2012-08-05", "2011-11-26", "active",
      Seq(("FHAZ", 201, "Front Hazard Avoidance Camera"), ("MAST", 202, "Mast Camera")), 400000000L),
    Rover("Opportunity", 6, "2004-01-25", "2003-07-07", "complete",
      Seq(("PANCAM", 301, "Panoramic Camera")), 130000000L),
    Rover("Perseverance", 8, "2021-02-18", "2020-07-30", "active",
      Seq(("NAVCAM_LEFT", 101, "Navigation Camera - Left"),
        ("MCZ_RIGHT", 102, "Mast Camera Zoom - Right")), 666000000L),
    Rover("Spirit", 7, "2004-01-04", "2003-06-10", "complete",
      Seq(("PANCAM", 401, "Panoramic Camera")), 120000000L))

  /** Sols per rover the initial photo batch covers. */
  val CoveredSols = 150
  /** Photos per camera on a covered sol; the simulated API returns one. */
  val PhotosPerCamera = 2

  val TManifests = "2025-09-15T10:00:00"
  val TCoords = "2025-09-15T11:00:00"
  val TPhotos = "2025-09-15T12:00:00"

  private def fnTs(ts: String): String = ts.replace(":", "")
  private def fmt(f: String, xs: Any*): String = String.format(Locale.ROOT, f, xs.map(_.asInstanceOf[AnyRef]): _*)

  /** SplitMix64: a fixed, portable stream for a given seed. */
  final class SplitMix(seed: Long) {
    private var state = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E5BL
    def nextLong(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextInt(bound: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), bound.toLong).toInt
  }
}
