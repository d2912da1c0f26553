package mmbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.{Assemble, IngestSim}
import graft.mars.{Dims, GapScheduler, Incremental, Warehouse}
import graft.streaming.{ControlPlane, Orchestrator}

/** `medallion_loop`: the paper's closed gap loop, then the marts it feeds.
  *
  * One pass takes a fresh seeded bronze upload and repeats
  * `loadStage → transformStage → ingestStage` until the gap view is empty
  * (the gap closure), then reads the 13 mars models from the warehouse the
  * loop just wrote. Untraced passes call `Orchestrator`'s stages. Traced
  * passes replay each stage body call for call, so a span can sit around
  * every module call inside it; keep the replay in step with
  * `Orchestrator` when its stage bodies change.
  */
final class Medallion(spark: SparkSession, work: Path, seed: Long) extends Workload {
  import Medallion._

  private val gen = MarsGen(seed, Gaps)
  private val stores = scala.collection.mutable.Queue.empty[(Path, Seq[String])]
  private var made = 0

  def setup(): Unit = {
    val dir = work.resolve(s"medallion/$made")
    made += 1
    stores.enqueue(dir -> gen.write(dir.resolve("store")))
  }

  def pass(trace: Trace, traced: Boolean): Pass = {
    if (stores.isEmpty) setup()
    val (dir, keys) = stores.dequeue()
    val store = dir.resolve("store").toString
    val topics = dir.resolve("topics").toString
    val wh = Warehouse(spark, dir.resolve("warehouse").toString)
    var tick = 0
    val clock = () => {
      tick += 1
      f"2025-09-16T${tick / 3600}%02d:${tick / 60 % 60}%02d:${tick % 60}%02d"
    }
    // untraced passes run the program's own stages; traced ones the replay
    val orch = Orchestrator(spark, topics, store, wh, clock)
    lazy val replay = new Replay(spark, trace, topics, store, wh, clock)
    val load: Seq[String] => Unit = if (traced) replay.loadStage else orch.loadStage
    val transform: () => GapScheduler.IngestionSchedule =
      if (traced) () => replay.transformStage() else () => orch.transformStage()
    val ingest: (Seq[GapScheduler.IngestionTask], Seq[Int]) => Option[String] =
      if (traced) replay.ingestStage else orch.ingestStage

    // the gap closure: seeded upload until the gap view is empty
    val fresh = Seq.newBuilder[Double]
    var pending = keys
    var cycles = 0
    var done = false
    val t0 = System.nanoTime
    val failure = try {
      while (!done && cycles <= MaxCycles) {
        val a = System.nanoTime
        load(pending)
        val sched = transform()
        fresh += (System.nanoTime - a) / 1e9
        if (sched.tasks.isEmpty) done = true
        else {
          pending = ingest(sched.tasks, sched.sol_range).toSeq
          cycles += 1
        }
      }
      None
    } catch { case e: Exception => Some(s"gap loop: $e") }
    val closure = (System.nanoTime - t0) / 1e9
    val closureCheck = failure.orElse(check(wh, done, cycles))

    // the marts the loop feeds, read from the warehouse it wrote; their
    // rows also show the loop closed (no gap rows, every sol covered)
    val reads = models(wh).map { case (name, build, verify) =>
      val r0 = System.nanoTime
      val outcome = try {
        val rows = trace.span("mars.view_read")(build().collect())
        verify(rows).map(d => s"$name: $d")
      } catch { case e: Exception => Some(s"$name: $e") }
      Op(name, (System.nanoTime - r0) / 1e9, outcome)
    }

    val layer = if (traced) layerStats(dir, wh) else Map.empty[String, Double]
    Pass(closure, Op("gap_closure", closure, closureCheck) +: reads,
      Map("freshness" -> fresh.result()), layer)
  }

  /** The closed loop took the scheduler cycles the gap count implies and
    * landed every photo the generator implies in bronze. */
  private def check(wh: Warehouse, done: Boolean, cycles: Int): Option[String] = try {
    val want = math.ceil(Gaps.toDouble / GapScheduler.BatchSize).toInt
    val photos = bronzePhotos(wh)
    if (!done) Some(s"gap view not empty after $cycles cycles")
    else if (cycles != want) Some(s"$cycles cycles, want $want")
    else if (photos != gen.initialPhotoCount + gen.ingestedPhotoCount)
      Some(s"$photos bronze photos, want ${gen.initialPhotoCount + gen.ingestedPhotoCount}")
    else None
  } catch { case e: Exception => Some(s"closure check: $e") }

  private def bronzePhotos(wh: Warehouse): Long =
    Incremental.read(spark, wh.bronzePhotos).select(explode(col("photos"))).count()

  /** The 13 mars models over the warehouse, with the projections of their
    * registered queries, each with a check of the rows the generator
    * implies. */
  private def models(wh: Warehouse): Seq[(String, () => DataFrame, Array[Row] => Option[String])] = {
    val sols = gen.solsPerRover.toLong
    val rovers = MarsGen.Rovers.size.toLong
    val photos = (gen.initialPhotoCount + gen.ingestedPhotoCount).toLong
    val perseverance = MarsGen.Rovers.find(_.id == 8).get
    val persPhotos = gen.coveredCount(perseverance.name).toLong * 2 * MarsGen.PhotosPerCamera +
      gen.gapsPerRover * 2
    val cameras = MarsGen.Rovers.map(_.cameras.size).sum.toLong
    def rows(want: Long)(got: Array[Row]): Option[String] =
      if (got.length == want) None else Some(s"${got.length} rows, want $want")
    // gold daily_activity: one row per Perseverance sol, and each sol's
    // photos counted once per camera category
    def daily(got: Array[Row]): Option[String] = {
      val perCategory = gen.coveredCount(perseverance.name).toLong * MarsGen.PhotosPerCamera + gen.gapsPerRover
      val coverage = got.map(r => (r.getAs[String]("rover_name"), r.getAs[Int]("sol_number"))).distinct.length
      val eng = got.map(_.getAs[Long]("engineering_photo_count")).sum
      val sci = got.map(_.getAs[Long]("science_photo_count")).sum
      if (coverage != gen.dailyActivityCoverage)
        Some(s"covers $coverage (rover, sol), want ${gen.dailyActivityCoverage}")
      else if (eng != perCategory || sci != perCategory)
        Some(s"engineering/science photos $eng/$sci, want $perCategory")
      else rows(sols)(got)
    }
    Seq(
      ("mars_flat_photos", () => wh.flatPhotos, rows(photos)),
      ("mars_flat_manifest", () => wh.flatManifest.drop("photos"), rows(rovers)),
      ("mars_flat_manifest_photos", () => wh.flatManifestPhotos, rows(rovers * sols)),
      ("mars_flat_coordinates", () => wh.flatCoordinates.drop("coordinates"), rows(rovers * sols + 1)),
      ("mars_dim_rovers", () => wh.dimRovers, rows(rovers)),
      ("mars_dim_cameras", () => wh.dimCameras, rows(cameras)),
      ("mars_dim_coordinate", () => Dims.dimCoordinate(wh.flatCoordinates, wh.dimRovers), rows(rovers * sols * 3)),
      ("mars_fact_photos", () => wh.factPhotos, rows(photos)),
      ("mars_fact_path", () => wh.factPath, rows(rovers * sols + 1)),
      ("mars_validation_gaps", () => wh.validationPhotoGaps.drop("validation_timestamp"), rows(0)),
      ("mars_photo_summary", () => Incremental.read(spark, wh.goldPhotoSummary), rows(rovers)),
      ("mars_daily_activity", () => Incremental.read(spark, wh.goldDailyActivity), daily),
      ("mars_camera_travel_correlation", () => Incremental.read(spark, wh.goldCameraTravel), rows(persPhotos)))
  }

  /** Disk-side numbers of a traced pass: bytes and files the warehouse
    * holds against the bronze bytes the loop loaded. */
  private def layerStats(dir: Path, wh: Warehouse): Map[String, Double] = {
    def files(p: Path) = if (!Files.exists(p)) Nil else
      Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toList
    val bronzeBytes = files(dir.resolve("store")).map(Files.size).sum.toDouble
    val whFiles = files(dir.resolve("warehouse")).filterNot(_.getFileName.toString.endsWith(".crc"))
    val photos = bronzePhotos(wh)
    Map("mars.write_amp" -> whFiles.map(Files.size).sum / bronzeBytes,
      "mars.files_written" -> whFiles.size.toDouble,
      "mars.bronze_rows" -> photos.toDouble,
      "ingest.photos" -> (photos - gen.initialPhotoCount).toDouble)
  }
}

object Medallion {
  /** Gaps per closure: one partial scheduler batch of 20 (rover, sol)
    * tasks, 5 per rover. */
  val Gaps = 20
  private val MaxCycles = 10
}

/** `Orchestrator`'s three stage bodies, call for call, with a span around
  * each call into `mars`, `ingest` and `streaming`. */
final class Replay(spark: SparkSession, trace: Trace, topicsRoot: String, objectStore: String,
                   warehouse: Warehouse, clock: () => String) {

  def loadStage(keys: Seq[String]): Unit = trace.span("streaming.load_stage") {
    keys.foreach { key =>
      val filename = key.split("/").last
      val loaded = trace.span("mars.load_bronze")(warehouse.loadBronze(s"$objectStore/$key", filename))
      if (loaded != "UNKNOWN") produce(ControlPlane.TopicLoadComplete,
        ControlPlane.loadCompleteJson(s"$objectStore/$key", clock()))
    }
  }

  def transformStage(): GapScheduler.IngestionSchedule = trace.span("streaming.transform_stage") {
    trace.span("mars.build_silver")(warehouse.buildSilver())
    trace.span("mars.build_gold")(warehouse.buildGold())
    val sched = trace.span("mars.gap_scan")(GapScheduler.schedule(
      GapScheduler.nextBatch(warehouse.validationPhotoGaps)))
    trace.count("gap_rows", sched.tasks.size)
    if (sched.tasks.nonEmpty)
      produce(ControlPlane.TopicScheduling, ControlPlane.schedulingJson(sched.toJson, clock()))
    sched
  }

  def ingestStage(tasks: Seq[GapScheduler.IngestionTask], solRange: Seq[Int]): Option[String] =
    trace.span("streaming.ingest_stage") {
      if (tasks.isEmpty) None
      else {
        val allPhotos = trace.span("ingest.fanout") {
          tasks.map(t => IngestSim.photos(spark, t.rover_name, t.sol)).reduce(_ unionByName _)
        }
        val key = trace.span("ingest.upload") {
          Assemble.uploadJson(Assemble.photosEnvelope(allPhotos, solRange, clock()), objectStore)
        }
        trace.count("tasks", tasks.size)
        produce(ControlPlane.TopicMinioEvents, ControlPlane.minioEventJson(key))
        Some(key)
      }
    }

  private def produce(topic: String, json: String): Unit =
    trace.span("streaming.produce")(ControlPlane.produce(topicsRoot, topic, json))
}
