package mmbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One operation of a pass, with its latency and what failed its check. */
final case class Op(name: String, seconds: Double, failure: Option[String])

/** One pass of a workload's fixed unit of work. */
final case class Pass(seconds: Double, ops: Seq[Op], samples: Map[String, Seq[Double]],
                      layer: Map[String, Double])

trait Workload {
  /** Makes the inputs no seed changes, once per run; not part of `setup_s`. */
  def prepare(): Unit = ()
  /** Makes the seeded inputs of a pass. */
  def setup(): Unit
  def pass(trace: Trace, traced: Boolean): Pass
}

/** Runs one workload for `--seconds` and prints its metrics as the last
  * line of standard output.
  *
  *   --workload medallion_loop|query_batch --seed N --seconds S --trace 0|1
  *   --work DIR           where inputs, warehouses and traces go
  *   --selfcheck          checks the Mars generator and exits
  *   --dump DIR           writes the query_batch tables and oracle SQL for
  *                        tools/oracle_fingerprints.py, and exits
  *
  * A run: boot one `local[nproc]` session; make the inputs no seed
  * changes once and the seeded inputs `SetupReps` times; run one warm-up
  * pass; then run passes until `--seconds` have gone by. `setup_s` is the
  * session boot, plus the median time to make the seeded inputs, plus the
  * warm-up pass. The inputs no seed changes depend on neither the seed nor
  * the program, and are made once per build (`Workload.prepare`), so they
  * are left out of `setup_s`. With `--trace 1` the measured passes
  * alternate untraced and traced, so the trace reports its own overhead.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts.getOrElse("work", ".bench_build/work")).toAbsolutePath
    if (args.contains("--selfcheck")) sys.exit(if (SelfCheck.run(work)) 0 else 1)
    val bootStart = System.nanoTime
    val spark = session(work)
    val bootS = (System.nanoTime - bootStart) / 1e9
    try {
      opts.get("dump") match {
        case Some(dir) => SelfCheck.dump(spark, Paths.get(dir).toAbsolutePath)
        case None =>
          val line = run(spark, work, opts("workload"), opts("seed").toLong,
            opts("seconds").toDouble, opts.getOrElse("trace", "0") == "1", bootS)
          println(line)
      }
    } finally spark.stop()
  }

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def expectedFingerprints(): Map[String, Fingerprint.Fp] = {
    val in = getClass.getResourceAsStream("/query_batch.json")
    require(in != null, "expected/query_batch.json is missing from the classpath")
    try Fingerprint.load(new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
  }

  def run(spark: SparkSession, work: Path, name: String, seed: Long, seconds: Double,
          traced: Boolean, bootS: Double): String = {
    val wl: Workload = name match {
      case "medallion_loop" => new Medallion(spark, work, seed)
      case "query_batch" => new QueryBatch(spark, work, seed, expectedFingerprints())
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val recorder = if (traced) Some(new Recorder(spark.sparkContext)) else None
    val trace = recorder.getOrElse(Trace.Off)

    val fixed = timed(wl.prepare())
    val setups = (1 to SetupReps).map(_ => timed(wl.setup()))
    val warmStart = System.nanoTime
    val warm = wl.pass(Trace.Off, traced = false)
    val warmS = (System.nanoTime - warmStart) / 1e9
    System.err.println(f"[mmbench] boot $bootS%.2f s, fixed inputs $fixed%.2f s, set-ups " +
      setups.map(x => f"$x%.2f").mkString(", ") + f" s, warm-up $warmS%.2f s")
    System.gc()
    val t0 = System.nanoTime
    val plain = Seq.newBuilder[Pass]
    val withTrace = Seq.newBuilder[Pass]
    var n = 0
    // traced runs measure untraced, traced, untraced at least, so the JIT
    // still settling after the warm-up does not read as tracing cost
    while (n == 0 || (traced && n < 3) || (System.nanoTime - t0) / 1e9 < seconds) {
      val p = if (traced && n % 2 == 1) { val p = wl.pass(trace, traced = true); withTrace += p; p }
              else { val p = wl.pass(Trace.Off, traced = false); plain += p; p }
      System.err.println(f"[mmbench] pass $n: ${p.seconds}%.3f s, queries ${queriesSeconds(Seq(p))}%.3f s; " +
        p.ops.map(o => f"${o.name} ${o.seconds}%.3f").mkString(", "))
      n += 1
    }
    val untracedPasses = plain.result()
    val tracedPasses = withTrace.result()
    val all = (warm +: untracedPasses) ++ tracedPasses
    val ops = all.flatMap(_.ops)
    val failures = ops.flatMap(_.failure)
    failures.foreach(f => System.err.println(s"[mmbench] check failed: $f"))

    val metrics: Seq[(String, Double, String)] = recorder match {
      case None =>
        Seq(("setup_s", bootS + median(setups) + warmS, "s"),
          ("pass_s", median(untracedPasses.map(_.seconds)), "s"),
          ("queries_s", queriesSeconds(untracedPasses), "s"))
      case Some(rec) =>
        val layers = Layers(rec, name, tracedPasses, untracedPasses,
          Runtime.getRuntime.availableProcessors)
        layers.report().foreach(l => println(s"[mmbench] $l"))
        val dir = Files.createDirectories(work.getParent.resolve("traces"))
        Files.write(dir.resolve(s"$name-seed$seed.jsonl"),
          layers.spansJson.getBytes(StandardCharsets.UTF_8))
        rec.stop()
        layers.metrics ++ Seq(("run.boot_s", bootS, "s"), ("run.fixed_inputs_s", fixed, "s"),
          ("run.setup_rep_s", median(setups), "s"), ("run.warmup_s", warmS, "s"))
    }
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }
    s"""{"correct": ${failures.isEmpty}, "attempted": ${ops.size}, "failed": ${ops.count(_.failure.nonEmpty)}, "metrics": {${body.mkString(", ")}}}"""
  }

  /** Time a pass spends in short read queries (the 13 mars models read
    * after a gap closure, or the registered `q*` queries of a query batch):
    * the sum over the queries of each one's median latency in `passes`. */
  def queriesSeconds(passes: Seq[Pass]): Double =
    passes.flatMap(_.ops).filter(o => o.name.startsWith("mars_") || o.name.matches("q[0-9].*"))
      .groupBy(_.name).values.map(ops => median(ops.map(_.seconds))).sum

  def timed(f: => Unit): Double = { val t = System.nanoTime; f; (System.nanoTime - t) / 1e9 }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
