package mmbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{SparkEntry, Tables}
import graft.sim.VectorCurationPipeline
import graft.text.CurationPipeline

/** `query_batch`: the read and compute paths, run by one client.
  *
  * One pass runs a fixed mix: the two curation pipelines (text over
  * `documents`, vectors over `embeddings`), each one's output consumed and
  * then released, then 6 registered `q*` queries over the generated star
  * schema, each `QueryReps` times, in an order drawn from the seed.
  * Every result is checked against the DuckDB-oracle fingerprints stored
  * in `expected/query_batch.json`.
  */
final class QueryBatch(spark: SparkSession, work: Path, seed: Long, expected: Map[String, Fingerprint.Fp])
    extends Workload {
  import QueryBatch._

  private val dir = work.resolve("tables").toString

  /** The relational tables depend on neither the seed nor the program, so
    * they are made once per build, in `fixed-tables` beside the run's work
    * directory (the build deletes it), and each run copies them. */
  override def prepare(): Unit = {
    val cache = work.getParent.resolve("fixed-tables")
    if (!Files.isDirectory(cache)) {
      val tmp = work.resolve("fixed-tables")
      TableGen.writeFixed(spark, tmp.toString)
      Files.move(tmp, cache, StandardCopyOption.ATOMIC_MOVE)
    }
    val files = Files.walk(cache)
    try files.iterator().asScala.foreach { from =>
      val to = work.resolve("tables").resolve(cache.relativize(from).toString)
      if (Files.isDirectory(from)) Files.createDirectories(to) else Files.copy(from, to)
    } finally files.close()
  }
  def setup(): Unit = TableGen.writeSeeded(spark, dir, seed)

  /** The mix: the text pipeline, then the vector pipeline, then
    * `QueryReps` rounds of the queries, each round in an order drawn from
    * the seed. The pipelines keep a fixed order and come before every
    * query, so that no seed puts more queries in their wake than another:
    * the first round after them is the slowest, and the median over the
    * rounds drops it. */
  val order: Seq[String] = {
    val rng = new MarsGen.SplitMix(seed)
    def shuffled(names: Seq[String]): Seq[String] = {
      val xs = names.toArray
      for (i <- xs.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val t = xs(i); xs(i) = xs(j); xs(j) = t
      }
      xs.toSeq
    }
    Seq(TextCuration, VectorCuration) ++ Seq.fill(QueryReps)(()).flatMap(_ => shuffled(Relational))
  }

  def pass(trace: Trace, traced: Boolean): Pass = {
    val t0 = System.nanoTime
    val ops = order.map { name =>
      val a = System.nanoTime
      val outcome = try name match {
        case TextCuration => trace.span("text.pipeline")(text(trace))
        case VectorCuration => trace.span("sim.pipeline")(vectors(trace))
        case q => trace.span("queries.query")(query(trace, q))
      } catch { case e: Exception => Some(s"$name: $e") }
      Op(name, (System.nanoTime - a) / 1e9, outcome)
    }
    Pass((System.nanoTime - t0) / 1e9, ops, Map.empty, Map.empty)
  }

  private def query(trace: Trace, name: String): Option[String] = {
    val df = trace.span("queries.plan") {
      val df = SparkEntry.queries(name)(spark, dir)
      df.queryExecution.executedPlan
      df
    }
    val rows = trace.span("queries.exec")(df.collect())
    Fingerprint.diff(expected(name), Fingerprint.of(df.columns.toSeq, rows)).map(d => s"$name: $d")
  }

  private def text(trace: Trace): Option[String] = {
    val docs = Tables.documents(spark, dir)
    val inEval = pmod(col("doc_id"), lit(97L)) === 0L
    val r = trace.span("text.run")(CurationPipeline.run(docs.filter(!inEval), docs.filter(inEval)))
    val (kept, audit) = trace.span("text.consume")((r.curated.count(), r.audit.collect()))
    trace.span("ops.release")(r.unpersist())
    audited(trace, "td_curation_audit", "text", audit, kept, "n_docs", "0_input", "4_decontaminated")
  }

  private def vectors(trace: Trace): Option[String] = {
    val embs = Tables.embeddings(spark, dir)
    val r = trace.span("sim.run")(VectorCurationPipeline.run(embs, col("vec_id") < 5))
    val (kept, audit) = trace.span("sim.consume")((r.curated.count(), r.audit.collect()))
    trace.span("ops.release")(r.unpersist())
    audited(trace, "emb_curation_audit", "sim", audit, kept, "n_vecs", "0_input", "3_decontaminated")
  }

  /** Checks a pipeline's audit against the oracle fingerprint of its
    * registered audit query, and its curated count against the audit's
    * last stage. */
  private def audited(trace: Trace, oracle: String, layer: String,
                      audit: Array[org.apache.spark.sql.Row], kept: Long,
                      countCol: String, first: String, last: String): Option[String] = {
    val counts = audit.map(r => r.getString(0) -> r.getLong(1)).toMap
    trace.count(s"$layer.input", counts.getOrElse(first, 0L).toDouble)
    trace.count(s"$layer.kept", kept.toDouble)
    val sorted = audit.sortBy(_.getString(0))
    Fingerprint.diff(expected(oracle), Fingerprint.of(Seq("stage", countCol), sorted))
      .map(d => s"$oracle: $d")
      .orElse(if (counts.get(last).contains(kept)) None
              else Some(s"$oracle: curated $kept rows, audit says ${counts.get(last)}"))
  }
}

object QueryBatch {
  /** Registered queries across the relational families: aggregate, a
    * three-way join, window, time bucketing, as-of join and pivot. */
  val Relational: Seq[String] = Seq(
    "q1_agg", "q3_join_agg", "q5_window_rownum", "q16_events_hourly", "q23_asof_join",
    "q35_pivot")
  /** Runs of each query per pass. A query takes a few hundred
    * milliseconds, so its latency is the median of several runs, not one
    * sample. */
  val QueryReps = 3
  val TextCuration = "curation_text"
  val VectorCuration = "curation_vectors"
  /** Registered queries whose oracle fingerprints the batch checks. */
  val Oracles: Seq[String] = Relational ++ Seq("td_curation_audit", "emb_curation_audit")
}
