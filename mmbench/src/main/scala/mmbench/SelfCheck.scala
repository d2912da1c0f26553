package mmbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

object SelfCheck {

  /** The Mars generator's contract: one seed always writes byte-identical
    * files, every seed writes the same row counts, seeds differ, and the
    * gap view starts with exactly `Medallion.Gaps` rows. */
  def run(work: Path): Boolean = {
    def files(dir: Path): Map[String, Array[Byte]] =
      Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString -> Files.readAllBytes(p)).toMap
    def shape(fs: Map[String, Array[Byte]]): Seq[Int] =
      fs.toSeq.sortBy(_._1.takeWhile(_ != '/')).map { case (_, b) =>
        new String(b, StandardCharsets.UTF_8).split("\"sol\": ").length }
    val problems = Seq.newBuilder[String]
    val shapes = (1L to 3L).map { seed =>
      val gen = MarsGen(seed, Medallion.Gaps)
      val a = files { val d = work.resolve(s"selfcheck/$seed/a"); gen.write(d); d }
      val b = files { val d = work.resolve(s"selfcheck/$seed/b"); MarsGen(seed, Medallion.Gaps).write(d); d }
      if (a.keySet != b.keySet || a.exists { case (k, v) => !java.util.Arrays.equals(v, b(k)) })
        problems += s"seed $seed: two writes differ"
      if (gen.gapCount != Medallion.Gaps) problems += s"seed $seed: ${gen.gapCount} gaps"
      (a, shape(a))
    }
    if (shapes.map(_._2).distinct.size != 1) problems += s"row counts differ across seeds: ${shapes.map(_._2)}"
    if (shapes.map(_._1.values.map(_.toSeq).toSet).distinct.size != shapes.size)
      problems += "two seeds wrote the same files"
    val found = problems.result()
    found.foreach(p => System.err.println(s"[selfcheck] $p"))
    println(s"[selfcheck] generator: ${if (found.isEmpty) "ok" else "FAILED"}")
    found.isEmpty
  }

  /** Writes the query_batch tables, the oracle SQL of the checked queries
    * and the program's own fingerprints of them, for the oracle tool. */
  def dump(spark: SparkSession, dir: Path): Unit = {
    TableGen.write(spark, dir.toString, 1L)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""
    val sql = QueryBatch.Oracles.map(n => s"${q(n)}: ${q(SparkEntry.oracleSql(n))}")
    Files.write(dir.resolve("oracle_sql.json"), sql.mkString("{", ",\n", "}").getBytes(StandardCharsets.UTF_8))
    val fps = QueryBatch.Oracles.map { n =>
      val df = SparkEntry.queries(n)(spark, dir.toString)
      s"${q(n)}: ${Fingerprint.toJson(Fingerprint.of(df.columns.toSeq, df.collect()))}"
    }
    Files.write(dir.resolve("spark_fingerprints.json"), fps.mkString("{", ",\n", "}").getBytes(StandardCharsets.UTF_8))
    println(s"[dump] wrote ${QueryBatch.Oracles.size} queries to $dir")
  }
}
