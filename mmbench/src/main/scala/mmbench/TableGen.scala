package mmbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generates the tables the benchmark's registered queries read, with
  * TESTDATA.md's columns and types, as parquet under `dir/<table>.parquet`:
  * customer, orders, lineitem, events, documents, embeddings.
  *
  * Every value is a hash of the row id, so content does not depend on
  * partitioning and is the same on every run: the stored oracle
  * fingerprints stay valid. The seed changes only the row order of
  * `documents` and `embeddings`, which the curation pipelines must not
  * depend on.
  *
  * Sizes: the relational tables are at the sf0.01 row counts, so the
  * queries are dominated by planning and per-job cost; the corpus tables
  * are at the sf0.1 row counts (5,000 documents, 2,000 vectors).
  */
object TableGen {
  val Customers = 1500
  val Orders = 15000
  val LineItems = 60000
  val Events = 10000
  val Documents = 5000
  val Vectors = 2000
  val Dim = 64

  private def h(salt: Int, cols: String*): String =
    s"xxhash64(${cols.mkString(", ")}, $salt)"
  /** A hash-derived integer in [0, n). */
  private def u(n: Long, salt: Int, cols: String*): String = s"pmod(${h(salt, cols: _*)}, $n)"
  private def pick(values: Seq[String], salt: Int, cols: String*): String =
    s"element_at(array(${values.map("'" + _ + "'").mkString(", ")}), cast(${u(values.size, salt, cols: _*)} as int) + 1)"

  private val Vocab = Seq("a", "the", "batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge", "data", "vector",
    "customer", "join")

  private def range(spark: SparkSession, n: Long) = spark.range(n).withColumnRenamed("id", "k")
  private def out(dir: String, name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** All six tables. */
  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    writeFixed(spark, dir)
    writeSeeded(spark, dir, seed)
  }

  /** The relational tables, which no seed changes. */
  def writeFixed(spark: SparkSession, dir: String): Unit = {
    def range(n: Long) = this.range(spark, n)
    def out(name: String, df: DataFrame): Unit = this.out(dir, name, df)

    out("customer", range(Customers).selectExpr("k as c_custkey",
      "concat('Customer#', lpad(cast(k as string), 9, '0')) as c_name",
      s"cast(${u(25, 1, "k")} as int) as c_nationkey",
      s"(${u(1099900, 2, "k")} - 99900) / 100.0 as c_acctbal",
      s"${pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 3, "k")} as c_mktsegment"))
    out("orders", range(Orders).selectExpr("k as o_orderkey",
      s"${u(Customers, 11, "k")} as o_custkey",
      s"${pick(Seq("F", "O", "P"), 12, "k")} as o_orderstatus",
      s"${u(50000000, 13, "k")} / 100.0 as o_totalprice",
      s"timestamp_seconds(788918400 + 86400 * ${u(2400, 14, "k")}) as o_orderdate",
      s"${pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 15, "k")} as o_orderpriority"))
    out("lineitem", range(LineItems).selectExpr("k div 4 as l_orderkey",
      s"${u(2000, 16, "k")} as l_partkey",
      s"${u(100, 17, "k")} as l_suppkey",
      "cast(k % 4 + 1 as int) as l_linenumber",
      s"cast(${u(50, 18, "k")} + 1 as double) as l_quantity",
      s"${u(10000000, 19, "k")} / 100.0 as l_extendedprice",
      s"${u(11, 20, "k")} / 100.0 as l_discount",
      s"${u(9, 21, "k")} / 100.0 as l_tax",
      s"${pick(Seq("A", "N", "R"), 22, "k")} as l_returnflag",
      s"${pick(Seq("F", "O"), 23, "k")} as l_linestatus",
      s"timestamp_seconds(788918400 + 86400 * ${u(2500, 24, "k")}) as l_shipdate"))
    out("events", range(Events).selectExpr("k as event_id",
      s"timestamp_micros(1704067200000000 + k * 259000000 + ${u(259000000, 25, "k")}) as ts",
      s"${u(150, 26, "k")} as user_id",
      s"${pick(Seq("click", "error", "purchase", "signup", "view"), 27, "k")} as event_type",
      s"${u(56000, 28, "k")} / 100.0 as value",
      s"concat('{\"k\": ', ${u(100, 29, "k")}, '}') as props"))

  }

  /** The corpus tables, in the seed's row order. */
  def writeSeeded(spark: SparkSession, dir: String, seed: Long): Unit = {
    def range(n: Long) = this.range(spark, n)
    def out(name: String, df: DataFrame): Unit = this.out(dir, name, df)
    // Corpus: bags of words over a small vocabulary. Every 50th document
    // repeats an earlier one exactly and every 20th repeats one with a
    // single word changed, so exact and near dedup both remove rows; every
    // 9th carries a shared footer line for the line-level boilerplate step.
    val src = "IF(k % 50 = 13, k - 13, IF(k % 20 = 7, k - 7, k))"
    val vocab = Vocab.map("'" + _ + "'").mkString("array(", ", ", ")")
    val words = s"transform(sequence(1, cast(8 + ${u(70, 30, "src")} as int)), " +
      s"j -> element_at($vocab, cast(pmod(xxhash64(src, IF(k % 20 = 7 AND j = 3, j + 1000, j), 31), ${Vocab.size}) as int) + 1))"
    val docs = range(Documents).selectExpr("k", s"$src as src")
      .selectExpr("k as doc_id",
        s"concat(array_join($words, ' '), IF(k % 9 = 4, '\\nhome about contact privacy terms', '')) as text",
        s"${pick(Seq("en", "en", "en", "de", "es", "fr", "zh"), 32, "src")} as lang",
        s"concat('src', ${u(20, 33, "src")}) as source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    out("documents", shuffled(docs, "doc_id", seed))

    // Vectors: ten labels with weak cluster centres, so few vectors are
    // semantic duplicates by chance. Every 25th vector is a slightly
    // perturbed copy of an earlier one and every 100th an exact copy.
    val vsrc = "IF(k % 100 = 41, k - 41, IF(k % 25 = 9, k - 9, k))"
    val comps = s"transform(sequence(0, ${Dim - 1}), d -> cast(" +
      s"(${u(2001, 34, "label", "d")} - 1000) / 50000.0 + " +
      s"(${u(2001, 35, "src", "d")} - 1000) / 5000.0 + " +
      s"IF(k % 25 = 9, (${u(21, 36, "k", "d")} - 10) / 1000000.0, 0) as float))"
    val embs = range(Vectors).selectExpr("k", s"$vsrc as src")
      .selectExpr("k", "src", s"cast(${u(10, 37, "src")} as int) as label")
      .selectExpr("k as vec_id", s"$comps as embedding", "label")
    out("embeddings", shuffled(embs, "vec_id", seed))
  }

  /** The seeded row order: one file, rows sorted by a seeded hash. */
  private def shuffled(df: DataFrame, key: String, seed: Long): DataFrame =
    df.orderBy(xxhash64(col(key), lit(seed)), col(key))
}
