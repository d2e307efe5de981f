package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Rows per second per core of each native `graft_*` function, and of the
  * interpreted higher-order-function form of `Similarity.l2sq`, each
  * evaluated by a `noop` write over cached copies of the curation inputs.
  * Every kernel runs once to compile, then twice timed; the faster counts. */
object Kernels {
  private val DocRows = 40000L
  private val VecRows = 40000L

  private val l2sqHof =
    "aggregate(zip_with(embedding, reverse(embedding), (x, y) -> " +
      "(double(x) - double(y)) * (double(x) - double(y))), 0D, (acc, x) -> acc + x)"

  private def replicate(df: DataFrame, rows: Long): DataFrame = {
    val n = df.count()
    val copies = math.max(1L, (rows + n - 1) / n)
    val spark = df.sparkSession
    val out = df.crossJoin(spark.range(copies).withColumnRenamed("id", "copy"))
      .limit(rows.toInt).repartition(spark.sparkContext.defaultParallelism).cache()
    out.count()
    out
  }

  def run(spark: SparkSession, dataDir: String, cores: Int): Seq[(String, Double)] = {
    val docs = replicate(spark.read.parquet(s"$dataDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("n_chars"),
        substring(col("text"), 1, 12).as("item")), DocRows)
    val vecs = replicate(spark.read.parquet(s"$dataDir/embeddings.parquet")
      .select("vec_id", "embedding"), VecRows)
    val sketch = docs.selectExpr("graft_count_min(item, 1024, 4) AS sk")
    val grouped = docs.groupBy(col("doc_id") % 64)
    val kernels: Seq[(String, DataFrame, Long)] = Seq(
      ("graft_cosine", vecs.selectExpr("graft_cosine(embedding, reverse(embedding))"), VecRows),
      ("graft_dot", vecs.selectExpr("graft_dot(embedding, reverse(embedding))"), VecRows),
      ("l2sq_hof", vecs.selectExpr(l2sqHof), VecRows),
      ("graft_normalize_ws", docs.selectExpr("graft_normalize_ws(text)"), DocRows),
      ("graft_unicode_normalize", docs.selectExpr("graft_unicode_normalize(text, 'NFKC')"), DocRows),
      ("graft_shingles", docs.selectExpr("graft_shingles(text, 3)"), DocRows),
      ("graft_top_k", grouped.agg(expr("graft_top_k(CAST(n_chars AS DOUBLE), doc_id, 10)")), DocRows),
      ("graft_frequent_items", grouped.agg(expr("graft_frequent_items(item, 64, 10)")), DocRows),
      ("graft_count_min", grouped.agg(expr("graft_count_min(item, 1024, 4)")), DocRows),
      ("graft_cm_estimate", docs.crossJoin(broadcast(sketch))
        .selectExpr("graft_cm_estimate(sk, item, 1024, 4)"), DocRows),
      ("graft_jaro", docs.selectExpr("graft_jaro(substring(text, 1, 40), substring(text, 41, 40))"), DocRows),
      ("graft_jaro_winkler", docs.selectExpr(
        "graft_jaro_winkler(substring(text, 1, 40), substring(text, 41, 40))"), DocRows),
      ("graft_luhn", docs.selectExpr("graft_luhn(CAST(doc_id * 7919 + 13 AS STRING))"), DocRows))
    val rates = kernels.map { case (name, df, rows) =>
      def once(): Double = {
        val t = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      once()
      val sec = math.min(once(), once())
      name -> rows / sec / cores
    }
    docs.unpersist(); vecs.unpersist()
    rates
  }
}
