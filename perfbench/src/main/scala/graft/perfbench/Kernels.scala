package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Prices the 11 native SQL functions alone: each runs over the lake's
  * corpus columns (documents.text, embeddings.embedding), replicated to
  * a fixed row count, and its time above a baseline that materializes
  * the same argument columns is divided by the row count.
  */
object Kernels {
  val Rows = 8000
  val BudgetNs = 300e6

  def time(spark: SparkSession, lake: String): Map[String, Double] = {
    val docs = Tables.documents(spark, lake).select(col("text"))
    val embs = Tables.embeddings(spark, lake).select(col("vec_id"), col("embedding"))
    def replicate(df: DataFrame): DataFrame = {
      val n = df.count()
      df.crossJoin(spark.range((Rows + n - 1) / n).toDF("rep")).limit(Rows)
    }
    val text = replicate(docs)
      .withColumn("text_b", concat(substring(col("text"), 2, 1 << 20), lit("x")))
      .withColumn("ws", split(lower(col("text")), " "))
      .filter(size(col("ws")) >= 3)
      .withColumn("words", array_distinct(col("ws")))
      .withColumn("whs", expr("transform(words, w -> CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT))"))
      .withColumn("shingles", expr(graft.operators.DedupSuite.ShinglesExpr))
      .withColumn("shingles_b", expr("slice(shingles, 2, size(shingles))"))
      .localCheckpoint()
    val cents = embs.filter(col("vec_id") % 31 === 0)
      .agg(array_sort(collect_list(struct(col("vec_id").as("cid"), col("embedding").as("ce")))).as("cents"))
    val vec = replicate(embs)
      .withColumn("embedding_b", reverse(col("embedding")))
      .crossJoin(cents)
      .localCheckpoint()
    val rows = text.count().toDouble
    val vrows = vec.count().toDouble

    // (name, frame, argument columns, kernel expression)
    val cases = Seq(
      ("cosine_sim", vec, Seq("embedding", "embedding_b"), "cosine_sim(embedding, embedding_b)"),
      ("nearest_centroid", vec, Seq("embedding", "cents"), "nearest_centroid(embedding, cents)"),
      ("jaccard_sim", text, Seq("shingles", "shingles_b"), "jaccard_sim(shingles, shingles_b)"),
      ("simhash60", text, Seq("whs"), "simhash60(whs)"),
      ("minhash_sigs", text, Seq("shingles"), "minhash_sigs(shingles, 12)"),
      ("hash60_min", text, Seq("shingles"), "hash60_min(shingles)"),
      ("gram_hashes60", text, Seq("ws"), "gram_hashes60(ws, 13)"),
      ("leven_band", text, Seq("text", "text_b"), "leven_band(text, text_b, 30)"),
      ("stopword_count", text, Seq("words"), "stopword_count(words, array('the', 'a', 'and', 'of', 'to'))"),
      ("punct_count", text, Seq("text"), "punct_count(text)"),
      ("bpe_token_count", text, Seq("text"), "bpe_token_count(text)"))

    def wall(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    // alternate baseline and kernel runs until the kernel has run for
    // BudgetNs in total (3 to 15 pairs) and take the median difference
    cases.map { case (name, df, args, e) =>
      val n = if (df eq vec) vrows else rows
      val base = df.select(args.map(col): _*)
      val withFn = df.select((args.map(col) :+ expr(e).as("k")): _*)
      wall(withFn); wall(base)
      val diffs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var spent = 0.0
      while (diffs.length < 3 || (spent < BudgetNs && diffs.length < 15)) {
        val t = wall(withFn)
        spent += t
        diffs += t - wall(base)
      }
      name -> Harness.median(diffs.toSeq) / n
    }.toMap
  }
}
