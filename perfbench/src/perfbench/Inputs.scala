package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ScaleBench

/** Seeded input generators. Every value is a hash of (seed, row id), so a
  * seed always yields the same inputs on any partitioning. Inputs are
  * written as parquet under the run's temp root and read back, so the
  * timed ops scan files, not generator plans. */
object Inputs {

  /** The seed folded into the per-row hash key of the generators. */
  def key(seed: Long, id: Column): Column = xxhash64(lit(seed), id)

  /** Eval passages: how many, and how many tokens each. */
  val evalPassages = 64
  val evalTokens = 12

  /** Eval passages for decontamination: `evalTokens` tokens from an
    * x-prefixed vocabulary the corpus never draws from, so only planted
    * passages can share a shingle with them. Columns (id, text). */
  def evalSet(spark: SparkSession, seed: Long): DataFrame =
    spark.range(evalPassages).select(col("id"),
      evalText(seed, col("id")).as("text"))

  private def evalText(seed: Long, j: Column): Column =
    array_join(transform(sequence(lit(0), lit(evalTokens - 1)), t =>
      concat(lit("x"), pmod(xxhash64(lit(seed), lit(-1L), j, t), lit(100000))
        .cast("string"))), " ")

  /** Zipfian corpus in the `ScaleBench.genDocs` shape (20k-word
    * vocabulary, `ScaleBench.tokensPerDoc` tokens, languages en/de/fr)
    * with the seed folded into the token hash key. `n` base docs, plus a
    * near-dup copy (3 tokens appended) of those with id % 20 == 0 and an
    * exact copy of those with id % 40 == 10; base docs with id % 40 == 7
    * carry an eval passage and those with id % 25 == 3 an email address
    * and a phone number. Columns: doc_id, text, lang, source, n_chars. */
  def corpus(spark: SparkSession, seed: Long, n: Long, files: Int,
      path: String): Unit = {
    val id = col("id")
    val k = key(seed, id)
    val toks = transform(sequence(lit(0), lit(ScaleBench.tokensPerDoc - 1)),
      j => ScaleBench.zipfToken(k, j))
    val half = ScaleBench.tokensPerDoc / 2
    val plain = array_join(toks, " ")
    val withEval = concat_ws(" ", array_join(slice(toks, 1, half), " "),
      evalText(seed, pmod(id, lit(evalPassages.toLong))),
      array_join(slice(toks, half + 1, ScaleBench.tokensPerDoc), " "))
    val body = when(pmod(id, lit(40)) === 7, withEval).otherwise(plain)
    val text = when(pmod(id, lit(25)) === 3, concat(lit("user"), id.cast("string"),
        lit("@example.com "), body, lit(" 555-"),
        lpad(pmod(id, lit(1000)).cast("string"), 3, "0"), lit("-"),
        lpad(pmod(k, lit(10000)).cast("string"), 4, "0")))
      .otherwise(body)
    val base = spark.range(n).select(id.as("doc_id"), text.as("text"),
      element_at(array(lit("en"), lit("de"), lit("fr")),
        (pmod(xxhash64(k, lit(7)), lit(3)) + 1).cast("int")).as("lang"))
    val near = base.filter(pmod(col("doc_id"), lit(20)) === 0)
      .select((col("doc_id") + n).as("doc_id"),
        concat(col("text"), lit(" zz1x zz2x zz3x")).as("text"), col("lang"))
    val exact = base.filter(pmod(col("doc_id"), lit(40)) === 10)
      .select((col("doc_id") + 2 * n).as("doc_id"), col("text"), col("lang"))
    base.unionByName(near).unionByName(exact)
      .withColumn("source", lit("synb"))
      .withColumn("n_chars", length(col("text")))
      .repartition(files)
      .write.mode("overwrite").parquet(path)
  }

  /** Edge list in the `GraphScaleBench` shape: uniform endpoints over
    * V = m/15 vertices (average degree ~30) and 2% of edges leaving hub
    * vertex 0, self-loops dropped. Columns: src, dst. */
  def graph(spark: SparkSession, seed: Long, m: Long, files: Int,
      path: String): Unit = {
    val v = m / 15
    def uni(salt: Int) = pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(v)) + 1
    spark.range(m).select(
        when(pmod(xxhash64(lit(seed), col("id"), lit(99)), lit(50)) === 0, lit(0L))
          .otherwise(uni(1)).as("src"),
        uni(2).as("dst"))
      .where(col("src") =!= col("dst"))
      .repartition(files)
      .write.mode("overwrite").parquet(path)
  }
}
