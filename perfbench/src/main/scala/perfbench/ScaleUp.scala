package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own copy of the `graft.ScaleUp` construction, so the
  * workload data does not change when the engine's mains do. Each
  * fact table is replicated `factor` times with replica-shifted keys
  * (key + r·10^8): referential integrity, per-key densities and group
  * sizes are preserved and the corpus grows by more groups, not fatter
  * ones. `documents.text` is token-salted per replica (replica 0 is
  * byte-identical), `embeddings` get a replica-indexed component
  * offset, and `region`/`nation` are copied as-is. Fails when a
  * written table does not hold exactly `factor` × its source rows. */
object ScaleUp {
  private val Step = 100000000L

  def run(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    def tbl(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def replicate(df: DataFrame): DataFrame =
      df.withColumn("__r", explode(array((0 until factor).map(r => lit(r.toLong)): _*)))
    def shifted(c: String): Column = col(c) + col("__r") * Step
    def write(df: DataFrame, name: String, files: Int, expect: Long): Unit = {
      df.drop("__r").repartition(files)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      val n = spark.read.parquet(s"$dst/$name.parquet").count()
      require(n == expect, s"scale-up: $name has $n rows, expected $expect")
    }
    def n(name: String) = tbl(name).count()
    def scaled(name: String) = n(name) * factor

    Seq("region", "nation").foreach(t => write(tbl(t), t, 1, n(t)))
    write(replicate(tbl("customer"))
      .withColumn("c_custkey", shifted("c_custkey")), "customer", 4, scaled("customer"))
    write(replicate(tbl("supplier"))
      .withColumn("s_suppkey", shifted("s_suppkey")), "supplier", 2, scaled("supplier"))
    write(replicate(tbl("part"))
      .withColumn("p_partkey", shifted("p_partkey")), "part", 4, scaled("part"))
    write(replicate(tbl("orders"))
      .withColumn("o_orderkey", shifted("o_orderkey"))
      .withColumn("o_custkey", shifted("o_custkey")), "orders", 8, scaled("orders"))
    write(replicate(tbl("lineitem"))
      .withColumn("l_orderkey", shifted("l_orderkey"))
      .withColumn("l_partkey", shifted("l_partkey"))
      .withColumn("l_suppkey", shifted("l_suppkey")), "lineitem", 16, scaled("lineitem"))
    write(replicate(tbl("events"))
      .withColumn("event_id", shifted("event_id"))
      .withColumn("user_id", shifted("user_id")), "events", 16, scaled("events"))
    val docs = replicate(tbl("documents"))
      .withColumn("doc_id", shifted("doc_id"))
      .withColumn("text",
        when(col("__r") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1_"), col("__r")))))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write(docs, "documents", 8, scaled("documents"))
    val emb = replicate(tbl("embeddings"))
      .withColumn("vec_id", shifted("vec_id"))
      .withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          (x + when(i.cast("long") === pmod(col("__r"),
              size(col("embedding")).cast("long")),
            col("__r").cast("float") * lit(0.9f))
            .otherwise(lit(0.0f))).cast("float")))
    write(emb, "embeddings", 4, scaled("embeddings"))
  }
}
