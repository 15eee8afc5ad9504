package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

/** `graft.Bench`'s session warm-up and its two box-regime probes,
  * re-implemented here because Bench keeps them local to its main. */
object Warm {

  /** JIT/codegen warm-up on synthetic data, then a full-width noop scan
    * of every table, so no timed operation pays first-use costs. */
  def up(spark: SparkSession, sf: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(10000)
      .selectExpr("id", "sequence(0L, id % 20) AS arr")
      .selectExpr(
        "aggregate(transform(arr, x -> x * 2), 0L, (a, x) -> a + x) AS s",
        "size(array_distinct(transform(arr, x -> concat_ws(' ', x, x)))) AS d",
        "id % 100 AS k")
      .groupBy("k").agg(sum("s"), sum("d"))
      .collect()
    val wj = spark.range(20000).selectExpr("id", "id % 1000 AS k")
    wj.join(wj.selectExpr("k AS k2", "id AS id2"), col("k") === col("k2"))
      .selectExpr("count(*)").collect()
    spark.range(10000).selectExpr("id", "id % 13 AS k")
      .selectExpr("id", "row_number() OVER (PARTITION BY k ORDER BY id) AS rn")
      .selectExpr("max(rn)").collect()
    spark.range(1000)
      .selectExpr("""get_json_object(concat('{"a":', id, '}'), '$.a') AS a""")
      .selectExpr("count(distinct a)").collect()
    graft.Tables.names.foreach { t =>
      graft.Tables(spark, sf, t).write.format("noop").mode("overwrite").save()
    }
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** CPU leg: a fixed synthetic shuffle join + aggregation. */
  def wu(spark: SparkSession): Double = timed {
    val l = spark.range(2000000L).selectExpr("id", "id % 100000 AS k")
    l.join(l.selectExpr("k AS k2", "id AS id2"), col("k") === col("k2"))
      .groupBy("k").agg(sum("id2").as("s"))
      .selectExpr("sum(s)").collect()
  }

  /** I/O and scheduling leg: a small parquet write and read-back, then
    * 40 sequential one-stage jobs. */
  def wio(spark: SparkSession, scratch: String): Double = {
    val root = Path.of(scratch)
    Files.createDirectories(root)
    val dir = Files.createTempDirectory(root, "wio")
    try timed {
      val p = dir.resolve("probe.parquet").toString
      spark.range(500000L)
        .selectExpr("id", "CAST(id % 997 AS STRING) AS s", "id * 1.5 AS d")
        .write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
        .selectExpr("sum(id)", "count(distinct s)", "sum(d)").collect()
      var i = 0
      while (i < 40) { spark.range(1000).selectExpr("sum(id)").collect(); i += 1 }
    } finally deleteTree(dir)
  }

  def probes(spark: SparkSession, scratch: String): (Double, Double) =
    (wu(spark), wio(spark, scratch))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
}
