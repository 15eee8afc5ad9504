package graft.tools

import org.apache.spark.sql.SparkSession

import graft.Bench

/** Prints both halves of the cache lifecycle ledger derived from the
  * REAL query definitions in one cold replay (see
  * [[graft.Bench.deriveLedger]]) as Scala source, ready to paste into
  * `Bench.releaseAfter` and `Bench.buildAbsorbers` whenever the
  * inventory changes. The `BenchReleaseSpec` gate fails until the
  * pasted maps match, so the hand-copied ledger can never silently
  * drift from the code.
  */
object ReleasePlan {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val (plan, absorbers) = Bench.deriveLedger(spark, dir)
    println("  val releaseAfter: Map[String, Seq[String]] = Map(")
    plan.toSeq.sortBy(_._1).foreach { case (q, keys) =>
      println(s"""    "$q" -> Seq(${keys.sorted.map("\"" + _ + "\"").mkString(", ")}),""")
    }
    println("  )")
    // build-attribution half: which query's timed section absorbs each
    // cache build in sorted run order — paste into Bench.buildAbsorbers
    // AND BASELINE.md's attribution table
    println("  val buildAbsorbers: Map[String, String] = Map(")
    absorbers.toSeq.sortBy(_._1)
      .foreach { case (p, q) => println(s"""    "$p" -> "$q",""") }
    println("  )")
    spark.stop()
  }
}
