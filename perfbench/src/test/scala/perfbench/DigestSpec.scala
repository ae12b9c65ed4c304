package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  test("the output digest ignores row order and partitioning, not duplicates") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val df = (1 to 500).map(i => (s"u$i", i % 3 == 0, s"text $i", i % 7))
        .toDF("url", "keep", "scrubbed_text", "n_redacted")
      val cols = Workloads.pipelineDigestCols
      val d = Workloads.digest(df, cols)
      assert(d.startsWith("500:"))
      assert(Workloads.digest(df.orderBy(col("url").desc), cols) == d)
      assert(Workloads.digest(df.repartition(7), cols) == d)
      assert(Workloads.digest(df.union(df.limit(1)), cols) != d)
      assert(Workloads.digest(df.filter(col("n_redacted") =!= 0), cols) != d)
      val changed = df.withColumn("scrubbed_text",
        org.apache.spark.sql.functions.when(col("url") === "u1", "other")
          .otherwise(col("scrubbed_text")))
      assert(Workloads.digest(changed, cols) != d)
    } finally spark.stop()
  }
}
