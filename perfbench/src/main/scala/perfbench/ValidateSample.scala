package perfbench

import java.nio.file.{Files, Paths}

import graft.etl.{Ingest, Transform, Validate}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What the program's own validation makes of a generated sales CSV, for
  * the benchmark's tests to hold the generator's ground truth against.
  *
  * Usage: perfbench.ValidateSample <csv> <out.json> */
object ValidateSample {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-sample")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Ctx.prep(spark)
    try {
      val raw = Ingest.csv(spark, args(0))
      val report = Validate.validateStructure(raw)
      val (clean, rejected) = Validate.split(Transform(raw))
      val sums = clean.agg(
        count(lit(1)), sum(col("quantity").cast("long")),
        sum((col("unit_price") * 100).cast("long")),
        sum((col("total_sale") * 100).cast("long")),
        sum(col("customer_id").cast("long")),
        sum(year(col("transaction_date")).cast("long") * 10000 +
          month(col("transaction_date")) * 100 + dayofmonth(col("transaction_date"))),
        sum(length(col("product_name")) + length(col("region"))),
        sum(when(col("status") === "completed", 1).otherwise(0))).head()
      val names = Seq("n_clean", "sum_quantity", "sum_price_cents", "sum_total_cents",
        "sum_customer_id", "sum_date", "sum_text_len", "n_completed")
      val out = names.zipWithIndex.map { case (n, i) => n -> sums.getLong(i) }.toMap ++
        Map("n_rejected" -> rejected.count(), "duplicate_ids" -> report.duplicateIds,
          "structure_ok" -> report.ok)
      Files.writeString(Paths.get(args(1)), Harness.json(out))
    } finally spark.stop()
  }
}
