package perfbench

import java.math.MathContext

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Closed-loop passes over a fixed list of registered queries, each built
  * through `SparkEntry.queries` and collected. The set-up pass is the
  * reference: its results are written out for the DuckDB oracle check,
  * and every timed execution must return the same rows. */
final class QueryWorkload(spark: SparkSession, cfg: Harness.Config, names: Seq[String]) {
  private val tracer = cfg.tracer
  private val dir = cfg.dataDir.toString
  private val registry = SparkEntry.queries

  private final case class Result(schema: StructType, rows: Array[Row])

  private def execute(name: String): Result = {
    val df: DataFrame = tracer.span("queries.build")(registry(name)(spark, dir))
    if (tracer.enabled) tracer.span("plans.plan")(df.queryExecution.executedPlan)
    val rows = tracer.span("exec.run")(df.collect())
    Result(df.schema, rows)
  }

  /** Row fingerprint for order-insensitive comparison: doubles rounded to
    * 9 significant digits, so summation-order noise does not count. */
  private def key(r: Row): String = r.toSeq.map {
    case d: Double if !d.isNaN && !d.isInfinite =>
      new java.math.BigDecimal(d).round(new MathContext(9)).stripTrailingZeros.toPlainString
    case f: Float => key(Row(f.toDouble))
    case x => String.valueOf(x)
  }.mkString("\u0001")

  private def same(a: Result, b: Result): Boolean =
    a.schema == b.schema && a.rows.length == b.rows.length &&
      a.rows.map(key).sorted.sameElements(b.rows.map(key).sorted)

  def run(): Map[String, Any] = {
    val reference = mutable.LinkedHashMap.empty[String, Result]
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val errors = mutable.LinkedHashMap.empty[String, String]
    // set-up: the first pass pays each query's one-time costs (codegen,
    // memoized reads, index/mirror builds) and fixes the reference rows
    val firstBuild = mutable.LinkedHashMap.empty[String, Double]
    names.foreach { n =>
      val t0 = System.nanoTime()
      try reference(n) = execute(n)
      catch { case e: Throwable => errors(n) = Harness.describe(e) }
      firstBuild(n) = (System.nanoTime() - t0) / 1e9
    }

    val firstOpMs = System.currentTimeMillis()
    def window(traced: Boolean): (Long, Long) = {
      val fromMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var pass = 0
      while (pass < cfg.minOps || (System.nanoTime() - t0) / 1e9 < cfg.seconds) {
        names.foreach { n =>
          val s0 = System.nanoTime()
          val out = try Right(execute(n)) catch { case e: Throwable => Left(e) }
          val secs = (System.nanoTime() - s0) / 1e9
          val base = Map("traced" -> traced, "pass" -> pass, "query" -> n, "seconds" -> secs)
          ops += (out match {
            case Right(r) =>
              val ok = reference.get(n).exists(same(_, r))
              base ++ Map("ok" -> ok, "rows" -> r.rows.length) ++
                (if (ok) Map() else Map("error" -> "rows differ from the set-up pass"))
            case Left(e) => base ++ Map("ok" -> false, "error" -> Harness.describe(e))
          })
        }
        pass += 1
      }
      (fromMs, System.currentTimeMillis())
    }
    window(traced = false)
    val layers =
      if (!cfg.trace) Map.empty[String, Any]
      else {
        tracer.enabled = true
        val (from, to) = window(traced = true)
        tracer.enabled = false
        traceLayers(from, to, firstBuild.values.sum)
      }

    // reference rows out for the oracle check (after timing)
    val outDir = cfg.workDir.resolve("results")
    reference.foreach { case (n, r) =>
      spark.createDataFrame(r.rows.toSeq.asJava, r.schema).coalesce(1)
        .write.mode("overwrite").parquet(outDir.resolve(n).toString)
    }
    val oracle = SparkEntry.oracleSql
    Map("first_op_ms" -> firstOpMs, "ops" -> ops.toSeq,
      "setup_errors" -> errors.toMap,
      "oracle" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap,
      "results_dir" -> outDir.toString,
      "layers" -> layers)
  }

  private def traceLayers(fromMs: Long, toMs: Long, firstBuildS: Double): Map[String, Any] = {
    org.apache.spark.perfbenchshim.BusShim.drain(spark.sparkContext)
    val jobs = cfg.listener.jobsBetween(fromMs, toMs)
    val runSpans = tracer.spans.filter(_.name == "exec.run")
    val inRun = jobs.filter(j => runSpans.exists { s =>
      j.startMs >= tracer.epochMs(s.startNs) && j.startMs <= tracer.epochMs(s.endNs)
    })
    val runS = tracer.total("exec.run")
    val taskS = inRun.map(_.runMs).sum / 1e3
    Map(
      "queries.build_s" -> tracer.total("queries.build"),
      "plans.plan_s" -> tracer.total("plans.plan"),
      "exec.run_s" -> runS,
      "exec.task_s" -> taskS,
      "exec.cpu_util" -> (if (runS > 0) taskS / (runS * cfg.cores) else 0.0),
      "exec.jobs" -> jobs.size,
      "exec.shuffle_mb" -> jobs.map(_.shuffleWriteBytes).sum / 1048576.0,
      "exec.input_mb" -> jobs.map(_.inputBytes).sum / 1048576.0,
      "setup.first_build_s" -> firstBuildS)
  }
}
