package perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one process, one closed-loop client on
  * Spark `local[cores]`. perfbench/run.py generates the inputs, starts
  * this main and turns the JSON it writes into metrics.
  *
  * Usage: perfbench.Harness key=value... with keys workload, seconds,
  * trace (0|1), data (input dir), work (work dir), out (result file),
  * cores, min_ops, queries (comma list, query workloads). */
object Harness {
  /** `trace`: after the untraced window, measure a second, traced one. */
  final case class Config(workload: String, seconds: Double, trace: Boolean, tracer: Tracer,
      dataDir: Path, workDir: Path, out: Path, cores: Int, minOps: Int,
      queries: Seq[String], listener: ExecListener)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `v` (maps, sequences, numbers, strings) as JSON, for run.py. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  def describe(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).toSeq
    chain.map(c => s"${c.getClass.getName}: ${c.getMessage}").mkString(" <- ").take(2000)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cores = kv("cores").toInt
    val cfg = Config(
      workload = kv("workload"),
      seconds = kv("seconds").toDouble,
      trace = kv.get("trace").contains("1"),
      tracer = new Tracer(false),
      dataDir = Paths.get(kv("data")),
      workDir = Paths.get(kv("work")),
      out = Paths.get(kv("out")),
      cores = cores,
      minOps = kv("min_ops").toInt,
      queries = kv.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      listener = new ExecListener)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.workDir.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Ctx.prep(spark)
    spark.sparkContext.addSparkListener(cfg.listener)

    val result =
      try {
        val body = cfg.workload match {
          case "etl_fresh_load" => new EtlWorkload(spark, cfg).run()
          case "query_tpch" => new QueryWorkload(spark, cfg, cfg.queries).run()
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        Map("ok" -> true, "workload" -> cfg.workload) ++ body
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Map("ok" -> false, "workload" -> cfg.workload, "error" -> describe(e))
      }
    Files.writeString(cfg.out, json(result))
    spark.stop()
  }
}
