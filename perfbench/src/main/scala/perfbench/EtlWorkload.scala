package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.{DriverManager, SQLException}

import scala.collection.mutable.ArrayBuffer

import graft.etl.{Main, Runner}
import graft.sinks.JdbcUpsert
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** etl_fresh_load: the CSV→DB daily batch. Every measured run lands the
  * batch (version A) at a new path and loads it through `Runner.run` into
  * a new, empty in-memory Derby database, with the sink wired as
  * `graft.etl.Main.runPipeline` wires it (same tables, key, dialect and
  * audit columns) except for one writer: at the sink's default fan-out
  * Derby's MERGE fails when a new process first runs it on several
  * connections at once, which the traced run records as
  * `load.multiwriter_failures`.
  *
  * The traced run also re-loads version B onto a database holding
  * version A, so the upsert's UPDATE branch is measured as a layer. */
final class EtlWorkload(spark: SparkSession, cfg: Harness.Config) {
  private val CleanTable = "sales_transactions"
  private val RejectTable = "rejected_rows"
  private val Key = Seq("transaction_id")
  private val Writers = 1
  private val dialect = JdbcUpsert.AnsiMerge()
  private val tracer = cfg.tracer

  private def input(version: String): Path = cfg.dataDir.resolve(s"sales_$version.csv")
  private val inDir = Files.createDirectories(cfg.workDir.resolve("in"))
  private var fileSeq = 0
  private var dbSeq = 0

  /** A copy of `src` at a path no earlier run has read, as a daily batch
    * lands: path-keyed memos in the program cannot hit. */
  private def freshCopy(src: Path): String = {
    fileSeq += 1
    val dst = inDir.resolve(s"batch_$fileSeq.csv")
    Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    dst.toString
  }

  private def newDb(): String = {
    dbSeq += 1
    val url = s"jdbc:derby:memory:pb$dbSeq"
    DriverManager.getConnection(s"$url;create=true").close()
    url
  }

  private def dropDb(url: String): Unit =
    try DriverManager.getConnection(s"$url;drop=true").close()
    catch { case _: SQLException => () } // Derby signals a completed drop by throwing

  /** One batch as a user runs it: schema bootstrap, then Runner.run with
    * the upsert + dead-letter sink. `upsertSpan` names the upsert's span. */
  private def batch(url: String, path: String, upsertSpan: String): Runner.Summary = {
    val u = if (tracer.enabled) CountingDriver.counted(url) else url
    JdbcUpsert.ensureTable(u, CleanTable, Main.CleanSchema, Key,
      ifNotExistsSyntax = false, auditTimestampCol = Some("loaded_at"), dialect = dialect)
    JdbcUpsert.ensureTable(u, RejectTable, Main.RejectSchema, Nil,
      ifNotExistsSyntax = false, identityCol = Some("id"),
      auditTimestampCol = Some("rejected_at"), dialect = dialect)
    val out = tracer.span("runner.run") {
      Runner.run(spark, path) { (clean, rejected) =>
        val projected = clean.select(Main.CleanSchema.fieldNames.map(col).toSeq: _*)
        tracer.span(upsertSpan) {
          JdbcUpsert.upsert(projected, u, CleanTable, Key, dialect,
            auditTimestampCol = Some("loaded_at"), maxConnections = Writers)
        }
        tracer.span("load.append") {
          JdbcUpsert.append(rejected, u, RejectTable, maxConnections = Writers)
        }
      }
    }
    out.fold(h => throw new IllegalStateException(s"pipeline halted: $h"), identity)
  }

  /** What the database holds after a run, for the output check. */
  private def observe(url: String): Map[String, Long] = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      def longs(sql: String): Seq[Long] = {
        val rs = st.executeQuery(sql)
        try { rs.next(); (1 to rs.getMetaData.getColumnCount).map(rs.getLong) }
        finally rs.close()
      }
      val c = longs(
        s"""SELECT COUNT(*), SUM(CAST(quantity AS BIGINT)),
           | SUM(CAST(unit_price * 100 AS BIGINT)), SUM(CAST(total_sale * 100 AS BIGINT)),
           | SUM(CAST(customer_id AS BIGINT)),
           | SUM(CAST(YEAR(transaction_date) AS BIGINT) * 10000
           |     + MONTH(transaction_date) * 100 + DAY(transaction_date)),
           | SUM(CAST(LENGTH(product_name) + LENGTH(region) AS BIGINT)),
           | SUM(CASE WHEN status = 'completed' THEN 1 ELSE 0 END),
           | SUM(CASE WHEN loaded_at IS NULL THEN 0 ELSE 1 END)
           | FROM $CleanTable""".stripMargin)
      val r = longs(s"SELECT COUNT(*) FROM $RejectTable")
      Seq("clean_rows", "sum_quantity", "sum_price_cents", "sum_total_cents",
        "sum_customer_id", "sum_date", "sum_text_len", "n_completed", "n_loaded_at")
        .zip(c).toMap + ("rejected_rows" -> r.head)
    } finally conn.close()
  }

  private val runs = ArrayBuffer.empty[Map[String, Any]]

  /** Load `version` into `url` as one timed batch and record the run: its
    * time, its summary and what the database then holds. */
  private def timedBatch(phase: String, url: String, version: String,
      upsertSpan: String = "load.upsert"): Unit = {
    val path = freshCopy(input(version))
    val t0 = System.nanoTime()
    val summary =
      try Right(batch(url, path, upsertSpan))
      catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val base = Map("phase" -> phase, "version" -> version, "db" -> url, "seconds" -> secs)
    runs += (summary match {
      case Right(s) => base ++ Map("ok" -> true, "n_input" -> s.nInput,
        "n_clean" -> s.nClean, "n_rejected" -> s.nRejected) ++ observe(url)
      case Left(e) => base ++ Map("ok" -> false, "error" -> Harness.describe(e))
    })
  }

  /** Closed loop for `cfg.seconds` (and at least `cfg.minOps` runs), each
    * run into a new database. Returns the window's wall-clock bounds. */
  private def window(phase: String): (Long, Long) = {
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var i = 0
    while (i < cfg.minOps || (System.nanoTime() - t0) / 1e9 < cfg.seconds) {
      val url = newDb()
      timedBatch(phase, url, "a")
      dropDb(url)
      i += 1
    }
    (fromMs, System.currentTimeMillis())
  }

  def run(): Map[String, Any] = {
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val multiWriter = if (cfg.trace) multiWriterProbe() else Map.empty[String, Any]
    // set-up: full batches warm the JIT, Spark's codegen caches and Derby's
    // statement compilation; run times still fall after the first one
    (1 to 2).foreach { _ =>
      val warm = newDb()
      timedBatch("warmup", warm, "a")
      dropDb(warm)
    }

    val firstOpMs = System.currentTimeMillis()
    window("timed")
    val layers =
      if (!cfg.trace) Map.empty[String, Any]
      else {
        tracer.enabled = true
        CountingDriver.reset()
        val (from, to) = window("traced")
        val layers = traceLayers(from, to)
        val update = updateProbe()
        tracer.enabled = false
        layers ++ update ++ multiWriter
      }
    Map("first_op_ms" -> firstOpMs, "runs" -> runs.toSeq, "layers" -> layers)
  }

  /** Per-run-summed layer totals over the traced window, from the spans and
    * the Spark jobs each span started. Inside Runner.run the program's own
    * stage calls cannot be wrapped from outside, so its jobs are attributed
    * by the program frame that asked for them: the strict-UTF-8 pass is the
    * job `Ingest.detectEncoding` starts, the rest of `Ingest.scala` is
    * schema inference. */
  private def traceLayers(fromMs: Long, toMs: Long): Map[String, Any] = {
    org.apache.spark.perfbenchshim.BusShim.drain(spark.sparkContext)
    val jobs = cfg.listener.jobsBetween(fromMs, toMs)
    def within(name: String): Seq[JobStats] = tracer.spans.toSeq.filter(_.name == name)
      .flatMap { s =>
        val (a, b) = (tracer.epochMs(s.startNs), tracer.epochMs(s.endNs))
        jobs.filter(j => j.startMs >= a && j.startMs <= b)
      }
    val inRunner = within("runner.run")
    val inLoad = (within("load.upsert") ++ within("load.append")).map(_.id).toSet
    def jobSecs(js: Seq[JobStats]): Double =
      js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1e3
    def sited(file: String) =
      inRunner.filter(j => !inLoad(j.id) && j.callSite.contains(s"($file.scala:"))
    val (charsetJobs, schemaJobs) =
      sited("Ingest").partition(_.callSite.contains("Ingest$.detectEncoding("))
    val charset = jobSecs(charsetJobs)
    val schema = jobSecs(schemaJobs)
    val structure = jobSecs(sited("Validate"))
    val rows = jobSecs(sited("Runner"))
    val upsert = tracer.total("load.upsert")
    val append = tracer.total("load.append")
    val traced = runs.filter(_.get("phase").contains("traced"))
    val cleanRows = traced.flatMap(_.get("n_clean")).map(_.toString.toDouble).sum
    val inputBytes = inRunner.map(_.inputBytes).sum
    val csvBytes = Files.size(input("a")).toDouble * traced.size
    val taskS = jobs.map(_.runMs).sum / 1e3
    val busy = ExecListener.busySeconds(jobs)
    Map(
      "ingest.charset_s" -> charset,
      "ingest.schema_s" -> schema,
      "ingest.read_amplification" -> inputBytes / csvBytes,
      "validate.structure_s" -> structure,
      "validate.rows_s" -> rows,
      "load.upsert_s" -> upsert,
      "load.upsert_rows_per_s" -> (if (upsert > 0) cleanRows / upsert else 0.0),
      "load.append_s" -> append,
      "load.connections" -> CountingDriver.connections.get(),
      "load.batches" -> CountingDriver.batches.get(),
      "runner.self_s" ->
        (tracer.total("runner.run") - charset - schema - structure - rows - upsert - append),
      "exec.run_s" -> busy,
      "exec.task_s" -> taskS,
      "exec.cpu_util" -> (if (busy > 0) taskS / (busy * cfg.cores) else 0.0),
      "exec.jobs" -> jobs.size,
      "exec.input_mb" -> jobs.map(_.inputBytes).sum / 1048576.0,
      "exec.shuffle_mb" -> jobs.map(_.shuffleWriteBytes).sum / 1048576.0)
  }

  /** The UPDATE branch: version B loaded onto a database that holds every
    * key of version A, so each clean row is updated with changed values. */
  private def updateProbe(): Map[String, Any] = {
    val url = newDb()
    tracer.enabled = false
    timedBatch("update_setup", url, "a")
    tracer.enabled = true
    timedBatch("update", url, "b", upsertSpan = "load.update")
    dropDb(url)
    val s = tracer.total("load.update")
    val rows = runs.last.get("n_clean").map(_.toString.toDouble).getOrElse(0.0)
    Map("load.update_s" -> s,
      "load.update_rows_per_s" -> (if (s > 0) rows / s else 0.0))
  }

  /** Upserts at the sink's default fan-out (`maxConnections` = 16) of a
    * 16-partition frame, each into a new database. Derby's MERGE fails
    * (`NullPointerException`: `this._actionRS` is null) when several
    * connections run it concurrently for the first time in a JVM, which is
    * how a daily batch process meets it; later attempts mostly pass. So the
    * probe runs before anything else in the process and counts failures
    * out of `attempts`. */
  private def multiWriterProbe(attempts: Int = 2): Map[String, Any] = {
    val errors = (1 to attempts).flatMap { _ =>
      dbSeq += 1
      val db = s"jdbc:derby:memory:pb$dbSeq"
      val url = s"$db;create=true" // as a user hands an embedded Derby URL to graft.etl.Main
      var err: Option[String] = None
      JdbcUpsert.ensureTable(url, CleanTable, Main.CleanSchema, Key,
        ifNotExistsSyntax = false, auditTimestampCol = Some("loaded_at"), dialect = dialect)
      Runner.run(spark, freshCopy(input("a"))) { (clean, _) =>
        val df = clean.select(Main.CleanSchema.fieldNames.map(col).toSeq: _*).repartition(16)
        try JdbcUpsert.upsert(df, url, CleanTable, Key, dialect,
          auditTimestampCol = Some("loaded_at"))
        catch { case e: Throwable => err = Some(Harness.describe(e)) }
      }
      dropDb(db)
      err
    }
    Map("load.multiwriter_failures" -> errors.size,
      "load.multiwriter_error" -> errors.headOption.getOrElse(""))
  }
}
