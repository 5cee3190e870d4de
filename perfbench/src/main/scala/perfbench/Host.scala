package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.SparkEntry
import graft.engine.Engine
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** The benchmark's in-process engine host. It builds the engine exactly as
  * `graft.server.HttpServerMain` does (local session, fixture views, graft
  * functions) and then obeys one JSON command per stdin line, answering one
  * `@@ {json}` line per command on stdout.
  *
  * Usage: `Host <serve|batch> <fixtureDir> <cpus> <port>`. In `serve` mode it
  * also runs the program's `HttpServer` on `port`, so a traced run measures
  * the same served path as an untraced one.
  *
  * Commands:
  *  - `listener {on}`: attach or detach the job/task accounting listeners
  *  - `trace_query {sql, format}`: one read through the server's calls
  *    (`Sanitizer.stripFormat`, `Engine.sqlScript`, then `Encoders.encodeTo`
  *    or, for format `ARROW`, `ArrowIO.toArrowStreamTo`) into a counting
  *    sink, with a span around each call
  *  - `trace_put {table, path}`: `FlightActions.doPut` of one Arrow IPC file
  *  - `warm_entry {name, out}` / `run_entry {name}` / `trace_entry {name}`:
  *    a `SparkEntry.queries` entry into parquet / the timed `noop` sink /
  *    the `noop` sink with spans
  *  - `oracle_sql {name}`: the entry's `SparkEntry.oracleSql` text
  *  - `quit`
  */
object Host {
  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val Array(mode, sfDir, cpus, port) = args
    val spark = Engine.localSession(cpus)
    Engine.registerTables(spark, sfDir)
    graft.functions.GraftFunctions.register(spark)
    if (mode == "serve") new graft.server.HttpServer(spark, port.toInt).start()
    val tracer = new Tracer(spark, sfDir)
    reply(json.createObjectNode().put("ok", true).put("ready", mode))
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in, "UTF-8"))
    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      val out = try {
        val cmd = json.readTree(line)
        def arg(k: String) = cmd.path(k).asText()
        val r = cmd.path("cmd").asText() match {
          case "listener" => tracer.listen(cmd.path("on").asBoolean()); json.createObjectNode()
          case "trace_query" => tracer.query(arg("sql"), arg("format"))
          case "trace_put" => tracer.put(arg("table"), arg("path"))
          case "warm_entry" => tracer.warmEntry(arg("name"), arg("out"))
          case "run_entry" => tracer.runEntry(arg("name"))
          case "trace_entry" => tracer.traceEntry(arg("name"))
          case "oracle_sql" => json.createObjectNode().put("sql", SparkEntry.oracleSql
            .get(arg("name")).map(graft.DeclaredQueries.forDir(_, sfDir)).orNull)
          case other => throw new IllegalArgumentException(s"unknown command $other")
        }
        r.put("ok", true)
      } catch {
        case e: Throwable =>
          json.createObjectNode().put("ok", false)
            .put("error", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(2000))
      }
      reply(out)
      line = in.readLine()
    }
    // HttpServer.stop() leaves its request pool alive, so end the JVM here
    sys.exit(0)
  }

  private def reply(o: ObjectNode): Unit = {
    System.out.println("@@ " + json.writeValueAsString(o))
    System.out.flush()
  }
}

/** Cumulative job/stage/task accounting from a listener the benchmark owns.
  * Job intervals use the scheduler's event times (milliseconds). */
final class Accounting extends SparkListener {
  private val starts = scala.collection.mutable.Map[Int, Long]()
  val jobs = ArrayBuffer[(Long, Long)]()
  var stages, tasks, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    starts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def snapshot: Vector[Long] = synchronized {
    Vector(jobs.length.toLong, stages, tasks, cpuNs, gcMs, shuffleWrite, shuffleRead, spill)
  }
  def jobsSince(n: Long): Seq[(Long, Long)] = synchronized(jobs.drop(n.toInt).toSeq)
}

/** Query executions reported during an operation: Catalyst phase times and
  * scan metrics of the plans that ran (a `noop` write is its own execution). */
final class Executions extends QueryExecutionListener {
  val seen = ArrayBuffer[QueryExecution]()
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = synchronized(seen += qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = synchronized(seen += qe)
  def since(n: Int): Seq[QueryExecution] = synchronized(seen.drop(n).toSeq)
  def count: Int = synchronized(seen.length)
}

object Scans extends AdaptiveSparkPlanHelper {
  /** (files, rows) read by the file scans of an executed plan. */
  def of(plan: SparkPlan): (Long, Long) = {
    val scans = collectWithSubqueries(plan) { case s: DataSourceScanExec => s }
    def metric(name: String) =
      scans.map(s => s.metrics.get(name).map(_.value).getOrElse(0L)).sum
    (metric("numFiles"), metric("numOutputRows"))
  }
}

final class CountingSink extends java.io.OutputStream {
  var bytes = 0L
  override def write(b: Int): Unit = bytes += 1
  override def write(b: Array[Byte], off: Int, len: Int): Unit = bytes += len
}

final class Tracer(spark: SparkSession, sfDir: String) {
  private val json = new ObjectMapper()
  private val acc = new Accounting
  private val qes = new Executions
  private var attached = false

  def listen(on: Boolean): Unit = if (on != attached) {
    if (on) {
      spark.sparkContext.addSparkListener(acc)
      spark.listenerManager.register(qes)
    } else {
      spark.sparkContext.removeSparkListener(acc)
      spark.listenerManager.unregister(qes)
    }
    attached = on
  }

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(p => p._2 > p._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (a >= end) { total += b - a; end = b }
        else if (b > end) { total += b - end; end = b }
      }
    total
  }

  /** Runs `body` with job accounting and adds the execute.* figures of the
    * jobs that ran inside it. Returns those jobs' intervals and the query
    * executions reported meanwhile. */
  private def accounted(out: ObjectNode)(body: => Unit): (Seq[(Long, Long)], Seq[QueryExecution]) = {
    drain()
    val before = acc.snapshot
    val q0 = qes.count
    val w0 = System.currentTimeMillis()
    body
    val w1 = System.currentTimeMillis()
    drain()
    val d = acc.snapshot.zip(before).map { case (a, b) => a - b }
    val jobs = acc.jobsSince(before(0))
    out.put("exec_ms", unionMs(jobs, w0, w1))
    out.put("jobs", d(0)).put("stages", d(1)).put("tasks", d(2))
    out.put("task_cpu_ms", d(3) / 1e6).put("gc_ms", d(4))
    out.put("shuffle_write_bytes", d(5)).put("shuffle_read_bytes", d(6)).put("spill_bytes", d(7))
    (jobs, qes.since(q0))
  }

  /** Catalyst phase times and file-scan metrics of the executions; `early`
    * adds the phases of a frame that was only analyzed before they ran. */
  private def planFigures(out: ObjectNode, ran: Seq[QueryExecution],
      early: Seq[QueryExecution] = Nil): Unit = {
    phases(out, early ++ ran)
    val (files, rows) = ran.map(q => Scans.of(q.executedPlan))
      .foldLeft((0L, 0L)) { case ((f, r), (f2, r2)) => (f + f2, r + r2) }
    out.put("scan_files", files).put("scan_rows", rows)
  }

  private def phases(out: ObjectNode, ran: Seq[QueryExecution]): Unit =
    Seq("parsing" -> "parse_ms", "analysis" -> "analyze_ms",
        "optimization" -> "optimize_ms", "planning" -> "plan_ms").foreach { case (p, k) =>
      out.put(k, ran.flatMap(_.tracker.phases.get(p)).map(_.durationMs).sum)
    }

  private def translateMs(sql: String): Double = {
    val t0 = System.nanoTime()
    graft.dialect.Sanitizer.splitStatements(sql).foreach { s =>
      graft.dialect.Translator.translate(s,
        name => scala.util.Try(spark.table(name).schema.fieldNames.toSeq).toOption)
    }
    ms(t0, System.nanoTime())
  }

  def query(sql: String, format: String): ObjectNode = {
    val out = json.createObjectNode()
    var df: DataFrame = null
    var (e0, e1) = (0L, 0L)
    val (jobs, _) = accounted(out) {
      val t0 = System.nanoTime()
      val (noFmt, fmt) = graft.dialect.Sanitizer.stripFormat(sql)
      val t1 = System.nanoTime()
      df = Engine.sqlScript(spark, noFmt)
      val t2 = System.nanoTime()
      val sink = new CountingSink
      e0 = System.currentTimeMillis()
      val rows =
        if (format == "ARROW") graft.arrowio.ArrowIO.toArrowStreamTo(df, sink)
        else graft.formats.Encoders.encodeTo(df, fmt.getOrElse(format), t0, sink)
      e1 = System.currentTimeMillis()
      val t3 = System.nanoTime()
      out.put("total_ms", ms(t0, t3)).put("strip_ms", ms(t0, t1))
        .put("sql_ms", ms(t1, t2)).put("encode_ms", ms(t2, t3))
        .put("bytes", sink.bytes).put("rows", rows)
    }
    // the executed plan of the streamed frame (toLocalIterator reports no
    // query execution to listeners)
    planFigures(out, Seq(df.queryExecution))
    // the encoder's children: the result's jobs, and the optimization and
    // planning that run lazily inside its first pull
    out.put("encode_jobs_ms", unionMs(jobs, e0, e1))
    out.put("encode_catalyst_ms", df.queryExecution.tracker.phases.values
      .filter(p => p.startTimeMs >= e0 && p.endTimeMs <= e1).map(_.durationMs).sum)
    out.put("translate_ms", out.get("strip_ms").asDouble + translateMs(
      graft.dialect.Sanitizer.stripFormat(sql)._1))
    out
  }

  private def tableDir(table: String): java.io.File = {
    val cat = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.catalog
    new java.io.File(cat.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
  }

  private def parquetFiles(dir: java.io.File): Int =
    Option(dir.listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)

  def put(table: String, path: String): ObjectNode = {
    val out = json.createObjectNode()
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    // decode alone, as the append loop does it batch by batch
    val d0 = System.nanoTime()
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val schema = graft.arrowio.ArrowIO.toSparkSchema(root.getSchema)
      while (reader.loadNextBatch()) graft.arrowio.ArrowIO.currentBatchRows(root, schema)
    } finally { reader.close(); alloc.close() }
    out.put("decode_ms", ms(d0, System.nanoTime()))
    val dir = tableDir(table)
    val f0 = parquetFiles(dir)
    planFigures(out, accounted(out) {
      val t0 = System.nanoTime()
      val rows = graft.flight.FlightActions.doPut(spark, table, bytes)
      out.put("total_ms", ms(t0, System.nanoTime())).put("rows", rows)
    }._2)
    out.put("files_added", parquetFiles(dir) - f0)
  }

  private def dropLeftoverBlocks(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }

  private def entry(name: String) = SparkEntry.queries.getOrElse(name,
    throw new NoSuchElementException(s"no SparkEntry.queries entry $name"))

  def warmEntry(name: String, outDir: String): ObjectNode = {
    val fn = entry(name)
    fn(spark, sfDir).write.mode("overwrite").parquet(outDir)
    dropLeftoverBlocks()
    json.createObjectNode()
  }

  def runEntry(name: String): ObjectNode = {
    val fn = entry(name)
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val t1 = System.nanoTime()
    dropLeftoverBlocks()
    json.createObjectNode().put("total_ms", ms(t0, t1))
  }

  def traceEntry(name: String): ObjectNode = {
    val fn = entry(name)
    val out = json.createObjectNode()
    var df: DataFrame = null
    val (_, ran) = accounted(out) {
      val t0 = System.nanoTime()
      df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      out.put("total_ms", ms(t0, t2)).put("sql_ms", ms(t0, t1))
    }
    // the frame's own parse and analysis, then the noop write's execution
    planFigures(out, ran, early = Seq(df.queryExecution))
    dropLeftoverBlocks()
    graft.DeclaredQueries.all.toMap.get(name).foreach(sql =>
      out.put("translate_ms", translateMs(graft.DeclaredQueries.forDir(sql, sfDir))))
    out
  }
}
