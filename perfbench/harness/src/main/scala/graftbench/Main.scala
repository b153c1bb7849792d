package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExecBase
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.{SparkEntry, Tables}

/** One benchmark run of one workload, driving graft as a library.
  *
  * Phases, in order:
  *  1. set-up: session, a `Tables` open of every input, one untimed pass
  *     that writes each query's output as parquet for the oracle check,
  *     and one untimed warm-up pass into the noop sink;
  *  2. `passes` timed passes (at least two): every
  *     query once into the noop sink, the cache cleared after each, as
  *     `graft.Bench` does. With tracing on, untraced and traced passes
  *     alternate, and a traced execution is split into spans at the
  *     boundaries of `Tables`, the `SparkEntry.queries` entry, Catalyst
  *     planning and execution;
  *  3. with tracing on, the `KernelRuntime` microbenchmark.
  *
  * Arguments are `key=value`: data, out, passes, trace (0|1), cores and
  * queries (comma-separated). The result is written to `out/result.json`.
  */
object Main {
  private val epochBaseUs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  private val nanoBase = System.nanoTime()
  def nowUs: Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  def main(args: Array[String]): Unit = {
    val mainUs = nowUs
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val dataDir = kv("data")
    val outDir = kv("out")
    val trace = kv("trace") == "1"
    val cores = kv("cores").toInt
    val queries = kv("queries").split(',').toSeq
    val nPasses = kv("passes").toInt
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val peak = new PeakMemListener
    sc.addSparkListener(peak)
    val tracer = new TraceListener("x")
    if (trace) sc.addSparkListener(tracer)
    val sessionUs = nowUs

    def open(t: String): DataFrame = t match {
      case "events"    => Tables.events(spark, dataDir)
      case "documents" => Tables.documents(spark, dataDir)
      case other       => Tables.table(spark, dataDir, other)
    }
    val inputTables = new java.io.File(dataDir).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    inputTables.foreach(t => open(t).schema)
    val openUs = nowUs

    // set-up pass: dumps outputs for the oracle and starts the warm-up
    val setupErr = mutable.LinkedHashMap.empty[String, String]
    val readsOf = mutable.Map.empty[String, Seq[String]]
    sc.setJobGroup("setup", "set-up pass", false)
    queries.foreach { q =>
      try {
        val df = SparkEntry.queries(q)(spark, dataDir)
        readsOf(q) = df.inputFiles.toSeq
          .map(f => new java.io.File(new java.net.URI(f).getPath).getName.stripSuffix(".parquet"))
          .filter(inputTables.contains).distinct.sorted
        df.write.mode("overwrite").parquet(s"$outDir/out/$q")
      } catch { case e: Throwable => setupErr(q) = brief(e) }
      spark.catalog.clearCache()
    }
    // the JIT is still compiling after one pass; a second, noop pass keeps
    // that out of the first timed pass
    queries.foreach { q =>
      try SparkEntry.queries(q)(spark, dataDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => setupErr.getOrElseUpdate(q, brief(e)) }
      spark.catalog.clearCache()
    }
    sc.clearJobGroup()
    val setupEndUs = nowUs
    Files.write(Paths.get(s"$outDir/oracle_sql.json"), json(
      SparkEntry.oracleSqlFor(dataDir).filter { case (q, _) => queries.contains(q) })
      .getBytes(StandardCharsets.UTF_8))

    // timed passes
    val times = mutable.LinkedHashMap(queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val failures = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    val passes = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val tracedPasses = mutable.ArrayBuffer.empty[Map[String, Double]]
    val spans = mutable.ArrayBuffer.empty[Span]
    var execSeq = 0
    while (passes.size < nPasses) {
      val traced = trace && passes.size % 2 == 1
      val passStart = System.nanoTime()
      val qTraces = mutable.ArrayBuffer.empty[QueryTrace]
      queries.foreach { q =>
        val fn = SparkEntry.queries(q)
        val qt0 = System.nanoTime()
        try {
          if (!traced) {
            sc.setJobGroup(JobGroup.Timed, q, false)
            fn(spark, dataDir).write.format("noop").mode("overwrite").save()
          } else {
            execSeq += 1
            val id = s"x$execSeq"
            val layer = mutable.ArrayBuffer.empty[Span]
            def span[T](name: String, group: String)(body: => T): T = {
              sc.setJobGroup(s"$id/$group", q, false)
              val s = nowUs
              try body finally layer += Span(s"$id/$group", id, name, id, s, nowUs)
            }
            val qStart = nowUs
            var counts = Map.empty[String, Double]
            try {
              span(Layers.Tables, "tables")(readsOf.getOrElse(q, inputTables).foreach(t => open(t).schema))
              val df = span(Layers.Entry, "entry")(fn(spark, dataDir))
              counts = planCounts(span(Layers.Plans, "plans")(df.queryExecution.executedPlan))
              span(Layers.Exec, "exec")(df.write.format("noop").mode("overwrite").save())
            } finally {
              val qEnd = nowUs
              sc.clearJobGroup()
              BusDrain(sc)
              val root = Span(id, "", "query", id, qStart, qEnd)
              val qt = Trace.query(id, layer.toSeq, tracer, counts)
              qTraces += qt
              spans += root
              spans ++= qt.spans
            }
          }
        } catch { case e: Throwable =>
          failures.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += brief(e)
        }
        times(q) += (System.nanoTime() - qt0) / 1e9
        sc.clearJobGroup()
        spark.catalog.clearCache()
      }
      passes += (((System.nanoTime() - passStart) / 1e9, traced))
      if (traced) tracedPasses += Trace.pass(qTraces.toSeq, cores)
    }
    val timedEndUs = nowUs
    BusDrain(sc)

    val (kernelMetrics, kernelOps) = if (trace) Kernels.run() else (Map.empty[String, Double], Map.empty[String, Double])
    val graftConf = spark.conf.getAll.filter(_._1.startsWith("spark.graft.")).toSeq.sorted.toMap
    spark.stop()

    if (trace) Files.write(Paths.get(s"$outDir/spans.jsonl"),
      spans.map(_.toJson).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val result = Map(
      "main_start_us" -> mainUs,
      "session_us" -> sessionUs,
      "open_us" -> openUs,
      "setup_end_us" -> setupEndUs,
      "timed_end_us" -> timedEndUs,
      "input_tables" -> inputTables,
      "reads" -> readsOf.toMap,
      "setup_errors" -> setupErr.toMap,
      "queries" -> times.map { case (q, ts) => q -> ts.toSeq }.toMap,
      "failures" -> failures.map { case (q, es) => q -> es.toSeq }.toMap,
      "passes" -> passes.toSeq.map { case (s, tr) => Map("s" -> s, "traced" -> tr) },
      "traced_passes" -> tracedPasses.toSeq,
      "peak_exec_mem_bytes" -> peak.peakBytes,
      "kernels" -> kernelMetrics,
      "kernel_ops" -> kernelOps,
      "spark_graft_conf" -> graftConf,
      "spark_version" -> spark.version,
      "cores" -> cores)
    Files.write(Paths.get(s"$outDir/result.json"), json(result).getBytes(StandardCharsets.UTF_8))
  }

  /** JSON text of immutable maps, sequences and scalars. */
  def json(v: Any): String = Serialization.write(v.asInstanceOf[AnyRef])(DefaultFormats)

  private def brief(e: Throwable): String =
    s"${e.getClass.getSimpleName}: " + String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | ").take(400)

  /** Exchanges, sorts and windows in a physical plan, subqueries included;
    * an adaptive plan is counted as it stands before execution.
    */
  def planCounts(plan: SparkPlan): Map[String, Double] = {
    var exchanges, sorts, windows = 0
    def visit(p: SparkPlan): Unit = {
      p match {
        case _: Exchange       => exchanges += 1
        case _: SortExec       => sorts += 1
        case _: WindowExecBase => windows += 1
        case _                 =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case s: QueryStageExec        => visit(s.plan)
        case _                        =>
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(plan)
    Map("plans.exchanges" -> exchanges.toDouble, "plans.sorts" -> sorts.toDouble,
      "plans.windows" -> windows.toDouble)
  }
}
