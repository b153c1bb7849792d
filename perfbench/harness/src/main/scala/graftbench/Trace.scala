package graftbench

import scala.collection.mutable

/** One traced interval. Times are epoch microseconds; `exec` is the id of
  * the query execution the span belongs to.
  */
final case class Span(id: String, parent: String, name: String, exec: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
  def toJson: String = Main.json(Map("id" -> id, "parent" -> parent, "name" -> name,
    "exec" -> exec, "start_us" -> startUs, "end_us" -> endUs))
}

/** The layers the harness times itself, in call order. Spark's job, stage
  * and task spans hang below them.
  */
object Layers {
  val Tables = "tables.open"
  val Entry = "entry.build"
  val Plans = "plans.plan"
  val Exec = "exec.run"
  val Job = "spark.job"
  val Stage = "spark.stage"
  val Task = "spark.task"
  /** Job-group suffix → layer span the group's jobs belong to. */
  val byGroup: Map[String, String] =
    Map("tables" -> Tables, "entry" -> Entry, "plans" -> Plans, "exec" -> Exec)
  val selfNames: Seq[(String, String)] = Seq(
    Tables -> "tables.self_s", Entry -> "entry.self_s", Plans -> "plans.self_s",
    Exec -> "exec.self_s", Job -> "spark.job.self_s", Stage -> "spark.stage.self_s",
    Task -> "spark.task.self_s")
}

/** Per-query-execution layer numbers, summed into a pass by [[Trace.pass]]. */
final case class QueryTrace(
    spans: Seq[Span],
    sums: Map[String, Double],
    longestTaskMs: Long,
    longestTaskStageSpanMs: Long)

object Trace {
  private def unionLen(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's duration minus the part of it its children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLen(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
      s.name -> (s.durUs - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Builds the Spark-side spans of one query execution under its layer
    * spans and sums its counts. `layerSpans` are the harness's own spans
    * (tables.open … exec.run) of execution `execId`.
    */
  def query(execId: String, layerSpans: Seq[Span], listener: TraceListener,
      planCounts: Map[String, Double]): QueryTrace = {
    val (jobs, stages, tasks) = listener.select(execId + "/")
    val layerId = layerSpans.map(s => s.name -> s.id).toMap
    def us(ms: Long): Long = ms * 1000L
    val jobSpans = jobs.map { j =>
      val layer = Layers.byGroup.getOrElse(j.group.stripPrefix(execId + "/"), Layers.Exec)
      Span(s"job${j.id}", layerId.getOrElse(layer, execId), Layers.Job, execId, us(j.start),
        us(if (j.end >= 0) j.end else j.start))
    }
    val stageOwner = mutable.Map.empty[Int, JobRec]
    jobs.foreach(j => j.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, j)))
    val lastAttempt = stages.groupBy(_.id).map { case (id, as) => id -> as.maxBy(_.attempt) }
    val stageSpans = stages.filter(s => s.submitted >= 0 && s.completed >= 0).map { s =>
      Span(s"stage${s.id}.${s.attempt}", stageOwner.get(s.id).map(j => s"job${j.id}").getOrElse(execId),
        Layers.Stage, execId, us(s.submitted), us(s.completed))
    }
    val taskSpans = tasks.map { t =>
      val parent = lastAttempt.get(t.stageId).map(s => s"stage${s.id}.${s.attempt}").getOrElse(execId)
      Span(s"task${t.id}", parent, Layers.Task, execId, us(t.launch), us(t.finish))
    }
    def jobsIn(layerGroup: String): Seq[JobRec] = jobs.filter(_.group == s"$execId/$layerGroup")
    val execJobs = jobsIn("exec")
    val execStageIds = execJobs.flatMap(_.stageIds).toSet
    val execStages = stages.filter(s => execStageIds(s.id) && s.submitted >= 0 && s.completed >= 0)
    val execTasks = tasks.filter(t => execStageIds(t.stageId))
    val execSpan = layerSpans.find(_.name == Layers.Exec)
    val execUs = execSpan.map(_.durUs).getOrElse(0L)
    val stageUnionUs = execSpan.map { e =>
      unionLen(execStages.map(s => (math.max(us(s.submitted), e.startUs), math.min(us(s.completed), e.endUs))))
    }.getOrElse(0L)
    val submitted = execStages.groupBy(_.id).map { case (id, ss) => id -> ss.map(_.submitted).min }
    val longest = if (execTasks.isEmpty) None else Some(execTasks.maxBy(t => t.finish - t.launch))
    val longestStageMs = longest.flatMap(t => lastAttempt.get(t.stageId))
      .map(s => s.completed - s.submitted).getOrElse(0L)
    val mb = 1024.0 * 1024.0
    val durOf = layerSpans.map(s => s.name -> s.durUs / 1e6).toMap
    val spans = layerSpans ++ jobSpans ++ stageSpans ++ taskSpans
    val self = selfTimes(spans)
    val sums = Map(
      "tables.open_s" -> durOf.getOrElse(Layers.Tables, 0.0),
      "tables.open_jobs" -> jobsIn("tables").size.toDouble,
      "entry.build_s" -> durOf.getOrElse(Layers.Entry, 0.0),
      "entry.build_jobs" -> jobsIn("entry").size.toDouble,
      "plans.plan_s" -> durOf.getOrElse(Layers.Plans, 0.0),
      "exec.s" -> execUs / 1e6,
      "exec.jobs" -> execJobs.size.toDouble,
      "exec.stages" -> execStages.size.toDouble,
      "exec.tasks" -> execTasks.size.toDouble,
      "exec.shuffle_write_mb" -> execTasks.map(_.shuffleWrite).sum / mb,
      "exec.shuffle_read_mb" -> execTasks.map(_.shuffleRead).sum / mb,
      "exec.task_cpu_s" -> execTasks.map(_.cpuNs).sum / 1e9,
      "exec.task_run_s" -> execTasks.map(_.runMs).sum / 1e3,
      "exec.gc_s" -> execTasks.map(_.gcMs).sum / 1e3,
      "exec.spill_mb" -> execTasks.map(_.spillDisk).sum / mb,
      "exec.driver_gap_s" -> (execUs - stageUnionUs) / 1e6,
      "exec.task_wait_s" -> execTasks.map(t =>
        t.launch - submitted.getOrElse(t.stageId, t.launch)).sum / 1e3,
    ) ++ planCounts ++ Layers.selfNames.map { case (layer, name) =>
      name -> self.getOrElse(layer, 0L) / 1e6
    }
    QueryTrace(spans, sums, longest.map(t => t.finish - t.launch).getOrElse(0L), longestStageMs)
  }

  /** One traced pass: the sums over its query executions plus the two
    * pass-level ratios.
    */
  def pass(qs: Seq[QueryTrace], cores: Int): Map[String, Double] = {
    val keys = qs.flatMap(_.sums.keys).distinct
    val sums = keys.map(k => k -> qs.map(_.sums.getOrElse(k, 0.0)).sum).toMap
    val execS = sums.getOrElse("exec.s", 0.0)
    val longest = if (qs.isEmpty) None else Some(qs.maxBy(_.longestTaskMs))
    sums ++ Map(
      "exec.core_busy_frac" ->
        (if (execS > 0) sums.getOrElse("exec.task_run_s", 0.0) / (execS * cores) else 0.0),
      "exec.max_task_frac" -> longest.filter(_.longestTaskStageSpanMs > 0)
        .map(q => q.longestTaskMs.toDouble / q.longestTaskStageSpanMs).getOrElse(0.0))
  }
}
