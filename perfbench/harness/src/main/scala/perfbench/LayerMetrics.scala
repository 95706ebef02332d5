package perfbench

import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Per-layer figures of one traced pass, each measured from outside the
  * program by timing calls into that layer's public functions:
  *
  *  - `queries.*`: the face call (`Q.fn`), its jobs, and its time with no
  *    Spark job running (commit protocols, filesystem metadata);
  *  - `plan.*`: `QueryPlanningTracker` phases of every executed query;
  *    `plan.sink_s` is the part spent planning the sink write;
  *  - `exec.*`: the sink write minus its planning, and the scheduler's jobs,
  *    stages and tasks;
  *  - `shuffle.*`, `spill.mb`, `scan.*`: task metrics;
  *  - `sources.fs_*`: `file:` operations counted by
  *    [[CountingLocalFileSystem]], bytes written from Hadoop's statistics;
  *  - `streaming.*`: micro-batch progress events;
  *  - `jobs.<module>` / `job_s.<module>`: jobs and their wall time by the
  *    source directory of the call site that started them.
  */
object LayerMetrics {
  val Modules: Seq[String] = Seq("operators", "sources", "streaming", "queries",
    "functions", "compat", "core", "sink", "other")

  /** `File.scala -> module` for the program's sources under `graft` (the
    * source directory below it, or `core` for files directly in it); the
    * harness's own sink write is `sink`. */
  def moduleMap(graft: Path): Map[String, String] = {
    val s = Files.walk(graft)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).map { p =>
      val rel = graft.relativize(p)
      p.getFileName.toString -> (if (rel.getNameCount > 1) rel.getName(0).toString else "core")
    }.toMap + ("Harness.scala" -> "sink")
    finally s.close()
  }

  /** A job's module: `streaming` for micro-batches, else the source
    * directory of its call site ("<action> at <File>.scala:<line>"). Jobs
    * that Spark starts from its own threads (broadcasts, subqueries,
    * adaptive stages) carry no program call site; they count for the
    * phase's caller: the sink write, or the face's query during build.
    * `other` is a program-free call site outside these cases. */
  def module(j: JobRec, phase: String, modules: Map[String, String]): String =
    if (j.streaming) "streaming"
    else {
      val file = j.site.split(" at ").lastOption.map(_.takeWhile(_ != ':')).getOrElse("")
      modules.getOrElse(file,
        if (file.endsWith(".java") || file.isEmpty) { if (phase == "sink") "sink" else "queries" }
        else "other")
    }

  /** Seconds of `p` during which at least one of its jobs was running. */
  def covered(p: Phase): Double = {
    val iv = p.jobs.map(j => (j.startMs max p.startMs, j.endMs min p.endMs))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total, curS, curE = 0L
    iv.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    (total + curE - curS) / 1e3
  }

  def of(p: Pass, cores: Int, modules: Map[String, String]): ListMap[String, Double] = {
    val phases = p.faces.flatMap(_.phases)
    val builds = phases.filter(_.name == "build")
    val sinks = phases.filter(_.name == "sink")
    val jobs = phases.flatMap(_.jobs)
    val sinkJobs = sinks.flatMap(_.jobs)
    val delta = phases.map(_.delta).foldLeft(Counters.Zero)(_ + _)
    def plan(phase: String) = phases.map(_.planMs(phase)).sum / 1e3
    val execS = sinks.map(s => s.wallS - s.planS).sum
    val execTaskS = sinkJobs.map(_.runMs).sum / 1e3
    val mb = 1e6
    val byModule = phases.flatMap(ph => ph.jobs.map(j => module(j, ph.name, modules) -> j))
      .groupMap(_._1)(_._2)
    ListMap(
      "queries.build_s" -> builds.map(_.wallS).sum,
      "queries.build_jobs" -> builds.map(_.jobs.size).sum.toDouble,
      "queries.build_gap_s" -> builds.map(b => (b.wallS - covered(b)) max 0.0).sum,
      "plan.analysis_s" -> plan("analysis"),
      "plan.optimization_s" -> plan("optimization"),
      "plan.planning_s" -> plan("planning"),
      "plan.sink_s" -> sinks.map(_.planS).sum,
      "codegen.compiles" -> delta.codegen.toDouble,
      "exec.s" -> execS,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> jobs.map(_.stages).sum.toDouble,
      "exec.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "exec.task_s" -> execTaskS,
      "exec.task_cpu_s" -> sinkJobs.map(_.cpuNs).sum / 1e9,
      "exec.core_util" -> (if (execS > 0) execTaskS / (execS * cores) else 0.0),
      "exec.task_overhead_s" -> jobs.map(j => j.taskMs - j.runMs).sum / 1e3,
      "shuffle.write_mb" -> jobs.map(_.shuffleWrite).sum / mb,
      "shuffle.read_mb" -> jobs.map(_.shuffleRead).sum / mb,
      "spill.mb" -> jobs.map(_.spill).sum / mb,
      "scan.rows" -> jobs.map(_.inRows).sum.toDouble,
      "scan.mb" -> jobs.map(_.inBytes).sum / mb,
      "sources.fs_read_ops" -> delta.fsReadOps.toDouble,
      "sources.fs_write_ops" -> delta.fsWriteOps.toDouble,
      "sources.fs_write_mb" -> delta.fsWriteBytes / mb,
      "streaming.batches" -> phases.map(_.batches.size).sum.toDouble,
      "streaming.batch_s" -> phases.flatMap(_.batches).map(_.durationMs).sum / 1e3,
      "jvm.gc_s" -> delta.gcMs / 1e3,
    ) ++ Modules.map(m => s"jobs.$m" -> byModule.get(m).map(_.size).getOrElse(0).toDouble) ++
      Modules.map(m => s"job_s.$m" ->
        byModule.get(m).map(_.map(j => j.endMs - j.startMs).sum / 1e3).getOrElse(0.0))
  }
}

/** Writes the spans of traced passes as JSONL. Each face run is a root span
  * `face` with children `queries.build`, `plan` and `exec` (the sink write
  * split at its planning time); jobs and streaming batches are children of
  * the phase during which they started. */
object Spans {
  def write(path: Path, passes: Seq[Pass]): Unit = {
    val w = Files.newBufferedWriter(path)
    def emit(fields: (String, Any)*): Unit = { w.write(Harness.json.writeValueAsString(ListMap(fields: _*))); w.newLine() }
    try passes.foreach { p =>
      p.faces.foreach { f =>
        val root = s"${p.n}/${f.face}"
        val start = f.phases.headOption.map(_.startMs).getOrElse(0L)
        val end = f.phases.lastOption.map(_.endMs).getOrElse(start)
        emit("id" -> root, "parent" -> None, "name" -> "face", "face" -> f.face, "pass" -> p.n,
          "start_ms" -> start, "end_ms" -> end, "dur_s" -> f.seconds, "failure" -> f.failure)
        f.phases.foreach { ph =>
          val children = ph.name match {
            case "build" => Seq(("queries.build", ph.startMs, ph.endMs, ph.wallS))
            case _ =>
              val planEnd = ph.startMs + math.round(ph.planS * 1e3)
              Seq(("plan", ph.startMs, planEnd, ph.planS),
                  ("exec", planEnd, ph.endMs, ph.wallS - ph.planS))
          }
          children.foreach { case (name, s, e, d) =>
            emit(Seq[(String, Any)]("id" -> s"$root/$name", "parent" -> root, "name" -> name,
              "face" -> f.face, "pass" -> p.n, "start_ms" -> s, "end_ms" -> e, "dur_s" -> d,
              "plan_ms" -> ListMap("analysis" -> ph.planMs("analysis"),
                "optimization" -> ph.planMs("optimization"), "planning" -> ph.planMs("planning")))
              ++ ph.delta.fields: _*)
          }
          val parent = s"$root/${children.last._1}"
          ph.jobs.foreach { j =>
            emit("id" -> s"$root/job${j.id}", "parent" -> parent, "name" -> "job",
              "face" -> f.face, "pass" -> p.n, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
              "dur_s" -> (j.endMs - j.startMs) / 1e3, "site" -> j.site, "streaming" -> j.streaming,
              "stages" -> j.stages, "tasks" -> j.tasks, "task_run_ms" -> j.runMs,
              "task_cpu_ns" -> j.cpuNs, "shuffle_write_bytes" -> j.shuffleWrite,
              "shuffle_read_bytes" -> j.shuffleRead, "spill_bytes" -> j.spill,
              "input_rows" -> j.inRows, "input_bytes" -> j.inBytes)
          }
          ph.batches.foreach { b =>
            emit("id" -> s"$root/batch${b.query.take(8)}-${b.id}", "parent" -> parent,
              "name" -> "streaming.batch", "face" -> f.face, "pass" -> p.n,
              "start_ms" -> b.startMs, "end_ms" -> (b.startMs + b.durationMs),
              "dur_s" -> b.durationMs / 1e3)
          }
        }
      }
    } finally w.close()
  }
}
