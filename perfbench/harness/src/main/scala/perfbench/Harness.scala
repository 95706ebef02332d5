package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Session, SparkEntry, Tables}
import graft.queries.Q

/** One face execution. `seconds` is the face call (build) plus the noop sink
  * write; listener drains and output checks between them are not timed. */
final case class FaceRun(face: String, pass: Int, seconds: Double, buildS: Double,
                         sinkS: Double, failure: Option[String], phases: Seq[Phase])

final case class Pass(n: Int, traced: Boolean, faces: Seq[FaceRun]) {
  def seconds: Double = faces.map(_.seconds).sum
}

/** Closed-loop benchmark harness: one client runs one face at a time.
  *
  * Modes (`--mode`):
  *  - `run`: a cold pass then steady passes over the workload's faces, at
  *    least `--steady` (at least 2) and until `--seconds` have passed,
  *    checking outputs on each face's first two runs;
  *    with `--trace 1` passes are traced (see [[Tracer]]);
  *  - `digest`: run each face once and record its [[Digest]] (and, with
  *    `--dump`, its output as parquet for the DuckDB cross-check).
  *
  * Every mode writes one JSON object to `--out`. */
object Harness {
  /** Spark's bundled Jackson, for `expected.json` and the result and span
    * files. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cores = a("cores").toInt
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(if (a.get("trace").contains("1"))
        Map[String, Any]("spark.hadoop.fs.file.impl" -> classOf[CountingLocalFileSystem].getName)
        else Map.empty[String, Any])
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    Tables.All.foreach(Tables.load(spark, a("data"), _))
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    System.err.println(f"[perfbench] setup: session up at $sessionS%.3f s, tables open at $setupS%.3f s")
    val result = a("mode") match {
      case "digest" => digests(spark, a)
      case "run" => new Runner(spark, a, cores, setupS).run()
    }
    json.writeValue(new File(a("out")), result)
    spark.stop()
  }

  def faces(a: Map[String, String]): Seq[Q] = {
    val byName = SparkEntry.packs.map(q => q.name -> q).toMap
    a("faces").split(',').toSeq.map(n =>
      byName.getOrElse(n, throw new IllegalArgumentException(s"unknown face $n")))
  }

  def cause(e: Throwable): String = {
    val msg = Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("")
    s"${e.getClass.getName}: ${msg.take(200)}"
  }

  private def digests(spark: SparkSession, a: Map[String, String]): ListMap[String, Any] =
    ListMap.from(faces(a).map { q =>
      spark.conf.set("spark.sql.shuffle.partitions", a("cores"))
      q.name -> (try {
        val df = q.fn(spark, a("data"))
        val d = Digest.of(df)
        a.get("dump").foreach(dir =>
          df.coalesce(1).write.mode("overwrite").parquet(s"$dir/${q.name}"))
        ListMap("rows" -> d.rows, "schema" -> d.schema, "hash" -> d.hash, "oracle" -> q.oracle)
      } catch { case e: Throwable => ListMap("error" -> cause(e)) })
    })
}

final class Runner(spark: SparkSession, a: Map[String, String], cores: Int, setupS: Double) {
  private val data = a("data")
  private val traced = a("trace") == "1"
  /** `perfbench/expected.json` at the run's scale: per face its digest and
    * `check`, `digest` (all three compared) or `rows_schema`. */
  private val expected: Map[String, (Digest, String)] = {
    val byFace = Harness.json.readTree(new File(a("expected"))).get(a("scale"))
    Harness.faces(a).flatMap(q => Option(byFace.get(q.name)).filter(_.has("rows")).map(e =>
      q.name -> (Digest(e.get("rows").asLong, e.get("schema").asText, e.get("hash").asText),
        e.get("check").asText))).toMap
  }
  private val tracer = if (traced) Some(new Tracer(spark)) else None

  def run(): ListMap[String, Any] = {
    val rng = new scala.util.Random(a("seed").toLong)
    val faces = Harness.faces(a)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    // Steady passes still speed up for several passes (JIT), so a fixed
    // least number of them keeps the steady figures from depending on how
    // many fitted into `--seconds`.
    val minSteady = a("steady").toInt max 2
    while (passes.size < 1 + minSteady || System.nanoTime() - t0 < a("seconds").toDouble * 1e9) {
      val n = passes.size + 1
      // A traced run traces its first two passes, which sit where an
      // untraced run's cold and first steady pass do; the untraced passes
      // after them bound the tracing overhead within the run.
      passes += pass(n, rng.shuffle(faces), tracer.filter(_ => n <= 2))
    }
    val rssMb = vmHwmMb()
    // java.io.tmpdir is this run's own directory, wiped before the run, so
    // every scratch directory in it belongs to this JVM.
    val scratchLeft = Session.listScratch().size
    Session.clearScratch()
    val out = ListMap[String, Any](
      "setup_s" -> setupS,
      "cores" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "passes" -> passes.map(p => ListMap(
        "pass" -> p.n, "traced" -> p.traced, "seconds" -> p.seconds,
        "faces" -> p.faces.map(f => ListMap("face" -> f.face, "s" -> f.seconds,
          "build_s" -> f.buildS, "sink_s" -> f.sinkS, "failure" -> f.failure)))),
      "rss_peak_mb" -> rssMb,
      "scratch_left" -> scratchLeft)
    if (!traced) out
    else {
      val tracedPasses = passes.filter(_.traced).toSeq
      val modules = LayerMetrics.moduleMap(Paths.get(a("src")))
      a.get("spans").foreach(p => Spans.write(Paths.get(p), tracedPasses))
      out ++ ListMap("layers" -> tracedPasses.map(p =>
        ListMap("pass" -> p.n) ++ LayerMetrics.of(p, cores, modules)))
    }
  }

  private def pass(n: Int, order: Seq[Q], tr: Option[Tracer]): Pass = {
    tr.foreach(_.attach())
    val runs = order.map(q => face(q, n, tr))
    tr.foreach(_.detach())
    // Between passes and outside every timing: drop cached blocks and let
    // the ContextCleaner reap unreferenced shuffles and broadcasts.
    spark.catalog.clearCache()
    System.gc()
    Pass(n, tr.isDefined, runs)
  }

  private def face(q: Q, n: Int, tr: Option[Tracer]): FaceRun = {
    spark.conf.set("spark.sql.shuffle.partitions", cores.toString)
    val phases = mutable.ArrayBuffer.empty[Phase]
    var buildS, sinkS = 0.0
    def timed[T](phase: String)(body: => T)(record: Double => Unit): T = {
      tr.foreach(_.begin(q.name, n, phase))
      val t0 = System.nanoTime()
      try body finally {
        record((System.nanoTime() - t0) / 1e9)
        tr.foreach(t => phases += t.end())
      }
    }
    var checkS = 0.0
    val failure =
      try {
        val df = timed("build")(q.fn(spark, data))(buildS = _)
        timed("sink")(df.write.mode("overwrite").format("noop").save())(sinkS = _)
        // Outputs are checked on a face's first two runs in this JVM: the
        // full digest on the first, row count and schema on the second (a
        // re-run that appends twice or loses rows shows in its row count).
        val t0 = System.nanoTime()
        try { if (n <= 2) check(q.name, df, full = n == 1) else None }
        finally checkS = (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable => Some(Harness.cause(e)) }
    System.err.println(f"[perfbench] pass $n ${q.name} build=$buildS%.3f sink=$sinkS%.3f " +
      f"check=$checkS%.3f" + failure.fold("")(" FAILED " + _))
    FaceRun(q.name, n, buildS + sinkS, buildS, sinkS, failure, phases.toSeq)
  }

  private def check(name: String, df: DataFrame, full: Boolean): Option[String] =
    expected.get(name) match {
      case None => Some("no expected digest")
      case Some((e, mode)) =>
        val got = if (full) Digest.of(df) else Digest.shape(df)
        Digest.mismatch((e, if (full) mode else "rows_schema"), got).map("output: " + _)
    }

  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
