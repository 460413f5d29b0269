package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{ChSql, Engine, SparkEntry}
import graft.server.HttpSqlEndpoint

/** The engine-side half of the benchmark. `perfbench/run.py` starts one
  * fresh JVM per run in one of three modes and talks to it over stdin,
  * stdout and files:
  *
  *   - `setup`: build the engine as a run would (session, table
  *     registration and, with `--serve 1`, the ingest DDL and the HTTP
  *     door), print `READY`, and exit. The runner times launch → READY.
  *   - `batch`: the closed-loop client. Three untimed warm-up passes, the
  *     first writing each sampled query's result to parquet for the
  *     DuckDB oracle; then whole passes in seeded order, each query
  *     written to the `noop` sink as `Bench.runOne` does, until
  *     `--seconds` have passed and at least three passes ran.
  *   - `serve`: the HTTP door under an external load generator. Reads
  *     `timed`, `end` and `finish` commands on stdin.
  *
  * Results go to the JSON file named by `--out`; spans, when tracing,
  * to `--spans`. */
object Harness {

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val args = argv.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // Exit explicitly: a live SparkContext would keep a failed JVM running.
    val code = try {
      mode match {
        case "setup" => setup(args)
        case "batch" => batch(args)
        case "serve" => serve(args)
        case other   => throw new IllegalArgumentException(s"unknown mode $other")
      }
      0
    } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** A JSON object of the fields, in order. */
  private def json(fields: (String, Any)*): String = mapper.writeValueAsString(ListMap(fields: _*))

  private def write(path: String, fields: (String, Any)*): Unit =
    Files.write(Paths.get(path), json(fields: _*).getBytes(UTF_8))

  private def ready(fields: (String, Any)*): Unit = {
    println("READY " + json(fields: _*))
    System.out.flush()
  }

  /** Session and table registration, timed separately. */
  private def engine(sf: String, trace: Trace): (SparkSession, Double, Double) = {
    val t0 = System.nanoTime()
    val spark = trace.span("engine.session", "")(Engine.session())
    val sessionMs = ms(t0)
    trace.attach(spark)
    val t1 = System.nanoTime()
    trace.span("engine.register", "")(Engine.registerAll(spark, sf))
    (spark, sessionMs, ms(t1))
  }

  /** The ingest table and its materialized view, created by CH DDL. */
  val IngestDdl: Seq[String] = Seq(
    "CREATE TABLE bench_ingest (id Int64, b Int32, v Int64, tag String) ENGINE = MergeTree ORDER BY id",
    "CREATE MATERIALIZED VIEW bench_ingest_mv AS SELECT b, count(*) AS c, sum(v) AS s FROM bench_ingest GROUP BY b")

  private def setup(args: Map[String, String]): Unit = {
    val (spark, sessionMs, registerMs) = engine(args("sf"), new Trace(false))
    if (args.get("serve").contains("1")) {
      IngestDdl.foreach(ChSql.sql(spark, _))
      HttpSqlEndpoint.start(spark, 0).stop()
    }
    ready("session_ms" -> sessionMs, "register_ms" -> registerMs)
    spark.stop()
  }

  final case class Exec(name: String, pass: Int, ms: Double, buildMs: Double, ok: Boolean, error: String)

  private def batch(args: Map[String, String]): Unit = {
    val sf = args("sf")
    val names = args("queries").split(",").toSeq
    val seconds = args("seconds").toDouble
    val rng = new scala.util.Random(args("seed").toLong)
    val dump = args("dump")
    val trace = new Trace(args("trace") == "1")
    val (spark, sessionMs, registerMs) = engine(sf, trace)
    ready("session_ms" -> sessionMs, "register_ms" -> registerMs)
    val fns = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    new java.io.File(dump).mkdirs()
    write(s"$dump/oracle_sql.json", names.filter(oracles.contains).map(n => n -> oracles(n)): _*)
    val execs = ArrayBuffer.empty[Exec]

    def runOne(name: String, pass: Int, sink: org.apache.spark.sql.DataFrame => Unit): Exec = {
      val qid = s"$name#$pass"
      val t0 = System.nanoTime()
      var buildMs = 0.0
      val err = try {
        trace.span("query", qid) {
          val df = trace.span("ops.build", qid)(fns(name)(spark, sf))
          buildMs = ms(t0)
          trace.span("spark.write", qid)(sink(df))
        }
        ""
      } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".linesIterator.next() }
      Exec(name, pass, ms(t0), buildMs, err.isEmpty, err)
    }

    val noop: org.apache.spark.sql.DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
    val warmStart = trace.now()
    val (cg0, cgMs0) = Trace.codegen()
    // Three untimed passes: the first also writes the results the oracle
    // checks; the others run the timed passes' exact plans, so that the
    // timed passes are not still compiling and warming the JIT (with one
    // such pass, the last timed pass ran 6-30% faster than the first).
    val warm = rng.shuffle(names).map(n =>
      runOne(n, 0, _.write.mode("overwrite").parquet(s"$dump/$n"))) ++
      (1 to 2).flatMap(_ => rng.shuffle(names).map(runOne(_, 0, noop)))
    val (cg1, cgMs1) = Trace.codegen()
    val gc1 = Trace.gcMs()
    val timedStart = trace.now()
    val t0 = System.nanoTime()
    var pass = 0
    // whole passes, at least three so each query has a median
    while (ms(t0) < seconds * 1000 || pass < 3) {
      pass += 1
      rng.shuffle(names).foreach(n => execs += runOne(n, pass, noop))
    }
    val wallMs = ms(t0)
    val timedEnd = trace.now()
    val (cg2, cgMs2) = Trace.codegen()
    val gc2 = Trace.gcMs()
    val heapMb = Trace.heapAfterGcMb()
    val cores = spark.sparkContext.defaultParallelism
    spark.stop() // drains the listener bus

    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (trace.enabled) {
      val n = execs.size.toDouble
      val nWarm = names.size.toDouble // compiles per query, over all warm-up passes
      val spans = trace.link()
      val inTimed = (t: Double) => t >= timedStart && t <= timedEnd
      def timedOf(name: String) = spans.filter(s => s.name == name && inTimed(s.start))
      val buildIds = timedOf("ops.build").map(_.id).toSet
      val jobs = timedOf("spark.job")
      val plans = timedOf("spark.plan.analysis") ++ timedOf("spark.plan.optimization") ++ timedOf("spark.plan.planning")
      val tasks = trace.tasks.asScala.filter(t => inTimed(t.finish)).toSeq
      val stages = trace.stageEnds.asScala.count(t => inTimed(t))
      layers ++= Seq(
        "engine.session_ms" -> sessionMs,
        "engine.register_ms" -> registerMs,
        "ops.build_ms" -> Stats.median(execs.map(_.buildMs).toSeq),
        "ops.build_jobs" -> jobs.count(j => buildIds(j.parent)) / n,
        "ops.build_share" -> execs.map(_.buildMs).sum / execs.map(_.ms).sum,
        "spark.plan.analysis_ms" -> timedOf("spark.plan.analysis").map(s => s.end - s.start).sum / n,
        "spark.plan.optimization_ms" -> timedOf("spark.plan.optimization").map(s => s.end - s.start).sum / n,
        "spark.plan.planning_ms" -> timedOf("spark.plan.planning").map(s => s.end - s.start).sum / n,
        "spark.plan.executions" -> plans.count(_.name == "spark.plan.planning") / n,
        "spark.codegen.warmup_compiles" -> (cg1 - cg0) / nWarm,
        "spark.codegen.warmup_compile_ms" -> (cgMs1 - cgMs0) / nWarm,
        "spark.codegen.timed_compiles" -> (cg2 - cg1) / n,
        "spark.codegen.timed_compile_ms" -> (cgMs2 - cgMs1) / n) ++
        execLayers(tasks, jobs.size, stages, n, wallMs, cores) ++ Seq(
        "jvm.gc_ms" -> (gc2 - gc1).toDouble,
        "jvm.heap_after_gc_mb" -> heapMb) ++
        selfLayers(spans.filter(s => inTimed(s.start)), n)
      args.get("spans").foreach(Trace.writeSpans(spans, _))
    }
    write(args("out"),
      "warmup" -> warm.map(execFields),
      "timed" -> execs.toSeq.map(execFields),
      "passes" -> pass,
      "wall_ms" -> wallMs,
      "warmup_ms" -> (timedStart - warmStart),
      "peak_rss_mb" -> peakRssMb(),
      "layers" -> layers)
  }

  private def execFields(e: Exec): ListMap[String, Any] = ListMap("name" -> e.name, "pass" -> e.pass,
    "ms" -> e.ms, "build_ms" -> e.buildMs, "ok" -> e.ok, "error" -> e.error)

  /** Spark execution counters over one window, per query or request. */
  private def execLayers(tasks: Seq[TaskSample], jobs: Int, stages: Int, n: Double,
      wallMs: Double, cores: Int): Seq[(String, Double)] = {
    val busy = tasks.map(_.busyMs).sum.toDouble
    Seq(
      "spark.exec.jobs" -> jobs / n,
      "spark.exec.stages" -> stages / n,
      "spark.exec.tasks" -> tasks.size / n,
      "spark.exec.task_busy_ms" -> busy / n,
      "spark.exec.core_util" -> busy / (wallMs * cores),
      "spark.exec.scan_bytes" -> tasks.map(_.scanBytes).sum / n,
      "spark.exec.shuffle_bytes" -> tasks.map(_.shuffleBytes).sum / n,
      "spark.exec.spill_bytes" -> tasks.map(_.spillBytes).sum / n,
      "spark.exec.gc_ms" -> tasks.map(_.gcMs).sum / n,
      "spark.exec.sched_delay_ms" ->
        (if (tasks.isEmpty) 0.0 else tasks.map(_.schedDelayMs).sum.toDouble / tasks.size))
  }

  /** Self time per layer, per query or request. */
  private def selfLayers(spans: Seq[Span], n: Double): Seq[(String, Double)] = {
    val self = Trace.selfTime(spans)
    def of(names: String*) = names.map(self.getOrElse(_, 0.0)).sum / n
    Seq(
      "self.query_ms" -> of("query"),
      "self.ops.build_ms" -> of("ops.build"),
      "self.spark.write_ms" -> of("spark.write"),
      "self.spark.plan_ms" -> of("spark.plan.analysis", "spark.plan.optimization", "spark.plan.planning"),
      "self.spark.job_ms" -> of("spark.job"),
      "trace.spans" -> spans.size.toDouble)
  }

  /** The OS's high-water mark of this process's resident memory. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  private def countFiles(dirs: Seq[java.io.File]): (Int, Long) = {
    val files = dirs.filter(_.exists).flatMap(d =>
      Files.walk(d.toPath).iterator().asScala.filter(Files.isRegularFile(_)).toSeq)
    (files.size, files.map(Files.size).sum)
  }

  private def serve(args: Map[String, String]): Unit = {
    val sf = args("sf")
    val trace = new Trace(args("trace") == "1")
    val (spark, sessionMs, registerMs) = engine(sf, trace)
    val t0 = System.nanoTime()
    IngestDdl.foreach(ChSql.sql(spark, _))
    val ddlMs = ms(t0)
    val scanNames = args("scan-names").split(",").toSeq
    val oracles = SparkEntry.oracleSql
    write(args("texts"), scanNames.map(n => n -> oracles(n)): _*)
    val door = HttpSqlEndpoint.start(spark, 0)
    ready("port" -> door.port, "session_ms" -> sessionMs, "register_ms" -> registerMs, "ddl_ms" -> ddlMs)

    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in, UTF_8))
    var timedStart, timedEnd = 0.0
    var cg0, cg1, cg2 = (0L, 0.0)
    var gc1, gc2 = 0L
    var finish: Array[String] = Array.empty
    while (finish.isEmpty) {
      val line = in.readLine()
      if (line == null) finish = Array("finish")
      else line.trim.split(" ") match {
        case Array("warm") => cg0 = Trace.codegen()
        case Array("timed") => timedStart = trace.now(); cg1 = Trace.codegen(); gc1 = Trace.gcMs()
        case Array("end") => timedEnd = trace.now(); cg2 = Trace.codegen(); gc2 = Trace.gcMs()
        case cmd if cmd.head == "finish" => finish = cmd
        case _ =>
      }
    }
    // Replay the served read texts in-process to time the dialect layer.
    val replay = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (finish.length > 1) {
      val texts = mapper.readValue(new java.io.File(finish(1)), classOf[Array[String]])
      val rewrite, analyze = ArrayBuffer.empty[Double]
      texts.foreach { text =>
        val r0 = System.nanoTime()
        ChSql.rewrite(spark, text)
        val r = ms(r0)
        val a0 = System.nanoTime()
        // a text the door refused is a counted failure already
        if (scala.util.Try(ChSql.sql(spark, text).queryExecution.analyzed).isSuccess) {
          rewrite += r
          analyze += math.max(0.0, ms(a0) - r)
        }
      }
      replay ++= Seq("chsql.rewrite_ms" -> Stats.median(rewrite.toSeq),
        "chsql.analyze_ms" -> Stats.median(analyze.toSeq))
    }
    val root = new java.io.File(Engine.scratch(spark, "http", "x")).getParentFile
    val ddlRoot = new java.io.File(Engine.scratch(spark, "ddl", "x")).getParentFile
    val (files, bytes) = countFiles(Seq(root, ddlRoot))
    val heapMb = Trace.heapAfterGcMb()
    val cores = spark.sparkContext.defaultParallelism
    door.stop()
    spark.stop()

    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (trace.enabled) {
      val spans = trace.link()
      val inTimed = (t: Double) => t >= timedStart && t <= timedEnd
      val timed = spans.filter(s => inTimed(s.start))
      val tasks = trace.tasks.asScala.filter(t => inTimed(t.finish)).toSeq
      // finish <replay file> <timed requests> <warm-up requests>
      val n = math.max(1.0, finish.lift(2).map(_.toDouble).getOrElse(1.0))
      val nWarm = math.max(1.0, finish.lift(3).map(_.toDouble).getOrElse(1.0))
      def sum(name: String) = timed.filter(_.name == name).map(s => s.end - s.start).sum / n
      layers ++= Seq(
        "engine.session_ms" -> sessionMs,
        "engine.register_ms" -> registerMs,
        "spark.plan.analysis_ms" -> sum("spark.plan.analysis"),
        "spark.plan.optimization_ms" -> sum("spark.plan.optimization"),
        "spark.plan.planning_ms" -> sum("spark.plan.planning"),
        "spark.plan.executions" -> timed.count(_.name == "spark.plan.planning") / n,
        "spark.codegen.warmup_compiles" -> (cg1._1 - cg0._1) / nWarm,
        "spark.codegen.warmup_compile_ms" -> (cg1._2 - cg0._2) / nWarm,
        "spark.codegen.timed_compiles" -> (cg2._1 - cg1._1) / n,
        "spark.codegen.timed_compile_ms" -> (cg2._2 - cg1._2) / n) ++
        execLayers(tasks, timed.count(_.name == "spark.job"),
          trace.stageEnds.asScala.count(t => inTimed(t)), n, timedEnd - timedStart, cores) ++
        replay ++ Seq(
        "jvm.gc_ms" -> (gc2 - gc1).toDouble,
        "jvm.heap_after_gc_mb" -> heapMb) ++
        selfLayers(timed, n).filterNot(_._1 == "self.query_ms")
      args.get("spans").foreach(Trace.writeSpans(spans, _))
    }
    write(args("out"),
      "peak_rss_mb" -> peakRssMb(),
      "ingest_files" -> files,
      "ingest_bytes" -> bytes,
      "layers" -> layers)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
