package perfbench

import graft.SparkEntry
import graft.app.{App, EventListener, Project, RunEvent, Tracker}
import graft.core.DbObjectCompiler
import graft.db.SparkDatabase
import graft.tasks.RunArguments
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogEvent
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark harness: runs one workload through graft's public entry
  * points and writes a raw JSON record (timestamps, tracker events, output
  * digests and, when traced, Spark listener data) for `run.py`, which
  * turns it into metrics and checks the digests.
  *
  * Arguments are `key=value`:
  *   mode      project-fresh | project-incremental | corpus | dag
  *   out       raw record path
  *   work      scratch directory (warehouse, metastore, temp files)
  *   fixtures  directory of the sf0.1 parquet fixtures
  *   seconds   measured time per run; passes repeat until it is used
  *   trace     1 = attach the Spark listeners
  *   seed      orders the corpus check pass, picks incremental windows
  *   project, tables, windows, base_day, entries — per mode, see run.py
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val a = args.flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> v)
      case _ => None
    }).toMap
    val rec = mutable.LinkedHashMap.empty[String, Any]
    val out = Paths.get(a("out"))
    val code =
      try {
        a("mode") match {
          case "project-fresh" | "project-incremental" | "dag" => new ProjectRun(a, rec).run()
          case "corpus" => new CorpusRun(a, rec).run()
          case other => throw new IllegalArgumentException(s"unknown mode $other")
        }
        0
      } catch {
        case e: Throwable =>
          val sw = new java.io.StringWriter
          e.printStackTrace(new java.io.PrintWriter(sw))
          rec("error") = sw.toString
          2
      }
    Files.writeString(out, Json(rec) + "\n")
    System.exit(code)
  }

  def now(): Long = System.currentTimeMillis()

  def stamp(spark: SparkSession): Map[String, Any] = Map(
    "spark" -> spark.version,
    "scala" -> scala.util.Properties.versionNumberString,
    "java" -> System.getProperty("java.version"),
    "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "master" -> spark.sparkContext.master)

  /** Driver heap in use after two forced collections, the second after a
    * pause in which Spark's ContextCleaner can drop what the first freed.
    */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc()
    Thread.sleep(500)
    System.gc()
    Thread.sleep(100)
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** CPU time of the whole JVM (all threads), in milliseconds. */
  def cpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
      case _ => 0.0
    }

  def codegen(): Seq[Any] = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Seq(h.getCount, h.getSnapshot.getMean)
  }

  /** Order-independent digest of a table or result: the row count and the
    * sum of a 60-bit prefix of each row's md5 over its columns in name
    * order. `money` renders doubles as DECIMAL(18,2) and timestamps as
    * epoch microseconds, which `oracle.py` reproduces in DuckDB.
    */
  def digestColumn(df: DataFrame, money: Boolean): Column = {
    val cols = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      val c = col(s"`${f.name}`")
      val s = f.dataType match {
        case DoubleType | FloatType if money => c.cast("decimal(18,2)").cast("string")
        case TimestampType | TimestampNTZType if money =>
          unix_micros(c.cast("timestamp")).cast("string")
        case _ => c.cast("string")
      }
      coalesce(s, lit("\\N"))
    }
    conv(substring(md5(concat_ws("|", cols: _*)), 1, 15), 16, 10)
      .cast("decimal(38,0)")
  }

  def digests(spark: SparkSession, named: Seq[(String, DataFrame)],
      money: Boolean): Map[String, Seq[Any]] =
    if (named.isEmpty) Map.empty
    else {
      val parts = named.map { case (name, df) =>
        df.agg(count(lit(1)).as("n"), sum(digestColumn(df, money)).as("d"))
          .select(lit(name).as("t"), col("n"), col("d").cast("string").as("d"))
      }
      parts.reduce(_ unionByName _).collect().map { r =>
        r.getString(0) -> Seq(r.getLong(1), Option(r.getString(2)).getOrElse("0"))
      }.toMap
    }
}

/** Tracker events of one `App.run`, kept as plain rows. */
final class Recorder extends EventListener {
  private val rows = mutable.ArrayBuffer.empty[Seq[Any]]
  override def onEvent(e: RunEvent): Unit = rows += (e match {
    case RunEvent.RunStarted(_, n, ts) => Seq("run_started", n, ts)
    case RunEvent.TaskStarted(t, _, _, ts) => Seq("task_started", t, ts)
    case RunEvent.TaskFinished(t, st, ms, err, ts) => Seq("task_finished", t, st, ts, ms, err.orNull)
    case RunEvent.StepStarted(t, s, ts) => Seq("step_started", t, s, ts)
    case RunEvent.StepFinished(t, s, ok, ms, ts) => Seq("step_finished", t, s, ok, ts, ms)
    case RunEvent.Message(level, t, _, ts) => Seq("message", level, t.orNull, ts)
    case RunEvent.RunFinished(ok, ms, ts) => Seq("run_finished", ok, ts, ms)
  })
  def take(): Seq[Seq[Any]] = synchronized { val r = rows.toList; rows.clear(); r }
}

/** Spark-side observer for traced runs: jobs, stages, tasks (summed per
  * stage), SQL executions, catalog events and per-query plan phases and
  * write statistics. Everything stays in memory until [[take]].
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Any]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[Int, Array[Long]]
  private val sqls = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[Any]]
  private val catalog = mutable.ArrayBuffer.empty[Seq[Any]]
  private val queries = mutable.ArrayBuffer.empty[Seq[Any]]

  // stage slots: 0 job, 1 submit, 2 complete, 3 tasks, 4 run ms, 5 cpu ms,
  // 6 gc ms, 7 shuffle write B, 8 spill B, 9 input B, 10 max task ms
  private def stage(id: Int): Array[Long] =
    stages.getOrElseUpdate(id, Array(stageJob.getOrElse(id, -1).toLong, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    jobs(e.jobId) = mutable.ArrayBuffer(e.jobId, prop("spark.jobGroup.id"),
      prop("spark.sql.execution.id"), e.time, 0L, e.stageIds.size)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_(4) = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s(0) = stageJob.getOrElse(e.stageInfo.stageId, -1).toLong
    s(1) = e.stageInfo.submissionTime.getOrElse(0L)
    s(2) = e.stageInfo.completionTime.getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s(3) += 1
    s(10) = math.max(s(10), e.taskInfo.duration)
    Option(e.taskMetrics).foreach { m =>
      s(4) += m.executorRunTime
      s(5) += m.executorCpuTime / 1000000
      s(6) += m.jvmGCTime
      s(7) += m.shuffleWriteMetrics.bytesWritten
      s(8) += m.memoryBytesSpilled + m.diskBytesSpilled
      s(9) += m.inputMetrics.bytesRead
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqls(s.executionId) = mutable.ArrayBuffer(s.executionId,
          s.jobGroupId.orNull, s.time, 0L, s.description.take(80))
      case s: SparkListenerSQLExecutionEnd =>
        sqls.get(s.executionId).foreach(_(3) = s.time)
      case c: ExternalCatalogEvent =>
        val kind = c.getClass.getSimpleName
        if (!kind.endsWith("PreEvent")) catalog += Seq(kind, Harness.now())
      case _ =>
    }
  }

  /** Rows/bytes/files of every write node in an executed plan. */
  private def writeStats(plan: SparkPlan): Array[Long] = {
    val acc = Array(0L, 0L, 0L)
    def visit(p: SparkPlan): Unit = {
      if (p.metrics.contains("numFiles")) {
        acc(0) += p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        acc(1) += p.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
        acc(2) += p.metrics("numFiles").value
      }
      p match {
        case x: AdaptiveSparkPlanExec => visit(x.executedPlan)
        case x: CommandResultExec => visit(x.commandPhysicalPlan)
        case _ =>
      }
      p.children.foreach(visit)
    }
    visit(plan)
    acc
  }

  private def record(funcName: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(k: String) = phases.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val w = try writeStats(qe.executedPlan) catch { case _: Throwable => Array(0L, 0L, 0L) }
    synchronized {
      queries += Seq(qe.id, funcName, ms("analysis"), ms("optimization"), ms("planning"),
        durationNs / 1000000, w(0), w(1), w(2), ok)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, 0L, ok = false)

  def take(): Map[String, Any] = synchronized {
    val r = Map(
      "jobs" -> jobs.values.map(_.toList).toList,
      "stages" -> stages.toList.map { case (id, s) => id.toLong +: s.toList },
      "sql" -> sqls.values.map(_.toList).toList,
      "catalog" -> catalog.toList,
      "queries" -> queries.toList)
    jobs.clear(); stages.clear(); sqls.clear(); catalog.clear(); queries.clear()
    r
  }
}

/** Shared pass loop: timed passes until the measured budget is spent. Each
  * run starts cold, as a `graft run` CLI call or a fresh bench process does.
  */
abstract class Workload(a: Map[String, String], rec: mutable.LinkedHashMap[String, Any]) {
  val seconds: Double = a.getOrElse("seconds", "10").toDouble
  val traced: Boolean = a.getOrElse("trace", "0") == "1"
  val work: Path = Paths.get(a("work")).toAbsolutePath
  val fixtures: String = Paths.get(a("fixtures")).toAbsolutePath.toString
  val seed: Long = a.getOrElse("seed", "0").toLong
  lazy val probe: Option[Probe] = if (traced) Some(new Probe) else None

  def attach(spark: SparkSession): Unit = probe.foreach { p =>
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
  }

  /** One pass: returns its record (timed part marked with t0/t1). */
  def pass(i: Int): mutable.LinkedHashMap[String, Any]

  def passes(spark: SparkSession): Unit = {
    drainProbe(spark)
    rec("t_first_pass") = Harness.now()
    val t0 = System.nanoTime()
    val done = mutable.ArrayBuffer.empty[Any]
    var i = 1
    while (done.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val p = pass(i)
      done += p
      i += 1
    }
    rec("passes") = done.toList
    rec("t_end") = Harness.now()
  }

  /** Wait for queued listener events; return (and clear) the probe data. */
  def drainProbe(spark: SparkSession): Option[Map[String, Any]] = probe.map { p =>
    PerfbenchBus.drain(spark.sparkContext)
    p.take()
  }
}

/** `project-fresh`, `project-incremental` and `dag` modes. */
final class ProjectRun(a: Map[String, String], rec: mutable.LinkedHashMap[String, Any])
    extends Workload(a, rec) {
  private val projectDir = Paths.get(a("project")).toAbsolutePath
  private val env = sys.env + ("GRAFT_PARAMETER_FIXTURES" -> fixtures)
  private val tables: Seq[String] =
    a.get("tables").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
  private val incremental = a("mode") == "project-incremental"
  private val windows: Seq[String] =
    a.get("windows").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
  private val baseDay = a.getOrElse("base_day", "")

  private var spark: SparkSession = _
  private var app: App = _
  private var specs: Seq[graft.app.TaskSpec] = _
  private var eventsDf: DataFrame = _

  /** The session `graft.app.Cli` builds, with its scratch files kept
    * under the work directory.
    */
  private def session(): SparkSession = {
    val graftDir = work.resolve(".graft")
    SparkSession.builder()
      .master("local[4]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", graftDir.resolve("warehouse").toString)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${graftDir.resolve("metastore")};create=true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.hadoop.hive.exec.scratchdir", work.resolve("hive-scratch").toString)
      .config("spark.hadoop.hive.exec.local.scratchdir", work.resolve("hive-local").toString)
      .config("spark.hadoop.hive.downloaded.resources.dir", work.resolve("hive-res").toString)
      .enableHiveSupport()
      .getOrCreate()
  }

  def run(): Unit = {
    spark = session()
    spark.sparkContext.setLogLevel("WARN")
    rec("t_session") = Harness.now()
    rec("stamp") = Harness.stamp(spark)
    attach(spark)

    // Project.load + App.dag, once, as graft.app.Cli does
    val t0 = Harness.now()
    val loaded = Project.load(projectDir, None, env).fold(e => throw new RuntimeException(e.toString), identity)
    val t1 = Harness.now()
    val db = new SparkDatabase(spark)
    val objects = new DbObjectCompiler(
      loaded.defaultDb, loaded.stringify, loaded.prodStringify, loaded.fromProd)
    app = new App(db, objects, loaded.parameters,
      compileDir = Some(work.resolve("compile")),
      templateLoader = Project.fileLoader(projectDir))
    val dag = app.dag(loaded.specs, RunArguments(command = "compile"))
      .fold(e => throw new RuntimeException(e.toString), identity)
    specs = loaded.specs
    rec("load_ms") = t1 - t0
    rec("dag") = dag
    if (a("mode") == "dag") return

    if (incremental)
      eventsDf = spark.read.parquet(s"$fixtures/events.parquet")
    useDatabase(0) // the first, cold catalog operation belongs to set-up
    passes(spark)
    drainProbe(spark)
  }

  private def useDatabase(i: Int): Unit = {
    if (i > 0) spark.sql(s"DROP DATABASE IF EXISTS p${i - 1} CASCADE")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS p$i")
    spark.catalog.setCurrentDatabase(s"p$i")
  }

  /** The landing view the incremental copy reads: every event up to `day`. */
  private def land(day: String): Unit =
    eventsDf.where(to_date(col("ts")) <= lit(day).cast("date"))
      .createOrReplaceTempView("landing_events")

  private def appRun(args: RunArguments): mutable.LinkedHashMap[String, Any] = {
    val recorder = new Recorder
    val tCall = Harness.now()
    val report = app.run(specs, args, Tracker(recorder))
      .fold(e => throw new RuntimeException(e.toString), identity)
    val tEnd = Harness.now()
    mutable.LinkedHashMap("t_call" -> tCall, "t_end" -> tEnd,
      "start_dt" -> args.startDt, "end_dt" -> args.endDt, "jobs" -> args.jobs,
      "succeeded" -> report.succeeded, "events" -> recorder.take())
  }

  def pass(i: Int): mutable.LinkedHashMap[String, Any] = {
    useDatabase(i)
    val p = mutable.LinkedHashMap.empty[String, Any]
    val runs = mutable.ArrayBuffer.empty[Any]
    if (incremental) {
      // untimed restore to the built state, then the timed windows
      land(baseDay)
      val restore = appRun(RunArguments(fullLoad = true, withTests = true,
        jobs = 4, startDt = baseDay, endDt = baseDay))
      if (restore("succeeded") != true)
        throw new RuntimeException(s"restore failed: ${restore("events")}")
      p("warehouse_bytes0") = warehouse(s"p$i")._1
      drainProbe(spark)
      p("t0") = Harness.now()
      p("cpu0") = Harness.cpuMs()
      p("codegen0") = Harness.codegen()
      for (day <- windows) {
        land(day)
        val prev = java.time.LocalDate.parse(day).minusDays(1).toString
        runs += appRun(RunArguments(withTests = true, jobs = 1,
          startDt = prev, endDt = day))
      }
    } else {
      drainProbe(spark)
      p("t0") = Harness.now()
      p("cpu0") = Harness.cpuMs()
      p("codegen0") = Harness.codegen()
      runs += appRun(RunArguments(fullLoad = true, withTests = true, jobs = 4))
    }
    p("t1") = Harness.now()
    p("cpu1") = Harness.cpuMs()
    p("codegen1") = Harness.codegen()
    p("runs") = runs.toList
    drainProbe(spark).foreach(p("spark") = _)
    // untimed checks and measurements; a table a failed task never wrote
    // has no digest, which run.py reports as a failed check
    p("digests") = Harness.digests(spark,
      tables.filter(spark.catalog.tableExists).map(t => t -> spark.table(t)), money = true)
    val (bytes, files) = warehouse(s"p$i")
    p("warehouse_bytes") = bytes
    p("warehouse_files") = files
    p("heap_mb") = Harness.retainedHeapMb()
    p
  }

  /** Bytes and parquet files under the pass database's warehouse dir. */
  private def warehouse(dbName: String): (Long, Long) = {
    val dir = work.resolve(".graft").resolve("warehouse").resolve(s"$dbName.db")
    if (!Files.exists(dir)) return (0L, 0L)
    val s = Files.walk(dir)
    try {
      val parts = s.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(f => f.getFileName.toString.startsWith("part-")).toSeq
      (parts.map(Files.size).sum, parts.size.toLong)
    } finally s.close()
  }
}

/** `corpus` mode: build + noop write of corpus entries, with the session
  * `graft.Bench` builds. After the timed passes an untimed check pass
  * digests every entry's result.
  */
final class CorpusRun(a: Map[String, String], rec: mutable.LinkedHashMap[String, Any])
    extends Workload(a, rec) {
  private var spark: SparkSession = _
  private val entries: Seq[String] = a("entries").split(",").toSeq.filter(_.nonEmpty)

  def run(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    rec("t_session") = Harness.now()
    rec("stamp") = Harness.stamp(spark)
    attach(spark)
    val readOnly = SparkEntry.queries.keySet -- SparkEntry.mutating
    val unknown = entries.filterNot(readOnly)
    require(unknown.isEmpty, s"unknown or mutating entries: ${unknown.mkString(", ")}")
    rec("entries") = entries
    passes(spark)
    drainProbe(spark)
    val checks = mutable.LinkedHashMap.empty[String, Any]
    for (name <- new scala.util.Random(seed).shuffle(entries))
      checks(name) =
        try Harness.digests(spark, Seq(name -> SparkEntry.queries(name)(spark, fixtures)),
          money = false)(name)
        catch { case e: Throwable => e.toString.take(300) }
    rec("digests") = checks
  }

  def pass(i: Int): mutable.LinkedHashMap[String, Any] = {
    val p = mutable.LinkedHashMap.empty[String, Any]
    val ops = mutable.ArrayBuffer.empty[Any]
    drainProbe(spark)
    p("t0") = Harness.now()
    p("cpu0") = Harness.cpuMs()
    p("codegen0") = Harness.codegen()
    for (name <- entries) {
      val t0 = System.nanoTime()
      val tWall = Harness.now()
      val cpu0 = Harness.cpuMs()
      val op = mutable.LinkedHashMap[String, Any]("name" -> name, "t_wall" -> tWall)
      try {
        val df = SparkEntry.queries(name)(spark, fixtures)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        op ++= Seq("build_ms" -> (t1 - t0) / 1e6, "exec_ms" -> (t2 - t1) / 1e6,
          "cpu_ms" -> (Harness.cpuMs() - cpu0),
          "t_built" -> (tWall + (t1 - t0) / 1000000), "ok" -> true)
      } catch {
        case e: Throwable =>
          op ++= Seq("ok" -> false, "error" -> e.toString.take(300))
      }
      ops += op
    }
    p("t1") = Harness.now()
    p("cpu1") = Harness.cpuMs()
    p("codegen1") = Harness.codegen()
    p("ops") = ops.toList
    drainProbe(spark).foreach(p("spark") = _)
    p("heap_mb") = Harness.retainedHeapMb()
    p
  }
}

/** Minimal JSON rendering for the raw record. */
object Json {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => q(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => q(other.toString)
  }
}
