package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.DriverManager

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, monotonically_increasing_id}
import org.apache.spark.sql.types.StructType

import graft.{MovieDbImport, Sessions, SparkEntry}
import graft.etl.{CreditsPipeline, EtlKit, KeywordsPipeline, MoviesPipeline}
import graft.model.RefSchemas
import graft.ops._
import graft.parse.PyLiteral
import graft.sink.{CorpusBuild, JdbcSink}

/** JVM side of the benchmark. `run.py` launches one fresh JVM per run and
  * reads the JSON this writes; all checking against expected outputs is
  * done there.
  *
  *   Main registry <out.json>
  *   Main setup    <work> <out.json>
  *   Main run      <workload> <data> <work> <plan> <trace> <out.json>
  *
  * `run` sets up Spark, then does the workload's fixed work once: one
  * query per line of `plan` (queries), one corpus build (corpus) or one
  * 15-table import (pipelines, import). With trace on it adds a
  * SparkListener and layer spans and splits each operation into its
  * layers; spans are kept in memory and written at the end.
  */
object Main {
  val Master = "local[4]"
  val Cores = 4

  def main(args: Array[String]): Unit = args.toList match {
    case "registry" :: out :: Nil => registry(out)
    case "setup" :: work :: out :: Nil =>
      val spark = setup(work)
      val rec = Json.obj("setup_s" -> sinceJvmStart(), "session_s" -> sessionS,
        "setup_cpu_s" -> Proc.cpuSeconds())
      Json.write(out, rec)
      spark.stop()
    case "run" :: wl :: data :: work :: plan :: trace :: out :: Nil =>
      val spark = setup(work)
      val setupS = sinceJvmStart()
      val setupCpu = Proc.cpuSeconds()
      val tr = if (trace == "1") Some(new Tracer(spark)) else None
      val lines = scala.io.Source.fromFile(plan, "UTF-8").getLines().toVector
      val ctx = Ctx(spark, wl, data, work, lines, tr)
      val steal0 = Proc.hostStealSeconds()
      val body = wl match {
        case "queries" => Workloads.queries(ctx)
        case "corpus" => Workloads.corpus(ctx)
        case "pipelines" | "import" => Workloads.importing(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val rec = mutable.LinkedHashMap[String, Any](
        "setup_s" -> setupS, "session_s" -> sessionS, "setup_cpu_s" -> setupCpu,
        "run_host_steal_s" -> (Proc.hostStealSeconds() - steal0),
        "spark_version" -> spark.version,
        "java_version" -> sys.props("java.version"),
        "master" -> Master)
      rec ++= body
      tr.foreach { t => rec ++= t.report() }
      rec("peak_rss_mb") = Proc.peakRssMb()
      spark.stop()
      Json.write(out, rec.toMap)
    case _ =>
      System.err.println("usage: Main registry|setup|run ...")
      sys.exit(2)
  }

  /** Seconds from JVM start until the SparkSession existed. */
  var sessionS = 0.0

  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Session plus a generic warm-up that reads no workload data. */
  def setup(work: String): SparkSession = {
    val spark = Sessions.builder(Master, Cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.graft.scratch.dir", s"$work/scratch/session")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sessionS = sinceJvmStart()
    spark.range(0, 100000, 1, Cores).selectExpr("id % 100 AS k", "id AS v")
      .groupBy("k").sum("v").write.format("noop").mode("overwrite").save()
    spark
  }

  /** Every registry query with its module and oracle SQL. */
  def registry(out: String): Unit = {
    val modules = Seq(
      "CoreQueries" -> CoreQueries.all, "TimeWindowOps" -> TimeWindowOps.all,
      "ParseOps" -> ParseOps.all, "DedupOps" -> DedupOps.all,
      "SimilarityOps" -> SimilarityOps.all, "TextOps" -> TextOps.all,
      "MultimodalOps" -> MultimodalOps.all, "ScaleOps" -> ScaleOps.all,
      "CurationOps" -> CurationOps.all, "GovernanceOps" -> GovernanceOps.all,
      "TemporalOps" -> TemporalOps.all, "AnalyticsOps" -> AnalyticsOps.all)
    val moduleOf = modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
    val rows = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      Json.obj("name" -> n, "module" -> moduleOf.getOrElse(n, "other"),
        "oracle" -> SparkEntry.oracleSql.get(n).orNull)
    }
    val csv = Seq(MovieDbImport.Movies -> RefSchemas.moviesCsv,
      MovieDbImport.Credits -> RefSchemas.creditsCsv,
      MovieDbImport.Keywords -> RefSchemas.keywordsCsv,
      MovieDbImport.Ratings -> RefSchemas.ratingsCsv)
      .map { case (f, s) => f -> s.fieldNames.toSeq }.toMap
    Json.write(out, Json.obj("queries" -> rows, "csv_schemas" -> csv))
  }
}

final case class Ctx(spark: SparkSession, workload: String, data: String,
    work: String, plan: Vector[String], tracer: Option[Tracer]) {
  /** Times `f` as one layer span when tracing, else just runs it. */
  def span[T](name: String)(f: => T): T = tracer match {
    case Some(t) => t.span(name)(f)
    case None => f
  }
}

object Workloads {
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed(ctx: Ctx, i: Int)(f: => Map[String, Any]): Map[String, Any] = {
    val t0 = System.nanoTime()
    val c0 = Proc.cpuSeconds()
    ctx.tracer.foreach(_.opStart(i))
    val body = try f catch {
      case NonFatal(e) => Map[String, Any]("error" -> e.toString.take(400))
    }
    val wall = secs(t0)
    ctx.tracer.foreach(_.opEnd())
    body ++ Map("wall_s" -> wall, "cpu_s" -> (Proc.cpuSeconds() - c0))
  }

  // ---- queries: the plan's registry queries, one after another -----------

  def queries(ctx: Ctx): Map[String, Any] = {
    val ops = ctx.plan.indices.map { i =>
      val name = ctx.plan(i)
      val fn = SparkEntry.queries(name)
      var construct = 0.0
      val r = timed(ctx, i) {
        val t0 = System.nanoTime()
        val df = ctx.span("ops.construct")(fn(ctx.spark, ctx.data))
        construct = secs(t0)
        plan(ctx, df)
        val obs = Observation("rows")
        // noop writer: every output column is computed, unlike count()
        ctx.span("spark.exec")(df.observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save())
        Map("rows" -> obs.get("n").asInstanceOf[Long])
      }
      r ++ Map("name" -> name, "construct_s" -> construct)
    }
    Map("ops" -> ops) ++ memo(ctx)
  }

  /** Traced runs only: forcing the physical plan separately from running
    * it times planning on its own. */
  private def plan(ctx: Ctx, df: DataFrame): Unit =
    if (ctx.tracer.isDefined) ctx.span("plans.plan")(df.queryExecution.executedPlan)

  // ---- corpus: one CorpusBuild.run in a fresh JVM, memos cold -------------

  def corpus(ctx: Ctx): Map[String, Any] = {
    val (s, dir) = (ctx.spark, ctx.data)
    val out = s"${ctx.work}/corpus/corpus"
    val op = timed(ctx, 0) {
      val res = if (ctx.tracer.isDefined) {
        val targets = ctx.span("sink.doremi")(CorpusBuild.doremiTargets(s, dir))
        ctx.span("sink.build") {
          val df = ctx.span("ops.construct")(CorpusBuild.run(s, dir, out, targets0 = Some(targets)))
          plan(ctx, df)
          ctx.span("spark.exec")(df.collect())
        }
      } else CorpusBuild.run(s, dir, out).collect()
      val cols = res.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil)
      val (files, bytes) = Proc.du(new File(out))
      Map("columns" -> cols,
        "result" -> res.toSeq.map(_.toSeq.map(v => if (v == null) null else v.toString)),
        "publish_files" -> files, "publish_mb" -> bytes / 1e6)
    }
    Map("ops" -> Seq(op)) ++ memo(ctx)
  }

  private def memo(ctx: Ctx): Map[String, Any] = {
    val root = new File(s"${ctx.work}/scratch")
    val artifacts = Option(root.listFiles()).toSeq.flatten.flatMap { d =>
      Option(d.listFiles()).toSeq.flatten.flatMap(k => Option(k.listFiles()).toSeq.flatten)
    }.filter(f => f.isDirectory && !f.getName.contains(".tmp-"))
    Map("memo_artifacts" -> artifacts.size,
      "memo_mb" -> artifacts.map(a => Proc.du(a)._2).sum / 1e6)
  }

  // ---- import / pipelines: the 15-table load into embedded Derby ---------

  private def readByName(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"").option("mode", "PERMISSIVE").csv(path)
      .select(schema.fieldNames.toSeq.map(col): _*)
      .withColumn(EtlKit.SeqCol, monotonically_increasing_id())

  /** `import` reads the CSVs the way the program does (EtlKit.readCsv);
    * `pipelines` binds the same files' columns by header name. */
  private def reader(ctx: Ctx): (String, StructType) => DataFrame =
    if (ctx.workload == "import") (f, s) => EtlKit.readCsv(ctx.spark, s"${ctx.data}/$f", s)
    else (f, s) => readByName(ctx.spark, s"${ctx.data}/$f", s)

  private def tables(mt: MoviesPipeline.MoviesTables, ct: CreditsPipeline.CreditsTables,
      kt: KeywordsPipeline.KeywordsTables): Seq[(String, DataFrame)] = Seq(
    "genres" -> mt.genres,
    "languages" -> mt.languages.select("id", "lang_key", "name"),
    "collections" -> mt.collections,
    "countries" -> mt.countries.select("id", "code", "name"),
    "production_companies" -> mt.productionCompanies,
    "persons" -> ct.persons,
    "keywords" -> kt.keywords,
    "movies" -> mt.movies,
    "movies_genres" -> mt.moviesGenres,
    "movies_production_companies" -> mt.moviesProductionCompanies,
    "production_countries" -> mt.productionCountries,
    "spoken_languages" -> mt.spokenLanguages,
    "movies_keywords" -> kt.moviesKeywords,
    "directors" -> ct.directors,
    "actors" -> ct.actors)

  def importing(ctx: Ctx): Map[String, Any] = {
    val read = reader(ctx)
    val parse = if (ctx.tracer.isDefined) parseRate(ctx) else Map.empty[String, Any]
    val url = "jdbc:derby:memory:import"
    var jdbc = (0.0, 0L)
    val op = timed(ctx, 0) {
      if (ctx.tracer.isEmpty) {
        if (ctx.workload == "import") MovieDbImport.run(ctx.spark, ctx.data, s"$url;create=true")
        else JdbcSink.writeAll(
          MoviesPipeline.build(read(MovieDbImport.Movies, RefSchemas.moviesCsv),
            EtlKit.ratingAvg(read(MovieDbImport.Ratings, RefSchemas.ratingsCsv))),
          CreditsPipeline.build(read(MovieDbImport.Credits, RefSchemas.creditsCsv)),
          KeywordsPipeline.build(read(MovieDbImport.Keywords, RefSchemas.keywordsCsv)),
          s"$url;create=true")
      } else jdbc = tracedImport(ctx, read, s"$url;create=true")
      Map.empty[String, Any]
    }
    val checked = try derbyFacts(url, ctx.plan) catch {
      case NonFatal(e) => Map[String, Any]("check_error" -> e.toString.take(400))
    }
    dropDerby(url)
    Map("ops" -> Seq(op ++ checked ++ Map("jdbc_s" -> jdbc._1, "jdbc_rows" -> jdbc._2))) ++ parse
  }

  /** The same import, split at layer boundaries: each pipeline's tables
    * are materialized (etl spans), then the 15 tables are loaded from
    * memory (sink span). Returns (JDBC seconds, rows written). */
  private def tracedImport(ctx: Ctx, read: (String, StructType) => DataFrame,
      url: String): (Double, Long) = {
    def pin(dfs: Seq[DataFrame]): Seq[DataFrame] = dfs.map { d => val c = d.cache(); c.count(); c }
    val ra = ctx.span("etl.ratings")(pin(Seq(EtlKit.ratingAvg(
      read(MovieDbImport.Ratings, RefSchemas.ratingsCsv)))).head)
    val mt = ctx.span("etl.movies") {
      val m = MoviesPipeline.build(read(MovieDbImport.Movies, RefSchemas.moviesCsv), ra)
      val p = pin(Seq(m.movies, m.genres, m.languages, m.collections, m.countries,
        m.productionCompanies, m.moviesGenres, m.spokenLanguages,
        m.productionCountries, m.moviesProductionCompanies))
      MoviesPipeline.MoviesTables(p(0), p(1), p(2), p(3), p(4), p(5), p(6), p(7), p(8), p(9))
    }
    val ct = ctx.span("etl.credits") {
      val c = CreditsPipeline.build(read(MovieDbImport.Credits, RefSchemas.creditsCsv))
      val p = pin(Seq(c.persons, c.directors, c.actors))
      CreditsPipeline.CreditsTables(p(0), p(1), p(2))
    }
    val kt = ctx.span("etl.keywords") {
      val k = KeywordsPipeline.build(read(MovieDbImport.Keywords, RefSchemas.keywordsCsv))
      val p = pin(Seq(k.keywords, k.moviesKeywords))
      KeywordsPipeline.KeywordsTables(p(0), p(1))
    }
    val ts = tables(mt, ct, kt)
    val rows = ts.map(_._2.count()).sum
    val t0 = System.nanoTime()
    // One connection per table. With inputs already in memory, parallel
    // writer tasks start inserting while their peers still compile the
    // INSERT; on embedded Derby the first insert's identity-range
    // allocation then fails (40XL1, SequenceUpdater gives up after two
    // no-wait tries). The untraced load computes each partition inside its
    // writer task, so every compile ends before the first insert.
    ctx.span("sink.jdbc") {
      JdbcSink.createSchema(url)
      ts.foreach { case (name, df) => JdbcSink.writeTable(df, url, name, numPartitions = 1) }
    }
    val jdbcS = secs(t0)
    ts.foreach(_._2.unpersist())
    ra.unpersist()
    (jdbcS, rows)
  }

  private val FkRe = """ALTER TABLE (\w+) ADD FOREIGN KEY \((\w+)\) REFERENCES (\w+) \((\w+)\)""".r

  /** Row counts, FK orphans and spot rating values read back from Derby;
    * `spot` holds the movie ids whose rating is read back. */
  private def derbyFacts(url: String, spot: Seq[String]): Map[String, Any] = {
    val con = DriverManager.getConnection(url)
    try {
      val st = con.createStatement()
      def long(sql: String): Long = { val rs = st.executeQuery(sql); rs.next(); rs.getLong(1) }
      val counts = JdbcSink.tableDdl.map { case (t, _) => t -> long(s"SELECT COUNT(*) FROM $t") }.toMap
      val orphans = JdbcSink.fkDdl.map { case FkRe(t, c, rt, rc) =>
        s"$t.$c" -> long(s"SELECT COUNT(*) FROM $t a LEFT OUTER JOIN $rt b ON a.$c = b.$rc " +
          s"WHERE a.$c IS NOT NULL AND b.$rc IS NULL")
      }.toMap
      val ratings = spot.filter(_.nonEmpty).map { id =>
        val rs = st.executeQuery(s"SELECT rating FROM movies WHERE id = ${id.toLong}")
        id -> (if (rs.next()) { val v = rs.getDouble(1); if (rs.wasNull()) null else v } else "absent")
      }.toMap
      Map("counts" -> counts, "fk_orphans" -> orphans, "ratings" -> ratings)
    } finally con.close()
  }

  private def dropDerby(url: String): Unit =
    try DriverManager.getConnection(s"$url;drop=true").close()
    catch { case _: java.sql.SQLException => () } // a successful drop reports 08006

  /** parse layer: PyLiteral.toJson over every nested cell of the input,
    * on this one thread; median rate of three passes. */
  private def parseRate(ctx: Ctx): Map[String, Any] = {
    val nested = Seq(
      MovieDbImport.Movies -> Seq("belongs_to_collection", "genres", "production_companies",
        "production_countries", "spoken_languages"),
      MovieDbImport.Credits -> Seq("cast", "crew"),
      MovieDbImport.Keywords -> Seq("keywords"))
    val cells = nested.flatMap { case (f, cs) =>
      val df = readByName(ctx.spark, s"${ctx.data}/$f", StructType(cs.map(
        org.apache.spark.sql.types.StructField(_, org.apache.spark.sql.types.StringType))))
      df.select(cs.map(col): _*).collect().toSeq.flatMap(r => cs.indices.map(r.getString))
    }.filter(c => c != null && c.nonEmpty).toArray
    var sink = 0L
    val rates = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      ctx.span("parse.to_json") {
        cells.foreach { c => val j = PyLiteral.toJson(c); if (j != null) sink += j.length }
      }
      cells.length / secs(t0)
    }.sorted
    Map("parse_cells" -> cells.length, "parse_cells_per_s" -> rates(1), "parse_chars_out" -> sink)
  }
}

/** One layer boundary: nano times for durations, wall-clock ms for
  * matching listener events, the enclosing span's index (-1 for none). */
final case class Span(name: String, start: Long, end: Long, parent: Int, op: Int,
    wallStart: Long, wallEnd: Long)

/** Layer spans and Spark listener counts, kept in memory for the run. */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Int]()
  private var op = -1
  private val listener = new Listener
  spark.sparkContext.addSparkListener(listener)

  def opStart(i: Int): Unit = { BusDrain(spark.sparkContext); op = i; listener.active = true }
  def opEnd(): Unit = { BusDrain(spark.sparkContext); listener.active = false }

  def span[T](name: String)(f: => T): T = {
    val idx = spans.size
    val parent = open.headOption.getOrElse(-1)
    spans += Span(name, System.nanoTime(), 0L, parent, op, System.currentTimeMillis(), 0L)
    open.push(idx)
    try f finally {
      open.pop()
      spans(idx) = spans(idx).copy(end = System.nanoTime(), wallEnd = System.currentTimeMillis())
    }
  }

  def report(): Map[String, Any] = {
    BusDrain(spark.sparkContext)
    val base = spans.headOption.map(_.start).getOrElse(0L)
    Map(
      "spans" -> spans.toSeq.map(s => Json.obj("name" -> s.name, "op" -> s.op,
        "start_s" -> (s.start - base) / 1e9, "end_s" -> (s.end - base) / 1e9,
        "parent" -> s.parent)),
      "span_s" -> spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => (s.end - s.start) / 1e9).sum },
      "listener" -> listener.summary(spans.collect {
        case s if s.name == "ops.construct" => (s.wallStart, s.wallEnd) }.toSeq))
  }
}

/** Job, stage and task counts from the listener bus, for jobs that start
  * while an operation runs (not set-up, parse-rate or check jobs). The bus
  * is drained at each operation boundary, so the flag matches the events. */
final class Listener extends SparkListener {
  @volatile var active = false
  private val jobStart = mutable.Map[Int, (Long, Seq[Int], String)]() // submit ms, stages, label
  private val stageMaxTaskMs = mutable.Map[Int, Long]()
  private val jobs = mutable.ArrayBuffer[(Long, Double, Double, String)]() // submit ms, wall ms, overhead ms, label
  private var stages, tasks = 0L
  private var taskRunMs, taskCpuNs, shuffleBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (active) {
      val label = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("unlabeled")
      jobStart(e.jobId) = (e.time, e.stageIds, label)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (active) stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (active && e.taskInfo != null) {
      tasks += 1
      stageMaxTaskMs(e.stageId) = math.max(stageMaxTaskMs.getOrElse(e.stageId, 0L), e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, stageIds, label) =>
      val wall = (e.time - t0).toDouble
      val longest = stageIds.flatMap(stageMaxTaskMs.get).foldLeft(0L)(math.max)
      jobs += ((t0, wall, wall - longest, label))
    }
  }

  /** `construct` holds the (start, end) wall-clock ms intervals of query
    * construction; jobs starting inside one count as construction jobs. */
  def summary(construct: Seq[(Long, Long)]): Map[String, Any] = synchronized {
    val overheads = jobs.map(_._3).sorted
    Map(
      "jobs" -> jobs.size, "stages" -> stages, "tasks" -> tasks,
      "exec_s" -> jobs.map(_._2).sum / 1e3,
      "job_overhead_ms_p50" -> (if (overheads.isEmpty) 0.0 else overheads(overheads.size / 2)),
      "task_run_s" -> taskRunMs / 1e3, "task_cpu_s" -> taskCpuNs / 1e9,
      "shuffle_mb" -> shuffleBytes / 1e6,
      "construct_jobs" -> jobs.count { j => construct.exists { case (a, b) => j._1 >= a && j._1 <= b } },
      "label_s" -> jobs.groupBy(_._4).map { case (l, js) => l -> js.map(_._2).sum / 1e3 })
  }
}

object Proc {
  private val ClkTck = 100.0

  /** utime + stime of this process, from /proc/self/stat. */
  def cpuSeconds(): Double = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) / ClkTck
  }

  /** Time the hypervisor gave to others while this host's CPUs wanted to
    * run (steal column of /proc/stat, summed over all CPUs). */
  def hostStealSeconds(): Double = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
    if (f.length > 8) f(8).toLong / ClkTck else 0.0
  }

  /** VmHWM (peak resident set) of this process, in MB. */
  def peakRssMb(): Double = scala.io.Source.fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** (regular files, bytes) under `f`. */
  def du(f: File): (Long, Long) =
    if (f.isFile) (1L, f.length())
    else Option(f.listFiles()).toSeq.flatten.map(du).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }
}

/** Minimal JSON writer for the result file. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = kv.toMap

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), render(v).getBytes("UTF-8"))
}
