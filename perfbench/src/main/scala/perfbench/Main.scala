package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark process for one workload.
  *
  * The engine is reached only through its public entry points: the
  * tables through `graft.tables.Catalog` (warm-up) and every query
  * through `graft.SparkEntry.queries(name)(spark, dataDir)` followed by
  * `count()`. The process:
  *
  *  1. sets up, timed from JVM start: a session, a Catalog warm-up and
  *     untimed warm passes of each query's `count()` (the timed action);
  *     the first also writes the same DataFrame's result to
  *     `<work>/out/<query>` for the output check;
  *  2. runs closed-loop timed passes, one driver thread, for
  *     `--seconds`. Each pass runs every query once, in an
  *     order drawn from `--seed`. In a traced run (`--trace 1`) every
  *     other pass has the listeners of [[Tracer]] attached, so traced
  *     and untraced passes of one JVM can be compared;
  *  3. writes `<work>/result.json` (set-up, passes, executions, peak
  *     RSS) and, when traced, `<work>/spans.jsonl`.
  *
  * Every path the session writes to is under `--work`.
  */
object Main {
  /** Untimed passes before timing. One leaves the JIT still compiling:
    * pass times then fall by about a fifth over the next three passes. */
  val WarmPasses = 3

  final case class Exec(pass: Int, query: String, traced: Boolean,
      buildS: Double, actionS: Double, rows: Long, error: String)
  final case class Pass(index: Int, traced: Boolean, seconds: Double,
      wchar: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val data = new File(opt("data")).getAbsolutePath
    val work = new File(opt("work")).getAbsolutePath
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val rng = new scala.util.Random(opt("seed").toLong)
    val registry = graft.SparkEntry.queries
    val names = opt("queries").split(",").toSeq.map { id =>
      registry.keys.find(_.takeWhile(_ != '_') == id)
        .getOrElse(sys.error(s"query $id is not in the registry"))
    }

    // set-up: from JVM start to the first timed query
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(step: String): Unit = System.err.println(
      s"[perfbench] set-up: $step at ${System.currentTimeMillis() - t0} ms")
    val spark = session(work, cores, traced)
    mark("session")
    graft.tables.Catalog.tableNames
      .foreach(graft.tables.Catalog(spark, data, _).count())
    mark("catalog")
    val warmErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (w <- 0 until WarmPasses; n <- names) {
      spark.sharedState.cacheManager.clearCache()
      try {
        val df = registry(n)(spark, data)
        df.count()
        if (w == 0) writeOutput(spark, df, s"$work/out/$n")
      } catch { case e: Throwable => warmErrors(n) = message(e) }
      mark(s"warm pass $w $n")
    }
    val setupS = (System.currentTimeMillis() - t0) / 1000.0
    exportOracles(names, s"$work/oracle.json")

    val sc = spark.sparkContext
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val execs = ArrayBuffer.empty[Exec]
    val passes = ArrayBuffer.empty[Pass]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // a pass starts only if it can end within --seconds (judged by the
    // slowest pass so far); there is always one pass, two when traced
    def another = passes.isEmpty || (traced && passes.size < 2) ||
      elapsed + passes.map(_.seconds).max <= seconds
    while (another) {
      val p = passes.size
      val tracedPass = traced && p % 2 == 0
      tracer.foreach(t => if (tracedPass) t.attach() else t.detach())
      val w0 = ProcStats.wchar()
      val p0 = System.nanoTime()
      rng.shuffle(names).foreach { n =>
        spark.sharedState.cacheManager.clearCache()
        val parent = s"$p:$n"
        if (tracedPass) tracer.foreach(_.beginQuery(parent))
        sc.setLocalProperty(Tracer.QueryKey, parent)
        sc.setLocalProperty(Tracer.PhaseKey, "build")
        val a = System.nanoTime()
        var b = 0L
        var rows = -1L
        var error = ""
        try {
          val df = registry(n)(spark, data)
          b = System.nanoTime()
          sc.setLocalProperty(Tracer.PhaseKey, "action")
          rows = df.count()
        } catch { case e: Throwable => error = message(e) }
        val c = System.nanoTime()
        if (b == 0L) b = c
        sc.setLocalProperty(Tracer.QueryKey, null)
        sc.setLocalProperty(Tracer.PhaseKey, null)
        if (tracedPass) tracer.foreach(_.endQuery(parent, n, p,
          (b - a) / 1e6, (c - b) / 1e6, rows, error))
        execs += Exec(p, n, tracedPass, (b - a) / 1e9, (c - b) / 1e9, rows,
          error)
      }
      passes += Pass(p, tracedPass, (System.nanoTime() - p0) / 1e9,
        ProcStats.wchar() - w0)
    }
    tracer.foreach { t =>
      t.detach()
      t.writeSpans(s"$work/spans.jsonl")
    }
    writeResult(s"$work/result.json", setupS, warmErrors.toMap,
      passes.toSeq, execs.toSeq, cores)
    spark.stop()
  }

  /** A session shaped like the engine's own bench session (static
    * shuffle width = cores, AQE may re-partition cached plans, INT64
    * timestamps), with every local directory inside the run's work dir. */
  def session(work: String, cores: Int, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp/hadoop")
      .config(graft.ops.Scratch.confKey, s"$work/scratch")
      .config(graft.ops.Fixtures.rootKey, s"$work/fixtures")
    if (traced) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The result as the output check reads it: one parquet file, and
    * INT96 timestamps, which DuckDB reads as the naive TIMESTAMP its
    * oracles compute (INT64 micros would read as TIMESTAMPTZ). */
  private def writeOutput(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try df.coalesce(1).write.mode("overwrite").parquet(path)
    finally spark.conf.set(key, prev)
  }

  private def exportOracles(names: Seq[String], path: String): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(path), names.flatMap(n =>
      oracles.get(n).map(sql => s"${Json.str(n)}: ${Json.str(sql)}"))
      .mkString("{", ",\n", "}"))
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"
      .linesIterator.take(3).mkString(" ").take(400)

  private def writeResult(path: String, setupS: Double,
      warmErrors: Map[String, String], passes: Seq[Pass], execs: Seq[Exec],
      cores: Int): Unit = {
    val passJson = passes.map(p =>
      s"""{"pass":${p.index},"traced":${p.traced},"seconds":${p.seconds},""" +
        s""""wchar":${p.wchar}}""")
    val execJson = execs.map(e =>
      s"""{"pass":${e.pass},"query":${Json.str(e.query)},""" +
        s""""traced":${e.traced},"build_s":${e.buildS},""" +
        s""""action_s":${e.actionS},"rows":${e.rows},""" +
        s""""error":${Json.str(e.error)}}""")
    val warm = warmErrors.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
    Files.writeString(Paths.get(path),
      s"""{"cores":$cores,"setup_s":$setupS,""" +
        s""""peak_rss_kb":${ProcStats.peakRssKb()},""" +
        s""""warm_errors":${warm.mkString("{", ",", "}")},""" +
        s""""passes":${passJson.mkString("[", ",\n", "]")},""" +
        s""""execs":${execJson.mkString("[", ",\n", "]")}}""")
  }
}

/** Process counters from `/proc/self`. */
object ProcStats {
  private def field(file: String, key: String): Long =
    scala.io.Source.fromFile(file).getLines()
      .find(_.startsWith(key)).map(_.drop(key.length).trim.takeWhile(_.isDigit))
      .filter(_.nonEmpty).map(_.toLong).getOrElse(0L)

  /** Bytes this process has passed to write syscalls. */
  def wchar(): Long = field("/proc/self/io", "wchar:")
  def rchar(): Long = field("/proc/self/io", "rchar:")
  def peakRssKb(): Long = field("/proc/self/status", "VmHWM:")
}

object Json {
  def str(s: String): String = if (s == null) "null" else "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
