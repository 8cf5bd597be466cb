package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.Tables

/** The benchmark's JVM side: builds the session the way the program's own
  * entry points do, runs one workload against the program's public API and
  * writes the raw measurements as JSON for `perfbench/run.py`.
  *
  * `perfbench.Main --workload W --work DIR --data DIR [--inputs DIR]
  *   [--cycles N] [--trace 0|1] [--setups K] [--polls-per-cycle N] [--rollover 0|1] [--lanes a,b]`
  * `perfbench.Main --list-lanes OUT` writes the lane → module map instead.
  * `perfbench.Main --oracle-sql OUT --lanes a,b` writes those lanes' oracle SQL.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.get("list-lanes").foreach { out => write(out, Lanes.moduleMap); return }
    args.get("oracle-sql").foreach { out =>
      val sql = graft.SparkEntry.oracleSql
      write(out, args("lanes").split(",").map(l => l -> sql(l)).toMap); return
    }
    val work = args("work")
    val traced = args.getOrElse("trace", "0") == "1"
    val spark = session(work, traced)
    // the program's own set-up starts at JVM start; the session is part of it
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val rec = new Recorder(if (traced) Some(new Trace(spark, work)) else None)
    rec.open()
    val cycles = args.getOrElse("cycles", "1").toInt
    val setups = args.getOrElse("setups", "3").toInt
    // a failure outside a timed operation (set-up, export) still yields a
    // result, which the caller reports as incorrect
    val result = try args("workload") match {
      case "lanes" => LaneWorkload.run(spark, rec, args("data"), args("lanes").split(",").toSeq,
        cycles, setups)
      case "polls" => PollWorkload.run(spark, rec, work, args("data"), args("inputs"),
        cycles, setups, args("polls-per-cycle").toInt, args.getOrElse("rollover", "0") == "1")
    } catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        Map("fatal" -> s"${e.getClass.getName}: ${e.getMessage}")
    }
    rec.close()
    write(s"$work/result.json", result ++ Map(
      "session_s" -> sessionS, "ops" -> rec.ops.toSeq, "rss_mb" -> peakRssMb,
      "retained_mb" -> retainedMb))
    rec.trace.foreach { t =>
      Files.write(Paths.get(s"$work/spans.jsonl"), t.spans.map { s =>
        json(Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "parent" -> s.parent, "run" -> s.run))
      }.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }

  /** The session every graft entry point builds (graft.Bench), with its
    * scratch space kept under the benchmark's work directory. */
  def session(work: String, traced: Boolean): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosConf._1, Tables.nanosConf._2)
      .config(Tables.ntzConf._1, Tables.ntzConf._2)
      .config(Tables.codegenCacheConf._1, Tables.codegenCacheConf._2)
      .config(Tables.artifactIsolationConf._1, Tables.artifactIsolationConf._2)
      .config(Tables.codegenClassNameConf._1, Tables.codegenClassNameConf._2)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) b.config("spark.sql.queryExecutionListeners", classOf[CatalystListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap and non-heap in use after a full collection, in MB: what the
    * program holds on to, free of the heap sizing that moves the RSS. */
  def retainedMb: Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(-1.0)

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), (json(v) + "\n").getBytes("UTF-8"))

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
