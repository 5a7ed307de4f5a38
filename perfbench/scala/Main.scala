package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, SparkEntry}

/** JVM side of the benchmark. `run.py` builds it, launches it with
  * `key=value` arguments and reduces the run record it writes:
  *
  *  - `mode=oracles out=F names=a,b` writes the DuckDB oracle SQL of the
  *    named queries (`SparkEntry.oracleSql`) as JSON;
  *  - `mode=batch` times a closed loop of named queries ([[Batch]]);
  *  - `mode=stream` runs the live transaction topology ([[Stream]]).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cfg = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val record = cfg("mode") match {
      case "oracles" =>
        val names = cfg("names").split(',').toSeq
        Map("oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
      case "batch" => withSession(cfg)(Batch.run(_, cfg))
      case "stream" => withSession(cfg)(Stream.run(_, cfg))
    }
    Files.writeString(Paths.get(cfg("out")), Json.write(record + ("peak_rss_mb" -> peakRssMb)))
    sys.exit(0)
  }

  /** The session every graft entry point expects: `local[cpus]`, the graft
    * extensions, UTC, and scratch space inside the run's work directory. */
  private def withSession(cfg: Map[String, String])(f: SparkSession => Map[String, Any]): Map[String, Any] = {
    val cpus = cfg.getOrElse("cpus", "4")
    val work = cfg("work")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = (System.nanoTime() - t0) / 1e6
    try f(spark) + ("session_ms" -> sessionMs)
    finally spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Run-validity sample: steal jiffies (field 8 of the `cpu` line of
    * /proc/stat) and the 1-minute load average. */
  def validity(): Map[String, Any] = {
    val steal =
      try scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")(8).toLong
      catch { case _: Exception => 0L }
    val load =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
      catch { case _: Exception => 0.0 }
    Map("steal_jiffies" -> steal, "load1" -> load, "epoch_ms" -> System.currentTimeMillis())
  }
}
